package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LocalFs

/** `graft.streaming.LocalFs` answers what Hadoop's own `LocalFs` answers
  * (the reference, which forks `readlink`, `chmod` and `ls`): status
  * fields of a file, a directory, a missing path and symlinks,
  * permissions written and read back, and rename with and without
  * overwrite. */
class LocalFsSpec extends AnyFunSuite {

  private def context(impl: String): FileContext = {
    val conf = new Configuration()
    conf.set(LocalFs.ConfKey, impl)
    FileContext.getFileContext(conf)
  }
  private val hadoop = context("org.apache.hadoop.fs.local.LocalFs")
  private val graftFs = context(classOf[LocalFs].getName)

  private def tmpDir(): java.nio.file.Path = Files.createTempDirectory("graft_localfs")

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isFile, s.isSymlink, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime, s.getPermission,
      s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)

  private def sameStatus(p: Path): Unit = {
    assert(fields(graftFs.getFileLinkStatus(p)) === fields(hadoop.getFileLinkStatus(p)), s"link status of $p")
    assert(fields(graftFs.getFileStatus(p)) === fields(hadoop.getFileStatus(p)), s"status of $p")
  }

  test("file: the binding is the graft class and stays Hadoop's stack") {
    assert(graftFs.getDefaultFileSystem.isInstanceOf[LocalFs])
    assert(graftFs.getDefaultFileSystem.isInstanceOf[org.apache.hadoop.fs.ChecksumFs])
    assert(hadoop.getDefaultFileSystem.isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
  }

  test("status of a file, a directory, a missing path and symlinks matches Hadoop's LocalFs") {
    val d = tmpDir()
    val file = new Path(d.resolve("f.txt").toString)
    write(hadoop, file, "twelve bytes")
    val dir = new Path(d.resolve("sub").toString)
    hadoop.mkdir(dir, FsPermission.getDirDefault, false)
    val link = d.resolve("link")
    Files.createSymbolicLink(link, Paths.get("f.txt"))
    val absLink = d.resolve("abslink")
    Files.createSymbolicLink(absLink, d.resolve("sub"))
    val dangling = d.resolve("dangling")
    Files.createSymbolicLink(dangling, Paths.get("nowhere"))
    Seq(file, dir, new Path(d.toString), new Path(link.toString), new Path(absLink.toString))
      .foreach(sameStatus)
    assert(graftFs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(graftFs.getFileLinkStatus(new Path(link.toString)).getSymlink ===
      new Path(s"file:${d.resolve("f.txt")}"))
    // dangling: a link status, no followed status
    val dl = new Path(dangling.toString)
    assert(fields(graftFs.getFileLinkStatus(dl)) === fields(hadoop.getFileLinkStatus(dl)))
    intercept[java.io.FileNotFoundException](graftFs.getFileStatus(dl))
    assert(graftFs.getLinkTarget(dl) === hadoop.getLinkTarget(dl))
    // missing: the same exception and message
    val missing = new Path(d.resolve("missing").toString)
    val e1 = intercept[java.io.FileNotFoundException](graftFs.getFileLinkStatus(missing))
    val e2 = intercept[java.io.FileNotFoundException](hadoop.getFileLinkStatus(missing))
    assert(e1.getMessage === e2.getMessage)
    assert(!graftFs.util.exists(missing))
  }

  test("permissions set through the binding read back as Hadoop's, sticky bit included") {
    val d = tmpDir()
    val file = new Path(d.resolve("f").toString)
    write(graftFs, file, "x")
    for (bits <- Seq(0x1a0 /* 0640 */, 0x100 /* 0400 */, 0x1ff /* 0777 */, 0x1ed /* 0755 */)) {
      val perm = new FsPermission(bits.toShort)
      graftFs.setPermission(file, perm)
      assert(graftFs.getFileLinkStatus(file).getPermission === perm)
      assert(hadoop.getFileLinkStatus(file).getPermission === perm)
      sameStatus(file)
    }
    val dir = new Path(d.resolve("sticky").toString)
    graftFs.mkdir(dir, FsPermission.getDirDefault, false)
    val sticky = new FsPermission(0x3ed.toShort) // 01755
    graftFs.setPermission(dir, sticky)
    assert(graftFs.getFileLinkStatus(dir).getPermission === sticky)
    assert(graftFs.getFileLinkStatus(dir).getPermission.getStickyBit)
    sameStatus(dir)
    // created files and their .crc sidecars get the permissions Hadoop gives them
    val viaHadoop = new Path(d.resolve("h").toString)
    val viaGraft = new Path(d.resolve("g").toString)
    write(hadoop, viaHadoop, "x")
    write(graftFs, viaGraft, "x")
    assert(graftFs.getFileStatus(viaGraft).getPermission === hadoop.getFileStatus(viaHadoop).getPermission)
    assert(Files.exists(d.resolve(".g.crc")) && Files.exists(d.resolve(".h.crc")))
    assert(Files.getPosixFilePermissions(d.resolve(".g.crc")) ===
      Files.getPosixFilePermissions(d.resolve(".h.crc")))
    intercept[java.io.FileNotFoundException](
      graftFs.setPermission(new Path(d.resolve("missing").toString), FsPermission.getFileDefault))
  }

  test("rename with overwrite replaces the target; without it an existing target raises") {
    for (fc <- Seq(graftFs, hadoop)) {
      val d = tmpDir()
      val src = new Path(d.resolve("src").toString)
      val dst = new Path(d.resolve("dst").toString)
      write(fc, src, "new")
      write(fc, dst, "old")
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
      assert(read(fc, dst) === "old" && fc.util.exists(src))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(read(fc, dst) === "new")
      assert(!fc.util.exists(src))
      // the checksum sidecar moved with the file
      assert(!Files.exists(d.resolve(".src.crc")) && Files.exists(d.resolve(".dst.crc")))
      val fresh = new Path(d.resolve("fresh").toString)
      fc.rename(dst, fresh, Options.Rename.NONE)
      assert(read(fc, fresh) === "new")
    }
  }
}
