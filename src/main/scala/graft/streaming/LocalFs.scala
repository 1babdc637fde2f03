package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermissions, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FSLinkResolver, FsServerDefaults, Path}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop `FileContext` binding for `file:` that never forks a process.
  *
  * Structured Streaming's default checkpoint manager writes every offset
  * log, commit log and state-store file through `FileContext`, bound to
  * Hadoop's `org.apache.hadoop.fs.local.LocalFs`. Without the native
  * Hadoop library, that class's `RawLocalFileSystem` runs an external
  * `chmod` for every file it creates and an external `readlink` on both
  * paths of every rename: about 100 process starts per micro-batch of a
  * four-store stateful query, which is most of its commit time.
  *
  * This class is Hadoop's `LocalFs` stack (`ChecksumFs` over a
  * `DelegateToFileSystem`) with the two calls answered in-process by
  * `java.nio`; see [[LocalFs.NioRawLocalFileSystem]]. File contents, the
  * `.crc` sidecars, the temp-file-plus-rename commit, the layout and the
  * permissions stay Hadoop's. [[LocalFs.ensure]] binds it per session. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawLocalFs(conf))

object LocalFs {

  /** The key `AbstractFileSystem.get` reads for the `file` scheme. Only
    * `FileContext` users read it (checkpoints, metadata logs, state
    * stores); `FileSystem` I/O such as parquet writes never does. */
  val ConfKey = "fs.AbstractFileSystem.file.impl"

  /** Bind [[LocalFs]] for `file:` in this session's Hadoop configuration,
    * idempotently, unless a binding is already set: in the session's
    * conf, or in the Hadoop configuration from anywhere but Hadoop's
    * built-in defaults. The session conf reaches every Hadoop
    * configuration Spark derives for queries started from it, their
    * state stores included. */
  def ensure(spark: SparkSession): Unit = {
    val sources = Option(spark.sparkContext.hadoopConfiguration.getPropertySources(ConfKey))
    val userSet = spark.conf.getOption(ConfKey).isDefined ||
      sources.exists(_.exists(_ != "core-default.xml"))
    if (!userSet) spark.conf.set(ConfKey, classOf[LocalFs].getName)
  }

  /** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
  private[streaming] class RawLocalFs(conf: Configuration)
      extends DelegateToFileSystem(
        FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** `RawLocalFileSystem` answering `setPermission`, `getFileLinkStatus`
    * and `getLinkTarget` with `java.nio` instead of a forked `chmod` or
    * `readlink` (and `ls -ld` for the status's permission). Results are
    * those of the parent's non-native code: the same `FileStatus` fields,
    * permission, owner, group, symlink target and
    * `FileNotFoundException`. The parent still answers permission bits
    * `java.nio` cannot set (sticky) and platforms without the `unix`
    * attribute view. */
  private[streaming] class NioRawLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if (!unixView || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
      // from the bits: the FsCreateModes that create passes prints both modes
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(new FsPermission(bits).toString))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (!unixView) super.getFileLinkStatus(f)
      else {
        val st = linkStatus(f)
        if (st.isSymlink)
          st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
        st
      }

    override def getLinkTarget(f: Path): Path =
      if (!unixView) super.getLinkTarget(f) else linkStatus(f).getSymlink

    private lazy val blockSize = getDefaultBlockSize(new Path(getUri))

    /** The parent's status of `f` itself, symlink target unqualified. A
      * symlink reports what its target reports (the parent's `ls -ld`
      * runs on the canonical path), except that it is never a directory;
      * a dangling one reports zeros and the default permission. */
    private def linkStatus(f: Path): FileStatus = {
      val file = pathToFile(f)
      val path = file.toPath
      val a = try attributes(path, Array(LinkOption.NOFOLLOW_LINKS))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $f does not exist") }
      if (!a.get("isSymbolicLink").asInstanceOf[Boolean])
        status(a, a.get("isDirectory").asInstanceOf[Boolean],
          new Path(file.getPath).makeQualified(getUri, getWorkingDirectory), null)
      else {
        val target = new Path(Files.readSymbolicLink(path).toString)
        try status(attributes(path, Array.empty), isDir = false, f, target)
        catch {
          case _: IOException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      }
    }

    private def attributes(path: java.nio.file.Path, options: Array[LinkOption]) =
      Files.readAttributes(path,
        "unix:mode,owner,group,size,lastModifiedTime,lastAccessTime,isDirectory,isSymbolicLink",
        options: _*)

    private def status(
        a: java.util.Map[String, AnyRef], isDir: Boolean, path: Path, symlink: Path): FileStatus = {
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      new FileStatus(a.get("size").asInstanceOf[Long], isDir, 1, blockSize,
        millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort),
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName, symlink, path)
    }
  }
}
