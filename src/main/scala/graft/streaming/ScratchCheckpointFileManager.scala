package graft.streaming

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Path-scoped in-heap [[CheckpointFileManager]] for BOUNDED scratch
  * drains.
  *
  * A scratch drain's checkpoint is disposable by construction — the
  * query is created, drained with AvailableNow, and discarded inside
  * one call, and nothing ever resumes from its checkpoint (see
  * [[StreamingOps]]'s scratch-checkpoint scaladoc). Yet through the
  * default rename-based manager every such drain writes real files:
  * offset-WAL create+rename+CRC, commit-log ditto, the file-source
  * seen-files log, and one state-store delta file per store per batch.
  * The ~0.08 s of walCommit+commitOffsets measured per bounded drain at
  * sf0.1, even on /dev/shm, was not those syscalls: without the native
  * Hadoop library, Hadoop's local `FileContext` forked a `chmod` for
  * every file it created and a `readlink` on both paths of every rename.
  * [[LocalFs]] now answers both in-process, so the durable path no
  * longer pays them; what this class still saves is the file I/O
  * itself, which a same-window A/B over the 16 q_stream rows found
  * within noise (ROADMAP item 4).
  *
  * Scope is decided PER PATH, not per session: paths under a root
  * registered by [[StreamingOps.withScratchCheckpoint]] live in a
  * JVM-global byte-array map (atomic create via buffer-then-put, zero
  * syscalls); every other path DELEGATES to the default manager
  * Spark would have built, so installing this class via the documented
  * `spark.sql.streaming.checkpointFileManagerClass` conf is safe to
  * leave in place for the session's lifetime — durable checkpoints
  * (the sinkDir production shape, `IvfIndex.appendOnIngest`, any
  * user query started while a drain is in flight) keep their exact
  * default-manager behavior. That is what makes concurrent drains and
  * drain-overlapping durable queries safe: there is no session conf to
  * race on (the install is idempotent and never reverted), only the
  * root registry, and an unregistered path can never land in the heap.
  * Late writes from a still-loaded state-store provider's maintenance
  * task after a drain unregisters its root fall through to the
  * delegate (the scratch dir is deleted by then, so they fail as the
  * non-fatal maintenance misses they are).
  *
  * Single-JVM scope for the in-heap tree is inherent and fine here:
  * scratch drains already pin their checkpoint to node-local tmpfs,
  * which is equally invisible across machines. (In local[*] the
  * "executors" share this JVM, so state-store commits land in the same
  * map.) */
class ScratchCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {
  import ScratchCheckpointFileManager._

  /** The manager Spark would have created without this class installed
    * — built lazily (most instances under an active scratch root never
    * need it) from a conf copy with the override swapped back to the
    * session's PRE-INSTALL manager class ([[DelegateKey]], stashed by
    * the installer) or removed entirely, so a user-configured custom
    * manager keeps governing durable checkpoints and the factory
    * cannot recurse into this class. */
  private lazy val delegate: CheckpointFileManager = {
    val clean = new Configuration(conf)
    val prior = conf.get(DelegateKey)
    if (prior != null && prior.nonEmpty) clean.set(ConfKey, prior)
    else clean.unset(ConfKey)
    CheckpointFileManager.create(root, clean)
  }

  private def inHeap(path: Path): Boolean = underActiveRoot(key(path))

  override def createAtomic(
      path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!inHeap(path)) delegate.createAtomic(path, overwriteIfPossible)
    else {
      val k = key(path)
      registerDirs(parentOf(k))
      new MemOut(k, overwriteIfPossible)
    }

  override def open(path: Path): FSDataInputStream =
    if (!inHeap(path)) delegate.open(path)
    else {
      val bytes = files.get(key(path))
      if (bytes == null)
        throw new java.io.FileNotFoundException(s"scratch-ckpt: ${key(path)}")
      new FSDataInputStream(new SeekableBytes(bytes._1))
    }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    if (!inHeap(path)) delegate.list(path, filter)
    else {
      val p = key(path)
      val fileKids = files.entrySet().asScala.iterator
        .filter(e => parentOf(e.getKey) == p)
        .map(e => new FileStatus(
          e.getValue._1.length.toLong, false, 1, BlockSize,
          e.getValue._2, new Path(e.getKey)))
      val dirKids = dirs.asScala.iterator
        .filter(d => d != p && parentOf(d) == p)
        .map(d => new FileStatus(0L, true, 1, BlockSize, 0L, new Path(d)))
      (fileKids ++ dirKids).filter(st => filter.accept(st.getPath)).toArray
    }

  override def mkdirs(path: Path): Unit =
    if (!inHeap(path)) delegate.mkdirs(path)
    else registerDirs(key(path))

  override def exists(path: Path): Boolean =
    if (!inHeap(path)) delegate.exists(path)
    else {
      val k = key(path)
      files.containsKey(k) || dirs.contains(k)
    }

  override def delete(path: Path): Unit =
    if (!inHeap(path)) delegate.delete(path)
    else {
      val k = key(path)
      files.remove(k)
      if (dirs.remove(k)) dropTree(k)
    }

  override def isLocal: Boolean =
    if (underActiveRoot(key(root))) true else delegate.isLocal

  override def createCheckpointDirectory(): Path =
    if (!underActiveRoot(key(root))) delegate.createCheckpointDirectory()
    else {
      registerDirs(key(root))
      root
    }
}

object ScratchCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"
  /** Where the installer stashes a PRE-EXISTING custom manager class so
    * the delegate chains to it instead of silently reverting durable
    * checkpoints to Spark's default (kept in the spark.sql.* namespace
    * so the session->Hadoop conf copy carries it to every
    * instantiation). */
  val DelegateKey = "spark.sql.streaming.graft.scratchDelegateClass"
  private val BlockSize = 64L * 1024 * 1024
  /** key -> (bytes, modification time ms); keys are scheme-stripped
    * absolute paths so "file:/x" and "/x" address the same entry. */
  private val files =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Byte], Long)]()
  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Roots currently owned by an in-flight scratch drain. */
  private val activeRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Route `root` (a scratch checkpoint dir) to the in-heap tree until
    * [[release]]. */
  def claim(root: String): Unit = activeRoots.add(normalize(root))

  /** Stop routing `root` in-heap and drop every entry under it. */
  def release(root: String): Unit = {
    val k = normalize(root)
    activeRoots.remove(k)
    dropTree(k)
  }

  private def normalize(s: String): String =
    key(new Path(s))

  private def key(p: Path): String = {
    val raw = p.toUri.getPath
    if (raw.length > 1 && raw.endsWith("/")) raw.dropRight(1) else raw
  }

  private def underActiveRoot(k: String): Boolean = {
    if (activeRoots.isEmpty) return false
    val it = activeRoots.iterator()
    while (it.hasNext) {
      val r = it.next()
      if (k == r || (k.length > r.length && k.startsWith(r) &&
        k.charAt(r.length) == '/')) return true
    }
    false
  }

  private def parentOf(k: String): String = {
    val i = k.lastIndexOf('/')
    if (i <= 0) "/" else k.substring(0, i)
  }

  private def registerDirs(k: String): Unit = {
    var cur = k
    while (cur != "/" && dirs.add(cur)) cur = parentOf(cur)
  }

  /** Drop the in-heap entries at and under `root` (the root dir entry
    * included — leaking one key per drain would accumulate forever in
    * a long-lived bench JVM). */
  private def dropTree(root: String): Unit = {
    val prefix = (if (root.endsWith("/")) root.dropRight(1) else root) + "/"
    files.keySet().removeIf(k => k == root || k.startsWith(prefix))
    dirs.removeIf(k => k == root || k.startsWith(prefix))
  }

  private final class MemOut(
      k: String, overwrite: Boolean,
      buf: ByteArrayOutputStream = new ByteArrayOutputStream(4096))
      extends CancellableFSDataOutputStream(buf) {
    @volatile private var done = false
    override def cancel(): Unit = { done = true; try super.close() catch { case _: Exception => } }
    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        super.close()
        // a straggler closing AFTER its drain released the root (async
        // state-store maintenance, a zombie task) must not re-insert:
        // dropTree already ran and never will again for this root, so
        // the entry would leak until JVM exit — and nothing can read a
        // post-release write anyway
        if (!underActiveRoot(k)) return
        val contents = (buf.toByteArray, System.currentTimeMillis())
        val prev = files.putIfAbsent(k, contents)
        if (prev != null) {
          if (!overwrite) throw new FileAlreadyExistsException(s"scratch-ckpt: $k")
          files.put(k, contents)
        }
        // release() may have run between the check above and the put —
        // dropTree would then have missed this entry. Re-check and
        // self-clean so the insert-then-release interleaving cannot
        // leak the key for the JVM's lifetime.
        if (!underActiveRoot(k)) files.remove(k)
      }
    }
  }

  private final class SeekableBytes(bytes: Array[Byte])
      extends java.io.ByteArrayInputStream(bytes)
      with org.apache.hadoop.fs.Seekable
      with org.apache.hadoop.fs.PositionedReadable {
    override def seek(pos2: Long): Unit = {
      if (pos2 < 0 || pos2 > bytes.length)
        throw new java.io.EOFException(s"seek $pos2 of ${bytes.length}")
      this.pos = pos2.toInt
    }
    override def getPos: Long = pos.toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int = {
      if (position >= bytes.length) return -1
      val n = math.min(length, bytes.length - position.toInt)
      System.arraycopy(bytes, position.toInt, buffer, offset, n)
      n
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit = {
      if (read(position, buffer, offset, length) < length)
        throw new java.io.EOFException()
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
