package graft.streaming

import java.io.{BufferedOutputStream, File, FileNotFoundException, RandomAccessFile}
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files on `file:` paths through java.nio; every
  * other scheme goes to the manager Spark would pick without this class.
  *
  * Spark commits each micro-batch as small atomic file writes: the offset
  * and commit logs on the driver, and a delta file (plus, since Spark 4.1,
  * a checksum file) per state store on the executors. Without libhadoop,
  * Hadoop's local filesystem starts a `chmod` process for every file and
  * directory it creates with a permission, and FileContext starts a
  * `readlink` process for every rename, so the default manager turns each
  * small write into one or two process launches. Here a write is a temp
  * file in the target's directory, published on close by an atomic move
  * (the protocol of Spark's `RenameBasedFSDataOutputStream`), and nothing
  * launches a process. No `.crc` sidecar is written either.
  *
  * Installed per session through `spark.sql.streaming.checkpointFileManagerClass`
  * ([[StreamConf.isolated]]); Spark builds one per checkpoint directory
  * with the `(Path, Configuration)` constructor, on the driver and in
  * executors alike.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val fm = LocalCheckpointFileManager.forPath(path, hadoopConf)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    fm.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = fm.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fm.list(p, filter)
  override def mkdirs(p: Path): Unit = fm.mkdirs(p)
  override def exists(p: Path): Boolean = fm.exists(p)
  override def delete(p: Path): Unit = fm.delete(p)
  override def isLocal: Boolean = fm.isLocal
  override def createCheckpointDirectory(): Path = fm.createCheckpointDirectory()
  override def close(): Unit = fm.close()
}

object LocalCheckpointFileManager {

  /** The Spark conf key that names the checkpoint file manager class; Spark
    * reads it from the session's Hadoop configuration. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** [[NioFiles]] for a `file:` path (or a path without a scheme on a
    * `file:` default filesystem); otherwise Spark's own choice, made from
    * the same configuration without this class named in it. */
  private[streaming] def forPath(path: Path, conf: Configuration): CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new NioFiles(path)
    else {
      val plain = new Configuration(conf)
      plain.unset(ConfKey)
      CheckpointFileManager.create(path, plain)
    }
  }
}

/** The `file:` side of [[LocalCheckpointFileManager]]. */
private[streaming] final class NioFiles(root: Path) extends CheckpointFileManager {
  import NioFiles._

  private def local(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  private def qualified(p: java.nio.file.Path): Path =
    new Path("file", null, p.toAbsolutePath.toString)

  /** A temp file beside `p`, named as Spark names its own. */
  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    new AtomicFile(tmp, target, overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream =
    new FSDataInputStream(new BufferedFSInputStream(new FileInput(local(p).toFile), 65536))

  /** The entries of directory `p` (or `p` itself when it is a file) that
    * pass `filter`, without checksum sidecars, as the checksummed local
    * filesystem lists them; a missing `p` raises FileNotFoundException,
    * which the state store reads as "no files yet". */
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = local(p)
    if (!Files.exists(dir)) throw new FileNotFoundException(s"$p does not exist")
    val entries =
      if (Files.isDirectory(dir)) Using.resource(Files.list(dir))(_.iterator().asScala.toArray)
      else Array(dir)
    entries.iterator
      .filterNot(e => isSidecar(e.getFileName.toString))
      .flatMap(status)
      .filter(s => filter.accept(s.getPath))
      .toArray
  }

  /** None when the entry vanished between the listing and the stat. */
  private def status(f: java.nio.file.Path): Option[FileStatus] =
    try {
      val a = Files.readAttributes(f, classOf[BasicFileAttributes])
      Some(new FileStatus(a.size, a.isDirectory, 1, 0L,
        a.lastModifiedTime.toMillis, qualified(f)))
    } catch { case _: NoSuchFileException => None }

  override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  override def exists(p: Path): Boolean = Files.exists(local(p))

  /** Recursive, and a missing path is not an error. */
  override def delete(p: Path): Unit = {
    val f = local(p)
    if (Files.isDirectory(f)) {
      val all = Using.resource(Files.walk(f))(_.iterator().asScala.toArray)
      all.reverseIterator.foreach(Files.deleteIfExists)
    } else {
      Files.deleteIfExists(f)
      Files.deleteIfExists(sidecar(f))
    }
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val dir = Files.createDirectories(local(root))
    qualified(dir)
  }
}

private object NioFiles {

  /** The checksum sidecar Hadoop's local filesystem keeps beside `p`. A
    * checkpoint written by Spark's default manager has them, and one left
    * beside a file this class replaced or removed would no longer match. */
  def sidecar(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling(s".${p.getFileName}.crc")

  def isSidecar(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")
}

/** Bytes go to `tmp`; close publishes them as `target` with one atomic
  * move, and cancel removes `tmp`. Without overwrite an existing `target`
  * keeps its bytes; as on Hadoop's local filesystem, that check and the
  * move are two steps. A failed publish removes `tmp` too. */
private final class AtomicFile(tmp: java.nio.file.Path, target: java.nio.file.Path,
    overwrite: Boolean)
    extends CancellableFSDataOutputStream(
      new BufferedOutputStream(Files.newOutputStream(tmp), 65536)) {
  private var done = false

  override def close(): Unit = synchronized {
    if (!done) {
      done = true
      try {
        underlyingStream.close()
        if (!overwrite && Files.exists(target))
          throw new FileAlreadyExistsException(s"$target exists")
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case NonFatal(e) => Files.deleteIfExists(tmp); throw e
      }
      Files.deleteIfExists(NioFiles.sidecar(target))
    }
  }

  /** Never throws: callers cancel inside their own failure handling. */
  override def cancel(): Unit = synchronized {
    if (!done) {
      done = true
      try { try underlyingStream.close() finally Files.deleteIfExists(tmp) }
      catch { case NonFatal(_) => () }
    }
  }
}

/** A seekable read of one local file. */
private final class FileInput(file: File) extends FSInputStream {
  private val raf = new RandomAccessFile(file, "r") // FileNotFoundException when absent

  override def seek(pos: Long): Unit = raf.seek(pos)
  override def getPos: Long = raf.getFilePointer
  override def seekToNewSource(targetPos: Long): Boolean = false
  override def read(): Int = raf.read()
  override def read(b: Array[Byte], off: Int, len: Int): Int = raf.read(b, off, len)
  override def available(): Int =
    math.min(Int.MaxValue.toLong, math.max(0L, raf.length - raf.getFilePointer)).toInt
  override def close(): Unit = raf.close()
}
