package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  /** A fresh directory and a manager rooted at it, as Spark makes one. */
  private def fresh(): (java.nio.file.Path, CheckpointFileManager) = {
    val dir = Files.createTempDirectory("nio-ckpt")
    dir.toFile.deleteOnExit()
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("a closed atomic stream publishes its file, and only then") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    assert(!fm.exists(p), "visible before close")
    out.close()
    assert(read(fm, p) == "v1\n{}")
    assert(names(dir) == Set("0"), "a temp file or a sidecar was left")
  }

  test("cancel() leaves neither the file nor its temp file") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "1.delta")
    val out = fm.createAtomic(p, overwriteIfPossible = true)
    out.write(Array[Byte](1, 2, 3))
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("without overwrite an existing file keeps its bytes; with it, it is replaced") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "7")
    write(fm, p, "old")
    intercept[FileAlreadyExistsException](write(fm, p, "new"))
    assert(read(fm, p) == "old")
    assert(names(dir) == Set("7"), "the losing temp file was left")
    // a stale Hadoop checksum sidecar goes with the bytes it described
    Files.write(dir.resolve(".7.crc"), Array[Byte](0))
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) == "new")
    assert(names(dir) == Set("7"))
  }

  test("mkdirs, createCheckpointDirectory, list, exists, open and delete round-trip") {
    val (dir, _) = fresh()
    val root = new Path(dir.resolve("chk").toUri)
    val fm = new LocalCheckpointFileManager(root, conf)
    val made = fm.createCheckpointDirectory()
    assert(made.toUri.getScheme == "file")
    assert(Files.isDirectory(dir.resolve("chk")) && fm.exists(made))

    val offsets = new Path(made, "offsets")
    intercept[FileNotFoundException](fm.list(offsets))
    fm.mkdirs(offsets)
    assert(fm.list(offsets).isEmpty)
    (0 to 2).foreach(i => write(fm, new Path(offsets, i.toString), s"batch $i"))
    // a Hadoop sidecar is not listed; Spark's own 4.1 checksum file is
    Files.write(dir.resolve("chk/offsets/.0.crc"), Array[Byte](0))
    write(fm, new Path(offsets, "2.crc"), "sum")
    val listed = fm.list(offsets).map(_.getPath)
    assert(listed.map(_.getName).toSet == Set("0", "1", "2", "2.crc"))
    assert(listed.forall(p => p.toUri.getScheme == "file" && p.getParent == offsets))
    val even: PathFilter = p => p.getName.forall(_.isDigit) && p.getName.toInt % 2 == 0
    assert(fm.list(offsets, even).map(_.getPath.getName).toSet == Set("0", "2"))
    val st = fm.list(new Path(offsets, "1"))
    assert(st.length == 1 && st.head.getLen == "batch 1".length && !st.head.isDirectory)

    val in = fm.open(new Path(offsets, "1"))
    try {
      in.seek(6)
      assert(in.read() == '1'.toInt && in.getPos == 7)
      val buf = new Array[Byte](5)
      in.readFully(0, buf)
      assert(new String(buf, UTF_8) == "batch")
    } finally in.close()
    intercept[FileNotFoundException](fm.open(new Path(offsets, "9")))

    fm.delete(new Path(offsets, "0"))
    assert(!fm.exists(new Path(offsets, "0")))
    assert(!Files.exists(dir.resolve("chk/offsets/.0.crc")))
    fm.delete(new Path(offsets, "0")) // a missing path is not an error
    fm.delete(made)
    assert(!fm.exists(made) && !fm.exists(offsets))
  }

  test("Spark builds the named class; a non-file path takes Spark's default manager") {
    val (dir, _) = fresh()
    val named = new Configuration(conf)
    named.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    assert(CheckpointFileManager.create(new Path(dir.toUri), named)
      .isInstanceOf[LocalCheckpointFileManager])
    assert(LocalCheckpointFileManager.forPath(new Path(dir.toUri), named)
      .isInstanceOf[NioFiles])
    assert(LocalCheckpointFileManager.forPath(new Path(dir.toString), named)
      .isInstanceOf[NioFiles], "a path without a scheme on the file: default")
    // a local-disk scheme of another name: no FileContext binding, so Spark
    // falls back to its FileSystem-based manager
    named.set("fs.graftlocal.impl", classOf[RawLocalFileSystem].getName)
    named.setBoolean("fs.graftlocal.impl.disable.cache", true)
    val other = LocalCheckpointFileManager.forPath(new Path(s"graftlocal://$dir"), named)
    assert(other.isInstanceOf[FileSystemBasedCheckpointFileManager], other.getClass.getName)
  }
}
