package graft.streaming

import java.io.OutputStream
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, CommitLog, CommitMetadata}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.RenameBasedFSDataOutputStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import scala.util.Try

import graft.SparkSpecBase

/** A raw local file system under its own scheme: Spark has no FileContext
  * for it, so its own manager for it is the FileSystem-based one. */
class GraftRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftraw:///")
  override def getScheme: String = "graftraw"
}

/** The engine's checkpoint file manager: what it writes is what Hadoop's
  * checksummed local file system reads and verifies, it keeps the
  * no-clobber and cancel contracts Spark's logs rely on, and checkpoints
  * move between it and Spark's default manager in both directions. */
class LocalCheckpointFilesSpec extends SparkSpecBase {

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def manager(dir: java.nio.file.Path): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
                    overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  /** Every name in `dir`, hidden temp files and sidecars included. */
  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.map(_.getFileName.toString).toArray.map(_.toString).toSet finally s.close()
  }

  private def bytes(n: Int, seed: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + seed) % 251).toByte)

  test("the engine session resolves LocalCheckpointFiles for file: paths, Spark's manager elsewhere") {
    assert(spark.conf.get(LocalCheckpointFiles.ManagerKey) == classOf[LocalCheckpointFiles].getName)
    val dir = Files.createTempDirectory("graft-lcf-resolve")
    val fm = manager(dir)
    assert(fm.isInstanceOf[LocalCheckpointFiles])
    assert(fm.isLocal)
    val local = fm.createAtomic(new Path(dir.resolve("a").toUri), false)
    assert(!local.isInstanceOf[RenameBasedFSDataOutputStream])
    local.cancel()

    // a scheme registered through fs.<scheme>.impl goes to Spark's own
    // manager: its rename-based stream, through that file system
    val conf = hadoopConf
    conf.set("fs.graftraw.impl", classOf[GraftRawFs].getName)
    conf.setBoolean("fs.graftraw.impl.disable.cache", true)
    val raw = new Path(s"graftraw://${dir.resolve("raw")}")
    val rawFm = CheckpointFileManager.create(raw, conf)
    assert(rawFm.isInstanceOf[LocalCheckpointFiles])
    rawFm.mkdirs(raw)
    val target = new Path(raw, "0")
    val out = rawFm.createAtomic(target, false)
    assert(out.isInstanceOf[RenameBasedFSDataOutputStream])
    out.write("v1".getBytes(UTF_8))
    out.close()
    assert(rawFm.exists(target))
    assert(new String(Files.readAllBytes(dir.resolve("raw/0")), UTF_8) == "v1")
    assert(!Files.exists(dir.resolve("raw/.0.crc")), "a raw file system writes no sidecar")
  }

  test("bytes round-trip through Hadoop's checksummed local FS; a flipped byte fails its checksum") {
    val dir = Files.createTempDirectory("graft-lcf-crc")
    val fm = manager(dir)
    val data = bytes(5000, 7) // nine full 512-byte chunks and a partial one
    val p = new Path(dir.resolve("1.delta").toUri)
    write(fm, p, data)
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))

    // the sidecar is byte-for-byte the one Hadoop writes for these bytes
    val hadoop = FileSystem.getLocal(hadoopConf)
    val ref = new Path(dir.resolve("ref").toUri)
    val o = hadoop.create(ref)
    o.write(data)
    o.close()
    assert(Files.readAllBytes(dir.resolve(".1.delta.crc")).sameElements(
      Files.readAllBytes(dir.resolve(".ref.crc"))))

    def read(open: Path => java.io.InputStream): Array[Byte] = {
      val in = open(p)
      try in.readAllBytes() finally in.close()
    }
    val fc = FileContext.getLocalFSFileContext(hadoopConf)
    val sparkFm = {
      val c = hadoopConf
      c.unset(LocalCheckpointFiles.ManagerKey)
      CheckpointFileManager.create(p, c)
    }
    assert(read(hadoop.open).sameElements(data))
    assert(read(fc.open).sameElements(data))
    assert(read(fm.open).sameElements(data))

    val raf = new java.io.RandomAccessFile(dir.resolve("1.delta").toFile, "rw")
    try { raf.seek(2000); val b = raf.read(); raf.seek(2000); raf.write(b ^ 0x10) }
    finally raf.close()
    intercept[ChecksumException](read(hadoop.open))
    // the manager verifies the sidecar, where Spark's own manager (through
    // FileContext's local FS) reads the corrupt bytes back
    intercept[ChecksumException](read(fm.open))
    assert(Try(read(sparkFm.open)).isSuccess)

    // a file with no sidecar (an older checkpoint) still reads
    Files.delete(dir.resolve(".1.delta.crc"))
    assert(read(fm.open).length == data.length)
  }

  test("no-clobber: an existing target raises Hadoop's FileAlreadyExistsException") {
    val dir = Files.createTempDirectory("graft-lcf-noclobber")
    val fm = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(fm, p, "first".getBytes(UTF_8), overwrite = false)
    val out = fm.createAtomic(p, false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next: a no-op once closed
    assert(names(dir) == Set("0", ".0.crc"), "the failed writer left a temp file")
    val in = FileSystem.getLocal(hadoopConf).open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "first") finally in.close()
  }

  test("an HDFSMetadataLog add that finds its batch written by another writer fails as concurrent") {
    val dir = Files.createTempDirectory("graft-lcf-commits").resolve("commits").toString
    val other = new CommitLog(spark, dir)
    // this writer's check finds no batch 0; the other writer publishes
    // batch 0 while this one is still writing it
    val racing = new CommitLog(spark, dir) {
      override def serialize(m: CommitMetadata, out: OutputStream): Unit = {
        assert(other.add(0, CommitMetadata(nextBatchWatermarkMs = 7L)))
        super.serialize(m, out)
      }
    }
    assert(CheckpointFileManager.create(new Path(dir), hadoopConf).isInstanceOf[LocalCheckpointFiles])
    val e = intercept[Exception](racing.add(0, CommitMetadata(nextBatchWatermarkMs = 9L)))
    assert(e.getMessage.contains("Multiple streaming queries are concurrently using"), e.getMessage)
    assert(e.getCause.isInstanceOf[FileAlreadyExistsException])
    assert(new CommitLog(spark, dir).get(0).map(_.nextBatchWatermarkMs).contains(7L))
    assert(names(Paths.get(dir)) == Set("0", ".0.crc"))
  }

  test("cancel leaves no temp file and no sidecar") {
    val dir = Files.createTempDirectory("graft-lcf-cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.resolve("2.delta").toUri), true)
    out.write(bytes(3000, 1))
    assert(names(dir).nonEmpty)
    out.cancel()
    out.close() // a no-op once cancelled
    assert(names(dir).isEmpty)
  }

  test("overwrite replaces the data and its sidecar") {
    val dir = Files.createTempDirectory("graft-lcf-overwrite")
    val fm = manager(dir)
    val p = new Path(dir.resolve("metadata").toUri)
    write(fm, p, bytes(1500, 3))
    val second = bytes(700, 9)
    write(fm, p, second)
    assert(names(dir) == Set("metadata", ".metadata.crc"))
    val in = FileSystem.getLocal(hadoopConf).open(p)
    try assert(in.readAllBytes().sameElements(second)) finally in.close()
    // 8-byte header, then one CRC32 per started 512-byte chunk
    assert(Files.size(dir.resolve(".metadata.crc")) == 8 + 4 * 2)
  }

  /** Run a stateful dedup over `in` to the end of its files on `ckpt`,
    * with `managerClass` as the checkpoint manager (None = Spark's default);
    * return the delivered ids. */
  private def dedupRun(in: String, ckpt: String, managerClass: Option[String]): Set[Long] = {
    val schema = StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType)))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val key = LocalCheckpointFiles.ManagerKey
    val saved = spark.conf.getOption(key)
    managerClass match {
      case Some(c) => spark.conf.set(key, c)
      case None => spark.conf.unset(key)
    }
    try {
      val resolved = CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
      assert(resolved.isInstanceOf[LocalCheckpointFiles] == managerClass.isDefined)
      val q = StreamingDedup.exact(spark.readStream.schema(schema).json(in),
          col("id"), "ts", "1 hour")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add(r.getLong(0)))
        }.start()
      q.awaitTermination()
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val s = scala.collection.mutable.Set[Long]()
    seen.forEach(s.add(_))
    s.toSet
  }

  private def resumeAcross(first: Option[String], second: Option[String]): Unit = {
    val in = Files.createTempDirectory("graft-lcf-src")
    val ckpt = Files.createTempDirectory("graft-lcf-ck").toString
    def addFile(n: Int, ids: Seq[Long]): Unit =
      Files.writeString(in.resolve(s"f$n.json"),
        ids.map(i => s"""{"id": $i, "ts": "2024-01-01T00:00:${i % 60}Z"}""").mkString("\n"))
    addFile(1, Seq(1L, 2L, 3L, 2L))
    assert(dedupRun(in.toString, ckpt, first) == Set(1L, 2L, 3L))
    // a first-run id comes back only if the state files did not load
    addFile(2, Seq(2L, 3L, 4L, 5L))
    assert(dedupRun(in.toString, ckpt, second) == Set(4L, 5L))
    val all = Files.walk(Paths.get(ckpt))
    try {
      val files = all.toArray.map(_.toString)
      assert(files.exists(_.endsWith("/offsets/.1.crc")), "an offset log entry lost its sidecar")
      assert(files.exists(_.endsWith(".delta")), "the dedup wrote no state delta")
      assert(!files.exists(_.endsWith(".tmp")), "a temp file was left behind")
    } finally all.close()
  }

  private val engineManager = Some(classOf[LocalCheckpointFiles].getName)

  test("a checkpoint written by Spark's default manager resumes under LocalCheckpointFiles") {
    resumeAcross(None, engineManager)
  }

  test("a checkpoint written by LocalCheckpointFiles resumes under Spark's default manager") {
    resumeAcross(engineManager, None)
  }
}
