package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpecBase

/** The kafka-wire source's incremental line index: the end offsets it
  * counts and the seeks it plans give exactly the records a reader that
  * skips lines from the start of the log would give. */
class KafkaWireSeekSpec extends SparkSpecBase {
  import KafkaWire.Stride

  private def freshRoot(): String =
    Files.createTempDirectory("kafka-wire-seek").toString

  private def record(i: Long, value: String): String =
    KafkaWire.encodeLine(1000L + i, 0, null, value.getBytes(UTF_8), null) + "\n"

  private def append(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** (offset, value) of every record the reader returns for `[start, end)`
    * after seeking where `index` says. */
  private def read(root: String, index: LineIndex, start: Long, end: Long): Seq[(Long, String)] = {
    val (seekLine, seekByte) = index.seek(start)
    assert(seekLine <= start && start - seekLine < Stride)
    val r = new KafkaWirePartitionReader(
      KafkaWireInputPartition(root, "t", 0, start, end, seekLine, seekByte))
    try Iterator.continually(r.next()).takeWhile(identity)
      .map(_ => (r.get().getLong(4), new String(r.get().getBinary(1), UTF_8))).toList
    finally r.close()
  }

  private def stream(root: String): KafkaWireMicroBatchStream =
    new KafkaWireMicroBatchStream(root,
      new CaseInsensitiveStringMap(java.util.Map.of("path", root)), () => Seq("t" -> 0))

  private def latest(s: KafkaWireMicroBatchStream, from: Long): Long =
    s.latestOffset(new KafkaWireOffset(Map(("t", 0) -> from)), ReadLimit.allAvailable())
      .asInstanceOf[KafkaWireOffset].offsets(("t", 0))

  test("seeking reads the same records as skipping lines from 0 (fixed-seed property)") {
    // log lengths and slice ends cluster on stride boundaries; each log is
    // indexed in two refreshes, split at a generated point
    def nearStride(max: Int) = Gen.oneOf(0, 1, 2).flatMap(k =>
      Gen.chooseNum(-2, 2).map(d => (k * Stride + d).max(0).min(max)))
    val logs = for {
      n <- Gen.frequency(1 -> Gen.chooseNum(0, 40), 3 -> Gen.chooseNum(Stride - 2, 3 * Stride + 2))
      values <- Gen.listOfN(n, Gen.chooseNum(0, 24).flatMap(Gen.stringOfN(_, Gen.alphaNumChar)))
      split <- Gen.chooseNum(0, n)
      ends <- Gen.listOfN(4, Gen.oneOf(nearStride(n), Gen.chooseNum(0, n)))
    } yield (values.toVector, split, ends.grouped(2).map(p => (p.min, p.max)).toSeq)

    val prop = Prop.forAllNoShrink(logs) { case (values, split, slices) =>
      val root = freshRoot()
      val f = KafkaWire.partitionFile(root, "t", 0)
      append(f, values.indices.take(split).map(i => record(i, values(i))).mkString)
      val index = new LineIndex
      assert(index.refresh(f) == split)
      append(f, values.indices.drop(split).map(i => record(i, values(i))).mkString)
      assert(index.refresh(f) == values.size)
      slices.forall { case (start, end) =>
        read(root, index, start, end) ==
          (start until end).map(i => (i.toLong, values(i)))
      }
    }
    val result = Test.check(
      Test.Parameters.default.withInitialSeed(Seed(20261019L)).withMinSuccessfulTests(20),
      prop)
    assert(result.passed, result.status.toString)
  }

  test("a torn last line is not counted until its newline arrives") {
    val root = freshRoot()
    val f = KafkaWire.partitionFile(root, "t", 0)
    append(f, (0 until 3).map(i => record(i, s"v$i")).mkString)
    val whole = record(3, "torn")
    append(f, whole.take(whole.length / 2))
    val s = stream(root)
    assert(latest(s, 0L) == 3L)
    append(f, whole.drop(whole.length / 2))
    assert(latest(s, 3L) == 4L)
    val index = new LineIndex
    index.refresh(f)
    assert(read(root, index, 3L, 4L) == Seq((3L, "torn")))
  }

  test("a shrunk log is re-indexed from 0 and offsets never go back") {
    val root = freshRoot()
    val f = KafkaWire.partitionFile(root, "t", 0)
    append(f, (0 until 10).map(i => record(i, s"old$i")).mkString)
    val s = stream(root)
    assert(latest(s, 0L) == 10L)
    Files.write(f.toPath, (0 until 4).map(i => record(i, s"new$i")).mkString.getBytes(UTF_8))
    assert(latest(s, 10L) == 10L, "the end offset must not regress below the start")
    append(f, (4 until 12).map(i => record(i, s"new$i")).mkString)
    assert(latest(s, 10L) == 12L)
    val parts = s.planInputPartitions(
      new KafkaWireOffset(Map(("t", 0) -> 10L)), new KafkaWireOffset(Map(("t", 0) -> 12L)))
    val r = new KafkaWirePartitionReader(parts.head.asInstanceOf[KafkaWireInputPartition])
    val got = try Iterator.continually(r.next()).takeWhile(identity)
      .map(_ => new String(r.get().getBinary(1), UTF_8)).toList finally r.close()
    assert(got == Seq("new10", "new11"))
  }

  test("a restart from a mid-log checkpoint past a stride reads every record once") {
    val root = freshRoot()
    val out = Files.createTempDirectory("kw-seek-out").toString
    val ckpt = Files.createTempDirectory("kw-seek-ckpt").toString
    val f = KafkaWire.partitionFile(root, "t", 0)
    val first = Stride + 1000
    append(f, (0 until first).map(i => record(i, s"v$i")).mkString)
    def run(): Unit = {
      val q = spark.readStream.format("kafka-wire")
        .option("path", root).option("subscribe", "t").load()
        .select(col("offset"), col("value").cast("string").as("value"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    append(f, (first until 2 * Stride + 500).map(i => record(i, s"v$i")).mkString)
    run()
    val rows = spark.read.parquet(out).select("offset", "value").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 2 * Stride + 500)
    assert(rows.toSet == (0 until 2 * Stride + 500).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("progress reports the connector's offsets-behind-latest metrics") {
    val root = freshRoot()
    val f = KafkaWire.partitionFile(root, "t", 0)
    append(f, (0 until 10).map(i => record(i, s"v$i")).mkString)
    val q = spark.readStream.format("kafka-wire")
      .option("path", root).option("subscribe", "t")
      .option("maxOffsetsPerTrigger", "3").load()
      .writeStream.format("memory").queryName("kw_lag").start()
    try {
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(_.sources(0).metrics)
      assert(metrics.head.get("maxOffsetsBehindLatest") == "7", metrics.head)
      assert(metrics.head.get("minOffsetsBehindLatest") == "7")
      assert(metrics.head.get("avgOffsetsBehindLatest") == "7.0")
      assert(metrics.last.get("maxOffsetsBehindLatest") == "0", metrics.last)
    } finally q.stop()
  }
}
