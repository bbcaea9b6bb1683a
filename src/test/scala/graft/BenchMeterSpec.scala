package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Falsifiability of the bench's task-metric meters: a workload FORCED
  * to spill must register `memoryBytesSpilled > 0` through the same
  * listener channel Bench attributes per query — a spill gate that can
  * never fire gates nothing.
  */
class BenchMeterSpec extends SparkSpecBase {

  test("a forced window spill registers on the task-metrics spill meter") {
    // Spark 4 renamed these to dotted keys (the camelCase aliases are
    // gone): in.memory.threshold flips the row buffer to
    // UnsafeExternalSorter, spill.threshold makes it spill every N rows.
    // Do NOT shrink spill.size.threshold — it triggers per-insert spills
    // and the read-back allocates a 1 MB buffer per spill file (OOM).
    // Unset unless explicitly set, so save via Try.
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold")
    val saved = keys.map(k =>
      k -> util.Try(spark.conf.get(k)).toOption.filter(_ != null))
    val spilled = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          spilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // hold 100 rows in memory, spill the sorter every 5000: the
      // 25k-row window partitions below spill ~5 files each — enough to
      // register, few enough that read-back buffers stay small
      spark.conf.set(keys(0), "100")
      spark.conf.set(keys(1), "5000")
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(expr("id % 4")).orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spark.range(100000L)
        .withColumn("cum", sum(col("id")).over(w))
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(300) // drain listener events
      assert(spilled.get() > 0,
        s"forced window spill never reached taskMetrics.memoryBytesSpilled " +
          s"(diskBytesSpilled=${diskSpilled.get()}) " +
          "— the bench spill gate would be blind")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("a query whose every rep failed stays out of the median totals") {
    // a failed query's fast-abort wall is not a measurement: it must not
    // become its median, nor enter total_median_sec — and the compact
    // line keeps every key its consumers parse
    assert(Bench.medianOf(Nil).isEmpty)
    assert(Bench.medianOf(Seq(3.0, 1.0, 2.0)).contains(2.0))
    assert(Bench.medianOf(Seq(4.0, 1.0)).contains(2.5))
    val ok = Bench.QStat("ok_q", secs = 2.0, shuffleB = 0L, spillB = 0L,
      peakB = 0L, ok = true, median = Bench.medianOf(Seq(2.0, 3.0, 2.5)),
      jobs = 3L, tasks = 7L)
    val failed = Bench.QStat("failed_q", secs = 40.0, shuffleB = 0L,
      spillB = 0L, peakB = 0L, ok = false, median = Bench.medianOf(Nil),
      jobs = 1L, tasks = 1L)
    val line = Bench.compactLine(Seq(ok, failed), "/data/sf0.1", 0, 0)
    for (k <- Seq("metric", "value", "unit", "sf", "n_queries", "n_failed",
        "shuffle_regressions", "spill_regressions", "total_median_sec",
        "total_jobs", "total_tasks", "queries", "queries_omitted"))
      assert(line.contains("\"" + k + "\":"), s"compact line lost $k: $line")
    assert(line.contains("\"total_median_sec\":2.5"), line)
    assert(line.contains("\"n_failed\":1"), line)
    assert(line.contains("\"total_jobs\":4"), line)
  }

  test("a pretty-printed baseline parses to every entry") {
    // the committed sf0.1 shuffle baseline is pretty-printed ("q": mb); a
    // parser that needs "q":mb reads it as empty and the gate is off
    val pretty = "{\n\"accept_filter\": 0.0,\n\"agg_distinct\" : 6.42,\n\"x\":1e-3\n}"
    assert(Bench.parseBaseline(pretty) ==
      Map("accept_filter" -> 0.0, "agg_distinct" -> 6.42, "x" -> 1e-3))
    assert(Bench.parseBaseline("{\"a\":1.5,\"b\":0.0}") == Map("a" -> 1.5, "b" -> 0.0))
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_baseline/sf0.1.shuffle.json")))
    val entries = committed.count(_ == ',') + 1 // query names hold no comma
    assert(entries > 100 && Bench.parseBaseline(committed).size == entries)
  }

  test("a baseline missing queries is reported, not rewritten") {
    assume(sys.env.get("SPARK_GRAFT_UPDATE_BASELINE").isEmpty)
    val file = java.nio.file.Files.createTempFile("baseline", ".json")
    val committed = "{\n\"a\": 1.5\n}\n"
    java.nio.file.Files.writeString(file, committed)
    val now = Seq("a" -> 1.5, "b" -> 2.0)
    val (regs, missing) = Bench.baselineGate(file.toFile, now, now)
    assert(regs.isEmpty && missing == Seq("b"))
    assert(java.nio.file.Files.readString(file) == committed)
  }
}
