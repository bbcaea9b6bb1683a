package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** JVM side of the benchmark. run.py starts it as
  * `perfbench.Main mode=<batch|stream|oracle> key=value...` and reads the
  * JSON record it writes to `out=`. Everything it measures goes into that
  * record; run.py adds the output checks and prints the result line.
  */
object Main {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing option $k"))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def double(k: String): Double = apply(k).toDouble
    def list(k: String): Seq[String] = apply(k).split(',').toSeq.filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.map { a =>
      val i = a.indexOf('=')
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap)
    if (o("mode") == "oracle") {
      // the DuckDB oracle SQL of the named queries, for expected.json
      val sql = graft.SparkEntry.oracleSql
      Files.writeString(Paths.get(o("out")), Json.obj(o.list("queries").map(q => q -> sql(q))))
      return
    }
    val tracer = new Tracer(o("trace") == "1")
    val record = o("mode") match {
      case "batch" => Batch.run(o, tracer)
      case "stream" => Stream.run(o, tracer)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    if (tracer.enabled) tracer.writeJsonl(Paths.get(o("spans")))
    Files.writeString(Paths.get(o("out")), Json.obj(record.toSeq))
    // Spark's non-daemon threads must not keep the JVM alive
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  /** The benchmark's set-up, timed `times` times: build the engine's
    * session and open every input (file listing, parquet footers, schema).
    * Returns the last session, still running, and the seconds each set-up
    * took. The first set-up also pays the JVM's class loading. */
  def setUp(cores: Int, times: Int)(openInputs: SparkSession => Unit)
  : (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val secs = (1 to times).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      openInputs(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, secs)
  }

  def openTables(dir: String)(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables.load(spark, dir, t).schema)

  private var liveHeap = 0L

  /** A full collection, after which the heap holds only live objects;
    * records the largest such live heap. The workloads call it at fixed
    * points: between timed queries, and at the end of the stream before
    * its query stops. */
  def collect(): Unit = {
    System.gc()
    liveHeap = math.max(liveHeap, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  /** Peak resident memory of what the engine holds: the largest live heap
    * `collect` saw, plus the peak resident set (`VmHWM`) less the
    * committed heap, which is what the JVM holds outside the heap. The
    * heap is pre-touched at a fixed size, so its resident size says
    * nothing about the engine; its live part does. */
  def peakRssMb(): Double = {
    val heapCommitted = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    val hwm = line.split("\\s+")(1).toLong * 1024
    (liveHeap + hwm - heapCommitted) / 1048576.0
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }
}
