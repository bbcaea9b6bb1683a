package perfbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.functions.RecordWeigher
import graft.operators.Subpartitions
import graft.sources.Sources
import graft.streaming.{Backpressure, GraftPipeline, StreamingDedup}

/** Open-loop ingest: the consumer restarts on a kafka-wire topic that
  * already holds a backlog, while gen_stream.py keeps appending at a fixed
  * rate. The consumer is the reference topology: kafkaShaped → murmur2
  * byKeyHash subpartitions → recordWeight → exact dedup → a foreachBatch
  * sink that keeps a latency histogram, not the records.
  *
  * Phases: catch-up lasts until the first trigger the source's rate limit
  * did not cap; steady state then runs for the run's seconds; after the
  * generator stops, the consumer drains what is left (for at most the
  * drain time) and the counts are checked against what the generator says
  * it produced.
  */
object Stream {

  private val Topic = "events"

  /** What the sink keeps of each batch: per event-time millisecond, the
    * record count and the wall time the batch's result reached the sink. */
  final class Sink {
    val hist = mutable.ArrayBuffer.empty[(Long, Long, Double)] // ts, count, sinkMs
    var records = 0L
    var seqSum = BigInt(0)
    var weight = 0L

    def apply(batch: DataFrame, id: Long): Unit = {
      val rows = batch.groupBy(unix_millis(col("ts")).as("ts_ms"))
        .agg(count(lit(1)), sum(col("seq")), sum(col("weight")),
          sum(col("subpartition")))
        .collect()
      val now = Tracer.nowMs()
      synchronized {
        rows.foreach { r =>
          hist += ((r.getLong(0), r.getLong(1), now))
          records += r.getLong(1)
          seqSum += r.getLong(2)
          weight += r.getLong(3)
        }
      }
    }
  }

  def topology(spark: SparkSession, root: String, topic: String,
               rate: Map[String, String], subpartitions: Int): DataFrame = {
    val raw = Sources.wireStream(spark, "kafka-wire",
      Map("path" -> root, "subscribe" -> topic, "startingOffsets" -> "earliest") ++ rate)
    val shaped = Sources.kafkaShaped(raw)
    val sub = Subpartitions.byKeyHash(shaped, col("key"), subpartitions,
      kafkaCompatible = true)
    val weighed = sub
      .withColumn("weight", RecordWeigher.recordWeight(col("key"), col("value"), col("topic")))
      .withColumn("seq", split(col("value_str"), "\\|").getItem(0).cast("long"))
    StreamingDedup.exact(weighed, col("value"), "ts", "10 seconds")
      .select("ts", "seq", "weight", "subpartition")
  }

  def run(o: Main.Opts, tracer: Tracer): Map[String, Any] = {
    val root = o("log")
    val gen = new ProcessBuilder(Seq("python3", o("generator"), "--root", root,
      "--seed", o("seed"), "--rate", o("rate"), "--backlog", o("backlog"),
      "--warmup", o("warmup"), "--spans", if (tracer.enabled) o("gen_spans") else ""
    ).asJava).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val genOut = new BufferedReader(new InputStreamReader(gen.getInputStream, UTF_8))
    val genIn = new OutputStreamWriter(gen.getOutputStream, UTF_8)
    def tell(cmd: String): Unit = { genIn.write(cmd + "\n"); genIn.flush() }
    def expect(word: String): Array[String] = {
      val line = genOut.readLine()
      require(line != null && line.startsWith(word), s"generator said '$line', not $word")
      line.split(' ')
    }
    try run(o, tracer, root, tell, expect, () => genOut.readLine())
    finally {
      gen.destroy()
      gen.waitFor()
    }
  }

  private def run(o: Main.Opts, tracer: Tracer, root: String,
                  tell: String => Unit, expect: String => Array[String],
                  summary: () => String): Map[String, Any] = {
    val subs = o.int("subpartitions")
    val (spark, setupSecs) = Main.setUp(o.int("cores"), o.int("setups")) { s =>
      Sources.wireStream(s, "kafka-wire", Map("path" -> root, "subscribe" -> Topic)).schema
    }
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val sc = spark.sparkContext

    // The consumer's per-trigger budget comes from the reference's queue
    // sizing rule: a fixed consumer memory budget over the mean record
    // weight, measured on the warm-up topic with the engine's weigher.
    val Array(_, _, warmDistinct, _) = expect("warmup")
    val meanWeight = spark.read.format("kafka-wire")
      .option("path", root).option("subscribe", "warmup").load()
      .agg(avg(RecordWeigher.recordWeight(col("key"), col("value"), col("topic"))))
      .first.getDouble(0).round
    val rate = Backpressure.kafkaRateOptions(o.long("budget_bytes"), meanWeight)
    val maxPerTrigger = rate("maxOffsetsPerTrigger").toLong

    val deadline = Tracer.nowMs() + o.double("timeout_s") * 1000
    def until(q: StreamingQuery)(cond: => Boolean): Unit =
      while (!cond) {
        require(q.isActive, s"stream stopped: ${q.exception}")
        require(Tracer.nowMs() < deadline, "stream did not finish in time")
        Thread.sleep(20)
      }

    // warm-up: the same topology on a separate small topic
    sc.setLocalProperty(Layers.PhaseKey, "warmup")
    val warmSink = new Sink
    val warm = GraftPipeline.foreachBatch(
      topology(spark, root, "warmup", rate, subs), s"${o("checkpoints")}/warmup",
      o("trigger"))(warmSink.apply)
    until(warm.underlying)(warmSink.synchronized(warmSink.records) >= warmDistinct.toLong)
    warm.shutdown()

    val layers = new Layers(tracer)
    val triggers = new Triggers(tracer)
    if (tracer.enabled) {
      sc.addSparkListener(layers)
      spark.listenerManager.register(layers)
      spark.streams.addListener(triggers)
    }
    val Array(_, backlog) = expect("ready")
    Main.collect()
    sc.setLocalProperty(Layers.PhaseKey, "timed")
    sc.setLocalProperty(Layers.TraceKey, "ingest")
    val sink = new Sink
    val df = topology(spark, root, Topic, rate, subs)
    tell("go")
    val start = Tracer.nowMs()
    layers.openWindow(start)
    val pipe = GraftPipeline.foreachBatch(df, s"${o("checkpoints")}/ingest", o("trigger"))(
      sink.apply)
    val q = pipe.underlying
    def progress: Seq[StreamingQueryProgress] = q.recentProgress.toSeq
    // catch-up ends with the first trigger the rate limit did not cap
    def firstUncapped = progress.find(p => p.numInputRows < maxPerTrigger)
    until(q)(firstUncapped.isDefined)
    val caught = firstUncapped.get
    val caughtEnd = triggerEnd(caught)
    val catchupRows = progress.takeWhile(_.batchId <= caught.batchId).map(_.numInputRows).sum
    until(q)(Tracer.nowMs() >= caughtEnd + o.double("seconds") * 1000)
    tell("stop")
    val stopMs = Tracer.nowMs()
    val gen = org.json4s.jackson.JsonMethods.parse(summary())
    def g(k: String): BigInt = BigInt((gen \ k).values.toString)
    def gd(k: String): Double = (gen \ k).values.toString.toDouble
    val produced = g("produced").toLong
    // drain: records still missing when the drain time is up are lost, and
    // the count check below counts them as failed
    val drainEnd = math.min(deadline, Tracer.nowMs() + o.double("drain_s") * 1000)
    while (q.isActive && Tracer.nowMs() < drainEnd &&
      progress.map(_.numInputRows).sum < produced) Thread.sleep(20)
    q.exception.foreach(e => System.err.println(s"[perfbench] stream failed: $e"))
    val end = Tracer.nowMs()
    Main.collect() // the live heap with the dedup state still held
    pipe.shutdown()
    Thread.sleep(300) // listener events are delivered asynchronously
    layers.closeWindow(end)

    val all = progress
    val consumed = all.map(_.numInputRows).sum
    val steady = all.filter(p => p.batchId > caught.batchId && p.numInputRows > 0)
    val lat = sink.synchronized(sink.hist.toSeq).filter { case (ts, _, _) =>
      ts >= caughtEnd && ts < stopMs }
    val latency = WeightedSamples(lat.map { case (ts, n, at) => (at - ts, n) })
    val dropped = all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    // failed records: lost or extra against the generator's own counts
    val failed = math.abs(produced - consumed) +
      math.abs(g("distinct").toLong - sink.records) +
      (if (sink.seqSum != g("seq_sum")) 1 else 0) +
      (if (sink.weight != g("weight").toLong) 1 else 0)
    val record = mutable.LinkedHashMap[String, Any](
      "wall_s" -> (caughtEnd - start) / 1000,
      "latency_p50_ms" -> latency.percentile(50),
      "latency_p99_ms" -> latency.percentile(99),
      "latency_samples" -> latency.count,
      "catchup_rps" -> catchupRows / ((caughtEnd - start) / 1000),
      "setup_s" -> Main.median(setupSecs),
      "setup_all_s" -> setupSecs,
      "peak_rss_mb" -> Main.peakRssMb(),
      "attempted" -> produced,
      "failed" -> failed,
      "produced" -> produced, "consumed" -> consumed,
      "distinct" -> g("distinct"), "delivered" -> sink.records,
      "dropped_by_watermark" -> dropped,
      "backlog" -> backlog.toLong, "max_offsets_per_trigger" -> maxPerTrigger,
      "catchup_triggers" -> (caught.batchId + 1), "steady_triggers" -> steady.size,
      "generator.offered_rps" -> gd("offered_rps"),
      "generator.late_p99_ms" -> gd("late_p99_ms"))
    if (tracer.enabled) {
      record ++= Report.layers(layers, tracer, start, end, 1)
      val rate = o.double("rate")
      record ++= streamLayers(all, steady, Some(t =>
        math.min(produced.toDouble, backlog.toDouble + math.max(0.0, t - start) * rate / 1000)))
      record ++= Seq("trace.wall_s" -> (caughtEnd - start) / 1000,
        "trace.latency_p50_ms" -> latency.percentile(50))
    }
    record.toMap
  }

  private def triggerEnd(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      p.durationMs.get("triggerExecution").toDouble

  /** Trigger, source and state-store metrics of one stream's progress.
    * `logEnd` gives the number of records in the log at an epoch ms, when
    * it is known; the lag is what the log held beyond a trigger's start
    * offsets. */
  def streamLayers(all: Seq[StreamingQueryProgress],
                   steady: Seq[StreamingQueryProgress],
                   logEnd: Option[Double => Double], per: Int = 1): Seq[(String, Any)] = {
    def med(f: StreamingQueryProgress => Double) =
      if (steady.isEmpty) 0.0 else Main.median(steady.map(f))
    def phase(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def offsets(json: String): Double =
      if (json == null) 0.0
      else org.json4s.jackson.JsonMethods.parse(json).children
        .flatMap(_.children).map(_.values.toString.toDouble).sum
    val lags = logEnd.toSeq.flatMap(end => all.map { p =>
      end(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble) -
        p.sources.map(s => offsets(s.startOffset)).sum
    })
    val state = steady.flatMap(_.stateOperators)
    Seq(
      "sources.latest_offset_ms" -> med(phase(_, "latestOffset")),
      "sources.lag_records" -> (if (lags.isEmpty) 0.0 else lags.sum / lags.size),
      "streaming.triggers" -> all.size.toDouble / per,
      "streaming.trigger_ms" -> med(phase(_, "triggerExecution")),
      "streaming.add_batch_ms" -> med(phase(_, "addBatch")),
      "streaming.query_planning_ms" -> med(phase(_, "queryPlanning")),
      "streaming.commit_ms" -> med(p => phase(p, "walCommit") + phase(p, "commitOffsets")),
      "streaming.rows_per_trigger" -> med(_.numInputRows.toDouble),
      "state.rows" -> state.lastOption.map(_.numRowsTotal).getOrElse(0L),
      "state.memory_mb" -> state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "state.commit_ms" -> (if (state.isEmpty) 0.0 else Main.median(state.map(_.commitTimeMs.toDouble))))
  }

  /** Samples with integer weights (one latency value for many records). */
  final case class WeightedSamples(xs: Seq[(Double, Long)]) {
    private val sorted = xs.sortBy(_._1)
    val count: Long = xs.map(_._2).sum
    def percentile(p: Double): Double = {
      val rank = math.max(1L, math.ceil(p / 100.0 * count).toLong)
      var seen = 0L
      sorted.find { case (_, n) => seen += n; seen >= rank }.map(_._1).getOrElse(Double.NaN)
    }
  }
}
