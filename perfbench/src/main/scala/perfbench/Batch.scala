package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** Closed-loop batch workload: one query at a time over a fixed table set.
  *
  *  1. set-up (timed, several times);
  *  2. the check pass: every query once, its result written as parquet for
  *     run.py to hash against the stored oracle hash. With one more
  *     untimed pass it is the warm-up, so no timed query runs cold;
  *  3. timed passes, each over every query in a seeded order, until the
  *     run's seconds are used (at least one pass). Each query is
  *     materialised with a `noop` write, which runs the whole physical
  *     plan and discards the rows at the sink.
  */
object Batch {

  def run(o: Main.Opts, tracer: Tracer): Map[String, Any] = {
    val data = o("data")
    val queries = o.list("queries")
    val all = SparkEntry.queries
    queries.filterNot(all.contains).foreach { q =>
      throw new IllegalArgumentException(s"unknown query $q")
    }
    val (spark, setupSecs) = Main.setUp(o.int("cores"), o.int("setups"))(
      Main.openTables(data))
    val sc = spark.sparkContext
    // the rows of every input table: a constant of the data set, so
    // catchup_rps moves only with wall_s, never with how much a query reads
    val tableRows = Tables.all.map(t => Tables.load(spark, data, t).count()).sum
    val layers = new Layers(tracer)
    val triggers = new Triggers(tracer)
    if (tracer.enabled) {
      sc.addSparkListener(layers)
      spark.listenerManager.register(layers)
      spark.streams.addListener(triggers)
    }
    val rng = new scala.util.Random(o.long("seed"))

    // 2. check pass, then one untimed pass: together the warm-up
    val failed = mutable.LinkedHashMap.empty[String, String]
    sc.setLocalProperty(Layers.PhaseKey, "check")
    rng.shuffle(queries).foreach { q =>
      try all(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"${o("results")}/$q")
      catch { case e: Throwable => failed(q) = s"check: ${e.getMessage}" }
      spark.catalog.clearCache()
    }
    // the JIT is still compiling after one pass
    rng.shuffle(queries).foreach { q =>
      try all(q)(spark, data).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => failed(q) = s"warm-up: ${e.getMessage}" }
      spark.catalog.clearCache()
    }

    // 3. timed passes
    val secs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var passes = 0
    var attempted = 0
    val budget = o.double("seconds")
    Main.collect()
    val from = Tracer.nowMs()
    layers.openWindow(from)
    while (passes == 0 || Tracer.nowMs() - from < budget * 1000) {
      passes += 1
      rng.shuffle(queries).foreach { q =>
        spark.catalog.clearCache()
        Main.collect()
        val trace = s"p$passes/$q"
        sc.setLocalProperty(Layers.PhaseKey, "timed")
        sc.setLocalProperty(Layers.TraceKey, trace)
        attempted += 1
        val t0 = System.nanoTime()
        try tracer.span(trace, "bench", q) { id =>
          val df = tracer.span(trace, "driver", "build", id)(_ => all(q)(spark, data))
          tracer.span(trace, "driver", "action", id) { _ =>
            df.write.format("noop").mode("overwrite").save()
          }
        } catch { case e: Throwable => failed(s"$q@$passes") = e.getMessage }
        secs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Layers.PhaseKey, null)
      }
    }
    val to = Tracer.nowMs()
    Main.collect()
    Thread.sleep(500) // let the listeners receive the last events
    layers.closeWindow(to)
    spark.catalog.clearCache()

    // each query's latency is its median over the timed passes
    val perQuery = secs.map { case (q, xs) => q -> Main.median(xs.toSeq) }.toMap
    val wall = perQuery.values.sum
    val queryMs = perQuery.values.map(_ * 1000).toSeq
    val record = mutable.LinkedHashMap[String, Any](
      "wall_s" -> wall,
      "latency_p50_ms" -> Main.percentile(queryMs, 50),
      "latency_p99_ms" -> Main.percentile(queryMs, 99),
      "latency_samples" -> queryMs.size,
      "catchup_rps" -> tableRows / wall,
      "table_rows" -> tableRows,
      "setup_s" -> Main.median(setupSecs),
      "setup_all_s" -> setupSecs,
      "peak_rss_mb" -> Main.peakRssMb(),
      "passes" -> passes,
      "attempted" -> attempted,
      "failed" -> failed.toMap,
      "per_query_s" -> perQuery,
      "query_samples_s" -> secs.map { case (q, xs) =>
        q -> xs.map(x => math.round(x * 1000) / 1000.0).toSeq }.toMap)
    if (tracer.enabled)
      record ++= Report.layers(layers, tracer, from, to, passes) ++ {
        // streams started inside the timed queries' builders
        val ps = triggers.progress.asScala.toSeq.filter { p =>
          val t = java.time.Instant.parse(p.timestamp).toEpochMilli
          t >= from && t <= to
        }
        Stream.streamLayers(ps, ps, None, passes)
      } ++ Seq(
        "trace.wall_s" -> wall,
        "trace.latency_p50_ms" -> Main.percentile(queryMs, 50))
    record.toMap
  }
}
