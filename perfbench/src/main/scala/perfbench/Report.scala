package perfbench

/** Per-layer metrics of a traced run. */
object Report {

  /** Layer counters over the measured window `[from, to]`, divided by
    * `per` (timed passes for a batch workload, 1 for a stream), and the
    * self time of each layer's spans over the same window. */
  def layers(l: Layers, tracer: Tracer, from: Double, to: Double,
             per: Int): Seq[(String, Any)] = {
    val spans = tracer.all
    def sum(layer: String, name: String) =
      spans.filter(s => s.layer == layer && s.name == name &&
        s.start >= from && s.end <= to).map(_.ms).sum
    val self = Tracer.selfTimes(spans, from, to, "bench")
    // the part of each action during which no job ran
    val actionGap = {
      val actions = spans.filter(s => s.name == "action" && s.start >= from && s.end <= to)
      val jobs = spans.filter(_.layer == "scheduler")
      actions.map { a =>
        a.ms - Tracer.union(jobs.filter(j => j.end > a.start && j.start < a.end)
          .map(j => (math.max(j.start, a.start), math.min(j.end, a.end))))
      }.sum
    }
    val counters = Seq("scheduler.jobs", "scheduler.stages", "scheduler.tasks",
      "scheduler.delay_ms", "executor.run_ms", "executor.cpu_ms",
      "executor.gc_ms", "exchange.shuffle_write_mb", "exchange.fetch_wait_ms",
      "exchange.spill_mb", "tables.input_mb", "tables.records_read",
      "driver.plan_ms")
    counters.map(k => k -> l.total(k) / per) ++ Seq(
      "driver.build_ms" -> sum("driver", "build") / per,
      "driver.gap_ms" -> actionGap / per,
      "exchange.task_skew" -> l.taskSkew,
      "trace.window_ms" -> (to - from) / per) ++
      Seq("bench", "driver", "scheduler", "executor", "sources", "streaming",
        "sink").map(k => s"self.${k}_ms" -> self.getOrElse(k, 0.0) / per)
  }
}
