package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale forms of the rank-family window functions over LOW-CARDINALITY
  * partitions — the same funnel [[Subpartitions.roundRobinScan]] fixed for
  * round-robin numbering, applied to ntile / percent_rank / cume_dist:
  *
  * `Window.partitionBy(g).orderBy(...)` plans ONE sort group per distinct
  * `g`, so a 5-value partition key caps parallelism at 5 forever — the r8
  * sf100 sweep measured `window_ntile` (5 priorities × 150M orders)
  * sorting on 5 tasks for 98 s, spilling, with the ratio pinned at the
  * group count regardless of cluster size. All three functions are pure
  * arithmetic over (row_number, partition size), and row_number is the
  * engine's grouped distributed prefix scan ([[Corpus.runningTotal]] with
  * the partition key as group): each group's counter spreads over
  * `buckets` balanced, spillable sort groups, so the same query runs on
  * `|g| × buckets` tasks.
  *
  * Exactness: identical to the window forms whenever `(orderValue,
  * tieBreak)` is unique per group (rank == row_number; peers are
  * singletons). percent_rank and cume_dist are emitted as the SAME single
  * IEEE division of the same integers — (rn−1)/(n−1) and rn/n — so the
  * doubles are bit-identical, not merely close. The `group` key must be
  * broadcast-small (runningTotal's grouped contract: 10²-10⁴ distinct
  * values — precisely the regime where the plain window funnels).
  */
object Windows {

  /** Per-group ascending row number along (orderValue, tieBreak), as a
    * grouped prefix scan; an empty `group` numbers the whole frame
    * (MergeStreams.mergedN's emission index). Appends `out`; fails fast
    * on a null orderValue (runningTotal's contract); an empty (or
    * all-null) input gives an empty frame with `out` appended. */
  def rowNumberScan(df: DataFrame, group: Seq[Column], orderValue: Column,
                    tieBreak: Column, out: String = "rn",
                    buckets: Int = 256): DataFrame = {
    val vd = orderValue.cast("double")
    val stats = df.agg(min(vd), max(vd)).head()
    if (stats.isNullAt(0)) // empty input
      return df.withColumn(out, lit(0L)).filter(lit(false))
    val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
    // normalized monotone draw (data-derived: identical across plan
    // branches, retries, and AQE re-plans). Clamped into [0,1): rows AT
    // the max draw exactly 1.0, which would bucket to `buckets` — outside
    // runningTotal's documented [0,buckets) contract (nextDown(1.0) maps
    // only the exact-1.0 draw).
    val u =
      if (hi <= lo) lit(0.0)
      else least((vd - lit(lo)) / lit(hi - lo), lit(Math.nextDown(1.0)))
    Corpus.runningTotal(df, struct(orderValue, tieBreak), lit(1), u, buckets,
      out = out, group = group)
  }

  /** ntile(k) from a 1-based row number and the partition size — the SQL
    * split: the first n%k buckets get ⌈n/k⌉ rows, the rest ⌊n/k⌋. */
  private[operators] def ntileOf(rn: Column, n: Column, k: Int): Column = {
    // Column `/` is DOUBLE division — every quotient here needs an
    // explicit floor to be the SQL integer split
    val q = floor(n.cast("long") / lit(k.toLong)).cast("long")
    val r = n.cast("long") % lit(k.toLong)
    val thr = r * (q + 1)
    // greatest(q,1) keeps the divisor legal under ANSI when n < k (the
    // otherwise-branch is unreachable there: thr == n covers every row)
    when(rn <= thr, floor((rn - 1) / (q + 1)) + 1)
      .otherwise(r + floor((rn - 1 - thr) / greatest(q, lit(1L))) + 1)
      .cast("int")
  }

  /** Appends the rank family — `ntile`, `pct_rank`, `cume` — computed from
    * one grouped prefix scan + a broadcast of per-group sizes. Output
    * column names/types match the window-form conventions so call sites
    * swap in place. */
  def rankFunctionsScan(df: DataFrame, group: Seq[Column],
                        orderValue: Column, tieBreak: Column, ntileK: Int,
                        buckets: Int = 256): DataFrame = {
    val gk = group.zipWithIndex.map { case (c, i) => c.as(s"__wf_g$i") }
    val gNames = group.indices.map(i => s"__wf_g$i")
    val sizes = df.select(gk: _*).groupBy(gNames.map(col): _*)
      .agg(count(lit(1)).as("__wf_n"))
    val withRn = rowNumberScan(df, group, orderValue, tieBreak, out = "__wf_rn",
      buckets = buckets)
    val joinCond = gNames.zip(group).map { case (n, g) => col(n) <=> g }
      .reduce(_ && _)
    withRn.join(broadcast(sizes), joinCond)
      .withColumn("ntile", ntileOf(col("__wf_rn"), col("__wf_n"), ntileK))
      // same single IEEE division of the same integers as the window
      // forms — bit-identical doubles (see SparkEntry's window_ntile note)
      .withColumn("pct_rank",
        when(col("__wf_n") === 1, lit(0.0)).otherwise(
          (col("__wf_rn") - 1).cast("double") /
            (col("__wf_n") - 1).cast("double")))
      .withColumn("cume",
        col("__wf_rn").cast("double") / col("__wf_n").cast("double"))
      .drop(gNames ++ Seq("__wf_n", "__wf_rn"): _*)
  }
}
