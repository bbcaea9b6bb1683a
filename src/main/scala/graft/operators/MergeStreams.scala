package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-aware stream merge — the reference's flagship semantic
  * (integration/MergerTest.java:136-190, README.md:22): two record streams
  * are merged into one output ordered by timestamp; a record from stream A
  * is only emitted once stream B's high-watermark has passed its timestamp.
  *
  * Batch form: the watermark condition is vacuous once both inputs are
  * complete, so the merge is exactly UNION ALL + global timestamp order.
  * The scalable implementation avoids a single-reducer global sort by
  * range-partitioning on the timestamp (orderBy does this via range
  * exchange + per-partition sort — no driver bottleneck at 100 TB).
  *
  * The streaming form (graft.streaming.StreamingMerge) keeps the gating
  * semantic live: union + event-time watermark + per-key ordered emission
  * from flatMapGroupsWithState.
  */
object MergeStreams {

  /** UNION ALL two homogeneous frames and order by event time. Emits a
    * global emission index so downstream (and the correctness oracle) can
    * verify the total order as data, independent of physical row order.
    *
    * NOT a global window: `row_number over (ORDER BY ts)` collapses to a
    * single partition — the classic 100 TB bottleneck. Instead the index
    * is the engine's own distributed prefix scan (Corpus.runningTotal)
    * with weight 1: rows are bucketed by a DATA-DERIVED monotone key
    * (event time normalized into [0,1] by a min/max scalar), the rank is
    * a bucket-partitioned window cumsum, and cross-bucket offsets
    * arrive by broadcast theta-join. Cumulative count of 1s along the
    * (ts, tieBreak) order IS the global row number. Stays entirely in
    * Tungsten: no RDD hop, no Row round-trip, no DeserializeToObject in
    * the executed plan (PlanHygieneSpec pins that).
    *
    * Why not spark_partition_id() over a range exchange: the offsets
    * branch necessarily re-executes its sub-plan, and RangePartitioner
    * seeds its reservoir sampling with the RDD id — a fresh id per
    * execution — so two executions of the "same" range exchange can place
    * the same row in different partitions and the pid spaces tear apart.
    * A bucket computed from the row's own data is identical on every
    * branch, every retry, every AQE re-plan by construction. */
  def merged(a: DataFrame, b: DataFrame, ts: Column,
             tieBreak: Column): DataFrame =
    mergedN(Seq(a, b), ts, tieBreak)

  /** N-way form of [[merged]] — the reference merges an arbitrary set of
    * input partitions/streams into one time-ordered output, not just two
    * (MergerTest.java drives three inputs). Same scale shape: one scalar
    * min/max job over the pruned ts column (a 2-double driver action, the
    * same class as connectedComponents' convergence scalar — a broadcast
    * 1-row frame instead would be re-planned into every runningTotal
    * branch, tripling the scans), then one UNION ALL through the prefix
    * scan: one hash-on-bucket exchange + broadcast offsets.
    *
    * `ts` must be non-null (a null has no place in the total order; the
    * scan fails fast rather than dropping the row). Bucket balance tracks
    * the time distribution — a heavily clustered timeline concentrates
    * buckets, which the window absorbs (sort groups spill gracefully);
    * the ORDER is exact regardless. */
  def mergedN(inputs: Seq[DataFrame], ts: Column,
              tieBreak: Column): DataFrame = {
    require(inputs.nonEmpty, "mergedN needs at least one input")
    // Windows.rowNumberScan's draw is monotone in ts and data-derived
    // (identical on every plan branch, retry, and AQE re-plan); double
    // rounding can merge near-equal timestamps onto one draw, so the
    // scan's id carries the FULL sort key — ties fall back to
    // (ts, tieBreak), keeping emit_seq exactly the contract's total order.
    Windows.rowNumberScan(inputs.reduce(_ unionByName _), Nil, ts, tieBreak,
      out = "emit_seq")
  }

  /** The merge gate as data: per-record high-watermark of the *other*
    * stream at this record's position (MergerTest pairing condition).
    * A record is emittable when otherWatermark >= its own timestamp.
    *
    * TEST/DIAGNOSTIC ONLY — the unpartitioned running-max window funnels
    * every row through one partition, which is exactly the single-reducer
    * shape the production paths avoid (see [[merged]] for the parallel
    * form of the total order). Use it to validate small golden sequences
    * (OperatorsSpec / the reference MergerTest replay), never in a
    * pipeline; partition the window by a key for any real dataset. */
  def withPairedWatermark(merged: DataFrame, source: Column,
                          ts: Column): DataFrame = {
    val w = Window.orderBy(ts).rowsBetween(Window.unboundedPreceding, 0)
    merged
      .withColumn("wm_a", max(when(source === "a", ts)).over(w))
      .withColumn("wm_b", max(when(source === "b", ts)).over(w))
  }
}
