package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Sub-partitioning — the reference's core distribution primitive
  * (api/partitioner/WorkerPartitioner.java:25-35): map each record to a
  * subpartition id in [0, n); records sharing a subpartition are ordered,
  * across subpartitions order is relaxed (README.md:20).
  *
  * Spark-first mapping: the subpartition id is just a column; distribution
  * is `repartition(n, col)` (one hash shuffle), per-subpartition order is
  * `sortWithinPartitions`. At 100 TB this is the standard keyed-shuffle
  * pattern — no driver involvement, fully parallel.
  */
object Subpartitions {

  /** DefaultPartitioner (api/partitioner/DefaultPartitioner.java:10-22):
    * identity — keep the source partitioning, subpartition 0. */
  def default(df: DataFrame): DataFrame =
    df.withColumn("subpartition", lit(0))

  /** Key-hash subpartitioner preserving per-key order. Uses Spark's
    * codegen'd murmur3 `hash` for speed; `kafkaCompatible=true` switches to
    * the bit-exact Kafka murmur2 (HashFunctionPartitioner.java:29-49). */
  def byKeyHash(df: DataFrame, key: Column, n: Int,
                kafkaCompatible: Boolean = false): DataFrame = {
    if (n <= 0) throw new graft.BadSubpartitionException(
      s"subpartition count must be positive, got $n")
    val sub =
      if (kafkaCompatible) GraftFunctions.murmur2Mod(key.cast("string"), n)
      else pmod(hash(key), lit(n))
    df.withColumn("subpartition", sub)
  }

  /** Deterministic round-robin (RoundRobinPartitioner.java:15-44): the
    * reference keeps a per-partition counter; the order-free batch analog
    * numbers records within each source partition and takes mod n.
    *
    * SCALE NOTE: one window sort group per source partition — each
    * partition's full record set funnels through ONE task's sort. Right
    * when per-partition row counts are task-sized; for billions of rows
    * over few source partitions use [[roundRobinScan]] (the sf100 sweep
    * measured this shape ×20/decade at 100M rows over 4 partitions vs ×6
    * for the scan form). */
  def roundRobin(df: DataFrame, sourcePartition: Column, n: Int,
                 order: Column*): DataFrame = {
    if (n <= 0) throw new graft.BadSubpartitionException(
      s"subpartition count must be positive, got $n")
    val w = Window.partitionBy(sourcePartition).orderBy(order: _*)
    df.withColumn("subpartition",
      ((row_number().over(w) - 1) % n).cast("int"))
  }

  /** Scale form of [[roundRobin]] for an ASCENDING (ts, tieBreak) record
    * order: the per-source-partition row number is the engine's grouped
    * distributed prefix scan (Corpus.runningTotal with the partition as
    * group key) instead of one sort group per partition — each partition's
    * counter is spread over `buckets` balanced, spillable sort groups, so
    * a 4-partition topic at 10⁹ records numbers on 4×`buckets` tasks, not
    * 4. Identical output to [[roundRobin]] `(df, p, n, ts.asc, tie.asc)`
    * whenever (ts, tieBreak) is unique per partition (the u-draw carries
    * the full sort key as its tiebreak, so bucket-boundary ties stay
    * exact). `ts` must be non-null — the scan fails fast per-row.
    *
    * The group key must be broadcast-small (partition counts, not data
    * keys) — see runningTotal's grouped contract. */
  def roundRobinScan(df: DataFrame, sourcePartition: Column, n: Int,
                     ts: Column, tieBreak: Column,
                     buckets: Int = 256): DataFrame = {
    if (n <= 0) throw new graft.BadSubpartitionException(
      s"subpartition count must be positive, got $n")
    Windows.rowNumberScan(df, Seq(sourcePartition), ts, tieBreak,
        out = "__rr_seq", buckets = buckets)
      .withColumn("subpartition",
        ((col("__rr_seq") - 1) % n).cast("int"))
      .drop("__rr_seq")
  }

  /** Physically co-locate a subpartitioned frame and restore per-key order —
    * the execution contract of the reference's worker loop
    * (impl/task/WorkerThread.java:65-103): records of one subpartition are
    * processed sequentially in offset order. */
  def distribute(df: DataFrame, n: Int, order: Column): DataFrame =
    df.repartition(n, col("subpartition"))
      .sortWithinPartitions(col("subpartition"), order)
}
