package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.LocalCheckpointFiles

/** One place to build a correctly-tuned engine session — the library's
  * equivalent of the reference's WorkersConfig defaults
  * (api/WorkersConfig.java): sensible parallelism, AQE with skew-join
  * handling and UTC session time. The engine's SQL functions come from
  * `GraftFunctions.register` or the `graft.GraftExtensions` hook.
  *
  * Streaming checkpoints go through `graft.streaming.LocalCheckpointFiles`
  * (Spark's `checkpointFileManagerClass` key): on `file:` paths it writes
  * offset, commit and state files through java.nio, with Hadoop's `.crc`
  * sidecars, instead of Hadoop's local `FileContext`, which starts a
  * `chmod` or `readlink` process per file (~23 ms each, ~100 ms per
  * trigger). Other schemes get the manager Spark would build.
  *
  * All sessions share one executor classloader
  * (`spark.sql.artifact.isolation.enabled=false`). Spark caches generated
  * code per classloader, and isolation gives each session's tasks their
  * own, so every stream (a cloned session) recompiled its plan's classes.
  * Isolation serves Spark Connect jars added per session, which the
  * engine never adds; a deployment that does sets it back to true, since
  * with it off such jars reach every session and same-named classes clash.
  *
  * On a cluster, master/parallelism come from spark-submit and only the
  * tuning confs below matter; `local(n)` is the single-JVM entry used by
  * Verify/Bench and tests.
  */
object GraftSession {

  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Scan-parallelism floor: a compact parquet file (one row group,
      // a few MB) otherwise becomes ONE input partition, serializing any
      // CPU-heavy per-row work (from_json, hashing) on a single core while
      // the rest idle. Splitting the scan to >= cores keeps map work
      // parallel; at real scale file count dominates and this is inert.
      .config("spark.sql.files.minPartitionNum", cores.toString))
      .getOrCreate()

  /** Apply the engine's tuning to any builder (cluster or local). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // NOTE on ObjectHashAggregate (collect_list / collect_top_k): it
    // falls back to SORT-based aggregation after 128 distinct keys per
    // task, so many-group collects always sort their input. Raising the
    // threshold was measured OOMing the 8 GB bench heap at sf100 (the
    // object hash map's memory is NOT tracked by the memory manager —
    // that's why the default is conservative, and why the engine keeps
    // it). The scale answer is row WIDTH, not the threshold: every
    // grouped-collect exchange in the engine carries ids/signatures only
    // (20-ish bytes), so the fallback sort is an in-memory sort of a few
    // MB per task — see Dedup.sortedRunMembers.
    .config("spark.ui.enabled", "false")
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config(LocalCheckpointFiles.ManagerKey, classOf[LocalCheckpointFiles].getName)
}
