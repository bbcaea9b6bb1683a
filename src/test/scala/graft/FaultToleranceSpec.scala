package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, Subpartitions}

/** Kill the first attempt of a task, then require the retried run to
  * produce the exact result of a clean run — counted so a test can prove
  * the fault actually fired (a gate that never throws would pass
  * vacuously). */
object FaultInjection {
  val fired = new java.util.concurrent.atomic.AtomicInteger(0)
  // one sleep per task ATTEMPT (straggler udfs run per row). Per-JVM by
  // design: on a real cluster each executor dedups its own attempts, and
  // task attempt ids are globally unique so the guard still holds.
  val slept: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** Task-retry determinism — executed, not claimed.
  *
  * Several operators' scaladocs assert determinism "across retries": the
  * sampling family draws from id digests instead of RNG state, dedup
  * canonicalization is min-wins, bucket capping keeps the SMALLEST ids,
  * and roundRobinScan buckets every row by a data-derived draw precisely
  * so a re-executed task reproduces its output. On a 1000-executor
  * cluster task retries are routine (preemption, spot loss, speculative
  * execution), and an operator whose recomputed partition differs from
  * the lost one silently corrupts results — Spark does NOT re-run
  * downstream stages that already consumed the old output.
  *
  * This suite actually kills tasks (first attempt of partition 0 of the
  * stage evaluating the gate, via a nondeterministic UDF that throws) and
  * asserts the retried execution equals a clean run bit-for-bit
  * ([[RowCanon]]). It runs in its own JVM (build.sbt testGrouping): the
  * shared suites use `local[4]`, whose maxTaskFailures=1 turns any task
  * failure into a job failure — retries need a `local[N, maxFailures]`
  * master, which is a SparkContext-level choice.
  */
class FaultToleranceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = GraftSession.configure(SparkSession.builder()
    .master("local[4, 3]")
    .appName("FaultToleranceSpec")
    .config("spark.sql.shuffle.partitions", "4"))
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  /** Filter-true gate that throws on the first attempt of partition 0 of
    * whatever stage evaluates it. Nondeterministic so Catalyst neither
    * constant-folds it nor reorders it into a pushed-down scan filter. */
  private def flaky(df: DataFrame): DataFrame = {
    val gate = udf { (_: Int) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        FaultInjection.fired.incrementAndGet()
        throw new RuntimeException(
          "injected fault: first attempt of partition 0")
      }
      true
    }.asNondeterministic()
    df.filter(gate(lit(1)))
  }

  /** Run `op` over a clean and a fault-injected copy of the same input;
    * require the fault to have fired and the results to match. */
  private def assertRetrySafe(name: String, input: DataFrame,
                              op: DataFrame => DataFrame): Unit = {
    val clean = RowCanon.collect(op(input))
    val before = FaultInjection.fired.get()
    val faulted = RowCanon.collect(op(flaky(input)))
    assert(FaultInjection.fired.get() > before,
      s"$name: the injected fault never fired — the test proved nothing")
    assert(clean == faulted,
      s"$name changed its result across a task retry: " +
        RowCanon.diff(clean, faulted))
  }

  private def docs = Tables.load(spark, dir, "documents")
  private def events = Tables.load(spark, dir, "events")

  test("digest sampling is stable across a map-stage retry") {
    assertRetrySafe("hashSample", docs,
      d => Corpus.hashSample(d, col("doc_id"), 0.3, salt = "r8"))
  }

  test("fixed-size group sample is stable across a map-stage retry") {
    assertRetrySafe("groupSample", docs, d =>
      Corpus.groupSample(d, col("doc_id"), col("lang"), k = 5, salt = "ft"))
  }

  test("exact dedup (min-wins canonical + salted join-back) is stable") {
    assertRetrySafe("exactDuplicates", docs,
      d => Dedup.exactDuplicates(d, col("doc_id"), col("text")))
  }

  test("MinHash-LSH candidate generation + verification is stable") {
    assertRetrySafe("minhashLsh", docs, d =>
      Dedup.minhashLsh(d, col("doc_id"), col("text"), threshold = 0.5))
  }

  test("roundRobinScan's data-derived counter is stable") {
    assertRetrySafe("roundRobinScan",
      events.withColumn("part", col("user_id") % 4), e =>
        Subpartitions.roundRobinScan(
          e, col("part"), 4, col("ts"), col("event_id"), buckets = 8))
  }

  test("a reduce-stage retry refetches shuffle output unchanged") {
    // gate AFTER the aggregation: the throwing task is a reducer holding
    // fetched map output; its retry must re-aggregate to the same rows
    val agg = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"))
    val clean = RowCanon.collect(agg)
    val before = FaultInjection.fired.get()
    val faulted = RowCanon.collect(flaky(agg))
    assert(FaultInjection.fired.get() > before, "fault never fired")
    assert(clean == faulted, RowCanon.diff(clean, faulted))
  }

  // NOTE: there is deliberately no speculative-execution test here —
  // TaskSchedulerImpl only starts its speculation scheduler when !isLocal,
  // so a local[N] master can never race duplicate attempts (verified
  // empirically: aggressive speculation confs + a 2 s straggler never
  // launched an attempt > 0). LocalClusterSpec covers speculation on real
  // forked executors.

  test("a task killed mid-write inside a streaming batch neither loses nor duplicates rows") {
    // the reference's duplication window is a crash between sink write and
    // offset commit (ConsumerThread.java:184-186); the Spark-side analogue
    // one level down is a TASK dying mid-batch-write. The parquet commit
    // protocol must discard the failed attempt's files so the retried task
    // commits exactly one copy.
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Int](spark)
    mem.addData(1 to 1000: _*)
    val sink = java.nio.file.Files.createTempDirectory("ft-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ft-ckpt").toString
    val before = FaultInjection.fired.get()
    val q = mem.toDF().withColumnRenamed("value", "v")
      .repartition(4) // multiple write tasks, so killing one leaves others
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) =>
        streaming.Guarantees.exactlyOnceParquet(sink)(flaky(b), id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(FaultInjection.fired.get() > before, "fault never fired")
    val out = spark.read.parquet(sink)
    assert(out.count() == 1000, "rows lost or duplicated by the retried write task")
    assert(out.select("v").distinct().count() == 1000)
  }

  override def afterAll(): Unit = {
    spark.stop() // own JVM, own context — safe to stop, unlike SparkSpecBase
    super.afterAll()
  }
}
