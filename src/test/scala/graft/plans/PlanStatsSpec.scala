package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.operators.{Dedup, Similarity}

/** The routing counts must be METADATA when the frame allows it: no Spark
  * job at all for a bare parquet scan (footers), for exact catalog stats,
  * or for a caller hint — and an honest count() everywhere else. */
class PlanStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("cheapRowCount reads parquet footers for a bare scan: exact, 0 jobs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val want = docs.count()
    val (got, jobs) = countingJobs(PlanStats.cheapRowCount(docs))
    assert(got.contains(want))
    assert(jobs == 0, s"footer path must not run a Spark job, ran $jobs")
  }

  test("cheapRowCount survives count-preserving Projects, refuses Filters") {
    val docs = Tables.load(spark, sfDir, "documents")
    val projected = docs.select(col("doc_id"))
      .withColumn("x", lit(1)).select("doc_id")
    assert(PlanStats.cheapRowCount(projected).contains(docs.count()))
    // a Filter changes the count — footers must NOT answer
    assert(PlanStats.cheapRowCount(docs.filter(col("doc_id") > 10)).isEmpty)
    // a LocalRelation carries an exact rowCount in its plan statistics —
    // the stats branch answers without any file metadata (and the
    // optimizer's ConvertToLocalRelation even folds filtered local frames
    // back into one, so those stay exact too)
    assert(PlanStats.cheapRowCount(Seq(1, 2, 3).toDF("v")).contains(3L))
  }

  test("rowCount: hint wins, 0 jobs, even over an un-provable frame") {
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") >= 0)
    val (got, jobs) = countingJobs(PlanStats.rowCount(docs, Some(123L)))
    assert(got == 123L)
    assert(jobs == 0, s"a hint must never trigger a job, ran $jobs")
  }

  test("rowCount falls back to count() when nothing cheaper exists") {
    // filtered parquet scan: footers can't answer, stats are size-only
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0)
    assert(PlanStats.cheapRowCount(docs).isEmpty)
    assert(PlanStats.rowCount(docs, None) == docs.count())
  }

  test("autoStride over a bare parquet scan runs 0 jobs, same value") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val n = e.count()
    val want = math.max(1, math.floor(math.sqrt(n.toDouble) / 2.0).toInt)
    val (got, jobs) = countingJobs(Similarity.autoStride(e))
    assert(got == want)
    assert(jobs == 0, s"autoStride routing must be metadata-only, ran $jobs")
  }

  test("simhashPairsAuto with a hint routes without a count job") {
    // tiny local corpus with a hint above the wide threshold: the ROUTING
    // decision must come from the hint (wide form chosen) — the wide
    // form's own execution then runs real jobs, so assert on the plan
    // choice, not job count: the wide form carries two 120-bit signatures
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("id", "text")
    val widePlan = Dedup.simhashPairs(docs, col("id"), col("text"),
        rowCountHint = Some(1L << 20))
      .queryExecution.optimizedPlan.toString
    val narrowPlan = Dedup.simhashPairs(docs, col("id"), col("text"),
        rowCountHint = Some(4L))
      .queryExecution.optimizedPlan.toString
    assert(widePlan != narrowPlan,
      "hinted sizes above/below the threshold must pick different forms")
  }

  test("repeatedSpans with candCountHint equals the un-hinted output") {
    val docs = Seq(
      (1L, "x" * 40 + "y" * 40),
      (2L, "x" * 40 + "z" * 40),
      (3L, "q" * 80)
    ).toDF("doc_id", "text")
    def run(hint: Option[Long]): Seq[(Long, Long, Long)] =
      Dedup.repeatedSpans(docs, col("doc_id"), col("text"),
          spanChars = 40, stride = 40, candCountHint = hint)
        .orderBy("doc_id")
        .as[(Long, Long, Long)].collect().toSeq
    val base = run(None)
    assert(run(Some(1L)) == base)       // exact hint
    assert(run(Some(1000L)) == base)    // overestimate: bigger filter only
  }

  test("repeatedSpans hinted path still short-circuits a dup-free corpus") {
    val docs = Seq((1L, "abcdefgh" * 10), (2L, "ijklmnop" * 11))
      .toDF("doc_id", "text")
    val r = Dedup.repeatedSpans(docs, col("doc_id"), col("text"),
        spanChars = 40, stride = 40, candCountHint = Some(50L))
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(r.forall(_._3 == 0L), s"no duplicated spans expected: $r")
  }

  // ---- maxRows: an upper bound, read off the plan with no job ----------

  test("maxRows: LocalRelation, Range and parquet footer leaves, 0 jobs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val (got, jobs) = countingJobs((PlanStats.maxRows(Seq(1, 2, 3).toDF("v")),
      PlanStats.maxRows(spark.range(7).toDF()), PlanStats.maxRows(docs)))
    assert(got == ((Some(3L), Some(7L), Some(n))))
    assert(jobs == 0, s"the bound must not run a Spark job, ran $jobs")
  }

  test("maxRows: row-preserving operators keep the child's bound") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val other = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val keep: Seq[(String, DataFrame)] = Seq(
      "project" -> docs.select(col("doc_id")),
      "filter" -> docs.filter(col("doc_id") % 3 === 0),
      "sort" -> docs.orderBy(col("doc_id").desc),
      "sample" -> docs.sample(0.5),
      "distinct" -> docs.select(col("lang")).distinct(),
      "dropDuplicates" -> docs.dropDuplicates("lang"),
      "grouped aggregate" -> docs.groupBy(col("lang")).count(),
      "window" -> docs.withColumn("r",
        row_number().over(Window.partitionBy(col("lang")).orderBy(col("doc_id")))),
      "alias" -> docs.as("d"),
      "left semi join" -> docs.join(other, Seq("doc_id"), "left_semi"),
      "left anti join" -> docs.join(other, Seq("doc_id"), "left_anti"))
    for ((name, df) <- keep)
      assert(PlanStats.maxRows(df).contains(n), s"$name lost the bound")
    // a global aggregate is one row, even over no input
    assert(PlanStats.maxRows(docs.filter(lit(false)).agg(count(lit(1))))
      .contains(1L))
  }

  test("maxRows: inner and cross joins multiply, Union adds") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val three = spark.range(3)
    assert(PlanStats.maxRows(docs.join(three, col("doc_id") === col("id")))
      .contains(3 * n))
    assert(PlanStats.maxRows(docs.crossJoin(three)).contains(3 * n))
    assert(PlanStats.maxRows(docs.select(col("doc_id"))
      .union(three.toDF("doc_id"))).contains(n + 3))
  }

  test("maxRows: explode, outer joins and sampling with replacement give None") {
    val docs = Tables.load(spark, sfDir, "documents")
    val other = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    assert(PlanStats.maxRows(docs.select(explode(split(col("text"), " ")))).isEmpty)
    for (how <- Seq("left_outer", "right_outer", "full_outer"))
      assert(PlanStats.maxRows(docs.join(other, Seq("doc_id"), how)).isEmpty, how)
    assert(PlanStats.maxRows(docs.sample(withReplacement = true, 2.0, 1L)).isEmpty)
  }

  test("maxRows: an overflow gives None") {
    val huge = spark.range(Long.MaxValue).toDF()
    assert(PlanStats.maxRows(huge).contains(Long.MaxValue))
    assert(PlanStats.maxRows(huge.crossJoin(spark.range(1))).contains(Long.MaxValue))
    assert(PlanStats.maxRows(huge.crossJoin(spark.range(2))).isEmpty)
    assert(PlanStats.maxRows(huge.union(spark.range(1).toDF())).isEmpty)
  }

  test("maxRows does not stop a later persist of the same frame from being used") {
    def cached(df: DataFrame) = df.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }.isDefined
    val df = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0).select(col("doc_id"))
    assert(PlanStats.maxRows(df).isDefined)
    df.persist()
    try assert(cached(df), "the bound froze the frame's plan before its persist")
    finally df.unpersist()
  }
}
