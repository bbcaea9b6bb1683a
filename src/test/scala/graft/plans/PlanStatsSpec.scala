package graft.plans

import org.apache.spark.sql.DataFrame
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
}
