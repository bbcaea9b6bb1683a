package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{SparkSpecBase, Tables}
import graft.functions.{GraftFunctions, TextFunctions}
import graft.plans.PlanStats

/** `Dedup.tokenJaccardPairs` carries each row's token set through the
  * blocked self-join. Its rows are checked against the join-back form it
  * replaced: candidate pairs from a (block, id, set size) self-join, then
  * the token sets joined back onto each side by id. */
class TokenJaccardSpec extends SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"

  /** The join-back form: same candidates, same length bound, same merge. */
  private def joinedBack(docs: DataFrame, id: Column, text: Column,
                         block: Seq[Column], threshold: Double): DataFrame = {
    val light = docs.select(
      (block.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") } :+
        id.as("doc_id") :+
        size(GraftFunctions.tokenSetHash(TextFunctions.tokens(text)))
          .as("nt")): _*)
    val blkCols = block.indices.map(i => s"blk_$i")
    val l = light.select((blkCols.map(col) :+ col("doc_id").as("id_a") :+
      col("nt").as("nt_a")): _*)
    val r = light.select((blkCols.map(col) :+ col("doc_id").as("id_b") :+
      col("nt").as("nt_b")): _*)
    val candidates = l.join(r, blkCols)
      .filter(col("id_a") < col("id_b") &&
        least(col("nt_a"), col("nt_b")).cast("double") >=
          lit(threshold) * greatest(col("nt_a"), col("nt_b")).cast("double"))
      .select("id_a", "id_b")
    val toksOf = docs.select(id.as("tid"),
      GraftFunctions.tokenSetHash(TextFunctions.tokens(text)).as("t"))
    candidates
      .join(toksOf.select(col("tid").as("id_a"), col("t").as("toks_a")),
        Seq("id_a"))
      .join(toksOf.select(col("tid").as("id_b"), col("t").as("toks_b")),
        Seq("id_b"))
      .withColumn("jaccard",
        round(GraftFunctions.jaccardSorted(col("toks_a"), col("toks_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSeq.sorted

  private def same(docs: DataFrame, block: Seq[Column],
                   threshold: Double): Seq[(Long, Long, Double)] = {
    val got = rows(Dedup.tokenJaccardPairs(docs, col("doc_id"), col("text"),
      block, threshold))
    assert(got == rows(joinedBack(docs, col("doc_id"), col("text"), block,
      threshold)), s"threshold $threshold")
    got
  }

  test("the sf0.01 documents give the join-back form's rows") {
    val docs = Tables.load(spark, sfDir, "documents")
    for (t <- Seq(0.5, 0.9, 0.97))
      assert(same(docs, Seq(col("lang")), t).nonEmpty, s"threshold $t")
  }

  test("ties, empty and null text, a null block key and several blocks") {
    val docs = Seq[(Long, String, String, String)](
      // 3 of 5 tokens: J = 0.6 exactly, and the length bound 3 >= 0.6 * 5
      // holds with equality
      (1L, "a b c", "en", "x"), (2L, "a b c d e", "en", "x"),
      (3L, "a b c d", "en", "x"), (4L, "a b c e", "en", "x"), // J(3,4) = 0.6
      (5L, "", "en", "x"), (6L, "", "en", "x"), (7L, "  ", "en", "y"),
      (8L, null, "en", "x"), (9L, null, "en", "x"),
      (10L, "a b c", null, "x"), (11L, "a b c", null, "x"),
      (12L, "a b c", "de", "x"), (13L, "a b c", "de", "x"),
      (14L, "a b c d e", "de", "y"), (15L, "w", "fr", "x"))
      .toDF("doc_id", "text", "lang", "src")
    val at = same(docs, Seq(col("lang")), 0.6)
    assert(at.contains((1L, 2L, 0.6)) && at.contains((3L, 4L, 0.6)))
    assert(at.contains((5L, 6L, 1.0)) && at.contains((12L, 13L, 1.0)))
    // a null block key forms no pairs, nor does a null text
    assert(!at.exists(p => Set(8L, 9L, 10L, 11L)(p._1)))
    assert(!same(docs, Seq(col("lang")), 0.6001).exists(_._3 == 0.6))
    // two block columns, and a threshold every in-block pair meets
    val twoKeys = same(docs, Seq(col("lang"), col("src")), 0.0)
    assert(same(docs, Seq(col("lang")), 0.0).size > twoKeys.size)
    assert(same(docs, Seq(col("lang"), col("src")), 0.6).nonEmpty)
  }

  test("the pairs of n footer-bounded rows are bounded by n², job-free") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = PlanStats.maxRows(docs).get
    val (bound, jobs) = countingJobs(PlanStats.maxRows(
      Dedup.tokenJaccardPairs(docs, col("doc_id"), col("text"),
        Seq(col("lang")), 0.9)))
    assert(n == 500L && bound.contains(n * n) && jobs == 0)
  }
}
