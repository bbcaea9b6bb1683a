package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.functions.GraftFunctions

/** SemDeDup correctness against an independent in-suite reference: the
  * duplicate marking must equal "has a lower-id same-cluster mate with
  * cosine ≥ threshold" computed by brute force over the assignment.
  */
class SemanticDedupSpec extends SparkSpecBase {
  import spark.implicits._

  // deterministic toy corpus: three tight directions plus noise vectors;
  // near-dups are scaled copies (cosine-invariant) of a few base vectors
  private def corpus = {
    val base = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 1f))
    (0L until 60L).map { i =>
      val b = base((i % 3).toInt)
      val scale = 1f + (i / 3) * 0.5f
      val jitter = if (i % 9 == 0) 0.8f else 0.01f * (i % 5)
      (i, b.zipWithIndex.map { case (v, j) =>
        v * scale + (if (j == (i % 4).toInt) jitter else 0f) })
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("is_dup == exists lower-id cluster-mate with cos >= threshold") {
    val theta = 0.9
    val out = Dedup.semanticDedup(corpus, col("vec_id"), col("embedding"),
        threshold = theta)
    // independent reference: recompute the assignment through the same
    // public pieces, then brute-force ALL within-cluster pairs (no
    // embeddingNearDup involved) and derive the expected marking
    val centroids = Similarity.strideCentroids(
      corpus.select(col("vec_id"), col("embedding")),
      Similarity.autoStride(corpus))
    val asg = Similarity.ivfIndex(
      corpus.select(col("vec_id"), col("embedding")), centroids)
    val l = asg.select(col("centroid_id"), col("vec_id").as("a"),
      col("embedding").as("va"))
    val r = asg.select(col("centroid_id"), col("vec_id").as("b"),
      col("embedding").as("vb"))
    val expectedDups = l.join(r, Seq("centroid_id"))
      .filter(col("a") < col("b"))
      .filter(round(GraftFunctions.cosineSimilarity(col("va"), col("vb")), 4)
        >= theta)
      .select(col("b")).distinct().as[Long].collect().toSet
    val got = out.select("vec_id", "is_dup").as[(Long, Boolean)]
      .collect().toMap
    assert(got.size == 60, "one row per input vector")
    for ((id, dup) <- got)
      assert(dup == expectedDups.contains(id),
        s"vec $id: got is_dup=$dup, reference says ${expectedDups.contains(id)}")
    assert(expectedDups.nonEmpty, "fixture must actually contain near-dups")
    assert(got.values.exists(!_), "fixture must also contain survivors")
  }

  test("lowest id of every duplicate group survives") {
    val out = Dedup.semanticDedup(corpus, col("vec_id"), col("embedding"),
        threshold = 0.9)
      .select("vec_id", "centroid_id", "is_dup")
      .as[(Long, Long, Boolean)].collect()
    // within each cluster, the smallest id can never be marked (no
    // lower-id mate exists)
    out.groupBy(_._2).foreach { case (_, rows) =>
      val minId = rows.map(_._1).min
      val marked = rows.find(r => r._1 == minId).get._3
      assert(!marked, s"cluster minimum id $minId must survive")
    }
  }

  test("pair-space guard trips on a quadratic-hot cluster") {
    // all vectors identical -> one cluster holding everything; a tiny
    // maxPairsPerBlock must fail fast instead of joining N²
    val hot = (0L until 100L).map(i => (i, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val e = intercept[graft.GraftException] {
      Dedup.semanticDedup(hot, col("vec_id"), col("embedding"),
        threshold = 0.5, maxPairsPerBlock = 100L)
    }
    assert(e.getMessage.contains("maxPairsPerBlock"))
  }
}
