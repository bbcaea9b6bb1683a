package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, per the standard ANN playbook:
  *  - bruteForceTopK: exact cosine top-k, query set broadcast against the
  *    candidate corpus — the correctness baseline. Scales as |Q| × |C|; fine
  *    when the query set is small and broadcastable (the common "probe a
  *    batch of queries against the corpus" shape). The corpus side stays
  *    partitioned — no shuffle of the 100 TB side; per-partition top-k is
  *    reduced via the aggregate path of the window-rank.
  *  - ivfTopK: IVF-style two-stage search — k-means-free variant using a
  *    deterministic sample of vectors as centroids (IVF-Flat with random
  *    centroids; Jégou et al., "Product Quantization for Nearest Neighbor
  *    Search", PAMI 2011 describes the IVF scheme). Corpus is bucketed by
  *    nearest centroid once (linear), queries probe the nProbe nearest
  *    centroid buckets only.
  */
object Similarity {

  /** Exact cosine top-k for each query vector. `queries` should be small
    * (it is broadcast); `corpus` can be arbitrarily large. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     round4: Boolean = true): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val c = corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_vec"))
    val cosRaw = GraftFunctions.cosineSimilarity(col("q_vec"), col("c_vec"))
    val cos = if (round4) round(cosRaw, 4) else cosRaw
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), cos.as("cos"))
    rankTopK(scored, k)
  }

  /** Bounded-state per-query top-k: a partial-aggregating TopK Aggregator
    * keeps at most k (cos, cand_id) pairs per map-side partition, so the
    * shuffle carries k × partitions rows per query instead of the entire
    * scored candidate set (a window-rank would funnel |corpus| rows of a
    * query into one reducer — the classic 100 TB single-reducer trap).
    * Tie order matches the window form: cos desc, cand_id asc. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(VectorFunctions.topK(k), Encoders.product[(Double, Long)])
    scored.groupBy(col("query_id"))
      .agg(topk(col("cos"), col("cand_id")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col._2").as("cand_id"),
        col("col._1").as("cos"), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Deterministic stride sample of the corpus as initial centroids
    * (IVF-Flat with random centroids; see class doc). */
  /** Int8 scalar quantization of a vector column: (id, codes, scale).
    * 1 byte/dim instead of 4 — at 100 TB the difference between an ANN
    * corpus that fits executor memory and one that spills; the exact
    * integer dot is rescaled by `scaleA*scaleB/127²` to approximate the
    * float dot, with per-dim error bounded by scale/254. */
  def quantizeInt8(vecs: DataFrame, id: Column, vec: Column): DataFrame =
    vecs.select(id.as("vec_id"),
      GraftFunctions.int8Codes(vec).as("codes"),
      GraftFunctions.int8Scale(vec).as("scale"))

  /** Approximate dot of two quantized vectors (columns from
    * [[quantizeInt8]]). */
  def int8ApproxDot(codesA: Column, scaleA: Column,
                    codesB: Column, scaleB: Column): Column =
    GraftFunctions.int8Dot(codesA, codesB) * scaleA * scaleB / lit(16129.0)

  /** Two-stage retrieval: int8-approximate shortlist (integer dot over
    * 1-byte codes, bounded-state partial-agg top-`shortlist`), then exact
    * cosine re-rank of the shortlist alone. The scan that touches every
    * corpus vector reads quarter-width codes; the full-precision vectors
    * are only fetched for `shortlist` candidates per query. With a
    * shortlist margin comfortably above the quantization error bound the
    * result equals exact brute force. */
  def int8RerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val q = quantizeInt8(queries, col("vec_id"), col("embedding"))
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        col("scale").as("qs"))
    val c = quantizeInt8(corpus, col("vec_id"), col("embedding"))
      .select(col("vec_id").as("cand_id"), col("codes").as("cc"),
        col("scale").as("cs"))
    val approx = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        int8ApproxDot(col("qc"), col("qs"), col("cc"), col("cs")).as("cos"))
    val short = rankTopK(approx, shortlist).select("query_id", "cand_id")
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val cv = corpus.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_vec"))
    val exact = short.join(broadcast(qv), "query_id").join(cv, "cand_id")
      .select(col("query_id"), col("cand_id"),
        round(GraftFunctions.cosineSimilarity(col("q_vec"), col("c_vec")), 4)
          .as("cos"))
    rankTopK(exact, k)
  }

  def strideCentroids(corpus: DataFrame, centroidStride: Int): DataFrame =
    corpus.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))

  /** Corpus-derived centroid stride for nlist ≈ 2·√N — the classic IVF
    * sizing rule (nlist proportional to √N keeps assignment N·nlist =
    * O(N^1.5) and per-probe bucket size N/nlist = O(√N), balancing build
    * vs probe as the corpus grows; FAISS guidance puts nlist at c·√N).
    * A FIXED stride is the scale trap: nlist then grows ∝ N and
    * assignment is N²/stride — the sf10 sweep measured exactly that
    * (×100 assignment cost per decade² under a pinned stride). One
    * bounded count; floor(sqrt(N)/2) is IEEE-identical in DuckDB
    * (`GREATEST(1, CAST(FLOOR(sqrt(count(*)) / 2.0) AS INT))`) so
    * stride-keyed oracles stay reproducible. The count itself resolves
    * through [[graft.plans.PlanStats]] — caller hint, exact catalog
    * statistics, or parquet footer metadata when the frame is a bare
    * scan — so routing costs a scan only when no metadata source exists. */
  def autoStride(corpus: DataFrame, rowCountHint: Option[Long] = None): Int =
    math.max(1, math.floor(math.sqrt(
      graft.plans.PlanStats.rowCount(corpus, rowCountHint).toDouble)
      / 2.0).toInt)

  /** Lloyd-refined centroids: start from the stride sample and run `iters`
    * assign/mean rounds (spherical k-means — assignment by cosine, mean
    * per coordinate). Each round is one broadcast of the (small) centroid
    * set plus two map-side-combinable aggregations over the corpus —
    * (k × dim) rows after partial aggregation, no per-row state — the
    * standard distributed k-means step, so it scales to any corpus the
    * index itself can cover. Clusters that lose all members drop out
    * (standard Lloyd behavior). Each round's centroids (nlist rows) are
    * collected once into a local frame: the next round's assignment and
    * the caller read them with no job, the lineage stays flat, and nothing
    * stays cached. */
  def trainCentroids(corpus: DataFrame, centroidStride: Int,
                     iters: Int): DataFrame = {
    var centroids = strideCentroids(corpus, centroidStride)
    for (_ <- 0 until iters) {
      val assigned = assignToCentroids(corpus, centroids)
      val next = assigned
        .select(col("centroid_id"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("i", "v")))
        .groupBy(col("centroid_id"), col("i"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(expr("transform(sort_array(collect_list(struct(i, m))), x -> x.m)")
          .cast("array<float>").as("centroid"))
      centroids = corpus.sparkSession.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
    centroids
  }

  /** Nearest-centroid assignment as ONE map-only projection: the centroid
    * set is materialized on the driver (bounded — nlist is an index design
    * constant, and broadcast-based assignment had the same driver-residency
    * requirement) into a [[graft.functions.CentroidBank]], and a codegen
    * argmax-cosine expression tags each corpus row in place. No join, no
    * aggregate, no shuffle — the embedding never leaves its row.
    *
    * The previous form (crossJoin(broadcast) + groupBy(vec_id).max_by with
    * the embedding in the payload) was found spilling at the sf1 decade:
    * a var-length max_by buffer demotes hash aggregation to sort-based, so
    * every assignment sorted |corpus| × |centroids| expanded vector rows —
    * 4.2 GB spill per assignment at 20k × 800, corpus-quadratic at 100 TB.
    * The bank kernel replays the same cosine loop and tie rule (strictly-
    * greater scan in ascending centroid_id order ≡ max_by(struct(cos,
    * -centroid_id))), so results are bit-identical. */
  private def assignToCentroids(corpus: DataFrame,
                                centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids)
    val bank = new graft.functions.CentroidBank(
      cents.map(_._1), cents.map(_._2))
    tagCentroid(corpus,
      GraftFunctions.nearestCentroidId(col("embedding"), bank))
  }

  /** The centroid frame on the driver, ascending by id — the scan order
    * both assignment kernels' tie rule depends on. */
  private def collectCentroids(
      centroids: DataFrame): Array[(Long, Array[Float])] = centroids
    .select(col("centroid_id").cast("long"),
      col("centroid").cast("array<float>"))
    .collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    .sortBy(_._1)

  /** The IVF index row: (centroid_id, vec_id, embedding). */
  private def tagCentroid(corpus: DataFrame, centroidId: Column): DataFrame =
    corpus.select(centroidId.as("centroid_id"), col("vec_id"), col("embedding"))

  /** IVF bucketing: assign every corpus vector to its nearest centroid in
    * `centroids` (a [[strideCentroids]] sample or a [[trainCentroids]]
    * refinement). The centroid frame is materialized on the DRIVER at plan
    * time (it must be small — nlist × dim is an index design constant);
    * the corpus side is never joined, aggregated, or shuffled.
    *
    * Routed on corpus size ([[Routing.ivfHier]]): the flat exact argmax
    * (oracle-reproducible) below [[Routing.hierThreshold]] vectors, the
    * hierarchical ≈ N^1.25 kernel ([[hierAssign]], [[hierProbe]] cells)
    * at or above it — so no caller rides the flat N^1.5 build into the
    * 10^8-vector regime. The size resolves through
    * [[Routing.isLarge]] (hint > a bound that settles the flat route >
    * exact statistics > parquet footers > count()), so routing is free on
    * a bare or filtered scan and a caller with a known corpus size never
    * pays a pre-pass. */
  def ivfIndex(corpus: DataFrame, centroids: DataFrame,
               rowCountHint: Option[Long] = None,
               route: Routing.Route = Routing.Auto): DataFrame =
    if (Routing.isLarge(route, corpus, rowCountHint)(Routing.ivfHier))
      hierAssign(corpus, centroids, hierProbe)
    else assignToCentroids(corpus, centroids)

  /** Coarse cells the hierarchical route scans per row. */
  private val hierProbe = 2

  /** Hierarchical (two-level) IVF assignment: the nlist fine centroids
    * are grouped into ≈ √nlist coarse cells (coarse seeds = ascending-id
    * stride sample of the fine set; each fine centroid joins its
    * flat-nearest seed's cell — an nlist × √nlist driver-side pass over
    * the already-driver-resident centroid frame), and each corpus row
    * scans coarse cells first, then only the fine centroids of its
    * `wProbe` best cells ([[graft.functions.HierCentroidBank]]). Same
    * map-only/no-shuffle execution as the flat kernel; assignment cost
    * drops from N·nlist ≈ N^1.5 to ≈ N^1.25. Assignment is approximate
    * at cell boundaries (exact iff the true nearest fine centroid lies
    * in a probed cell — raise `wProbe` to trade build time for boundary
    * accuracy); with `wProbe >= #cells` it equals the flat assignment,
    * the equivalence HierIvfSpec pins. Probing ([[ivfTopKWith]]) is
    * unchanged — it ranks the full fine-centroid set per query. */
  private[operators] def hierAssign(corpus: DataFrame, centroids: DataFrame,
                                    wProbe: Int): DataFrame = {
    val fine = collectCentroids(centroids)
    require(fine.nonEmpty, "need at least one centroid")
    val coarseStride = math.max(1, math.floor(math.sqrt(fine.length)).toInt)
    val seeds = fine.indices.filter(_ % coarseStride == 0).toArray
    val coarse = new graft.functions.CentroidBank(
      seeds.map(i => fine(i)._1), seeds.map(i => fine(i)._2))
    // each fine centroid joins its flat-nearest seed's cell (lowest seed
    // id on ties — CentroidBank.assign's rule); cells keep ascending id
    // order for the deterministic scan
    val members = Array.fill(seeds.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    val seedIdToCell = seeds.zipWithIndex
      .map { case (fi, cell) => fine(fi)._1 -> cell }.toMap
    fine.indices.foreach { i =>
      val seedId = coarse.assign(
        org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(fine(i)._2))
      members(seedIdToCell(seedId)) += i
    }
    // duplicate seed vectors can tie and drain a cell (everything joins
    // the lower seed id): drop empty cells, rebuilding the coarse bank in
    // lock-step so cell i always belongs to coarse centroid i
    val occupied = members.indices.filter(members(_).nonEmpty).toArray
    val coarseKept = new graft.functions.CentroidBank(
      occupied.map(c => fine(seeds(c))._1),
      occupied.map(c => fine(seeds(c))._2))
    val cells = occupied.map { c =>
      new graft.functions.CentroidBank(
        members(c).map(i => fine(i)._1).toArray,
        members(c).map(i => fine(i)._2).toArray)
    }
    val bank = new graft.functions.HierCentroidBank(coarseKept, cells, wProbe)
    tagCentroid(corpus,
      GraftFunctions.nearestCentroidIdHier(col("embedding"), bank))
  }

  /** Persist an IVF index partitioned BY CENTROID: probing then becomes a
    * partition-pruned scan — a query touching nProbe of C centroids reads
    * nProbe/C of the index bytes, which is the entire point of IVF at
    * 100 TB. Build once, query many. */
  def writeIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("centroid_id").parquet(path)

  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** IVF search: probe the nProbe nearest centroid buckets per query, then
    * exact cosine within those buckets only. */
  def ivfTopK(queries: DataFrame, index: DataFrame, corpus: DataFrame,
              centroidStride: Int, nProbe: Int, k: Int): DataFrame =
    ivfTopKWith(queries, index, strideCentroids(corpus, centroidStride),
      nProbe, k)

  /** IVF search against an explicit centroid frame (pair with
    * [[ivfIndex]] over the same centroids). */
  def ivfTopKWith(queries: DataFrame, index: DataFrame,
                  centroids: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cos_c",
        GraftFunctions.cosineSimilarity(col("q_vec"), col("centroid")))
    // Window here is safe at scale: the partition holds |centroids| rows per
    // query (a design-bounded constant, not the corpus).
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_c").desc, col("centroid_id").asc)
    val probeSet = probes.withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("centroid_id"))

    val scored = probeSet.join(index, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(GraftFunctions.cosineSimilarity(col("q_vec"), col("embedding")), 4)
          .as("cos"))
    rankTopK(scored, k)
  }
}
