package graft

/** Plan-quality regression guards: the properties that make these plans
  * survive a 100 TB scale-up, pinned as assertions so a refactor can't
  * silently lose them.
  */
class PlanHygieneSpec extends SparkSpecBase {

  private val d = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("filters reach the parquet scan (PushedFilters)") {
    for (q <- Seq("q1_agg", "q3_topk", "accept_filter", "json_extract")) {
      val p = plan(q)
      assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
        s"$q lost its parquet filter pushdown")
    }
  }

  test("scans are column-pruned (ReadSchema smaller than the table)") {
    val p = plan("q1_agg")
    // q1 touches 7 of lineitem's 11 columns; the scan must not read more
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"),
      s"q1_agg reads columns it doesn't use: $readSchema")
  }

  test("dimension joins broadcast (no shuffle of the small side)") {
    val p = plan("q3_topk")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("no accidental cartesian products anywhere") {
    SparkEntry.queries.keys.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"),
        s"$q plans a CartesianProduct")
    }
  }

  test("pipeline_full's prep chain stays plan-visible through the cache") {
    // the flagship materializes its (id, n_tok) frame with persist, NOT
    // localCheckpoint: a checkpoint would truncate lineage to a bare
    // 'Scan ExistingRDD' and silently exempt the whole
    // quality->decontaminate->dedup chain from the two whole-inventory
    // guards below. The chain shows as decontamination's key-set probe
    // and dedup's anti-join.
    val p = plan("pipeline_full")
    assert(p.contains("keyhits") && p.contains("LeftAnti"),
      s"pipeline_full's upstream stages vanished from the plan:\n$p")
  }

  test("similarity_ivf_trained's invariant check plans no Expand") {
    // two DISTINCT aggregates plan an Expand whose distinct groups Spark
    // lists in either order from run to run; the check's set sizes keep
    // one plan shape
    val p = SparkEntry.queries("similarity_ivf_trained")(spark, d)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("Expand"), p)
  }

  test("the merge's emission index stays in Tungsten (no RDD hop)") {
    // mergedN once computed emit_seq via rdd.zipWithIndex: every row
    // round-tripped UnsafeRow->Row->GenericRow and the flagship merge
    // exited whole-stage codegen. The scan-tree form must keep the whole
    // plan columnar: no ExistingRDD scan, no object (de)serialization.
    for (q <- Seq("merge_streams", "merge_streams_n")) {
      val p = plan(q)
      for (bad <- Seq("Scan ExistingRDD", "DeserializeToObject",
        "SerializeFromObject"))
        assert(!p.contains(bad), s"$q fell out of Tungsten ($bad):\n$p")
    }
  }

  test("whole inventory stays in Tungsten except declared typed-op queries") {
    // Object (de)serialization boundaries break whole-stage codegen and
    // cost a per-row Row round-trip — only queries whose SEMANTICS need
    // typed ops (mapPartitions decode loops, Dataset.map process tasks,
    // the bounded-state TopK Aggregator) may carry one. Everything else
    // must plan pure columnar. Adding a query to this list requires the
    // typed op to be the point of the operator, not an implementation
    // convenience.
    val typedOps = Set(
      "media_features",                    // mapPartitions batched decode
      "process_map",                       // T2 process(): typed map task
      "multimodal_meta", "frame_sample", "resize_plan", // binary plumbing
      "similarity_topk", "similarity_ivf", "similarity_ivf_trained",
      "similarity_int8_rerank", "hybrid_search", "hybrid_search_bm25",
      "embedding_centroid", "embedding_cluster", "embedding_cluster_inv",
      "embedding_cluster_lsh", "dedup_embedding", "dedup_embedding_lsh",
      "similarity_int8",                   // TopK Aggregator / ANN kernels
      // *_inv verification queries deliberately localCheckpoint their
      // (tiny) pairs frame so the multiply-referenced invariant branches
      // don't re-run the quadratic pair generation
      "dedup_minhash_inv", "dedup_ngram_inv", "dedup_cluster_inv",
      // connectedComponents checkpoints labels every round BY DESIGN: the
      // jump step's self-join would double the plan every round without
      // the truncation (see Dedup.scala scaladoc)
      "dedup_cluster",
      // heavyHitters: the Misra-Gries per-partition stream fold IS the
      // operator (typed mapPartitions), and the returned frame is the
      // validated ≤ topN-row driver constant — the vocabulary-scale work
      // (candidate pass + exact recount) ran in Tungsten during
      // construction; the ExistingRDD scan carries 20 rows
      "heavy_hitters"
    )
    SparkEntry.queries.keys.filterNot(typedOps).foreach { q =>
      val p = plan(q)
      for (bad <- Seq("DeserializeToObject", "Scan ExistingRDD"))
        assert(!p.contains(bad), s"$q fell out of Tungsten ($bad):\n$p")
    }
  }

  test("no single-partition global windows anywhere (scale bottleneck)") {
    SparkEntry.queries.keys.foreach { q =>
      val p = plan(q)
      val globalWindow = p.linesIterator.exists(l =>
        l.contains("Window") && l.contains("SinglePartition"))
      assert(!globalWindow, s"$q uses a single-partition window")
    }
  }
}
