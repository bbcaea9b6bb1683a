package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class SkewSpec extends SparkSpecBase {
  import spark.implicits._

  test("saltedJoin matches plain join results on a skewed key") {
    // 90% of big rows share one hot key
    val big = (0 until 2000).map(i =>
      (if (i % 10 == 0) s"k$i" else "HOT", i.toLong)).toDF("key", "v")
    val small = Seq(("HOT", "hot-dim"), ("k10", "d10"), ("k20", "d20"))
      .toDF("key", "name")
    val plain = big.join(small, Seq("key")).select("key", "v", "name")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(big, small, "key", saltBuckets = 8)
      .select("key", "v", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 1800 + 2)   // HOT rows + k10 + k20
  }

  test("saltedJoin ≡ plain inner join as a MULTISET on adversarial shapes") {
    // seeded generic property (the operator is now load-bearing beyond
    // dedup): null keys on both sides (inner join drops them), duplicate
    // keys on both sides (result multiplicity = product of per-key
    // counts), duplicate big-side ROWS, and several bucket counts
    // including the degenerate n=1
    val rnd = new scala.util.Random(42)
    val ks = Seq(null, "", "HOT", "HOT", "HOT", "a", "b", "zq")
    val big = (0 until 600).map { i =>
      (ks(rnd.nextInt(ks.size)), (i % 40).toLong, i.toLong)
    }.toDF("key", "v", "rid")
    val small = Seq(("HOT", 1L), ("HOT", 2L), ("a", 3L),
      (null.asInstanceOf[String], 9L), ("zz-unmatched", 4L))
      .toDF("key", "w")
    val plain = big.join(small, Seq("key")).select("key", "v", "w")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(plain.nonEmpty)
    for (n <- Seq(1, 3, 16)) {
      val salted = Skew.saltedJoin(big, small, "key", n)
        .select("key", "v", "w")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(salted == plain, s"multiset mismatch at saltBuckets=$n")
      val viaRowKey = Skew.saltedJoin(big, small, "key", n,
        rowKey = Some(col("rid"))).select("key", "v", "w")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(viaRowKey == plain, s"rowKey multiset mismatch at n=$n")
    }
    // empty small side: empty result, no error
    assert(Skew.saltedJoin(big, small.filter(lit(false)), "key", 8).isEmpty)
  }

  test("rowKey spreads duplicate hot-key rows; the whole-row default can't") {
    // the documented caveat, pinned as behavior: fully-identical big-side
    // rows share one whole-row hash, so the hot key lands in ONE salt
    // bucket; a per-row-distinct rowKey restores the spread
    val dup = Seq.fill(1600)(("HOT", "payload")).toDF("key", "p")
    val collapsed = dup
      .select(Skew.saltOf(dup, None, 16).as("s")).distinct().count()
    assert(collapsed == 1, "identical rows must collapse to one salt " +
      "(if this starts failing, the scaladoc caveat is stale)")
    val withId = dup.withColumn("rid",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy(lit(1))).cast("long"))
    val spread = withId
      .select(Skew.saltOf(withId, Some(col("rid")), 16).as("s"))
      .distinct().count()
    assert(spread == 16, s"rowKey salt must reach all 16 buckets, got $spread")
  }
}

class SimilarityScaleSpec extends SparkSpecBase {
  import spark.implicits._

  private val corpus = (0 until 200).map { i =>
    val ang = i * math.Pi / 100
    (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
  }.toDF("vec_id", "embedding")

  test("bruteForceTopK shuffles bounded partial top-k, not a per-query window") {
    val r = Similarity.bruteForceTopK(
      corpus.filter(col("vec_id") < 4), corpus, k = 5)
    val plan = r.queryExecution.executedPlan.toString
    // no full-candidate shuffle into a single per-query partition
    assert(!plan.contains("Window"), s"window-rank top-k is back:\n$plan")
    // the TopK Aggregator must partially aggregate map-side
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial"),
      s"expected partial ObjectHashAggregate top-k:\n$plan")
    assert(r.count() == 4 * 5)
  }

  test("autoStride follows the √N law: nlist ≈ 2·√N, never ∝ N") {
    // a pinned stride makes assignment N²/stride — the sf10 finding; the
    // auto rule must keep stride growing like √N so nlist/√N stays ~2
    for ((n, want) <- Seq(20 -> 2, 200 -> 7, 2000 -> 22, 20000 -> 70)) {
      val df = spark.range(n).toDF("vec_id")
      assert(Similarity.autoStride(df) == want,
        s"autoStride($n) must be floor(sqrt(n)/2)")
      val nlist = (n + want - 1) / want
      assert(nlist <= 3 * math.sqrt(n) && nlist >= math.sqrt(n),
        s"nlist $nlist at n=$n left the √N band")
    }
    // degenerate corpora still get a positive stride
    assert(Similarity.autoStride(spark.range(1).toDF("vec_id")) == 1)
  }

  test("ivfIndex assignment is MAP-ONLY: no join, aggregate, or exchange") {
    // the sf1 sweep caught the old crossJoin+max_by form spilling 4.2 GB
    // per assignment (var-length agg buffer -> sort-based aggregation over
    // |corpus| x |centroids| expanded vector rows); the fix is a codegen
    // argmax expression over the scan — pin that shape
    val plan = Similarity.ivfIndex(corpus,
        Similarity.strideCentroids(corpus, 20), route = Routing.Small)
      .queryExecution.executedPlan.toString
    for (bad <- Seq("Window", "Join", "Aggregate", "Exchange"))
      assert(!plan.contains(bad), s"assignment is no longer map-only " +
        s"($bad appeared):\n$plan")
  }

  test("map-only assignment ≡ the crossJoin+max_by reference, ties to " +
    "lowest centroid_id") {
    import graft.functions.GraftFunctions
    // duplicate centroid vectors force bit-exact cosine ties; a zero-norm
    // corpus vector ties ALL centroids at cos 0.0
    val cents = Seq(
      (3L, Array(1f, 0f)), (7L, Array(1f, 0f)), // identical pair
      (11L, Array(0f, 1f))).toDF("centroid_id", "centroid")
    val tieCorpus = corpus.union(Seq(
      (900L, Array(0f, 0f)), (901L, Array(1f, 0f))).toDF("vec_id", "embedding"))
    val got = Similarity.ivfIndex(tieCorpus, cents, route = Routing.Small)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    val ref = tieCorpus.crossJoin(broadcast(cents))
      .withColumn("cos_c", GraftFunctions.cosineSimilarity(
        col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"),
        struct(col("cos_c"), (-col("centroid_id")).as("tie"))).as("centroid_id"))
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(got == ref)
    assert(got(901L) == 3L, "tie must resolve to the lowest centroid_id")
    assert(got(900L) == 3L, "zero-norm vector ties everything -> lowest id")
  }

  test("TopK-ranked results equal the window-rank reference") {
    import org.apache.spark.sql.expressions.Window
    val got = Similarity.bruteForceTopK(
        corpus.filter(col("vec_id") < 4), corpus, k = 5)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val q = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val scored = corpus.crossJoin(q)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(graft.functions.GraftFunctions.cosineSimilarity(
          col("q_vec"), col("embedding")), 4).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("cand_id").asc)
    val ref = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5).select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == ref)
  }
}

class KMeansIvfSpec extends SparkSpecBase {
  import spark.implicits._

  // three well-separated direction clusters with deterministic jitter
  private val clustered = (0 until 90).map { i =>
    val c = i % 3
    val base = c match {
      case 0 => (1.0, 0.05, 0.0)
      case 1 => (0.0, 1.0, 0.05)
      case _ => (0.05, 0.0, 1.0)
    }
    val j = 0.02 * ((i * 7) % 5)
    (i.toLong, Array((base._1 + j).toFloat, (base._2 + j).toFloat,
      (base._3).toFloat))
  }.toDF("vec_id", "embedding")

  private def objective(centroids: org.apache.spark.sql.DataFrame): Double = {
    val idx = Similarity.ivfIndex(clustered, centroids)
    idx.join(centroids, Seq("centroid_id"))
      .select(avg(graft.functions.GraftFunctions.cosineSimilarity(
        col("embedding"), col("centroid"))).as("m"))
      .as[Double].head()
  }

  test("Lloyd iterations improve the spherical k-means objective") {
    val init = Similarity.strideCentroids(clustered, 29) // ids 0,29,58 — one per cluster
    val trained = Similarity.trainCentroids(clustered, 29, iters = 3)
    val before = objective(init)
    val after = objective(trained)
    assert(after >= before - 1e-9,
      s"objective regressed: $before -> $after")
    assert(after > 0.98, s"clusters should be tight, got $after")
  }

  test("trained IVF search still returns k ranked neighbors") {
    val centroids = Similarity.trainCentroids(clustered, 29, iters = 2)
    val idx = Similarity.ivfIndex(clustered, centroids)
    val r = Similarity.ivfTopKWith(
        clustered.filter(col("vec_id") === 0L), idx, centroids,
        nProbe = 2, k = 3)
      .select("cand_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(r.length == 3)
    // neighbors of a cluster-0 vector come from cluster 0 (ids ≡ 0 mod 3)
    assert(r.forall(_._1 % 3 == 0), s"got ${r.toSeq}")
  }
}

class DedupScaleSpec extends SparkSpecBase {
  import spark.implicits._

  test("exactDuplicates keeps bounded aggregation state (no collect_list)") {
    // a pathological hot digest (millions of identical docs at 100 TB) must
    // never build a member ARRAY in one agg buffer: the reduction is
    // min/count only, members come back via the digest join
    val docs = (0 until 100).map(i => (i.toLong, s"t${i % 7}"))
      .toDF("doc_id", "text")
    val r = Dedup.exactDuplicates(docs, col("doc_id"), col("text"))
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("CollectList"),
      s"unbounded member collection is back:\n$plan")
    // same contract as before the refactor: every non-canonical member maps
    // to the min id of its group, group_size counts the whole group
    val rows = r.as[(Long, Long, Long)].collect()
    assert(rows.length == 100 - 7)           // 7 canonical docs survive
    assert(rows.forall { case (d, c, n) => c == d % 7 && n >= 14 })
  }

  test("pipeline_e2e inherits the bounded-state dedup (no collect_list)") {
    val plan = graft.SparkEntry.queries("pipeline_e2e")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("CollectList"),
      s"pipeline_e2e re-grew unbounded agg state:\n$plan")
  }

  test("exactDuplicates' salted join-back spreads a 90%-hot digest") {
    // Round-6 adversarial probe. Finding first: AQE's skew-join split
    // CANNOT cover this join — OptimizeSkewedJoin only matches a join
    // whose children are bare sorted exchanges, and the groups side is
    // Filter(HashAggregate(exchange)), so with the plain join the hot
    // digest's whole reduce partition streams through one task however
    // the skew confs are tuned (observed live before the salting fix).
    // The operator therefore salts by default; this probe pins that no
    // task absorbs the hot key's shuffle. Broadcast is disabled because
    // at real scale the duplicate-groups frame isn't broadcastable.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // test data is a few hundred KB: stop AQE's coalescing (1 MB min
      // partition size) from merging every reduce partition into one
      // task, which would mask the salt spread being measured
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "4096")
    val saved = confs.map { case (k, _) =>
      k -> util.Try(spark.conf.get(k)).toOption.filter(_ != null) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val reads = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          reads.put(t.taskInfo.taskId, m.shuffleReadMetrics.totalBytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pad = "x" * 200
      val docs = spark.range(40000L).selectExpr("id AS doc_id",
        s"CASE WHEN id % 10 > 0 THEN 'hot $pad' " +
          s"ELSE concat('u', id, '$pad') END AS text")
      val r = Dedup.exactDuplicates(docs, col("doc_id"), col("text"))
      assert(r.collect().length == 36000 - 1)
      Thread.sleep(300) // drain listener events
      // every hot row still maps to the group minimum across salt buckets
      val plan = r.queryExecution.executedPlan.toString
      assert(plan.contains("_salt"), s"salted join-back vanished:\n$plan")
      val total = reads.values.sum.toDouble
      val max = reads.values.max.toDouble
      // unsalted, the hot digest's join task reads >50% of all shuffle
      // bytes (one (digest) reduce partition = 90% of the corpus); salted
      // 16 ways over 4 reducers it must spread to ~25% + salt variance
      assert(max < 0.4 * total,
        s"one task still absorbs the hot key: max=$max of total=$total")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("quadratic pair ops fail fast on a hot block; LSH absorbs the corpus") {
    // one 3000-row block ≈ 4.5M pairs: with the guard at 100k the call
    // must die at CALL time (before any O(block²) join runs), naming the
    // keyless LSH alternative — and that alternative must actually absorb
    // the same corpus
    val docs = (0 until 3000).map(i =>
      (i.toLong, s"alpha bravo w$i x${i % 13} y${i % 7}", "ONEBLOCK"))
      .toDF("doc_id", "text", "src")
    val e = intercept[graft.GraftException] {
      Dedup.tokenJaccardPairs(docs, col("doc_id"), col("text"),
        Seq(col("src")), threshold = 0.8, maxPairsPerBlock = 100000L)
    }
    assert(e.getMessage.contains("minhashLsh"),
      "guard must point at the keyless path")
    // same corpus through the LSH path: runs to completion, no guard
    assert(Dedup.minhashLsh(docs, col("doc_id"), col("text"),
      threshold = 0.95).count() >= 0)
    // raising the bound explicitly restores the blocked op
    assert(Dedup.tokenJaccardPairs(docs, col("doc_id"), col("text"),
      Seq(col("src")), threshold = 0.99,
      maxPairsPerBlock = 10000000L).count() >= 0)

    val vecs = (0 until 2000).map(i =>
      (i.toLong, Array(math.cos(i * 0.01).toFloat,
        math.sin(i * 0.01).toFloat), 0)).toDF("vec_id", "embedding", "label")
    val ev = intercept[graft.GraftException] {
      Dedup.embeddingNearDup(vecs, col("vec_id"), col("embedding"),
        col("label"), threshold = 0.99, maxPairsPerBlock = 50000L)
    }
    assert(ev.getMessage.contains("embeddingLshPairs"))
    assert(Dedup.embeddingLshPairs(vecs, col("vec_id"), col("embedding"),
      threshold = 0.99).count() >= 0)

    // boundary exactness: a block of n rows estimates n(n-1)/2 pairs —
    // the guard admits exactly that bound and trips one below it
    val n = 100L
    val exact = n * (n - 1) / 2
    val block = (0 until n.toInt).map(i => (i.toLong, s"t$i", "B"))
      .toDF("doc_id", "text", "src")
    assert(Dedup.tokenJaccardPairs(block, col("doc_id"), col("text"),
      Seq(col("src")), threshold = 0.99,
      maxPairsPerBlock = exact).count() >= 0)
    intercept[graft.GraftException] {
      Dedup.tokenJaccardPairs(block, col("doc_id"), col("text"),
        Seq(col("src")), threshold = 0.99, maxPairsPerBlock = exact - 1)
    }
  }

  test("bucketPairs degrades gracefully on an adversarial hot bucket") {
    // one bucket stuffed with 10× the cap: the capping window must bound
    // both the pair blowup (≤ cap·(cap−1)/2) and which ids survive (the
    // cap smallest — deterministic under retries and arrival order)
    val cap = 20
    val banded = (0 until 10 * cap).reverse.map(i => (0, 0L, i.toLong))
      .toDF("band", "bucket", "doc_id")
    def capped = Dedup.bucketPairs(banded, "doc_id", cap,
      Dedup.windowCapMembers)
    val pairs = capped.as[(Long, Long)].collect()
    assert(pairs.length == cap * (cap - 1) / 2,
      s"expected capped pair count, got ${pairs.length}")
    assert(pairs.forall { case (a, b) => a < cap && b < cap && a < b },
      "cap must keep the smallest ids and emit ordered pairs")
    // cap-form pin (r9, measured): MinHash buckets live in a 2^64 space —
    // occupancy ≪ 1, group count ≈ row count — and there the row_number
    // WINDOW is the fast form (Tungsten radix sort + sorted-run groupBy);
    // the bounded collectSmallest aggregate allocates per-group PQ state
    // for millions of one-row groups and object-sorts past 128 keys/task
    // (×7 on dedup_minhash at sf100). The OCCUPIED-bucket regime — the
    // hyperplane-LSH site, pinned below — takes the sorted-run walk.
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("Window"),
      s"hashed-band capping must ride the window sort:\n$plan")
    assert(!plan.contains("partial_collect_top_k"),
      s"tiny-group capping regressed to the object aggregate:\n$plan")
    // and both hashed-band operators pick that cap form
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    for (op <- Seq(Dedup.minhashLsh(docs, col("doc_id"), col("text")),
        Dedup.simhashPairs(docs, col("doc_id"), col("text"))))
      assert(op.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("embedding-LSH capping rides the sorted-run walk (occupied buckets)") {
    // the hyperplane site's band space is corpus-sized (autoBandBits), so
    // buckets are genuinely occupied. r8 measured the in-bucket window
    // sort spilling ~137 GB memory-equivalent; r9 landed the bounded
    // smallest-cap aggregate (178.8 s vs the window's 231.2 s solo); r10
    // measured the sorted-run mapPartitions walk beating the aggregate
    // 64.1 s vs 96.8 s at identical shuffle (the ObjectHashAggregate
    // 128-key fallback's object-serialized buffers were the remaining
    // cost) — the plan must carry the repartition + in-task Sort +
    // MapPartitions shape, with NEITHER a window nor the object aggregate
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => (i * 31 + j).toFloat % 7 - 3)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val plan = Dedup.embeddingLshPairs(vecs, col("vec_id"), col("embedding"),
        threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions") &&
      plan.contains("REPARTITION_BY_COL"),
      s"occupied-bucket capping must be the sorted-run walk:\n$plan")
    assert(!plan.contains("partial_collect_top_k") &&
      !plan.contains("Window"),
      s"neither the object aggregate nor a window may reappear:\n$plan")
  }
}

class GroupSampleScaleSpec extends SparkSpecBase {
  import spark.implicits._

  // 90% of rows in one hot stratum — the shape that kills a single-phase
  // per-stratum window at scale
  private val skewed = (0 until 2000).map(i =>
    (i.toLong, if (i % 10 == 0) s"s${i % 40}" else "HOT"))
    .toDF("doc_id", "lang")

  test("two-phase groupSample equals the single-phase reference") {
    import org.apache.spark.sql.expressions.Window
    val got = Corpus.groupSample(skewed, col("doc_id"), col("lang"), k = 7,
        salt = "x").as[(Long, String)].collect().toSet
    val w = Window.partitionBy(col("lang"))
      .orderBy(Corpus.hashUniform(col("doc_id"), "x").asc, col("doc_id").asc)
    val ref = skewed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7).drop("rn")
      .as[(Long, String)].collect().toSet
    assert(got == ref, s"two-phase sample diverged: ${got.size} vs ${ref.size}")
  }

  test("groupSample pre-ranks within salted sub-strata (skew-safe plan)") {
    val plan = Corpus.groupSample(skewed, col("doc_id"), col("lang"), k = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__gs_salt"),
      s"salted pre-rank phase missing from plan:\n$plan")
    val windows = plan.linesIterator.count(l => l.trim.startsWith("Window") ||
      l.contains("[row_number()"))
    assert(windows >= 2, s"expected two ranking phases:\n$plan")
  }
}

class NewOperatorPlanSpec extends SparkSpecBase {
  import spark.implicits._

  test("embedding_centroid aggregates partially before its exchange") {
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array.fill(8)((i % 7).toFloat), i % 3)).toDF(
      "vec_id", "embedding", "label")
    val plan = vecs
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v")), 5).as("c"))
      .queryExecution.executedPlan.toString
    // two-phase agg: the map-side combine bounds the shuffle to
    // labels x dims rows regardless of corpus size
    assert(plan.contains("partial"), s"no map-side partial agg:\n$plan")
  }

  test("tfidfTopTerms broadcasts the corpus-size scalar") {
    val corpus = (0 until 50).map(i =>
      (i.toLong, s"w$i common t${i % 5}")).toDF("doc_id", "text")
    val plan = Corpus.tfidfTopTerms(corpus, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"),
      s"corpus-size scalar should broadcast, not shuffle:\n$plan")
    // the top-k window partitions by doc_id (no single-partition window),
    // and the row_number limit pushes down as a PARTIAL WindowGroupLimit
    // below the exchange, so each map task ships at most k rows per doc
    val globalWindow = plan.linesIterator.exists(l =>
      l.contains("Window") && l.contains("SinglePartition"))
    assert(!globalWindow, s"global window in tfidf:\n$plan")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"top-k not pushed below the exchange:\n$plan")
  }
}

class BucketedJoinSpec extends SparkSpecBase {
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS fact_b")
    spark.sql("DROP TABLE IF EXISTS dim_b")
    (0 until 10000).map(i => (i.toLong % 500, s"v$i")).toDF("k", "v")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("fact_b")
    (0 until 500).map(i => (i.toLong, s"name$i")).toDF("k", "name")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable("dim_b")

    // disable broadcast so the join must pick a shuffle strategy — bucketing
    // should satisfy the distribution requirement with zero Exchange nodes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("fact_b").join(spark.table("dim_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      assert(joined.count() == 10000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS fact_b")
      spark.sql("DROP TABLE IF EXISTS dim_b")
    }
  }
}
