package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different text about spark engines running fast"),
    (5L, "unrelated words describing nothing in particular today")
  ).toDF("doc_id", "text")

  test("exactDuplicates finds the exact group, keeps min id as canonical") {
    val r = Dedup.exactDuplicates(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((2L, 1L, 2L)))
  }

  test("minhashLsh finds planted near-dups and nothing else") {
    val r = Dedup.minhashLsh(docs, col("doc_id"), col("text"),
        shingleSize = 2, numHashes = 64, bands = 32, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r.contains((1L, 2L)))   // identical → jaccard 1.0
    assert(r.contains((1L, 3L)) && r.contains((2L, 3L))) // near dup
    assert(!r.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashPairs: identical docs at hamming 0") {
    val r = Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(r.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 0))
    // the same over the fused 64-bit kernel signature (16-bit bands), the
    // dedup_simhash_kernel shape
    val sig = docs.select(col("doc_id"), graft.functions.GraftFunctions
      .simhash(graft.functions.TextFunctions.tokens(col("text"))).as("sim"))
    val k = Dedup.simhashPairsFromSig(sig, sigBits = 64, bands = 4,
        maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(k.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 0))
  }

  test("simhashPairs rejects maxHamming beyond the band-blocking guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 4)
        .collect()
    }
  }

  test("simhashPairs candidate generation is a grouped expansion, not a self-join") {
    val plan = Dedup.simhashPairs(docs, col("doc_id"), col("text"))
      .queryExecution.optimizedPlan.toString
    // the signature subtree must be evaluated once: no join appears before
    // verification (the only joins allowed are none at all in this plan)
    assert(!plan.toLowerCase.contains("join"),
      s"expected join-free grouped pair expansion:\n$plan")
  }

  test("bucketCap bounds hot-bucket pair expansion deterministically") {
    // 50 identical docs land in the same buckets in every band
    val hot = (1L to 50L).map(i => (i, "same text in every single doc"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(hot, col("doc_id"), col("text"),
        maxHamming = 0, bucketCap = 10)
      .as[(Long, Long, Int)].collect()
    // cap=10 smallest ids survive per bucket -> exactly C(10,2) pairs among
    // ids 1..10, regardless of partitioning/merge order
    assert(capped.length == 45)
    assert(capped.forall(t => t._1 <= 10 && t._2 <= 10))
    val full = Dedup.simhashPairs(hot, col("doc_id"), col("text"),
      maxHamming = 0).count()
    assert(full == 50L * 49 / 2)
  }

  test("bucketCap = 1 is rejected by every LSH join, not silently pairless") {
    val vecs = Seq((1L, Array(1f, 0f)), (2L, Array(2f, 0f)))
      .toDF("vec_id", "embedding")
    for (call <- Seq[() => Any](
        () => Dedup.minhashLsh(docs, col("doc_id"), col("text"),
          bucketCap = 1),
        () => Dedup.simhashPairs(docs, col("doc_id"), col("text"),
          bucketCap = 1),
        () => Dedup.embeddingLshPairs(vecs, col("vec_id"), col("embedding"),
          threshold = 0.9, bitsPerBand = 8, bucketCap = 1)))
      intercept[IllegalArgumentException](call())
  }

  test("tokenJaccardPairs respects blocking") {
    val blocked = docs.withColumn("grp", when(col("doc_id") <= 2, "a").otherwise("b"))
    val r = Dedup.tokenJaccardPairs(blocked, col("doc_id"), col("text"),
        block = Seq(col("grp")), threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r == Set((1L, 2L)))     // 1-3 pair is cross-block → excluded
  }

  test("embeddingNearDup finds same-direction vectors within block") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f), 0), (2L, Array(2f, 0f, 0f), 0),
      (3L, Array(0f, 1f, 0f), 0), (4L, Array(1f, 0f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Dedup.embeddingNearDup(vecs, col("vec_id"), col("embedding"),
        col("label"), threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r == Set((1L, 2L)))     // 1-4 same direction but cross-label
  }
}

class ResampleSpec extends SparkSpecBase {
  import spark.implicits._
  import java.sql.Timestamp

  test("locf fills day gaps with the last in-bucket winner") {
    val day = 86400000L
    val t0 = 1700006400000L // day-aligned-ish; truncation handles the rest
    val ev = Seq(
      (1L, new Timestamp(t0), 10.0, 100L),
      (1L, new Timestamp(t0 + 3600000L), 11.0, 101L), // same day, later ts wins
      (1L, new Timestamp(t0 + 2 * day), 30.0, 102L),  // day 3: gap on day 2
      (2L, new Timestamp(t0), 7.0, 103L))
      .toDF("user_id", "ts", "value", "event_id")
    val r = Resample.locf(ev, col("user_id"), col("ts"), col("value"),
        col("event_id"), "DAY", "interval 1 day")
      .orderBy("k", "bucket")
      .select("k", "filled_v", "observed")
      .as[(Long, Double, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, 11.0, true),   // day 1: later event (11.0) wins the bucket
      (1L, 11.0, false),  // day 2: forward-filled
      (1L, 30.0, true),   // day 3: observed
      (2L, 7.0, true)))   // single-day user: one-row grid
  }
}

class ComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Closes `edges` on every route — driver union-find, executor loop,
    * auto — asserts that all three return one schema and the same labels,
    * and returns those labels. */
  private def closeOnEveryRoute(edges: DataFrame): Map[Long, Long] = {
    val outs = Seq(Routing.Small, Routing.Large, Routing.Auto).map(r =>
      r -> Dedup.connectedComponents(edges, "id_a", "id_b", route = r))
    val schemas = outs.map(_._2.schema).distinct
    assert(schemas.size == 1, s"the routes return different schemas: $schemas")
    val labels = outs.map { case (r, df) =>
      r -> df.as[(Long, Long)].collect().toSeq.sorted }
    for ((r, l) <- labels.tail)
      assert(l == labels.head._2, s"route $r disagrees with the driver route")
    labels.head._2.toMap
  }

  private def path200 = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")

  test("connectedComponents closes transitive chains to min-id labels") {
    // components: {1,2,3} (chain), {10,11} (pair), {20,21,22,23} (star)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (20L, 22L), (20L, 23L)).toDF("id_a", "id_b")
    assert(closeOnEveryRoute(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("reliable-checkpoint closure matches localCheckpoint exactly") {
    // the 100 TB path: per-round labels written to a reliable dir with
    // .checkpoint() so truncated lineage survives executor loss
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L),
        (20L, 21L), (20L, 22L), (20L, 23L)).toDF("id_a", "id_b")
      val local = Dedup.connectedComponents(edges, "id_a", "id_b",
          route = Routing.Large)
        .as[(Long, Long)].collect().toMap
      val reliable = Dedup.connectedComponents(edges, "id_a", "id_b",
          checkpointDir = Some(dir.toString), route = Routing.Large)
        .as[(Long, Long)].collect().toMap
      assert(reliable == local)
      // the rounds actually wrote through the reliable dir
      assert(java.nio.file.Files.list(dir).count() > 0,
        "reliable checkpoint dir stayed empty — rounds never wrote there")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("pointer jumping converges on a long path in O(log n) rounds") {
    // a 200-node path is the worst case for plain propagation (diameter
    // 199); with the jump step it must converge well within 25 rounds
    val before = Dedup.ccObserveFallbacks.get()
    val r = Dedup.connectedComponents(path200, "id_a", "id_b", maxIter = 12,
        route = Routing.Large)
      .as[(Long, Long)].collect()
    assert(r.length == 200 && r.forall(_._2 == 0L))
    // the convergence sums must come from the observe() metrics riding
    // the checkpoint action — the fallback aggregation job existing at
    // all would silently undo the one-job-per-round optimization
    assert(Dedup.ccObserveFallbacks.get() == before,
      "labelSum fell back to its own job — observe() fold is not firing")
    assert(closeOnEveryRoute(path200) == r.toMap)
  }

  test("the driver route closes the 200-node path in a fixed number of jobs") {
    val (auto, autoJobs) = countingJobs(Dedup.connectedComponents(
      path200, "id_a", "id_b").as[(Long, Long)].collect())
    val (loop, loopJobs) = countingJobs(Dedup.connectedComponents(
      path200, "id_a", "id_b", route = Routing.Large)
      .as[(Long, Long)].collect())
    assert(auto.sorted.toSeq == loop.sorted.toSeq)
    // the local edge frame's bound (199 rows) settles the driver route,
    // so its edges are collected on the driver with no fetch and no job;
    // the caller's collect reads a local frame and runs none
    assert(autoJobs == 0, s"the driver route ran $autoJobs jobs")
    // the loop needs >= 5 rounds on diameter 199, each at least one job
    assert(loopJobs >= autoJobs + 5,
      s"the loop ran $loopJobs jobs, the driver route $autoJobs")
  }

  test("convergence never compares an observed sum with a fallback sum") {
    // reliable checkpoints run the observed plan twice (observed = 2× the
    // true label sum); the fallback aggregation is 1×. True sums below:
    // 100, 50, 40, 40 — the fixpoint is reached at round 4.
    def bd(v: Long) = java.math.BigDecimal.valueOf(v)
    def run(rounds: Seq[(Option[Long], Long)]): Seq[Boolean] =
      rounds.scanLeft((false, Dedup.LabelSums())) {
        case ((_, st), (obs, trueSum)) => st.next(obs.map(bd), bd(trueSum))
      }.tail.map(_._1)
    // round 1 falls back (1× = 100), round 2 observes 2×50 = 100: a
    // per-round rule would see 100 == 100 and stop on unconverged labels
    assert(run(Seq(None -> 100L, Some(100L) -> 50L, Some(80L) -> 40L,
      Some(80L) -> 40L)) == Seq(false, false, false, true))
    // the observation flickers after one fallback: a per-round rule
    // compares 2× with 1× every round and never converges
    assert(run(Seq(Some(200L) -> 100L, None -> 50L, Some(80L) -> 40L,
      None -> 40L, Some(80L) -> 40L)) == Seq(false, false, false, true, true))
    // all observed: the normal path never runs the aggregation
    val st = Dedup.LabelSums().next(Some(bd(7)), sys.error("no job"))._2
    assert(st.next(Some(bd(7)), sys.error("no job"))._1)
  }

  test("maxIter guard throws instead of returning partial labels") {
    intercept[graft.GraftException] {
      Dedup.connectedComponents(path200, "id_a", "id_b", maxIter = 2,
        route = Routing.Large)
    }
  }

  test("random graphs match a driver-side union-find (seeded property)") {
    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(40)
      val edges = Seq.fill(n)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2)
      // reference: classic union-find with path compression
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min-id per component, as the operator defines the label
      val byRoot = nodes.groupBy(find).flatMap { case (_, ms) =>
        val m = ms.min; ms.map(_ -> m)
      }
      val got = closeOnEveryRoute(edges.toDF("id_a", "id_b"))
      assert(got == byRoot, s"trial $trial (n=$n) mismatch")
    }
  }

  test("the many-nodes pre-partition route: same labels, edges shuffle " +
    "once per closure instead of once per round (r13, guide §2.4)") {
    // The executor loop always pre-partitions its edge frame; the forced
    // route runs it on a graph the driver route would take. Broadcast
    // is disabled so the per-round join actually plans a shuffle join —
    // at real scale the label frame outgrows broadcast, which is the
    // regime the loop exists for; a chain graph forces many rounds.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val edges = (0L until 2000L).filter(_ % 50 != 49)
      .map(i => (i, i + 1)).toDF("id_a", "id_b")
    val expected = (0L until 2000L).map(i => i -> (i - i % 50)).toMap
    val roundPlans =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val capture = new QueryExecutionListener {
      override def onSuccess(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (name.toLowerCase.contains("checkpoint"))
          roundPlans.add(qe.executedPlan): Unit
      override def onFailure(name: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def withConfs[A](kvs: (String, String)*)(body: => A): A = {
      val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    // the edge-side cached scan (u, v): the route's claim is that the
    // neighbor-min join consumes it WITHOUT a shuffle exchange between
    // them — the persisted hash partitioning on v feeds the join
    // directly. The probe looks at the innermost join (the one whose
    // edge-side child contains no further join — i.e. the neighbor-min
    // join, not the pointer jump above it, whose children both embed the
    // whole stepped subtree) and counts exchanges on one of its sides.
    def hasEdgeScan(p: SparkPlan): Boolean = p.collect {
      case i: InMemoryTableScanExec
        if i.output.map(_.name).toSet == Set("u", "v") => i }.nonEmpty
    def sideExchanges(p: SparkPlan, edgeSide: Boolean): Int =
      p.collect { case j: BaseJoinExec
          if j.children.exists(c => hasEdgeScan(c) &&
            c.collect { case jj: BaseJoinExec => jj }.isEmpty) =>
        j.children.filter(c => hasEdgeScan(c) == edgeSide)
          .map(_.collect { case e: ShuffleExchangeExec => e }.size).sum
      }.sum
    import scala.jdk.CollectionConverters._
    // AQE off for the structural receipt: plain ShuffleExchangeExec trees
    // (no query-stage wrappers), and EnsureRequirements' static decision —
    // "cached partitioning satisfies the join requirement" — is exactly
    // the property under test
    val got = withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      spark.listenerManager.register(capture)
      try Dedup.connectedComponents(edges, "id_a", "id_b",
          route = Routing.Large).as[(Long, Long)].collect().toMap
      finally {
        Thread.sleep(300) // let async listener events drain
        spark.listenerManager.unregister(capture)
      }
    }
    assert(got == expected, "pre-partition route changed the labels")
    val rounds = roundPlans.asScala.toSeq.filter(hasEdgeScan)
    assert(rounds.nonEmpty,
      "captured no round plans — the receipt proves nothing")
    val onBad = rounds.map(sideExchanges(_, edgeSide = true)).sum
    assert(onBad == 0, s"routed plan re-shuffles the cached edge frame " +
      s"($onBad exchange-covered edge scans):\n${rounds.head}")
    // both sides of the pointer jump's self-join read the cached edge
    // frame: no round re-runs the edge union and its repartition
    val reshuffled = rounds.filter(_.collect { case e: ShuffleExchangeExec
      if e.shuffleOrigin == REPARTITION_BY_COL => e }.nonEmpty)
    assert(reshuffled.isEmpty,
      s"a round repartitions the edges again:\n${reshuffled.headOption}")
    // anchor: the same probe sees the exchange that shuffles the label
    // side of that join, so a zero on the edge side is not vacuous
    assert(rounds.forall(sideExchanges(_, edgeSide = false) > 0),
      s"the probe sees no exchange on the label side:\n${rounds.head}")
    // receipt: the first round's executed plan (under the build's
    // target/ — tests never write into the source tree)
    val dir = new java.io.File("target/receipts"); dir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dir, "cc_prepartition_route.txt").toPath,
      (s"# ${rounds.size} rounds, broadcast+AQE off\n" +
        s"## round-1 plan (edge scan NOT under any Exchange)\n" +
        rounds.head.toString).getBytes)
  }

  test("empty edge set returns an empty frame, not a convergence error") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(closeOnEveryRoute(empty).isEmpty)
    val r = Dedup.duplicateClusters(empty)
    assert(r.isEmpty &&
      r.columns.toSeq == Seq("doc_id", "component", "cluster_size"))
  }

  test("null endpoints are dropped on every route: no null node, no " +
    "one-member cluster") {
    // a kept null would take a neighbour's label without joining 1 and 2
    val edges = Seq((Some(1L), None), (None, Some(2L)), (Some(5L), Some(6L)))
      .toDF("id_a", "id_b")
    assert(closeOnEveryRoute(edges) == Map(5L -> 5L, 6L -> 5L))
    assert(Dedup.duplicateClusters(edges).as[(Long, Long, Long)].collect()
      .toSet == Set((5L, 5L, 2L), (6L, 5L, 2L)))
  }

  test("ids must be integral: rejected before any job, types named") {
    val strings = Seq(("a", "b")).toDF("id_a", "id_b")
    val doubles = Seq((1L, 2.0)).toDF("id_a", "id_b")
    for (bad <- Seq(strings, doubles)) {
      val (e, jobs) = countingJobs(intercept[IllegalArgumentException](
        Dedup.connectedComponents(bad, "id_a", "id_b")))
      assert(e.getMessage.contains("tinyint, smallint, int or bigint"))
      assert(jobs == 0, s"the type check ran after $jobs jobs")
    }
    // every accepted type closes on both routes, keeping the id type
    import org.apache.spark.sql.types.IntegerType
    val ints = Seq((3, 2), (2, 1), (7, 8)).toDF("id_a", "id_b")
    val outs = Seq(Routing.Small, Routing.Large).map(r =>
      Dedup.connectedComponents(ints, "id_a", "id_b", route = r))
    for (o <- outs) {
      assert(o.schema.map(_.dataType) == Seq(IntegerType, IntegerType))
      assert(o.as[(Int, Int)].collect().toMap ==
        Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 7))
    }
  }

  test("duplicateClusters reports every member with canonical + size") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val r = Dedup.duplicateClusters(pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(r == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("duplicateClusters: one schema and the same rows on every route") {
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(77L)
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b"),
      Seq((3, 2), (2, 1), (7, 8)).toDF("id_a", "id_b"),
      Seq((Some(1L), None), (Some(5L), Some(6L))).toDF("id_a", "id_b"),
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"),
      Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .toDF("id_a", "id_b"))
    for ((g, i) <- graphs.zipWithIndex) withClue(s"graph $i: ") {
      val outs = Seq(Routing.Small, Routing.Large, Routing.Auto)
        .map(r => r -> Dedup.duplicateClusters(g, route = r))
      for ((r, o) <- outs.tail)
        assert(o.schema == outs.head._2.schema, s"route $r schema")
      val rows = outs.map { case (r, o) =>
        r -> o.collect().toSeq.sortBy(_.toString) }
      for ((r, rs) <- rows.tail)
        assert(rs == rows.head._2, s"route $r rows")
      assert(outs.head._2.columns.toSeq ==
        Seq("doc_id", "component", "cluster_size"))
      assert(rows.head._2.forall((r: Row) => r.getLong(2) >= 1L))
    }
  }

  test("the driver route's clusters reach the caller in a fixed number " +
    "of jobs") {
    // the local edge frame's bound settles the driver route: its edges
    // are collected on the driver with no job, the cluster sizes are
    // counted there and the caller's collect reads a local frame
    val (rows, jobs) = countingJobs(
      Dedup.duplicateClusters(path200).collect())
    assert(rows.length == 200 && rows.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 200L))
    assert(jobs == 0, s"duplicateClusters and its collect ran $jobs jobs")
  }
}

class SimhashMd5KernelSpec extends SparkSpecBase {
  import spark.implicits._

  test("fused kernel == explode + 60-way vote column algebra, bit for bit") {
    import graft.functions.{GraftFunctions, TextFunctions}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different text about spark engines"),
      (4L, "single"),
      (5L, "dup dup dup tokens tokens vote twice")
    ).toDF("doc_id", "text")
    val kernel = docs.select(col("doc_id"),
        GraftFunctions.simhashMd5(TextFunctions.tokens(col("text"))).as("sim"))
      .as[(Long, Long)].collect().toMap
    val th = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$b"))
    val algebra = th.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
      .as[(Long, Long)].collect().toMap
    assert(kernel == algebra)
  }
}

class WideSimhashSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.functions.{GraftFunctions, TextFunctions}

  // near-dup corpus with a PRE-SEARCHED boundary pair: tokens s1t0..s1t29
  // each repeated 3× give stable vote margins, and replacing exactly one
  // copy of s1t6 with m6y flips exactly ONE signature bit (combined
  // hamming 1 — found by offline md5 search, deterministic forever), so
  // the 0 < hamming ≤ 3 recall path is genuinely exercised. Plus
  // identical docs (hamming 0), unrelated docs, and empty-half edge cases
  // (docs whose tokens all land in one md5-parity half — the other half's
  // signature must coalesce to 0).
  private val baseToks = Seq.fill(3)((0 until 30).map(i => s"s1t$i")).flatten
  private val base = baseToks.mkString(" ")
  private val nearDup = baseToks.updated(
    baseToks.indexOf("s1t6"), "m6y").mkString(" ")
  private val docs = (Seq(
    (1L, base),
    (2L, nearDup),
    (3L, base),
    (4L, "completely unrelated text about catalyst and tungsten engines"),
    (5L, "single"),
    (6L, "single"),
    (7L, "")) ++ (10 to 40).map(i =>
      (100L + i, s"noise${i}a noise${i}b noise${i}c noise${i}d"))
  ).toDF("doc_id", "text")

  private def halfSig(par: Int) = GraftFunctions.simhashMd5(
    filter(TextFunctions.tokens(col("text")), t =>
      conv(substring(md5(t.cast("binary")), 16, 1), 16, 10).cast("int")
        % 2 === lit(par)))

  test("wide pairs == exact all-pairs 120-bit hamming (recall AND precision)") {
    val got = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
        maxHamming = 3, route = Routing.Large)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val sig = docs.select(col("doc_id"), halfSig(0).as("sa"),
      halfSig(1).as("sb"))
    val exact = sig.select(col("doc_id").as("id_a"), col("sa").as("saa"),
        col("sb").as("sab"))
      .join(broadcast(sig.select(col("doc_id").as("id_b"),
        col("sa").as("sba"), col("sb").as("sbb"))), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (GraftFunctions.hamming(col("saa"), col("sba")) +
          GraftFunctions.hamming(col("sab"), col("sbb"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == exact, "banded wide pairs must equal the exact set")
    // the corpus must actually exercise the operator: identical docs at
    // hamming 0 and at least one nonzero-hamming near-dup
    assert(exact.exists(_._3 == 0) && exact.exists(_._3 > 0))
  }

  test("wide form rejects maxHamming beyond the 4-band pigeonhole") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 4,
        route = Routing.Large)
    }
  }
}

class AutoSimhashSpec extends SparkSpecBase {
  import spark.implicits._
  import graft.functions.{GraftFunctions, TextFunctions}

  // same construction idea as WideSimhashSpec: identical docs (hamming 0)
  // plus noise, small enough to compute both reference forms exactly
  private val docs = (Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon zeta"),
    (3L, "totally different content about shuffle exchanges")) ++
    (10 to 50).map(i => (100L + i, s"n${i}a n${i}b n${i}c"))
  ).toDF("doc_id", "text")

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  /** The wide form is the only path whose plan splits tokens by md5-hex
    * parity — a routing discriminator that can't be satisfied vacuously
    * by the two measures agreeing on this corpus. */
  private def routedWide(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.toString.contains("md5(cast(")

  test("below the threshold the router IS the narrow 60-bit form") {
    // 44 docs, far under Routing.wideThreshold
    val auto = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
      maxHamming = 3)
    assert(!routedWide(auto))
    val narrow = Dedup.simhashPairsFromSig(
      docs.select(col("doc_id"),
        GraftFunctions.simhashMd5(TextFunctions.tokens(col("text")))
          .as("sim")),
      sigBits = 60, bands = 4, maxHamming = 3)
    assert(pairs(auto) == pairs(narrow))
    assert(pairs(auto).contains((1L, 2L)))
  }

  test("at the threshold the router switches to the wide 120-bit form") {
    // a corpus size AT the threshold (stated through the public size
    // hint) must route wide — pinned by equality with the forced wide
    // route; the table of switch points lives in RoutingSpec
    val t = Routing.wideThreshold
    val auto = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
      maxHamming = 3, rowCountHint = Some(t))
    assert(routedWide(auto))
    val wide = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
      maxHamming = 3, route = Routing.Large)
    assert(routedWide(wide))
    assert(pairs(auto) == pairs(wide))
    // one doc fewer than the threshold routes narrow again (strict >= gate)
    val under = Dedup.simhashPairs(docs, col("doc_id"), col("text"),
      maxHamming = 3, rowCountHint = Some(t - 1))
    assert(!routedWide(under))
    val narrow = Dedup.simhashPairsFromSig(
      docs.select(col("doc_id"),
        GraftFunctions.simhashMd5(TextFunctions.tokens(col("text")))
          .as("sim")),
      sigBits = 60, bands = 4, maxHamming = 3)
    assert(pairs(under) == pairs(narrow))
  }

  test("default threshold keeps every driver SF on the oracled narrow path") {
    // the dedup_simhash DuckDB oracle reproduces the NARROW signature;
    // sf0.1 is the largest corpus the driver verifies (~50k docs) — the
    // default 2^18 switch point must stay above it with margin
    assert(Routing.wideThreshold > 100000L)
  }
}

class SubpartitionsSpec extends SparkSpecBase {
  import spark.implicits._

  private val df = (0 until 400)
    .map(i => (i.toLong, s"k${i % 40}", i % 4)).toDF("id", "key", "part")

  test("byKeyHash: in range, same key → same subpartition") {
    val r = Subpartitions.byKeyHash(df, col("key"), 8)
      .select("key", "subpartition").as[(String, Int)].collect()
    assert(r.forall(t => t._2 >= 0 && t._2 < 8))
    assert(r.groupBy(_._1).values.forall(g => g.map(_._2).distinct.length == 1))
    // kafka-compatible variant: same invariants
    val k = Subpartitions.byKeyHash(df, col("key"), 8, kafkaCompatible = true)
      .select("key", "subpartition").as[(String, Int)].collect()
    assert(k.forall(t => t._2 >= 0 && t._2 < 8))
    assert(k.groupBy(_._1).values.forall(g => g.map(_._2).distinct.length == 1))
  }

  test("roundRobin: perfectly balanced within each source partition") {
    val r = Subpartitions.roundRobin(df, col("part"), 5, col("id").asc)
      .groupBy("part", "subpartition").count()
      .as[(Int, Int, Long)].collect()
    // 100 rows per part over 5 subpartitions → exactly 20 each
    assert(r.forall(_._3 == 20L))
    assert(r.length == 4 * 5)
  }

  test("default: single subpartition") {
    val r = Subpartitions.default(df).select("subpartition")
      .distinct().as[Int].collect().toSeq
    assert(r == Seq(0))
  }

  test("roundRobinScan ≡ roundRobin window form, incl. ties and one-value ts") {
    // adversarial timeline: duplicate ts within a part (tiebreak decides),
    // clustered values (many rows in one bucket), parts of unequal size
    val rng = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      val part = i % 3
      val ts = if (i % 7 == 0) 1000L else 1000L + rng.nextInt(50).toLong
      (part, ts, i.toLong)
    }
    val in = rows.toDF("part", "ts", "event_id")
    def key(frame: org.apache.spark.sql.DataFrame) = frame
      .select("event_id", "part", "subpartition")
      .as[(Long, Int, Int)].collect().toSeq.sorted
    val windowForm = Subpartitions.roundRobin(in, col("part"), 5,
      col("ts").asc, col("event_id").asc)
    val scanForm = Subpartitions.roundRobinScan(in, col("part"), 5,
      col("ts"), col("event_id"), buckets = 8)
    assert(key(scanForm) == key(windowForm))
    // degenerate timeline: every ts identical → single bucket, still exact
    val flat = rows.map { case (p, _, id) => (p, 42L, id) }
      .toDF("part", "ts", "event_id")
    assert(key(Subpartitions.roundRobinScan(flat, col("part"), 5,
        col("ts"), col("event_id"), buckets = 8)) ==
      key(Subpartitions.roundRobin(flat, col("part"), 5,
        col("ts").asc, col("event_id").asc)))
    // empty input: empty output, schema intact
    assert(Subpartitions.roundRobinScan(in.filter(lit(false)), col("part"),
      5, col("ts"), col("event_id")).count() == 0)
  }
}

class MergeStreamsSpec extends SparkSpecBase {
  import spark.implicits._

  test("golden merge: reference MergerTest timestamp sequence") {
    // MergerTest.java:88-134 golden case: paired partitions of two topics
    // merge into ascending-timestamp order. Timestamps from the test.
    val t1 = Seq(10000L, 50000L, 90000L, 130000L).map(("t1", _))
    val t2 = Seq(30000L, 70000L, 110000L, 120000L, 140000L).map(("t2", _))
    val a = t1.toDF("src", "ts")
    val b = t2.toDF("src", "ts")
    val merged = MergeStreams.merged(a, b, col("ts"), col("src"))
      .orderBy("emit_seq").select("ts").as[Long].collect().toSeq
    assert(merged == Seq(10000L, 30000L, 50000L, 70000L, 90000L,
      110000L, 120000L, 130000L, 140000L))
  }

  test("mergedN: three-way golden merge matches total time order") {
    // batch twin of StreamingSpec's three-input gated merge: once inputs
    // are complete the gate is vacuous and mergedN is the total order
    val t1 = Seq(10000L, 50000L, 90000L).map(("t1", _))
    val t2 = Seq(30000L, 70000L).map(("t2", _))
    val t3 = Seq(20000L, 110000L, 120000L).map(("t3", _))
    val merged = MergeStreams.mergedN(
        Seq(t1.toDF("src", "ts"), t2.toDF("src", "ts"), t3.toDF("src", "ts")),
        col("ts"), col("src"))
      .orderBy("emit_seq").select("ts").as[Long].collect().toSeq
    assert(merged == Seq(10000L, 20000L, 30000L, 50000L, 70000L,
      90000L, 110000L, 120000L))
  }

  test("mergedN emit_seq is the exact total order on adversarial " +
    "timelines (seeded)") {
    // the round-6 prefix-scan emission index must produce exactly
    // 1..N in (ts, tieBreak) order whatever the time distribution:
    // heavy duplicate timestamps (ties straddle scan buckets), clustered
    // timelines (most rows in one bucket), single-instant streams
    // (degenerate min==max), and many input streams
    val rnd = new scala.util.Random(909L)
    val cases = Seq[(String, Int => Long)](
      ("dense-ties", _ => 1000L + rnd.nextInt(5) * 100L),
      ("clustered", i => if (i % 10 == 0) 1000000L + rnd.nextInt(1000)
                         else 500L + rnd.nextInt(3)),
      ("one-instant", _ => 42L),
      ("spread", _ => rnd.nextLong() % 1000000L))
    for ((name, gen) <- cases) {
      val nStreams = 2 + rnd.nextInt(3)
      val rows = (0 until 600).map(i => (i.toLong, gen(i), i % nStreams))
      val inputs = (0 until nStreams).map(s =>
        rows.filter(_._3 == s).map(r => (r._1, r._2))
          .toDF("event_id", "ts"))
      val got = MergeStreams.mergedN(inputs, col("ts"), col("event_id"))
        .select("event_id", "ts", "emit_seq")
        .as[(Long, Long, Long)].collect()
      val expectSeq = rows.map(r => (r._2, r._1)).sorted
        .zipWithIndex.map { case ((ts, id), i) => id -> (i + 1L) }.toMap
      assert(got.length == 600, s"$name lost rows")
      got.foreach { case (id, _, seq) =>
        assert(seq == expectSeq(id),
          s"$name: event $id got emit_seq $seq, want ${expectSeq(id)}")
      }
    }
  }

  test("paired watermark: record emittable iff other stream has passed it") {
    val a = Seq(10L, 50L).map(("a", _))
    val b = Seq(30L, 70L).map(("b", _))
    val m = MergeStreams.withPairedWatermark(
      MergeStreams.merged(a.toDF("src", "ts"), b.toDF("src", "ts"),
        col("ts"), col("src")),
      col("src"), col("ts"))
    val rows = m.orderBy("emit_seq")
      .select("ts", "src", "wm_a", "wm_b")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    // at ts=30 (stream b), stream a's watermark is 10: a-record 10 emittable
    assert(rows(1) == ((30L, "b", Some(10L), Some(30L))))
  }
}

class DeadLetterSpec extends SparkSpecBase {
  import spark.implicits._

  test("split: first matching rule wins; ok side is clean") {
    val df = Seq(
      (1L, -5.0, "click"), (2L, 1.0, "error"), (3L, 2.0, "view"),
      (4L, -1.0, "error")).toDF("id", "value", "etype")
    val rules = Seq(
      "neg" -> (col("value") < 0),
      "err" -> (col("etype") === "error"))
    val (ok, dead) = DeadLetter.split(df, rules)
    assert(ok.select("id").as[Long].collect().toSet == Set(3L))
    val d = dead.select("id", "error").as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "neg", 2L -> "err", 4L -> "neg"))
    assert(!ok.columns.contains("error"))
  }
}

class SimilaritySpec extends SparkSpecBase {
  import spark.implicits._

  private val corpus = Seq(
    (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)),
    (3L, Array(-1f, 0f)), (4L, Array(0.5f, 0.5f))
  ).toDF("vec_id", "embedding")

  test("int8 quantization: approx dot within the error bound, exact on axes") {
    // seeded random unit vectors, 64-dim like the embeddings table
    val rnd = new scala.util.Random(7L)
    val vecs = (0L until 30L).map { i =>
      val raw = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(raw.map(x => x * x.toDouble).sum).toFloat
      (i, raw.map(_ / n))
    }.toDF("vec_id", "embedding")
    val qz = Similarity.quantizeInt8(vecs, col("vec_id"), col("embedding"))
    val a = qz.select(col("vec_id").as("ia"), col("codes").as("ca"),
      col("scale").as("sa"))
    val b = qz.select(col("vec_id").as("ib"), col("codes").as("cb"),
      col("scale").as("sb"))
    val va = vecs.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val vb = vecs.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val err = a.join(b, col("ia") < col("ib"))
      .join(va, "ia").join(vb, "ib")
      .select(abs(Similarity.int8ApproxDot(col("ca"), col("sa"), col("cb"),
        col("sb")) -
        graft.functions.GraftFunctions.cosineSimilarity(col("ea"), col("eb")))
        .as("e"))
      .agg(max(col("e"))).as[Double].head()
    assert(err <= 0.03, s"quantization error $err exceeds bound")
    // two-stage rerank equals exact brute force given shortlist margin
    val brute = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") < 3), vecs, k = 4)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val rerank = Similarity.int8RerankTopK(
        vecs.filter(col("vec_id") < 3), vecs, k = 4, shortlist = 12)
      .select("query_id", "cand_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(rerank == brute, s"rerank diverged: ${rerank.diff(brute)}")
    // exact on axis vectors (codes ±127/0, scale 1)
    val ax = Seq((0L, Array(1f, 0f)), (1L, Array(0f, -1f)))
      .toDF("vec_id", "embedding")
    val axq = Similarity.quantizeInt8(ax, col("vec_id"), col("embedding"))
      .select("codes", "scale").as[(Seq[Byte], Double)].collect()
    assert(axq(0)._1 == Seq[Byte](127, 0) && axq(0)._2 == 1.0)
  }

  test("bruteForceTopK ranks by cosine desc") {
    val r = Similarity.bruteForceTopK(
        corpus.filter(col("vec_id") === 0L), corpus, k = 2)
      .select("cand_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    // nearest to (1,0): vec 1 (cos~0.994), then vec 4 (cos~0.707)
    assert(r.map(_._1).toSeq == Seq(1L, 4L))
  }

  test("ivfTopK returns ranked neighbors from probed buckets only") {
    val e = (0 until 100).map { i =>
      val ang = i * math.Pi / 50
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfIndex(e, Similarity.strideCentroids(e, 10))
    val r = Similarity.ivfTopK(e.filter(col("vec_id") === 0L), idx, e,
        centroidStride = 10, nProbe = 3, k = 3)
      .select("cand_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    // neighbors of angle 0 are angles ±1 step: ids 1 and 99
    assert(r.map(_._1).toSet.intersect(Set(1L, 99L)).nonEmpty)
    assert(r.length == 3)
  }
}

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("extractMeta: deterministic stub decode + md5 digest") {
    val docs = Seq((1L, "hello world"), (2L, "x" * 100)).toDF("doc_id", "text")
    val media = Multimodal.asBinaryPayload(docs, col("doc_id"), col("text"),
      when(col("doc_id") === 1, "image").otherwise("video"))
    val r = Multimodal.extractMeta(media).collect().map(m => m.doc_id -> m).toMap
    assert(r(1L).n_bytes == 11L)
    assert(r(1L).width == 16 + 11 % 64 && r(1L).height == 16 + (11 / 64) % 64)
    assert(r(1L).frames == 1)                   // image
    assert(r(2L).frames == 1 + 100 % 30)        // video
    assert(r(1L).digest == "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
  }

  test("featureStub embeddings feed the ANN operators end to end") {
    val docs = (0L until 20L).map(i => (i, s"payload text $i"))
      .toDF("doc_id", "text")
    val media = Multimodal.asBinaryPayload(docs, col("doc_id"), col("text"),
      lit("image"))
    val feats = Multimodal.featureStub(media, dim = 8)
      .withColumnRenamed("doc_id", "vec_id")
    val r = Similarity.bruteForceTopK(
        feats.filter(col("vec_id") < 2), feats, k = 3)
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 3L, 1L -> 3L))
    // deterministic: same payload -> same embedding
    val twice = Multimodal.featureStub(media, dim = 8)
      .select("embedding").collect().map(_.getSeq[Float](0))
    val once = feats.orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0))
    assert(twice.toSeq.sortBy(_.head) == once.toSeq.sortBy(_.head))
  }

  test("sampleFrames strides over video frames only") {
    val meta = Seq((1L, "video", 10), (2L, "image", 1))
      .toDF("doc_id", "media_type", "frames")
    val r = Multimodal.sampleFrames(meta, stride = 3)
      .select("doc_id", "n_sampled").as[(Long, Int)].collect()
    assert(r.toSeq == Seq((1L, 4)))             // frames 0,3,6,9
  }

  test("synthesizeImage -> parseImageMeta round-trips all three formats") {
    val body = "opaque body bytes".getBytes("UTF-8")
    // sizes straddling the byte boundary pin endianness (PNG/JPEG are
    // big-endian, GIF little-endian — a swapped read fails at >255)
    for (fmt <- Seq("png", "jpeg", "gif");
         (w, h) <- Seq((1, 1), (16, 375), (300, 200), (511, 480),
           (65535, 65535))) {
      val bytes = Multimodal.synthesizeImage(fmt, w, h, body)
      assert(Multimodal.parseImageMeta(bytes).contains((fmt, w, h)),
        s"$fmt ${w}x$h failed: ${Multimodal.parseImageMeta(bytes)}")
      assert(bytes.length == Multimodal.headerBytes(fmt) + body.length)
    }
  }

  test("synthesized GIF header bytes are the spec's exact layout") {
    val b = Multimodal.synthesizeImage("gif", 300, 200, Array.emptyByteArray)
    val hex = b.map("%02X".format(_)).mkString
    // 'GIF89a' + width 300 LE + height 200 LE + packed F7, bg 0, aspect 0
    assert(hex == "474946383961" + "2C01" + "C800" + "F70000")
  }

  test("javax.imageio extracts the same dimensions from synthesized bytes") {
    // independent header readers agree with parseImageMeta: the JDK's own
    // PNG/JPEG readers parse dimensions from the header without needing
    // valid pixel data (GIF's reader wants the per-image descriptor our
    // junk body lacks, so its layout is pinned by the byte test above)
    for (fmt <- Seq("png", "jpeg"); (w, h) <- Seq((300, 200), (511, 77))) {
      val bytes = Multimodal.synthesizeImage(fmt, w, h,
        "junk pixel data".getBytes("UTF-8"))
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      assert(readers.hasNext, s"no JDK reader recognized synthesized $fmt")
      val r = readers.next()
      r.setInput(iis)
      try assert((r.getWidth(0), r.getHeight(0)) == (w, h), s"$fmt dims")
      finally { r.dispose(); iis.close() }
    }
  }

  test("parseImageMeta classifies garbage as None, never throws") {
    val cases = Seq[Array[Byte]](
      Array.emptyByteArray,
      "plain text payload".getBytes("UTF-8"),
      Array[Byte](0x89.toByte, 'P', 'N', 'G'),                // truncated png
      Array[Byte](0xFF.toByte, 0xD8.toByte),                  // bare SOI
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
        0xD9.toByte),                                         // SOI+EOI, no SOF
      "GIF89a".getBytes("UTF-8"),                             // truncated gif
      Multimodal.synthesizeImage("png", 10, 10,
        Array.emptyByteArray).take(20)                        // cut mid-IHDR
    )
    cases.foreach(c => assert(Multimodal.parseImageMeta(c).isEmpty))
    // zero dimensions are malformed per all three specs
    val z = Multimodal.synthesizeImage("gif", 1, 1, Array.emptyByteArray)
    z(6) = 0; z(7) = 0 // width -> 0
    assert(Multimodal.parseImageMeta(z).isEmpty)
  }

  test("JPEG marker scan skips APPn/COM/DQT segments before SOF") {
    // hand-built stream: SOI, COM(5 bytes data), DQT(4), APP13(2), SOF0
    val bos = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, data: Array[Byte]): Unit = {
      bos.write(0xFF); bos.write(marker)
      val len = data.length + 2
      bos.write(len >> 8); bos.write(len & 0xFF); bos.write(data)
    }
    bos.write(0xFF); bos.write(0xD8)
    seg(0xFE, "comnt".getBytes("UTF-8"))
    seg(0xDB, Array[Byte](0, 1, 2, 3))
    seg(0xED, Array[Byte](9, 9))
    seg(0xC1, Array[Byte](8, 1, 0x2A, 2, 0x1F, 3, 1, 0x11, 0, 2, 0x11,
      1, 3, 0x11, 1)) // SOF1 extended sequential: h=298, w=543
    bos.write("entropy junk".getBytes("UTF-8"))
    assert(Multimodal.parseImageMeta(bos.toByteArray)
      .contains(("jpeg", 543, 298)))
  }

  test("extractMeta decodes real image payloads, stubs the rest") {
    val docs = Seq(
      (0L, "png", "alpha body"), (1L, "jpeg", "beta body"),
      (2L, "gif", "gamma body"), (3L, "video", "delta body")
    ).toDF("doc_id", "fmt", "text")
    val real = Multimodal.synthesizeMedia(
      docs.filter(col("fmt") =!= "video"), col("doc_id"), col("text"),
      col("fmt"), (lit(100) + col("doc_id")).cast("int"), lit(77))
    val stub = Multimodal.asBinaryPayload(
      docs.filter(col("fmt") === "video"), col("doc_id"), col("text"),
      col("fmt"))
    val r = Multimodal.extractMeta(real.unionByName(stub))
      .collect().map(m => m.doc_id -> m).toMap
    assert(r(0L).media_type == "png" && r(0L).width == 100 &&
      r(0L).height == 77 && r(0L).frames == 1)
    assert(r(1L).media_type == "jpeg" && r(1L).width == 101)
    assert(r(2L).media_type == "gif" && r(2L).width == 102)
    // unparseable payload: deterministic stub under the declared type
    val n = "delta body".length
    assert(r(3L).media_type == "video" && r(3L).width == 16 + n % 64 &&
      r(3L).frames == 1 + n % 30)
  }

  test("featureStub -> ANN hand-off runs on real synthesized bytes") {
    val docs = (0L until 16L).map(i => (i, s"media body $i"))
      .toDF("doc_id", "text")
    val media = Multimodal.synthesizeMedia(docs, col("doc_id"), col("text"),
      when(col("doc_id") % 2 === 0, "png").otherwise("gif"),
      (lit(20) + col("doc_id")).cast("int"), lit(30))
    val feats = Multimodal.featureStub(media, dim = 8)
      .withColumnRenamed("doc_id", "vec_id")
    val r = Similarity.bruteForceTopK(
        feats.filter(col("vec_id") < 2), feats, k = 3)
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(r == Map(0L -> 3L, 1L -> 3L))
  }
}

class EmbeddingLshSpec extends SparkSpecBase {
  import spark.implicits._

  test("embeddingLshPairs finds same-direction vectors without a block key") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(2f, 0f, 0f, 0f)),  // same dir
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(-1f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val r = Dedup.embeddingLshPairs(vecs, col("vec_id"), col("embedding"),
        threshold = 0.99, bands = 16, bitsPerBand = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical-direction pair shares every band -> always a candidate
    assert(r == Set((1L, 2L)))
  }

  test("sorted-run cap emits pairs identical to the aggregate cap, " +
    "both geometries, cap binding and not") {
    // the two cap forms of the banded-pair kernel must be interchangeable
    // on the hyperplane band space: the sorted-run mapPartitions walk
    // selects the same ascending-vec_id members per bucket as the
    // row_number window (the reference) — incl. on a HOT bucket where the
    // cap actually bites (20 identical-direction vectors, cap 5)
    val rnd = new scala.util.Random(11)
    val hot = (0 until 20).map(i => (i.toLong, Array(1f, 0f, 0f, 0f, 0f,
      0f, 0f, 0f).map(_ * (1f + i))))
    val spread = (100 until 160).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    }
    val vecs = (hot ++ spread).toDF("vec_id", "embedding")
    for ((bands, bits) <- Seq((8, 8), (4, 20))) { // packed and wide
      val banded = Dedup.hyperplaneBands(vecs, col("vec_id"),
        col("embedding"), bands, bits, seed = 42L)
      def run(capForm: (DataFrame, String, Int) => DataFrame) =
        Dedup.bucketPairs(banded, "vec_id", 5, capForm)
          .as[(Long, Long)].collect().toSet
      val win = run(Dedup.windowCapMembers)
      val srt = run(Dedup.sortedRunMembers)
      assert(win == srt,
        s"bands=$bands bits=$bits: only-window=${win.diff(srt)} " +
          s"only-sorted=${srt.diff(win)}")
      // the hot bucket keeps exactly its 5 smallest ids
      assert(win.filter(_._2 < 20) ==
        (for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)).toSet,
        "hot bucket must yield exactly the capped pairs")
    }
  }

  test("int8 prefilter bound is SOUND: emitted pair set equals the " +
    "unfiltered exact-verification reference") {
    // the prefilter may only remove pairs exact verification would drop
    // anyway; seeded adversarial corpus — clustered directions (high-cos
    // pairs near every threshold), a zero vector, tiny and huge scales
    val rnd = new scala.util.Random(7)
    val vecs = ((0 until 120).map { i =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      val jit = base.map(v => v + 0.02f * rnd.nextGaussian().toFloat)
      val scale = Seq(1e-4f, 1f, 1e4f)(i % 3)
      (i.toLong, jit.map(_ * scale))
    } :+ (900L, Array.fill(8)(0f)) :+ (901L, Array.fill(8)(1e-6f)))
      .toDF("vec_id", "embedding")
    for (threshold <- Seq(0.5, 0.9, 0.99)) {
      val got = Dedup.embeddingLshPairs(vecs, col("vec_id"),
          col("embedding"), threshold, bands = 8, bitsPerBand = 8)
        .as[(Long, Long, Double)].collect().toSet
      // reference: same banding, NO prefilter — every bucket pair goes to
      // exact cosine (the pre-round-7 tail, inlined)
      val all = vecs.as[(Long, Array[Float])].collect()
      val byId = all.toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        val n = math.min(a.length, b.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- 0 until n) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      // exact-over-candidates == exact-over-all-pairs ∩ candidates; the
      // prefilter can only shrink candidates, so comparing against the
      // operator's own emitted ⊆ relation needs the CANDIDATE set — but
      // recall-relevant pairs here are the jittered clusters, which agree
      // on every band at these widths; assert instead that every
      // brute-force pair ALSO found by the unfiltered operator run is in
      // `got`. Unfiltered run = prefilter disabled via threshold so low
      // the bound always passes, then exact filter applied manually.
      val unfiltered = Dedup.embeddingLshPairs(vecs, col("vec_id"),
          col("embedding"), threshold = -1.0, bands = 8, bitsPerBand = 8)
        .as[(Long, Long, Double)].collect()
      val want = unfiltered.filter(_._3 >= threshold)
        .map(t => (t._1, t._2,
          BigDecimal(cos(byId(t._1), byId(t._2)))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
      assert(got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)),
        s"prefilter changed the pair set at threshold=$threshold")
    }
  }

  test("auto band width: legacy-identical at small n, linear-safe when wide") {
    val vecs = (0 until 300).map { i =>
      val ang = i * math.Pi / 150
      (i.toLong,
        Array(math.cos(ang).toFloat, math.sin(ang).toFloat, 0.1f, 0.2f))
    }.toDF("vec_id", "embedding")
    def pairs(bpb: Int) =
      Dedup.embeddingLshPairs(vecs, col("vec_id"), col("embedding"),
        threshold = 0.995, bands = 8, bitsPerBand = bpb)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // n = 300 ≤ 4096: auto must resolve to the legacy 8×8 packed
    // geometry, bit-identical to the explicit form
    assert(pairs(0) == pairs(8))
    // wide geometry (bands × bits > 64 → per-band independent
    // signatures): same-direction vectors still collide on EVERY band
    // (recall-of-identical is exact at any width) and survive verification
    val dup = Seq((1000L, Array(3f, 0f, 0f, 0f)),
      (1001L, Array(5f, 0f, 0f, 0f)), (1002L, Array(0f, 7f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val wide = Dedup.embeddingLshPairs(dup, col("vec_id"), col("embedding"),
        threshold = 0.99, bands = 8, bitsPerBand = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(wide == Set((1000L, 1001L)))
  }

  test("autoBandBits keeps bucket space tracking the corpus (scaling law)") {
    // the sf1 finding as a law: 2^bits must grow ∝ n so occupancy — and
    // with it candidate verification — stays bounded
    assert(Dedup.autoBandBits(0L) == 8 && Dedup.autoBandBits(200L) == 8)
    assert(Dedup.autoBandBits(4096L) == 8)   // legacy 8×8 up to here
    assert(Dedup.autoBandBits(4097L) == 9)   // first widening step
    assert(Dedup.autoBandBits(20000L) == 11) // the sf1 geometry
    for (n <- Seq(1000L, 10000L, 100000L, 10000000L, 1000000000L)) {
      val b = Dedup.autoBandBits(n)
      // occupancy n / 2^bits stays within a constant band (≤ 16) until
      // the 24-bit cap, and bits is monotone in n
      if (b < 24) assert(n.toDouble / (1L << b) <= 16.0,
        s"occupancy unbounded at n=$n (bits=$b)")
      assert(Dedup.autoBandBits(n * 2) >= b)
    }
    assert(Dedup.autoBandBits(Long.MaxValue / 4) == 24) // cap holds
  }
}

class IvfPersistenceSpec extends SparkSpecBase {
  import spark.implicits._

  test("persisted IVF index prunes partitions on probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val e = (0 until 100).map { i =>
      val ang = i * math.Pi / 50
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfIndex(e, Similarity.strideCentroids(e, 10))
    Similarity.writeIndex(idx, s"$dir/idx")
    val loaded = Similarity.readIndex(spark, s"$dir/idx")
    // probing 2 centroids must turn into PartitionFilters, not a full scan
    val probed = loaded.filter(col("centroid_id").isin(0L, 10L))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [centroid_id"), plan)
    // and the search still works against the loaded index
    val r = Similarity.ivfTopK(e.filter(col("vec_id") === 0L), loaded, e,
        centroidStride = 10, nProbe = 3, k = 3)
      .select("cand_id").as[Long].collect()
    assert(r.length == 3)
  }
}
