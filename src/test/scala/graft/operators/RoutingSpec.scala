package graft.operators

import org.apache.spark.sql.functions.{array, col, explode, sum, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Every routing switch point in one table: each [[Routing]] decision at
  * threshold − 1, threshold and threshold + 1, with the comparison sense
  * its operator has always used (a `<=` cap keeps the small route AT the
  * threshold, a `>=` gate takes the large route there). The operator
  * specs prove each route ≡ its twin through the forced-route argument;
  * this table proves where the router switches. */
class RoutingSpec extends AnyFunSuite {
  import RoutingSpec.table

  for ((name, t, large, atThreshold) <- table)
    test(s"$name: the decision switches at its threshold") {
      assert(!large(t - 1), s"$name: large route one below the threshold")
      assert(large(t) == atThreshold, s"$name: wrong route AT the threshold")
      assert(large(t + 1), s"$name: small route one above the threshold")
    }

  test("the table covers every threshold Routing defines, at its value") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala",
        "graft", "operators", "Routing.scala")), "UTF-8")
    val declared = """(?m)^  val (\w+): Long""".r.findAllMatchIn(src)
      .map(_.group(1)).toSet
    assert(declared == table.map(_._1).toSet)
    assert(table.map(r => r._1 -> r._2).toMap == Map(
      "bpeLocalMaxTypes" -> (1L << 22),
      "maxBroadcastGrams" -> (1L << 20),
      "maxBroadcastDomains" -> (1L << 22),
      "wideThreshold" -> (1L << 18),
      "hierThreshold" -> (1L << 17),
      "ccLocalMaxEdges" -> (1L << 20),
      "lmShuffleHashMinDocs" -> (1L << 20)))
  }

  test("a forced route decides without measuring") {
    def measured: Long = fail("a forced route evaluated the input size")
    assert(Routing.isLarge(Routing.Large, measured)(_ => false))
    assert(!Routing.isLarge(Routing.Small, measured)(_ => true))
    assert(Routing.isLarge(Routing.Auto, 5L)(_ == 5L))
    assert(!Routing.isLarge(Routing.Auto, 4L)(_ == 5L))
  }
}

object RoutingSpec {
  // (threshold name, its value, decision, large route AT the threshold?)
  val table: Seq[(String, Long, Long => Boolean, Boolean)] = Seq(
    ("bpeLocalMaxTypes", Routing.bpeLocalMaxTypes, Routing.bpeOnExecutors, false),
    ("maxBroadcastGrams", Routing.maxBroadcastGrams, Routing.gramSketch, false),
    ("maxBroadcastDomains", Routing.maxBroadcastDomains, Routing.domainSketch, false),
    ("wideThreshold", Routing.wideThreshold, Routing.simhashWide, true),
    ("hierThreshold", Routing.hierThreshold, Routing.ivfHier, true),
    ("ccLocalMaxEdges", Routing.ccLocalMaxEdges, Routing.ccOnExecutors, false),
    ("lmShuffleHashMinDocs", Routing.lmShuffleHashMinDocs, Routing.lmShuffleHash, false))
}

/** [[Routing.fetchUpTo]], the bounded fetch a routed operator measures its
  * small side with: all rows up to the cap, None above it, and on None
  * the persisted frame's upstream has still run only once; and
  * [[Routing.smallSide]], which resolves a route on it. */
class RoutingFetchSpec extends graft.SparkSpecBase {
  import spark.implicits._

  test("fetchUpTo returns every row at cap - 1 and cap, None at cap + 1") {
    val cap = 5L
    for (n <- Seq(cap - 1, cap, cap + 1)) withClue(s"$n rows: ") {
      val df = (1L to n).toDF("x").repartition(3)
      val got = Routing.fetchUpTo(df, cap)
      if (n <= cap) assert(got.map(_.map(_.getLong(0)).toSeq.sorted) ==
        Some(1L to n))
      else assert(got.isEmpty)
    }
    assert(Routing.fetchUpTo(spark.emptyDataFrame, 0L).exists(_.isEmpty))
  }

  test("on overflow a persisted frame's upstream runs once") {
    def evaluations(persist: Boolean): Long = {
      val calls = spark.sparkContext.longAccumulator
      val tag = udf { (x: Long) => calls.add(1L); x }.asNondeterministic()
      val df = spark.range(0L, 100L, 1L, 4).select(tag(col("id")).as("x"))
      if (persist) df.persist()
      try {
        assert(Routing.fetchUpTo(df, 10L).isEmpty)
        assert(df.agg(sum(col("x"))).head().getLong(0) == 4950L)
        calls.value
      } finally df.unpersist()
    }
    assert(evaluations(persist = true) == 100L)
    // anchor: without the persist the large route's read runs it again
    assert(evaluations(persist = false) > 100L)
  }

  test("smallSide: forced routes take no bound, Auto fetches and decides") {
    val df = (1L to 6L).toDF("x").repartition(2)
    val (large, jobs) = countingJobs(Routing.smallSide(Routing.Large, df, 1L, df)(_ => false))
    assert(large.isEmpty && jobs == 0, s"forced large route ran $jobs jobs")
    assert(Routing.smallSide(Routing.Small, df, 1L, df)(_ => true).map(_.length) == Some(6))
    assert(Routing.smallSide(Routing.Auto, df, 6L, df)(_ > 6L).map(_.length) == Some(6))
    assert(Routing.smallSide(Routing.Auto, df, 6L, df)(_ > 5L).isEmpty)
    assert(Routing.smallSide(Routing.Auto, df, 5L, df)(_ => false).isEmpty)
  }

  test("smallSide: a bound that settles the route collects without a fetch") {
    def noFetch: org.apache.spark.sql.DataFrame = fail("the bounded route fetched")
    val local = (1L to 6L).toDF("x")
    // a local frame collects on the driver: no persist, no limit, no job
    val (rows, jobs) = countingJobs(
      Routing.smallSide(Routing.Auto, local, 6L, noFetch)(_ > 6L))
    assert(rows.map(_.map(_.getLong(0)).toSeq.sorted) == Some(1L to 6L))
    assert(jobs == 0, s"the bounded small route ran $jobs jobs")
    // an exploded frame has no bound: Auto evaluates `fetched`, once
    val exploded = local.select(explode(array(col("x"), col("x"))).as("x"))
    var fetches = 0
    assert(Routing.smallSide(Routing.Auto, exploded, 12L,
      { fetches += 1; exploded })(_ > 12L).map(_.length) == Some(12))
    assert(fetches == 1)
  }

  test("with the bound at cap - 1, cap and cap + 1 the bounded decision " +
      "equals the measured one for every predicate") {
    // spark.range(n) carries the bound n in its plan: every decision
    // below reads it with no job; the measure is the predicate on the
    // frame's counted rows
    for ((name, t, large, _) <- RoutingSpec.table; n <- Seq(t - 1, t, t + 1))
      withClue(s"$name at $n rows: ") {
        val df = spark.range(n).toDF()
        val measured = df.count()
        assert(graft.plans.PlanStats.maxRows(df).contains(measured))
        assert(Routing.isLarge(Routing.Auto, df, None)(large) == large(measured))
        // the small-side form: the fetch would find `measured` rows, at
        // most `t` of them taking the small route when not large
        assert(Routing.boundedSmall(df, t)(large) ==
          (measured <= t && !large(measured)))
      }
  }

  test("isLarge: a hint decides before the bound, a forced route reads neither") {
    val small = spark.range(3).toDF()
    assert(Routing.isLarge(Routing.Auto, small, Some(10L))(_ > 5L))
    assert(!Routing.isLarge(Routing.Auto, small, None)(_ > 5L))
    val (forced, jobs) = countingJobs(Routing.isLarge(Routing.Large,
      small.filter(col("id") % 2 === 0).select(explode(array(col("id")))), None)(
      _ => false))
    assert(forced && jobs == 0)
  }
}

/** The Spark jobs routed queries run on the sf0.01 tables (500 documents,
  * 500 embeddings), result collected. Each small side whose bound settles
  * its route runs no routing action: the block guards of both cluster
  * queries, the edge fetch of `embedding_cluster`'s components (bound
  * 500², under the driver route's cap) and `url_filter_stream`'s local
  * blocklist. `dedup_cluster`'s edges join the token sets back twice, so
  * their bound (500⁴) is over the cap and the bounded fetch still runs;
  * `decontaminate_stream`'s eval grams come from an explode and are
  * fetched once, onto the key-set route. Before the bound: 5, 6, 6 and
  * 19 jobs. */
class RoutedQueryJobsSpec extends graft.SparkSpecBase {
  private val sfDir = "/root/testdata/sf0.01"

  for ((query, pinned) <- Seq("embedding_cluster" -> 2, "dedup_cluster" -> 4,
      "url_filter_stream" -> 3, "decontaminate_stream" -> 8))
    test(s"$query runs $pinned jobs") {
      graft.SparkEntry.queries(query)(spark, sfDir).collect() // warm
      val (_, jobs) = countingJobs(
        graft.SparkEntry.queries(query)(spark, sfDir).collect())
      assert(jobs == pinned, s"$query ran $jobs jobs")
    }
}
