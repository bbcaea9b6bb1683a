package graft.operators

import org.apache.spark.sql.functions.{col, sum, udf}
import org.scalatest.funsuite.AnyFunSuite

/** Every routing switch point in one table: each [[Routing]] decision at
  * threshold − 1, threshold and threshold + 1, with the comparison sense
  * its operator has always used (a `<=` cap keeps the small route AT the
  * threshold, a `>=` gate takes the large route there). The operator
  * specs prove each route ≡ its twin through the forced-route argument;
  * this table proves where the router switches. */
class RoutingSpec extends AnyFunSuite {

  // (threshold name, its value, decision, large route AT the threshold?)
  private val table: Seq[(String, Long, Long => Boolean, Boolean)] = Seq(
    ("bpeLocalMaxTypes", Routing.bpeLocalMaxTypes, Routing.bpeOnExecutors, false),
    ("maxBroadcastGrams", Routing.maxBroadcastGrams, Routing.gramSketch, false),
    ("maxBroadcastDomains", Routing.maxBroadcastDomains, Routing.domainSketch, false),
    ("wideThreshold", Routing.wideThreshold, Routing.simhashWide, true),
    ("hierThreshold", Routing.hierThreshold, Routing.ivfHier, true),
    ("ccLocalMaxEdges", Routing.ccLocalMaxEdges, Routing.ccOnExecutors, false),
    ("lmShuffleHashMinDocs", Routing.lmShuffleHashMinDocs, Routing.lmShuffleHash, false))

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
    val (large, jobs) = countingJobs(Routing.smallSide(Routing.Large, df, 1L)(_ => false))
    assert(large.isEmpty && jobs == 0, s"forced large route ran $jobs jobs")
    assert(Routing.smallSide(Routing.Small, df, 1L)(_ => true).map(_.length) == Some(6))
    assert(Routing.smallSide(Routing.Auto, df, 6L)(_ > 6L).map(_.length) == Some(6))
    assert(Routing.smallSide(Routing.Auto, df, 6L)(_ > 5L).isEmpty)
    assert(Routing.smallSide(Routing.Auto, df, 5L)(_ => false).isEmpty)
  }
}
