package graft.operators

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
