package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** Column-level behavior of the custom Catalyst expressions, through real
  * Spark plans (so both codegen and eval paths are exercised).
  */
class ExpressionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("cosineSimilarity: identical=1, orthogonal=0, known value") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),   // same → 1
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),   // orthogonal → 0
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),   // 32/(sqrt(14)*sqrt(77))
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f))    // zero vector → 0
    ).toDF("a", "b")
    val got = df.select(
      round(GraftFunctions.cosineSimilarity($"a", $"b"), 6).as("c"))
      .as[Double].collect().toSeq
    val expected3 = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(got == Seq(1.0, 0.0, math.rint(expected3 * 1e6) / 1e6, 0.0))
  }

  test("murmur2Mod column stays in range and is stable across plans") {
    val df = (0 until 1000).map(i => s"key-$i").toDF("k")
    val a = df.select(GraftFunctions.murmur2Mod($"k", 32).as("m"))
      .as[Int].collect()
    assert(a.forall(m => m >= 0 && m < 32))
    // same values through a different (non-codegen-fused) plan shape
    val b = df.repartition(7).select(
      GraftFunctions.murmur2Mod($"k", 32).as("m")).as[Int].collect()
    assert(a.sorted.toSeq == b.sorted.toSeq)
  }

  test("sql registration: graft_cosine / graft_hamming work in SQL text") {
    GraftFunctions.register(spark)
    Seq((Array(1f, 2f), Array(2f, 4f))).toDF("a", "b")
      .createOrReplaceTempView("v")
    val c = spark.sql("SELECT round(graft_cosine(a, b), 6) c FROM v")
      .as[Double].head()
    assert(c == 1.0)
    val h = spark.sql("SELECT graft_hamming(7, 0) h").as[Int].head()
    assert(h == 3)
    val z = spark.sql("SELECT graft_zorder(3, 3) z").as[Long].head()
    assert(z == 15L)
    val sm = spark.sql(
      "SELECT graft_simhash_md5(array('hello')) s").as[Long].head()
    assert(sm == graft.functions.GraftHash.simHashMd5_60(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](org.apache.spark.unsafe.types.UTF8String
          .fromString("hello")))))
    val rep = spark.sql(
      "SELECT round(graft_ngram_rep(array('a','b','a','b','a','b'), 2), 4) r")
      .as[Double].head()
    assert(rep == 0.6, s"graft_ngram_rep gave $rep") // 2 distinct of 5 grams
  }

  test("minhash column: equal inputs → equal signatures") {
    val df = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b", "c")),
      (3L, Seq("x", "y", "z"))).toDF("id", "toks")
    val sigs = df.select($"id", GraftFunctions.minhash($"toks", 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).length == 16)
  }

  test("fingerprint/simhash columns run end-to-end") {
    val r = Seq("the quick brown fox").toDF("t").select(
      GraftFunctions.fingerprint($"t").as("fp"),
      GraftFunctions.simhash(split($"t", " ")).as("sh"))
      .as[(Long, Long)].head()
    assert(r._1 == GraftHash.rollingFingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString("the quick brown fox")))
  }
}

class GraftExtensionsSpec extends SparkSpecBase {
  test("GraftExtensions wires all five functions without error") {
    // pins the injection wiring alone; the test below resolves the names
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
  }

  test("a session built with GraftExtensions resolves every name " +
    "register provides") {
    import org.apache.spark.sql.SparkSession
    val registered = spark.newSession()
    GraftFunctions.register(registered)
    val names = registered.catalog.listFunctions().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet
    assert(names.nonEmpty)
    // a fresh session on the shared context, its functions coming from
    // the extension alone
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val withExt =
      try SparkSession.builder()
        .withExtensions(new graft.GraftExtensions()).getOrCreate()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    assert(withExt ne spark)
    val missing = names.filterNot(withExt.catalog.functionExists)
    assert(missing.isEmpty, s"names register provides but the " +
      s"extension does not: $missing")
    assert(withExt.sql("SELECT graft_zorder(3, 3)").head().getLong(0) == 15L)
  }
}

class CollectSmallestSpec extends SparkSpecBase {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import GraftFunctions.collectSmallest

  test("keeps exactly the k smallest per group, under partial aggregation") {
    // ids arrive shuffled over 4 partitions so map-side partials must merge
    val df = scala.util.Random.shuffle((0 until 100).toList)
      .map(i => (i % 3, i.toLong)).toDF("g", "id").repartition(4)
    val got = df.groupBy("g")
      .agg(sort_array(collectSmallest(col("id"), 5)).as("ids"))
      .as[(Int, Seq[Long])].collect().toMap
    for (g <- 0 until 3)
      assert(got(g) == (0 until 100).filter(_ % 3 == g).map(_.toLong).take(5),
        s"group $g kept ${got(g)}")
  }

  test("equals the row_number window form on struct payloads (the cap contract)") {
    val df = (0 until 200).map(i =>
      (i % 4, 199L - i, s"payload$i")).toDF("b", "id", "pl").repartition(3)
    val winForm = df
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
          .orderBy(col("id").asc)))
      .filter(col("rn") <= 7)
      .groupBy("b").agg(sort_array(collect_list(struct(col("id"), col("pl"))))
        .as("ms"))
    val aggForm = df.groupBy("b")
      .agg(sort_array(collectSmallest(struct(col("id"), col("pl")), 7))
        .as("ms"))
    val w = winForm.as[(Int, Seq[(Long, String)])].collect().toMap
    val a = aggForm.as[(Int, Seq[(Long, String)])].collect().toMap
    assert(a == w)
    assert(a.values.forall(_.size == 7))
  }

  test("groups smaller than k pass through whole") {
    val df = Seq((1, 10L), (1, 5L), (2, 7L)).toDF("g", "id")
    val got = df.groupBy("g")
      .agg(sort_array(collectSmallest(col("id"), 100)).as("ids"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(got == Map(1 -> Seq(5L, 10L), 2 -> Seq(7L)))
  }

  test("BpeSymbolPad/CollapseSpaces/SpaceCount match the regex forms " +
      "byte-exactly (incl. multi-byte, supplementary, odd whitespace)") {
    // differential against the regex pipeline the kernels replaced — run
    // IN Spark so java.util.regex is the reference engine, same as the
    // pre-kernel plan (DuckDB/RE2 parity stays pinned by the oracle)
    val tricky = Seq("", "a", "ab", "a b", "  a  b  ", "a\tb", "\t",
      "a\nbc\fd\re", "héllo wörld", "日本語 テスト", "a😀b",
      "😀😀", " a ", "a  ", "  a", "ß", "é́")
    val pieces = Seq("a", "b", " ", "  ", "\t", "\n", "", "\f", "\r",
      "é", "日", "😀", "ç")
    val rnd = new scala.util.Random(7)
    val rand = (1 to 300).map(_ =>
      (0 until rnd.nextInt(30)).map(_ => pieces(rnd.nextInt(pieces.length)))
        .mkString)
    val df = (tricky ++ rand).toDF("s")
    val rows = df.select(
      GraftFunctions.bpeSymbolPad($"s").as("pad_k"),
      concat(lit(" "), regexp_replace($"s", "(\\S)", "$1  ")).as("pad_r"))
      .select(col("pad_k"), col("pad_r"),
        GraftFunctions.collapseSpaces($"pad_k").as("col_k"),
        trim(regexp_replace($"pad_r", " +", " ")).as("col_r"))
      .select(col("pad_k"), col("pad_r"), col("col_k"), col("col_r"),
        GraftFunctions.spaceCount($"col_k").as("sc_k"),
        (length($"col_r") -
          length(regexp_replace($"col_r", " ", ""))).as("sc_r"))
      .as[(String, String, String, String, Int, Int)].collect()
    rows.foreach { case (padK, padR, colK, colR, scK, scR) =>
      assert(padK == padR, s"pad mismatch: ${padK.getBytes("UTF-8").toSeq}" +
        s" vs ${padR.getBytes("UTF-8").toSeq}")
      assert(colK == colR, s"collapse mismatch: $colK vs $colR")
      assert(scK == scR, s"spaceCount mismatch: $scK vs $scR on '$colK'")
    }
  }
}
