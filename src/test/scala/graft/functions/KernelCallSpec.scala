package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.SparkSpecBase

/** Every engine kernel, table-driven, through real plans over a
  * checkpointed (non-local) input, so the optimizer cannot fold the
  * projection away: the same rows with whole-stage code generation forced
  * on and with code generation off, null in → null out, `IsNotNull`
  * inference through the kernel, and the unaliased column name each
  * kernel has always had. */
class KernelCallSpec extends SparkSpecBase {
  import spark.implicits._
  import GraftFunctions._

  /** Row 2 nulls every second argument; row 3 nulls everything. */
  private lazy val in: DataFrame = {
    GraftFunctions.register(spark)
    Seq(
      (1, Some("key-1 héllo  42!"), Some(Seq("the", "cat", "the", "hat")),
        Some(Seq(1f, 2f, 3f)), Some(Seq(3f, 2f, 1f)), Some(7L), Some(12L),
        Some(3), Some(5), Some(Seq[Byte](1, -2, 3)), Some(Seq[Byte](4, 5, -6)),
        Some(Seq(1L, 3L, 5L)), Some(Seq(3L, 5L, 9L))),
      (2, Some(" a  b "), Some(Seq("a")), Some(Seq(0f, 1f)), None, Some(-1L),
        None, Some(0), None, Some(Seq[Byte](2)), None, Some(Seq[Long]()), None),
      (3, None, None, None, None, None, None, None, None, None, None, None,
        None)
    ).toDF("id", "s", "toks", "v", "w", "a", "b", "x", "y", "c1", "c2", "h1",
      "h2").repartition(2).localCheckpoint()
  }

  private lazy val bloom = {
    val b = BloomFilter.create(100, 0.01); b.putString("key-1 héllo  42!"); b
  }
  private lazy val bloomLong = {
    val b = BloomFilter.create(100, 0.01); b.putLong(7L); b
  }
  private lazy val bank = new CentroidBank(Array(1L, 2L),
    Array(Array(1f, 0f, 0f), Array(0f, 1f, 0f)))
  private lazy val hier = new HierCentroidBank(bank,
    Array(new CentroidBank(Array(1L), Array(Array(1f, 0f, 0f))),
      new CentroidBank(Array(2L), Array(Array(0f, 1f, 0f)))), 1)

  /** (unaliased column name, kernel column) — every GraftFunctions kernel
    * plus the SQL-only `graft_murmur2`. */
  private lazy val kernels: Seq[(String, Column)] = Seq(
    "murmur2mod(s)" -> murmur2Mod(col("s"), 8),
    "murmur2(s)" -> expr("graft_murmur2(s)"),
    "cosinesimilarity(v, w)" -> cosineSimilarity(col("v"), col("w")),
    "minhashsignature(toks)" -> minhash(col("toks"), 4),
    "minhashshingles(toks)" -> minhashShingles(col("toks"), 2, 4),
    "simhash64(toks)" -> simhash(col("toks")),
    "simhashmd5(toks)" -> simhashMd5(col("toks")),
    "rollingfingerprint(s)" -> fingerprint(col("s")),
    "zorder62(x, y)" -> zOrder(col("x"), col("y")),
    "hammingdistance64(a, b)" -> hamming(col("a"), col("b")),
    "stopwordhits(toks)" -> stopwordHits(col("toks"), Seq("the", "a", "the")),
    "subwordcount(s)" -> subwordCount(col("s")),
    "bpesymbolpad(s)" -> bpeSymbolPad(col("s")),
    "collapsespaces(s)" -> collapseSpaces(col("s")),
    "spacecount(s)" -> spaceCount(col("s")),
    "ngramrepetition(toks)" -> ngramRepetition(col("toks"), 2),
    "repetitioncounts(toks)" -> repetitionCounts(col("toks")),
    "nearestcentroidid(v)" -> nearestCentroidId(col("v"), bank),
    "nearestcentroididhier(v)" -> nearestCentroidIdHier(col("v"), hier),
    "int8scale(v)" -> int8Scale(col("v")),
    "int8codes(v)" -> int8Codes(col("v")),
    "int8dot(c1, c2)" -> int8Dot(col("c1"), col("c2")),
    "hyperplanesimhash(v)" -> hyperplaneSimhash(col("v"), 16),
    "tokensethash(toks)" -> tokenSetHash(col("toks")),
    "bloommightcontain(s)" -> bloomMightContain(col("s"), bloom),
    "bloommightcontainlong(a)" -> bloomMightContainLong(col("a"), bloomLong),
    "jaccardsorted(h1, h2)" -> jaccardSorted(col("h1"), col("h2")))

  private def dataCols(name: String): Seq[String] =
    name.substring(name.indexOf('(') + 1, name.length - 1).split(", ").toSeq

  private val modes = Seq(
    "CODEGEN_ONLY" -> Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false"),
    "NO_CODEGEN" -> Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (id → kernel value) under one mode, asserting the mode's plan shape. */
  private def run(mode: String, conf: Map[String, String],
                  k: Column): Map[Int, Any] = withConf(conf) {
    val df = in.select(col("id"), k.as("out"))
    val rows = df.collect()
    val fused = df.queryExecution.executedPlan.collectFirst {
      case w: WholeStageCodegenExec => w
    }.isDefined
    assert(fused == (mode == "CODEGEN_ONLY"),
      s"$mode: whole-stage codegen ${if (fused) "present" else "absent"}")
    rows.map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.get(1)))
      .toMap
  }

  test("every kernel gives the same rows with and without code generation") {
    for ((name, k) <- kernels) {
      val Seq(gen, interp) = modes.map { case (m, c) => run(m, c, k) }
      assert(gen == interp, s"$name: codegen $gen vs interpreted $interp")
      assert(gen(1) != null, s"$name: null on a row without nulls")
    }
  }

  test("every kernel inside a higher-order-function lambda matches its flat value") {
    // a lambda body is always evaluated interpreted, codegen on or off
    val (mode, conf) = modes.head
    for ((name, k) <- kernels) {
      val flat = run(mode, conf, k)
      val inLambda = run(mode, conf,
        element_at(transform(array(col("id")), i => when(i > 0, k)), 1))
      assert(inLambda == flat, s"$name: in a lambda $inLambda vs flat $flat")
    }
  }

  test("a null data argument gives null, in both modes") {
    for ((name, k) <- kernels; (mode, conf) <- modes) {
      val got = run(mode, conf, k)
      assert(got(3) == null, s"$name under $mode: ${got(3)} on all-null input")
      if (dataCols(name).size == 2)
        assert(got(2) == null,
          s"$name under $mode: ${got(2)} with its second argument null")
    }
  }

  test("a filter on every kernel infers isnotnull of its data inputs") {
    for ((name, k) <- kernels) {
      val inferred = in.filter(k.isNotNull).queryExecution.optimizedPlan
        .collect { case f: Filter => f.condition }
        .flatMap(_.collect { case IsNotNull(a: Attribute) => a.name })
      for (c <- dataCols(name))
        assert(inferred.contains(c), s"$name: no isnotnull($c) in $inferred")
    }
  }

  test("every kernel keeps its unaliased column name") {
    for ((name, k) <- kernels)
      assert(in.select(k).columns.toSeq == Seq(name))
  }

  test("murmur2Mod rejects n <= 0 when the column is built") {
    // n = 0 would throw `/ by zero` inside every task
    for (n <- Seq(0, -4))
      intercept[IllegalArgumentException](murmur2Mod(col("s"), n))
  }

  test("the SQL builders keep the column entries' argument checks") {
    GraftFunctions.register(spark)
    val e = intercept[Exception](
      spark.sql("SELECT graft_ngram_rep(array('a', 'b'), 0)").collect())
    assert(e.getMessage.contains("requirement failed"), e.getMessage)
  }
}
