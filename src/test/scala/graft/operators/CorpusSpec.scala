package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class CorpusSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = (0L until 1000L).map(i =>
    (i, if (i % 4 == 0) "en" else "de",
      (0 until 10).map(j => s"w${i}_$j").mkString(" ")))
    .toDF("doc_id", "lang", "text")

  test("hashSample is deterministic and rate-accurate") {
    val a = Corpus.hashSample(docs, col("doc_id"), 0.2, "s")
      .select("doc_id").as[Long].collect().toSet
    val b = Corpus.hashSample(docs.repartition(13), col("doc_id"), 0.2, "s")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    assert(math.abs(a.size - 200) < 60, s"rate off: ${a.size}/1000 at 0.2")
    // different salt draws an (almost surely) different sample
    val c = Corpus.hashSample(docs, col("doc_id"), 0.2, "other")
      .select("doc_id").as[Long].collect().toSet
    assert(a != c)
  }

  test("stratifiedHashSample applies per-stratum rates") {
    val r = Corpus.stratifiedHashSample(docs, col("doc_id"), col("lang"),
        rates = Map("en" -> 1.0), defaultRate = 0.0)
      .select("lang").as[String].collect()
    assert(r.toSet == Set("en") && r.length == 250)
  }

  test("mix tags sources and draws independent samples") {
    val m = Corpus.mix(Seq(
        ("a", docs, 1.0), ("b", docs, 0.5)), col("doc_id"))
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(m("a") == 1000L)
    assert(math.abs(m("b") - 500L) < 80, s"got ${m("b")}")
  }

  test("mix upsamples rates above 1 as whole epochs + fractional draw") {
    val m = Corpus.mix(Seq(("a", docs, 2.5)), col("doc_id"))
    val byEpoch = m.groupBy("epoch").count()
      .as[(Int, Long)].collect().toMap
    assert(byEpoch(0) == 1000L && byEpoch(1) == 1000L, byEpoch.toString)
    assert(math.abs(byEpoch(2) - 500L) < 80, byEpoch.toString)
    // full epochs carry every doc; the fractional epoch is a strict,
    // deterministic subset
    val e2 = m.filter(col("epoch") === 2)
      .select("doc_id").as[Long].collect().toSet
    val again = Corpus.mix(Seq(("a", docs.repartition(9), 2.5)),
        col("doc_id"))
      .filter(col("epoch") === 2).select("doc_id").as[Long].collect().toSet
    assert(e2 == again, "fractional epoch must be partitioning-stable")
    // rate 0 mixes a source out without breaking the union
    val z = Corpus.mix(Seq(("a", docs, 1.0), ("gone", docs, 0.0)),
      col("doc_id"))
    assert(z.filter(col("source") === "gone").count() == 0)
    assert(z.count() == 1000L)
  }

  test("chunkTokens windows with overlap, last chunk short") {
    val one = Seq((7L, "en", (1 to 25).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val r = Corpus.chunkTokens(one, col("doc_id"), col("text"),
        chunkSize = 10, stride = 8)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_text", "chunk_len", "n_tok")
      .as[(Int, String, Int, Int)].collect()
    // starts 0,8,16,24 over 25 tokens
    assert(r.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(r.forall(_._4 == 25))
    assert(r(0)._2.startsWith("t1 t2") && r(0)._3 == 10)
    assert(r(1)._2.startsWith("t9 ") && r(1)._3 == 10)
    assert(r(3)._2 == "t25" && r(3)._3 == 1)
  }

  test("groupSample takes exactly k per stratum, stable under repartition") {
    val base = Corpus.groupSample(docs, col("doc_id"), col("lang"), k = 3)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    val sizes = base.groupBy(_._2).map { case (l, s) => l -> s.size }
    assert(sizes.values.forall(_ == 3), s"per-stratum sizes: $sizes")
    // identical selection regardless of physical layout
    val shuffled = Corpus.groupSample(docs.repartition(13), col("doc_id"),
      col("lang"), k = 3).select("doc_id", "lang")
      .as[(Long, String)].collect().toSet
    assert(shuffled == base)
  }

  test("tfidfTopTerms ranks rare terms above ubiquitous ones") {
    val corpus = Seq(
      (1L, "common common zebra"),
      (2L, "common yak yak"),
      (3L, "common emu")).toDF("doc_id", "text")
    val r = Corpus.tfidfTopTerms(corpus, col("doc_id"), col("text"), k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // 'common' appears in every doc -> idf = ln(1) = 0; the doc-unique
    // term must win in each document
    assert(r == Map(1L -> "zebra", 2L -> "yak", 3L -> "emu"))
  }

  test("bm25TopK matches the hand-computed Okapi formula") {
    val corpus = Seq(
      (1L, "spark spark streams"),       // tf(spark)=2, dl=3
      (2L, "spark joins tables windows"),// tf(spark)=1, dl=4
      (3L, "ducks geese swans")).toDF("doc_id", "text")
    val queries = Seq((0, Seq("spark"))).toDF("query_id", "kws")
    val got = Corpus.bm25TopK(corpus, col("doc_id"), col("text"), queries)
      .select("doc_id", "score", "rank").as[(Long, Double, Int)]
      .collect().sortBy(_._3)
    def bm25(tf: Double, dl: Double): Double = {
      val idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0) // N=3, df=2
      val avgdl = 10.0 / 3
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    }
    def r4(x: Double): Double = // Spark round() is HALF_UP
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = Seq(1L -> r4(bm25(2, 3)), 2L -> r4(bm25(1, 4)))
    assert(got.map(r => r._1 -> r._2).toSeq == expect &&
      got.map(_._3).toSeq == Seq(1, 2),
      s"got ${got.toSeq}, want $expect")
  }

  test("bm25TopK matches a driver-side reference on random corpora (seeded)") {
    val rnd = new scala.util.Random(777L)
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
    for (trial <- 1 to 3) {
      val nDocs = 30 + rnd.nextInt(30)
      val corpus = (0 until nDocs).map { i =>
        val len = 1 + rnd.nextInt(12)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // 4 keyword slots (duplicates possible): with >2 contributions the
      // IEEE sum order matters, exercising the sorted-fold contract
      val kws = Seq.fill(4)(vocab(rnd.nextInt(vocab.size)))
      val got = Corpus.bm25TopK(corpus.toDF("doc_id", "text"),
          col("doc_id"), col("text"), Seq((0, kws)).toDF("query_id", "kws"),
          k = 10)
        .select("doc_id", "score", "rank")
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
      // reference: same formula, same operation order, driver-side
      val toks = corpus.map { case (id, t) => id -> t.split("\\s+").toSeq }
      val n = toks.size.toLong
      val avgdl = toks.map(_._2.size.toLong).sum.toDouble / toks.size
      val dfm = kws.distinct.map(t =>
        t -> toks.count(_._2.contains(t)).toLong).toMap
      def r4(x: Double): Double =
        BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val expect = toks.flatMap { case (id, ts) =>
        val dl = ts.size.toLong
        // one contribution per kw slot, summed in SORTED term order — the
        // operator's documented fold order (bit-exact across engines)
        val terms = kws.filter(ts.contains).sorted
        if (terms.isEmpty) None
        else Some(id -> r4(terms.map { t =>
          val tf = ts.count(_ == t).toLong
          val df = dfm(t)
          math.log((n - df + 0.5) / (df + 0.5) + 1.0) *
            (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        }.sum))
      }.sortBy { case (id, s) => (-s, id) }.take(10)
        .zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }
      assert(got == expect, s"trial $trial (kws=$kws): $got vs $expect")
    }
  }

  test("bm25TopK gates corpus tokens behind a broadcast semi join") {
    val queries = Seq((0, Seq("w1_1", "w2_2"))).toDF("query_id", "kws")
    val plan = Corpus.bm25TopK(docs, col("doc_id"), col("text"), queries)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"),
      s"query-term semi join must broadcast (corpus text stays local):\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k must plant a WindowGroupLimit:\n$plan")
  }

  test("chunkTokens emits zero chunks for empty/whitespace-only docs") {
    // split("") yields [""]; without the zero-token guard an empty doc
    // would fabricate one empty chunk with chunk_len=1 (ADVICE r2)
    val mixed = Seq((1L, ""), (2L, "   "), (3L, "a b c"))
      .toDF("doc_id", "text")
    val r = Corpus.chunkTokens(mixed, col("doc_id"), col("text"), 10, 10)
      .select("doc_id").as[Long].collect()
    assert(r.toSeq == Seq(3L), s"expected only doc 3, got ${r.toSeq}")
  }

  test("non-overlapping chunks reconstruct every document exactly") {
    // stride == chunkSize -> concatenating chunks in order gives the doc
    val r = Corpus.chunkTokens(docs, col("doc_id"), col("text"),
        chunkSize = 4, stride = 4)
    import org.apache.spark.sql.expressions.Window
    val rebuilt = r
      .groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        sort_array(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        x => x.getField("chunk_text"))).as("rebuilt"))
    val joined = docs.join(rebuilt, "doc_id")
      .filter(trim(col("text")) =!= col("rebuilt"))
    assert(joined.count() == 0, "chunk reconstruction mismatch")
    // total chunk_len == token count
    val tok = r.groupBy("doc_id").agg(sum("chunk_len").as("s"),
      first("n_tok").as("n")).filter(col("s") =!= col("n"))
    assert(tok.count() == 0)
  }

  test("stateless corpus ops compose with Structured Streaming unchanged") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = MemoryStream[(Long, String)](spark)
    val streamDocs = s.toDF().toDF("doc_id", "text")
    // same hash-sample + chunk pipeline, driven by a stream
    val out = Corpus.chunkTokens(
      Corpus.hashSample(streamDocs, col("doc_id"), 0.5, "s"),
      col("doc_id"), col("text"), chunkSize = 3, stride = 3)
    val q = out.writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      s.addData((0L until 100L).map(i =>
        (i, (1 to 7).map(j => s"w${i}_$j").mkString(" "))): _*)
      q.processAllAvailable()
      val rows = spark.table("corpus_stream")
      val sampledIds = rows.select("doc_id").distinct().as[Long].collect().toSet
      // the stream sample equals the batch sample for identical input
      val batchIds = Corpus.hashSample(
          (0L until 100L).toDF("doc_id"), col("doc_id"), 0.5, "s")
        .as[Long].collect().toSet
      assert(sampledIds == batchIds)
      // 7 tokens at chunkSize=stride=3 -> 3 chunks per sampled doc
      assert(rows.count() == batchIds.size * 3)
    } finally q.stop()
  }

  test("decontaminate drops exactly the docs sharing an eval n-gram") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // contains planted 3-gram
      (2L, "zeta eta theta iota kappa"),           // clean
      (3L, "one two beta gamma delta three"),      // planted 3-gram mid-doc
      (4L, "beta gamma epsilon delta"),            // shares words, NOT the 3-gram
      (5L, "xx"),                                  // shorter than n
      (6L, "")                                     // empty
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "prefix beta gamma delta suffix"))
      .toDF("doc_id", "text")
    val kept = Corpus.decontaminate(train, col("doc_id"), col("text"),
        eval, col("text"), n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 5L, 6L))
    // n longer than every doc: nothing matches, nothing dropped
    val all = Corpus.decontaminate(train, col("doc_id"), col("text"),
        eval, col("text"), n = 40)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("decontaminateBloom == decontaminate exactly, even at hostile fpp") {
    // the Bloom is only a prefilter: false positives die in the exact
    // semi-join, and false negatives don't exist — so the output must be
    // IDENTICAL to the exact form at any fpp, including one so sloppy
    // (0.49) that the join sees plenty of junk to reject
    val exact = Corpus.decontaminate(
        docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 7 === 0), col("text"), n = 3,
        route = Routing.Small)
      .select("doc_id").as[Long].collect().toSet
    for (fpp <- Seq(0.01, 0.49)) {
      val bloomed = Corpus.decontaminate(
          docs.filter(col("doc_id") % 7 =!= 0), col("doc_id"), col("text"),
          docs.filter(col("doc_id") % 7 === 0), col("text"), n = 3,
          fpp = fpp, route = Routing.Large)
        .select("doc_id").as[Long].collect().toSet
      assert(bloomed == exact, s"fpp=$fpp diverged: " +
        s"only-bloom=${bloomed.diff(exact)} only-exact=${exact.diff(bloomed)}")
    }
  }

  test("decontaminateBloom with zero eval grams returns train unchanged") {
    // bloom_filter_agg over an empty input yields a null buffer — without
    // the short-circuit BloomFilter.readFrom(null) throws. The contract is
    // identity with the exact form, which keeps everything here.
    val train = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    // empty eval frame
    val emptyEval = train.filter(col("doc_id") < 0)
    val k1 = Corpus.decontaminate(train, col("doc_id"), col("text"),
        emptyEval, col("text"), n = 3, route = Routing.Large)
      .select("doc_id").as[Long].collect().toSet
    assert(k1 == Set(1L, 2L))
    // non-empty eval, but every doc shorter than n tokens -> zero grams
    val shortEval = Seq((9L, "x y")).toDF("doc_id", "text")
    val k2 = Corpus.decontaminate(train, col("doc_id"), col("text"),
        shortEval, col("text"), n = 3, route = Routing.Large)
      .select("doc_id").as[Long].collect().toSet
    assert(k2 == Set(1L, 2L))
  }

  test("decontaminateBloom probes map-side: the bloom filter precedes any join") {
    val plan = Corpus.decontaminate(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 10), col("text"), n = 3,
        route = Routing.Large)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloommightcontain"),
      s"expected the BloomMightContain prefilter in the plan:\n$plan")
    // the prefilter must sit UNDER the semi-join (filter before join), so
    // the join's streamed side is already bloom-thinned
    val joinIdx = plan.indexOf("LeftSemi")
    val bloomIdx = plan.indexOf("bloommightcontain")
    assert(joinIdx >= 0 && bloomIdx > joinIdx,
      s"bloom probe must be below the semi join in the plan tree:\n$plan")
  }

  test("decontaminate broadcasts the eval grams (training text never shuffles)") {
    // the broadcast route probes each row's gram array against the eval
    // key set map-side: no exchange and no join at all (a range scan, so
    // the optimizer cannot fold the gate into a local relation)
    val scanned = spark.range(0, 1000, 1, 4).select(col("id").as("doc_id"),
      concat_ws(" ", lit("w"), col("id"), lit("x y z")).as("text"))
    val plan = Corpus.decontaminate(scanned, col("doc_id"), col("text"),
        scanned.filter(col("doc_id") < 10), col("text"), n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("keyhits"), s"expected the key-set probe:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the broadcast route must not shuffle or join:\n$plan")
  }

  test("contaminationReport: hand-computed distinct-gram overlap fractions") {
    // eval doc holds grams {a b c, b c d}; train doc 1 shares exactly
    // "a b c" (1 of its 2 distinct grams — the repeat must NOT double-
    // count), doc 2 shares nothing, doc 3 is too short to have any gram
    val eval = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c x a b c"), // grams: {a b c, b c x, c x a, x a b} +dup a b c
      (2L, "p q r s"),
      (3L, "t u")).toDF("doc_id", "text")
    val got = Corpus.contaminationReport(train, col("doc_id"), col("text"),
        eval, col("text"), n = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "n_overlap", "overlap_frac")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 4, 1L, 0.25), // 5 grams, 4 distinct, "a b c" counted once
      (2L, 2, 0L, 0.0),
      (3L, 0, 0L, 0.0))) // shorter than n: reports zeros, never vanishes
  }

  test("contaminationReport broadcasts eval grams; doc text never shuffles") {
    // r12: the probe is a broadcast LEFT OUTER against the (distinct,
    // hit-flagged) eval grams — count(hit) over at-most-one match per
    // distinct gram ≡ the former semi-join count, and carrying n_grams on
    // the exploded stream folds the old sizes branch in, so the corpus is
    // scanned/tokenized ONCE instead of twice
    val qe = Corpus.contaminationReport(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 10), col("text"), n = 3)
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
      s"eval-gram probe must be a broadcast outer join:\n$plan")
    // one corpus pass: the train side's scan+n-gram subtree appears once
    assert("LeftOuter".r.findAllIn(plan).size == 1,
      s"exactly one probe join expected:\n$plan")
  }

  test("bpePairCounts: hand-computed counts, tie-break, 1-char words") {
    // "abab" -> ab, ba, ab; "ab" -> ab; "x" -> nothing (1-char word);
    // "ba" -> ba. Totals: ab=3, ba=2. Tie-break: "zz zz" adds zz=2,
    // which must sort AFTER ba at equal count (pair asc).
    val docs = Seq("abab ab x", "ba zz zz").toDF("text")
    val got = Corpus.bpePairCounts(docs, col("text"), topK = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("ab", 3L), ("ba", 2L), ("zz", 2L)))
  }

  test("bpePairCounts: top-K is a partial top-K, not a global sort") {
    val plan = Corpus.bpePairCounts(docs, col("text"), topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be TakeOrderedAndProject:\n$plan")
  }

  test("piiRedact: typed placeholders, per-category attribution") {
    val docs = Seq(
      (1L, "write to a.b@c.de or ops@x-corp.io from 192.168.0.1"),
      (2L, "call 555-123-4567 twice 555-123-4567"),
      (3L, "no pii here at all"),
      // an @ before a numeric host is NOT an email (the pattern demands an
      // alphabetic TLD — no PII regex treats raw IPs as mail hosts); both
      // dotted quads redact as IPs instead
      (4L, "root@10.0.0.1 then 10.0.0.2")).toDF("doc_id", "text")
    val got = Corpus.piiRedact(docs, col("doc_id"), col("text"))
      .select("doc_id", "n_email", "n_ip", "n_phone", "clean_text")
      .as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2, 1, 0,
      "write to |||EMAIL||| or |||EMAIL||| from |||IP|||")))
    assert(got(2L) == ((2L, 0, 0, 2,
      "call |||PHONE||| twice |||PHONE|||")))
    assert(got(3L) == ((3L, 0, 0, 0, "no pii here at all")))
    assert(got(4L) == ((4L, 0, 2, 0, "root@|||IP||| then |||IP|||")))
  }

  test("piiRedact: map-only plan — no exchange, stays in codegen") {
    val plan = Corpus.piiRedact(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"PII redaction must not shuffle:\n$plan")
  }

  test("dsirSample: hand-computed importance weights") {
    // raw: x appears 2x (doc 1), y once (doc 2); target: x once.
    // vocab = {x,y}, nr = 3, nt = 1, k = 0.5:
    //   lw(x) = round(ln(1.5/2),6) - round(ln(2.5/4),6)  = 0.182322
    //   lw(y) = round(ln(0.5/2),6) - round(ln(1.5/4),6)  = -0.405465
    val raw = Seq((1L, "x x"), (2L, "y")).toDF("doc_id", "text")
    val target = Seq((100L, "x")).toDF("doc_id", "text")
    val got = Corpus.dsirSample(raw, col("doc_id"), col("text"),
        target, col("text"), topK = 2, salt = "t")
      .select("doc_id", "logw").as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - 0.364644) < 1e-9, s"doc1 logw ${got(1L)}")
    assert(math.abs(got(2L) + 0.405465) < 1e-9, s"doc2 logw ${got(2L)}")
  }

  test("dsirSample: deterministic across layouts, topK bound, target bias") {
    val target = docs.filter(col("doc_id") % 7 === 0)
    val raw = docs.filter(col("doc_id") % 7 =!= 0)
    val a = Corpus.dsirSample(raw.repartition(1), col("doc_id"),
        col("text"), target, col("text"), topK = 5, salt = "s")
      .collect().map(_.toSeq).toSeq
    val b = Corpus.dsirSample(raw.repartition(13, col("doc_id")),
        col("doc_id"), col("text"), target, col("text"), topK = 5,
        salt = "s")
      .collect().map(_.toSeq).toSeq
    assert(a == b, "digest scoring must not depend on partition layout")
    assert(a.size == 5)
  }

  test("decontaminate composes with a streaming source via foreachBatch") {
    // decontaminate's sketch route anti-joins its matched ids back, which
    // on a streaming frame would be a stream-STREAM anti join that Spark
    // rejects (the broadcast route is a plain filter); the supported
    // composition for per-batch exact ops on either route is foreachBatch
    // — the same pattern GraftPipeline uses for sinks. The operator code
    // runs UNCHANGED on each micro-batch.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = MemoryStream[(Long, String)](spark)
    val streamDocs = s.toDF().toDF("doc_id", "text")
    val eval = Seq((100L, "prefix beta gamma delta suffix"))
      .toDF("doc_id", "text")
    val kept = scala.collection.mutable.Set[Long]()
    val q = streamDocs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        kept.synchronized {
          kept ++= Corpus.decontaminate(batch, col("doc_id"), col("text"),
              eval, col("text"), n = 3)
            .select("doc_id").collect().map(_.getLong(0))
        }: Unit
      }
      .start()
    try {
      s.addData(
        (1L, "alpha beta gamma delta epsilon"), // contaminated
        (2L, "zeta eta theta iota kappa"))      // clean
      q.processAllAvailable()
      assert(kept.synchronized(kept.toSet) == Set(2L))
    } finally q.stop()
  }

  test("lmPerplexity matches the hand-computed add-k bigram model") {
    // corpus: "a b a b" and "a b" -> c(a,b)=3, c(b,a)=1; left counts
    // c(a)=3, c(b)=1; successor vocab V = {a, b} = 2; k = 0.5:
    //   lp(a,b) = ln(3.5 / (3 + 1)) ; lp(b,a) = ln(1.5 / (1 + 1))
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    val r = Corpus.lmPerplexity(docs, col("doc_id"), col("text"), k = 0.5)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lpAB = r6(math.log(3.5 / 4.0))
    val lpBA = r6(math.log(1.5 / 2.0))
    val avg1 = (2 * lpAB + lpBA) / 3.0
    val avg2 = lpAB
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.map(t => (t._1, t._2)) ==
      Seq((1L, 3L), (2L, 1L), (3L, 0L), (4L, 0L)))
    assert(r(0)._3.contains(r6(avg1)) && r(0)._4.contains(r4(math.exp(-avg1))))
    assert(r(1)._3.contains(r6(avg2)) && r(1)._4.contains(r4(math.exp(-avg2))))
    // sub-bigram docs score NULL, never vanish
    assert(r(2)._3.isEmpty && r(3)._3.isEmpty)
  }

  test("halfUpAvg6: exact rational rounding at the .5 boundary") {
    // n=2 with odd slp6 puts the true quotient EXACTLY on the .5
    // rounding boundary — the case where round(double-quotient, 6)
    // diverges between engines (caught at sf100). Integer half-up must
    // round away from zero, both signs, deterministically.
    val rows = Seq((-3L, 2L), (3L, 2L), (-5L, 2L), (-1109489L, 2L),
      (7L, 3L), (-554744L, 3L)).toDF("slp6", "n")
    val got = rows.select(Corpus.halfUpAvg6("slp6", "n").as("q"))
      .as[Long].collect().toSeq
    assert(got == Seq(-2L, 2L, -3L, -554745L, 2L, -184915L))
    val nulls = Seq((Some(3L), None), (None, Some(2L)), (Some(3L), Some(0L)))
      .toDF("slp6", "n")
      .select(Corpus.halfUpAvg6("slp6", "n")).collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("lmPerplexity ranks repetitive text as more probable than rare text") {
    // under a corpus-trained LM, the high-frequency pattern gets lower
    // perplexity than the one-off word salad
    val docs = (Seq((100L, "x y " * 50)) ++
      (0L until 20L).map(i => (i, "x y x y x y")) :+
      (999L, "q w e r t z u i o p")).toDF("doc_id", "text")
    val r = Corpus.lmPerplexity(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(t => t._1 -> t._4).toMap
    assert(r(0L).get < r(999L).get,
      s"frequent pattern must beat word salad: ${r(0L)} vs ${r(999L)}")
  }

  test("weightedHashSample: per-row rates, deterministic, clamped") {
    val docs = (0L until 2000L).map(i => (i, if (i < 1000) 0.1 else 5.0))
      .toDF("doc_id", "rate")
    val kept = Corpus.weightedHashSample(docs, col("doc_id"), col("rate"),
        salt = "t").select("doc_id").as[Long].collect().toSet
    // rate 5.0 clamps to 1.0: ALL high-rate rows kept
    assert((1000L until 2000L).forall(kept.contains))
    val lowKept = kept.count(_ < 1000L)
    assert(lowKept > 50 && lowKept < 200, s"~10% of low-rate rows: $lowKept")
    // deterministic under repartitioning
    val again = Corpus.weightedHashSample(docs.repartition(7), col("doc_id"),
        col("rate"), salt = "t").select("doc_id").as[Long].collect().toSet
    assert(again == kept)
  }

  test("dropBoilerplate removes cross-doc repeated paragraphs in place") {
    val docs = Seq(
      (1L, "cookie banner\nunique alpha\nall rights reserved"),
      (2L, "unique beta\ncookie banner\nall rights reserved"),
      (3L, "cookie banner\nunique gamma"),
      (4L, "all alone here"),                         // untouched
      (5L, "cookie banner\nall rights reserved"),     // pure boilerplate
      (6L, "")                                        // empty doc
    ).toDF("doc_id", "text")
    // "cookie banner" in 4 docs, "all rights reserved" in 3 — both hot at
    // minDocs=3; every "unique *" survives in original order
    val r = Corpus.dropBoilerplate(docs, col("doc_id"), col("text"),
        sep = "\n", minDocs = 3)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, "unique alpha", 3L, 2L),
      (2L, "unique beta", 3L, 2L),
      (3L, "unique gamma", 2L, 1L),
      (4L, "all alone here", 1L, 0L),
      (5L, "", 2L, 2L),
      (6L, "", 1L, 0L)), s"got $r")
    // NB doc 6: the empty string IS its one paragraph, appears in 1 doc
    // (plus doc-internal empties elsewhere would count), stays kept
  }

  test("dropBoilerplate keeps multi-paragraph order and interior repeats") {
    // a paragraph repeated WITHIN one doc but nowhere else is not
    // boilerplate (distinct-doc counting); order is by original index
    val docs = Seq(
      (1L, "x|xx|x|zz"),
      (2L, "yy|zz"),
      (3L, "zz|tail")
    ).toDF("doc_id", "text")
    val r = Corpus.dropBoilerplate(docs, col("doc_id"), col("text"),
        sep = "|", minDocs = 3)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(r == Seq(
      (1L, "x|xx|x", 4L, 1L),
      (2L, "yy", 2L, 1L),
      (3L, "tail", 2L, 1L)), s"got $r")
  }

  test("dropBoilerplate never shuffles paragraph text for the counting") {
    val plan = Corpus.dropBoilerplate(docs, col("doc_id"), col("text"))
      .queryExecution.executedPlan.toString
    // the hot-digest side aggregates md5 digests only; paragraph strings
    // reach an exchange solely in the per-doc reassembly collect
    assert(plan.contains("md5"), s"digest-keyed counting expected:\n$plan")
  }

  test("streaming Bloom decontamination: foreachBatch exact ≡ batch form") {
    // the production twin of decontaminate's sketch route: the eval
    // sketch + gram frame are built ONCE, then every micro-batch is gated
    // exactly — output must equal the BATCH operator's on the same slice
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val slice = Seq(
      (1L, "alpha beta gamma delta epsilon"), // contaminated
      (2L, "zeta eta theta iota kappa"),      // clean
      (3L, "one two beta gamma delta three"), // contaminated mid-doc
      (4L, "beta gamma epsilon delta"),       // shares words, not the 3-gram
      (5L, "xx"))                             // shorter than n
    val eval = Seq((100L, "prefix beta gamma delta suffix"))
      .toDF("doc_id", "text")
    val want = Corpus.decontaminate(slice.toDF("doc_id", "text"),
        col("doc_id"), col("text"), eval, col("text"), n = 3)
      .select("doc_id").as[Long].collect().toSet
    val dc = Corpus.decontaminator(eval, col("text"), n = 3)
    try {
      val s = MemoryStream[(Long, String)](spark)
      val kept = scala.collection.mutable.Set[Long]()
      val q = s.toDF().toDF("doc_id", "text").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          kept.synchronized {
            kept ++= dc.exact(batch, col("doc_id"), col("text"))
              .select("doc_id").collect().map(_.getLong(0))
          }: Unit
        }
        .start()
      try {
        s.addData(slice.take(2): _*)
        q.processAllAvailable()
        s.addData(slice.drop(2): _*) // second micro-batch, same sketch
        q.processAllAvailable()
        assert(kept.synchronized(kept.toSet) == want)
        assert(want == Set(2L, 4L, 5L))
      } finally q.stop()
    } finally dc.close()
  }

  test("streaming Bloom gate: stateless, never leaks, runs unfenced") {
    // the map-only form runs DIRECTLY on the unbounded frame (no
    // foreachBatch): conservative one-sided error — everything
    // contaminated is dropped; kept ⊆ the exact output
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val eval = Seq((100L, "prefix beta gamma delta suffix"))
      .toDF("doc_id", "text")
    // the sketch route, forced: one eval doc would take the key set
    val dc = Corpus.decontaminator(eval, col("text"), n = 3,
      route = Routing.Large)
    try {
      val s = MemoryStream[(Long, String)](spark)
      val q = dc.gate(s.toDF().toDF("doc_id", "text"), col("text"))
        .writeStream.format("memory").queryName("bloom_gate_out").start()
      try {
        s.addData(
          (1L, "alpha beta gamma delta epsilon"), // contaminated
          (2L, "zeta eta theta iota kappa"),      // clean
          (3L, "one two beta gamma delta three")) // contaminated
        q.processAllAvailable()
        val kept = spark.table("bloom_gate_out")
          .select("doc_id").as[Long].collect().toSet
        assert(!kept.contains(1L) && !kept.contains(3L),
          s"contaminated docs must never leak: $kept")
        assert(kept.subsetOf(Set(2L)), s"kept ⊆ exact output: $kept")
      } finally q.stop()
    } finally dc.close()
  }

  test("the decontaminator's key-set gate drops exactly the contaminated rows") {
    // under Auto a small eval set takes the broadcast route, and the
    // stateless gate then probes the exact key set: no clean row is lost
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val eval = Seq((100L, "prefix beta gamma delta suffix"))
      .toDF("doc_id", "text")
    val dc = Corpus.decontaminator(eval, col("text"), n = 3)
    try {
      val s = MemoryStream[(Long, String)](spark)
      val q = dc.gate(s.toDF().toDF("doc_id", "text"), col("text"))
        .writeStream.format("memory").queryName("key_set_gate_out").start()
      try {
        s.addData(
          (1L, "alpha beta gamma delta epsilon"), // contaminated
          (2L, "zeta eta theta iota kappa"),      // clean
          (3L, "one two beta gamma delta three"), // contaminated
          (4L, "beta gamma epsilon delta"))       // clean: no shared 3-gram
        q.processAllAvailable()
        val kept = spark.table("key_set_gate_out")
          .select("doc_id").as[Long].collect().toSet
        assert(kept == Set(2L, 4L))
      } finally q.stop()
      val plan = dc.gate(Seq((1L, "a b c")).toDF("doc_id", "text"), col("text"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("bloommightcontain"), plan)
    } finally dc.close()
  }

  test("bloomDecontaminator with zero eval grams passes everything through") {
    val eval = Seq((9L, "x y")).toDF("doc_id", "text") // all docs < n tokens
    val dc = Corpus.decontaminator(eval, col("text"), n = 3)
    try {
      val train = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
      assert(dc.gate(train, col("text"))
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
      assert(dc.exact(train, col("doc_id"), col("text"))
        .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    } finally dc.close()
  }

  test("decontaminateAuto routes exact vs Bloom on the measured gram count") {
    // eval = 100 docs × 8 distinct 3-grams (per-doc-unique vocabulary)
    // = exactly 800 distinct grams, under the broadcast cap; the switch
    // point itself is pinned in RoutingSpec
    val eval = docs.filter(col("doc_id") % 10 === 0)
    val nGrams = eval.select(explode(
        graft.functions.TextFunctions.wordNGrams(col("text"), 3)).as("g"))
      .distinct().count()
    assert(nGrams == 800L, s"fixture drift: $nGrams grams")
    assert(!Routing.gramSketch(nGrams))
    val exact = Corpus.decontaminate(docs, col("doc_id"), col("text"),
      eval, col("text"), n = 3)
    val bloom = Corpus.decontaminate(docs, col("doc_id"), col("text"),
      eval, col("text"), n = 3, route = Routing.Large)
    val pExact = exact.queryExecution.executedPlan.toString
    val pBloom = bloom.queryExecution.executedPlan.toString
    assert(!pExact.contains("bloommightcontain"),
      s"under the cap the router must take the broadcast branch:\n$pExact")
    assert(pBloom.contains("bloommightcontain"),
      s"the sketch route must probe the Bloom filter:\n$pBloom")
    // routing can change the plan, never the answer
    val a = exact.select("doc_id").as[Long].collect().toSet
    val b = bloom.select("doc_id").as[Long].collect().toSet
    assert(a == b && a.size == 900, s"branch outputs diverged: ${a.size}/${b.size}")
  }

  test("lmScorer: score(corpus) ≡ batch lmPerplexity; unseen text scored") {
    val scorer = Corpus.lmScorer(docs, col("doc_id"), col("text"))
    try {
      // in-corpus scoring must be BIT-identical to the batch operator —
      // the ccnet_gate_stream query builds its ranking on exactly this
      val a = scorer.score(docs, col("doc_id"), col("text"))
        .orderBy("doc_id").collect().toSeq
      val b = Corpus.lmPerplexity(docs, col("doc_id"), col("text"))
        .orderBy("doc_id").collect().toSeq
      assert(a == b)
      // out-of-corpus bigrams take the add-k unseen path: scored, not
      // dropped (the batch operator could only ever see in-corpus text)
      val novel = Seq((9999L, "zzz qqq xxx"), (9998L, "solo"))
        .toDF("doc_id", "text")
      val r = scorer.score(novel, col("doc_id"), col("text"))
        .orderBy(col("doc_id").desc).collect()
      assert(r(0).getLong(1) == 2L && !r(0).isNullAt(2) && !r(0).isNullAt(3))
      assert(r(1).getLong(1) == 0L && r(1).isNullAt(2)) // <2 tokens: NULL
    } finally scorer.close()
  }

  test("ntileBoundaries + ntileGate reproduce ntile labels incl. ties") {
    import org.apache.spark.sql.expressions.Window
    val scored = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 1.0),
      (5L, 2.0), (6L, 2.0), (7L, 3.0), (8L, 3.0)).toDF("id", "v")
    val ranked = scored.withColumn("ntile",
      ntile(3).over(Window.orderBy(col("v"), col("id"))))
    val cuts = Corpus.ntileBoundaries(ranked, col("v"), col("id"),
      col("ntile"), 3)
    // tile 1 = ids 1-3 (ties on v broken by id), tile 2 = 4-6, tile 3 = 7-8
    assert(cuts == Seq((1.0, 3L), (2.0, 6L)), cuts.toString)
    val want = ranked.select(col("id"),
        when(col("ntile") === 1, "a").when(col("ntile") === 2, "b")
          .otherwise("c").as("bucket"))
      .as[(Long, String)].collect().toMap
    val got = Corpus.ntileGate(scored, col("v"), col("id"), cuts,
        Seq("a", "b", "c"))
      .select("id", "bucket").as[(Long, String)].collect().toMap
    assert(got == want, s"$got vs $want")
  }

  test("urlFilter: suffix semantics, allow mode, and the sketch route") {
    val urls = Seq(
      (1L, "https://ads.tracker.example.com/x"), // blocked: subdomain
      (2L, "https://tracker.example.com/y"),     // blocked: exact
      (3L, "https://notbadsite.io/z"),           // kept: suffix-set beats ends-with
      (4L, "https://cdn.badsite.io/q"),          // blocked: under registrable
      (5L, "https://docs.example.com/r"),        // kept: unblocked sibling
      (6L, "http://u:p@BADSITE.IO:8080/s"),      // blocked: case/userinfo/port
      (7L, "not a url")                          // kept: unparseable host
    ).toDF("doc_id", "url")
    val bl = Seq("tracker.example.com", "Badsite.io").toDF("d")
    val kept = Corpus.urlFilter(urls, col("doc_id"), col("url"), bl, col("d"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 5L, 7L), kept.toString)
    val allowed = Corpus.urlFilter(urls, col("doc_id"), col("url"), bl,
        col("d"), mode = "allow")
      .select("doc_id").as[Long].collect().toSet
    assert(allowed == Set(1L, 2L, 4L, 6L), allowed.toString)
    // the sketch route (taken above the broadcast threshold) — plan shape
    // flips, output must not
    val viaBloom = Corpus.urlFilter(urls, col("doc_id"), col("url"), bl,
      col("d"), route = Routing.Large)
    assert(viaBloom.queryExecution.executedPlan.toString
      .contains("bloommightcontain"), "expected the sketch route")
    assert(viaBloom.select("doc_id").as[Long].collect().toSet == kept)
    // empty list: deny keeps everything, allow keeps nothing
    val none = bl.filter(lit(false))
    assert(Corpus.urlFilter(urls, col("doc_id"), col("url"), none,
      col("d")).count() == 7)
    assert(Corpus.urlFilter(urls, col("doc_id"), col("url"), none,
      col("d"), mode = "allow").count() == 0)
  }

  test("urlGate: per-batch gating ≡ batch urlFilter on both routes") {
    val urls = Seq(
      (1L, "https://ads.tracker.example.com/x"),
      (2L, "https://tracker.example.com/y"),
      (3L, "https://notbadsite.io/z"),
      (4L, "https://cdn.badsite.io/q"),
      (5L, "https://docs.example.com/r"),
      (6L, "http://u:p@BADSITE.IO:8080/s"),
      (7L, "not a url")
    ).toDF("doc_id", "url")
    val bl = Seq("tracker.example.com", "Badsite.io").toDF("d")
    val want = Corpus.urlFilter(urls, col("doc_id"), col("url"), bl,
      col("d")).select("doc_id").as[Long].collect().toSet
    // the trained gate applied to two disjoint "micro-batches" must
    // union to the batch verdicts — statelessness is the twin contract
    val gate = Corpus.urlGate(bl, col("d"))
    try {
      val b1 = gate.filter(urls.filter(col("doc_id") <= 3), col("doc_id"),
        col("url")).select("doc_id").as[Long].collect().toSet
      val b2 = gate.filter(urls.filter(col("doc_id") > 3), col("doc_id"),
        col("url")).select("doc_id").as[Long].collect().toSet
      assert((b1 ++ b2) == want, s"$b1 ++ $b2 vs $want")
    } finally gate.close()
    // Bloom route (list over the broadcast threshold): same verdicts
    val gateB = Corpus.urlGate(bl, col("d"), route = Routing.Large)
    try {
      val got = gateB.filter(urls, col("doc_id"), col("url"))
      assert(got.queryExecution.executedPlan.toString
        .contains("bloommightcontain"), "expected the sketch route")
      assert(got.select("doc_id").as[Long].collect().toSet == want)
    } finally gateB.close()
    // empty list: deny keeps every batch row
    val gateN = Corpus.urlGate(bl.filter(lit(false)), col("d"))
    try assert(gateN.filter(urls, col("doc_id"), col("url")).count() == 7)
    finally gateN.close()
  }

  private val routes = Seq(Routing.Small, Routing.Large, Routing.Auto)
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("gates give identical rows on every route; null ids and inputs pinned") {
    // `id` is a key of each frame, so the set probe's row verdicts equal
    // the sketch route's id join-back, null ids included: a null id
    // matches no id, so deny/decontaminate keep it and allow drops it
    val urls = Seq[(Option[Long], Option[String])](
      (Some(1L), Some("https://ads.badsite.io/a")),  // blocked
      (Some(2L), Some("https://docs.example.com/b")), // clean
      (None, Some("https://badsite.io/c")),           // blocked, null id
      (None, Some("https://clean.org/d")),            // clean, null id
      (Some(3L), None),                               // null URL
      (Some(4L), Some("https://BADSITE.IO/e"))        // blocked
    ).toDF("doc_id", "url")
    val bl = Seq("badsite.io", "tracker.example.com").toDF("d")
    val deny = Seq("[2,https://docs.example.com/b]", "[3,null]",
      "[null,https://badsite.io/c]", "[null,https://clean.org/d]")
    val allow = Seq("[1,https://ads.badsite.io/a]", "[4,https://BADSITE.IO/e]")
    for (r <- routes) {
      assert(rowsOf(Corpus.urlFilter(urls, col("doc_id"), col("url"), bl,
        col("d"), route = r)) == deny.sorted, s"deny on $r")
      assert(rowsOf(Corpus.urlFilter(urls, col("doc_id"), col("url"), bl,
        col("d"), mode = "allow", route = r)) == allow.sorted, s"allow on $r")
    }
    val train = Seq[(Option[Long], Option[String])](
      (Some(1L), Some("alpha beta gamma delta")), // contaminated
      (Some(2L), Some("zeta eta theta iota")),    // clean
      (None, Some("one beta gamma delta two")),   // contaminated, null id
      (None, Some("kappa lambda mu nu")),         // clean, null id
      (Some(3L), None)                            // null text
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "prefix beta gamma delta suffix"))
      .toDF("doc_id", "text")
    val kept = Seq("[2,zeta eta theta iota]", "[3,null]",
      "[null,one beta gamma delta two]", "[null,kappa lambda mu nu]")
    for (r <- routes)
      assert(rowsOf(Corpus.decontaminate(train, col("doc_id"), col("text"),
        eval, col("text"), n = 3, route = r)) == kept.sorted, s"route $r")
  }

  test("a broadcast-route url gate is one map-side job over a 500-row batch") {
    val batch = spark.range(0, 500, 1, 4).select(col("id").as("doc_id"),
      concat(lit("https://h"), (col("id") % 7).cast("string"),
        when(col("id") % 3 === 0, lit(".badsite.io/p"))
          .otherwise(lit(".example.com/p"))).as("url"))
    val gate = Corpus.urlGate(Seq("badsite.io", "h1.example.com").toDF("d"),
      col("d"))
    try {
      val gated = gate.filter(batch, col("doc_id"), col("url"))
      val (kept, jobs) = countingJobs(gated.collect())
      assert(jobs == 1, s"expected one job, ran $jobs")
      assert(kept.length == (0L until 500L)
        .count(i => i % 3 != 0 && i % 7 != 1))
      val plan = gated.queryExecution.executedPlan.toString
      assert(plan.contains("keyhits") && plan.contains("2 keys") &&
        !plan.contains("h1.example.com"),
        s"the plan shows the key count, not the keys:\n$plan")
      assert(!plan.contains("Exchange") && !plan.contains("Join"),
        s"the set probe must not shuffle or join:\n$plan")
    } finally gate.close()
  }

  test("a gated frame still runs after its gate's close()") {
    val urls = Seq((1L, "https://a.badsite.io/x"), (2L, "https://ok.org/y"))
      .toDF("doc_id", "url")
    val bl = Seq("badsite.io").toDF("d")
    val train = Seq((1L, "alpha beta gamma delta"), (2L, "zeta eta theta"))
      .toDF("doc_id", "text")
    val eval = Seq((9L, "beta gamma delta")).toDF("doc_id", "text")
    for (r <- routes) {
      // urlFilter and decontaminate close their gate before returning
      val f = Corpus.urlFilter(urls, col("doc_id"), col("url"), bl, col("d"),
        route = r)
      val d = Corpus.decontaminate(train, col("doc_id"), col("text"), eval,
        col("text"), n = 3, route = r)
      val gate = Corpus.urlGate(bl, col("d"), route = r)
      val g = gate.filter(urls, col("doc_id"), col("url"))
      gate.close()
      for (df <- Seq(f, d, g); _ <- 1 to 2)
        assert(df.select("doc_id").as[Long].collect().toSeq == Seq(2L),
          s"route $r")
    }
  }

  test("bpeEncode executes at 256 merges; absent pairs are no-ops") {
    // depth probe for the nested-replace projection at the documented
    // practical bound (256): 3 real merges buried in 253 pairs that never
    // occur — output must equal the 3-merge encode, and the 256-deep
    // expression tree must survive analysis, optimization, and codegen.
    // (512 was observed to StackOverflow Catalyst's Column→Expression
    // recursion DEPENDING ON THREAD stack state — not a safe bound.)
    val real = Seq(("e", "s"), ("es", "t"), ("l", "o"))
    val noops = (1 to 253).map(i => (s"q$i", s"z$i"))
    val docs = Seq((1L, "low"), (2L, "newest"), (3L, "low newest"))
      .toDF("doc_id", "text")
    val want = Corpus.bpeEncode(docs, col("doc_id"), col("text"), real)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    val got = Corpus.bpeEncode(docs, col("doc_id"), col("text"),
        real ++ noops)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(got == want, s"$got vs $want")
  }

  // Sennrich et al. 2016's worked example: vocabulary low/lower/newest/
  // widest. Hand-derived merge sequence with exact weighted counts and
  // the pair-key tie-break at count 9 ("e s" vs "s t") and count 7
  // ("l o" vs "o w").
  private val bpeDocs = Seq(
    (1L, "low low low low low"),
    (2L, "lower lower"),
    (3L, "newest newest newest newest newest newest"),
    (4L, "widest widest widest")).toDF("doc_id", "text")

  test("bpeTrain reproduces the hand-computed Sennrich merge sequence") {
    val m = Corpus.bpeTrain(bpeDocs, col("text"), numMerges = 3,
        route = Routing.Large)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L)), m.toString)
  }

  test("bpeTrain is layout-stable and stops early when no pair remains") {
    val x = Routing.Large // the executor loop
    val a = Corpus.bpeTrain(bpeDocs, col("text"), 3, x).collect().toSeq
    val b = Corpus.bpeTrain(bpeDocs.repartition(7), col("text"), 3, x)
      .collect().toSeq
    assert(a == b, "merge list must not depend on partitioning")
    // all-single-char words: no pair exists, zero merges
    val none = Corpus.bpeTrain(Seq((1L, "a b c")).toDF("doc_id", "text"),
      col("text"), 5, x)
    assert(none.count() == 0)
    // one two-char word: exactly one merge possible
    val one = Corpus.bpeTrain(Seq((1L, "ab")).toDF("doc_id", "text"),
      col("text"), 5, x).as[(Int, String, String, String, Long)].collect()
    assert(one.toSeq == Seq((1, "a", "b", "ab", 1L)))
  }

  test("bpeTrain long runs cross the lineage checkpoint cadence") {
    // 45 distinct single-count chars: 40 merges all at freq 1, passing
    // the localCheckpoint cut at merge 32 — result must stay exact
    val word = ('a' to 'z').mkString + ('0' to '9').mkString +
      ('A' to 'H').mkString
    assert(word.length == 44)
    val m = Corpus.bpeTrain(Seq((1L, word)).toDF("doc_id", "text"),
      col("text"), numMerges = 40, route = Routing.Large).collect()
    assert(m.length == 40)
    assert(m.forall(_.getLong(4) == 1L))
    // first merge is the lexicographically smallest adjacent pair
    assert(m.head.getString(1) == "0" && m.head.getString(2) == "1")
  }

  test("bpeTrainLocal ≡ bpeTrain: Sennrich fixture, exhaustion, overlap") {
    val (l, x) = (Routing.Small, Routing.Large) // driver / executor loop
    val local = Corpus.bpeTrain(bpeDocs, col("text"), 3, l)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(local == Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "l", "o", "lo", 7L)), local.toString)
    // run both loops PAST exhaustion: early stop at the same rank
    val deep = Corpus.bpeTrain(bpeDocs, col("text"), 50, x).collect().toSeq
    val deepL = Corpus.bpeTrain(bpeDocs, col("text"), 50, l)
      .collect().toSeq
    assert(deepL == deep, "local loop diverged from the executor loop")
    // overlapping occurrences: "aaaa" counts (a,a) at every adjacent
    // position (3), and the non-overlapping left-to-right replace leaves
    // [aa, aa] — both statistics and application must agree
    val over = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val wantO = Seq((1, "a", "a", "aa", 3L), (2, "aa", "aa", "aaaa", 1L))
    assert(Corpus.bpeTrain(over, col("text"), 5, x)
      .as[(Int, String, String, String, Long)].collect().toSeq == wantO)
    assert(Corpus.bpeTrain(over, col("text"), 5, l)
      .as[(Int, String, String, String, Long)].collect().toSeq == wantO)
  }

  test("bpeTrainLocal ties break on UTF-8 bytes, not UTF-16 code units") {
    // (a,U+FFFD) and (a,U+1F600) tie at count 1. UTF-8 orders
    // EF BF BD < F0 9F 98 80; UTF-16 would order D83D DE00 < FFFD —
    // a String.compareTo tie-break picks the OTHER pair than Spark
    val t = Seq((1L, "a�"), (2L, "a😀"))
      .toDF("doc_id", "text")
    val d = Corpus.bpeTrain(t, col("text"), 1, Routing.Large).collect().toSeq
    val l = Corpus.bpeTrain(t, col("text"), 1, Routing.Small).collect().toSeq
    assert(l == d, s"local $l vs executor $d")
    assert(l.head.getString(2) == "�")
  }

  test("bpeTrainLocal incremental statistics survive a wide corpus") {
    // 1000 docs / 10k distinct words: the pair→word index and lazy-heap
    // path sees real churn; both loops must emit the identical table
    val d = Corpus.bpeTrain(docs, col("text"), 10, Routing.Large)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val l = Corpus.bpeTrain(docs, col("text"), 10, Routing.Small)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(l == d)
  }

  test("bpeTrainAuto routes by measured type count, both branches exact") {
    val want = Corpus.bpeTrain(bpeDocs, col("text"), 3, Routing.Large)
      .collect().toSeq
    // 4 types ≤ 2^22 → the router takes the driver-local branch (the
    // switch point itself is pinned in RoutingSpec)
    assert(!Routing.bpeOnExecutors(4L))
    assert(Corpus.bpeTrain(bpeDocs, col("text"), 3).collect().toSeq == want)
    assert(Corpus.bpeTrain(bpeDocs, col("text"), 3, Routing.Small)
      .collect().toSeq == want)
  }

  test("bpeEncode applies merges in rank order, word-locally") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"))
    val enc = Corpus.bpeEncode(
      Seq((1L, "low"), (2L, "newest"), (3L, "low newest"), (4L, ""),
        (5L, "st"))
        .toDF("doc_id", "text"), col("doc_id"), col("text"), merges)
      .orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq
    // low → [lo w]; newest → [n e w est]; "st": (e,s) can't fire, so
    // (es,t) can't either — merges never cross word gaps or skip ranks
    assert(enc.map(r => (r._1, r._2)) ==
      Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 0L), (5L, 2L)))
    // the symbol-sequence digest pins the full sequence, not just counts
    val md5lo = org.apache.commons.codec.digest.DigestUtils.md5Hex("lo w")
    assert(enc.head._3 == md5lo)
  }

  test("bpeEncode over the training corpus reproduces training's state") {
    val merges = Corpus.bpeTrain(bpeDocs, col("text"), 3)
      .orderBy("rank").as[(Int, String, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    val enc = Corpus.bpeEncode(bpeDocs, col("doc_id"), col("text"), merges)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    // low×5 → [lo w]×5 = 10; lower×2 → [lo w e r]×2 = 8;
    // newest×6 → [n e w est]×6 = 24; widest×3 → [w i d est]×3 = 12
    assert(enc.map(_._2).toSeq == Seq(10L, 8L, 24L, 12L))
  }

  test("logisticNewton: partitioning-stable, matches a local reference") {
    // separable-ish fixture: y depends on x1 with noise-free margin
    val rows = (0 until 400).map { i =>
      val x1 = (i % 40) / 10.0
      val x2 = ((i * 7) % 10) / 10.0
      (if (x1 > 2.0) 1 else 0, x1, x2)
    }
    val f = rows.toDF("y", "x1", "x2")
    val got = Corpus.logisticNewton(f, col("y"), col("x1"), col("x2"))
    val rep = Corpus.logisticNewton(f.repartition(13), col("y"),
      col("x1"), col("x2"))
    assert(got == rep, "beta must not depend on partitioning")
    // local reference: same quantization, same Cramer, plain Scala
    def fit(data: Seq[(Int, Double, Double)]): (Double, Double, Double) = {
      def q6(x: Double) = math.floor(x * 1000000.0 + 0.5)
      var (b0, b1, b2) = (0.0, 0.0, 0.0)
      for (_ <- 0 until 3) {
        var Array(sa, sb, sc, sd, se, sf, gu, gv, gw) = Array.fill(9)(0.0)
        data.foreach { case (y, x1, x2) =>
          val p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x1 + b2 * x2)))
          val w = p * (1.0 - p)
          sa += q6(w); sb += q6(w * x1); sc += q6(w * x2)
          sd += q6(w * x1 * x1); se += q6(w * x1 * x2)
          sf += q6(w * x2 * x2)
          gu += q6(y - p); gv += q6((y - p) * x1); gw += q6((y - p) * x2)
        }
        val ha = sa / 1000000.0 + 0.001; val hb = sb / 1000000.0
        val hc = sc / 1000000.0; val hd = sd / 1000000.0 + 0.001
        val he = se / 1000000.0; val hf = sf / 1000000.0 + 0.001
        val (u, v, w2) = (gu / 1000000.0, gv / 1000000.0, gw / 1000000.0)
        val det = ha * (hd * hf - he * he) - hb * (hb * hf - hc * he) +
          hc * (hb * he - hc * hd)
        def r6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
        val n0 = b0 + (u * (hd * hf - he * he) - v * (hb * hf - hc * he) +
          w2 * (hb * he - hc * hd)) / det
        val n1 = b1 + (-u * (hb * hf - he * hc) + v * (ha * hf - hc * hc) -
          w2 * (ha * he - hc * hb)) / det
        val n2 = b2 + (u * (hb * he - hd * hc) - v * (ha * he - hb * hc) +
          w2 * (ha * hd - hb * hb)) / det
        b0 = r6(n0); b1 = r6(n1); b2 = r6(n2)
      }
      (b0, b1, b2)
    }
    val want = fit(rows)
    assert(got == want, s"distributed $got vs local $want")
    // sanity: the learned model separates the label it was trained on
    val (b0, b1, _) = got
    def p(x1: Double, x2: Double) =
      1.0 / (1.0 + math.exp(-(b0 + b1 * x1 + got._3 * x2)))
    assert(p(3.5, 0.5) > 0.5 && p(0.5, 0.5) < 0.5,
      s"model failed to separate: $got")
  }

  test("lm/dsir model joins route SHUFFLE_HASH past the corpus threshold") {
    // above the threshold: the hint must materialize as a shuffled hash
    // join (the sort-merge fallback sorts the occurrence stream — the
    // 42/22 GB sf100 spill); below: plan left to AQE (broadcast)
    val big = Corpus.lmPerplexity(docs, col("doc_id"), col("text"),
      corpusDocs = Some((1L << 20) + 1))
    assert(big.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "hint did not take")
    val small = Corpus.lmPerplexity(docs, col("doc_id"), col("text"),
      corpusDocs = Some(1000L))
    // branch identity: the join strategy must not move a single value
    val a = big.orderBy("doc_id").collect().toSeq
    val b = small.orderBy("doc_id").collect().toSeq
    assert(a == b)
    val bigD = Corpus.dsirSample(docs, col("doc_id"), col("text"),
      docs.limit(50), col("text"), topK = 20,
      corpusDocs = Some((1L << 20) + 1))
    assert(bigD.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "dsir hint did not take")
    val smallD = Corpus.dsirSample(docs, col("doc_id"), col("text"),
      docs.limit(50), col("text"), topK = 20, corpusDocs = Some(1000L))
    assert(bigD.collect().toSeq == smallD.collect().toSeq)
  }

  test("bpeEncodeVocab ≡ bpeEncode on trained merge tables") {
    val fixtures = Seq(
      // the Sennrich corpus, 3 trained merges
      (bpeDocs, Corpus.bpeTrain(bpeDocs, col("text"), 3)),
      // overlap-heavy: "aaaaa aaa" exercises the left-to-right
      // non-overlapping pass against the priority loop
      (Seq((1L, "aaaaa aaa"), (2L, ""), (3L, "a")).toDF("doc_id", "text"),
        Corpus.bpeTrain(Seq((1L, "aaaa")).toDF("doc_id", "text"),
          col("text"), 5)))
    for ((d, trained) <- fixtures) {
      val merges = trained.orderBy("rank")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val want = Corpus.bpeEncode(d, col("doc_id"), col("text"), merges)
        .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
      val got = Corpus.bpeEncodeVocab(d, col("doc_id"), col("text"), merges)
        .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
      assert(got == want, s"vocab-dict encode diverged: $got vs $want")
    }
    // absent pairs are no-ops in both forms
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("q", "z"))
    val want = Corpus.bpeEncode(bpeDocs, col("doc_id"), col("text"), merges)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    val got = Corpus.bpeEncodeVocab(bpeDocs, col("doc_id"), col("text"),
        merges)
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    assert(got == want)
  }

  test("bpeEncode is map-only — no exchange, single pass") {
    val plan = Corpus.bpeEncode(bpeDocs, col("doc_id"), col("text"),
      Seq(("e", "s"), ("es", "t"))).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("corpus operators stay shuffle-free (no Exchange in the plan)") {
    val plans = Seq(
      Corpus.hashSample(docs, col("doc_id"), 0.2, "s"),
      Corpus.mix(Seq(("a", docs, 0.5), ("b", docs, 0.5)), col("doc_id")),
      Corpus.chunkTokens(docs, col("doc_id"), col("text"), 10, 8))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach(p =>
      assert(!p.contains("Exchange"), s"unexpected shuffle:\n$p"))
  }
}
