package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, TextFunctions}

/** Corpus-preparation operators for a large-scale training-data pipeline:
  * deterministic sampling, weighted corpus mixing with epoch upsampling,
  * train/val/test fold splitting, document chunking, TF-IDF weighting,
  * distributed prefix scan + token-budget shard packing, and eval-set
  * n-gram decontamination.
  *
  * Reference scope note: the reference library treats records as opaque
  * bytes and has no corpus or relational surface (kafka-workers
  * README.md:24); these operators belong to the training-data-pipeline
  * extension of the build brief.
  *
  * Scale design:
  *  - Sampling is HASH-based, not `rand()`-based. `rand()` in Spark is
  *    seeded per partition, so its output changes under repartitioning,
  *    task retry, and AQE re-planning — on a 1000-executor job that means
  *    a non-reproducible corpus. A digest of the record id is stable under
  *    any physical plan, needs no shuffle, evaluates per-row inside
  *    whole-stage codegen, and gives every downstream run the identical
  *    sample. (The md5-derived uniform is also exactly reproducible in the
  *    DuckDB oracle.)
  *  - Mixing = per-source hash sampling + union: no shuffle at all; the
  *    mixture rates hold deterministically per id, and a salt decorrelates
  *    the per-source samples.
  *  - Chunking is pure per-row column algebra (sequence/slice/concat_ws —
  *    all codegen'd): rows fan out by ~n_tok/stride with zero exchanges.
  */
object Corpus {

  /** Uniform [0,1) derived from the first 8 hex chars of md5(salt ++ id) —
    * 32 bits of the digest over 2^32. Deterministic across runs, engines,
    * partitionings, and retries. */
  def hashUniform(id: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"))), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Keep each row with probability `rate`, deterministically by id. */
  def hashSample(df: DataFrame, id: Column, rate: Double,
                 salt: String = ""): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0)
    df.filter(hashUniform(id, salt) < lit(rate))
  }

  /** Per-row sampling rate from a COLUMN — temperature/quality-weighted
    * sampling (keep probability ∝ a per-document score, the mixture knob
    * production corpora tune): same digest-uniform as [[hashSample]], so
    * the draw is deterministic per id under any partitioning/retry, and
    * the rate expression stays inside whole-stage codegen. Rates are
    * clamped to [0, 1]. */
  def weightedHashSample(df: DataFrame, id: Column, rate: Column,
                         salt: String = ""): DataFrame =
    df.filter(hashUniform(id, salt) <
      least(lit(1.0), greatest(lit(0.0), rate)))

  /** Per-stratum sampling rates (e.g. per language): rate looked up from a
    * when-chain over the stratum column; strata absent from `rates` keep
    * `defaultRate`. */
  def stratifiedHashSample(df: DataFrame, id: Column, stratum: Column,
                           rates: Map[String, Double],
                           defaultRate: Double = 0.0,
                           salt: String = ""): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(stratum === k, lit(r)).otherwise(acc)
    }
    df.filter(hashUniform(id, salt) < rate)
  }

  /** Deterministic fixed-SIZE sample per stratum (vs the fixed-RATE
    * [[stratifiedHashSample]]): the k rows with the smallest hash-uniform
    * per stratum — a "reservoir sample" that is reproducible across runs,
    * retries, and engines because the reservoir order is the id digest,
    * not RNG state.
    *
    * Skew-safe two-phase top-k: strata are real-world skewed (an "en"
    * stratum can be 80% of a corpus), so a single
    * `row_number() over (partition by stratum)` would funnel the hot
    * stratum through one task. Phase 1 ranks within (stratum, salt) —
    * `preSalts`× more, `preSalts`× smaller partitions — and keeps each
    * salt-group's k smallest. Phase 2 ranks the ≤ preSalts·k survivors per
    * stratum, which is a design-bounded constant regardless of corpus
    * size. Lossless: the global per-stratum top-k by (uniform, id) is a
    * subset of the union of per-salt-group top-k's (any globally-kept row
    * is also among the k smallest of its own salt group), so phase 2 sees
    * every winner and selects exactly the single-phase result. */
  def groupSample(df: DataFrame, id: Column, stratum: Column, k: Int,
                  salt: String = "", preSalts: Int = 64): DataFrame = {
    require(k > 0 && preSalts > 0)
    // pure filter contract: the result keeps exactly df's columns; the
    // ranking scaffolding uses prefixed names so it can't collide
    val wPre = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__gs_s"), col("__gs_salt"))
      .orderBy(col("__gs_u").asc, col("__gs_id").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__gs_s"))
      .orderBy(col("__gs_u").asc, col("__gs_id").asc)
    df.withColumn("__gs_id", id)
      .withColumn("__gs_s", stratum)
      .withColumn("__gs_u", hashUniform(id, salt))
      // deterministic spread key (murmur3 of the id, not rand(): stable
      // under retries/repartitioning like the sample itself)
      .withColumn("__gs_salt", pmod(hash(col("__gs_id")), lit(preSalts)))
      .withColumn("__gs_prn", row_number().over(wPre))
      .filter(col("__gs_prn") <= k)
      .withColumn("__gs_rn", row_number().over(w))
      .filter(col("__gs_rn") <= k)
      .drop("__gs_id", "__gs_s", "__gs_u", "__gs_salt", "__gs_prn", "__gs_rn")
  }

  /** Weighted mixture of corpora: each source contributes at its rate,
    * tagged with its name and an `epoch` counter. Rates above 1 UPSAMPLE
    * (the usual treatment of high-quality sources in a training mix):
    * rate 2.5 emits two full copies (epochs 0 and 1) plus a deterministic
    * hash-sample of half the source (epoch 2). Fractional draws are
    * salted by source name and epoch, so one document appearing in
    * several sources — or sampled for the fractional epoch — draws
    * independent coins. Pure union of per-source filters: no shuffle,
    * and every epoch's membership is reproducible across runs/retries.
    *
    * Compatibility note: the fractional draw's salt is `"$name#$whole"`
    * (epoch-qualified) as of the upsampling change — a mix pinned under
    * the older plain-`name` salt selects a different (equally valid)
    * fractional subset when re-run. */
  def mix(sources: Seq[(String, DataFrame, Double)],
          id: Column): DataFrame = {
    require(sources.nonEmpty)
    // finite, sane epoch counts only: Infinity.toInt saturates to
    // Int.MaxValue and would build ~2^31 unioned plan copies
    require(sources.forall(s => s._3 >= 0.0 && s._3 <= 128.0),
      "rates must be in [0, 128]")
    sources.map { case (name, df, rate) =>
      val whole = rate.toInt
      val frac = rate - whole
      val epochs =
        (0 until whole).map(e => df.withColumn("epoch", lit(e))) ++
          (if (frac > 0)
            Seq(hashSample(df, id, frac, salt = s"$name#$whole")
              .withColumn("epoch", lit(whole)))
          else Nil)
      // rate 0: a source can be mixed out entirely (empty contribution)
      val tagged =
        if (epochs.isEmpty) df.filter(lit(false)).withColumn("epoch", lit(0))
        else epochs.reduce(_ unionByName _)
      tagged.withColumn("source", lit(name))
    }.reduce(_ unionByName _)
  }

  /** Top-k TF-IDF terms per document — the classic corpus-weighting
    * operator (keyword extraction, near-dup features, retrieval scoring).
    *
    * Scale shape: term frequencies and document frequencies are both
    * map-side-combinable counts keyed by (doc, term) / term; the corpus
    * size N joins in as a broadcast scalar (computed declaratively — no
    * driver-side count()); the final top-k ranks inside per-document
    * window partitions (thousands of small partitions, never a global
    * sort). Ordering ties are resolved on the ROUNDED score + term so the
    * selection is reproducible across engines and retries. */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(id.as("doc_id"), TextFunctions.tokens(text).as("toks"))
      .filter(TextFunctions.tokenCount(text) > 0)
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = toks
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val total = toks.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf", round(
        col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rn").cast("long").as("rank"))
  }

  /** Okapi BM25 top-k document ranking against a small frame of keyword
    * queries (`query_id`, `kws: array<string>`) — the lexical arm a real
    * retrieval pipeline runs (Robertson & Zaragoza 2009; idf is the
    * Lucene-style `ln((N - df + 0.5)/(df + 0.5) + 1)`, always positive).
    *
    * Scale shape: the exploded corpus tokens are LEFT-SEMI joined against
    * the broadcast query-term set before any aggregation, so corpus text
    * never crosses the wire (the decontaminate shape) — only the tiny
    * (doc, query-term) tf frame shuffles. df and the corpus stats ride
    * along as broadcasts; the `rank <= k` filter plants a partial
    * WindowGroupLimit below the exchange.
    *
    * Ranking uses `round(score, 4)` (ties broken by doc_id) so the order
    * is reproducible across engines: the only non-IEEE-exact steps are ln
    * (libm last-ulp variance) — and, without further care, the SUM of the
    * per-term scores, since IEEE addition is not associative and a plain
    * `sum()` adds in whatever order rows arrive. Multi-term queries
    * therefore sum by SORTED FOLD: the ≤|query terms| per-(query, doc)
    * contributions are collected (bounded state — the list can never
    * exceed the query's own term count), term-sorted, and left-folded, so
    * every engine that folds the same order (DuckDB:
    * `sum(x ORDER BY term)`) produces the bit-identical double.
    *
    * The tokenized corpus feeds three plan branches (corpus stats, df,
    * tf) and re-evaluates per branch — fine over a raw scan; for an
    * expensive upstream chain pass `materialize = true` to persist the
    * token frame once (MEMORY_AND_DISK, left cached — see
    * [[runningTotal]]'s contract note). */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
               queries: DataFrame, k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75,
               materialize: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks0 = docs.select(id.as("doc_id"),
      graft.functions.TextFunctions.tokens(text).as("toks"))
    val toks =
      if (materialize)
        toks0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else toks0
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      (sum(size(col("toks")).cast("long")).cast("double") /
        count(lit(1))).as("avgdl"))
    val qt = queries.select(col("query_id"), explode(col("kws")).as("term"))
    val tf = toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qt.select("term").distinct()), Seq("term"), "leftsemi")
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("score"), 4).desc, col("doc_id").asc)
    tf.join(broadcast(qt), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__bm_t",
        log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("query_id"), col("doc_id"))
      // sorted fold, not sum(): deterministic IEEE addition order (see
      // scaladoc); state is bounded by the query's own term count
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("__bm_t")))),
        lit(0.0),
        (acc, x) => acc + x.getField("__bm_t")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        round(col("score"), 4).as("score"), col("rank"))
  }

  /** Distributed inclusive prefix sum (running total) of `weight` over the
    * deterministic total order (`orderU` asc, `id` asc), where `orderU`
    * must be uniform in [0,1) — e.g. [[hashUniform]]. Appends column `out`
    * to `df`'s columns.
    *
    * The naive formulation — `sum(w) over (order by u)` — is a
    * SINGLE-REDUCER global window: every row funnels through one task, the
    * canonical 100 TB scale killer (PlanHygieneSpec bans the shape
    * engine-wide). This is the scan-tree alternative:
    *   1. bucket rows by `floor(u * buckets)` — u is uniform, so buckets
    *      are balanced and bucket ranges are contiguous in the total order;
    *   2. per-bucket inclusive cumsum (window partitioned by bucket: ≤
    *      `buckets` balanced, spillable sort groups — never one task);
    *   3. exclusive bucket offsets from the ≤`buckets`-row totals frame via
    *      a broadcast theta-join (buckets² pair evals of a tiny frame —
    *      deliberately NOT a global window, see above);
    *   4. broadcast the offsets back: total = offset(bucket) + cum-in-bucket.
    * Size `buckets` so one bucket ≈ one comfortable sort task (rows ×
    * rowBytes / buckets ≲ a few GB); the offsets join costs buckets² tiny
    * pair evals, so keep buckets ≲ 10⁴ (a 100 TB corpus at 10⁴ buckets is
    * ~10 GB per spillable sort group).
    *
    * Exact: weights are summed as longs (no float drift at any scale);
    * frames are pinned ROWS-based so RANGE tie semantics can never differ
    * between engines. `df` is referenced by three plan branches and
    * re-evaluates per branch (each column-pruned): fine over a raw scan.
    * For an expensive upstream chain pass `materialize = true` — the
    * shared subtree is persisted (MEMORY_AND_DISK) so every branch reads
    * the cache instead of re-running the chain. The cache entry is left
    * in place (Spark evicts LRU); call `spark.catalog.clearCache()` or
    * unpersist when the result has been consumed.
    *
    * `orderU` must be NON-NULL for every row (and should be ~uniform over
    * [0,1) for balanced buckets). A null draw has no bucket, so the final
    * bucket equi-join would silently drop the row — the operator fails
    * fast per-row instead of losing data.
    *
    * `group`: optional GROUPED form — an independent running total per
    * group along the same order (the per-source-partition counter shape of
    * the reference's RoundRobinPartitioner). The offsets frame grows to
    * |groups| × buckets rows and still travels by broadcast, so the group
    * key must be broadcast-small (source/Kafka partition counts — 10²-10⁴),
    * NOT a high-cardinality data key; for many tiny groups a plain
    * partitioned window is already scale-safe and this tree is pointless. */
  def runningTotal(df: DataFrame, id: Column, weight: Column, orderU: Column,
                   buckets: Int = 256,
                   out: String = "running_total",
                   materialize: Boolean = false,
                   group: Seq[Column] = Nil): DataFrame = {
    require(buckets > 0, "need buckets > 0")
    import org.apache.spark.sql.expressions.Window
    val shared =
      if (materialize)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    // The grouped form threads the group key through every stage; the
    // ungrouped plan is kept byte-identical to the proven round-6 shape
    // (no constant key in the exchanges the shuffle baselines pin).
    val gKey = if (group.isEmpty) Nil else Seq(col("__rt_g"))
    val base0 = shared
      .withColumn("__rt_id", id)
      .withColumn("__rt_u", orderU)
      .withColumn("__rt_w", weight.cast("long"))
      .withColumn("__rt_b",
        // null orderU would vanish at the offsets equi-join below; fail
        // fast instead of silently dropping the row (codegen'd branch)
        when(col("__rt_u").isNull, raise_error(lit(
          "runningTotal: orderU is null — supply a non-null uniform draw")))
          .otherwise(floor(col("__rt_u") * buckets)).cast("int"))
    val base =
      if (group.isEmpty) base0
      else base0.withColumn("__rt_g", struct(group: _*))
    val wIn = Window.partitionBy(gKey :+ col("__rt_b"): _*)
      .orderBy(col("__rt_u").asc, col("__rt_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = base.withColumn("__rt_cum", sum(col("__rt_w")).over(wIn))
    // Totals aggregate `base` directly: the partial sum runs map-side, so
    // this branch's exchange carries at most `groups × buckets` rows per
    // map partition. The price of the DAG-as-tree planning is that `df` is
    // re-evaluated once per branch (window / totals / bucket-ids), each
    // branch column-pruned to what it needs — cheap for a parquet scan
    // input. (Forcing the branches onto one shared exchange doesn't
    // survive Catalyst: column pruning specializes each branch's
    // projection, so the exchanges are never identical.) Callers whose
    // input is an expensive operator chain should persist or
    // localCheckpoint it first — see the pipeline_full query.
    val totals = base.groupBy(gKey :+ col("__rt_b"): _*)
      .agg(sum(col("__rt_w")).as("__rt_tot"))
    val lowerCols =
      (if (group.isEmpty) Nil else Seq(col("__rt_g").as("__rt_lg"))) ++
        Seq(col("__rt_b").as("__rt_lb"), col("__rt_tot"))
    val lower = totals.select(lowerCols: _*)
    val lowerCond =
      if (group.isEmpty) col("__rt_lb") < col("__rt_b")
      else col("__rt_lg") <=> col("__rt_g") && col("__rt_lb") < col("__rt_b")
    val offsets = totals.select(gKey :+ col("__rt_b"): _*)
      .join(broadcast(lower), lowerCond, "left")
      .groupBy(gKey :+ col("__rt_b"): _*)
      .agg(coalesce(sum(col("__rt_tot")), lit(0L)).as("__rt_off"))
    val joinKeys = (if (group.isEmpty) Nil else Seq("__rt_g")) :+ "__rt_b"
    within.join(broadcast(offsets), joinKeys)
      .withColumn(out, col("__rt_off") + col("__rt_cum"))
      .drop("__rt_g", "__rt_id", "__rt_u", "__rt_w", "__rt_b",
        "__rt_cum", "__rt_off")
  }

  /** Pack documents into fixed-token-budget training shards: documents are
    * laid out along the deterministic [[hashUniform]] order and shard
    * `i` covers running-token offsets `[i*budget, (i+1)*budget)` — a doc's
    * shard is decided by its STARTING offset, so docs are never split and
    * shards overshoot the budget by at most one document. One extra column
    * `shard_id`; the layout (and therefore every shard's contents) is
    * reproducible across runs, retries, and repartitioning.
    *
    * Built on [[runningTotal]], so the scan shape is bucketed/balanced —
    * no global window. The division is exact as long as total corpus
    * tokens < 2^53 (double-exact integer range; ~9e15, comfortably above
    * a 100 TB corpus's ~1e13 tokens). */
  def packSequences(df: DataFrame, id: Column, nTokens: Column, budget: Long,
                    salt: String = "", buckets: Int = 256,
                    materialize: Boolean = false): DataFrame = {
    require(budget > 0, "need budget > 0")
    runningTotal(df, id, nTokens, hashUniform(id, salt), buckets,
      out = "__ps_cum", materialize = materialize)
      .withColumn("shard_id",
        floor((col("__ps_cum") - nTokens.cast("long")) / lit(budget.toDouble))
          .cast("long"))
      .drop("__ps_cum")
  }

  /** Deterministic train/val/test fold assignment: fold boundaries are the
    * running sums of `folds` rates over [0,1), and a row lands in the first
    * fold whose cumulative cut exceeds its [[hashUniform]] draw. Appends a
    * `fold` column. Same digest-not-RNG rationale as [[hashSample]]: the
    * split survives repartitioning, retries, and engine changes — a doc
    * can never migrate from test into train between runs. */
  def foldSplit(df: DataFrame, id: Column, folds: Seq[(String, Double)],
                salt: String = ""): DataFrame = {
    require(folds.nonEmpty && folds.forall(_._2 > 0.0),
      "need non-empty folds with positive rates")
    require(math.abs(folds.map(_._2).sum - 1.0) < 1e-9,
      "fold rates must sum to 1")
    val u = hashUniform(id, salt)
    val cuts = folds.map(_._2).scanLeft(0.0)(_ + _).tail
    val expr = folds.init.zip(cuts.init).foldRight(lit(folds.last._1): Column) {
      case (((name, _), cut), acc) => when(u < lit(cut), lit(name)).otherwise(acc)
    }
    df.withColumn("fold", expr)
  }

  /** Eval-set decontamination — drop every training document that shares
    * at least one word `n`-gram with a held-out evaluation corpus, so
    * benchmark answers can't leak into the training set (the GPT-3
    * appendix-C / Gopher prep step; n=13 is the canonical window).
    *
    * Scale shape: the EVAL side collapses to distinct n-grams — bounded by
    * the eval corpus, which is orders of magnitude smaller than training —
    * and is fetched once, bounded at [[Routing.maxBroadcastGrams]]
    * ([[Routing.fetchUpTo]]). Up to that many grams they
    * broadcast, and the TRAINING side's exploded (id, gram) pairs
    * left-semi-join them locally (no shuffle of the exploded frame);
    * above it the grams collapse to a
    * Bloom sketch the training grams probe map-side, and only the
    * survivors reach the exact semi-join. Only the matched ids — typically
    * a tiny fraction — reach the distinct + anti-join. Training text
    * crosses the wire zero times; the anti-join shuffles ids only (AQE
    * turns it into a broadcast when the contaminated set is small, which
    * it virtually always is). Both routes return the same rows at any
    * `fpp`: Bloom error is one-sided, and the exact join admits no junk.
    *
    * Build, [[Decontaminator.exact]], close: on the broadcast route the
    * fetched grams are a local frame, so the returned plan broadcasts
    * driver rows. On the sketch route the distinct-gram frame is
    * persisted across the fetch, the count and the sketch build, then
    * dropped before the caller's action, so the returned plan recomputes
    * the eval pipeline once — the price of a transparent,
    * lineage-complete plan (eval is orders of magnitude smaller than the
    * training side it gates). */
  def decontaminate(train: DataFrame, id: Column, text: Column,
                    eval: DataFrame, evalText: Column,
                    n: Int = 13, fpp: Double = 0.01,
                    route: Routing.Route = Routing.Auto): DataFrame = {
    val dc = gramSet(eval, evalText, n, fpp, route)
    try dc.exact(train, id, text) finally dc.close()
  }

  /** Build a [[Decontaminator]] — the streaming deployment of
    * [[decontaminate]]. The eval corpus is static (benchmark sets change
    * rarely); a production pipeline builds its gram set ONCE and gates the
    * training stream against it forever after. This factory collapses the
    * eval side to distinct grams, persists and counts them, and always
    * takes the Bloom-sketch route: every micro-batch then probes the
    * prebuilt sketch map-side and semi-joins the persisted grams, where
    * the broadcast route would re-ship the whole gram set on every
    * trigger. Call `close()` when retiring it. */
  def decontaminator(eval: DataFrame, evalText: Column, n: Int = 13,
                     fpp: Double = 0.01): Decontaminator =
    gramSet(eval, evalText, n, fpp, Routing.Large)

  /** The distinct eval grams behind [[decontaminate]] and
    * [[decontaminator]], routed on their count by [[keySet]]. */
  private def gramSet(eval: DataFrame, evalText: Column, n: Int,
                      fpp: Double, route: Routing.Route): Decontaminator = {
    require(n > 0, "need n > 0")
    require(fpp > 0.0 && fpp < 1.0, "need 0 < fpp < 1")
    val (grams, sketch) = keySet(eval
      .select(explode(TextFunctions.wordNGrams(evalText, n)).as("__dc_g"))
      .distinct(), fpp, route)(Routing.maxBroadcastGrams, Routing.gramSketch)
    new Decontaminator(grams, sketch, n)
  }

  /** The distinct single-column key frame `keys` that [[matchedIds]]
    * probes, with its Bloom sketch when the route is the sketch. Under
    * [[Routing.Auto]] `keys` is persisted and fetched once, bounded at
    * `cap`, the broadcast threshold `large` switches above: on the
    * broadcast route the fetched keys come back as a local frame (the
    * probe broadcasts driver rows, no cached relation stays behind); on
    * the sketch route the persisted keys are counted, which sizes the
    * sketch. The forced broadcast route skips the fetch and the persist.
    * Zero keys have nothing to sketch: bloom_filter_agg over no rows
    * yields a null buffer that BloomFilter.readFrom rejects. */
  private def keySet(keys: DataFrame, fpp: Double, route: Routing.Route)(
      cap: Long, large: Long => Boolean)
  : (DataFrame, Option[org.apache.spark.util.sketch.BloomFilter]) =
    if (route == Routing.Small) (keys, None)
    else {
      keys.persist()
      Routing.smallSide(route, keys, cap)(large) match {
        case Some(k) =>
          keys.unpersist()
          (keys.sparkSession.createDataFrame(java.util.Arrays.asList(k: _*),
            keys.schema), None)
        case None =>
          val n = keys.count()
          (keys, if (n > 0L)
            Some(keys.stat.bloomFilter(keys.columns.head, n, fpp)) else None)
      }
    }

  /** The ids of `probes` (columns `idCol`, `keyCol`) whose key is in the
    * distinct single-column frame `keys` — the probe [[Decontaminator]]
    * and [[UrlGate]] share. Without a sketch `keys` broadcasts into a
    * map-side semi-join. With one, the probes are Bloom-filtered map-side
    * inside the scan's codegen stage (no join, no shuffle) and only the
    * survivors — true matches plus an fpp-sized sliver — reach the exact
    * semi-join, deliberately NOT hinted broadcast: on that route `keys` is
    * the side too big to broadcast, while the surviving probes are tiny,
    * so AQE picks the build side at runtime. Same ids either way: Bloom
    * errors are false positives only, and the exact join kills them. */
  private[operators] def matchedIds(probes: DataFrame, idCol: String,
      keyCol: String, keys: DataFrame,
      sketch: Option[org.apache.spark.util.sketch.BloomFilter]): DataFrame =
    (sketch match {
      case None => probes.join(broadcast(keys), Seq(keyCol), "left_semi")
      case Some(b) =>
        probes.filter(GraftFunctions.bloomMightContain(col(keyCol), b))
          .join(keys, Seq(keyCol), "left_semi")
    }).select(col(idCol)).distinct()

  /** Per-training-document contamination REPORT — the audit complement of
    * [[decontaminate]]: for each training doc, how many of its DISTINCT
    * word n-grams appear anywhere in the eval suite, and the fraction.
    * Production pipelines run exactly this before choosing a drop policy
    * (a doc 2% contaminated by a ubiquitous phrase and a doc that IS an
    * eval answer both "share a gram"; only the fraction separates them —
    * cf. the n-gram overlap audits in GPT-3 App. C / PaLM App. D).
    *
    * Scale shape: each doc's gram set is deduplicated INSIDE its own row
    * (`array_distinct`, map-side — document text never shuffles); the
    * distinct eval grams broadcast once and the probe is a broadcast
    * left-semi join over the exploded grams, so the only thing that ever
    * crosses the wire is (doc_id, hit-count) partials from the map-side-
    * combinable count. Docs shorter than n tokens report n_grams = 0 /
    * frac 0.0 rather than vanishing. At eval suites too large to
    * broadcast as strings, gate the explode through
    * [[graft.functions.GraftFunctions.bloomMightContain]] first, exactly
    * as [[decontaminate]]'s sketch route does — one-sided error keeps the exact
    * semi-join's counts correct. */
  def contaminationReport(train: DataFrame, id: Column, text: Column,
                          eval: DataFrame, evalText: Column,
                          n: Int = 13): DataFrame = {
    require(n > 0, "need n > 0")
    val evalGrams = eval
      .select(explode(TextFunctions.wordNGrams(evalText, n)).as("__cr_g"))
      .distinct()
    // ONE corpus pass (r12 optimization, guide §2.3/§2.4): the per-doc
    // gram size rides the exploded stream instead of a second branch —
    // the old two-branch shape evaluated the tokenize+n-gram projection
    // TWICE (sizes + hits) and paid a doc_id join-back exchange to
    // reunite them. explode_outer keeps gram-less docs as one null-gram
    // row (a null can never equi-match the null-free distinct eval gram
    // set, so it counts 0 — exactly the old left_outer coalesce), the
    // broadcast left_outer probe streams every gram map-side exactly as
    // the old left_semi did, and count(__cr_hit) over the at-most-one
    // match per distinct gram reproduces the semi-join count. Same rows,
    // same values; 2 corpus scans → 1, one join + one exchange fewer.
    val hits = train
      .select(id.as("doc_id"),
        array_distinct(TextFunctions.wordNGrams(text, n)).as("__cr_gs"))
      .select(col("doc_id"), size(col("__cr_gs")).as("n_grams"),
        explode_outer(col("__cr_gs")).as("__cr_g"))
      .join(broadcast(evalGrams.withColumn("__cr_hit", lit(1))),
        Seq("__cr_g"), "left_outer")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(col("__cr_hit")).as("__cr_hits"))
    hits
      .select(col("doc_id"), col("n_grams"),
        col("__cr_hits").as("n_overlap"))
      .withColumn("overlap_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(
            col("n_overlap").cast("double") / col("n_grams"), 6)))
  }

  /** BPE pair statistics — the distributed core of tokenizer training
    * (Sennrich et al. 2016): count adjacent symbol pairs inside words
    * across the whole corpus and return the top-K by frequency. Every BPE
    * training iteration is exactly this statistic (find the most frequent
    * pair, merge it, recount); the merge loop is a cheap driver iteration
    * over top-1 results, while THIS — the corpus-wide pair count — is the
    * part that must distribute at 100 TB.
    *
    * Scale shape: per-word pair expansion is pure codegen column algebra
    * (sequence → substring → filter; one row fans out to ~word-length
    * rows, no UDF), the count is a map-side-combinable groupBy on the
    * 2-char pair key (≤ alphabet² distinct keys — the reduce side is
    * trivially bounded no matter the corpus size), and the top-K is
    * Spark's per-partition partial TakeOrderedAndProject, never a global
    * sort. Tie-break on the pair string keeps the K-boundary
    * deterministic in both engines. */
  def bpePairCounts(docs: DataFrame, text: Column, topK: Int): DataFrame = {
    require(topK > 0, "need topK > 0")
    docs.select(explode(TextFunctions.tokens(text)).as("w"))
      // greatest(...,1) keeps sequence() ascending for 1-char words
      // (sequence(1,0) is DESCENDING in Spark); the length-2 filter then
      // drops the short tail pair those words would contribute
      .select(explode(expr(
        """filter(transform(sequence(1, greatest(length(w) - 1, 1)),
          |              i -> substring(w, i, 2)),
          |       p -> length(p) = 2)""".stripMargin)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(topK)
  }

  /** A word's symbol sequence as ONE delimited string: symbols separated
    * by exactly two spaces, one leading boundary space. `' a  b  c '`-style
    * padding makes every merge a plain left-to-right literal `replace`:
    * pattern `" p1  p2 "` → `" p1p2 "`. The boundary spaces pin whole-
    * symbol matches (a symbol can never match a prefix/suffix of another),
    * and because the match consumes ONE space of each flanking separator
    * and the replacement restores it, the "two spaces between symbols"
    * invariant survives every merge — so iterated replaces stay exact.
    * Symbols never contain spaces (tokens are whitespace-split), so the
    * encoding is unambiguous; both engines' `replace` scan left-to-right
    * over non-overlapping occurrences, which IS the BPE merge rule.
    * Semantics are one regex (`(\S)` → `$1␣␣`) restricted to the
    * java.util.regex ∩ RE2 dialect so DuckDB replays the identical
    * automaton — the ENGINE builds it with the bpeSymbolPad codegen byte
    * kernel (byte-exact, one pass; the regex form alone was 75.4 s of
    * bpe_encode's sf100 budget), the ORACLE keeps the regex, so every
    * hash compare cross-checks the kernel. Applied to multi-word text
    * the word gaps become THREE spaces, which no `" p1  p2 "` pattern
    * can straddle — merges stay word-local for free. */
  private def bpeSymbolString(text: Column): Column =
    graft.functions.GraftFunctions.bpeSymbolPad(text)

  /** One BPE merge as a literal string replace over a [[bpeSymbolString]]
    * column. `pair` is the `"p1  p2"` pair key (double-space separator —
    * unambiguous, and its lexicographic order equals (p1, p2) order since
    * the space sorts below every symbol character). */
  private def bpeApplyMerge(p: Column, pair: String): Column =
    replace(p, lit(" " + pair + " "),
      lit(" " + pair.replace("  ", "") + " "))

  /** Adjacent symbol pairs of a [[bpeSymbolString]] column as `"p1  p2"`
    * pair keys (one output row per adjacent position — overlapping
    * occurrences count, the Sennrich statistic). */
  private def bpePairKeys(p: Column): Column = {
    // arrays_zip of two shifted slices, NOT element_at(s, i) inside the
    // lambda: a lambda re-evaluates enclosed subtrees once per element
    // (the wordNGrams note), which would re-split the symbol string
    // quadratically per word
    val s = split(trim(p), " +")
    val len = size(s) - 1
    val zipped = arrays_zip(slice(s, lit(1), len), slice(s, lit(2), len))
    when(size(s) < 2, array().cast("array<string>")).otherwise(
      transform(zipped,
        x => concat(x.getField("0"), lit("  "), x.getField("1"))))
  }

  /** BPE tokenizer TRAINING — the full iterative merge loop of Sennrich
    * et al. 2016 §3 (of which [[bpePairCounts]] is one iteration's
    * statistic): collapse the corpus to a (word, freq) vocabulary, then
    * `numMerges` times find the globally most frequent adjacent symbol
    * pair and merge it everywhere. Returns the ranked merge table
    * (rank, p1, p2, merged, freq) — the artifact a tokenizer ships.
    *
    * Scale shape: the corpus collapses ONCE to the vocabulary table
    * (Heaps' law: orders of magnitude smaller than the corpus — the only
    * corpus-sized scan in training). Routed by MEASURED vocabulary size
    * ([[Routing.bpeOnExecutors]]): up to [[Routing.bpeLocalMaxTypes]]
    * types the frame is collected and the loop runs on the driver
    * ([[bpeLoopLocal]] — thousands of merges/s, the shape every
    * production BPE trainer uses; the right branch for every real corpus,
    * since Heaps' law puts even a 100 TB crawl's frequency-capped type
    * count under the cap); above it the all-executor
    * [[bpeLoopDistributed]] loop, which never ships the frame to the
    * driver. Under [[Routing.Auto]] the vocab frame is persisted and
    * fetched once, bounded at the cap ([[Routing.fetchUpTo]]): the driver
    * loop runs on the fetched rows, the executor loop on the persisted
    * frame (one corpus scan, routing fetch included).
    *
    * Determinism: exact integer counts, ties broken on the pair key
    * (≡ (p1, p2) lexicographic), and the merge application is a literal
    * left-to-right replace — bit-identical across engines, partitionings,
    * retries, and the two loops (CorpusSpec pins local ≡ executors).
    * Stops early (fewer rows) when no pair remains. */
  def bpeTrain(docs: DataFrame, text: Column, numMerges: Int,
               route: Routing.Route = Routing.Auto): DataFrame = {
    require(numMerges > 0, "need numMerges > 0")
    val spark = docs.sparkSession
    val vocab = bpeVocab(docs, text)
    // persisted when measured: the bounded fetch and the executor loop
    // share one corpus scan
    if (route == Routing.Auto) vocab.persist()
    try Routing.smallSide(route, vocab, Routing.bpeLocalMaxTypes)(
        Routing.bpeOnExecutors) match {
      case Some(v) =>
        bpeLoopLocal(v.map(r => (r.getLong(0), r.getString(1))), numMerges, spark)
      case None => bpeLoopDistributed(vocab, numMerges)
    } finally vocab.unpersist()
  }

  /** The (freq, padded-symbol-string) vocabulary frame every BPE training
    * loop iterates — the ONLY corpus-sized scan in training (Heaps' law
    * keeps its row count orders of magnitude below the corpus). */
  private def bpeVocab(docs: DataFrame, text: Column): DataFrame = docs
    .select(explode(TextFunctions.tokens(text)).as("w"))
    .filter(length(col("w")) > 0)
    .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    .select(col("freq"), bpeSymbolString(col("w")).as("p"))

  /** [[bpeTrain]]'s executor-side merge loop over a prepared vocab frame:
    * one combinable pair-count aggregation + one map-only replace
    * projection per merge. Right at any vocabulary size, but each merge
    * is a full Spark job — measured ~3.8 merges/s on a 50k-type
    * vocabulary at local[32] (job scheduling, not counting, is the
    * floor), which prices a real 30k-merge run at ~2 h. [[bpeTrain]]
    * routes around that whenever the vocab frame fits the driver.
    *
    * Lineage is one thin projection per merge and is cut by an eager
    * localCheckpoint every [[bpeCheckpointEvery]] merges, so a real
    * 30k-merge run keeps constant-depth plans (the connectedComponents
    * device) while short runs never pay a checkpoint. */
  private def bpeLoopDistributed(vocabDf: DataFrame,
                                 numMerges: Int): DataFrame = {
    val spark = vocabDf.sparkSession
    val vocab0 = vocabDf
    // ONE anchored base + a short stack of lazy map-only projections on
    // top of it, cut eagerly every bpeCheckpointEvery merges. Persisting
    // EVERY iteration's frame instead (the obvious formulation) nests k
    // InMemoryRelations, and plan rendering of that chain (AQE logs an
    // explainString per executed query, recursing through every cached
    // inner plan) grows super-linearly — measured OOM-ing an 8 GB driver
    // before merge 40 on a ONE-ROW vocabulary. Re-running ≤ cadence
    // literal replaces over the cached base per iteration is noise by
    // comparison at any vocabulary size.
    var base = vocab0.persist()
    var vocab = base
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    try {
      var k = 0
      var steps = 0
      var done = false
      while (k < numMerges && !done) {
        val best = vocab
          .select(col("freq"), explode(bpePairKeys(col("p"))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val pair = best.head.getString(0)
          val n = best.head.getLong(1)
          val Array(p1, p2) = pair.split("  ", 2)
          merges += ((k + 1, p1, p2, p1 + p2, n))
          if (k + 1 < numMerges) { // last merge needs no vocab rewrite
            vocab = vocab
              .select(col("freq"), bpeApplyMerge(col("p"), pair).as("p"))
            steps += 1
            if (steps >= bpeCheckpointEvery) {
              val next = vocab.localCheckpoint() // eager: flat plan after
              base.unpersist()
              base = next
              vocab = next
              steps = 0
            }
          }
        }
        k += 1
      }
    } finally base.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("rank", "p1", "p2", "merged", "freq")
  }

  /** Lineage-cut cadence for [[bpeTrain]]'s iterated vocab frame: long
    * merge runs checkpoint every this-many iterations so plan depth stays
    * bounded; runs shorter than this never pay one. */
  private[operators] val bpeCheckpointEvery = 32

  /** [[bpeTrain]]'s driver-local merge loop over the collected
    * vocabulary: same statistics, same tie-breaks, same replace semantics
    * as [[bpeLoopDistributed]], at in-core speed (thousands of merges/s).
    *
    * Bit-equivalence: counts are the same exact per-adjacent-position
    * (overlapping) integers; ties break on the pair key compared as
    * UNSIGNED UTF-8 BYTES — Spark's binary string order; Java's
    * String.compareTo would disagree wherever a supplementary code point
    * meets U+E000..U+FFFF — and each merge is the same literal
    * non-overlapping left-to-right replace of " p1  p2 " (Java
    * String.replace ≡ UTF8String.replace on these space-delimited
    * symbol strings).
    *
    * Loop internals: pair statistics update INCREMENTALLY (only words
    * containing the merged pair are recounted — the Sennrich reference
    * trainer's device) through a pair→word-ids index, and the arg-max is
    * a lazy-deletion max-heap (stale entries pop until one matches the
    * live count), so a merge costs O(affected words · their symbols),
    * never a vocabulary scan. */
  private def bpeLoopLocal(vocab: Array[(Long, String)], numMerges: Int,
                           spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import java.nio.charset.StandardCharsets.UTF_8
    val freqs = vocab.map(_._1)
    val words = vocab.map(_._2) // padded symbol strings, mutated in place
    // "p1  p2" pair keys of a padded symbol string, one per adjacent
    // position (overlapping occurrences count — the Sennrich statistic,
    // identical to bpePairKeys)
    def pairsOf(p: String): Array[String] = {
      val s = p.trim.split(" +")
      if (s.length < 2) Array.empty[String]
      else Array.tabulate(s.length - 1)(i => s(i) + "  " + s(i + 1))
    }
    // Spark orders StringType by unsigned UTF-8 bytes; reproduce exactly
    def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xFF) - (b(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    final case class Cand(key: String, count: Long, bytes: Array[Byte])
    val heap = new java.util.PriorityQueue[Cand](
      math.max(16, vocab.length),
      (x: Cand, y: Cand) =>
        if (x.count != y.count) java.lang.Long.compare(y.count, x.count)
        else byteCompare(x.bytes, y.bytes))
    val counts = new java.util.HashMap[String, java.lang.Long]()
    val wordsWith = new java.util.HashMap[String, java.util.HashSet[Int]]()
    def bump(key: String, delta: Long): Unit = {
      val now = counts.merge(key, java.lang.Long.valueOf(delta),
        (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
      if (now.longValue() <= 0L) counts.remove(key)
    }
    var i = 0
    while (i < words.length) {
      val f = freqs(i)
      for (k <- pairsOf(words(i))) {
        bump(k, f)
        wordsWith.computeIfAbsent(k, _ => new java.util.HashSet[Int]())
          .add(i)
      }
      i += 1
    }
    counts.forEach((k, v) =>
      heap.add(Cand(k, v.longValue(), k.getBytes(UTF_8))))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // lazy deletion: pop until the head's count matches the live map
      var best: Cand = null
      while (best == null && !heap.isEmpty) {
        val c = heap.poll()
        if (counts.get(c.key) match {
              case null => false
              case v    => v.longValue() == c.count
            }) best = c
      }
      if (best == null) done = true
      else {
        val Array(p1, p2) = best.key.split("  ", 2)
        merges += ((rank + 1, p1, p2, p1 + p2, best.count))
        if (rank + 1 < numMerges) {
          val pattern = " " + best.key + " "
          val repl = " " + p1 + p2 + " "
          val touched = wordsWith.remove(best.key)
          if (touched != null) {
            val changed = new java.util.HashSet[String]()
            touched.forEach { idx =>
              val w = words(idx)
              if (w.contains(pattern)) { // stale index entries skip
                val f = freqs(idx)
                for (k <- pairsOf(w)) { bump(k, -f); changed.add(k) }
                val nw = w.replace(pattern, repl)
                words(idx) = nw
                for (k <- pairsOf(nw)) {
                  bump(k, f); changed.add(k)
                  wordsWith
                    .computeIfAbsent(k, _ => new java.util.HashSet[Int]())
                    .add(idx)
                }
              }
            }
            changed.forEach { k =>
              val v = counts.get(k)
              if (v != null) heap.add(Cand(k, v.longValue(),
                k.getBytes(UTF_8)))
            }
          }
        }
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "p1", "p2", "merged", "freq")
  }

  /** BPE tokenizer APPLICATION: encode every document with a learned
    * merge list (`(p1, p2)` in rank order, from [[bpeTrain]]'s output),
    * returning per document the BPE token count and an md5 of the
    * space-joined symbol sequence (full-sequence verification without
    * shipping bodies). Semantics: each merge is applied corpus-wide as
    * one left-to-right replace pass, in rank order — exactly the
    * training-time rule, so encoding the training corpus reproduces
    * training's final state.
    *
    * Scale shape: map-only — the merge list folds into ONE composed
    * codegen projection (numMerges nested literal replaces over the
    * symbol string; no join, no shuffle, no UDF), so the whole encode is
    * a single pass over the bytes at scan parallelism. Word boundaries
    * are the [[bpeSymbolString]] triple-space gaps, so no merge ever
    * crosses a word — the merge list broadcast is the CLOSURE, a few KB
    * for real vocabularies.
    *
    * Merge-count bound: the nested-replace tree is linear in numMerges
    * and reliable at 256 merges (CorpusSpec's depth probe; codegen splits
    * oversized methods itself). It is NOT the shape for a real 30k-merge
    * vocabulary: Catalyst's Column→Expression and transform recursions
    * stack several frames per node — 512 merges already StackOverflowed
    * a default-stack test thread, so 256 is the honest per-projection
    * bound. At real vocabulary scale use [[bpeEncodeVocab]]: encode each
    * DISTINCT word once over the Heaps'-law vocab frame and join back —
    * no expression tree grows with the merge count at all. */
  def bpeEncode(docs: DataFrame, id: Column, text: Column,
                merges: Seq[(String, String)]): DataFrame = {
    val sym0 = bpeSymbolString(trim(text))
    val enc = merges.foldLeft(sym0) { case (p, (p1, p2)) =>
      bpeApplyMerge(p, p1 + "  " + p2)
    }
    // normalization + token count are byte kernels (collapseSpaces /
    // spaceCount): the regex forms live on in the oracle as cross-checks.
    // A single-spaced non-empty string has exactly spaces+1 tokens — no
    // split-array allocation on the hot path.
    val norm = graft.functions.GraftFunctions.collapseSpaces(enc)
    docs.select(id.as("doc_id"),
      when(length(trim(text)) === 0, lit(0L))
        .otherwise((graft.functions.GraftFunctions.spaceCount(norm) +
          lit(1)).cast("long")).as("n_tok_bpe"),
      md5(norm).as("syms_md5"))
  }

  /** BPE encode at REAL vocabulary scale (30k+ merges, where
    * [[bpeEncode]]'s nested-replace projection cannot go): encode each
    * DISTINCT word exactly once, then apply the word→symbols dictionary
    * corpus-wide as a map-only pass. Two Heaps'-law facts make this the
    * right 100 TB shape: the distinct-word frame is orders of magnitude
    * smaller than the corpus (one aggregation, the only shuffle in the
    * operator), and each word's encode touches only the merges that
    * actually fire in it (priority-order, O(len·applied) — never a scan
    * of the 30k-merge table), so total encode work is
    * O(types · word-length), independent of corpus size. The dictionary
    * ships to executors as ONE broadcast (a few hundred MB at the 2^22
    * [[Routing.bpeLocalMaxTypes]] cap); scoring is a dictionary lookup per token
    * inside one projection — no join, no per-doc shuffle, and the output
    * schema and values match [[bpeEncode]] exactly.
    *
    * Equivalence contract (CorpusSpec pins it, and the query twin shares
    * bpe_encode's oracle): `merges` must be a TRAINING OUTPUT in rank
    * order (every pair that names a merged symbol ranks after the merge
    * that created it — true of every [[bpeTrain]] table, on
    * either route). Under that invariant, repeatedly applying the
    * lowest-ranked pair present in a word — the standard tokenizer
    * encode loop — reproduces the sequential all-merges replace pass
    * bit-for-bit: a merge can only ever CREATE pairs that rank after
    * itself, so no lower-ranked pair can reappear once passed.
    * Whitespace precondition: token gaps must be plain spaces (tokens =
    * `\s+` splits); a non-space whitespace byte glued inside a gap stays
    * in [[bpeEncode]]'s output but not in a token stream. */
  def bpeEncodeVocab(docs: DataFrame, id: Column, text: Column,
                     merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val rankOf: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    // the standard per-word encode: split to code points, then merge the
    // lowest-ranked adjacent pair present (all its non-overlapping
    // occurrences, left to right) until none of the table's pairs remain
    def encodeWord(w: String): String = {
      var syms = new scala.collection.mutable.ArrayBuffer[String](w.length)
      var ci = 0
      while (ci < w.length) {
        val cp = w.codePointAt(ci)
        val n = Character.charCount(cp)
        syms += w.substring(ci, ci + n)
        ci += n
      }
      var continue = true
      while (continue && syms.length >= 2) {
        var bestRank = Int.MaxValue
        var i = 0
        while (i < syms.length - 1) {
          rankOf.get((syms(i), syms(i + 1))) match {
            case Some(r) if r < bestRank => bestRank = r
            case _ =>
          }
          i += 1
        }
        if (bestRank == Int.MaxValue) continue = false
        else {
          val (p1, p2) = merges(bestRank)
          val next = new scala.collection.mutable.ArrayBuffer[String](
            syms.length)
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && syms(j) == p1 && syms(j + 1) == p2) {
              next += p1 + p2; j += 2 // left-to-right, non-overlapping
            } else { next += syms(j); j += 1 }
          }
          syms = next
        }
      }
      syms.mkString(" ")
    }
    // the Heaps'-law dictionary: every distinct word encoded ONCE
    import spark.implicits._
    val types = docs.select(explode(TextFunctions.tokens(text)).as("w"))
      .filter(length(col("w")) > 0).distinct().as[String].collect()
    val dict = spark.sparkContext.broadcast(
      types.iterator.map(w => w -> encodeWord(w)).toMap)
    // per-token dictionary lookup (fallback encode covers words outside
    // the dictionary corpus); a UDF is the honest tool here — a
    // broadcast-map probe has no codegen-expression form
    val encDoc = udf((toks: Seq[String]) => {
      val d = dict.value
      toks.iterator.filter(_.nonEmpty)
        .map(w => d.getOrElse(w, encodeWord(w))).mkString(" ")
    })
    val norm = encDoc(TextFunctions.tokens(text))
    docs.select(id.as("doc_id"),
      when(length(trim(text)) === 0, lit(0L))
        .otherwise((graft.functions.GraftFunctions.spaceCount(norm) +
          lit(1)).cast("long")).as("n_tok_bpe"),
      md5(norm).as("syms_md5"))
  }

  /** Quality-CLASSIFIER training (the fastText-classifier slot of the
    * GPT-3/LLaMA data pipelines: score documents with a small learned
    * discriminative model instead of — or distilled from — hand rules):
    * binary logistic regression over (intercept, x1, x2), fit by
    * Newton/IRLS, each iteration ONE map-side-combinable aggregation of
    * the nine sufficient statistics (Σw·xᵢxⱼ upper triangle + Σ(y−p)·xᵢ)
    * and O(1) driver algebra. At 100 TB an iteration costs exactly one
    * pass over the (persistable) feature frame — no shuffle wider than a
    * single 9-column row — and the model is three doubles.
    *
    * Engine-exactness (every correctness device this repo uses, in one
    * operator): per-row contributions are quantized to 6 dp by the
    * SCALED-FLOOR device — floor(x·10⁶ + 0.5), pure IEEE ops on the same
    * double, so both engines produce the IDENTICAL integer (decimal-
    * string rounding is NOT safe here: these contributions sit on exact
    * half-at-6dp rationals constantly — 0.25 × 2dp × 4dp products —
    * where Spark's shortest-string HALF_UP and DuckDB's scaled-double
    * round disagree, measured 2e-6 on this corpus's Σw·x1·x2) — and
    * summed as DECIMAL(38,0), exact and order-independent; the Newton
    * solve is written as EXPLICIT 3×3 Cramer cofactors whose textual
    * operation order the DuckDB oracle mirrors token for token (same
    * IEEE sequence → same doubles); β re-quantizes through the same
    * scaled floor after every update, so a 1-ulp exp() divergence inside
    * an iteration cannot propagate. A fixed ridge (1e-3 on the diagonal)
    * keeps the solve deterministic on degenerate fixtures. The solver is
    * deliberately arity-fixed: a general d-dimensional elimination has
    * no stable textual op order a SQL oracle could replay. */
  def logisticNewton(feats: DataFrame, y: Column, x1: Column, x2: Column,
                     iters: Int = 3, ridge: Double = 0.001)
      : (Double, Double, Double) = {
    require(iters > 0, "need iters > 0")
    val f = feats.select(y.cast("double").as("y"),
      x1.cast("double").as("x1"), x2.cast("double").as("x2"))
    // scaled-floor quantization: identical IEEE ops in both engines
    def r6c(c: Column) =
      floor(c * lit(1000000.0) + lit(0.5)).cast("decimal(38,0)")
    def r6(x: Double): Double =
      math.floor(x * 1000000.0 + 0.5) / 1000000.0
    var (b0, b1, b2) = (0.0, 0.0, 0.0)
    var k = 0
    while (k < iters) {
      val t = lit(b0) + lit(b1) * col("x1") + lit(b2) * col("x2")
      val p = lit(1.0) / (lit(1.0) + exp(-t))
      val w = p * (lit(1.0) - p)
      val row = f.agg(
        sum(r6c(w)).as("sa"),
        sum(r6c(w * col("x1"))).as("sb"),
        sum(r6c(w * col("x2"))).as("sc"),
        sum(r6c(w * col("x1") * col("x1"))).as("sd"),
        sum(r6c(w * col("x1") * col("x2"))).as("se"),
        sum(r6c(w * col("x2") * col("x2"))).as("sf"),
        sum(r6c(col("y") - p)).as("gu"),
        sum(r6c((col("y") - p) * col("x1"))).as("gv"),
        sum(r6c((col("y") - p) * col("x2"))).as("gw")).collect().head
      def d(i: Int) = row.getDecimal(i).doubleValue / 1000000.0
      // textual op order below is MIRRORED by the SQL oracle — edit both
      val ha = d(0) + ridge
      val hb = d(1)
      val hc = d(2)
      val hd = d(3) + ridge
      val he = d(4)
      val hf = d(5) + ridge
      val gu = d(6)
      val gv = d(7)
      val gw = d(8)
      val det = ha * (hd * hf - he * he) - hb * (hb * hf - hc * he) +
        hc * (hb * he - hc * hd)
      val d0 = (gu * (hd * hf - he * he) - gv * (hb * hf - hc * he) +
        gw * (hb * he - hc * hd)) / det
      val d1 = (-gu * (hb * hf - he * hc) + gv * (ha * hf - hc * hc) -
        gw * (ha * he - hc * hb)) / det
      val d2 = (gu * (hb * he - hd * hc) - gv * (ha * he - hb * hc) +
        gw * (ha * hd - hb * hb)) / det
      b0 = r6(b0 + d0); b1 = r6(b1 + d1); b2 = r6(b2 + d2)
      k += 1
    }
    (b0, b1, b2)
  }

  /** PII redaction (the Dolma / RefinedWeb scrubbing stage): replace
    * email addresses, IPv4 addresses, and NNN-NNN-NNNN phone numbers with
    * typed placeholder tokens (Dolma's `|||EMAIL_ADDRESS|||` convention),
    * and report per-category match counts per document. Regexes are
    * deliberately restricted to the dialect intersection of java.util.regex
    * (Spark codegen) and RE2 (DuckDB): ASCII classes, bounded quantifiers,
    * `\b` word boundaries — no lookaround, no backreferences — so the
    * oracle replays the identical automaton. Redaction order is fixed
    * (email → ip → phone): earlier passes insert letter/pipe placeholders
    * that later digit-driven patterns cannot re-match, and the counts are
    * taken against each pass's INPUT, so a string is attributed to exactly
    * one category.
    *
    * Scale shape: a pure map-only kernel — three regexp_replace + three
    * regexp_count over the text column, all inside whole-stage codegen, no
    * shuffle, no UDF; the scan's column pruning and partition parallelism
    * are untouched. At 100 TB this is the cheapest stage in the pipeline:
    * one pass over the bytes per executor core. */
  def piiRedact(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val afterEmail = regexp_replace(text, email, "|||EMAIL|||")
    val afterIp = regexp_replace(afterEmail, ip, "|||IP|||")
    docs.select(id.as("doc_id"),
      regexp_count(text, lit(email)).as("n_email"),
      regexp_count(afterEmail, lit(ip)).as("n_ip"),
      regexp_count(afterIp, lit(phone)).as("n_phone"),
      regexp_replace(afterIp, phone, "|||PHONE|||").as("clean_text"))
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw doc by
    * the log importance weight log p_target(x) − log p_raw(x) under two
    * add-k-smoothed bag-of-words models (the paper's hashed-n-gram
    * features, with word unigrams as the feature map — same estimator,
    * DuckDB-replayable), then resample the top-K WITHOUT replacement via
    * the Gumbel-max trick. The Gumbel noise is a digest of the doc id —
    * not an RNG stream — so the selected set is reproducible across runs,
    * retries, partitionings, and engines (the [[hashUniform]] rationale);
    * u is offset to (0,1) exclusive so log(−log(u)) is always finite.
    *
    * Exactness: per-token log-ratios are rounded to 6 dp and summed as
    * DECIMAL (the [[lmPerplexity]] device), so each doc's weight is
    * order-independent; the final score adds one Gumbel double in a
    * single IEEE op — bit-identical in any engine evaluating the same
    * expression. Scale shape: both count tables are map-side-combinable
    * groupBys, and the scorer collapses to ONE vocab-scale (w, lw) table
    * (r12, the lmPerplexity device — per-type math, not per-occurrence)
    * that the token stream equi-joins once — broadcast-converted on
    * small corpora, hinted SHUFFLE_HASH past [[Routing.lmShuffleHashMinDocs]]
    * (the sort-merge fallback's occurrence-stream sort spilled 22 GB at
    * sf100; Zipf skew remains AQE's skew-split case); corpus sizes and
    * the joint vocabulary
    * ride in as ONE broadcast row; the top-K is Spark's per-partition
    * partial top-K (TakeOrderedAndProject), never a global sort. The raw
    * frame is read twice — once exploded to tokens, once ids-only for the
    * unscored-doc join-back — but the second scan column-prunes to the id
    * (parquet reads one column), so the extra pass is noise next to the
    * token explode. */
  def dsirSample(raw: DataFrame, id: Column, text: Column,
                 target: DataFrame, targetText: Column,
                 topK: Int, k: Double = 0.5,
                 salt: String = "",
                 corpusDocs: Option[Long] = None): DataFrame = {
    require(topK > 0, "need topK > 0")
    require(k > 0.0, "need smoothing k > 0")
    val rawToks = raw.select(id.as("doc_id"),
      explode(TextFunctions.tokens(text)).as("w"))
    val tgtToks = target.select(
      explode(TextFunctions.tokens(targetText)).as("w"))
    val cr = rawToks.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val ct = tgtToks.groupBy(col("w")).agg(count(lit(1)).as("ct"))
    // joint vocabulary + both corpus sizes in one broadcast row
    val stats = cr.join(ct, Seq("w"), "full_outer")
      .agg(count(lit(1)).as("vocab"),
        coalesce(sum(col("cr")), lit(0L)).as("nr"),
        coalesce(sum(col("ct")), lit(0L)).as("nt"))
    // the whole scorer collapses to one vocab-scale (w, lw) table before
    // the corpus-scale join (the r12 lmPerplexity device): the log-ratio
    // depends only on the word, so the log/round/decimal math runs once
    // per TYPE and the token stream pays a single equi-join that AQE
    // broadcast-converts from the materialized (small) lw stage — never
    // two per-occurrence joins
    val lw = cr
      .join(ct, Seq("w"), "left_outer")
      .crossJoin(broadcast(stats))
      .select(col("w"),
        (round(log((coalesce(col("ct"), lit(0L)) + lit(k)) /
          (col("nt") + lit(k) * col("vocab"))), 6).cast("decimal(18,6)") -
          round(log((col("cr") + lit(k)) /
            (col("nr") + lit(k) * col("vocab"))), 6).cast("decimal(18,6)"))
          .as("lw"))
    // same decade-3 finding as lmPerplexity (r12, measured 22.3 GB spill
    // at sf100): when the type table outgrows AQE's broadcast conversion
    // the unhinted join SORT-merges the token stream; SHUFFLE_HASH builds
    // on the vocab-scale side and streams the occurrences — routed on
    // measured corpus size so small corpora keep the broadcast
    val lwSide =
      if (Routing.lmShuffleHash(graft.plans.PlanStats.rowCount(raw, corpusDocs)))
        lw.hint("SHUFFLE_HASH")
      else lw
    val scored = rawToks.join(lwSide, Seq("w")) // every token has a count
      .select(col("doc_id"), col("lw"))
    val perDoc = scored.groupBy(col("doc_id")).agg(sum(col("lw")).as("slw"))
    // (hex32 + 0.5) / 2^32 ∈ (0,1) strictly: never 0 or 1, so the Gumbel
    // transform is finite for every id in both engines
    val u = (conv(substring(md5(concat(lit(salt),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("double") +
      lit(0.5)) / lit(4294967296.0)
    // the Gumbel term is rounded to 6 dp and added as DECIMAL: engines
    // disagree on ln() by 1 ulp (libm vs java.lang.Math), which the raw
    // double sum would carry into the score's last bit
    val g = round(-log(-log(u)), 6).cast("decimal(18,6)")
    raw.select(id.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("slw").cast("double"), lit(0.0)).as("logw"),
        (coalesce(col("slw"), lit(0).cast("decimal(18,6)")) + g)
          .cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** CCNet-style LM quality score (Wenzek et al. 2020 §4.2 rank documents
    * by language-model perplexity; the KenLM slot). The model here is an
    * add-k-smoothed word-BIGRAM LM trained on the corpus itself — no
    * external model file, everything derivable (and DuckDB-verifiable)
    * from the data: P(w2|w1) = (c(w1,w2) + k) / (c(w1,·) + k·V) with V
    * the distinct-successor vocabulary. Returns per document the bigram
    * count, mean log-probability, and perplexity exp(−mean); docs with
    * < 2 tokens score NULL (nothing to model), never vanish.
    *
    * Scale shape (r12, replacing the r11 two-join form that spilled 42 GB
    * at sf100): the ENTIRE model collapses to one vocab-scale
    * (w1, w2, lp) table before any corpus-scale join — cl is the
    * (w1)-marginal OF cb (c(w1,·) = Σ_w2 c(w1,w2)) and V is distinct w2
    * over cb, so both re-aggregate bc's already-shuffled Heaps'-law frame
    * instead of re-scanning the corpus (`ReusedExchange` in the formatted
    * plan is the receipt; the explicit IsNotNull filters below exist to
    * keep the branches canonically identical so that reuse fires), and
    * the log/round/decimal arithmetic runs once per bigram TYPE, not once
    * per occurrence. Scoring is then ONE equi-join of the occurrence
    * stream against that table: small corpora get AQE's broadcast
    * conversion; past [[Routing.lmShuffleHashMinDocs]] the type table outgrows
    * broadcast and the join is HINTED SHUFFLE_HASH — the unhinted
    * sort-merge fallback sorts the occurrence stream (measured 42 GB of
    * spill at sf100) where the hash build pays only vocab-scale state
    * per partition, Zipf-hot w1 being AQE's skew-split case. The
    * per-doc reduction is a map-side-combining
    * groupBy(doc_id) — per-doc partials, never an occurrence shuffle.
    * Per-bigram log-probs are ROUNDED TO 6 dp AND SUMMED AS DECIMAL, so
    * each document's score is order-independent — the same
    * partial-sum-order drift the decade-3 money aggregates hit would
    * otherwise make 10^9 doc scores engine-order-dependent. */
  def lmPerplexity(docs: DataFrame, id: Column, text: Column,
                   k: Double = 0.5,
                   corpusDocs: Option[Long] = None): DataFrame = {
    require(k > 0.0, "need smoothing k > 0")
    val base = docs.select(id.as("doc_id"),
      TextFunctions.tokens(text).as("toks"))
    val bi = bigrams(base, col("doc_id"))
      // tokens are split() elements (never null), and a null-id doc's
      // bigrams can never match the final doc_id join-back (it reports
      // n_bigrams=0 either way); stating all three filters EXPLICITLY —
      // instead of letting each join branch infer its own IsNotNull
      // constraints — keeps both corpus branches' subtrees canonically
      // aligned and the model branches reuse-friendly
      .filter(col("doc_id").isNotNull && col("w1").isNotNull &&
        col("w2").isNotNull)
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val lc = bc.groupBy(col("w1")).agg(sum(col("cb")).as("cl"))
    // the cb > 0 filter is vacuous (counts are ≥ 1) but it REFERENCES the
    // aggregate, which stops RemoveRedundantAggregates from collapsing
    // "distinct w2 over bc" back onto the raw bigram stream — that
    // rewrite is locally smart and globally wasteful: it would give the
    // vocab branch its own corpus tokenize instead of reusing bc's
    // already-shuffled vocab-scale frame
    val vocab = bc.filter(col("cb") > 0)
      .agg(count_distinct(col("w2")).as("vocab"))
    // the WHOLE model collapses to one vocab-scale (w1, w2, lp) table:
    // lc/vocab are re-aggregations OF bc (exchange-reused, no re-scan),
    // and the log/round/decimal arithmetic runs once per bigram TYPE
    // (Heaps'-law bounded), not once per occurrence
    val lp = bc
      .join(lc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("cb") + lit(k)) / (col("cl") + lit(k) * col("vocab"))),
          6).cast("decimal(18,6)").as("lp"))
    // HOW the occurrence stream meets the model is the decade-3 spill
    // question (r12, measured): past toy SFs the (w1,w2,lp) table
    // outgrows AQE's broadcast conversion, and the unhinted join falls
    // back to SORT-merge — sorting the corpus-scale occurrence stream
    // spilled 42 GB at sf100. A SHUFFLE_HASH hint keeps the same key
    // partitioning but builds the hash table on the vocab-scale model
    // side and STREAMS the occurrences — no sort, no occurrence-side
    // spill; per-partition build state is bigram-types/shuffle-partitions
    // (hundreds of MB per node even at web scale). Routed on measured
    // corpus size (the decontaminate device; PlanStats reads parquet
    // footers, no scan) so small corpora keep the strictly-better
    // broadcast conversion.
    val model =
      if (Routing.lmShuffleHash(graft.plans.PlanStats.rowCount(docs, corpusDocs)))
        lp.hint("SHUFFLE_HASH")
      else lp
    docScores(base, bi.join(model, Seq("w1", "w2"))
      .select(col("doc_id"), col("lp")))
  }

  /** Adjacent-token bigrams `(keep…, w1, w2)` of a frame's `toks` column;
    * a doc under two tokens yields none. */
  private[operators] def bigrams(toks: DataFrame, keep: Column*): DataFrame =
    toks.filter(size(col("toks")) >= 2)
      .select(keep :+ explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(toks[i-1] AS w1, toks[i] AS w2))""".stripMargin))
        .as("bg"): _*)
      .select(keep ++ Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)

  /** The [[lmPerplexity]] schema `(doc_id, n_bigrams, avg_logp, ppl)` from
    * per-bigram decimal log-probs `(doc_id, lp)`, left-joined back onto
    * every doc of `base` so a doc with no scored bigram reports
    * n_bigrams = 0 and NULL scores instead of vanishing. */
  private[operators] def docScores(base: DataFrame,
                                   scored: DataFrame): DataFrame = {
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
      // slp is an exact integer at scale 6; avg_logp must NOT be
      // round(double-quotient, 6): whenever n_bigrams divides the scale-6
      // sum to an exact half (n=2 and odd slp6 does it EVERY time) the
      // quotient sits on the .5 rounding boundary and the two engines'
      // double-round implementations disagree on which side the binary
      // representation falls (caught at sf100: one doc in 5M flipped the
      // 6th decimal). halfUpAvg6 rounds the exact RATIONAL slp6/n in
      // integer arithmetic instead — order-independent and engine-exact.
      .withColumn("slp6", (col("slp") * lit(1000000)).cast("long"))
      .withColumn("avg6", halfUpAvg6("slp6", "n_bigrams"))
    val avg = col("avg6").cast("double") / lit(1000000.0)
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        avg.as("avg_logp"),
        round(exp(-avg), 4).as("ppl"))
  }

  /** Build an [[LmScorer]] — the STREAMING deployment of [[lmPerplexity]]:
    * the bigram model is trained ONCE on the (static) reference corpus —
    * the two count frames persisted, the vocabulary collapsed to one
    * scalar — and an unbounded training stream is scored against it batch
    * by batch with zero per-batch training work. Same model, same decimal
    * device, same half-up rational rounding, so scoring an in-corpus
    * slice is bit-identical to the batch operator. Call `close()` when
    * retiring it. */
  def lmScorer(corpus: DataFrame, id: Column, text: Column,
               k: Double = 0.5): LmScorer = {
    require(k > 0.0, "need smoothing k > 0")
    val bi = bigrams(corpus.select(id.as("doc_id"),
      TextFunctions.tokens(text).as("toks")))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      .persist()
    // ONE corpus-scale scan (bc's build): the left-context counts are the
    // (w1)-marginal of bc (c(w1,·) = Σ_w2 c(w1,w2)) and the vocabulary is
    // distinct w2 over bc — both read the persisted vocab-scale frame,
    // where the r11 formulation re-tokenized the whole corpus for each
    // (three corpus scans at model-build time).
    val lc = bc.groupBy(col("w1")).agg(sum(col("cb")).as("cl")).persist()
    val vocab = bc.select(col("w2")).distinct().count()
    new LmScorer(bc, lc, vocab, k)
  }

  /** The k−1 ntile BOUNDARIES of a ranked frame — the artifact that turns
    * a batch ranking into a stateless streaming gate: boundary i is the
    * maximal (value, id) pair of ntile i, so "≤ boundary" reproduces the
    * batch ntile labels exactly (ntile ranges are contiguous in the
    * (value, id) total order, ties included). One bounded aggregation
    * (k−1 rows collected); train them batch-side, broadcast them into
    * [[ntileGate]]. */
  def ntileBoundaries(bucketed: DataFrame, value: Column, id: Column,
                      ntile: Column, k: Int): Seq[(Double, Long)] = {
    require(k >= 2, "need k >= 2")
    bucketed.filter(ntile < k)
      .groupBy(ntile.as("__nb_t"))
      .agg(max(struct(value.as("v"), id.as("i"))).as("b"))
      .orderBy(col("__nb_t"))
      // max(struct) ordered on the ORIGINAL dtypes; only the collected
      // boundary values are widened, so a DecimalType/FloatType value or
      // IntegerType id can't ClassCastException the row getters
      .select(col("b.v").cast("double"), col("b.i").cast("long"))
      .collect().toSeq
      .map(r => (r.getDouble(0), r.getLong(1)))
  }

  /** Stateless map-only bucket assignment against batch-trained
    * [[ntileBoundaries]]: the first boundary at or past the row's
    * (value, id) names its bucket. Composes with streaming plans at any
    * scale (pure codegen when-chain, no state store, no shuffle);
    * `labels(i)` labels ntile i+1. */
  def ntileGate(scored: DataFrame, value: Column, id: Column,
                cuts: Seq[(Double, Long)], labels: Seq[String],
                out: String = "bucket"): DataFrame = {
    require(labels.length == cuts.length + 1,
      "need one label per ntile: labels = cuts + 1")
    val assign = cuts.zip(labels.init).foldRight(lit(labels.last): Column) {
      case (((v, i), lab), acc) =>
        when(value < v || (value === v && id <= i), lit(lab)).otherwise(acc)
    }
    scored.withColumn(out, assign)
  }

  /** Exact half-up rounding of the rational `slp6 / n` to an integer,
    * in pure int64 arithmetic: q = (2·|slp6| + n) div (2n), sign restored.
    * Equivalent to rounding the true quotient half-away-from-zero at the
    * 6-dp scale slp6 carries — with no double anywhere, so no engine can
    * disagree about a boundary. */
  private[graft] def halfUpAvg6(slp6: String, n: String): Column =
    expr(s"""CASE WHEN $slp6 IS NULL OR $n IS NULL OR $n = 0 THEN NULL
             ELSE (CASE WHEN $slp6 < 0 THEN -1L ELSE 1L END)
                  * ((abs($slp6) * 2 + $n) div ($n * 2)) END""")

  /** CCNet-style boilerplate removal (Wenzek et al. 2020 §4.1 dedup the
    * corpus at PARAGRAPH granularity; Penedo et al. 2023 RefinedWeb run
    * the same line-level pass): a paragraph whose exact text recurs in
    * ≥ `minDocs` DISTINCT documents is boilerplate (nav bars, cookie
    * banners, license headers) and is dropped from every document; the
    * survivors are reassembled in original order. Returns one row per
    * input document: (doc_id, clean_text, n_paras, n_dropped) — documents
    * that were pure boilerplate come back with an empty clean_text, never
    * silently vanish.
    *
    * Scale shape: paragraph TEXT never shuffles for the counting — each
    * paragraph collapses to md5 map-side, the (digest, doc_id) pairs
    * reduce to distinct-doc counts (map-side combinable), and only the
    * (rare) hot digests come back, joined against the paragraph stream by
    * digest (AQE broadcasts the hot set — it is small by construction:
    * boilerplate is repetitive, that is the point). Reassembly is a
    * per-document collect of (idx, para) — state bounded by the document
    * itself, the same bound as parsing it. The digest-keyed counting is
    * exact under md5 collision-freedom, and the ORACLE uses the same
    * digests, so engine/oracle agree by construction. */
  def dropBoilerplate(docs: DataFrame, id: Column, text: Column,
                      sep: String = "\n", minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "need minDocs >= 2")
    require(sep.nonEmpty, "need a non-empty separator")
    val lit_sep = java.util.regex.Pattern.quote(sep)
    val paras = docs
      .select(id.as("doc_id"),
        posexplode(split(text, lit_sep)).as(Seq("p_idx", "para")))
      .withColumn("h", md5(col("para")))
    val hot = paras
      .select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    val kept = paras.join(hot, Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(sep,
        transform(sort_array(collect_list(struct(col("p_idx"), col("para")))),
          x => x.getField("para"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(id.as("doc_id"),
        size(split(text, lit_sep)).cast("long").as("n_paras"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_paras"),
        (col("n_paras") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Lowercased host of a URL column, or '' when the string does not
    * parse as a scheme://[userinfo@]host[:port][/…] URL. One regex in the
    * java.util.regex ∩ RE2 dialect (no lookaround), so the DuckDB oracle
    * replays the identical automaton; a Spark-only plan could use the
    * builtin `parse_url` instead. Map-only, codegen'd. */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+).*", 1))

  /** Domain-suffix set of a host: `a.b.c` → [a.b.c, b.c, c]. Blocklists
    * name REGISTRABLE domains and must catch every subdomain, and
    * substring/ends-with matching over-blocks (`notbadsite.io` ends with
    * `badsite.io`): exploding the ≤ handful of label suffixes and
    * EQUI-joining them against the list is the exact, linear, shuffle-
    * friendly encoding of "host is-or-is-under domain". The transform
    * lambda re-evaluates the enclosed split per element (interpreted-
    * lambda rule), bounded here by the label count of one short host —
    * not a corpus-scale term. */
  def hostSuffixes(host: Column): Column = {
    val labels = split(host, "\\.")
    transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels)), "."))
  }

  /** URL/domain filtering — the RefinedWeb §3.1 pre-filter: keep (`allow`)
    * or drop (`deny`) every document whose URL host equals or sits under
    * any domain in `domains`. Matching is the exact suffix-set equi-join
    * of [[hostSuffixes]] — never a substring scan.
    *
    * Scale shape: the domain list collapses to distinct lowercased keys
    * and is fetched once, bounded at [[Routing.maxBroadcastDomains]]
    * (domain lists are small by nature, 10⁵-10⁷ rows): up to that many
    * keys the fetched rows broadcast into a map-side
    * semi-join over the exploded suffixes (≤ ~6 rows per doc, no shuffle
    * of doc text); above it, the suffixes probe a Bloom sketch map-side
    * and only the surviving sliver reaches the exact semi-join — the
    * [[matchedIds]] probe [[decontaminate]] uses, same one-sided-error ⇒
    * exact-output argument. Matched ids (tiny) anti/semi-join back. */
  def urlFilter(docs: DataFrame, id: Column, url: Column,
                domains: DataFrame, domain: Column,
                mode: String = "deny", fpp: Double = 0.01,
                route: Routing.Route = Routing.Auto): DataFrame = {
    val gate = urlGate(domains, domain, fpp, route)
    try gate.filter(docs, id, url, mode) finally gate.close()
  }

  /** Build a [[UrlGate]] — the STREAMING deployment of [[urlFilter]]:
    * the blocklist is normalized, deduped, and measured once (domain lists
    * are static in production — RefinedWeb's runs in-stream against a
    * fixed registry), choosing the broadcast or Bloom-prefiltered match
    * path up front; every scored (micro-)batch then pays only the
    * suffix-explode + semi-join, no per-batch list work. Same routing,
    * same exactness argument as the batch operator — gating an in-corpus
    * slice is row-identical to batch [[urlFilter]]. `close()` when
    * retiring it. */
  def urlGate(domains: DataFrame, domain: Column, fpp: Double = 0.01,
              route: Routing.Route = Routing.Auto): UrlGate = {
    require(fpp > 0.0 && fpp < 1.0, "need 0 < fpp < 1")
    val (dset, bloom) = keySet(domains.select(lower(domain).as("__uf_d"))
      .distinct(), fpp, route)(Routing.maxBroadcastDomains,
        Routing.domainSketch)
    new UrlGate(dset, bloom)
  }

  /** Per-domain curation report: document counts and byte mass by URL
    * host — what a corpus team reads before writing the next blocklist.
    * One map-side-combinable aggregation keyed by host (bounded by the
    * web's domain count, not the corpus row count); text never shuffles,
    * only (host, count, chars) partials. */
  def domainStats(docs: DataFrame, url: Column, text: Column): DataFrame =
    docs.select(urlHost(url).as("domain"),
        length(text).cast("long").as("__ds_chars"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ds_chars")).as("n_chars"))

  /** Split each document's token stream into fixed-size windows: one row
    * per (doc, chunk) with the chunk text, its token count, and the chunk
    * index. `stride` < `chunkSize` yields overlapping windows (the usual
    * training-prep shape). */
  def chunkTokens(df: DataFrame, id: Column, text: Column,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0)
    val toks = TextFunctions.tokens(text)
    // Zero-token docs yield zero chunks: split("") returns [""], which
    // would otherwise fabricate one empty chunk with chunk_len=1.
    df.filter(TextFunctions.tokenCount(text) > 0)
      .select(id.as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tok"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride))))
      .select(col("doc_id"), col("n_tok"),
        col("pos").cast("int").as("chunk_id"),
        concat_ws(" ", slice(col("toks"), col("col") + 1, lit(chunkSize)))
          .as("chunk_text"),
        least(lit(chunkSize), col("n_tok") - col("col")).cast("int")
          .as("chunk_len"))
  }
}

/** Eval-set decontamination against a PREBUILT eval gram set —
  * [[Corpus.decontaminator]]'s product and the body of
  * [[Corpus.decontaminate]]. The eval corpus is static, so its distinct
  * grams are collapsed, counted and sketched once, and the training
  * STREAM is gated against them with zero per-batch eval work.
  *
  * Two forms, one trade:
  *  - [[gate]] is STATELESS map-only streaming: keep a record iff none of
  *    its n-grams hits the Bloom sketch (driver-resident, serialized into
  *    every task closure like any broadcast scalar; the factory always
  *    builds it, and it is absent only when the eval set has no gram).
  *    No join, no state store, composes with any streaming plan at any
  *    scale. Error is one-sided and conservative: a clean doc is
  *    over-dropped with probability ≈ 1-(1-fpp)^grams, a contaminated
  *    doc is NEVER leaked (Bloom has no false negatives). For a
  *    decontamination gate, over-dropping a 10^-2-sliver is the safe
  *    direction.
  *  - [[exact]] is the per-micro-batch form for `foreachBatch`: output
  *    IDENTICAL to [[Corpus.decontaminate]] on the same slice (CorpusSpec
  *    pins stream ≡ batch). Direct use on an unbounded frame would need a
  *    stream-stream anti join (rejected by Spark) — foreachBatch is the
  *    supported shape.
  */
final class Decontaminator private[operators] (
    evalGrams: DataFrame,
    sketch: Option[org.apache.spark.util.sketch.BloomFilter], n: Int) {

  /** Stateless streaming gate (works on streaming AND batch frames):
    * map-only sketch probes inside whole-stage codegen, conservative
    * one-sided error (see class doc). */
  def gate(train: DataFrame, text: Column): DataFrame = sketch match {
    case None => train
    case Some(b) =>
      train.filter(!exists(TextFunctions.wordNGrams(text, n),
        g => GraftFunctions.bloomMightContain(g, b)))
  }

  /** Exact per-batch form: drop every row sharing an n-gram with the eval
    * set — ≡ [[Corpus.decontaminate]] on the same batch. */
  def exact(trainBatch: DataFrame, id: Column, text: Column): DataFrame = {
    val grams = trainBatch.select(id.as("__dc_id"),
      explode(TextFunctions.wordNGrams(text, n)).as("__dc_g"))
    val contaminated = Corpus.matchedIds(grams, "__dc_id", "__dc_g",
      evalGrams, sketch)
    trainBatch.join(contaminated, id === col("__dc_id"), "left_anti")
  }

  /** Drop the persisted gram frame. */
  def close(): Unit = { evalGrams.unpersist(): Unit }
}

/** Per-batch LM quality scoring against a PREBUILT bigram model — the
  * production shape of [[Corpus.lmPerplexity]] for streams (CCNet scores
  * an unbounded crawl against a model trained once on the reference
  * corpus). The model travels as two persisted count FRAMES — a
  * stream-static join, Zipf skew handled by AQE exactly as in the batch
  * operator — plus one broadcast vocabulary scalar; nothing about the
  * model is rebuilt per batch.
  *
  * Exactness: in-corpus batches score BIT-IDENTICAL to the batch operator
  * (same rounded-decimal log-probs, same [[Corpus.halfUpAvg6]] rational
  * rounding). Out-of-corpus bigrams take the add-k unseen path (LEFT
  * joins, zero counts) instead of being dropped, so novel stream text is
  * scored, never lost. Use inside `foreachBatch`, or directly on a
  * bounded frame. */
final class LmScorer private[operators] (
    bc: DataFrame, lc: DataFrame, vocab: Long, k: Double) {

  /** Score one (micro-)batch: (doc_id, n_bigrams, avg_logp, ppl) — the
    * [[Corpus.lmPerplexity]] schema; < 2-token docs score NULL, never
    * vanish. `batchDocs`: caller-known batch size — pass it when scoring
    * a CORPUS-SCALE frame (the ccnet twin ranks the whole corpus through
    * this scorer) so the model joins route SHUFFLE_HASH past
    * [[Routing.lmShuffleHashMinDocs]]; left at None, micro-batches keep
    * the planner's choice (broadcast when the persisted frames fit,
    * else a sort-merge whose sort side is the SMALL batch). */
  def score(batch: DataFrame, id: Column, text: Column,
            batchDocs: Option[Long] = None): DataFrame = {
    val base = batch.select(id.as("doc_id"),
      graft.functions.TextFunctions.tokens(text).as("toks"))
    val bi = Corpus.bigrams(base, col("doc_id"))
    // out-of-corpus bigrams need BOTH left-outer joins (an unseen w2
    // under a seen w1 still has a real cl), so the lp-table collapse the
    // batch operator uses doesn't apply. When the SCORED side is corpus-
    // scale (the ccnet twin's ranking pass), an unhinted plan sort-merges
    // and sorts the occurrence stream TWICE ((w1,w2) then w1) — the
    // same 42 GB sf100 spill lmPerplexity measured — so a declared-large
    // batch hints both model joins SHUFFLE_HASH (build on the persisted
    // vocab-scale frames, stream the occurrences; LeftOuter+BuildRight
    // is a supported shuffled-hash shape).
    val big = batchDocs.exists(Routing.lmShuffleHash)
    val (bcSide, lcSide) =
      if (big) (bc.hint("SHUFFLE_HASH"), lc.hint("SHUFFLE_HASH"))
      else (bc, lc)
    Corpus.docScores(base, bi
      .join(bcSide, Seq("w1", "w2"), "left_outer")
      .join(lcSide, Seq("w1"), "left_outer")
      .select(col("doc_id"),
        round(log((coalesce(col("cb"), lit(0L)) + lit(k)) /
            (coalesce(col("cl"), lit(0L)) + lit(k) * lit(vocab))), 6)
          .cast("decimal(18,6)").as("lp")))
  }

  /** Drop the persisted model frames. */
  def close(): Unit = { bc.unpersist(); lc.unpersist(): Unit }
}

/** Batch-trained URL/domain gate — [[Corpus.urlGate]]'s product. Holds the
  * normalized blocklist (persisted, vocab-scale) and the Bloom sketch
  * when the list outgrew the broadcast threshold; each `filter` call is
  * the exact suffix-set equi-join of [[Corpus.urlFilter]] over one
  * (micro-)batch. Stateless across batches: no state store, no
  * watermark — a document's verdict depends only on its own URL and the
  * static list. */
final class UrlGate private[operators] (
    dset: DataFrame, bloom: Option[org.apache.spark.util.sketch.BloomFilter]) {

  /** Keep (`allow`) or drop (`deny`) the batch rows whose URL host is or
    * sits under a listed domain — row-identical to [[Corpus.urlFilter]]
    * on the same input. */
  def filter(batch: DataFrame, id: Column, url: Column,
             mode: String = "deny"): DataFrame = {
    require(mode == "deny" || mode == "allow", "mode must be deny|allow")
    val suffixes = batch.select(id.as("__uf_id"),
      explode(Corpus.hostSuffixes(Corpus.urlHost(url))).as("__uf_d"))
    val matched = Corpus.matchedIds(suffixes, "__uf_id", "__uf_d", dset, bloom)
    batch.join(matched, id === col("__uf_id"),
      if (mode == "deny") "left_anti" else "left_semi")
  }

  /** Drop the persisted blocklist frame. */
  def close(): Unit = { dset.unpersist(): Unit }
}
