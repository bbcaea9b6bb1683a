package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GraftFunctions, TextFunctions}

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * Scale design notes (the point of each variant at 100 TB):
  *  - exact: one hash-groupBy over a digest — single map-side-combinable
  *    shuffle keyed by md5(text); no text is shuffled, only 32-byte digests.
  *  - minhashLSH: shingles → k-minima signature (one pass, no shuffle) →
  *    band buckets → self-join *within buckets only*. The only shuffle is
  *    by (band, bucketHash); candidate pairs are verified with exact
  *    Jaccard. Classic MinHash-LSH (Broder 1997; Leskovec et al., MMDS ch.3).
  *  - simhash: 64-bit signature, candidates via 4×16-bit band blocking
  *    (any pair within Hamming distance 3 shares ≥1 of 4 bands — pigeonhole).
  *  - tokenJaccard: blocked exact Jaccard for modest candidate sets.
  *  - embedding: cosine near-dup, blocked (label/bucket) to avoid N².
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical digest.
    * Returns (docId → canonicalId) only for rows in a duplicate group.
    *
    * Aggregation state is BOUNDED: the per-digest reduction is
    * `min`/`count` only — both map-side combinable, O(1) state per group —
    * and members are recovered by joining the digest frame back against
    * the (rare) duplicate groups. A collect_list formulation would build
    * the whole member array of a group inside one aggregation buffer, and
    * at 100 TB degenerate digests (empty strings, boilerplate pages) have
    * millions of members — an executor-OOM shape no matter how the groups
    * shuffle. The join-back costs a second scan of (id, digest) — 40-byte
    * rows with the text column pruned.
    *
    * The join-back is SALTED by default (round-6 finding): AQE's skew-join
    * split does NOT cover this shape — OptimizeSkewedJoin only matches a
    * join whose children are bare (sorted) exchanges, and the groups side
    * here is Filter(HashAggregate(exchange)), so a hot digest's reduce
    * partition would stream through ONE task no matter the confs
    * (disproven live by DedupScaleSpec's 90%-hot probe). [[Skew.saltedJoin]]
    * splits a hot digest across `saltBuckets` reducers deterministically:
    * the keyed side salts by row hash, the (tiny, 1-row-per-dup-digest)
    * groups side replicates ×saltBuckets. `saltBuckets <= 1` restores the
    * plain join for corpora known to be skew-free. */
  def exactDuplicates(docs: DataFrame, id: Column, text: Column,
                      saltBuckets: Int = 16): DataFrame = {
    val keyed = docs.select(id.as("doc_id"), md5(text).as("digest"))
    val groups = keyed
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
    val joined =
      if (saltBuckets > 1)
        // doc_id is the per-row-distinct spread key: (doc_id, digest) rows
        // for a hot digest would all hash identically under the whole-row
        // default only if doc_ids repeated — passing it explicitly keeps
        // the spread guarantee independent of future column changes here
        Skew.saltedJoin(keyed, groups, "digest", saltBuckets,
          rowKey = Some(col("doc_id")))
      else keyed.join(groups, Seq("digest"))
    joined.filter(col("doc_id") =!= col("canonical_id"))
      .select(col("doc_id"), col("canonical_id"), col("group_size"))
  }

  /** MinHash+LSH candidate pairs with exact-Jaccard verification.
    *
    * @param shingleSize word n-gram size for shingles
    * @param numHashes   signature width k
    * @param bands       LSH bands (rows per band = k / bands); pairs with
    *                    signature agreement on ≥1 full band become candidates
    * @param threshold   exact word-shingle Jaccard acceptance threshold
    */
  def minhashLsh(docs: DataFrame, id: Column, text: Column,
                 shingleSize: Int = 3, numHashes: Int = 64,
                 bands: Int = 16, threshold: Double = 0.7,
                 bucketCap: Int = 10000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val shingles = array_distinct(TextFunctions.wordNGrams(text, shingleSize))

    // Signature path never builds shingle STRINGS: the fused
    // minhashShingles kernel hashes each word n-gram positionally and
    // maintains the k minima in one codegen'd loop (Spark's higher-order
    // functions evaluate lambdas interpreted — avoiding them here is ~10×).
    // Duplicate shingles can't affect a min, so no distinct is needed.
    // String shingles are only materialized later, for verification, and
    // only for candidate docs.
    val sig = docs.select(
      id.as("doc_id"),
      GraftFunctions.minhashShingles(TextFunctions.tokens(text),
        shingleSize, numHashes).as("sig"))

    // band → one bucket value per band: murmur3-hash the band's slice.
    // bands is a static Int, so the band array unrolls at plan time and the
    // slice offsets are constants (stays in whole-stage codegen). The
    // banded frame carries ONLY (doc_id, band, bucket) — at scale the LSH
    // shuffle moves ~20 bytes/row, never the shingle arrays.
    val bandBuckets = array((0 until bands).map(b =>
      hash(slice(col("sig"), b * rows + 1, rows))): _*)
    val banded = sig.select(
      col("doc_id"), posexplode(bandBuckets).as(Seq("band", "bucket")))

    // Pairs within each (band, bucket) via groupBy + in-bucket pair
    // expansion — ONE pass over the signature subtree. A self-join would
    // evaluate the whole scan+shingle+minhash tree twice (Spark does not
    // reuse non-identical exchange branches). The bucket cap bounds the
    // state and the quadratic pair blowup of an adversarial hot bucket.
    val candidates = bucketPairs(banded, "doc_id", bucketCap, windowCapMembers)

    // Verify candidates with exact Jaccard — but only ever compute shingle
    // arrays for docs that appear in a candidate pair.
    verifyPairs(candidates, docs, id, shingles, "jaccard", threshold)(
      TextFunctions.jaccard)
  }

  /** The banded-pair kernel behind the three keyless LSH joins
    * ([[minhashLsh]], [[simhashPairsFromSig]], [[embeddingLshPairs]]):
    * cap each (band, bucket) of `banded` at its `bucketCap` smallest
    * `idCol` members with `capForm`, expand every in-bucket member pair
    * (x before y, so `id_a < id_b`) with the caller's per-pair columns
    * `pairCols(x, y)`, drop pairs failing `keep` MAP-SIDE — before
    * anything pair-shaped reaches an exchange — and deduplicate the pairs
    * that share several bands.
    *
    * The cap bounds the quadratic pair blowup of an adversarial hot bucket
    * (≤ cap²/2 pairs) AND the per-bucket state. Its form is fixed by the
    * band space the operator builds: [[windowCapMembers]] for hashed band
    * spaces, [[sortedRunMembers]] for the occupied hyperplane space. */
  private[graft] def bucketPairs(banded: DataFrame, idCol: String,
      bucketCap: Int, capForm: (DataFrame, String, Int) => DataFrame,
      pairCols: (Column, Column) => Seq[Column] = (_, _) => Nil,
      keep: Column = lit(true)): DataFrame = {
    require(bucketCap > 1, "bucketCap must allow at least one pair")
    val ms = col("ms")
    capForm(banded, idCol, bucketCap)
      .filter(size(ms) > 1)
      .select(explode(flatten(transform(ms, (x, i) =>
        transform(slice(ms, i + 2, size(ms) - i - 1), y =>
          struct(x.getField(idCol).as("id_a") +: y.getField(idCol).as("id_b")
            +: pairCols(x, y): _*))))).as("p"))
      .select(col("p.*"))
      // null ids never pair; saying so HERE, below the pair dedup, keeps
      // its exchange identical (reusable) in both branches of a
      // verification tail, which would otherwise infer the filter on its
      // join branch alone
      .filter(col("id_a").isNotNull && col("id_b").isNotNull && keep)
      .dropDuplicates("id_a", "id_b")
  }

  /** Members of each (band, bucket) — every column but band and bucket, as
    * one struct per row — capped at the `cap` smallest `idCol` values via a
    * row_number WINDOW and grouped into one ascending array `ms` per
    * bucket (the id leads the struct, so struct order is id order).
    *
    * CAP-FORM CHOICE (r9, measured): hashed band spaces (MinHash's 2^64,
    * SimHash's pigeonhole slices) cap via the window, not the bounded
    * [[GraftFunctions.collectSmallest]] aggregate. Occupancy ≪ 1, so the
    * group count ≈ the banded row count. In that regime the window wins:
    * its sort is Tungsten radix over 20-byte rows and the following
    * groupBy rides the SAME sort (sorted-run aggregation, already
    * partitioned), while the object aggregate allocates per-group PQ
    * state for millions of one-row groups and falls back to
    * object-SERIALIZED external sort past 128 keys/task. Context-matched
    * sf100 measurements: dedup_simhash 55.0 s (aggregate) → 28.6 s
    * (window) at identical sweep positions; dedup_minhash solo returns to
    * its r8 window-form cost (38 s) with BIT-identical shuffle/spill
    * metrics. (Sweep-position numbers for these queries swing up to ×4
    * with the PREDECESSOR query's spill pressure in a shared bench JVM —
    * see Bench's scaladoc — so only matched-context or solo comparisons
    * are admissible.) Buckets that are genuinely OCCUPIED take
    * [[sortedRunMembers]] instead.
    *
    * SKEW CAVEAT: the occupancy ≪ 1 argument assumes near-distinct
    * signatures. A duplicate-heavy corpus — the adversarial input dedup
    * targets — collapses mass exact-duplicates into ONE identical-signature
    * bucket per band, and the window must sort that entire hot bucket
    * before `rn <= cap` discards it: spillable external sort, not
    * unbounded memory, but it is exactly the state mode the cap was built
    * to avoid. Callers should run EXACT dedup first (the standard pipeline
    * order — exact dedup is cheaper and removes the identical-signature
    * mass), after which the near-distinct assumption holds by
    * construction. */
  private[graft] def windowCapMembers(banded: DataFrame, idCol: String,
                                      cap: Int): DataFrame = {
    val members = banded.columns.toSeq.filterNot(Set("band", "bucket"))
    banded
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("bucket")).orderBy(col(idCol))))
      .filter(col("rn") <= cap)
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(struct(members.map(col): _*))).as("ms"))
  }

  /** Verifies candidate pairs on their payloads: `payload` is computed
    * only for rows of `rows` that appear in a candidate pair (semi-join
    * the id set first, then project the — expensive — payload for those
    * rows alone), attached to both sides, scored, rounded to 4 places and
    * thresholded. Emits (id_a, id_b, `scoreName`). */
  private def verifyPairs(candidates: DataFrame, rows: DataFrame, id: Column,
                          payload: Column, scoreName: String,
                          threshold: Double)(
      score: (Column, Column) => Column): DataFrame = {
    val pairs = candidates.select(col("id_a"), col("id_b"))
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("cand_id"))
      .distinct()
    // semi-join BEFORE projecting the payload, so its expression only
    // evaluates for surviving rows (Catalyst keeps the project above the
    // join; only column pruning is pushed into the branches)
    val cand = rows
      .join(candIds, id === col("cand_id"), "left_semi")
      .select(id.as("pid"), payload.as("pv"))
    pairs
      .join(cand.select(col("pid").as("id_a"), col("pv").as("pv_a")),
        Seq("id_a"))
      .join(cand.select(col("pid").as("id_b"), col("pv").as("pv_b")),
        Seq("id_b"))
      .withColumn(scoreName, round(score(col("pv_a"), col("pv_b")), 4))
      .filter(col(scoreName) >= threshold)
      .select(col("id_a"), col("id_b"), col(scoreName))
  }

  /** SimHash near-dup: pairs (id_a < id_b, hamming) within `maxHamming`
    * of each other, band-blocked by [[simhashPairsFromSig]]. The signature
    * WIDTH is routed on corpus size ([[Routing.simhashWide]] — the
    * autoStride/autoBandBits pattern applied to the bucket space), so no
    * caller can ride the narrow form into the regime where its buckets
    * saturate:
    *  - narrow: one 60-bit md5 simhash (4 × 15-bit bands, 2^15 buckets per
    *    band) — exact-recall and DuckDB-reproducible; its expected band
    *    occupancy is N/2^15 and the map-side hamming verification grows
    *    ∝ N²/2^15 (measured ×16.8/decade at the sf100 5M-doc sweep);
    *  - wide: TWO independent 60-bit md5 simhashes over disjoint token
    *    halves (split by the token's md5 16th hex digit parity —
    *    engine-portable, so the full-row DuckDB oracle reproduces it), a
    *    120-bit signature banded as 4 × 30-bit slices: band occupancy
    *    stays ≪ 1 into the 10^8-10^9-doc regime, so candidates come from
    *    signature agreement, not birthday collisions, and `bucketCap`
    *    never bites on honest corpora.
    * The size resolves through [[Routing.isLarge]] (hint > a bound that
    * settles the narrow form > exact statistics > parquet footers >
    * count()).
    *
    * The 120-bit hamming is a FINER similarity than the 60-bit one (a
    * token's vote lands in one half, not both), so the switch changes the
    * measure by design — exactly the way [[autoBandBits]] changes the LSH
    * geometry with corpus size. WideSimhashSpec pins the wide route's
    * exact recall/precision against an all-pairs reference. */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   maxHamming: Int = 3, bucketCap: Int = 10000,
                   rowCountHint: Option[Long] = None,
                   route: Routing.Route = Routing.Auto): DataFrame = {
    val toks = TextFunctions.tokens(text)
    val wide = Routing.isLarge(route, docs.select(id), rowCountHint)(
      Routing.simhashWide)
    if (wide) {
      def half(par: Int) = filter(toks, t =>
        conv(substring(md5(t.cast("binary")), 16, 1), 16, 10).cast("int")
          % 2 === lit(par))
      simhashPairsFromSig(docs.select(id.as("doc_id"),
          GraftFunctions.simhashMd5(half(0)).as("sim_a"),
          GraftFunctions.simhashMd5(half(1)).as("sim_b")),
        sigBits = 120, bands = 4, maxHamming, bucketCap)
    } else
      simhashPairsFromSig(docs.select(id.as("doc_id"),
          GraftFunctions.simhashMd5(toks).as("sim")),
        sigBits = 60, bands = 4, maxHamming, bucketCap)
  }

  /** Band-blocked near-dup pairs from a precomputed signature frame:
    * `doc_id` plus one or more signature words (every other column, in
    * order; `sigBits` in total, split evenly over the words). Each word
    * contributes bands/words disjoint `sigBits/bands`-bit slices. Recall
    * is EXACT for maxHamming ≤ bands − 1: a pair differing in ≤ bands−1
    * bits cannot differ in every one of the `bands` disjoint slices
    * (pigeonhole), so it shares ≥ 1 band bucket; the hamming verification
    * (summed over the words) then makes precision exact too. Larger
    * maxHamming values are rejected rather than silently losing pairs.
    *
    * Scale limit: the bucket space is 2^(sigBits/bands), fixed by the
    * pigeonhole guarantee. Once average occupancy exceeds `bucketCap`
    * recall degrades cap-bounded (the cap keeps cost linear; it cannot
    * keep recall exact) — widen the signature, which is what
    * [[simhashPairs]]' wide route does.
    *
    * Same shuffle economics as [[minhashLsh]]: the grouped pair expansion
    * evaluates the signature subtree once (no self-join), carries only
    * (doc_id, signature words) through the bucket shuffle, and the
    * per-bucket capping window (the measured-right form for hashed band
    * spaces, see [[windowCapMembers]]) bounds hot-bucket state and pair
    * blowup.
    */
  def simhashPairsFromSig(sig: DataFrame, sigBits: Int, bands: Int,
                          maxHamming: Int,
                          bucketCap: Int = 10000): DataFrame = {
    val words = sig.columns.toSeq.filterNot(_ == "doc_id")
    require(words.nonEmpty && bands % words.size == 0,
      "bands must split evenly over the signature words")
    require(sigBits % bands == 0, "bands must divide sigBits")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"band blocking guarantees recall only for maxHamming <= bands-1 " +
        s"(got maxHamming=$maxHamming, bands=$bands)")
    val bitsPerBand = sigBits / bands
    val bandsPerWord = bands / words.size
    val mask = if (bitsPerBand >= 64) -1L else (1L << bitsPerBand) - 1L
    val bandCols = array((0 until bands).map(b =>
      shiftright(col(words(b / bandsPerWord)), (b % bandsPerWord) * bitsPerBand)
        .bitwiseAND(lit(mask))): _*)
    val banded = sig.select(("doc_id" +: words).map(col) :+
      posexplode(bandCols).as(Seq("band", "bucket")): _*)
    // hamming BEFORE the pair dedup: it's a pure per-pair function
    // (same value in every band a pair lands in), and one xor+popcount
    // per candidate is map-side — so the dropDuplicates exchange
    // carries only TRUE near-dup pairs at 20 B/row instead of every
    // candidate with both signatures aboard. The sf10 sweep measured
    // the difference: 14.6 GB of sort spill at 500k docs came from
    // deduplicating the raw candidate stream.
    bucketPairs(banded, "doc_id", bucketCap, windowCapMembers,
      (x, y) => Seq(words.map(w =>
        GraftFunctions.hamming(x.getField(w), y.getField(w))).reduce(_ + _)
        .as("hamming")),
      col("hamming") <= maxHamming)
  }

  /** Fail-fast misuse guard for the quadratic-per-block pair operators:
    * ONE top-1 over the light key frame's block counts (one aggregation,
    * its row count, a take-ordered head) finds the hottest block;
    * if its pair estimate exceeds `maxPairs` the call dies in seconds —
    * at call time, before any O(block²) join is even planned — instead of
    * hours into a 100 TB run. Double arithmetic: block counts can exceed
    * the n(n-1)/2 long range. No block holds more rows than the frame, so
    * when the frame's row bound ([[graft.plans.PlanStats.maxRows]])
    * already keeps its pairs within `maxPairs` the guard runs no action. */
  private def guardBlockPairs(light: DataFrame, blkCols: Seq[String],
                              maxPairs: Long, op: String,
                              lshPath: String): Unit = {
    def pairsOf(n: Double) = n * (n - 1) / 2
    if (maxPairs < Long.MaxValue && !graft.plans.PlanStats.maxRows(light)
        .exists(b => pairsOf(b.toDouble) <= maxPairs)) {
      val n = light.groupBy(blkCols.map(col): _*).count()
        .orderBy(col("count").desc).head(1)
        .headOption.fold(0.0)(_.getAs[Long]("count").toDouble)
      val pairs = pairsOf(n)
      if (pairs > maxPairs)
        throw new graft.GraftException(
          f"$op: hottest block holds ${n.toLong} rows ≈ $pairs%.3g " +
            s"candidate pairs > maxPairsPerBlock=$maxPairs. The blocked " +
            s"pair join is O(block²) by construction — choose a finer " +
            s"block key, raise maxPairsPerBlock explicitly, or use the " +
            s"keyless LSH path ($lshPath), which absorbs any corpus")
    }
  }

  /** Exact token-set Jaccard over blocked candidate pairs. `block` keys the
    * self-join (e.g. same source + language) so the pair count stays linear
    * per block instead of N² global.
    *
    * A provably lossless size-bound prefilter runs before the set
    * arithmetic: J(A,B) >= t implies |A∩B| >= t|A∪B|, and since
    * |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|), any qualifying pair
    * satisfies min >= t*max. The bound is two ints per row, so the
    * expensive intersect/union runs on ~1/15th of the pairs (the standard
    * length-filter of set-similarity joins, cf. PPJoin, Xiao et al. 2008).
    *
    * `maxPairsPerBlock` is the misuse guard (on by default): the call
    * fails fast — at CALL time, via one bounded scalar count over the
    * light key frame — if any block's pair estimate exceeds it, pointing
    * at [[minhashLsh]] as the keyless path. `Long.MaxValue` disables. */
  def tokenJaccardPairs(docs: DataFrame, id: Column, text: Column,
                        block: Seq[Column], threshold: Double,
                        maxPairsPerBlock: Long = 25000000L): DataFrame = {
    // Phase 1 — candidate pairs over a LIGHT frame: (block, id, set size).
    // The O(pairs-per-block) join shuffles ~20 bytes/row and the length
    // bound prunes before any array ever moves.
    val light = docs.select(
      (block.zipWithIndex.map { case (c, i) => c.as(s"blk_$i") } :+
        id.as("doc_id") :+
        size(GraftFunctions.tokenSetHash(TextFunctions.tokens(text)))
          .as("nt")): _*)
    val blkCols = block.indices.map(i => s"blk_$i")
    guardBlockPairs(light, blkCols, maxPairsPerBlock,
      "tokenJaccardPairs", "Dedup.minhashLsh")
    val l = light.select((blkCols.map(col) :+ col("doc_id").as("id_a") :+
      col("nt").as("nt_a")): _*)
    val r = light.select((blkCols.map(col) :+ col("doc_id").as("id_b") :+
      col("nt").as("nt_b")): _*)
    val candidates = l.join(r, blkCols)
      .filter(col("id_a") < col("id_b") &&
        least(col("nt_a"), col("nt_b")).cast("double") >=
          lit(threshold) * greatest(col("nt_a"), col("nt_b")).cast("double"))
      .select("id_a", "id_b")

    // Phase 2 — attach HASHED token sets (8 bytes/token, sorted) to the
    // surviving pairs only; Jaccard is a linear merge over two long arrays
    // (same value as the string-set formulation up to 64-bit collisions).
    val toksOf = docs.select(id.as("tid"),
      GraftFunctions.tokenSetHash(TextFunctions.tokens(text)).as("t"))
    candidates
      .join(toksOf.select(col("tid").as("id_a"), col("t").as("toks_a")),
        Seq("id_a"))
      .join(toksOf.select(col("tid").as("id_b"), col("t").as("toks_b")),
        Seq("id_b"))
      .withColumn("jaccard",
        round(GraftFunctions.jaccardSorted(col("toks_a"), col("toks_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The auto band width: `2^bits` buckets must track corpus size or
    * occupancy — and with it candidate verification — grows ∝ N (the
    * round-7 sf1 finding). Target ~16 rows/bucket, floor 8 bits (the
    * legacy packed geometry), cap 24 (16M buckets outlasts any corpus a
    * single band shuffle can hold). Exposed for the spec that pins the
    * scaling law. */
  private[graft] def autoBandBits(n: Long): Int =
    math.min(24, math.max(8,
      math.ceil(math.log(math.max(1.0, n.max(1L) / 16.0)) /
        math.log(2)).toInt))

  /** Sorted-run bucket capping for OCCUPIED band spaces: repartition by
    * (band, bucket), radix-sort plain Tungsten rows by (band, bucket,
    * `idCol`) within each task, then a streaming mapPartitions walks the
    * sorted runs keeping each bucket's `cap` smallest members (O(cap)
    * state, one pass) and emits ONE array row `ms` per bucket — the same
    * members frame, selected identically, as [[windowCapMembers]].
    *
    * Why not the window: the hyperplane band space is corpus-sized
    * ([[autoBandBits]]), so buckets are genuinely occupied, and r8
    * measured the in-bucket window sort spilling ~137 GB
    * memory-equivalent at sf100. The grouped collect ALWAYS sorts its
    * shuffled input — ObjectHashAggregate falls back to sort-based
    * aggregation past 128 keys/task, and raising that threshold OOMs (the
    * object hash map is memory-untracked — the conservative default IS
    * the safety mechanism). This walk accepts that the external sort is
    * unavoidable and makes it cheap: it sorts NARROW DATA ROWS
    * (radix-sortable, no aggregation buffers) and never plants per-group
    * object state. Solo sf100 pair stage (r10): 64.1 s, at bit-identical
    * shuffle (13.7 GB) to the bounded-aggregate cap it replaced (96.8 s).
    * The residual spill is healthy bounded external-sort disk churn under
    * a deliberately tiny heap, linear in input, and absent at sf10 and
    * below. */
  private[graft] def sortedRunMembers(banded: DataFrame, idCol: String,
                                      cap: Int): DataFrame = {
    val schema = banded.schema
    val bandIdx = schema.fieldIndex("band")
    val bucketIdx = schema.fieldIndex("bucket")
    val memberIdx =
      schema.fields.indices.filter(i => i != bandIdx && i != bucketIdx)
    val memberStruct = StructType(memberIdx.map(schema.fields(_)).toSeq)
    val outSchema = StructType(Seq(
      schema.fields(bandIdx), schema.fields(bucketIdx),
      StructField("ms", ArrayType(memberStruct, containsNull = false),
        nullable = false)))
    implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
    banded
      .repartition(col("band"), col("bucket"))
      .sortWithinPartitions(col("band"), col("bucket"), col(idCol))
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Row] {
          override def hasNext: Boolean = it.hasNext
          override def next(): Row = {
            val h = it.head
            val b = h.get(bandIdx)
            val k = h.get(bucketIdx)
            val members = new scala.collection.mutable.ArrayBuffer[Row](8)
            var n = 0
            while (it.hasNext && it.head.get(bandIdx) == b &&
                it.head.get(bucketIdx) == k) {
              val r = it.next()
              if (n < cap) members += Row.fromSeq(memberIdx.map(r.get))
              n += 1
            }
            Row(b, k, members.toSeq)
          }
        }
      }
  }

  /** Embedding cosine near-dup with random-hyperplane LSH blocking — the
    * 100 TB path: no external blocking key needed. Each vector gets a
    * `bitsPerBand`-bit hyperplane bucket per band (Charikar 2002); a pair
    * at angular similarity θ agrees on one b-bit band with probability
    * (1 - θ/π)^b, so high-cosine pairs collide in ≥1 of the bands w.h.p.
    * while the bucket join stays linear. Candidates are verified with exact
    * cosine — same shape as [[minhashLsh]]: the banded-pair kernel
    * [[bucketPairs]], then a semi-join before re-reading vectors.
    *
    * `bitsPerBand = 0` (the default) AUTO-SIZES the band width to the
    * corpus: `max(8, ceil(log2(n / 16)))` from one bounded count() of the
    * input (the same driver-scalar class as mergedN's min/max). This is
    * the parameter 100 TB lives or dies on — the round-7 sf1 sweep
    * measured the fixed 8-bit geometry going SUPER-linear (×18 at 10×
    * data): a b-bit band has only 2^b buckets, so occupancy grows ∝ N and
    * verification pairs ∝ N²/2^b. Auto keeps 2^b ∝ N — candidates stay
    * ∝ N. At ≤4096 vectors auto lands on the legacy 8×8 packed geometry,
    * bit-identical to an explicit `bitsPerBand = 8`.
    *
    * When `bands × bitsPerBand > 64`, each band draws an independent
    * hyperplane signature (seed-offset per band) instead of slicing one
    * packed 64-bit word — band width is then unbounded. Wider bands lower
    * per-band match probability for NON-identical pairs (recall at the
    * threshold is probabilistic, as with any LSH geometry; raise `bands`
    * to buy it back); identical vectors collide on every band at any
    * width, so the recall-of-identical invariant is exact regardless. */
  def embeddingLshPairs(vecs: DataFrame, id: Column, vec: Column,
                        threshold: Double, bands: Int = 8,
                        bitsPerBand: Int = 0, seed: Long = 42L,
                        bucketCap: Int = 10000,
                        rowCountHint: Option[Long] = None): DataFrame = {
    val bits =
      if (bitsPerBand > 0) bitsPerBand
      else autoBandBits(
        graft.plans.PlanStats.rowCount(vecs.select(id), rowCountHint))
    // The candidate-pair stream is PREFILTERED map-side with a SOUND int8
    // error bound before anything pair-shaped reaches an exchange. The
    // sf10 sweep measured why: verifying candidates by joining the pair
    // frame against f32 vectors shuffled pairs × 256 B intermediates —
    // 2.3 GB at 200k vectors (×179 the sf1 bytes), the heaviest exchange
    // in the engine. Pair payloads never cross the wire: survivors
    // (ids only) are deduped, then exact cosine re-verifies just them, so
    // the emitted pair set is IDENTICAL (the bound only lets through
    // false positives, which exact verification then drops).
    //
    // Soundness: with per-dim quantization error ≤ s/254 (int8Codes),
    // |approxDot − dot| ≤ n·sa·sb·(2/254 + 1/254²) over the n-prefix, so
    // cos ≤ (approxDot + errDot)/(‖a‖·‖b‖) when both lengths equal n
    // (full norm = prefix norm); ragged pairs — where the kernel's
    // prefix norms diverge from the precomputed full norms — get no bound
    // (+∞) and always pass. Zero-norm vectors score 0.0, exactly the
    // kernel's convention. The 1e-4 slack absorbs round(cos, 4).
    val errC = 2.0 / 254.0 + 1.0 / 64516.0
    def cosBound(x: Column, y: Column): Column = {
      val (ca, cb) = (x.getField("c8"), y.getField("c8"))
      val sprod = x.getField("s8") * y.getField("s8")
      val nprod = x.getField("nrm") * y.getField("nrm")
      when(size(ca) =!= size(cb), lit(Double.PositiveInfinity))
        .when(nprod > 0.0, (GraftFunctions.int8Dot(ca, cb) * sprod /
          lit(16129.0) + size(ca).cast("double") * sprod * lit(errC)) / nprod)
        .otherwise(lit(0.0))
    }
    val candidates = bucketPairs(
      hyperplaneBands(vecs, id, vec, bands, bits, seed), "vec_id", bucketCap,
      sortedRunMembers, (x, y) => Seq(cosBound(x, y).as("cos_ub")),
      col("cos_ub") >= lit(threshold) - lit(1e-4))
    verifyPairs(candidates, vecs, id, vec, "cos", threshold)(
      GraftFunctions.cosineSimilarity)
  }

  /** The hyperplane band space of [[embeddingLshPairs]]: one row per
    * (vector, band) — (vec_id, c8, s8, nrm, band, bucket). The quantized
    * sidecars (1 B/dim codes, max-abs scale, exact norm) are computed IN
    * the banding projection — pure map-side, no join — and ride the
    * bucket shuffle at ~dim+16 bytes/row. */
  private[graft] def hyperplaneBands(vecs: DataFrame, id: Column, vec: Column,
                                     bands: Int, bits: Int,
                                     seed: Long): DataFrame = {
    require(bands > 0, "need bands > 0")
    require(bits <= 62, s"bitsPerBand=$bits exceeds the 62-bit hash range")
    val sidecarCols = Seq(
      GraftFunctions.int8Codes(vec).as("c8"),
      GraftFunctions.int8Scale(vec).as("s8"),
      sqrt(aggregate(transform(vec, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)).as("nrm"))
    if (bands * bits <= 64) {
      // packed geometry: ONE fused signature, band buckets are bit
      // slices — one kernel pass per vector (the round-6 shape)
      val sig = vecs.select(id.as("vec_id") +: sidecarCols :+
        GraftFunctions.hyperplaneSimhash(vec, bands * bits, seed)
          .as("hsig"): _*)
      val mask = (1L << bits) - 1
      val bandCols = array((0 until bands).map(b =>
        shiftright(col("hsig"), b * bits).bitwiseAND(lit(mask))): _*)
      sig.select(col("vec_id"), col("c8"), col("s8"), col("nrm"),
        posexplode(bandCols).as(Seq("band", "bucket")))
    } else {
      // wide geometry: per-band independent signatures — band width no
      // longer capped by one 64-bit word (bands × bits kernel dots per
      // vector, map-side codegen, still linear)
      val bandCols = array((0 until bands).map(b =>
        GraftFunctions.hyperplaneSimhash(vec, bits,
          seed + 0x9E3779B97F4A7CL * (b + 1))): _*)
      vecs.select(id.as("vec_id") +: sidecarCols :+
        posexplode(bandCols).as(Seq("band", "bucket")): _*)
    }
  }

  /** Times the observe-folded convergence statistic fell back to its own
    * aggregation job (diagnostics: a spec pins this at 0 — the fold IS
    * the optimization; the fallback only guards against a Spark release
    * changing checkpoint's execution-event behavior). */
  private[graft] val ccObserveFallbacks =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The convergence rule of [[connectedComponents]]: a round converges
    * when its label sum equals the previous round's. The sum is the
    * metric observed on the checkpoint materialization, or — once that is
    * missing — the explicit aggregation, from then on for EVERY round
    * (sticky), and the fallback round only seeds the comparison. The two
    * are not comparable: a reliable checkpoint runs the observed plan
    * twice, so its observed sum is 2× the true sum, while the aggregation
    * is 1×. A rule that mixed them per round could compare 2× with 1×,
    * never converge, or falsely converge on a 1× sum that equals a later
    * 2× one. */
  private[graft] final case class LabelSums(
      prev: Option[java.math.BigDecimal] = None, fellBack: Boolean = false) {
    /** (converged, next state) for one round; `labelSum` runs only when
      * the observed sum is missing or the fallback already fired. */
    def next(observed: => Option[java.math.BigDecimal],
             labelSum: => java.math.BigDecimal): (Boolean, LabelSums) =
      (if (fellBack) None else observed) match {
        case Some(s) =>
          (prev.exists(_.compareTo(s) == 0), LabelSums(Some(s)))
        case None =>
          val s = labelSum
          (fellBack && prev.exists(_.compareTo(s) == 0),
            LabelSums(Some(s), fellBack = true))
      }
  }

  /** Connected components over an undirected edge list — the closure step
    * of every near-dup pipeline: pairwise edges (from [[minhashLsh]],
    * [[simhashPairsFromSig]], [[tokenJaccardPairs]], [[embeddingLshPairs]])
    * say "A duplicates B", but keep-one-per-cluster needs the transitive
    * closure (A~B, B~C ⇒ {A,B,C} is ONE cluster with one canonical doc).
    * Returns (id, component) for every node appearing in an edge, where
    * component = smallest node id reachable from `id` — deterministic, so
    * an exact SQL oracle (recursive closure) can verify it.
    *
    * Ids must be integral — tinyint, smallint, int or bigint, checked
    * before any job — and `id`/`component` take the (widened) type of the
    * two columns. An edge with a null endpoint is dropped: a null is not a
    * node, so it never takes a label and never joins two nodes.
    *
    * Routing ([[Routing.ccOnExecutors]], on the symmetric frame's two
    * rows per edge): under [[Routing.Auto]] an edge frame whose row bound
    * ([[graft.plans.PlanStats.maxRows]]) already settles the driver route
    * is collected directly; otherwise the non-null edges are persisted and
    * fetched once, bounded at [[Routing.ccLocalMaxEdges]] / 2 + 1 edges
    * ([[Routing.smallSide]]); no count runs first. When the
    * small route takes them the graph closes on the driver ([[unionFind]]:
    * one union-find pass, a local result frame) in a fixed number of jobs
    * instead of a handful per round. Otherwise the distributed loop below
    * runs over the persisted edges, and nothing but its convergence sum
    * reaches the driver. A forced small route collects without a bound; a
    * forced large route never fetches, and an empty graph skips its loop.
    *
    * Distributed algorithm: min-label propagation with path halving. Each
    * round does (1) a neighbor-min step — every node adopts the smallest
    * label among itself and its neighbors (join + map-side-combinable min
    * aggregation, both keyed by node id) — and (2) a pointer-jump step —
    * every node re-reads the label of its own label (labels always name
    * nodes, so this is an equi-self-join on the label frame). Neighbor
    * steps alone need O(diameter) rounds; the jump step contracts chains
    * exponentially (the Hash-to-Min shape, Rastogi et al. 2013), so long
    * dup-chains still converge in O(log diameter). Duplicate clusters are
    * near-cliques in practice — 2-3 rounds end it.
    *
    * Scale: per-round state is (id, component) = 16 bytes per node; every
    * step is an equi-join/aggregation on node id (AQE-planned, skew-safe,
    * spillable). Each round's labels are CHECKPOINTED, not merely
    * persisted: the jump step self-joins the label frame, so the logical
    * plan would double every round — 2^rounds plan nodes — and plan
    * analysis itself OOMs long before any data moves. Checkpointing
    * truncates both lineage and plan to constant depth. Convergence is
    * detected from the sum of labels, which strictly decreases until
    * fixpoint; the sum rides the checkpoint materialization as an
    * observe() metric (r13), so each round is ONE Spark job, not
    * checkpoint + aggregation.
    *
    * `maxIter` bounds the loop's rounds; past it the loop throws rather
    * than return partial labels. The driver route always converges and
    * ignores it.
    *
    * `checkpointDir` applies to the loop only; the driver route writes no
    * checkpoint. None (default) uses `localCheckpoint` — blocks live
    * on executors, right for a single-JVM run, but an executor loss kills
    * the job since truncated lineage cannot recompute. On a multi-node
    * run pass a reliable (HDFS/S3) directory: each round's labels are
    * written there with `.checkpoint()` and survive any executor death —
    * a 100 TB closure takes long enough that one WILL die. The caller
    * owns the directory's lifecycle (set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` or clean it
    * after the run).
    *
    * The checkpoint directory is SparkContext-GLOBAL state. To avoid
    * silently redirecting other `.checkpoint()` users in the same
    * context, `checkpointDir` is only applied when no directory is
    * configured yet; if one already is, it wins and this parameter's
    * value is ignored (reliable checkpointing still happens, into the
    * pre-configured directory). */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIter: Int = 25,
                          checkpointDir: Option[String] = None,
                          route: Routing.Route = Routing.Auto): DataFrame =
    components(edges, src, dst, maxIter, checkpointDir, route) match {
      case Left(DriverLabels(spark, schema, labels)) =>
        val id = box(schema("comp").dataType)
        localFrame(spark, schema,
          labels.map { case (n, c) => Row(id(n), id(c)) })
      case Right(loop) => loop
    }

  /** The driver route's closure: every node's (id, component) in id order,
    * and the schema of the loop's (id, comp) frame. */
  private final case class DriverLabels(spark: SparkSession,
      schema: StructType, labels: Array[(Long, Long)])

  /** [[connectedComponents]] and [[duplicateClusters]] in one: type check,
    * routing, and either the driver route's labels or the loop's frame. */
  private def components(edges: DataFrame, src: String, dst: String,
                         maxIter: Int, checkpointDir: Option[String],
                         route: Routing.Route)
      : Either[DriverLabels, DataFrame] = {
    import org.apache.spark.storage.StorageLevel
    for (c <- Seq(src, dst)) {
      val t = edges.select(col(c)).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"connectedComponents needs integral ids (tinyint, smallint, int " +
          s"or bigint); column $c is ${t.simpleString}")
    }
    val kept = edges.select(Seq(src, dst).distinct.map(col): _*)
      .filter(col(src).isNotNull && col(dst).isNotNull)
    // both directions of every edge, for the loop. No distinct over them:
    // min-aggregation is duplicate-insensitive, so deduping would buy
    // nothing but a shuffle.
    val sym = kept.select(col(src).as("u"), col(dst).as("v"))
      .union(kept.select(col(dst).as("u"), col(src).as("v")))
    // the loop's schema, which the driver route's frame carries too: id
    // keeps the edge columns' nullability (a logical filter does not
    // narrow it), comp leaves a min aggregate, which Spark types nullable
    val schema = StructType(Seq(sym.schema("u").copy(name = "id"),
      StructField("comp", sym.schema("u").dataType, nullable = true)))
    def onDriver(labels: Array[(Long, Long)]) =
      Left(DriverLabels(edges.sparkSession, schema, labels))
    // Persisted when measured: the fetch and the loop share one run of
    // the upstream edge pipeline (an LSH candidate generator).
    def persistKept(): Unit = kept.persist(StorageLevel.MEMORY_AND_DISK): Unit
    if (route == Routing.Large) persistKept()
    val longEdges = kept.select(col(src).cast("long"), col(dst).cast("long"))
    try Routing.smallSide(route, longEdges, Routing.ccLocalMaxEdges / 2 + 1,
        { persistKept(); longEdges })(n => Routing.ccOnExecutors(2L * n)) match {
      case Some(es) => onDriver(unionFind(es))
      // an empty graph has no label sum for the loop to converge on
      case None if route == Routing.Large && kept.isEmpty => onDriver(Array.empty)
      case None => Right(closeOnExecutors(kept, sym, maxIter, checkpointDir))
    } finally kept.unpersist()
  }

  /** [[connectedComponents]]' driver route: one union-find pass over the
    * fetched (u, v) long edges, on a primitive long-keyed map. Linking the
    * larger root under the smaller keeps every root the smallest id of its
    * component; path halving keeps finds short. Labels leave in id
    * order. */
  private def unionFind(edges: Array[Row]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var y = x
      while (parent(y) != y) { parent(y) = parent(parent(y)); y = parent(y) }
      y
    }
    for (e <- edges) {
      val (u, v) = (e.getLong(0), e.getLong(1))
      parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
      val (a, b) = (find(u), find(v))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    parent.keys.toArray.sorted.map(k => k -> find(k))
  }

  /** A long id back in the id column's integral type. */
  private def box(t: DataType): Long => Any = t match {
    case ByteType    => _.toByte
    case ShortType   => _.toShort
    case IntegerType => _.toInt
    case _           => identity
  }

  private def localFrame(spark: SparkSession, schema: StructType,
                         rows: Array[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** [[connectedComponents]]' distributed route: the Hash-to-Min loop over
    * `sym`, the symmetric frame of the persisted non-empty edges `kept`. */
  private def closeOnExecutors(kept: DataFrame, sym: DataFrame, maxIter: Int,
                               checkpointDir: Option[String]): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val sc = sym.sparkSession.sparkContext
    // never clobber an application-configured dir (session-global state)
    checkpointDir.foreach(d =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(d))
    def materialize(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    var labels = materialize(sym.select(col("u").as("id"))
      .distinct()
      .select(col("id"), col("id").as("comp")))
    // Edges + one self-loop per node, persisted once (r12 optimization,
    // guide §2.4): the self-loops fold the node's own label into the
    // neighbor-min aggregation, which deletes the old per-round left-join
    // of labels against the neighbor minima (one join + one exchange
    // fewer per round): min(comp(v) : v ∈ N(u) ∪ {u}) ≡
    // least(comp(u), coalesce(nbrMin, comp(u))) row for row.
    //
    // PRE-PARTITIONED on the per-round join key: at the sizes this route
    // runs at the labels outgrow broadcast and every round's join would
    // re-shuffle the 2|E|-row edge frame, so it crosses the wire ONCE, at
    // persist time, and each round shuffles only the 16 B/node labels.
    val cached = sym.union(labels.select(col("id").as("u"), col("id").as("v")))
      .repartition(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the pointer jump self-joins each round's plan: over the bare cache
    // entry its right side reads the cache too, instead of re-running
    // the edge union and its shuffle
    val symPlus = org.apache.spark.sql.graft.GraftShims.cachedLeaf(cached)
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      ccObserveFallbacks.incrementAndGet()
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
    }
    // no previous sum yet: labels start at comp=id, so the first round can
    // never be the fixpoint unless a later sum repeats — skipping the
    // initial sum saves one job.
    var sums = LabelSums()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // (1) neighbor-min: smallest label among self and all neighbors
      // (self via the persisted self-loops — no separate labels join)
      val stepped = symPlus
        .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), "v")
        .groupBy("u").agg(min(col("vcomp")).as("comp"))
        .select(col("u").as("id"), col("comp"))
      // (2) pointer jump: comp := comp(comp). comp(x) <= x, so every label
      // is itself a node id and the inner join always matches.
      val jumped = stepped
        .join(stepped.select(col("id").as("jid"), col("comp").as("jcomp")),
          col("comp") === col("jid"))
        .select(col("id"), col("jcomp").as("comp"))
      // Convergence statistic folded INTO the materialization (r13, guide
      // §2.4/§1): CollectMetrics rides the physical plan the eager
      // checkpoint executes, so the labelSum no longer costs its own job
      // per round (was: checkpoint job + cached-read aggregation job —
      // this halves the loop's job count, fixed scheduling overhead that
      // dominates small rounds and is pure waste at any scale). The
      // checkpoint truncates the returned plan as before; the metrics
      // node lives only in the discarded pre-checkpoint plan. The sum is
      // read straight off the executed plan's accumulators
      // (queryExecution.observedMetrics) — no listener, no wait; if a
      // Spark release ever stopped collecting metrics for checkpoint
      // actions, the explicit aggregation is the fallback (correctness
      // identical, one extra job — a spec pins that it never fires; see
      // LabelSums for why it is sticky).
      val obsDf = jumped.observe("cc_labelsum",
        sum(col("comp").cast("decimal(38,0)")).as("labelsum"))
      val next = materialize(obsDf)
      val (done, nextSums) = sums.next(
        obsDf.queryExecution.observedMetrics.get("cc_labelsum")
          .map(_.getDecimal(0)).filter(_ != null),
        labelSum(next))
      converged = done
      sums = nextSums
      labels.unpersist()
      labels = next
      // symPlus is fully cached once round 1's join consumed it — the
      // edge cache has served both of its readers by then
      if (iter == 0) kept.unpersist()
      iter += 1
    }
    cached.unpersist()
    if (!converged)
      throw new graft.GraftException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "raise maxIter (component diameter exceeds 2^maxIter)")
    labels
  }

  /** Duplicate clusters from near-dup pair edges: every doc that belongs
    * to a multi-doc cluster, its canonical (smallest) member, and the
    * cluster size — the "which docs do I drop" frame of a dedup pass.
    * Routed as [[connectedComponents]]: on the driver route the sizes are
    * counted on the driver and the result is one local frame; the loop's
    * labels are counted and joined back on the executors. Both routes
    * return one schema. */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
                        idB: String = "id_b",
                        route: Routing.Route = Routing.Auto): DataFrame =
    components(pairs, idA, idB, maxIter = 25, checkpointDir = None,
        route = route) match {
      case Left(DriverLabels(spark, schema, labels)) =>
        val id = box(schema("comp").dataType)
        val sizes = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
        localFrame(spark, StructType(Seq(schema("id").copy(name = "doc_id"),
            schema("comp").copy(name = "component"),
            StructField("cluster_size", LongType, nullable = false))),
          labels.map { case (n, c) => Row(id(n), id(c), sizes(c)) })
      case Right(cc) =>
        val sizes = cc.groupBy(col("comp"))
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "comp")
          .select(col("id").as("doc_id"), col("comp").as("component"),
            col("cluster_size"))
    }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication of an embedding corpus: cluster, then compare pairs
    * ONLY within a cluster, and mark every vector that has a
    * lower-id cluster-mate with cosine ≥ `threshold` as a duplicate (the
    * lowest id of each near-dup group survives — the paper keeps one
    * representative per intra-cluster similarity group).
    *
    * Clustering reuses the IVF machinery end to end: deterministic
    * stride-seeded centroids sized by the √N law
    * ([[Similarity.autoStride]]) and the map-only codegen bank assignment
    * ([[Similarity.ivfIndex]]) — no join, no shuffle, bit-reproducible
    * in SQL (the similarity_ivf oracle's `asg` CTE), which is what makes
    * the full output DuckDB-checkable. Within-cluster pairing delegates to
    * [[embeddingNearDup]] with the cluster as the block: its
    * `maxPairsPerBlock` guard fail-fasts if a cluster goes quadratic-hot.
    * Expected cluster size under the √N law is ~2√N, so the pair work is
    * ~N^1.5 ACROSS clusters but each cluster's join is local to its block
    * key — the shape the paper runs at corpus scale (they cluster
    * precisely so the N² pair space never materializes).
    *
    * Output: one row per vector — (vec_id, centroid_id, is_dup). */
  def semanticDedup(vecs: DataFrame, id: Column, vec: Column,
                    threshold: Double,
                    maxPairsPerBlock: Long = 25000000L): DataFrame = {
    val base = vecs.select(id.as("vec_id"), vec.as("embedding"))
    // ivfIndex: flat exact assignment below 2^17 vectors — what the
    // full-SQL oracle replays, i.e. at every driver SF — and the ≈N^1.25
    // hierarchical assignment above it. Clustering is a recall heuristic
    // (SemDeDup compares only within a cluster either way); hier rerouting
    // a boundary vector moves which pairs get COMPARED, never the
    // correctness of a comparison.
    val assigned = Similarity.ivfIndex(base,
      Similarity.strideCentroids(base, Similarity.autoStride(base)))
    val dups = embeddingNearDup(assigned, col("vec_id"), col("embedding"),
        col("centroid_id"), threshold, maxPairsPerBlock)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dups, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Exact repeated-span profile: the substring-level duplication pass of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022), re-expressed as linear hash aggregations instead of a
    * corpus-wide suffix array (a monolithic index that does not
    * distribute). Every `stride`-aligned window of `spanChars` characters
    * is a span; a span is DUPLICATED when its exact text occurs in
    * >= `minDocs` distinct documents. Output is one row per document:
    * (doc_id, total_spans, dup_spans).
    *
    * Scale shape (the reason this is not a groupBy over span text):
    *  - the corpus-sized shuffle carries (xxhash64, doc_id) pairs — 16 B
    *    per window, map-side combinable — never the span text;
    *  - candidate hashes (>= minDocs docs) collapse to a long-keyed Bloom
    *    sketch probed MAP-SIDE by the codegen
    *    [[graft.functions.GraftFunctions.bloomMightContainLong]]
    *    fused into the recomputed window scan (decontaminate's sketch
    *    route), so only the duplicate sliver re-materializes text;
    *  - the surviving sliver is re-verified by EXACT span equality (a
    *    64-bit collision can nominate a candidate, never confirm one) and
    *    the final semi-join is unhinted — AQE broadcasts whichever side
    *    is small at runtime;
    *  - per-doc totals are pure arithmetic on `length(text)` (zero
    *    shuffle): sequence(0, max(len-span,0), stride) has
    *    floor(max(len-span,0)/stride)+1 elements by construction.
    *
    * Exactness caveat: spans are counted at stride-aligned offsets (the
    * distributable discretization); a duplicated substring straddling two
    * windows is surfaced only if at least one aligned window repeats
    * verbatim — `stride` < `spanChars` tightens recall at linear cost. */
  def repeatedSpans(docs: DataFrame, id: Column, text: Column,
                    spanChars: Int = 40, stride: Int = 40,
                    minDocs: Int = 2, fpp: Double = 0.01,
                    candCountHint: Option[Long] = None): DataFrame = {
    require(spanChars > 0, "need spanChars > 0")
    require(stride > 0, "need stride > 0")
    require(minDocs >= 2, "need minDocs >= 2")
    require(fpp > 0.0 && fpp < 1.0, "need 0 < fpp < 1")
    require(candCountHint.forall(_ > 0L), "candCountHint must be > 0")
    val base = docs.filter(text.isNotNull)
      .select(id.as("doc_id"), text.as("__rs_text"))
    val spanEnd =
      greatest(length(col("__rs_text")).cast("long") - spanChars, lit(0L))
    def windows = base.select(col("doc_id"),
      explode(transform(
        sequence(lit(0L), spanEnd, lit(stride.toLong)),
        o => col("__rs_text").substr(o.cast("int") + lit(1), lit(spanChars))))
        .as("span"))
    val candHash = windows
      .select(col("doc_id"), xxhash64(col("span")).as("h"))
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("__n"))
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("h"))
    val totals = base.select(col("doc_id"),
      (floor(spanEnd / stride).cast("long") + 1).as("total_spans"))
    // Sketch sizing: WITHOUT a hint, one bounded count action sizes the
    // filter (autoStride's pattern) and a duplicate-free corpus
    // short-circuits before the build. WITH candCountHint the candidate
    // pipeline executes exactly ONCE — the Bloom aggregate itself — since
    // stat.bloomFilter's separate count() pre-pass is the thing a 100 TB
    // caller shouldn't pay twice. Overestimates are safe (bigger filter,
    // lower fpp; exactness is unconditional — the Bloom only nominates,
    // the exact-text re-verification confirms). The aggregate yields a
    // NULL buffer over zero rows, which IS the duplicate-free signal.
    val bloomOpt = candCountHint match {
      case Some(est) =>
        val row = candHash
          .select(GraftFunctions.bloomFilterAgg(col("h"), est, fpp)).head()
        if (row.isNullAt(0)) None
        else Some(org.apache.spark.util.sketch.BloomFilter
          .readFrom(row.getAs[Array[Byte]](0)))
      case None =>
        val nCand = candHash.count()
        if (nCand == 0L) None
        else Some(candHash.stat.bloomFilter("h", nCand, fpp))
    }
    if (bloomOpt.isEmpty)
      return totals.withColumn("dup_spans", lit(0L))
    val bloom = bloomOpt.get
    val survivors = windows
      .withColumn("h", xxhash64(col("span")))
      .filter(GraftFunctions.bloomMightContainLong(col("h"), bloom))
      .join(candHash, Seq("h"), "left_semi")
      .select(col("doc_id"), col("span"))
    val dupSpans = survivors.distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span"))
    val perDocDup = survivors.join(dupSpans, Seq("span"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_spans"))
    totals.join(perDocDup, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("total_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
  }

  /** Embedding cosine near-dup, blocked to keep the pair space linear.
    * `maxPairsPerBlock` fails the call fast when a block's pair estimate
    * goes quadratic-hot (see [[tokenJaccardPairs]]); [[embeddingLshPairs]]
    * is the keyless path. `Long.MaxValue` disables. */
  def embeddingNearDup(vecs: DataFrame, id: Column, vec: Column,
                       block: Column, threshold: Double,
                       maxPairsPerBlock: Long = 25000000L): DataFrame = {
    val base = vecs.select(block.as("blk"), id.as("vec_id"), vec.as("v"))
    guardBlockPairs(base.select(col("blk")), Seq("blk"), maxPairsPerBlock,
      "embeddingNearDup", "Dedup.embeddingLshPairs")
    val l = base.select(col("blk"), col("vec_id").as("id_a"), col("v").as("v_a"))
    val r = base.select(col("blk"), col("vec_id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(GraftFunctions.cosineSimilarity(col("v_a"), col("v_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }
}
