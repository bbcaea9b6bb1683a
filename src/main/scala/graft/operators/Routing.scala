package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** Every size-routing threshold in the engine, defined once, each with the
  * receipt that sets it, and the decision it drives.
  *
  * An operator with more than one physical form measures its input once —
  * a bounded fetch of a small side ([[fetchUpTo]], whose rows the small
  * route then uses), or [[graft.plans.PlanStats.rowCount]] (hint > exact
  * statistics > parquet footers > count()) — and asks the predicate here
  * which form to run. No operator carries a threshold of its own and no
  * public operator takes one as a parameter
  * (InventoryAuditSpec enforces both; RoutingSpec pins every predicate at
  * threshold − 1, threshold and threshold + 1). Every route returns the
  * same rows as its twin, so routing moves a plan, never an answer —
  * except two routes that change the measure by design: the wide simhash
  * (a finer hamming) and the hierarchical IVF assignment (approximate at
  * cell boundaries).
  */
object Routing {

  /** Vocabulary types up to which BPE training collects the (word, freq)
    * frame and runs the merge loop on the driver. The budget is the loop's
    * working set, not the frame: the incremental pair → word-ids index
    * holds one boxed entry per (word, adjacent pair), ~50 B × ~15
    * pairs/word ≈ 3 GB at 2^22 types, inside an 8 GB driver with the
    * ~200 MB collected frame on top. Real tokenizer vocabularies
    * (frequency-capped word lists) are 10^5..10^6 types. */
  val bpeLocalMaxTypes: Long = 1L << 22

  /** Distinct eval n-grams up to which decontamination broadcasts the
    * gram strings; above it they collapse to a Bloom sketch probed
    * map-side. 13-gram strings run ~100-150 B, so 2^20 grams is a
    * 100-150 MB broadcast; the r10 sf100 sweep measured the broadcast form
    * at 148.1 s against the sketch form's 55.4 s for identical output. */
  val maxBroadcastGrams: Long = 1L << 20

  /** Distinct blocklist domains up to which URL filtering broadcasts the
    * list; above it the suffixes probe a Bloom sketch first. Host strings
    * run ~20-30 B, so 2^22 domains is the same ~100 MB broadcast budget as
    * [[maxBroadcastGrams]]; real blocklists hold 10^5..10^7 rows. */
  val maxBroadcastDomains: Long = 1L << 22

  /** Corpus docs from which simhash near-dup switches from the narrow
    * 60-bit signature (4 × 15-bit bands, 2^15 buckets per band) to the
    * wide 120-bit one (4 × 30-bit bands). Narrow band occupancy is
    * N / 2^15 and its map-side hamming work grows ∝ N² / 2^15 (measured
    * ×16.8 per decade at the sf100 5M-doc sweep); 2^18 switches at
    * occupancy ~8, an order of magnitude before that term dominates, and
    * above every test-data SF (sf0.1 ≈ 50k docs), so the narrow form is
    * the one the DuckDB oracle checks. */
  val wideThreshold: Long = 1L << 18

  /** Corpus vectors from which IVF assignment switches from the flat
    * exact argmax (nlist ≈ 2√N centroids per row, ≤ ~720 dot products at
    * 2^17 vectors) to the two-level hierarchical kernel (≈ N^1.25), before
    * the flat build's N^1.5 law dominates. Above the largest test-data SF
    * (~20k embeddings), so the flat form is the one the DuckDB oracle
    * checks. */
  val hierThreshold: Long = 1L << 17

  /** Symmetric edge rows (two per undirected edge) up to which connected
    * components collects the edges and closes the graph with a union-find
    * on the driver; above it the Hash-to-Min loop runs on the executors,
    * its edge frame pre-partitioned on the join key. Receipt (local[4],
    * 4-core box, 4 GB driver, median of 3; a generated graph of 16-node
    * blocks, one hashed edge per node): at the cap — 2^19 edges, 2^19
    * nodes — the driver route took 4.3 s, allocating 775 MB on the
    * calling thread with an old-gen peak 482 MB over its baseline, where
    * the un-partitioned loop it replaces took 30.6 s (old-gen peak
    * 1187 MB, executor blocks included) and the pre-partitioned loop
    * 22.8 s. Just above it (2^19 + 2^12 edges) the pre-partitioned loop
    * took 21.9 s against the un-partitioned loop's 27.3 s, so no third,
    * un-partitioned arm is kept. */
  val ccLocalMaxEdges: Long = 1L << 20

  /** Corpus docs above which the LM scorers hint their model-side join
    * SHUFFLE_HASH: past ~1M docs the type tables outgrow broadcast and the
    * unhinted sort-merge sorts the occurrence stream — measured 42 GB (lm)
    * and 22 GB (dsir) of spill at sf100, all of it removed by building on
    * the vocab-scale side. Below it broadcast is strictly better. */
  val lmShuffleHashMinDocs: Long = 1L << 20

  // ---- decisions: true = the large-input route -------------------------

  /** BPE merge loop on the executors instead of the driver. */
  def bpeOnExecutors(types: Long): Boolean = types > bpeLocalMaxTypes

  /** Decontamination through the Bloom sketch instead of a broadcast. */
  def gramSketch(grams: Long): Boolean = grams > maxBroadcastGrams

  /** URL filtering through the Bloom sketch instead of a broadcast. */
  def domainSketch(domains: Long): Boolean = domains > maxBroadcastDomains

  /** Wide 120-bit simhash instead of the narrow 60-bit one. */
  def simhashWide(docs: Long): Boolean = docs >= wideThreshold

  /** Hierarchical IVF assignment instead of the flat argmax. */
  def ivfHier(vectors: Long): Boolean = vectors >= hierThreshold

  /** Connected components by the executor loop instead of the driver. */
  def ccOnExecutors(edgeRows: Long): Boolean = edgeRows > ccLocalMaxEdges

  /** LM model-side join hinted SHUFFLE_HASH. */
  def lmShuffleHash(docs: Long): Boolean = docs > lmShuffleHashMinDocs

  // ---- forced routes ---------------------------------------------------

  /** Which form a routed operator runs. Callers outside `graft` cannot
    * name a route, so they always get the default, [[Auto]]; the forced
    * routes exist for the differential specs (each route ≡ its twin) and
    * for query names whose contract is one specific form. A forced route
    * pays no routing measure. */
  private[graft] sealed trait Route
  /** Measure the input and decide. */
  private[graft] case object Auto extends Route
  /** The small-input route: driver-local BPE loop, broadcast probe,
    * narrow simhash, flat IVF, driver-side CC union-find. */
  private[graft] case object Small extends Route
  /** The large-input route: executor BPE loop, Bloom-sketch probe, wide
    * simhash, hierarchical IVF, executor CC loop. */
  private[graft] case object Large extends Route

  /** The rows of `df` if it holds at most `cap` of them, else None: one
    * bounded `limit(cap + 1).collect()`, no count first. The small route
    * runs on the rows it gets; on None at most `cap + 1` rows reached the
    * driver. Persist `df` first when the large route reads it too, so
    * that read does not run the upstream stages again. */
  private[operators] def fetchUpTo(df: DataFrame, cap: Long): Option[Array[Row]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"fetch cap $cap out of range")
    Some(df.limit(cap.toInt + 1).collect()).filter(_.length <= cap)
  }

  /** Resolve `route` on the rows of a small side `df`: Some(rows) is the
    * small route, None the large one. A forced small route collects every
    * row and a forced large route reads none; [[Auto]] fetches up to `cap`
    * rows and asks `large` about their count. */
  private[operators] def smallSide(route: Route, df: DataFrame, cap: Long)(
      large: Long => Boolean): Option[Array[Row]] = route match {
    case Small => Some(df.collect())
    case Large => None
    case Auto  => fetchUpTo(df, cap).filterNot(rows => large(rows.length))
  }

  /** Resolve `route`: a forced route never evaluates `size`; [[Auto]]
    * measures it and asks `large`. */
  private[operators] def isLarge(route: Route, size: => Long)(
      large: Long => Boolean): Boolean = route match {
    case Small => false
    case Large => true
    case Auto  => large(size)
  }
}
