package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data pipeline operators
  * (language ID, quality scoring, token counting, shingling). All built from
  * codegen'd `org.apache.spark.sql.functions` so they fuse into whole-stage
  * codegen; nothing here shuffles.
  */
object TextFunctions {

  /** Whitespace tokenizer. `split` on \s+ after trim — matches the DuckDB
    * oracle's string_split semantics on single-space-separated text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count (whitespace tokens). Empty string counts 0. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** BPE-ish subword token count: count of maximal runs matched by a
    * wordpiece-flavored regex (letters runs, digit runs, other glyph runs)
    * — `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]`. A cheap, deterministic proxy
    * for an LLM tokenizer's token count. Backed by the
    * [[GraftHash.subwordCount]] codegen scanner (one allocation-free byte
    * pass): the literal `size(regexp_extract_all(...))` form materializes
    * every match string and was measured at 109.6 s over 5M docs at sf100
    * — the entire text_stats budget; the scanner counts the identical
    * automaton's matches and is cross-checked against DuckDB's regex
    * engine by every oracle compare. */
  def regexTokenCount(text: Column): Column =
    GraftFunctions.subwordCount(text)

  /** Word n-grams over whitespace tokens (for shingle-based MinHash).
    * transform(sequence(...)) keeps this fully inside Catalyst. */
  def wordNGrams(text: Column, n: Int): Column = {
    // SCALE NOTE: the lambda body must only touch its own element. The
    // earlier formulation sliced the token array inside the (interpreted)
    // transform lambda, which re-evaluates every enclosed subtree — the
    // regex split included — once PER n-gram: quadratic in document
    // length, and a 400k-token document effectively never finishes.
    // arrays_zip over n shifted slices evaluates the token split a
    // constant number of times per row; the lambda then just concatenates
    // the n struct fields of its element.
    val t = tokens(text)
    val len = size(t) - lit(n - 1)
    val zipped = arrays_zip((0 until n).map(j => slice(t, lit(j + 1), len)): _*)
    when(size(t) < n, array().cast("array<string>")).otherwise(
      transform(zipped,
        x => concat_ws(" ", (0 until n).map(j => x.getField(j.toString)): _*)))
  }

  /** Distinct whitespace tokens (for token-set Jaccard). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Jaccard similarity of two token-set columns (double in [0,1]). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  // Tiny per-language stopword profiles: high-frequency closed-class words.
  // Public linguistic knowledge; enough for an n-gram/stopword heuristic.
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "para"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "人", "这"))

  /** Count of tokens that belong to a fixed stopword list (duplicates
    * counted). Backed by the [[GraftFunctions.stopwordHits]] kernel — a
    * `size(filter(...))` formulation evaluates its lambda interpreted. */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    GraftFunctions.stopwordHits(toks, words)

  /** Heuristic language ID: argmax of per-language stopword hits, 'und'
    * (undetermined) when no profile matches. Deterministic tie-break by
    * language code order. */
  def langId(text: Column): Column = langIdTokens(tokens(text))

  /** langId over a pre-tokenized column. Project the token array into a
    * materialized column first (`df.select(tokens(text).as("toks"))`) so
    * the tokenizer runs once per row, not once per language profile —
    * higher-order-function subtrees are excluded from codegen
    * common-subexpression elimination, so the expression-level reuse that
    * looks free here is not. */
  def langIdTokens(toks: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(toks, words).as("hits"), lit(lang).as("lang"))
    }
    // array_max picks highest hits; ties resolve to lexicographically LAST
    // lang at equal hits, so invert: sort_array desc on (hits, negated lang)
    // is messy — instead use aggregate to keep first-wins-on-tie semantics.
    val best = scored.reduceLeft { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    }
    when(best.getField("hits") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Quality score in [0,1]: blend of length band, mean word length band,
    * stopword ratio, and lexical diversity — the standard cheap heuristics
    * for pretraining-corpus filtering (Gopher/C4-style rules). */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChars = length(text).cast("double")
    val meanWordLen = when(nTok === 0, lit(0.0))
      .otherwise((nChars - (nTok - 1)) / nTok) // chars minus separators
    val stopRatio = when(nTok === 0, lit(0.0))
      .otherwise(stopwordHits(toks, stopwords("en")).cast("double") / nTok)
    val diversity = when(nTok === 0, lit(0.0))
      .otherwise(size(array_distinct(toks)).cast("double") / nTok)
    val lenOk = when(nTok >= 10 && nTok <= 1000, lit(1.0)).otherwise(lit(0.0))
    val wordLenOk = when(meanWordLen >= 2.0 && meanWordLen <= 12.0, lit(1.0))
      .otherwise(lit(0.0))
    round(lenOk * 0.25 + wordLenOk * 0.25
      + least(stopRatio * lit(5.0), lit(1.0)) * 0.2
      + diversity * 0.3, 4)
  }
}
