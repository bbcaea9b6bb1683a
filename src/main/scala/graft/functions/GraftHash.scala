package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind every [[GraftFunctions]] column: each one is
  * called through a [[KernelCall]], both from interpreted `eval` and from
  * whole-stage-generated Java (a generated-code call to a static method
  * keeps the surrounding operators inside one codegen stage). Data
  * arguments come first, constants after them.
  *
  * All algorithms below are public-domain / published:
  *  - murmur2: Austin Appleby's MurmurHash2, the variant Kafka uses for key
  *    partitioning (seed 0x9747b28c). The reference's
  *    HashFunctionPartitioner (api/partitioner/HashFunctionPartitioner.java:15-49)
  *    delegates to the Kafka client's murmur2 — we reimplement the published
  *    algorithm, we do not copy code.
  *  - splitmix64: Steele/Lea/Flood, "Fast Splittable Pseudorandom Number
  *    Generators" (OOPSLA 2014) — used to derive k independent hash families
  *    for MinHash from one base hash.
  *  - FNV-1a 64-bit: Fowler/Noll/Vo, public domain.
  */
object GraftHash {

  /** MurmurHash2 (32-bit) over a byte array, Kafka-compatible parameters. */
  def murmur2(data: Array[Byte]): Int = {
    val length = data.length
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    var h = seed ^ length
    val n4 = length & ~3
    var i = 0
    while (i < n4) {
      var k = (data(i) & 0xff) |
        ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) |
        ((data(i + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 4
    }
    val rem = length & 3
    if (rem == 3) h ^= (data(n4 + 2) & 0xff) << 16
    if (rem >= 2) h ^= (data(n4 + 1) & 0xff) << 8
    if (rem >= 1) { h ^= data(n4) & 0xff; h *= m }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }

  def murmur2(s: UTF8String): Int = murmur2(s.getBytes)

  /** Kafka's partition-from-key rule: murmur2 masked non-negative, mod n.
    * Mirrors the semantics of the reference's murmur2 sub-partitioner
    * (HashFunctionPartitioner.java:29-38: hash of "key:partition" mod count). */
  def murmur2NonNegativeMod(s: UTF8String, n: Int): Int =
    (murmur2(s) & 0x7fffffff) % n

  /** splitmix64 finalizer — a strong 64-bit mixer. */
  def mix64(zIn: Long): Long = {
    var z = zIn
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over UTF-8 bytes. */
  def fnv1a64(data: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < data.length) {
      h ^= (data(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def fnv1a64(s: UTF8String): Long = fnv1a64(s.getBytes)

  /** MinHash signature: k minima over k splitmix64-derived hash families
    * applied to each element's base FNV hash. Returns a primitive long array
    * wrapped as Spark ArrayData (no boxing, Tungsten-friendly).
    *
    * Standard MinHash (Broder 1997, "On the resemblance and containment of
    * documents"): P[min_h(A) == min_h(B)] = Jaccard(A, B).
    */
  def minHashSignature(tokens: ArrayData, k: Int, seed: Long): ArrayData = {
    val n = tokens.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val base = fnv1a64(tokens.getUTF8String(i))
        var j = 0
        while (j < k) {
          val h = mix64(base ^ mix64(seed + j))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Fused shingle+MinHash kernel: word n-gram shingles are hashed
    * positionally (FNV-style polynomial combine over per-token FNV hashes —
    * order-sensitive, no string concatenation) and fed straight into the k
    * minima. One pass, zero allocation beyond the two primitive arrays.
    * Exists because Spark's higher-order functions (transform/filter)
    * evaluate their lambda interpreted per element — a fused codegen kernel
    * is ~10× cheaper on the 100 TB path. */
  def minHashShingles(tokens: ArrayData, n: Int, k: Int, seed: Long): ArrayData = {
    val num = tokens.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    if (num >= n) {
      val th = new Array[Long](num)
      var i = 0
      while (i < num) {
        th(i) = if (tokens.isNullAt(i)) 0L else fnv1a64(tokens.getUTF8String(i))
        i += 1
      }
      i = 0
      while (i <= num - n) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < n) {
          h = (h ^ th(i + j)) * 0x100000001b3L
          j += 1
        }
        var b = 0
        while (b < k) {
          val m = mix64(h ^ mix64(seed + b))
          if (m < sig(b)) sig(b) = m
          b += 1
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** 64-bit SimHash (Charikar 2002, "Similarity estimation techniques from
    * rounding algorithms"): per-token 64-bit hash votes on each bit plane. */
  def simHash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = mix64(fnv1a64(tokens.getUTF8String(i)))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Morton/Z-order interleave of two non-negative 31-bit ints: bit b of x
    * lands at position 2b, bit b of y at 2b+1 (62-bit result, always
    * non-negative). Range-partitioning + sorting by the z-value clusters
    * rows that are close in BOTH dimensions into the same files, so
    * min/max row-group stats prune 2-D predicates — the standard
    * multi-dimensional data-skipping layout. */
  def zOrder62(x: Int, y: Int): Long = {
    require(x >= 0 && y >= 0, s"zOrder62 needs non-negative inputs: $x, $y")
    var z = 0L
    var b = 0
    while (b < 31) {
      z |= ((x.toLong >> b) & 1L) << (2 * b)
      z |= ((y.toLong >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    z
  }

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** 60-bit SimHash with an md5 token hash — the fused one-pass kernel
    * behind the oracled dedup_simhash query. Bit-for-bit equal to the
    * column-algebra formulation
    * `conv(substring(md5(tok), 1, 15), 16, 10)` + per-bit vote sums:
    * the value of the first 15 hex chars of md5(tok) is the first 8 digest
    * bytes as an unsigned big-endian long shifted right by one nibble.
    * 60 bits (not 64) so the signature fits a signed long in every engine
    * the oracle runs on. */
  def simHashMd5_60(tokens: ArrayData): Long = {
    val votes = new Array[Int](60)
    val md = md5Local.get()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        md.reset()
        val d = md.digest(tokens.getUTF8String(i).getBytes)
        var first8 = 0L
        var k = 0
        while (k < 8) { first8 = (first8 << 8) | (d(k) & 0xffL); k += 1 }
        val h = first8 >>> 4 // first 15 hex nibbles = 60 bits
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Polynomial rolling fingerprint (Karp–Rabin style) over UTF-8 bytes:
    * h = Σ byte_i * B^(len-1-i) in Z_2^64, B = 1000003. Order-sensitive,
    * concat-composable — the classic document-fingerprint primitive. */
  def rollingFingerprint(s: UTF8String): Long = {
    val data = s.getBytes
    var h = 0L
    var i = 0
    while (i < data.length) {
      h = h * 1000003L + (data(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Hamming distance between two 64-bit fingerprints (for SimHash dedup). */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Random-hyperplane signature of a float vector (Charikar 2002 §3:
    * sign of dot products with pseudo-random planes approximates angular
    * similarity): bit b = sign(Σ_d v[d] * r(b,d)) where r is a
    * deterministic ±1 derived from splitmix64 — no plane matrix to ship,
    * every executor regenerates it from (seed, bit, dim). */
  def hyperplaneSimHash(vec: ArrayData, bits: Int, seed: Long): Long = {
    val d = vec.numElements()
    var out = 0L
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      while (i < d) {
        val r = mix64(seed ^ (b.toLong << 32) ^ i.toLong)
        val sign = if ((r & 1L) == 1L) 1.0 else -1.0
        dot += vec.getFloat(i) * sign
        i += 1
      }
      if (dot > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Token set as sorted distinct 64-bit hashes: the compact exact-set
    * representation for set-similarity joins — 8 bytes/token instead of a
    * string, and intersection becomes a linear merge. */
  def tokenSetHash(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      h(i) = if (tokens.isNullAt(i)) 0L else fnv1a64(tokens.getUTF8String(i))
      i += 1
    }
    java.util.Arrays.sort(h)
    var uniq = 0
    var j = 0
    while (j < n) {
      if (j == 0 || h(j) != h(j - 1)) { h(uniq) = h(j); uniq += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(h, uniq))
  }

  /** Max-abs scale of a float vector — the per-vector dequantization
    * factor for int8 scalar quantization. */
  def int8Scale(vec: ArrayData): Double = {
    val n = vec.numElements()
    var m = 0.0f
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getFloat(i))
      if (a > m) m = a
      i += 1
    }
    m.toDouble
  }

  /** Int8 scalar quantization codes: round(v / maxabs * 127) per dim.
    * 1 byte/dim instead of 4 — the memory-footprint lever that lets a
    * 100 TB ANN corpus fit executor RAM; recall loss is bounded by the
    * per-dim error ≤ scale/254. */
  def int8Codes(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    var m = 0.0f
    var i = 0
    while (i < n) {
      val a = math.abs(vec.getFloat(i))
      if (a > m) m = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (m > 0.0f) {
      i = 0
      while (i < n) {
        out(i) = math.round(vec.getFloat(i) / m * 127.0f).toByte
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Integer dot product of two int8 code arrays (exact in Long). The
    * approximate float dot is `int8Dot * scaleA * scaleB / 16129.0`. */
  def int8Dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    acc
  }

  /** Word n-gram repetition ratio: 1 − distinct_ngrams / total_ngrams,
    * 0.0 when the document has fewer than n tokens. N-grams are compared
    * by their positional 64-bit FNV chain (same construction as
    * [[minHashShingles]]) — equal to string-distinct up to 64-bit
    * collisions. One codegen'd pass + a sort; no array materialization in
    * the plan (the `transform(...)`-built n-gram column evaluates its
    * lambda interpreted and allocates every gram string). */
  /** Per-document repetition counters in ONE pass over the token array:
    * `[maxWordCount, nWords, nDistinctWords, maxBigramCount, nBigrams]`.
    * Word identity is the fnv1a64 hash (collision probability ~len²/2^64
    * per document — the [[ngramRepetition]] convention); bigram identity
    * is the same positional FNV fold over two adjacent token hashes.
    * Sort-and-scan run counting: no per-row map allocation churn.
    *
    * This is the row-LOCAL form of the Gopher repetition signals: every
    * counter depends only on the document's own tokens, so computing them
    * through explode→groupBy→join (the former shape) shuffled
    * O(corpus tokens) for a value a map task can produce in place. */
  def repetitionCounts(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv1a64(tokens.getUTF8String(i))
      i += 1
    }
    def maxRunAndDistinct(hs: Array[Long]): (Long, Long) = {
      java.util.Arrays.sort(hs)
      var maxRun = 0L
      var distinct = 0L
      var a = 0
      while (a < hs.length) {
        var b = a + 1
        while (b < hs.length && hs(b) == hs(a)) b += 1
        distinct += 1
        if (b - a > maxRun) maxRun = b - a
        a = b
      }
      (maxRun, distinct)
    }
    val (maxW, distinctW) = maxRunAndDistinct(java.util.Arrays.copyOf(th, n))
    val nb = if (n >= 2) n - 1 else 0
    var maxG = 0L
    if (nb > 0) {
      val gh = new Array[Long](nb)
      i = 0
      while (i < nb) {
        var h = 0xcbf29ce484222325L
        h = (h ^ th(i)) * 0x100000001b3L
        h = (h ^ th(i + 1)) * 0x100000001b3L
        gh(i) = h
        i += 1
      }
      maxG = maxRunAndDistinct(gh)._1
    }
    UnsafeArrayData.fromPrimitiveArray(
      Array(maxW, n.toLong, distinctW, maxG, nb.toLong))
  }

  def ngramRepetition(tokens: ArrayData, n: Int): Double = {
    val num = tokens.numElements()
    if (num < n) return 0.0
    val total = num - n + 1
    val th = new Array[Long](num)
    var i = 0
    while (i < num) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv1a64(tokens.getUTF8String(i))
      i += 1
    }
    val gh = new Array[Long](total)
    i = 0
    while (i < total) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        h = (h ^ th(i + j)) * 0x100000001b3L
        j += 1
      }
      gh(i) = h
      i += 1
    }
    java.util.Arrays.sort(gh)
    var distinct = 1
    i = 1
    while (i < total) {
      if (gh(i) != gh(i - 1)) distinct += 1
      i += 1
    }
    1.0 - distinct.toDouble / total
  }

  /** Exact Jaccard of two SORTED distinct long arrays via linear merge.
    * Matches size(intersect)/size(union) over the original sets up to 64-bit hash
    * collisions (probability ~2^-64 per pair of distinct tokens).
    * Two empty sets are identical, so J(∅,∅) = 1.0 (the set-theoretic
    * convention; two empty-token documents are maximally similar). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    inter.toDouble / union.toDouble
  }

  /** Bloom membership probe — the kernel behind
    * [[GraftFunctions.bloomMightContain]].
    * `mightContainBinary(utf8.getBytes)` is exactly `mightContainString`
    * on the equivalent java.lang.String (Spark's BloomFilterImpl hashes a
    * string as its UTF-8 bytes), so probing the raw UTF8String avoids a
    * per-row String materialization in the hot scan. */
  def bloomMightContain(s: UTF8String,
                        bloom: org.apache.spark.util.sketch.BloomFilter): Boolean =
    bloom.mightContainBinary(s.getBytes)

  /** Bloom membership probe of a 64-bit value — the kernel behind
    * [[GraftFunctions.bloomMightContainLong]]. */
  def bloomMightContainLong(v: Long,
                            bloom: org.apache.spark.util.sketch.BloomFilter): Boolean =
    bloom.mightContainLong(v)

  /** Cosine similarity of two float vectors over their common prefix
    * (n = min length), accumulated in double; a zero-norm side gives 0.0.
    * [[CentroidBank]] replays this exact loop. */
  def cosineSimilarity(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = a.getFloat(i).toDouble
      val yi = b.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Argmax-cosine centroid id of a vector against a plan-time bank. */
  def nearestCentroidId(vec: ArrayData, bank: CentroidBank): Long =
    bank.assign(vec)

  /** [[nearestCentroidId]] over a two-level [[HierCentroidBank]]. */
  def nearestCentroidIdHier(vec: ArrayData, bank: HierCentroidBank): Long =
    bank.assign(vec)

  /** Subword-token count — the kernel behind
    * [[GraftFunctions.subwordCount]]: the number of matches of
    * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` (maximal
    * ASCII-letter runs + maximal digit runs + every other glyph, one per
    * code point), counted in ONE pass over the UTF-8 BYTES with zero
    * allocation. `regexp_extract_all(...).size` materializes every match
    * string just to count them — measured 109.6 s of text_stats' 104.8 s
    * at sf100, 30× the token split itself; this scanner is the same
    * automaton as a transition count. Non-ASCII code points (any UTF-8
    * lead byte) each count as one "other" glyph, exactly like the regex's
    * negated ASCII class (java \s is ASCII-only without
    * UNICODE_CHARACTER_CLASS); continuation bytes don't count, so
    * multi-byte and supplementary code points count once. */
  def subwordCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var cnt = 0
    var prev = 0 // 0 = boundary/space/other, 1 = in letter run, 2 = in digit run
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b >= 0) { // ASCII byte
        if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) {
          if (prev != 1) cnt += 1
          prev = 1
        } else if (b >= '0' && b <= '9') {
          if (prev != 2) cnt += 1
          prev = 2
        } else if (b == ' ' || b == '\t' || b == '\n' || b == 0x0B ||
            b == '\f' || b == '\r') {
          prev = 0
        } else {
          cnt += 1
          prev = 0
        }
      } else {
        if ((b & 0xC0) != 0x80) cnt += 1 // lead byte = one code point
        prev = 0
      }
      i += 1
    }
    cnt
  }

  /** Count of array elements present in `set` (duplicates counted) — the
    * kernel behind [[GraftFunctions.stopwordHits]] and
    * [[GraftFunctions.keyHits]]. */
  def countIn(arr: ArrayData, set: java.util.Set[UTF8String]): Int = {
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** Whether `b` is one of java.util.regex's six ASCII `\s` bytes
    * (space \t \n \x0B \f \r — the default, non-UNICODE_CHARACTER_CLASS
    * set both engines' BPE padding regex uses). */
  @inline private def isRegexWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** BPE boundary-padding — the kernel behind
    * [[GraftFunctions.bpeSymbolPad]]: byte-exact
    * `" " || regexp_replace(s, "(\S)", "$1  ")`, built in ONE
    * pass over the UTF-8 bytes instead of a per-code-point regex match
    * (the padding regex alone was 75.4 s of bpe_encode's sf100 budget —
    * ~2.5 B group substitutions). `\S` in both java.util.regex and RE2
    * matches one CODE POINT, so a multi-byte sequence (lead byte + its
    * continuations) is copied whole before the two pad spaces — never
    * split. Whitespace test is the regex default ASCII `\s` (6 bytes, all
    * single-byte in UTF-8, so the byte scan sees every occurrence). */
  def bpeSymbolPad(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val out = new Array[Byte](1 + 3 * n) // worst case: every byte padded
    out(0) = ' '
    var o = 1
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      out(o) = b
      o += 1
      i += 1
      if (!isRegexWs(b)) {
        // copy the rest of this code point (continuation bytes), then pad
        while (i < n && (s.getByte(i) & 0xC0) == 0x80) {
          out(o) = s.getByte(i); o += 1; i += 1
        }
        out(o) = ' '; out(o + 1) = ' '; o += 2
      }
    }
    UTF8String.fromBytes(out, 0, o)
  }

  /** Space-run collapse + space trim — the kernel behind
    * [[GraftFunctions.collapseSpaces]]: byte-exact `trim(regexp_replace(s, " +", " "))`
    * (0x20 ONLY, like the regex and like Spark's trim; other whitespace
    * passes through — an interior tab stays glued to its neighbors
    * exactly as the regex form leaves it). One pass, one allocation. */
  def collapseSpaces(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val b = s.getByte(i)
      if (b == ' ') { if (o > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = b; o += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o) // trailing spaces stay pending = trimmed
  }

  /** Count of 0x20 bytes — token arithmetic over single-spaced strings
    * (`spaceCount + 1` tokens) without `split`'s match-array allocation.
    * UTF-8 guarantees 0x20 never appears inside a multi-byte sequence. */
  def spaceCount(s: UTF8String): Int = {
    val n = s.numBytes()
    var c = 0
    var i = 0
    while (i < n) { if (s.getByte(i) == ' ') c += 1; i += 1 }
    c
  }
}
