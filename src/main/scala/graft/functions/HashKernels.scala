package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels behind the custom Catalyst expressions in
  * [[GraftFunctions]]. Each is a single tight pass over the document —
  * the Spark analog of the reference's per-chunk C kernels
  * (geometry/distance.py:39-66 dispatches to MDTraj's SSE library the
  * same way: expression tree for orchestration, native kernel for the
  * inner loop).
  *
  * Bit/character conventions are pinned to what the pure-SQL forms (and
  * the DuckDB oracles) compute:
  *  - md5 hex is lowercase;
  *  - simhash bit B reads hex char B/4 (0-based), bit B%4 of its nibble
  *    value, votes +1/-1 per token occurrence, ties (vote sum 0) → 1;
  *  - minhash_k = lexicographic min of md5("k:" + shingle) over the
  *    distinct word-3-gram shingles;
  *  - fingerprint = lexicographic min of md5 over all char 8-grams.
  */
object HashKernels {

  private val md5tl: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val Hex = "0123456789abcdef".toCharArray

  private def md5bytes(s: String): Array[Byte] = {
    val md = md5tl.get()
    md.reset()
    md.digest(s.getBytes(StandardCharsets.UTF_8))
  }

  def md5hex(s: String): String = {
    val b = md5bytes(s)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((b(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Split on every single space, keeping empty tokens — the exact
    * semantics of Spark's split(text, ' ') and DuckDB's string_split. */
  private def tokens(text: String): Array[String] = text.split(" ", -1)

  /** 64-bit frequency-weighted SimHash → (sim_lo, sim_hi) 32-bit
    * halves. */
  def simhash(text: String): (Long, Long) = {
    val votes = new Array[Int](64)
    val ws = tokens(text)
    var wi = 0
    while (wi < ws.length) {
      val dg = md5bytes(ws(wi))
      var b = 0
      while (b < 64) {
        val c = b >> 2                    // hex char index, 0-based
        val byte = dg(c >> 1)
        val nib = if ((c & 1) == 0) (byte >> 4) & 0xf else byte & 0xf
        if (((nib >> (b & 3)) & 1) == 1) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      wi += 1
    }
    var lo = 0L; var hi = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) >= 0) lo |= 1L << b
      if (votes(b + 32) >= 0) hi |= 1L << b
      b += 1
    }
    (lo, hi)
  }

  def simhashRow(text: UTF8String): InternalRow = {
    val (lo, hi) = simhash(text.toString)
    new GenericInternalRow(Array[Any](lo, hi))
  }

  /** Group-local simhash candidate generation + verify: given one LSH
    * band bucket's members as (doc_id, sim_lo, sim_hi) structs, emit
    * every unordered pair with Hamming(sig_a, sig_b) ≤ maxHamming as
    * (d1, d2, hamming) with d1 < d2.
    *
    * This replaces the banded SELF-JOIN in the simhash dedup plan: the
    * join materialized every bucket co-occurrence as a shuffled row
    * (sum over buckets of c² rows — 17 M at sf0.1, with the hottest
    * 7-bit bucket holding ~1.7 k docs) before the Hamming filter could
    * drop 99.995 % of them. Here the c² work stays inside one kernel
    * call per bucket — two XOR+popcount per candidate, only survivors
    * ever become rows. The shuffle that remains is the groupBy of the
    * 9·n banded rows (a few dozen bytes each), which is the minimum any
    * exhaustive banded-LSH plan must pay. Skew note: a hot bucket costs
    * c² POPCNT ops in one task (~1.5 M for the observed hottest — μs),
    * not c² shuffled rows, so band-key skew no longer needs AQE help. */
  def simhashClosePairs(xs: org.apache.spark.sql.catalyst.util.ArrayData,
      maxHamming: Int): GenericArrayData = {
    val n = xs.numElements()
    val ids = new Array[Long](n)
    val lo = new Array[Long](n)
    val hi = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = xs.getStruct(i, 3)
      ids(i) = r.getLong(0); lo(i) = r.getLong(1); hi(i) = r.getLong(2)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val h = java.lang.Long.bitCount(lo(i) ^ lo(j)) +
          java.lang.Long.bitCount(hi(i) ^ hi(j))
        if (h <= maxHamming) {
          val a = math.min(ids(i), ids(j))
          val b = math.max(ids(i), ids(j))
          out += new GenericInternalRow(Array[Any](a, b, h.toLong))
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct word-3-gram shingles + 8-seed MinHash signature + 4
    * banded LSH bucket keys → (sh: array<string>, bkeys: array<string>).
    * Fewer than 3 words → empty arrays (caller filters). */
  def minhashDoc(text: String): (Array[String], Array[String]) =
    minhashDocBanded(text, 8, 2)

  def minhashDocBanded(text: String, seeds: Int, rowsPerBand: Int)
      : (Array[String], Array[String]) =
    minhashDocBanded(text, seeds, rowsPerBand, 3)

  /** Banded minhash signature over `seeds` hash functions grouped into
    * `seeds / rowsPerBand` bands — the LSH S-curve knob for the text
    * near-dup tier: a pair is a candidate iff ALL rows of some band
    * agree, so more rows per band suppresses sub-threshold candidates
    * (cost) and more bands raises recall. Bands are ALIGNED prefixes
    * of the seed sequence, so with the same seeds, candidates at a
    * larger rowsPerBand are a strict subset of those at a divisor —
    * widening the knob can only shrink the verified output. The
    * default (8, 2) is byte-identical to the original fixed layout. */
  /** `shingleK` is the shingle-width dial (VERDICT r16 next #4): the
    * word-k-gram window the Jaccard predicate sees. Smaller k makes
    * small edits cheaper (a single swapped word kills k shingles, so
    * at swap rate 1/25, J ≈ (25−k)/(25+k): k=3 → 0.79 < the 0.8
    * verify bar, k=2 → 0.85 ≥ it) at the cost of less-discriminative
    * shingles. MinhashShingleProbe measures the detection/cost curve;
    * the registered tier stays at the oracle-pinned k=3. */
  def minhashDocBanded(text: String, seeds: Int, rowsPerBand: Int,
      shingleK: Int): (Array[String], Array[String]) = {
    val sh = shinglesK(text, shingleK)
    if (sh.isEmpty) return (Array.empty, Array.empty)
    (sh, bandedFromShingles(sh, seeds, rowsPerBand))
  }

  /** Distinct word-k-gram shingle array (first-occurrence order) — the
    * shingle-extraction half of [[minhashDocBanded]], exposed on its
    * own so the DF-filtered minhash tier can census/de-chrome the
    * shingle sets BEFORE the signature is computed (r20: signatures
    * over chrome-bearing sets put every chrome doc in the same band
    * bucket — the k2 tier's measured 29.3× skew tail). Fewer than k
    * words → empty array (caller filters). */
  def shinglesK(text: String, shingleK: Int): Array[String] = {
    val ws = tokens(text)
    if (ws.length < shingleK) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= ws.length - shingleK) {
      val sb = new java.lang.StringBuilder(ws(i))
      var j = 1
      while (j < shingleK) { sb.append(' ').append(ws(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** The signature/band half of [[minhashDocBanded]]: `seeds`-hash
    * string-min MinHash signature + banded bucket keys over a GIVEN
    * shingle array. Byte-identical to the fused kernel's output when
    * fed the fused kernel's own shingle set (the shingle set is the
    * only thing the DF tier changes). Empty input → empty bkeys.
    *
    * Hot-loop discipline ported from [[fingerprint]] (r20: this loop
    * was the measured top cost of the k2 tier — 3.4 of its 10.7 s at
    * sf0.1, ~20M digests each paying a concat String, a UTF-8 encode,
    * a fresh digest array, a 32-char hex encode and a String compare):
    * each shingle's UTF-8 bytes are encoded ONCE, every seed digests
    * prefix-bytes + shingle-bytes into a reused 16-byte buffer, and
    * the per-seed running minimum is raw digest bytes compared
    * UNSIGNED — the identical total order to the hex-string compare
    * (hex encoding is monotonic in unsigned byte order) — with only
    * the `seeds` winners hex-encoded at the end. */
  def bandedFromShingles(sh: Array[String], seeds: Int,
      rowsPerBand: Int): Array[String] = {
    if (sh.isEmpty) return Array.empty
    val md = md5tl.get()
    val shBytes = new Array[Array[Byte]](sh.length)
    var j = 0
    while (j < sh.length) {
      shBytes(j) = sh(j).getBytes(StandardCharsets.UTF_8)
      j += 1
    }
    val mhs = new Array[String](seeds)
    var cur = new Array[Byte](16)
    var min = new Array[Byte](16)
    var k = 0
    while (k < seeds) {
      val prefix = (k.toString + ":").getBytes(StandardCharsets.UTF_8)
      var haveMin = false
      j = 0
      while (j < sh.length) {
        md.reset()
        md.update(prefix)
        md.update(shBytes(j))
        md.digest(cur, 0, 16)
        if (!haveMin || unsignedLess(cur, min)) {
          val t = min; min = cur; cur = t
          haveMin = true
        }
        j += 1
      }
      mhs(k) = hex16(min)
      k += 1
    }
    val nBands = seeds / rowsPerBand
    val bkeys = new Array[String](nBands)
    var band = 0
    while (band < nBands) {
      val sb = new java.lang.StringBuilder(band.toString)
      var r = 0
      while (r < rowsPerBand) {
        sb.append('|').append(mhs(band * rowsPerBand + r))
        r += 1
      }
      bkeys(band) = md5hex(sb.toString)
      band += 1
    }
    bkeys
  }

  def minhashDocRow(text: UTF8String): InternalRow = {
    val (sh, bkeys) = minhashDoc(text.toString)
    new GenericInternalRow(Array[Any](
      new GenericArrayData(sh.map(UTF8String.fromString(_: String))),
      new GenericArrayData(bkeys.map(UTF8String.fromString(_: String)))))
  }

  def minhashDocBandedRow(text: UTF8String, seeds: Int,
      rowsPerBand: Int, shingleK: Int): InternalRow = {
    val (sh, bkeys) =
      minhashDocBanded(text.toString, seeds, rowsPerBand, shingleK)
    new GenericInternalRow(Array[Any](
      new GenericArrayData(sh.map(UTF8String.fromString(_: String))),
      new GenericArrayData(bkeys.map(UTF8String.fromString(_: String)))))
  }

  def shinglesKRow(text: UTF8String, shingleK: Int): GenericArrayData =
    new GenericArrayData(shinglesK(text.toString, shingleK)
      .map(UTF8String.fromString(_: String)))

  def minhashBandedFromRow(sh: org.apache.spark.sql.catalyst.util.ArrayData,
      seeds: Int, rowsPerBand: Int): GenericArrayData = {
    val n = sh.numElements()
    val arr = new Array[String](n)
    var i = 0
    while (i < n) { arr(i) = sh.getUTF8String(i).toString; i += 1 }
    new GenericArrayData(bandedFromShingles(arr, seeds, rowsPerBand)
      .map(UTF8String.fromString(_: String)))
  }

  /** Lexicographic-min md5 over all char 8-grams (whole text when
    * shorter than 8 chars). Windows are CODE POINTS, not UTF-16 units,
    * so the kernel matches the character semantics of Spark SQL
    * substring()/length() and the DuckDB oracle on non-BMP text
    * (surrogate pairs count as one character in both engines).
    *
    * Pure-ASCII texts (the dedupNgram key stage's dominant case) take
    * a zero-allocation loop: UTF-8 bytes == chars 1:1, so each window
    * digests straight from one shared byte array into a reused 16-byte
    * buffer, and the running minimum is kept as raw digest bytes
    * compared UNSIGNED — identical ordering to the hex-string compare
    * (hex encoding is monotonic in unsigned byte order) — with only
    * the winning digest hex-encoded at the end. The n-gram md5 loop
    * was the measured hot path of the ngram key stage: one md5 per
    * text position, previously plus a 32-char hex String and a
    * byte-array encode per position. */
  def fingerprint(text: String): String = {
    var pureAscii = true
    var j = 0
    while (pureAscii && j < text.length) {
      if (text.charAt(j) >= 0x80) pureAscii = false
      j += 1
    }
    if (pureAscii) {
      if (text.length < 8) return md5hex(text)
      val bytes = new Array[Byte](text.length)
      var k = 0
      while (k < text.length) {
        bytes(k) = text.charAt(k).toByte
        k += 1
      }
      val md = md5tl.get()
      var cur = new Array[Byte](16)
      var min = new Array[Byte](16)
      var haveMin = false
      var i = 0
      while (i <= bytes.length - 8) {
        md.reset()
        md.update(bytes, i, 8)
        md.digest(cur, 0, 16)
        if (!haveMin || unsignedLess(cur, min)) {
          val t = min; min = cur; cur = t
          haveMin = true
        }
        i += 1
      }
      return hex16(min)
    }
    // BMP fast path: no surrogates → code units == code points
    var bmp = true
    j = 0
    while (bmp && j < text.length) {
      if (Character.isHighSurrogate(text.charAt(j))) bmp = false
      j += 1
    }
    val cps: Array[Int] =
      if (bmp) null else text.codePoints().toArray
    val n = if (bmp) text.length else cps.length
    if (n < 8) return md5hex(text)
    var min: String = null
    var i = 0
    while (i <= n - 8) {
      val gram =
        if (bmp) text.substring(i, i + 8) else new String(cps, i, 8)
      val h = md5hex(gram)
      if (min == null || h.compareTo(min) < 0) min = h
      i += 1
    }
    min
  }

  /** a < b over 16 raw digest bytes, UNSIGNED — the byte-level twin of
    * comparing the hex encodings lexicographically. */
  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  private def hex16(b: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = Hex((b(i) >> 4) & 0xf)
      out(2 * i + 1) = Hex(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def fingerprintUtf8(text: UTF8String): UTF8String =
    UTF8String.fromString(fingerprint(text.toString))

  // ------------------------------------------------------- char 5-grams

  /** Minimal open-addressed hash set of longs (no boxing) for the ASCII
    * 5-gram fast path: 5 ASCII bytes pack injectively into 40 bits, so
    * long-distinctness == string-distinctness. */
  private final class LongSet(initCap: Int) {
    private var mask = Integer.highestOneBit(math.max(initCap * 2, 16)) * 2 - 1
    private var keys = new Array[Long](mask + 1)
    private var used = new Array[Boolean](mask + 1)
    private var n = 0
    def size: Int = n
    def add(k: Long): Boolean = {
      var i = (java.lang.Long.hashCode(k * 0x9e3779b97f4a7c15L)) & mask
      while (used(i)) {
        if (keys(i) == k) return false
        i = (i + 1) & mask
      }
      used(i) = true; keys(i) = k; n += 1
      if (n * 2 > mask) grow()
      true
    }
    private def grow(): Unit = {
      val ok = keys; val ou = used
      mask = mask * 2 + 1
      keys = new Array[Long](mask + 1)
      used = new Array[Boolean](mask + 1)
      n = 0
      var i = 0
      while (i < ok.length) { if (ou(i)) add(ok(i)); i += 1 }
    }
    def toArray: Array[Long] = {
      val out = new Array[Long](n)
      var i = 0; var o = 0
      while (i < keys.length) {
        if (used(i)) { out(o) = keys(i); o += 1 }
        i += 1
      }
      out
    }
  }

  /** Number of DISTINCT char-5-grams (code-point windows; texts shorter
    * than 5 characters count as one gram — the whole text). Single-pass
    * twin of `size(array_distinct(transform(sequence(1, len-4),
    * i -> substring(text, i, 5))))` with no array materialization. */
  def ngram5Count(text: UTF8String): Int = {
    val s = text.toString
    var ascii = true
    var j = 0
    while (ascii && j < s.length) {
      if (s.charAt(j) >= 0x80) ascii = false
      j += 1
    }
    if (ascii) {
      if (s.length < 5) return 1
      val set = new LongSet(s.length)
      var i = 0
      while (i <= s.length - 5) {
        val k = s.charAt(i).toLong | (s.charAt(i + 1).toLong << 8) |
          (s.charAt(i + 2).toLong << 16) | (s.charAt(i + 3).toLong << 24) |
          (s.charAt(i + 4).toLong << 32)
        set.add(k)
        i += 1
      }
      set.size
    } else {
      val cps = s.codePoints().toArray
      if (cps.length < 5) return 1
      val seen = new java.util.HashSet[String]()
      var i = 0
      while (i <= cps.length - 5) {
        seen.add(new String(cps, i, 5))
        i += 1
      }
      seen.size
    }
  }

  // ------------------------------------------------- vector reductions

  /** Exact HALF_UP round of a double to a long — bit-identical to Spark
    * SQL round(x, 0) (BigDecimal HALF_UP) and DuckDB round(x, 0)
    * (std::round, half away from zero on the exact value). Java's
    * Math.round is floor(x+0.5) and DIFFERS on values just below a
    * half-way point; BigDecimal.setScale is exact but ~µs per call
    * (full binary expansion of the double). This form is exact because
    * for |x| < 2^52 both floor(|x|) and |x| − floor(|x|) are exact IEEE
    * results, so the ≥ 0.5 comparison sees the true fractional part. */
  private def roundHalfUp(v: Double): Long = {
    val ax = math.abs(v)
    if (ax >= 4.503599627370496e15) return v.toLong // integral already
    val fl = math.floor(ax)
    val k = if (ax - fl >= 0.5) fl + 1.0 else fl
    (if (v < 0) -k else k).toLong
  }

  /** Plain double dot product, 4-way unrolled for ILP — the FAST phase
    * of the two-phase cosine screen in [[cosineClosePairs]]. ~8×
    * cheaper per element than [[dotScaled]] (no per-element
    * floor/branch/long round-trip), at the price of ordinary
    * floating-point error — which the caller bounds EXACTLY: with
    * d = min dims, |dotFast − Σaᵢbᵢ| ≤ 2d·ε·‖a‖‖b‖ (any summation
    * order, Cauchy–Schwarz on Σ|aᵢbᵢ|), so a conservative margin
    * around the survival threshold makes the fast phase a screen that
    * can never flip a survival decision. */
  def dotFast(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
    var i = 0
    while (i + 3 < n) {
      s0 += a(i) * b(i); s1 += a(i + 1) * b(i + 1)
      s2 += a(i + 2) * b(i + 2); s3 += a(i + 3) * b(i + 3)
      i += 4
    }
    while (i < n) { s0 += a(i) * b(i); i += 1 }
    (s0 + s1) + (s2 + s3)
  }

  /** Σ round(a_i · b_i · 1e12) as a long — the single-pass twin of
    * aggregate(zip_with(a, b, (x,y) -> CAST(round(x*y*1e12, 0) AS
    * BIGINT)), 0, +): exact integer accumulation of a scaled dot
    * product, reduction-order independent (graft.sim.SimQueries). */
  def dotScaled(a: Array[Double], b: Array[Double]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) {
      s += roundHalfUp(a(i) * b(i) * 1e12)
      i += 1
    }
    s
  }

  /** [[dotScaled]] over two `array<double>` values. */
  def dotScaled(a: ArrayData, b: ArrayData): Long =
    dotScaled(a.toDoubleArray(), b.toDoubleArray())

  /** Σ floor(a_i · b_i · 1e12 + 0.5) as a long — the single-pass twin
    * of sum(CAST(floor(x * y * 1e12 + 5e-1) AS BIGINT)), the exact
    * term form the PQ-training oracle SQL is written in. NOT the same
    * as [[dotScaled]]: floor(x + 0.5) rounds an exact negative half
    * toward +∞ while roundHalfUp rounds it away from zero, so the two
    * can differ by 1 per term on negative products — the PQ chain
    * must reproduce the oracle's floor form bit-for-bit. */
  def dotFloorScaled(a: Array[Double], b: Array[Double]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) {
      s += math.floor(a(i) * b(i) * 1e12 + 0.5).toLong
      i += 1
    }
    s
  }

  /** [[dotFloorScaled]] over two `array<double>` values. */
  def dotFloorScaled(a: ArrayData, b: ArrayData): Long =
    dotFloorScaled(a.toDoubleArray(), b.toDoubleArray())

  /** 16-bit sign-LSH code: bit p = [Σ_i round(v_i · sin(997p + 31i) ·
    * 1e12) > 0] with 1-based i — the kernel form of the HOF expression
    * in SimQueries (same Math.sin the expression form evaluates). */
  def lsh16Code(v: Array[Double]): Long = lshCode(v, 16)

  /** [[lsh16Code]] over an `array<double>` value. */
  def lsh16Code(v: ArrayData): Long = lshCode(v.toDoubleArray(), 16)

  /** Sign-LSH code over the first `bits` hyperplanes of the same
    * family (h_p[i] = sin(997p + 31i)). Because wider codes EXTEND the
    * hyperplane prefix, Hamming-≤1 candidate sets shrink monotonically
    * as bits grow — the scale knob for corpus growth: bucket occupancy
    * ~ n/2^bits, so doubling the corpus and adding one bit keeps the
    * candidate-join cost flat. */
  /** Hyperplane table cache: sin(997p + 31i) depends only on (p, i),
    * so the (bits × dim) table is computed once per shape and reused —
    * without it every vector recomputed bits·dim Math.sin calls
    * (20.5 M sin at the 10× replica's 20 k × 16 × 64). Same doubles
    * (Math.sin is deterministic), so codes are bit-identical. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def planes(bits: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((bits, dim), { case (b, n) =>
      val t = new Array[Double](b * n)
      var p = 0
      while (p < b) {
        var i = 0
        while (i < n) {
          t(p * n + i) = math.sin(p * 997 + (i + 1) * 31)
          i += 1
        }
        p += 1
      }
      t
    })

  def lshCode(v: Array[Double], bits: Int): Long = {
    val t = planes(bits, v.length)
    var code = 0L
    var p = 0
    while (p < bits) {
      var s = 0L
      var i = 0
      val off = p * v.length
      while (i < v.length) {
        s += roundHalfUp(v(i) * t(off + i) * 1e12)
        i += 1
      }
      if (s > 0) code |= 1L << p
      p += 1
    }
    code
  }

  /** [[lshCode]] over an `array<double>` value. */
  def lshCode(v: ArrayData, bits: Int): Long =
    lshCode(v.toDoubleArray(), bits)

  /** Two-list variant of [[simhashClosePairs]] for SEGMENTED buckets —
    * the hot-bucket guard (SCALING.md): a (band, bval) bucket larger
    * than the plan's cap is hash-split into segments, within-segment
    * pairs run the one-list kernel shape (`same = true`, `ys`
    * ignored), and each cross-segment cell (s1 < s2) runs the full
    * xs × ys cross — every unordered pair lands in exactly one cell,
    * so the union over cells is pair-identical to the unsegmented
    * kernel. Re-banding alone cannot guard this case: k docs with
    * IDENTICAL signatures share one bucket under every banding, while
    * hash-segmenting bounds per-task members (and c² work) regardless
    * of the signature distribution. */
  def simhashClosePairsCross(
      xs: org.apache.spark.sql.catalyst.util.ArrayData,
      ys: org.apache.spark.sql.catalyst.util.ArrayData,
      same: Boolean, maxHamming: Int): GenericArrayData = {
    if (same) return simhashClosePairs(xs, maxHamming)
    val n = xs.numElements()
    val ids = new Array[Long](n)
    val lo = new Array[Long](n)
    val hi = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = xs.getStruct(i, 3)
      ids(i) = r.getLong(0); lo(i) = r.getLong(1); hi(i) = r.getLong(2)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val m = ys.numElements()
    var j = 0
    while (j < m) {
      val r = ys.getStruct(j, 3)
      val idb = r.getLong(0); val lob = r.getLong(1); val hib = r.getLong(2)
      i = 0
      while (i < n) {
        val h = java.lang.Long.bitCount(lo(i) ^ lob) +
          java.lang.Long.bitCount(hi(i) ^ hib)
        if (h <= maxHamming) {
          val a = math.min(ids(i), idb)
          val b = math.max(ids(i), idb)
          out += new GenericInternalRow(Array[Any](a, b, h.toLong))
        }
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Group-local cosine candidate generation + verify for the
    * embedding near-dup tier (the vector twin of [[simhashClosePairs]]):
    * given the member lists of the two buckets of one qualifying
    * Hamming-≤1 code pair — each element a (vec_id, emb, nrm) struct —
    * emit every pair whose 6-decimal-rounded cosine clears `threshold`,
    * as (v1, v2, cos_sim) with v1 < v2. `same = true` means the two
    * lists are the SAME bucket (a (c, c) code pair): iterate unordered
    * within-bucket pairs i < j over `xs` only.
    *
    * This replaces the code-pair-keyed vector join in the LSH near-dup
    * plan: that join materialized every candidate as a row carrying
    * BOTH full embeddings (~1 KB each) before the cosine filter ran —
    * 25.6 M such rows at the 10× replica (the corpus is clustered, so
    * candidates grow quadratically: 256 k at sf0.1, exactly 100× at
    * 10×), measured at 18.0 s idle. Here a bucket's members shuffle
    * ONCE per partner code (≤ bits+1 partners exist at all), and the
    * c² cosine work runs as in-task primitive-array loops — only
    * survivors ever become rows.
    *
    * Exactness contract (oracle hash): the dot is [[dotScaled]] (exact
    * integer accumulation), the cosine is `(dots / 1e12) / (n1 · n2)`
    * in that association, and the rounding is
    * `BigDecimal.valueOf(cos).setScale(6, HALF_UP)` — bit-for-bit what
    * Spark's `round(col, 6)` computes on a double, so the kernel's
    * output is row-identical to the join plan it replaces
    * (CosineKernelSpec pins this differentially). Non-finite cosines
    * (zero-norm vectors) are skipped — they cannot pass the threshold
    * compare in the join plan either. */
  def cosineClosePairs(xs: org.apache.spark.sql.catalyst.util.ArrayData,
      ys: org.apache.spark.sql.catalyst.util.ArrayData,
      same: Boolean, threshold: Double): GenericArrayData = {
    val n = xs.numElements()
    val ida = new Array[Long](n)
    val ea = new Array[Array[Double]](n)
    val na = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = xs.getStruct(i, 3)
      ida(i) = r.getLong(0)
      ea(i) = r.getArray(1).toDoubleArray()
      na(i) = r.getDouble(2)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    // HALF_UP at 6 decimals moves a value by at most 5e-7 (+ ulp), so
    // no cosine below `threshold - 5.001e-7` can round up to clear the
    // threshold — the cheap double compare skips the exact BigDecimal
    // rounding (a Double.toString under the hood, the kernel's hottest
    // non-dot cost) for the ~99.95 % of candidates that fail by a wide
    // margin, without ever changing which pairs survive.
    val preGate = threshold - 5.001e-7
    // Two-phase EXACT screen (r14): candidate work on this corpus is
    // structure-bound at Θ(n²/bits) — the sin(997p+31i) family spans a
    // 2-D subspace (sin(x+y) expansion: every hyperplane is a linear
    // combination of cos(31i) and sin(31i)), so the "64-bit" code is
    // an angular SECTOR index in that plane, 2·bits sectors total
    // (measured: 32 distinct codes at bits=16, 40 at 20, for 200k
    // vectors). No full-rank replacement is admissible: qualifying
    // pairs on this corpus sit at cos 0.4-0.6 (53-66°, measured — max
    // pair cos is 0.60 at sf0.1), where independent sign-hyperplane
    // LSH has ~1% recall at any sub-quadratic cost; the sector code is
    // what FINDS them. So the lever is the per-candidate constant: a
    // plain-double dot (dotFast) decides every pair that is provably
    // far from the survival boundary, and only near-boundary pairs and
    // survivors pay the exact dotScaled + BigDecimal path. Bound, in
    // raw dot units (R = exact rounded-scaled sum, F = dotFast):
    //   |R/1e12 − F| ≤ 0.5·d/1e12 (per-element HALF_UP, d ≤ 4096)
    //                + 3d·ε·‖a‖‖b‖ (fl error of products + any-order
    //                  accumulation, Cauchy–Schwarz)
    // Survival requires R/1e12 ≥ (θ − 5.001e-7)·n1·n2, so
    //   F < (θ − 5.001e-7)·n1·n2 − M, M = 1e-8 + 1e-11·n1·n2
    // (three orders of magnitude above the bound at d = 64) rejects
    // with zero false dismissals; survivors recompute exactly, so the
    // output is bit-identical to the single-phase kernel
    // (CosineKernelSpec: boundary fuzz + the bits-16/12 differential).
    def verify(id1: Long, e1: Array[Double], n1: Double,
        id2: Long, e2: Array[Double], n2: Double): Unit = {
      val s = n1 * n2
      if (dotFast(e1, e2) < preGate * s - 1e-8 - 1e-11 * s) return
      val cos = (dotScaled(e1, e2) / 1e12) / s
      if (cos >= preGate && java.lang.Double.isFinite(cos)) {
        val r6 = java.math.BigDecimal.valueOf(cos)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (r6 >= threshold)
          out += new GenericInternalRow(Array[Any](
            math.min(id1, id2), math.max(id1, id2), r6))
      }
    }
    if (same) {
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          verify(ida(i), ea(i), na(i), ida(j), ea(j), na(j))
          j += 1
        }
        i += 1
      }
    } else {
      val m = ys.numElements()
      var j = 0
      while (j < m) {
        val r = ys.getStruct(j, 3)
        val idb = r.getLong(0)
        val eb = r.getArray(1).toDoubleArray()
        val nb = r.getDouble(2)
        i = 0
        while (i < n) {
          verify(ida(i), ea(i), na(i), idb, eb, nb)
          i += 1
        }
        j += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Sorted array of distinct char-5-grams as packed longs. Injective
    * packing when every code point of the gram is < 2^12 (bit 63 = 0:
    * five 12-bit code points; bit 62 flags a short whole-text gram with
    * its length in bits 52-54); grams with larger code points fall back
    * to a 63-bit md5 prefix with bit 63 set — collisions there are
    * 2^-63-improbable and only affect non-BMP-heavy corpora (the
    * distinct-gram COUNT stays exact via [[ngram5Count]]'s string path).
    * Downstream intersection counts run as long merge-walks
    * ([[sortedIntersectCount]]) instead of per-pair string hash sets —
    * the packed form never leaves the engine, only |A∩B| does. */
  def ngram5Packed(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val cps = s.codePoints().toArray

    def packable(off: Int, len: Int): Boolean = {
      var i = 0
      while (i < len) {
        if (cps(off + i) >= 4096) return false
        i += 1
      }
      true
    }
    def pack(off: Int, len: Int): Long = {
      var k = 0L
      var i = 0
      while (i < len) {
        k |= cps(off + i).toLong << (12 * i)
        i += 1
      }
      k
    }
    def hashed(gram: String): Long = {
      val b = md5bytes(gram)
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (b(i) & 0xffL); i += 1 }
      h | Long.MinValue // bit 63 marks the hash domain
    }

    val set = new LongSet(math.max(cps.length, 8))
    if (cps.length < 5) {
      val k =
        if (packable(0, cps.length))
          pack(0, cps.length) | (cps.length.toLong << 52) | (1L << 62)
        else hashed(s)
      set.add(k)
    } else {
      var i = 0
      while (i <= cps.length - 5) {
        val k = if (packable(i, 5)) pack(i, 5)
          else hashed(new String(cps, i, 5))
        set.add(k)
        i += 1
      }
    }
    val out = set.toArray
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** Distinct char-8-gram set as sorted packed longs — the 8-char
    * sibling of [[ngram5Packed]], added r16 for the DF-filtered ngram
    * tier's de-chromed fingerprint (its DF census and two-band minima
    * need the distinct 8-grams per doc; materializing them as md5-hex
    * STRING arrays through the expression layer measured 12.7 s on
    * the 10×-skew replica vs 1.3 s for this kernel's long arrays).
    * Exact packing when every code point is < 2^7 (eight 7-bit code
    * points in bits 0-55, little-endian; bit 61 flags a short
    * whole-text gram with its length in bits 56-58); grams with
    * larger code points fall back to a 63-bit md5 prefix with bit 63
    * set, same contract as the 5-gram kernel. */
  def ngram8Packed(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val cps = s.codePoints().toArray

    def packable(off: Int, len: Int): Boolean = {
      var i = 0
      while (i < len) {
        if (cps(off + i) >= 128) return false
        i += 1
      }
      true
    }
    def pack(off: Int, len: Int): Long = {
      var k = 0L
      var i = 0
      while (i < len) {
        k |= cps(off + i).toLong << (7 * i)
        i += 1
      }
      k
    }
    def hashed(gram: String): Long = {
      val b = md5bytes(gram)
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (b(i) & 0xffL); i += 1 }
      h | Long.MinValue // bit 63 marks the hash domain
    }

    val set = new LongSet(math.max(cps.length, 8))
    if (cps.length < 8) {
      val k =
        if (packable(0, cps.length))
          pack(0, cps.length) | (cps.length.toLong << 56) | (1L << 61)
        else hashed(s)
      set.add(k)
    } else {
      var i = 0
      while (i <= cps.length - 8) {
        val k = if (packable(i, 8)) pack(i, 8)
          else hashed(new String(cps, i, 8))
        set.add(k)
        i += 1
      }
    }
    val out = set.toArray
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** Distinct char-3-gram set in first-occurrence order (code-point
    * windows; whole text when shorter than 3 characters) — the
    * single-pass twin of array_distinct(transform(sequence(...),
    * i -> substring(text, i, 3))), kept as STRINGS because the gram
    * identity feeds cross-engine profile ranking (language-ID). */
  def ngram3Set(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val seen = new java.util.LinkedHashSet[String]()
    val cps = s.codePoints().toArray
    if (cps.length < 3) seen.add(s)
    else {
      var i = 0
      while (i <= cps.length - 3) {
        seen.add(new String(cps, i, 3))
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  // ------------------------------------------------- repetition stats

  /** Per-document repetition statistics in ONE pass over the token
    * stream — (n_words, n_distinct_words, top_word_count,
    * top_bigram_count) as a 4-long struct. The Gopher/C4 repetition
    * filters (duplicate-word fraction, most-common-word fraction,
    * most-common-2-gram fraction) are pure functions of these counts,
    * so the whole filter family is a NARROW projection: no token
    * explode, no per-token shuffle — the property that makes it viable
    * at 100 TB (an explode+groupBy form shuffles every token in the
    * corpus to compute a per-document number).
    *
    * Tokenization is split-on-single-space keeping empties — exactly
    * `split(text, ' ')` (Spark) / `string_split(text, ' ')` (DuckDB),
    * so the oracle's unnest+GROUP BY form counts the same tokens. All
    * four outputs are exact integers: no cross-engine float hazard. */
  def repStats(text: UTF8String): InternalRow = {
    val parts = text.toString.split(" ", -1)
    val wc = new java.util.HashMap[String, Int]()
    var topw = 0
    var i = 0
    while (i < parts.length) {
      val c = wc.merge(parts(i), 1, (a, b) => a + b)
      if (c > topw) topw = c
      i += 1
    }
    var topbg = 0
    if (parts.length >= 2) {
      val bc = new java.util.HashMap[String, Int]()
      i = 0
      while (i < parts.length - 1) {
        val c = bc.merge(parts(i) + " " + parts(i + 1), 1, (a, b) => a + b)
        if (c > topbg) topbg = c
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](
      parts.length.toLong, wc.size.toLong, topw.toLong, topbg.toLong))
  }

  /** Canonical stopword list shared by the quality-score / lang-id
    * kernels AND the SQL literal their DuckDB oracles embed — one
    * definition, so kernel and oracle can never drift. */
  val Stopwords: Array[String] = Array("the", "a", "query", "row",
    "stream", "order", "column", "vector", "slow", "part", "table",
    "join")
  private val StopwordSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Stopwords.foreach(s.add)
    s
  }

  /** One-pass text quality statistics (r12): replaces the
    * three-`split` + `array_distinct` + `regexp_extract_all` plan of
    * q_quality_score with a single scan per document — (nw, nu, ncl,
    * nsw, npunct) where nw/nu/nsw follow `split(text, ' ')` semantics
    * EXACTLY (consecutive spaces yield empty tokens, counted and
    * deduplicated like any other token — the oracle's string_split
    * agrees), ncl is the code-point count (Spark `length()`), and
    * npunct counts code points outside [a-z0-9 ] (the
    * `regexp_extract_all(text, '[^a-z0-9 ]')` cardinality). The 10×
    * bench measured the expression-pipeline version at 5.25 s /
    * 500 k docs — all of it per-row CPU building throwaway token and
    * match arrays. */
  def qualityStats(text: UTF8String): InternalRow = {
    val s = text.toString
    val len = s.length
    var ncl = 0L
    var npunct = 0L
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      ncl += 1
      if (!((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') ||
          cp == ' ')) npunct += 1
      i += Character.charCount(cp)
    }
    val seen = new java.util.HashSet[String]()
    var nw = 0L
    var nsw = 0L
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        val w = s.substring(start, i)
        nw += 1
        seen.add(w)
        if (StopwordSet.contains(w)) nsw += 1
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](nw, seen.size.toLong, ncl, nsw,
      npunct))
  }

  /** One-pass token statistics (r12): (ws_tokens, bpeish_tokens,
    * n_chars) where ws_tokens follows `split(text, ' ')` semantics
    * (empty tokens counted), bpeish_tokens is the cardinality of
    * `regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')` — maximal
    * letter runs + maximal digit runs + each other non-space code
    * point — and n_chars is the code-point count. Replaces one split
    * + one regexp_extract_all materialization per row; unlike
    * [[qualityStats]] there is no per-row hash set, so this is pure
    * scanning. */
  def tokenStats(text: UTF8String): InternalRow = {
    val s = text.toString
    val len = s.length
    var ncl = 0L
    var bpeish = 0L
    var ws = 1L // split(" ") yields (delimiter count + 1) tokens
    var prev = 0 // 0 = other/none, 1 = in letter run, 2 = in digit run
    var i = 0
    while (i < len) {
      val cp = s.codePointAt(i)
      ncl += 1
      if (cp == ' ') { ws += 1; prev = 0 }
      else if (cp >= 'a' && cp <= 'z') {
        if (prev != 1) { bpeish += 1; prev = 1 }
      } else if (cp >= '0' && cp <= '9') {
        if (prev != 2) { bpeish += 1; prev = 2 }
      } else { bpeish += 1; prev = 0 }
      i += Character.charCount(cp)
    }
    new GenericInternalRow(Array[Any](ws, bpeish, ncl))
  }

  /** |A∩B| of two ascending-sorted long arrays via a merge walk. */
  def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** [[sortedIntersectCount]] over two `array<bigint>` values. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int =
    sortedIntersectCount(a.toLongArray(), b.toLongArray())

  /** [[sortedIntersectCount]] with an early-abort bound: returns the
    * EXACT intersection count if it reaches `needed`, else -1 the
    * moment the remaining elements can no longer get there
    * (n + min(remA, remB) < needed). Exactness contract: a pair that
    * PASSES gets the same count the full walk computes (the walk only
    * aborts on pairs that cannot pass), so downstream Jaccard values
    * are unchanged — the abort rejects, never approximates. */
  def sortedIntersectAtLeast(a: Array[Long], b: Array[Long],
      needed: Int): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (n + math.min(a.length - i, b.length - j) < needed) return -1
      val x = a(i); val y = b(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    if (n >= needed) n else -1
  }

  /** Group-local n-gram Jaccard verify over ONE (fp, lenb) block
    * gathered as array<struct<doc_id, grams>> (grams = the doc's
    * sorted packed-long 5-gram set): for every i < j pair, apply the
    * exact-integer size prefilter (3·min ≥ sum is necessary for
    * J ≥ 0.5), then the early-abort merge walk; emit
    * (d1, d2, ni, den = |A∪B|) only for pairs with J ≥ 0.5. This is
    * the simhash_close_pairs shape for the ngram tier: each doc's gram
    * array is SHUFFLED ONCE into its block instead of once per
    * candidate pair — the r13 100× profile measured the per-pair
    * array join at 97.9 s of the query's 98 s (≈22.9 M candidates ×
    * ~8 KB of arrays ≈ 350 GB of replicated shuffle); the gather
    * moves each array exactly once (~4 GB). */
  def ngramClosePairs(
      xs: org.apache.spark.sql.catalyst.util.ArrayData)
      : GenericArrayData = {
    val n = xs.numElements()
    val ids = new Array[Long](n)
    val gs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val r = xs.getStruct(i, 2)
      ids(i) = r.getLong(0)
      gs(i) = r.getArray(1).toLongArray()
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    i = 0
    while (i < n) {
      var j = i + 1
      val ga = gs(i)
      while (j < n) {
        emitIfClose(ids(i), ga, ids(j), gs(j), out)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Cross-cell twin of [[ngramClosePairs]] for the hot-block
    * segmented plan: all (a from ma) × (b from mb) pairs when
    * `same` is false; i < j within ma when `same` is true (the
    * diagonal cell passes the same list twice). */
  def ngramClosePairsCross(
      xs: org.apache.spark.sql.catalyst.util.ArrayData,
      ys: org.apache.spark.sql.catalyst.util.ArrayData,
      same: Boolean): GenericArrayData = {
    if (same) return ngramClosePairs(xs)
    val na = xs.numElements()
    val nb = ys.numElements()
    // pre-extract the b side once — toLongArray per (i, j) pair would
    // re-materialize each array na times
    val idb = new Array[Long](nb)
    val gb = new Array[Array[Long]](nb)
    var j = 0
    while (j < nb) {
      val r = ys.getStruct(j, 2)
      idb(j) = r.getLong(0)
      gb(j) = r.getArray(1).toLongArray()
      j += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < na) {
      val ra = xs.getStruct(i, 2)
      val ida = ra.getLong(0)
      val ga = ra.getArray(1).toLongArray()
      j = 0
      while (j < nb) {
        emitIfClose(ida, ga, idb(j), gb(j), out)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Per-window 128-bit gram fingerprints for the span-dedup tier
    * WITHOUT materializing gram strings: token hashes (two independent
    * XXH64 seeds over each token's UTF8 bytes, computed once per TOKEN)
    * combine per window through two independent order-sensitive
    * polynomial mixes + a murmur finalizer. The r12 projection built
    * every 5-word gram string (array_join of a slice — ~5 copies of
    * every corpus byte) and then hashed it twice; this pass hashes each
    * token once and does 5 multiply-adds per window. Injectivity: split
    * tokens contain no spaces, so the joined-string gram the oracle
    * groups by is a bijection of the token sequence — fingerprinting
    * the sequence fingerprints the gram; collision probability keeps
    * the documented n²/2¹²⁹ shape (two lanes, independent seeds and
    * multipliers). Returns array<struct<pos, h1, h2>>. */
  def spanGramHashes(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      span: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n < span) return new GenericArrayData(Array.empty[Any])
    val t1 = new Array[Long](n)
    val t2 = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      t1(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      t2(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes,
          0x9E3779B97F4A7C15L)
      i += 1
    }
    val out = new Array[Any](n - span + 1)
    i = 0
    while (i <= n - span) {
      var h1 = 0x87C37B91114253D5L
      var h2 = 0x4CF5AD432745937FL
      var j = i
      while (j < i + span) {
        h1 = h1 * 0x100000001B3L + t1(j)
        h2 = h2 * 0xC6A4A7935BD1E995L + t2(j)
        j += 1
      }
      out(i) = new GenericInternalRow(
        Array[Any](i, fmix64(h1), fmix64(h2)))
      i += 1
    }
    new GenericArrayData(out)
  }

  @inline private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    x
  }

  /** One-pass span-dedup document rebuild: drop the tokens whose
    * positions appear in `rm` (the doc's covered-position set, already
    * distinct), return (n_kept, kept tokens joined by ' '). Replaces
    * the r12 plan's corpus-token anti-join + per-doc collect_list
    * reassembly — the removed-position sets are per-doc bounded
    * (≤ doc length), so the whole rebuild is in-row: no token ever
    * shuffles for the rebuild, only the ~|doc| ints of `rm`. Join
    * semantics mirror the SQL twin exactly: kept tokens in position
    * order (split preserves them), empty tokens kept and joined. */
  def spanClean(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      rm: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val n = arr.numElements()
    val drop = new Array[Boolean](n)
    var i = 0
    val m = rm.numElements()
    while (i < m) {
      val p = rm.getInt(i)
      if (p >= 0 && p < n) drop(p) = true
      i += 1
    }
    val kept = new Array[UTF8String](n)
    var k = 0
    i = 0
    while (i < n) {
      if (!drop(i)) { kept(k) = arr.getUTF8String(i); k += 1 }
      i += 1
    }
    val clean = UTF8String.concatWs(UTF8String.fromString(" "),
      java.util.Arrays.copyOf(kept, k): _*)
    new GenericInternalRow(Array[Any](k.toLong, clean))
  }

  @inline private def emitIfClose(ida: Long, ga: Array[Long],
      idb: Long, gb: Array[Long],
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    val na = ga.length; val nb = gb.length
    if (3L * math.min(na, nb) >= na + nb) {
      // needed = ceil((na+nb)/3): the smallest ni with 3·ni >= na+nb
      val needed = (na + nb + 2) / 3
      val ni = sortedIntersectAtLeast(ga, gb, needed)
      if (ni >= 0) {
        val d1 = math.min(ida, idb)
        val d2 = math.max(ida, idb)
        out += new GenericInternalRow(
          Array[Any](d1, d2, ni.toLong, (na + nb - ni).toLong))
      }
    }
  }
}
