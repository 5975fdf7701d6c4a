package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the text/vector hot paths.
  *
  * The declarative higher-order-function formulations (transform/aggregate/
  * zip_with) are CodegenFallback and re-evaluate captured expressions per
  * array element in interpreted mode — fine for correctness, ~100× too slow
  * for the dedup/ANN operators at scale. Each kernel here is a single
  * codegen'd expression backed by a tight static JVM loop; the declarative
  * shapes remain in Dedup/Similarity scaladoc as the semantic reference.
  *
  * Hashing: splitmix64 over token bytes — deterministic, seed-free,
  * engine-internal (these feed rows-only operators, never the DuckDB
  * oracle).
  */
object TextVectorKernels {

  @inline final def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The Java-regex `\s` set — the SAME whitespace definition the
    * declarative reference formulations use (`split(text, "\\s+")` in
    * TextOps/SQL oracles). Character.isWhitespace would additionally split
    * on U+2028/U+0085/U+1680 etc., silently diverging kernel token
    * positions from the declarative ones on scraped web text.
    */
  @inline final def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Locale-independent lowercase: a tr-locale JVM lowercases 'I' to a
    * dotless 'ı', which would make every hash-derived signature differ
    * across executors with different default locales — the kernels'
    * determinism contract forbids any environment dependence.
    */
  @inline final def lower(text: UTF8String): String =
    text.toString.toLowerCase(java.util.Locale.ROOT)

  /** Whitespace-token hashes of the lowercased text. */
  def tokenHashes(text: UTF8String): Array[Long] = {
    val s = lower(text)
    val out = new scala.collection.mutable.ArrayBuffer[Long](32)
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var h = 0xCBF29CE484222325L
        while (i < n && !isWs(s.charAt(i))) {
          h = (h ^ s.charAt(i)) * 0x100000001B3L
          i += 1
        }
        out += mix64(h)
      }
    }
    out.toArray
  }

  /** Distinct rolling word-n-gram shingle hashes (polynomial combine of n
    * consecutive token hashes). Fewer than n tokens → one shingle of all.
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val h = tokenHashes(text)
    val set = new java.util.LinkedHashSet[java.lang.Long]()
    if (h.length == 0) {
      set.add(mix64(0L))
    } else if (h.length < n) {
      var acc = 1125899906842597L
      var i = 0
      while (i < h.length) { acc = acc * 31 + h(i); i += 1 }
      set.add(mix64(acc))
    } else {
      var i = 0
      while (i <= h.length - n) {
        var acc = 1125899906842597L
        var j = 0
        while (j < n) { acc = acc * 31 + h(i + j); j += 1 }
        set.add(mix64(acc))
        i += 1
      }
    }
    val arr = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  /** k-permutation MinHash signature over precomputed shingle hashes. */
  def minhashSignature(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val seed = mix64(i + 0x51L)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = mix64(shingles.getLong(j) ^ seed)
        if (v < best) best = v
        j += 1
      }
      sig(i) = best
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash: per-bit majority vote of token hashes. */
  def simhash64(text: UTF8String): Long = {
    val hs = tokenHashes(text)
    val counts = new Array[Int](64)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  private def toDoubles(a: ArrayData, isFloat: Boolean): Array[Double] =
    if (isFloat) a.toFloatArray().map(_.toDouble) else a.toDoubleArray()

  /** Dot product of two numeric arrays (float or double elements). */
  def vecDot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val x = toDoubles(a, aFloat)
    val y = toDoubles(b, bFloat)
    val n = math.min(x.length, y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** Positions at which two MinHash signatures agree — the numerator of
    * the unbiased Jaccard estimate. Ragged inputs compare the common
    * prefix (signatures from the same pipeline are always equal-length).
    */
  def sigAgreement(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) { if (a.getLong(i) == b.getLong(i)) c += 1; i += 1 }
    c
  }

  /** Sign-bit pack of a numeric vector: bit i set iff v(i) > 0 (zero and
    * negative both clear — the deterministic tie rule), 64 components per
    * long, little-endian within the word. The 1-bit quantization under
    * Hamming-distance ANN ([[graft.operators.Similarity.hammingTopK]]):
    * a 64-d float vector (256 B) becomes one long (8 B), a 32× scan-size
    * reduction with sign-cosine as the distance proxy.
    */
  def signPack(a: ArrayData, isFloat: Boolean): ArrayData = {
    val x = toDoubles(a, isFloat)
    val out = new Array[Long]((x.length + 63) >>> 6)
    var i = 0
    while (i < x.length) {
      if (x(i) > 0.0) out(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hamming distance between two sign-packed vectors: popcount of the
    * XOR, summed over words. Ragged inputs compare the common prefix
    * (packs from the same pipeline are always equal-length).
    */
  def hammingDist(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      c += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    c
  }

  /** Cosine of `x` against every centroid (shared by the fixed and
    * adaptive probe selections — one definition, no drift).
    */
  private def centroidSims(x: Array[Double], centroids: Array[Array[Double]],
      cnorms: Array[Double]): Array[Double] = {
    var xn = 0.0
    var xi = 0
    while (xi < x.length) { xn += x(xi) * x(xi); xi += 1 }
    xn = math.sqrt(xn)
    val k = centroids.length
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = centroids(c)
      var s = 0.0
      val n = math.min(x.length, cv.length)
      var i = 0
      while (i < n) { s += x(i) * cv(i); i += 1 }
      val denom = xn * cnorms(c)
      sims(c) = if (denom == 0.0) 0.0 else s / denom
      c += 1
    }
    sims
  }

  /** Allocation-free descending-cosine selection (ties → lower id) of up to
    * `max` centroid indices; stops early once `stop(sel, sims(best))` says
    * so. Returns 1-based ids.
    */
  private def selectProbes(sims: Array[Double], max: Int,
      stop: (Int, Double) => Boolean): ArrayData = {
    val k = sims.length
    val m = math.min(max, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var sel = 0
    var done = false
    while (sel < m && !done) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < k) {
        if (!taken(i) && sims(i) > bestSim) { best = i; bestSim = sims(i) }
        i += 1
      }
      if (best < 0) {
        // all remaining sims are NaN (NaN-poisoned vector): fall back to the
        // lowest untaken id instead of crashing the task
        var j = 0
        while (best < 0 && j < k) { if (!taken(j)) best = j; j += 1 }
        bestSim = Double.NegativeInfinity
      }
      if (stop(sel, bestSim)) done = true
      else {
        taken(best) = true
        out(sel) = best + 1
        sel += 1
      }
    }
    if (sel == m) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, sel))
  }

  /** Nearest-`nprobe` centroid ids by cosine, descending (ties → lower id).
    * Returns 1-based ids matching the IVF index's `cid` column.
    */
  def nearestCentroids(v: ArrayData, centroids: Array[Array[Double]],
      cnorms: Array[Double], nprobe: Int, isFloat: Boolean): ArrayData =
    selectProbes(centroidSims(toDoubles(v, isFloat), centroids, cnorms),
      nprobe, (_, _) => false)

  /** Margin-routed probe list: always the `minProbe` nearest lists; keep
    * taking lists (cosine-descending) while the gap to the BEST list's
    * cosine is ≤ `margin`, up to `maxProbe`. A query that lands squarely in
    * one Voronoi cell probes `minProbe` lists; a query near a cell boundary
    * (small top-2 gap — exactly where fixed-nprobe recall dies) fans out to
    * every plausibly-owning list. Per-query scan cost becomes proportional
    * to routing ambiguity instead of a global worst-case knob.
    */
  def adaptiveNearestCentroids(v: ArrayData, centroids: Array[Array[Double]],
      cnorms: Array[Double], minProbe: Int, maxProbe: Int, margin: Double,
      isFloat: Boolean): ArrayData = {
    val sims = centroidSims(toDoubles(v, isFloat), centroids, cnorms)
    var best = Double.NegativeInfinity
    var i = 0
    while (i < sims.length) { if (sims(i) > best) best = sims(i); i += 1 }
    val floor = best - margin
    selectProbes(sims, maxProbe,
      (sel, sim) => sel >= minProbe && !(sim >= floor))
  }

  /** Sign-bit bucket under `planes` deterministic pseudo-random hyperplanes
    * (component for (plane p, dim d) = mix64(p*1315423911 + d) scaled to
    * [-1, 1)).
    */
  def hyperplaneBucket(v: ArrayData, planes: Int, isFloat: Boolean): Long = {
    val x = toDoubles(v, isFloat)
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var d = 0
      while (d < x.length) {
        proj += x(d) * (mix64(p.toLong * 1315423911L + d).toDouble / Long.MaxValue.toDouble)
        d += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Positional shingle hashes: hash of the word-n-gram STARTING at each
    * token position, in order, no dedup — array index IS the token
    * position, which is what duplicated-span detection needs (the set
    * variant [[shingleHashes]] serves Jaccard/MinHash). Docs shorter than
    * n tokens return an empty array: they cannot contain an n-token span.
    */
  def shingleHashSeq(text: UTF8String, n: Int): ArrayData = {
    val h = tokenHashes(text)
    if (h.length < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](h.length - n + 1)
    var i = 0
    while (i <= h.length - n) {
      var acc = 1125899906842597L
      var j = 0
      while (j < n) { acc = acc * 31 + h(i + j); j += 1 }
      out(i) = mix64(acc)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The verbatim (whitespace-normalized, lowercased) word-`n`-gram at
    * token position `pos` — the text counterpart of one
    * [[shingleHashSeq]] window, tokenized identically, so (hash, gram)
    * pairs key hash-collision checks. Tokens are joined with a single
    * space: two texts whose windows hash equal (per-token hashes see no
    * inter-token whitespace) canonicalize to the same gram. Null when the
    * text has fewer than `pos + n` tokens.
    */
  def tokenGramAt(text: UTF8String, n: Int, pos: Int): UTF8String = {
    if (pos < 0 || n < 1) return null
    val s = lower(text)
    val len = s.length
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    var tok = 0
    var got = 0
    while (i < len && got < n) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val st = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        if (tok >= pos) {
          if (got > 0) sb.append(' ')
          sb.append(s, st, i)
          got += 1
        }
        tok += 1
      }
    }
    if (got < n) null else UTF8String.fromString(sb.toString)
  }

  // PII token shapes (public, standard corpus-cleaning patterns). Order
  // of application matters and is fixed: EMAIL → SSN → IP → PHONE, each
  // stage scanning the previous stage's redacted text, so counts and
  // redaction can never disagree (an IP inside an already-redacted email
  // is not double-counted). Phones require separators (3-3-4 with
  // space/dot/dash, optional +CC / (area)) — bare 10-digit runs stay, to
  // keep ids/quantities out of the match set. All classes are ASCII, so
  // Java regex and any SQL re-implementation agree byte-for-byte.
  private val PiiEmail = java.util.regex.Pattern.compile(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
  private val PiiSsn = java.util.regex.Pattern.compile(
    "(?<!\\d)\\d{3}-\\d{2}-\\d{4}(?!\\d)")
  private val PiiIp = java.util.regex.Pattern.compile(
    "(?<![\\d.])(?:\\d{1,3}\\.){3}\\d{1,3}(?![\\d.])")
  private val PiiPhone = java.util.regex.Pattern.compile(
    "(?<![\\d(])(?:\\+\\d{1,2}[ .-])?(?:\\(\\d{3}\\)[ .-]?|\\d{3}[ .-])\\d{3}[ .-]\\d{4}(?!\\d)")

  /** Single-pass PII scan: (n_email, n_phone, n_ip, n_ssn, redacted). */
  def piiScan(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    var s = text.toString
    var nEmail = 0; var nPhone = 0; var nIp = 0; var nSsn = 0
    def pass(p: java.util.regex.Pattern, token: String): Int = {
      val m = p.matcher(s)
      var cnt = 0
      if (m.find()) {
        val sb = new java.lang.StringBuilder(s.length)
        do { cnt += 1; m.appendReplacement(sb, token) } while (m.find())
        m.appendTail(sb)
        s = sb.toString
      }
      cnt
    }
    nEmail = pass(PiiEmail, "<EMAIL>")
    nSsn = pass(PiiSsn, "<SSN>")
    nIp = pass(PiiIp, "<IP>")
    nPhone = pass(PiiPhone, "<PHONE>")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nEmail, nPhone, nIp, nSsn, UTF8String.fromString(s)))
  }

  /** Product-quantization encode: argmin-L2 codeword per subspace (ties →
    * lower codeword id). `codebooks` is the flattened (m·k)×subDim matrix,
    * sub s's codewords at rows s·k … s·k+k-1. Returns m codeword ids.
    */
  def pqEncode(v: ArrayData, codebooks: Array[Array[Double]], m: Int, k: Int,
      isFloat: Boolean): ArrayData = {
    val x = toDoubles(v, isFloat)
    val subDim = codebooks(0).length
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        val cw = codebooks(s * k + j)
        var dist = 0.0
        var d = 0
        while (d < subDim) {
          val diff = (if (off + d < x.length) x(off + d) else 0.0) - cw(d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = j }
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  /** SQ8 scalar quantization (the FAISS SQ8 layout): per-dimension
    * affine codes `c_i = clamp(round((x_i − min_i) / scale_i), 0, 255)`,
    * `scale_i = (max_i − min_i) / 255`. A constant dimension
    * (`scale ≤ 0`) codes 0 and dequantizes to its min — exact. 4 bytes →
    * 1 byte per dimension with no training loop (the quantization step
    * between full-precision brute force and PQ's codebook compression).
    */
  def sq8Encode(v: ArrayData, mins: Array[Double], scales: Array[Double],
      isFloat: Boolean): ArrayData = {
    val x = toDoubles(v, isFloat)
    val n = mins.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val xi = if (i < x.length) x(i) else 0.0
      val c = if (scales(i) <= 0) 0 else {
        val r = Math.round((xi - mins(i)) / scales(i)).toInt
        if (r < 0) 0 else if (r > 255) 255 else r
      }
      out(i) = c
      i += 1
    }
    new GenericArrayData(out)
  }

  /** ⟨query, dequantized SQ8 codes⟩ — fixed-order sum, deterministic at
    * any parallelism.
    */
  def sq8Dot(q: ArrayData, codes: ArrayData, mins: Array[Double],
      scales: Array[Double], qIsFloat: Boolean): Double = {
    val x = toDoubles(q, qIsFloat)
    val n = math.min(codes.numElements(), mins.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val qi = if (i < x.length) x(i) else 0.0
      acc += qi * (mins(i) + codes.getInt(i) * scales(i))
      i += 1
    }
    acc
  }

  /** ‖dequantized SQ8 codes‖₂ — stored at encode time so cosine needs no
    * second pass over the corpus.
    */
  def sq8Norm(codes: ArrayData, mins: Array[Double],
      scales: Array[Double]): Double = {
    val n = math.min(codes.numElements(), mins.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val dq = mins(i) + codes.getInt(i) * scales(i)
      acc += dq * dq
      i += 1
    }
    math.sqrt(acc)
  }

  /** Asymmetric-distance lookup table for one query: lut[s·k + j] =
    * ⟨query subvector s, codeword j of sub s⟩ — m·k inner products, after
    * which every candidate scores in m table lookups ([[pqAdc]]).
    */
  def pqLut(q: ArrayData, codebooks: Array[Array[Double]], m: Int, k: Int,
      isFloat: Boolean): ArrayData = {
    val x = toDoubles(q, isFloat)
    val subDim = codebooks(0).length
    val out = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var j = 0
      while (j < k) {
        val cw = codebooks(s * k + j)
        var dot = 0.0
        var d = 0
        while (d < subDim) {
          dot += (if (off + d < x.length) x(off + d) else 0.0) * cw(d)
          d += 1
        }
        out(s * k + j) = dot
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** One-pass repetition/boilerplate profile of a document — the
    * Gopher-rules repetition signals (Rae et al. 2021, "Scaling Language
    * Models", table A1; also the C4 boilerplate heuristics family):
    * machine-generated and template text shows up as repeated lines and
    * repeated word n-grams long before any semantic filter sees it.
    *
    * Definitions (all deterministic, all coverage-based so every fraction
    * is in [0, 1] even with overlapping n-grams):
    *  - lines = '\n'-split, trimmed, blanks dropped; a line is DUPLICATE
    *    if byte-identical to an earlier line. `dup_line_frac` = duplicate
    *    lines / lines; `dup_line_char_frac` = their chars / all line chars.
    *  - tokens = lowercased whitespace tokens. `top_2gram_char_frac` =
    *    chars of token positions covered by the most frequent word 2-gram
    *    among those occurring MORE THAN ONCE (ties → lexicographically
    *    smallest; 0 when no 2-gram repeats — a count-1 "top" gram is
    *    arbitrary noise on short docs, not a repetition signal) / total
    *    token chars. `dup_5gram_char_frac` = chars of positions covered
    *    by ANY word 5-gram occurring more than once / total token chars.
    */
  def repetitionStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val lines = s.split("\n").map(_.trim).filter(_.nonEmpty)
    val seenLines = new java.util.HashSet[String]()
    var dupLines = 0
    var dupLineChars = 0L
    var lineChars = 0L
    var li = 0
    while (li < lines.length) {
      val ln = lines(li)
      lineChars += ln.length
      if (!seenLines.add(ln)) { dupLines += 1; dupLineChars += ln.length }
      li += 1
    }
    val nLines = lines.length
    val dupLineFrac = if (nLines == 0) 0.0 else dupLines.toDouble / nLines
    val dupLineCharFrac = if (lineChars == 0) 0.0 else dupLineChars.toDouble / lineChars

    val toks = s.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    var tokChars = 0L
    var ti = 0
    while (ti < toks.length) { tokChars += toks(ti).length; ti += 1 }

    // coverage of token positions by qualifying n-grams; the two callers
    // differ only in which grams qualify (the single most frequent one vs
    // every gram seen more than once)
    def gramCoverage(n: Int, topOnly: Boolean): Double = {
      if (toks.length < n || tokChars == 0) return 0.0
      val nGrams = toks.length - n + 1
      val counts = new java.util.HashMap[String, Integer]()
      val keys = new Array[String](nGrams)
      var i = 0
      while (i < nGrams) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val key = sb.toString
        keys(i) = key
        counts.merge(key, 1, (a: Integer, b: Integer) => a + b)
        i += 1
      }
      var topKey: String = null
      if (topOnly) {
        var topCnt = 1 // only repeated grams qualify — see scaladoc
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue > topCnt ||
              (e.getValue == topCnt && topKey != null && e.getKey.compareTo(topKey) < 0)) {
            topCnt = e.getValue
            topKey = e.getKey
          }
        }
      }
      val covered = new Array[Boolean](toks.length)
      i = 0
      while (i < nGrams) {
        val q = if (topOnly) topKey != null && keys(i) == topKey
                else counts.get(keys(i)) > 1
        if (q) { var j = 0; while (j < n) { covered(i + j) = true; j += 1 } }
        i += 1
      }
      var cov = 0L
      i = 0
      while (i < toks.length) { if (covered(i)) cov += toks(i).length; i += 1 }
      cov.toDouble / tokChars
    }

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nLines, dupLineFrac, dupLineCharFrac,
        gramCoverage(2, topOnly = true), gramCoverage(5, topOnly = false)))
  }

  /** Viterbi segmentation of one pre-token under a unigram piece LM
    * (Kudo 2018): best[i] = max over piece lengths l of best[i-l] +
    * logprob(word[i-l, i)), single characters falling back to `floor`
    * when absent from the vocab so EVERY word segments (coverage — no
    * dead ends, `back(i)` is always set because l = 1 always scores).
    * Deterministic tie-break: lengths scan ascending with `>=`, so at an
    * exact score tie the longer ending piece wins (fewer pieces).
    * O(len × maxLen) per word; runs once per DISTINCT word in training
    * (the word-frequency-table contract), not per occurrence.
    */
  def unigramViterbi(word: UTF8String,
      vocab: java.util.HashMap[String, java.lang.Double],
      maxLen: Int, floor: Double): ArrayData = {
    val w = word.toString
    val n = w.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    java.util.Arrays.fill(best, Double.NegativeInfinity)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      val lmax = if (maxLen < i) maxLen else i
      var l = 1
      while (l <= lmax) {
        val lp = vocab.get(w.substring(i - l, i))
        val score =
          if (lp != null) lp.doubleValue()
          else if (l == 1) floor
          else Double.NegativeInfinity
        if (score != Double.NegativeInfinity &&
            best(i - l) != Double.NegativeInfinity) {
          val cand = best(i - l) + score
          if (cand >= best(i)) { best(i) = cand; back(i) = l }
        }
        l += 1
      }
      i += 1
    }
    var count = 0
    var p = n
    while (p > 0) { count += 1; p -= back(p) }
    val out = new Array[Any](count)
    p = n
    var j = count - 1
    while (p > 0) {
      val l = back(p)
      out(j) = UTF8String.fromString(w.substring(p - l, p))
      j -= 1; p -= l
    }
    new GenericArrayData(out)
  }

  /** Approximate inner product from PQ codes + a query's LUT: fixed-order
    * sum of m lookups — deterministic at any parallelism.
    */
  def pqAdc(codes: ArrayData, lut: ArrayData, k: Int): Double = {
    var acc = 0.0
    var s = 0
    val m = codes.numElements()
    while (s < m) {
      val code = codes.getInt(s)
      val idx = s * k + code
      // all three bounds: pq_adc is SQL-callable with arbitrary arrays — a
      // negative code would read off the front of the LUT, and a code in
      // [k, 2k) would silently read the NEXT subspace's LUT slot (a wrong
      // term, not a skip) without the code < k check
      if (code >= 0 && code < k && idx < lut.numElements()) acc += lut.getDouble(idx)
      s += 1
    }
    acc
  }

  /** Hashed bag-of-features ids of the fastText-style linear classifier
    * (Joulin et al. 2016 "Bag of Tricks"): for the lowercased whitespace
    * tokens, one feature per UNIGRAM occurrence plus one per adjacent
    * BIGRAM occurrence, each hashed into [0, dim). Emission order is
    * token order (uni_0, uni_1, bi_01, uni_2, bi_12, …): a fixed
    * enumeration shared by the training explode and the scoring kernel,
    * so train and inference can never disagree on the feature map.
    * Unigram id = FNV-1a(token) mod dim; bigram id mixes the two token
    * hashes (h1·1000003 ⊕ h2) — pure functions of the text, no RNG, no
    * vocabulary state. Empty/whitespace-only text → empty array.
    */
  def hashedBowIds(text: UTF8String, dim: Int): ArrayData = {
    val h = tokenHashes(text)
    if (h.length == 0) return new GenericArrayData(Array.emptyIntArray)
    val out = new Array[Int](2 * h.length - 1)
    var i = 0
    var o = 0
    while (i < h.length) {
      out(o) = (((h(i) % dim) + dim) % dim).toInt
      o += 1
      if (i > 0) {
        val hb = h(i - 1) * 1000003L ^ h(i)
        out(o) = (((hb % dim) + dim) % dim).toInt
        o += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Mean feature weight under a frozen weight vector — the map-only
    * inference half of the hashed-bow classifier: margin =
    * Σ_f w[id_f] / n_features over exactly the [[hashedBowIds]]
    * enumeration (occurrence-counted). Single fixed-order per-row loop:
    * deterministic at any parallelism, zero shuffles. 0.0 for textless
    * rows (the caller's bias then decides). dim = weights.length.
    */
  def hashedBowMargin(text: UTF8String, weights: Array[Double]): Double = {
    val ids = hashedBowIds(text, weights.length)
    val n = ids.numElements()
    if (n == 0) return 0.0
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += weights(ids.getInt(i))
      i += 1
    }
    acc / n
  }

  /** L2-normalized hashed term-frequency embedding — the in-engine
    * "text → dense vector" bridge: occurrence counts over exactly the
    * [[hashedBowIds]] unigram+bigram feature enumeration, accumulated
    * into a dim-length dense vector and L2-normalized, so a text corpus
    * with NO external embedding model can still ride the full ANN stack
    * (index build, top-k search, near-dup linkage). Near-identical
    * texts share almost all hashed features → cosine near 1; textless
    * rows emit the zero vector (cosine 0 against everything — never a
    * spurious neighbor). Pure function of the text: no RNG, no
    * vocabulary state, bit-deterministic at any parallelism.
    */
  def hashedTfVec(text: UTF8String, dim: Int): ArrayData = {
    val ids = hashedBowIds(text, dim)
    val counts = new Array[Double](dim)
    val n = ids.numElements()
    var i = 0
    while (i < n) { counts(ids.getInt(i)) += 1.0; i += 1 }
    var ss = 0.0
    i = 0
    while (i < dim) { ss += counts(i) * counts(i); i += 1 }
    if (ss > 0) {
      val inv = 1.0 / math.sqrt(ss)
      i = 0
      while (i < dim) { counts(i) *= inv; i += 1 }
    }
    new GenericArrayData(counts)
  }

  /** WordPiece MaxMatch: greedy longest-match-first segmentation of one
    * pre-token against a frozen vocabulary (word-initial pieces bare,
    * continuation pieces "##"-prefixed), `["[UNK]"]` when some position
    * matches no piece — the BERT encoding contract. Fixed per-row loop,
    * vocabulary probed through a prebuilt hash set: deterministic at
    * any parallelism, zero shuffles.
    */
  def wordpieceEncode(word: UTF8String, vocab: java.util.HashSet[String],
      maxPieceLen: Int): ArrayData = {
    val s = word.toString
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var pos = 0
    while (pos < s.length) {
      var end = math.min(s.length, pos + maxPieceLen)
      var found: String = null
      while (found == null && end > pos) {
        val sub = s.substring(pos, end)
        val cand = if (pos == 0) sub else "##" + sub
        if (vocab.contains(cand)) found = cand else end -= 1
      }
      if (found == null)
        return new GenericArrayData(Array[Any](UTF8String.fromString("[UNK]")))
      out += UTF8String.fromString(found)
      pos = end
    }
    new GenericArrayData(out.toArray)
  }

  /** One greedy left-to-right pass applying a batch of symbol-disjoint
    * tokenizer merges to a symbol array — the shared re-segmentation
    * step of BPE ([[graft.operators.Bpe.train]]) and WordPiece
    * ([[graft.operators.WordPiece.train]]) training rounds. Whenever
    * (last output symbol, next symbol) is one of the batch pairs
    * (`pairKeys` holds them NUL-joined), the last output symbol is
    * replaced by the fusion: plain concatenation for BPE;
    * `left + right-minus-its-"##"` when `wordpieceFusion` (the right
    * side of an adjacent pair is always a continuation symbol by the
    * training invariant). Bit-equal to the Catalyst-HOF fold both
    * trainers used through round 11 (parity-pinned in
    * ExtensionPropertiesSpec) — but a HOF lambda evaluates INTERPRETED
    * per element (the round-11 negative result in BASELINE.md), and
    * this pass runs every training round over the word table, so the
    * fold is now a codegen'd kernel like every other hot loop.
    */
  def mergeFold(syms: ArrayData, pairKeys: java.util.HashSet[String],
      wordpieceFusion: Boolean): ArrayData = {
    val n = syms.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      val x = syms.getUTF8String(i).toString
      val last =
        if (out.isEmpty) null
        else out(out.length - 1).asInstanceOf[UTF8String].toString
      if (last != null && pairKeys.contains(last + "\u0000" + x)) {
        // the WordPiece strip mirrors the HOF's substring(x, 3): the
        // first two chars go unconditionally (the matched right side is
        // always "##"-prefixed by construction)
        val fused =
          if (wordpieceFusion) last + x.substring(math.min(2, x.length))
          else last + x
        out(out.length - 1) = UTF8String.fromString(fused)
      } else out += UTF8String.fromString(x)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Multi-class mean feature weights under a frozen ROW-MAJOR weight
    * matrix (`weights.length = nClasses * dim`): one margin per class
    * over the SAME [[hashedBowIds]] enumeration, ids hashed once and
    * reused across classes. Fixed per-row loop order → deterministic at
    * any parallelism, zero shuffles — the softmax scorer's map-only
    * inference half. All-zero margins for textless rows (the caller's
    * per-class bias then decides the argmax).
    */
  def hashedBowMargins(text: UTF8String, weights: Array[Double],
      nClasses: Int): ArrayData = {
    val dim = weights.length / nClasses
    val out = new Array[Double](nClasses)
    val ids = hashedBowIds(text, dim)
    val n = ids.numElements()
    if (n == 0) return new GenericArrayData(out)
    var c = 0
    while (c < nClasses) {
      val off = c * dim
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += weights(off + ids.getInt(i))
        i += 1
      }
      out(c) = acc / n
      c += 1
    }
    new GenericArrayData(out)
  }
}

/** array<long> shingle hashes of text (word n-grams). SQL: shingle_hashes(text, n). */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.shingleHashes(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextVectorKernels.shingleHashes($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes"
}

/** array<long> k-permutation MinHash signature of an array<long> shingle set. */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"minhash_signature requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.minhashSignature(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextVectorKernels.minhashSignature($c, $k);")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

/** 64-bit SimHash of text. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"simhash64 requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextVectorKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Dot product of two numeric array columns. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _                                                  => false
  }
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires ARRAY<FLOAT|DOUBLE>, got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def nullSafeEval(a: Any, b: Any): Any =
    TextVectorKernels.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextVectorKernels.vecDot($a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** Count of agreeing positions between two MinHash signatures
  * (ARRAY<BIGINT>). Replaces the `aggregate(zip_with(...))` HOF
  * formulation, which is CodegenFallback and re-evaluates captured
  * expressions per element — the exact pathology BASELINE.md measured at
  * ~100× on the shingle path; on a dup-heavy corpus this runs per
  * candidate pair, i.e. billions of times at 100 TB.
  */
case class SigAgreement(left: Expression, right: Expression) extends BinaryExpression {
  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sig_agreement requires ARRAY<BIGINT>, got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def nullSafeEval(a: Any, b: Any): Any =
    TextVectorKernels.sigAgreement(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextVectorKernels.sigAgreement($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgreement =
    copy(left = l, right = r)
  override def prettyName: String = "sig_agreement"
}

/** Sign-bit pack of a numeric array column → ARRAY<BIGINT>
  * ([[TextVectorKernels.signPack]]).
  */
case class SignPackExpr(child: Expression) extends UnaryExpression {
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"sign_pack requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.signPack(input.asInstanceOf[ArrayData], elemIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextVectorKernels.signPack($c, $elemIsFloat)")
  override protected def withNewChildInternal(newChild: Expression): SignPackExpr =
    copy(child = newChild)
  override def prettyName: String = "sign_pack"
}

/** Hamming distance between two sign-packed vectors (ARRAY<BIGINT>) —
  * the hot inner op of binary-quantized ANN, codegen'd popcount-of-XOR
  * rather than an interpreted `aggregate(zip_with(...))` HOF (the
  * BASELINE.md pathology class).
  */
case class HammingDistExpr(left: Expression, right: Expression) extends BinaryExpression {
  private def okType(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _                      => false
  }
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left) && okType(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_dist requires ARRAY<BIGINT>, got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def nullSafeEval(a: Any, b: Any): Any =
    TextVectorKernels.hammingDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextVectorKernels.hammingDist($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HammingDistExpr =
    copy(left = l, right = r)
  override def prettyName: String = "hamming_dist"
}

/** Hyperplane-LSH sign bucket of a numeric array column. */
case class HyperplaneBucketExpr(child: Expression, planes: Int) extends UnaryExpression {
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"hyperplane_bucket requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.hyperplaneBucket(input.asInstanceOf[ArrayData], planes, elemIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextVectorKernels.hyperplaneBucket($c, $planes, $elemIsFloat)")
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_bucket"
}

/** Nearest-centroid ids (cosine, descending) of a vector against a centroid
  * matrix EMBEDDED in the expression — the broadcast-model-scoring shape:
  * assignment to a coarse quantizer must be a map-only pass at scale, never
  * a crossJoin + window per row. Centroid norms are precomputed at
  * construction.
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
    nprobe: Int) extends UnaryExpression {
  @transient private lazy val cnorms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"nearest_centroids requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.nearestCentroids(input.asInstanceOf[ArrayData],
      centroids, cnorms, nprobe, elemIsFloat)
  // codegen would need the matrix as a generated static field; the
  // interpreted path is already a tight loop per row, so fall back.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroidsExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroids"
}

/** Margin-routed probe list ([[TextVectorKernels.adaptiveNearestCentroids]]):
  * variable-length array of 1-based centroid ids — `minProbe` always, up to
  * `maxProbe` while within `margin` cosine of the best list.
  */
case class AdaptiveNearestCentroids(child: Expression,
    centroids: Array[Array[Double]], minProbe: Int, maxProbe: Int,
    margin: Double) extends UnaryExpression {
  @transient private lazy val cnorms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"adaptive_nearest_centroids requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.adaptiveNearestCentroids(input.asInstanceOf[ArrayData],
      centroids, cnorms, minProbe, maxProbe, margin, elemIsFloat)
  // same fallback rationale as NearestCentroids: the matrix would need a
  // generated static field; the interpreted loop is already tight.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adaptiveNearestCentroidsExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): AdaptiveNearestCentroids =
    copy(child = newChild)
  override def prettyName: String = "adaptive_nearest_centroids"
}

/** Positional word-n-gram hashes of text (index = token position). */
case class ShingleHashSeq(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"shingle_hash_seq requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.shingleHashSeq(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextVectorKernels.shingleHashSeq($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashSeq =
    copy(child = newChild)
  override def prettyName: String = "shingle_hash_seq"
}

/** Hashed unigram+bigram feature ids ([[TextVectorKernels.hashedBowIds]]).
  * SQL: hashed_bow_ids(text, dim).
  */
case class HashedBowIdsExpr(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && dim >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hashed_bow_ids requires STRING and dim >= 1, got ${child.dataType.catalogString}, dim=$dim")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.hashedBowIds(input.asInstanceOf[UTF8String], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextVectorKernels.hashedBowIds($c, $dim);")
  override protected def withNewChildInternal(newChild: Expression): HashedBowIdsExpr =
    copy(child = newChild)
  override def prettyName: String = "hashed_bow_ids"
}

/** L2-normalized hashed-TF dense embedding
  * ([[TextVectorKernels.hashedTfVec]]). SQL: hashed_tf_vec(text, dim).
  */
case class HashedTfVecExpr(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && dim >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hashed_tf_vec requires STRING and dim >= 1, got ${child.dataType.catalogString}, dim=$dim")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.hashedTfVec(input.asInstanceOf[UTF8String], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextVectorKernels.hashedTfVec($c, $dim);")
  override protected def withNewChildInternal(newChild: Expression): HashedTfVecExpr =
    copy(child = newChild)
  override def prettyName: String = "hashed_tf_vec"
}

/** Frozen-weights mean feature weight ([[TextVectorKernels.hashedBowMargin]]);
  * the weight vector rides the expression (the [[Sq8DotExpr]] pattern).
  * SQL: hashed_bow_margin(text, weights).
  */
case class HashedBowMarginExpr(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && weights.nonEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hashed_bow_margin requires STRING and non-empty weights, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.hashedBowMargin(input.asInstanceOf[UTF8String], weights)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashedBowMarginExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (Double) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): HashedBowMarginExpr =
    copy(child = newChild)
  override def prettyName: String = "hashed_bow_margin"
}

/** Per-class mean feature weights under a frozen row-major weight
  * matrix — the multi-class sibling of [[HashedBowMarginExpr]]; the
  * matrix rides the expression as a codegen reference object, never a
  * join. SQL: hashed_bow_margins(text) via the registered builder.
  */
case class HashedBowMarginsExpr(child: Expression, weights: Array[Double],
    nClasses: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && nClasses >= 2 &&
      weights.length % nClasses == 0 && weights.nonEmpty)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hashed_bow_margins requires STRING and a non-empty row-major " +
        s"(nClasses x dim) weight matrix, got ${child.dataType.catalogString}, " +
        s"len=${weights.length}, nClasses=$nClasses")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.hashedBowMargins(input.asInstanceOf[UTF8String],
      weights, nClasses)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashedBowMarginsExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): HashedBowMarginsExpr =
    copy(child = newChild)
  override def prettyName: String = "hashed_bow_margins"
}

/** WordPiece MaxMatch encoding of one pre-token under a frozen
  * vocabulary riding the expression — see
  * [[TextVectorKernels.wordpieceEncode]]. The hash set and max piece
  * length derive lazily from the vocab array once per executor.
  */
case class WordPieceEncodeExpr(child: Expression, vocab: Array[String])
    extends UnaryExpression {
  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val maxPieceLen: Int =
    vocab.map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && vocab.nonEmpty)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"wordpiece_encode requires STRING and a non-empty vocab, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.wordpieceEncode(input.asInstanceOf[UTF8String],
      vocabSet, maxPieceLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordPieceEncodeExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): WordPieceEncodeExpr =
    copy(child = newChild)
  override def prettyName: String = "wordpiece_encode"
}

/** One batched tokenizer-merge pass over a symbol array under a frozen
  * pair batch riding the expression — see
  * [[TextVectorKernels.mergeFold]]. `pairs` is the batch flattened
  * (l0, r0, l1, r1, …); the join key separator is NUL, which can
  * never appear inside a symbol. SQL: merge_fold(syms, pairs, wordpiece).
  */
case class MergeFoldExpr(child: Expression, pairs: Array[String],
    wordpieceFusion: Boolean) extends UnaryExpression {
  @transient private lazy val pairKeys: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](pairs.length)
    var i = 0
    while (i + 1 < pairs.length) {
      s.add(pairs(i) + "\u0000" + pairs(i + 1))
      i += 2
    }
    s
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(StringType, containsNull = false) ||
      child.dataType == ArrayType(StringType, containsNull = true))
      if (pairs.length % 2 == 0 && pairs.nonEmpty) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"merge_fold requires a non-empty even-length flattened pair array, got ${pairs.length}")
    else TypeCheckResult.TypeCheckFailure(
      s"merge_fold requires ARRAY<STRING>, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.mergeFold(input.asInstanceOf[ArrayData], pairKeys,
      wordpieceFusion)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mergeFoldExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
        s"$ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): MergeFoldExpr =
    copy(child = newChild)
  override def prettyName: String = "merge_fold"
}

/** Verbatim word-n-gram extraction at a token position — see
  * [[TextVectorKernels.tokenGramAt]]. Null (not error) past end-of-text,
  * so codegen handles the nullable result explicitly.
  */
case class TokenGramExpr(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_gram requires (STRING, INT), got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def nullSafeEval(t: Any, p: Any): Any =
    TextVectorKernels.tokenGramAt(t.asInstanceOf[UTF8String], n,
      p.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, p) => s"""
      ${ev.value} = graft.functions.TextVectorKernels.tokenGramAt($t, $n, $p);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TokenGramExpr =
    copy(left = l, right = r)
  override def prettyName: String = "token_gram"
}

/** One-pass PII detect + redact — see [[TextVectorKernels.piiScan]].
  * Struct result so detection counts and the redacted text come out of a
  * single text scan (separate count/redact expressions would scan twice
  * and could drift on overlapping matches).
  */
case class PiiScanExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = PiiScanExpr.schema
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pii_scan requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.piiScan(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextVectorKernels.piiScan($c);")
  override protected def withNewChildInternal(newChild: Expression): PiiScanExpr =
    copy(child = newChild)
  override def prettyName: String = "pii_scan"
}

object PiiScanExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_email", IntegerType, nullable = false),
    StructField("n_phone", IntegerType, nullable = false),
    StructField("n_ip", IntegerType, nullable = false),
    StructField("n_ssn", IntegerType, nullable = false),
    StructField("redacted", StringType, nullable = false)))
}

/** One-pass repetition/boilerplate profile —
  * see [[TextVectorKernels.repetitionStats]]. Struct result so the line
  * and n-gram statistics come out of a single text scan.
  */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = RepetitionStatsExpr.schema
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"repetition_stats requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.repetitionStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextVectorKernels.repetitionStats($c);")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
  override def prettyName: String = "repetition_stats"
}

object RepetitionStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_lines", IntegerType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false),
    StructField("top_2gram_char_frac", DoubleType, nullable = false),
    StructField("dup_5gram_char_frac", DoubleType, nullable = false)))
}

/** PQ codeword assignment of a vector against an embedded flattened
  * codebook matrix — map-only broadcast-model scoring, like
  * [[NearestCentroids]] but argmin-L2 per subspace.
  */
case class PqEncodeExpr(child: Expression, codebooks: Array[Array[Double]],
    m: Int, k: Int) extends UnaryExpression {
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"pq_encode requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.pqEncode(input.asInstanceOf[ArrayData], codebooks, m, k, elemIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncodeExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}

/** SQ8 per-dimension affine quantizer ([[TextVectorKernels.sq8Encode]]);
  * mins/scales ride the expression (the [[NearestCentroids]] pattern).
  */
case class Sq8EncodeExpr(child: Expression, mins: Array[Double],
    scales: Array[Double]) extends UnaryExpression {
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"sq8_encode requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.sq8Encode(input.asInstanceOf[ArrayData], mins, scales, elemIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8EncodeExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Sq8EncodeExpr =
    copy(child = newChild)
  override def prettyName: String = "sq8_encode"
}

/** ⟨query, dequantized codes⟩ ([[TextVectorKernels.sq8Dot]]). */
case class Sq8DotExpr(left: Expression, right: Expression,
    mins: Array[Double], scales: Array[Double]) extends BinaryExpression {
  private def qIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_dot requires (ARRAY<FLOAT|DOUBLE>, ARRAY<INT>), got $other")
  }
  override def nullSafeEval(q: Any, codes: Any): Any =
    TextVectorKernels.sq8Dot(q.asInstanceOf[ArrayData],
      codes.asInstanceOf[ArrayData], mins, scales, qIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8DotExpr", this)
    nullSafeCodeGen(ctx, ev, (q, c) =>
      s"${ev.value} = (Double) $ref.nullSafeEval($q, $c);")
  }
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Sq8DotExpr = copy(left = newLeft, right = newRight)
  override def prettyName: String = "sq8_dot"
}

/** ‖dequantized codes‖ ([[TextVectorKernels.sq8Norm]]). */
case class Sq8NormExpr(child: Expression, mins: Array[Double],
    scales: Array[Double]) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_norm requires ARRAY<INT>, got ${other.catalogString}")
  }
  override def nullSafeEval(codes: Any): Any =
    TextVectorKernels.sq8Norm(codes.asInstanceOf[ArrayData], mins, scales)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sq8NormExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (Double) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Sq8NormExpr =
    copy(child = newChild)
  override def prettyName: String = "sq8_norm"
}

/** Per-query ADC lookup table against an embedded codebook matrix. */
case class PqLutExpr(child: Expression, codebooks: Array[Array[Double]],
    m: Int, k: Int) extends UnaryExpression {
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"pq_lut requires ARRAY<FLOAT|DOUBLE>, got ${other.catalogString}")
  }
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.pqLut(input.asInstanceOf[ArrayData], codebooks, m, k, elemIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLutExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
  override def prettyName: String = "pq_lut"
}

/** Approximate inner product: m LUT lookups per (candidate, query) pair —
  * the PQ hot path, codegen'd like [[SigAgreement]].
  */
/** Unigram-LM Viterbi segmentation of a pre-token
  * ([[TextVectorKernels.unigramViterbi]]). The vocab travels as two
  * parallel foldable array literals (pieces, logprobs) extracted once at
  * expression build — the [[NearestCentroids]] model-shipping pattern —
  * and becomes a hash map lazily per executor.
  */
case class UnigramViterbiExpr(child: Expression, pieces: Array[String],
    logprobs: Array[Double], maxPieceLen: Int, floor: Double)
    extends UnaryExpression {
  require(pieces.length == logprobs.length,
    s"pieces (${pieces.length}) and logprobs (${logprobs.length}) must align")
  @transient private lazy val vocab: java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { m.put(pieces(i), logprobs(i)); i += 1 }
    m
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"unigram_viterbi requires STRING, got ${child.dataType.catalogString}")
  override def nullSafeEval(input: Any): Any =
    TextVectorKernels.unigramViterbi(input.asInstanceOf[UTF8String],
      vocab, maxPieceLen, floor)
  // the vocab map rides the expression object; reference it from
  // generated code instead of inlining (the NearestCentroids rationale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unigramViterbiExpr", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): UnigramViterbiExpr =
    copy(child = newChild)
  override def prettyName: String = "unigram_viterbi"
}

case class PqAdcExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  private def okCodes(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }
  private def okLut(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _                        => false
  }
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (okCodes(left) && okLut(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc requires (ARRAY<INT>, ARRAY<DOUBLE>), got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def nullSafeEval(a: Any, b: Any): Any =
    TextVectorKernels.pqAdc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.TextVectorKernels.pqAdc($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcExpr =
    copy(left = l, right = r)
  override def prettyName: String = "pq_adc"
}

/** Column wrappers for the kernels. Each calls its kernel by name through
  * [[Registry.call]]; int parameters travel as literals and are folded at
  * expression build.
  */
object TextVectorExpressions {
  import Registry.call
  import org.apache.spark.sql.functions.typedlit

  def shingle_hashes(c: Column, n: Int): Column = call("shingle_hashes", c, lit(n))
  def shingle_hash_seq(c: Column, n: Int): Column = call("shingle_hash_seq", c, lit(n))
  def pii_scan(c: Column): Column = call("pii_scan", c)
  def repetition_stats(c: Column): Column = call("repetition_stats", c)
  def token_gram(c: Column, n: Int, pos: Column): Column = call("token_gram", c, lit(n), pos)
  def minhash_signature(c: Column, k: Int): Column = call("minhash_signature", c, lit(k))
  def simhash64(c: Column): Column = call("simhash64", c)
  def vec_dot(a: Column, b: Column): Column = call("vec_dot", a, b)
  def sig_agreement(a: Column, b: Column): Column = call("sig_agreement", a, b)
  def sign_pack(c: Column): Column = call("sign_pack", c)
  def hamming_dist(a: Column, b: Column): Column = call("hamming_dist", a, b)
  def hyperplane_bucket(c: Column, planes: Int): Column =
    call("hyperplane_bucket", c, lit(planes))

  private def matrix(m: Array[Array[Double]]): Column = typedlit(m.map(_.toSeq).toSeq)

  def nearest_centroids(c: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    call("nearest_centroids", c, matrix(centroids), lit(nprobe))

  def adaptive_nearest_centroids(c: Column, centroids: Array[Array[Double]],
      minProbe: Int, maxProbe: Int, margin: Double): Column =
    call("adaptive_nearest_centroids", c, matrix(centroids),
      lit(minProbe), lit(maxProbe), lit(margin))

  def pq_encode(c: Column, codebooks: Array[Array[Double]], m: Int, k: Int): Column =
    call("pq_encode", c, matrix(codebooks), lit(m), lit(k))
  def pq_lut(c: Column, codebooks: Array[Array[Double]], m: Int, k: Int): Column =
    call("pq_lut", c, matrix(codebooks), lit(m), lit(k))
  def pq_adc(codes: Column, lut: Column, k: Int): Column =
    call("pq_adc", codes, lut, lit(k))

  def sq8_encode(c: Column, mins: Array[Double], scales: Array[Double]): Column =
    call("sq8_encode", c, typedlit(mins.toSeq), typedlit(scales.toSeq))
  def sq8_dot(q: Column, codes: Column, mins: Array[Double],
      scales: Array[Double]): Column =
    call("sq8_dot", q, codes, typedlit(mins.toSeq), typedlit(scales.toSeq))
  def sq8_norm(codes: Column, mins: Array[Double],
      scales: Array[Double]): Column =
    call("sq8_norm", codes, typedlit(mins.toSeq), typedlit(scales.toSeq))

  def unigram_viterbi(c: Column, pieces: Array[String],
      logprobs: Array[Double], maxPieceLen: Int, floor: Double): Column =
    call("unigram_viterbi", c, typedlit(pieces.toSeq), typedlit(logprobs.toSeq),
      lit(maxPieceLen), lit(floor))

  def hashed_bow_ids(c: Column, dim: Int): Column = call("hashed_bow_ids", c, lit(dim))
  def hashed_tf_vec(c: Column, dim: Int): Column = call("hashed_tf_vec", c, lit(dim))
  def hashed_bow_margin(c: Column, weights: Array[Double]): Column =
    call("hashed_bow_margin", c, typedlit(weights.toSeq))
  /** Per-class margins under a frozen (nClasses × dim) weight matrix,
    * flattened row-major into the expression.
    */
  def hashed_bow_margins(c: Column, weights: Array[Array[Double]]): Column = {
    // a ragged matrix whose total length happens to divide by nClasses
    // would silently misalign every class's weight row after flattening
    require(weights.nonEmpty && weights.forall(_.length == weights.head.length),
      s"hashed_bow_margins requires a rectangular weight matrix; got row " +
        s"lengths ${weights.map(_.length).distinct.mkString(",")}")
    call("hashed_bow_margins", c, typedlit(weights.flatten.toSeq), lit(weights.length))
  }
  /** MaxMatch WordPiece encoding under a frozen vocabulary. */
  def wordpiece_encode(c: Column, vocab: Array[String]): Column =
    call("wordpiece_encode", c, typedlit(vocab.toSeq))
  /** One batched tokenizer-merge pass (BPE / WordPiece fusion) under a
    * frozen symbol-disjoint pair batch.
    */
  def merge_fold(c: Column, pairs: Seq[(String, String)],
      wordpiece: Boolean): Column =
    call("merge_fold", c, typedlit(pairs.flatMap(p => Seq(p._1, p._2))), lit(wordpiece))
}
