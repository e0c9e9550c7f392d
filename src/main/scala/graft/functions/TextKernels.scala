package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the hot-path text operators (shingling, Jaccard,
  * md5-MinHash, SimHash, rolling-hash fingerprints, winnowing).
  *
  * Their Column-HOF formulations (parity specs in the test object HofTwins)
  * evaluate interpreted, one boxed value per element per row — the failure
  * mode measured at 4-10× on the cosine path and fixed by [[VecImpl]]. These
  * kernels run the identical tokenize→hash→fold pipelines as tight compiled
  * loops, called directly from generated code (they enter the plan through
  * `ColumnBridge.invoke`, never as a UDF).
  *
  * EXACTNESS CONTRACT — every function here is a bit-identical twin of the
  * Column-expression formulation it replaces (pinned in TextKernelSpec
  * against the HOF twins in graft.HofTwins, and by the DuckDB gate):
  *   - tokens  ≡ Docs.tokens: trim strips 0x20 only (Spark's
  *     StringTrim), then java.util.regex split with limit -1 (Spark's
  *     StringSplit default — KEEPS trailing empty strings);
  *   - md5Long ≡ conv(substring(md5(x), 1, 15), 16, 10): the top 60 bits of
  *     the digest, i.e. big-endian first 8 bytes >>> 4;
  *   - chars   ≡ split(text, "") + ascii(): per-codepoint iteration, value =
  *     the codepoint (Spark 4's ascii() is codepoint-valued — probed: é→233,
  *     😀→128512 — matching DuckDB's ascii());
  *   - substr/length ≡ UTF8String semantics: codepoint-indexed.
  */
object TextImpl {

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Twin of Spark's trim(): strips leading/trailing 0x20 ONLY. */
  private def trimSpaces(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** Twin of Docs.tokens — Pattern.split with limit -1. */
  def tokens(text: UTF8String): Array[String] =
    Ws.split(trimSpaces(text.toString), -1)

  /** Twin of Docs.md5Long: top 60 bits of md5 (first 15 hex chars base-16). */
  def md5Long60(bytes: Array[Byte]): Long = {
    val md = Md5.get()
    val d = md.digest(bytes) // digest() resets the instance
    val be =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    be >>> 4
  }

  /** Distinct n-token shingles in first-occurrence order (twin of
    * HofTwins.shingles in the tests: empty when the doc has < n tokens).
    */
  private def shingleSet(text: UTF8String, n: Int): java.util.LinkedHashSet[String] = {
    val toks = tokens(text)
    val seen = new java.util.LinkedHashSet[String]()
    if (toks.length < n) return seen
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }

  def shingles(text: UTF8String, n: Int): ArrayData = {
    val seen = shingleSet(text, n)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** |A∩B| / |A∪B| over string arrays treated as sets; 0.0 when the union is
    * empty (twin of size(array_intersect)/size(array_union) with the same
    * single int/int double division).
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val sa = new java.util.HashSet[UTF8String](math.max(16, na * 2))
    var i = 0
    while (i < na) { sa.add(a.getUTF8String(i)); i += 1 }
    val sb = new java.util.HashSet[UTF8String](math.max(16, nb * 2))
    var inter = 0
    i = 0
    while (i < nb) {
      val v = b.getUTF8String(i)
      if (sb.add(v) && sa.contains(v)) inter += 1
      i += 1
    }
    val union = sa.size + sb.size - inter
    if (union > 0) inter.toDouble / union.toDouble else 0.0
  }

  /** Twin of Docs.minHashMd5Signature's per-doc fold: signature element i =
    * min over distinct 3-gram shingles of md5Long("i|" ++ shingle),
    * Long.MaxValue sentinel for docs with < 3 tokens.
    */
  def minHashMd5(text: UTF8String, numHashes: Int): ArrayData = {
    val sh = shingleSet(text, 3)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val it = sh.iterator()
    while (it.hasNext) {
      val s = it.next()
      var i = 0
      while (i < numHashes) {
        val v = md5Long60((i.toString + "|" + s).getBytes(StandardCharsets.UTF_8))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Shared SimHash sign-sum → bit-pack fold over per-token hashes. */
  private def simHashPack(hashes: Array[Long], bits: Int): Long = {
    val counters = new Array[Long](bits)
    var t = 0
    while (t < hashes.length) {
      val h = hashes(t)
      var b = 0
      while (b < bits) {
        counters(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
        b += 1
      }
      t += 1
    }
    var packed = 0L
    var b = 0
    while (b < bits) {
      if (counters(b) > 0) packed |= (1L << b)
      b += 1
    }
    packed
  }

  /** Twin of Docs.simHashMd5: per-token-occurrence md5Long (60 bits),
    * ±1 sign sums, positives packed.
    */
  def simHashMd5(text: UTF8String): Long = {
    val toks = tokens(text)
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      hs(i) = md5Long60(toks(i).getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    simHashPack(hs, 60)
  }

  /** Twin of Docs.simHash: per-token xxhash64 (Spark's builtin — XXH64 over
    * UTF-8 bytes, seed 42), 64-bit sign-sum pack.
    */
  def simHashXx(text: UTF8String): Long = {
    val toks = tokens(text)
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(StandardCharsets.UTF_8)
      hs(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      i += 1
    }
    simHashPack(hs, 64)
  }

  /** Twin of Docs.fingerprint: base-31 polynomial over per-codepoint
    * ascii() values (= the codepoint in Spark 4), wrapping Long arithmetic.
    */
  def fingerprintWrap(text: UTF8String): Long = {
    val s = text.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = acc * 31L + cp
      i += Character.charCount(cp)
    }
    acc
  }

  /** Twin of Docs.fingerprintMod: the same fold confined to Z_p with pmod
    * semantics (acc stays in [0, p); acc·31 + c can dip negative only via a
    * negative ascii() on non-ASCII input, where pmod still lands in [0, p)).
    */
  def fingerprintMod(text: UTF8String, p: Long): Long = {
    val s = text.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val v = (acc * 31L + cp) % p
      acc = if (v < 0) v + p else v
      i += Character.charCount(cp)
    }
    acc
  }

  /** Twin of Docs.winnowSummary: md5Long over every k-codepoint gram,
    * w-window minima, (distinct count, min, max) — (0, null, null) when the
    * text is shorter than k + w − 1 codepoints.
    */
  def winnow(text: UTF8String, k: Int, w: Int): InternalRow = {
    val s = text.toString
    val isAscii = {
      var a = true
      var i = 0
      while (a && i < s.length) { if (s.charAt(i) >= 0x80) a = false; i += 1 }
      a
    }
    // codepoint start offsets (identity for the ASCII fast path)
    val offs: Array[Int] =
      if (isAscii) null
      else {
        val buf = new Array[Int](s.codePointCount(0, s.length) + 1)
        var i = 0
        var c = 0
        while (i < s.length) {
          buf(c) = i
          i += Character.charCount(s.codePointAt(i))
          c += 1
        }
        buf(c) = s.length
        buf
      }
    val nChars = if (isAscii) s.length else offs.length - 1
    if (nChars < k) return InternalRow(0L, null, null)
    val m = nChars - k + 1
    val grams = new Array[Long](m)
    var g = 0
    while (g < m) {
      val sub =
        if (isAscii) s.substring(g, g + k)
        else s.substring(offs(g), offs(g + k))
      grams(g) = md5Long60(sub.getBytes(StandardCharsets.UTF_8))
      g += 1
    }
    if (m < w) return InternalRow(0L, null, null)
    val nf = m - w + 1
    val seen = new java.util.HashSet[java.lang.Long](math.max(16, nf * 2))
    var minFp = Long.MaxValue
    var maxFp = Long.MinValue
    var j = 0
    while (j < nf) {
      var mn = grams(j)
      var x = 1
      while (x < w) { if (grams(j + x) < mn) mn = grams(j + x); x += 1 }
      seen.add(mn)
      if (mn < minFp) minFp = mn
      if (mn > maxFp) maxFp = mn
      j += 1
    }
    InternalRow(seen.size.toLong, minFp, maxFp)
  }

  /** Gopher-style within-document repetition statistics over token n-grams
    * (Rae et al. 2021 §A1.1, token-count variant of the character-fraction
    * filters): for n ∈ {2, 5}, the total n-gram count, the count of the
    * most frequent n-gram, and the total count of n-grams that occur more
    * than once. All exact integers — the fraction filters downstream are
    * single int/int IEEE divisions, so the DuckDB twin (unnest → GROUP BY
    * counts) reproduces them bit-identically. Zeros when the doc has fewer
    * than n tokens.
    */
  def repStats(text: UTF8String): InternalRow = {
    val toks = tokens(text)
    val m = toks.length
    def stats(n: Int): (Long, Long, Long) = {
      if (m < n) return (0L, 0L, 0L)
      val total = m - n + 1
      val counts = new java.util.HashMap[String, Integer](math.max(16, total * 2))
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= m) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        val k = sb.toString
        val prev = counts.get(k)
        counts.put(k, if (prev == null) 1 else prev + 1)
        i += 1
      }
      var top = 0L
      var dup = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next().longValue()
        if (c > top) top = c
        if (c > 1) dup += c
      }
      (total.toLong, top, dup)
    }
    val (t2, top2, d2) = stats(2)
    val (t5, top5, d5) = stats(5)
    InternalRow(t2, top2, d2, t5, top5, d5)
  }
}

/** Column-level entry points for the compiled text kernels. */
object Text {
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.graft.ColumnBridge.invoke

  /** text → array<string> of distinct n-token shingles. */
  def shingles(text: Column, n: Int): Column =
    invoke(TextImpl, "shingles", ArrayType(StringType, containsNull = false), text, lit(n))

  /** (array<string>, array<string>) → set Jaccard similarity. */
  def jaccard(a: Column, b: Column): Column =
    invoke(TextImpl, "jaccard", DoubleType, a, b)

  /** text → array<long> md5-permutation MinHash signature. */
  def minHashMd5(text: Column, numHashes: Int): Column =
    invoke(TextImpl, "minHashMd5", ArrayType(LongType, containsNull = false), text, lit(numHashes))

  /** text → 60-bit md5 SimHash. */
  def simHashMd5(text: Column): Column = invoke(TextImpl, "simHashMd5", LongType, text)

  /** text → 64-bit xxhash64 SimHash (the production variant). */
  def simHashXx(text: Column): Column = invoke(TextImpl, "simHashXx", LongType, text)

  /** text → wrapping-Long base-31 rolling fingerprint. */
  def fingerprintWrap(text: Column): Column = invoke(TextImpl, "fingerprintWrap", LongType, text)

  /** text → mod-p base-31 rolling fingerprint (the oracle twin). */
  def fingerprintMod(text: Column, p: Long): Column =
    invoke(TextImpl, "fingerprintMod", LongType, text, lit(p))

  val WinnowSchema: StructType = StructType(Seq(
    StructField("n_fp", LongType, nullable = false),
    StructField("min_fp", LongType, nullable = true),
    StructField("max_fp", LongType, nullable = true)))

  /** text → winnowing fingerprint summary struct (n_fp, min_fp, max_fp). */
  def winnow(text: Column, k: Int, w: Int): Column =
    invoke(TextImpl, "winnow", WinnowSchema, text, lit(k), lit(w))

  val RepStatsSchema: StructType = StructType(Seq(
    StructField("tot2", LongType, nullable = false),
    StructField("top2", LongType, nullable = false),
    StructField("dup2", LongType, nullable = false),
    StructField("tot5", LongType, nullable = false),
    StructField("top5", LongType, nullable = false),
    StructField("dup5", LongType, nullable = false)))

  /** text → (tot2, top2, dup2, tot5, top5, dup5) token n-gram repetition
    * counts (Gopher quality filters).
    */
  def repStats(text: Column): Column = invoke(TextImpl, "repStats", RepStatsSchema, text)
}
