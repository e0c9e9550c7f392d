package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Docs

/** Parity-only twins: the Column-expression formulations the compiled
  * kernels replaced (Docs' shingle, md5 MinHash, SimHash, fingerprint and
  * winnow kernels) and the regex-chain specification of the frozen page
  * extractor. Each is the executable spec its production form is pinned
  * against (TextKernelSpec, PagesSpec); none runs in a query. The HOF
  * forms evaluate interpreted, one boxed value per element per row.
  */
object HofTwins {

  /** Word-shingles of size n from a pre-tokenized array column. The token
    * array MUST be a materialized column reference (not an inline split):
    * expressions referenced inside HOF lambdas are re-evaluated per
    * element, so an inline regex split would turn this O(n) pass into
    * O(n²) splits.
    */
  private def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      filter(
        transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
          i => when(size(toks) >= n, concat_ws(" ", slice(toks, i + 1, lit(n))))),
        s => s.isNotNull))

  /** Twin of Docs.shingles. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(Docs.tokens(text), n)

  /** Twin of Docs.minHashMd5Signature. */
  def minHashMd5Signature(docs: DataFrame, numHashes: Int = 4): DataFrame = {
    val withSh = docs
      .select(col("doc_id"), Docs.tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks"), 3).as("sh"))
    val sigCols = (0 until numHashes).map { i =>
      aggregate(
        transform(col("sh"), s => Docs.md5Long(concat(lit(s"$i|"), s))),
        lit(Long.MaxValue), (acc, v) => least(acc, v)).as(s"mh_$i")
    }
    withSh.select(col("doc_id") +: sigCols: _*)
  }

  /** Twin of Docs.simHash: xxhash64 per token, 64 bits. */
  def simHash(docs: DataFrame): DataFrame =
    simHashOf(docs, xxhash64(_), 64, "simhash")

  /** Twin of Docs.simHashMd5: Docs.md5Long per token, 60 bits. */
  def simHashMd5(docs: DataFrame): DataFrame =
    simHashOf(docs, Docs.md5Long, 60, "simhash_md5")

  /** SimHash over whitespace tokens: per bit, +1/−1 by the token hash's
    * bit, summed over token occurrences; the packed result sets bit b iff
    * its sum is positive.
    */
  private def simHashOf(docs: DataFrame, hash: Column => Column, bits: Int,
                        out: String): DataFrame = {
    val hashes = transform(Docs.tokens(col("text")), hash)
    val bitIdx = sequence(lit(0), lit(bits - 1))
    val counters = aggregate(hashes, array_repeat(lit(0L), bits), (acc, h) =>
      zip_with(acc, bitIdx,
        (a, b) => a + when(call_function("shiftright", h, b.cast("int")).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)))
    val packed = aggregate(
      zip_with(counters, bitIdx,
        (c, b) => when(c > 0, call_function("shiftleft", lit(1L), b.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
    docs.select(col("doc_id"), packed.as(out))
  }

  /** Twin of Docs.fingerprint — ANSI mode makes `acc * 31L` throw on
    * overflow (texts over 12 codepoints), where the kernel wraps.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    charFold(docs, (acc, c) => acc * 31L + c, "fingerprint")

  /** Twin of Docs.fingerprintMod. */
  def fingerprintMod(docs: DataFrame, p: Long = 1000000007L): DataFrame =
    charFold(docs, (acc, c) => pmod(acc * lit(31L) + c, lit(p)), "fingerprint_mod")

  /** Left fold of `step` from 0 over the text's codepoint values. */
  private def charFold(docs: DataFrame, step: (Column, Column) => Column,
                       out: String): DataFrame = {
    val chars = filter(split(col("text"), ""), c => length(c) > 0)
    val poly = aggregate(chars, lit(0L), (acc, c) => step(acc, ascii(c).cast("long")))
    docs.select(col("doc_id"), poly.as(out))
  }

  /** Twin of Docs.winnowSummary. */
  def winnowSummary(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val n = length(col("text"))
    val gramsExpr = when(n >= k,
      transform(sequence(lit(1), n - lit(k - 1)), i =>
        Docs.md5Long(col("text").substr(i, lit(k)))))
      .otherwise(array().cast("array<long>"))
    val withG = docs.select(col("doc_id"), gramsExpr.as("grams"))
    val m = size(col("grams"))
    val fpsExpr = when(m >= w,
      transform(sequence(lit(1), m - lit(w - 1)), j =>
        aggregate(slice(col("grams"), j, lit(w)), lit(Long.MaxValue),
          (acc, v) => least(acc, v))))
      .otherwise(array().cast("array<long>"))
    withG.select(col("doc_id"), fpsExpr.as("fps"))
      .select(col("doc_id"),
        size(array_distinct(col("fps"))).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
  }

  /** The frozen page extractor's specification (Pages.extractText) as a
    * regex chain: UTF-8 decode → drop script/style blocks → strip tags →
    * minimal entity decode → whitespace collapse → trim. The DuckDB oracle
    * evaluates the same chain.
    */
  def extractTextRegex(html: Column): Column = {
    val s  = decode(html, "UTF-8")
    val s1 = regexp_replace(s, "(?s)<script[^>]*>.*?</script>", " ")
    val s2 = regexp_replace(s1, "(?s)<style[^>]*>.*?</style>", " ")
    val s3 = regexp_replace(s2, "<[^>]*>", " ")
    val s4 = regexp_replace(regexp_replace(regexp_replace(s3,
      "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
    trim(regexp_replace(s4, "\\s+", " "))
  }
}
