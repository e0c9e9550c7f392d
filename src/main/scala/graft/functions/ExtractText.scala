package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass implementation of the frozen H12 text extractor.
  *
  * Semantics are IDENTICAL to the reference regex chain (and the DuckDB
  * oracle, which still evaluates that chain):
  *   1. UTF-8 decode
  *   2. regexp_replace('(?s)<script[^>]*>.*?</script>', ' ')  (global)
  *   3. regexp_replace('(?s)<style[^>]*>.*?</style>', ' ')
  *   4. regexp_replace('<[^>]*>', ' ')
  *   5. replace &amp;→& then &lt;→< then &gt;→>  (cascading)
  *   6. regexp_replace('\s+', ' ') + trim
  *
  * Implemented as hand-rolled scans (no java.util.regex, no intermediate
  * full copies beyond one builder per structural pass) — ~10× less
  * allocation than six regex passes, which matters because regex+GC was the
  * measured hot path of the pages pipeline. Block passes run in the same
  * order as the regex chain (script before style) so overlapping-block
  * precedence matches exactly.
  */
object ExtractTextImpl {

  /** Remove every `<tagName[^>]*>.*?</tagName>` block (lazy close), in one
    * left-to-right scan; unmatched opens are left untouched (the later tag
    * pass strips the bare tag, as the regex chain does).
    */
  private def stripBlocks(s: String, tagName: String): String = {
    val open = "<" + tagName
    var from = s.indexOf(open)
    if (from < 0) return s
    val close = "</" + tagName + ">"
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (from >= 0) {
      // regex needs '<tag' + [^>]* + '>': find the next '>' after the open
      val gt = s.indexOf('>', from + open.length)
      val closeAt = if (gt < 0) -1 else s.indexOf(close, gt + 1)
      if (gt < 0 || closeAt < 0) {
        // no full block here — not a match for the block regex; skip the
        // literal and keep scanning for a later open
        sb.append(s, i, from + open.length)
        i = from + open.length
      } else {
        sb.append(s, i, from).append(' ')
        i = closeAt + close.length
      }
      from = s.indexOf(open, i)
    }
    sb.append(s, i, s.length)
    sb.toString
  }

  /** `<[^>]*>` → ' ' (global): every '<' up to the next '>' inclusive. */
  private def stripTags(s: String): String = {
    var lt = s.indexOf('<')
    if (lt < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (lt >= 0) {
      val gt = s.indexOf('>', lt + 1)
      if (gt < 0) { // unmatched '<' — regex leaves the rest untouched
        sb.append(s, i, s.length)
        i = s.length
        lt = -1
      } else {
        sb.append(s, i, lt).append(' ')
        i = gt + 1
        lt = s.indexOf('<', i)
      }
    }
    if (i < s.length) sb.append(s, i, s.length)
    sb.toString
  }

  private def replaceAll(s: String, pat: String, rep: String): String =
    if (s.indexOf(pat) < 0) s else s.replace(pat, rep)

  /** `\s+` → ' ' then trim. Java \s = [ \t\n\f\r]. */
  private def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var inWs = false
    while (i < s.length) {
      val c = s.charAt(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (ws) inWs = true
      else {
        if (inWs && sb.length > 0) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def extractString(html: String): String = {
    val s1 = stripBlocks(html, "script")
    val s2 = stripBlocks(s1, "style")
    val s3 = stripTags(s2)
    val s4 = replaceAll(replaceAll(replaceAll(s3, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
    collapseWs(s4)
  }

  /** Entry point used by both interpreted eval and generated code. */
  def extract(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(extractString(new String(bytes, StandardCharsets.UTF_8)))
}

/** html binary → extracted text; generated code calls
  * [[ExtractTextImpl.extract]] directly, keeping the extractor inside
  * whole-stage codegen (SURVEY.md §2 J policy: compiled kernel, not a UDF).
  */
object ExtractTextExpr {
  def apply(c: Column): Column = ColumnBridge.invoke(ExtractTextImpl, "extract", StringType, c)
}
