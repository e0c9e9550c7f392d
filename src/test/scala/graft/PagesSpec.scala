package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ingest.Pages

/** North-rule checks: deterministic page synthesis, byte-identical frozen
  * extractor (sha2-pinned), geocode round-trip.
  */
class PagesSpec extends SparkSpec {
  import spark.implicits._

  private val gps = Seq((3L, 42L, Timestamp.valueOf("2024-01-02 03:04:05"), 40.03, -75.01))
    .toDF("user_id", "event_id", "ts", "lat", "lon")

  test("extractor output is byte-exact for the canonical page") {
    val r = Pages.pagesFromGps(gps).select("url", "text").head
    assert(r.getString(0) === "https://example.org/3/42")
    // place name carries the point's level-10 S2 cell id
    val cell = graft.functions.Grid.cellId(40.03, -75.01, 10)
    assert(r.getString(1) ===
      s"place_$cell Field report Observed near place_$cell at loc:40030000,-75010000.")
  }

  test("extractor is deterministic: sha2 stable across evaluations") {
    val a = Pages.pagesFromGps(gps).select(sha2(col("text"), 256)).head.getString(0)
    val b = Pages.pagesFromGps(gps).select(sha2(col("text"), 256)).head.getString(0)
    assert(a === b && a.length === 64)
  }

  test("script/style content and tags are removed; entities decoded") {
    val html = """<html><body><p>a &amp; b &lt;c&gt;</p><script>bad()</script><style>x{}</style> d</body></html>"""
    val out = Seq(Tuple1(html)).toDF("h")
      .select(Pages.extractText(encode(col("h"), "UTF-8"))).head.getString(0)
    assert(out === "a & b <c> d")
  }

  test("single-pass expression extractor equals the regex-chain spec") {
    val cases = Seq(
      """<html><body><p>a &amp; b</p><script>x</script></body></html>""",
      """<p>unclosed script <script type="x">never ends""",
      """text with <broken tag and no close""",
      """cascading &amp;lt; entity""",
      """<style a>s1</style> mid <style>s2</style> end""",
      """<script>a</script><script>b</script> tail""",
      """  leading   and	trailing
   ws  """,
      """<scriptx>not a block close</scriptx>""",
      "plain text, no markup &gt; here")
    val df = cases.map(Tuple1(_)).toDF("h").withColumn("b", encode(col("h"), "UTF-8"))
    val rows = df.select(
      Pages.extractText(col("b")).as("fast"),
      HofTwins.extractTextRegex(col("b")).as("spec")).collect()
    rows.zip(cases).foreach { case (r, c) =>
      assert(r.getString(0) === r.getString(1), s"divergence for: $c")
    }
  }

  test("expression extractor equals regex spec on all generated pages") {
    val many = Pipelines.velocities(spark, "/root/testdata/sf0.001")
    val pages = Pages.pagesFromGps(sources.Tables.gps(spark, "/root/testdata/sf0.001"))
    val diff = pages.select(
        Pages.extractText(col("html")).as("fast"),
        HofTwins.extractTextRegex(col("html")).as("spec"))
      .where(col("fast") =!= col("spec")).count()
    assert(diff === 0L)
  }

  test("geocode recovers microdegree coordinates from extracted text") {
    val g = Pages.geocode(Pages.pagesFromGps(gps)).select("lat", "lon").head
    assert(g.getDouble(0) === 40.03)
    assert(g.getDouble(1) === -75.01)
  }

  test("geocode drops pages without a location mention instead of crashing") {
    // real pages often have no loc: marker — the rlike prefilter must drop
    // them before the ANSI cast ever sees a non-digit extract
    val pages = Seq(
      ("u1", "Observed near place_1 at loc:40030000,-75010000."),
      ("u2", "no location in this page at all")
    ).toDF("url", "text")
    val g = Pages.geocode(pages).select("url").as[String].collect()
    assert(g.toSeq === Seq("u1"))
  }

  test("pages schema matches the input hint (url, warc_ts, html, text, lang)") {
    val p = Pages.pagesFromGps(gps)
    assert(p.schema.map(f => (f.name, f.dataType.simpleString)) === Seq(
      ("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
      ("text", "string"), ("lang", "string")))
  }
}
