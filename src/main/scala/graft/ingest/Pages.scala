package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Grid

/** Common-Crawl-style pages: synthesis + the frozen text extractor (H12) and
  * gazetteer geocode (H14) from SURVEY.md §2.
  *
  * The pages table matches BASELINE.json's input_hint
  * (url string, warc_ts timestamp, html binary, text string, lang string).
  * Pages are synthesized deterministically from the GPS stream: each point
  * becomes a page whose html embeds a gazetteer place name (derived from the
  * point's level-10 S2 cell) and the point location as INTEGER microdegrees
  * (integer rendering is byte-identical across engines, unlike double
  * formatting) — so geocode → tile → spatial-join is exercisable end-to-end
  * with exactly computable expected output.
  *
  * The extractor is FROZEN (north rule: per-url extracted text must be
  * byte-identical): UTF-8 decode → drop script/style blocks → strip tags →
  * minimal entity decode → whitespace collapse → trim. Pure codegen'd
  * expression; regex subset chosen to behave identically under Java regex
  * and RE2 (the oracle recomputes it in DuckDB and compares sha256).
  */
object Pages {

  /** Microdegrees: deterministic integer rendering of a coordinate. */
  def microDeg(c: Column): Column = round(c * 1e6, 0).cast("long")

  def placeName(lat: Column, lon: Column): Column =
    concat(lit("place_"), Grid.cell(lat, lon, 10).cast("string"))

  /** html payload (as string; stored as binary in the table). */
  def htmlFor(lat: Column, lon: Column): Column =
    concat(
      lit("<html><head><title>"), placeName(lat, lon), lit("</title>"),
      lit("<style>body { color: red; }</style></head><body>\n  <h1>Field report</h1>\n  <p>Observed near <a href=\"/p?q=1&amp;r=2\">"),
      placeName(lat, lon),
      lit("</a> at loc:"), microDeg(lat).cast("string"), lit(","), microDeg(lon).cast("string"),
      lit(".</p>\n  <script>var tracking = \"<p>\";</script>\n</body></html>"))

  /** The frozen extractor: html binary → text string. Production form is
    * the single-pass compiled kernel [[graft.functions.ExtractTextExpr]]
    * (a direct ExtractTextImpl call in generated code); PagesSpec asserts it
    * equals the executable SPECIFICATION, the regex chain kept in the test
    * object HofTwins (the DuckDB oracle evaluates the same chain).
    */
  def extractText(html: Column): Column =
    graft.functions.ExtractTextExpr(html)

  /** Synthesize the pages table from a GPS stream (user_id, event_id, ts,
    * lat, lon). `text` is the extractor's own output over `html` — the
    * fixtures pin sha256(text), so any extractor drift fails loudly.
    */
  def pagesFromGps(gps: DataFrame): DataFrame = {
    val html = htmlFor(col("lat"), col("lon"))
    gps.select(
      concat(lit("https://example.org/"), col("user_id"), lit("/"), col("event_id")).as("url"),
      col("ts").as("warc_ts"),
      encode(html, "UTF-8").as("html"),
      Pages.extractText(encode(html, "UTF-8")).as("text"),
      when(col("event_id") % 17 === 0, "de")
        .when(col("event_id") % 23 === 0, "fr")
        .otherwise("en").as("lang"))
  }

  /** Geocode (H14): recover (lat, lon) microdegree mentions from extracted
    * text via the deterministic `loc:` pattern → grid cells. At web scale
    * the same shape applies to a broadcast gazetteer join on place names.
    */
  def geocode(pages: DataFrame): DataFrame = {
    // crash-safety + plan shape: an rlike PREFILTER (one regex pass,
    // pushdown-friendly) eliminates pages without a location mention, so
    // the projection's casts see guaranteed-digit extracts — no ANSI
    // CAST('') crash, and no when()-guard whose pushed-down copy would
    // re-run the extract per reference (4-6 regex evals/row instead of 3)
    def grp(i: Int) = regexp_extract(col("text"), "loc:(-?\\d+),(-?\\d+)", i)
    pages
      .where(col("text").rlike("loc:-?\\d+,-?\\d+"))
      .withColumn("lat_u", grp(1).cast("long"))
      .withColumn("lon_u", grp(2).cast("long"))
      .withColumn("lat", col("lat_u").cast("double") / 1e6)
      .withColumn("lon", col("lon_u").cast("double") / 1e6)
  }
}
