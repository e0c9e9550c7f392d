package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated parquet tables plus the deterministic
  * synthetic GPS stream the gSCAP-semantics operators run on.
  *
  * The GPS stream is derived from the `events` table with pure integer-mod +
  * IEEE-double arithmetic so that the DuckDB oracle recomputes the *same*
  * doubles bit-for-bit (`gpsCte` below is the SQL twin of `gps`). Shape
  * mirrors the reference input contract (gscap/gps.py:1758-1762: lat, lon,
  * ts) plus a user_id partition key, since the engine is multi-tenant by
  * design where the reference was single-user-per-frame.
  *
  * Track model per user: ~70% of pings dwell at a per-user "home" site with
  * ±meter-scale jitter, ~20% at a "work" site ~600 m away, ~10% scattered
  * travel — enough structure for dwell/cluster/session operators to produce
  * non-trivial, exactly-checkable output.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame    = table(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Deterministic GPS stream: (user_id, event_id, ts, lat, lon). */
  def gps(spark: SparkSession, sfDir: String): DataFrame = {
    val e = events(spark, sfDir)
    val m10  = col("event_id") % 10
    val jlat = (col("event_id") % 13).cast("double") * 2e-5
    val jlon = (col("event_id") % 17).cast("double") * 2e-5
    val baseLat = lit(40.0) + (col("user_id") % 5).cast("double") * 1e-2
    val baseLon = lit(-75.0) + (col("user_id") % 3).cast("double") * 1e-2
    e.select(
      col("user_id"),
      col("event_id"),
      date_trunc("second", col("ts")).as("ts"),
      when(m10 < 7, baseLat + jlat)
        .when(m10 < 9, baseLat + 4e-3 + jlat)
        .otherwise(lit(40.0) + (col("event_id") % 97).cast("double") * 2e-4)
        .as("lat"),
      when(m10 < 7, baseLon + jlon)
        .when(m10 < 9, baseLon + 4e-3 + jlon)
        .otherwise(lit(-75.0) + (col("event_id") % 89).cast("double") * 2e-4)
        .as("lon")
    )
  }

  /** Deterministic hourly-weather stream derived from `events` (the
    * pre-materialized stand-in for the reference's DarkSky source, A6).
    * Metrics are INTEGER-scaled (temp10 = tenths of a degree, etc.) so that
    * aggregate means are exact cross-engine; decimal scaling is presentation.
    */
  def weatherHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val e = events(spark, sfDir)
    e.select(
      (col("user_id") + 10000L).as("zipcode"),
      (lit(40.0) + (col("user_id") % 5).cast("double") * 1e-2).as("lat"),
      (lit(-75.0) + (col("user_id") % 3).cast("double") * 1e-2).as("lon"),
      col("ts").cast("date").as("date"),
      (col("event_id") % 200).as("temperature"),
      ((col("event_id") * 3) % 100).as("humidity"),
      ((col("event_id") * 7) % 100).as("cloud_cover"),
      ((col("event_id") * 11) % 150).as("dew_point"),
      ((col("event_id") * 13) % 20).as("precip_intensity"))
  }

  /** SQL twin of [[weatherHourly]]. */
  val weatherHourlyCte: String =
    """wh AS (
      |  SELECT user_id + 10000 AS zipcode,
      |    4e1 + CAST(user_id % 5 AS DOUBLE) * 1e-2 AS lat,
      |    -75e0 + CAST(user_id % 3 AS DOUBLE) * 1e-2 AS lon,
      |    CAST(ts AS DATE) AS "date",
      |    event_id % 200 AS temperature,
      |    (event_id * 3) % 100 AS humidity,
      |    (event_id * 7) % 100 AS cloud_cover,
      |    (event_id * 11) % 150 AS dew_point,
      |    (event_id * 13) % 20 AS precip_intensity
      |  FROM events
      |)""".stripMargin

  /** SQL twin of [[gps]] — prepended as a CTE to every GPS-query oracle.
    * Literals use e-notation so DuckDB types them DOUBLE (not DECIMAL);
    * expression shapes/association match the Column forms exactly.
    */
  val gpsCte: String =
    """WITH gps AS (
      |  SELECT user_id, event_id, date_trunc('second', ts) AS ts,
      |    CASE WHEN event_id % 10 < 7
      |           THEN (4e1 + CAST(user_id % 5 AS DOUBLE) * 1e-2) + CAST(event_id % 13 AS DOUBLE) * 2e-5
      |         WHEN event_id % 10 < 9
      |           THEN ((4e1 + CAST(user_id % 5 AS DOUBLE) * 1e-2) + 4e-3) + CAST(event_id % 13 AS DOUBLE) * 2e-5
      |         ELSE 4e1 + CAST(event_id % 97 AS DOUBLE) * 2e-4 END AS lat,
      |    CASE WHEN event_id % 10 < 7
      |           THEN (-75e0 + CAST(user_id % 3 AS DOUBLE) * 1e-2) + CAST(event_id % 17 AS DOUBLE) * 2e-5
      |         WHEN event_id % 10 < 9
      |           THEN ((-75e0 + CAST(user_id % 3 AS DOUBLE) * 1e-2) + 4e-3) + CAST(event_id % 17 AS DOUBLE) * 2e-5
      |         ELSE -75e0 + CAST(event_id % 89 AS DOUBLE) * 2e-4 END AS lon
      |  FROM events
      |)""".stripMargin
}
