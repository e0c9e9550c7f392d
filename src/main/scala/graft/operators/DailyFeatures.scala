package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Geo, NpRound}

/** Daily mobility features — get_daily_metrics (gscap/gps.py:1366-1504).
  *
  * The reference computes ~16 per-date feature frames and outer-joins them
  * recursively on date (gps.py:1403-1407); semantically that is ONE wide
  * aggregation, so this engine computes all features in a single
  * `groupBy(user_id, date)` hash-agg — one shuffle instead of N joins
  * (SURVEY.md §2 J2).
  *
  * Quirk parity: location_variance uses population σ (np.std ddof=0,
  * gps.py:1369) and natural log, 3 dp half-even; hour-sums are
  * time_delta/3600 at 3 dp; distance sums at 3 dp.
  */
object DailyFeatures {

  /** Dwell-hours under a predicate. `refRounding=true` applies the
    * reference's half-even 3 dp (gps.py:1377-1395); false emits the raw
    * exact rational sum/3600 (used by the oracle-verified queries, where
    * half-even vs half-away tie behavior would differ across engines).
    */
  private def maybeRound(c: org.apache.spark.sql.Column, refRounding: Boolean, dp: Int) =
    if (refRounding) NpRound(c, dp) else c
  private def hoursIn(cond: org.apache.spark.sql.Column, refRounding: Boolean) =
    maybeRound(coalesce(sum(when(cond, col("time_delta"))), lit(0L)) / 3600.0, refRounding, 3)
  // distance sums always round 3 dp: summands are 1 dp so no decimal tie is
  // reachable, and the round absorbs cross-engine summation-order noise;
  // np.round semantics under refRounding for numpy-fixture parity
  private def distIn(cond: org.apache.spark.sql.Column, refRounding: Boolean) =
    if (refRounding) NpRound(coalesce(sum(when(cond, col("displacement"))), lit(0.0)), 3)
    else bround(coalesce(sum(when(cond, col("displacement"))), lit(0.0)), 3)

  /** Input: enriched points (user_id, ts, date, lat, lon, time_delta,
    * displacement, binning, cid). One row per (user_id, date).
    *
    * Includes hours_in_top3 (gps.py:1443-1456 + 1377-1382): dwell in the
    * user's top-3 non-home/work/noise clusters — the top-3 set is a tiny
    * per-user aggregate broadcast-joined back before the single wide agg.
    */
  def daily(points: DataFrame, refRounding: Boolean = true, topK: Int = 3): DataFrame = {
    val top = topClusters(points, topK)
      .select(col("user_id"), col("cid"), lit(true).as("is_top"))
    val pts = points.join(broadcast(top), Seq("user_id", "cid"), "left")
    val binAggs = Motion.Bins.flatMap { b =>
      Seq(
        hoursIn(col("binning") === b, refRounding).as(s"hours_$b"),
        distIn(col("binning") === b, refRounding).as(s"distance_$b"))
    }
    val aggs: Seq[org.apache.spark.sql.Column] = Seq(
      // log(std_pop(lat)+std_pop(lon)), zero-guarded like gps.py:1368-1371
      // always 3 dp (the value is transcendental so bround is portable);
      // np.round form under refRounding for numpy-fixture parity
      when(stddev_pop("lat") + stddev_pop("lon") > 0.0,
        if (refRounding) NpRound(log(stddev_pop("lat") + stddev_pop("lon")), 3)
        else bround(log(stddev_pop("lat") + stddev_pop("lon")), 3)).as("location_variance"),
      countDistinct(hour(col("ts"))).as("hours_accounted_for"),
      hoursIn(col("binning") === "stationary" && col("cid") =!= "home" && col("cid") =!= "work",
        refRounding).as("hours_stationary_nhw"),
      max(col("cid") === "work").as("came_to_work"),
      countDistinct("cid").as("number_of_clusters"),
      hoursIn(col("cid") === "home", refRounding).as("hours_in_home"),
      hoursIn(col("cid") === "work", refRounding).as("hours_in_work"),
      hoursIn(col("is_top"), refRounding).as("hours_in_top3")) ++ binAggs
    pts
      .groupBy("user_id", "date")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Top-k non-home/work/noise clusters by total dwell (gps.py:1449-1456). */
  def topClusters(points: DataFrame, k: Int = 3): DataFrame =
    points
      .where(col("cid") =!= "home" && col("cid") =!= "work" && col("cid") =!= "xNot")
      .groupBy("user_id", "cid")
      .agg(sum("time_delta").as("dwell_seconds"))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("user_id").orderBy(desc("dwell_seconds"), asc("cid"))))
      .where(col("rank") <= k)

  /** Location entropy per (user, date): −Σ p_i ln p_i over cluster dwell
    * shares, and normalized entropy / log(N). Literature companion feature
    * computed from the same frames (SURVEY.md §7 module 7).
    */
  def locationEntropy(points: DataFrame): DataFrame = {
    val perCluster = points
      .where(col("cid") =!= "xNot" && col("time_delta").isNotNull)
      .groupBy("user_id", "date", "cid")
      .agg(sum("time_delta").as("dwell"))
    val perDay = perCluster
      .withColumn("total", sum("dwell").over(Window.partitionBy("user_id", "date")))
      .withColumn("p", col("dwell") / col("total"))
    perDay
      .groupBy("user_id", "date")
      .agg(
        bround(-sum(col("p") * log(col("p"))), 6).as("entropy"),
        count(lit(1)).as("n_clusters"))
      .withColumn("normalized_entropy",
        when(col("n_clusters") > 1, bround(col("entropy") / log(col("n_clusters").cast("double")), 6)))
  }

  /** Sleep-hours estimate (gps.py:1462-1501): per (user, date), hours from
    * midnight to the first fix, plus carry-in from the previous day's last
    * fix when that fix is <24 h away (total seconds) and ≤500 m displaced —
    * the carry-in interval uses Python timedelta.seconds (mod 86400, here
    * always <24 h anyway). The cross-day dependency is a lag over the tiny
    * per-day frame, not the point table.
    */
  def sleepEstimate(points: DataFrame): DataFrame = sleepEstimate(points, refRounding = false)

  def sleepEstimate(points: DataFrame, refRounding: Boolean): DataFrame = {
    // first/last rows of each day; ties on ts break to the SMALLEST event
    // order — the reference takes .iloc[0] of the matching rows
    // (gps.py:1468,1492)
    val wAsc  = Window.partitionBy("user_id", "date").orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("user_id", "date").orderBy(col("ts").desc, col("event_id").asc)
    val firsts = points.withColumn("rn", row_number().over(wAsc)).where(col("rn") === 1)
      .select(col("user_id"), col("date"), col("ts").as("first_ts"),
        col("lat").as("f_lat"), col("lon").as("f_lon"))
    val lasts = points.withColumn("rn", row_number().over(wDesc)).where(col("rn") === 1)
      .select(col("user_id"), col("date"), col("ts").as("last_ts"),
        col("lat").as("l_lat"), col("lon").as("l_lon"))
    val perDay = firsts.join(lasts, Seq("user_id", "date"))

    val w = Window.partitionBy("user_id").orderBy("date")
    val pLastTs  = lag("last_ts", 1).over(w)
    val pLat     = lag("l_lat", 1).over(w)
    val pLon     = lag("l_lon", 1).over(w)
    // micros arithmetic: the reference's .total_seconds()/.seconds operate
    // on the full-precision timedelta (floor of totals, not of endpoints)
    val midnight = col("date").cast("timestamp")
    val gapOk  = (unix_micros(col("first_ts")) - unix_micros(pLastTs)) <= 24L * 3600L * 1000000L
    val distOk = Geo.haversineMeters(col("f_lat"), col("f_lon"), pLat, pLon) <= 500.0
    val lnSecs = when(pLastTs.isNotNull && gapOk && distOk,
      pmod(floor((unix_micros(midnight) - unix_micros(pLastTs)) / 1e6).cast("long"), lit(86400L)))
      .otherwise(0L)
    val firstSecs = pmod(
      floor((unix_micros(col("first_ts")) - unix_micros(midnight)) / 1e6).cast("long"), lit(86400L))

    val sleep = (firstSecs + lnSecs).cast("double") / 3600.0
    perDay.select(
      col("user_id"), col("date"),
      maybeRound(sleep, refRounding, 3).as("hours_of_sleep"))
  }

  /** Radius of gyration per (user, date): sqrt(Σ d(point, centroid)²/n) with
    * haversine distance to the daily mean-coordinate centroid. Two-phase:
    * centroid agg, broadcast-join back, second agg — the standard
    * mobility-literature definition computed Spark-natively.
    */
  def radiusOfGyration(points: DataFrame): DataFrame = {
    val centroids = points.groupBy("user_id", "date")
      .agg(avg("lat").as("clat"), avg("lon").as("clon"))
    val h = Geo.haversineMeters(col("lat"), col("lon"), col("clat"), col("clon"))
    points.join(broadcast(centroids), Seq("user_id", "date"))
      .groupBy("user_id", "date")
      // 0 dp: the integer-meter radius — coarse enough to absorb agg-order
      // float noise while meter-exact for fixture checks
      .agg(bround(sqrt(avg(h * h)), 0).as("radius_of_gyration_m"))
  }
}
