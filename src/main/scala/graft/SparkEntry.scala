package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Geo, Grid}
import graft.operators.{DailyFeatures, Docs, Motion, Sessions, Similarity, Spatial}
import graft.sources.Tables
import graft.OracleSql.{euclid2, hav, hlat, hlon, wlat, wlon}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-equivalent oracle in [[oracleSql]]
  * where the semantics are SQL-expressible (xxhash64-based ops through the
  * exact XXH64 twins in [[OracleXxh]]).
  */
object SparkEntry {

  /** Flagship: pages→cells→point-in-polygon→per-tile counts — the minimum
    * end-to-end slice of SURVEY.md §7.2 over the synthetic GPS stream.
    */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))

  /** Scale-factor-parameterized flagship (the driver's single-arg contract
    * above delegates here; Bench/ScalingBench call this form directly).
    */
  def entry(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.gps(spark, dir)
      .withColumn("cell", Grid.cell(col("lat"), col("lon"), 13))
      .withColumn("tile_id", Grid.toParent(col("cell"), 13, 5))
    Spatial.pointInRect(pts, regionRects(spark, dir))
      .groupBy("r_regionkey", "tile_id")
      .agg(count(lit(1)).as("n_points"), countDistinct("user_id").as("n_users"))
  }

  /** Synthetic axis-aligned POI polygons keyed off `region` (deterministic,
    * derivable identically in the oracle).
    */
  private def regionRects(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir).select(
      col("r_regionkey"),
      (lit(40.0) + col("r_regionkey").cast("double") * 1e-2 - 2e-3).as("lat_min"),
      (lit(40.0) + col("r_regionkey").cast("double") * 1e-2 + 6e-3).as("lat_max"),
      lit(-76.0).as("lon_min"),
      lit(-74.0).as("lon_max"))

  /** Synthetic nation centroid dim for the kNN operator. */
  private def nationSites(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir).select(
      col("n_nationkey"),
      (lit(40.0) + (col("n_nationkey") % 5).cast("double") * 1e-2 + 2e-3).as("d_lat"),
      (lit(-75.0) + (col("n_nationkey") % 3).cast("double") * 1e-2 + 2e-3).as("d_lon"))

  /** Per-user home-site centers (15 rows, broadcastable dim). */
  private def homeCenters(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(Pipelines.homeLat.as("c_lat"), Pipelines.homeLon.as("c_lon"))
      .distinct()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core ------------------------------------------------
    // money in exact scaled-integer space: price/discount/tax are 2-decimal
    // values; integer sums are exact, order-independent, and portable
    // (float sums differ across engines in summation order)
    "q1_pricing" -> ((s, d) => {
      val p100 = round(col("l_extendedprice") * 100.0, 0).cast("long")
      val d100 = round(col("l_discount") * 100.0, 0).cast("long")
      val t100 = round(col("l_tax") * 100.0, 0).cast("long")
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          (sum(p100).cast("double") / 1e2).as("sum_base_price"),
          (sum(p100 * (lit(100L) - d100)).cast("double") / 1e4).as("sum_disc_price"),
          (sum(p100 * (lit(100L) - d100) * (lit(100L) + t100)).cast("double") / 1e6).as("sum_charge"),
          (sum("l_quantity") / count(lit(1)).cast("double")).as("avg_qty"),
          (sum(d100).cast("double") / count(lit(1)).cast("double") / 1e2).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),
    "q3_revenue" -> ((s, d) => {
      val p100 = round(col("l_extendedprice") * 100.0, 0).cast("long")
      val d100 = round(col("l_discount") * 100.0, 0).cast("long")
      Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > col("o_orderdate"))
        .groupBy("o_orderkey")
        .agg((sum(p100 * (lit(100L) - d100)).cast("double") / 1e4).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ---- motion (W1/H2/G1, gscap/gps.py:799-937,1757-1780) --------------
    "gps_velocity" -> ((s, d) =>
      Pipelines.velocities(s, d)
        .select("user_id", "event_id", "ts", "lat", "lon",
          "binning", "displacement", "time_delta", "velocity")),
    "gps_resample" -> ((s, d) => Motion.resampleMinutes(Tables.gps(s, d))),
    "gps_first_delta" -> ((s, d) =>
      Motion.firstOfDayTimeDelta(Pipelines.velocities(s, d))
        .select("user_id", "event_id", "ts", "binning", "time_delta")),

    // ---- tiling (H13/J12, real S2 levels: 13 ≈ 1.2 km, 5 ≈ 300 km) -------
    "gps_cells" -> ((s, d) =>
      Tables.gps(s, d)
        .groupBy(Grid.cell(col("lat"), col("lon"), 13).as("cell"))
        .agg(count(lit(1)).as("n_points"))),
    "gps_tiles" -> ((s, d) =>
      Tables.gps(s, d)
        .withColumn("cell", Grid.cell(col("lat"), col("lon"), 13))
        .withColumn("tile_id", Grid.toParent(col("cell"), 13, 5))
        .groupBy("tile_id")
        .agg(count(lit(1)).as("n_points"), countDistinct("user_id").as("n_users"))),

    // ---- sessionization (W2-W4, gscap/gps.py:1279-1363) -----------------
    "gps_sessions" -> ((s, d) =>
      Sessions.visits(Pipelines.labeledPointsM(s, d))
        .withColumn("date", col("date").cast("timestamp"))
        .select("user_id", "date", "pos", "cid", "time_in", "time_out",
          "n_points", "duration", "midpoint", "lat", "lon")),
    "gps_visit_stats" -> ((s, d) => {
      val v = Sessions.visits(Pipelines.labeledPointsM(s, d))
      v.where(col("cid") =!= "xNot")
        .groupBy("user_id", "cid")
        .agg(
          count(lit(1)).as("times_entered"),
          (sum("duration").cast("double") / 3600.0).as("total_duration"),
          (sum("duration").cast("double") / count(lit(1)).cast("double") / 3600.0).as("mean_duration"),
          (max("duration").cast("double") / 3600.0).as("max_duration"),
          (min("duration").cast("double") / 3600.0).as("min_duration"),
          ((max(unix_timestamp(col("midpoint"))) - min(unix_timestamp(col("midpoint")))).cast("double")
            / when(count(lit(1)) > 1, (count(lit(1)) - 1).cast("double")) / 3600.0)
            .as("mean_ti_between_visits"))
    }),

    // ---- daily features (G4, gscap/gps.py:1366-1504) --------------------
    "gps_daily" -> ((s, d) =>
      DailyFeatures.daily(Pipelines.labeledPoints(s, d), refRounding = false)
        .withColumn("date", col("date").cast("timestamp"))),
    "gps_entropy" -> ((s, d) =>
      DailyFeatures.locationEntropy(Pipelines.labeledPointsM(s, d))
        .withColumn("entropy", col("entropy") + 0.0)
        .withColumn("normalized_entropy", col("normalized_entropy") + 0.0)
        .withColumn("date", col("date").cast("timestamp"))),
    "gps_gyration" -> ((s, d) =>
      DailyFeatures.radiusOfGyration(Pipelines.labeledPoints(s, d))
        .withColumn("date", col("date").cast("timestamp"))),
    "gps_top_clusters" -> ((s, d) =>
      DailyFeatures.topClusters(Pipelines.labeledPoints(s, d), 3)),

    // ---- spatial joins (J4/J5/J6/J8/J11) --------------------------------
    "gps_knn" -> ((s, d) =>
      Spatial.nearestNeighbor(Tables.gps(s, d), nationSites(s, d), "n_nationkey", Seq("event_id"))
        .select("event_id", "n_nationkey", "d2")),
    "gps_tz" -> ((s, d) => {
      // J5/H11: nearest synthetic zip → its timezone string (the reference's
      // KDTree zip/tz lookup, utils.py:141-180); ring-kNN scale path
      val zips = Tables.nation(s, d).select(
        (col("n_nationkey") + 10000).as("zipcode"),
        (lit(40.0) + (col("n_nationkey") % 5).cast("double") * 1e-2 + 2e-3).as("d_lat"),
        (lit(-75.0) + (col("n_nationkey") % 3).cast("double") * 1e-2 + 2e-3).as("d_lon"),
        concat(lit("America/Zone_"), (col("n_nationkey") % 4).cast("string")).as("timezone"))
      Spatial.nearestNeighborCellRing(Tables.gps(s, d), zips, "zipcode", "event_id", res = 10, maxRings = 2)
        .groupBy("timezone").agg(count(lit(1)).as("n_points"), countDistinct("zipcode").as("n_zips"))
    }),
    "gps_pip" -> ((s, d) =>
      Spatial.pointInRect(Tables.gps(s, d), regionRects(s, d))
        .select("event_id", "r_regionkey")),
    "gps_raycast" -> ((s, d) =>
      Tables.gps(s, d)
        .where(Spatial.rayCast(col("lat"), col("lon"), SparkEntry.TestTriangle))
        .select("event_id", "lat", "lon")),
    "gps_fence" -> ((s, d) =>
      Pipelines.labeledPoints(s, d).groupBy("user_id", "cid")
        .agg(count(lit(1)).as("n_points"))),
    "gps_far" -> ((s, d) =>
      Spatial.farFromAll(Tables.gps(s, d), homeCenters(s, d), 100.0)
        .select("event_id")),
    "gps_pairwise" -> ((s, d) =>
      Spatial.pairwiseDistances(
        Tables.gps(s, d).where(col("user_id") === 1).withColumn("id", col("event_id")), "id")
        .select("id1", "id2", "distance")),

    // ---- clustering (G7/G2/G8 + home/work, gscap/gps.py:940-1270) -------
    // not SQL-expressible → rows-only driver check; exact-value parity is
    // pinned in ClusteringSpec (40.00015/-45.0 fixture etc.)
    // each query consumes ONE of the two unpersisted views of the per-user
    // pass (Clustering.clustersWithContext), so the pass runs once per query
    "gps_clusters" -> ((s, d) =>
      operators.Clustering.clustersWithContext(Pipelines.velocities(s, d), minSamples = 20)._2.toDF()),
    "gps_cluster_labels" -> ((s, d) =>
      operators.Clustering.clustersWithContext(Pipelines.velocities(s, d), minSamples = 20)._1
        .groupBy("user_id", "cid")
        .agg(count(lit(1)).as("n_points"),
          bround(avg("distance_from_home"), 0).as("avg_dfh_m"))),
    "gps_user_dbscan" -> ((s, d) =>
      // per-user sklearn DBSCAN with MEMBERSHIP pinned per (user, label):
      // core membership and scan-order core labels are order-independent
      // (label k = rank of the cluster's min core event_id), so the whole
      // per-user kernel runs under the exact oracle — the per-user twin of
      // dbscan_distributed's membership-pinning discipline
      operators.Clustering.userDbscanCores(Tables.gps(s, d), eps = 0.005, minSamples = 20)
        .groupBy(col("user_id"), col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_core"), min("event_id").as("min_id"),
          max("event_id").as("max_id"), sum("event_id").as("id_sum"),
          // exact bounding box, NOT a rounded avg centroid: the per-user
          // means sit on .00005 rounding ties (half-even vs half-away),
          // while min/max are order-independent and bit-identical doubles
          min("lat").as("lat_min"), max("lat").as("lat_max"),
          min("lon").as("lon_min"), max("lon").as("lon_max"))),
    "gps_cluster_stats" -> ((s, d) =>
      // extract_cluster_centers' per-cluster statistics over CORE rows
      // under the exact gate: canonical-order folds for means/std,
      // percentile-fraction IQR, ddof=1, raw (unrounded) doubles — the
      // gps_user_dbscan membership discipline extended to the center
      // stats themselves (gps_clusters stays rows-only for border rows)
      operators.Clustering.coreCenterStats(
        operators.Clustering.userDbscanCores(Tables.gps(s, d), eps = 0.005, minSamples = 20))),
    "gps_full_pipeline" -> ((s, d) => {
      // velocities → home/work/x-cluster labels → sessionized visits →
      // per-cluster visit statistics: the reference's §3.1 lifecycle.
      // records-only consumer, see gps_clusters above; visits and
      // clusterMetrics each consume their input exactly once so nothing
      // downstream re-runs the per-user kernel.
      val records = operators.Clustering.clustersWithContext(
        Pipelines.velocities(s, d), minSamples = 20)._1
      val visits = Sessions.visits(records.withColumn("date", col("ts").cast("date")))
      Sessions.clusterMetrics(visits)
    }),
    "gps_next_phase" -> ((s, d) =>
      // full two-phase clustering per user (gps.py:1507-1561) — both phases
      // inside ONE flatMapGroups (Clustering.nextPhaseTagged)
      operators.Clustering.nextPhaseTagged(Pipelines.velocities(s, d), minSamples = 20)
        .where(col("clu").isNotNull)
        .select(col("clu.user_id").as("user_id"), col("clu.cid").as("cid"),
          col("clu.lat").as("lat"), col("clu.lon").as("lon"))),
    "dbscan_distributed" -> ((s, d) => {
      // global point-cloud DBSCAN over all users' points (web-scale path).
      // Driver check pins MEMBERSHIP per label, not just cardinality:
      // (n, min/max/sum of member ids, rounded centroid) — a labeling bug
      // cannot hide behind stable label counts.
      val pts = Tables.gps(s, d).select(col("event_id").as("id"), col("lat"), col("lon"))
      operators.DistributedDbscan.run(pts, eps = 0.005, minSamples = 50)
        .join(pts, Seq("id"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n_points"), min("id").as("min_id"), max("id").as("max_id"),
          sum("id").as("id_sum"),
          bround(avg("lat"), 4).as("centroid_lat"), bround(avg("lon"), 4).as("centroid_lon"))
    }),

    // ---- gap imputation (H3, gscap/gps.py:1611-1746) --------------------
    // per-row: every imputed timestamp and its linspace-interpolated coords
    // are oracle-checked (exact: identical interp operation order)
    "gps_asof" -> ((s, d) => {
      // point-in-time feature lookup: each GPS point picks up its user's
      // most recent purchase value at-or-before the point's timestamp —
      // union-tag + running window (one shuffle), never a range join;
      // right side pre-aggregated to one row per (user, ts) so the
      // at-equal tie is deterministic on both engines
      val g = Tables.gps(s, d).select("user_id", "event_id", "ts")
      val purchases = Tables.events(s, d).where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("value"))
      operators.Temporal.asofJoin(g, purchases, Seq("user_id"), "ts", "ts")
        .select("user_id", "event_id", "ts", "asof_value")
    }),

    "gps_session_attr" -> ((s, d) => {
      // point-to-session attribution: every GPS point joined to the visit
      // interval containing it — bucketized interval join (equi join on
      // (user, hour-chunk) + exact refine), never an inequality theta join
      val pts = Tables.gps(s, d).select("user_id", "event_id", "ts")
      // intervalJoin consumes its right side TWICE (chunked + oversized
      // branches) — un-materialized, the whole velocity→label→sessionize
      // window chain ran twice in one plan (r6 before-plan: two identical
      // 4-window subtrees). Materialize the tiny visit table once
      // (CLAUDE.md multi-consumer rule; same pattern as doc_jaccard).
      val visits = Sessions.visits(Pipelines.labeledPointsM(s, d))
        .select(col("user_id"), col("cid"), col("pos"), col("time_in"), col("time_out"))
        .localCheckpoint()
      operators.Temporal.intervalJoin(pts, visits, Seq("user_id"), "ts",
          "time_in", "time_out", chunkSeconds = 3600L)
        .select("user_id", "event_id", "cid", "pos", "time_in")
    }),

    "gps_impute" -> ((s, d) =>
      Motion.imputeStationary(Tables.gps(s, d))
        .select("user_id", "event_id", "ts", "lat", "lon")),

    // ---- validation (B8/H10, gscap/utils.py:231-251, gps.py:137-153) ----
    // range check + (0,0)-invalid nulling + zip −1 sentinel beyond the kNN
    // distance bound (zip_from_dd distance_upper_bound semantics)
    "gps_valid" -> ((s, d) => {
      val m = col("event_id") % 11
      val latx = when(m === 0, lit(91.5)) // lat out of range
        .when(m === 1, lit(0.0))          // null island
        .otherwise(lit(40.0) + (col("event_id") % 13).cast("double") * 2e-4)
      val lonx = when(m === 0, lit(-75.0))
        .when(m === 1, lit(0.0))
        .when(m === 2, lit(-181.0))       // lon out of range
        .otherwise(lit(-75.0) + (col("event_id") % 17).cast("double") * 2e-4)
      val pts = Tables.events(s, d).select(col("event_id"), latx.as("lat"), lonx.as("lon"))
      val validated = operators.Validation.validate(pts)
      val zips = nationSites(s, d)
        .select((col("n_nationkey") + 10000).cast("long").as("zipcode"), col("d_lat"), col("d_lon"))
      val hit = Spatial.nearestNeighbor(validated.where(col("valid")), zips, "zipcode", Seq("event_id"))
        .select(col("event_id"), col("lat"), col("lon"), col("valid"),
          operators.Validation.zipWithin(col("zipcode"), col("d2"), 0.002).as("zipcode"))
      val bad = validated.where(!col("valid"))
        .select(col("event_id"), col("lat"), col("lon"), col("valid"), lit(-1L).as("zipcode"))
      hit.unionByName(bad)
    }),

    // ---- weather request front door (weather.py:500-560, 414-419) -------
    "weather_requests" -> ((s, d) => {
      val reqs = Tables.events(s, d).select(
        col("event_id").as("req_id"),
        when(col("event_id") % 3 === 0,
          when(col("event_id") % 9 === 0, lit(99999L))
            .otherwise((col("event_id") % 15) + 10000L)).as("zipcode"),
        when(col("event_id") % 3 =!= 0,
          when(col("event_id") % 21 === 1, lit(91.0))
            .otherwise(lit(40.0) + (col("event_id") % 7).cast("double") * 1e-3)).as("lat"),
        when(col("event_id") % 3 =!= 0,
          lit(-75.0) + (col("event_id") % 5).cast("double") * 1e-3).as("lon"),
        col("ts").cast("date").as("date"))
      val zips = nationSites(s, d)
        .select((col("n_nationkey") + 10000).cast("long").as("zipcode"), col("d_lat"), col("d_lon"))
      operators.Weather.verifyRequests(reqs, zips)
        .withColumn("date", col("date").cast("timestamp"))
    }),

    // ---- pages: extraction + geocode + sleep (H12/H14/G6, north rule) ---
    "pages_text" -> ((s, d) =>
      ingest.Pages.pagesFromGps(Tables.gps(s, d))
        .select(col("url"), col("lang"),
          sha2(col("text"), 256).as("text_sha"),
          length(col("text")).cast("long").as("n_chars"))),
    "pages_geocode" -> ((s, d) =>
      // spread before synthesis+regex: the geocode rlike/extract pass is
      // CPU-bound per row and ran on the scan's single split (r6; no-op at
      // scale — Par.spreadForCpu)
      ingest.Pages.geocode(ingest.Pages.pagesFromGps(
        graft.functions.Par.spreadForCpu(Tables.gps(s, d), Seq(col("event_id")))))
        .groupBy(Grid.cell(col("lat"), col("lon"), 10).as("cell"))
        .agg(count(lit(1)).as("n_pages"), countDistinct("url").as("n_urls"))),
    "media_features" -> ((s, d) =>
      // pixel/sample-level decode runs inside the gate: mean_level comes
      // from inflate+unfilter'd PNG pixels, mean_amplitude/peak from
      // decoded PCM samples (exact integer sums under the aggregation)
      operators.Multimodal.mediaFeatures(
        operators.Multimodal.mediaFromPages(
          ingest.Pages.pagesFromGps(Tables.gps(s, d))))
        .groupBy("media_type", "size_class")
        .agg(count(lit(1)).as("n_media"), sum("n_bytes").as("total_bytes"),
          bround(avg("mean_level"), 2).as("avg_pixel_level"),
          bround(avg("mean_amplitude"), 2).as("avg_amplitude"),
          max("peak").as("max_peak"))),
    "media_pixels" -> ((s, d) => {
      // pixel/sample CONTENT decode under the EXACT oracle: containers are
      // fully real (cycling PNG filters, real zlib IDAT, real CRCs;
      // canonical RIFF/WAVE) but carry a linear-mod-256 content pattern, so
      // DuckDB recomputes the DECODED channel/amplitude sums analytically
      // from the same event_id arithmetic — end-to-end verification of the
      // inflate + all-five-filter unfilter and RIFF-walk + LE PCM kernels
      import graft.functions.{PngImageLinExpr, PngStatsExpr, WavAudioLinExpr, WavStatsExpr}
      val isPng = col("event_id") % 3 =!= 0
      val w = (col("event_id") % 32 + 8).cast("int")
      val h = (col("event_id") % 24 + 8).cast("int")
      val ch = when(col("event_id") % 6 === 0, 1).otherwise(2).cast("int")
      val nf = (col("event_id") % 300 + 64).cast("int")
      val payload = when(isPng, PngImageLinExpr(w, h, col("event_id")))
        .otherwise(WavAudioLinExpr(lit(44100), ch, nf, col("event_id")))
      Tables.events(s, d).where(col("event_id") % 20 === 0)
        .select(col("event_id"), payload.as("payload"))
        .select(col("event_id"),
          PngStatsExpr(col("payload")).as("px"),
          WavStatsExpr(col("payload")).as("au"))
        .select(
          col("event_id"),
          when(isPng, lit("image/png")).otherwise("audio/wav").as("media_kind"),
          when(isPng, col("px.width").cast("long")).as("width"),
          when(isPng, col("px.height").cast("long")).as("height"),
          when(isPng, col("px.sum_r")).as("sum_r"),
          when(isPng, col("px.sum_g")).as("sum_g"),
          when(isPng, col("px.sum_b")).as("sum_b"),
          when(isPng, col("px.sum_a")).as("sum_a"),
          when(!isPng, col("au.n_samples")).as("n_samples"),
          when(!isPng, col("au.sum_abs")).as("sum_abs"),
          when(!isPng, col("au.peak").cast("long")).as("peak"))
    }),
    "media_meta" -> ((s, d) => {
      // REAL container-header decode: synthesize actual PNG/WAV headers
      // from event_id arithmetic, parse them back with the byte-expression
      // decoder, and let the oracle recompute the expected fields from the
      // same arithmetic — end-to-end verification of the binary parsing
      val M = operators.Multimodal
      val w  = (col("event_id") % 1856 + 64).cast("int")
      val h  = (col("event_id") % 1016 + 64).cast("int")
      val sr = when(col("event_id") % 9 === 0, 8000)
        .when(col("event_id") % 9 === 3, 22050).otherwise(44100).cast("int")
      val ch = when(col("event_id") % 6 === 0, 1).otherwise(2).cast("int")
      val body = encode(col("event_id").cast("string"), "UTF-8")
      val payload = when(col("event_id") % 3 =!= 0, M.pngPayload(w, h, body))
        .otherwise(M.wavPayload(sr, ch, body))
      Tables.events(s, d)
        .select(col("event_id"), M.decodeMeta(payload).as("m"))
        .select(col("event_id"), col("m.sniffed_type").as("sniffed_type"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.bit_depth").as("bit_depth"), col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.n_bytes").as("n_bytes"))
    }),
    "gps_sleep" -> ((s, d) =>
      DailyFeatures.sleepEstimate(
        Tables.gps(s, d).withColumn("date", col("ts").cast("date")))
        .withColumn("date", col("date").cast("timestamp"))),

    // ---- POI normalization (H6/H8, gscap/gps.py:215-257) ----------------
    "poi_yelp" -> ((s, d) => {
      val aliases = SparkEntry.YelpAliases.map(_._1)
      val a1 = element_at(typedlit(aliases), (col("event_id") % 6).cast("int") + 1)
      val a2 = element_at(typedlit(aliases), ((col("event_id") * 5 + 1) % 6).cast("int") + 1)
      val content = concat(lit("""{"businesses": [{"name": "B"""), col("event_id"),
        lit("""", "categories": [{"alias": """"), a1, lit(""""}, {"alias": """"), a2,
        lit(""""}]}]}"""))
      operators.Poi.parseYelp(
        Tables.events(s, d).select(col("event_id"), content.as("content")),
        SparkEntry.YelpAliases.toMap)
        .select("event_id", "name", "rank_order", "categories", "major_categories")
    }),

    // ---- notebook enrichment joins (J10) ---------------------------------
    "dim_zips" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val zbp = n.select((col("n_nationkey") + 10000).cast("long").as("zipcode"),
        concat(lit("city_"), col("n_nationkey")).as("city"),
        concat(lit("county_"), col("n_nationkey") % 7).as("county"),
        concat(lit("S"), col("n_nationkey") % 4).as("stabbr"))
      val gaz = n.where(col("n_nationkey") % 5 =!= 4).select(
        (col("n_nationkey") + 10000).cast("long").as("zipcode"),
        (lit(40.0) + (col("n_nationkey") % 5).cast("double") * 1e-2 + 2e-3).as("lat"),
        (lit(-75.0) + (col("n_nationkey") % 3).cast("double") * 1e-2 + 2e-3).as("lon"))
      val states = Tables.region(s, d).select(
        concat(lit("S"), col("r_regionkey")).as("Code"),
        concat(lit("State "), col("r_regionkey")).as("State"))
      val tz = n.where(col("n_nationkey") % 2 === 0).select(
        (col("n_nationkey") + 10000).cast("long").as("zipcode"),
        concat(lit("America/Zone_"), col("n_nationkey") % 4).as("timezone"))
      operators.Enrich.zipGazetteer(zbp, gaz, states, tz)
    }),
    "dim_counties" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val counties = n.select(col("n_nationkey").as("county_fips"),
        (col("n_nationkey") % 5).as("state_fips"),
        concat(lit("County "), col("n_nationkey")).as("county_name"))
      val rankings = n.where(col("n_nationkey") % 2 === 0).select(
        concat(lpad((col("n_nationkey") % 5).cast("string"), 2, "0"),
          lpad(col("n_nationkey").cast("string"), 3, "0")).as("fips"),
        (col("n_nationkey") % 10 + 1).cast("long").as("health_outcomes_rank"))
      operators.Enrich.countyRankings(counties, rankings)
        .select("fips", "county_fips", "state_fips", "county_name", "health_outcomes_rank")
    }),

    // ---- POI gmap lattice (H6/H7/H8, gscap/gps.py:338-448) --------------
    "poi_gmap" -> ((s, d) => {
      val m = (col("event_id") % 14).cast("int")
      val content = element_at(typedlit(SparkEntry.GmapPayloads), m + 1)
      operators.Poi.parseGmap(
        Tables.events(s, d).select(col("event_id"), content.as("content")),
        SparkEntry.GmapMappings)
        .select("event_id", "name", "rank_order", "categories", "major_categories")
    }),

    // ---- weather enrichment (G10/J3/G11, gscap/weather.py:349-402) ------
    "weather_daily" -> ((s, d) => {
      val out = operators.Weather.dailySummary(Tables.weatherHourly(s, d))
      val stdCols = Seq("cloud_cover_std", "dew_point_std", "humidity_std", "temp_std")
      stdCols.foldLeft(out)((df, c) => df.withColumn(c, bround(col(c), 4)))
        .withColumn("date", col("date").cast("timestamp"))
    }),
    "weather_cache" -> ((s, d) => {
      val reqs = Tables.weatherHourly(s, d).select("zipcode", "date").distinct()
      val cache = reqs.where(dayofmonth(col("date")) <= 15)
        .withColumn("cached_report", lit("hit"))
      val joined = operators.Weather.cacheLookup(reqs, cache, Seq("zipcode", "date"))
      operators.Weather.hitMissCounts(joined, "cached_report", Seq("zipcode"))
    }),

    // ---- document pipeline ----------------------------------------------
    "doc_dups" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(substring(col("text"), 1, 40).cast("binary")).as("prefix_hash"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
        .where(col("n_docs") > 1)),
    "doc_quality" -> ((s, d) => Docs.qualityFeatures(Tables.documents(s, d))),
    "doc_repetition" -> ((s, d) =>
      // Gopher repetition filters (top-2-gram / duplicate-5-gram): compiled
      // per-row kernel, zero shuffles; exact-integer counts + one-division
      // fractions under the DuckDB unnest→GROUP BY twin
      Docs.repetitionScores(Tables.documents(s, d))),
    "doc_split" -> ((s, d) =>
      // deterministic xxhash64 train/val/test assignment — reproducible
      // holdout membership as a pure projection; exact XXH64 twin
      Docs.splitAssign(Tables.documents(s, d))),
    "doc_sample" -> ((s, d) =>
      // stratified language rebalancing: salt-decorrelated xxhash64 keep
      // decision per doc — pure filter, zero shuffles; chained-XXH64 twin
      Docs.sampleStratified(Tables.documents(s, d))),
    "doc_mix" -> ((s, d) =>
      // data-recipe epoch reweighting: per-source integer tier compare →
      // broadcast join → map-side explode; exact all-integer twin
      Docs.mixEpochs(Tables.documents(s, d))),
    "doc_decontam" -> ((s, d) =>
      // test-set-leakage filter: flag train docs sharing any 5-gram with
      // the held-out test split (same xxhash64 buckets as doc_split);
      // gram-set equi join + one doc_id agg; exact XXH64 + shingle twin
      Docs.decontam(Tables.documents(s, d))),
    "doc_domain_cap" -> ((s, d) =>
      // per-source frequency cap by deterministic hash rank; the shuffle
      // is bounded by InferWindowGroupLimit (partial group-limit below the
      // exchange, plan-pinned); exact XXH64 rank twin
      Docs.domainCap(Tables.documents(s, d))),
    "doc_pack" -> ((s, d) =>
      // GPT-style concat-and-chunk sequence packing: xxhash64 shard fan-out
      // → per-shard window cumsum → integer-DIV sequence index; all-integer
      // arithmetic so the XXH64 + window-sum twin is bit-identical
      Docs.packSequences(Tables.documents(s, d))),
    "doc_postings" -> ((s, d) =>
      // inverted index with a VISIBLE posting cap: fixed-width stats agg +
      // semi-join-gated postings so stopword lists never ride a shuffle
      Docs.invertedIndex(Tables.documents(s, d))),
    "doc_rare" -> ((s, d) =>
      // perplexity-sibling quality score: per-doc fraction of occurrences
      // of corpus-rare tokens; tf⋈df join (no vocab broadcast — the long
      // tail IS the vocabulary at web scale); exact ints + one division
      Docs.rareTokenRatio(Tables.documents(s, d))),
    "doc_chunk" -> ((s, d) =>
      // RAG chunking: overlapping fixed-token windows, every boundary AND
      // its contents pinned by the chunk md5; pure projection + map-side
      // explode, zero shuffles
      Docs.chunkDocs(Tables.documents(s, d))),
    "doc_assembly" -> ((s, d) =>
      // the capstone: dedup → token gate → split → decontam-drop →
      // domain cap → train packing → per-(split,source) summary, ONE
      // plan under ONE oracle; a single XXH64 serves split/cap/shard
      Docs.assembleDataset(Tables.documents(s, d))),
    "doc_dedup_exact" -> ((s, d) =>
      Docs.dedupExact(Tables.documents(s, d))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))),
    "doc_lang" -> ((s, d) => Docs.langScores(Tables.documents(s, d))),
    "doc_filter_pipeline" -> ((s, d) =>
      // the C4/CCNet cleaning pipeline end-to-end in one plan: exact dedup
      // → quality gates → language argmax → membership-pinning summary;
      // every stage exact cross-engine arithmetic → whole-pipeline oracle
      Docs.filterPipeline(Tables.documents(s, d))),
    "doc_minhash" -> ((s, d) =>
      Docs.minHashCandidates(Docs.minHashSignature(Tables.documents(s, d)))),
    "doc_minhash_md5" -> ((s, d) =>
      // the md5 MinHash family under an EXACT oracle: md5-based
      // permutations and band hashes, and the per-pair shared-band count
      // that doc_minhash's distinct pairs do not carry (doc_minhash itself
      // has an exact XXH64 twin)
      Docs.minHashMd5Candidates(Docs.minHashMd5Signature(Tables.documents(s, d)))),
    "doc_simhash" -> ((s, d) => Docs.simHash(Tables.documents(s, d))),
    "doc_dedup_minhash" -> ((s, d) => {
      // near-dup dedup END-TO-END under the exact oracle: md5 minhash →
      // bands → capped buckets → candidate pairs → connected components →
      // per-cluster summary keyed by the min-doc_id representative
      val cands = Docs.minHashMd5Candidates(Docs.minHashMd5Signature(Tables.documents(s, d)))
      Docs.nearDupClusters(cands)
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_docs"), max("doc_id").as("max_doc"),
          sum("doc_id").as("id_sum"))
    }),
    "doc_simhash_md5" -> ((s, d) =>
      // the 60-bit md5 SimHash kernel under the EXACT oracle (md5 per-token
      // hash both engines recompute); doc_simhash above pins the xxhash64
      // production kernel through its exact XXH64 twin
      Docs.simHashMd5(Tables.documents(s, d))),
    "doc_fingerprint" -> ((s, d) =>
      // rolling-hash fingerprint mechanics mod 1e9+7 (DuckDB traps on the
      // wrapping-Long variant; Docs.fingerprint stays the production path)
      Docs.fingerprintMod(Tables.documents(s, d))),
    "doc_tokens" -> ((s, d) => Docs.tokenCounts(Tables.documents(s, d))),
    "doc_winnow" -> ((s, d) => Docs.winnowSummary(Tables.documents(s, d))),
    "doc_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // materialize signatures and shingles once — both are consumed by
      // self-join sides, which would otherwise recompute the HOF-heavy
      // shingling per side
      val sigs = Docs.minHashSignature(docs).localCheckpoint()
      val cand = Docs.minHashCandidates(sigs)
      val sh = docs.select(col("doc_id"), Docs.shingles(col("text"), Docs.DefaultShingleSize).as("sh"))
        .localCheckpoint()
      // jaccard stays a RAW double (exact int counts, one IEEE division —
      // bit-identical cross-engine; a bround could land on a rounding tie)
      Docs.jaccardFromShingles(sh, cand)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
    }),

    "doc_jaccard_exact" -> ((s, d) => {
      // jaccard math itself under an exact oracle: candidate rule is
      // SQL-expressible (shared 40-char prefix hash, the doc_dups grouping)
      // so DuckDB recomputes shingles + set jaccard independently; values
      // stay RAW doubles (single int/int division — bit-identical, and a
      // round() could tie on ratios like 1/640)
      val docs = Tables.documents(s, d)
      val pref = docs.select(col("doc_id"),
        md5(substring(col("text"), 1, 40).cast("binary")).as("ph"))
      val pairs = pref.as("a").join(pref.as("b"),
          col("a.ph") === col("b.ph") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      // materialize the shingle frame consumed by BOTH pair sides
      // (jaccardFromShingles' documented contract; the doc_jaccard pattern)
      // so the compiled shingle kernel scans the corpus once, not per side
      val sh = docs.select(col("doc_id"), Docs.shingles(col("text"), Docs.DefaultShingleSize).as("sh"))
        .localCheckpoint()
      Docs.jaccardFromShingles(sh, pairs)
    }),

    // ---- similarity search ----------------------------------------------
    "emb_pq_adc" -> ((s, d) => {
      // ADC search over the PQ codes: full-precision query vs 2-bit-digit
      // code lookups — corpus side carries only (vec_id, code); exact twin
      val e = Tables.embeddings(s, d)
      Similarity.pqTopKFixed(e, e.where(col("vec_id") % 100 === 0), k = 5)
    }),
    "emb_pq_fixed" -> ((s, d) =>
      // product-quantization encode mechanics under the exact oracle:
      // per-subvector integer-codebook argmin (compiled-kernel distance
      // folds), packed code + reconstruction error; pure projection
      Similarity.pqEncodeFixed(Tables.embeddings(s, d))),
    "emb_quant" -> ((s, d) =>
      // int8 scalar quantization: per-dim corpus min/max bounds → one
      // identical IEEE expression → integer codes; checksum outputs pin
      // every code; dims-key agg + broadcast, no HOFs
      Similarity.quantizeInt8(Tables.embeddings(s, d))),
    "emb_norms" -> ((s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"), col("label"),
        bround(Similarity.l2Norm(col("embedding")), 4).as("l2_norm"))),
    "emb_sim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // norms staged per row (r6) — one dot kernel per joined pair instead
      // of dot + two sumSq folds; same expressions/order, bit-identical
      val q = e.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          Similarity.l2Norm(col("embedding")).as("qnrm"))
      e.withColumn("nrm", Similarity.l2Norm(col("embedding")))
        .join(broadcast(q), col("vec_id") =!= col("query_id"))
        .withColumn("cosine",
          Similarity.dot(col("embedding"), col("q_emb")) / (col("nrm") * col("qnrm")))
        .where(col("cosine") >= 0.3)
        .select(col("query_id"), col("vec_id"), bround(col("cosine"), 4).as("cosine"))
    }),
    "emb_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // codebook = spherical k-means trained ONCE per corpus snapshot on a
      // deterministic sample (cached in-JVM + persisted — repeated
      // invocations skip the count/collect/Lloyd training job entirely);
      // assignment + probe-join + rerank stay fully distributed
      val cb = Similarity.trainCentroidsCached(e, dim = 64, nCells = 16, corpusKey = d)
      Similarity.ivfTopK(e, e.where(col("vec_id") % 100 === 0),
        dim = 64, nCells = 16, nProbe = 6, k = 5, codebook = Some(cb))
        .select("query_id", "vec_id", "rank")
    }),
    "emb_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e, e.where(col("vec_id") % 100 === 0),
        (0 until 8).map(t => Similarity.lcgPlanes(64, 4, t.toLong)), k = 5)
        .select("query_id", "vec_id", "rank")
    }),
    "emb_ivf_fixed" -> ((s, d) => {
      // the complete IVF probe pipeline (cell argmax-assign → nProbe probe
      // equi-join → exact cosine rerank → bounded top-k) under the EXACT
      // oracle: the codebook is a literal small-integer matrix both engines
      // share, so assignments, probes and rank order are reproducible
      // bit-for-bit; emb_ivf above keeps the trained production codebook
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.where(col("vec_id") % 100 === 0), dim = 64, nCells = 4,
        nProbe = 2, k = 3, codebook = Some(Similarity.fixedIntCodebook(64, 4)))
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    "emb_lsh_fixed" -> ((s, d) => {
      // LSH mechanics (hyperplane signature → bucket equi-join → exact
      // rerank → bounded top-k) under the EXACT oracle via integer
      // hyperplanes; emb_lsh above keeps the LCG production planes
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(e, e.where(col("vec_id") % 100 === 0),
        Seq(Similarity.fixedIntPlanes(64, 4)), k = 3)
        .select(col("query_id"), col("vec_id"), col("rank").cast("long").as("rank"))
    }),
    "emb_dedup" -> ((s, d) => {
      // embedding-cosine near-dup dedup, scale-shaped: LSH bucket equi-join
      // prefilter (never all-pairs) → exact cosine gate → connected
      // components → min-vec_id representative summary; integer planes keep
      // the whole chain exact-oracle reproducible. Bucket count must grow
      // with the corpus (bits ≈ log2(n / targetBucketSize); 4 bits suits
      // the test SF — at 10^12 rows use ~30 bits plus the maxBucket cap
      // discipline of Docs.minHashCandidates to bound within-bucket pairs)
      // the toy parquet is a single split; the broadcast-probe side would
      // inherit that ONE partition and run every cosine on one core — spread
      // it the way a many-split production table arrives naturally
      val e = Tables.embeddings(s, d).repartition(s.sparkContext.defaultParallelism)
      val planes = Similarity.fixedIntPlanes(64, 4)
      // l2 norm staged per ROW (r6, guide §1.2 per-task work): the inline
      // cosine re-ran both sumSq folds per PAIR; staged, each within-bucket
      // pair pays one dot kernel. Same sqrt(sumSq) expression, same
      // multiply/divide order — the cosine double is bit-identical.
      val sig = e.select(col("vec_id"), col("embedding"),
        Similarity.planeSignature(col("embedding"), planes).as("bucket"),
        Similarity.l2Norm(col("embedding")).as("nrm"))
      // deterministic salt (guide §2.5): 2^bits buckets are far fewer keys
      // than cluster slots, so the self-join ran on ≤16 of 32 partitions.
      // a-side salts on vec_id; b-side replicates S ways; join keys become
      // (bucket, salt) — same pair set, S× the key spread, b-side shuffle
      // grows only by the small replication factor.
      val S = math.max(2, s.sparkContext.defaultParallelism / 8)
      val a = sig.withColumn("salt", pmod(col("vec_id"), lit(S)))
      val b = sig.withColumn("salt", explode(array((0 until S).map(lit): _*)))
      val pairs = a.as("a").join(b.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.salt") === col("b.salt") &&
            col("a.vec_id") < col("b.vec_id"))
        .where(Similarity.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")) >= 0.4)
        .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      Docs.nearDupClusters(pairs)
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_vecs"), max("doc_id").as("max_vec"))
    })
  )

  /** Triangle for the ray-cast PIP query (J11 exact-refine path).
    * No two vertices share a latitude — a shared lat makes one edge's
    * crossing test a trivially-true X<>X predicate (plan-log noise).
    */
  val TestTriangle: Seq[(Double, Double)] =
    Seq((39.999, -75.01), (40.05, -75.005), (39.95, -74.93))

  /** Synthetic Yelp alias dim for the poi_yelp query (reference ships the
    * full yelp_mappings.txt; semantics identical).
    */
  val YelpAliases: Seq[(String, String)] = Seq(
    "banks" -> "finance", "bars" -> "dining_out", "coffee" -> "dining_out",
    "gyms" -> "health", "plumbing" -> "home_services", "tacos" -> "dining_out")

  /** Synthetic gmap type→major dim (the reference's gmap_mappings.txt shape,
    * gps.py:294-316).
    */
  val GmapMappings: Map[String, String] = Map(
    "campground" -> "lodging", "restaurant" -> "dining_out",
    "supermarket" -> "consumer_goods", "store" -> "consumer_goods",
    "food" -> "dining_out", "department_store" -> "consumer_goods",
    "gas_station" -> "transportation", "lodging" -> "lodging",
    "transit_station" -> "transportation", "health" -> "health",
    "finance" -> "finance", "bakery" -> "dining_out")

  /** 14 deterministic gmap payload variants (selected by event_id % 14),
    * jointly covering parse_gmap_response's lattice (gps.py:338-448):
    * hyperlink strip, ignored-type skipping + rank_order enumerate,
    * named-store overrides, gas/lodging/transit/health-doctor/health-store/
    * store-finance/restaurant branches, the not-found / error / corrupt
    * sentinels. The oracle recomputes the EXPECTED outputs per variant (the
    * poi_yelp pattern), so the whole lattice is end-to-end verified.
    */
  val GmapPayloads: Seq[String] = Seq(
    """{"results": [{"name": "<a href=\"https://maps.example/c\">Camp A</a>", "types": ["campground", "point_of_interest"]}], "status": "OK"}""",
    """{"results": [{"name": "city", "types": ["locality", "political"]}, {"name": "Shop B", "types": ["store", "establishment"]}]}""",
    """{"results": [{"name": "Sears", "types": ["store", "establishment"]}]}""",
    """{"results": [{"name": "Fred Meyer", "types": ["grocery_or_supermarket", "store"]}]}""",
    """{"results": [{"name": "Gas C", "types": ["gas_station", "food", "store"]}]}""",
    """{"results": [{"name": "Hotel D", "types": ["lodging", "spa"]}]}""",
    """{"results": [{"name": "Stop E", "types": ["transit_station", "bus_station"]}]}""",
    """{"results": [{"name": "Clinic F", "types": ["health", "doctor"]}]}""",
    """{"results": [{"name": "Pharm G", "types": ["health", "store", "pharmacy"]}]}""",
    """{"results": [{"name": "ATM H", "types": ["finance", "store", "atm"]}]}""",
    """{"results": [{"name": "Rest I", "types": ["restaurant", "bakery", "food"]}]}""",
    """{"results": [{"name": "city", "types": ["locality", "political"]}]}""",
    """{"error": "quota_exceeded"}""",
    """{nope""")

  /** Expected parseGmap outputs per payload variant, hand-traced through the
    * lattice (pinned again in PoiSpec): (name, rank_order, categories,
    * major_categories).
    */
  val GmapExpected: Seq[(String, Int, String, String)] = Seq(
    ("Camp A", 0, "campground", "lodging"),
    ("Shop B", 1, "store", "consumer_goods"),
    ("Sears", 0, "department_store", "consumer_goods"),
    ("Fred Meyer", 0, "supermarket", "consumer_goods"),
    ("Gas C", 0, "gas_station", "transportation"),
    ("Hotel D", 0, "lodging", "lodging"),
    ("Stop E", 0, "transit_station", "transportation"),
    ("Clinic F", 0, "health", "health"),
    ("Pharm G", 0, "supermarket", "consumer_goods"),
    ("ATM H", 0, "finance", "finance"),
    ("Rest I", 0, "bakery", "dining_out"),
    ("not found", -1, "none", "none"),
    ("quota_exceeded", -1, "none", "none"),
    ("JSONDecodeError", -1, "{nope", "JSONDecodeError"))

  /** SQL twin of Docs' language-score fold: one `<prefix><lang>` column per
    * language, sorted, each line indented by `indent`.
    */
  private def langScoreCols(indent: String, prefix: String): String =
    Docs.LangMarkers.toSeq.sortBy(_._1).map { case (lang, pats) =>
      val terms = pats.map(p =>
        s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', '$p', ''))) / ${p.length}")
        .mkString(" + ")
      s"${indent}CAST($terms AS BIGINT) AS $prefix$lang"
    }.mkString(",\n")

  def oracleSql: Map[String, String] = {
    import OracleSql.{gpsCte, labCtes, velCtes, visitCtes, s2CellCtes}

    Map(
      "q1_pricing" ->
        """WITH li AS (
          |  SELECT *, CAST(round(l_extendedprice * 1e2, 0) AS BIGINT) AS p100,
          |    CAST(round(l_discount * 1e2, 0) AS BIGINT) AS d100,
          |    CAST(round(l_tax * 1e2, 0) AS BIGINT) AS t100
          |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          |)
          |SELECT l_returnflag, l_linestatus,
          |  sum(l_quantity) AS sum_qty,
          |  CAST(sum(p100) AS DOUBLE) / 1e2 AS sum_base_price,
          |  CAST(sum(p100 * (100 - d100)) AS DOUBLE) / 1e4 AS sum_disc_price,
          |  CAST(sum(p100 * (100 - d100) * (100 + t100)) AS DOUBLE) / 1e6 AS sum_charge,
          |  sum(l_quantity) / CAST(count(*) AS DOUBLE) AS avg_qty,
          |  CAST(sum(d100) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e2 AS avg_disc,
          |  count(*) AS count_order
          |FROM li GROUP BY l_returnflag, l_linestatus""".stripMargin,
      "q3_revenue" ->
        """SELECT o_orderkey,
          |  CAST(sum(CAST(round(l_extendedprice * 1e2, 0) AS BIGINT)
          |    * (100 - CAST(round(l_discount * 1e2, 0) AS BIGINT))) AS DOUBLE) / 1e4 AS revenue,
          |  count(*) AS n_items
          |FROM customer, orders, lineitem
          |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |  AND o_orderkey = l_orderkey AND l_shipdate > o_orderdate
          |GROUP BY o_orderkey""".stripMargin,

      "gps_velocity" ->
        s"""WITH $gpsCte, $velCtes
           |SELECT user_id, event_id, ts, lat, lon, binning, displacement, time_delta, velocity
           |FROM vel""".stripMargin,
      "gps_resample" ->
        s"""WITH $gpsCte
           |SELECT user_id, date_trunc('minute', ts) AS ts,
           |       avg(lat) AS lat, avg(lon) AS lon, count(*) AS n_points
           |FROM gps GROUP BY user_id, date_trunc('minute', ts)""".stripMargin,

      "gps_first_delta" ->
        s"""WITH $gpsCte, $velCtes
           |SELECT user_id, event_id, ts, binning,
           |  CASE WHEN ts = min(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AND binning <> 'null'
           |       THEN epoch_us(ts) // 1000000 - epoch_us(date_trunc('day', ts)) // 1000000
           |       ELSE time_delta END AS time_delta
           |FROM vel""".stripMargin,
      // gps_tiles' oracle encodes level 5 DIRECTLY from lat/lon while the
      // Spark side takes toParent(cell13) — their equality IS the Hilbert
      // prefix property of the codec, verified end-to-end by the hash match
      "gps_cells" ->
        s"""WITH $gpsCte, ${s2CellCtes("gps", "lat", "lon", 13, "gc")}
           |SELECT gc_cell AS cell, count(*) AS n_points FROM gc GROUP BY 1""".stripMargin,
      "gps_tiles" ->
        s"""WITH $gpsCte, ${s2CellCtes("gps", "lat", "lon", 5, "gt")}
           |SELECT gt_cell AS tile_id, count(*) AS n_points,
           |       count(DISTINCT user_id) AS n_users
           |FROM gt GROUP BY 1""".stripMargin,

      "gps_sessions" ->
        s"""WITH $visitCtes
           |SELECT user_id, CAST("date" AS TIMESTAMP) AS "date", pos, cid, time_in, time_out, n_points, duration, midpoint, lat, lon
           |FROM visits""".stripMargin,
      "gps_visit_stats" ->
        s"""WITH $visitCtes
           |SELECT user_id, cid,
           |  count(*) AS times_entered,
           |  CAST(sum(duration) AS DOUBLE) / 36e2 AS total_duration,
           |  CAST(sum(duration) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 36e2 AS mean_duration,
           |  CAST(max(duration) AS DOUBLE) / 36e2 AS max_duration,
           |  CAST(min(duration) AS DOUBLE) / 36e2 AS min_duration,
           |  CAST(max(epoch_us(midpoint) // 1000000) - min(epoch_us(midpoint) // 1000000) AS DOUBLE)
           |    / (CASE WHEN count(*) > 1 THEN CAST(count(*) - 1 AS DOUBLE) END) / 36e2 AS mean_ti_between_visits
           |FROM visits WHERE cid <> 'xNot'
           |GROUP BY user_id, cid""".stripMargin,

      "gps_daily" -> {
        val binCols = Motion.Bins.map { b =>
          s"""  CAST(coalesce(sum(CASE WHEN binning = '$b' THEN time_delta END), 0) AS DOUBLE) / 36e2 AS hours_$b,
             |  round(coalesce(sum(CASE WHEN binning = '$b' THEN displacement END), 0e0), 3) AS distance_$b""".stripMargin
        }.mkString(",\n")
        s"""WITH $labCtes,
           |top3 AS (
           |  SELECT user_id, cid FROM (
           |    SELECT user_id, cid,
           |      row_number() OVER (PARTITION BY user_id ORDER BY sum(time_delta) DESC, cid ASC) AS rk
           |    FROM lab WHERE cid <> 'home' AND cid <> 'work' AND cid <> 'xNot'
           |    GROUP BY user_id, cid) t
           |  WHERE rk <= 3
           |),
           |lab2 AS (
           |  SELECT l.*, (t.cid IS NOT NULL) AS is_top
           |  FROM lab l LEFT JOIN top3 t ON l.user_id = t.user_id AND l.cid = t.cid
           |)
           |SELECT user_id, CAST("date" AS TIMESTAMP) AS "date",
           |  CASE WHEN stddev_pop(lat) + stddev_pop(lon) > 0e0
           |       THEN round(ln(stddev_pop(lat) + stddev_pop(lon)), 3) END AS location_variance,
           |  count(DISTINCT hour(ts)) AS hours_accounted_for,
           |  CAST(coalesce(sum(CASE WHEN binning = 'stationary' AND cid <> 'home' AND cid <> 'work' THEN time_delta END), 0) AS DOUBLE) / 36e2 AS hours_stationary_nhw,
           |  max(cid = 'work') AS came_to_work,
           |  count(DISTINCT cid) AS number_of_clusters,
           |  CAST(coalesce(sum(CASE WHEN cid = 'home' THEN time_delta END), 0) AS DOUBLE) / 36e2 AS hours_in_home,
           |  CAST(coalesce(sum(CASE WHEN cid = 'work' THEN time_delta END), 0) AS DOUBLE) / 36e2 AS hours_in_work,
           |  CAST(coalesce(sum(CASE WHEN is_top THEN time_delta END), 0) AS DOUBLE) / 36e2 AS hours_in_top3,
           |$binCols
           |FROM lab2 GROUP BY user_id, "date"""".stripMargin
      },
      "gps_entropy" ->
        s"""WITH $labCtes,
           |dw AS (
           |  SELECT user_id, "date", cid, sum(time_delta) AS dwell
           |  FROM lab WHERE cid <> 'xNot' AND time_delta IS NOT NULL
           |  GROUP BY user_id, "date", cid
           |),
           |pr AS (
           |  SELECT *, CAST(dwell AS DOUBLE) / CAST(sum(dwell) OVER (PARTITION BY user_id, "date") AS DOUBLE) AS p
           |  FROM dw
           |)
           |SELECT user_id, CAST("date" AS TIMESTAMP) AS "date",
           |  round(-sum(p * ln(p)), 6) + 0e0 AS entropy,
           |  count(*) AS n_clusters,
           |  (CASE WHEN count(*) > 1 THEN round((round(-sum(p * ln(p)), 6)) / ln(CAST(count(*) AS DOUBLE)), 6) END) + 0e0 AS normalized_entropy
           |FROM pr GROUP BY user_id, "date"""".stripMargin,
      "gps_gyration" ->
        s"""WITH $labCtes,
           |cen AS (
           |  SELECT user_id, "date", avg(lat) AS clat, avg(lon) AS clon
           |  FROM lab GROUP BY user_id, "date"
           |)
           |SELECT l.user_id, CAST(l."date" AS TIMESTAMP) AS "date",
           |  round(sqrt(avg(${hav("l.lat", "l.lon", "c.clat", "c.clon")} * ${hav("l.lat", "l.lon", "c.clat", "c.clon")})), 0) AS radius_of_gyration_m
           |FROM lab l JOIN cen c ON l.user_id = c.user_id AND l."date" = c."date"
           |GROUP BY l.user_id, l."date"""".stripMargin,
      "gps_top_clusters" ->
        s"""WITH $labCtes,
           |dw AS (
           |  SELECT user_id, cid, sum(time_delta) AS dwell_seconds
           |  FROM lab WHERE cid <> 'home' AND cid <> 'work' AND cid <> 'xNot'
           |  GROUP BY user_id, cid
           |),
           |rk AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id ORDER BY dwell_seconds DESC, cid ASC) AS INT) AS rank
           |  FROM dw
           |)
           |SELECT user_id, cid, dwell_seconds, rank FROM rk WHERE rank <= 3""".stripMargin,

      "gps_knn" ->
        s"""WITH $gpsCte,
           |sites AS (
           |  SELECT n_nationkey,
           |    4e1 + CAST(n_nationkey % 5 AS DOUBLE) * 1e-2 + 2e-3 AS d_lat,
           |    -75e0 + CAST(n_nationkey % 3 AS DOUBLE) * 1e-2 + 2e-3 AS d_lon
           |  FROM nation
           |),
           |scored AS (
           |  SELECT g.event_id, s.n_nationkey,
           |    ${euclid2("g.lat", "g.lon", "s.d_lat", "s.d_lon")} AS d2
           |  FROM gps g CROSS JOIN sites s
           |),
           |rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY d2 ASC, n_nationkey ASC) AS rn
           |  FROM scored
           |)
           |SELECT event_id, n_nationkey, d2 FROM rk WHERE rn = 1""".stripMargin,
      "gps_tz" ->
        s"""WITH $gpsCte,
           |zips AS (
           |  SELECT n_nationkey + 10000 AS zipcode,
           |    4e1 + CAST(n_nationkey % 5 AS DOUBLE) * 1e-2 + 2e-3 AS d_lat,
           |    -75e0 + CAST(n_nationkey % 3 AS DOUBLE) * 1e-2 + 2e-3 AS d_lon,
           |    'America/Zone_' || CAST(n_nationkey % 4 AS VARCHAR) AS timezone
           |  FROM nation
           |),
           |rk AS (
           |  SELECT g.event_id, z.zipcode, z.timezone,
           |    row_number() OVER (PARTITION BY g.event_id
           |      ORDER BY ${euclid2("g.lat", "g.lon", "z.d_lat", "z.d_lon")} ASC, z.zipcode ASC) AS rn
           |  FROM gps g CROSS JOIN zips z
           |)
           |SELECT timezone, count(*) AS n_points, count(DISTINCT zipcode) AS n_zips
           |FROM rk WHERE rn = 1 GROUP BY timezone""".stripMargin,
      "gps_pip" ->
        s"""WITH $gpsCte,
           |rects AS (
           |  SELECT r_regionkey,
           |    4e1 + CAST(r_regionkey AS DOUBLE) * 1e-2 - 2e-3 AS lat_min,
           |    4e1 + CAST(r_regionkey AS DOUBLE) * 1e-2 + 6e-3 AS lat_max,
           |    -76e0 AS lon_min, -74e0 AS lon_max
           |  FROM region
           |)
           |SELECT g.event_id, r.r_regionkey
           |FROM gps g JOIN rects r
           |  ON g.lat >= r.lat_min AND g.lat < r.lat_max
           | AND g.lon >= r.lon_min AND g.lon < r.lon_max""".stripMargin,
      "gps_raycast" ->
        s"""WITH $gpsCte
           |SELECT event_id, lat, lon FROM gps
           |WHERE ${OracleSql.rayCastSql("lat", "lon", TestTriangle)}""".stripMargin,
      "gps_fence" ->
        s"""WITH $labCtes
           |SELECT user_id, cid, count(*) AS n_points FROM lab GROUP BY user_id, cid""".stripMargin,
      "gps_far" ->
        s"""WITH $gpsCte,
           |centers AS (
           |  SELECT DISTINCT $hlat AS c_lat, $hlon AS c_lon FROM events
           |)
           |SELECT g.event_id FROM gps g
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM centers c
           |  WHERE ${hav("g.lat", "g.lon", "c.c_lat", "c.c_lon")} < 1e2)""".stripMargin,
      "gps_pairwise" ->
        s"""WITH $gpsCte,
           |u AS (SELECT event_id AS id, lat, lon FROM gps WHERE user_id = 1)
           |SELECT a.id AS id1, b.id AS id2,
           |  round(${hav("a.lat", "a.lon", "b.lat", "b.lon")}, 1) AS distance
           |FROM u a JOIN u b ON a.id < b.id""".stripMargin,

      "gps_asof" ->
        s"""WITH $gpsCte,
           |pur AS (
           |  SELECT user_id, ts, max(value) AS value
           |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
           |)
           |SELECT g.user_id, g.event_id, g.ts, p.value AS asof_value
           |FROM gps g ASOF LEFT JOIN pur p ON g.user_id = p.user_id AND g.ts >= p.ts""".stripMargin,

      "gps_session_attr" ->
        s"""WITH $visitCtes
           |SELECT g.user_id, g.event_id, v.cid, v.pos, v.time_in
           |FROM gps g JOIN visits v
           |  ON g.user_id = v.user_id AND g.ts >= v.time_in AND g.ts <= v.time_out""".stripMargin,

      "gps_impute" ->
        s"""WITH $gpsCte, ${OracleSql.imputeCtes}
           |SELECT user_id, event_id, ts, lat, lon FROM gps
           |UNION ALL
           |SELECT user_id, event_id, ts, lat, lon FROM imputed""".stripMargin,

      "gps_valid" -> {
        val e2 = euclid2("v.lat", "v.lon", "z.d_lat", "z.d_lon")
        s"""WITH sites AS (
           |  SELECT CAST(n_nationkey + 10000 AS BIGINT) AS zipcode,
           |    4e1 + CAST(n_nationkey % 5 AS DOUBLE) * 1e-2 + 2e-3 AS d_lat,
           |    -75e0 + CAST(n_nationkey % 3 AS DOUBLE) * 1e-2 + 2e-3 AS d_lon
           |  FROM nation
           |),
           |pts AS (
           |  SELECT event_id,
           |    CASE WHEN event_id % 11 = 0 THEN 91.5e0
           |         WHEN event_id % 11 = 1 THEN 0e0
           |         ELSE 4e1 + CAST(event_id % 13 AS DOUBLE) * 2e-4 END AS lat,
           |    CASE WHEN event_id % 11 = 0 THEN -75e0
           |         WHEN event_id % 11 = 1 THEN 0e0
           |         WHEN event_id % 11 = 2 THEN -181e0
           |         ELSE -75e0 + CAST(event_id % 17 AS DOUBLE) * 2e-4 END AS lon
           |  FROM events
           |),
           |vv AS (
           |  SELECT event_id, lat, lon,
           |    (lat >= -9e1 AND lat <= 9e1 AND lon >= -18e1 AND lon <= 18e1
           |     AND NOT (lat = 0e0 AND lon = 0e0)) AS valid
           |  FROM pts
           |),
           |rk AS (
           |  SELECT v.event_id, v.lat, v.lon, z.zipcode, $e2 AS d2,
           |    row_number() OVER (PARTITION BY v.event_id ORDER BY $e2 ASC, z.zipcode ASC) AS rn
           |  FROM (SELECT * FROM vv WHERE valid) v CROSS JOIN sites z
           |)
           |SELECT event_id, lat, lon, TRUE AS valid,
           |  CAST(CASE WHEN d2 <= 0.002e0 * 0.002e0 THEN zipcode ELSE -1 END AS BIGINT) AS zipcode
           |FROM rk WHERE rn = 1
           |UNION ALL
           |SELECT event_id, CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon, valid,
           |  CAST(-1 AS BIGINT) AS zipcode
           |FROM vv WHERE NOT valid""".stripMargin
      },

      "weather_requests" -> {
        val e2 = euclid2("l.lat", "l.lon", "z.d_lat", "z.d_lon")
        s"""WITH sites AS (
           |  SELECT CAST(n_nationkey + 10000 AS BIGINT) AS zipcode,
           |    4e1 + CAST(n_nationkey % 5 AS DOUBLE) * 1e-2 + 2e-3 AS d_lat,
           |    -75e0 + CAST(n_nationkey % 3 AS DOUBLE) * 1e-2 + 2e-3 AS d_lon
           |  FROM nation
           |),
           |reqs AS (
           |  SELECT event_id AS req_id,
           |    CASE WHEN event_id % 3 = 0 THEN
           |      CAST(CASE WHEN event_id % 9 = 0 THEN 99999 ELSE (event_id % 15) + 10000 END AS BIGINT)
           |    END AS zipcode,
           |    CASE WHEN event_id % 3 <> 0 THEN
           |      CASE WHEN event_id % 21 = 1 THEN 91e0 ELSE 4e1 + CAST(event_id % 7 AS DOUBLE) * 1e-3 END
           |    END AS lat,
           |    CASE WHEN event_id % 3 <> 0 THEN -75e0 + CAST(event_id % 5 AS DOUBLE) * 1e-3 END AS lon,
           |    CAST(ts AS DATE) AS "date"
           |  FROM events
           |),
           |zf AS (
           |  SELECT r.req_id, r.zipcode,
           |    coalesce(z.d_lat, 0e0) AS lat, coalesce(z.d_lon, 0e0) AS lon, r."date"
           |  FROM reqs r LEFT JOIN sites z ON r.zipcode = z.zipcode
           |  WHERE r.zipcode IS NOT NULL
           |    AND NOT (coalesce(z.d_lat, 0e0) = 0e0 AND coalesce(z.d_lon, 0e0) = 0e0)
           |),
           |lf0 AS (
           |  SELECT * FROM reqs WHERE zipcode IS NULL
           |    AND lat IS NOT NULL AND lon IS NOT NULL
           |    AND lat >= -9e1 AND lat <= 9e1 AND lon >= -18e1 AND lon <= 18e1
           |),
           |lfrk AS (
           |  SELECT l.req_id, z.zipcode, l.lat, l.lon, l."date",
           |    row_number() OVER (PARTITION BY l.req_id ORDER BY $e2 ASC, z.zipcode ASC) AS rn
           |  FROM lf0 l CROSS JOIN sites z
           |),
           |allr AS (
           |  SELECT req_id, zipcode, lat, lon, "date" FROM zf
           |  UNION ALL
           |  SELECT req_id, zipcode, lat, lon, "date" FROM lfrk WHERE rn = 1
           |)
           |SELECT req_id, zipcode, lat, lon, CAST("date" AS TIMESTAMP) AS "date",
           |  CAST("date" AS TIMESTAMP) + INTERVAL 12 HOUR AS noon_ts
           |FROM allr""".stripMargin
      },

      "dim_zips" ->
        """WITH zbp AS (
          |  SELECT CAST(n_nationkey + 10000 AS BIGINT) AS zipcode,
          |    'city_' || CAST(n_nationkey AS VARCHAR) AS city,
          |    'county_' || CAST(n_nationkey % 7 AS VARCHAR) AS county,
          |    'S' || CAST(n_nationkey % 4 AS VARCHAR) AS stabbr
          |  FROM nation
          |),
          |gaz AS (
          |  SELECT CAST(n_nationkey + 10000 AS BIGINT) AS zipcode,
          |    round(4e1 + CAST(n_nationkey % 5 AS DOUBLE) * 1e-2 + 2e-3, 5) AS lat,
          |    round(-75e0 + CAST(n_nationkey % 3 AS DOUBLE) * 1e-2 + 2e-3, 5) AS lon
          |  FROM nation WHERE n_nationkey % 5 <> 4
          |),
          |st AS (
          |  SELECT 'S' || CAST(r_regionkey AS VARCHAR) AS code,
          |    'State ' || CAST(r_regionkey AS VARCHAR) AS state
          |  FROM region
          |),
          |tzt AS (
          |  SELECT CAST(n_nationkey + 10000 AS BIGINT) AS zipcode,
          |    'America/Zone_' || CAST(n_nationkey % 4 AS VARCHAR) AS timezone
          |  FROM nation WHERE n_nationkey % 2 = 0
          |)
          |SELECT z.zipcode, z.city, z.county, s.state, z.stabbr, g.lat, g.lon, t.timezone
          |FROM zbp z
          |JOIN gaz g ON z.zipcode = g.zipcode
          |JOIN st s ON z.stabbr = s.code
          |JOIN tzt t ON z.zipcode = t.zipcode""".stripMargin,
      "dim_counties" ->
        """WITH c AS (
          |  SELECT n_nationkey AS county_fips, n_nationkey % 5 AS state_fips,
          |    'County ' || CAST(n_nationkey AS VARCHAR) AS county_name
          |  FROM nation
          |),
          |c2 AS (
          |  SELECT *, lpad(CAST(state_fips AS VARCHAR), 2, '0')
          |      || lpad(CAST(county_fips AS VARCHAR), 3, '0') AS fips
          |  FROM c
          |),
          |r AS (
          |  SELECT lpad(CAST(n_nationkey % 5 AS VARCHAR), 2, '0')
          |      || lpad(CAST(n_nationkey AS VARCHAR), 3, '0') AS fips,
          |    CAST(n_nationkey % 10 + 1 AS BIGINT) AS health_outcomes_rank
          |  FROM nation WHERE n_nationkey % 2 = 0
          |)
          |SELECT c2.fips, c2.county_fips, c2.state_fips, c2.county_name, r.health_outcomes_rank
          |FROM c2 LEFT JOIN r ON c2.fips = r.fips""".stripMargin,

      "poi_gmap" -> {
        def caseOf(f: ((String, Int, String, String)) => String): String =
          "CASE event_id % 14 " + GmapExpected.zipWithIndex.map { case (t, i) =>
            s"WHEN $i THEN ${f(t)}" }.mkString(" ") + " END"
        val nameC = caseOf(t => s"'${t._1}'")
        val rankC = caseOf(t => s"${t._2}")
        val catC  = caseOf(t => s"'${t._3}'")
        val majC  = caseOf(t => s"'${t._4}'")
        s"""SELECT event_id, $nameC AS name, $rankC AS rank_order,
           |  $catC AS categories, $majC AS major_categories
           |FROM events""".stripMargin
      },

      "poi_yelp" -> {
        val aliasCase =
          "(CASE e %% 6 " + YelpAliases.zipWithIndex.map { case ((a, _), i) => s"WHEN $i THEN '$a'" }.mkString(" ") + " END)"
        val mapCase = (x: String) =>
          "(CASE " + x + " " + YelpAliases.map { case (a, m) => s"WHEN '$a' THEN '$m'" }.mkString(" ") + " END)"
        s"""WITH base AS (
           |  SELECT event_id,
           |    ${aliasCase.replace("e %%", "event_id %")} AS a1,
           |    ${aliasCase.replace("e %%", "(event_id * 5 + 1) %")} AS a2
           |  FROM events
           |),
           |mapped AS (
           |  SELECT event_id, a1, a2, ${mapCase("a1")} AS m1, ${mapCase("a2")} AS m2 FROM base
           |)
           |SELECT event_id,
           |  'B' || CAST(event_id AS VARCHAR) AS name,
           |  0 AS rank_order,
           |  a1 || ', ' || a2 AS categories,
           |  CASE WHEN m1 = 'dining_out' OR m2 = 'dining_out' THEN 'dining_out'
           |       WHEN m1 = m2 THEN m1
           |       ELSE least(m1, m2) END AS major_categories
           |FROM mapped""".stripMargin
      },
      "pages_text" ->
        s"""WITH $gpsCte, ${OracleSql.pagesCtes}
           |SELECT url, lang, sha256(text) AS text_sha,
           |       CAST(length(text) AS BIGINT) AS n_chars
           |FROM ptext""".stripMargin,
      "pages_geocode" -> {
        val rl = "CAST(CAST(regexp_extract(text, 'loc:(-?\\d+),(-?\\d+)', 1) AS BIGINT) AS DOUBLE) / 1e6"
        val rn = "CAST(CAST(regexp_extract(text, 'loc:(-?\\d+),(-?\\d+)', 2) AS BIGINT) AS DOUBLE) / 1e6"
        s"""WITH $gpsCte, ${OracleSql.pagesCtes},
           |geo AS (
           |  SELECT url, $rl AS lat, $rn AS lon FROM ptext
           |  WHERE regexp_matches(text, 'loc:-?\\d+,-?\\d+')
           |),
           |${s2CellCtes("geo", "lat", "lon", 10, "gg")}
           |SELECT gg_cell AS cell,
           |       count(*) AS n_pages, count(DISTINCT url) AS n_urls
           |FROM gg GROUP BY 1""".stripMargin
      },
      "media_pixels" -> OracleSql.mediaPixelsSql,
      "media_meta" ->
        """SELECT event_id,
          |  CASE WHEN event_id % 3 <> 0 THEN 'image/png' ELSE 'audio/wav' END AS sniffed_type,
          |  CASE WHEN event_id % 3 <> 0 THEN CAST(event_id % 1856 + 64 AS INTEGER) END AS width,
          |  CASE WHEN event_id % 3 <> 0 THEN CAST(event_id % 1016 + 64 AS INTEGER) END AS height,
          |  CASE WHEN event_id % 3 <> 0 THEN 8 END AS bit_depth,
          |  CASE WHEN event_id % 3 = 0 THEN (CASE WHEN event_id % 6 = 0 THEN 1 ELSE 2 END) END AS channels,
          |  CASE WHEN event_id % 3 = 0 THEN
          |    (CASE WHEN event_id % 9 = 0 THEN 8000 WHEN event_id % 9 = 3 THEN 22050 ELSE 44100 END)
          |  END AS sample_rate,
          |  CASE WHEN event_id % 3 = 0 THEN 16 END AS bits_per_sample,
          |  CAST((CASE WHEN event_id % 3 <> 0 THEN 33 ELSE 36 END)
          |    + length(CAST(event_id AS VARCHAR)) AS BIGINT) AS n_bytes
          |FROM events""".stripMargin,

      "gps_sleep" -> {
        val distPrev = hav("fpos_lat", "fpos_lon", "plast_lat", "plast_lon")
        s"""WITH $gpsCte,
           |fr AS (
           |  SELECT user_id, CAST(ts AS DATE) AS "date", ts AS first_ts,
           |         lat AS fpos_lat, lon AS fpos_lon
           |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
           |          ORDER BY ts ASC, event_id ASC) AS rn FROM gps) t WHERE rn = 1
           |),
           |lr AS (
           |  SELECT user_id, CAST(ts AS DATE) AS "date", ts AS last_ts,
           |         lat AS lpos_lat, lon AS lpos_lon
           |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
           |          ORDER BY ts DESC, event_id ASC) AS rn FROM gps) t WHERE rn = 1
           |),
           |pd AS (SELECT fr.*, lr.last_ts, lr.lpos_lat, lr.lpos_lon
           |       FROM fr JOIN lr ON fr.user_id = lr.user_id AND fr."date" = lr."date"),
           |lagged AS (
           |  SELECT *, lag(last_ts) OVER w AS plast_ts,
           |    lag(lpos_lat) OVER w AS plast_lat, lag(lpos_lon) OVER w AS plast_lon
           |  FROM pd WINDOW w AS (PARTITION BY user_id ORDER BY "date")
           |)
           |SELECT user_id, CAST("date" AS TIMESTAMP) AS "date",
           |  CAST((epoch_us(first_ts) // 1000000 - epoch_us(CAST("date" AS TIMESTAMP)) // 1000000)
           |    + (CASE WHEN plast_ts IS NOT NULL
           |            AND (epoch_us(first_ts) - epoch_us(plast_ts)) <= 86400000000
           |            AND $distPrev <= 5e2
           |       THEN (epoch_us(CAST("date" AS TIMESTAMP)) // 1000000 - epoch_us(plast_ts) // 1000000) % 86400
           |       ELSE 0 END) AS DOUBLE) / 36e2 AS hours_of_sleep
           |FROM lagged""".stripMargin
      },
      "weather_daily" -> {
        import OracleSql.qNearestSql
        val vars = Seq(("cloud_cover", "cloud_cover"), ("dew_point", "dew_point"),
          ("humidity", "humidity"), ("temperature", "temp"))
        val statCols = vars.map { case (c, o) =>
          s"""  avg($c) AS ${o}_mean,
             |  round(stddev_pop($c), 4) AS ${o}_std,
             |  ${qNearestSql(s"list($c)", "0.5")} AS ${o}_median,
             |  ${qNearestSql(s"list($c)", "0.75")} - ${qNearestSql(s"list($c)", "0.25")} AS ${o}_IQR""".stripMargin
        }.mkString(",\n")
        s"""WITH ${graft.sources.Tables.weatherHourlyCte}
           |SELECT zipcode, lat, lon, CAST("date" AS TIMESTAMP) AS "date",
           |$statCols,
           |  CAST(coalesce(sum(precip_intensity), 0) AS DOUBLE) AS precip_sum
           |FROM wh GROUP BY zipcode, lat, lon, "date"""".stripMargin
      },
      "weather_cache" ->
        s"""WITH ${graft.sources.Tables.weatherHourlyCte},
           |reqs AS (SELECT DISTINCT zipcode, "date" FROM wh),
           |cache AS (SELECT *, 'hit' AS cached_report FROM reqs WHERE day("date") <= 15)
           |SELECT r.zipcode,
           |  CAST(sum(CASE WHEN c.cached_report IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           |  CAST(sum(CASE WHEN c.cached_report IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS misses
           |FROM reqs r LEFT JOIN cache c ON r.zipcode = c.zipcode AND r."date" = c."date"
           |GROUP BY r.zipcode""".stripMargin,

      "doc_dups" ->
        """SELECT md5(substr(text, 1, 40)) AS prefix_hash,
          |  count(*) AS n_docs, min(doc_id) AS keep_doc_id
          |FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,
      "doc_dedup_exact" ->
        """WITH keep AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          |    FROM documents) t WHERE rn = 1
          |)
          |SELECT lang, count(*) AS n_docs, min(doc_id) AS min_doc
          |FROM keep GROUP BY lang""".stripMargin,
      "doc_quality" ->
        """SELECT doc_id,
          |  length(text) AS n_chars_m,
          |  length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
          |  CAST(length(text) AS DOUBLE) / CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS chars_per_token,
          |  CAST(length(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
          |    / CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS distinct_ratio,
          |  CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS DOUBLE)
          |    / CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS the_ratio
          |FROM documents""".stripMargin,
      "doc_split" -> {
        val h = OracleXxh.hashLongCtes("xs", "xsrc", Seq("doc_id"),
          OracleXxh.toUnsigned("doc_id"), "42")
        s"""WITH xsrc AS (SELECT doc_id FROM documents),
           |$h,
           |b AS (SELECT doc_id,
           |  (((${OracleXxh.toSigned("h")}) % 100) + 100) % 100 AS bucket FROM xs_out)
           |SELECT doc_id, bucket,
           |  CASE WHEN bucket < ${Docs.DefaultTrainPct} THEN 'train'
           |       WHEN bucket < ${Docs.DefaultTrainPct + Docs.DefaultValPct} THEN 'val'
           |       ELSE 'test' END AS split
           |FROM b""".stripMargin
      },
      "doc_sample" -> {
        // chained XXH64: hashLong(salt, hashLong(doc_id, 42)) — Spark's
        // multi-arg xxhash64 folds left-to-right with the running hash as
        // seed; rate thresholds interpolate Docs.DefaultSampleRates
        val h1 = OracleXxh.hashLongCtes("sp1", "spsrc", Seq("doc_id", "lang"),
          OracleXxh.toUnsigned("doc_id"), "42")
        val h2 = OracleXxh.hashLongCtes("sp2", "sp1_out", Seq("doc_id", "lang"),
          s"${Docs.DefaultSampleSalt}::HUGEINT", "h")
        val rateCase = Docs.DefaultSampleRates.toSeq.sortBy(_._1)
          .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
          .mkString("CASE ", " ", " ELSE 0 END")
        s"""WITH spsrc AS (SELECT doc_id, lang FROM documents),
           |$h1,
           |$h2,
           |b AS (SELECT doc_id, lang,
           |  (((${OracleXxh.toSigned("h")}) % 10000) + 10000) % 10000 AS bucket FROM sp2_out)
           |SELECT doc_id, lang, bucket FROM b
           |WHERE bucket < ($rateCase)""".stripMargin
      },
      "doc_mix" ->
        s"""WITH perdoc AS MATERIALIZED (SELECT doc_id, source,
           |  CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           |  CAST(length(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_distinct
           |FROM documents),
           |persrc AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
           |  CAST(sum(n_distinct) AS BIGINT) AS dis_sum FROM perdoc GROUP BY source),
           |ep AS (SELECT source,
           |  CASE WHEN ${Docs.MixHiNum} * dis_sum > ${Docs.MixHiDen} * tok_sum THEN 3
           |       WHEN ${Docs.MixMidNum} * dis_sum > ${Docs.MixMidDen} * tok_sum THEN 2
           |       ELSE 1 END AS epochs FROM persrc)
           |SELECT d.doc_id, d.source, CAST(e.epochs AS BIGINT) AS epochs,
           |  CAST(unnest(generate_series(1, e.epochs)) AS BIGINT) AS epoch
           |FROM (SELECT doc_id, source FROM documents) d
           |JOIN ep e USING (source)""".stripMargin,
      "doc_decontam" -> {
        // split buckets = the doc_split XXH64 chain; shingles = the proven
        // doc_jaccard_exact slicing at n = DecontamNgram
        val n = Docs.DecontamNgram
        val h = OracleXxh.hashLongCtes("dx", "dxsrc", Seq("doc_id"),
          OracleXxh.toUnsigned("doc_id"), "42")
        s"""WITH dxsrc AS (SELECT doc_id FROM documents),
           |$h,
           |b AS (SELECT doc_id,
           |  (((${OracleXxh.toSigned("h")}) % 100) + 100) % 100 AS bucket FROM dx_out),
           |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= $n
           |  THEN list_transform(range(1, len(t) - ${n - 2}), i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))
           |  ELSE [] END)) AS gram FROM toks),
           |tagged AS (SELECT s.doc_id, s.gram,
           |  b.bucket >= ${Docs.DefaultTrainPct + Docs.DefaultValPct} AS is_bench
           |FROM sh s JOIN b USING (doc_id)),
           |bench AS (SELECT DISTINCT gram FROM tagged WHERE is_bench),
           |hits AS (SELECT t.doc_id, count(*) AS n_hit FROM tagged t
           |  JOIN bench USING (gram) WHERE NOT t.is_bench GROUP BY 1)
           |SELECT d.doc_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit_grams,
           |  CAST(CASE WHEN coalesce(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
           |FROM b d LEFT JOIN hits h USING (doc_id)
           |WHERE d.bucket < ${Docs.DefaultTrainPct + Docs.DefaultValPct}""".stripMargin
      },
      "doc_domain_cap" -> {
        val h = OracleXxh.hashLongCtes("cap", "capsrc", Seq("doc_id", "source"),
          OracleXxh.toUnsigned("doc_id"), "42")
        s"""WITH capsrc AS (SELECT doc_id, source FROM documents),
           |$h,
           |r AS (SELECT doc_id, source,
           |  row_number() OVER (PARTITION BY source
           |    ORDER BY ${OracleXxh.toSigned("h")}, doc_id) AS rk
           |FROM cap_out)
           |SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM r
           |WHERE rk <= ${Docs.DefaultDomainCap}""".stripMargin
      },
      "doc_pack" -> {
        val h = OracleXxh.hashLongCtes("pk", "pksrc", Seq("doc_id", "n_tokens"),
          OracleXxh.toUnsigned("doc_id"), "42")
        s"""WITH pksrc AS (SELECT doc_id,
           |  CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           |FROM documents),
           |$h,
           |sh AS (SELECT doc_id, n_tokens,
           |  (((${OracleXxh.toSigned("h")}) % ${Docs.PackShards}) + ${Docs.PackShards}) % ${Docs.PackShards} AS shard
           |FROM pk_out),
           |o AS (SELECT doc_id, shard, n_tokens,
           |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS start_off
           |FROM sh)
           |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
           |  CAST(start_off AS BIGINT) AS start_off,
           |  CAST(start_off // ${Docs.PackBudget} AS BIGINT) AS seq_id
           |FROM o""".stripMargin
      },
      "doc_postings" ->
        s"""WITH tok AS MATERIALIZED (
           |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS token
           |  FROM documents
           |),
           |stats AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
           |  min(doc_id) AS min_doc, max(doc_id) AS max_doc FROM tok GROUP BY token),
           |posts AS (SELECT token,
           |  array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
           |FROM tok WHERE token IN (SELECT token FROM stats WHERE df <= ${Docs.PostingsCap})
           |GROUP BY token)
           |SELECT s.token, s.df, s.min_doc, s.max_doc, p.postings
           |FROM stats s LEFT JOIN posts p USING (token)""".stripMargin,
      "doc_assembly" -> {
        val n = Docs.DecontamNgram
        val h = OracleXxh.hashLongCtes("ah", "gsrc", Seq("doc_id"),
          OracleXxh.toUnsigned("doc_id"), "42")
        val tv = Docs.DefaultTrainPct; val tvv = tv + Docs.DefaultValPct
        s"""WITH keep AS MATERIALIZED (
           |  SELECT doc_id, source, text FROM (
           |    SELECT doc_id, source, text,
           |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM documents) t WHERE rn = 1
           |),
           |g AS MATERIALIZED (
           |  SELECT doc_id, source, text,
           |    CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           |  FROM keep
           |  WHERE length(regexp_split_to_array(trim(text), '\\s+'))
           |    BETWEEN ${Docs.PipelineMinTokens} AND ${Docs.PipelineMaxTokens}
           |),
           |gsrc AS (SELECT doc_id FROM g),
           |$h,
           |hx AS MATERIALIZED (SELECT doc_id, ${OracleXxh.toSigned("h")} AS hs FROM ah_out),
           |t2 AS MATERIALIZED (
           |  SELECT g.doc_id, g.source, g.text, g.n_tokens, hx.hs,
           |    CASE WHEN ((hx.hs % 100) + 100) % 100 < $tv THEN 'train'
           |         WHEN ((hx.hs % 100) + 100) % 100 < $tvv THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM g JOIN hx USING (doc_id)
           |),
           |sh5 AS MATERIALIZED (
           |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= $n
           |    THEN list_transform(range(1, len(t) - ${n - 2}), i -> array_to_string(list_slice(t, i, i + ${n - 1}), ' '))
           |    ELSE [] END)) AS gram
           |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM t2) q
           |),
           |bench AS (SELECT DISTINCT s.gram FROM sh5 s JOIN t2 USING (doc_id) WHERE t2.split = 'test'),
           |bad AS (SELECT DISTINCT s.doc_id FROM sh5 s JOIN t2 USING (doc_id)
           |  WHERE t2.split = 'train' AND s.gram IN (SELECT gram FROM bench)),
           |kept AS MATERIALIZED (SELECT doc_id, source, n_tokens, split, hs FROM t2
           |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
           |capped AS MATERIALIZED (SELECT doc_id, source, n_tokens, split, hs FROM (
           |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY hs, doc_id) AS rk
           |  FROM kept) c WHERE rk <= ${Docs.DefaultDomainCap}),
           |shd AS MATERIALIZED (SELECT doc_id, n_tokens,
           |  ((hs % ${Docs.PackShards}) + ${Docs.PackShards}) % ${Docs.PackShards} AS shard
           |  FROM capped WHERE split = 'train'),
           |pk AS MATERIALIZED (SELECT doc_id,
           |  CAST(shard * 1000000 +
           |    (sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens) // ${Docs.PackBudget}
           |    AS BIGINT) AS seq_key
           |  FROM shd)
           |SELECT c.split, c.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(c.n_tokens) AS BIGINT) AS tokens_sum,
           |  min(c.doc_id) AS min_doc, max(c.doc_id) AS max_doc,
           |  CAST(sum(c.doc_id) AS BIGINT) AS doc_id_sum,
           |  CAST(count(DISTINCT p.seq_key) AS BIGINT) AS n_seqs
           |FROM capped c LEFT JOIN pk p USING (doc_id)
           |GROUP BY 1, 2""".stripMargin
      },
      "doc_chunk" -> {
        val c = Docs.ChunkSize; val st = Docs.ChunkStride
        s"""WITH toks AS MATERIALIZED (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t,
           |    CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           |  FROM documents
           |)
           |SELECT doc_id, n_tokens,
           |  CAST(unnest(range(0, (n_tokens - 1) // $st + 1)) AS BIGINT) AS chunk_idx,
           |  CAST(unnest(list_transform(range(0, (n_tokens - 1) // $st + 1),
           |    i -> least(n_tokens - i * $st, $c))) AS BIGINT) AS chunk_tokens,
           |  unnest(list_transform(range(0, (n_tokens - 1) // $st + 1),
           |    i -> md5(array_to_string(list_slice(t, i * $st + 1, least(i * $st + $c, n_tokens)), ' ')))) AS chunk_md5
           |FROM toks""".stripMargin
      },
      "doc_rare" ->
        s"""WITH tok AS MATERIALIZED (
           |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
           |  FROM documents
           |),
           |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
           |dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           |tot AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           |  CAST(sum(CASE WHEN df * ${Docs.RareInvFrac} < (SELECT n_docs FROM tot) THEN tf ELSE 0 END) AS BIGINT) AS n_rare,
           |  CAST(sum(CASE WHEN df * ${Docs.RareInvFrac} < (SELECT n_docs FROM tot) THEN tf ELSE 0 END) AS DOUBLE)
           |    / CAST(sum(tf) AS DOUBLE) AS rare_ratio
           |FROM tf JOIN dfx USING (token)
           |GROUP BY doc_id""".stripMargin,
      "doc_repetition" ->
        """WITH toks AS MATERIALIZED (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
          |),
          |g2 AS (SELECT doc_id, CASE WHEN len(t) >= 2
          |  THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
          |  ELSE [] END AS gs FROM toks),
          |c2 AS (SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(gs) AS g FROM g2)
          |  GROUP BY doc_id, g),
          |a2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot2, CAST(max(c) AS BIGINT) AS top2,
          |  CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup2
          |  FROM c2 GROUP BY doc_id),
          |g5 AS (SELECT doc_id, CASE WHEN len(t) >= 5
          |  THEN list_transform(range(1, len(t) - 3), i -> array_to_string(list_slice(t, i, i + 4), ' '))
          |  ELSE [] END AS gs FROM toks),
          |c5 AS (SELECT doc_id, g, count(*) AS c FROM (SELECT doc_id, unnest(gs) AS g FROM g5)
          |  GROUP BY doc_id, g),
          |a5 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot5, CAST(max(c) AS BIGINT) AS top5,
          |  CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup5
          |  FROM c5 GROUP BY doc_id)
          |SELECT k.doc_id,
          |  coalesce(a2.tot2, 0) AS tot2, coalesce(a2.top2, 0) AS top2, coalesce(a2.dup2, 0) AS dup2,
          |  coalesce(a5.tot5, 0) AS tot5, coalesce(a5.top5, 0) AS top5, coalesce(a5.dup5, 0) AS dup5,
          |  CASE WHEN coalesce(a2.tot2, 0) > 0
          |       THEN CAST(a2.top2 AS DOUBLE) / CAST(a2.tot2 AS DOUBLE) ELSE 0e0 END AS top2_frac,
          |  CASE WHEN coalesce(a5.tot5, 0) > 0
          |       THEN CAST(a5.dup5 AS DOUBLE) / CAST(a5.tot5 AS DOUBLE) ELSE 0e0 END AS dup5_frac
          |FROM toks k LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)""".stripMargin,
      "doc_lang" ->
        s"""SELECT doc_id, lang AS actual_lang,
           |${langScoreCols("  ", "score_")}
           |FROM documents""".stripMargin,
      "doc_filter_pipeline" -> {
        val langs = Docs.LangMarkers.toSeq.sortBy(_._1)
        val scoreCols = langScoreCols("    ", "s_")
        val bestExpr = s"greatest(${langs.map("s_" + _._1).mkString(", ")})"
        val predCase = langs.map { case (lang, _) =>
          s"WHEN s_$lang = $bestExpr THEN '$lang'" }.mkString(" ")
        s"""WITH keep AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
           |    FROM documents) t WHERE rn = 1
           |),
           |g AS (
           |  SELECT doc_id, text,
           |    CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
           |    CAST(length(text) AS DOUBLE) / CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS cpt,
           |    CAST(length(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS DOUBLE)
           |      / CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS dr
           |  FROM keep
           |),
           |s AS (
           |  SELECT doc_id, n_tokens,
           |$scoreCols
           |  FROM g WHERE n_tokens BETWEEN ${Docs.PipelineMinTokens} AND ${Docs.PipelineMaxTokens}
           |    AND cpt < ${Docs.PipelineMaxCharsPerToken}e0 AND dr > ${Docs.PipelineMinDistinctRatio}e0
           |),
           |p AS (
           |  SELECT doc_id, n_tokens,
           |    CASE WHEN $bestExpr <= 0 THEN 'und' ELSE (CASE $predCase END) END AS pred_lang
           |  FROM s
           |)
           |SELECT pred_lang, count(*) AS n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc,
           |  CAST(sum(doc_id) AS BIGINT) AS doc_id_sum, CAST(sum(n_tokens) AS BIGINT) AS tokens_sum
           |FROM p GROUP BY pred_lang""".stripMargin
      },

      "doc_jaccard_exact" ->
        """WITH pref AS (
          |  SELECT doc_id, md5(substr(text, 1, 40)) AS ph FROM documents
          |),
          |pairs AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM pref a JOIN pref b ON a.ph = b.ph AND a.doc_id < b.doc_id
          |),
          |toksd AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
          |),
          |sh AS (
          |  SELECT doc_id,
          |    list_distinct(CASE WHEN len(t) >= 3
          |      THEN list_transform(range(1, len(t) - 1), i -> array_to_string(list_slice(t, i, i + 2), ' '))
          |      ELSE [] END) AS s
          |  FROM toksd
          |)
          |SELECT p.doc_a, p.doc_b,
          |  CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
          |       THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          |            / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
          |       ELSE 0e0 END AS jaccard
          |FROM pairs p
          |JOIN sh sa ON p.doc_a = sa.doc_id
          |JOIN sh sb ON p.doc_b = sb.doc_id""".stripMargin,

      "doc_minhash_md5" ->
        s"""WITH ${OracleSql.minHashMd5Ctes}
           |${OracleSql.minHashMd5PairsSelect}""".stripMargin,
      "doc_dedup_minhash" -> OracleSql.minHashDedupSql,
      // PRODUCTION xxhash64 paths under the exact gate: DuckDB recomputes
      // Spark's XXH64 (seed 42) via the HUGEINT mod-2^64 CTE chains in
      // OracleXxh — the last hash-production queries formerly rows-only.
      "doc_minhash" -> OracleXxh.docMinhashSql,
      "doc_simhash" -> OracleXxh.simHashXxSql,
      "doc_jaccard" -> OracleXxh.docJaccardSql,
      "emb_lsh" -> OracleXxh.embLshSql(dim = 64, bits = 4, tables = 8, k = 5, queryMod = 100),

      "emb_pq_fixed" ->
        OracleSql.embPqFixedSql(operators.Similarity.pqCodebooks(), k = 4, subDim = 8),
      "emb_pq_adc" ->
        OracleSql.embPqAdcSql(operators.Similarity.pqCodebooks(), k = 5,
          subDim = 8, queryMod = 100),
      "emb_quant" ->
        """WITH ex AS MATERIALIZED (
          |  SELECT vec_id,
          |    unnest(range(1, len(embedding) + 1)) - 1 AS dim,
          |    unnest(list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE))) AS v
          |  FROM embeddings
          |),
          |b AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM ex GROUP BY dim)
          |SELECT e.vec_id,
          |  CAST(sum(CASE WHEN b.hi > b.lo
          |    THEN CAST(floor((e.v - b.lo) * (2.55e2 / (b.hi - b.lo))) AS BIGINT)
          |    ELSE 0 END) AS BIGINT) AS code_sum,
          |  min(CASE WHEN b.hi > b.lo
          |    THEN CAST(floor((e.v - b.lo) * (2.55e2 / (b.hi - b.lo))) AS BIGINT)
          |    ELSE 0 END) AS code_min,
          |  max(CASE WHEN b.hi > b.lo
          |    THEN CAST(floor((e.v - b.lo) * (2.55e2 / (b.hi - b.lo))) AS BIGINT)
          |    ELSE 0 END) AS code_max
          |FROM ex e JOIN b USING (dim)
          |GROUP BY e.vec_id""".stripMargin,
      "emb_norms" ->
        """SELECT vec_id, label,
          |  round(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4) AS l2_norm
          |FROM embeddings""".stripMargin,
      "emb_sim" ->
        """WITH q AS (
          |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id % 100 = 0
          |),
          |pairs AS (
          |  SELECT e.vec_id, q.query_id,
          |    list_aggregate(list_transform(range(1, len(e.embedding) + 1),
          |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE)), 'sum')
          |    / (sqrt(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
          |       * sqrt(list_aggregate(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cosine
          |  FROM embeddings e CROSS JOIN q
          |  WHERE e.vec_id <> q.query_id
          |)
          |SELECT query_id, vec_id, round(cosine, 4) AS cosine
          |FROM pairs WHERE cosine >= 0.3e0""".stripMargin,
      "doc_simhash_md5" -> OracleSql.simHashMd5Sql,
      "doc_fingerprint" -> OracleSql.fingerprintModSql,
      "doc_tokens" ->
        s"""SELECT doc_id,
           |  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws,
           |  CAST(len(regexp_extract_all(text, '${Docs.BpeishPattern}')) AS BIGINT) AS n_bpe
           |FROM documents""".stripMargin,
      "doc_winnow" -> OracleSql.winnowSql(8, 4),
      "emb_ivf_fixed" -> OracleSql.embIvfFixedSql(
        Similarity.fixedIntCodebook(64, 4), nProbe = 2, k = 3, queryMod = 100),
      "emb_lsh_fixed" -> OracleSql.embLshFixedSql(
        Similarity.fixedIntPlanes(64, 4), k = 3, queryMod = 100),
      // the distributed-DBSCAN pipeline is fully canonical (min-uid
      // components, min-comp border attach, min-uid label order), so the
      // whole clustering — not just a summary — runs under the exact gate
      "dbscan_distributed" -> OracleSql.dbscanSummarySql("5e-3", minSamples = 50),
      "gps_user_dbscan" -> OracleSql.userDbscanSql("5e-3", minSamples = 20),
      "gps_cluster_stats" -> OracleSql.userDbscanStatsSql("5e-3", minSamples = 20),
      "emb_dedup" -> OracleSql.embDedupSql(Similarity.fixedIntPlanes(64, 4), "0.4e0")
    )
  }
}
