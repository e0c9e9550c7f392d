package graft.operators

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's clustering pipeline get_clusters_with_context
  * (gscap/gps.py:1103-1270) run exactly, per user:
  *
  *   1. split stationary vs rest (gps.py:1107-1109)
  *   2. estimate_home (gps.py:940-968): night hours (0<h<6 | 19<h<24) →
  *      DBSCAN → top cluster by mode (smallest label on ties) → 500 m
  *      median-fence add/remove relabel (gps.py:1121-1130)
  *   3. estimate_work (gps.py:971-999): 9≤h≤17 & Mon-Fri → DBSCAN → top →
  *      161 km home-distance sanity (gps.py:1156-1162) → fence relabel
  *      restricted to 7<h<20 rows (gps.py:1167-1179)
  *   4. DBSCAN the remaining stationary → cid x<k>/xNot (gps.py:1200-1207)
  *   5. cluster table with center stats (extract_cluster_centers,
  *      gps.py:1002-1067 — including the np.percentile-with-fractions IQR
  *      quirk at gps.py:1031-1041 and ddof=1 std), cid/name/categories
  *   6. distance_from_home from the 5 dp-rounded home center (gps.py:1264-70)
  *
  * Executed per user inside flatMapGroups: users are independent, so this is
  * exact AND embarrassingly parallel — the correct Spark shape for millions
  * of users (one shuffle on user_id, no driver involvement). For one global
  * point cloud (the web-scale graft path) see [[DistributedDbscan]].
  */
object Clustering {

  case class EnrichedPoint(user_id: Long, event_id: Long, ts: Timestamp,
                           lat: Double, lon: Double, binning: String)
  case class LabeledRecord(user_id: Long, event_id: Long, ts: Timestamp,
                           lat: Double, lon: Double, binning: String, cid: String,
                           distance_from_home: Option[Double])
  case class ClusterRow(user_id: Long, cid: String, name: String, categories: String,
                        lat: Double, lon: Double,
                        lat_range: Double, lat_IQR: Double, lat_min: Double, lat_max: Double, lat_std: Double,
                        lon_range: Double, lon_IQR: Double, lon_min: Double, lon_max: Double, lon_std: Double,
                        max_distance_from_center: Double)

  /** np.round semantics: half-even on the scaled binary double. */
  def npRound(x: Double, dp: Int): Double = {
    if (x.isNaN) return x
    val s = math.pow(10, dp)
    math.rint(x * s) / s
  }

  /** Scalar haversine, meters — mirror of Geo.haversineMeters / utils.py:204-228. */
  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val r1 = math.toRadians(lat1); val r2 = math.toRadians(lat2)
    val sdlat = math.sin((math.toRadians(lat2) - math.toRadians(lat1)) / 2.0)
    val sdlon = math.sin((math.toRadians(lon2) - math.toRadians(lon1)) / 2.0)
    val a = sdlat * sdlat + math.cos(r1) * math.cos(r2) * (sdlon * sdlon)
    math.atan2(math.sqrt(a), math.sqrt(1.0 - a)) * 2.0 * 6371000.0
  }

  /** pandas median: mean of the two middle order statistics. */
  def median(vals: Seq[Double]): Double = {
    val s = vals.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** np.percentile(vals, q) with linear interpolation; q in PERCENT. The
    * reference passes fractions (0.25/0.75) to this percent-based API
    * (gps.py:1031,1040) — the quirk is preserved by the caller.
    */
  def percentile(vals: Seq[Double], q: Double): Double = {
    val s = vals.sorted; val n = s.length
    if (n == 1) return s.head
    val pos = q / 100.0 * (n - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, n - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def mean(vals: Seq[Double]): Double = vals.sum / vals.length
  /** pandas .std(): sample std, ddof=1 (NaN for n=1). */
  private def stdSamp(vals: Seq[Double]): Double = {
    val n = vals.length
    if (n < 2) Double.NaN
    else {
      val m = mean(vals)
      math.sqrt(vals.map(v => (v - m) * (v - m)).sum / (n - 1))
    }
  }

  /** Center stats for one cluster's member points (extract_cluster_centers,
    * gps.py:1002-1067). Rounding: coords/stats 5 dp, max-distance 3 dp,
    * half-even (np.round).
    */
  def centerStats(user: Long, cid: String, pts: Seq[(Double, Double)]): ClusterRow = {
    val lats = pts.map(_._1); val lons = pts.map(_._2)
    val latMean = mean(lats); val lonMean = mean(lons)
    val maxDist = pts.map { case (la, lo) => haversine(la, lo, latMean, lonMean) }.max
    ClusterRow(user, cid, "nap", "nap",
      npRound(latMean, 5), npRound(lonMean, 5),
      npRound(lats.max - lats.min, 5),
      npRound(percentile(lats, 0.75) - percentile(lats, 0.25), 5),
      npRound(lats.min, 5), npRound(lats.max, 5), npRound(stdSamp(lats), 5),
      npRound(lons.max - lons.min, 5),
      npRound(percentile(lons, 0.75) - percentile(lons, 0.25), 5),
      npRound(lons.min, 5), npRound(lons.max, 5), npRound(stdSamp(lons), 5),
      npRound(maxDist, 3))
  }

  /** Hour-of-day / weekday derived in an EXPLICIT UTC zone — not the JVM
    * default TZ (Timestamp.toLocalDateTime) — so the night/work-hour windows
    * match the session-TZ-UTC SQL operators on any host or executor zone.
    */
  private def hourOf(ts: Timestamp): Int =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).getHour
  private def isWeekday(ts: Timestamp): Boolean =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).getDayOfWeek.getValue <= 5 // Mon=1..Fri=5 ⇔ python weekday()<5

  /** The full per-user pipeline. Returns (labeled records, cluster rows). */
  def contextForUser(user: Long, rowsIn: Seq[EnrichedPoint],
                     eps: Double, minSamples: Int, fence: Double)
      : (Seq[LabeledRecord], Seq[ClusterRow]) = {
    val rows = rowsIn.sortBy(r => (r.ts.getTime, r.event_id))
    if (rows.length < 3)
      return (rows.map(r => LabeledRecord(r.user_id, r.event_id, r.ts, r.lat, r.lon, r.binning, "xNot", None)), Nil)

    val cids = mutable.HashMap.empty[Long, String] // event_id → cid

    /** estimate_home/work (gps.py:940-999) + the 500 m median-fence relabel
      * (gps.py:1121-1196): DBSCAN the `pick`ed stationary rows, take the top
      * cluster; if `accept` holds for its center, each `inFence` row joins
      * (≤ fence) or leaves by its distance to the members' median. Its rows get
      * cid `label` and leave the stationary set. Returns (site, remaining).
      */
    def site(stationary: IndexedSeq[EnrichedPoint], label: String,
             pick: EnrichedPoint => Boolean, inFence: EnrichedPoint => Boolean,
             accept: ClusterRow => Boolean): (Option[ClusterRow], IndexedSeq[EnrichedPoint]) = {
      def at(i: Int) = (stationary(i).lat, stationary(i).lon)
      val picked = stationary.indices.filter(i => pick(stationary(i)))
      val labels = Dbscan.run(picked.map(at).toArray, eps, minSamples)
      Dbscan.topCluster(labels).map { top =>
        val members = picked.indices.filter(labels(_) == top).map(picked)
        (centerStats(user, label, members.map(at)), members)
      } match {
        case Some((center, members)) if accept(center) =>
          val mlat = median(members.map(stationary(_).lat))
          val mlon = median(members.map(stationary(_).lon))
          val mask = mutable.HashSet.empty[Int] ++ members
          stationary.indices.filter(i => inFence(stationary(i))).foreach { idx =>
            val r = stationary(idx)
            if (haversine(mlat, mlon, r.lat, r.lon) <= fence) mask += idx else mask -= idx
          }
          mask.foreach(idx => cids(stationary(idx).event_id) = label)
          (Some(center), stationary.indices.filterNot(mask).map(stationary))
        case _ => (None, stationary)
      }
    }

    // --- home (gps.py:1119-1146)
    val (home, afterHome) = site(rows.filter(_.binning == "stationary").toIndexedSeq, "home",
      r => { val h = hourOf(r.ts); (h > 0 && h < 6) || (h > 19 && h < 24) },
      _ => true, _ => true)

    // --- work (gps.py:1149-1196)
    val (workOpt, stationary) = site(afterHome, "work",
      r => { val h = hourOf(r.ts); h >= 9 && h <= 17 && isWeekday(r.ts) },
      r => { val h = hourOf(r.ts); h > 7 && h < 20 },
      w => home.forall(h => haversine(w.lat, w.lon, h.lat, h.lon) / 1000.0 <= 161.0))

    // --- remaining stationary → x<k> clusters (gps.py:1199-1217)
    val (labels, xs) = xClusters(user, stationary.map(r => (r.lat, r.lon)), 0, eps, minSamples)
    stationary.indices.foreach { i =>
      cids(stationary(i).event_id) = if (labels(i) != -1) s"x${labels(i)}" else "xNot"
    }
    val clusters = xs ++ home.map(_.copy(name = "home", categories = "home")) ++
      workOpt.map(_.copy(name = "work", categories = "work"))

    // --- distance_from_home from the ROUNDED home center (gps.py:1264-1270)
    val records = rows.map { r =>
      val cid = cids.getOrElse(r.event_id, "xNot")
      val dfh = home.map(h => haversine(h.lat, h.lon, r.lat, r.lon))
      LabeledRecord(r.user_id, r.event_id, r.ts, r.lat, r.lon, r.binning, cid, dfh)
    }
    (records, clusters)
  }

  /** DBSCAN `pts` into clusters x<first+label>: (labels, each cluster's
    * center stats in label order) — the x<k> numbering of gps.py:1199-1217.
    */
  private def xClusters(user: Long, pts: Seq[(Double, Double)], first: Int,
                        eps: Double, minSamples: Int): (Array[Int], Seq[ClusterRow]) = {
    val xy = pts.toArray
    val labels = Dbscan.run(xy, eps, minSamples)
    (labels, labels.distinct.filter(_ != -1).sorted.toSeq.map { l =>
      centerStats(user, s"x${first + l}", xy.indices.filter(labels(_) == l).map(xy))
    })
  }

  /** Next-phase clusters (get_next_phase_clusters, gps.py:1507-1561): per
    * day, cluster the still-unlabeled stationary points that are ≥
    * minDistance from every existing cluster center; new cids continue the
    * x<k> numbering where phase 1 left off. The exclusion set is the
    * PRE-EXISTING cluster centers only — the reference fixes
    * cur_cluster_set before its day loop (gps.py:1520), so clusters minted
    * by earlier days do not exclude later days' candidates.
    */
  def nextPhaseForUser(records: Seq[LabeledRecord], clusters: Seq[ClusterRow],
                       eps: Double, minSamples: Int, minDistance: Double)
      : (Seq[LabeledRecord], Seq[ClusterRow]) = {
    val cids = mutable.HashMap.empty[Long, String] ++ records.map(r => r.event_id -> r.cid)
    val newClusters = mutable.ArrayBuffer.empty[ClusterRow]
    var nextCid = {
      val ints = records.flatMap(r => if (r.cid.startsWith("x") && r.cid.drop(1).forall(_.isDigit))
        Some(r.cid.drop(1).toInt) else None)
      if (ints.nonEmpty) ints.max + 1 else 0
    }
    val centers = clusters.map(c => (c.lat, c.lon))

    val user = records.headOption.map(_.user_id).getOrElse(0L)
    val byDay = records
      .filter(r => r.cid == "xNot" && r.binning == "stationary")
      .groupBy(_.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
    byDay.keys.toSeq.sorted.foreach { day =>
      val candidates = byDay(day).filter(r =>
        !centers.exists { case (cl, co) => haversine(r.lat, r.lon, cl, co) < minDistance })
      val (labels, found) = xClusters(user, candidates.map(r => (r.lat, r.lon)), nextCid, eps, minSamples)
      candidates.indices.foreach { i =>
        if (labels(i) != -1) cids(candidates(i).event_id) = s"x${nextCid + labels(i)}"
      }
      newClusters ++= found
      nextCid += found.length
    }
    (records.map(r => r.copy(cid = cids(r.event_id))), clusters ++ newClusters)
  }

  /** Tagged per-user output row: exactly one of rec/clu is set. Lets the
    * whole per-user pipeline (three DBSCAN runs, fences, center stats) run
    * ONCE per group even when both outputs are consumed.
    */
  case class ContextOut(rec: Option[LabeledRecord], clu: Option[ClusterRow])

  /** One flatMapGroups pass emitting both records and clusters as tagged
    * rows; split downstream with a filter + select.
    */
  def contextTagged(points: DataFrame,
                    eps: Double = 0.005, minSamples: Int = 100, fence: Double = 500.0)
      : Dataset[ContextOut] =
    taggedPerUser(points)((u, rows) => contextForUser(u, rows, eps, minSamples, fence))

  /** Both phases (contextForUser → nextPhaseForUser, gps.py:1103-1270 +
    * 1507-1561) in ONE flatMapGroups pass: the phase-1 records/clusters
    * never leave the executor, so the two-phase pipeline costs exactly one
    * shuffle and one per-user DBSCAN sweep — no re-wiring of the per-user
    * plumbing at call sites (the round-2 gps_next_phase query rebuilt it
    * inline, running a second group pass).
    */
  def nextPhaseTagged(points: DataFrame,
                      eps: Double = 0.005, minSamples: Int = 100, fence: Double = 500.0,
                      eps2: Double = 0.005, minSamples2: Int = 10, minDistance: Double = 100.0)
      : Dataset[ContextOut] =
    taggedPerUser(points) { (u, rows) =>
      val (recs, clus) = contextForUser(u, rows, eps, minSamples, fence)
      nextPhaseForUser(recs, clus, eps2, minSamples2, minDistance)
    }

  /** The per-user plumbing of [[contextTagged]] and [[nextPhaseTagged]]:
    * typed points → groupByKey(user_id) → `run` per user, its records and
    * clusters emitted as tagged rows.
    */
  private def taggedPerUser(points: DataFrame)(
      run: (Long, Seq[EnrichedPoint]) => (Seq[LabeledRecord], Seq[ClusterRow]))
      : Dataset[ContextOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("lat"), col("lon"), col("binning"))
      .as[EnrichedPoint]
      .groupByKey(_.user_id)
      .flatMapGroups { (u, it) =>
        val (rs, cs) = run(u, it.toSeq)
        rs.iterator.map(r => ContextOut(Some(r), None)) ++
          cs.iterator.map(c => ContextOut(None, Some(c)))
      }
  }

  case class CorePoint(user_id: Long, label: Int, event_id: Long, lat: Double, lon: Double)

  /** Per-user sklearn DBSCAN, CORE points only: (user_id, label, event_id,
    * lat, lon). Each group is sorted by event_id before the kernel runs, so
    * sklearn's scan-order cluster numbering equals the rank of each
    * cluster's minimum core event_id — core membership and core labels are
    * therefore order-independent (only border labels depend on scan order),
    * which is what makes the per-(user, label) summary exactly
    * SQL-expressible (OracleSql.userDbscanSql, the per-user twin of the
    * dbscan_distributed recursive-CTE oracle). One shuffle on user_id; the
    * grid-bucketed kernel runs per group — users are independent, so this
    * is exact AND embarrassingly parallel.
    */
  def userDbscanCores(points: DataFrame, eps: Double = 0.005, minSamples: Int = 100)
      : Dataset[CorePoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("lat").cast("double"), col("lon").cast("double"))
      .as[(Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (u, it) =>
        val rows = it.toArray.sortBy(_._2)
        val (labels, core) = Dbscan.runWithCore(rows.map(r => (r._3, r._4)), eps, minSamples)
        rows.indices.iterator.filter(core(_)).map { i =>
          CorePoint(u, labels(i), rows(i)._2, rows(i)._3, rows(i)._4)
        }
      }
  }

  /** extract_cluster_centers' statistics (gps.py:1002-1067) per (user,
    * label) over CORE rows, as ONE distributed aggregation — the
    * exact-oracle companion of [[userDbscanCores]] (membership discipline
    * from gps_user_dbscan extended to the center stats themselves).
    *
    * Cross-engine exactness WITHOUT rounding (the r4 lesson: rounded
    * per-group float means land on half-even/half-away ties):
    *  - sums/means fold over the SORTED coordinate array — a canonical
    *    accumulation order both engines reproduce bit-for-bit
    *    (`aggregate` ≙ DuckDB `list_reduce`),
    *  - the IQR keeps the reference's percentile-FRACTION quirk
    *    (np.percentile handed 0.25/0.75 as PERCENTS → q/100·(n−1) linear
    *    interpolation),
    *  - std is ddof=1 (pandas .std), NULL below 2 points,
    *  - max_dist_m is an order-independent max of haversines from the
    *    fold-mean center.
    * The reference's 5-dp np.round presentation step is deliberately NOT
    * applied here (half-even has no DuckDB twin); ClusteringSpec pins the
    * rounded ClusterRow values against the golden fixtures instead.
    */
  def coreCenterStats(cores: Dataset[CorePoint]): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def foldSum(arr: Column): Column =
      aggregate(arr, lit(0.0), (acc, v) => acc + v)
    // np.percentile linear interpolation at fraction-of-percent q
    def interp(sorted: Column, n: Column, q: Double): Column = {
      val pos = lit(q) * (n - 1).cast("double")
      val lo = floor(pos)
      val hi = least(lo + 1, n - 1)
      val elo = element_at(sorted, (lo + 1).cast("int"))
      val ehi = element_at(sorted, (hi + 1).cast("int"))
      elo + (ehi - elo) * (pos - lo.cast("double"))
    }
    val g = cores.toDF()
      .groupBy(col("user_id"), col("label").cast("long").as("label"))
      .agg(
        count(lit(1)).as("n_core"),
        min("lat").as("lat_min"), max("lat").as("lat_max"),
        min("lon").as("lon_min"), max("lon").as("lon_max"),
        // ONE struct list so lat/lon pairing survives collect_list's
        // nondeterministic order; sorted projections derive from it
        collect_list(struct(col("lat"), col("lon"))).as("pts"))
      .withColumn("slat", array_sort(transform(col("pts"), p => p.getField("lat"))))
      .withColumn("slon", array_sort(transform(col("pts"), p => p.getField("lon"))))
    val n = col("n_core")
    val q25 = 0.25 / 100.0
    val q75 = 0.75 / 100.0
    val withMeans = g
      .withColumn("lat_mean", foldSum(col("slat")) / n)
      .withColumn("lon_mean", foldSum(col("slon")) / n)
    withMeans
      .withColumn("lat_iqr",
        interp(col("slat"), n, q75) - interp(col("slat"), n, q25))
      .withColumn("lon_iqr",
        interp(col("slon"), n, q75) - interp(col("slon"), n, q25))
      .withColumn("lat_std", when(n >= 2,
        sqrt(foldSum(transform(col("slat"), v => (v - col("lat_mean")) * (v - col("lat_mean")))) / (n - 1))))
      .withColumn("lon_std", when(n >= 2,
        sqrt(foldSum(transform(col("slon"), v => (v - col("lon_mean")) * (v - col("lon_mean")))) / (n - 1))))
      // max_dist is the one trig value here: the fold-mean center feeds
      // sin/cos at ARBITRARY doubles, where JVM vs DuckDB libm differ in
      // the last ulp (measured ~1e-11 relative). 3-dp rounding (reference
      // precision) drowns that noise: Spark round is HALF_UP ≡ DuckDB's
      // half-away for positive values, and a transcendental distance
      // cannot sit exactly on a decimal boundary.
      .withColumn("max_dist_m",
        round(array_max(transform(col("pts"),
          p => graft.functions.Geo.haversineMeters(
            p.getField("lat"), p.getField("lon"), col("lat_mean"), col("lon_mean")))), 3))
      .select("user_id", "label", "n_core", "lat_min", "lat_max", "lon_min", "lon_max",
        "lat_mean", "lon_mean", "lat_iqr", "lon_iqr", "lat_std", "lon_std", "max_dist_m")
  }

  /** Distributed wiring: one shuffle on user_id; all sequential reference
    * semantics run inside each group. The two outputs are filtered views of
    * ONE [[contextTagged]] frame, with no persist: each view that is
    * consumed runs the per-user pass. A consumer of both outputs that needs
    * a single pass reads [[contextTagged]] itself.
    */
  def clustersWithContext(points: DataFrame,
                          eps: Double = 0.005, minSamples: Int = 100, fence: Double = 500.0)
      : (Dataset[LabeledRecord], Dataset[ClusterRow]) = {
    val spark = points.sparkSession
    import spark.implicits._
    val tagged = contextTagged(points, eps, minSamples, fence)
    (tagged.where(col("rec").isNotNull).select(col("rec.*")).as[LabeledRecord],
      tagged.where(col("clu").isNotNull).select(col("clu.*")).as[ClusterRow])
  }
}
