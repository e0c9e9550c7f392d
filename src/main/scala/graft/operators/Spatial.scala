package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Geo, Grid}

/** Spatial join operators (SURVEY.md §2 C + north rule): point-in-polygon,
  * kNN, distance-fence relabel, proximity anti-join, tile assignment,
  * pairwise distances.
  *
  * Scale design: every radius/containment predicate is authored as
  * cell-equi prejoin (Grid kRing / polyfill) + exact refine, so the physical
  * plan is a broadcast or shuffled *equi* join — never a cartesian theta
  * join. Small dimension sides are broadcast explicitly.
  */
object Spatial {

  /** Point-in-rectangle join (axis-aligned polygon fast path of J11).
    * Rectangles: (poly_id, lat_min, lat_max, lon_min, lon_max). Containment
    * is half-open [min, max) for determinism on shared edges.
    */
  def pointInRect(points: DataFrame, rects: DataFrame): DataFrame =
    points.join(
      broadcast(rects),
      col("lat") >= col("lat_min") && col("lat") < col("lat_max") &&
        col("lon") >= col("lon_min") && col("lon") < col("lon_max"),
      "inner")

  /** Point-in-polygon for general polygons: polyfill the polygon at `res`
    * into covering cells (driver-side, polygons are a small dim), equi-join
    * points on cell id, then exact ray-cast refine on boundary cells.
    * Polygons given as (poly_id, vertices: Seq[(lat, lon)]).
    *
    * S2 form: BFS flood from the bbox-center cell over real cell
    * neighborhoods (S2.ringCells k=1, face-crossing included), keeping every
    * cell whose center lies in the bbox PADDED by one max cell diagonal — a
    * guaranteed SUPERSET of the cells intersecting the bbox (extras are
    * removed by the exact refine). Antimeridian-crossing bboxes are out of
    * scope here (split the polygon first).
    */
  def polyfillCells(vertices: Seq[(Double, Double)], res: Int): Seq[Long] = {
    import graft.functions.S2
    val lats = vertices.map(_._1); val lons = vertices.map(_._2)
    val (latMin, latMax) = (lats.min, lats.max)
    val (lonMin, lonMax) = (lons.min, lons.max)
    val pad = S2.maxDiagDeg(res)
    val seed = S2.cellId((latMin + latMax) / 2, (lonMin + lonMax) / 2, res)
    val seen = scala.collection.mutable.HashSet[Long](seed)
    val queue = scala.collection.mutable.Queue(seed)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (queue.nonEmpty) {
      val c = queue.dequeue()
      val (clat, clon) = S2.centerLatLon(c)
      if (clat >= latMin - pad && clat <= latMax + pad &&
          clon >= lonMin - pad && clon <= lonMax + pad) {
        out += c
        S2.ringCells(c, 1).foreach(nb => if (seen.add(nb)) queue.enqueue(nb))
      }
    }
    out.toSeq
  }

  /** Exact point-in-polygon test as a pure Column expression (ray cast on a
    * polygon passed as literal vertex arrays — suitable for small broadcast
    * polygon dims; the general path would lift this into a Catalyst
    * Expression over WKB).
    */
  def rayCast(lat: Column, lon: Column, verts: Seq[(Double, Double)]): Column = {
    val edges = verts.zip(verts.tail :+ verts.head)
    edges.map { case ((y1, x1), (y2, x2)) =>
      val crosses = (lit(y1) > lat) =!= (lit(y2) > lat)
      val xCross  = lit(x1) + (lat - y1) / (lit(y2) - y1) * (lit(x2) - x1)
      when(crosses && lon < xCross, 1).otherwise(0)
    }.reduce(_ + _) % 2 === 1
  }

  /** kNN join (k=1): nearest dim row for every point, euclidean-on-degrees
    * (the reference's KDTree metric, gscap/utils.py:141-158), deterministic
    * tie-break on the dim key. Dim is broadcast; the probe side never
    * shuffles at full width. Two-pass pure-HASH argmin (no window, no sort
    * anywhere in the plan):
    *   1. min(d2) per point — HashAggregate with map-side partial combine
    *      (group keys include every point column: functionally dependent on
    *      the point key, all primitive → hashable);
    *   2. re-score against the broadcast dim, keep rows hitting the min
    *      (identical expression → identical double bits), tie-break
    *      min(dimKey) — a second primitive HashAggregate — then recover the
    *      winning dim row by an equi broadcast join on dimKey.
    * The rescoring repeats O(N·|dim|) arithmetic but never materializes,
    * sorts, or shuffles the scored rows.
    *
    * PRECONDITION: point lat/lon must be NON-NULL — min(d2) over a null
    * coordinate is null and the null === null rescore join never matches,
    * so such points are silently DROPPED from the output (unlike the older
    * window formulation, which emitted one row per point regardless).
    * Validate/filter nulls first (operators.Validation) and re-attach them
    * explicitly if the caller needs them (see the gps_valid query).
    */
  def nearestNeighbor(points: DataFrame, dim: DataFrame, dimKey: String,
                      pointKeys: Seq[String]): DataFrame = {
    val d2 = Geo.euclidDeg2(col("lat"), col("lon"), col("d_lat"), col("d_lon"))
    // spread small inputs before the |dim|-way score fan-out: the partial
    // HashAggregate below runs on the INPUT partitioning, so a single-split
    // point table pushed |points|·|dim| scored rows through one task
    // (r6; no-op at scale — Par.spreadForCpu)
    val spread = graft.functions.Par.spreadForCpu(points, pointKeys.map(col))
    val ptCols = points.columns.toSeq
    val minD2 = spread
      .join(broadcast(dim), lit(true), "inner")
      .groupBy(ptCols.map(col): _*)
      .agg(min(d2).as("d2"))
    val tieBroken = minD2
      .join(broadcast(dim), d2 === col("d2"), "inner")
      .groupBy((ptCols :+ "d2").map(col): _*)
      .agg(min(col(dimKey)).as(dimKey))
    tieBroken.join(broadcast(dim.withColumnRenamed(dimKey, s"__dk")),
        col(dimKey) === col("__dk"), "inner")
      .drop("__dk")
  }

  /** kNN via grid-cell rings (the J5 scale path, SURVEY.md: "H3-index the
    * dim table, probe kRing rings of increasing radius until hit, exact
    * tie-break"): instead of replicating the whole dim per point (brute
    * force), each point probes its (2·maxRings+1)² cell ring at `res` — an
    * EQUI join on cell id — in ONE pass (iterating ring-by-ring re-derives
    * every earlier ring's plan per stage; one slightly wider probe beats
    * re-running the join per ring). Exact provided the true nearest
    * neighbor lies within `maxRings` rings (callers pick `res` so the ring
    * covers the expected NN distance): a found candidate at
    * d ≤ maxRings·cellHeight cannot be beaten by anything outside the ring.
    * Stragglers (sparse regions) fall back to the exact brute-force path.
    * Argmin + key tie-break identical to [[nearestNeighbor]].
    */
  def nearestNeighborCellRing(points: DataFrame, dim: DataFrame, dimKey: String,
                              pointKey: String, res: Int, maxRings: Int = 3): DataFrame = {
    // the kRing EXPLODE goes on the broadcast-small dim side: each dim row
    // registers itself in every cell of its own ring, and each point joins
    // on its single cell — point p sees dim d iff their cells are ≤ maxRings
    // apart, identical to probing p's ring, but the (2k+1)² fanout hits the
    // tiny dim instead of the 10^12-row probe side
    val dimCells = dim.withColumn("probe_cell",
      explode(Grid.kRing(Grid.cell(col("d_lat"), col("d_lon"), res), maxRings)))
    // acceptance bound from the S2 min-width metric: anything OUTSIDE a
    // dim's maxRings-ring is ≥ maxRings·minWidth away (ring ⊇ BFS ball and
    // a path leaving the ball crosses that many full cell widths), and
    // euclid-on-degrees ≥ angular degrees, so a hit at d ≤ bound cannot be
    // beaten by an unseen dim row
    val bound = maxRings * graft.functions.S2.minWidthDeg(res)
    val d2 = Geo.euclidDeg2(col("lat"), col("lon"), col("d_lat"), col("d_lon"))

    // two-pass pure-HASH argmin over the ring candidates (r6): the struct
    // min form planned SortAggregate ×2 — full sorts of the wide scored
    // candidate set. Identical winner selection to [[nearestNeighbor]]:
    // min(d2) per point (primitive HashAggregate), rescore against the
    // broadcast ring registrations (identical expression → identical
    // double bits), tie-break min(dimKey), then recover the winning dim
    // row by an equi broadcast join on dimKey.
    val ptsCell = points.withColumn("cell", Grid.cell(col("lat"), col("lon"), res))
    val ptCols = ptsCell.columns.toSeq
    val minD2 = ptsCell
      .withColumn("probe_cell", col("cell"))
      .join(broadcast(dimCells), Seq("probe_cell"))
      .groupBy(ptCols.map(col): _*)
      .agg(min(d2).as("d2"))
    val tieBroken = minD2
      .withColumn("probe_cell", col("cell"))
      .join(broadcast(dimCells), Seq("probe_cell"))
      .where(d2 === col("d2"))
      .groupBy((ptCols :+ "d2").map(col): _*)
      .agg(min(col(dimKey)).as(dimKey))
    val hit = tieBroken
      .join(broadcast(dim.withColumnRenamed(dimKey, "__dk")), col(dimKey) === col("__dk"))
      .drop("__dk")
      .where(sqrt(col("d2")) <= bound) // coverage guarantee
    val remaining = points.join(hit.select(pointKey), Seq(pointKey), "left_anti")
    val rest = nearestNeighbor(remaining, dim, dimKey, Seq(pointKey))
      .withColumn("cell", Grid.cell(col("lat"), col("lon"), res))
    hit.unionByName(rest, allowMissingColumns = true)
  }

  /** Proximity anti-join (J6, gscap/gps.py:1518-1530): keep only points at
    * least `minMeters` from every center in `centers(c_lat, c_lon)`.
    */
  def farFromAll(points: DataFrame, centers: DataFrame, minMeters: Double): DataFrame =
    points.join(
      broadcast(centers),
      Geo.haversineMeters(col("lat"), col("lon"), col("c_lat"), col("c_lon")) < minMeters,
      "left_anti")

  /** Pairwise distances (J8, gscap/gps.py:1070-1100): self theta-join i<j.
    * At scale this is bounded by co-partitioning on a Grid cell; the raw
    * form is exposed for small frames / fixture parity (distance half-even
    * 1 dp like np.round(result, 1)).
    */
  def pairwiseDistances(pts: DataFrame, idCol: String): DataFrame = {
    val a = pts.select(col(idCol).as("id1"), col("lat").as("lat1"), col("lon").as("lon1"))
    val b = pts.select(col(idCol).as("id2"), col("lat").as("lat2"), col("lon").as("lon2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("distance",
        bround(Geo.haversineMeters(col("lat1"), col("lon1"), col("lat2"), col("lon2")), 1))
  }

  /** Explicit skew salting (north rule): spread a hot key across `salts`
    * sub-keys. Fact side gets a deterministic salt from a row hash; the dim
    * side explodes to all salts. The join then runs on (key, salt) — no
    * reducer sees more than 1/salts of a hot key. Use for the pathological
    * head cells AQE's skew split can't rebalance (e.g. a single city cell
    * holding a large share of all pages).
    */
  def saltFact(df: DataFrame, rowIdCol: String, salts: Int): DataFrame =
    df.withColumn("salt", pmod(xxhash64(col(rowIdCol)), lit(salts)).cast("int"))

  def saltDim(df: DataFrame, salts: Int): DataFrame =
    df.withColumn("salt", explode(sequence(lit(0), lit(salts - 1)).cast("array<int>")))

  /** Equi join on `keys` with the fact side salted by `rowIdCol` (any
    * roughly-unique column) and the dim side replicated `salts`×.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keys: Seq[String],
                 rowIdCol: String, salts: Int): DataFrame =
    saltFact(fact, rowIdCol, salts)
      .join(saltDim(dim, salts), keys :+ "salt")
      .drop("salt")
}
