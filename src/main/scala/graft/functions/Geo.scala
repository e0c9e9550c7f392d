package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Geospatial column expressions — pure `Column` compositions (whole-stage
  * codegen'd, no UDFs anywhere in the hot path).
  *
  * Semantics derived from the reference implementation:
  *   - haversine: gscap/utils.py:204-228 (R=6371.0 km, atan2 form, meters)
  *   - euclidean-degrees metric: gscap/gps.py:1823-1826 (DBSCAN runs on raw
  *     lat/lon degrees with euclidean distance — a reference quirk we keep
  *     for fixture parity)
  */
object Geo {

  /** Mean Earth radius in meters (reference: gscap/utils.py:218 `r = 6371.0` km). */
  val EarthRadiusMeters: Double = 6371.0 * 1000.0

  /** Great-circle distance in meters, atan2 form for exact reference parity
    * (gscap/utils.py:221-228). Pure codegen-friendly expression.
    */
  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val rlat1 = radians(lat1)
    val rlat2 = radians(lat2)
    val sdlat = sin((radians(lat2) - radians(lat1)) / 2.0)
    val sdlon = sin((radians(lon2) - radians(lon1)) / 2.0)
    val a = sdlat * sdlat + cos(rlat1) * cos(rlat2) * (sdlon * sdlon)
    val c = atan2(sqrt(a), sqrt(lit(1.0) - a)) * 2.0
    c * EarthRadiusMeters
  }

  /** Squared euclidean distance on raw degrees — the reference's DBSCAN
    * metric (gscap/gps.py:1823-1826). Squared form avoids a sqrt when only
    * comparisons are needed; callers compare against eps².
    */
  def euclidDeg2(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    (lat1 - lat2) * (lat1 - lat2) + (lon1 - lon2) * (lon1 - lon2)
}

/** np.round as a Column: half-even on the SCALED BINARY double
  * (numpy multiplies by 10^dp and rints), which differs from Spark's
  * bround (BigDecimal half-even on the decimal representation) exactly at
  * values whose scaled binary form is a representable .5 — the cases that
  * matter for fixture parity with numpy/pandas outputs.
  */
object NpRound {
  def apply(c: Column, dp: Int): Column = {
    val scale = math.pow(10, dp)
    val s     = c * scale
    val r     = floor(s)
    val frac  = s - r
    val n = when(frac > 0.5, r + 1)
      .when(frac < 0.5, r)
      .otherwise(when(pmod(r, lit(2.0)) === 0.0, r).otherwise(r + 1))
    n / scale
  }
}

/** The engine's hierarchical spatial index — a thin façade over the real
  * [[S2]] cell codec (cube face + quadratic equal-area ST + Hilbert curve,
  * canonical 64-bit id format). Kept as `Grid` so operators address one
  * API; `res` parameters are S2 LEVELS (cell width ≈ 54°·2^−level, e.g.
  * level 10 ≈ 9 km, 13 ≈ 1.2 km, 16 ≈ 150 m).
  *
  * Why S2 and not a lat/lon grid: equal-area cells are the skew story at
  * scale — equirectangular cells shrink toward the poles (unboundedly
  * smaller area per cell ⇒ hot high-latitude shuffle keys and degenerate
  * lon-ring math), while S2's quadratic projection bounds max/min cell area
  * at ≈ 2.08 for every level. The DuckDB oracle recomputes identical ids
  * (OracleSql.s2CellCtes).
  */
object Grid {

  /** Encode (lat, lon) → S2 cell id at `res` (level): one compiled
    * [[S2.cellId]] call per row (the Column-algebra formulation would
    * rebuild the Hilbert chain as ~16 chained CASE trees).
    */
  def cell(lat: Column, lon: Column, res: Int): Column = {
    require(res >= 0 && res <= S2.MaxLevel, s"level out of range: $res")
    ColumnBridge.invoke(S2, "cellId", LongType, lat.cast("double"), lon.cast("double"), lit(res))
  }

  /** Parent cell at a coarser level — pure bit ops ((id & −lsb) | lsb),
    * exact by the Hilbert prefix property (equals encoding directly at
    * `parentRes`, asserted in GeoSpec).
    */
  def toParent(cell: Column, childRes: Int, parentRes: Int): Column = {
    require(parentRes <= childRes, "parent must be coarser")
    val lsb = 1L << (2 * (S2.MaxLevel - parentRes))
    cell.bitwiseAND(lit(-lsb)).bitwiseOR(lit(lsb))
  }

  /** k-ring: all cells within k ij-steps (a guaranteed superset of the BFS
    * ball, incl. across cube-face edges/corners — see [[S2.ringCells]]).
    * The level is read from the id.
    */
  def kRing(cellCol: Column, k: Int): Column =
    ColumnBridge.invoke(S2, "ringArray", ArrayType(LongType, containsNull = false), cellCol, lit(k))

  /** Scala-side encode (driver/test use; same codec as `cell`). */
  def cellId(lat: Double, lon: Double, res: Int): Long = S2.cellId(lat, lon, res)

  /** Scala-side parent. */
  def parentId(cell: Long, parentRes: Int): Long = S2.parentId(cell, parentRes)
}
