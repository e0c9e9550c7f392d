package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** S2 cell geometry — the real equal-area hierarchical index behind the
  * engine's Grid API (SURVEY.md §1 names H3/S2; the north rule requires it).
  *
  * This is the public S2 cell scheme implemented from its published
  * definition (s2geometry.io / s2coords.h, public domain spec):
  *
  *   1. lat/lng → unit xyz → dominant-axis CUBE FACE (0..5) + gnomonic
  *      (u, v) ∈ [-1, 1]² on that face;
  *   2. quadratic ST transform s = ½√(1+3u) (u ≥ 0), 1 − ½√(1−3u) (u < 0) —
  *      the area-equalizing reparameterization (max/min cell area ratio
  *      ≈ 2.08 at every level, vs unbounded pole degeneracy for a lat/lon
  *      grid — the skew property this codec exists for);
  *   3. (i, j) = ⌊s·2^level⌋ discrete leaf coordinates;
  *   4. HILBERT CURVE position via the standard S2 orientation tables
  *      (kPosToIJ / kIJtoPos / kPosToOrientation, initial orientation =
  *      face & 1), packed into the canonical 64-bit id:
  *          id = face·2^61 | pos·2^(2(30−level)+1) | 2^(2(30−level))
  *      (3 face bits, 2 bits per level, trailing 1 marks the level; level-0
  *      face cells are 0x1000000000000000·(2·face+1), matching the published
  *      S2 face-cell tokens 1,3,5,7,9,b).
  *
  * Parent is a pure bit op (clear low pos bits, move the trailing 1);
  * sibling cells at any level are id-contiguous (Hilbert), so range scans
  * cluster spatially. Correctness is pinned structurally in S2Spec: curve
  * adjacency over an entire face (validates the orientation tables against
  * the Hilbert definition itself), round-trips, parent-prefix equality,
  * cross-face ring coverage, and the equal-area measurement.
  *
  * The DuckDB oracle recomputes identical ids via OracleSql.s2CellCtes — the
  * textual twin of [[cellId]] with the same operation order (divisions,
  * √-form, floor-then-clamp, per-level Hilbert state chain).
  */
object S2 {

  val MaxLevel = 30

  /** kPosToIJ[orientation][position] → ij (i = high bit, j = low bit). */
  val PosToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), // canonical:         (0,0) (0,1) (1,1) (1,0)
    Array(0, 2, 3, 1), // axes swapped
    Array(3, 2, 0, 1), // bits inverted
    Array(3, 1, 0, 2)) // swapped + inverted

  /** kIJtoPos = row-wise inverse of kPosToIJ. */
  val IJtoPos: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), Array(0, 3, 1, 2), Array(2, 3, 1, 0), Array(2, 1, 3, 0))

  /** kPosToOrientation: orientation XOR-delta per position. */
  val PosToOrientation: Array[Int] = Array(1, 0, 0, 3)

  /** combo[orientation·4 + ij] = pos·4 + nextOrientation — one-table form of
    * (kIJtoPos, kPosToOrientation) used by both the Scala loop and the SQL
    * twin's per-level CASE.
    */
  val Combo: Array[Int] = {
    val c = new Array[Int](16)
    for (o <- 0 until 4; ij <- 0 until 4) {
      val pos = IJtoPos(o)(ij)
      c(o * 4 + ij) = pos * 4 + (o ^ PosToOrientation(pos))
    }
    c
  }

  /** Quadratic UV→ST (area-equalizing; s2coords.h S2_QUADRATIC_PROJECTION). */
  @inline def uvToSt(u: Double): Double =
    if (u >= 0.0) 0.5 * math.sqrt(1.0 + 3.0 * u)
    else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)

  /** Inverse ST→UV. */
  @inline def stToUv(s: Double): Double =
    if (s >= 0.5) (4.0 * s * s - 1.0) / 3.0
    else (1.0 - 4.0 * (1.0 - s) * (1.0 - s)) / 3.0

  /** Dominant-axis face + gnomonic uv from a (not necessarily unit) xyz. */
  def faceUvFromXyz(x: Double, y: Double, z: Double): (Int, Double, Double) = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax >= ay && ax >= az) { if (x >= 0) (0, y / x, z / x) else (3, z / x, y / x) }
    else if (ay >= az) { if (y >= 0) (1, -x / y, z / y) else (4, z / y, -x / y) }
    else { if (z >= 0) (2, -x / z, -y / z) else (5, -y / z, -x / z) }
  }

  /** Inverse: face + uv → xyz direction (linear; valid for |u|,|v| > 1 too,
    * which the ring construction uses to wrap across faces).
    */
  def faceUvToXyz(face: Int, u: Double, v: Double): (Double, Double, Double) = face match {
    case 0 => (1.0, u, v)
    case 1 => (-u, 1.0, v)
    case 2 => (-u, -v, 1.0)
    case 3 => (-1.0, -v, -u)
    case 4 => (v, -1.0, -u)
    case _ => (v, u, -1.0)
  }

  /** ⌊s·2^level⌋ clamped to [0, 2^level) — floor BEFORE clamp, mirrored by
    * the SQL twin's least(greatest(floor(·),0),n−1).
    */
  @inline def stToIj(s: Double, level: Int): Int = {
    val n = 1 << level
    val f = math.floor(s * n)
    if (f < 0.0) 0 else if (f > n - 1) n - 1 else f.toInt
  }

  /** (face, i, j) → canonical cell id at `level` (Hilbert position chain,
    * initial orientation face & 1).
    */
  def fromFaceIJ(face: Int, i: Int, j: Int, level: Int): Long = {
    var orient = face & 1
    var n: Long = face.toLong
    var k = level - 1
    while (k >= 0) {
      val ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
      val c = Combo(orient * 4 + ij)
      n = (n << 2) | (c >> 2)
      orient = c & 3
      k -= 1
    }
    val shift = 2 * (MaxLevel - level)
    (n << (shift + 1)) | (1L << shift)
  }

  /** The codec entry point: (lat°, lon°) → S2 cell id at `level`.
    * Allocation-free (no tuples) — this runs per row in the hot encode path.
    * Semantics identical to the lat/lon → xyz → faceUvFromXyz route (same
    * ties, same order).
    */
  def cellId(lat: Double, lon: Double, level: Int): Long = {
    val phi = lat / 180.0 * math.Pi
    val theta = lon / 180.0 * math.Pi
    val cosphi = math.cos(phi)
    val x = cosphi * math.cos(theta)
    val y = cosphi * math.sin(theta)
    val z = math.sin(phi)
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    var face = 0; var u = 0.0; var v = 0.0
    if (ax >= ay && ax >= az) {
      if (x >= 0) { face = 0; u = y / x; v = z / x }
      else { face = 3; u = z / x; v = y / x }
    } else if (ay >= az) {
      if (y >= 0) { face = 1; u = -x / y; v = z / y }
      else { face = 4; u = z / y; v = -x / y }
    } else {
      if (z >= 0) { face = 2; u = -x / z; v = -y / z }
      else { face = 5; u = -y / z; v = -x / z }
    }
    fromFaceIJ(face, stToIj(uvToSt(u), level), stToIj(uvToSt(v), level), level)
  }

  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  /** Parent at `parentLevel`: clear sub-level pos bits, move the trailing 1.
    * (S2's (id & −lsb) | lsb.)
    */
  def parentId(id: Long, parentLevel: Int): Long = {
    val lsb = 1L << (2 * (MaxLevel - parentLevel))
    (id & -lsb) | lsb
  }

  /** Decode id → (face, i, j, level) — inverse Hilbert walk. */
  def toFaceIJ(id: Long): (Int, Int, Int, Int) = {
    val lvl = level(id)
    val face = (id >>> 61).toInt
    val pos = (id >>> (2 * (MaxLevel - lvl) + 1)) & ((1L << (2 * lvl)) - 1)
    var orient = face & 1
    var i = 0; var j = 0
    var k = lvl - 1
    while (k >= 0) {
      val p = ((pos >>> (2 * k)) & 3L).toInt
      val ij = PosToIJ(orient)(p)
      i |= (ij >> 1) << k
      j |= (ij & 1) << k
      orient ^= PosToOrientation(p)
      k -= 1
    }
    (face, i, j, lvl)
  }

  def centerLatLon(id: Long): (Double, Double) = {
    val (f, i, j, lvl) = toFaceIJ(id)
    val n = (1 << lvl).toDouble
    val (x, y, z) = faceUvToXyz(f, stToUv((i + 0.5) / n), stToUv((j + 0.5) / n))
    (math.atan2(z, math.sqrt(x * x + y * y)) * 180.0 / math.Pi,
      math.atan2(y, x) * 180.0 / math.Pi)
  }

  /** Conservative minimum cell width at `level`, angular DEGREES — the S2
    * quadratic-projection metric kMinWidth = (2√2/3)·2^−level radians
    * (measured ≥ this over random cells in S2Spec). Radius-join acceptance
    * bounds build on it: anything outside a k-ring is ≥ k·minWidth away.
    */
  def minWidthDeg(level: Int): Double =
    (2.0 * math.sqrt(2.0) / 3.0) / (1L << level).toDouble * (180.0 / math.Pi)

  /** Conservative maximum cell diagonal at `level`, angular degrees
    * (kMaxDiag ≈ 2.439·2^−level radians, padded).
    */
  def maxDiagDeg(level: Int): Double =
    2.45 / (1L << level).toDouble * (180.0 / math.Pi)

  /** All cells within k ij-steps of `id` — a guaranteed SUPERSET of the
    * BFS ball of radius k (cells reachable in ≤ k edge/corner steps),
    * including across cube-face edges and corners.
    *
    * In-face cells come from the exact (2k+1)² index window. For window
    * cells that overflow the face, the would-be cell center is extended
    * through the quadratic uv formulas (monotone beyond [0,1]), unprojected
    * via xyz onto the real neighboring face, and a (2·slack+1)² window is
    * added around the landing cell with slack = 2k+1 — the documented bound
    * on the nonlinear tangential/depth drift of the cross-edge map (≤ 2k
    * cells each way at depth ≤ k, +1 for rounding), so the aligned
    * cross-edge neighbors (and all corner-ball cells) are always contained.
    * Over-inclusion is harmless (ring consumers distance-refine); only
    * under-inclusion would break the kNN acceptance bound, and S2Spec
    * property-tests coverage with edge/corner-straddling samples.
    */
  def ringCells(id: Long, k: Int): Array[Long] = {
    val (face, i0, j0, lvl) = toFaceIJ(id)
    val n = 1 << lvl
    val nd = n.toDouble
    val out = new java.util.LinkedHashSet[java.lang.Long]()

    def addWindow(f: Int, ic: Int, jc: Int, r: Int): Unit = {
      var i = math.max(ic - r, 0)
      val iMax = math.min(ic + r, n - 1)
      val jMin = math.max(jc - r, 0)
      val jMax = math.min(jc + r, n - 1)
      while (i <= iMax) {
        var j = jMin
        while (j <= jMax) { out.add(fromFaceIJ(f, i, j, lvl)); j += 1 }
        i += 1
      }
    }

    addWindow(face, i0, j0, k)
    val slack = 2 * k + 1
    var di = -k
    while (di <= k) {
      var dj = -k
      while (dj <= k) {
        val i = i0 + di; val j = j0 + dj
        if (i < 0 || i >= n || j < 0 || j >= n) {
          // extended st center → uv (quadratic extension) → real face
          val u = stToUv((i + 0.5) / nd)
          val v = stToUv((j + 0.5) / nd)
          val (x, y, z) = faceUvToXyz(face, u, v)
          val (f2, u2, v2) = faceUvFromXyz(x, y, z)
          addWindow(f2, stToIj(uvToSt(u2), lvl), stToIj(uvToSt(v2), lvl), slack)
        }
        dj += 1
      }
      di += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var idx = 0
    while (it.hasNext) { arr(idx) = it.next(); idx += 1 }
    arr
  }

  /** [[ringCells]] as Spark ArrayData, the kernel behind Grid.kRing. */
  def ringArray(id: Long, k: Int): ArrayData = new GenericArrayData(ringCells(id, k))
}
