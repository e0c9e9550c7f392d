package graft

import org.apache.spark.sql.functions._
import graft.functions.{Geo, Grid}

/** Pinned-value parity with the reference utils tests.
  * References: tests/test_utils.py:162-167 (141114.06626067968 m),
  * tests/test_gps.py:582-587 (pairwise 111194.9 m).
  */
class GeoSpec extends SparkSpec {
  import spark.implicits._

  private def hv(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double =
    Seq((lat1, lon1, lat2, lon2)).toDF("a", "b", "c", "d")
      .select(Geo.haversineMeters(col("a"), col("b"), col("c"), col("d")))
      .head.getDouble(0)

  test("haversine zero for identical points (test_utils.py:162-164)") {
    assert(hv(38.11094, -86.91513, 38.11094, -86.91513) === 0.0)
  }

  test("haversine pinned value (test_utils.py:165-167)") {
    val d = hv(38.11094, -86.91513, 39.11094, -85.91513)
    assert(math.abs(d - 141114.06626067968) < 1e-6)
  }

  test("pairwise distance one degree of latitude = 111194.9 m (test_gps.py:582-587)") {
    val d = hv(0.0, 0.0, 1.0, 0.0)
    assert(math.abs(d - 111194.9) < 0.05)
    // np.round(·, 1) parity
    val rounded = Seq((0.0, 0.0, 1.0, 0.0)).toDF("a", "b", "c", "d")
      .select(bround(Geo.haversineMeters(col("a"), col("b"), col("c"), col("d")), 1))
      .head.getDouble(0)
    assert(rounded === 111194.9)
  }

  test("haversine symmetry (property)") {
    val pts = Seq((47.6798, -122.3257, 40.7728, -111.8384), (-33.86, 151.21, 51.5, -0.12))
    for ((a, b, c, d) <- pts) assert(math.abs(hv(a, b, c, d) - hv(c, d, a, b)) < 1e-9)
  }

  test("grid cell codec: scala/column parity, level recovery, center round-trip") {
    import graft.functions.S2
    val samples = Seq((0.0, 0.0), (40.001, -75.002), (-89.9, 179.9), (89.9, -179.9), (38.11094, -86.91513))
    for (res <- Seq(5, 10, 13, 16); (lat, lon) <- samples) {
      val fromCol = Seq((lat, lon)).toDF("lat", "lon")
        .select(Grid.cell(col("lat"), col("lon"), res)).head.getLong(0)
      assert(fromCol === Grid.cellId(lat, lon, res), s"res=$res ($lat,$lon)")
      assert(S2.level(fromCol) === res)
      // decode → the cell's center re-encodes to the same cell
      val (cla, clo) = S2.centerLatLon(fromCol)
      assert(Grid.cellId(cla, clo, res) === fromCol)
    }
  }

  test("grid parent hierarchy: toParent == direct encode at coarser level (Hilbert prefix)") {
    val df = Seq((40.0123, -74.9876), (-12.34, 56.78)).toDF("lat", "lon")
    val rows = df.select(
      Grid.toParent(Grid.cell(col("lat"), col("lon"), 13), 13, 5).as("p"),
      Grid.cell(col("lat"), col("lon"), 5).as("d")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("grid cell rejects a level outside 0..30 when the Column is built") {
    intercept[IllegalArgumentException](Grid.cell(col("lat"), col("lon"), 31))
  }

  test("kRing contains the cell itself and has (2k+1)^2 members away from edges") {
    val df = Seq((40.0, -75.0)).toDF("lat", "lon")
      .select(Grid.cell(col("lat"), col("lon"), 13).as("cell"))
    val ring = df.select(Grid.kRing(col("cell"), 1).as("ring"), col("cell")).head
    val cells = ring.getSeq[Long](0)
    assert(cells.size === 9)
    assert(cells.contains(ring.getLong(1)))
  }
}
