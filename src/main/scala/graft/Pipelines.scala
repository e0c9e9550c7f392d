package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Geo, Grid}
import graft.operators.Motion
import graft.sources.Tables

/** Composed GPS pipelines shared by SparkEntry queries, tests, and bench.
  * Each is the Column-expression twin of an OracleSql CTE.
  */
object Pipelines {

  /** Per-user home/work site coordinates (twin of OracleSql.hlat/…). */
  def homeLat: Column = lit(40.0) + (col("user_id") % 5).cast("double") * 1e-2
  def homeLon: Column = lit(-75.0) + (col("user_id") % 3).cast("double") * 1e-2
  def workLat: Column = homeLat + 4e-3
  def workLon: Column = homeLon + 4e-3

  /** GPS stream → velocity metrics (twin of OracleSql.velCtes). */
  def velocities(spark: SparkSession, sfDir: String): DataFrame =
    Motion.processVelocities(Tables.gps(spark, sfDir))

  /** Velocity points + date + level-16 S2 cell (≈150 m) + fence-labeled cid
    * (twin of OracleSql.labCtes). cid ∈ {home, work, x<cell16>} via 500 m
    * haversine fences around the per-user home/work sites — the J4 fence
    * relabel (gscap/gps.py:1124-1130) applied as a deterministic expression.
    */
  def labeledPoints(spark: SparkSession, sfDir: String): DataFrame = {
    val cell16 = Grid.cell(col("lat"), col("lon"), 16)
    velocities(spark, sfDir)
      .withColumn("date", col("ts").cast("date"))
      .withColumn("cid",
        when(Geo.haversineMeters(homeLat, homeLon, col("lat"), col("lon")) <= 500.0, "home")
          .when(Geo.haversineMeters(workLat, workLon, col("lat"), col("lon")) <= 500.0, "work")
          .otherwise(concat(lit("x"), cell16.cast("string"))))
  }

  /** [[labeledPoints]] materialized (localCheckpoint) — for consumers that
    * immediately FILTER on the window-derived binning/cid/time_delta
    * columns (sessionization, entropy). Catalyst pushes such predicates
    * through the staging projections, re-substituting the full haversine/
    * fence CASE trees into the filter (pushdown substitutes aliases
    * regardless of cost — CLAUDE.md); filtering the materialized frame
    * evaluates plain column references instead. Measured at sf0.1 r6,
    * interleaved: visits 2.36 s → 0.93 s, entropy 1.30 s → 0.71 s. The
    * checkpoint is per-invocation (inside the timed query, recomputed from
    * parquet every run) — lineage truncation, not cross-run caching.
    *
    * Building the frame runs a Spark job (eager localCheckpoint). Its blocks
    * stay until the frame is unreachable and the ContextCleaner drops them;
    * `cacheManager.clearCache()` does not free them.
    */
  def labeledPointsM(spark: SparkSession, sfDir: String): DataFrame =
    labeledPoints(spark, sfDir).localCheckpoint()
}
