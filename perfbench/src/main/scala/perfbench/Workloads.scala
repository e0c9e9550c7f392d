package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.Grid
import graft.ingest.Pages
import graft.lineage.CheckpointedRunner
import graft.sources.Tables

/** What the workloads share: the live session (replaced when the scaling
  * probe restarts it), the listener, the tracer and the run's options. */
final class Ctx(var spark: SparkSession, val obs: Obs, val tracer: Tracer,
                val dataDir: String, val workDir: String, val seed: Long,
                val injectWrong: Boolean) {
  val errors = mutable.ArrayBuffer.empty[String]
  /** Spark jobs started while building DataFrames (traced runs only). */
  var buildJobs = 0L

  /** A call that builds a DataFrame: traced as "build", and, when tracing,
    * the jobs it starts (eager checkpoints, probes, driver collects) are
    * counted. */
  def build[T](body: => T): T =
    if (!tracer.enabled) body
    else {
      val before = obs.snapshot(spark.sparkContext)
      try tracer.span("build")(body)
      finally buildJobs += (obs.snapshot(spark.sparkContext) - before).jobs
    }
  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] $msg")
    if (errors.size < 50) errors += msg
  }
}

/** One timed pass: its wall time, the per-operation wall times, the work
  * items it processed (and over which seconds), and the operations it ran
  * and lost. */
final case class PassStats(wallS: Double, opS: Seq[Double], items: Double, itemS: Double,
                           attempted: Int, failed: Int)

trait Workload {
  /** One full pass outside the measurement; also builds the references the
    * timed passes are checked against. */
  def warm(): Unit
  /** Full passes the warm-up runs in all (the first is [[warm]], the rest
    * untimed [[pass]]es) before timing starts. */
  def warmPasses: Int = 1
  def pass(): PassStats
  /** When set, the timed region is exactly this many passes instead of as
    * many as fit in the run's seconds. */
  def fixedPasses: Option[Int] = None
  /** `pass_s`, `op_p50_s` and `items_per_s` over the untraced passes:
    * medians over the passes. */
  def summarize(passes: Seq[PassStats]): (Double, Double, Double) = (
    Stats.median(passes.map(_.wallS)),
    Stats.median(passes.flatMap(_.opS)),
    Stats.median(passes.map(p => p.items / p.itemS)))
  /** Correctness checks outside the timed region; returns operations found
    * wrong after the fact (each counts as failed). */
  def verify(): Int
  /** Workload-specific breakdown for the traced run's detail artifact. */
  def traceDetail(): Seq[(String, Double)] = Nil
  /** Files the DuckDB oracle check reads (query name → result dir). */
  def oracleDumps: Map[String, String] = Map.empty
  /** Timed executions per query name, so an oracle failure found later marks
    * each of them as wrong. */
  def opsPerName: Map[String, Int] = Map.empty
}

object Canon {
  /** Order-independent, type-faithful rendering of a collected result. */
  def rows(rs: Array[Row]): Vector[String] = rs.iterator.map(value).toVector.sorted

  def value(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case t: java.sql.Timestamp => s"ts:${Math.floorDiv(t.getTime, 1000L)}.${t.getNanos}"
    case s: String => Json.str(s)
    case x => x.toString
  }
}

/** A fixed list of `SparkEntry.queries` run one at a time, each collected
  * by the client. A listed name the engine no longer has is a failed
  * operation on every pass. */
final class QueryList(ctx: Ctx, names: Seq[String], itemsOf: String => Long,
                      override val fixedPasses: Option[Int] = None,
                      override val warmPasses: Int = 1) extends Workload {
  private val ref = mutable.Map.empty[String, Vector[String]]
  private val schemas = mutable.Map.empty[String, StructType]
  private val warmRows = mutable.Map.empty[String, Array[Row]]
  private val ops = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var passes = 0
  private val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** Each query's wall times over the untraced passes. */
  private val untracedS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Each query's time is its lower median over the timed passes (the
    * faster of two), so a host slowdown that hits one run of a query does
    * not count; `pass_s` is their sum and `op_p50_s` their median. The
    * untimed warm-up passes come first, so the timed ones are the last
    * `ps.size` samples. */
  override def summarize(ps: Seq[PassStats]): (Double, Double, Double) = {
    val measured = names.filter(untracedS.contains)
    val per = measured.map(n => Stats.lowerMedian(untracedS(n).takeRight(ps.size).toSeq))
    (per.sum, Stats.median(per), measured.map(itemsOf).sum / per.sum)
  }

  /** Build, plan and run one query; returns (seconds, rows). */
  private def runOne(name: String): (Double, Array[Row], StructType) = {
    val sc = ctx.spark.sparkContext
    val fn = SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(s"query $name is not in SparkEntry.queries"))
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val before = if (t.enabled) ctx.obs.snapshot(sc) else Counts.zero
    val (rows, schema) = t.span(s"op:$name") {
      val df = ctx.build { fn(ctx.spark, ctx.dataDir) }
      t.span("plan") { df.queryExecution.executedPlan }
      (t.span("exec") { df.collect() }, df.schema)
    }
    if (t.enabled) jobs(name) += (ctx.obs.snapshot(sc) - before).jobs
    val dt = (System.nanoTime() - t0) / 1e9
    ctx.spark.sharedState.cacheManager.clearCache()
    (dt, rows, schema)
  }

  def warm(): Unit = names.foreach { n =>
    try {
      val (_, rows, schema) = runOne(n)
      ref(n) = Canon.rows(rows); schemas(n) = schema; warmRows(n) = rows
    } catch { case e: Exception => ctx.fail(s"$n (warm pass): ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  def pass(): PassStats = {
    var failed = 0
    val times = mutable.ArrayBuffer.empty[Double]
    var items = 0.0
    names.foreach { n =>
      ops(n) += 1
      try {
        val (dt, rows, _) = runOne(n)
        times += dt; items += itemsOf(n)
        if (!ctx.tracer.enabled) untracedS.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += dt
        var got = Canon.rows(rows)
        if (ctx.injectWrong && passes == 0 && n == names.head) got = got.drop(1)
        if (!ref.get(n).contains(got)) {
          failed += 1
          ctx.fail(s"$n: timed result differs from the checked warm-pass result (${got.size} vs ${ref.get(n).map(_.size)} rows)")
        }
      } catch { case e: Exception =>
        failed += 1; ctx.fail(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    passes += 1
    System.gc()
    PassStats(times.sum, times.toSeq, items, times.sum, names.size, failed)
  }

  /** Writes each warm-pass result for the DuckDB oracle check; the timed
    * results were compared with these row for row. */
  def verify(): Int = {
    val dir = Paths.get(ctx.workDir, "results")
    warmRows.foreach { case (n, rows) =>
      val keep = if (ctx.injectWrong && n == names.find(SparkEntry.oracleSql.contains).orNull) rows.drop(1) else rows
      ctx.spark.createDataFrame(keep.toSeq.asJava, schemas(n)).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(dir.resolve(n).toString)
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.obj(oracle.map { case (n, sql) => n -> Json.str(sql) }))
    0
  }

  override def oracleDumps: Map[String, String] =
    warmRows.keys.map(n => n -> Paths.get(ctx.workDir, "results", n).toString).toMap
  override def opsPerName: Map[String, Int] = ops.toMap

  /** Per-query and per-domain seconds and per-query jobs, per traced pass. */
  override def traceDetail(): Seq[(String, Double)] = {
    val secs = ctx.tracer.all.filter(_.name.startsWith("op:"))
      .groupBy(_.name.drop(3)).map { case (n, ss) => n -> ss.map(_.seconds).sum }
    val tracedPasses = ctx.tracer.all.count(_.name == "pass").max(1).toDouble
    val perQuery = names.map(n => s"$n.s" -> secs.getOrElse(n, 0.0) / tracedPasses)
    val perDomain = names.groupBy(n => n.takeWhile(_ != '_')).toSeq.sortBy(_._1).map {
      case (p, ns) => s"domain.${p}_s" -> ns.map(n => secs.getOrElse(n, 0.0)).sum / tracedPasses
    }
    val perQueryJobs = names.map(n => s"$n.jobs" -> jobs(n) / tracedPasses)
    perDomain ++ perQuery ++ perQueryJobs
  }
}

/** The pages pipeline (the shape of `ScalingBench.runJob`): text extraction,
  * geocode, grid cells, broadcast point-in-polygon join, per-tile count and
  * distinct-url aggregate. `keys` adds grouping columns. */
object PagesPipeline {
  val stages: Seq[String] = Seq("scan", "extract", "geocode", "cell", "join", "agg")

  def rects(spark: SparkSession, dir: String): DataFrame =
    Tables.region(spark, dir).select(
      col("r_regionkey"),
      (lit(40.0) + col("r_regionkey").cast("double") * 1e-2 - 2e-3).as("lat_min"),
      (lit(40.0) + col("r_regionkey").cast("double") * 1e-2 + 6e-3).as("lat_max"),
      lit(-76.0).as("lon_min"), lit(-74.0).as("lon_max"))

  /** The pipeline cut after `upTo` (a name from [[stages]]). */
  def build(t: Tracer, spark: SparkSession, dir: String, gps: DataFrame,
            keys: Seq[String] = Nil, upTo: String = "agg"): DataFrame = {
    val last = stages.indexOf(upTo)
    val pages = t.span("ingest.pagesFromGps") {
      val p = Pages.pagesFromGps(gps)
      if (keys.isEmpty) p else p.withColumn("day", date_format(col("warc_ts"), "yyyy-MM-dd"))
    }
    if (last == 0) return gps
    if (last == 1) return pages
    val geo0 = t.span("ingest.geocode") { Pages.geocode(pages) }
    if (last == 2) return geo0
    val geo = t.span("functions.grid") {
      geo0.withColumn("cell", Grid.cell(col("lat"), col("lon"), 13))
        .withColumn("tile_id", Grid.toParent(col("cell"), 13, 5))
    }
    if (last == 3) return geo
    val joined = t.span("operators.pipJoin") {
      geo.join(broadcast(rects(spark, dir)),
        col("lat") >= col("lat_min") && col("lat") < col("lat_max") &&
          col("lon") >= col("lon_min") && col("lon") < col("lon_max"), "left")
    }
    if (last == 4) return joined
    // pages outside every region get key -1, so the equi-join of the two
    // aggregates matches them too
    val keyed = joined.withColumn("r_regionkey", coalesce(col("r_regionkey"), lit(-1)))
    val g = keys ++ Seq("tile_id", "r_regionkey")
    t.span("operators.tileAgg") {
      val stats = keyed.groupBy(g.map(col): _*)
        .agg(count(lit(1)).as("n_pages"), avg(length(col("text"))).as("mean_chars"))
      val urls = keyed.select((g :+ "url").map(col): _*).distinct()
        .groupBy(g.map(col): _*).agg(count(lit(1)).as("n_urls"))
      stats.join(urls, g, "left")
    }
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** The frozen extractor's specification as a regex chain, the same chain
    * as `Pages.extractTextRegex`. The benchmark keeps its own copy so its
    * check does not depend on where the engine keeps parity-only code. */
  def extractTextSpec(html: Column): Column = {
    val s1 = regexp_replace(decode(html, "UTF-8"), "(?s)<script[^>]*>.*?</script>", " ")
    val s2 = regexp_replace(s1, "(?s)<style[^>]*>.*?</style>", " ")
    val s3 = regexp_replace(s2, "<[^>]*>", " ")
    val s4 = regexp_replace(regexp_replace(regexp_replace(s3, "&amp;", "&"), "&lt;", "<"), "&gt;", ">")
    trim(regexp_replace(s4, "\\s+", " "))
  }
}

/** Pages through the full pipeline into a noop sink, once per operation.
  * Its traced run also takes the first four days of the same pages through
  * one [[LineageWorkload]] crash + resume cycle, so the lineage layer is
  * measured on a workload listed in BENCHMARK.json. */
final class PagesWorkload(ctx: Ctx, pages: Long) extends Workload {
  private var lineageWrong = 0

  private def run(upTo: String = "agg"): Double = {
    val t = ctx.tracer
    val t0 = System.nanoTime()
    t.span("op:pipeline") {
      val df = ctx.build {
        PagesPipeline.build(t, ctx.spark, ctx.dataDir, t.span("sources.gps") {
          Tables.gps(ctx.spark, ctx.dataDir) }, upTo = upTo)
      }
      t.span("plan") { df.queryExecution.executedPlan }
      t.span("exec") { PagesPipeline.noop(df) }
    }
    (System.nanoTime() - t0) / 1e9
  }

  def warm(): Unit = run()

  /** The pipeline's generated code keeps getting faster over the first
    * passes (the JIT competes with four busy task threads), so the
    * warm-up runs four. */
  override def warmPasses: Int = 4

  def pass(): PassStats = {
    val dt = run()
    PassStats(dt, Seq(dt), pages.toDouble, dt, 1, 0)
  }

  /** Page count must be base × replication; a seeded sample of extracted
    * text must equal the regex specification byte for byte. */
  def verify(): Int = {
    val s = ctx.spark
    var wrong = lineageWrong
    val agg = PagesPipeline.build(new Tracer(false, ""), s, ctx.dataDir, Tables.gps(s, ctx.dataDir))
      .agg(sum("n_pages"), sum("n_urls")).head()
    val expect = if (ctx.injectWrong) pages + 1 else pages
    if (agg.getLong(0) != expect || agg.getLong(1) != expect) {
      wrong += 1; ctx.fail(s"pages: counted ${agg.getLong(0)} pages and ${agg.getLong(1)} urls, expected $expect")
    }
    val sample = Pages.pagesFromGps(Tables.gps(s, ctx.dataDir))
      .where(pmod(xxhash64(col("url"), lit(ctx.seed)), lit(500L)) === 0)
      .select(col("url"), Pages.extractText(col("html")).as("a"), PagesPipeline.extractTextSpec(col("html")).as("b"))
      .collect()
    val bad = sample.count(r => !java.util.Arrays.equals(
      r.getString(1).getBytes("UTF-8"), r.getString(2).getBytes("UTF-8")))
    if (sample.isEmpty || bad > 0) {
      wrong += 1; ctx.fail(s"pages: $bad of ${sample.length} sampled texts differ from the regex extractor")
    }
    wrong
  }

  /** Stage costs: each prefix of the pipeline into a noop sink; a stage's
    * cost is the difference to the prefix before it. */
  override def traceDetail(): Seq[(String, Double)] = {
    val off = new Tracer(false, "")
    val secs = PagesPipeline.stages.map { st =>
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        PagesPipeline.noop(PagesPipeline.build(off, ctx.spark, ctx.dataDir,
          Tables.gps(ctx.spark, ctx.dataDir), upTo = st))
        (System.nanoTime() - t0) / 1e9
      }
      Stats.median(times)
    }
    val stageCosts = PagesPipeline.stages.indices.map { i =>
      s"stage.${PagesPipeline.stages(i)}_s" -> (secs(i) - (if (i == 0) 0.0 else secs(i - 1)))
    }
    val lineage = new LineageWorkload(ctx, maxDays = 4)
    lineage.warm()
    lineage.pass()
    lineageWrong = lineage.verify()
    stageCosts ++ lineage.traceDetail().map { case (k, v) => s"lineage.$k" -> v }
  }
}

/** The pages pipeline split into one unit per `warc_ts` day and written
  * through `CheckpointedRunner.runPartitioned`; a unit that throws crashes
  * the first pass halfway, then a resume pass runs the rest. */
final class LineageWorkload(ctx: Ctx, maxDays: Int = Int.MaxValue) extends Workload {
  private var days: Seq[String] = Nil
  private var pagesPerDay: Map[String, Long] = Map.empty
  private var cycle = 0
  private var lastBase: Path = _
  private val extra = mutable.ArrayBuffer.empty[(String, Double)]

  private def gps: DataFrame = Tables.gps(ctx.spark, ctx.dataDir)

  private def unitDf(day: String): DataFrame =
    PagesPipeline.build(ctx.tracer, ctx.spark, ctx.dataDir,
      gps.where(date_format(col("ts"), "yyyy-MM-dd") === day))

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** One crash + resume cycle into fresh directories. */
  private def runCycle(): PassStats = {
    val s = ctx.spark
    val base = Paths.get(ctx.workDir, s"lineage-$cycle")
    cycle += 1
    if (lastBase != null) deleteTree(lastBase)
    lastBase = base
    val ckpt = base.resolve("ckpt").toString
    val out = base.resolve("out").toString
    val crashAt = days.size / 2
    val starts = mutable.ArrayBuffer.empty[Long]
    def units(crash: Boolean): Seq[(String, () => DataFrame)] = days.zipWithIndex.map { case (d, i) =>
      d -> (() => {
        starts += System.nanoTime()
        if (crash && i == crashAt) throw new IllegalStateException(s"injected crash at unit $i")
        ctx.build { unitDf(d) }
      })
    }
    val t = ctx.tracer
    val t0 = System.nanoTime()
    val crashed = t.span("op:crash_pass") {
      try { CheckpointedRunner.runPartitioned(s, ckpt, out, units(crash = true)); false }
      catch { case e: IllegalStateException if e.getMessage.startsWith("injected crash") => true }
    }
    val t1 = System.nanoTime()
    def gaps(ts: Seq[Long]): Seq[Double] = ts.zip(ts.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    val unitS = gaps(starts.toSeq)
    starts.clear()
    val resumed = t.span("op:resume_pass") { CheckpointedRunner.runPartitioned(s, ckpt, out, units(crash = false)) }
    val t2 = System.nanoTime()
    val resumeUnits = gaps(starts.toSeq :+ t2)
    val again = t.span("op:all_done_pass") { CheckpointedRunner.runPartitioned(s, ckpt, out, units(crash = false)) }
    val t3 = System.nanoTime()
    var failed = 0
    if (!crashed) { failed += 1; ctx.fail("lineage: the injected crash did not stop the first pass") }
    if (resumed != days.drop(crashAt) || again.nonEmpty) {
      failed += 1
      ctx.fail(s"lineage: resume ran ${resumed.size} units and the all-done pass ${again.size}; expected ${days.size - crashAt} and 0")
    }
    val written = days.take(crashAt).map(pagesPerDay).sum.toDouble
    val bytes = dirBytes(base)
    extra.clear()
    extra ++= Seq("resume_s" -> (t2 - t1) / 1e9, "all_done_pass_s" -> (t3 - t2) / 1e9,
      "units_run" -> resumed.size.toDouble, "units_skipped" -> (days.size - resumed.size).toDouble,
      "bytes_written_mb" -> bytes / 1e6, "stored_bytes_per_page" -> bytes / days.map(pagesPerDay).sum.toDouble,
      "unit_p50_s" -> Stats.median(unitS ++ resumeUnits),
      "ckpt_pages_per_s" -> written / ((t1 - t0) / 1e9), "pass_s" -> (t2 - t0) / 1e9)
    PassStats((t2 - t0) / 1e9, unitS ++ resumeUnits, written, (t1 - t0) / 1e9, 1, failed.min(1))
  }

  def warm(): Unit = {
    val perDay = gps.groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d")).count().collect()
    pagesPerDay = perDay.map(r => r.getString(0) -> r.getLong(1)).toMap
    days = pagesPerDay.keys.toSeq.sorted.take(maxDays)
    runCycle()
  }

  def pass(): PassStats = runCycle()

  /** The union of the unit outputs must equal the one-shot result. */
  def verify(): Int = {
    val s = ctx.spark
    val cols = Seq("key", "tile_id", "r_regionkey", "n_pages", "mean_chars", "n_urls")
    val union = s.read.parquet(lastBase.resolve("out").toString)
      .select(col("key").cast("string").as("key") +: cols.tail.map(col): _*).collect()
    val oneShot = PagesPipeline.build(new Tracer(false, ""), s, ctx.dataDir,
      gps.where(date_format(col("ts"), "yyyy-MM-dd").isin(days: _*)), keys = Seq("day"))
      .select(col("day").as("key") +: cols.tail.map(col): _*).collect()
    val got = if (ctx.injectWrong) Canon.rows(union).drop(1) else Canon.rows(union)
    if (got != Canon.rows(oneShot)) {
      ctx.fail(s"lineage: union of unit outputs (${got.size} rows) differs from the one-shot result (${oneShot.length} rows)")
      1
    } else 0
  }

  override def traceDetail(): Seq[(String, Double)] = extra.toSeq
}

object Stats {
  /** Median; NaN when empty. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** The lower of the two middle values for an even count; NaN when empty. */
  def lowerMedian(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sorted.apply((xs.size - 1) / 2)
}
