package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One workload run in its own JVM: one client, one operation at a time.
  *
  * Usage: perfbench.Main <workload> <dataDir> <workDir> <resultFile>
  *          <seconds> <trace 0|1> <seed> <cores> <items> <inject-wrong 0|1>
  *
  * Set-up (session start and one full warm pass) is timed on its own; the
  * timed passes then repeat until `seconds` have passed. A traced run adds
  * spans, scheduler counts per pass, the kernel probes and the 1 → N core
  * scaling probe after the untraced passes. The result file holds every
  * metric; the caller adds the input-generation time and the DuckDB checks.
  */
object Main {

  /** The 80 queries of `SparkEntry.queries` when this list was fixed;
    * editing it changes the benchmark. */
  val suiteQueries: Seq[String] = Seq(
    "dbscan_distributed", "dim_counties", "dim_zips", "doc_assembly", "doc_chunk",
    "doc_decontam", "doc_dedup_exact", "doc_dedup_minhash", "doc_domain_cap", "doc_dups",
    "doc_filter_pipeline", "doc_fingerprint", "doc_jaccard", "doc_jaccard_exact", "doc_lang",
    "doc_minhash", "doc_minhash_md5", "doc_mix", "doc_pack", "doc_postings",
    "doc_quality", "doc_rare", "doc_repetition", "doc_sample", "doc_simhash",
    "doc_simhash_md5", "doc_split", "doc_tokens", "doc_winnow", "emb_dedup",
    "emb_ivf", "emb_ivf_fixed", "emb_lsh", "emb_lsh_fixed", "emb_norms",
    "emb_pq_adc", "emb_pq_fixed", "emb_quant", "emb_sim", "gps_asof",
    "gps_cells", "gps_cluster_labels", "gps_cluster_stats", "gps_clusters", "gps_daily",
    "gps_entropy", "gps_far", "gps_fence", "gps_first_delta", "gps_full_pipeline",
    "gps_gyration", "gps_impute", "gps_knn", "gps_next_phase", "gps_pairwise",
    "gps_pip", "gps_raycast", "gps_resample", "gps_session_attr", "gps_sessions",
    "gps_sleep", "gps_tiles", "gps_top_clusters", "gps_tz", "gps_user_dbscan",
    "gps_valid", "gps_velocity", "gps_visit_stats", "media_features", "media_meta",
    "media_pixels", "pages_geocode", "pages_text", "poi_gmap", "poi_yelp",
    "q1_pricing", "q3_revenue", "weather_cache", "weather_daily", "weather_requests")

  /** Traced passes at most: the per-layer numbers are per-pass means. */
  val TracedPasses = 3

  val corpusQueries: Seq[String] = Seq(
    "doc_dedup_minhash", "doc_minhash", "doc_jaccard", "emb_dedup",
    "emb_lsh", "emb_ivf", "emb_pq_adc", "emb_sim")

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val Array(workload, dataDir, workDir, resultFile, secondsA, traceA, seedA, coresA, itemsA, wrongA) = argv
    val seconds = secondsA.toDouble
    val traced = traceA == "1"
    val cores = coresA.toInt
    val loadBefore = Host.loadavg()

    val t0 = System.nanoTime()
    val obs = new Obs
    val ctx = new Ctx(session(cores, workDir), obs, new Tracer(false, s"$workload-$seedA"),
      dataDir, workDir, seedA.toLong, wrongA == "1")
    ctx.spark.sparkContext.addSparkListener(obs)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl: Workload = workload match {
      // a suite pass takes longer than a run's seconds: two passes, always
      case "suite" => new QueryList(ctx, suiteQueries, _ => 1L, fixedPasses = Some(2))
      case "corpus" =>
        val docs = itemsA.split(",")(0).toLong
        val vecs = itemsA.split(",")(1).toLong
        new QueryList(ctx, corpusQueries, n => if (n.startsWith("doc_")) docs else vecs, warmPasses = 2)
      case "pages" => new PagesWorkload(ctx, itemsA.toLong)
      case "lineage" => new LineageWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val t1 = System.nanoTime()
    wl.warm()
    for (_ <- 1 until wl.warmPasses) wl.pass()
    val warmS = (System.nanoTime() - t1) / 1e9

    // ---- untraced timed passes ----------------------------------------
    val ticks0 = Host.cpuTicks()
    val untraced = mutable.ArrayBuffer.empty[PassStats]
    val tStart = System.nanoTime()
    def more = wl.fixedPasses.fold(untraced.isEmpty || (System.nanoTime() - tStart) / 1e9 < seconds)(untraced.size < _)
    while (more) untraced += wl.pass()
    val timedS = (System.nanoTime() - tStart) / 1e9
    val (idlePct, stealPct) = Host.pct(ticks0, Host.cpuTicks())

    // ---- traced passes ---------------------------------------------------
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Double]
    val tracer = ctx.tracer
    val tracedPasses = mutable.ArrayBuffer.empty[(PassStats, Counts, Double)]
    if (traced) {
      tracer.enabled = true
      for (_ <- 1 to untraced.size.min(TracedPasses)) {
        val c0 = obs.snapshot(ctx.spark.sparkContext); obs.resetPeak()
        val g0 = Host.gcSeconds()
        val p = tracer.span("pass") { wl.pass() }
        val c = obs.snapshot(ctx.spark.sparkContext) - c0
        tracedPasses += ((p, c, Host.gcSeconds() - g0))
      }
      tracer.enabled = false
      val n = tracedPasses.size.toDouble
      val self = tracer.selfByName
      val c = tracedPasses.head._2
      val wall = tracedPasses.map(_._1.wallS).sum / n
      perLayer ++= Seq(
        "build_s" -> self.getOrElse("build", 0.0) / n,
        "build_jobs" -> ctx.buildJobs / n,
        "plan_s" -> self.getOrElse("plan", 0.0) / n,
        "exec_s" -> self.getOrElse("exec", 0.0) / n,
        "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
        "task_busy_s" -> tracedPasses.map(_._2.busyMs).sum / 1e3 / n,
        "core_util" -> tracedPasses.map(_._2.busyMs).sum / 1e3 / (wall * n * cores),
        "shuffle_write_mb" -> tracedPasses.map(_._2.shuffleWriteBytes).sum / 1e6 / n,
        "spill_mb" -> tracedPasses.map(_._2.spillBytes).sum / 1e6 / n,
        "peak_exec_mem_mb" -> tracedPasses.map(_._2.peakExecMem).max / 1e6,
        "gc_s" -> tracedPasses.map(_._3).sum / n,
        "task_failures" -> tracedPasses.map(_._2.taskFailures).sum.toDouble)
      detail("counts_repeat") = if (tracedPasses.forall(p => sameCounts(p._2, c))) 1.0 else 0.0
      detail ++= wl.traceDetail()
      // calls that build DataFrames, per engine module (spans named "<module>.<call>")
      detail ++= self.toSeq.collect { case (name, v) if name.contains('.') => name.takeWhile(_ != '.') -> v }
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (m, vs) => s"self.${m}_s" -> vs.map(_._2).sum / n }
      Files.writeString(Paths.get(workDir, "trace.json"), tracer.toJson)
      perLayer ++= Kernels.run(ctx.spark).map { case (k, v) => s"kernel.$k" -> v }
    }

    val tv = System.nanoTime()
    val verifyWrong = wl.verify()
    val verifyS = (System.nanoTime() - tv) / 1e9

    if (traced) {
      val p4 = Stats.median(untraced.map(_.wallS).toSeq)
      val (s1, sN, c1, cN) = scaling(ctx, cores, workDir)
      perLayer ++= Seq(
        "probe.pipeline_s_1core" -> s1,
        "probe.scaling_eff_1to4" -> (s1 / sN) / cores,
        "host.control_eff_1to4" -> (c1 / cN) / cores,
        "host.steal_pct" -> stealPct, "host.idle_pct" -> idlePct,
        "host.loadavg_before" -> loadBefore, "host.heap_gb" -> Host.heapGb,
        "host.cores" -> cores.toDouble,
        "trace.overhead_pct" ->
          100.0 * (Stats.median(tracedPasses.map(_._1.wallS).toSeq) / p4 - 1.0))
    }

    // ---- result ------------------------------------------------------------
    val all = untraced ++ tracedPasses.map(_._1)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum + verifyWrong * all.size
    val (passS, opP50S, itemsPerS) = wl.summarize(untraced.toSeq)
    val e2e = Seq(
      "setup_s" -> (bootS + sessionS + warmS),
      "pass_s" -> passS, "op_p50_s" -> opP50S, "items_per_s" -> itemsPerS)
    val stamps = Seq("heap_gb" -> Host.heapGb, "cores" -> cores.toDouble,
      "steal_pct" -> stealPct, "idle_pct" -> idlePct, "loadavg_before" -> loadBefore,
      "boot_s" -> bootS, "session_s" -> sessionS, "warm_s" -> warmS, "timed_s" -> timedS, "verify_s" -> verifyS,
      "passes" -> untraced.size.toDouble, "op_samples" -> untraced.map(_.opS.size).sum.toDouble)
    def nums(xs: Iterable[(String, Double)]) = Json.obj(xs.map { case (k, v) => k -> Json.num(v) }.toSeq)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> Json.arr(ctx.errors.toSeq.map(Json.str)),
      "e2e" -> nums(e2e), "per_layer" -> nums(perLayer), "detail" -> nums(detail),
      "stamps" -> nums(stamps),
      "pass_walls_s" -> Json.arr(untraced.map(p => Json.num(p.wallS)).toSeq),
      "oracle" -> Json.obj(wl.oracleDumps.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
      "ops_per_name" -> Json.obj(wl.opsPerName.toSeq.sorted.map { case (k, v) => k -> v.toString })))
    Files.writeString(Paths.get(resultFile), json)
    ctx.spark.stop()
  }

  private def sameCounts(a: Counts, b: Counts): Boolean =
    a.jobs == b.jobs && a.stages == b.stages && a.tasks == b.tasks

  /** The scaling probe: the pages pipeline over 50,000 fixed in-memory GPS
    * rows into a noop sink, and the pure-CPU control (`sum(sin(id))`), each
    * at local[1] and local[N] in this JVM. Returns (pipeline 1 core,
    * pipeline N cores, control 1 core, control N cores) in seconds; leaves
    * the session at N cores. */
  private def scaling(ctx: Ctx, cores: Int, workDir: String): (Double, Double, Double, Double) = {
    def restart(n: Int): Unit = {
      ctx.spark.stop()
      ctx.spark = session(n, workDir)
      ctx.spark.sparkContext.addSparkListener(ctx.obs)
    }
    def timed(body: => Unit): Double = {
      body
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def pipeline(): Double = timed {
      val gps = ctx.spark.range(0, 50000, 1, 8).select(
        (col("id") % 150).as("user_id"), col("id").as("event_id"),
        (lit(1704067200L) + col("id") * 13).cast("timestamp").as("ts"),
        (lit(40.0) + (col("id") % 5).cast("double") * 1e-2 + (col("id") % 13).cast("double") * 2e-5).as("lat"),
        (lit(-75.0) + (col("id") % 3).cast("double") * 1e-2 + (col("id") % 17).cast("double") * 2e-5).as("lon"))
      PagesPipeline.noop(PagesPipeline.build(new Tracer(false, ""), ctx.spark, ctx.dataDir, gps))
    }
    def control(): Double = timed { ctx.spark.range(20000000L).selectExpr("sum(sin(id))").head() }
    val (sN, cN) = (pipeline(), control())
    restart(1)
    val (s1, c1) = (pipeline(), control())
    restart(cores)
    (s1, sN, c1, cN)
  }
}

/** Compiled-expression kernels timed alone: rows per second on one core
  * (a single partition) over fixed in-memory rows, into a noop sink. */
object Kernels {
  def run(spark: SparkSession): Seq[(String, Double)] = {
    import graft.functions._
    val words = ("a agg batch big column customer data fast filter group hash join key line " +
      "merge order part query row scan slow small sort spark stream table the value vector window").split(' ')
    val vocab = array(words.toSeq.map(lit): _*)
    val lat = lit(40.0) + (col("id") % 97).cast("double") * 2e-4
    val lon = lit(-75.0) + (col("id") % 89).cast("double") * 2e-4
    val in = spark.range(0, 20000, 1, 1).select(
      col("id"), lat.as("lat"), lon.as("lon"),
      (lat + 1e-3).as("lat2"), (lon - 1e-3).as("lon2"),
      encode(graft.ingest.Pages.htmlFor(lat, lon), "UTF-8").as("html"),
      concat_ws(" ", transform(sequence(lit(1), lit(40)),
        i => element_at(vocab, (pmod(xxhash64(col("id"), i), lit(words.length.toLong)) + 1).cast("int")))).as("doc"),
      transform(sequence(lit(1), lit(64)), i => sin(col("id") * i).cast("float")).as("e1"),
      transform(sequence(lit(1), lit(64)), i => cos(col("id") * i).cast("float")).as("e2"),
      PngImageExpr(lit(32), lit(32), col("id")).as("png"))
      .withColumn("text", ExtractTextExpr(col("html")))
      .cache()
    val n = in.count()
    def k(e: org.apache.spark.sql.Column): DataFrame => DataFrame = _.select(e.as("k"))
    val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
      "extract_text_rows_per_s" -> k(ExtractTextExpr(col("html"))),
      "geocode_regex_rows_per_s" -> (df => graft.ingest.Pages.geocode(df.select("text"))),
      "s2_cell_rows_per_s" -> k(Grid.cell(col("lat"), col("lon"), 13)),
      "haversine_rows_per_s" -> k(Geo.haversineMeters(col("lat"), col("lon"), col("lat2"), col("lon2"))),
      "media_inflate_rows_per_s" -> k(PngStatsExpr(col("png"))),
      "minhash_sig_rows_per_s" -> k(MinHashSigExpr(col("doc"))),
      "shingle_rows_per_s" -> k(Text.shingles(col("doc"), 5)),
      "dot_rows_per_s" -> k(Vec.dot(col("e1"), col("e2"))))
    val out = kernels.map { case (name, f) =>
      val df = f(in)
      def once(): Double = {
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val reps = math.max(1, math.ceil(0.1 / once()).toInt)
      name -> Stats.median((1 to 3).map(_ => n * reps / (1 to reps).map(_ => once()).sum))
    }
    in.unpersist()
    out
  }
}
