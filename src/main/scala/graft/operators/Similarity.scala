package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * (random-hyperplane SimHash) variant as the 100 TB scale path.
  *
  * Dot products are `aggregate`+`zip_with` fold expressions — codegen'd,
  * no UDF; elements are cast to double before multiply so accumulation
  * order and precision are fixed and portable.
  */
object Similarity {

  /** Σ a[i]·b[i] as a left-fold in array order (deterministic). Compiled
    * kernel (graft.functions.Vec): identical fold order to the HOF
    * formulation it replaced — every oracle-compared double is unchanged —
    * but no per-element boxing (the interpreted HOF allocated one boxed
    * Double per element per row; measured 4-10× slowdowns from GC pressure
    * on bucketed self-joins as sessions aged).
    */
  def dot(a: Column, b: Column): Column = graft.functions.Vec.dot(a, b)

  def l2Norm(a: Column): Column = sqrt(graft.functions.Vec.sumSq(a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Int8 scalar quantization of the embedding column — the storage-
    * compression step a vector pipeline runs before indexing (4× smaller
    * than float32; codes feed asymmetric-distance search). Per dimension,
    * corpus-wide min/max train the quantizer; each value maps to
    * floor((v − min_d) · (255 / (max_d − min_d))), a SINGLE double
    * expression mirrored verbatim in the oracle, so the codes are
    * bit-identical cross-engine (min/max of floats are order-independent
    * aggregates, float→double widening is exact, and both engines evaluate
    * the same IEEE expression tree). Degenerate dimensions (max = min)
    * quantize to 0. Output per vector: exact integer code sum / min / max
    * — the checksum that pins every code without shipping 64 columns.
    *
    * Scale shape: posexplode (map-side), a `dim`-key aggregation (key
    * count = dimensionality, tiny), the bounds broadcast back, and one
    * partial-aggregated rollup per vec_id. No HOFs (per-element lambda
    * re-evaluation), no vocab-sized build sides.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val exploded = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
    val bounds = exploded.groupBy("dim")
      .agg(min("v").as("lo"), max("v").as("hi"))
    val code = when(col("hi") > col("lo"),
      floor((col("v") - col("lo")) * (lit(255.0) / (col("hi") - col("lo")))))
      .otherwise(lit(0.0)).cast("long")
    exploded.join(broadcast(bounds), Seq("dim"))
      .select(col("vec_id"), code.as("code"))
      .groupBy("vec_id")
      .agg(sum("code").as("code_sum"), min("code").as("code_min"),
        max("code").as("code_max"))
  }

  /** Deterministic trig-free integer codebooks for [[pqEncodeFixed]]:
    * m subspaces × k centroids × subDim dims of small ints in [-4, 4]
    * (integer centroids keep every distance term exact in double, the same
    * trick as the fixed IVF/LSH twins — CLAUDE.md).
    */
  def pqCodebooks(m: Int = 8, k: Int = 4, subDim: Int = 8): Seq[Seq[Seq[Double]]] =
    (0 until m).map(j => (0 until k).map(c =>
      (0 until subDim).map(i => (((j * 31 + c * 17 + i * 7) % 9) - 4).toDouble)))

  /** Product quantization (fixed codebooks — the encode/assign MECHANICS
    * under an exact oracle, like emb_ivf_fixed; production PQ trains the
    * codebooks with the same k-means machinery as the IVF path): the
    * embedding splits into m contiguous subvectors, each assigned to its
    * nearest codebook centroid by squared L2 (expanded as
    * ‖v‖² − 2·v·c + ‖c‖², each term a compiled-kernel fold or an exact
    * integer, so the doubles are bit-identical cross-engine; ties → lowest
    * centroid index, matching array_min over struct(d, c)). Output per
    * vector: the packed code Σ cⱼ·kʲ (exact integer — 4× compression to
    * codes plus m·k·subDim floats of codebook ≪ corpus) and the total
    * reconstruction error Σ dⱼ in fixed left-to-right order (a RAW double:
    * identical expression both engines). Pure projection over literal
    * arrays — zero shuffles at any scale.
    */
  def pqEncodeFixed(emb: DataFrame, m: Int = 8, k: Int = 4,
                    subDim: Int = 8): DataFrame = {
    val books = pqCodebooks(m, k, subDim)
    val best = (0 until m).map { j =>
      val sub = slice(col("embedding"), j * subDim + 1, subDim)
      val scored = (0 until k).map { c =>
        val v = books(j)(c)
        val ssq = v.map(x => x * x).sum // exact: small integers
        struct(
          (graft.functions.Vec.sumSq(sub)
            - lit(2.0) * graft.functions.Vec.dot(sub, array(v.map(lit): _*))
            + lit(ssq)).as("d"),
          lit(c.toLong).as("c"))
      }
      array_min(array(scored: _*))
    }
    val code = best.zipWithIndex
      .map { case (s, j) => s.getField("c") * math.pow(k, j).toLong }
      .reduce(_ + _)
    val err = best.map(_.getField("d")).reduce(_ + _)
    emb.select(col("vec_id"), code.as("pq_code"), err.as("err"))
  }

  /** Asymmetric-distance (ADC) top-k over [[pqEncodeFixed]] codes — the
    * search side of product quantization: the query stays full-precision,
    * the corpus is only its packed codes, and the distance is the sum over
    * subspaces of ‖q_sub − centroid(code digit)‖², picked from the
    * per-subspace distance table by bit-shifting the packed code (nCent=4
    * ⇒ digit j = (code >> 2j) & 3, exact integer ops both engines).
    * Every term is the same compiled-kernel fold as the encoder, so the
    * ADC doubles are bit-identical cross-engine and the rank ordering
    * (adc ASC, vec_id) is deterministic. The corpus side carries ONLY
    * (vec_id, code) — 4 bytes a vector instead of 256 — which is the
    * point of PQ at 100 TB; production would IVF-prefilter the candidate
    * set instead of scanning all codes, with this same ADC rerank.
    */
  def pqTopKFixed(corpus: DataFrame, queries: DataFrame, k: Int,
                  m: Int = 8, nCent: Int = 4, subDim: Int = 8): DataFrame = {
    require(nCent == 4, "digit extraction is specialized to 2-bit codes")
    val books = pqCodebooks(m, nCent, subDim)
    val codes = pqEncodeFixed(corpus, m, nCent, subDim)
      .select(col("vec_id"), col("pq_code"))
    // classic ADC table, staged PER QUERY before the join (r6): the m×nCent
    // subspace-to-centroid distances depend only on the query vector, so
    // they are computed once per query row into a flat array; each joined
    // (query, code) row then pays m array lookups + adds instead of m
    // (sumSq + dot) kernel folds. Every table entry is the IDENTICAL
    // expression tree the inline form evaluated (same fold order), and the
    // per-subspace sum keeps the same j = 0..m−1 order — bit-identical adc
    // doubles, identical ranks.
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
      .withColumn("__adc_tab", array((0 until m).flatMap { j =>
        val sub = slice(col("q_emb"), j * subDim + 1, subDim)
        (0 until nCent).map { c =>
          val v = books(j)(c)
          val ssq = v.map(x => x * x).sum
          graft.functions.Vec.sumSq(sub)
            .-(lit(2.0) * graft.functions.Vec.dot(sub, array(v.map(lit): _*)))
            .+(lit(ssq))
        }
      }: _*))
    val adc = (0 until m).map { j =>
      val digit = shiftright(col("pq_code"), 2 * j).bitwiseAND(lit(3L))
      element_at(col("__adc_tab"), (digit + lit(j * nCent + 1)).cast("int"))
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    q.crossJoin(codes)
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("rank"))
  }

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. Queries are broadcast (small); corpus stays
    * partitioned. The `rank <= k` filter over row_number triggers Spark's
    * InferWindowGroupLimit rule, which plans a PARTIAL WindowGroupLimit
    * below the exchange — each map partition forwards at most k rows per
    * query, so the shuffle is bounded at k·partitions·|queries| regardless
    * of corpus size (asserted by a plan test). Same shape in ivfTopK /
    * lshTopK below.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    probeRerank(corpus, queries, k, probe = None)

  /** The probe-and-rerank body of every cosine top-k here: l2 norms staged
    * per ROW on each side (guide §1.2: the joined pair then pays one dot
    * kernel instead of dot + two sumSq folds), the queries broadcast, the
    * pairs joined — all pairs, or on `probe` = (key name, corpus-side key,
    * query-side key), each a function of the row's embedding and staged
    * after the norm, since a key may explode a row into several probes —
    * then cosine, `dedup` of a pair met in several probes, and row_number
    * over query_id by (cosine desc, vec_id asc) keeping rank ≤ k. Output:
    * (query_id, vec_id, rank, cosine).
    */
  private def probeRerank(corpus: DataFrame, queries: DataFrame, k: Int,
                          probe: Option[(String, Column => Column, Column => Column)],
                          dedup: Boolean = false): DataFrame = {
    val c = corpus.withColumn("__cnrm", l2Norm(col("embedding")))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("__qnrm", l2Norm(col("q_emb")))
    val pairs = probe match {
      case Some((key, corpusKey, queryKey)) =>
        c.withColumn(key, corpusKey(col("embedding")))
          .join(broadcast(q.withColumn(key, queryKey(col("q_emb")))), Seq(key))
      case None => c.join(broadcast(q))
    }
    val scored = pairs
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", dot(col("embedding"), col("q_emb")) / (col("__cnrm") * col("__qnrm")))
    // cosine BEFORE the multi-probe dedup (r6): deduping rows that still
    // carry the two embedding arrays forces first(array) buffers, which are
    // not hash-aggregable — the plan paid TWO SortAggregates (full sorts of
    // the array-carrying candidate rows). Scoring first costs one cheap
    // compiled cosine per collision (a pair's duplicates all score the
    // SAME double — identical vectors), and the dedup then aggregates a
    // primitive double: pure HashAggregate, no sort. Rank order unchanged.
    val unique =
      if (dedup) scored.select("query_id", "vec_id", "cosine").dropDuplicates("query_id", "vec_id")
      else scored
    unique
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))))
      .where(col("rank") <= k)
      .select("query_id", "vec_id", "rank", "cosine")
  }

  /** Random-hyperplane planes for table `tableSeed`: plane b is a
    * deterministic pseudo-random direction derived from (b, dim index,
    * table seed) via a fixed LCG — no wall-clock, no Math.random
    * (resume-safe). The DuckDB twin (OracleXxh.embLshSql) embeds the
    * IDENTICAL literals the Spark plan carries (single source of truth; no
    * RNG on either side).
    */
  def lcgPlanes(dim: Int, bits: Int, tableSeed: Long): Seq[Seq[Double]] = {
    def lcg(seed: Long): Long = seed * 6364136223846793005L + 1442695040888963407L
    (0 until bits).map { b =>
      var s = lcg(b.toLong + 12345L + tableSeed * 7919L)
      (0 until dim).map { _ =>
        s = lcg(s)
        // map to (-1, 1)
        (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
    }
  }

  /** Signature from EXPLICIT hyperplanes: bit b set iff dot(v, planes(b)) > 0.
    * The production tables use [[lcgPlanes]]; the oracle twin uses
    * [[fixedIntPlanes]] so DuckDB recomputes the signature exactly.
    */
  def planeSignature(emb: Column, planes: Seq[Seq[Double]]): Column = {
    val bitCols: Seq[Column] = planes.zipWithIndex.map { case (p, b) =>
      val d = dot(emb, array(p.map(lit): _*))
      when(d > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bitCols.reduce((a: Column, c: Column) => a.bitwiseOR(c))
  }

  /** Small integer hyperplanes for the exact-oracle LSH twin (same
    * trig-free rationale as [[fixedIntCodebook]]).
    */
  def fixedIntPlanes(dim: Int, bits: Int): Seq[Seq[Double]] =
    (0 until bits).map(b => (0 until dim).map(d => ((b * 53 + d * 29) % 11 - 5).toDouble))

  /** IVF-style ANN: corpus is partitioned into `nCells` Voronoi cells of
    * deterministic pseudo-random centroids (fixed LCG — a stand-in for a
    * trained k-means codebook; swap in trained centroids without changing
    * the plan shape); queries probe their `nProbe` nearest cells and rerank
    * exactly within them. The probe join is an equi join on cell id —
    * the IVF scale path next to the LSH variant below.
    */
  def ivfCentroids(dim: Int, nCells: Int): Seq[(Int, Seq[Double])] = {
    def lcg(seed: Long): Long = seed * 6364136223846793005L + 1442695040888963407L
    (0 until nCells).map { c =>
      var s = lcg(c.toLong + 777L)
      c -> (0 until dim).map { _ => s = lcg(s); (s >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0 }
    }
  }

  /** Small integer-valued codebook for the exact-oracle IVF twin: every
    * centroid component is an exact small integer (|w| ≤ 6), so centroid
    * norms are exact in double on both engines and no libm trig call (whose
    * last-ulp can differ between the JVM and DuckDB) enters the argmax.
    */
  def fixedIntCodebook(dim: Int, nCells: Int): Seq[(Int, Seq[Double])] =
    (0 until nCells).map(c =>
      c -> (0 until dim).map(d => ((c * 67 + d * 31) % 13 - 6).toDouble))

  /** Train an IVF codebook by spherical k-means (Lloyd) over a DETERMINISTIC
    * sample of the corpus — every stride-th vec_id, no RNG, resume-safe.
    * Classic IVF shape: the codebook is a tiny dim trained driver-side from
    * a bounded sample (collect is capped at ~maxSample vectors); cell
    * ASSIGNMENT stays fully distributed via [[ivfCell]]. Assignment metric
    * is cosine (matching ivfCell's argmax); update = coordinate mean;
    * an emptied cell keeps its previous centroid. Init = first nCells
    * sample vectors (padded from the LCG stand-in when the sample is
    * smaller than the codebook).
    */
  def trainCentroids(corpus: DataFrame, dim: Int, nCells: Int,
                     maxSample: Int = 10000, iters: Int = 8): Seq[(Int, Seq[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.count()
    val stride = math.max(1L, n / math.max(1, maxSample))
    // sample on a HASH residue, not the raw id residue: a corpus whose
    // vec_ids are mostly multiples of the stride would otherwise defeat the
    // bounded-collect design and pull far more than maxSample onto the
    // driver; the limit() is a hard backstop either way
    val sample: Array[Array[Double]] = corpus
      .where(pmod(xxhash64(col("vec_id")), lit(stride)) === 0)
      .select(col("embedding"))
      .limit(2 * maxSample)
      .as[Seq[Float]].collect().map(_.map(_.toDouble).toArray)

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) -2.0 else dot / math.sqrt(na * nb)
    }

    val pad = ivfCentroids(dim, nCells).map(_._2.toArray)
    var cents: Array[Array[Double]] =
      (sample.take(nCells) ++ pad.drop(math.min(sample.length, nCells))).take(nCells).toArray
    var it = 0
    while (it < iters && sample.nonEmpty) {
      val sums   = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Long](nCells)
      sample.foreach { v =>
        var best = 0; var bestS = Double.NegativeInfinity
        var c = 0
        while (c < nCells) { val s = cos(v, cents(c)); if (s > bestS) { bestS = s; best = c }; c += 1 }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
  }

  // trained-codebook cache: training (count + bounded collect + Lloyd
  // iterations) is a driver-side job that must not rerun on every query
  // invocation. Two layers: an in-JVM memo (bench repetitions, interactive
  // sessions) and a persisted text file keyed by the corpus snapshot
  // (cross-JVM resume, the lineage-checkpoint pattern). `trainings` counts
  // actual training runs so specs can assert the second call skips it.
  private val codebookMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Double])]]()
  val trainings = new java.util.concurrent.atomic.AtomicLong(0L)

  private def codebookFile(spark: org.apache.spark.sql.SparkSession, key: String): java.nio.file.Path = {
    val dir = spark.conf.getOption("graft.ivf.codebookDir")
      .getOrElse("spark-warehouse/_codebooks")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.nio.file.Paths.get(dir, s"$h.codebook")
  }

  /** Codebook file-format version — bump when [[trainCentroids]]'s algorithm
    * changes so stale on-disk codebooks are not silently reused.
    */
  private val CodebookFormatVersion = 2

  /** [[trainCentroids]] behind a (corpusKey, dim, nCells, maxSample, iters)
    * cache: first call trains and persists; later calls (same JVM or a
    * resumed run) load the stored codebook. `corpusKey` must identify the
    * corpus snapshot (e.g. its path/version). The PERSISTED key additionally
    * folds in a one-pass corpus fingerprint (row count + bit_xor of
    * xxhash64(vec_id)) and the format version, so a changed corpus at the
    * same path or a changed training algorithm can never silently reuse a
    * stale on-disk codebook; loaded files are dimension-validated. The
    * in-JVM memo stays keyed by (corpusKey, params) alone so repeat calls in
    * one session skip ALL jobs including the fingerprint scan.
    */
  def trainCentroidsCached(corpus: DataFrame, dim: Int, nCells: Int, corpusKey: String,
                           maxSample: Int = 10000, iters: Int = 8): Seq[(Int, Seq[Double])] = {
    val key = s"$corpusKey|$dim|$nCells|$maxSample|$iters"
    codebookMemo.computeIfAbsent(key, _ => {
      // cheap distributed fingerprint (bit_xor cannot overflow under ANSI,
      // unlike a sum of hashes); one small agg job, memo-miss only
      val fp = corpus.selectExpr(
        "count(*) AS n", "coalesce(bit_xor(xxhash64(vec_id)), CAST(0 AS BIGINT)) AS x").head()
      val fileKey = s"$key|v$CodebookFormatVersion|n=${fp.getLong(0)}|x=${fp.getLong(1)}"
      val f = codebookFile(corpus.sparkSession, fileKey)
      val loaded: Option[Seq[(Int, Seq[Double])]] =
        if (java.nio.file.Files.exists(f)) {
          try {
            val cb = scala.jdk.CollectionConverters.ListHasAsScala(java.nio.file.Files.readAllLines(f))
              .asScala.toSeq.zipWithIndex
              .map { case (line, i) => (i, line.split(",").toSeq.map(_.toDouble)) }
            if (cb.size == nCells && cb.forall(_._2.size == dim)) Some(cb)
            else None // shape mismatch → corrupt/foreign file: retrain
          } catch { case _: NumberFormatException => None }
        } else None
      loaded.getOrElse {
        trainings.incrementAndGet()
        val cb = trainCentroids(corpus, dim, nCells, maxSample, iters)
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.write(f,
          scala.jdk.CollectionConverters.SeqHasAsJava(
            cb.map(_._2.mkString(","))).asJava)
        cb
      }
    })
  }

  /** Cell id = argmax cosine against the centroid codebook (expression over
    * literal arrays; deterministic).
    */
  def ivfCell(emb: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = cents.map { case (id, v) => struct(cosine(emb, array(v.map(lit): _*)).as("s"), lit(id).as("c")) }
    array_max(array(scored: _*)).getField("c")
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, dim: Int, nCells: Int,
              nProbe: Int, k: Int, codebook: Option[Seq[(Int, Seq[Double])]] = None): DataFrame = {
    val cents = codebook.getOrElse(ivfCentroids(dim, nCells))
    // query probes: top nProbe cells by centroid cosine
    def probes(q: Column): Column = {
      val scored = cents.map { case (id, v) =>
        struct(cosine(q, array(v.map(lit): _*)).as("s"), lit(id).as("c")) }
      explode(transform(slice(reverse(array_sort(array(scored: _*))), 1, nProbe),
        p => p.getField("c")))
    }
    probeRerank(corpus, queries, k, Some(("ivf_cell", ivfCell(_, cents), probes)))
  }

  /** LSH-bucketed ANN with OR-amplification: one hyperplane table per
    * element of `tables` (each a list of planes, one signature bit per
    * plane — [[lcgPlanes]] in production, [[fixedIntPlanes]] for the exact
    * oracle); a candidate collides in ANY table (recall grows with tables,
    * candidate count stays bucket-bounded). Every probe is an equi join on
    * the bucket key — (table, signature) when there are several tables,
    * exploded one row per table, else the signature itself — the scale path
    * replacing the brute-force cross join, followed by an exact cosine
    * rerank. Only several tables dedup pairs that collide more than once.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, tables: Seq[Seq[Seq[Double]]],
              k: Int): DataFrame = {
    def buckets(emb: Column): Column =
      if (tables.size == 1) planeSignature(emb, tables.head)
      else explode(array(tables.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("t"), planeSignature(emb, planes).as("b")) }: _*))
    probeRerank(corpus, queries, k, Some(("tb", buckets, buckets)), dedup = tables.size > 1)
  }
}
