package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  test("cosine of unit vectors") {
    val df = Seq(
      (1L, vec(1, 0, 0), vec(1, 0, 0), 1.0),
      (2L, vec(1, 0, 0), vec(0, 1, 0), 0.0),
      (3L, vec(1, 1, 0), vec(1, 0, 0), 1.0 / math.sqrt(2))
    ).toDF("id", "a", "b", "expected")
    df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("expected")).collect()
      .foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("brute-force top-k ranks by cosine with id tie-break") {
    val corpus = Seq(
      (1L, vec(1, 0)), (2L, vec(0.9, 0.1)), (3L, vec(0, 1)), (10L, vec(1, 0.01))
    ).toDF("vec_id", "embedding")
    val queries = Seq((10L, vec(1, 0.01))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, queries, 2)
      .orderBy("rank").select("vec_id").as[Long].collect()
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("IVF top-k has high recall vs brute force on real embeddings") {
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, q, dim = 64, nCells = 8, nProbe = 4, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.4, s"recall=$recall") // random noise embeddings; probing half the cells
    // full-probe IVF must equal brute force exactly
    val full = Similarity.ivfTopK(e, q, dim = 64, nCells = 8, nProbe = 8, k = 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute)
    // trained spherical-k-means codebook: at least as good as the LCG
    // stand-in at the same probe budget, and full-probe still exact
    val cb = Similarity.trainCentroids(e, dim = 64, nCells = 8)
    val trained = Similarity.ivfTopK(e, q, dim = 64, nCells = 8, nProbe = 4, k = 5, Some(cb))
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trainedRecall = (brute & trained).size.toDouble / brute.size
    info(s"recall@5 nProbe=4/8: lcg=$recall trained=$trainedRecall")
    assert(trainedRecall >= recall - 0.1, s"trained=$trainedRecall lcg=$recall")
    val trainedFull = Similarity.ivfTopK(e, q, dim = 64, nCells = 8, nProbe = 8, k = 5, Some(cb))
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trainedFull === brute)
  }

  test("fixed-codebook IVF: full probe equals brute force; LSH buckets consistent") {
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(e, q, 3)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cb = Similarity.fixedIntCodebook(64, 4)
    val full = Similarity.ivfTopK(e, q, dim = 64, nCells = 4, nProbe = 4, k = 3, Some(cb))
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === brute)
    // fixed-plane LSH: every returned pair shares the query's bucket and
    // per-query result count is bounded by k (exact values are the oracle's
    // job — emb_lsh_fixed)
    val planes = Similarity.fixedIntPlanes(64, 4)
    val buckets = e.select(col("vec_id"),
      Similarity.planeSignature(col("embedding"), planes).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val lsh = Similarity.lshTopK(e, q, Seq(planes), k = 3).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      assert(buckets(r.getAs[Long]("query_id")) === buckets(r.getAs[Long]("vec_id")))
      assert(r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 3)
    }
  }

  test("near-dup pair pipelines plan as hash joins, never nested-loop") {
    // the bucket/band prefilter exists precisely so pair generation is an
    // EQUI join; a regression to BroadcastNestedLoopJoin or CartesianProduct
    // would be the all-pairs plan the design forbids. (The dedup QUERIES'
    // final plans are post-CC LocalTableScans — the joins run eagerly inside
    // nearDupClusters — so the assertion targets the pair frames.)
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planes = Similarity.fixedIntPlanes(64, 4)
    val sig = e.select(col("vec_id"), col("embedding"),
      Similarity.planeSignature(col("embedding"), planes).as("bucket"))
    val embPairs = sig.as("a").join(sig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .where(Similarity.cosine(col("a.embedding"), col("b.embedding")) >= 0.4)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mhPairs = operators.Docs.minHashMd5Candidates(operators.Docs.minHashMd5Signature(docs))
    for ((tag, df) <- Seq("emb_pairs" -> embPairs, "mh_pairs" -> mhPairs)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$tag: $plan")
      assert(!plan.contains("CartesianProduct"), tag)
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), s"$tag: $plan")
    }
  }

  test("codebook cache: second call skips training, identical codebook") {
    val corpus = (0L until 200L).map { i =>
      (i, vec((0 until 8).map(d => math.sin(i * 8 + d + 1).toDouble): _*))
    }.toDF("vec_id", "embedding")
    // unique per run so a persisted codebook from an earlier test JVM can't
    // turn the first call into a file hit
    val key = s"spec-corpus-${System.nanoTime()}"
    val before = Similarity.trainings.get()
    val cb1 = Similarity.trainCentroidsCached(corpus, dim = 8, nCells = 4, corpusKey = key,
      maxSample = 100, iters = 2)
    assert(Similarity.trainings.get() === before + 1) // trained once
    val cb2 = Similarity.trainCentroidsCached(corpus, dim = 8, nCells = 4, corpusKey = key,
      maxSample = 100, iters = 2)
    assert(Similarity.trainings.get() === before + 1) // second call: cache hit
    assert(cb1 === cb2)
  }

  test("top-k shuffle is bounded: Partial WindowGroupLimit below the exchange") {
    // Spark's InferWindowGroupLimit must kick in for the rank<=k filter so
    // each map partition forwards at most k rows per query — the scored
    // corpus never shuffles at full width
    val corpus = (1L to 500L).map(i => (i, Array.fill(8)(i * 0.1f))).toDF("vec_id", "embedding")
    val q = corpus.where(col("vec_id") % 100 === 0)
    val plan = Similarity.bruteForceTopK(corpus, q, 5).queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    val partialIdx  = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    val exchangeIdx = lines.indexWhere(l => l.contains("Exchange hashpartitioning"))
    assert(partialIdx >= 0, s"no partial WindowGroupLimit:\n$plan")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      s"partial group-limit not below the exchange:\n$plan")
  }

  test("multi-table LSH (OR-amplification) raises recall over a single table") {
    val e = sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // random-noise embeddings are the LSH worst case (no cluster structure);
    // short 4-bit signatures + OR over 8 tables trade candidate volume for
    // recall — the banding knob, same as MinHash-LSH
    def recall(tables: Int): Double = {
      val got = Similarity.lshTopK(e, q,
        (0 until tables).map(t => Similarity.lcgPlanes(64, 4, t.toLong)), k = 5)
        .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & got).size.toDouble / brute.size
    }
    val (r1, r8) = (recall(1), recall(8))
    info(s"recall@5 (bits=4): tables=1 $r1, tables=8 $r8")
    assert(r8 >= r1, s"more tables must not lose recall: $r8 < $r1")
    assert(r8 >= 0.3, s"8-table recall too low: $r8")
  }

  test("LSH buckets identical vectors together") {
    val corpus = Seq((1L, vec(1, 0, 0, 0)), (2L, vec(1, 0, 0, 0)), (3L, vec(-1, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val sigs = corpus.withColumn("b", Similarity.planeSignature(col("embedding"),
      Similarity.lcgPlanes(4, 8, 0L)))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("pqEncodeFixed: nearest-centroid codes, exact packing, zero shuffles") {
    // one vector equal to a known centroid in every subspace → code is the
    // packed centroid indices and err is exactly 0
    val books = Similarity.pqCodebooks()
    val target = (0 until 8).flatMap(j => books(j)(j % 4)).map(_.toFloat)
    val expectedCode = (0 until 8).map(j => (j % 4).toLong * math.pow(4, j).toLong).sum
    val df = Seq((1L, target), (2L, Seq.fill(64)(100.0f))).toDF("vec_id", "embedding")
    val out = Similarity.pqEncodeFixed(df).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("pq_code"), r.getAs[Double]("err"))).toMap
    assert(out(1L)._1 === expectedCode)
    assert(out(1L)._2 === 0.0)
    assert(out(2L)._2 > 0.0)
    val plan = Similarity.pqEncodeFixed(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("pqTopKFixed: ADC ranks centroid-exact vectors first, bounded top-k plan") {
    // corpus vec 10 IS a codebook word in every subspace → ADC distance 0
    // from a query equal to the same word; a far vector ranks behind it
    val books = Similarity.pqCodebooks()
    val word = (0 until 8).flatMap(j => books(j)(1)).map(_.toFloat)
    val corpus = Seq(
      (10L, word),
      (11L, word.map(_ + 50.0f)),
      (12L, word.map(_ + 100.0f))
    ).toDF("vec_id", "embedding")
    val q = Seq((0L, word)).toDF("vec_id", "embedding")
    val out = Similarity.pqTopKFixed(corpus, q, k = 2).collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("vec_id")).toMap
    assert(out(1L) === 10L, "the centroid-exact vector must rank first")
    assert(out(2L) === 11L)
    // group-wise top-k shuffle stays bounded (partial WindowGroupLimit)
    val plan = Similarity.pqTopKFixed(corpus, q, 2).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("quantizeInt8: corpus-trained codes, degenerate dims to zero, broadcast bounds") {
    // dim 0 spans [0, 2] → codes 0 / 127 / 255; dim 1 is constant → code 0
    val df = Seq(
      (1L, vec(0.0, 7.0)),
      (2L, vec(1.0, 7.0)),
      (3L, vec(2.0, 7.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(df).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("code_sum"), r.getAs[Long]("code_min"), r.getAs[Long]("code_max"))).toMap
    assert(out(1L) === ((0L, 0L, 0L)))
    assert(out(2L) === ((127L, 0L, 127L))) // floor(1.0 * 127.5)
    assert(out(3L) === ((255L, 0L, 255L))) // max maps exactly to 255
    val plan = Similarity.quantizeInt8(df).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
