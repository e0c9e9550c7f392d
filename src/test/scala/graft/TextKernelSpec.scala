package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Docs

/** Pins the compiled text kernels (graft.functions.TextImpl) bit-for-bit
  * against the Column-HOF formulations they replaced, kept in the test
  * object [[HofTwins]] — including
  * the awkward edge semantics the kernels must reproduce: split(trim, \s+)
  * with limit -1 (trailing empties KEPT, trim strips 0x20 only), ascii() =
  * signed first UTF-8 byte, codepoint-indexed substr, Long.MaxValue minhash
  * sentinel, empty-winnow nulls.
  */
class TextKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Edge-case corpus: empties, whitespace variants, non-ASCII (incl. a
    * surrogate pair), short docs below the shingle/gram thresholds, repeats.
    */
  private lazy val edge: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, ""),
    (3L, "   "),                       // spaces only → trim → ""
    (4L, "\t tab\nand newline \n"),    // trim strips 0x20 only; \n survives
    (5L, "one"),
    (6L, "two tokens"),
    (7L, "exactly three tokens"),
    (8L, "héllo wörld 😀 smile café again and again and again"),
    (9L, "a a a a a a a a a a"),
    (10L, "punct,uation! spaced  double   triple    runs"),
    (11L, "trailing space "),
    (12L, " leading space"),
    (13L, "abcdefghijklmnop"),         // 16 chars: winnow grams+windows
    (14L, "abcdefghij"),               // 10 chars: grams but < w windows at k=8? m=3 < 4
    (15L, "short")
  ).toDF("doc_id", "text")

  private def assertSame(a: DataFrame, b: DataFrame, label: String): Unit = {
    val left = a.orderBy("doc_id").collect().toSeq
    val right = b.orderBy("doc_id").collect().toSeq
    assert(left === right, s"$label: kernel output diverges from the HOF twin")
  }

  test("shingles kernel == HOF formulation (sizes and content)") {
    val k = edge.select(col("doc_id"), Docs.shingles(col("text"), 3).as("sh"))
    val h = edge.select(col("doc_id"), HofTwins.shingles(col("text"), 3).as("sh"))
    assertSame(k, h, "shingles")
  }

  test("jaccard kernel == intersect/union formulation") {
    val pairs = (for { a <- 1L to 15L; b <- a + 1 to 15L } yield (a, b))
      .toDF("doc_a", "doc_b")
    val shK = edge.select(col("doc_id"), Docs.shingles(col("text"), 3).as("sh"))
    val kern = Docs.jaccardFromShingles(shK, pairs)
    val hof = pairs
      .join(shK.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(shK.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .withColumn("jaccard",
        when(size(array_union(col("sh_a"), col("sh_b"))) > 0,
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .otherwise(0.0))
      .select("doc_a", "doc_b", "jaccard")
    val k = kern.orderBy("doc_a", "doc_b").collect().toSeq
    val h = hof.orderBy("doc_a", "doc_b").collect().toSeq
    assert(k === h)
  }

  test("md5 minhash signature kernel == HOF formulation") {
    assertSame(Docs.minHashMd5Signature(edge), HofTwins.minHashMd5Signature(edge), "minHashMd5")
  }

  test("simhash kernels == HOF formulations (xxhash64 and md5)") {
    assertSame(Docs.simHash(edge), HofTwins.simHash(edge), "simHashXx")
    assertSame(Docs.simHashMd5(edge), HofTwins.simHashMd5(edge), "simHashMd5")
  }

  test("fingerprint kernels == HOF formulations (wrap and mod-p)") {
    // the wrapping HOF twin only agrees below Long overflow: under ANSI
    // (Spark 4 default) the expression formulation THROWS on texts longer
    // than 12 codepoints (acc·31 overflow) — a latent bug in the old
    // production path that the compiled kernel fixes by actually wrapping
    // (the documented semantics); parity is pinned on the pre-overflow range
    val short = edge.where(length(col("text")) <= 12)
    assertSame(Docs.fingerprint(short), HofTwins.fingerprint(short), "fingerprintWrap")
    assertSame(Docs.fingerprintMod(edge), HofTwins.fingerprintMod(edge), "fingerprintMod")
  }

  test("fingerprint kernel wraps past Long.MaxValue instead of throwing") {
    val long = Seq((1L, "x" * 64)).toDF("doc_id", "text")
    val fp = Docs.fingerprint(long).select("fingerprint").head.getLong(0)
    // 64 chars of 'x': the exact wrapped polynomial, computed independently
    var expect = 0L
    (1 to 64).foreach(_ => expect = expect * 31L + 'x'.toLong)
    assert(fp === expect)
    intercept[Exception] { HofTwins.fingerprint(long).collect() } // ANSI overflow
  }

  test("winnow kernel == HOF formulation") {
    assertSame(Docs.winnowSummary(edge), HofTwins.winnowSummary(edge), "winnow")
  }

  test("repStats kernel == brute-force token n-gram counting on the edge corpus") {
    // independent reference: tokenize with the same split(trim, \s+)
    // semantics, count n-grams with a scala Map
    def brute(text: String, n: Int): (Long, Long, Long) = {
      val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = java.util.regex.Pattern.compile("\\s+").split(trimmed, -1)
      if (toks.length < n) return (0L, 0L, 0L)
      val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      (grams.size.toLong, counts.values.max, counts.values.filter(_ > 1).sum)
    }
    val rows = graft.operators.Docs.repetitionScores(edge)
      .orderBy("doc_id").collect()
    val texts = edge.orderBy("doc_id").select("doc_id", "text")
      .as[(Long, String)].collect()
    rows.zip(texts).foreach { case (r, (id, text)) =>
      val (t2, top2, d2) = brute(text, 2)
      val (t5, top5, d5) = brute(text, 5)
      assert((r.getAs[Long]("tot2"), r.getAs[Long]("top2"), r.getAs[Long]("dup2")) ===
        ((t2, top2, d2)), s"doc $id 2-grams")
      assert((r.getAs[Long]("tot5"), r.getAs[Long]("top5"), r.getAs[Long]("dup5")) ===
        ((t5, top5, d5)), s"doc $id 5-grams")
      val expTop2 = if (t2 > 0) top2.toDouble / t2.toDouble else 0.0
      val expDup5 = if (t5 > 0) d5.toDouble / t5.toDouble else 0.0
      assert(r.getAs[Double]("top2_frac") === expTop2, s"doc $id top2_frac")
      assert(r.getAs[Double]("dup5_frac") === expDup5, s"doc $id dup5_frac")
    }
    // the degenerate all-repeats doc: 10×"a" → 9 bigrams all identical
    val r9 = rows.find(_.getAs[Long]("doc_id") == 9L).get
    assert(r9.getAs[Long]("top2") === 9L && r9.getAs[Double]("top2_frac") === 1.0)
    assert(r9.getAs[Double]("dup5_frac") === 1.0)
  }

  test("every compiled-kernel Column entry point: null in → null out, non-null in → non-nullable out, codegen'd") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import graft.functions._
    // two rows from a Range scan (not a local relation, whose projections
    // the optimizer evaluates eagerly); each input also has an "_n" twin that
    // is null on row 0
    val base = spark.range(0, 2, 1, 1).select(
      col("id"),
      concat(lit("the quick brown fox jumps "), col("id").cast("string")).as("text"),
      concat(lit("<p>a &amp; b "), col("id").cast("string"), lit("</p>")).cast("binary").as("html"),
      (lit(40.0) + col("id")).as("lat"),
      (lit(-75.0) - col("id")).as("lon"),
      lit(Grid.cellId(40.0, -75.0, 13)).as("cell"),
      array(lit("a b"), concat(lit("b "), col("id").cast("string"))).as("sh"),
      (col("id") + 4).cast("int").as("side"),
      PngImageExpr(lit(4), lit(4), col("id")).as("png"),
      WavAudioExpr(lit(8000), lit(1), lit(16), col("id")).as("wav"))
    val inputs = base.columns.filterNot(_ == "id")
    inputs.foreach(c => assert(!base.schema(c).nullable, s"fixture column $c must be non-nullable"))
    val frame = base.select(col("id") +: inputs.flatMap(c =>
      Seq(col(c), when(col("id") === 0, lit(null)).otherwise(col(c)).as(c + "_n"))): _*)
    val kernels: Seq[(String, (String => Column) => Column)] = Seq(
      "Text.shingles" -> (in => Text.shingles(in("text"), 3)),
      "Text.jaccard" -> (in => Text.jaccard(in("sh"), in("sh"))),
      "Text.minHashMd5" -> (in => Text.minHashMd5(in("text"), 4)),
      "Text.simHashMd5" -> (in => Text.simHashMd5(in("text"))),
      "Text.simHashXx" -> (in => Text.simHashXx(in("text"))),
      "Text.fingerprintWrap" -> (in => Text.fingerprintWrap(in("text"))),
      "Text.fingerprintMod" -> (in => Text.fingerprintMod(in("text"), 1000003L)),
      "Text.winnow" -> (in => Text.winnow(in("text"), 5, 4)),
      "Text.repStats" -> (in => Text.repStats(in("text"))),
      "Grid.cell" -> (in => Grid.cell(in("lat"), in("lon"), 13)),
      "Grid.kRing" -> (in => Grid.kRing(in("cell"), 1)),
      "ExtractTextExpr" -> (in => ExtractTextExpr(in("html"))),
      "MinHashSigExpr" -> (in => MinHashSigExpr(in("text"))),
      "PngImageExpr" -> (in => PngImageExpr(in("side"), in("side"), in("id"))),
      "PngImageLinExpr" -> (in => PngImageLinExpr(in("side"), in("side"), in("id"))),
      "WavAudioExpr" -> (in => WavAudioExpr(lit(8000), in("side"), in("side"), in("id"))),
      "WavAudioLinExpr" -> (in => WavAudioLinExpr(lit(8000), in("side"), in("side"), in("id"))),
      "PngStatsExpr" -> (in => PngStatsExpr(in("png"))),
      "WavStatsExpr" -> (in => WavStatsExpr(in("wav"))))
    for ((name, kernel) <- kernels) {
      val nonNull = frame.select(kernel(col).as("k"))
      assert(!nonNull.schema("k").nullable, s"$name: non-null input must give a non-nullable output")
      val withNull = frame.select(col("id"),
        kernel(c => if (c == "id") col(c) else col(c + "_n")).as("k"))
      assert(withNull.schema("k").nullable, s"$name: nullable input must give a nullable output")
      val rows = withNull.orderBy("id").collect()
      assert(rows(0).isNullAt(1), s"$name: null input row must give null")
      assert(!rows(1).isNullAt(1), s"$name: non-null input row must give a value")
      val codegend = withNull.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.child.collect {
          case p: ProjectExec if p.output.exists(_.name == "k") => p }
      }.flatten
      assert(codegend.nonEmpty, s"$name: the kernel projection must plan inside WholeStageCodegen")
    }
  }

  test("kernels agree with HOF twins on the sf0.001 documents corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    assertSame(Docs.minHashMd5Signature(docs), HofTwins.minHashMd5Signature(docs), "minHashMd5@sf")
    assertSame(Docs.simHashMd5(docs), HofTwins.simHashMd5(docs), "simHashMd5@sf")
    assertSame(Docs.fingerprintMod(docs), HofTwins.fingerprintMod(docs), "fingerprintMod@sf")
    assertSame(Docs.winnowSummary(docs), HofTwins.winnowSummary(docs), "winnow@sf")
    assertSame(
      docs.select(col("doc_id"), Docs.shingles(col("text"), 3).as("sh")),
      docs.select(col("doc_id"), HofTwins.shingles(col("text"), 3).as("sh")), "shingles@sf")
  }
}
