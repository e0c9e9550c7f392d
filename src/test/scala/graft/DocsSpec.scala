package graft

import org.apache.spark.sql.functions._
import graft.operators.Docs

class DocsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy cat", "en"),
    (3L, "der schnelle braune fuchs und der faule hund", "de"),
    (4L, "the quick brown fox jumps over the lazy dog", "en") // exact dup of 1
  ).toDF("doc_id", "text", "lang")

  test("exact dedup keeps lowest doc_id per distinct text") {
    val out = Docs.dedupExact(docs).select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 2L, 3L))
  }

  test("exact dup groups finds the duplicate pair") {
    val g = Docs.exactDupGroups(docs).collect()
    assert(g.length === 1)
    assert(g(0).getAs[Long]("n_docs") === 2L)
    assert(g(0).getAs[Long]("keep_doc_id") === 1L)
  }

  test("shingles: 3-gram count and content") {
    val sh = docs.where(col("doc_id") === 1)
      .select(Docs.shingles(col("text"), 3).as("sh")).head.getSeq[String](0)
    assert(sh.size === 7) // 9 tokens → 7 shingles, all distinct here
    assert(sh.contains("the quick brown"))
    assert(sh.contains("the lazy dog"))
  }

  test("jaccard: near-dup pair has high similarity, cross-lang pair zero") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val j = Docs.jaccard(docs, pairs).collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) > 0.5) // 6 of 8 shingles shared
    assert(j((1L, 3L)) === 0.0)
  }

  test("minhash LSH surfaces the exact dup as a candidate") {
    val cand = Docs.minHashCandidates(Docs.minHashSignature(docs))
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 4L)))
  }

  test("minhash LSH drops degenerate over-cap buckets from pairing") {
    // the exact-dup pair shares every band → every shared bucket has ≥2
    // docs; with maxBucket=1 no bucket may pair, so candidates vanish
    // (the O(n²) mega-bucket guard)
    val none = Docs.minHashCandidates(Docs.minHashSignature(docs), maxBucket = 1)
      .as[(Long, Long)].collect()
    assert(none.isEmpty)
    // the same cap on the md5 family's band hashes
    assert(Docs.minHashMd5Candidates(Docs.minHashMd5Signature(docs), maxBucket = 1).isEmpty)
    assert(Docs.minHashMd5Candidates(Docs.minHashMd5Signature(docs), maxBucket = 2)
      .as[(Long, Long, Long)].collect().contains((1L, 4L, 2L)))
  }

  test("simhash: identical docs get identical hashes, near-dups small hamming distance") {
    val h = Docs.simHash(docs).as[(Long, Long)].collect().toMap
    assert(h(1L) === h(4L))
    val ham = java.lang.Long.bitCount(h(1L) ^ h(2L))
    val hamCross = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(ham < hamCross)
  }

  test("substrCount counts non-overlapping literal occurrences") {
    val n = Seq(Tuple1(" the quick the lazy the ")).toDF("t")
      .select(Docs.substrCount(col("t"), " the ").cast("long")).head.getLong(0)
    assert(n === 3L) // non-overlapping scan: offsets 0, 10, 19
  }

  test("fingerprint is deterministic and order-sensitive") {
    val fp = Docs.fingerprint(Seq((1L, "abc"), (2L, "acb"), (3L, "abc")).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) === fp(3L))
    assert(fp(1L) !== fp(2L))
    // polynomial base-31 over code points: 'a'*31² + 'b'*31 + 'c'
    assert(fp(1L) === (97L * 31 * 31 + 98L * 31 + 99L))
  }

  test("fingerprintMod matches the wrapping variant below p and stays in Z_p") {
    val fp = Docs.fingerprintMod(docs.select(col("doc_id"), col("text")))
      .as[(Long, Long)].collect().toMap
    // "abc"-style short strings never exceed p, so mod-p == wrapping value
    val short = Docs.fingerprintMod(Seq((9L, "abc")).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    assert(short(9L) === (97L * 31 * 31 + 98L * 31 + 99L))
    assert(fp.values.forall(v => v >= 0L && v < 1000000007L))
    assert(fp(1L) === fp(4L)) // same text, same fingerprint
    assert(fp(1L) !== fp(2L))
  }

  test("simHashMd5: deterministic, near-dups closer in Hamming than cross-lang") {
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val h = Docs.simHashMd5(docs).as[(Long, Long)].collect().toMap
    assert(h(1L) === h(4L)) // identical text
    assert((h(1L) & ~((1L << 60) - 1)) === 0L) // 60-bit hash
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L))) // one-word edit vs german
  }

  test("tokenCounts: whitespace vs BPE-ish segmentation") {
    val t = Seq((1L, "don't stop-me now 3.14"), (2L, ""), (3L, "  a  b "))
      .toDF("doc_id", "text")
    val out = Docs.tokenCounts(t).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((4L, 10L))) // don|'|t| stop|-|me| now| 3|.|14
    assert(out(2L) === ((1L, 0L)))  // split('') yields [""] — one ws token
    assert(out(3L) === ((2L, 5L)))
  }

  test("winnowSummary: repeated text collapses to one fingerprint; short text empty") {
    val t = Seq(
      (1L, "aaaaaaaaaaaa"),   // 12 chars, all 8-grams identical
      (2L, "abcdefghijkl"),   // 12 chars: 5 grams, 2 windows
      (3L, "short")           // < k → no grams
    ).toDF("doc_id", "text")
    val out = Docs.winnowSummary(t).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) === 1L)
    assert(out(2L).getLong(1) >= 1L && out(2L).getLong(1) <= 2L)
    assert(out(3L).getLong(1) === 0L && out(3L).isNullAt(2) && out(3L).isNullAt(3))
  }

  test("nearDupClusters: chained candidates collapse to min-id representative") {
    val cands = Seq((2L, 5L), (1L, 2L), (7L, 8L), (5L, 9L))
      .toDF("doc_a", "doc_b")
    val out = Docs.nearDupClusters(cands).as[(Long, Long)].collect().toMap
    // chain 1-2-5-9 → rep 1 everywhere (min must traverse the chain)
    assert(Seq(1L, 2L, 5L, 9L).map(out) === Seq(1L, 1L, 1L, 1L))
    assert(out(7L) === 7L && out(8L) === 7L)
  }

  test("language scores: the/der markers dominate for matching language") {
    val s = Docs.langScores(docs).where(col("doc_id") === 3).head
    assert(s.getAs[Long]("score_de") > s.getAs[Long]("score_en"))
  }

  test("md5 minhash: identical docs share the full signature and all bands") {
    val d = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    val sig = Docs.minHashMd5Signature(d).orderBy("doc_id").collect()
    assert(sig(0).toSeq.tail === sig(1).toSeq.tail)   // same text → same sig
    assert(sig(0).toSeq.tail !== sig(2).toSeq.tail)
    val cand = Docs.minHashMd5Candidates(Docs.minHashMd5Signature(d))
      .as[(Long, Long, Long)].collect().toSet
    assert(cand === Set((1L, 2L, 2L))) // both bands shared, no cross pair
  }

  test("cappedBuckets surfaces exactly the buckets minHashCandidates drops") {
    // 5 identical docs → every band bucket holds 5; with maxBucket=3 the
    // pairing drops them all and cappedBuckets reports them
    val d = (1L to 5L).map(i => (i, "same text here repeated tokens ok")).toDF("doc_id", "text")
    val sigs = Docs.minHashSignature(d)
    assert(Docs.minHashCandidates(sigs, maxBucket = 3).count() === 0L)
    val capped = Docs.cappedBuckets(sigs, maxBucket = 3).collect()
    assert(capped.nonEmpty)
    capped.foreach(r => assert(r.getAs[Long]("bucket_n") === 5L))
    // and with the cap above the bucket size the pairs reappear
    assert(Docs.minHashCandidates(sigs, maxBucket = 10).count() === 10L) // C(5,2)
    // one cap for both hash families: the md5 bands of the same docs obey it
    val md5Sigs = Docs.minHashMd5Signature(d)
    assert(Docs.minHashMd5Candidates(md5Sigs, maxBucket = 4).count() === 0L)
    val md5Pairs = Docs.minHashMd5Candidates(md5Sigs, maxBucket = 5).collect()
    assert(md5Pairs.length === 10) // C(5,2), each sharing both md5 bands
    md5Pairs.foreach(r => assert(r.getAs[Long]("n_shared_bands") === 2L))
  }

  test("filterPipeline: dedup, gates and language argmax compose end-to-end") {
    // 26 tokens, 21 distinct (ratio 0.81), 4.73 chars/token, en markers win
    val enText = "the quick brown fox and the lazy dog of the old farm ran over " +
      "green hills and the sun set of evening while birds sang songs"
    // 23 tokens, de markers (der ×2, und ×2, die ×2) win
    val deText = "der hund und die katze der vogel und die maus hier laufen " +
      "schnell durch den garten wo blumen stehen am alten zaun heute"
    // 22 distinct tokens, none a language marker → 'und'
    val undText = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    val rows = Seq(
      (1L, enText),             // kept, en
      (2L, enText),             // exact dup of 1 → dropped by dedup
      (3L, deText),             // kept, de
      (4L, "short text"),       // 2 tokens < 20 → gated out
      (5L, ("rep " * 30).trim), // distinct_ratio 1/30 → gated out
      (6L, undText)             // kept, no markers → und
    ).toDF("doc_id", "text")
    val out = Docs.filterPipeline(rows).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("en", "de", "und"))
    assert(out("en").getAs[Long]("n_docs") === 1L)
    assert(out("en").getAs[Long]("min_doc") === 1L) // the dup kept the LOWER id
    assert(out("en").getAs[Long]("tokens_sum") === 26L)
    assert(out("de").getAs[Long]("doc_id_sum") === 3L)
    assert(out("und").getAs[Long]("min_doc") === 6L)

    // scale shape pinned at the plan level: at most TWO exchanges — the
    // digest shuffle for dedup and the final tiny summary aggregation; the
    // gates and language scores must stay pure projections between them
    val plan = Docs.filterPipeline(rows).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length <= 2,
      s"filterPipeline should shuffle exactly twice (dedup digest + summary):\n$plan")
  }

  test("sampleStratified: membership = bucket<rate(lang), salt-decorrelated, shuffle-free") {
    import spark.implicits._
    val langs = Seq("en", "de", "fr", "es", "zh")
    val docs = spark.range(0, 5000)
      .select(col("id").as("doc_id"),
        element_at(typedLit(langs), (pmod(col("id"), lit(5)) + 1).cast("int")).as("lang"))
    val kept = Docs.sampleStratified(docs).collect()
    kept.foreach { r =>
      val rate = Docs.DefaultSampleRates(r.getAs[String]("lang")).toLong
      val bk = r.getAs[Long]("bucket")
      assert(bk >= 0 && bk < 10000 && bk < rate)
    }
    // en keeps everything (rate 10000); zh keeps ~10%
    val byLang = kept.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    assert(byLang("en") === 1000)
    assert(byLang("zh") > 40 && byLang("zh") < 250, s"zh kept ${byLang("zh")} of 1000")
    // decorrelation: the sampling coin must not be the split coin — among
    // kept en docs (sampling keeps all), split proportions stay ~80/10/10
    val keptIds = kept.filter(_.getAs[String]("lang") == "en").map(_.getAs[Long]("doc_id")).toSet
    val splits = Docs.splitAssign(docs.where(col("doc_id").isin(keptIds.toSeq.map(Long.box): _*)))
      .collect().groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(splits("train") > 700 && splits("train") < 900, splits.toString)
    val plan = Docs.sampleStratified(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mixEpochs: per-source tiers, row multiplication exact, broadcast join") {
    import spark.implicits._
    // three synthetic sources engineered into the three tiers:
    // srcHi all-distinct tokens (ratio 1.0 > .45 → 3), srcMid ratio ~.44... need >.40 → 2,
    // srcLo heavy repetition (ratio ~.25 → 1)
    val docs = Seq(
      (1L, "srcHi", "a b c d e f g h"),                // 8/8 = 1.0 → 3 epochs
      (2L, "srcHi", "p q r s t"),                      // 5/5
      (3L, "srcMid", "a b c d e a b c d e a b"),       // 5/12 ≈ .417 → 2 epochs
      (4L, "srcLo", "x y x y x y x y x y x y x y x y") // 2/16 = .125 → 1 epoch
    ).toDF("doc_id", "source", "text")
    val out = Docs.mixEpochs(docs)
    val rows = out.collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc(1L).length === 3 && byDoc(2L).length === 3)
    assert(byDoc(3L).length === 2)
    assert(byDoc(4L).length === 1)
    // epoch runs 1..epochs for every doc
    byDoc.foreach { case (_, rs) =>
      val eps = rs.map(_.getAs[Long]("epoch")).sorted
      assert(eps === (1L to rs.head.getAs[Long]("epochs")).toArray)
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("splitAssign: deterministic, in-range, threshold-consistent, shuffle-free") {
    val docs = spark.range(1, 2001).toDF("doc_id")
    val a = Docs.splitAssign(docs).orderBy("doc_id").collect()
    val b = Docs.splitAssign(docs).orderBy("doc_id").collect()
    assert(a === b, "same ids must land in the same split every run")
    a.foreach { r =>
      val bk = r.getAs[Long]("bucket")
      assert(bk >= 0 && bk < 100)
      val exp = if (bk < 80) "train" else if (bk < 90) "val" else "test"
      assert(r.getAs[String]("split") === exp)
    }
    // distribution sanity: xxhash64 buckets ~uniform → train within 80±5%
    val nTrain = a.count(_.getAs[String]("split") == "train")
    assert(nTrain > 1500 && nTrain < 1700, s"train count $nTrain of 2000")
    // pure projection: no Exchange in the plan
    val plan = Docs.splitAssign(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("decontam: flags exactly the train docs sharing a 5-gram with the test split") {
    import spark.implicits._
    // split membership is a pure function of doc_id; pick real bucket ids
    val splits = Docs.splitAssign(spark.range(1, 201).toDF("doc_id"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val testId = splits.collectFirst { case (id, "test") => id }.get
    val train = splits.collect { case (id, "train") => id }.toSeq.sorted.take(4)
    val rows = Seq(
      (testId, "alpha beta gamma delta epsilon zeta"),
      (train(0), "prefix alpha beta gamma delta epsilon suffix"), // shares ONE 5-gram
      (train(1), "alpha beta gamma delta other tokens here pad"), // 4 shared tokens, no 5-gram
      (train(2), "one two three four five six seven"),            // disjoint
      (train(3), "tiny doc")                                      // < 5 tokens → zero grams
    ).toDF("doc_id", "text")
    val out = Docs.decontam(rows).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hit_grams"), r.getAs[Long]("contaminated"))).toMap
    assert(out.keySet === train.toSet, "one row per TRAIN doc, test doc excluded")
    assert(out(train(0)) === ((1L, 1L)))
    assert(out(train(1)) === ((0L, 0L)))
    assert(out(train(2)) === ((0L, 0L)))
    assert(out(train(3)) === ((0L, 0L)), "short docs survive with zero hits")
  }

  test("domainCap: deterministic hash-rank cap, partial WindowGroupLimit below the exchange") {
    import spark.implicits._
    val docs = spark.range(0, 90)
      .select(col("id").as("doc_id"),
        concat(lit("src"), pmod(col("id"), lit(3))).as("source"),
        lit("x").as("text"))
    val capped = Docs.domainCap(docs)
    val rows = capped.collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    assert(bySrc.keySet.size === 3)
    bySrc.foreach { case (_, rs) =>
      assert(rs.length === Docs.DefaultDomainCap)
      assert(rs.map(_.getAs[Long]("rk")).sorted === (1L to 15L).toArray)
    }
    // the kept SET is a pure function of the ids — stable under input order
    val shuffled = Docs.domainCap(docs.repartition(7, col("doc_id")))
      .select("doc_id").as[Long].collect().sorted
    assert(shuffled === rows.map(_.getAs[Long]("doc_id")).sorted)
    // scale shape: rk<=cap must plan a PARTIAL WindowGroupLimit below the
    // exchange so the shuffle carries ≤ cap·partitions rows per source
    val lines = capped.queryExecution.executedPlan.toString.linesIterator.toSeq
    val partialIdx = lines.indexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(partialIdx >= 0, s"no partial WindowGroupLimit:\n${lines.mkString("\n")}")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      "partial WindowGroupLimit must sit BELOW the exchange")
  }

  test("packSequences: per-shard running offsets, integer seq index, order-stable") {
    import spark.implicits._
    val docs = spark.range(1, 101)
      .select(col("id").as("doc_id"),
        // token counts 10,20,30 cycling — every offset is a known integer
        concat_ws(" ", array_repeat(lit("w"), (pmod(col("id"), lit(3)) * 10 + 10).cast("int")))
          .as("text"))
    val out = Docs.packSequences(docs).collect()
    assert(out.length === 100)
    out.groupBy(_.getAs[Long]("shard")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("doc_id"))
      var running = 0L
      sorted.foreach { r =>
        assert(r.getAs[Long]("start_off") === running, s"offset chain broke at $r")
        assert(r.getAs[Long]("seq_id") === running / Docs.PackBudget)
        running += r.getAs[Long]("n_tokens")
      }
    }
    // deterministic under input partitioning
    val again = Docs.packSequences(docs.repartition(7, col("doc_id")))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seq_id"))).toMap
    out.foreach(r => assert(again(r.getAs[Long]("doc_id")) === r.getAs[Long]("seq_id")))
    // scale shape: exactly ONE shuffle — the hash fan-out to packing shards
    val plan = Docs.packSequences(docs).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1, plan)
  }

  test("invertedIndex: exact df/min/max, postings only under the cap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple banana"),
      (3L, "apple date date"), // in-doc repeat counts once
      (4L, "banana")
    ).toDF("doc_id", "text")
    val out = Docs.invertedIndex(docs, cap = 2).collect()
      .map(r => r.getAs[String]("token") -> r).toMap
    assert(out("apple").getAs[Long]("df") === 3L)
    assert(out("apple").getAs[String]("postings") === null, "df over cap → no postings")
    assert(out("apple").getAs[Long]("min_doc") === 1L)
    assert(out("apple").getAs[Long]("max_doc") === 3L)
    assert(out("banana").getAs[Long]("df") === 3L)
    assert(out("cherry").getAs[String]("postings") === "1")
    assert(out("date").getAs[Long]("df") === 1L)
    assert(out("date").getAs[String]("postings") === "3")
    // sorted, comma-joined, numeric order
    val two = Docs.invertedIndex(docs, cap = 3).collect()
      .map(r => r.getAs[String]("token") -> r.getAs[String]("postings")).toMap
    assert(two("apple") === "1,2,3")
    assert(two("banana") === "1,2,4")
    // scale shape: three bounded aggregation shuffles (stats, the df gate,
    // cap-gated postings); postings payloads only ever shuffle for tokens
    // that passed the semi-join gate
    val plan = Docs.invertedIndex(docs).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 3, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("rareTokenRatio: occurrence-weighted rarity under the integer cross-multiply rule") {
    import spark.implicits._
    // 5 docs, invFrac=2 → rare iff df·2 < 5, i.e. df ≤ 2
    val rows = Seq(
      (1L, "x r r r"),   // r: df 1 → rare; 3 rare occurrences of 4
      (2L, "x s"),       // s: df 2 → rare; 1 of 2
      (3L, "x s t"),     // 1 of 3 (s rare, t df 3 not)
      (4L, "x t"),       // 0 of 2
      (5L, "x t x x")    // x: df 5 → not rare; 0 of 4
    ).toDF("doc_id", "text")
    val out = Docs.rareTokenRatio(rows, invFrac = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_rare"), r.getAs[Double]("rare_ratio"))).toMap
    assert(out(1L) === ((4L, 3L, 0.75)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((3L, 1L, 1.0 / 3.0)))
    assert(out(4L) === ((2L, 0L, 0.0)))
    assert(out(5L) === ((4L, 0L, 0.0)))
    // no vocab-sized broadcast: the tf⋈df join must not build the token
    // dimension as a broadcast of the FULL df table (the tiny n_docs
    // scalar is the only sanctioned broadcast)
    val plan = Docs.rareTokenRatio(rows).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("assembleDataset == the stage operators composed by hand") {
    import spark.implicits._
    val corpus = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Docs.assembleDataset(corpus).collect()
      .map(r => (r.getAs[String]("split"), r.getAs[String]("source")) -> r).toMap

    // recompute membership stage by stage with the PUBLIC operators
    val gated = Docs.dedupExact(corpus)
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .where(col("n_tokens").between(Docs.PipelineMinTokens, Docs.PipelineMaxTokens))
    val splits = Docs.splitAssign(gated)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val contaminated = Docs.decontam(gated.select(col("doc_id"), col("text")))
      .where(col("contaminated") === 1L).select("doc_id").as[Long].collect().toSet
    val keptRows = gated.select("doc_id", "source", "n_tokens").collect()
      .filter(r => !contaminated.contains(r.getAs[Long]("doc_id")))
    val kept = keptRows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
      r.getAs[Long]("n_tokens"), splits(r.getAs[Long]("doc_id"))))
    val keptDf = kept.toSeq.toDF("doc_id", "source", "n_tokens", "split")
    val cappedIds = Docs.domainCap(keptDf).select("doc_id").as[Long].collect().toSet
    val capped = kept.filter(t => cappedIds.contains(t._1))

    // summary parity: docs / tokens / id-sum per (split, source)
    val expect = capped.groupBy(t => (t._4, t._2)).map { case (k, ts) =>
      k -> (ts.length.toLong, ts.map(_._3).sum, ts.map(_._1).sum) }
    assert(out.keySet === expect.keySet)
    expect.foreach { case (k, (n, toks, idSum)) =>
      val r = out(k)
      assert(r.getAs[Long]("n_docs") === n, s"$k n_docs")
      assert(r.getAs[Long]("tokens_sum") === toks, s"$k tokens_sum")
      assert(r.getAs[Long]("doc_id_sum") === idSum, s"$k doc_id_sum")
    }
    // packing parity: n_seqs = distinct (shard, seq) over surviving train
    // docs per source, via the public packSequences on the same survivors
    val trainIds = capped.filter(_._4 == "train").map(_._1).toSet
    val packed = Docs.packSequences(
        corpus.where(col("doc_id").isin(trainIds.toSeq.map(Long.box): _*)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shard"), r.getAs[Long]("seq_id"))).toMap
    val srcOf = capped.map(t => t._1 -> t._2).toMap
    val expSeqs = trainIds.groupBy(srcOf).view.mapValues(_.map(packed).size.toLong).toMap
    out.foreach { case ((sp, src), r) =>
      val n = r.getAs[Long]("n_seqs")
      if (sp == "train") assert(n === expSeqs(src), s"$src n_seqs")
      else assert(n === 0L, s"non-train rows pack nothing: $sp/$src")
    }

    // scale shape: the corpus rides ONE linear chain (digest → anti-join →
    // cap → pack window → agg); packing must NOT self-join a second
    // evaluation of the pipeline (caught at 13 exchanges before the
    // (split, shard) window rewrite — now ≤ 9 incl. the two lean decontam
    // side-input scans)
    val plan = Docs.assembleDataset(corpus).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 9, plan)
  }

  test("chunkDocs: overlapping windows, boundary counts, content md5, shuffle-free") {
    import spark.implicits._
    import java.security.MessageDigest
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = Seq((1L, "a b c d e f g h i"), (2L, "x y")).toDF("doc_id", "text")
    val out = Docs.chunkDocs(rows, size = 4, stride = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")) ->
        (r.getAs[Long]("chunk_tokens"), r.getAs[String]("chunk_md5"))).toMap
    // doc 1: 9 tokens, starts 0/3/6 → lengths 4/4/3; window 1 overlaps d
    assert(out.keySet === Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    assert(out((1L, 0L)) === ((4L, md5hex("a b c d"))))
    assert(out((1L, 1L)) === ((4L, md5hex("d e f g"))))
    assert(out((1L, 2L)) === ((3L, md5hex("g h i"))))
    assert(out((2L, 0L)) === ((2L, md5hex("x y"))))
    // pure projection + map-side explode: no Exchange
    val plan = Docs.chunkDocs(rows).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("decontamBloom: row-identical to decontam, might_contain prefilter in the plan") {
    val corpus = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Docs.decontam(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val bloom = Docs.decontamBloom(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(bloom === exact, "bloom false positives must be removed by the exact join")
    // the prefilter must sit in the plan as a might_contain predicate on
    // the train-gram side (map-side discard before the join)
    val plan = Docs.decontamBloom(corpus).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
  }

  test("decontam scale shape: two hash shuffles, gram join broadcastable") {
    import spark.implicits._
    val docs = spark.range(1, 301)
      .select(col("id").as("doc_id"),
        concat_ws(" ", array_repeat(concat(lit("w"), pmod(col("id"), lit(9))), 12)).as("text"))
    val plan = Docs.decontam(docs).queryExecution.executedPlan.toString
    // bench-gram distinct + per-doc hit agg; the gram and doc joins ride
    // broadcasts (AQE shuffle-joins the gram side at corpus scale instead)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
