package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text-pipeline operators over the `documents` table:
  * exact dedup, n-gram Jaccard near-dup, MinHash, SimHash, language-ID
  * heuristic, quality scoring, token counting, rolling-hash fingerprints.
  *
  * All hashes are built from `md5`/`crc32`/`xxhash64` built-ins so they are
  * deterministic, portable, and codegen'd (no UDFs). Where the DuckDB oracle
  * can compute the identical function (md5, arithmetic, and Spark's XXH64
  * via the graft.OracleXxh twin) the operator is hash-verified; the rest
  * are covered by ScalaTest fixtures.
  */
object Docs {

  /** Occurrences of literal substring `pat` — (len(t) − len(replace(t, pat)))
    * / len(pat); pure arithmetic so the oracle matches exactly.
    */
  def substrCount(text: Column, pat: String): Column =
    (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(pat), ""))) / pat.length

  /** The whitespace tokenizer of every token rule (limit -1; trim strips
    * 0x20 only, so "" is ONE empty token). TextImpl.tokens and the DuckDB
    * twins' regexp_split_to_array(trim(text), '\\s+') mirror it exactly.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Characters per token — one int/int IEEE division, exact cross-engine. */
  private def charsPerToken(text: Column): Column =
    length(text).cast("double") / size(tokens(text)).cast("double")

  /** Distinct tokens over all tokens — one int/int IEEE division. */
  private def distinctRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text)).cast("double")

  /** Exact duplicate groups: md5 over the document text. At scale: single
    * shuffle on the 128-bit digest (uniform keys — no skew), map-side
    * partial counts.
    */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
      .where(col("n_docs") > 1)

  /** Exact dedup: keep the lowest doc_id per distinct text. */
  def dedupExact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")
    docs.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** The canonical webtext cleaning pipeline in ONE distributed plan
    * (the C4/CCNet shape): exact dedup (min-doc_id per content digest) →
    * quality gates (token count in [minTokens, maxTokens], chars/token
    * < 5.5, distinct-token ratio > 0.5) → language-ID argmax over the
    * integer marker scores (lexicographically-smallest language on ties,
    * 'und' when no marker hits) → per-language membership-pinning summary
    * (n, min/max/sum doc_id, token sum).
    *
    * Every stage is exact cross-engine arithmetic (md5 digest, integer
    * counts, one-IEEE-division ratios compared against binary-exact
    * literals), so the WHOLE pipeline runs under the DuckDB oracle. Scale
    * shape: one uniform digest shuffle for dedup + one final tiny
    * aggregation; the gates and scores are pure projections.
    */
  /** Gate constants for [[filterPipeline]] — the oracle SQL builder
    * (SparkEntry.oracleSql "doc_filter_pipeline") interpolates THESE same
    * values, so operator and twin cannot silently diverge (the ratio bounds
    * are binary-exact doubles; cross-engine `<`/`>` against them is exact).
    */
  val PipelineMinTokens = 20
  val PipelineMaxTokens = 80
  val PipelineMaxCharsPerToken = 5.5
  val PipelineMinDistinctRatio = 0.5

  def filterPipeline(docs: DataFrame,
                     minTokens: Int = PipelineMinTokens,
                     maxTokens: Int = PipelineMaxTokens): DataFrame = {
    val gated = dedupExact(docs)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("chars_per_token", charsPerToken(col("text")))
      .withColumn("distinct_ratio", distinctRatio(col("text")))
      .where(col("n_tokens").between(minTokens, maxTokens) &&
        col("chars_per_token") < lit(PipelineMaxCharsPerToken) &&
        col("distinct_ratio") > lit(PipelineMinDistinctRatio))
    val langs = LangMarkers.keys.toSeq.sorted
    val scored = withLangScores(gated, "s_")
    val best = greatest(langs.map(l => col(s"s_$l")): _*)
    val pred = when(best <= 0, lit("und"))
      .otherwise(coalesce(langs.map(l => when(col(s"s_$l") === best, lit(l))): _*))
    scored.groupBy(pred.as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"), sum("doc_id").as("doc_id_sum"),
        sum("n_tokens").as("tokens_sum"))
  }

  /** Word-shingles of size n from [[tokens]], via the compiled single-pass
    * kernel graft.functions.Text.shingles; its interpreted Column-HOF form
    * is the parity spec HofTwins.shingles in the tests (TextKernelSpec).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Text.shingles(text, n)

  /** Shingle size of the engine's near-dup pipeline: the compiled MinHash
    * kernel hashes token 3-grams, and the Jaccard verification stage
    * shingles the same way.
    */
  val DefaultShingleSize = 3

  /** MinHash signature: for each of the MinHashImpl.NumHashes (16) seeded
    * permutations, the minimum hash over the doc's distinct
    * [[DefaultShingleSize]]-token shingles. LSH banding then buckets
    * signatures for near-dup candidate generation — turning all-pairs
    * similarity into an equi join on (band, band_hash). Runs as the
    * compiled single-pass kernel (graft.functions.MinHashSigExpr — the HOF
    * formulation evaluated interpreted per element and was ~50× slower).
    */
  def minHashSignature(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.MinHashSigExpr(col("text")).as("signature"))

  /** LSH near-dup candidate pairs: split the signature into `bands` bands,
    * hash each band, group by (band_idx, band_hash) → candidate pairs with
    * ≥1 identical band. Output: (doc_a, doc_b) with doc_a < doc_b.
    *
    * Degenerate-bucket guard: a boilerplate-dominated shard can put a huge
    * share of all docs into ONE (band, hash) bucket, turning the self-join
    * quadratic (the hot key AQE's skew split cannot fix — the blowup is
    * row-count, not partition size). Buckets above `maxBucket` docs are
    * dropped from pairing — NOT silently: the capped set is enumerable via
    * [[cappedBuckets]] (same banding, same threshold), so callers treat each
    * capped bucket as its own near-dup cluster (its members are mutual
    * candidates by construction) instead of losing the recall invisibly.
    * Run [[dedupExact]] FIRST — identical docs are the main source of
    * mega-buckets.
    *
    * Building the frame runs a Spark job: the band-row frame is eagerly
    * localCheckpointed. Its blocks stay until the frame is unreachable and the
    * ContextCleaner drops them; `cacheManager.clearCache()` does not free them.
    */
  def minHashCandidates(signatures: DataFrame, bands: Int = 4,
                        maxBucket: Int = 10000): DataFrame =
    pairBuckets(bandRows(signatures, bandHashes(col("signature"), bands)), maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The `bands` band hashes of a MinHash signature, one EXPLICIT column per
    * band: xxhash64 over the band's slice of the NumHashes-long signature.
    * Not a HOF over the signature: an alias referenced once inside a lambda
    * can be inlined by CollapseProject (re-running the MinHash kernel per
    * band element, interpreted), whereas `bands` explicit references of the
    * expensive alias are never inlined — the signature is computed once per
    * row. Shared by [[bandRows]] and the streaming near-dedup
    * (graft.streaming.Streams.nearDedupDocs).
    */
  def bandHashes(signature: Column, bands: Int): Column = {
    require(graft.functions.MinHashImpl.NumHashes % bands == 0, "bands must divide NumHashes")
    val bandSize = graft.functions.MinHashImpl.NumHashes / bands
    array((0 until bands).map(b => xxhash64(slice(signature, b * bandSize + 1, bandSize))): _*)
  }

  /** (doc_id, band_idx, band_hash) rows of a band-hash array — the LSH
    * banding of both MinHash families and [[cappedBuckets]].
    */
  private def bandRows(signatures: DataFrame, hashes: Column): DataFrame =
    signatures.select(col("doc_id"), posexplode(hashes).as(Seq("band_idx", "band_hash")))

  private def bucketSizes(rows: DataFrame): DataFrame =
    rows.groupBy("band_idx", "band_hash").agg(count(lit(1)).as("bucket_n"))

  /** The pairing body of both MinHash families: (doc_id, band_idx,
    * band_hash) rows → the self-join of every bucket of at most `maxBucket`
    * docs on (band_idx, band_hash) with a.doc_id < b.doc_id, sides aliased
    * `a` and `b` (one row per shared band). The band rows feed FOUR
    * consumers (bucket sizes + rows, on both sides of the self-join);
    * un-materialized, each re-ran the whole text→shingle→minhash kernel
    * scan — the expensive pass at corpus scale — so the (doc_id, band_idx,
    * band_hash) frame (tiny: no text) is checkpointed once.
    */
  private def pairBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    val rows = banded.localCheckpoint(eager = true)
    val ok = rows.join(bucketSizes(rows).where(col("bucket_n") <= maxBucket),
        Seq("band_idx", "band_hash"))
      .select("doc_id", "band_idx", "band_hash")
    ok.as("a").join(ok.as("b"),
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
  }

  /** The buckets [[minHashCandidates]] dropped from pairwise enumeration:
    * (band_idx, band_hash, bucket_n) with bucket_n > maxBucket. Members of a
    * capped bucket share an identical signature band, so the bucket IS a
    * near-dup cluster — handle it as a unit (e.g. keep min doc_id per
    * bucket) instead of generating its O(n²) pairs.
    */
  def cappedBuckets(signatures: DataFrame, bands: Int = 4,
                    maxBucket: Int = 10000): DataFrame =
    bucketSizes(bandRows(signatures, bandHashes(col("signature"), bands)))
      .where(col("bucket_n") > maxBucket)

  /** md5-as-integer: first 15 hex chars (60 bits — fits a signed BIGINT in
    * both engines) of md5, parsed base-16. DuckDB recomputes it exactly; the
    * md5 MinHash family built on it pins the per-pair shared-band count and
    * the near-dup clustering under the oracle (the xxhash64 production path
    * has its own exact XXH64 twin, graft.OracleXxh).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Oracle-expressible MinHash: `numHashes` permutations, permutation i of
    * a shingle s = md5Long("i|" ++ s); signature element = min over the
    * doc's distinct 3-gram shingles (Long.MaxValue for docs with < 3
    * tokens — same sentinel both engines). Runs as ONE compiled
    * tokenize→shingle→hash→min pass (graft.functions.Text.minHashMd5); its
    * HOF formulation is the parity spec HofTwins.minHashMd5Signature (tests).
    * The kernel output is staged as its own projection so the 4 mh_i
    * references don't inline (CollapseProject keeps non-cheap aliases).
    */
  def minHashMd5Signature(docs: DataFrame, numHashes: Int = 4): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.Text.minHashMd5(col("text"), numHashes).as("__sig"))
      .select(col("doc_id") +: (0 until numHashes).map(i => col("__sig")(i).as(s"mh_$i")): _*)

  /** LSH banding + bucket cap + candidate pairing over the md5 signatures —
    * identical mechanics to [[minHashCandidates]] (band hash over the band's
    * signature slice, buckets above maxBucket dropped, doc_a < doc_b pairs)
    * with every hash DuckDB-recomputable. Output adds n_shared_bands for a
    * tighter pin. Bands of 2 hashes each.
    *
    * Building the frame runs a Spark job: the band-row frame is eagerly
    * localCheckpointed. Its blocks stay until the frame is unreachable and the
    * ContextCleaner drops them; `cacheManager.clearCache()` does not free them.
    */
  def minHashMd5Candidates(signatures: DataFrame, numHashes: Int = 4,
                           maxBucket: Int = 100): DataFrame = {
    val bandCols = (0 until numHashes / 2).map { b =>
      md5Long(concat_ws(",",
        col(s"mh_${2 * b}").cast("string"), col(s"mh_${2 * b + 1}").cast("string")))
    }
    pairBuckets(bandRows(signatures, array(bandCols: _*)), maxBucket)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Near-dup cluster assignment — the final stage of the MinHash dedup
    * pipeline: connected components over candidate pairs, each cluster
    * keyed by its minimum doc_id (the kept representative). Pairs are
    * symmetrized here; the component loop is the shared
    * [[Components.minLabel]] kernel. Returns (doc_id, rep) for every doc
    * that appears in at least one candidate pair.
    *
    * Building the frame runs a Spark job: the symmetrized edge set is eagerly
    * localCheckpointed. Its blocks stay until the frame is unreachable and the
    * ContextCleaner drops them; `cacheManager.clearCache()` does not free them.
    */
  def nearDupClusters(cands: DataFrame): DataFrame = {
    // materialize the edge set ONCE: the candidate pipeline upstream is the
    // expensive part (signatures + banding + pair join), and Components
    // .assign consumes edges in several jobs (count + collect, or the
    // iterative loop) — without this checkpoint each job re-runs it
    val edges = cands.select(explode(array(
        struct(col("doc_a").as("a_uid"), col("doc_b").as("b_uid")),
        struct(col("doc_b").as("a_uid"), col("doc_a").as("b_uid")))).as("e"))
      .select(col("e.a_uid").as("a_uid"), col("e.b_uid").as("b_uid"))
      .localCheckpoint(eager = true)
    val nodes = edges.select(col("a_uid").as("uid")).distinct()
    Components.assign(nodes, edges)
      .select(col("uid").as("doc_id"), col("comp").as("rep"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs (verification stage
    * after LSH, or direct for small sets).
    */
  def jaccard(docs: DataFrame, pairs: DataFrame, shingleSize: Int = DefaultShingleSize): DataFrame =
    jaccardFromShingles(
      docs.select(col("doc_id"), shingles(col("text"), shingleSize).as("sh")), pairs)

  /** Jaccard over a precomputed (doc_id, sh) frame — callers joining the
    * shingle frame on both pair sides should materialize it first
    * (localCheckpoint/persist) so shingling runs once, not per side.
    */
  def jaccardFromShingles(sh: DataFrame, pairs: DataFrame): DataFrame = {
    pairs
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      // compiled single-pass set Jaccard (one hash-set build per pair) —
      // value identical to size(intersect)/size(union): counts are exact
      // ints, the division is the same single IEEE operation
      .withColumn("jaccard", graft.functions.Text.jaccard(col("sh_a"), col("sh_b")))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash (64-bit) over whitespace tokens: sign-sum of per-token xxhash64
    * bits weighted by term frequency; near-dups have small Hamming distance.
    * One compiled tokenize→hash→sign-sum→pack pass (Text.simHashXx): the HOF
    * formulation (the parity spec HofTwins.simHash in the tests) evaluated
    * 64 boxed counter updates PER TOKEN, interpreted.
    */
  def simHash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.Text.simHashXx(col("text")).as("simhash"))

  /** md5-variant SimHash (oracle twin of [[simHash]]): identical
    * tokenize→hash→sign-sum→pack mechanics with the per-token hash swapped
    * to [[md5Long]] (60 bits), so DuckDB recomputes the whole chain exactly.
    * It pins the 60-bit md5 kernel; the xxhash64 production kernel above is
    * pinned by its own exact XXH64 twin (graft.OracleXxh).
    */
  def simHashMd5(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.Text.simHashMd5(col("text")).as("simhash_md5"))

  /** Language-ID heuristic: per-language stopword occurrence score from
    * substring counts (pure arithmetic — oracle-expressible); argmax wins.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " les "),
    "es" -> Seq(" el ", " y ", " los "),
    "zh" -> Seq(" de ", " shi ", " zhong "))

  /** Per language (sorted), a `<prefix><lang>` column: the long sum of its
    * marker counts in the space-padded text.
    */
  private def withLangScores(docs: DataFrame, prefix: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    LangMarkers.keys.toSeq.sorted.foldLeft(docs) { (df, l) =>
      df.withColumn(prefix + l,
        LangMarkers(l).map(p => substrCount(padded, p)).reduce(_ + _).cast("long"))
    }
  }

  def langScores(docs: DataFrame): DataFrame =
    withLangScores(docs, "score_").select(col("doc_id") +: col("lang").as("actual_lang") +:
      LangMarkers.keys.toSeq.sorted.map(l => col(s"score_$l")): _*)

  /** Quality-score features: length, word count, mean word length, distinct
    * token ratio, stopword ratio — the standard web-text filters, all pure
    * arithmetic over built-ins.
    */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // ratios stay raw exact rationals: int/int division is one IEEE
    // rounding, bit-identical across engines (no decimal re-rounding).
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_m"),
      size(toks).cast("long").as("n_tokens"),
      charsPerToken(col("text")).as("chars_per_token"),
      distinctRatio(col("text")).as("distinct_ratio"),
      (substrCount(concat(lit(" "), col("text"), lit(" ")), " the ").cast("double")
        / size(toks).cast("double")).as("the_ratio"))
  }

  /** Deterministic train/val/test split assignment: bucket =
    * pmod(xxhash64(doc_id), 100), thresholds at trainPct / trainPct+valPct.
    * The split is a pure function of the document id — reproducible across
    * runs, machines, and engine versions (XXH64 is a fixed public
    * algorithm), stable under repartitioning, and requires no sampling
    * state or RNG seed plumbing: the property a training pipeline needs so
    * a holdout document NEVER leaks into train when the corpus is re-read
    * or extended. Pure per-row projection (zero shuffles); the DuckDB twin
    * recomputes XXH64 exactly (OracleXxh.hashLongCtes).
    */
  /** Split thresholds and sampling salt — interpolated into the SQL twins
    * (change-both-sides convention: the oracle derives from THESE).
    */
  val DefaultTrainPct = 80
  val DefaultValPct = 10
  val DefaultSampleSalt = 7L

  def splitAssign(docs: DataFrame, trainPct: Int = DefaultTrainPct,
                  valPct: Int = DefaultValPct): DataFrame =
    docs.select(col("doc_id"), splitBucket.as("bucket"),
      splitLabel(trainPct, valPct).as("split"))

  /** The split bucket of a document: pmod(xxhash64(doc_id), 100). */
  private def splitBucket: Column = pmod(xxhash64(col("doc_id")), lit(100L))

  /** train below trainPct, val below trainPct+valPct, test above. */
  private def splitLabel(trainPct: Int, valPct: Int): Column =
    when(splitBucket < trainPct, lit("train"))
      .when(splitBucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))

  /** Default per-language keep rates (out of 10 000) for
    * [[sampleStratified]] — the CCNet/C4-style language rebalancing step
    * (downsample over-represented languages before training).
    */
  val DefaultSampleRates: Map[String, Int] =
    Map("en" -> 10000, "de" -> 7500, "fr" -> 5000, "es" -> 2500, "zh" -> 1000)

  /** Deterministic stratified hash sampling: keep a document iff
    * pmod(xxhash64(doc_id, salt), 10000) < rate(lang). Like [[splitAssign]]
    * the decision is a pure function of the id — reproducible and stable
    * under repartitioning — but hashed under a distinct salt so the
    * sampling coin is INDEPENDENT of the train/val/test coin (salting the
    * id re-keys XXH64's avalanche; without it, every downsample would
    * preferentially eat one end of the split buckets). Unknown languages
    * get rate 0 (dropped — visible, not silent: the rate map is the
    * explicit contract). Pure per-row filter, zero shuffles; the twin
    * recomputes the chained XXH64 (hashLong(salt, hashLong(doc_id, 42)))
    * via OracleXxh.
    */
  def sampleStratified(docs: DataFrame,
                       ratesPer10k: Map[String, Int] = DefaultSampleRates,
                       salt: Long = DefaultSampleSalt): DataFrame = {
    val bucket = pmod(xxhash64(col("doc_id"), lit(salt)), lit(10000L))
    val thresh = ratesPer10k.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (l, r)) =>
        when(col("lang") === l, lit(r.toLong)).otherwise(acc)
      }
    docs.select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .where(col("bucket") < thresh)
  }

  /** Mix-tier thresholds for [[mixEpochs]]: a source earns `epochs`
    * repetitions when num·Σdistinct > den·Σtokens (i.e. its corpus-level
    * distinct-token mass fraction exceeds den/num — 9/20 = 0.45 for the
    * 3-epoch tier, 2/5 = 0.40 for the 2-epoch tier). Integer cross-
    * multiplication keeps the comparison exact in both engines (a float
    * mean could land on a rounding tie); the SQL twin interpolates THESE
    * constants (change-both-sides convention).
    */
  val MixHiNum = 20; val MixHiDen = 9   // > 0.45 → 3 epochs
  val MixMidNum = 5; val MixMidDen = 2  // > 0.40 → 2 epochs

  /** Corpus mixing with deterministic repetition (the data-recipe step: up-
    * weight high-diversity sources by emitting each of their documents for
    * multiple training epochs). Per-source token totals decide the tier;
    * each doc is exploded into rows (doc_id, epoch=1..epochs). Scale shape:
    * one partial-agg shuffle over ≤ |sources| keys for the stats, then a
    * broadcast join (the per-source table is tiny by construction) and a
    * map-side explode — no second shuffle, no skew surface (the explode
    * multiplies rows at most ×3 and stays partition-local).
    */
  def mixEpochs(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val perSource = docs
      .select(col("source"), size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .groupBy("source")
      .agg(sum("n_tokens").as("tok_sum"), sum("n_distinct").as("dis_sum"))
    val epochs = perSource.select(col("source"),
      when(col("dis_sum") * MixHiNum > col("tok_sum") * MixHiDen, lit(3L))
        .when(col("dis_sum") * MixMidNum > col("tok_sum") * MixMidDen, lit(2L))
        .otherwise(lit(1L)).as("epochs"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(epochs), Seq("source"))
      .select(col("doc_id"), col("source"), col("epochs"),
        explode(sequence(lit(1L), col("epochs"))).as("epoch"))
  }

  /** Shingle size for [[decontam]] — 5-gram overlap is the GPT-3/
    * MassiveText-style contamination window scaled to this corpus's short
    * synthetic texts (real pipelines use 8–13 tokens over web text).
    */
  val DecontamNgram = 5

  /** Benchmark decontamination: flag every TRAIN document that shares any
    * `n`-token shingle with the held-out test split (the [[splitAssign]]
    * buckets ≥ trainPct+valPct — recomputed inline as the pure xxhash64
    * projection so no join against a split table is needed). This is the
    * test-set-leakage filter every serious LLM data pipeline runs before
    * training (GPT-3 appendix C, MassiveText §A.3): a train doc containing
    * a benchmark n-gram inflates eval scores without improving the model.
    *
    * Output: one row per train doc — `n_hit_grams` (distinct shingles
    * shared with ANY test doc; shingles are per-doc distinct already) and
    * `contaminated` (0/1). Scale shape: the test-side gram set is built by
    * one distinct over ~10 % of the corpus's shingles, then the train side
    * joins it on the gram string — a plain equi join that AQE turns into a
    * broadcast at small scale; at 100 TB the same plan shuffle-joins, and
    * the standard production hardening is a bloom-filter prefilter on
    * `gram` before the exact join (the join stays the source of truth).
    * One groupBy(doc_id) shuffle aggregates hits; the final left join back
    * to the train-doc list only restores zero-hit docs whose text is
    * shorter than `n` tokens (they produce no shingle rows).
    */
  def decontam(docs: DataFrame, n: Int = DecontamNgram,
               trainPct: Int = DefaultTrainPct,
               valPct: Int = DefaultValPct): DataFrame =
    decontamWith(docs, n, trainPct, valPct)((_, trainGrams) => trainGrams)

  /** The 100 TB hardening [[decontam]]'s Scaladoc promises, made real:
    * the same contamination semantics with a BLOOM prefilter on the gram
    * key before the exact join. The bench-side gram set aggregates into
    * Spark's own `BloomFilterAggregate` sketch (the Catalyst aggregate
    * behind runtime row-level filtering — a native TypedImperativeAggregate
    * with partial merge, reached through ColumnBridge; no UDF), the sketch
    * is collected to the driver — a BOUNDED seam: numBits/8 bytes,
    * independent of corpus size, the same contract as df.stat.bloomFilter —
    * and re-broadcast as a literal inside `might_contain` over
    * xxhash64(gram), discarding the bulk of clean train grams map-side
    * BEFORE the join. The exact semi join still runs on the survivors, so
    * bloom false positives cannot change results: output is row-identical
    * to [[decontam]] (spec-pinned), which is also why the ORACLE for this
    * path is decontam's own twin.
    */
  def decontamBloom(docs: DataFrame, n: Int = DecontamNgram,
                    trainPct: Int = DefaultTrainPct,
                    valPct: Int = DefaultValPct,
                    expectedGrams: Long = 1L << 16,
                    numBits: Long = 8L << 16): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    decontamWith(docs, n, trainPct, valPct) { (benchGrams, trainGrams) =>
      val bfAgg = new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("gram"))),
        Literal(expectedGrams), Literal(numBits)).toAggregateExpression()
      val bloomBytes = benchGrams
        .select(ColumnBridge.column(bfAgg).as("bf")).head.getAs[Array[Byte]](0)
      trainGrams.where(ColumnBridge.column(BloomFilterMightContain(
        Literal.create(bloomBytes, BinaryType),
        ColumnBridge.expression(xxhash64(col("gram"))))))
    }
  }

  /** The body of [[decontam]] and [[decontamBloom]]: `prefilter` maps the
    * bench gram set (gram, bh) and the train (doc_id, gram) rows to the
    * train rows that the exact gram join checks.
    */
  private def decontamWith(docs: DataFrame, n: Int, trainPct: Int, valPct: Int)(
      prefilter: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val tagged = docs.select(col("doc_id"),
      graft.functions.Text.shingles(col("text"), n).as("grams"),
      (splitBucket >= (trainPct + valPct)).as("is_bench"))
    val benchGrams = tagged.where(col("is_bench"))
      .select(explode(col("grams")).as("gram")).distinct()
      .withColumn("bh", lit(1L))
    val trainGrams = prefilter(benchGrams, tagged.where(!col("is_bench"))
      .select(col("doc_id"), explode(col("grams")).as("gram")))
    val hits = trainGrams.join(benchGrams, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("bh"), lit(0L))).as("n_hit_grams"))
    tagged.where(!col("is_bench")).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).cast("long")
          .as("contaminated"))
  }

  /** Per-source document cap for [[domainCap]] (Gopher/MassiveText-style
    * domain frequency capping — interpolated into the SQL twin).
    */
  val DefaultDomainCap = 15

  /** Domain frequency capping: keep at most `cap` documents per source,
    * chosen by deterministic xxhash64 rank (MassiveText §A.1.3 caps
    * documents per domain so one crawler-friendly site cannot dominate the
    * training mix). Hash rank — not arrival order — makes the kept set a
    * pure function of the ids: stable under repartitioning, re-reads, and
    * corpus extension, like [[splitAssign]]. Ties (64-bit collisions)
    * break on doc_id.
    *
    * Scale shape: `row_number ... WHERE rk <= cap` is rewritten by Spark's
    * InferWindowGroupLimit into a PARTIAL WindowGroupLimit below the
    * exchange, so the shuffle carries at most cap·partitions rows per
    * source, not the whole corpus (plan-pinned in DocsSpec).
    */
  def domainCap(docs: DataFrame, cap: Int = DefaultDomainCap): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .withColumn("rk", domainRank.cast("long"))
      .where(col("rk") <= cap)

  /** A document's rank within its source by (xxhash64(doc_id), doc_id). */
  private def domainRank: Column = row_number().over(Window.partitionBy(col("source"))
    .orderBy(xxhash64(col("doc_id")).asc, col("doc_id").asc))

  /** Packing parameters for [[packSequences]] — tokens per packed training
    * sequence and the shard fan-out (interpolated into the SQL twin).
    */
  val PackBudget = 64
  val PackShards = 8

  /** Sequence packing (the GPT-style concat-and-chunk step): documents are
    * concatenated in a deterministic order and cut into fixed `budget`-token
    * training sequences; each doc is assigned the sequence containing its
    * start offset. A global concatenation order cannot scale (one window
    * over everything = one partition), so the corpus is first fanned out
    * into `shards` independent packing streams by xxhash64(doc_id) — the
    * same move a distributed packer makes — and the running offset is a
    * window sum WITHIN each shard, ordered by doc_id (unique → total order,
    * reproducible under repartitioning). All arithmetic is exact integers
    * (window sums of token counts, integer DIV for the sequence index), so
    * the DuckDB twin is bit-identical. Scale shape: ONE hash-partitioned
    * window per shard; shards is sized to the cluster, not the corpus.
    */
  def packSequences(docs: DataFrame, budget: Int = PackBudget,
                    shards: Int = PackShards): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    val base = docs.select(col("doc_id"), n.as("n_tokens"), packShard(shards).as("shard"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    base.withColumn("end_off", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        (col("end_off") - col("n_tokens")).as("start_off"),
        seqIndex(col("end_off") - col("n_tokens"), budget).as("seq_id"))
  }

  /** The packing stream of a document: pmod(xxhash64(doc_id), shards). */
  private def packShard(shards: Int): Column =
    pmod(xxhash64(col("doc_id")), lit(shards.toLong))

  /** Index of the `budget`-token sequence holding offset o: (o − o mod b) / b. */
  private def seqIndex(startOff: Column, budget: Int): Column =
    (startOff - pmod(startOff, lit(budget.toLong))).divide(lit(budget.toLong)).cast("long")

  /** Posting-list cap for [[invertedIndex]] — full postings are emitted
    * only for tokens with document frequency ≤ cap; hot tokens (stopwords)
    * keep their exact df/min/max but a NULL postings string (an explicit,
    * visible bound — a stopword's full posting list is both useless and a
    * straggler row at corpus scale).
    */
  val PostingsCap = 64

  /** Inverted index over whitespace tokens: per token, document frequency,
    * min/max doc id, and (for df ≤ [[PostingsCap]]) the full sorted posting
    * list as a comma-joined string (strings compare exactly cross-engine;
    * array columns don't survive the gate's pandas equality). Scale shape:
    * two passes so a stopword's corpus-sized posting list NEVER rides a
    * shuffle — pass 1 aggregates fixed-width stats (df/min/max) per token;
    * pass 2 collects postings ONLY for tokens that pass the df ≤ cap gate
    * (left-semi against the under-cap token set, itself tiny). The final
    * stats↔postings join is on the aggregation key, so both sides are
    * already hash-partitioned by token and no extra exchange is planned.
    */
  def invertedIndex(docs: DataFrame, cap: Int = PostingsCap): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("token"))
    val stats = tok.groupBy("token").agg(count(lit(1)).as("df"),
      min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
    val small = stats.where(col("df") <= cap).select("token")
    val posts = tok.join(small, Seq("token"), "left_semi")
      .groupBy("token")
      .agg(array_join(sort_array(collect_set(col("doc_id"))), ",").as("postings"))
    stats.join(posts, Seq("token"), "left")
      .select(col("token"), col("df"), col("min_doc"), col("max_doc"),
        col("postings"))
  }

  /** The WHOLE training-dataset assembly as ONE declarative plan — the
    * capstone composition of the stage operators, in production order:
    *
    *   1. exact dedup (min-doc_id per md5 content digest);
    *   2. token-count gate (n_tokens ∈ [minTokens, maxTokens]);
    *   3. deterministic train/val/test split ([[splitAssign]] buckets);
    *   4. decontamination — DROP train docs sharing a
    *      [[DecontamNgram]]-gram with any surviving test doc;
    *   5. per-source frequency cap ([[domainCap]] rank rule);
    *   6. concat-and-chunk packing of the surviving TRAIN docs
    *      ([[packSequences]] shard/offset rule);
    *   7. per-(split, source) summary: doc/token counts, membership-
    *      pinning id extremes/sums, and the packed-sequence count.
    *
    * Everything is exact cross-engine arithmetic (md5 digest, XXH64
    * buckets/ranks/shards, integer window sums), so the ENTIRE pipeline
    * runs under one DuckDB oracle — membership of every doc in every
    * stage is pinned by the summary's id sums. One XXH64 evaluation
    * serves stages 3, 5 and 6 (bucket, cap rank, pack shard are all
    * functions of hashLong(doc_id, 42)).
    *
    * Scale shape, stage by stage: one uniform digest shuffle (1); pure
    * projections (2, 3); a gram equi join against the test split's gram
    * set + a doc_id anti join (4 — AQE broadcasts both small sides here,
    * shuffle-joins at corpus scale); a per-source window whose shuffle is
    * bounded by the partial WindowGroupLimit (5); a (split, shard) window
    * (6 — partitioned by split AND shard so packing needs NO self-join
    * back onto the pipeline: Spark has no common-subplan elimination, and
    * a separate train-only packing branch re-evaluated the whole
    * dedup→decontam→cap chain twice; non-train rows ride the same window
    * spread across shards with their offsets simply unused, so no split
    * becomes a one-partition funnel); one tiny final aggregation (7).
    * The corpus itself flows through ONE linear chain; the only repeated
    * work is the two decontam side-inputs (the test-split gram set and
    * the contaminated-id set), each a lean re-scan of the deduped subtree
    * feeding a join's build side — bounded projections, not recomputes of
    * any later stage. Exchange count is pinned in DocsSpec.
    */
  def assembleDataset(docs: DataFrame,
                      minTokens: Int = PipelineMinTokens,
                      maxTokens: Int = PipelineMaxTokens): DataFrame = {
    val tagged = dedupExact(docs)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .where(col("n_tokens").between(minTokens, maxTokens))
      .withColumn("split", splitLabel(DefaultTrainPct, DefaultValPct))
      .withColumn("grams", graft.functions.Text.shingles(col("text"), DecontamNgram))
      .select("doc_id", "source", "n_tokens", "split", "grams")
    val benchGrams = tagged.where(col("split") === "test")
      .select(explode(col("grams")).as("gram")).distinct()
    val contaminated = tagged.where(col("split") === "train")
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(benchGrams, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    val kept = tagged.drop("grams")
      .join(contaminated.withColumnRenamed("doc_id", "bad_doc"),
        col("doc_id") === col("bad_doc"), "left_anti")
    val capped = kept.withColumn("rk", domainRank)
      .where(col("rk") <= DefaultDomainCap).drop("rk")
    val packW = Window.partitionBy(col("split"), col("shard")).orderBy(col("doc_id"))
    val startOff = sum(col("n_tokens")).over(packW) - col("n_tokens")
    capped.withColumn("shard", packShard(PackShards))
      .withColumn("seq_key",
        when(col("split") === "train",
          col("shard") * 1000000L + seqIndex(startOff, PackBudget)))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_sum"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
        sum("doc_id").as("doc_id_sum"),
        countDistinct(col("seq_key")).as("n_seqs"))
  }

  /** Chunking parameters for [[chunkDocs]] — window size and stride in
    * tokens (stride < size ⇒ overlapping windows, the RAG default).
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** RAG-style document chunking: fixed `size`-token windows every
    * `stride` tokens (overlapping when stride < size — the retrieval
    * default, so no answer span is split across a boundary without also
    * appearing whole in a neighbor). Distinct from [[packSequences]]:
    * packing concatenates ACROSS docs for training throughput; chunking
    * splits WITHIN a doc for retrieval granularity. Each chunk row carries
    * its token count and the md5 of its exact text (space-rejoined
    * tokens) — the content fingerprint an index stores — so the oracle
    * pins every chunk boundary AND its contents, not just counts. Pure
    * per-row projection + map-side explode: zero shuffles at any scale.
    */
  def chunkDocs(docs: DataFrame, size: Int = ChunkSize,
                stride: Int = ChunkStride): DataFrame = {
    require(size > 0 && stride > 0, "chunk size and stride must be positive")
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", org.apache.spark.sql.functions.size(col("toks")).cast("long"))
      .withColumn("chunk",
        explode(transform(
          sequence(lit(0), floor((col("n_tokens") - 1) / stride).cast("int")),
          i => struct(
            i.cast("long").as("chunk_idx"),
            least(col("n_tokens") - i.cast("long") * stride, lit(size.toLong)).as("chunk_tokens"),
            md5(concat_ws(" ", slice(col("toks"), i * stride + 1, lit(size))).cast("binary")).as("chunk_md5")))))
      .select(col("doc_id"), col("n_tokens"),
        col("chunk.chunk_idx").as("chunk_idx"),
        col("chunk.chunk_tokens").as("chunk_tokens"),
        col("chunk.chunk_md5").as("chunk_md5"))
  }

  /** Rarity rule for [[rareTokenRatio]]: a token is rare iff
    * df · RareInvFrac < n_docs (appears in under 1/RareInvFrac of all
    * docs) — integer cross-multiplication, exact in both engines.
    */
  val RareInvFrac = 10

  /** Rare-token ratio: per document, the fraction of token OCCURRENCES
    * whose corpus-wide document frequency is below 1/[[RareInvFrac]] of the
    * corpus. This is the integer-exact sibling of LM-perplexity quality
    * filtering (CCNet/Gopher): junk docs skew toward either all-stopwords
    * (ratio ~0 with tiny length) or gibberish (ratio ~1).
    *
    * Scale shape: deliberately NO rare-token broadcast — in a web corpus
    * the long tail (hapax legomena) IS most of the vocabulary, so the rare
    * set cannot broadcast. Instead per-doc term frequencies (map-side
    * partial agg) join corpus df on the token key, and the per-doc rollup
    * applies the rarity rule inline; a stopword's tf rows are skewed onto
    * one join key, but it's a JOIN (AQE skew-split applies), not an agg
    * funnel. All counts exact integers; the ratio is ONE int/int IEEE
    * division after aggregation — bit-identical cross-engine.
    *
    * Building the frame runs a Spark job: the tf frame is eagerly
    * localCheckpointed. Its blocks stay until the frame is unreachable and the
    * ContextCleaner drops them; `cacheManager.clearCache()` does not free them.
    */
  def rareTokenRatio(docs: DataFrame, invFrac: Int = RareInvFrac): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("token"))
    // tf feeds BOTH the df derivation and the join's left side;
    // un-materialized, the text explode + partial agg ran twice (r6 plan:
    // two Generate+Scan subtrees). The checkpointed frame is the deduped
    // (doc_id, token, tf) triple — smaller than the text it derives from
    // (guide §8: decide over the lightweight proxy, scan the text once).
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val dfTok = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfTok, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(when(col("df") * invFrac < col("n_docs"), col("tf"))
          .otherwise(lit(0L))).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        (col("n_rare") / col("n_tokens")).as("rare_ratio"))
  }

  /** Gopher-style within-document repetition scores (Rae et al. 2021
    * §A1.1, token-count variant of the character-fraction filters): per
    * doc, the n-gram totals / most-frequent-n-gram count / duplicated-
    * n-gram count for n ∈ {2, 5}, plus the two headline filter fractions
    * (top-2-gram fraction, duplicate-5-gram fraction). A boilerplate or
    * looping-generation document scores high and is gated out upstream of
    * training. Pure per-row projection (compiled Text.repStats kernel —
    * zero shuffles at any scale); counts are exact integers and each
    * fraction is ONE int/int IEEE division, so the DuckDB unnest→GROUP BY
    * twin is bit-identical.
    */
  def repetitionScores(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.Text.repStats(col("text")).as("__r"))
      .select(col("doc_id"),
        col("__r.tot2").as("tot2"), col("__r.top2").as("top2"), col("__r.dup2").as("dup2"),
        col("__r.tot5").as("tot5"), col("__r.top5").as("top5"), col("__r.dup5").as("dup5"))
      .withColumn("top2_frac",
        when(col("tot2") > 0, col("top2").cast("double") / col("tot2").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("dup5_frac",
        when(col("tot5") > 0, col("dup5").cast("double") / col("tot5").cast("double"))
          .otherwise(lit(0.0)))

  /** Document fingerprint: 64-bit polynomial rolling hash of the whole text
    * (base 31, wrapping long arithmetic), as a cheap order-sensitive content
    * id; plus winnowing-style k-gram min-hash per fixed-length block.
    * Compiled kernel — which also FIXES the expression formulation's latent
    * ANSI bug: under Spark 4 ANSI mode `acc * 31L` throws ARITHMETIC_OVERFLOW
    * for any text over 12 codepoints instead of wrapping (pinned in
    * TextKernelSpec against the test object HofTwins.fingerprint); the
    * kernel wraps as documented.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.Text.fingerprintWrap(col("text")).as("fingerprint"))

  /** Token counts: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / punctuation runs, each absorbing one
    * leading space — the GPT-2 pre-tokenizer shape without the contraction
    * special cases). The alternation branches are first-char disjoint, so
    * leftmost-first (Java) and RE2 (DuckDB) agree on every match.
    */
  val BpeishPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws"),
      size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))).cast("long").as("n_bpe"))

  /** Winnowing fingerprint summary (the MOSS scheme): hash every k-char
    * gram, take the minimum of each w-gram window, keep the distinct
    * minima — the standard near-dup fingerprint set whose size is
    * ~2/(w+1) of the grams. One compiled pass (Text.winnow); its HOF
    * formulation is the parity spec HofTwins.winnowSummary in the tests.
    * Summary per doc: distinct-fingerprint count and min/max fingerprint
    * (null when the text is shorter than k + w − 1).
    */
  def winnowSummary(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.Text.winnow(col("text"), k, w).as("__w"))
      .select(col("doc_id"), col("__w.n_fp").as("n_fp"),
        col("__w.min_fp").as("min_fp"), col("__w.max_fp").as("max_fp"))

  /** Oracle-expressible fingerprint twin: the same base-31 polynomial
    * rolling hash confined to Z_p (p = 1e9+7). The wrapping-Long production
    * variant above cannot run under the DuckDB gate (DuckDB BIGINT traps on
    * overflow where the JVM wraps); the mod-p variant pins identical
    * per-character fold mechanics exactly. acc < p ≈ 2^30, so
    * acc·31 + char < 2^36 — no overflow on either engine.
    */
  def fingerprintMod(docs: DataFrame, p: Long = 1000000007L): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.Text.fingerprintMod(col("text"), p).as("fingerprint_mod"))
}
