package graft

/** DuckDB SQL twins of Spark's `xxhash64` (XXH64, seed 42) — the machinery
  * that flips the four production-hash queries (doc_minhash, doc_simhash,
  * doc_jaccard, emb_lsh) from rows-only to exact-oracle.
  *
  * XXH64 is a fixed public rotate/multiply/xor chain over bytes
  * (Collet's spec; Spark's o.a.s.sql.catalyst.expressions.XXH64). All
  * arithmetic is mod 2^64, built here in DuckDB HUGEINT:
  *   - multiply-by-constant splits into 32-bit halves so no intermediate
  *     exceeds HUGEINT range: (x·c) mod 2^64 =
  *     (xl·cl + ((xh·cl + xl·ch) mod 2^32)·2^32) mod 2^64
  *   - rotl(x,r) = (x mod 2^(64−r))·2^r + x div 2^(64−r)
  *   - xor() works on HUGEINT natively; shifts are div by 2^n.
  * Every multiplication in XXH64 is by a constant prime, so the
  * constant-multiplier form covers all of it.
  *
  * Expression-blowup discipline (the s2CellCtes lesson, CLAUDE.md): a fully
  * inlined hashLong references its input ~2600×, so each hash application
  * is emitted as a short chain of MATERIALIZED CTEs (each stage references
  * the previous stage's COLUMN a bounded number of times).
  *
  * Byte access: the documents corpus is pure printable ASCII (pinned by
  * CorpusAssumptionsSpec), so `ord(substr(tok,i,1))` is the UTF-8 byte and
  * `len` is the byte length. Tokens ≥ 32 bytes would need XXH64's 4-lane
  * stripe loop, which this twin deliberately omits: the hash CTE yields
  * NULL for them, so a corpus that ever grows such a token breaks the gate
  * VISIBLY instead of silently diverging (max token length in the corpus
  * is 8; also pinned).
  */
object OracleXxh {

  private val B64lit = "18446744073709551616::HUGEINT"
  private val P1 = BigInt("9E3779B185EBCA87", 16)
  private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val P3 = BigInt("165667B19E3779F9", 16)
  private val P4 = BigInt("85EBCA77C2B2AE63", 16)
  private val P5 = BigInt("27D4EB2F165667C5", 16)

  private def hlit(v: BigInt): String = s"$v::HUGEINT"

  /** (x · c) mod 2^64 for HUGEINT expr x in [0, 2^64) and 64-bit const c. */
  private def mulc(x: String, c: BigInt): String = {
    val chi = c >> 32
    val clo = c & 0xffffffffL
    s"((($x) % 4294967296) * $clo + (((($x) // 4294967296) * $clo + " +
      s"(($x) % 4294967296) * $chi) % 4294967296) * 4294967296) % $B64lit"
  }

  private def rotl(x: String, r: Int): String = {
    val lo = BigInt(1) << r
    val hi = BigInt(1) << (64 - r)
    s"((($x) % ${hlit(hi)}) * ${hlit(lo)} + ($x) // ${hlit(hi)})"
  }

  private def xorS(a: String, b: String): String = s"xor(($a)::HUGEINT, ($b)::HUGEINT)"
  private def addm(a: String, b: String): String = s"(($a) + ($b)) % $B64lit"
  private def shr(x: String, n: Int): String = s"(($x) // ${hlit(BigInt(1) << n)})"

  /** Unsigned 64-bit HUGEINT pattern → signed BIGINT (two's complement). */
  def toSigned(u: String): String =
    s"CAST(CASE WHEN ($u) >= 9223372036854775808::HUGEINT " +
      s"THEN ($u) - $B64lit ELSE ($u) END AS BIGINT)"

  /** Signed 64-bit value → unsigned HUGEINT bit pattern. */
  def toUnsigned(s: String): String =
    s"(CASE WHEN ($s) < 0 THEN ($s)::HUGEINT + $B64lit ELSE ($s)::HUGEINT END)"

  /** CTE chain for XXH64.hashLong(x, seed): `prefix`_a.._d plus
    * `prefix`_out(cols…, h). `x`/`seed` are HUGEINT exprs over `src`'s
    * columns; h is the unsigned result pattern.
    */
  def hashLongCtes(prefix: String, src: String, cols: Seq[String],
                   x: String, seed: String): String = {
    val cs = cols.mkString(", ")
    val k = mulc(rotl(mulc(x, P2), 31), P1)
    val h1 = addm(mulc(rotl(xorS("hs", "k"), 27), P1), P4.toString)
    val f1 = mulc(xorS("h1", shr("h1", 33)), P2)
    val f2 = mulc(xorS("f1", shr("f1", 29)), P3)
    val out = xorS("f2", shr("f2", 32))
    s"""${prefix}_a AS MATERIALIZED (SELECT $cs, ($k) AS k, (${addm(seed, (P5 + 8).toString)}) AS hs FROM $src),
       |${prefix}_b AS MATERIALIZED (SELECT $cs, ($h1) AS h1 FROM ${prefix}_a),
       |${prefix}_c AS MATERIALIZED (SELECT $cs, ($f1) AS f1 FROM ${prefix}_b),
       |${prefix}_d AS MATERIALIZED (SELECT $cs, ($f2) AS f2 FROM ${prefix}_c),
       |${prefix}_out AS MATERIALIZED (SELECT $cs, ($out) AS h FROM ${prefix}_d)""".stripMargin
  }

  private def le64(bs: String, off: Int): String =
    (0 until 8).map(j => s"($bs[${off + j + 1}])::HUGEINT * ${hlit(BigInt(1) << (8 * j))}")
      .mkString("(", " + ", ")")

  private def le32(bs: String, offExpr: String): String =
    (0 until 4).map(j => s"($bs[($offExpr)+${j + 1}])::HUGEINT * ${1L << (8 * j)}")
      .mkString("(", " + ", ")")

  /** CTE chain for XXH64 over a byte-list column `bs` with length `n` < 32
    * (the full tail path: up to three 8-byte words, one 4-byte word, up to
    * three trailing bytes, avalanche). Ends at `prefix`_out(cols…, h);
    * h IS NULL when n ≥ 32 (visible-failure sentinel, see header).
    */
  def hashBytesCtes(prefix: String, src: String, cols: Seq[String],
                    bs: String, n: String, seed: String): String = {
    val cs = cols.mkString(", ")
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    val words = (0 until 3).map { j =>
      s"CASE WHEN ($n) // 8 > $j AND ($n) < 32 THEN ${le64(bs, 8 * j)} END AS w$j"
    }
    ctes += s"""${prefix}_s0 AS MATERIALIZED (SELECT $cs, ($bs) AS bsx, ($n) AS n, ($n) // 8 AS nw,
       |  (${addm(addm(seed, P5.toString), n)}) AS h0,
       |  ${words.mkString(",\n  ")},
       |  CASE WHEN ($n) % 8 >= 4 THEN ${le32(bs, s"(($n)//8)*8")} END AS w4 FROM $src)""".stripMargin
    var cur = s"${prefix}_s0"
    var h = "h0"
    for (j <- 0 until 3) {
      val k = mulc(rotl(mulc(s"w$j", P2), 31), P1)
      ctes += s"${prefix}_w${j}a AS MATERIALIZED (SELECT *, CASE WHEN w$j IS NOT NULL THEN ($k) END AS k$j FROM $cur)"
      val step = addm(mulc(rotl(xorS(h, s"k$j"), 27), P1), P4.toString)
      ctes += s"${prefix}_w${j}b AS MATERIALIZED (SELECT *, CASE WHEN w$j IS NOT NULL THEN ($step) ELSE $h END AS h${j + 1} FROM ${prefix}_w${j}a)"
      cur = s"${prefix}_w${j}b"
      h = s"h${j + 1}"
    }
    val step4 = addm(mulc(rotl(xorS(h, mulc("w4", P1)), 23), P2), P3.toString)
    ctes += s"${prefix}_f4 AS MATERIALIZED (SELECT *, CASE WHEN w4 IS NOT NULL THEN ($step4) ELSE $h END AS h4b, " +
      s"nw*8 + CASE WHEN n % 8 >= 4 THEN 4 ELSE 0 END AS ts FROM $cur)"
    cur = s"${prefix}_f4"
    h = "h4b"
    for (j <- 0 until 3) {
      val b = s"(bsx[ts+${j + 1}])::HUGEINT"
      val step = mulc(rotl(xorS(h, mulc(b, P5)), 11), P1)
      ctes += s"${prefix}_t$j AS MATERIALIZED (SELECT *, CASE WHEN ts+$j < n THEN ($step) ELSE $h END AS ht$j FROM $cur)"
      cur = s"${prefix}_t$j"
      h = s"ht$j"
    }
    val f1 = mulc(xorS(h, shr(h, 33)), P2)
    ctes += s"${prefix}_av1 AS MATERIALIZED (SELECT *, ($f1) AS af1 FROM $cur)"
    val f2 = mulc(xorS("af1", shr("af1", 29)), P3)
    ctes += s"${prefix}_av2 AS MATERIALIZED (SELECT *, ($f2) AS af2 FROM ${prefix}_av1)"
    val out = xorS("af2", shr("af2", 32))
    ctes += s"${prefix}_out AS MATERIALIZED (SELECT $cs, CASE WHEN n < 32 THEN ($out) END AS h FROM ${prefix}_av2)"
    ctes.mkString(",\n")
  }

  /** Shared front end over `documents`: whitespace tokens (array per doc),
    * distinct-token XXH64(bytes, 42) at `xth_out(tok, h)`, plus per-doc
    * indexed token-hash rows `xh(doc_id, idx, h)` and token counts
    * `xnt(doc_id, nt)`. Tokenization matches the kernels' whitespace scan
    * (corpus is single-space-separated printable ASCII — pinned).
    */
  val tokenHashCtes: String = {
    val bytes = hashBytesCtes("xth", "xdb", Seq("tok"), "bs", "n", "42")
    s"""xtk AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []
       |    ELSE regexp_split_to_array(trim(text), '\\s+') END AS arr FROM documents
       |),
       |xdt AS MATERIALIZED (SELECT DISTINCT unnest(arr) AS tok FROM xtk),
       |xdb AS MATERIALIZED (SELECT tok,
       |  list_transform(range(1, len(tok) + 1), i -> ord(substr(tok, i, 1))) AS bs,
       |  len(tok) AS n FROM xdt),
       |$bytes,
       |xti AS (SELECT doc_id, arr, CAST(unnest(range(1, len(arr) + 1)) AS INT) AS idx FROM xtk),
       |xtj AS MATERIALIZED (SELECT doc_id, idx, arr[idx] AS tok FROM xti),
       |xh AS MATERIALIZED (SELECT t.doc_id, t.idx, d.h FROM xtj t JOIN xth_out d USING (tok)),
       |xnt AS MATERIALIZED (SELECT doc_id, len(arr) AS nt FROM xtk)""".stripMargin
  }

  /** Twin of Docs.simHash (doc_simhash): per-token-occurrence XXH64, ±1
    * sign-sum per bit over all 64 bits, positive counters packed; empty
    * docs pack to 0.
    */
  val simHashXxSql: String = {
    val powList = (0 until 64).map(b => hlit(BigInt(1) << b)).mkString("[", ", ", "]")
    s"""WITH $tokenHashCtes,
       |pw AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS b, unnest($powList) AS p),
       |cnt AS MATERIALIZED (
       |  SELECT t.doc_id, pw.b, pw.p,
       |    sum(CASE WHEN (t.h // pw.p) % 2 = 1 THEN 1 ELSE -1 END) AS c
       |  FROM xh t CROSS JOIN pw GROUP BY 1, 2, 3
       |),
       |pack AS (
       |  SELECT doc_id, sum(CASE WHEN c > 0 THEN p ELSE 0::HUGEINT END) AS u
       |  FROM cnt GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(${toSigned("k.u")}, 0) AS simhash
       |FROM documents d LEFT JOIN pack k ON d.doc_id = k.doc_id""".stripMargin
  }

  /** CTE chain from [[tokenHashCtes]] to the LSH `ok(doc_id, band_idx,
    * band_hash)` relation of the PRODUCTION minhash pipeline
    * (MinHashImpl.signature + Docs.minHashCandidates): 3-token shingle
    * hash chains (hashLong ×3 from seed 42), HashSet-dedup per doc, the
    * <3-token pseudo-shingle fold, 16 seeded permutations (hashLong), the
    * per-seed SIGNED min, 4 bands of 4 signature elements hashed by
    * Spark's array-fold xxhash64 (hashLong chain from seed 42), and the
    * ≤`maxBucket` bucket cap.
    */
  def minhashOkCtes(maxBucket: Int): String = {
    val c1 = hashLongCtes("xc1", "x3", Seq("doc_id", "h2", "h3"), "h1", "42")
    val c2 = hashLongCtes("xc2", "xc1_out", Seq("doc_id", "h3"), "h2", "h")
    val c3 = hashLongCtes("xc3", "xc2_out", Seq("doc_id"), "h3", "h")
    // <3-token docs: pseudo-shingle = fold of the available token hashes
    val p1 = hashLongCtes("xp1", "xlt", Seq("doc_id", "h1", "h2"),
      "coalesce(h1, 0::HUGEINT)", "42")
    val p2 = hashLongCtes("xp2", "xps1", Seq("doc_id", "h2", "e1"),
      "coalesce(h2, 0::HUGEINT)", "e1")
    val perm = hashLongCtes("xph", "xpm", Seq("doc_id", "s"), "h0", "s")
    // bands: fold hashLong over the 4 signature elements, running seed 42
    val b1 = hashLongCtes("xb1", "xbr", Seq("doc_id", "band_idx", "e2", "e3", "e4"), "e1", "42")
    val b2 = hashLongCtes("xb2", "xb1_out", Seq("doc_id", "band_idx", "e3", "e4"), "e2", "h")
    val b3 = hashLongCtes("xb3", "xb2_out", Seq("doc_id", "band_idx", "e4"), "e3", "h")
    val b4 = hashLongCtes("xb4", "xb3_out", Seq("doc_id", "band_idx"), "e4", "h")
    val sigPivot = (0 until 16).map(s => s"max(CASE WHEN s = $s THEN u END) AS u$s").mkString(", ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, u${4 * b} AS e1, u${4 * b + 1} AS e2, " +
        s"u${4 * b + 2} AS e3, u${4 * b + 3} AS e4 FROM xsp").mkString("\n  UNION ALL\n  ")
    s"""$tokenHashCtes,
       |x3 AS MATERIALIZED (
       |  SELECT a.doc_id, a.h AS h1, b.h AS h2, c.h AS h3
       |  FROM xh a
       |  JOIN xh b ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
       |  JOIN xh c ON c.doc_id = a.doc_id AND c.idx = a.idx + 2
       |),
       |$c1,
       |$c2,
       |$c3,
       |xlt AS MATERIALIZED (
       |  SELECT n.doc_id, t1.h AS h1, t2.h AS h2
       |  FROM xnt n
       |  LEFT JOIN xh t1 ON t1.doc_id = n.doc_id AND t1.idx = 1
       |  LEFT JOIN xh t2 ON t2.doc_id = n.doc_id AND t2.idx = 2
       |  WHERE n.nt < 3
       |),
       |$p1,
       |xps1 AS (SELECT doc_id, h2, CASE WHEN h1 IS NULL THEN 42::HUGEINT ELSE h END AS e1 FROM xp1_out),
       |$p2,
       |xps2 AS (SELECT doc_id, CASE WHEN h2 IS NULL THEN e1 ELSE h END AS h0 FROM xp2_out),
       |xsh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, h FROM (
       |    SELECT doc_id, h FROM xc3_out
       |    UNION ALL SELECT doc_id, h0 AS h FROM xps2)
       |),
       |xpm AS (SELECT doc_id, h AS h0, CAST(unnest(range(0, 16)) AS HUGEINT) AS s FROM xsh),
       |$perm,
       |xsig AS MATERIALIZED (
       |  SELECT doc_id, s, min(${toSigned("h")}) AS m FROM xph_out GROUP BY doc_id, s
       |),
       |xsigu AS (SELECT doc_id, s, ${toUnsigned("m")} AS u FROM xsig),
       |xsp AS MATERIALIZED (SELECT doc_id, $sigPivot FROM xsigu GROUP BY doc_id),
       |xbr AS MATERIALIZED (
       |  $bandRows
       |),
       |$b1,
       |$b2,
       |$b3,
       |$b4,
       |xband AS MATERIALIZED (SELECT doc_id, band_idx, h AS band_hash FROM xb4_out),
       |xsizes AS (SELECT band_idx, band_hash, count(*) AS bn FROM xband GROUP BY 1, 2),
       |ok AS (
       |  SELECT b.doc_id, b.band_idx, b.band_hash
       |  FROM xband b JOIN xsizes s2 ON b.band_idx = s2.band_idx AND b.band_hash = s2.band_hash
       |  WHERE s2.bn <= $maxBucket
       |)""".stripMargin
  }

  /** Twin of doc_minhash: distinct candidate pairs of the production
    * xxhash64 minhash→band→bucket→pair pipeline.
    */
  val docMinhashSql: String =
    s"""WITH ${minhashOkCtes(10000)}
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM ok a JOIN ok b
       |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id""".stripMargin

  /** Twin of doc_jaccard: the production-minhash candidate pairs verified
    * with exact 3-gram string-shingle Jaccard (raw single-division double,
    * same as doc_jaccard_exact).
    */
  val docJaccardSql: String =
    s"""WITH ${minhashOkCtes(10000)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ok a JOIN ok b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
       |),
       |shs AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(arr) >= 3
       |      THEN list_transform(range(1, len(arr) - 1), i -> array_to_string(list_slice(arr, i, i + 2), ' '))
       |      ELSE [] END) AS s
       |  FROM xtk
       |)
       |SELECT c.doc_a, c.doc_b,
       |  CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
       |       THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |            / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
       |       ELSE 0e0 END AS jaccard
       |FROM cand c
       |JOIN shs sa ON c.doc_a = sa.doc_id
       |JOIN shs sb ON c.doc_b = sb.doc_id""".stripMargin

  /** Twin of emb_lsh: OR-amplified multi-table hyperplane LSH. The LCG
    * plane values are computed by the SAME Scala generator the Spark plan
    * embeds as literals (Similarity.lcgPlanes) and emitted here as exact
    * round-trip decimal strings — no RNG on the SQL side. Buckets are
    * signed-bit sums identical to planeSignature; candidates collide when
    * ANY table's bucket matches; rerank is the shared exact-fold cosine.
    */
  def embLshSql(dim: Int, bits: Int, tables: Int, k: Int, queryMod: Int): String = {
    def planeLit(v: Seq[Double]): String =
      v.map(x => s"'$x'::DOUBLE").mkString("[", ", ", "]")
    val bucketCols = (0 until tables).map { t =>
      val planes = graft.operators.Similarity.lcgPlanes(dim, bits, t.toLong)
      val terms = planes.zipWithIndex.map { case (p, b) =>
        s"(CASE WHEN ${OracleSql.dotLitSql("embedding", planeLit(p))} > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"    ($terms) AS bk$t"
    }.mkString(",\n")
    val collide = (0 until tables).map(t => s"s.bk$t = q.bk$t").mkString(" OR ")
    val qcos =
      s"(${OracleSql.foldSumSql("list_transform(range(1, len(c.embedding) + 1), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.q_emb[i] AS DOUBLE))")} " +
        s"/ (sqrt(${OracleSql.normSqSql("c.embedding")}) * sqrt(${OracleSql.normSqSql("c.q_emb")})))"
    s"""WITH sig AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |$bucketCols
       |  FROM embeddings
       |),
       |q AS (SELECT * EXCLUDE (embedding), embedding AS q_emb FROM sig WHERE vec_id % $queryMod = 0),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT q.vec_id AS query_id, s.vec_id, s.embedding, q.q_emb
       |  FROM q JOIN sig s ON ($collide)
       |  WHERE s.vec_id <> q.vec_id
       |),
       |scored AS (SELECT c.query_id, c.vec_id, $qcos AS cosine FROM cand c)
       |SELECT query_id, vec_id, rank FROM (
       |  SELECT query_id, vec_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM scored) t WHERE rank <= $k""".stripMargin
  }
}
