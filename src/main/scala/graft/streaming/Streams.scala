package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming façade over the batch operators (SURVEY.md §2 I):
  * the reference is batch-only, but its minute resample (G1) is exactly a
  * tumbling event-time window, and visit sessionization (W2-W4) is a
  * cid-change session window — both expressible natively.
  *
  * Scale notes: watermarked windowed aggregation state is bounded by
  * (users × watermark horizon); sessionization state is one open visit per
  * user. Late data beyond the watermark is dropped (re-emission upserts
  * into the sink table would reconcile, per the checkpoint/resume posture).
  */
object Streams {

  /** G1 as a streaming tumbling window: per (user, minute) mean coordinates.
    * Input: streaming DataFrame with (user_id, ts, lat, lon).
    */
  def resampleMinutes(stream: DataFrame, watermark: String = "10 minutes"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), "1 minute"))
      .agg(avg("lat").as("lat"), avg("lon").as("lon"), count(lit(1)).as("n_points"))
      .select(col("user_id"), col("window.start").as("ts"), col("lat"), col("lon"), col("n_points"))

  /** Streaming exact dedup over a document stream: drop repeats of the same
    * content digest within the watermark horizon. State is one row per
    * distinct digest inside the horizon and is evicted as the watermark
    * advances — the streaming face of the batch exact-dedup operator
    * (Docs.dedupExact); cross-horizon repeats re-emit and are reconciled by
    * the idempotent sink upsert, same posture as the resample sink.
    */
  def dedupDocs(stream: DataFrame, watermark: String = "10 minutes"): DataFrame =
    stream
      .withColumn("text_hash", md5(col("text").cast("binary")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming NEAR-dup drop: the batch minhash→band→bucket pipeline
    * (Docs.minHashSignature / minHashCandidates) as a within-watermark
    * stream filter. Each doc's 16-permutation signature splits into `bands`
    * band hashes; a doc sharing ≥1 band bucket with an earlier in-horizon
    * doc is a near-dup candidate and is dropped.
    *
    * Mechanics: explode to (doc, band) rows → dropDuplicatesWithinWatermark
    * on (band_idx, band_hash) keeps only each bucket's FIRST row → a
    * windowed per-doc re-count: a doc that was first in ALL `bands` buckets
    * survives; any collision removed ≥1 of its rows → dropped. Chaining the
    * dedup state into a watermarked window aggregation is append-mode legal
    * (Spark's multiple-stateful-operator support); state is one row per
    * distinct in-horizon band bucket plus the open windows — bounded by the
    * watermark horizon, same posture as [[dedupDocs]]. Bucket state evicts
    * as the watermark passes, so a near-dup beyond the horizon re-emits and
    * is reconciled by the idempotent sink upsert, exactly like the batch
    * operator re-run on a later partition.
    *
    * Input: streaming DataFrame with (doc_id, ts, text). Output: kept docs
    * as (doc_id, ts = window start, text), emitted on window close.
    *
    * Survivor selection differs from batch BY DESIGN: the stream keeps each
    * bucket's ARRIVAL-first doc, while the batch pipeline
    * (Docs + Components) keeps each connected component's min-doc_id
    * representative. When arrival order follows doc_id and every cluster
    * member collides directly with its cluster's min doc (true duplicates
    * share all bands), the kept sets coincide (pinned in StreamsSpec);
    * out-of-order arrival, or clusters connected only through a transitive
    * path via a LATER doc, select different survivors. Downstream
    * reconciliation against a batch re-run must therefore key on cluster
    * membership, not on which doc_id survived.
    */
  def nearDedupDocs(stream: DataFrame, bands: Int = 4,
                    watermark: String = "10 minutes",
                    window_ : String = "1 minute"): DataFrame = {
    // the batch banding (Docs.bandHashes): the signature is computed once
    // per row and split into `bands` explicit band-hash columns
    val banded = stream
      .select(col("doc_id"), col("ts"), col("text"),
        graft.functions.MinHashSigExpr(col("text")).as("signature"))
      .select(col("doc_id"), col("ts"), col("text"),
        posexplode(graft.operators.Docs.bandHashes(col("signature"), bands))
          .as(Seq("band_idx", "band_hash")))
      // the text payload rides ONLY the band-0 row (not ×bands through the
      // shuffle): a kept doc by definition kept ALL its band rows, so its
      // band-0 text always reaches the regroup; a doc that lost any row is
      // filtered out regardless of which row carried the text
      .withColumn("text", when(col("band_idx") === 0, col("text")))
    banded
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("band_idx", "band_hash")
      .groupBy(window(col("ts"), window_), col("doc_id"))
      .agg(count(lit(1)).as("bands_won"), first(col("text"), ignoreNulls = true).as("text"))
      .where(col("bands_won") === bands)
      .select(col("doc_id"), col("window.start").as("ts"), col("text"))
  }

  case class StreamPoint(user_id: Long, ts: Timestamp, lat: Double, lon: Double, cid: String)
  case class OpenVisit(cid: String, timeIn: Long, timeOut: Long, nPoints: Long)
  case class Visit(user_id: Long, cid: String, time_in: Timestamp, time_out: Timestamp, n_points: Long)

  /** W2/W3 as streaming state: per user, an open visit that closes when the
    * cid changes (emitting the collapsed visit) or the group times out.
    * One small state object per user — bounded, skew-free state.
    */
  def sessionize(points: Dataset[StreamPoint]): Dataset[Visit] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[StreamPoint], state: GroupState[OpenVisit]) => {
          val out = scala.collection.mutable.ArrayBuffer.empty[Visit]
          var cur = state.getOption
          rows.toSeq.sortBy(_.ts.getTime).foreach { p =>
            cur match {
              case Some(v) if v.cid == p.cid =>
                cur = Some(v.copy(timeOut = math.max(v.timeOut, p.ts.getTime), nPoints = v.nPoints + 1))
              case Some(v) =>
                out += Visit(user, v.cid, new Timestamp(v.timeIn), new Timestamp(v.timeOut), v.nPoints)
                cur = Some(OpenVisit(p.cid, p.ts.getTime, p.ts.getTime, 1))
              case None =>
                cur = Some(OpenVisit(p.cid, p.ts.getTime, p.ts.getTime, 1))
            }
          }
          cur.foreach(state.update)
          out.iterator
        })
  }
}
