package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact dedup — the streaming twin of the batch
  * `q_dedup_exact`/`q_fingerprint` path: each document is keyed by its
  * whitespace-normalized content hash and deduplicated against every
  * document seen within the watermark horizon.
  *
  * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`) is the
  * 100 TB-safe choice: state holds one 128-bit key per distinct document
  * inside the horizon and is evicted as event time advances — bounded by
  * arrival rate × horizon, not by corpus size. Rows are emitted on first
  * arrival (append mode, no latency penalty); only later duplicates are
  * suppressed.
  */
object StreamDedup {

  /** Expects columns `text` (string) and `ts` (event-time timestamp);
    * passes every other column through. */
  def apply(docs: DataFrame, horizon: String = "10 seconds"): DataFrame =
    docs
      .withColumn("content_hash",
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))).cast("binary")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Signature-level streaming NEAR-dedup: the key is the 32-bit SimHash
    * over the document's distinct word set (same signature as the batch
    * `q_simhash`), so any rewording that preserves the majority bit vote —
    * word reorder, duplication, punctuation-only edits — collapses to one
    * survivor within the horizon. This is the Hamming-distance-0 prefilter;
    * the banded Hamming≤3 match stays a batch op (`Dedup.qSimhashPairs`) —
    * per-band voting would need a second stateful stage and give
    * per-band, not per-doc, drop decisions. State = one 32-bit key per
    * distinct signature inside the horizon: rate × horizon bounded.
    * A null text keys as 0 (no words, no set bit). */
  def nearBySimhash(docs: DataFrame, horizon: String = "10 seconds"): DataFrame =
    docs
      .withColumn("simhash", coalesce(graft.functions.Portable.simhash(col("text"), 32), lit(0L)))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("simhash")

  /** Stream-static incremental dedup — the streaming twin of the batch
    * `q_incr_dedup`: each arriving document's MinHash band keys (identical
    * bit-for-bit to the batch `q_minhash_bands` signatures) are probed
    * against the HISTORICAL corpus's band index, a static DataFrame such
    * as `Dedup.qMinhashBands`' output. A document matching ANY band is
    * dup-of-corpus and dropped; novel documents pass through unchanged.
    *
    * Scale shape: four chained stream-static LEFT ANTI joins — stateless
    * (no watermark, no state store; stream-static joins are re-planned
    * per micro-batch, so an index table appended to by a nightly batch
    * job is picked up without restarting the query). The index side is
    * broadcast here; past broadcast size the same joins become per-batch
    * shuffle hash joins on the band hash — either way no state grows with
    * corpus size, which is what makes this viable against a 100 TB
    * history where the watermark-horizon operators
    * ([[apply]]/[[nearBySimhash]]) can only see rate×horizon back.
    *
    * The signature is the same one-call-per-row kernel the batch side
    * signs with ([[graft.functions.Portable.minhashSig]]): a per-row map
    * keeps the stream stateless and costs the batch path's per-document
    * price, with no groupBy that an unbounded stream would have to hold
    * as state.
    */
  def againstIndex(docs: DataFrame, bandIndex: DataFrame): DataFrame = {
    val banded = (0 until 4).foldLeft(docs.withColumn("mh",
        graft.functions.Portable.minhashSig(col("text"), 3, 8))) { (df, b) =>
      df.withColumn(s"band$b",
        md5(concat_ws("_", col("mh").getItem(2 * b), col("mh").getItem(2 * b + 1))
          .cast("binary")))
    }
    (0 until 4).foldLeft(banded) { (df, b) =>
      df.join(
        broadcast(bandIndex.select(col(s"band$b").as(s"hist_b$b")).distinct()),
        col(s"band$b") === col(s"hist_b$b"), "left_anti")
    }.drop("mh" +: (0 until 4).map(b => s"band$b"): _*)
  }
}
