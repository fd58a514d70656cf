package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streamed crawl-dedup loop — dedup-BEFORE-index, micro-batch by
  * micro-batch: each incoming batch is verdicted against the landed
  * signature index (everything crawled before it), then lands its OWN
  * signature rows as a delta generation so later batches can match it.
  * This is the production shape of continuous corpus construction: the
  * crawl never stops, the index never rebuilds, and every document is
  * checked against the full history at batch cost.
  *
  * Index rows are [[graft.operators.Dedup.signatureRows]] — (doc_id,
  * mh0..mh7, band_id, bhash), ~100 bytes/doc — landed under
  * [[DeltaCompact]]'s protocol (`batch=<id>` deltas, overwrite-
  * idempotent), folded by [[compactIndex]] at maintenance cadence, and
  * deletable via [[DeltaCompact.landTombstones]] (a taken-down document
  * must stop matching future crawls — the tombstone anti-join removes
  * its signatures from every subsequent serve, and the next fold
  * removes them physically).
  *
  * ALL batch rows index, flagged or not: a later near-dup of a FLAGGED
  * document must still match it (the cluster's representative is a
  * downstream keep-best decision, not an index-membership one).
  *
  * Scale shape per batch: signing is a narrow map over the BATCH (one
  * codegen'd signature call per document); the serve join's corpus
  * side is the signature index (never corpus text); the delta write is one
  * band-partitioned exchange of batch-sized rows. History is re-touched
  * only by the fold, at cadence. */
object StreamNeardupIngest {

  /** One crawl micro-batch: verdict `batch` (doc_id, text) against the
    * index as of the batches BEFORE it, and land the batch's signature
    * delta. Returns the verdicts (doc_id, dup_of, est_jaccard), one row
    * per flagged incoming doc. The verdicts are MATERIALIZED (eager
    * checkpoint) from a plan whose index view is CAPTURED before the
    * batch's own delta publishes — [[readIndex]] lists the committed
    * base + delta directories eagerly at construction, and
    * [[landSignatureDelta]] publishes a NEW `batch=<id>` directory by
    * atomic rename — so the serve can never match the batch against
    * itself. That independence is also why the two actions OVERLAP from
    * driver threads (guide §2.6; r17 — was a serial checkpoint → land
    * chain paying two per-action floors per crawl batch): the serve
    * plan reads only pre-captured directories, the landing writes only
    * the new one. */
  def ingestStep(batch: DataFrame, idxDir: String, batchId: Long): DataFrame = {
    val s = batch.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val hasIndex = DeltaCompact.readManifest(idxDir, conf).nonEmpty ||
      DeltaCompact.listDeltaBatches(idxDir, conf).nonEmpty
    if (!hasIndex) {
      // first batch ever: nothing can precede it — empty verdict frame
      // in the serve schema
      val verdicts = batch.select(col("doc_id"), col("doc_id").as("dup_of"),
        lit(0d).as("est_jaccard")).limit(0).localCheckpoint()
      landSignatureDelta(batch, idxDir, batchId)
      verdicts
    } else {
      // construct the serve plan (captures the index view) BEFORE the
      // landing leg starts, then run both actions concurrently
      val serve = graft.operators.Dedup.neardupServeIndex(readIndex(s, idxDir), batch)
      graft.operators.Par.run[AnyRef](
        () => serve.localCheckpoint(),
        () => { landSignatureDelta(batch, idxDir, batchId); null }
      ).head.asInstanceOf[DataFrame]
    }
  }

  /** Land one batch's signature rows as a delta: plain parquet files
    * sorted by (shard_id, bhash) with `shard_id = band_id` carried as an
    * int DATA column (typed exactly as the folded base's
    * partition-directory column reads back), overwrite-idempotent
    * `batch=<id>` directory.
    *
    * Round 16 (optimization): deltas used to land band-PARTITIONED like
    * the base (`repartition(shard_id)` + `partitionBy`) — a per-batch
    * exchange plus the dynamic-partition committer for rows no serve
    * ever prunes by directory ([[readIndex]] drops `shard_id`
    * unfiltered). The same rationale as
    * [[StreamLshIngest.landPostingsDelta]]'s r16 change — except that
    * here NO reader directory-prunes the tree at all, so
    * [[compactIndex]]'s fold ALSO writes plain shard-clustered files
    * (`shardDirs = false`): deltas and the folded base share the flat
    * layout, and within each file the (shard_id, bhash) sort keeps
    * row-group min/max stats effective. */
  def landSignatureDelta(batch: DataFrame, idxDir: String, batchId: Long): String =
    DeltaCompact.atomicLandDir(s"$idxDir/batch=$batchId",
      batch.sparkSession.sparkContext.hadoopConfiguration) { staging =>
      graft.operators.Dedup.signatureRows(batch)
        .withColumn("shard_id", col("band_id").cast("int"))
        .sortWithinPartitions("shard_id", "bhash")
        .write.mode("overwrite").parquet(staging)
    }

  /** The signature index as of now: committed base + unfolded deltas,
    * minus tombstoned doc_ids — deleted documents stop matching the
    * moment their tombstone lands. */
  def readIndex(s: SparkSession, idxDir: String): DataFrame =
    DeltaCompact.readCorpusLive(s, idxDir, keyCol = "doc_id").drop("shard_id")

  /** Generation fold for the signature index — a PLAIN union-repartition
    * fold (signature rows are pure per-doc expansions, so the fold is
    * verdict-transparent: serve pre-fold ≡ serve post-fold), with
    * tombstones applied physically. */
  def compactIndex(s: SparkSession, idxDir: String): DeltaCompact.Manifest =
    DeltaCompact.compact(s, idxDir,
      // shard_id is band_id (4 distinct values), so the shard hash caps
      // the exchange at [[graft.operators.Dedup.NeardupShards]] non-empty
      // partitions regardless of this width
      numShards = graft.operators.Dedup.NeardupShards,
      sortCols = Seq("bhash"), tombstoneKey = Some("doc_id"),
      // plain shard-clustered files (r16): no reader prunes on shard_id
      // directories — [[readIndex]] drops the column unfiltered — so the
      // 4-way dynamic-partition fan-out was pure writer/commit overhead;
      // the (shard_id, bhash) sort keeps row-group stats effective
      shardDirs = false)
}
