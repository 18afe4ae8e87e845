package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{TextScreen, TextSigStore}

/** The STREAMING twin of [[TextScreen.screenAndAppend]] — the text
  * counterpart of [[ScreenedIngest]] and the streaming form of the
  * reference's update cycle applied to documents (ingest → check new
  * content against what is indexed → store only the survivors,
  * `updater/extraction_checker.py:225-258`). Each micro-batch of
  * `(doc_id, text)` rows is screened against the [[TextSigStore]]'s
  * CURRENT state — the persisted signature table for band candidates,
  * the store's own text side ([[TextSigStore.textStore]]) for exact
  * jaccard verification — so a near-duplicate arriving hours after its
  * original, in a different micro-batch, is still dropped.
  *
  * Idempotence mirrors the embedding loop, all at-least-once safe:
  *   - the update id derives from the micro-batch id; a checkpoint
  *     replay is refused by the watermark BEFORE any screen work runs
  *     (a replayed screen would otherwise see the batch's own
  *     signatures already indexed and flag every row against itself);
  *   - survivor texts write one directory per update id with overwrite
  *     (texts-then-sigs — the vectors-then-codes commit order), so a
  *     crash between the text write and the signature append replays
  *     cleanly: the orphaned text dir is invisible (uid > tip) and the
  *     replay rewrites identical bytes;
  *   - the signature append itself is refused at or below the tip.
  *
  * The store must be seeded self-contained
  * ([[TextSigStore.build]] `storeTexts = true`) — the stream maintains
  * both sides from then on, LSM-compacting each once enough update
  * directories pile up. */
object ScreenedTextIngest {

  /** Start the screened text maintenance query. `source` must be a
    * STREAMING DataFrame carrying `doc_id` and `text`; ids must be
    * globally unique across the stream's lifetime (content hashes, like
    * the reference's sha1s). */
  def maintain(spark: SparkSession, storeDir: String, source: DataFrame,
      checkpoint: String, updatePrefix: String = "stream",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.col
        // a replayed id is refused by screenAndAppend's first statement,
        // before any screen work
        val b = df.select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          TextScreen.screenAndAppend(spark, storeDir,
            TextSigStore.textStore(spark, storeDir), b,
            f"${updatePrefix}_$batchId%019d", storeTexts = true)
          ()
        } finally { b.unpersist(); () }
      }
      .trigger(trigger)
      .start()
}
