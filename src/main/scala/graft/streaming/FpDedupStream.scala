package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.operators.Dedup.FingerprintIndex

/** Streaming incremental EXACT dedup against the durable fingerprint
  * index — the arrival-time twin of `d12_dedup_fp_index`, and the
  * unbounded-history escalation of [[Curate]]'s
  * `dropDuplicatesWithinWatermark` stage: watermark state answers "seen
  * within the window?", this stream answers "seen EVER?" while holding
  * only the content-sized distinct-fingerprint set (one 32-byte md5 per
  * distinct document) — never per-key state-store entries rewritten every
  * commit.
  *
  * Semantics match the batch operator exactly: a doc is kept iff its
  * fingerprint is absent from everything that came before (corpus AND
  * stream history) and it is the first (min id) within its micro-batch.
  * The micro-batch loop — WAL-before-side-effects, engine-replay
  * recognition, batch-id rebase, compaction cadence, layer-release
  * grace — is [[DedupLoop]], shared with [[NearDupStream]],
  * [[SemDedupStream]], [[WinnowStream]] and [[SubstringStream]]; only the
  * fingerprint-index operations live here. */
object FpDedupStream {

  /** See [[DedupLoop.IndexState]] for the handle/visibility contract. */
  type IndexState = DedupLoop.IndexState[FingerprintIndex]

  /** Load-or-bootstrap ([[NearDupStream.resume]] contract): restore the
    * newest committed generation plus every newer write-ahead delta, or
    * build from `corpus`, checkpoint, and reload through the saved
    * artifact so first run and restart probe the identical layout. */
  def resume(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String): IndexState =
    Dedup.loadFpIndexWithDeltas(spark, path) match {
      case Some((idx, lastBatch)) =>
        new DedupLoop.IndexState(idx, lastBatch)
      case None =>
        val built = Dedup.buildFingerprintIndex(corpus, idCol, textCol)
        Dedup.saveFingerprintIndex(built, path)
        // The bootstrap copy is superseded by the reloaded table-backed
        // artifact: release it so the long-lived stream holds ONE resident
        // fingerprint set, not two ([[NearDupStream.resume]] contract).
        Dedup.releaseFpIndex(built)
        new DedupLoop.IndexState(Dedup.loadFingerprintIndex(spark, path))
    }

  private final class FpOps(val idCol: String, val textCol: String)
      extends DedupLoop.Ops[FingerprintIndex] {
    def probeAndLog(idx: FingerprintIndex, batch: DataFrame,
        checkpoint: Option[String], walId: Long)
        : (DataFrame, FingerprintIndex) = {
      val (keptIds, kfps, extended) =
        Dedup.probeAndExtendFpParts(idx, batch, idCol, textCol)
      checkpoint.foreach(p => Dedup.appendDelta(p, walId, Seq("fps" -> kfps),
        replayIds(batch), keptIds))
      (keptIds, extended)
    }
    def layers(idx: FingerprintIndex): Seq[DataFrame] = idx.layers
    def compact(idx: FingerprintIndex): FingerprintIndex =
      Dedup.compactFpIndex(idx, releaseOld = false)
    def save(idx: FingerprintIndex, path: String, walId: Long,
        kept: DataFrame): Unit = {
      Dedup.saveFingerprintIndex(idx, path, batchId = walId, kept = Some(kept))
      // Prune the tombstones this snapshot already reflects
      // ([[Dedup.TombstoneLog]] checkpoint rules).
      Dedup.TombstoneLog.Fps.clear(idx.fps.sparkSession, path, upTo = walId)
    }
  }

  /** TAKEDOWN: remove `docs`' content fingerprints from the stream's
    * index, so future identical arrivals are ADMITTED again (already-sunk
    * rows are downstream's to retract — this deletes the index's claim,
    * not history). Durable-first: with `checkpointPath` set the tombstone
    * lands in the checkpoint BEFORE the in-memory index shrinks, tagged
    * with its position in the batch sequence so a restart replays it in
    * order (content a LATER batch re-admitted stays admitted). Applied
    * tombstones are pruned at the next compaction's generation save. Call
    * between batches or while the stream is stopped — mutating the handle
    * concurrently with an in-flight fold is out of contract
    * ([[DedupLoop.IndexState]]). */
  def delete(state: IndexState, checkpointPath: Option[String],
      docs: DataFrame, textCol: String): Unit =
    state.withExclusive {
      state.adopt(Dedup.deleteFpContentLogged(state.index, docs, textCol,
        checkpointPath, state.lastFoldedBatch))
    }

  /** Start the exact-dedup stream: kept (novel-content, first-in-batch)
    * rows go to `sink`; kept FINGERPRINTS fold into the index (sufficient:
    * a dropped doc's fingerprint is either already indexed or equals a
    * kept batch doc's). Durability when `checkpointPath` is set follows
    * [[NearDupStream.run]]: per-batch write-ahead delta before any side
    * effect, periodic compaction + generational save, exactly-once replay
    * of recorded kept-sets — the contract the kill -9 test pins for the
    * shared loop. */
  def run(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery =
    runBatches(docs, state, idCol, textCol, compactEvery, checkpointPath,
      queryCheckpointLocation)((kept, _) => sink(kept))

  /** [[run]] with the ENGINE batch id passed to the sink
    * ([[NearDupStream.runBatches]] contract — pair with
    * `sources.Sink.idempotentBatch` for exactly-once landed output across
    * post-sink crashes). */
  def runBatches(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    DedupLoop.run(docs, state, new FpOps(idCol, textCol),
      compactEvery, checkpointPath, queryCheckpointLocation)(sink)
}
