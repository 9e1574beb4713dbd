package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.operators.Dedup.WinnowIndex

/** Streaming winnowing dedup — the arrival-time twin of
  * `d13_dedup_winnow_index`, completing the set: all four persisted index
  * families (near-dup prefix-filter, exact fingerprint, substring window
  * frequency, winnowing postings) now have an arrival loop on the shared
  * [[DedupLoop]]. First-arrival-wins like the near-dup stream: a batch
  * doc is dropped when it shares ≥ `minShared` cap-surviving rolling-hash
  * fingerprints with anything that came before — indexed corpus, stream
  * history, or a smaller-id doc in its own micro-batch. The `maxFreq`
  * boilerplate cap uses the index-side frequency, summed across layers
  * but computed batch-scoped (see `Dedup.probeAndExtendWnParts`). */
object WinnowStream {

  /** See [[DedupLoop.IndexState]] for the handle/visibility contract. */
  type IndexState = DedupLoop.IndexState[WinnowIndex]

  /** Load-or-bootstrap ([[NearDupStream.resume]] contract). */
  def resume(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      w: Int = 30,
      maxFreq: Int = 200): IndexState =
    Dedup.loadWnIndexWithDeltas(spark, path) match {
      case Some((idx, lastBatch)) =>
        new DedupLoop.IndexState(idx, lastBatch)
      case None =>
        val built =
          Dedup.buildWinnowIndex(corpus, idCol, textCol, k, w, maxFreq)
        Dedup.saveWinnowIndex(built, path)
        Dedup.releaseWnIndex(built)
        new DedupLoop.IndexState(Dedup.loadWinnowIndex(spark, path))
    }

  private final class WnOps(val idCol: String, val textCol: String,
      minShared: Int) extends DedupLoop.Ops[WinnowIndex] {
    def probeAndLog(idx: WinnowIndex, batch: DataFrame,
        checkpoint: Option[String], walId: Long)
        : (DataFrame, WinnowIndex) = {
      val (keptIds, bflat, bfreq, extended) =
        Dedup.probeAndExtendWnParts(idx, batch, idCol, textCol, minShared)
      checkpoint.foreach(p => Dedup.appendDelta(p, walId,
        Seq("fps" -> bflat, "freq" -> bfreq), replayIds(batch), keptIds))
      (keptIds, extended)
    }
    def layers(idx: WinnowIndex): Seq[DataFrame] = idx.layers
    def compact(idx: WinnowIndex): WinnowIndex =
      Dedup.compactWnIndex(idx, releaseOld = false)
    def save(idx: WinnowIndex, path: String, walId: Long,
        kept: DataFrame): Unit = {
      Dedup.saveWinnowIndex(idx, path, batchId = walId, kept = Some(kept))
      // Prune the tombstones this snapshot already reflects
      // ([[Dedup.TombstoneLog]] checkpoint rules).
      Dedup.TombstoneLog.Ids.clear(idx.fps.sparkSession, path, upTo = walId)
    }
  }

  /** TAKEDOWN: remove ids' postings from the stream's index and subtract
    * their frequency contribution, so future arrivals sharing passages
    * with the withdrawn docs are ADMITTED again
    * ([[FpDedupStream.delete]] contract on the winnowing family;
    * id-addressed — postings are id-keyed). Durable-first when
    * `checkpointPath` is set. Call between batches or while the stream
    * is stopped. */
  def delete(state: IndexState, checkpointPath: Option[String],
      ids: DataFrame, idCol: String): Unit =
    state.withExclusive {
      val doomed = ids.select(
        org.apache.spark.sql.functions.col(idCol).cast("long").as("id"))
      checkpointPath.foreach(p =>
        Dedup.TombstoneLog.Ids.append(p, doomed, state.lastFoldedBatch))
      state.adopt(Dedup.removeWinnowIds(state.index, doomed))
    }

  /** Start the winnow dedup stream: kept (first-arrival) rows go to
    * `sink`; the full batch's postings fold in. Durability contract:
    * [[NearDupStream.run]]. */
  def run(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      minShared: Int = 3,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery =
    runBatches(docs, state, idCol, textCol, minShared, compactEvery,
      checkpointPath, queryCheckpointLocation)((kept, _) => sink(kept))

  /** [[run]] with the rebase-stable batch id passed to the sink
    * ([[NearDupStream.runBatches]] contract). */
  def runBatches(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      minShared: Int = 3,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    DedupLoop.run(docs, state,
      new WnOps(idCol, textCol, minShared),
      compactEvery, checkpointPath, queryCheckpointLocation)(sink)
}
