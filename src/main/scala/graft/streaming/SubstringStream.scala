package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.operators.Dedup.SubstringIndex

/** Streaming ExactSubstr gate — the arrival-time twin of
  * `d16_dedup_substring_index`: each micro-batch's documents are scored
  * against the corpus-plus-batch window frequencies, docs whose
  * duplicated-window fraction exceeds `maxDupRatio` are dropped (the
  * boilerplate/recycled-content gate), and the FULL batch's window counts
  * fold into the durable index so later arrivals see everything that ever
  * streamed past — state is the content-sized (hash, count) table, never
  * documents.
  *
  * Same [[DedupLoop]] as the near-dup and exact-fingerprint streams
  * (WAL-before-side-effects, replay recognition, batch-id rebase,
  * compaction cadence — the kill -9-pinned contract); this object
  * contributes the substring-index operations. Between compactions the
  * index accumulates one frequency LAYER per batch; the probe sums layers
  * (batch-hash-sized agg) and compaction merges them into one frame. */
object SubstringStream {

  /** See [[DedupLoop.IndexState]] for the handle/visibility contract. */
  type IndexState = DedupLoop.IndexState[SubstringIndex]

  /** Load-or-bootstrap ([[NearDupStream.resume]] contract). */
  def resume(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 8): IndexState =
    Dedup.loadSsIndexWithDeltas(spark, path) match {
      case Some((idx, lastBatch)) =>
        new DedupLoop.IndexState(idx, lastBatch)
      case None =>
        // Corpus window counts PLUS its per-content identity rows, so
        // bootstrap-admitted content is content-addressable by takedown
        // exactly like streamed arrivals (applySubstringNeg applies any
        // extra layer; saveSubstringIndex merges layers on write).
        val built = Dedup.markSsIdentityRows(Dedup.applySubstringNeg(
          Dedup.buildSubstringIndex(corpus, idCol, textCol, windowTokens),
          Dedup.ssIdentityRows(corpus, textCol)))
        Dedup.saveSubstringIndex(built, path)
        Dedup.releaseSsIndex(built)
        new DedupLoop.IndexState(Dedup.loadSubstringIndex(spark, path))
    }

  private final class SsOps(val idCol: String, val textCol: String,
      minOccurrences: Int, maxDupRatio: Double)
      extends DedupLoop.Ops[SubstringIndex] {
    def probeAndLog(idx: SubstringIndex, batch: DataFrame,
        checkpoint: Option[String], walId: Long)
        : (DataFrame, SubstringIndex) = {
      val (keptIds, bfreq, extended) = Dedup.probeAndExtendSsParts(
        idx, batch, idCol, textCol, minOccurrences, maxDupRatio)
      checkpoint.foreach(p => Dedup.appendDelta(p, walId,
        Seq("freq" -> bfreq), replayIds(batch), keptIds))
      (keptIds, extended)
    }
    def layers(idx: SubstringIndex): Seq[DataFrame] = idx.layers
    def compact(idx: SubstringIndex): SubstringIndex =
      Dedup.compactSsIndex(idx, releaseOld = false)
    def save(idx: SubstringIndex, path: String, walId: Long,
        kept: DataFrame): Unit = {
      Dedup.saveSubstringIndex(idx, path, batchId = walId,
        kept = Some(kept))
      // Prune the tombstones this snapshot already reflects
      // ([[Dedup.TombstoneLog]] checkpoint rules).
      Dedup.TombstoneLog.Neg.clear(idx.freq.sparkSession, path, upTo = walId)
    }
  }

  /** TAKEDOWN: subtract the withdrawn contents' counts from the stream's
    * index — the count-shaped family's withdrawal: the index holds only
    * (hash, count), so the delete is a NEGATIVE frequency layer
    * ([[FpDedupStream.delete]] contract).
    *
    * Route (default `contentAddressed = None`): keyed off the INDEX's own
    * capability ([[Dedup.SubstringIndex.hasIdentityRows]], persisted in
    * the checkpoint params — ADVICE r11): an index whose every fold also
    * recorded a per-content identity row ([[Dedup.ssIdentityRows]]; the
    * bootstrap corpus and every streamed batch of this stream) withdraws
    * CONTENT-ADDRESSED — one event resolves the content's fold
    * multiplicity k from the index and subtracts ALL k folded arrivals at
    * once, idempotent per content (re-withdrawal resolves k = 0). An
    * index that never folded identity rows (bare
    * [[Dedup.buildSubstringIndex]], or a checkpoint saved before the
    * capability existed) KEEPS its pre-upgrade per-arrival semantics
    * instead of silently no-oping: one withdrawal subtracts ONE arrival's
    * counts — a content that arrived k times needs k withdrawals, and
    * over-withdrawal undercounts shared windows.
    *
    * `Some(true)`/`Some(false)` force a route; forcing content-addressed
    * against an identity-less index resolves nothing (warned loudly).
    * Durable-first when `checkpointPath` is set. Call between batches or
    * while the stream is stopped. */
  def delete(state: IndexState, checkpointPath: Option[String],
      docs: DataFrame, idCol: String, textCol: String,
      contentAddressed: Option[Boolean] = None): Unit =
    state.withExclusive {
      val byContent =
        contentAddressed.getOrElse(state.index.hasIdentityRows)
      if (byContent && !state.index.hasIdentityRows)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "SubstringStream.delete: contentAddressed forced TRUE against an " +
            "index that never folded identity rows — every event will " +
            "resolve k = 0 and subtract nothing. Use the per-arrival route " +
            "(contentAddressed = Some(false)) for pre-upgrade indexes.")
      val neg =
        if (byContent) {
          val n = Dedup.resolveSsNeg(state.index, docs, idCol, textCol)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // Resolution snapshot: the tombstone below and the in-memory
          // apply must see the SAME bytes even though both re-read the
          // lazy frame (the index is untouched in between, but pinning
          // is cheaper than re-proving it).
          if (n.isEmpty)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              "SubstringStream.delete: no withdrawn content resolved to a " +
                "recorded fold (never admitted, or already withdrawn) — " +
                "nothing subtracted.")
          n
        } else Dedup.substringNegFreq(docs, idCol, textCol,
          state.index.windowTokens)
      checkpointPath.foreach(p =>
        Dedup.TombstoneLog.Neg.append(p, neg, state.lastFoldedBatch))
      state.adopt(Dedup.applySubstringNeg(state.index, neg))
    }

  /** The gate as a BATCH-CALLABLE mid-pipeline stage
    * ([[DedupLoop.BatchLoop]] contract, [[NearDupStream.batchLoop]]'s
    * twin): an upstream stage's per-batch sink calls
    * `processBatch(batch, id)(sink)` and this stage probes, WALs, and
    * replay-recognizes under the SAME id — how [[ExportPipeline]] slots
    * the boilerplate gate between its near-dup stage and the pack stage
    * without a second writeStream. */
  def batchLoop(
      state: IndexState,
      idCol: String,
      textCol: String,
      minOccurrences: Int = 2,
      maxDupRatio: Double = 0.5,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None)
      : DedupLoop.BatchLoop[SubstringIndex] =
    new DedupLoop.BatchLoop(state,
      new SsOps(idCol, textCol, minOccurrences, maxDupRatio), compactEvery,
      checkpointPath)

  /** Start the substring gate stream: docs at or below `maxDupRatio`
    * duplicated-window fraction (and docs too short to carry a window) go
    * to `sink`; the full batch's counts fold in. Durability contract:
    * [[NearDupStream.run]]. */
  def run(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      minOccurrences: Int = 2,
      maxDupRatio: Double = 0.5,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery =
    runBatches(docs, state, idCol, textCol, minOccurrences, maxDupRatio,
      compactEvery, checkpointPath, queryCheckpointLocation)(
      (kept, _) => sink(kept))

  /** [[run]] with the rebase-stable batch id passed to the sink
    * ([[NearDupStream.runBatches]] contract). */
  def runBatches(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      minOccurrences: Int = 2,
      maxDupRatio: Double = 0.5,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    DedupLoop.run(docs, state,
      new SsOps(idCol, textCol, minOccurrences, maxDupRatio),
      compactEvery, checkpointPath, queryCheckpointLocation)(sink)
}
