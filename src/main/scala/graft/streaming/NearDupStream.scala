package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.operators.Dedup.NearDupIndex

/** Streaming incremental NEAR-dup dedup — the arrival-time twin of the
  * batch `d10_dedup_incremental_near` path: a document stream is probed
  * micro-batch by micro-batch against a [[NearDupIndex]] that starts from
  * the bootstrapped corpus and is extended with each arriving batch, so
  * later arrivals dedup against everything that came before — corpus AND
  * stream history — without ever re-reading or re-sketching a corpus
  * document.
  *
  * Semantics match the batch operator exactly (first-arrival-wins at
  * word-shingle Jaccard ≥ the index threshold; within a micro-batch,
  * smaller id = earlier arrival), so a corpus can be bootstrapped with
  * `buildNearDupIndex` + one batch `probeNearDups` pass and then kept
  * current by this stream — one semantic contract, two execution modes,
  * the same structure [[FpDedupStream]] provides for exact-fingerprint
  * dedup.
  *
  * Why foreachBatch and not `dropDuplicatesWithinWatermark`: near-dup
  * matching needs candidate JOINS against an evolving index (two equi-joins
  * + a verification kernel per batch), which is not expressible as a keyed
  * state lookup — the key set of a near-dup match is unbounded. The
  * watermark-state route stays the right one for bounded-window EXACT
  * dedup (Curate); this operator is the near-dup escalation of it.
  *
  * State discipline at 100 TB: the index lives in executor storage
  * (MEMORY_AND_DISK sketch layers, ~1 KB/doc), NOT in the streaming state
  * store — state-store entries are per-key and checkpointed every batch,
  * which would re-write the whole sketch set each commit. The index is
  * instead rebuilt (or loaded from a bucketed parquet sink) on restart,
  * exactly like a table-statistics cache. Probe cost per batch scales with
  * the batch, not the accumulated corpus (IncrementalDedupSpec asserts the
  * probe plan never re-scans corpus files).
  *
  * The micro-batch loop itself — replay recognition, batch-id rebase,
  * compaction cadence, layer-release grace — is [[DedupLoop]], shared with
  * the exact-fingerprint stream; this object contributes the
  * NearDupIndex-specific operations. */
object NearDupStream {

  /** See [[DedupLoop.IndexState]] for the handle/visibility contract. */
  type IndexState = DedupLoop.IndexState[NearDupIndex]

  /** Load-or-bootstrap the stream's index state — the restart story in one
    * call: if a `Dedup.saveIndex` checkpoint exists at `path`, restore the
    * newest committed generation PLUS every newer write-ahead delta (so
    * nothing a prior run durably folded is lost, even batches after its
    * last compaction); otherwise build the index from `corpus`, save the
    * bootstrap checkpoint, and reload THROUGH the saved artifact, so first
    * run and restart probe the identical layout. Pass the returned state
    * plus the same `path` as [[run]]'s `checkpointPath` — and give the
    * STREAMING ENGINE a checkpoint too (`queryCheckpointLocation`), so its
    * offset replay window and the index's durability line up. */
  def resume(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 2,
      threshold: Double = 0.6): IndexState =
    Dedup.loadIndexWithDeltas(spark, path) match {
      case Some((idx, lastBatch)) =>
        new DedupLoop.IndexState(idx, lastBatch)
      case None if Dedup.hasLegacyIndex(spark, path) =>
        // A pre-generational flat layout carries no batch ids, so it cannot
        // resume with replay protection; rebuilding from `corpus` would
        // silently drop every doc a prior run folded.
        throw new IllegalStateException(
          s"NearDupStream: $path holds a pre-generational near-dup " +
            "checkpoint, which no longer loads; rebuild it with " +
            "Dedup.saveIndex or resume from an empty path")
      case None =>
        val built =
          Dedup.buildNearDupIndex(corpus, idCol, textCol, shingleN, threshold)
        Dedup.saveIndex(built, path)
        // The bootstrap copy is superseded by the loaded artifact below;
        // releasing it keeps the long-lived stream at ONE resident index,
        // not two.
        Dedup.releaseIndex(built)
        new DedupLoop.IndexState(Dedup.loadIndex(spark, path))
    }

  private final class NdOps(val idCol: String, val textCol: String,
      val driftSampleMod: Long = 16L)
      extends DedupLoop.Ops[NearDupIndex] {
    def probeAndLog(idx: NearDupIndex, batch: DataFrame,
        checkpoint: Option[String], walId: Long): (DataFrame, NearDupIndex) = {
      val (keptIds, psets, ppref, extended) =
        Dedup.probeAndExtendParts(idx, batch, idCol, textCol)
      checkpoint.foreach(p =>
        Dedup.appendDelta(p, walId, Seq("sets" -> psets, "prefs" -> ppref),
          replayIds(batch), keptIds))
      (keptIds, extended)
    }
    def layers(idx: NearDupIndex): Seq[DataFrame] = idx.layers
    def compact(idx: NearDupIndex): NearDupIndex = {
      // Rarity-drift probe on the compaction cadence — the frozen-order
      // contract's rebuild signal: the sampled rank-churn between frozen
      // and live shingle frequencies, logged every compaction so an
      // operator has a trend, warned past the documented threshold.
      // Correctness is unaffected by drift (recall stays total under the
      // frozen order); the cost of ignoring the warning is widening
      // candidate sets, growing with every fold.
      val drift = Dedup.ndRarityDrift(idx, driftSampleMod)
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      // Regime detector, same cadence: candidate fan-out per probe doc.
      // Unlike drift this has NO in-place fix — a saturated shingle
      // universe is a property of the content, so the remedy is the
      // capped approximate families, and the operator needs to hear it.
      val sat = Dedup.ndPrefixSaturation(idx)
      if (sat > Dedup.NdPrefixSaturationWarnThreshold)
        log.warn(f"NearDupStream: prefix saturation $sat%.0f candidate " +
          f"rows per probe doc (bar ${Dedup.NdPrefixSaturationWarnThreshold}%.0f) " +
          "— the shingle universe is saturating and the exact " +
          "prefix-filter join is going quadratic in the corpus. Prefer " +
          "the capped approximate families (MinHash/SimHash/winnow) for " +
          "this content; exact probes stay correct but batch cost grows " +
          "with corpus size.")
      else
        log.info(f"NearDupStream: prefix saturation $sat%.0f candidate " +
          "rows per probe doc.")
      if (drift > Dedup.NdRarityDriftRebuildThreshold) {
        // The signal's ACTION (round 11): re-rank the frozen rarity order
        // from the index's own docsets, right here at the compaction
        // point the signal rides on — no corpus re-read, no maintenance
        // window. Safe mid-stream because kept/drop decisions are
        // invariant under the re-rank (Dedup.rebuildIndex contract) and
        // the rebuilt state only becomes durable through the SAME
        // generation save as a plain compaction: a crash before the save
        // restores the pre-rebuild generation + deltas, whose frozen
        // order is internally consistent, and replay re-emits recorded
        // kept-sets regardless. Old layers retire through the loop's
        // one-cycle reader grace, exactly like a compaction's.
        log.warn(f"NearDupStream: rarity drift $drift%.3f exceeds " +
          f"${Dedup.NdRarityDriftRebuildThreshold}%.2f — ${drift * 100}%.1f%% " +
          "of sampled docs would pick different prefix keys under live " +
          "frequencies. REBUILDING the rarity order in-place at this " +
          "compaction point (kept/drop decisions unchanged; candidate " +
          "sets narrow back to fresh-index width).")
        Dedup.rebuildIndex(idx, releaseOld = false)
      } else {
        log.info(f"NearDupStream: rarity drift $drift%.3f (rebuild bar " +
          f"${Dedup.NdRarityDriftRebuildThreshold}%.2f).")
        Dedup.compactIndex(idx, releaseOld = false)
      }
    }
    def save(idx: NearDupIndex, path: String, walId: Long,
        kept: DataFrame): Unit = {
      Dedup.saveIndex(idx, path, batchId = walId, kept = Some(kept))
      // Prune the tombstones this snapshot already reflects
      // ([[Dedup.TombstoneLog]] checkpoint rules).
      Dedup.TombstoneLog.Ids.clear(idx.docsets.sparkSession, path,
        upTo = walId)
    }
  }

  /** TAKEDOWN: remove `docs`' content sketches from the stream's index,
    * so future arrivals near-duplicating them are ADMITTED again
    * ([[FpDedupStream.delete]] contract on the fuzzy family — this
    * deletes the index's claim, not sunk history). Durable-first when
    * `checkpointPath` is set: the resolved-id tombstone lands in the
    * checkpoint BEFORE the in-memory index shrinks, tagged with its
    * position in the batch sequence so a restart replays it in order.
    * Call between batches or while the stream is stopped. */
  def delete(state: IndexState, checkpointPath: Option[String],
      docs: DataFrame, idCol: String, textCol: String): Unit =
    state.withExclusive {
      val (next, doomed) =
        Dedup.deleteNearDupContent(state.index, docs, idCol, textCol)
      checkpointPath.foreach(p =>
        Dedup.TombstoneLog.Ids.append(p, doomed, state.lastFoldedBatch))
      state.adopt(next)
    }

  /** Start the dedup stream: each micro-batch is probed against the
    * current index, the kept (novel) rows are handed to `sink`, and the
    * FULL batch — kept and dropped alike — is folded into the index
    * (matching the batch contract: a doc that duplicates an already-
    * dropped earlier arrival is still a duplicate). One sketch pass per
    * batch serves both probe and extension; the state adopts the extended
    * index only after `sink` returns, so a sink failure never leaves docs
    * indexed-but-unsunk.
    *
    * Durability, when `checkpointPath` is set: the batch's new sketch
    * layer + kept-set are appended to a write-ahead delta log BEFORE the
    * sink runs, and every `compactEvery` batches the index is compacted
    * (flat-lineage checkpointed frames; plan depth and executor storage
    * stay bounded over an unbounded stream) and saved as a fresh
    * crash-safe generation, after which the folded deltas are dropped.
    * Replay/rebase/grace mechanics: [[DedupLoop.run]].
    *
    * `queryCheckpointLocation` is handed to the engine as its own
    * checkpoint so offset tracking survives restarts alongside the index
    * checkpoint. `compactEvery <= 0` disables compaction. */
  def run(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None,
      driftSampleMod: Long = 16L)(
      sink: DataFrame => Unit): StreamingQuery =
    runBatches(docs, state, idCol, textCol, compactEvery, checkpointPath,
      queryCheckpointLocation, driftSampleMod)((kept, _) => sink(kept))

  /** The near-dup stage as a MID-PIPELINE batch loop
    * ([[DedupLoop.BatchLoop]] contract): an upstream stage's per-batch
    * sink calls `processBatch(batch, id)(sink)` and this stage probes,
    * WALs, and replay-recognizes under the SAME id — how
    * [[ExportPipeline]] threads fuzzy dedup between its exact-dedup gate
    * and the pack stage without a second writeStream. */
  def batchLoop(
      state: IndexState,
      idCol: String,
      textCol: String,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      driftSampleMod: Long = 16L)
      : DedupLoop.BatchLoop[NearDupIndex] =
    new DedupLoop.BatchLoop(state,
      new NdOps(idCol, textCol, driftSampleMod), compactEvery,
      checkpointPath)

  /** [[run]] with the ENGINE batch id passed to the sink — the id is
    * stable across a post-sink-crash replay, so writing through
    * `sources.Sink.idempotentBatch(kept, out, batchId)` makes the landed
    * output exactly-once even when the sink itself ran twice. */
  def runBatches(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      textCol: String,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None,
      driftSampleMod: Long = 16L)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    DedupLoop.run(docs, state, new NdOps(idCol, textCol, driftSampleMod),
      compactEvery, checkpointPath, queryCheckpointLocation)(sink)
}
