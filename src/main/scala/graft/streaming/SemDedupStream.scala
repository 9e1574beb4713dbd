package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.operators.Dedup.SemIndex

/** Streaming incremental SEMANTIC (embedding) dedup — the arrival-time
  * twin of the batch `d15_dedup_semantic` / SemDeDup path, and the sixth
  * index family on the shared [[DedupLoop]]: an embedding stream is probed
  * micro-batch by micro-batch against a [[SemIndex]] (frozen spherical-
  * k-means quantizer + list-assigned vectors) that starts from the
  * bootstrapped corpus and absorbs each arriving batch, so later arrivals
  * dedup against everything that came before — corpus AND stream history —
  * without ever re-embedding or re-assigning an indexed vector.
  *
  * Semantics are the incremental SemDeDup contract: an arrival is DROPPED
  * iff it has a verified cosine ≥ eps neighbor among the indexed vectors
  * sharing one of its `nprobe` lists, or it loses the min-id within-batch
  * twin collapse; kept OR dropped, its vector folds into the index
  * (first-arrival-wins — a twin of an already-dropped doc is still a
  * duplicate). Precision is exact (every drop re-verifies the cosine);
  * recall is quantizer-defined with nprobe multi-assignment, and exact
  * copies are ALWAYS caught (identical vectors rank their lists
  * identically). The quantizer is FROZEN (faiss `add()` semantics):
  * sustained distribution drift deserves a rebuild from fresh data, which
  * is why centroids deliberately never move here.
  *
  * State discipline at 100 TB follows [[NearDupStream]]: the index lives
  * in executor storage / list-partitioned parquet generations, NOT the
  * streaming state store; per-batch probe cost scales with the batch's
  * probed lists (partition-pruned on a restored index), never the
  * accumulated corpus. The micro-batch loop — WAL-before-side-effects,
  * engine-replay recognition (ids + xxhash64 vector fingerprints),
  * batch-id rebase, compaction cadence, layer-release grace — is
  * [[DedupLoop]], shared with the other four streams; only the
  * SemIndex-specific operations live here. */
object SemDedupStream {

  /** See [[DedupLoop.IndexState]] for the handle/visibility contract. */
  type IndexState = DedupLoop.IndexState[SemIndex]

  /** Load-or-bootstrap ([[NearDupStream.resume]] contract): restore the
    * newest committed generation plus every newer write-ahead delta, or
    * train + build from `corpus`, checkpoint, and reload through the
    * saved artifact so first run and restart probe the identical
    * list-partitioned layout. */
  def resume(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      eps: Double = 0.4,
      nlist: Int = 0,
      nprobe: Int = 4): IndexState =
    Dedup.loadSemIndexWithDeltas(spark, path) match {
      case Some((idx, lastBatch)) =>
        new DedupLoop.IndexState(idx, lastBatch)
      case None =>
        val built = Dedup.buildSemIndex(corpus, idCol, vecCol, eps,
          nlist, nprobe)
        Dedup.saveSemIndex(built, path)
        // The bootstrap copy is superseded by the reloaded artifact:
        // release it so the long-lived stream holds ONE resident index.
        Dedup.releaseSemIndex(built)
        new DedupLoop.IndexState(Dedup.loadSemIndex(spark, path))
    }

  private final class SemOps(val idCol: String, val textCol: String)
      extends DedupLoop.Ops[SemIndex] {
    def probeAndLog(idx: SemIndex, batch: DataFrame,
        checkpoint: Option[String], walId: Long): (DataFrame, SemIndex) = {
      val (keptIds, vecsLayer, extended) =
        Dedup.probeAndExtendSemParts(idx, batch, idCol, textCol)
      checkpoint.foreach(p => Dedup.appendDelta(p, walId,
        Seq("vecs" -> vecsLayer), replayIds(batch), keptIds))
      (keptIds, extended)
    }
    def layers(idx: SemIndex): Seq[DataFrame] = idx.layers
    /** Imbalance level at which the LAST rebuild failed to restore
      * balance — the hysteresis latch that stops rebuild THRASH on
      * content-shaped imbalance (a dense angular cone tighter than any
      * quantizer resolution: the sem family's saturation regime, where
      * retraining provably cannot spread the lists). Reset when a rebuild
      * works; a retry is allowed only once imbalance grows well past the
      * latched level (the corpus mix changed). */
    private var ineffectiveAbove = Double.PositiveInfinity
    def compact(idx: SemIndex): SemIndex = {
      // DRIFT CHECK at the compaction point (round 12 — the nd loop's
      // ndRarityDrift→rebuildIndex pattern on the embedding family):
      // sustained arrival drift concentrates new vectors into few frozen
      // lists; past the imbalance bar the compaction escalates to a
      // quantizer rebuild from the index's own vectors. Durable through
      // the SAME generational save as a plain compaction (SemOps.save
      // writes centroids per generation); old layers retire through the
      // loop's one-cycle reader grace either way.
      //
      // The IDENTICAL-VECTOR COLLAPSE runs FIRST (round 13 — the remedy
      // the round-12 latch message could only name): exact-copy mass
      // folds to one probed representative per (list, vector), so the
      // imbalance the rebuild decision sees is measured over the rows the
      // probe will actually scan. An exact-copy flood therefore SELF-HEALS
      // here — the rebuild (and the latch) are reserved for genuine drift
      // and for the one content shape nothing can spread: distinct vectors
      // inside an angular cone tighter than any quantizer resolution.
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      val collapsed = Dedup.collapseSemIndex(idx, releaseOld = false)
      val bar = graft.operators.Similarity.imbalanceRebuildBar(
        collapsed.assigned.sparkSession)
      val imb = graft.operators.Similarity.listImbalance(
        collapsed.assigned.where(org.apache.spark.sql.functions.col("rep")))
      if (imb > bar && !ineffectiveAbove.isInfinite &&
          imb <= ineffectiveAbove * 1.25) {
        log.warn(f"SemDedupStream: representative-row list imbalance " +
          f"$imb%.1f persists after an INEFFECTIVE rebuild (latched at " +
          f"$ineffectiveAbove%.1f) — content-shaped, not drift: distinct " +
          "vectors in a dense angular cone tighter than the quantizer's " +
          "resolution (the sem saturation regime; exact copies are " +
          "already collapsed to one probed row each). Compacting plain; " +
          "the remedy is accepting dense-list scans.")
        collapsed
      } else if (imb > bar) {
        log.warn(f"SemDedupStream: representative-row list imbalance " +
          f"$imb%.1f exceeds $bar%.1f — rebuilding the quantizer at this " +
          "compaction (Dedup.rebuildSemIndex).")
        val rebuilt = Dedup.rebuildSemIndex(collapsed, releaseOld = false)
        // The collapsed checkpoint was only the rebuild's input snapshot —
        // rebuildSemIndex re-materialized its own lineage-truncated vector
        // frame, so nothing references it anymore. Release it NOW rather
        // than waiting for the driver's ContextCleaner: a rebuild
        // compaction otherwise transiently holds an extra full-index copy
        // in executor storage on top of the grace-period layers and the
        // rebuilt index.
        collapsed.assigned.unpersist(false)
        val post = graft.operators.Similarity.listImbalance(
          rebuilt.assigned.where(org.apache.spark.sql.functions.col("rep")))
        if (post > bar) {
          ineffectiveAbove = post
          log.warn(f"SemDedupStream: rebuild did NOT restore balance " +
            f"($imb%.1f -> $post%.1f, bar $bar%.1f) — content-shaped " +
            "imbalance; further rebuilds latched off until it grows past " +
            f"${post * 1.25}%.1f.")
        } else ineffectiveAbove = Double.PositiveInfinity
        rebuilt
      } else {
        log.info(f"SemDedupStream: representative-row list imbalance " +
          f"$imb%.1f (rebuild bar $bar%.1f).")
        collapsed
      }
    }
    def save(idx: SemIndex, path: String, walId: Long,
        kept: DataFrame): Unit = {
      Dedup.saveSemIndex(idx, path, batchId = walId, kept = Some(kept))
      // Prune the tombstones this snapshot already reflects
      // ([[Dedup.TombstoneLog]] checkpoint rules).
      Dedup.TombstoneLog.Ids.clear(idx.assigned.sparkSession, path,
        upTo = walId)
    }
  }

  /** TAKEDOWN: remove ids' vectors from the stream's index, so future
    * arrivals semantically duplicating them are ADMITTED again
    * ([[FpDedupStream.delete]] contract on the embedding family — the
    * frozen quantizer is untouched, faiss remove_ids semantics).
    * Durable-first when `checkpointPath` is set: the id tombstone lands
    * in the checkpoint BEFORE the in-memory index shrinks, tagged with
    * its position in the batch sequence. Call between batches or while
    * the stream is stopped. */
  def delete(state: IndexState, checkpointPath: Option[String],
      ids: DataFrame, idCol: String): Unit =
    state.withExclusive {
      val doomed = ids.select(
        org.apache.spark.sql.functions.col(idCol).cast("long").as("id"))
      checkpointPath.foreach(p =>
        Dedup.TombstoneLog.Ids.append(p, doomed, state.lastFoldedBatch))
      state.adopt(Dedup.removeSemIds(state.index, doomed))
    }

  /** Start the semantic-dedup stream: kept (semantically novel) rows go to
    * `sink`; the FULL batch's vectors fold into the index. Durability when
    * `checkpointPath` is set follows [[NearDupStream.run]]: per-batch
    * write-ahead delta before any side effect, periodic compaction +
    * generational save (list-partitioned vectors), exactly-once replay of
    * recorded kept-sets — the contract the kill -9 test pins for the
    * shared loop. The replay identity fingerprints the VECTOR column
    * (xxhash64 over the array), so a restarted source re-delivering the
    * same ids with different embeddings folds as new data. */
  def run(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      vecCol: String,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery =
    runBatches(docs, state, idCol, vecCol, compactEvery, checkpointPath,
      queryCheckpointLocation)((kept, _) => sink(kept))

  /** [[run]] with the ENGINE batch id passed to the sink
    * ([[NearDupStream.runBatches]] contract — pair with
    * `sources.Sink.idempotentBatch` for exactly-once landed output across
    * post-sink crashes). */
  def runBatches(
      docs: DataFrame,
      state: IndexState,
      idCol: String,
      vecCol: String,
      compactEvery: Long = 100,
      checkpointPath: Option[String] = None,
      queryCheckpointLocation: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    DedupLoop.run(docs, state, new SemOps(idCol, vecCol),
      compactEvery, checkpointPath, queryCheckpointLocation)(sink)
}
