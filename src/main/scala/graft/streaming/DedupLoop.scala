package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The arrival-loop skeleton shared by the five index-backed streaming
  * dedups — near-dup prefix-filter index ([[NearDupStream]]), exact
  * fingerprint index ([[FpDedupStream]]), semantic IVF index
  * ([[SemDedupStream]]), winnow posting index ([[WinnowStream]]) and
  * substring window-count index ([[SubstringStream]]); their shared
  * checkpoint tree is drawn on `operators.Dedup.TombstoneLog`. Per
  * micro-batch: probe → write-ahead delta → sink → adopt, with
  * engine-replay recognition, batch-id rebase for checkpoint-less
  * restarts, periodic compaction + generational save, and
  * one-compaction-late release of superseded layers. The index-specific
  * operations arrive as an [[DedupLoop.Ops]]; the crash/replay logic —
  * the part that took a kill -9 test to pin down — lives HERE, once. */
object DedupLoop {

  /** Mutable handle on an evolving index. The streaming engine runs
    * foreachBatch callbacks sequentially, so the only concurrency is
    * readers of [[index]] from other threads — volatile is sufficient for
    * visibility. A reader's handle stays PROBE-SAFE until the second
    * compaction after it was taken: [[run]] releases a compaction's
    * superseded layers one compaction LATE, and the generational saves
    * retain one previous checkpoint generation, so both the cached layers
    * and the backing files of the previous index survive a full save
    * cycle. Handles held across two compactions are out of contract.
    *
    * [[lastIndexedBatch]] is the newest batch durably folded into the
    * restored index (generation or write-ahead delta) — [[run]] uses it
    * to recognize engine-replayed batches the index already contains. */
  final class IndexState[I](initial: I,
      private[streaming] val restoredBatch: Long = -1L) {
    @volatile private var current: I = initial
    @volatile private var folded: Long = restoredBatch
    def index: I = current
    def lastIndexedBatch: Long = restoredBatch
    /** Newest batch folded into [[index]] — `lastIndexedBatch` until this
      * run's first fold, then the running WAL id. Takedown tombstones
      * record it as their position in the batch sequence. */
    def lastFoldedBatch: Long = folded
    private[streaming] def adopt(next: I, walId: Long = -1L): Unit = {
      current = next
      if (walId > folded) folded = walId
    }
    /** Serialize a read-compute-adopt section against every other writer
      * of this state. The dedup loop holds it across a whole batch fold;
      * a concurrent TAKEDOWN (an independent [[TakedownStream]] query
      * mutating the same live state) holds it across its shrink —
      * without it, fold and shrink race adopt() and one mutation is
      * silently discarded. Reentrant (a takedown's delete inside its own
      * section is fine); readers of [[index]] stay lock-free. */
    private[streaming] def withExclusive[T](f: => T): T = synchronized(f)
  }

  /** Index-specific operations the loop composes. The checkpoint-layout
    * helpers (delta matching, recorded kept-sets, delta pruning) follow
    * the shared `$path/delta/b<id>/…` + `$path/g<N>/…` conventions in
    * `operators.Dedup` and are provided as DEFAULTS — every index family
    * uses the same layout, so the conventions live once here, not once
    * per Ops implementation. */
  trait Ops[I] {
    /** The batch's id column — the delta id-list and sink joins key on
      * it. */
    def idCol: String
    /** The batch's content column. Replay detection fingerprints it
      * (xxhash64 per doc) so a batch re-delivering the same ids with
      * CHANGED text is folded as new data, not misclassified as a
      * replay of the stale recorded kept-set. */
    def textCol: String
    /** Probe `batch` against `idx`: (kept-ids frame with one `doc_id`
      * long column, extended index). When `checkpoint` is set, the
      * batch's WAL delta — its new index layer(s), full id-list, and
      * kept-set, kept written LAST as the commit marker — must be durable
      * before this returns: the delta going down before any side effect
      * is what makes a crash at any later point replayable. */
    def probeAndLog(idx: I, batch: DataFrame, checkpoint: Option[String],
        walId: Long): (DataFrame, I)
    /** The persisted frames `idx` references (released one compaction
      * late). */
    def layers(idx: I): Seq[DataFrame]
    /** Flatten accumulated union lineage into resident frames. */
    def compact(idx: I): I
    /** Save a fresh crash-safe generation recording `walId`/`kept`. */
    def save(idx: I, path: String, walId: Long, kept: DataFrame): Unit
    def clearDeltas(spark: SparkSession, path: String, upTo: Long): Unit =
      graft.operators.Dedup.clearIndexDeltas(spark, path, upTo)
    /** The WAL delta id (≥ `fromId`) whose recorded (id, content-fp) set
      * covers exactly this batch's docs, if any — a genuine replay, found
      * even when a prior run's batch-id REBASE recorded it under a higher
      * id (scanning upward vs id collision:
      * [[graft.operators.Dedup.findMatchingDelta]]). */
    def findMatchingDelta(spark: SparkSession, path: String, fromId: Long,
        batch: DataFrame): Option[Long] =
      graft.operators.Dedup.findMatchingDelta(spark, path, fromId, batch,
        idCol, Some(textCol))
    /** The batch's replay-identity frame — ids + content fingerprint —
      * that [[probeAndLog]] implementations write into the WAL delta. */
    def replayIds(batch: DataFrame): DataFrame =
      graft.operators.Dedup.batchReplayIds(batch, idCol, Some(textCol))
    /** The kept-set recorded for `batchId`, if the checkpoint has it. */
    def checkpointKept(spark: SparkSession, path: String,
        batchId: Long): Option[DataFrame] =
      graft.operators.Dedup.checkpointKept(spark, path, batchId)
  }

  /** Start the loop. Semantics and durability contract are documented on
    * the public wrappers ([[NearDupStream.run]], [[FpDedupStream.run]]);
    * mechanics:
    *   - a batch id at-or-below the restored high-water mark whose WAL
    *     record covers exactly this batch's docs — matched by (id,
    *     content-fingerprint) set against ANY outstanding delta at or
    *     above the raw id, so a batch a PRIOR run recorded under a
    *     rebased id is still recognized — is a genuine engine replay →
    *     its RECORDED kept-set is sunk under the id it originally landed
    *     with and nothing re-folds (re-probing would find every doc
    *     already indexed and silently emit zero kept rows);
    *   - the same id range with DIFFERENT docs (or same ids, changed
    *     content) is a fresh query reusing ids (engine restarted without
    *     its checkpoint) → WAL ids are rebased above the high-water mark
    *     and the batch folds as new;
    *   - every `compactEvery` batches the index compacts and saves a
    *     generation, folded deltas are dropped, and the layers retired at
    *     the PREVIOUS compaction are released (reader grace).
    * One caveat is inherent: a stream that genuinely delivers an
    * IDENTICAL (ids + content) batch twice inside the restart window is
    * indistinguishable from an engine replay and lands once — the same
    * output an exact-dedup of the two batches would produce. */
  def run[I](
      docs: DataFrame,
      state: IndexState[I],
      ops: Ops[I],
      compactEvery: Long,
      checkpointPath: Option[String],
      queryCheckpointLocation: Option[String])(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val loop = new BatchLoop(state, ops, compactEvery, checkpointPath)
    val writer = docs.writeStream
    queryCheckpointLocation.fold(writer)(p =>
        writer.option("checkpointLocation", p))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        loop.processBatch(batch, batchId)(sink)
      }
      .start()
  }

  /** The loop body as a BATCH-CALLABLE stage — what lets a dedup family
    * run MID-PIPELINE instead of only at the head of a writeStream: an
    * upstream stage's foreachBatch sink calls [[processBatch]] with its
    * own (batch, id) and this stage probes, WALs, rebases, and recognizes
    * replays exactly as the stream-headed form does, because it IS the
    * stream-headed form ([[run]] delegates here). The mutable pieces the
    * loop carries across batches — retired layers awaiting their grace
    * release, the adopted rebase offset — live on this object; one
    * instance per logical stream, called sequentially (the engine runs
    * foreachBatch callbacks sequentially, and a composed pipeline calls
    * inside its parent's callback). */
  final class BatchLoop[I](
      state: IndexState[I],
      ops: Ops[I],
      compactEvery: Long,
      checkpointPath: Option[String]) {
    private var retired: Seq[DataFrame] = Nil
    private var idOffset = -1L

    def processBatch(batch: DataFrame, batchId: Long)(
        sink: (DataFrame, Long) => Unit): Unit =
      // The whole fold is one read-compute-adopt section: a concurrent
      // takedown on the same live state must not interleave between the
      // index read and the adopt ([[IndexState.withExclusive]]).
      state.withExclusive {
        val spark = batch.sparkSession
        // Scan for the replay's WAL record from the batch's EFFECTIVE id:
        // the raw engine id on a fresh restart (idOffset unset), the
        // rebased id once this run has rebased — a multi-batch replay
        // window keeps matching after its first batch set the offset.
        val replayedAs: Option[Long] =
          if (batchId + math.max(0L, idOffset) <= state.lastIndexedBatch)
            checkpointPath.flatMap(p => ops.findMatchingDelta(spark, p,
              batchId + math.max(0L, idOffset), batch))
          else None
        replayedAs match {
          case Some(recordedId) =>
          if (recordedId > batchId && idOffset < 0) {
            // The prior run rebased this batch; adopt its offset so this
            // run's SUBSEQUENT fresh batches continue the same WAL
            // numbering instead of re-deriving it via another rebase.
            idOffset = recordedId - batchId
            org.slf4j.LoggerFactory.getLogger(getClass).info(
              s"DedupLoop: batch $batchId replays a delta the prior run " +
                s"recorded under rebased id $recordedId — resuming with " +
                s"id offset +$idOffset.")
          }
          ops.checkpointKept(spark, checkpointPath.get, recordedId) match {
            case Some(keptIds) =>
              // The id the batch ORIGINALLY landed under (engine id when
              // no rebase occurred) keys the sink, so an idempotent
              // per-batch sink overwrites its earlier attempt instead of
              // duplicating it.
              sink(batch.join(keptIds.withColumnRenamed("doc_id", ops.idCol),
                Seq(ops.idCol), "left_semi"), recordedId)
            case None =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"DedupLoop: batch $batchId replayed but its kept record " +
                  s"is gone from the checkpoint — emitting nothing (the " +
                  s"batch's docs are already in the index).")
          }
          case None =>
          {
          // Guard on the EFFECTIVE id, not on idOffset being unset: after
          // adopting a prior run's rebase offset, a subsequent
          // non-matching batch can still land at-or-below the high-water
          // mark (the prior run rebased MORE batches than this run
          // replays identically) — folding there would overwrite a
          // committed delta and the sink output it keys. Re-rebase above
          // the mark instead.
          if (batchId + math.max(0L, idOffset) <= state.lastIndexedBatch) {
            idOffset = state.lastIndexedBatch + 1 - batchId
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"DedupLoop: batch $batchId reuses an already-folded id " +
                s"with different documents — engine restarted without its " +
                s"checkpoint (pass queryCheckpointLocation). Rebasing WAL " +
                s"ids by +$idOffset and folding as new data.")
          }
          val walId = batchId + math.max(0L, idOffset)
          val (keptIds, extended) =
            ops.probeAndLog(state.index, batch, checkpointPath, walId)
          // Sink keyed by walId, not the raw engine id: after a rebase the
          // engine reuses ids a PREVIOUS run already landed under, and an
          // idempotent per-batch sink keyed by the raw id would overwrite
          // that run's output. walId == batchId whenever no rebase
          // occurred, so replay idempotence (which only arises pre-rebase)
          // is unaffected.
          sink(batch.join(keptIds.withColumnRenamed("doc_id", ops.idCol),
            Seq(ops.idCol), "left_semi"), walId)
          val next =
            if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
              val toRelease = retired
              retired = ops.layers(extended)
              val compacted = ops.compact(extended)
              checkpointPath.foreach { p =>
                ops.save(compacted, p, walId, keptIds)
                // Keep this batch's own delta: its id-list is what future
                // replay detection for the generation batch checks.
                ops.clearDeltas(spark, p, upTo = walId - 1)
              }
              toRelease.foreach(_.unpersist(false))
              compacted
            } else extended
          state.adopt(next, walId)
          }
        }
    }
  }
}
