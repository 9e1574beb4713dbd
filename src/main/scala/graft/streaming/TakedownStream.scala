package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Similarity}

/** Arrival-time TAKEDOWN — the seventh stream family: a continuous feed of
  * deletion events (content withdrawals, GDPR erasure requests) applied
  * across the engine's persisted index families as they arrive, instead of
  * as operator-driven batch calls (s9/d17's shape). Each event names the
  * FAMILY it targets:
  *
  *   - `fp`   — content fingerprint leaves the exact-dedup "seen ever" set
  *              (future identical arrivals are ADMITTED again); the event
  *              carries the content text.
  *   - `nd`   — the content's shingle sketch leaves the NEAR-dup index
  *              (future arrivals near-duplicating it are admitted again);
  *              content-addressed via the text, resolved to index ids at
  *              WAL time so the replayed tombstone is byte-stable.
  *   - `sem`  — the id's vector leaves the semantic-dedup index (future
  *              arrivals semantically duplicating it are admitted again;
  *              the frozen quantizer is untouched).
  *   - `wn`   — the content's winnow postings leave the posting list
  *              (content-addressed via winnow-set identity, resolved to
  *              index ids at WAL time: a dropped re-post folded postings
  *              under its OWN id, so an id-only delete would leave those
  *              gating) and their frequency contribution is subtracted.
  *   - `ss`   — the content's counts leave the substring gate's frequency
  *              table (a negative layer). Content-addressed like nd/wn:
  *              the fold multiplicity k is resolved from the index's
  *              per-content identity rows at WAL time, so ONE event
  *              subtracts ALL k folded arrivals of that content, and a
  *              re-withdrawal resolves k = 0
  *              ([[SubstringStream.delete]] contract).
  *   - `ivf`  — the id is tombstoned out of every registered IVF serving
  *              index (masked at load, applied physically at the next
  *              compaction).
  *   - `pq`   — same for the registered PQ indexes.
  *   - `export` — the doc's TOKENS are physically erased from the landed
  *              pack shards ([[PackStream.retract]]): the one leg that
  *              reaches the exported data product itself, not just the
  *              gates that admit future arrivals.
  *
  * Durability is the house WAL-before-side-effects rule with one twist the
  * batch paths don't need: REPLAYED takedowns must not re-append. A
  * tombstone's position in the batch sequence is semantic (content deleted
  * then re-admitted stays admitted; an id deleted, compacted away, then
  * re-appended stays re-appended), so a crash-window replay that appended
  * a SECOND tombstone would land the delete at a later logical position
  * than it actually happened. The stream therefore assigns each batch its
  * tombstone positions ONCE, records them in its WAL (`params` written
  * last as the commit marker), and applies them via keyed OVERWRITE writes
  * ([[Dedup.TombstoneLog]], [[Similarity.writeKeyedTombstone]]) —
  * the replay rewrites the same tombstones at the same positions,
  * byte-identical, and the `applied` marker makes the whole batch
  * skippable once it is down. Kill -9 anywhere between the WAL commit and
  * the applied marker is recovered by re-running the idempotent applies;
  * after the applied marker, by skipping.
  *
  * Scale: every write is takedown-sized (one small parquet per batch per
  * family); the indexes themselves are untouched until their own
  * compaction folds the masks in. State is the WAL of recent batches —
  * applied batches older than the engine's replay window are prunable
  * (retained here for one [[compactEvery]]-style cycle via
  * [[pruneApplied]]). */
object TakedownStream {

  /** Where the takedowns land: the exact-dedup stream's live state + its
    * checkpoint (content tombstones), and the saved IVF/PQ index paths
    * (id tombstones). Any of them may be empty — a takedown feed can
    * serve one family alone. */
  final case class Targets(
      fp: Option[(FpDedupStream.IndexState, String)] = None,
      nd: Option[(NearDupStream.IndexState, String)] = None,
      sem: Option[(SemDedupStream.IndexState, String)] = None,
      wn: Option[(WinnowStream.IndexState, String)] = None,
      ss: Option[(SubstringStream.IndexState, String)] = None,
      ivf: Seq[String] = Nil,
      pq: Seq[String] = Nil,
      /** The LANDED export itself: the pack stream's handle plus its
        * output root. A `family=export` event (cid = doc id) erases the
        * doc's tokens from the already-written pack shards via
        * [[PackStream.retract]] — the GDPR leg that reaches the data
        * product, not just the gates. Register it alongside `fp` when the
        * export pipeline is live: the exact-dedup stage's state lock then
        * serializes the retraction against in-flight folds. */
      export: Option[(PackStream.Handle, String)] = None)

  final class Handle(val path: String)

  /** Event-batch WAL layout: `$path/b<id>/events` (the batch's rows),
    * `$path/b<id>/params` (replay fingerprint + assigned tombstone
    * positions; the WAL commit marker), `$path/b<id>/applied` (the
    * all-side-effects-landed marker). */
  private def bDir(path: String, b: Long) = s"$path/b$b"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedBatches(spark: SparkSession,
      path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, path)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("b\\d+") => n.drop(1).toLong }
      .filter(b => f.exists(new org.apache.hadoop.fs.Path(
        s"${bDir(path, b)}/params/_SUCCESS")))
      .sorted
  }

  /** Load-or-bootstrap: nothing to build — the handle is the WAL root. */
  def resume(spark: SparkSession, path: String): Handle = {
    fs(spark, path).mkdirs(new org.apache.hadoop.fs.Path(path))
    new Handle(path)
  }

  /** Order-independent replay fingerprint over (family, cid, text) —
    * the cheap pre-filter; [[sameEvents]] is the exact check. */
  private def fingerprint(batch: DataFrame): (Long, Long) = {
    val r = batch.select(xxhash64(col("family"),
        col("cid").cast("string"), coalesce(col("text"), lit(""))).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Exact multiset equality of two event frames. The XOR fingerprint
    * alone can collide (a repeated event XORs itself away, so
    * {X,X,Y} and {Y,Z,Z} share (h(Y), 3) — and takedown feeds naturally
    * carry duplicate reports); a misclassified "replay" here silently
    * DROPS deletions, so the replay decision uses the recorded events
    * themselves, counted. */
  private def sameEvents(a: DataFrame, b: DataFrame): Boolean = {
    def canon(df: DataFrame): DataFrame =
      df.groupBy("family", "cid", "text").agg(count(lit(1)).as("cnt"))
    val ca = canon(a)
    val cb = canon(b)
    ca.count() == cb.count() && ca.except(cb).limit(1).collect().isEmpty
  }

  /** One takedown micro-batch, runnable standalone for backfill and
    * specs. `batch` columns: family string ("fp"/"nd"/"sem"/"ivf"/"pq"),
    * cid long (the id; resolved from content for fp/nd), text string
    * (the content; fp/nd only). Events for a family with no registered target
    * are warned about and skipped — they do NOT fail the batch (the feed
    * may fan out to several takedown streams, each owning a subset).
    * Returns the effective batch id. `afterApply` is the test seam inside
    * the crash window (tombstones landed, applied marker not yet).
    *
    * Duplicate-batch hazard: when `engineBatchId` reuses a committed id
    * (checkpoint lost / standalone calls), a batch whose events exactly
    * equal that committed batch's is classified as a REPLAY and skipped —
    * see [[run]] for why callers must keep ids monotone (streaming:
    * `queryCheckpointLocation`; standalone: pass fresh, increasing ids)
    * if identical re-deletion requests must re-apply. */
  def processBatch(
      handle: Handle,
      targets: Targets,
      batch: DataFrame,
      engineBatchId: Long,
      afterApply: () => Unit = () => ()): Long = {
    val spark = batch.sparkSession
    val f = fs(spark, handle.path)
    val events = batch.select(col("family").cast("string").as("family"),
      col("cid").cast("long").as("cid"), col("text").cast("string").as("text"))
    val fp = fingerprint(events)
    val committed = committedBatches(spark, handle.path)
    val hwm = committed.maxOption.getOrElse(-1L)
    def isReplay(b: Long): Boolean = committed.contains(b) && {
      val p = spark.read.parquet(s"${bDir(handle.path, b)}/params").head()
      // Fingerprint pre-filter, then the exact recorded-event comparison.
      (p.getLong(0), p.getLong(1)) == fp &&
        sameEvents(events,
          graft.sources.Sink.readOwn(spark,
            Seq(s"${bDir(handle.path, b)}/events"), quarantine = false))
    }
    // Replay recognition scans committed batches UPWARD from the raw
    // engine id (the DedupLoop.findMatchingDelta rule): a batch a prior
    // run REBASED is recorded under a higher id, and re-applying it at
    // yet another position would land the same deletions twice — the
    // double-apply this stream exists to prevent.
    val effectiveId =
      if (engineBatchId > hwm) engineBatchId
      else committed.filter(_ >= engineBatchId).find(isReplay) match {
        case Some(b) => b
        case None =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"TakedownStream: batch $engineBatchId reuses a committed id " +
              "with different events — rebasing above the high-water mark " +
              "(pass queryCheckpointLocation to avoid this).")
          hwm + 1
      }
    val dir = bDir(handle.path, effectiveId)
    val appliedMarker = new org.apache.hadoop.fs.Path(
      s"$dir/applied/_SUCCESS")
    if (committed.contains(effectiveId) && f.exists(appliedMarker)) {
      // Full replay of a fully-applied batch: every tombstone is already
      // down at its recorded position (and, for fp, the live state was
      // restored THROUGH those tombstones by FpDedupStream.resume) — skip.
      return effectiveId
    }
    val replaying = committed.contains(effectiveId)
    // The five persisted index families, each with its tombstone log
    // ([[Dedup.TombstoneLog]]), in the WAL `params` column order
    // (`<fam>_seq`, `<fam>_after`).
    val families: Seq[(String, Option[(DedupLoop.IndexState[_], String)],
        Dedup.TombstoneLog)] = Seq(
      ("fp", targets.fp, Dedup.TombstoneLog.Fps),
      ("nd", targets.nd, Dedup.TombstoneLog.Ids),
      ("sem", targets.sem, Dedup.TombstoneLog.Ids),
      ("wn", targets.wn, Dedup.TombstoneLog.Ids),
      ("ss", targets.ss, Dedup.TombstoneLog.Neg))
    // Every present target's lock is held for the WHOLE batch — WAL leg
    // through applied marker, fixed fp→nd→sem→wn→ss order (the same
    // nesting the composed export loop uses, so no cycle). The recorded
    // tombstone positions (lastFoldedBatch at WAL time) must stay the
    // LIVE positions until the tombstones land: without the locks a
    // concurrent fold + compaction could commit a generation AHEAD of a
    // tombstone tagged behind it, which a post-crash restore would then
    // skip as stale — a silently lost takedown.
    def lockAll[A](g: => A): A =
      families.flatMap(_._2).foldRight(() => g) { case ((st, _), inner) =>
        () => st.withExclusive(inner())
      }()
    lockAll {
    // WAL leg (first attempt only): events first, then params — the
    // assigned tombstone positions ride in params so the commit marker
    // covers them. A replay reuses the recorded assignment.
    val (positions, exOn) =
      if (replaying) {
        val p = spark.read.parquet(s"$dir/params").head()
        // Schema-presence guard: a WAL batch recorded before a family
        // existed replays with that family disabled (-1) instead of
        // wedging the stream on a missing column.
        def g(name: String): Long =
          if (p.schema.fieldNames.contains(name)) p.getAs[Long](name)
          else -1L
        (families.map { case (fam, _, _) =>
          fam -> (g(s"${fam}_seq"), g(s"${fam}_after")) }.toMap, g("ex_on"))
      } else {
        val assigned = families.map { case (fam, target, log) =>
          fam -> target.fold((-1L, -1L)) { case (state, ckpt) =>
            (log.nextSeq(spark, ckpt), state.lastFoldedBatch)
          }
        }
        // The export leg carries no position (retraction is
        // content-addressed through the lineage manifest), only the
        // was-a-target-registered flag the replay guard needs.
        val exon = if (targets.export.isDefined) 0L else -1L
        events.coalesce(1).write.mode("overwrite").parquet(s"$dir/events")
        // nd takedowns are content-addressed but their tombstone payload
        // is the RESOLVED index ids — resolved once, here, against the
        // live index, and recorded so a crash-window replay rewrites
        // byte-identical tombstones even after the index moved on.
        targets.nd.foreach { case (state, _) =>
          val docs = events.where(col("family") === "nd")
            .select(col("cid").as("doc_id"), col("text"))
          if (!docs.isEmpty)
            // resolveNearDupIds, not deleteNearDupContent: the resolved
            // frame is written once and forgotten — the delete op's
            // persisted sketch layers would leak one pair per batch over
            // the stream's lifetime.
            Dedup.resolveNearDupIds(state.index, docs, "doc_id", "text")
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$dir/nd_ids")
        }
        targets.wn.foreach { case (state, _) =>
          val docs = events.where(col("family") === "wn")
            .select(col("cid").as("doc_id"), col("text"))
          if (!docs.isEmpty)
            Dedup.resolveWinnowIds(state.index, docs, "doc_id", "text")
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$dir/wn_ids")
        }
        // ss takedowns are content-addressed like nd/wn: the negative
        // layer (fold multiplicity k × window counts + identity rows,
        // resolveSsNeg) is resolved ONCE against the live index and
        // recorded, so a crash-window replay rewrites byte-identical
        // bytes even after the index moved on.
        targets.ss.foreach { case (state, _) =>
          val docs = events.where(col("family") === "ss")
            .select(col("cid").as("doc_id"), col("text"))
          if (!docs.isEmpty) {
            val log = org.slf4j.LoggerFactory.getLogger(getClass)
            // Capability-routed (ADVICE r11): against an index that never
            // folded identity rows (pre-upgrade checkpoint, bare
            // buildSubstringIndex) content-addressed resolution is a
            // GUARANTEED silent no-op on this compliance-critical path —
            // fall back to the per-arrival subtraction (the pre-upgrade
            // semantics: one event erases one arrival) and say so loudly.
            val neg =
              if (state.index.hasIdentityRows)
                Dedup.resolveSsNeg(state.index, docs, "doc_id", "text")
              else {
                log.warn("TakedownStream: ss index carries no identity " +
                  "rows (pre-upgrade checkpoint or bare " +
                  "buildSubstringIndex) — content-addressed resolution " +
                  "would erase NOTHING; falling back to per-arrival " +
                  "subtraction (one event = one arrival; k folded " +
                  "re-posts need k events).")
                Dedup.substringNegFreq(docs, "doc_id", "text",
                  state.index.windowTokens)
              }
            neg.coalesce(1).write.mode("overwrite")
              .parquet(s"$dir/ss_neg")
            // All-zero resolution against a capable index: benign only if
            // the contents were never admitted / already withdrawn — a
            // compliance operator must SEE that nothing was subtracted.
            if (state.index.hasIdentityRows &&
                spark.read.parquet(s"$dir/ss_neg").isEmpty)
              log.warn(s"TakedownStream: batch $effectiveId — NO ss event " +
                "resolved to a recorded fold (k = 0 for every withdrawn " +
                "content: never admitted, or already withdrawn). The ss " +
                "takedown leg subtracts nothing this batch.")
          }
        }
        val names = Seq("batch_fp", "batch_n") ++ assigned.flatMap {
          case (fam, _) => Seq(s"${fam}_seq", s"${fam}_after") } :+ "ex_on"
        val values = Seq(fp._1, fp._2) ++ assigned.flatMap {
          case (_, (seq, after)) => Seq(seq, after) } :+ exon
        spark.createDataFrame(
            java.util.List.of(org.apache.spark.sql.Row.fromSeq(values)),
            org.apache.spark.sql.types.StructType(names.map(n =>
              org.apache.spark.sql.types.StructField(n,
                org.apache.spark.sql.types.LongType, nullable = false))))
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
        (assigned.toMap, exon)
      }
    // Side effects — each an idempotent keyed overwrite, so this block
    // re-runs safely after a crash anywhere inside it.
    val recorded = graft.sources.Sink.readOwn(spark,
      Seq(s"$dir/events"), quarantine = false)
    locally {
      val unrouted = Seq(
        "fp" -> targets.fp.isEmpty, "nd" -> targets.nd.isEmpty,
        "sem" -> targets.sem.isEmpty, "wn" -> targets.wn.isEmpty,
        "ss" -> targets.ss.isEmpty,
        "ivf" -> targets.ivf.isEmpty, "pq" -> targets.pq.isEmpty,
        "export" -> targets.export.isEmpty)
        .collect { case (fam, true) => fam }
      if (unrouted.nonEmpty) {
        val present = recorded.where(col("family").isin(unrouted: _*))
          .groupBy("family").count().collect()
        present.foreach(r => org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"TakedownStream: batch $effectiveId has ${r.getLong(1)} " +
            s"'${r.getString(0)}' events but no ${r.getString(0)} target " +
            "is registered — skipped (another stream may own that family)."))
      }
    }
    // Replay-disabled-family guard: a WAL batch that recorded -1 for a
    // family (no target registered at WAL time, or params written by an
    // older schema) must NOT run that family's apply leg even if a target
    // is registered NOW — the nd/wn legs would read resolved-id files the
    // WAL leg never wrote (wedging the stream), and the fp/sem/ss legs
    // would write a `t-1_b…` tombstone that the restore-time `t\d+` scan
    // silently ignores: applied in memory, invisible on disk, lost on the
    // next restart. Skipping (loudly) matches the documented "replays with
    // that family disabled" contract.
    def familyEnabled(fam: String, seq: Long): Boolean = {
      val ok = seq >= 0L
      if (!ok) org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"TakedownStream: batch $effectiveId replays with family '$fam' " +
          "disabled (no target was registered when its WAL committed) — " +
          "events for that family are skipped; re-submit them as a new " +
          "batch to apply against the now-registered target.")
      ok
    }
    def famRows(fam: String) = recorded.where(col("family") === fam)
      .select(col("cid").as("doc_id"), col("text"))
    def walRows(name: String) = graft.sources.Sink.readOwn(spark,
      Seq(s"$dir/$name"), quarantine = false)
    val logs = families.map { case (fam, _, log) => fam -> log }.toMap
    // One family's tombstone leg: the payload lands at its recorded
    // position, then the live state shrinks by it (the keyed write is the
    // durable leg; no second append). If the tombstone already committed
    // (crash landed between it and the applied marker, then restart), the
    // live state was restored THROUGH it at its recorded position —
    // re-shrinking NOW would apply the delete at a later position than it
    // happened and could drop content an interleaved batch re-admitted.
    // Nor is the tombstone rewritten: it is byte-identical by design, and
    // the overwrite's delete-then-write window would let a second crash
    // strip `_SUCCESS` from an already-committed tombstone — the restore
    // would then skip it and the withdrawal would be lost.
    def tombLeg[I](fam: String,
        target: Option[(DedupLoop.IndexState[I], String)])(
        payload: DedupLoop.IndexState[I] => DataFrame)(
        shrink: (DedupLoop.IndexState[I], DataFrame) => Unit): Unit =
      target.foreach { case (state, ckpt) =>
        val (seq, after) = positions(fam)
        if (!famRows(fam).isEmpty && familyEnabled(fam, seq))
          state.withExclusive {
            if (!logs(fam).committed(spark, ckpt, seq, after)) {
              val rows = payload(state)
              logs(fam).writeAt(ckpt, rows, seq, after)
              shrink(state, rows)
            }
          }
      }
    tombLeg("fp", targets.fp)(_ => famRows("fp")
      .select(graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .distinct())((state, _) =>
      FpDedupStream.delete(state, None, famRows("fp"), "text"))
    // nd/wn shrink by the RECORDED ids, not by content re-resolution,
    // which would also match docs re-admitted since the first attempt.
    tombLeg("nd", targets.nd)(_ => walRows("nd_ids"))((state, ids) =>
      state.adopt(Dedup.removeNearDupIds(state.index, ids)))
    tombLeg("sem", targets.sem)(_ =>
      recorded.where(col("family") === "sem").select(col("cid").as("id")))(
      (state, ids) => state.adopt(Dedup.removeSemIds(state.index, ids)))
    tombLeg("wn", targets.wn)(_ => walRows("wn_ids"))((state, ids) =>
      state.adopt(Dedup.removeWinnowIds(state.index, ids)))
    // ss: the RECORDED content-addressed layer (resolved at WAL time, like
    // nd_ids/wn_ids). A WAL batch recorded before the upgrade has no
    // ss_neg file; its original apply was per-arrival, so the byte-stable
    // replay is the same per-arrival recompute.
    tombLeg("ss", targets.ss)(state =>
      if (fs(spark, handle.path).exists(
          new org.apache.hadoop.fs.Path(s"$dir/ss_neg"))) walRows("ss_neg")
      else Dedup.substringNegFreq(famRows("ss"), "doc_id", "text",
        state.index.windowTokens))((state, neg) =>
      state.adopt(Dedup.applySubstringNeg(state.index, neg)))
    // The key carries the WAL identity and the batch's event fingerprint:
    // a second takedown WAL (or a recreated one) targeting the same index
    // gets its own keys instead of overwriting earlier tombstones, while
    // a genuine replay (same WAL, same events) rewrites the same key. The
    // WAL identity is a truncated SHA-1 of the path — String.hashCode is
    // 32-bit and trivially collidable, and two colliding WALs sharing an
    // effectiveId + event fingerprint would overwrite each other's keyed
    // tombstone, dropping one feed's deletions from the mask.
    val walDigest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(handle.path.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
    val tdKey = s"td_${walDigest}_b${effectiveId}_" +
      java.lang.Long.toHexString(fp._1)
    val ivfIds = recorded.where(col("family") === "ivf").select("cid")
    if (!ivfIds.isEmpty) targets.ivf.foreach(p =>
      Similarity.writeKeyedTombstone(p, ivfIds, "cid", tdKey))
    val pqIds = recorded.where(col("family") === "pq").select("cid")
    if (!pqIds.isEmpty) targets.pq.foreach(p =>
      Similarity.writeKeyedTombstone(p, pqIds, "cid", tdKey))
    // Export erasure: reaches the landed pack shards through
    // [[PackStream.retract]]'s own keyed WAL — tdKey makes a replay of
    // this batch re-enter the same retraction (skipped once applied,
    // re-run idempotently from its WAL if the crash hit mid-apply).
    targets.export.foreach { case (ph, packOut) =>
      val exIds = recorded.where(col("family") === "export")
        .select(col("cid").as("doc_id"))
      if (!exIds.isEmpty && familyEnabled("export", exOn))
        PackStream.retract(spark, ph, packOut, exIds,
          requestKey = Some(tdKey)): Unit
    }
    afterApply()
    locally {
      import spark.implicits._
      Seq(Tuple1(effectiveId)).toDF("batch_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/applied")
    }
    }
    effectiveId
  }

  /** Drop fully-applied WAL batches older than the newest `keep` — the
    * takedown analog of the dedup families' delta pruning; call on the
    * operator's compaction cadence. Batches inside the engine's replay
    * window must be kept (the default one-cycle retention mirrors
    * [[PackStream]]'s generation policy). */
  def pruneApplied(spark: SparkSession, handle: Handle,
      keep: Int = 2): Unit = {
    val f = fs(spark, handle.path)
    val applied = committedBatches(spark, handle.path).filter(b =>
      f.exists(new org.apache.hadoop.fs.Path(
        s"${bDir(handle.path, b)}/applied/_SUCCESS")))
    applied.dropRight(keep).foreach(b =>
      f.delete(new org.apache.hadoop.fs.Path(bDir(handle.path, b)), true))
  }

  /** Start the takedown stream over an event feed with columns
    * (family, cid, text).
    *
    * ALWAYS pass `queryCheckpointLocation` in production. Without it the
    * engine restarts batch ids from 0, and replay recognition falls back
    * to comparing recorded events: a genuinely NEW batch whose events are
    * byte-identical to an already-applied committed batch (a deliberate
    * re-deletion of re-admitted content — takedown feeds naturally carry
    * duplicate reports) is then indistinguishable from a replay and is
    * skipped instead of applied at its later logical position. With the
    * checkpoint, engine batch ids are monotone and the ambiguity never
    * arises. If the checkpoint is ever lost, make re-submitted deletions
    * distinguishable (e.g. vary the event set, or include a request
    * timestamp in `text` for fp/nd/wn families it doesn't fingerprint
    * into content resolution… simplest: a fresh WAL path). */
  def run(
      events: DataFrame,
      handle: Handle,
      targets: Targets,
      queryCheckpointLocation: Option[String] = None): StreamingQuery = {
    val writer = events.writeStream
    queryCheckpointLocation.fold(writer)(p =>
        writer.option("checkpointLocation", p))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(handle, targets, batch, batchId): Unit
      }
      .start()
  }
}
