package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Bpe, Packing}

/** Streaming tokenized-dataset EXPORT — the arrival-time twin of
  * `x7_tokenized_export`, completing the pipeline's streaming story: the
  * dedup families gate arrivals, this stage TOKENIZES AND PACKS what
  * survives into fixed context windows, continuously.
  *
  * The tokenizer (BPE merges + vocab) is FROZEN at bootstrap — the
  * production contract: a training run's token ids must mean the same
  * thing on day 90 as on day 1, so arrivals encode through the saved
  * model (unseen characters map to the OOV id −1) and a model change is a
  * new export, never an in-place mutation. Packing state is tiny by
  * construction — per shard, the next pack id and at most window−1
  * carried-over token ids — and is checkpointed as a COMMITTED GENERATION
  * per batch (params written last as the marker, previous generation
  * retained), so every batch's packs are a pure function of
  * (previous committed state, batch):
  *   - crash anywhere between sink and commit → the engine replays the
  *     batch, the recompute from the previous generation is bit-identical,
  *     and the batch-id-keyed idempotent sink overwrites its earlier
  *     attempt — exactly-once landed packs;
  *   - engine restart WITHOUT its checkpoint (batch ids reset) → the
  *     replay fingerprint recorded in each generation's params
  *     distinguishes a genuine replay (same ids + content → recompute and
  *     overwrite under the original id) from id reuse with different docs
  *     (→ rebase above the committed high-water mark and fold as new).
  * Within a batch, docs pack in doc_id order; across batches, in arrival
  * order — the honest streaming semantics (a batch-mode x7 over the same
  * arrival sequence packs identically, spec-asserted). */
object PackStream {

  /** The frozen tokenizer + layout parameters, loaded once per resume.
    * `tokenizer` picks the FAMILY — "bpe" (merges) or "unigram"
    * (round 16: the SentencePiece-style model, [[graft.operators
    * .Unigram]]) — persisted at bootstrap like every other gate param
    * and fail-loud on a mismatched resume; `merges`/`unigram` carry
    * whichever family is active. */
  final case class Model(merges: Seq[Bpe.Merge], vocab: Map[String, Long],
      nShards: Long, window: Int, tokenizer: String = "bpe",
      unigram: Option[graft.operators.Unigram.Model] = None) {
    /** The family's corpus encode — the ONE splice point every token
      * that enters a pack flows through (bootstrap vocab, per-batch
      * encode, and the batch-mode parity spec all call this). */
    def encodeText(text: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = tokenizer match {
      case "bpe" => Bpe.encode(text, merges)
      case "unigram" => graft.operators.Unigram.encode(text,
        unigram.getOrElse(throw new IllegalStateException(
          "unigram tokenizer with no persisted model — the export's " +
            "model directory is torn; re-bootstrap or restore model/")))
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer family '$other' (bpe|unigram)")
    }
  }

  final class Handle(val path: String, val model: Model) {
    /** Landed-batch compaction high-water mark for THIS run: batch dirs
      * `<= compactedThrough` were already swept by [[compactPacks]], so a
      * cadence fire only lists/rewrites the dirs landed since. In-memory
      * on purpose — a restart resets it to -1 and the first sweep covers
      * the whole layout once (idempotent: already-compact leaves are
      * list-only), which also finishes any swap a mid-compaction crash
      * left behind. */
    @volatile private[streaming] var compactedThrough: Long = -1L
  }

  /** The handle's landed-compaction high-water mark (observability +
    * specs): batch dirs at or below it were swept clean by
    * [[compactPacks]]; a batch whose sweep had an aborted leaf holds the
    * mark back so the next cadence fire retries it. */
  def packCompactedThrough(handle: Handle): Long = handle.compactedThrough

  private def modelDir(path: String) = s"$path/model"
  private def stateRoot(path: String) = s"$path/state"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation directory names: `g<n>` for a batch-committed generation,
    * `g<n>r<k>` for a RETRACTION REVISION of logical generation `n` — the
    * same post-batch-`n-1` state with withdrawn content excised. A
    * revision supersedes the plain directory (and lower revisions) for
    * every read; it gets its own directory because overwriting the live
    * generation in place would open a delete-then-write crash window on
    * the only committed state. */
  private val GenName = "g(\\d+)(?:r(\\d+))?".r

  /** Committed LOGICAL state generations (params marker present on the
    * plain directory or any revision), ascending, deduplicated. */
  private def committedGens(spark: SparkSession, path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(stateRoot(path))
    val f = fs(spark, path)
    if (!f.exists(root)) Nil
    else f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case GenName(g, _) => g.toLong }
      .distinct
      .filter(g => f.exists(new org.apache.hadoop.fs.Path(
        s"${genDir(spark, path, g)}/params/_SUCCESS")))
      .sorted
  }

  /** Newest committed revision directory of logical generation `g` (the
    * plain `g<n>` when no retraction has revised it). Revisions without a
    * params marker (a crashed retraction's partial write) are ignored —
    * the retraction replay rewrites them. */
  private def genDir(spark: SparkSession, path: String, g: Long): String = {
    val f = fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(stateRoot(path))
    val best =
      if (!f.exists(root)) None
      else f.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n @ GenName(lg, r) if lg.toLong == g =>
          (Option(r).map(_.toLong).getOrElse(0L), n) }
        .filter { case (_, n) => f.exists(new org.apache.hadoop.fs.Path(
          s"${stateRoot(path)}/$n/params/_SUCCESS")) }
        .sortBy(_._1).lastOption.map(_._2)
    s"${stateRoot(path)}/${best.getOrElse(s"g$g")}"
  }

  /** Delete every revision directory of logical generation `g`. */
  private def deleteGen(spark: SparkSession, path: String, g: Long): Unit = {
    val f = fs(spark, path)
    val root = new org.apache.hadoop.fs.Path(stateRoot(path))
    if (f.exists(root)) f.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n @ GenName(lg, _) if lg.toLong == g => n }
      .foreach(n => f.delete(
        new org.apache.hadoop.fs.Path(s"${stateRoot(path)}/$n"), true))
  }

  /** Where a NEW generation commits — always the plain name; only
    * retraction writes revisions. */
  private def plainGenDir(path: String, g: Long) = s"${stateRoot(path)}/g$g"

  private def manifestDir(path: String, b: Long) = s"$path/manifest/b$b"

  /** Bootstrap-or-load ([[FpDedupStream.resume]] contract): train the
    * tokenizer on `corpus` and write the initial empty packing state, or
    * restore the committed model + newest state so a restarted stream
    * continues the same pack numbering and carried tokens.
    *
    * Size `nShards` to the CLUSTER, not the default: each shard's token
    * stream is sequential by construction (the carried-window contract),
    * so packing parallelism — the per-shard offset cumsum and the sink
    * write — is exactly nShards-wide forever. Like the tokenizer, the
    * shard count FREEZES at bootstrap (per-shard carried state and pack
    * numbering are the durable artifact; changing the doc→shard map is a
    * new export, never an in-place mutation), so an operator on a
    * 1000-core cluster should bootstrap with nShards in the hundreds. */
  def resume(
      spark: SparkSession,
      path: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      nShards: Long = 8L,
      nMerges: Int = 24,
      window: Int = 1024,
      // Tokenizer FAMILY (round 16): "bpe" | "unigram" | "" — empty
      // inherits the committed family on resume (and bpe at bootstrap);
      // a NON-empty value that disagrees with the committed one fails
      // loudly (the gate-params pattern: a resumed export must never
      // silently re-tokenize under a different model family).
      tokenizer: String = "",
      unigramVocab: Int = 256): Handle = {
    require(Set("", "bpe", "unigram")(tokenizer),
      s"tokenizer must be bpe|unigram (or empty = inherit), got " +
        s"'$tokenizer'")
    val mdir = modelDir(path)
    val f = fs(spark, path)
    val committed = new org.apache.hadoop.fs.Path(s"$mdir/params/_SUCCESS")
    if (!f.exists(committed)) {
      val family = if (tokenizer.isEmpty) "bpe" else tokenizer
      val hist = Bpe.wordHistogram(
        corpus.select(col(textCol).as("text")), "text")
      val (merges, um) =
        if (family == "bpe") (Bpe.train(hist, nMerges), None)
        else (Nil, Some(graft.operators.Unigram.train(hist,
          vocabSize = unigramVocab,
          seedSize = math.max(4 * unigramVocab, unigramVocab + 64),
          maxPieceLen = 6, emRounds = 3)))
      val model0 = Model(merges, Map.empty, nShards, window, family, um)
      // Vocab from the corpus ENCODE — bounded by the model (BPE: base
      // symbols + one per merge; unigram: the trained piece table), the
      // centroids discipline.
      val vocabToks = corpus
        .select(explode(model0.encodeText(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("token"))
        .collect().map(_.getString(0))
      import spark.implicits._
      // Family model artifacts land BEFORE the params commit marker: an
      // interrupted bootstrap reruns whole.
      Bpe.mergesFrame(spark, merges).coalesce(1)
        .write.mode("overwrite").parquet(s"$mdir/merges")
      um.foreach(m =>
        graft.operators.Unigram.save(spark, m, s"$mdir/unigram"))
      vocabToks.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toSeq
        .toDF("token", "tid").coalesce(1)
        .write.mode("overwrite").parquet(s"$mdir/vocab")
      // Initial state: every shard at pack 0 with nothing carried. Written
      // before the model params marker — an interrupted bootstrap reruns
      // whole.
      (0L until nShards).map(sh => (sh, 0L, Array.empty[Long])).toSeq
        .toDF("shard", "next_pack", "pending").coalesce(1)
        .write.mode("overwrite").parquet(s"${plainGenDir(path, 0L)}/pending")
      Seq((0L, 0L, 0L)).toDF("batch_fp", "batch_n", "batch_id").coalesce(1)
        .write.mode("overwrite").parquet(s"${plainGenDir(path, 0L)}/params")
      Seq((nShards, window, nMerges, family))
        .toDF("n_shards", "window", "n_merges", "tokenizer")
        .coalesce(1).write.mode("overwrite").parquet(s"$mdir/params")
    }
    val p = spark.read.parquet(s"$mdir/params").head()
    // Pre-round-16 exports have no tokenizer column — they are BPE by
    // construction.
    val storedFamily =
      if (p.schema.fieldNames.contains("tokenizer"))
        p.getAs[String]("tokenizer")
      else "bpe"
    require(tokenizer.isEmpty || tokenizer == storedFamily,
      s"PackStream.resume: caller asked for tokenizer='$tokenizer' but " +
        s"this export was bootstrapped with '$storedFamily' ($mdir) — " +
        "the family is frozen; start a new export root to change it")
    val merges = spark.read.parquet(s"$mdir/merges").orderBy("rank")
      .collect().map(r => Bpe.Merge(r.getInt(0), r.getString(1),
        r.getString(2))).toSeq
    val um =
      if (storedFamily == "unigram")
        Some(graft.operators.Unigram.load(spark, s"$mdir/unigram"))
      else None
    val vocab = spark.read.parquet(s"$mdir/vocab")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    new Handle(path, Model(merges, vocab, p.getLong(0), p.getInt(1),
      storedFamily, um))
  }

  /** Order-independent replay fingerprint of a batch: (XOR of
    * xxhash64(id, text), row count) — XOR instead of a sum because ANSI
    * mode makes a long sum of 64-bit hashes an overflow error. */
  private def fingerprint(batch: DataFrame, idCol: String,
      textCol: String): (Long, Long) = {
    val r = batch.select(
      xxhash64(col(idCol).cast("string"), col(textCol)).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One micro-batch, runnable standalone for backfill and specs: pack the
    * batch from the newest committed state strictly BELOW the effective
    * id, land full packs via the batch-id-keyed idempotent sink, commit
    * the successor state generation. Returns the effective batch id. */
  def processBatch(
      handle: Handle,
      batch: DataFrame,
      engineBatchId: Long,
      idCol: String,
      textCol: String,
      outPath: String,
      // Test seam: runs between the pack sink and the state commit — the
      // crash window CrashRestartSpec's kill -9 child aims at.
      afterSink: () => Unit = () => ()): Long = {
    val spark = batch.sparkSession
    val m = handle.model
    val gens = committedGens(spark, handle.path)
    val fp = fingerprint(batch, idCol, textCol)
    val hwm = gens.max // ≥ 0: bootstrap wrote generation 0
    // Engine ids start at 0; committed generation g holds the state AFTER
    // batch g-1 (generation 0 = bootstrap), so batch B reads the newest
    // generation ≤ B and commits generation B+1.
    def isReplay(gen: Long): Boolean = gens.contains(gen) && {
      val p = spark.read
        .parquet(s"${genDir(spark, handle.path, gen)}/params").head()
      (p.getLong(0), p.getLong(1)) == fp
    }
    val candidate: Long =
      if (engineBatchId + 1 > hwm) engineBatchId
      else if (isReplay(engineBatchId + 1)) {
        // Genuine replay (crash after commit, before offsets): recompute
        // from the same base — bit-identical packs overwrite the sink.
        // UNLESS a retraction ran inside the crash window: retract()
        // prunes every generation except its revision of the newest one,
        // so the replay's base is gone — BY DESIGN, a stale base could
        // resurrect withdrawn tokens. The batch's (post-erasure) output
        // is already landed and its manifest already scrubbed; the only
        // correct move is to SKIP the replay entirely — rebasing would
        // re-fold every surviving doc of the batch as new data and
        // silently duplicate it in the export. Detectable exactly: the
        // covering generation is a retraction revision (`retract_key` in
        // its params) and no generation at or below the replayed id
        // survives.
        if (!gens.exists(_ <= engineBatchId) &&
            spark.read
              .parquet(
                s"${genDir(spark, handle.path, engineBatchId + 1)}/params")
              .schema.fieldNames.contains("retract_key")) {
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"PackStream: batch $engineBatchId is a replay whose base " +
              "generation was pruned by a retraction — its post-erasure " +
              "output is already landed; skipping the replay.")
          return engineBatchId
        }
        engineBatchId
      } else {
        // Id reuse with different docs: engine restarted without its
        // checkpoint. Rebase above the committed high-water mark.
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"PackStream: batch $engineBatchId reuses a committed id with " +
            s"different documents — rebasing to $hwm and folding as " +
            "new data (pass queryCheckpointLocation to avoid this).")
        hwm
      }
    // A replay whose base generation was already pruned (only possible
    // after an exotic multi-rebase — the retraction case returns above)
    // has nothing to recompute from — fold as new data from the newest
    // state instead of failing the stream.
    val effectiveId: Long =
      if (gens.exists(_ <= candidate)) candidate else hwm
    val baseGen = gens.filter(_ <= effectiveId).max
    val state = spark.read
      .parquet(s"${genDir(spark, handle.path, baseGen)}/pending")

    val vmap = typedlit(m.vocab)
    val ids = batch.select(
      lit(1).as("pack_ord"),
      col(idCol).cast("long").as("doc_id"),
      pmod(col(idCol).cast("long"), lit(m.nShards)).as("shard"),
      transform(m.encodeText(col(textCol)),
        t => coalesce(element_at(vmap, t), lit(-1L))).as("tids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // LINEAGE manifest — the retraction story's backbone: one row per doc
    // with its token count and the content-hash tiebreak packWindows
    // orders ties by. (batch_id, doc_id, tie) reproduces each shard's
    // exact token stream order, so [[retract]] can locate any doc's token
    // span inside the landed packs WITHOUT retaining text or token ids —
    // manifest rows are doc-count-sized, the cheapest lineage that makes
    // erasure reach the data product. Written before the pack sink: a
    // replayed batch recomputes it bit-identically and overwrites.
    ids.select(lit(effectiveId).as("batch_id"), col("doc_id"), col("shard"),
        size(col("tids")).cast("long").as("n_tokens"),
        xxhash64(col("tids")).as("tie"))
      .coalesce(1).write.mode("overwrite")
      .parquet(manifestDir(handle.path, effectiveId))
    // Carried tokens ride under an explicit ordering rank that sorts
    // before every real arrival — not a sentinel doc_id, which a real
    // arrival could collide with and corrupt that shard's pack bytes.
    val pend = state.select(lit(0).as("pack_ord"), lit(-1L).as("doc_id"),
      col("shard"), col("pending").as("tids"))
    // Broadcast the (nShards-row) state side: packWindows' output is
    // already hash(shard)-partitioned (the per-shard offset cumsum needs
    // it — packing parallelism is nShards BY DESIGN, the layout knob an
    // operator sizes to the cluster), so a sort-merge join here would add
    // only a pointless sort + exchange of the tiny state frame. The sink
    // therefore writes ~one file per (batch, shard); multi-file leaves
    // come from retraction rewrites and schema-preserving backfills, and
    // the in-loop [[compactPacks]] cadence re-bounds them.
    val packed = Packing.packWindows(pend.unionByName(ids), m.window,
        orderCols = Seq("pack_ord", "doc_id"))
      .join(broadcast(state.select(col("shard"), col("next_pack"))),
        Seq("shard"))

    val full = packed.where(col("n_tokens") === m.window)
      .select(col("shard"), (col("next_pack") + col("pack_id")).as("pack_id"),
        col("n_tokens"),
        concat_ws(",", transform(col("tids"), t => t.cast("string")))
          .as("token_ids"))
    // Sharded landing layout (`b<id>/sh=<s>/`, shard kept as a data
    // column): [[retract]] can rewrite one shard of one batch without
    // touching the rest — at export scale, the difference between a
    // shard-sized and a batch-sized erasure rewrite.
    graft.sources.Sink.idempotentBatchSharded(full, outPath, effectiveId,
      "shard", "pack_id")
    afterSink()

    // Successor state: only a shard's LAST pack can be partial, so the
    // carried remainder is the (at most one) under-window pack.
    val touched = packed.groupBy("shard", "next_pack")
      .agg(sum(when(col("n_tokens") === m.window, 1L).otherwise(0L))
          .as("nf"),
        coalesce(first(when(col("n_tokens") < m.window, col("tids")),
          ignoreNulls = true), typedlit(Array.empty[Long])).as("pending"))
      .select(col("shard"), (col("next_pack") + col("nf")).as("next_pack"),
        col("pending"))
    val nextState = touched.unionByName(
      state.join(touched, Seq("shard"), "left_anti")
        .select("shard", "next_pack", "pending"))

    val nextGen = effectiveId + 1
    val gdir = plainGenDir(handle.path, nextGen)
    val f = fs(spark, handle.path)
    // A crashed earlier attempt may have left a partial target.
    if (f.exists(new org.apache.hadoop.fs.Path(gdir)) &&
        !f.exists(new org.apache.hadoop.fs.Path(s"$gdir/params/_SUCCESS")))
      f.delete(new org.apache.hadoop.fs.Path(gdir), true)
    nextState.coalesce(1).write.mode("overwrite").parquet(s"$gdir/pending")
    locally {
      import spark.implicits._
      Seq((fp._1, fp._2, effectiveId)).toDF("batch_fp", "batch_n", "batch_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$gdir/params")
    }
    // Keep the new generation and its base (one cycle of replay cover);
    // prune everything older.
    committedGens(spark, handle.path)
      .filterNot(g => g == nextGen || g == baseGen)
      .filter(_ < nextGen)
      .foreach(g => deleteGen(spark, handle.path, g))
    ids.unpersist(false)
    effectiveId
  }

  /** Small-files compaction over the LANDED pack layout — the in-loop
    * maintenance that keeps the data product readable forever: each batch
    * lands one `b<id>/sh=<k>` directory whose file count reflects the
    * sink frame's partitioning, so an unattended stream fragments the
    * export one directory per batch per shard without bound. Every index
    * family self-compacts on a `compactEvery` cadence; this is the same
    * cadence for the artifact a training job actually reads.
    *
    * Cost stays FLAT as the export grows: one root listing (name-only)
    * plus leaf listings/rewrites for only the batch dirs landed since the
    * handle's high-water mark — never a re-walk of years of compacted
    * history. Safe against the stream's own writers by placement, not
    * luck: the cadence fires inside the pipeline's per-batch fold (after
    * the batch's sink and state commit, under the same serialization as
    * the fold itself), so no pack-layout writer can race the swap; the
    * leaf-level snapshot/re-list guard in [[graft.sources.Sink.compact]]
    * backstops anything else. A batch REPLAY after compaction is
    * unaffected — the idempotent sink overwrites its whole `b<id>`
    * directory wholesale, compacted or not.
    *
    * Commit mode is `auto` (rename on rename-atomic stores, the
    * round-15 MANIFEST commit on object stores): the engine's own reads
    * of the landed layout (retraction, replay) run under the pipeline
    * lock and after the start-of-stream `compactRecover`, so they only
    * ever see the layout AT REST, where both modes are plain-reader
    * correct; an EXTERNAL reader that may race a live sweep on an object
    * store should resolve through [[graft.sources.Sink.readCompacted]]. */
  def compactPacks(
      spark: SparkSession,
      handle: Handle,
      outPath: String,
      upTo: Long,
      targetBytesPerFile: Long = 128L << 20,
      parallelism: Int = 1,
      commit: String = "auto",
      // Test seam, threaded to [[graft.sources.Sink.compact]].
      afterCopy: org.apache.hadoop.fs.Path => Unit = _ => ())
      : graft.sources.Sink.CompactStats = {
    val from = handle.compactedThrough
    val batches = listBatchDirs(spark, outPath)
      .filter(b => b > from && b <= upTo)
    var seen = 0; var rew = 0; var aborted = 0
    var before = 0L; var after = 0L
    // The high-water mark only advances over the clean PREFIX of batches:
    // a batch with an aborted leaf (Sink.compact's concurrent-change
    // guard) must stay below the mark so the next cadence fire re-lists
    // and retries it — an unconditional advance would leave that batch
    // fragmented forever (re-listing an already-compact batch is a
    // name-only listing, so the retry costs nothing when it was a
    // one-off).
    var cleanThrough = from
    var blocked = false
    batches.foreach { b =>
      val st = graft.sources.Sink.compact(spark, s"$outPath/b$b",
        targetBytesPerFile, parallelism = parallelism, commit = commit,
        afterCopy = afterCopy)
      seen += st.leavesSeen; rew += st.leavesRewritten
      aborted += st.leavesAborted
      before += st.filesBefore; after += st.filesAfter
      if (st.leavesAborted > 0) blocked = true
      if (!blocked) cleanThrough = b
    }
    handle.compactedThrough =
      math.max(from, if (blocked) cleanThrough else upTo)
    val stats = graft.sources.Sink.CompactStats(seen, rew, before, after,
      aborted)
    if (rew > 0 || aborted > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"PackStream.compactPacks[$outPath]: batches (${from + 1}..$upTo] " +
          s"— $stats (compactedThrough -> ${handle.compactedThrough})")
    stats
  }

  // ---------------------------------------------------------------- retract

  /** Manifest rows are read with an explicit schema everywhere: an empty
    * batch's manifest directory may hold no parquet footer to infer from,
    * and a retraction that empties a batch writes one back. */
  private val manifestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("batch_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("shard",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tie",
      org.apache.spark.sql.types.LongType)))

  private def listBatchDirs(spark: SparkSession, root: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark, root)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.matches("b\\d+") => n.drop(1).toLong }.sorted
  }

  /** What a retraction did — every number affected-shard-sized by
    * construction (the cost contract the GDPR story is graded on). */
  final case class RetractStats(
      docsRemoved: Long,
      tokensRemoved: Long,
      affectedShards: Long,
      packsRewritten: Long,
      dirsRewritten: Long,
      dirsDeleted: Long,
      alreadyApplied: Boolean,
      // Driver-held range-worklist rows stage 1 collected — suffix-sized
      // by construction (the scale probe asserts it stays flat while the
      // export grows).
      rangesCollected: Long = -1L)

  private def statsRow(spark: SparkSession, dir: String): RetractStats = {
    val p = spark.read.parquet(s"$dir/params").head()
    RetractStats(p.getAs[Long]("docs_removed"),
      p.getAs[Long]("tokens_removed"), p.getAs[Long]("aff_shards"),
      p.getAs[Long]("packs_rewritten"), p.getAs[Long]("dirs_rewritten"),
      p.getAs[Long]("dirs_deleted"), alreadyApplied = true,
      rangesCollected =
        if (p.schema.fieldNames.contains("ranges_collected"))
          p.getAs[Long]("ranges_collected")
        else -1L)
  }

  /** ERASE withdrawn documents from the LANDED export — the takedown
    * surface reaching the data product itself, not just the dedup gates:
    * every token the withdrawn docs contributed is physically removed
    * from the pack shards, and what remains is, pack for pack, EXACTLY
    * the export a from-scratch run over the surviving documents would
    * have produced (spec-asserted). That equivalence falls out of the
    * layout: each shard's packs are one contiguous token stream chunked
    * at `window` boundaries, so excising a doc's span and re-chunking
    * from the first affected boundary reproduces the from-scratch
    * packing — packs BEFORE that boundary are untouched by construction.
    *
    * Cost contract: reads and rewrites only the AFFECTED SHARDS' packs
    * from each withdrawn doc's position onward (the `b<id>/sh=<s>/`
    * split makes that addressable), plus doc-count-sized manifest and
    * state rewrites. Nothing is export-sized.
    *
    * Crash contract (house WAL-before-side-effects): stage 1 resolves
    * the plan AND materializes every replacement byte (packs, manifests,
    * state) under `$path/retract/<key>/`, committing with `params`; the
    * apply legs then only copy WAL content over the targets — re-runnable
    * verbatim after a kill -9 anywhere, because they never read what they
    * overwrite. `applied` marks completion; a replay of an applied key is
    * a no-op. A reused key with DIFFERENT doc ids fails loudly.
    *
    * Concurrency: call between batches or with the stream stopped —
    * mutating pack state concurrently with an in-flight fold is out of
    * contract (the composed [[TakedownStream]] route serializes against
    * the pipeline through the exact-dedup stage's state lock). The export
    * must also be fully LANDED before retracting: a crash that wrote a
    * batch's manifest but not its pack sink leaves phantom lineage rows,
    * so stage 1 requires every manifest batch to have a landed directory
    * and directs the operator to restart the stream (the engine replay
    * lands the batch) first. Replays of PRE-retraction engine batches
    * afterwards are safe: retraction prunes the replay-cover generation,
    * and [[processBatch]] detects the retraction revision and SKIPS such
    * a replay (its post-erasure output is already landed) instead of
    * re-folding it as new data. */
  def retract(
      spark: SparkSession,
      handle: Handle,
      outPath: String,
      withdrawn: DataFrame,
      requestKey: Option[String] = None,
      afterPlan: () => Unit = () => (),
      afterPacks: () => Unit = () => ()): RetractStats = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val f = fs(spark, handle.path)
    val win = handle.model.window
    val rroot = s"${handle.path}/retract"
    val key = requestKey.getOrElse {
      val nxt = (listBatchDirs(spark, rroot) :+ -1L).max + 1
      s"b$nxt"
    }
    val rdir = s"$rroot/$key"
    val ids = withdrawn.select(col(withdrawn.columns.head).cast("long")
      .as("doc_id")).distinct()
    val wf = {
      val r = ids.select(xxhash64(col("doc_id")).as("h"))
        .agg(coalesce(expr("bit_xor(h)"), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    def marker(sub: String) = f.exists(
      new org.apache.hadoop.fs.Path(s"$rdir/$sub/_SUCCESS"))
    def checkSameRequest(): Unit = {
      // Fingerprint prefilter, then the exact recorded-id comparison
      // (the TakedownStream.sameEvents discipline: a silent skip on a
      // fingerprint collision would silently drop an erasure).
      val p = spark.read.parquet(s"$rdir/params").head()
      val same = (p.getLong(0), p.getLong(1)) == wf && {
        // Retraction WAL records are erasure-gate layers: strict
        // (quarantine-off) readOwn — a silently excluded part would
        // mis-verify a replayed erasure request.
        val rec = graft.sources.Sink.readOwn(spark,
          Seq(s"$rdir/events"), quarantine = false)
        ids.except(rec).limit(1).isEmpty &&
          rec.except(ids).limit(1).isEmpty
      }
      require(same,
        s"PackStream.retract: key '$key' was already used by a retraction " +
          "with DIFFERENT doc ids — each erasure request needs its own key.")
    }
    if (marker("applied")) {
      checkSameRequest()
      return statsRow(spark, rdir)
    }

    if (!marker("params")) {
      // ------------------------------------------------- stage 1: resolve
      // Reads only PRISTINE data (manifests, packs, state are untouched
      // until params commits), materializes every replacement byte.
      val mBatches = listBatchDirs(spark, s"${handle.path}/manifest")
      val oBatches = listBatchDirs(spark, outPath)
      require(oBatches.toSet.subsetOf(mBatches.toSet),
        s"PackStream.retract: landed batches ${oBatches.diff(mBatches)} " +
          "have no lineage manifest — this export predates the retraction " +
          "manifest; erasure cannot locate their token spans.")
      // The mirror direction guards the crashed-mid-batch export: the
      // manifest is written BEFORE the pack sink, so a kill between them
      // leaves phantom lineage rows with no landed packs. Retracting
      // through them would either trip the reflow-conservation require
      // (withdrawn docs in the phantom batch) or throw on the missing
      // `b<id>/sh=` suffix read — loud but baffling. Fail with the
      // remedy instead: a restart replays the batch (bit-identical
      // recompute) and lands it, after which the erasure can proceed.
      require(mBatches.toSet.subsetOf(oBatches.toSet),
        s"PackStream.retract: manifest batches ${mBatches.diff(oBatches)} " +
          "have no landed pack directory — the export crashed mid-batch. " +
          "Restart the stream so the engine replay lands the batch, then " +
          "retract.")
      val manifests =
        if (mBatches.isEmpty)
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], manifestSchema)
        else spark.read.schema(manifestSchema).parquet(
          mBatches.map(b => manifestDir(handle.path, b)): _*)
      val wrows = manifests.join(ids, Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val docsRemoved = wrows.count()
      val tokensRemoved = wrows.agg(coalesce(sum("n_tokens"), lit(0L)))
        .head().getLong(0)
      if (docsRemoved == 0)
        log.warn(s"PackStream.retract[$key]: none of the withdrawn doc " +
          "ids appear in the export lineage — nothing to erase (already " +
          "retracted, or never packed).")

      // Token-span offsets over the affected shards' full manifest
      // streams, in packWindows' exact order (batch, doc_id, content
      // tiebreak) — cumulative sums, never a sort of token rows.
      val affShards = wrows.select("shard").distinct()
        .as[Long].collect().sorted.toSeq
      val mAff = manifests.where(col("shard").isin(affShards: _*))
      val offs = mAff.withColumn("start",
        sum("n_tokens").over(W.partitionBy("shard")
          .orderBy("batch_id", "doc_id", "tie")
          .rowsBetween(W.unboundedPreceding, W.currentRow)) -
          col("n_tokens"))
      // One row per withdrawn doc occurrence — takedown-sized by the
      // feed's contract, so driver-collected like the IVF probe lists.
      val spanRows = offs.join(ids, Seq("doc_id"))
        .where(col("n_tokens") > 0)
        .select(col("shard"), col("start"), col("n_tokens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val spansByShard: Map[Long, (Array[Long], Array[Long], Array[Long])] =
        spanRows.groupBy(_._1).map { case (sh, rs) =>
          val sorted = rs.sortBy(_._2)
          val starts = sorted.map(_._2)
          val ends = sorted.zip(starts).map { case ((_, s, n), _) => s + n }
          // cumLen(i) = withdrawn tokens in spans 0..i-1 — removedBefore
          // of any position outside all spans is cumLen(#spans ending
          // at-or-before it).
          val cum = sorted.scanLeft(0L)(_ + _._3).toArray
          sh -> ((starts, ends, cum))
        }
      val spanShards = spansByShard.keys.toSeq.sorted
      val firstPack: Map[Long, Long] =
        spansByShard.map { case (sh, (st, _, _)) => sh -> st.min / win }

      // Per-(shard, batch) pack ranges from a manifest cumsum: batch b
      // holds pack ids [cumPrev/win, cum/win). The cumsum runs over each
      // affected shard's FULL stream (offsets are absolute), but only
      // ranges reaching the shard's affected suffix (`hi` past its
      // `minHi` boundary pack) are COLLECTED — on a years-long stream
      // the driver-held worklist is suffix-sized, matching the IO story,
      // not batches × shards for the whole export.
      def ranges(m: DataFrame, minHi: Map[Long, Long])
          : Seq[(Long, Long, Long, Long)] = {
        val minHiLit = typedlit(minHi)
        m.where(col("shard").isin(spanShards: _*))
          .groupBy("shard", "batch_id")
          .agg(sum("n_tokens").as("n"))
          .withColumn("cum", sum("n").over(W.partitionBy("shard")
            .orderBy("batch_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
          // Integer division — `/` is DOUBLE division in Spark SQL and
          // silently loses precision once cumulative token counts pass
          // 2^53 (a real export scale, not a theoretical one).
          .select(col("shard"), col("batch_id"),
            expr(s"(cum - n) div $win").as("lo"),
            expr(s"cum div $win").as("hi"))
          .where(col("hi") >
            coalesce(element_at(minHiLit, col("shard")), lit(Long.MaxValue)))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
      }
      val oldRanges = ranges(manifests, firstPack)
      val oldTouched = oldRanges.filter { case (_, _, lo, hi) => hi > lo }
        .map { case (sh, b, _, _) => (b, sh) }
      // Each shard's boundary-batch `lo`: rewritten packs (reflow output
      // AND carried prefix packs of the boundary dir) all have ids >= it,
      // and the token stream below it is untouched by the erasure — so
      // the SURVIVING manifest's ranges are collected past the same
      // boundary and still cover every placed pack.
      val boundaryLo: Map[Long, Long] = oldRanges.groupBy(_._1)
        .map { case (sh, rs) => sh -> rs.map(_._3).min }

      // The affected suffix: landed packs >= each shard's first affected
      // boundary (read by explicit `b<id>/sh=<s>` paths — only affected
      // shards' files are opened), plus the live carried partials.
      val gens = committedGens(spark, handle.path)
      val curGen = gens.max
      val state = spark.read
        .parquet(s"${genDir(spark, handle.path, curGen)}/pending")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fpLit = typedlit(firstPack)
      val suffixPaths = oldTouched.map { case (b, sh) =>
        s"$outPath/b$b/sh=$sh" }
      val packSuffix =
        if (suffixPaths.isEmpty)
          Seq.empty[(Long, Long, Array[Long])].toDF("shard", "a", "seg")
        else graft.sources.Sink.readOwn(spark, suffixPaths)
          .where(col("pack_id") >=
            coalesce(element_at(fpLit, col("shard")), lit(Long.MaxValue)))
          .select(col("shard"), (col("pack_id") * win).cast("long").as("a"),
            split(col("token_ids"), ",").cast("array<long>").as("seg"))
      val stateAff = state.where(col("shard").isin(spanShards: _*))
      val pendSuffix = stateAff
        .where(size(col("pending")) > 0)
        .select(col("shard"),
          (col("next_pack") * win).cast("long").as("a"),
          col("pending").as("seg"))
      val suffix = packSuffix.unionByName(pendSuffix)
        .as[(Long, Long, Array[Long])]

      // Excise-and-reflow: each old pack (or the pending tail) splits
      // into its kept slices; a kept slice shifts left by the withdrawn
      // tokens before it (constant within the slice — spans are wholly
      // removed) and lands in its destination packs, fragment by
      // fragment. Then the packWindows assembly: group by destination
      // pack, order by offset, flatten.
      val frags = suffix.flatMap { case (sh, a, seg) =>
        val (st, en, cum) = spansByShard(sh)
        val b = a + seg.length
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Array[Long])]
        def removedUpTo(x: Long): Long = {
          // #spans with end <= x (spans are disjoint and x is outside
          // every span when called on a kept position).
          var lo = 0; var hi = en.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (en(mid) <= x) lo = mid + 1 else hi = mid
          }
          cum(lo)
        }
        // Kept pieces of [a, b).
        var curPos = a
        var i = {
          var lo = 0; var hi = en.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (en(mid) <= a) lo = mid + 1 else hi = mid
          }
          lo
        }
        val pieces = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        while (i < st.length && st(i) < b) {
          if (st(i) > curPos) pieces += ((curPos, math.min(st(i), b)))
          curPos = math.max(curPos, en(i)); i += 1
        }
        if (curPos < b) pieces += ((curPos, b))
        pieces.foreach { case (x, y) =>
          val nx = x - removedUpTo(x)
          var posOld = x
          while (posOld < y) {
            val nPos = nx + (posOld - x)
            val p = nPos / win
            val take = math.min(y - posOld, (p + 1) * win - nPos)
            out += ((sh, p, nPos - p * win,
              seg.slice((posOld - a).toInt, (posOld - a + take).toInt)))
            posOld += take
          }
        }
        out
      }.toDF("shard", "pack_id", "off", "seg")
      val newPacks = frags.groupBy("shard", "pack_id")
        .agg(sum(size(col("seg"))).cast("long").as("n_tokens"),
          flatten(transform(array_sort(collect_list(struct(
            col("off").as("o"), col("seg").as("seg")))),
            x => x.getField("seg"))).as("tids"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // New per-shard totals: old total minus withdrawn — the reflow must
      // conserve exactly (asserted below).
      val oldTotals: Map[Long, Long] = stateAff
        .select(col("shard"),
          (col("next_pack") * win + size(col("pending"))).cast("long"))
        .as[(Long, Long)].collect().toMap
      val removedByShard: Map[Long, Long] =
        spanRows.groupBy(_._1).map { case (sh, rs) =>
          sh -> rs.map(_._3).sum }
      val newNextPack: Map[Long, Long] = spanShards.map { sh =>
        sh -> (oldTotals(sh) - removedByShard.getOrElse(sh, 0L)) / win
      }.toMap
      val nnpLit = typedlit(newNextPack)
      val reflowed = newPacks
        .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
      val expectReflow = spanShards.map(sh =>
        oldTotals(sh) - math.min(firstPack(sh) * win, oldTotals(sh)) -
          removedByShard.getOrElse(sh, 0L)).sum
      require(reflowed == expectReflow,
        s"PackStream.retract[$key]: reflow conservation failed — " +
          s"$reflowed kept tokens reassembled, expected $expectReflow.")
      val fullNew = newPacks.where(
        col("pack_id") < element_at(nnpLit, col("shard")))
      val pendingNew = newPacks.where(
        col("pack_id") === element_at(nnpLit, col("shard")))
      // The BOUNDARY dirs (the batch where a shard's first affected pack
      // lives) also hold untouched PREFIX packs (ids below the
      // boundary). The apply leg rewrites whole `sh=` partitions —
      // partition overwrite is directory-granular — so those rows must
      // be carried through verbatim or the rewrite would drop them.
      val prefixCarry =
        if (suffixPaths.isEmpty)
          Seq.empty[(Long, Long, Long, Array[Long])]
            .toDF("shard", "pack_id", "n_tokens", "tids")
        else graft.sources.Sink.readOwn(spark, suffixPaths)
          .where(col("pack_id") <
            coalesce(element_at(fpLit, col("shard")), lit(-1L)))
          .select(col("shard"), col("pack_id"), col("n_tokens"),
            split(col("token_ids"), ",").cast("array<long>").as("tids"))

      // Destination batch per rewritten pack, from the SURVIVING
      // manifest's ranges — identical to where a from-scratch run over
      // the surviving docs would land them.
      val mSurv = manifests.join(ids, Seq("doc_id"), "left_anti")
      val newRanges = ranges(mSurv, boundaryLo)
      val rangesDF = newRanges
        .toDF("shard", "dest_batch", "lo", "hi")
      val toPlace = fullNew.unionByName(prefixCarry)
      val placed = toPlace.join(broadcast(rangesDF),
        toPlace("shard") === rangesDF("shard") &&
          toPlace("pack_id") >= col("lo") && toPlace("pack_id") < col("hi"))
        .select(col("dest_batch"), toPlace("shard"), col("pack_id"),
          col("n_tokens"),
          concat_ws(",", transform(col("tids"), t => t.cast("string")))
            .as("token_ids"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val packsRewritten = placed.count()
      val fullCount = toPlace.count()
      require(packsRewritten == fullCount,
        s"PackStream.retract[$key]: $fullCount rewritten packs but " +
          s"$packsRewritten found a destination batch range.")

      // ---------------- WAL materialization (params last = commit marker)
      ids.coalesce(1).write.mode("overwrite").parquet(s"$rdir/events")
      placed.coalesce(math.max(1, spanShards.size))
        .write.mode("overwrite").parquet(s"$rdir/packs")
      // Replacement manifests: every batch that held a withdrawn row,
      // rewritten WITHOUT those rows (all shards of the batch carried
      // through — manifests are per-batch files).
      val wBatches = wrows.select("batch_id").distinct()
        .as[Long].collect().sorted.toSeq
      manifests.where(col("batch_id").isin(wBatches: _*))
        .join(ids, Seq("doc_id"), "left_anti")
        .coalesce(1).write.mode("overwrite").parquet(s"$rdir/manifests")
      // Replacement state rows for affected shards.
      val stNew = spanShards.map(sh => (sh, newNextPack(sh))).toDF(
          "shard", "next_pack")
        .join(pendingNew.select(col("shard"), col("tids")), Seq("shard"),
          "left")
        .select(col("shard"), col("next_pack"),
          coalesce(col("tids"), typedlit(Array.empty[Long])).as("pending"))
      stNew.coalesce(1).write.mode("overwrite").parquet(s"$rdir/state")
      // Directory worklist: every (batch, shard) dir the apply legs must
      // overwrite (has_new) or delete (emptied by the erasure). has_new
      // comes from the PLACED frame itself, not from a range predicate —
      // a boundary dir whose reflow yields zero new full packs still
      // holds its carried-through PREFIX packs (a tail erasure turns the
      // whole remainder into pending), and a worklist that missed that
      // case would delete them. (Caught by the 40× probe's late-tail
      // erasure; now also spec-pinned.)
      val placedTouched = placed.select(col("dest_batch"), col("shard"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val dirs = (oldTouched ++ placedTouched).distinct.map { case (b, sh) =>
        (b, sh, placedTouched.contains((b, sh))) }
      dirs.toDF("batch_id", "shard", "has_new")
        .coalesce(1).write.mode("overwrite").parquet(s"$rdir/dirs")
      locally {
        val dirsRewritten = dirs.count(_._3).toLong
        val dirsDeleted = dirs.count(!_._3).toLong
        Seq((wf._1, wf._2, docsRemoved, tokensRemoved,
            spanShards.size.toLong, packsRewritten, dirsRewritten,
            dirsDeleted, (oldRanges.size + newRanges.size).toLong))
          .toDF("batch_fp", "batch_n", "docs_removed", "tokens_removed",
            "aff_shards", "packs_rewritten", "dirs_rewritten",
            "dirs_deleted", "ranges_collected")
          .coalesce(1).write.mode("overwrite").parquet(s"$rdir/params")
      }
      wrows.unpersist(false); state.unpersist(false)
      newPacks.unpersist(false); placed.unpersist(false)
    } else checkSameRequest()
    afterPlan()

    // ------------------------------------------------------- apply legs
    // Pure WAL→target copies: idempotent, re-runnable after a crash at
    // any point (they never read what they overwrite).
    val dirSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("has_new",
        org.apache.spark.sql.types.BooleanType)))
    val dirs = spark.read.schema(dirSchema).parquet(s"$rdir/dirs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSeq
    val packSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dest_batch",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pack_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("token_ids",
        org.apache.spark.sql.types.StringType)))
    val walPacks = spark.read.schema(packSchema).parquet(s"$rdir/packs")
    // Dynamic partition overwrite per affected batch: only the sh=
    // partitions present in the replacement rows are replaced; the
    // batch's unaffected shards keep their files untouched.
    dirs.filter(_._3).map(_._1).distinct.sorted.foreach { b =>
      walPacks.where(col("dest_batch") === b)
        .select(col("shard"), col("pack_id"), col("n_tokens"),
          col("token_ids"))
        .withColumn("sh", col("shard"))
        .sortWithinPartitions(col("sh"), col("pack_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("sh").parquet(s"$outPath/b$b")
    }
    afterPacks()
    dirs.filterNot(_._3).foreach { case (b, sh, _) =>
      val p = new org.apache.hadoop.fs.Path(s"$outPath/b$b/sh=$sh")
      if (fs(spark, outPath).exists(p)) fs(spark, outPath).delete(p, true)
    }
    // Manifest replacement, batch by batch, from WAL content.
    val walMan = spark.read.schema(manifestSchema).parquet(s"$rdir/manifests")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    locally {
      val touched = walMan.select("batch_id").distinct()
        .as[Long].collect().toSet
      // Batches whose every doc was withdrawn leave an EMPTY replacement
      // frame in the WAL and so don't appear in `touched` — find them as
      // the manifest dirs that STILL contain withdrawn ids (idempotent:
      // after the first apply pass they contain none, and re-runs only
      // repeat the batches walMan lists, writing identical bytes).
      val evs = graft.sources.Sink.readOwn(spark,
        Seq(s"$rdir/events"), quarantine = false)
      val mBatchesNow = listBatchDirs(spark, s"${handle.path}/manifest")
      val stillDirty =
        if (mBatchesNow.isEmpty) Set.empty[Long]
        else spark.read.schema(manifestSchema)
          .parquet(mBatchesNow.map(b => manifestDir(handle.path, b)): _*)
          .join(evs, Seq("doc_id")).select("batch_id").distinct()
          .as[Long].collect().toSet
      (touched ++ stillDirty).toSeq.sorted.foreach { b =>
        walMan.where(col("batch_id") === b)
          .coalesce(1).write.mode("overwrite")
          .parquet(manifestDir(handle.path, b))
      }
    }
    walMan.unpersist(false)
    // State: commit a RETRACTION REVISION of the newest generation —
    // same logical position in the batch sequence, affected shards'
    // carried state replaced — and prune every other generation (a
    // pre-retraction replay base could resurrect withdrawn tokens; with
    // it gone, such a replay folds as new data instead).
    val stSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("next_pack",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("pending",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))))
    val stNew = spark.read.schema(stSchema).parquet(s"$rdir/state")
    val gens = committedGens(spark, handle.path)
    val curGen = gens.max
    val curDirName = new org.apache.hadoop.fs.Path(
      genDir(spark, handle.path, curGen)).getName
    val curRev = curDirName match {
      case GenName(_, r) => Option(r).map(_.toLong).getOrElse(0L)
    }
    val curState = spark.read
      .parquet(s"${stateRoot(handle.path)}/$curDirName/pending")
    val curParams = spark.read
      .parquet(s"${stateRoot(handle.path)}/$curDirName/params")
    val revDir = s"${stateRoot(handle.path)}/g${curGen}r${curRev + 1}"
    curState.join(stNew.select("shard"), Seq("shard"), "left_anti")
      .unionByName(stNew)
      .coalesce(1).write.mode("overwrite").parquet(s"$revDir/pending")
    curParams.withColumn("retract_key", lit(key))
      .coalesce(1).write.mode("overwrite").parquet(s"$revDir/params")
    // Prune: keep ONLY the new revision.
    val fh = fs(spark, handle.path)
    val sroot = new org.apache.hadoop.fs.Path(stateRoot(handle.path))
    fh.listStatus(sroot).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n @ GenName(_, _) if n != s"g${curGen}r${curRev + 1}" =>
        n }
      .foreach(n => fh.delete(
        new org.apache.hadoop.fs.Path(s"${stateRoot(handle.path)}/$n"), true))
    locally {
      Seq(Tuple1(key)).toDF("key")
        .coalesce(1).write.mode("overwrite").parquet(s"$rdir/applied")
    }
    // The rewrites above re-fragment leaves BELOW the compaction
    // high-water mark (the apply leg lands up to spanShards files per
    // rewritten leaf); reset it so the next [[compactPacks]] cadence
    // re-sweeps the whole layout once and re-bounds them.
    handle.compactedThrough = -1L
    statsRow(spark, rdir).copy(alreadyApplied = false)
  }

  /** Start the packing stream: full context windows land under
    * `outPath/b<batchId>/` (the idempotent per-batch layout), partial
    * windows carry forward in the committed state. Every
    * `compactPacksEvery` batches the landed layout self-compacts
    * ([[compactPacks]]); 0 disables. */
  def run(
      docs: DataFrame,
      handle: Handle,
      idCol: String,
      textCol: String,
      outPath: String,
      queryCheckpointLocation: Option[String] = None,
      compactPacksEvery: Long = 100,
      packTargetBytesPerFile: Long = 128L << 20): StreamingQuery = {
    // A mid-compaction crash in a PREVIOUS run may have left a leaf swap
    // half-done (complete copy, old leaf gone); finish or roll it back
    // before any reader of this run's output races it.
    if (compactPacksEvery > 0)
      graft.sources.Sink.compactRecover(docs.sparkSession, outPath)
    val writer = docs.writeStream
    queryCheckpointLocation.fold(writer)(p =>
        writer.option("checkpointLocation", p))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val eff = processBatch(handle, batch, batchId, idCol, textCol,
          outPath)
        if (compactPacksEvery > 0 && (eff + 1) % compactPacksEvery == 0)
          compactPacks(batch.sparkSession, handle, outPath, upTo = eff,
            targetBytesPerFile = packTargetBytesPerFile): Unit
      }
      .start()
  }
}
