package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorKernels

/** Distributed document-deduplication operators.
  *
  * Scale design (the point of these over a naive O(n²) pass): every variant
  * turns "compare all pairs" into "group by a locality key, compare within
  * groups" — the shuffle is on the locality key, candidate verification is
  * confined to buckets, and nothing ever collects to the driver. At 100 TB
  * the bucket join is the only shuffle-heavy step; bucket-size capping
  * (`maxBucket`) bounds the quadratic blowup a skewed/degenerate key would
  * cause (the dropped buckets are boilerplate-like content better handled by
  * an exact-hash pre-pass anyway).
  *
  * Sketch tables that feed multiple consumers (self-join sides,
  * verification joins) are persisted MEMORY_AND_DISK — sketch-sized
  * (~1 KB/doc or less), LRU-evicted under pressure. Per-call unpersist
  * would have to run before the caller's action and defeat the reuse the
  * cache exists for, so release is the CALLER's scope decision:
  * [[withSketchCache]] brackets a unit of work (unpersists everything the
  * enclosed operators registered once the bracket closes),
  * [[releaseSketchCaches]] drops all graft sketch caches between corpora
  * in a long-lived service. Every persisting operator below notes this
  * contract.
  *
  * Sketch computation (shingle hash-sets, minhash signatures, simhash) runs
  * in native codegen'd kernel expressions
  * (org.apache.spark.sql.graft.SketchExpressions): one narrow projection
  * per doc, no explode, no aggregate, NO SHUFFLE until the bucket join.
  * Earlier shapes measured at sf0.1: per-row higher-order functions ~25×
  * slower (interpreted per-element dispatch), explode + 64 aggregate
  * columns ~7 s (a full shuffle per sketch). The kernels pin Spark's public
  * `xxhash64` chaining, so every sketch is reproducible from documented SQL
  * semantics.
  */
object Dedup {

  /** Every sketch-table persist these operators create, in creation order.
    * Persists are deliberately NOT released per-call (the cache exists so a
    * caller's action reuses the sketches across the operator's multiple
    * consumers); this registry makes release deterministic instead of
    * session-lifetime: [[withSketchCache]] brackets a scope,
    * [[releaseSketchCaches]] drops everything. */
  private val sketchCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private[operators] def persistSketch(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sketchCaches.synchronized { sketchCaches += p }
    p
  }

  /** Unpersist every sketch cache registered by this object's operators
    * (non-blocking). Call between corpora in a long-lived service. */
  def releaseSketchCaches(): Unit = sketchCaches.synchronized {
    sketchCaches.foreach(_.unpersist(false))
    sketchCaches.clear()
  }

  /** Scoped sketch-cache bracket: run `body`, then unpersist every sketch
    * cache the enclosed dedup operators registered — intra-call reuse is
    * kept (persists live while `body` runs), executor storage is released
    * deterministically when it closes. ACTIONS on the operators' results
    * must happen inside the bracket; a DataFrame returned out of it will
    * recompute its sketches on the next action. Brackets scope by
    * registration order, so concurrent brackets on different threads may
    * release each other's caches (harmless — a released sketch recomputes,
    * it doesn't corrupt). */
  def withSketchCache[T](body: => T): T = {
    val before = sketchCaches.synchronized { sketchCaches.length }
    try body
    finally {
      val added = sketchCaches.synchronized {
        val a = sketchCaches.drop(before).toList
        sketchCaches.remove(before, sketchCaches.length - before)
        a
      }
      added.foreach(_.unpersist(false))
    }
  }

  /** Exact dedup: group by a content fingerprint, keep the smallest id.
    * One hash-shuffle; map-side partial aggregation makes the shuffle size
    * proportional to the number of DISTINCT documents, not rows. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Balance(docs).groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, hs = sorted distinct 64-bit shingle hashes, n = |hs|) per doc —
    * the per-doc state every near-dup variant shares. A single narrow
    * projection (tokens column kept separate so nothing re-tokenizes):
    * at any corpus size this computes inside the scan stage, map-side. */
  private[operators] def docHashSets(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    Balance(docs)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("t"))
      .select(col("id"),
        graft.functions.GraftFunctions.shingleHashes(col("t"), shingleN).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("id"), col("hs"), size(col("hs")).cast("bigint").as("n"))

  /** MinHash + LSH near-dedup: shingle → minhash signature → band buckets →
    * candidate pairs via bucket self-join → exact-Jaccard verification of
    * candidates only. Returns (a_id, b_id, jaccard) pairs with jaccard ≥
    * threshold, a_id < b_id.
    *
    * With `numHashes = bands * rowsPerBand`, the LSH s-curve's inflection is
    * ≈ (1/bands)^(1/rowsPerBand); defaults (16×4) put it at ~0.5 so pairs at
    * ≥ 0.6 are caught with high probability while distant pairs rarely
    * collide. Probabilistic recall is the price of never materializing the
    * O(n²) pair space.
    */
  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 2,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.6,
      maxBucket: Int = 10000): DataFrame = {
    // Persisted for the same reason as exactJaccard's collapsed table: the
    // hash-set frame feeds the bucket derivation AND both verification
    // joins — uncached, the corpus is scanned and re-shingled four times
    // per action. Sketch-sized (~1 KB/doc), LRU-evicted; released by
    // [[withSketchCache]] / [[releaseSketchCaches]].
    val ds = persistSketch(docHashSets(docs, idCol, textCol, shingleN))
    jaccardVerify(bandedCandidates(ds, bands, rowsPerBand, maxBucket), ds)
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Banded-minhash candidate pairs over an (id, hs, n) docset frame: the
    * capped LSH candidate generator [[minhashLsh]] and the saturation
    * ROUTE of [[exactJaccard]] share. Only the (id, band, bucket) 3-column
    * form is shuffled; `maxBucket` drops degenerate buckets before the
    * quadratic self-join — the cap that bounds cost on vocabulary-saturated
    * corpora where exact posting lists grow linearly with the corpus.
    * Returns distinct (a_id, b_id), a_id < b_id. */
  private def bandedCandidates(ds: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val buckets = ds
      .select(col("id"),
        graft.functions.GraftFunctions.minhashSig(col("hs"), numHashes).as("sig"))
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)
              .as("bucket")))).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val sized = buckets
      .withColumn("bsize",
        count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .where(col("bsize") <= maxBucket)
      .drop("bsize")
    sized.as("x")
      .join(sized.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs over the sorted hash
    * sets (codegen'd merge kernel — no string arrays move through the
    * join). Returns (a_id, b_id, jaccard), unrounded and UNthresholded —
    * callers filter. */
  private def jaccardVerify(cands: DataFrame, ds: DataFrame): DataFrame =
    cands
      .join(ds.select(col("id").as("a_id"), col("hs").as("a_hs"),
        col("n").as("na")), "a_id")
      .join(ds.select(col("id").as("b_id"), col("hs").as("b_hs"),
        col("n").as("nb")), "b_id")
      .withColumn("common", graft.functions.GraftFunctions
        .sortedCommon(col("a_hs"), col("b_hs")))
      .withColumn("jaccard",
        col("common") / (col("na") + col("nb") - col("common")))
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** A docset payload of [[PairGrid]]: ascending distinct 64-bit shingle
    * hashes and the set size. */
  private[operators] case class ShingleSet(hs: Array[Long], n: Long)

  /** Exact all-pairs n-gram Jaccard (the ground truth [[minhashLsh]]
    * approximates). Shingles are 64-bit-hashed once; each doc becomes a
    * sorted hash set (collision odds ≈ d²/2⁶⁵ — negligible below trillions
    * of distinct shingles). Physical strategy is chosen from the COLLAPSED
    * unique-docset count (see below — the quantity actually scored; the
    * count doubles as the sketch-cache materialization pass):
    *
    *   - `≤ maxAllPairsDocs`: **blocked all-pairs** on the [[PairGrid]]
    *     (one group), scoring each pair with a size-ratio skip
    *     (J ≤ min/max) and then the sorted-merge kernel. No O(N²) join
    *     rows are ever materialized (a nested-loop join at sf0.1 spent
    *     ~15 s copying 12.5 M pair rows; the grid does the same
    *     comparisons in < 2 s).
    *   - larger corpora: **prefix-filtered shingle join** (the PPJoin
    *     family): under a global rarest-first shingle order, two docs with
    *     J ≥ t must share one of their first `n − ⌈t·n⌉ + 1` shingles, so
    *     only that prefix is indexed/joined. Candidates are verified with
    *     the codegen'd sorted-merge kernel
    *     [[graft.functions.GraftFunctions.sortedCommon]]. Shuffles scale
    *     with the prefix index + surviving candidates, not with N².
    *
    * Before either path, docs with IDENTICAL shingle sets are collapsed to
    * one representative (groupBy the hash set, keep the min id + member
    * list): exact duplicates make pair scoring quadratic in copy count for
    * pairs whose jaccard is 1.0 by definition. A corpus where every doc has
    * k exact copies scores k² fewer candidate pairs; the members expand
    * back afterwards (within-group pairs at jaccard 1.0, cross-group pairs
    * inheriting their representatives' score — identical by construction,
    * so the output is exactly what the uncollapsed computation produces).
    * The expansion's output size is the operator's contract, not a design
    * choice. Measured: 40×-replicated sf0.1 (200k docs, every cluster 40
    * deep) OOM'd an 8 GB driver mid-verification uncollapsed; collapsed it
    * scores 5k unique docsets. Corpora at or below `collapseFloor` input
    * rows skip the collapse AND the persist entirely (straight to the
    * blocked grid on raw docsets): at that size both are pure fixed
    * overhead, and the quadratic-in-copies blowup the collapse insures
    * against is bounded by the corpus itself.
    *
    * Output: (a_id, b_id, jaccard ≥ threshold), a_id < b_id — identical for
    * both paths (and to the DuckDB oracle). Ids must be long-castable.
    */
  def exactJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 2,
      threshold: Double = 0.6,
      maxAllPairsDocs: Long = 8192,
      collapseFloor: Long = 8192): DataFrame = {
    val allsets = docHashSets(docs, idCol, textCol, shingleN)
      .select(col("id").cast("long").as("id"), col("hs"), col("n"))

    // Small-corpus fast path: `docs.count()` is an upper bound on the
    // docset count (parquet-footer-cheap on bare scans, one narrow job
    // otherwise). At or below the floor, the identical-set collapse +
    // persist is pure fixed overhead (~1 s/call measured at sf0.1): the
    // blocked grid re-sketches a tiny corpus faster than a persist
    // materializes, and the O(copies²) blowup the collapse insures against
    // cannot hurt at this size. Dup-dense corpora above the floor — where
    // an uncollapsed run measurably OOMs (40×-replication probe) — still
    // take the collapsed path.
    if (docs.count() <= math.min(collapseFloor, maxAllPairsDocs))
      return blockedGridPairs(allsets, threshold)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))

    // Collapse identical shingle sets; `ids` stays sorted so expansion is
    // deterministic. PERSISTED (memory-and-disk): the grouped sketch table
    // feeds five consumers (blocked grid L/R or prefix index + two
    // verification joins, plus member expansion), whose differing column
    // prunes defeat exchange reuse — uncached, the corpus would be scanned
    // and re-sketched five times per action. The cache holds sketches
    // (~1 KB/doc), not documents; Spark evicts it LRU, and
    // [[withSketchCache]] / [[releaseSketchCaches]] drop it deterministically.
    val groups = persistSketch(allsets
      .groupBy(col("hs"), col("n"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(col("ids")(0).as("id"), col("hs"), col("n"), col("ids")))
    val docsets = groups.select(col("id"), col("hs"), col("n"))

    // Path choice counts the COLLAPSED docsets — what actually gets scored
    // (the motivating dup-dense corpus has 200k docs but 5k unique sets,
    // squarely blocked-grid territory). The count also materializes the
    // persisted groups cache, so it costs one pass that every later
    // consumer reuses rather than an extra corpus scan.
    val nGroups = groups.count()
    val scored =
      if (nGroups <= maxAllPairsDocs) blockedGridPairs(docsets, threshold)
      else prefixFilterPairs(docsets, threshold, nGroups)

    // Expand representatives back to members: cross-group pairs inherit
    // their representatives' score (identical sets ⇒ identical jaccard);
    // within-group pairs are exact duplicates at jaccard 1.0.
    val members = groups
      .select(col("id").as("rep"), explode(col("ids")).as("mid"))
    val cross = scored.where(col("jaccard") >= threshold)
      .join(members.select(col("rep").as("a_id"), col("mid").as("ma")), "a_id")
      .join(members.select(col("rep").as("b_id"), col("mid").as("mb")), "b_id")
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("jaccard"))
    val within = groups.where(size(col("ids")) > 1)
      .select(explode(col("ids")).as("a_id"), col("ids"))
      .select(col("a_id"), explode(col("ids")).as("b_id"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** All docset pairs with jaccard ≥ threshold on the [[PairGrid]] (one
    * group of ⌈√(4·par)⌉ blocks, at least 2). Emits (a_id, b_id, jaccard),
    * unrounded. */
  private def blockedGridPairs(docsets: DataFrame, threshold: Double): DataFrame =
    PairGrid.pairs[ShingleSet](
        docsets.select(lit(0L).as("grp"), col("id"), struct(col("hs"), col("n")).as("p")),
        Map(0L -> PairGrid.minBlocks(docsets.sparkSession.sparkContext.defaultParallelism)),
        threshold, "jaccard") { (a, b) =>
      // J ≤ min/max: skip hopeless pairs before the merge (NaN never passes).
      if (math.min(a.n, b.n) >= threshold * math.max(a.n, b.n)) {
        val c = VectorKernels.sortedCommon(a.hs, b.hs)
        c.toDouble / (a.n + b.n - c)
      } else Double.NaN
    }

  /** Prefix-filtered shingle join (PPJoin family) over (id, hs, n) docsets:
    * under a global rarest-first shingle order, two docs with J ≥ t must
    * share one of their first `n − ⌈t·n⌉ + 1` shingles, so only that prefix
    * is indexed/joined; candidates verify via the codegen'd sorted-merge
    * kernel. Emits (a_id, b_id, jaccard), NOT thresholded (the caller
    * filters after expansion). */
  private def prefixFilterPairs(docsets: DataFrame, threshold: Double,
      nDocs: Long): DataFrame = {
    // Global rarest-first order on shingle hashes: (frequency, hash) —
    // the same [[prefixKeys]] ranking the persisted index uses.
    val freq = docsets.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("f"))
    val prefix = prefixKeys(docsets, freq, threshold).select(col("id"), col("h"))
    // PRE-FLIGHT saturation guard (the batch twin of the warning
    // streaming/NearDupStream logs at every compaction): on a vocabulary-
    // saturated corpus the posting lists grow linearly with the corpus and
    // this candidate join goes quadratic — at native sf1 the unguarded
    // join spilled past a 77 GB box. One content-sized aggregation decides
    // BEFORE the join runs: fail fast (default), route to banded-minhash
    // candidates with exact verification (capped cost, LSH recall), or
    // run anyway ([[SaturationModeKey]] = off).
    if (routeOnSaturation(prefix, nDocs, "Dedup.exactJaccard"))
      jaccardVerify(bandedCandidates(docsets, bands = 16, rowsPerBand = 4,
        maxBucket = SaturationMaxBucket), docsets)
    else {
      val cands = prefix.as("a").join(prefix.as("b"),
          col("a.h") === col("b.h") && col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
        .distinct()
      jaccardVerify(cands, docsets)
    }
  }

  /** Persisted corpus-side state for INCREMENTAL near-dup dedup — the
    * production arrival path: sketch the corpus once, then probe each new
    * batch against the index without ever re-reading or re-sketching
    * corpus documents.
    *
    *   - `docsets`: (id, hs, n) — per-doc sorted distinct shingle hashes,
    *     the verification side (~1 KB/doc).
    *   - `prefixes`: (id, h) — each doc's prefix-filter join keys (see
    *     [[buildNearDupIndex]]).
    *   - `freq`: (h, f) — corpus shingle document frequencies, FROZEN at
    *     build time. The prefix lemma needs one consistent global shingle
    *     order across corpus and every future batch; freezing the
    *     rarest-first order here keeps corpus prefixes valid forever
    *     (a batch arrival can't retroactively change them), at the cost of
    *     drifting rarity estimates — re-build the index when drift
    *     accumulates, exactly like rebuilding table statistics.
    *
    * All three are MEMORY_AND_DISK persists registered with the sketch
    * cache ([[Dedup.withSketchCache]] / [[Dedup.releaseSketchCaches]]);
    * in a pipeline they'd live behind a bucketed parquet sink keyed on
    * `h` (sources/Sink.bucketed) so probe joins co-locate without a
    * corpus-side shuffle. */
  final case class NearDupIndex private[operators] (
      docsets: DataFrame,
      prefixes: DataFrame,
      freq: DataFrame,
      shingleN: Int,
      threshold: Double,
      /** The persisted frames this index (and no other live index built
        * from a different corpus) references — exactly what
        * [[compactIndex]] may unpersist once a compacted replacement
        * exists. Extension layers append here, so release stays precise
        * even after hundreds of [[extendIndex]] calls. */
      private[graft] layers: Seq[DataFrame] = Nil) {
    /** Force-materialize the persisted frames. Ordered so the CORPUS IS
      * SCANNED EXACTLY ONCE: docsets materializes from the scan; freq and
      * prefixes derive from the docsets cache. */
    def materialize(): NearDupIndex = {
      docsets.count(); freq.count(); prefixes.count(); this
    }
  }

  /** Build the [[NearDupIndex]] for [[probeNearDups]]. Same sketch family
    * as [[exactJaccard]] (word shingles → sorted 64-bit hash sets), same
    * prefix-filter keys as its large-corpus path: under a global
    * rarest-first order, two docs with J ≥ t must share one of their first
    * `n − ⌈t·n⌉ + 1` shingles — so only those keys are indexed, and recall
    * is TOTAL (the probe is exact, not LSH-probabilistic: its kept-set is
    * oracle-checkable and deterministic).
    *
    * Above `collapseFloor` corpus docs, identical shingle sets collapse to
    * their smallest-id representative BEFORE indexing (the d3 density
    * insurance): "near-dup of some corpus doc" is a predicate over distinct
    * corpus CONTENTS, so dropping copies changes nothing semantically while
    * a dup-dense corpus (40×-replication probe) stops multiplying every
    * probe's candidate join by the copy count — and the index itself stays
    * content-sized, not corpus-sized. Below the floor the groupBy shuffle
    * is pure overhead and is skipped (one `corpus.count()` pass decides;
    * parquet-footer-cheap on bare scans). */
  def buildNearDupIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 2,
      threshold: Double = 0.6,
      collapseFloor: Long = 8192): NearDupIndex = {
    // ONE corpus pass decides the collapse (round 17): the sketch layer is
    // persisted FIRST and its count drives the branch — previously a
    // separate corpus.count() job scanned the input once more, and the
    // dense branch then re-sketched the corpus from scratch instead of
    // grouping the cached layer. The branch choice is a pure PERF choice
    // (collapsed docsets keep one representative per identical sketch;
    // verification is exact Jaccard either way), so keying it on the
    // sketched-doc count instead of the raw row count changes no output.
    val raw = persistSketch(docHashSets(corpus, idCol, textCol, shingleN)
      .select(col("id").cast("long").as("id"), col("hs"), col("n")))
    val nRaw = raw.count()
    val sets =
      if (nRaw <= collapseFloor) raw
      else persistSketch(raw.groupBy(col("hs"), col("n"))
        .agg(min(col("id")).as("id"))
        .select(col("id"), col("hs"), col("n")))
    val nSets = if (sets eq raw) nRaw else sets.count()
    val freq = persistSketch(sets.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("f")))
    val prefixes = persistSketch(prefixKeys(sets, freq, threshold))
    // PRE-FLIGHT saturation guard, the index-build twin of exactJaccard's:
    // a saturated corpus makes every future probe's candidate join
    // quadratic, so the regime decision belongs at build time (one
    // content-sized aggregation over the already-persisted prefix layer —
    // the probe would materialize it anyway). `route` keeps the index but
    // drops prefix keys with posting lists past the cap: a probe pair is
    // lost only when every shared prefix key is that ubiquitous.
    if (routeOnSaturation(prefixes, nSets, "Dedup.buildNearDupIndex")) {
      val maxPostings = corpus.sparkSession.conf
        .get(SaturationMaxPostingsKey, "200").toInt
      val capped = persistSketch(prefixes.join(
        freq.where(col("f") <= maxPostings).select("h"), Seq("h"), "left_semi"))
      NearDupIndex(sets, capped, freq, shingleN, threshold,
        layers = Seq(sets, freq, prefixes, capped))
    } else
      NearDupIndex(sets, prefixes, freq, shingleN, threshold,
        layers = Seq(sets, freq, prefixes))
  }

  /** Persist a [[NearDupIndex]] to parquet under `path` (three frames:
    * docsets/prefixes/freq + a one-row params frame). This is the restart
    * story the streaming arrival path (streaming/NearDupStream) relies on:
    * the index is executor-cache-resident while a pipeline runs and is
    * checkpointed here at compaction points — NOT in the streaming state
    * store, which would rewrite every sketch each micro-batch commit.
    *
    * The prefix frame — the probe's candidate-join side — is written as an
    * `h`-bucketed external table (files at `$path/prefixes`, bucketing
    * metadata under a path-derived catalog name), so a reloaded probe join
    * reads the corpus side already hash-partitioned on the join key: NO
    * corpus-side Exchange, the write-time shuffle paid once for every
    * probe after restart (IncrementalDedupSpec asserts the plan).
    *
    * Saves are GENERATIONAL and crash-safe: each save writes a fresh
    * `g<N>/` directory (docsets, bucketed prefixes, freq, then params
    * LAST — its parquet `_SUCCESS` is the generation's commit marker), so
    * a crash mid-save leaves an ignorable partial directory and the
    * previous generation intact; nothing is ever deleted before its
    * replacement is fully committed. One previous generation is retained
    * after each save (an in-flight reader of the prior index keeps
    * working through one full save cycle); older ones are removed.
    *
    * Saving an index whose prefix layers were LOADED from this same `path`
    * is safe for the same reason: the new generation writes to a fresh
    * directory, never over files a live plan reads. */
  def saveIndex(index: NearDupIndex, path: String, numBuckets: Int = 32,
      batchId: Long = -1L, kept: Option[DataFrame] = None): Unit = {
    val spark = index.docsets.sparkSession
    import spark.implicits._
    saveGenerational(spark, path,
      params = Seq((index.shingleN, index.threshold, numBuckets, batchId))
        .toDF("shingle_n", "threshold", "num_buckets", "batch_id"),
      dropTables = g => Seq(prefixTable(path, g))) { (gdir, gen) =>
      index.docsets.write.mode("overwrite").parquet(s"$gdir/docsets")
      graft.sources.Sink.bucketedExternal(index.prefixes,
        prefixTable(path, gen), s"$gdir/prefixes", "h", numBuckets, "h")
      index.freq.write.mode("overwrite").parquet(s"$gdir/freq")
      kept.foreach(_.select(col("doc_id").cast("long").as("doc_id"))
        .write.mode("overwrite").parquet(s"$gdir/kept"))
    }
  }

  /** The generational-checkpoint skeleton every persisted index shares
    * (near-dup, fingerprint, semantic, winnowing, substring — the tree
    * [[TombstoneLog]] draws): pick the next
    * generation number, clear any partial directory a crashed save left,
    * write the artifacts, write `params` LAST as the commit marker, then
    * prune generations older than the immediately-previous one (dropping
    * their catalog tables first). Crash-safety properties — nothing
    * deleted before its replacement commits, one prior generation retained
    * for in-flight readers — live here, in ONE place. */
  private def saveGenerational(spark: org.apache.spark.sql.SparkSession,
      path: String, params: DataFrame, dropTables: Int => Seq[String])(
      writeArtifacts: (String, Int) => Unit): Unit = {
    val fs = fsFor(spark, path)
    val prior = completeGens(spark, path)
    val next = prior.headOption.map(_ + 1).getOrElse(0)
    val gdir = s"$path/g$next"
    // A crashed earlier attempt may have left a partial, uncommitted g$next.
    if (fs.exists(new org.apache.hadoop.fs.Path(gdir)))
      fs.delete(new org.apache.hadoop.fs.Path(gdir), true)
    writeArtifacts(gdir, next)
    // params last — the commit marker.
    params.coalesce(1).write.mode("overwrite").parquet(s"$gdir/params")
    prior.filter(_ < next - 1).foreach { g =>
      dropTables(g).foreach(t => spark.sql(s"drop table if exists $t"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/g$g"), true)
    }
  }

  /** Read a generation's bucketed artifact through its catalog table,
    * re-registering the same files under the same layout when this session
    * didn't write it (the restart path). `schema`/`bucketCol` must match
    * what [[graft.sources.Sink.bucketedExternal]] wrote. */
  private def reRegisterBucketed(spark: org.apache.spark.sql.SparkSession,
      tbl: String, schema: String, bucketCol: String, numBuckets: Int,
      location: String): DataFrame =
    if (spark.catalog.tableExists(tbl)) spark.table(tbl)
    else {
      spark.sql(
        s"""create table $tbl ($schema)
           |using parquet clustered by ($bucketCol) sorted by ($bucketCol)
           |into $numBuckets buckets location '$location'""".stripMargin)
      spark.table(tbl)
    }

  private def fsFor(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Layer-data load for this file's index artifacts (generation layers,
    * WAL deltas, tombstones): layout-aware through
    * [[graft.sources.Sink.readOwn]] — leaves resolve through any
    * compaction manifests, so a generation a maintenance [[Sink.compact]]
    * rewrote under the one-file commit reads atomically old-or-new on any
    * store — with the footer quarantine FORCED OFF. Every artifact here
    * is a dedup GATE layer: a silently excluded part admits duplicates
    * downstream (fingerprints, prefixes, shingle sets) or UN-ERASES a
    * takedown (tombstone ids), so corruption must fail the read loudly —
    * the integrity side of readOwn's policy line. Params/control rows
    * (driver-held single-row frames) stay plain fail-loud reads. */
  private def readLayer(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.sources.Sink.readOwn(spark, Seq(path), quarantine = false)

  /** Committed generations under `path`, newest first. A generation counts
    * only once its params write finished (parquet `_SUCCESS`) — partial
    * directories from crashed saves are invisible. */
  private def completeGens(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Int] = {
    val fs = fsFor(spark, path)
    val base = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("g\\d+") => n.drop(1).toInt }
      .filter(g => fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/g$g/params/_SUCCESS")))
      .sorted(Ordering[Int].reverse)
  }

  /** Deterministic catalog name for generation `gen`'s bucketed prefix
    * table at `path`: bucketing metadata is catalog-resident, so the name
    * must be derivable from (path, gen) alone for a restarted session to
    * re-register it. */
  private def prefixTable(path: String, gen: Int): String =
    "graft_ndidx_p" + java.lang.Long.toHexString(
      java.lang.Integer.toUnsignedLong(path.hashCode)) + s"_g$gen"

  /** Load a [[NearDupIndex]] written by [[saveIndex]] — the newest
    * committed generation; a path without one throws. Docsets/freq
    * come back as MEMORY_AND_DISK persists (registered with the sketch
    * cache like a fresh build). The prefix frame is deliberately NOT
    * cached: it reads through the bucketed table so its HashPartitioning
    * layout reaches the probe join planner directly — the probe query
    * contains the join, so Spark keeps the bucketed scan and skips the
    * corpus-side Exchange. In a session that didn't write the table
    * (restart), the same files are re-registered under the same bucketed
    * layout. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): NearDupIndex =
    loadLatestGen(spark, path).map(_._1).getOrElse(
      throw new IllegalStateException(
        s"no committed near-dup index generation at $path"))

  /** (index, gen, batch_id) of the newest committed generation, if any. */
  private[graft] def loadLatestGen(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(NearDupIndex, Int, Long)] =
    completeGens(spark, path).headOption.map { g =>
      val gdir = s"$path/g$g"
      val params = spark.read.parquet(s"$gdir/params").head()
      // Bucketed layers read through spark.table (the probe needs their
      // HashPartitioning), which readOwn cannot wrap — validate their
      // footers here instead: execution-time scan failure on a corrupt
      // part is planner-state-dependent (Sink.validateOwn doc), and this
      // is a GATE layer, where a silent gap admits duplicates.
      graft.sources.Sink.validateOwn(spark, Seq(s"$gdir/prefixes"))
      val prefixes = reRegisterBucketed(spark, prefixTable(path, g),
        "id bigint, h bigint, r bigint, n bigint", "h",
        params.getAs[Int]("num_buckets"), s"$gdir/prefixes")
      val docsets = persistSketch(readLayer(spark, s"$gdir/docsets"))
      val freq = persistSketch(readLayer(spark, s"$gdir/freq"))
      val batchId =
        if (params.schema.fieldNames.contains("batch_id"))
          params.getAs[Long]("batch_id")
        else -1L
      (NearDupIndex(docsets, prefixes, freq,
        params.getAs[Int]("shingle_n"), params.getAs[Double]("threshold"),
        layers = Seq(docsets, freq)), g, batchId)
    }

  // ──────────── the checkpoint log of the persisted dedup indexes ─────────

  /** The takedown tombstone log of one payload kind, and the checkpoint
    * tree every persisted dedup index family writes — near-dup (nd),
    * fingerprint (fp), semantic (sem), winnow (wn) and substring (ss):
    *
    * {{{
    * <path>/g<N>/{<artifacts>, kept, params}     generation N, params LAST
    * <path>/delta/b<id>/{<layers>, ids, kept}    micro-batch WAL, kept LAST
    * <path>/tomb/t<seq>_b<after>/<leaf>          takedown tombstone
    * }}}
    *
    * Each entry commits with the parquet `_SUCCESS` of its last write:
    * `params` for a generation ([[saveGenerational]]), `kept` for a delta
    * ([[appendDelta]]), the payload `<leaf>` for a tombstone — `fps`
    * (fp: content fingerprints), `ids` (nd/sem/wn: resolved index ids) or
    * `neg` (ss: a negative window-frequency layer). A tombstone's position
    * is encoded in its NAME (listing never reads file contents): sequence
    * number `seq`, and `after`, the newest batch folded into the live index
    * when the takedown happened. [[restoreSchedule]] is the rule that
    * replays the three back in order.
    *
    * Writes are keyed OVERWRITES at a pre-assigned (seq, after), so a
    * crash-window replay ([[graft.streaming.TakedownStream]] records the
    * assignment in its WAL first) rewrites the SAME tombstone at the same
    * logical position instead of appending a duplicate at a later one,
    * which could delete content a batch in between legitimately
    * re-admitted. */
  private[graft] final class TombstoneLog private (leaf: String,
      payload: DataFrame => DataFrame) {

    /** Committed tombstones at `path`: (seq, after, payload path), in
      * sequence order. */
    def list(spark: org.apache.spark.sql.SparkSession,
        path: String): Seq[(Long, Long, String)] = {
      val fs = fsFor(spark, path)
      val base = new org.apache.hadoop.fs.Path(s"$path/tomb")
      if (!fs.exists(base)) Nil
      else fs.listStatus(base).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.matches("t\\d+_b-?\\d+") =>
          val parts = n.drop(1).split("_b")
          (parts(0).toLong, parts(1).toLong, s"$path/tomb/$n/$leaf")
        }
        .filter(t => fs.exists(
          new org.apache.hadoop.fs.Path(s"${t._3}/_SUCCESS")))
        .sortBy(_._1)
    }

    /** Next free sequence number at `path`. */
    def nextSeq(spark: org.apache.spark.sql.SparkSession,
        path: String): Long =
      list(spark, path).map(_._1).maxOption.getOrElse(-1L) + 1

    private def payloadPath(path: String, seq: Long, afterBatch: Long) =
      s"$path/tomb/t${seq}_b$afterBatch/$leaf"

    /** Land a tombstone at a pre-assigned (seq, after) position. */
    def writeAt(path: String, rows: DataFrame, seq: Long,
        afterBatch: Long): Unit =
      payload(rows).coalesce(1).write.mode("overwrite")
        .parquet(payloadPath(path, seq, afterBatch))

    /** Land a tombstone at the next free sequence number. */
    def append(path: String, rows: DataFrame, afterBatch: Long): Unit =
      writeAt(path, rows, nextSeq(rows.sparkSession, path), afterBatch)

    /** True when the tombstone at (seq, after) has committed. */
    def committed(spark: org.apache.spark.sql.SparkSession, path: String,
        seq: Long, afterBatch: Long): Boolean =
      fsFor(spark, path).exists(new org.apache.hadoop.fs.Path(
        payloadPath(path, seq, afterBatch) + "/_SUCCESS"))

    /** Drop tombstones with after ≤ `upTo` — called after a generation
      * save at that batch: the snapshot was taken from an index that
      * already reflects every takedown up to there, so a restore from it
      * must NOT re-apply them (a later batch may have legitimately
      * re-admitted the content). */
    def clear(spark: org.apache.spark.sql.SparkSession, path: String,
        upTo: Long): Unit = {
      val fs = fsFor(spark, path)
      list(spark, path).filter(_._2 <= upTo).foreach { case (_, _, p) =>
        fs.delete(new org.apache.hadoop.fs.Path(p).getParent, true)
      }
    }
  }

  private[graft] object TombstoneLog {
    val Fps = new TombstoneLog("fps", _.select(col("fp")))
    val Ids = new TombstoneLog("ids",
      _.select(col("id").cast("long").as("id")))
    val Neg = new TombstoneLog("neg", _.select(col("h"), col("occ")))
  }

  /** Write one micro-batch's fold to the checkpoint's write-ahead delta
    * log: the family's named `layers`, then `ids` — the batch's replay
    * identity ([[batchReplayIds]]), what lets a restart tell a genuine
    * engine replay from a batch-id collision — then `kept`, LAST, as the
    * commit marker ([[TombstoneLog]] draws the tree). The delta is
    * batch-sized, so the per-batch durability cost matches what a
    * state-store commit would have been — but only for the batch, never
    * the corpus. With the delta on disk BEFORE any side effect becomes
    * visible, a crash at any later point replays deterministically:
    * restart = last generation + newer deltas ([[restoreWithDeltas]]), and
    * a re-delivered already-folded batch sinks its recorded kept-set
    * ([[checkpointKept]]) instead of being re-probed against an index that
    * already contains it (which would silently drop every kept row). */
  private[graft] def appendDelta(path: String, batchId: Long,
      layers: Seq[(String, DataFrame)], ids: DataFrame,
      kept: DataFrame): Unit = {
    val d = s"$path/delta/b$batchId"
    layers.foreach { case (leaf, df) =>
      df.write.mode("overwrite").parquet(s"$d/$leaf")
    }
    ids.write.mode("overwrite").parquet(s"$d/ids")
    kept.select(col("doc_id").cast("long").as("doc_id"))
      .write.mode("overwrite").parquet(s"$d/kept")
  }

  /** The exactly-once restore rule, as the order of steps that rebuild an
    * index from its newest generation (saved at batch `genBatch`):
    * `Right(b)` folds delta b, `Left(t)` applies tombstone t.
    *
    * Deltas at or below `genBatch` are already in the generation. Newer
    * deltas fold in ascending order, and tombstones replay INTERLEAVED at
    * their recorded position: one tagged after=b applies after delta b
    * folds and before delta b+1 — so content a later batch legitimately
    * RE-ADMITTED is not wrongly deleted by an earlier takedown on restore.
    * Tombstones tagged STRICTLY BEFORE `genBatch` are skipped: a delete
    * tagged after=b happens between batches b and b+1, so any generation
    * saved at batch ≥ b+1 was snapshotted from an index that already
    * reflects it. The post-save prune ([[TombstoneLog.clear]]) normally
    * removes them, but a crash between the generation commit and the
    * prune leaves them behind — replaying those AFTER the snapshot would
    * re-delete content a batch in (b, genBatch] legitimately re-admitted.
    * Ones tagged == genBatch are kept: they can only have been created
    * after that batch's fold (and save) completed, so the snapshot
    * predates them. Tombstones tagged after the last delta apply at the
    * end, in sequence order. */
  private[graft] def restoreSchedule(genBatch: Long, deltas: Seq[Long],
      tombs: Seq[(Long, Long, String)])
      : Seq[Either[(Long, Long, String), Long]] = {
    val (steps, rest) = deltas.filter(_ > genBatch).foldLeft(
        (Vector.empty[Either[(Long, Long, String), Long]],
          tombs.filter(_._2 >= genBatch))) { case ((out, pending), b) =>
      val (due, later) = pending.partition(_._2 < b)
      (out ++ due.map(Left(_)) :+ Right(b), later)
    }
    steps ++ rest.map(Left(_))
  }

  /** Restore an index family's full state from `latest` — its newest
    * generation and that generation's batch id — plus every newer
    * write-ahead delta and live tombstone, in [[restoreSchedule]] order.
    * Returns (index, last durably folded batch id). The family supplies
    * its delta `leaves` (each read, `prepare`d, persisted and materialized
    * NOW — a later WAL append must never race a lazy read of these
    * files), how to `fold` one delta's frames (by leaf) into the index,
    * and how to apply one tombstone payload (`applyTomb`). */
  private[graft] def restoreWithDeltas[I](
      spark: org.apache.spark.sql.SparkSession, path: String,
      latest: Option[(I, Long)], tombs: TombstoneLog, leaves: Seq[String],
      prepare: DataFrame => DataFrame = identity)(
      fold: (I, Map[String, DataFrame]) => I)(
      applyTomb: (I, DataFrame) => I): Option[(I, Long)] =
    latest.map { case (gen, genBatch) =>
      val steps = restoreSchedule(genBatch, indexDeltaBatches(spark, path),
        tombs.list(spark, path))
      val idx = steps.foldLeft(gen) {
        case (acc, Left((_, _, payload))) =>
          applyTomb(acc, readLayer(spark, payload))
        case (acc, Right(b)) =>
          val frames = leaves.map(l => l -> persistSketch(
            prepare(readLayer(spark, s"$path/delta/b$b/$l"))))
          frames.foreach(_._2.count())
          fold(acc, frames.toMap)
      }
      (idx, steps.collect { case Right(b) => b }.lastOption
        .getOrElse(genBatch))
    }

  /** True when a pre-generational flat-layout checkpoint exists at `path`
    * (frames directly under the root), which no longer loads. */
  private[graft] def hasLegacyIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(
      new org.apache.hadoop.fs.Path(s"$path/params"))

  /** The batch's (doc_id, fp) replay-identity frame: ids plus a per-doc
    * CONTENT fingerprint. The fp column is what lets replay detection
    * reject a batch that re-delivers the same ids with changed text (a
    * stream restarted without its engine checkpoint re-reading a mutated
    * source) — id-set equality alone would misclassify it as a replay,
    * sink the stale recorded kept-set, and never fold the new content. */
  private[graft] def batchReplayIds(batch: DataFrame, idCol: String,
      textCol: Option[String]): DataFrame = textCol match {
    case Some(t) => batch.select(col(idCol).cast("long").as("doc_id"),
      xxhash64(col(t)).as("fp"))
    case None => batch.select(col(idCol).cast("long").as("doc_id"))
  }

  /** The committed delta id (≥ `fromId`) whose recorded (id, content-fp)
    * set covers exactly this batch, if any. A genuine engine replay
    * re-delivers the same docs; a fresh query restarted without the engine
    * checkpoint reuses the same batch ids for NEW data — set equality is
    * what tells them apart. Deltas written before the fp column existed
    * (or a caller without a text column) compare ids only. Scanning
    * UPWARD from the raw engine id is what makes replay detection survive
    * a batch-id REBASE:
    * a prior run that restarted without its engine checkpoint recorded
    * this batch's delta under `batchId + offset`, and a later engine
    * replay arrives with the raw id again — only the id-set match, not
    * the id itself, identifies it. Candidates are bounded by the deltas
    * outstanding since the last compaction, and only restart-window
    * batches (id at-or-below the restored high-water mark) ever scan. */
  private[graft] def findMatchingDelta(
      spark: org.apache.spark.sql.SparkSession, path: String, fromId: Long,
      batch: DataFrame, idCol: String,
      textCol: Option[String] = None): Option[Long] = {
    val cands = indexDeltaBatches(spark, path).filter(_ >= fromId)
    if (cands.isEmpty) None
    else {
      val n = batch.select(col(idCol)).count()
      cands.find { b =>
        val recorded = readLayer(spark, s"$path/delta/b$b/ids")
        val withFp = textCol.isDefined &&
          recorded.schema.fieldNames.contains("fp")
        val rec = if (withFp) recorded.select("doc_id", "fp")
          else recorded.select("doc_id")
        val ids = batchReplayIds(batch, idCol, if (withFp) textCol else None)
        rec.count() == n &&
          ids.except(rec).limit(1).collect().isEmpty
      }
    }
  }

  /** Committed delta batch ids under `path`, ascending. */
  private[graft] def indexDeltaBatches(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Long] = {
    val fs = fsFor(spark, path)
    val base = new org.apache.hadoop.fs.Path(s"$path/delta")
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.matches("b\\d+") => n.drop(1).toLong }
      .filter(b => fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/delta/b$b/kept/_SUCCESS")))
      .sorted
  }

  /** Drop deltas with batchId ≤ `upTo` — called after a generation save
    * folds them in. Offsets for every batch before the save are already
    * committed by the streaming engine (a batch's offsets commit before
    * the next batch starts), so no dropped delta can be replayed. */
  private[graft] def clearIndexDeltas(
      spark: org.apache.spark.sql.SparkSession, path: String,
      upTo: Long): Unit = {
    val fs = fsFor(spark, path)
    indexDeltaBatches(spark, path).filter(_ <= upTo).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/delta/b$b"), true)
    }
  }

  /** Restore the full near-dup index state: newest generation + every
    * newer delta and tombstone ([[restoreWithDeltas]]), returning (index,
    * last durably folded batch id). */
  private[graft] def loadIndexWithDeltas(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(NearDupIndex, Long)] =
    restoreWithDeltas(spark, path,
      loadLatestGen(spark, path).map { case (idx, _, b) => (idx, b) },
      TombstoneLog.Ids, Seq("sets", "prefs")) { (acc, d) =>
      NearDupIndex(acc.docsets.union(d("sets")),
        acc.prefixes.union(d("prefs")), acc.freq, acc.shingleN,
        acc.threshold, layers = acc.layers ++ Seq(d("sets"), d("prefs")))
    }(removeNearDupIds(_, _))

  /** Remove `docs`' CONTENT from a near-dup index — the takedown path for
    * the FUZZY family: after a doc is withdrawn, future arrivals that
    * near-duplicate it must be ADMITTED again, so its shingle sketch has
    * to leave the candidate index. Content-addressed: an index doc is
    * removed iff its shingle hash SET equals a withdrawn doc's — the same
    * identity the dup-collapse pre-pass uses, so withdrawing a content
    * also lifts the suppression its collapsed copies shared. The `freq`
    * table is deliberately untouched: probe and index prefixes must rank
    * shingles under the SAME global order, and rarity drift is the
    * documented rebuild trigger, not a per-delete adjustment. Functional —
    * returns (new index, removed-ids frame (`id`), already materialized);
    * the removed-ids frame is what the durable tombstone leg persists
    * (ids are stable across restores, content sets are not cheap). */
  def deleteNearDupContent(index: NearDupIndex, docs: DataFrame,
      idCol: String, textCol: String): (NearDupIndex, DataFrame) = {
    val wd = persistSketch(
      docHashSets(docs, idCol, textCol, index.shingleN)
        .select(col("hs")).distinct())
    wd.count()
    val doomed = persistSketch(
      index.docsets.join(wd, Seq("hs"), "left_semi").select(col("id")))
    doomed.count()
    (removeNearDupIds(index, doomed, materialized = true), doomed)
  }

  /** Remove already-RESOLVED ids from a near-dup index — the replay leg
    * of [[deleteNearDupContent]]: a crash-window re-apply must shrink by
    * the ids recorded at first attempt, not re-resolve by content (which
    * would also match docs re-admitted since). */
  private[graft] def removeNearDupIds(index: NearDupIndex, ids: DataFrame,
      materialized: Boolean = false): NearDupIndex = {
    val doomed =
      if (materialized) ids
      else {
        val d = persistSketch(ids.select(col("id").cast("long").as("id")))
        d.count()
        d
      }
    NearDupIndex(index.docsets.join(doomed, Seq("id"), "left_anti"),
      index.prefixes.join(doomed, Seq("id"), "left_anti"),
      index.freq, index.shingleN, index.threshold,
      index.layers :+ doomed)
  }

  /** Resolve `docs`' contents to near-dup index ids — the WAL-time leg of
    * a streaming takedown ([[deleteNearDupContent]]'s matching rule,
    * WITHOUT the persisted sketch layers: the caller writes the result
    * straight to its log and forgets it, so persisting here would leak one
    * cached frame per takedown batch over the stream's lifetime). */
  private[graft] def resolveNearDupIds(index: NearDupIndex, docs: DataFrame,
      idCol: String, textCol: String): DataFrame =
    index.docsets.join(
      docHashSets(docs, idCol, textCol, index.shingleN)
        .select(col("hs")).distinct(),
      Seq("hs"), "left_semi").select(col("id"))

  /** The kept-set recorded for `batchId`, if the checkpoint still has it
    * (its delta, or the generation saved at exactly that batch). */
  private[graft] def checkpointKept(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batchId: Long): Option[DataFrame] = {
    val fs = fsFor(spark, path)
    val delta = s"$path/delta/b$batchId/kept"
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$delta/_SUCCESS")))
      Some(readLayer(spark, delta))
    else completeGens(spark, path).headOption.flatMap { g =>
      val params = spark.read.parquet(s"$path/g$g/params").head()
      val keptPath = s"$path/g$g/kept"
      if (params.schema.fieldNames.contains("batch_id") &&
          params.getAs[Long]("batch_id") == batchId &&
          fs.exists(new org.apache.hadoop.fs.Path(s"$keptPath/_SUCCESS")))
        Some(readLayer(spark, keptPath))
      else None
    }
  }

  /** Rebuild a layered index into FLAT-lineage resident frames. Each
    * [[extendIndex]]/[[probeAndExtend]] adds one union node of plan
    * lineage; after O(100) micro-batches the plan itself (analysis,
    * optimization, scheduling) becomes the per-probe cost. Compaction
    * eagerly localCheckpoints each frame — one job per frame over the
    * already-resident caches, after which the plan is a single leaf scan
    * of executor-stored partitions regardless of how many layers had
    * accumulated — and (by default) unpersists the superseded layers, so
    * executor storage holds ONE copy of the index, not two.
    *
    * `releaseOld = true` invalidates the PRE-compaction index handle (and
    * any older handle sharing its layers): micro-batch-derived layers
    * cannot recompute once their batch is gone. Adopt the returned index
    * and drop the old reference — the streaming caller does exactly that. */
  def compactIndex(index: NearDupIndex,
      releaseOld: Boolean = true): NearDupIndex = {
    val d = index.docsets.localCheckpoint(true)
    val p = index.prefixes.localCheckpoint(true)
    val f = index.freq.localCheckpoint(true)
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    NearDupIndex(d, p, f, index.shingleN, index.threshold, layers = Nil)
  }

  /** REBUILD the frozen rarity order from the index's OWN docsets — the
    * ACTION [[ndRarityDrift]]'s signal calls for, without re-reading or
    * re-sketching a single corpus document (the docsets layer retains
    * every accumulated shingle set, so live document frequencies and fresh
    * prefix keys derive from the index alone).
    *
    * Semantics: kept/drop decisions are INVARIANT — the prefix lemma holds
    * under ANY consistent global shingle order, probes rank their keys by
    * this index's `freq`, and verification is exact Jaccard on candidates,
    * so re-ranking changes candidate-set width (drift's cost), never the
    * answer (IncrementalDedupSpec pins rebuilt ≡ drifted kept-sets, and
    * in-place-rebuilt prefixes ≡ a from-scratch build's). Drift returns to
    * 0.0 by construction.
    *
    * Cost: one docsets flatten (localCheckpoint, as [[compactIndex]]) +
    * the build-time freq aggregation + prefix re-rank — the same shape and
    * order as the compaction that hosts it; content-sized, like rebuilding
    * table statistics. Like compaction, the pre-rebuild handle is
    * superseded: with `releaseOld` the old layers unpersist; the streaming
    * caller passes false and lets the loop's one-cycle reader grace retire
    * them (streaming/NearDupStream auto-rebuilds here when drift crosses
    * [[NdRarityDriftRebuildThreshold]] at a compaction point). */
  def rebuildIndex(index: NearDupIndex,
      releaseOld: Boolean = true): NearDupIndex = {
    val d = index.docsets.localCheckpoint(true)
    val f = persistSketch(d.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("f")))
    val p = persistSketch(prefixKeys(d, f, index.threshold))
    f.count(); p.count()
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    NearDupIndex(d, p, f, index.shingleN, index.threshold, layers = Seq(f, p))
  }

  /** Unpersist exactly the layers `index` references — for retiring an
    * index that has been superseded (a bootstrap copy after its saved
    * artifact is reloaded, a pre-compaction handle after adoption) without
    * the blast radius of [[releaseSketchCaches]], which would also evict
    * every other live index in the session. */
  def releaseIndex(index: NearDupIndex): Unit =
    index.layers.foreach(_.unpersist(false))

  /** Default [[ndRarityDrift]] bar: above it, schedule a rebuild at the
    * next maintenance window. A tenth of sampled docs carrying stale
    * prefixes measurably widens candidate sets without yet dominating
    * probe cost — the table-statistics-refresh calibration. */
  val NdRarityDriftRebuildThreshold = 0.1

  /** [[ndPrefixSaturation]] warn bar: estimated candidate rows PER PROBE
    * DOCUMENT above which the exact prefix-filter join's enumeration cost
    * dominates the batch (the sf1 fixture probe measured ~49k/doc → 30.6×
    * wall for 10× data; healthy growing-vocabulary corpora sit orders of
    * magnitude lower because posting lists stay sublinear in the corpus). */
  val NdPrefixSaturationWarnThreshold = 10000.0

  /** PREFIX-SATURATION probe — the regime detector for the exact
    * prefix-filter join ([[probeNearDups]]/[[exactJaccard]]'s candidate
    * generator). Candidate enumeration costs Σ_h c_h² rows over the prefix
    * posting lists c_h; on real text the shingle universe grows with the
    * corpus (Heaps' law) and posting lists stay sublinear, but a
    * vocabulary-SATURATED corpus (bounded shingle universe — template/
    * boilerplate-only content, tiny-vocab fixtures) grows every posting
    * list linearly with the corpus and the join goes quadratic, with the
    * length/positional filters cutting constants, not the exponent.
    *
    * Returns Σ_h c_h² / |docs| — the expected corpus-candidate rows ONE
    * corpus-shaped probe document generates before pruning (per-key mass-
    * weighted posting length × keys per doc). Content-sized (one groupBy
    * over the prefix layer); warn past
    * [[NdPrefixSaturationWarnThreshold]] and prefer the banded/capped
    * approximate families (MinHash d2, SimHash d4, winnow d6) whose
    * frequency caps bound exactly this blowup — the trade is their
    * documented hash-family recall. streaming/NearDupStream logs this at
    * every compaction alongside [[ndRarityDrift]]. */
  def ndPrefixSaturation(index: NearDupIndex): Double = {
    val docs = index.docsets.count()
    if (docs == 0L) return 0.0
    prefixSaturationOf(index.prefixes, docs)
  }

  /** Σ_h c_h² / docs over any (…, h, …) prefix frame — the metric body
    * [[ndPrefixSaturation]] and the batch pre-flight guard share. */
  private def prefixSaturationOf(prefix: DataFrame, docs: Long): Double = {
    val r = prefix.groupBy("h").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * col("c")), lit(0L)).as("s2"))
      .head()
    r.getLong(0).toDouble / docs
  }

  /** Thrown by the batch exact-pair entry points ([[exactJaccard]],
    * [[buildNearDupIndex]]) when the corpus reads past the prefix-
    * saturation bar and [[SaturationModeKey]] is `fail` (the default).
    * Failing BEFORE the candidate join runs converts a cluster outage
    * (the quadratic join spilled past 77 GB at native sf1) into an
    * immediate, named decision for the caller. */
  final class SaturatedCorpusException(msg: String)
    extends RuntimeException(msg)

  /** Pre-flight policy for the batch exact-pair family on corpora past the
    * saturation bar: `fail` (default — throw [[SaturatedCorpusException]]
    * naming the capped alternatives), `route` (auto-route to the capped
    * shape: banded-minhash candidates for [[exactJaccard]], posting-capped
    * prefixes for [[buildNearDupIndex]] — bounded cost, documented partial
    * recall), `off` (skip the check and run the exact join regardless). */
  val SaturationModeKey = "spark.graft.dedup.saturation.mode"

  /** Override of [[NdPrefixSaturationWarnThreshold]] for the pre-flight
    * guard (estimated candidate rows per probe document). */
  val SaturationBarKey = "spark.graft.dedup.saturation.bar"

  /** `route` mode, [[buildNearDupIndex]]: drop prefix keys whose corpus
    * posting list exceeds this many docs (default 200 — winnowing's
    * `maxFreq` calibration). A pair is lost only when EVERY shared prefix
    * key is that ubiquitous — boilerplate-grade content. */
  val SaturationMaxPostingsKey = "spark.graft.dedup.saturation.maxPostings"

  /** `route` mode, [[exactJaccard]]: the banded-candidate bucket cap
    * ([[minhashLsh]]'s default). */
  val SaturationMaxBucket = 10000

  /** [[simhashFold]]'s auto-route chunk-bucket cap (default 512). Tighter
    * than the banded-minhash cap because the fold's cost is the COMPONENTS
    * pass over the candidate edge set, not just the join: per-doc
    * candidates are bounded by ~4×cap, and on the saturated fixture the
    * chunk-bucket mass sits in ~2800-doc buckets — a 10k cap barely
    * drops anything (measured 213 s at native sf1) while 512 excludes the
    * degenerate mass and keeps only rare-chunk pairs, the capped-family
    * recall contract. */
  val SaturationFoldMaxBucketKey =
    "spark.graft.dedup.saturation.foldMaxBucket"

  /** [[hammingPairs]] hot-bucket split: a (c, chunk) bucket holding more
    * than this many signatures is block-split so its pair grid runs as
    * ~(bsize/blockRows)²/2 independent join keys instead of ONE key's
    * single task (a degenerate chunk value is the "single enormous key
    * AQE's skew join cannot split" shape — guide §2.5). Default 4096 ≈
    * 16.8M xor+popcount comparisons per block pair, sub-second a task;
    * NOT a core-count constant — it bounds per-task work and per-row
    * replication (a bucket's rows are replicated ~(nb+1)/2× per side).
    * `2147483647` (Int.MaxValue) disables the split. */
  val HammingBlockRowsKey = "spark.graft.dedup.hammingBlockRows"

  /** Evaluate the pre-flight guard over a derived prefix frame: false when
    * the mode is `off` or the corpus is healthy (run the exact join), true
    * when the corpus is saturated and the caller opted into `route`;
    * throws [[SaturatedCorpusException]] on saturation under the default
    * `fail`. One content-sized aggregation — the same detector streaming
    * compactions already log ([[ndPrefixSaturation]]). */
  private def routeOnSaturation(prefix: DataFrame, nDocs: Long,
      op: String): Boolean = {
    val spark = prefix.sparkSession
    val mode = spark.conf.get(SaturationModeKey, "fail")
    if (mode == "off" || nDocs == 0L) return false
    val bar = spark.conf.get(SaturationBarKey,
      NdPrefixSaturationWarnThreshold.toString).toDouble
    val sat = prefixSaturationOf(prefix, nDocs)
    if (sat <= bar) return false
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (mode == "route") {
      log.warn(s"$op: corpus reads prefix-saturated " +
        f"($sat%.0f estimated candidate rows per probe document, bar $bar%.0f) " +
        s"— routing to the capped shape ($SaturationModeKey=route): bounded " +
        "cost, recall drops from exact to capped-family for " +
        "boilerplate-saturated content.")
      true
    } else throw new SaturatedCorpusException(
      f"$op: corpus reads prefix-saturated ($sat%.0f estimated candidate " +
        f"rows per probe document, bar $bar%.0f) — the exact prefix-filter " +
        "join is quadratic in this regime (bounded shingle vocabulary: " +
        "posting lists grow linearly with the corpus). Use a capped " +
        "approximate family (Dedup.minhashLsh / Dedup.simhash / " +
        s"Dedup.winnowing), set $SaturationModeKey=route to auto-route " +
        "this call to its capped shape, or =off to force the exact join " +
        s"(bar tunable via $SaturationBarKey).")
  }

  /** RARITY-DRIFT probe for the near-dup index's FROZEN shingle order —
    * the rebuild signal the freeze contract was missing: the index ranks
    * shingles by document frequencies frozen at build time so corpus
    * prefixes stay valid forever, but every [[extendIndex]] fold shifts
    * the TRUE frequencies, and stale rarity estimates select stale
    * prefixes — wider candidate sets, never wrong answers (recall stays
    * total because probe and index rank under the same frozen order;
    * drift costs efficiency, not accuracy).
    *
    * Returns the fraction of SAMPLED docs (deterministic id-hash sample,
    * ~1/`sampleMod`) whose prefix-filter key set, re-derived under the
    * LIVE document frequencies of the current docsets (corpus plus every
    * extension), differs from the frozen-order prefixes the index
    * actually serves. 0.0 on a fresh index by construction; rebuild when
    * it exceeds [[NdRarityDriftRebuildThreshold]].
    *
    * Cost: one narrow explode of the sketch layer plus an aggregation
    * restricted to the sampled docs' shingles — sketch-layer-sized, the
    * same order as the compaction cadence that hosts it
    * (streaming/NearDupStream computes it at every compaction and logs
    * the value). */
  def ndRarityDrift(index: NearDupIndex, sampleMod: Long = 16L): Double = {
    val sets = index.docsets
    val sampled = sets
      .where(pmod(xxhash64(col("id")), lit(sampleMod)) === 0)
      .select(col("id"), col("n"), col("hs"))
    val total = sampled.count()
    if (total == 0L) return 0.0
    val sh = sampled.select(col("id"), col("n"), explode(col("hs")).as("h"))
    // Live document frequency of exactly the sampled docs' shingles —
    // counted over ALL current docsets (that is what "live" means), but
    // aggregated only for the ~1/sampleMod of shingles the sample needs.
    val live = sets.select(explode(col("hs")).as("h"))
      .join(sh.select("h").distinct(), Seq("h"), "left_semi")
      .groupBy("h").agg(count(lit(1)).as("f"))
    val livePref = sh.join(live, Seq("h"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
      .withColumn("r", row_number().over(
        Window.partitionBy("id").orderBy(col("f"), col("h"))))
      .where(col("r") <= col("n") - ceil(col("n") * index.threshold) + 1)
      .select(col("id"), col("h"))
    val frozenPref = index.prefixes
      .join(sampled.select("id"), Seq("id"), "left_semi")
      .select(col("id"), col("h"))
    val changed = livePref.exceptAll(frozenPref)
      .unionAll(frozenPref.exceptAll(livePref))
      .select("id").distinct().count()
    changed.toDouble / total
  }

  /** Extend a [[NearDupIndex]] with newly arrived documents (typically the
    * batch a [[probeNearDups]] call just classified) WITHOUT touching the
    * corpus: the new docs are sketched once, their prefix keys computed
    * under the index's FROZEN shingle-frequency order (a batch arrival
    * must not retroactively change corpus prefixes — see [[NearDupIndex]]),
    * and both frames appended as a new persisted layer over the existing
    * cached layers.
    *
    * The new layer is EAGERLY materialized before this returns: the
    * streaming caller (streaming/NearDupStream) hands us a micro-batch
    * frame that is only recomputable while its micro-batch is executing,
    * so the sketches must be resident before the batch commits
    * (MEMORY_AND_DISK spills rather than evicts, so they stay resident).
    *
    * Extension cost scales with the new docs only; existing layers are
    * shared, not copied. Each extension adds one union node of plan
    * lineage — a long-lived pipeline should compact (rebuild the index, or
    * sink its frames to bucketed parquet via sources/Sink.bucketed) every
    * O(100) batches, the same cadence as table-statistics refresh. */
  def extendIndex(
      index: NearDupIndex,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): NearDupIndex = {
    val sets = persistSketch(docHashSets(newDocs, idCol, textCol, index.shingleN)
      .select(col("id").cast("long").as("id"), col("hs"), col("n")))
    val prefs = persistSketch(prefixKeys(sets, index.freq, index.threshold))
    sets.count(); prefs.count()
    // The unions are NOT persisted — they read two resident caches, so
    // re-persisting them would double executor storage for no scan savings.
    NearDupIndex(index.docsets.union(sets), index.prefixes.union(prefs),
      index.freq, index.shingleN, index.threshold,
      layers = index.layers ++ Seq(sets, prefs))
  }

  /** (id, h, r, n) prefix-filter join keys: each docset's first
    * `n − ⌈t·n⌉ + 1` shingle hashes under the frozen global rarest-first
    * order (f, h), with the key's position `r` in that order and the
    * docset size `n` — the two scalars the PPJoin length/positional
    * filters need at candidate-join time. Hashes absent from `freq` count
    * as frequency 0 — a corpus-unseen shingle is by definition the rarest
    * kind of key, and the order stays consistent across sides because no
    * corpus doc contains it. */
  private[operators] def prefixKeys(
      sets: DataFrame, freq: DataFrame, threshold: Double): DataFrame =
    sets.select(col("id"), col("n"), explode(col("hs")).as("h"))
      .join(freq, Seq("h"), "left")
      .withColumn("f", coalesce(col("f"), lit(0L)))
      .withColumn("r", row_number().over(
        Window.partitionBy("id").orderBy(col("f"), col("h"))))
      .where(col("r") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("id"), col("h"), col("r").cast("long").as("r"), col("n"))

  /** Incremental near-dup dedup: the ids of `batch` documents that are NOT
    * near-duplicates (exact shingle Jaccard ≥ the index's threshold) of any
    * corpus document or any SMALLER-ID batch document — first-arrival-wins,
    * the same contract as the exact-fingerprint incremental path (d8), with
    * near-dup instead of exact matching.
    *
    * Scale shape: batch-side sketches compute map-side; candidates come
    * from two equi-joins of batch prefix keys (against the corpus prefix
    * index, and against themselves for within-batch pairs); verification
    * is the codegen'd sorted-merge kernel on candidates only. The corpus
    * contributes ONLY its persisted index frames — no corpus document is
    * read, so probe cost scales with the batch, not the corpus
    * (IncrementalDedupSpec asserts the probe plan contains no corpus
    * scan). Ids must be long-castable and disjoint from corpus ids.
    *
    * Cost model caveat: "scales with the batch" carries a per-doc factor
    * of the index's PREFIX SATURATION (expected posting-list mass behind a
    * probe key, [[ndPrefixSaturation]]) — ~O(1) on growing-vocabulary
    * text, linear in the corpus when the shingle universe saturates, where
    * the exact join is inherently quadratic and the capped approximate
    * families are the tool (measured: BENCH_NOTES round 11). */
  def probeNearDups(
      index: NearDupIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      collapseFloor: Long = 8192): DataFrame =
    probeParts(index, batch, idCol, textCol, collapseFloor)._1

  /** [[probeNearDups]] + [[extendIndex]] sharing ONE batch sketch pass —
    * the per-micro-batch step of streaming/NearDupStream. The returned
    * index is already materialized (safe to use after the batch frame is
    * gone); the kept frame is lazy, so the caller decides when (and
    * whether) to act on it before adopting the new index. Above the
    * collapse floor the index gains only the batch's distinct NEW contents
    * (copies and corpus twins re-index nothing — same semantics, smaller
    * index). */
  def probeAndExtend(
      index: NearDupIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      collapseFloor: Long = 8192): (DataFrame, NearDupIndex) = {
    val (kept, _, _, extended) =
      probeAndExtendParts(index, batch, idCol, textCol, collapseFloor)
    (kept, extended)
  }

  /** [[probeAndExtend]] that also exposes the batch's new sketch layer
    * (sets + prefix keys) — what the streaming caller writes to the
    * write-ahead delta log ([[appendDelta]]) before any side effect
    * of the batch becomes visible. */
  private[graft] def probeAndExtendParts(
      index: NearDupIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      collapseFloor: Long = 8192)
      : (DataFrame, DataFrame, DataFrame, NearDupIndex) = {
    val (kept, psets, ppref) =
      probeParts(index, batch, idCol, textCol, collapseFloor)
    psets.count(); ppref.count()
    // unionByName: belt for the dense path's re-normalized column order —
    // a positional union would bind silently if a future probe variant
    // reordered again.
    (kept, psets, ppref, NearDupIndex(index.docsets.unionByName(psets),
      index.prefixes.unionByName(ppref), index.freq, index.shingleN,
      index.threshold, layers = index.layers ++ Seq(psets, ppref)))
  }

  /** Shared probe pipeline: returns (kept ids, the batch docsets an index
    * extension should adopt, their prefix keys). Above `collapseFloor`
    * batch docs, two exact pre-passes shrink the candidate joins with zero
    * recall loss (both produce certain J = 1 hits, the d3 density
    * insurance applied to the arrival path):
    *   - identical batch shingle sets collapse to their smallest-id
    *     representative (non-representatives are dups of it by identity);
    *   - representatives with an identical corpus content (array-equality
    *     semi join against the index docsets) are corpus dups outright.
    * Only surviving representatives enter the prefix-filter joins, so a
    * dup-dense arrival stream (40×-replication probe) degrades to the
    * distinct-content workload instead of multiplying candidate pairs by
    * the copy count squared. Below the floor both pre-passes are skipped —
    * pure shuffle overhead on a small batch (the bsets.count() that decides
    * also materializes the persisted sketches every consumer reuses). */
  private def probeParts(
      index: NearDupIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      collapseFloor: Long): (DataFrame, DataFrame, DataFrame) = {
    val t = index.threshold
    val bsetsAll = persistSketch(docHashSets(batch, idCol, textCol, index.shingleN)
      .select(col("id").cast("long").as("id"), col("hs"), col("n")))
    val dense = bsetsAll.count() > collapseFloor

    // (probe-side docsets, certain-hit ids from the exact pre-passes)
    val (bsets, preHits) =
      if (!dense) (bsetsAll, None)
      else {
        val groups = persistSketch(bsetsAll.groupBy(col("hs"), col("n"))
          .agg(sort_array(collect_list(col("id"))).as("ids")))
        val reps = groups.select(col("ids")(0).as("id"), col("hs"), col("n"))
        // length = size(ids): an Int.MaxValue "rest of the array" length
        // overflows in Spark's interpreted Slice.nullSafeEval (start+length
        // wraps negative → empty array), so only the size-bounded form is
        // safe under codegen fallback.
        val nonReps = groups.where(size(col("ids")) > 1)
          .select(explode(slice(col("ids"), lit(2), size(col("ids")))).as("doc_id"))
        val twins = reps
          .join(index.docsets.select(col("hs")), Seq("hs"), "left_semi")
          .select(col("id").as("doc_id"))
        // Column order re-normalized after the USING join: Spark moves the
        // join key ("hs") to the front, and the extension path unions these
        // docsets with the index's (id, hs, n) POSITIONALLY — without the
        // select, the first dense batch would corrupt the index frame
        // (caught by the 40× stream probe; dense-path extension is also
        // spec-pinned).
        val survivors = persistSketch(reps
          .join(index.docsets.select(col("hs")), Seq("hs"), "left_anti")
          .select(col("id"), col("hs"), col("n")))
        (survivors, Some(nonReps.union(twins)))
      }
    val bpref = persistSketch(prefixKeys(bsets, index.freq, t))

    // Verify candidate (b_id, a_id) pairs with exact Jaccard; emit hit b_ids.
    def verified(cands: DataFrame, right: DataFrame): DataFrame =
      cands
        .join(bsets.select(col("id").as("b_id"), col("hs").as("b_hs"),
          col("n").as("nb")), "b_id")
        .join(right.select(col("id").as("a_id"), col("hs").as("a_hs"),
          col("n").as("na")), "a_id")
        .withColumn("common", graft.functions.GraftFunctions
          .sortedCommon(col("b_hs"), col("a_hs")))
        .where(col("common") / (col("nb") + col("na") - col("common")) >= t)
        .select(col("b_id").as("doc_id"))

    // PPJoin candidate pruning, evaluated INSIDE the hash-join condition so
    // pruned pairs never materialize. Both filters are exact (no recall
    // loss; JaccardSpec-style parity is asserted by IncrementalDedupSpec):
    //   - length: J ≥ t forces min(na,nb) ≥ t·max(na,nb);
    //   - positional: overlap ≥ t(na+nb)/(1+t) must still be reachable
    //     from this key's positions — 1 + min(na−ra, nb−rb) bounds the
    //     overlap at/after the FIRST common prefix key, which for a true
    //     pair is itself a join match, so at least one row survives.
    // The 0.5 slack keeps borderline integer bounds on the safe side of
    // double rounding (admitting an extra candidate is correct; dropping
    // a true one would not be). Measured at sf0.1: corpus candidates
    // 2.28M → the verified join's input drops by ~20×.
    val prune: Column = {
      val (an, bn) = (col("a.n"), col("b.n"))
      col("b.h") === col("a.h") &&
        an * t <= bn + 0.5 && bn * t <= an + 0.5 &&
        lit(1) + least(an - col("a.r"), bn - col("b.r")) >=
          (an + bn) * (t / (1 + t)) - 0.5
    }
    val corpusHits = verified(
      bpref.as("b").join(index.prefixes.as("a"), prune)
        .select(col("b.id").as("b_id"), col("a.id").as("a_id")).distinct(),
      index.docsets)
    // Earlier-arrival near-dups compare surviving representatives only:
    // a non-representative's matches are its representative's, and an
    // exact corpus twin's near-dups are near-dups of that corpus content,
    // which the corpus join already catches.
    val earlierHits = verified(
      bpref.as("b").join(bpref.as("a"), prune && col("a.id") < col("b.id"))
        .select(col("b.id").as("b_id"), col("a.id").as("a_id")).distinct(),
      bsets)

    val kept = preHits.foldLeft(
      batch.select(col(idCol).cast("long").as("doc_id"))
        .join(corpusHits, Seq("doc_id"), "left_anti")
        .join(earlierHits, Seq("doc_id"), "left_anti")) {
      (acc, hits) => acc.join(hits, Seq("doc_id"), "left_anti")
    }
    (kept, bsets, bpref)
  }

  /** 64-bit SimHash over distinct-token hashes, as one codegen'd kernel
    * projection (shingle width 1 = the token hash set — identical hash
    * values to `xxhash64(token)`). Returns (id, sim bigint); no shuffle. */
  private def simhashSig(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docHashSets(docs, idCol, textCol, shingleN = 1)
      .select(col("id"),
        graft.functions.GraftFunctions.simhash(col("hs")).as("sim"))

  /** SimHash near-dedup: 64-bit simhash per doc, bucketed and verified by
    * [[hammingPairs]] — see there for the recall contract (total only at
    * maxHamming ≤ 3; partial, clustered-difference-favoring above).
    * Returns (a_id, b_id, hamming) with hamming ≤ maxHamming,
    * a_id < b_id. */
  def simhash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 6): DataFrame =
    hammingPairs(simhashSig(docs, idCol, textCol), maxHamming)

  /** Pairs of 64-bit signatures within `maxHamming` bits, via the 16-bit
    * chunk pigeonhole self-join. Recall is TOTAL only for maxHamming ≤ 3
    * (with ≤ 3 differing bits, at most 3 of the 4 chunks are touched, so
    * one chunk matches exactly); for larger budgets a pair is found iff
    * its differing bits leave some 16-bit chunk untouched — likely when
    * differences cluster, but NOT guaranteed (4 spread-out bits can touch
    * all 4 chunks and the pair is missed). That partial recall is the
    * hash-family contract both callers accept and the reason their gate
    * checks are rows-only. Shared by SimHash text dedup and
    * perceptual-hash payload dedup — `sig` is any (id, sim: bigint) frame.
    * Returns (a_id, b_id, hamming), a_id < b_id. The signature frame
    * persists while the join runs ([[withSketchCache]] /
    * [[releaseSketchCaches]] contract). Buckets larger than
    * [[HammingBlockRowsKey]] rows are block-split into a triangle of
    * independent join keys (round 17) — pair set and ordering identical,
    * but a degenerate hot chunk no longer serializes its n²/2 grid into
    * one task. */
  def hammingPairs(sig: DataFrame, maxHamming: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // 16 bytes/doc; feeds both sides of the chunk-bucket self-join — see
    // the persist rationale on minhashLsh.
    val sim = persistSketch(sig.select(col("id"), col("sim")))

    val raw = sim.select(col("id"), col("sim"),
      explode(expr(
        "transform(sequence(0, 3), c -> named_struct(" +
          "'c', c, 'chunk', shiftright(sim, c * 16) & 65535))")).as("cc"))
      .select(col("id"), col("sim"),
        col("cc.c").as("c"), col("cc.chunk").as("chunk"))

    // Hot-bucket threshold default 16384 (round 18, was 4096): the split
    // pays only when one bucket's b²/2 grid would serialize a stage — at
    // 16384 rows that grid is ~134M codegen'd xor+bit_count ops (~1 s of
    // one task, the per-task work a split block also carries), while the
    // triangle's row REPLICATION (~nb/2 copies per row) taxes every
    // moderately-hot bucket it touches. Measured on the 40× dup-dense
    // probe (ScaleProbe simfold, sf0.1×40): d18 11.6 s @4096 / 6.9 @16384
    // / 12.3 split-disabled; d4 87 @4096 / 64 @16384 / 66 disabled —
    // 4096 split buckets the plain join already parallelizes across keys.
    // Memory per task stays trivial (16 B/row); a truly degenerate chunk
    // (one bucket ~ the corpus) still splits into ~n/16384 blocks.
    val blockRows = sig.sparkSession.conf
      .get(HammingBlockRowsKey, "16384").toInt
    def plainJoin(src: DataFrame): DataFrame =
      src.as("x").join(src.as("y"),
          col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
          bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
    // Bucket census for BOTH skew controls — the opt-in cap
    // ([[simhashFold]] engages it on saturation: drop degenerate
    // chunk buckets before the quadratic self-join) and the
    // hot-bucket SPLIT (round 17, guide §2.5: a surviving bucket past
    // `blockRows` rows is a single join key owning a bsize²/2 pair
    // grid in ONE task — the single enormous key AQE's skew join
    // cannot split).
    //
    // Round 18: the census is COLLECTED driver-side instead of
    // broadcast-joined back. The round-17 shape paid the broadcast
    // build plus a DOUBLE scan of the sized frame (cold filter +
    // hot filter feeding a union) on EVERY call — measured 2–4.4×
    // on healthy corpora where no bucket is hot at all (QProf sf0.1:
    // d18 15.0→3.4 s, d4 3.2→1.8, m9 2.5→1.0, m6 1.1→0.6 with the
    // census disabled). Only buckets ABOVE a threshold leave the
    // executors (bounded by 4·n/min(blockRows, maxBucket) rows —
    // the census itself is ≤ 4·65536 groups by construction), and
    // the common healthy case short-circuits to the plain join with
    // ONE extra aggregation job over the persisted 16-byte sketch.
    // Hot/dropped membership tests compile to InSet filters on the
    // packed (c, chunk) key; the pair set is IDENTICAL to the
    // round-17 broadcast-join shape on every route (OperatorsSpec
    // pins split ≡ plain).
    val key = col("c").cast("long") * lit(65536L) + col("chunk")
    val floor = math.min(blockRows.toLong, maxBucket.toLong)
    val special = raw.groupBy("c", "chunk")
      .agg(count(lit(1)).as("bsize"))
      .where(col("bsize") > floor)
      .select((col("c").cast("long") * lit(65536L) + col("chunk"))
        .as("k"), col("bsize"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dropped = special.collect {
      case (k, s) if s > maxBucket => k }.toSeq
    val hot = special.collect {
      case (k, s) if s <= maxBucket && s > blockRows => (k, s) }.toSeq
    val live =
      if (dropped.isEmpty) raw else raw.where(!key.isin(dropped: _*))
    val pairs = if (hot.isEmpty) plainJoin(live)
    else {
      // Triangle split: a row in block p joins as the LEFT leg of keys
      // (p, t ≥ p) and the RIGHT leg of keys (s ≤ p, p), so blocks
      // p ≤ q meet at exactly key (p, q) — every within-bucket pair
      // surfaces exactly once (same-block pairs keep the id tiebreak;
      // cross-block orientation is arbitrary, so least/greatest
      // restores a_id < b_id — the join path's exact ordering).
      // Block count per hot bucket: PairGrid.blocksPerGroup over the
      // hot buckets (its scaladoc has the rule) — a fixed row bound
      // alone lets ONE 30k-row bucket run as a 2-block/3-combo grid
      // on a 32-core box (measured: m6's sf1 byte-hash buckets). Cold
      // buckets need no floor: they are many independent join keys
      // already.
      val nbOf = PairGrid.blocksPerGroup(hot, blockRows,
        sig.sparkSession.sparkContext.defaultParallelism)
      val cold = live.where(!key.isin(hot.map(_._1): _*))
      val hotRaw = live.where(key.isin(hot.map(_._1): _*))
        .withColumn("nb", element_at(typedlit(nbOf), key))
        .withColumn("blk", pmod(hash(col("id")), col("nb")).cast("int"))
      val xs = hotRaw
        .withColumn("bj", explode(sequence(col("blk"), col("nb") - lit(1))))
        .withColumnRenamed("blk", "bi")
      val ys = hotRaw
        .withColumn("bi", explode(sequence(lit(0), col("blk"))))
        .withColumnRenamed("blk", "bj")
      val hotPairs = xs.as("x").join(ys.as("y"),
          col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
            col("x.bi") === col("y.bi") && col("x.bj") === col("y.bj") &&
            (col("x.bi") < col("x.bj") || col("x.id") < col("y.id")))
        .select(least(col("x.id"), col("y.id")).as("a_id"),
          greatest(col("x.id"), col("y.id")).as("b_id"),
          bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      plainJoin(cold).unionByName(hotPairs)
    }

    pairs
      .distinct()
      .where(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming").cast("bigint").as("hamming"))
  }

  /** CHUNK-BUCKET saturation probe for the simhash/Hamming family — the
    * [[ndPrefixSaturation]] analogue over [[hammingPairs]]' pigeonhole
    * join: Σ_{(c,chunk)} n² / docs = expected candidate rows one document
    * generates. On healthy corpora signatures spread across the 4×65536
    * buckets and this stays small; saturated/templated content concentrates
    * chunk values and the true Hamming pair list is ~all-pairs (the native
    * sf1 probe measured the uncapped list at 50× wall for 10× data).
    * Cost: one narrow explode + aggregation over 4 rows/doc. `sig` is any
    * (id, sim: bigint) frame. */
  def hammingSaturation(sig: DataFrame): Double = {
    val docs = sig.count()
    if (docs == 0L) return 0.0
    val r = sig.select(explode(expr(
        "transform(sequence(0, 3), c -> named_struct(" +
          "'c', c, 'chunk', shiftright(sim, c * 16) & 65535))")).as("cc"))
      .groupBy(col("cc.c"), col("cc.chunk"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * col("n")), lit(0L)).as("s2"))
      .head()
    r.getLong(0).toDouble / docs
  }

  /** KEPT-SET fold over the simhash/Hamming pair primitive — the
    * production gate shape for the simhash family (one doc kept per fold
    * cluster instead of the quadratic pair list; the pattern m8/m9/d15
    * follow on their payload families). Stages:
    *
    *   1. identical-TEXT collapse — exact copies always fold, independent
    *      of the hash family; a dup-dense corpus stops multiplying the
    *      pair search by the copy count;
    *   2. simhash pairs among REPRESENTATIVES only, SATURATION-AWARE: one
    *      [[hammingSaturation]] probe over the rep signatures decides the
    *      regime, and past the bar ([[SaturationBarKey]], default
    *      [[NdPrefixSaturationWarnThreshold]]) the chunk-bucket join runs
    *      CAPPED ([[SaturationFoldMaxBucketKey]]) — on saturated all-distinct
    *      content the collapse removes nothing and the true Hamming pair
    *      list is ~all-pairs, so components would resolve a quadratic edge
    *      set for a kept-set answer that capping approximates at bounded
    *      cost (the auto-taken route, logged; [[SaturationModeKey]]=off
    *      pins the uncapped search). Recall was already hash-family-
    *      defined, so the cap narrows a non-exact contract rather than
    *      breaking an exact one — unlike [[exactJaccard]], whose guard
    *      therefore FAILS by default instead of routing;
    *   3. copies rejoin through explicit edges, connected components
    *      resolve min-id representatives ([[keepRepresentatives]]).
    *
    * The identical-text guarantee (no two KEPT docs share identical text)
    * holds under ANY cap: collapse precedes the pair search. Returns
    * (id, component) kept rows, one per cluster, like
    * [[keepRepresentatives]]. */
  def simhashFold(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    // Collapse identical texts; persisted — feeds the copy edges, the rep
    // signature projection, and (via keepRepresentatives) nothing else.
    val reps = persistSketch(base.groupBy("text").agg(min(col("id")).as("rid")))
    val copyEdges = base.join(reps, "text")
      .where(col("id") =!= col("rid"))
      .select(col("rid").as("a_id"), col("id").as("b_id"))
    val sig = simhashSig(
      reps.select(col("rid").as("doc_id"), col("text")), "doc_id", "text")
    val cap =
      if (spark.conf.get(SaturationModeKey, "fail") == "off") Int.MaxValue
      else {
        val bar = spark.conf.get(SaturationBarKey,
          NdPrefixSaturationWarnThreshold.toString).toDouble
        val sat = hammingSaturation(sig)
        if (sat <= bar) Int.MaxValue
        else {
          val mb = spark.conf.get(SaturationFoldMaxBucketKey, "512").toInt
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            f"Dedup.simhashFold: representative signatures read chunk-" +
              f"saturated ($sat%.0f estimated candidates per doc, bar " +
              f"$bar%.0f) — capping chunk buckets at $mb " +
              s"($SaturationFoldMaxBucketKey; $SaturationModeKey=off pins " +
              "the uncapped search).")
          mb
        }
      }
    val pairs = hammingPairs(sig, maxHamming, cap).select("a_id", "b_id")
    keepRepresentatives(base, "id", pairs.unionByName(copyEdges),
      "a_id", "b_id")
  }

  /** Winnowing near-dedup (MOSS-style, Schleimer et al. SIGMOD'03): each doc
    * becomes a sorted set of rolling-hash fingerprints
    * ([[graft.functions.GraftFunctions.winnow]] — map-side, O(bytes) per
    * doc, no shuffle); pairs sharing ≥ `minShared` fingerprints are
    * reported with their overlap count. Any shared byte run of length
    * ≥ w + k − 1 guarantees a shared fingerprint, so recall for substantial
    * copied passages is total — unlike token-shingle Jaccard, this catches
    * partial-overlap plagiarism-style duplication, not just whole-doc
    * similarity. The fingerprint bucket join is the only shuffle; `maxFreq`
    * drops ubiquitous fingerprints (boilerplate) before the quadratic
    * bucket blowup, same skew-guard idea as [[minhashLsh]]'s `maxBucket`.
    */
  /** `indexK = 0` (exact): every fingerprint enters the bucket join —
    * total recall for any pair sharing ≥ minShared fingerprints. `indexK
    * > 0` (scale path): only each doc's `indexK` SMALLEST fingerprints are
    * bucket keys (the output is sorted, so that's a prefix slice);
    * candidate pairs must collide on one of those, then the full sorted
    * sets are intersected with the codegen'd merge kernel. Join input
    * shrinks from ~2·bytes/(w+1) rows per doc to `indexK`, at the cost of
    * min-hash-style probabilistic recall for pairs whose shared
    * fingerprints are all outside both min-K prefixes (unlikely for
    * substantial overlap — shared fingerprints are uniform hashes, so each
    * lands in a min-K prefix with the usual minhash collision odds).
    *
    * Semantic difference from the exact path: `indexK > 0` applies
    * `maxFreq` only to the bucket KEYS; the verification count
    * (`n_shared`) intersects the FULL fingerprint sets, so ubiquitous
    * (boilerplate) fingerprints count toward `minShared` in indexed mode
    * but not in exact mode. Filtering them out of the verify step would
    * require the same global fingerprint-frequency aggregation the index
    * mode exists to avoid; callers that need the exact-mode rarity
    * semantics should run `indexK = 0`.
    *
    * `indexK = -1` (the default) picks the path from the corpus row count,
    * the same adaptive choice [[exactJaccard]] makes: exact at or below
    * `indexFloor` rows (one cheap count — parquet-footer metadata on bare
    * scans), min-16 index above (measured at 200k replicated docs: 12 s
    * indexed vs 42 s exact). */
  def winnowing(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      w: Int = 30,
      minShared: Int = 3,
      maxFreq: Int = 200,
      indexK: Int = -1,
      indexFloor: Long = 50000): DataFrame = {
    val kIdx =
      if (indexK >= 0) indexK
      else if (docs.count() <= indexFloor) 0
      else 16
    // Rolling-hash kernel output; both the exact path's self-join sides and
    // the indexed path's key/verify branches re-read it — see the persist
    // rationale on minhashLsh. Released by [[withSketchCache]] /
    // [[releaseSketchCaches]].
    val fps = persistSketch(Balance(docs).select(col(idCol).as("id"),
      graft.functions.GraftFunctions.winnow(col(textCol), k, w).as("fps")))
    if (kIdx == 0) {
      sharedKeyPairs(fps.select(col("id"), explode(col("fps")).as("fp")),
        maxFreq, minShared)
    } else {
      val keyed = fps
        .select(col("id"), explode(slice(col("fps"), 1, kIdx)).as("fp"))
      val rare = keyed
        .withColumn("f", count(lit(1)).over(Window.partitionBy("fp")))
        .where(col("f") <= maxFreq)
        .drop("f")
      val cands = rare.as("a").join(rare.as("b"),
          col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
        .distinct()
      cands
        .join(fps.select(col("id").as("a_id"), col("fps").as("a_fps")), "a_id")
        .join(fps.select(col("id").as("b_id"), col("fps").as("b_fps")), "b_id")
        .withColumn("n_shared", graft.functions.GraftFunctions
          .sortedCommon(col("a_fps"), col("b_fps")))
        .where(col("n_shared") >= minShared)
        .select(col("a_id"), col("b_id"), col("n_shared"))
    }
  }

  /** The shared-key pair search used by winnowing's exact path and the
    * multimodal frame-overlap operator: docs sharing ≥ `minShared` keys
    * pair, keys held by more than `maxFreq` docs are boilerplate-capped
    * (the one skew-quadratic bucket otherwise). `flat` is any (id, fp)
    * frame; it is persisted here because BOTH self-join sides re-read it
    * ([[withSketchCache]] / [[releaseSketchCaches]] contract). Returns
    * (a_id, b_id, n_shared), a_id < b_id. */
  private[operators] def sharedKeyPairs(flat: DataFrame, maxFreq: Int,
      minShared: Int): DataFrame =
    sharedKeyPairsOn(persistSketch(flat), maxFreq, minShared)

  /** [[sharedKeyPairs]] over a frame the CALLER persists and releases —
    * the streaming path tracks its batch frames as index layers so the
    * loop's one-compaction-late release bounds them; an internal persist
    * here would escape that bookkeeping and leak one cache per batch. */
  private[operators] def sharedKeyPairsOn(f: DataFrame, maxFreq: Int,
      minShared: Int): DataFrame = {
    val rare = f
      .withColumn("__f", count(lit(1)).over(Window.partitionBy("fp")))
      .where(col("__f") <= maxFreq)
      .drop("__f")
    rare.as("a").join(rare.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Embedding near-dedup: exact pairs with cosine ≥ threshold,
    * [[Similarity.cosinePairsBlocked]] on the [[PairGrid]] (see there for
    * the shape). (Exactness is the operator's contract; for
    * approximate-but-subquadratic near-dup use [[Similarity.lshTopK]]'s
    * bucketing.) */
  def embedding(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame =
    Similarity.cosinePairsBlocked(emb, idCol, vecCol, threshold)

  /** Connected components over a near-dup pair list: (id, component) where
    * `component` is the minimum id reachable from `id`.
    *
    * Two paths, picked by edge count (one cheap aggregate):
    *
    *   - `edges ≤ localEdgeCap` (default 1M): collect the PAIR LIST — not
    *     the corpus — and run driver union-find (path compression + union
    *     by min root). Near-dup pair lists are orders of magnitude smaller
    *     than their corpus; even at 100 TB most runs land here, and the
    *     iterative path's per-round job overhead (broadcast + two shuffles
    *     + a convergence action) dwarfs the actual work for small graphs
    *     (measured at sf0.1: ~4 s loop vs ~0.1 s local). Same bounded-
    *     collect pattern as Skew's hot-key scan and IVF's training sample.
    *   - above the cap: alternating large-star/small-star contraction
    *     (Kiveris et al. 2014) — each round rewires larger neighbors to
    *     the neighborhood min (large-star) then contracts smaller
    *     neighbors onto it (small-star), all DataFrame ops. Converges in
    *     O(log n) rounds regardless of graph shape — a 1000-link
    *     duplicate CHAIN converges in ~10 rounds where min-label
    *     propagation would need diameter (1000) rounds. Caches each
    *     round's edge set; unpersists the previous round.
    *
    * String ids order by UTF8 bytes on both paths (Spark's `least` is a
    * binary compare). Only ids that appear in `pairs` are returned —
    * singletons don't need a component.
    */
  def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20,
      localEdgeCap: Int = 1000000): DataFrame = {
    // Persist the 2-column edge selection in EVERY path: the local probe
    // and the distributed loop each read it more than once (the probe +
    // fall-through, or the initial contraction input + the final ids
    // frame), so an un-persisted frame would recompute the whole upstream
    // pair pipeline per read. Edge lists are tiny relative to their corpus
    // (~16 bytes/pair).
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (localEdgeCap > 0) {
      // One job decides AND fetches: collect at most cap+1 edges via a
      // CollectLimit (a separate count() would compute the whole upstream
      // pair pipeline twice). Overflow → fall through to the
      // distributed loop.
      val sample = fwd.limit(localEdgeCap + 1).collect()
      if (sample.length <= localEdgeCap) {
        fwd.unpersist(false)
        return componentsLocal(pairs, aCol, sample)
      }
    }
    // Alternating large-star/small-star contraction (Kiveris et al. 2014,
    // "Connected Components in MapReduce and Beyond"): converges in
    // O(log n) rounds REGARDLESS of graph shape, vs the graph-DIAMETER
    // rounds of plain min-label propagation — the long-duplicate-chain
    // insurance (a 1000-link chain converges in ~10 rounds here where
    // propagation would need 1000). Edges stay canonically oriented
    // (u = bigger endpoint, v = smaller); both ops preserve components
    // exactly, and the fixed point is a star per component rooted at its
    // min id.
    // Each round is localCheckpoint'd (eager): an iterative plan that
    // references the previous round several times grows EXPONENTIALLY in
    // the logical tree if only cached (cache short-circuits execution,
    // not analysis), and 20 rounds of that OOMs the planner itself.
    // Checkpointing flattens the round to a leaf; superseded rounds are
    // dropped by the context cleaner when unreferenced.
    var cur = fwd.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint(true)

    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      // Large-star: every node links its LARGER neighbors to the min of
      // its closed neighborhood. Each undirected edge is processed in its
      // smaller endpoint's group of the symmetric view, so no edge is
      // dropped; output keeps the (bigger, smaller) orientation because
      // m ≤ u < v for every emitted (v, m).
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(lsMin, Seq("u")).where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // Small-star: every node links its smaller neighbors (and itself)
      // to the neighborhood min m; m < u always (some neighbor is < u),
      // so the self-link needs no filter.
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val next = ls.join(ssMin, Seq("u"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .distinct().localCheckpoint(true)
      // Set equality of two distinct frames: same count + empty diff
      // (checked lazily via a limit-1 collect, not a full count).
      converged = next.count() == cur.count() &&
        next.except(cur).limit(1).collect().isEmpty
      cur = next
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"Dedup.components: star contraction did NOT converge within " +
          s"maxIter=$maxIter rounds — raise maxIter (rounds needed = " +
          s"O(log n); 20 covers any realistic graph).")
    // At the fixed point every non-root points straight at its component
    // min; under an exhausted budget a node may still carry several
    // links, so take the min per node rather than trusting star shape.
    val mapping = cur.groupBy(col("u").as("id")).agg(min(col("v")).as("comp"))
    val ids = fwd.select(col("src").as("id"))
      .union(fwd.select(col("dst").as("id"))).distinct()
    val labels = ids.join(mapping, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .cache()
    labels.count() // materialize before releasing what it derives from
    fwd.unpersist(false)
    // The returned DataFrame is a cache handle; callers either
    // .unpersist() it when done or let [[withSketchCache]] /
    // [[releaseSketchCaches]] release it (registered here for that).
    sketchCaches.synchronized { sketchCaches += labels }
    labels
  }

  /** Driver union-find over a collected pair list (small-graph path of
    * [[components]]): ids dense-mapped to ints, path-compressed find,
    * component representative = min id (UTF8-byte order for strings,
    * matching the distributed path's binary `least`). */
  private def componentsLocal(
      pairs: DataFrame,
      aCol: String,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val spark = pairs.sparkSession
    val idType = pairs.schema(aCol).dataType

    val index = new java.util.HashMap[Any, Int]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def nodeOf(v: Any): Int = {
      val known = index.getOrDefault(v, -1)
      if (known >= 0) known
      else {
        val n = ids.length
        index.put(v, n); ids += v; parent += n; n
      }
    }
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val p = parent(c); parent(c) = r; c = p }
      r
    }
    edges.foreach { r =>
      val a = find(nodeOf(r.get(0)))
      val b = find(nodeOf(r.get(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }

    val lt: (Any, Any) => Boolean = idType match {
      case StringType => (x, y) =>
        org.apache.spark.unsafe.types.UTF8String
          .fromString(x.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(y.asInstanceOf[String])) < 0
      case _ => (x, y) =>
        x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val minOfRoot = new java.util.HashMap[Int, Any]()
    ids.indices.foreach { i =>
      val r = find(i)
      val cur = minOfRoot.get(r)
      if (cur == null || lt(ids(i), cur)) minOfRoot.put(r, ids(i))
    }
    val out = ids.indices.map(i => Row(ids(i), minOfRoot.get(find(i))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      StructType(Seq(StructField("id", idType), StructField("comp", idType))))
  }

  /** Near-dup-aware dedup: resolve `pairs` into components and keep one
    * representative per cluster (the minimum id) plus every unpaired doc.
    * Output: the deduplicated id set as (id, component) — component equals
    * id for kept rows. */
  def keepRepresentatives(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 10): DataFrame = {
    val comp = components(pairs, aCol, bCol, maxIter)
    docs.select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left")
      .where(col("comp").isNull || col("comp") === col("id"))
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }

  // ───────────────────── semantic (embedding) dedup ──────────────────────

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space with a k-means quantizer, find
    * within-cluster pairs at cosine ≥ `eps`, resolve them into connected
    * components, keep one representative (minimum id) per component plus
    * every unpaired doc. Returns the kept set as (id, component).
    *
    * The pair search is [[Similarity.ivfCosinePairs]] — Σ|list|² work with
    * √n lists, never the n²/2 grid — so PRECISION is exact (every dropped
    * doc really has a ≥ eps neighbor; the cosine is re-verified, not
    * quantized) while recall is quantizer-defined: nprobe multi-assignment
    * recovers most cross-boundary pairs, and a missed pair only means a
    * semantic twin survives — the failure mode SemDeDup itself accepts in
    * exchange for subquadratic cost. Component resolution is the log-round
    * large-star/small-star pass ([[components]]), so a transitive chain of
    * twins collapses to ONE kept doc corpus-wide, not one per cluster. */
  def semantic(emb: DataFrame, idCol: String, vecCol: String, eps: Double,
      nlist: Int = 0, nprobe: Int = 4,
      collapseFloor: Long = 8192): DataFrame = {
    if (emb.count() <= collapseFloor) {
      val pairs = Similarity.ivfCosinePairs(emb, idCol, vecCol,
        threshold = eps, nlist = nlist, nprobe = nprobe)
      keepRepresentatives(emb, idCol, pairs, "a_id", "b_id")
    } else {
      // Identical-vector collapse — the d3/d10 density insurance applied to
      // the embedding space: bit-identical vectors are cosine-1 twins at
      // any eps ≤ 1, so only one representative per distinct vector enters
      // the quadratic-ish pair search (a dup-dense corpus pairs at its
      // DISTINCT size) and each copy rejoins its representative's
      // component through one explicit edge. Zero-norm vectors are
      // excluded from collapse edges — cosine is undefined for them, so
      // the pair search never drops them and neither may the collapse.
      // nz feeds both the collapse groupBy and the copy-edge join; persist
      // so an expensive upstream embedding frame computes once (the
      // count() above and keepRepresentatives' own scan still read `emb`
      // directly — like the other adaptive operators, the cheap-count
      // assumption is a bare scan; persist upstream otherwise).
      val nz = persistSketch(
        emb.select(col(idCol).as("id"), col(vecCol).as("v"))
          .where(expr(
            "aggregate(v, 0D, (a, x) -> a + cast(x as double) * cast(x as double))") > 0))
      val reps = persistSketch(
        nz.groupBy("v").agg(min(col("id")).as("rid")))
      val repPairs = Similarity.ivfCosinePairs(
        reps.select(col("rid").as(idCol), col("v").as(vecCol)),
        idCol, vecCol, threshold = eps, nlist = nlist, nprobe = nprobe)
        .select(col("a_id"), col("b_id"))
      val copyEdges = nz.join(reps, "v")
        .where(col("id") =!= col("rid"))
        .select(col("rid").as("a_id"), col("id").as("b_id"))
      keepRepresentatives(emb, idCol, repPairs.union(copyEdges),
        "a_id", "b_id")
    }
  }

  // ───────────── streaming semantic (embedding) dedup index ──────────────

  /** Incremental [[semantic]] (SemDeDup) state — the embedding family's
    * answer to [[NearDupIndex]]/[[FingerprintIndex]]: FROZEN spherical-
    * k-means centroids (faiss `add()` semantics — arrivals assign through
    * the trained quantizer, which never moves; sustained drift deserves a
    * rebuild) plus every vector that has flowed through (corpus +
    * arrivals, kept and dropped alike — the near-dup contract: an arrival
    * that twins an already-DROPPED doc is still a duplicate), each
    * multi-assigned to its `nprobe` nearest inverted lists as
    * (id, cv, cn, list, vh, rep) — `vh` = xxhash64 of the vector, `rep` =
    * this row is its identical-vector group's probed representative
    * (recomputed at every compaction by [[collapseSemReps]]: exact-copy
    * floods collapse to one scanned row per distinct vector per list,
    * while the copies stay as rows so per-id takedowns keep their
    * semantics). `eps` is the dedup threshold. `layers` follow the
    * sketch-cache release contract shared by the other index families. */
  final case class SemIndex private[graft] (
      centroids: Seq[Seq[Double]],
      assigned: DataFrame,
      eps: Double,
      nprobe: Int,
      private[graft] val layers: Seq[DataFrame] = Nil)

  /** The (id, cv, cn) vector projection shared by every SemIndex path. */
  private def semShape(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vecs.select(col(idCol).cast("long").as("id"),
        Similarity.toDoubleVec(col(vecCol)).as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))

  /** Multi-assign nonzero-norm vectors to their `nprobe` nearest lists —
    * the fused codegen'd top-nprobe kernel, one narrow projection. Zero-
    * norm vectors have no direction (cosine undefined): they are never
    * candidates, so they never enter the index. Rows carry the
    * identical-vector identity columns (`vh`, `rep`) fresh arrivals start
    * all-rep; the compaction-time [[collapseSemReps]] regroups them. */
  private def semAssign(vecs: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]], nprobe: Int): DataFrame =
    semShape(vecs, idCol, vecCol)
      .where(col("cn") > 0)
      .withColumn("list", explode(
        graft.functions.GraftFunctions.nearestCentroids(col("cv"), cents,
          nprobe)))
      .withColumn("vh", xxhash64(col("cv")))
      .withColumn("rep", lit(true))

  /** Ensure the identical-vector identity columns every [[SemIndex]] row
    * rides on: `vh` (xxhash64 over the double vector — a narrow
    * group/join key) and `rep` (this row is its identical-vector group's
    * probed representative). Frames from pre-collapse checkpoints load
    * all-rep — correct (the probe over-scans exact copies, never
    * under-scans) until the next compaction regroups them. */
  private def withSemIdentityCols(df: DataFrame): DataFrame = {
    val vh = if (df.columns.contains("vh")) df
      else df.withColumn("vh", xxhash64(col("cv")))
    if (vh.columns.contains("rep")) vh
    else vh.withColumn("rep", lit(true))
  }

  /** Recompute the per-(list, vector) representative flags: within each
    * inverted list, exactly one row per distinct vector (min id) probes;
    * its exact copies stay as rows (they are real per-doc state — the
    * takedown of one id must not forget its twins) but stop being scanned.
    * Any vector with cosine ≥ eps to a non-rep copy has the SAME cosine to
    * its representative, so kept/dropped decisions are unchanged — this is
    * a pure probe-cost collapse, the sem analog of the substring family's
    * identity-row fold. Grouping includes the full vector (not just its
    * hash), so a 64-bit collision can never silence a distinct vector. */
  private[graft] def collapseSemReps(assigned: DataFrame): DataFrame = {
    val a = withSemIdentityCols(assigned)
    val w = Window.partitionBy(col("list"), col("vh"), col("cv"))
    a.withColumn("rep", col("id") === min(col("id")).over(w))
  }

  /** Train the quantizer on `corpus` and index its vectors — the
    * bootstrap half of the semantic arrival stream
    * ([[graft.streaming.SemDedupStream]]). `nlist = 0` derives the faiss
    * √n rule; training samples are bounded by `trainCap` (driver-side,
    * scale-independent). */
  def buildSemIndex(corpus: DataFrame, idCol: String, vecCol: String,
      eps: Double, nlist: Int = 0, nprobe: Int = 4, maxIter: Int = 8,
      trainCap: Int = 20000): SemIndex = {
    val cents = Similarity.trainQuantizer(semShape(corpus, idCol, vecCol),
      nlist, maxIter, trainCap)
    val assigned = persistSketch(collapseSemReps(
      semAssign(corpus, idCol, vecCol, cents, nprobe)))
    assigned.count()
    SemIndex(cents, assigned, eps, nprobe, layers = Seq(assigned))
  }

  /** The streaming probe step ([[probeAndExtendFpParts]] contract for the
    * embedding family): kept batch rows, the batch's assigned-vector layer
    * (persisted and MATERIALIZED — micro-batch frames cannot recompute
    * once the batch ends), and the extended index.
    *
    * Kept = zero-norm arrivals (cosine undefined — never duplicates)
    * plus arrivals with NO indexed ≥ eps neighbor in their probed lists,
    * minus within-batch twins collapsed to the min-id representative
    * ([[keepRepresentatives]] over same-list exact-cosine pairs). The
    * index extends with the FULL nonzero batch — kept and dropped alike —
    * so a later arrival twinning an already-dropped doc still drops.
    * Precision is exact (every drop is a verified cosine ≥ eps); recall
    * is quantizer-defined, with the standard nprobe multi-assignment
    * mitigation — identical vectors rank their lists identically, so
    * exact copies are ALWAYS caught. */
  private[graft] def probeAndExtendSemParts(index: SemIndex,
      batch: DataFrame, idCol: String, vecCol: String)
      : (DataFrame, DataFrame, SemIndex) = {
    val shaped = semShape(batch, idCol, vecCol)
    val ba = persistSketch(
      semAssign(batch, idCol, vecCol, index.centroids, index.nprobe))
    ba.count()
    val zeroKept = shaped.where(col("cn").isNull || !(col("cn") > 0))
      .select(col("id"))
    // Probe-list ids are collected (bounded by batch × nprobe distinct
    // lists) and pushed as an index-side filter BEFORE the join — on a
    // restored index reading the list-partitioned generation layout this
    // is partition PRUNING, so per-batch probe cost scales with the
    // probed lists, never the accumulated corpus.
    val probeLists = ba.select("list").distinct().collect().map(_.getInt(0))
    val eps = index.eps
    // Representative rows only: after a collapse, a dense list of exact
    // copies scans ONE row per distinct vector — identical decisions
    // (cosine to a rep ≡ cosine to any of its twins), collapsed cost.
    val dupIds =
      if (probeLists.isEmpty) ba.select("id").limit(0)
      else withSemIdentityCols(index.assigned)
        .where(col("list").isin(probeLists.toIndexedSeq.map(Int.box): _*))
        .where(col("rep"))
        .select(col("cv").as("xv"), col("cn").as("xn"), col("list"))
        .join(broadcast(ba), Seq("list"))
        .where(try_divide(Similarity.dot(col("xv"), col("cv")),
          col("xn") * col("cn")) >= eps)
        .select("id").distinct()
    val novel = ba.join(dupIds, Seq("id"), "left_anti")
    val pairs = novel.as("a").join(novel.as("b"),
        col("a.list") === col("b.list") && col("a.id") < col("b.id"))
      .where(try_divide(Similarity.dot(col("a.cv"), col("b.cv")),
        col("a.cn") * col("b.cn")) >= eps)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id")).distinct()
    val keptNz = keepRepresentatives(
      novel.select("id").distinct(), "id", pairs, "a_id", "b_id")
      .select("id")
    val keptIds = keptNz.unionByName(zeroKept)
      .select(col("id").as("doc_id"))
    (keptIds, ba,
      SemIndex(index.centroids,
        withSemIdentityCols(index.assigned).unionByName(ba), eps,
        index.nprobe, index.layers :+ ba))
  }

  /** Persist a [[SemIndex]] generation ([[saveIndex]] crash-safety
    * contract: params LAST as the commit marker, one prior generation
    * retained). The assigned vectors are written hive-partitioned BY LIST,
    * so a restored stream's probe-list filter partition-prunes — the
    * [[Similarity.saveIvfIndex]] layout inside the generational
    * checkpoint. */
  def saveSemIndex(index: SemIndex, path: String, batchId: Long = -1L,
      kept: Option[DataFrame] = None): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    saveGenerational(spark, path,
      params = Seq((index.eps, index.nprobe, batchId))
        .toDF("eps", "nprobe", "batch_id"),
      dropTables = _ => Nil) { (gdir, _) =>
      index.centroids.zipWithIndex.map { case (v, i) => (i, v) }
        .toDF("i", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$gdir/centroids")
      graft.sources.Sink.partitioned(index.assigned, s"$gdir/vecs", "list")
      kept.foreach(_.select(col("doc_id").cast("long").as("doc_id"))
        .write.mode("overwrite").parquet(s"$gdir/kept"))
    }
  }

  /** Load the newest committed [[SemIndex]] generation. The assigned frame
    * deliberately reads through the list-partitioned files (not cached):
    * probe-list filters become partition pruning. */
  def loadSemIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): SemIndex =
    loadLatestSemGen(spark, path).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no committed semantic index at $path"))

  private def loadLatestSemGen(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(SemIndex, Long)] =
    completeGens(spark, path).headOption.map { g =>
      val gdir = s"$path/g$g"
      val p = spark.read.parquet(s"$gdir/params").head()
      val cents = spark.read.parquet(s"$gdir/centroids").orderBy("i")
        .select("v").collect().map(_.getSeq[Double](0)).toSeq
      (SemIndex(cents,
        withSemIdentityCols(readLayer(spark, s"$gdir/vecs")),
        p.getAs[Double]("eps"), p.getAs[Int]("nprobe")),
        p.getAs[Long]("batch_id"))
    }

  /** Restore the full semantic-index state ([[restoreWithDeltas]]):
    * newest generation + every newer delta and tombstone, returning
    * (index, last durably folded batch id). */
  private[graft] def loadSemIndexWithDeltas(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(SemIndex, Long)] =
    restoreWithDeltas(spark, path, loadLatestSemGen(spark, path),
      TombstoneLog.Ids, Seq("vecs"), withSemIdentityCols) { (acc, d) =>
      acc.copy(assigned = acc.assigned.unionByName(d("vecs")),
        layers = acc.layers :+ d("vecs"))
    }(removeSemIds)

  /** Remove already-resolved ids from a semantic index — the embedding
    * family's takedown ([[removeNearDupIds]] contract): the withdrawn
    * vectors leave the candidate lists, so future arrivals semantically
    * duplicating them are ADMITTED again. The frozen quantizer is
    * untouched (faiss remove_ids semantics — deletes shrink lists, never
    * retrain). */
  private[graft] def removeSemIds(index: SemIndex, ids: DataFrame): SemIndex = {
    val doomed = persistSketch(ids.select(col("id").cast("long").as("id")))
    doomed.count()
    index.copy(assigned = removeSemAssignedRows(index.assigned, doomed),
      layers = index.layers :+ doomed)
  }

  /** Drop doomed ids from an assigned frame and PROMOTE a surviving
    * identical-vector twin to representative wherever a removed row's
    * (list, vector) group still has members — without this, taking down a
    * collapsed group's probed row would silently stop catching future
    * exact copies whose surviving twins are still in the index. Both the
    * live takedown ([[removeSemIds]]) and crash-replay tombstones
    * ([[loadSemIndexWithDeltas]]) go through here, so a crash between the
    * tombstone write and the next snapshot replays the SAME promotion.
    * The promotion joins are bounded by the doomed set (× nprobe lists),
    * never the corpus. */
  private def removeSemAssignedRows(assigned: DataFrame,
      doomed: DataFrame): DataFrame = {
    val a = withSemIdentityCols(assigned)
    val survivors = a.join(doomed, Seq("id"), "left_anti")
    val hitGroups = a.join(doomed, Seq("id"))
      .select(col("list"), col("vh"), col("cv")).distinct()
    val promoted = survivors
      .join(broadcast(hitGroups), Seq("list", "vh", "cv"))
      .groupBy(col("list"), col("vh"), col("cv"))
      .agg(min(col("id")).as("promoted_id"))
    survivors
      .join(broadcast(promoted), Seq("list", "vh", "cv"), "left")
      .withColumn("rep", col("rep") ||
        coalesce(col("id") === col("promoted_id"), lit(false)))
      .drop("promoted_id")
  }

  /** REBUILD the frozen spherical quantizer from the index's OWN assigned
    * vectors — the list-imbalance signal's ACTION for the semantic family
    * ([[rebuildIndex]]'s twin on embeddings; round 12): distinct vectors
    * are recovered from the multi-assigned lists (groupBy id — the lists
    * store full vectors, so no corpus re-read), the quantizer retrains on
    * a bounded seeded sample at the CURRENT corpus size (√n lists — an
    * index that grew 100× gets 10× the lists), and every vector
    * re-assigns through the new centroids at the index's own nprobe.
    * In-memory like [[compactSemIndex]]; durability comes from the SAME
    * generational save the hosting compaction already performs
    * ([[saveSemIndex]] writes centroids per generation, so the retrained
    * quantizer restores with its lists). Kept-set semantics are
    * quantizer-defined (the family's rows-only contract) and
    * verification stays exact cosine — a rebuild reshapes candidate
    * recall back to the design point, never correctness. Imbalance
    * returns to the fresh-build level by construction. */
  def rebuildSemIndex(index: SemIndex, releaseOld: Boolean = true,
      nlist: Int = 0, maxIter: Int = 8, trainCap: Int = 20000): SemIndex = {
    val vecs = index.assigned
      .groupBy(col("id"))
      .agg(first(col("cv")).as("cv"), first(col("cn")).as("cn"))
      .localCheckpoint(true)
    val cents = Similarity.trainQuantizer(vecs.select(col("id"), col("cv")),
      nlist, maxIter, trainCap)
    val assigned = persistSketch(collapseSemReps(vecs
      .where(col("cn") > 0)
      .withColumn("list", explode(
        graft.functions.GraftFunctions.nearestCentroids(col("cv"), cents,
          index.nprobe)))
      .select(col("id"), col("cv"), col("cn"), col("list"))))
    assigned.count()
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    SemIndex(cents, assigned, index.eps, index.nprobe,
      layers = Seq(assigned))
  }

  /** Flatten a [[SemIndex]]'s accumulated union lineage into one resident
    * frame ([[compactIndex]] contract: `releaseOld = false` leaves the
    * superseded layers for the caller's grace period). */
  def compactSemIndex(index: SemIndex,
      releaseOld: Boolean = true): SemIndex = {
    val a = index.assigned.localCheckpoint(true)
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    index.copy(assigned = a, layers = Nil)
  }

  /** [[compactSemIndex]] + identical-vector collapse: flatten the union
    * lineage AND recompute the per-(list, vector) representative flags, so
    * exact-copy mass accumulated since the last compaction stops being
    * scanned — the automatic remedy for the exact-copy half of the sem
    * saturation regime (the other half, distinct vectors inside one dense
    * angular cone, is content-shaped: no collapse or retrain can spread
    * it). One content-sized window pass, at a point that already rewrites
    * the content. */
  def collapseSemIndex(index: SemIndex,
      releaseOld: Boolean = true): SemIndex = {
    val a = collapseSemReps(index.assigned).localCheckpoint(true)
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    index.copy(assigned = a, layers = Nil)
  }

  /** Unpersist exactly the layers `index` references ([[releaseFpIndex]]
    * contract for the semantic family). */
  def releaseSemIndex(index: SemIndex): Unit =
    index.layers.foreach(_.unpersist(false))

  // ───────────────────── exact-substring dedup ───────────────────────────

  /** Per-doc token-window frame shared by the substring-dedup family:
    * (doc_id, pos, h) — h = xxhash64 of the `windowTokens`-token window
    * starting at 0-based token position `pos`. The window hash is computed
    * in one narrow projection (array of 8-byte hashes, then posexplode), so
    * the shuffle that follows carries 16-byte rows, never window STRINGS —
    * at corpus scale the strings are ~6× the token bytes and would dominate
    * every exchange. Hashing trades that for a 2⁻⁶⁴ collision risk per
    * pair, the standard ExactSubstr engineering choice. */
  private def tokenWindows(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    Balance(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        split(col(textCol), " ").as("t"))
      .where(size(col("t")) >= windowTokens)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(t) - $windowTokens), " +
          s"i -> xxhash64(concat_ws(' ', slice(t, i + 1, $windowTokens))))"))
        .as(Seq("pos", "h")))

  /** ExactSubstr-style duplicated-substring statistics (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * suffix-array pass re-expressed as a fixed-window frequency join): a
    * window is DUPLICATED when the same `windowTokens`-token sequence
    * occurs ≥ `minOccurrences` times across the corpus (within-doc repeats
    * count — self-repetition is ExactSubstr's bread and butter). Returns
    * (doc_id, n_windows, n_dup_windows) per doc with ≥ 1 window, ordered
    * output left to the caller.
    *
    * Scale shape: one narrow window-hash projection, one (h)-shuffle with
    * map-side partial counts for the frequency table, one (h)-join back.
    * Nothing is ever quadratic: a window duplicated a million times is one
    * frequency row, and the join fans it back to exactly its occurrence
    * count (rows that already existed). */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minOccurrences: Int = 2): DataFrame = {
    val wins = persistSketch(
      tokenWindows(docs, idCol, textCol, windowTokens))
    val freq = wins.groupBy("h").agg(count(lit(1)).as("occ"))
    wins.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("occ") >= minOccurrences, 1)).as("n_dup_windows"))
  }

  /** The removal input: every occurrence of a duplicated window EXCEPT the
    * globally-first one (minimum (doc_id, pos) — one `min(struct)` partial
    * aggregation, no per-group sort, so a boilerplate window duplicated a
    * million times costs one agg row, not a skewed million-row sort).
    * Returns (doc_id, pos). */
  def substringDupSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minOccurrences: Int = 2): DataFrame = {
    val wins = persistSketch(
      tokenWindows(docs, idCol, textCol, windowTokens))
    val firsts = wins.groupBy("h").agg(
      count(lit(1)).as("occ"),
      min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("occ") >= minOccurrences)
      .select("h", "first")
    wins.join(firsts, "h")
      .where(struct(col("doc_id"), col("pos")) =!= col("first"))
      .select("doc_id", "pos")
  }

  /** ExactSubstr removal: cut every non-canonical duplicated window out of
    * the text, keeping the globally-first occurrence. Overlapping /
    * adjacent removal windows are merged into intervals first (two
    * doc-partitioned analytic passes — gap-flag via lag, running-sum group
    * id — each bounded by tokens/doc, never corpus-sized state), then the
    * token ranges are dropped in one per-doc array filter. Returns
    * (doc_id, text) with docs untouched by removal passed through.
    *
    * Two caveats shared with the original's independent byte-range cuts:
    * no second pass runs over the cleaned text (splices that create NEW
    * duplicate windows across a cut are accepted), and a canonical
    * occurrence can itself be damaged when it overlaps a DIFFERENT
    * window's removal interval in the same doc — a phrase whose every
    * occurrence overlaps other duplicated phrases may survive nowhere
    * intact. "Keeps one occurrence" is per-window a best-effort floor,
    * not an invariant. */
  def stripDupSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, minOccurrences: Int = 2): DataFrame = {
    val rm = substringDupSpans(docs, idCol, textCol,
      windowTokens, minOccurrences)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val intervals = rm
      .withColumn("gap",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > windowTokens, 1)
          .otherwise(0))
      .withColumn("grp", sum(col("gap")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + windowTokens - 1).as("e"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("cuts"))
    Balance(docs)
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .join(intervals, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cuts").isNull, col("text")).otherwise(expr(
          "concat_ws(' ', filter(transform(split(text, ' '), (x, i) -> " +
            "if (exists(cuts, c -> i >= c.s and i <= c.e), null, x)), " +
            "x -> x is not null))")).as("text"))
  }

  // ─────────────────────── substring (window) index ──────────────────────

  /** Persisted ExactSubstr state: the per-window-hash occurrence count over
    * every document already admitted. Content-sized (one (hash, count) row
    * per DISTINCT window), and sufficient for arrival-time substring-dup
    * detection: a batch window is duplicated iff its corpus count plus its
    * within-batch count reaches the threshold — exactly the one-shot
    * statistic over corpus ∪ batch, restricted to the batch. */
  final case class SubstringIndex private[operators] (
      freq: DataFrame,
      windowTokens: Int,
      private[graft] layers: Seq[DataFrame] = Nil,
      /** Whether this index has folded per-content IDENTITY rows
        * ([[ssIdentityRows]]) for everything it admitted — the capability
        * content-addressed takedown ([[resolveSsNeg]]) needs. True for
        * SubstringStream/ExportPipeline-managed indexes (bootstrap + every
        * batch fold identity rows); false for a bare
        * [[buildSubstringIndex]] or a checkpoint saved before the
        * capability existed (params without the `identity_rows` column
        * load as false), for which [[substringNegFreq]] is the sound
        * per-arrival withdrawal. Callers key their takedown route off
        * this instead of assuming — an identity-less index resolves every
        * content-addressed event to k = 0, a silent no-op (ADVICE r11). */
      hasIdentityRows: Boolean = false)

  /** Mark an index as carrying identity rows for its whole admitted set —
    * the bootstrap path calls this right after folding
    * [[ssIdentityRows]] over its corpus. */
  private[graft] def markSsIdentityRows(index: SubstringIndex): SubstringIndex =
    index.copy(hasIdentityRows = true)

  /** One corpus scan through the window-hash kernel → frequency table
    * (map-side partial counts; the shuffle carries (hash, count), never
    * text). */
  def buildSubstringIndex(corpus: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8): SubstringIndex = {
    val freq = persistSketch(
      tokenWindows(corpus, idCol, textCol, windowTokens)
        .groupBy("h").agg(count(lit(1)).as("occ")))
    SubstringIndex(freq, windowTokens, layers = Seq(freq))
  }

  private def ssTable(path: String, gen: Int): String =
    "graft_ssidx_" + java.lang.Long.toHexString(
      java.lang.Integer.toUnsignedLong(path.hashCode)) + s"_g$gen"

  /** Persist a [[SubstringIndex]] — generational, params-last commit
    * marker, one prior generation retained ([[saveIndex]] contract); the
    * frequency table is `h`-bucketed so a reloaded probe's frequency join
    * reads the index already partitioned on the join key. */
  def saveSubstringIndex(index: SubstringIndex, path: String,
      numBuckets: Int = 32, batchId: Long = -1L,
      kept: Option[DataFrame] = None): Unit = {
    val spark = index.freq.sparkSession
    import spark.implicits._
    saveGenerational(spark, path,
      params = Seq((index.windowTokens, numBuckets, batchId,
          index.hasIdentityRows))
        .toDF("window_tokens", "num_buckets", "batch_id", "identity_rows"),
      dropTables = g => Seq(ssTable(path, g))) { (gdir, gen) =>
      // A layered index (union lineage — `layers` nonempty) merges at save
      // time so the stored generation is one unique-h table; compacted /
      // freshly-loaded indexes (layers empty) are already merged and skip
      // the index-wide aggregate — the streaming save path always saves
      // compacted, so the hot path never pays it.
      val freqToSave =
        if (index.layers.isEmpty) index.freq
        else index.freq.groupBy("h").agg(sum(col("occ")).as("occ"))
      graft.sources.Sink.bucketedExternal(freqToSave,
        ssTable(path, gen), s"$gdir/freq", "h", numBuckets, "h")
      kept.foreach(_.select(col("doc_id").cast("long").as("doc_id"))
        .write.mode("overwrite").parquet(s"$gdir/kept"))
    }
  }

  /** Load the newest committed [[SubstringIndex]] generation at `path`,
    * re-registering the bucketed table if this session didn't write it. */
  def loadSubstringIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): SubstringIndex =
    loadLatestSsGen(spark, path).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no committed substring index at $path"))

  private def loadLatestSsGen(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(SubstringIndex, Long)] =
    completeGens(spark, path).headOption.map { g =>
      val gdir = s"$path/g$g"
      val p = spark.read.parquet(s"$gdir/params").head()
      val batchId =
        if (p.schema.fieldNames.contains("batch_id"))
          p.getAs[Long]("batch_id")
        else -1L
      // Pre-upgrade checkpoints (no `identity_rows` column) load as
      // NOT content-addressable — the conservative truth: their admitted
      // set never folded identity rows.
      val identityRows =
        p.schema.fieldNames.contains("identity_rows") &&
          p.getAs[Boolean]("identity_rows")
      // GATE layer behind a bucketed catalog table: validate footers at
      // load ([[loadLatestGen]]'s rationale).
      graft.sources.Sink.validateOwn(spark, Seq(s"$gdir/freq"))
      (SubstringIndex(reRegisterBucketed(spark, ssTable(path, g),
        "h bigint, occ bigint", "h", p.getAs[Int]("num_buckets"),
        s"$gdir/freq"), p.getAs[Int]("window_tokens"),
        hasIdentityRows = identityRows), batchId)
    }

  /** Restore the full substring-index state ([[restoreWithDeltas]]):
    * newest generation + every newer delta as LAYERS (the probe sums them;
    * compaction merges them) and every takedown's negative layer. Returns
    * (index, last durably folded batch id). */
  private[graft] def loadSsIndexWithDeltas(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(SubstringIndex, Long)] =
    restoreWithDeltas(spark, path, loadLatestSsGen(spark, path),
      TombstoneLog.Neg, Seq("freq")) { (acc, d) =>
      acc.copy(freq = acc.freq.union(d("freq")),
        layers = acc.layers :+ d("freq"))
    }(applySubstringNeg)

  /** The streaming probe step for the substring gate: per-batch dup-window
    * stats against corpus-plus-batch counts ([[probeSubstringDups]]), the
    * kept set under the `maxDupRatio` rule — docs whose duplicated-window
    * fraction stays at or below the ratio, plus docs too short to have any
    * window (no evidence → keep) — and the extended index carrying the
    * FULL batch's window counts as a new layer (dropped docs' windows were
    * still seen; the one-shot statistic counts them). */
  private[graft] def probeAndExtendSsParts(index: SubstringIndex,
      batch: DataFrame, idCol: String, textCol: String,
      minOccurrences: Int, maxDupRatio: Double)
      : (DataFrame, DataFrame, SubstringIndex) = {
    // One window pass serves probe AND frequency layer. bwins rides in
    // `layers` even though the extended freq doesn't reference it: layers
    // are what the loop releases one compaction late, and without that
    // bookkeeping the per-batch window cache would leak for the stream's
    // lifetime (the probe's stats stay lazy until the sink's action, so
    // it cannot be unpersisted here).
    val bwins = persistSketch(
      tokenWindows(batch, idCol, textCol, index.windowTokens))
    val stats = probeSubstringDupsWith(index, bwins, minOccurrences)
    val keptIds = batch.select(col(idCol).cast("long").as("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .where(col("n_windows").isNull ||
        col("n_dup_windows") <= col("n_windows") * maxDupRatio)
      .select("doc_id")
    // Window counts PLUS the per-content identity rows ([[ssIdentityRows]]
    // — the fold-multiplicity record content-addressed takedown resolves
    // against). Identity hashes live in a salted domain, so the probe's
    // window-hash join never sees them.
    val bfreq = persistSketch(
      bwins.groupBy("h").agg(count(lit(1)).as("occ"))
        .unionByName(ssIdentityRows(batch, textCol)))
    bfreq.count()
    (keptIds, bfreq,
      index.copy(freq = index.freq.union(bfreq),
        layers = index.layers :+ bwins :+ bfreq))
  }

  /** The NEGATIVE window-frequency layer of `docs` — the PER-ARRIVAL
    * takedown payload for the substring family: the index holds only
    * (hash, count), so a withdrawal subtracts the withdrawn content's
    * window counts as one more layer (the probe sums layers,
    * [[compactSsIndex]] merges them — negative rows ride the existing
    * machinery). Computed from the event TEXT, so a crash-window replay
    * recomputes identical bytes.
    * Contract: one withdrawal per admission — exact when the gate sits
    * behind exact dedup (each content folds once); k folded re-posts
    * need k events, and double-withdrawal undercounts shared windows.
    * [[resolveSsNeg]] is the CONTENT-ADDRESSED alternative (one event
    * subtracts every fold) for indexes that carry identity rows. */
  private[graft] def substringNegFreq(docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame =
    tokenWindows(docs, idCol, textCol, windowTokens)
      .groupBy("h").agg((-count(lit(1))).as("occ"))

  /** Domain-separation salt for the substring stream's per-content
    * IDENTITY rows: each arrival also folds one count under
    * `xxhash64(salt, text)` — a hash of the WHOLE text in a salted
    * domain, so the summed count of a content's identity hash IS its
    * fold multiplicity. That makes the count-shaped family
    * content-addressable (wn resolves withdrawal targets from posting
    * SETS; ss has no per-doc rows, so the multiplicity is folded in as
    * data) at the cost of one extra (hash, count) row per DISTINCT
    * content — the same content-sized budget as the window counts.
    * Collision risk with a window hash is the family's accepted 2⁻⁶⁴
    * class. */
  private[graft] val ssIdentitySalt = "graft-ss-content-identity-v1"

  /** One identity-count row per distinct content of `docs` (occ = number
    * of arrivals in the frame) — folded alongside every batch's window
    * counts by the streaming gate. */
  private[graft] def ssIdentityRows(docs: DataFrame,
      textCol: String): DataFrame =
    Balance(docs)
      .select(xxhash64(lit(ssIdentitySalt), col(textCol)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("occ"))

  /** CONTENT-ADDRESSED withdrawal layer: resolve each withdrawn
    * content's fold multiplicity k from its identity-hash count in the
    * index (duplicate events for one content dedupe — re-withdrawing an
    * already-withdrawn content resolves k = 0 and subtracts nothing),
    * then emit −k × its window counts plus −k on the identity hash —
    * one event erases EVERY folded arrival of that content, exactly.
    * Cost is takedown-scaled: the only index touch is an `h`-semi-join
    * of the withdrawn identity hashes before a takedown-sized agg.
    * Sound only against indexes that folded identity rows
    * ([[ssIdentityRows]] — the SubstringStream/ExportPipeline path);
    * contents never identity-folded resolve k = 0 (logged by callers),
    * for which [[substringNegFreq]] stays the per-arrival fallback. */
  private[graft] def resolveSsNeg(index: SubstringIndex, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val contents = Balance(docs)
      .select(xxhash64(lit(ssIdentitySalt), col(textCol)).as("ch"),
        col(textCol).as("t"))
      .distinct()
    val kByCh = index.freq
      .join(contents.select(col("ch").as("h")), Seq("h"), "left_semi")
      .groupBy("h").agg(sum(col("occ")).as("k"))
      .select(col("h").as("ch"), col("k"))
    val withK = contents.join(kByCh, Seq("ch"), "left")
      .select(col("ch"), col("t"), coalesce(col("k"), lit(0L)).as("k"))
      .where(col("k") > 0)
    val winNeg = tokenWindows(
        withK.select(col("ch").as("doc_id"), col("t").as("text")),
        "doc_id", "text", index.windowTokens)
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .join(withK.select(col("ch").as("doc_id"), col("k")), Seq("doc_id"))
      .select(col("h"), (-col("c") * col("k")).as("occ"))
    val idNeg = withK.select(col("ch").as("h"), (-col("k")).as("occ"))
    winNeg.unionByName(idNeg).groupBy("h").agg(sum(col("occ")).as("occ"))
  }

  /** Apply a negative (or any extra) frequency layer to a substring
    * index — functional, layered ([[removeWinnowIds]] contract for the
    * count-shaped family). */
  private[graft] def applySubstringNeg(index: SubstringIndex,
      neg: DataFrame): SubstringIndex = {
    val n = persistSketch(neg.select(col("h"), col("occ")))
    n.count()
    index.copy(freq = index.freq.select("h", "occ").union(n),
      layers = index.layers :+ n)
  }

  /** Flatten a layered [[SubstringIndex]] into one merged resident frame
    * ([[compactIndex]] contract: `releaseOld = false` leaves superseded
    * layers for the caller's grace period). */
  def compactSsIndex(index: SubstringIndex,
      releaseOld: Boolean = true): SubstringIndex = {
    // Net-zero rows dropped — [[compactWnIndex]] rationale.
    val f = index.freq.groupBy("h").agg(sum(col("occ")).as("occ"))
      .where(col("occ") =!= 0L)
      .localCheckpoint(true)
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    SubstringIndex(f, index.windowTokens, layers = Nil,
      hasIdentityRows = index.hasIdentityRows)
  }

  /** Unpersist exactly the layers `index` references ([[releaseIndex]]
    * contract for the substring family). */
  def releaseSsIndex(index: SubstringIndex): Unit =
    index.layers.foreach(_.unpersist(false))

  /** Arrival-time [[substringDupStats]]: per batch doc, total windows and
    * windows duplicated against corpus-plus-batch (corpus count from the
    * index + within-batch count ≥ `minOccurrences`) — bit-identical to the
    * one-shot stats over corpus ∪ batch restricted to the batch, so the
    * kept statistic is oracle-checkable. Probe cost scales with the batch:
    * one narrow kernel projection, one batch-hash aggregation, one
    * frequency join whose index side reads pre-bucketed after a
    * save/load round-trip. */
  def probeSubstringDups(index: SubstringIndex, batch: DataFrame,
      idCol: String, textCol: String, minOccurrences: Int = 2): DataFrame =
    probeSubstringDupsWith(index, persistSketch(
      tokenWindows(batch, idCol, textCol, index.windowTokens)),
      minOccurrences)

  /** [[probeSubstringDups]] over a caller-held window frame (the streaming
    * path computes the batch's windows ONCE and derives probe, frequency
    * layer, and release bookkeeping from the same handle). */
  private def probeSubstringDupsWith(index: SubstringIndex,
      bwins: DataFrame, minOccurrences: Int): DataFrame = {
    // The sum-aggregate (not a bare join) makes the probe tolerant of a
    // LAYERED index — a streaming extension unions per-batch frequency
    // frames, so one hash may carry several (h, occ) rows until the next
    // compaction merges them; summing collapses layers and the loaded
    // single-generation case alike. The agg is batch-hash-sized.
    val joint = bwins.groupBy("h").agg(count(lit(1)).as("bocc"))
      .join(index.freq, Seq("h"), "left")
      .groupBy("h")
      .agg((first(col("bocc")) + coalesce(sum(col("occ")), lit(0L)))
        .as("occ"))
    bwins.join(joint, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("occ") >= minOccurrences, 1)).as("n_dup_windows"))
  }

  /** Fold a batch into the index: frequency merge (index ⊎ batch counts),
    * never a corpus recount. Checkpoint via [[saveSubstringIndex]] at
    * compaction points. */
  def extendSubstringIndex(index: SubstringIndex, batch: DataFrame,
      idCol: String, textCol: String): SubstringIndex = {
    val bfreq = tokenWindows(batch, idCol, textCol, index.windowTokens)
      .groupBy("h").agg(count(lit(1)).as("occ"))
    index.copy(freq = index.freq.select("h", "occ").union(bfreq)
      .groupBy("h").agg(sum(col("occ")).as("occ"))
      .where(col("occ") =!= 0L))
  }

  // ─────────────────────── exact-fingerprint index ───────────────────────

  /** Persisted EXACT-dedup state: the distinct content fingerprints of every
    * document already admitted to the corpus. This is the durable twin of
    * the d8 arrival path's "existing" side — content-sized (one 32-byte md5
    * per distinct document), not corpus-sized, and the only thing an
    * incremental exact-dedup service needs to hold between batches.
    * `layers` tracks the persisted frames this index references (same
    * release contract as [[NearDupIndex.layers]]). */
  final case class FingerprintIndex private[operators] (fps: DataFrame,
      private[graft] layers: Seq[DataFrame] = Nil)

  /** One corpus scan → distinct fingerprint set. Map-side partial
    * aggregation makes the distinct shuffle proportional to distinct
    * CONTENT, so a dup-dense corpus indexes at its deduplicated size. */
  def buildFingerprintIndex(corpus: DataFrame, idCol: String,
      textCol: String): FingerprintIndex = {
    val fps = persistSketch(Balance(corpus)
      .select(TextOps.fingerprint(col(textCol)).as("fp")).distinct())
    FingerprintIndex(fps, layers = Seq(fps))
  }

  /** Deterministic catalog name for generation `gen`'s bucketed fingerprint
    * table at `path` — same (path, gen)-derivable contract as
    * [[prefixTable]] so a restarted session re-registers it. */
  private def fpTable(path: String, gen: Int): String =
    "graft_fpidx_" + java.lang.Long.toHexString(
      java.lang.Integer.toUnsignedLong(path.hashCode)) + s"_g$gen"

  /** Persist a [[FingerprintIndex]] under `path`. Same generational
    * crash-safety contract as [[saveIndex]] (fresh `g<N>/`, params written
    * LAST as the commit marker, one prior generation retained). The
    * fingerprint set is written as an `fp`-bucketed external table so every
    * post-restart probe's anti join reads the index already partitioned on
    * the join key — the batch side (batch-sized) is the only Exchange. */
  def saveFingerprintIndex(index: FingerprintIndex, path: String,
      numBuckets: Int = 32, batchId: Long = -1L,
      kept: Option[DataFrame] = None): Unit = {
    val spark = index.fps.sparkSession
    import spark.implicits._
    saveGenerational(spark, path,
      params = Seq((numBuckets, batchId)).toDF("num_buckets", "batch_id"),
      dropTables = g => Seq(fpTable(path, g))) { (gdir, gen) =>
      graft.sources.Sink.bucketedExternal(index.fps,
        fpTable(path, gen), s"$gdir/fps", "fp", numBuckets, "fp")
      kept.foreach(_.select(col("doc_id").cast("long").as("doc_id"))
        .write.mode("overwrite").parquet(s"$gdir/kept"))
    }
  }

  /** Load the newest committed [[FingerprintIndex]] generation at `path`,
    * re-registering the bucketed table if this session didn't write it. The
    * frame is deliberately NOT cached: it reads through the bucketed scan so
    * its HashPartitioning reaches the probe's anti-join planner. Any other
    * file in `g<N>/` (older builds wrote a probe filter there) is ignored,
    * and generation pruning deletes it with its directory. */
  def loadFingerprintIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): FingerprintIndex =
    loadLatestFpGen(spark, path).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no committed fingerprint index at $path"))

  private def loadLatestFpGen(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(FingerprintIndex, Long)] =
    completeGens(spark, path).headOption.map { g =>
      val gdir = s"$path/g$g"
      val p = spark.read.parquet(s"$gdir/params").head()
      val batchId =
        if (p.schema.fieldNames.contains("batch_id"))
          p.getAs[Long]("batch_id")
        else -1L
      // GATE layer behind a bucketed catalog table: validate footers at
      // load ([[loadLatestGen]]'s rationale).
      graft.sources.Sink.validateOwn(spark, Seq(s"$gdir/fps"))
      (FingerprintIndex(reRegisterBucketed(spark, fpTable(path, g),
        "fp string", "fp", p.getAs[Int]("num_buckets"), s"$gdir/fps")),
        batchId)
    }

  /** Restore the full fingerprint-index state ([[restoreWithDeltas]]):
    * newest generation + every newer delta and tombstone, returning
    * (index, last durably folded batch id). */
  private[graft] def loadFpIndexWithDeltas(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(FingerprintIndex, Long)] =
    restoreWithDeltas(spark, path, loadLatestFpGen(spark, path),
      TombstoneLog.Fps, Seq("fps")) { (acc, d) =>
      FingerprintIndex(acc.fps.union(d("fps")), acc.layers :+ d("fps"))
    } { (acc, payload) =>
      val tfps = persistSketch(payload)
      tfps.count()
      removeFps(acc, tfps)
    }

  /** The streaming probe step: kept batch rows ([[probeNovelExact]]
    * semantics), the batch's kept-fingerprint layer (persisted and
    * MATERIALIZED — micro-batch frames cannot recompute once the batch
    * ends), and the extended index. Extending with kept fingerprints only
    * is complete: a dropped doc's fingerprint is either already indexed or
    * equals a kept batch doc's. */
  private[graft] def probeAndExtendFpParts(index: FingerprintIndex,
      batch: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame, FingerprintIndex) = {
    val kept = probeNovelExact(index, batch, idCol, textCol)
    val keptIds = kept.select(col(idCol).cast("long").as("doc_id"))
    val kfps = persistSketch(
      kept.select(TextOps.fingerprint(col(textCol)).as("fp")))
    kfps.count()
    (keptIds, kfps,
      FingerprintIndex(index.fps.union(kfps), index.layers :+ kfps))
  }

  /** Flatten a [[FingerprintIndex]]'s accumulated union lineage into one
    * resident frame ([[compactIndex]] contract: `releaseOld = false`
    * leaves the superseded layers for the caller's grace period). */
  def compactFpIndex(index: FingerprintIndex,
      releaseOld: Boolean = true): FingerprintIndex = {
    val f = index.fps.localCheckpoint(true)
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    FingerprintIndex(f, layers = Nil)
  }

  /** Unpersist exactly the layers `index` references ([[releaseIndex]]
    * contract for the fingerprint family — a superseded bootstrap copy
    * releases without evicting other live indexes). */
  def releaseFpIndex(index: FingerprintIndex): Unit =
    index.layers.foreach(_.unpersist(false))

  /** Remove `docs`' content fingerprints from the index — the TAKEDOWN
    * path for exact-dedup state (the serving-index tombstone arm of
    * [[graft.operators.Similarity]]'s `deleteFromIvfIndex`, applied to the
    * dedup family): after a corpus doc is withdrawn, a fresh arrival with
    * the same content must be ADMITTED again, so its fingerprint has to
    * leave the "seen ever" set. Functional — returns a new index, the
    * input (and any cached resident copy) is untouched; the tombstone set
    * is one anti join over the fp-partitioned index, takedown-sized. */
  def deleteFpContent(index: FingerprintIndex, docs: DataFrame,
      textCol: String): FingerprintIndex =
    deleteFpContentLogged(index, docs, textCol, None, -1L)

  /** [[deleteFpContent]] plus the durable leg for streaming checkpoints:
    * when `checkpoint` is set, the tombstone fingerprints land in the
    * checkpoint's tombstone log BEFORE the in-memory index shrinks
    * (WAL-before-side-effects, the house rule), tagged with `afterBatch` —
    * the newest batch folded before the delete — so a restart replays the
    * delete at exactly its position in the batch sequence. */
  private[graft] def deleteFpContentLogged(index: FingerprintIndex,
      docs: DataFrame, textCol: String,
      checkpoint: Option[String], afterBatch: Long): FingerprintIndex = {
    val tomb = persistSketch(
      docs.select(TextOps.fingerprint(col(textCol)).as("fp")).distinct())
    tomb.count()
    checkpoint.foreach(p => TombstoneLog.Fps.append(p, tomb, afterBatch))
    removeFps(index, tomb)
  }

  /** The fp takedown itself: one anti join against an already
    * materialized tombstone set, which rides along as a layer. */
  private def removeFps(index: FingerprintIndex,
      tomb: DataFrame): FingerprintIndex =
    FingerprintIndex(index.fps.join(tomb, Seq("fp"), "left_anti"),
      index.layers :+ tomb)

  /** Batch rows kept by incremental exact dedup against the index:
    * fingerprint absent from the index (anti join) AND first — minimum
    * `idCol` — among the batch rows sharing it (within-batch first-wins
    * window, batch-sized). Returns the batch's columns. Kept-set is
    * deterministic, so it oracle-checks as plain SQL. */
  def probeNovelExact(index: FingerprintIndex, batch: DataFrame,
      idCol: String, textCol: String): DataFrame =
    // Working columns are __graft-prefixed so a batch that already carries
    // an "fp"/"rn" column of its own passes through untouched.
    batch.withColumn("__graft_fp", TextOps.fingerprint(col(textCol)))
      .join(index.fps.select(col("fp").as("__graft_fp")), Seq("__graft_fp"),
        "left_anti")
      .withColumn("__graft_rn", row_number().over(
        Window.partitionBy("__graft_fp").orderBy(col(idCol))))
      .where(col("__graft_rn") === 1)
      .drop("__graft_rn", "__graft_fp")

  /** Fold a kept batch into the index. A plain union stays distinct by
    * construction: [[probeNovelExact]]'s anti join guarantees kept
    * fingerprints are absent from the index, and its first-wins window
    * guarantees they're unique within the batch. Checkpoint via
    * [[saveFingerprintIndex]] at compaction points, exactly like the
    * near-dup index. */
  def extendFingerprintIndex(index: FingerprintIndex, keptBatch: DataFrame,
      textCol: String): FingerprintIndex =
    index.copy(fps = index.fps.select("fp").union(
      keptBatch.select(TextOps.fingerprint(col(textCol)).as("fp"))))

  // ───────────────────────── winnowing index ─────────────────────────────

  /** Persisted winnowing-fingerprint state: the flat (doc, fingerprint)
    * posting list plus the per-fingerprint corpus document frequency. The
    * incremental twin of [[winnowing]] — an arriving batch is fingerprinted
    * once and joined against this instead of re-sketching the corpus. */
  final case class WinnowIndex private[operators] (
      fps: DataFrame,
      freq: DataFrame,
      k: Int,
      w: Int,
      maxFreq: Int,
      private[graft] layers: Seq[DataFrame] = Nil,
      /** True when `freq` is a UNION of per-batch layers (multiple rows
        * per fp until compaction merges them). Tracked explicitly —
        * `layers` is cache-release bookkeeping and also holds frames of a
        * freshly-BUILT index whose freq is already merged, so it cannot
        * proxy for this. */
      private[graft] freqLayered: Boolean = false)

  /** One corpus scan through the winnowing kernel → posting list + doc
    * frequencies. `fps` is stored RAW (uncapped); the `maxFreq` boilerplate
    * cap is applied at probe time from `freq`, so a fingerprint that
    * crosses the cap as the index grows is excluded from later probes
    * without rebuilding. */
  def buildWinnowIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 30, maxFreq: Int = 200): WinnowIndex = {
    val flat = persistSketch(Balance(corpus).select(
      col(idCol).cast("long").as("id"),
      explode(graft.functions.GraftFunctions.winnow(col(textCol), k, w))
        .as("fp")))
    val freq = persistSketch(flat.groupBy("fp").agg(count(lit(1)).as("f")))
    WinnowIndex(flat, freq, k, w, maxFreq, layers = Seq(flat, freq))
  }

  private def wnTable(path: String, gen: Int): String =
    "graft_wnidx_" + java.lang.Long.toHexString(
      java.lang.Integer.toUnsignedLong(path.hashCode)) + s"_g$gen"

  private def wnFreqTable(path: String, gen: Int): String =
    wnTable(path, gen) + "_f"

  /** Persist a [[WinnowIndex]] under `path` — generational, params-last
    * commit marker, one prior generation retained ([[saveIndex]] contract).
    * BOTH frames are `fp`-bucketed with the same bucket count: the
    * frequency table is content-sized like the posting list (one row per
    * DISTINCT fingerprint — for mostly-unique text the same order of
    * magnitude, far too big to broadcast), so the probe's cap-filter join
    * must be a co-located bucket join, not a broadcast. */
  def saveWinnowIndex(index: WinnowIndex, path: String,
      numBuckets: Int = 32, batchId: Long = -1L,
      kept: Option[DataFrame] = None): Unit = {
    val spark = index.fps.sparkSession
    import spark.implicits._
    saveGenerational(spark, path,
      params = Seq((index.k, index.w, index.maxFreq, numBuckets, batchId))
        .toDF("k", "w", "max_freq", "num_buckets", "batch_id"),
      dropTables = g => Seq(wnTable(path, g), wnFreqTable(path, g))) {
      (gdir, gen) =>
        graft.sources.Sink.bucketedExternal(index.fps,
          wnTable(path, gen), s"$gdir/fps", "fp", numBuckets, "fp")
        // A layered index merges its frequency union at save time
        // (built/compacted/loaded indexes are already merged and skip
        // it — the streaming save path always saves compacted).
        val freqToSave =
          if (index.freqLayered)
            index.freq.groupBy("fp").agg(sum(col("f")).as("f"))
          else index.freq
        graft.sources.Sink.bucketedExternal(freqToSave,
          wnFreqTable(path, gen), s"$gdir/freq", "fp", numBuckets, "fp")
        kept.foreach(_.select(col("doc_id").cast("long").as("doc_id"))
          .write.mode("overwrite").parquet(s"$gdir/kept"))
    }
  }

  /** True when the parquet files under `dir` carry the bucketed writer's
    * `_NNNNN` bucket-id suffix. Early winnow generations wrote `freq` as
    * PLAIN parquet; registering a bucketed table over those files would
    * make every later scan throw INVALID_BUCKET_FILE, so the loader
    * detects the layout and falls back (correctness unaffected — only the
    * cap join's co-location is lost for that legacy generation). */
  private def hasBucketedFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val fs = fsFor(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.getPath.getName.matches("part-\\d+-.*_\\d{5}\\..*"))
  }

  /** Load the newest committed [[WinnowIndex]] generation at `path`. Both
    * frames read through their bucketed tables so the probe's
    * posting-list ⋈ frequency join is exchange-free on both sides
    * (legacy generations with a plain-parquet `freq` load cached like a
    * fresh build's instead — see [[hasBucketedFiles]]). */
  def loadWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): WinnowIndex =
    loadLatestWnGen(spark, path).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no committed winnowing index at $path"))

  /** (index, generation batch id) of the newest committed generation —
    * one directory listing, one params read (the sibling-family loader
    * shape). */
  private def loadLatestWnGen(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(WinnowIndex, Long)] =
    completeGens(spark, path).headOption.map { g =>
      val gdir = s"$path/g$g"
      val p = spark.read.parquet(s"$gdir/params").head()
      val nb = p.getAs[Int]("num_buckets")
      // GATE layers behind bucketed catalog tables: validate footers at
      // load ([[loadLatestGen]]'s rationale; one probe job for both).
      graft.sources.Sink.validateOwn(spark,
        Seq(s"$gdir/fps", s"$gdir/freq"))
      val freq =
        if (hasBucketedFiles(spark, s"$gdir/freq"))
          reRegisterBucketed(spark, wnFreqTable(path, g),
            "fp bigint, f bigint", "fp", nb, s"$gdir/freq")
        else persistSketch(readLayer(spark, s"$gdir/freq"))
      val batchId =
        if (p.schema.fieldNames.contains("batch_id"))
          p.getAs[Long]("batch_id")
        else -1L
      (WinnowIndex(
        reRegisterBucketed(spark, wnTable(path, g),
          "id bigint, fp bigint", "fp", nb, s"$gdir/fps"),
        freq,
        p.getAs[Int]("k"), p.getAs[Int]("w"), p.getAs[Int]("max_freq")),
        batchId)
    }

  /** Near-dup pairs (a_id = indexed doc, b_id = batch doc, n_shared) of an
    * arriving batch against the persisted index: the batch is winnowed with
    * the index's (k, w) — one narrow kernel projection — then one fp-equi-
    * join against the posting list. The `maxFreq` cap uses the INDEX side's
    * document frequency (the stable corpus statistic; [[winnowing]]'s
    * one-shot cap counts all docs, so the two agree wherever the cap
    * doesn't bind). Probe cost scales with the batch: the posting-list ⋈
    * frequency cap-filter join is co-located (both sides `fp`-bucketed
    * with the same count after a [[saveWinnowIndex]] / [[loadWinnowIndex]]
    * round-trip — the frequency table is content-sized, NOT broadcastable),
    * and only the batch side of the final join shuffles. */
  def probeWinnow(index: WinnowIndex, batch: DataFrame, idCol: String,
      textCol: String, minShared: Int = 3): DataFrame = {
    val bflat = Balance(batch).select(
      col(idCol).cast("long").as("b_id"),
      explode(graft.functions.GraftFunctions
        .winnow(col(textCol), index.k, index.w)).as("fp"))
    // Sum-then-filter keeps the cap correct on a LAYERED freq (multiple
    // rows per fp between compactions: a per-row filter would cap
    // per-layer and the surviving duplicates would multiply n_shared).
    // On the loaded bucketed table the aggregation's required
    // distribution is already satisfied by the fp hash-partitioning, so
    // no exchange appears and the cap join stays co-located
    // (IncrementalDedupSpec asserts the plan).
    val rare = index.freq.groupBy("fp").agg(sum(col("f")).as("f"))
      .where(col("f") <= index.maxFreq).select("fp")
    index.fps.join(rare, "fp")
      .join(bflat, "fp")
      .groupBy(col("id").as("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Fold a batch's postings into the index: posting-list union plus an
    * incremental frequency merge (index freq ⊎ batch freq — never a
    * corpus-wide recount). */
  def extendWinnowIndex(index: WinnowIndex, batch: DataFrame, idCol: String,
      textCol: String): WinnowIndex = {
    val bflat = Balance(batch).select(
      col(idCol).cast("long").as("id"),
      explode(graft.functions.GraftFunctions
        .winnow(col(textCol), index.k, index.w)).as("fp"))
    val bfreq = bflat.groupBy("fp").agg(count(lit(1)).as("f"))
    index.copy(
      fps = index.fps.select("id", "fp").union(bflat),
      freq = index.freq.select("fp", "f").union(bfreq)
        .groupBy("fp").agg(sum(col("f")).as("f")))
  }

  /** The streaming probe step for the winnow arrival path. First-arrival-
    * wins like the near-dup stream: batch doc b is DROPPED iff it shares
    * ≥ `minShared` cap-surviving fingerprints with any indexed doc or any
    * smaller-id doc in the same batch (a doc pairing an already-dropped
    * earlier arrival is still a duplicate). The `maxFreq` boilerplate cap
    * uses the INDEX side's frequency — summed across layers but computed
    * BATCH-SCOPED (a semi join restricts the frequency scan to the
    * batch's fingerprints before the sum, so the per-batch aggregate is
    * batch-hash-sized, never corpus-wide); within-batch self-pairs cap on
    * batch-internal counts via [[sharedKeyPairs]]. The FULL batch's
    * postings + counts fold in as layers ([[compactWnIndex]] merges). */
  private[graft] def probeAndExtendWnParts(index: WinnowIndex,
      batch: DataFrame, idCol: String, textCol: String, minShared: Int)
      : (DataFrame, DataFrame, DataFrame, WinnowIndex) = {
    val bflat = persistSketch(Balance(batch).select(
      col(idCol).cast("long").as("id"),
      explode(graft.functions.GraftFunctions
        .winnow(col(textCol), index.k, index.w)).as("fp")))
    bflat.count()
    val bfreq = persistSketch(
      bflat.groupBy("fp").agg(count(lit(1)).as("f")))
    bfreq.count()

    // Batch-scoped hot-fingerprint set: index frequency summed over
    // layers, restricted to fingerprints this batch carries.
    val hot = index.freq
      .join(bflat.select("fp").distinct(), Seq("fp"), "left_semi")
      .groupBy("fp").agg(sum(col("f")).as("f"))
      .where(col("f") > index.maxFreq)
      .select("fp")
    // Persisted + tracked as a layer: both the cross join and the
    // self-join's two sides read it, and the loop's one-compaction-late
    // release is what bounds per-batch caches over an unbounded stream.
    val bOk = persistSketch(bflat.join(hot, Seq("fp"), "left_anti"))

    // Cross hits: batch docs sharing >= minShared fps with an indexed doc.
    val crossHits = index.fps.join(
        bOk.select(col("id").as("b_id"), col("fp")), "fp")
      .groupBy(col("id"), col("b_id"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minShared)
      .select(col("b_id").as("doc_id")).distinct()
    // In-batch hits: b side of any smaller-id pair (batch-internal cap).
    val selfHits = sharedKeyPairsOn(bOk, index.maxFreq, minShared)
      .select(col("b_id").as("doc_id")).distinct()

    val keptIds = batch.select(col(idCol).cast("long").as("doc_id"))
      .join(crossHits.union(selfHits), Seq("doc_id"), "left_anti")
    (keptIds, bflat, bfreq,
      index.copy(fps = index.fps.union(bflat),
        freq = index.freq.union(bfreq), freqLayered = true,
        layers = index.layers :+ bflat :+ bfreq :+ bOk))
  }

  /** Restore the full winnow-index state ([[restoreWithDeltas]]): newest
    * generation + every newer delta as layers. A tombstone's negative freq
    * layer is recomputed from the index AS OF the tombstone's position
    * (the same postings [[removeWinnowIds]] counted live), so the
    * subtraction replays exactly. Returns (index, last folded batch). */
  private[graft] def loadWnIndexWithDeltas(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(WinnowIndex, Long)] =
    restoreWithDeltas(spark, path, loadLatestWnGen(spark, path),
      TombstoneLog.Ids, Seq("fps", "freq")) { (acc, d) =>
      acc.copy(fps = acc.fps.union(d("fps")),
        freq = acc.freq.union(d("freq")), freqLayered = true,
        layers = acc.layers ++ Seq(d("fps"), d("freq")))
    }(removeWinnowIds)

  /** Remove ids' postings from a winnow index — the takedown path for the
    * winnowing family: the withdrawn docs' fingerprints leave the posting
    * list (future arrivals sharing passages with them are ADMITTED again)
    * and a NEGATIVE frequency layer subtracts their contribution to the
    * `maxFreq` boilerplate cap — the winnow freq is a maintained count
    * (extendWinnowIndex merges batch counts in), so unlike the nd
    * family's frozen rarity order it must shrink with deletes or
    * long-withdrawn boilerplate would keep capping live fingerprints.
    * The probe's sum-then-filter cap and [[compactWnIndex]]'s merge both
    * handle negative rows by construction (they sum layers). Id-addressed
    * ([[removeSemIds]] contract): postings are id-keyed, removing an
    * absent id is a natural no-op. */
  private[graft] def removeWinnowIds(index: WinnowIndex,
      ids: DataFrame): WinnowIndex = {
    val doomed = persistSketch(ids.select(col("id").cast("long").as("id")))
    doomed.count()
    // One posting row per (doc, distinct fp) — exactly what
    // extendWinnowIndex counted in, so the negation cancels it.
    val neg = persistSketch(
      index.fps.join(doomed, Seq("id"), "left_semi")
        .groupBy("fp").agg((-count(lit(1))).as("f")))
    neg.count()
    index.copy(fps = index.fps.join(doomed, Seq("id"), "left_anti"),
      freq = index.freq.select("fp", "f").union(neg),
      freqLayered = true,
      layers = index.layers ++ Seq(doomed, neg))
  }

  /** Resolve withdrawn CONTENTS to winnow index ids — every id whose
    * posting fingerprint-set equals a withdrawn doc's winnow set. Content
    * addressing matters here exactly as in the nd family: the stream
    * folds the FULL batch (kept and dropped alike), so a dropped re-post
    * of the withdrawn content holds postings under its own id, and an
    * id-only delete would leave those gating future re-posts. Cost is
    * takedown-scaled: candidates come from the withdrawn fingerprints'
    * posting lists (semi join), and only candidates are set-compared
    * (match count == withdrawn set size == candidate's total postings). */
  private[graft] def resolveWinnowIds(index: WinnowIndex, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val wd = Balance(docs)
      .select(col(idCol).cast("long").as("wid"),
        graft.functions.GraftFunctions
          .winnow(col(textCol), index.k, index.w).as("wfps"))
      .where(size(col("wfps")) > 0)
      .select(col("wid"), explode(col("wfps")).as("fp"),
        size(col("wfps")).cast("bigint").as("wn"))
    val candRows = index.fps
      .join(wd.select("fp").distinct(), Seq("fp"), "left_semi")
    val matched = candRows.join(wd, "fp")
      .groupBy(col("wid"), col("id"), col("wn"))
      .agg(count(lit(1)).as("m"))
      .where(col("m") === col("wn"))
    val totals = index.fps
      .join(matched.select("id").distinct(), Seq("id"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("tot"))
    matched.join(totals, "id").where(col("tot") === col("wn"))
      .select("id").distinct()
  }

  /** Flatten a layered [[WinnowIndex]]: postings localCheckpoint, freq
    * merged ([[compactIndex]] contract for `releaseOld`). */
  def compactWnIndex(index: WinnowIndex,
      releaseOld: Boolean = true): WinnowIndex = {
    val fl = index.fps.localCheckpoint(true)
    // Net-zero rows (a takedown's negative layer fully cancelling a
    // fingerprint) are dropped: the probe's sum-then-filter treats
    // absent and zero identically, and without the filter every
    // withdrawal would permanently grow the compacted table.
    val fr = index.freq.groupBy("fp").agg(sum(col("f")).as("f"))
      .where(col("f") =!= 0L)
      .localCheckpoint(true)
    if (releaseOld) index.layers.foreach(_.unpersist(false))
    WinnowIndex(fl, fr, index.k, index.w, index.maxFreq, layers = Nil)
  }

  /** Unpersist exactly the layers `index` references. */
  def releaseWnIndex(index: WinnowIndex): Unit =
    index.layers.foreach(_.unpersist(false))
}
