package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental near-dup probe: exact recall (kept-set identical to the
  * batch-vs-everything all-pairs ground truth) and index locality (the
  * corpus is never re-scanned at probe time). */
class IncrementalDedupSpec extends SparkSpecBase {

  test("probe kept-set matches batch-vs-all exact jaccard ground truth") {
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val kept = Dedup.probeNearDups(idx, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet

    // Ground truth from the independent all-pairs operator: drop b iff it
    // pairs with a corpus doc or a smaller-id batch doc at J >= 0.6.
    val pairs = Dedup.exactJaccard(docs, "doc_id", "text", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val batchIds = batch.select(col("doc_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
    def inCorpus(id: Long) = id % 5 != 0
    val dropped = batchIds.filter { b =>
      pairs.exists { case (x, y) => // pairs are (a_id < b_id)
        (y == b && (inCorpus(x) || x < b)) || (x == b && inCorpus(y))
      }
    }
    assert(kept == batchIds -- dropped)
    assert(kept.nonEmpty && kept != batchIds,
      "fixture should both keep and drop some batch docs")
    Dedup.releaseSketchCaches()
  }

  test("rarity drift: zero on a fresh index, detected after skew-shifting " +
      "extensions, and a drift-triggered rebuild reproduces the same " +
      "kept decisions") {
    import spark.implicits._
    // Corpus: three 6-word docs, all bigrams unique (every frequency 1),
    // so each doc's 3-key prefix is just its hash-smallest bigrams.
    def doc(id: Long, words: String): (Long, String) = (id, words)
    val corpusRows = Seq(
      doc(1L, "p q r s t u"),
      doc(2L, "a b c d e f"),
      doc(3L, "k l m n o v"))
    val corpus = corpusRows.toDF("doc_id", "text")
    val idx0 = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    assert(Dedup.ndRarityDrift(idx0, sampleMod = 1L) == 0.0,
      "a fresh index has zero drift by construction")

    // Extensions: 12 docs all REUSING corpus bigrams ("p q", "a b",
    // "k l") amid fresh words — live frequencies of those bigrams jump
    // from 1 to 13 while the frozen order still calls them rarest, so
    // under live frequencies every corpus doc would pick different
    // prefix keys: drift → 1.0 for the corpus sample.
    val ext = (0 until 12).map(i =>
      doc(100L + i, s"p q x$i y$i a b w$i z$i k l")).toDF("doc_id", "text")
    val idx1 = Dedup.extendIndex(idx0, ext, "doc_id", "text")
    val drift = Dedup.ndRarityDrift(idx1, sampleMod = 1L)
    assert(drift > Dedup.NdRarityDriftRebuildThreshold,
      s"skew-shifting extensions must register as drift, got $drift")

    // The drift warning's own claim: rebuilding is an EFFICIENCY action,
    // not a correctness fix — a rebuilt index over the same accumulated
    // docs makes the same keep/drop decisions on the next batch.
    val allDocs = corpus.unionByName(ext.toDF("doc_id", "text"))
    val rebuilt = Dedup.buildNearDupIndex(allDocs, "doc_id", "text")
    assert(Dedup.ndRarityDrift(rebuilt, sampleMod = 1L) == 0.0,
      "rebuild resets drift")
    val batch = Seq(
      doc(201L, "p q r s t u"),          // corpus dup → dropped
      doc(202L, "p q x0 y0 a b w0 z0 k l"), // extension dup → dropped
      doc(203L, "f g h i j zz")).toDF("doc_id", "text") // novel → kept
    def keptOf(i: Dedup.NearDupIndex): Set[Long] =
      Dedup.probeNearDups(i, batch, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
    assert(keptOf(idx1) == Set(203L) && keptOf(rebuilt) == keptOf(idx1),
      "drifted and rebuilt indexes must agree on keep/drop")

    // The round-11 ACTION: Dedup.rebuildIndex re-ranks from the index's
    // OWN docsets — no corpus re-read — and must land exactly where the
    // from-scratch build does: drift back to zero, identical prefix keys
    // (same docsets → same live frequencies → same order), and the same
    // kept-set on the probe batch.
    val inPlace = Dedup.rebuildIndex(idx1, releaseOld = false)
    assert(Dedup.ndRarityDrift(inPlace, sampleMod = 1L) == 0.0,
      "in-place rebuild resets drift")
    def prefSet(i: Dedup.NearDupIndex): Set[(Long, Long)] =
      i.prefixes.select("id", "h").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefSet(inPlace) == prefSet(rebuilt),
      "in-place rebuild must derive the same prefix keys as a " +
        "from-scratch build over the accumulated docs")
    assert(keptOf(inPlace) == keptOf(idx1),
      "in-place rebuild must not change keep/drop decisions")
    Dedup.releaseSketchCaches()
  }

  test("simhash fold composition: exact copies always fold to the min-id " +
      "representative, unrelated docs survive") {
    import spark.implicits._
    // Exact copies are a hash-family-independent guarantee (identical
    // text → identical signature → Hamming 0); unrelated short docs with
    // disjoint token sets must keep independently.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact copy of 1
      (3L, "zeta eta theta iota kappa"),
      (4L, "zeta eta theta iota kappa"),      // exact copy of 3
      (5L, "completely different words here entirely")
    ).toDF("doc_id", "text")
    val reps = docs.groupBy("text")
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("rid"))
    val copyEdges = docs.join(reps, "text")
      .where(col("doc_id") =!= col("rid"))
      .select(col("rid").as("a_id"), col("doc_id").as("b_id"))
    val pairs = Dedup.simhash(
        reps.select(col("rid").as("doc_id"), col("text")),
        "doc_id", "text", maxHamming = 6)
      .select("a_id", "b_id")
    val kept = Dedup.keepRepresentatives(docs, "doc_id",
        pairs.unionByName(copyEdges), "a_id", "b_id")
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(2L) && !kept.contains(4L),
      "exact copies must fold")
    assert(kept.contains(5L), "unrelated doc must survive")
    assert(kept.subsetOf(Set(1L, 3L, 5L)))
    Dedup.releaseSketchCaches()
  }

  test("prefix saturation: 1 candidate/doc on a diverse corpus, " +
      "(k² + k)/k on a shared-prefix-key corpus") {
    import spark.implicits._
    // Diverse: every doc's single prefix key (n=2 bigrams → 1-key prefix
    // at t=0.6) is unique → Σ c_h² = k → saturation 1.0.
    val diverse = (0 until 8).map(i => (i.toLong, s"p q$i r$i"))
      .toDF("doc_id", "text")
    val dIdx = Dedup.buildNearDupIndex(diverse, "doc_id", "text")
    assert(Dedup.ndPrefixSaturation(dIdx) == 1.0)
    // Hot: docs "a b c d w_i" (n=4 → 2-key prefix): key 1 is the unique
    // dw_i (f=1), key 2 is the SAME hash-smallest member of {ab,bc,cd}
    // (f=k) for every doc → Σ c_h² = k·1 + k² → saturation k + 1.
    val k = 4
    val hot = (0 until k).map(i => (100L + i, s"a b c d w$i"))
      .toDF("doc_id", "text")
    val hIdx = Dedup.buildNearDupIndex(hot, "doc_id", "text")
    assert(Dedup.ndPrefixSaturation(hIdx) == (k + 1).toDouble,
      "shared prefix key must register as k+1 expected candidates/doc")
    Dedup.releaseSketchCaches()
  }

  test("hand math: corpus dup dropped, earlier-batch dup dropped, novel kept") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e"), // bigrams ab bc cd de
      (2L, "p q r s t")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a b c d x"), // J with doc 1 = 3/5 = 0.6 → dropped (corpus hit)
      (15L, "m n o u v"), // novel → kept
      (20L, "m n o u w"), // J with 15 = 3/5 = 0.6 → dropped (earlier batch)
      (25L, "solo")       // < 2 tokens, no shingles → kept
    ).toDF("doc_id", "text")
    val idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val kept = Dedup.probeNearDups(idx, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(15L, 25L))
    Dedup.releaseSketchCaches()
  }

  test("dense-path pre-passes (collapse + corpus twins) keep the exact kept-set") {
    import org.apache.spark.sql.DataFrame
    val docs = spark.table("documents")
    // Dup-dense fixture: corpus and batch each carry exact copies (shifted
    // ids), and some batch contents are exact corpus twins — the shapes the
    // dense path's pre-passes collapse away.
    def withCopies(df: DataFrame, shift: Long): DataFrame =
      df.union(df.select((col("doc_id") + shift).as("doc_id"), col("text")))
    val corpus = withCopies(
      docs.where(col("doc_id") % 5 =!= 0).select("doc_id", "text"), 2000000L)
    val batch = withCopies(
      docs.where(col("doc_id") % 5 === 0).select("doc_id", "text")
        .union(docs.where(col("doc_id") % 25 === 1) // corpus twins
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
      4000000L)

    def kept(floor: Long): Set[Long] = {
      val idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text",
        collapseFloor = floor)
      val r = Dedup.probeNearDups(idx, batch, "doc_id", "text",
        collapseFloor = floor).collect().map(_.getLong(0)).toSet
      Dedup.releaseSketchCaches()
      r
    }
    val dense = kept(0) // force collapse + twin pre-passes
    val plain = kept(Long.MaxValue) // force the uncollapsed joins
    assert(dense == plain)
    assert(dense.nonEmpty && dense.size < batch.count(),
      "fixture should both keep and drop batch docs")

    // The dense path's EXTENSION must stay usable: the USING join in the
    // collapse pre-pass moves "hs" to the front, and un-normalized that
    // corrupted the positional docsets union — invisible to one-shot
    // probes (the extended frame is lazy and discarded) but fatal on the
    // stream's NEXT batch, which analyzes it. Probe twice through the
    // extension, dense mode both times, and act on every frame.
    val idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text",
      collapseFloor = 0)
    val (kept1, _, _, ext1) = Dedup.probeAndExtendParts(idx, batch,
      "doc_id", "text", collapseFloor = 0)
    assert(kept1.collect().map(_.getLong(0)).toSet == plain)
    assert(ext1.docsets.columns.toSeq == Seq("id", "hs", "n"),
      s"extended docsets column order: ${ext1.docsets.columns.toSeq}")
    // Novel content (hash-derived tokens — shares no shingles with any
    // corpus doc) so the second probe keeps rows and grows the index.
    val batch2 = docs.where(col("doc_id") % 5 === 2)
      .select((col("doc_id") + 8000000L).as("doc_id"),
        concat_ws(" ", md5(col("text")), md5(concat(col("text"), lit("a"))),
          md5(concat(col("text"), lit("b")))).as("text"))
    val (kept2, _, _, ext2) = Dedup.probeAndExtendParts(ext1, batch2,
      "doc_id", "text", collapseFloor = 0)
    assert(kept2.count() > 0 && ext2.docsets.count() > ext1.docsets.count(),
      "second dense probe must extend the already-extended index")
    // Re-probing batch2 against its own fold drops every doc: each
    // content now has an identical indexed twin.
    assert(Dedup.probeNearDups(ext2, batch2, "doc_id", "text",
      collapseFloor = 0).isEmpty)
    Dedup.releaseSketchCaches()
  }

  test("saved + reloaded index probes identically (the restart path)") {
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val built = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val direct = Dedup.probeNearDups(built, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet

    val dir = java.nio.file.Files.createTempDirectory("ndidx").toString
    Dedup.saveIndex(built, dir)
    Dedup.releaseSketchCaches()
    val loaded = Dedup.loadIndex(spark, dir)
    assert(loaded.shingleN == built.shingleN &&
      loaded.threshold == built.threshold)
    val replay = Dedup.probeNearDups(loaded, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(replay == direct)
    assert(replay.nonEmpty)
    Dedup.releaseSketchCaches()
  }

  test("a pre-generational flat checkpoint fails loudly, naming its path") {
    val dir = java.nio.file.Files.createTempDirectory("ndflat").toString
    spark.range(1).toDF("shingle_n").write.parquet(s"$dir/params")
    val corpus = spark.table("documents").limit(0)
    val err = intercept[IllegalStateException](graft.streaming.NearDupStream
      .resume(spark, dir, corpus, "doc_id", "text"))
    assert(err.getMessage.contains(dir))
    val noGen = intercept[IllegalStateException](Dedup.loadIndex(spark, dir))
    assert(noGen.getMessage.contains(dir))
    assert(new java.io.File(dir).list().toSet == Set("params"),
      "nothing may be rebuilt over the flat checkpoint")
  }

  test("every gate index family fails LOUDLY on a truncated generation " +
      "part (r17: fp / winnow / substring / sem — the nd arm is the test " +
      "below): a silently excluded gate part admits duplicates, so the " +
      "quarantine that bulk artifacts get must never apply here") {
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    // Truncate an EXISTING part in place (name kept): this exercises the
    // corrupt-footer read path, not bucket-file-name validation.
    def truncate(dirPath: String): Unit = {
      val part = java.nio.file.Files.walk(java.nio.file.Paths.get(dirPath))
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("_"))
        .findFirst().orElseThrow()
      val bytes = java.nio.file.Files.readAllBytes(part)
      java.nio.file.Files.write(part, bytes.take(bytes.length / 2))
    }
    locally { // fp: bucketed fingerprint layer
      val dir = java.nio.file.Files.createTempDirectory("fppo").toString
      Dedup.saveFingerprintIndex(
        Dedup.buildFingerprintIndex(corpus, "doc_id", "text"), dir)
      Dedup.releaseSketchCaches()
      truncate(s"$dir/g0/fps")
      intercept[Exception] {
        Dedup.probeNovelExact(Dedup.loadFingerprintIndex(spark, dir),
          batch, "doc_id", "text").count()
      }
      Dedup.releaseSketchCaches()
    }
    locally { // winnow: bucketed posting-list layer
      val dir = java.nio.file.Files.createTempDirectory("wnpo").toString
      Dedup.saveWinnowIndex(
        Dedup.buildWinnowIndex(corpus, "doc_id", "text"), dir)
      Dedup.releaseSketchCaches()
      truncate(s"$dir/g0/fps")
      intercept[Exception] {
        Dedup.probeWinnow(Dedup.loadWinnowIndex(spark, dir),
          batch, "doc_id", "text").count()
      }
      Dedup.releaseSketchCaches()
    }
    locally { // substring: bucketed window-frequency layer
      val dir = java.nio.file.Files.createTempDirectory("sspo").toString
      Dedup.saveSubstringIndex(
        Dedup.buildSubstringIndex(corpus, "doc_id", "text"), dir)
      Dedup.releaseSketchCaches()
      truncate(s"$dir/g0/freq")
      intercept[Exception] {
        Dedup.probeSubstringDups(Dedup.loadSubstringIndex(spark, dir),
          batch, "doc_id", "text").count()
      }
      Dedup.releaseSketchCaches()
    }
    locally { // sem: list-partitioned vector layer (readLayer path)
      val emb = spark.table("embeddings")
      val dir = java.nio.file.Files.createTempDirectory("smpo").toString
      Dedup.saveSemIndex(Dedup.buildSemIndex(
        emb.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        eps = 0.2), dir)
      Dedup.releaseSketchCaches()
      truncate(s"$dir/g0/vecs")
      intercept[Exception] {
        Dedup.loadSemIndex(spark, dir).assigned.count()
      }
      Dedup.releaseSketchCaches()
    }
  }

  test("index layers read layout-aware and integrity-first (r17): a " +
      "manifest-commit compaction of a generation layer reloads exactly " +
      "through the manifest; a corrupt straggler part fails the probe " +
      "LOUDLY instead of being quarantined out (a silently missing " +
      "shingle layer admits duplicates)") {
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val built = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val direct = Dedup.probeNearDups(built, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("ndlay").toString
    Dedup.saveIndex(built, dir)
    Dedup.releaseSketchCaches()
    // Maintenance compacts the docsets layer under the MANIFEST commit
    // (the object-store mode): the layer's files now resolve only
    // through `_manifest.<gen>` — a bare directory read is no longer
    // the committed view mid-swap. The reload must go through the
    // layout-aware reader and probe identically.
    val st = graft.sources.Sink.compact(spark, s"$dir/g0/docsets",
      targetBytesPerFile = 1L << 30, commit = "manifest")
    assert(st.leavesRewritten == 1,
      s"the docsets layer must have been fragmented enough to rewrite: $st")
    assert(new java.io.File(s"$dir/g0/docsets").listFiles()
      .exists(_.getName.startsWith("_manifest.")),
      "manifest commit must be in place for this test to mean anything")
    val reloaded = Dedup.loadIndex(spark, dir)
    assert(Dedup.probeNearDups(reloaded, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet == direct,
      "probe through the manifest-committed layer must be exact")
    Dedup.releaseSketchCaches()
    // A straggler part the store truncated after commit: gate layers are
    // INTEGRITY-first — the load/probe must fail loudly, never count the
    // part out (readOwn quarantine stays OFF for dedup gates).
    val good = new java.io.File(s"$dir/g0/docsets").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(good.toPath)
    java.nio.file.Files.write(
      new java.io.File(s"$dir/g0/docsets/part-straggler.parquet").toPath,
      bytes.take(bytes.length / 2))
    intercept[Exception] {
      val torn = Dedup.loadIndex(spark, dir)
      Dedup.probeNearDups(torn, batch, "doc_id", "text").collect()
    }
    Dedup.releaseSketchCaches()
  }

  test("reloaded bucketed index: probe join has no corpus-side exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val built = Dedup.buildNearDupIndex(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ndidxb").toString
    Dedup.saveIndex(built, dir)
    Dedup.releaseSketchCaches()
    val loaded = Dedup.loadIndex(spark, dir)

    // Force a shuffled join (broadcast would hide missing co-location) and
    // a statically-traversable plan (AQE wraps stages in leaf nodes).
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Dedup.probeNearDups(loaded, batch, "doc_id", "text")
      val plan = probe.queryExecution.executedPlan
      def hasPrefixScan(p: SparkPlan): Boolean = p.collectLeaves().exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("prefixes"))
        case _ => false
      }
      assert(hasPrefixScan(plan), "probe plan lost the bucketed prefix scan")
      // The candidate join's corpus side — the subtree between the join and
      // the bucketed prefix scan — must carry no Exchange: the write-time
      // bucketing already hash-partitioned it on the join key h.
      val joinSides = plan.collect {
        case j: SortMergeJoinExec => j.children.filter(hasPrefixScan)
        case j: ShuffledHashJoinExec => j.children.filter(hasPrefixScan)
      }.flatten
      assert(joinSides.nonEmpty, "no shuffled join reads the prefix table")
      val innermost = joinSides.minBy(_.collect { case p => p }.size)
      val shuffles = innermost.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"corpus prefix side still shuffles after reload:\n$innermost")
      // And the reloaded probe still answers.
      assert(probe.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      Dedup.releaseSketchCaches()
    }
  }

  test("fingerprint index: saved + reloaded probe matches the inline d8 kept-set") {
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    // The synthetic corpus has no exact copies across the %5 split, so give
    // the batch real work: exact corpus twins (must drop) and within-batch
    // twins (first id wins) alongside the genuinely novel docs.
    val batch = docs.where(col("doc_id") % 5 === 0).select("doc_id", "text")
      .union(docs.where(col("doc_id") % 25 === 1) // corpus twins
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .union(docs.where(col("doc_id") % 25 === 0) // in-batch twins
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))

    // Inline ground truth — the d8 arrival-path shape, no index machinery.
    def fpOf(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      graft.operators.TextOps.fingerprint(col("text")).as("fp"))
    val expected = fpOf(batch)
      .join(fpOf(corpus).select("fp"), Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .collect().map(_.getAs[Long]("doc_id")).toSet

    val built = Dedup.buildFingerprintIndex(corpus, "doc_id", "text")
    val direct = Dedup.probeNovelExact(built, batch, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(direct == expected)

    val dir = java.nio.file.Files.createTempDirectory("fpidx").toString
    Dedup.saveFingerprintIndex(built, dir)
    // Older builds also wrote a bloom filter over the generation's
    // fingerprints to g<N>/bloom; the loader must read past such a file.
    val legacy = java.nio.file.Paths.get(dir, "g0", "bloom")
    val out = java.nio.file.Files.newOutputStream(legacy)
    try built.fps.stat.bloomFilter("fp", built.fps.count(), 0.0001)
      .writeTo(out)
    finally out.close()
    Dedup.releaseSketchCaches()
    val loaded = Dedup.loadFingerprintIndex(spark, dir)
    val replay = Dedup.probeNovelExact(loaded, batch, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(replay == expected)
    assert(replay.nonEmpty && replay.size < batch.count(),
      "fixture should both keep and drop batch docs")

    // Extension folds the kept batch in: re-probing the same batch now
    // keeps nothing (every kept fingerprint is indexed, every dropped one
    // already was).
    val extended = Dedup.extendFingerprintIndex(loaded,
      Dedup.probeNovelExact(loaded, batch, "doc_id", "text"), "text")
    assert(Dedup.probeNovelExact(extended, batch, "doc_id", "text").isEmpty)

    // One prior generation is retained, so g0 (legacy file included) goes
    // at the save that writes g2.
    Dedup.saveFingerprintIndex(built, dir)
    assert(java.nio.file.Files.exists(legacy))
    Dedup.saveFingerprintIndex(built, dir)
    assert(!java.nio.file.Files.exists(legacy.getParent),
      "pruning must delete g0 together with its legacy bloom file")
    Dedup.releaseSketchCaches()
  }

  test("reloaded fingerprint index: anti join has no index-side exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val docs = spark.table("documents")
    val built = Dedup.buildFingerprintIndex(
      docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fpidxb").toString
    Dedup.saveFingerprintIndex(built, dir)
    Dedup.releaseSketchCaches()
    val loaded = Dedup.loadFingerprintIndex(spark, dir)

    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Dedup.probeNovelExact(loaded,
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text")
      val plan = probe.queryExecution.executedPlan
      def hasFpScan(p: SparkPlan): Boolean = p.collectLeaves().exists {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains("/fps"))
        case _ => false
      }
      val joinSides = plan.collect {
        case j: SortMergeJoinExec => j.children.filter(hasFpScan)
        case j: ShuffledHashJoinExec => j.children.filter(hasFpScan)
      }.flatten
      assert(joinSides.nonEmpty, "no shuffled join reads the fp table")
      val shuffles = joinSides.flatMap(_.collect {
        case e: ShuffleExchangeLike => e
      })
      assert(shuffles.isEmpty,
        s"fingerprint index side still shuffles after reload:\n${joinSides.head}")
      assert(probe.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      Dedup.releaseSketchCaches()
    }
  }

  test("winnow index: saved + reloaded probe matches one-shot winnowing cross-pairs") {
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    // maxFreq high enough that the cap never binds — the one place the
    // incremental (corpus-frequency) and one-shot (all-docs-frequency)
    // semantics could differ.
    val oneShot = Dedup.winnowing(docs, "doc_id", "text",
        k = 16, w = 30, minShared = 2, maxFreq = 1000000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (a, b, _) =>
        (a % 5 == 0) != (b % 5 == 0) // exactly one side in the batch
      }
      .map { case (a, b, n) => // orient as (corpus, batch)
        if (a % 5 == 0) (b, a, n) else (a, b, n)
      }.toSet

    val built = Dedup.buildWinnowIndex(corpus, "doc_id", "text",
      k = 16, w = 30, maxFreq = 1000000)
    val dir = java.nio.file.Files.createTempDirectory("wnidx").toString
    Dedup.saveWinnowIndex(built, dir)
    Dedup.releaseSketchCaches()
    val loaded = Dedup.loadWinnowIndex(spark, dir)
    assert(loaded.k == 16 && loaded.w == 30)
    val probed = Dedup.probeWinnow(loaded, batch, "doc_id", "text",
        minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == oneShot)
    assert(probed.nonEmpty, "fixture should produce winnow pairs")
    Dedup.releaseSketchCaches()
  }

  test("reloaded winnow index: posting-frequency cap join has no index-side exchange") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val docs = spark.table("documents")
    val built = Dedup.buildWinnowIndex(
      docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text",
      k = 16, w = 30, maxFreq = 100)
    val dir = java.nio.file.Files.createTempDirectory("wnidxb").toString
    Dedup.saveWinnowIndex(built, dir)
    Dedup.releaseSketchCaches()
    val loaded = Dedup.loadWinnowIndex(spark, dir)

    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Dedup.probeWinnow(loaded,
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text")
      val plan = probe.queryExecution.executedPlan
      def scans(p: SparkPlan, frag: String): Boolean =
        p.collectLeaves().exists {
          case f: FileSourceScanExec =>
            f.relation.location.rootPaths.exists(_.toString.contains(frag))
          case _ => false
        }
      // The fps ⋈ freq cap join: BOTH sides are bucketed on fp with the
      // same count — the content-sized frequency table must NOT broadcast
      // and must NOT shuffle.
      val capJoins = plan.collect {
        case j: SortMergeJoinExec
          if scans(j, "/fps") && scans(j, "/freq") => j
        case j: ShuffledHashJoinExec
          if scans(j, "/fps") && scans(j, "/freq") => j
      }
      assert(capJoins.nonEmpty, s"no shuffled cap join found:\n$plan")
      // The OUTER batch join also contains both scans in its subtree —
      // assert on the INNERMOST matching join, whose subtree is exactly
      // the two bucketed index scans.
      val innermost = capJoins.minBy(_.collect { case p => p }.size)
      val shuffles = innermost.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.isEmpty,
        s"winnow index cap join still shuffles after reload:\n$innermost")
      assert(probe.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      Dedup.releaseSketchCaches()
    }
  }

  test("winnow index: extension sees new postings, frequency cap applies") {
    import spark.implicits._
    val corpus = Seq((1L, "x " * 200)).toDF("doc_id", "text")
    val idx = Dedup.buildWinnowIndex(corpus, "doc_id", "text",
      k = 8, w = 4, maxFreq = 2)
    // A batch doc identical to doc 1 pairs with it.
    val b1 = Seq((10L, "x " * 200)).toDF("doc_id", "text")
    assert(Dedup.probeWinnow(idx, b1, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 10L)))
    // After folding two more copies in, every fingerprint's corpus
    // frequency is 3 > maxFreq=2 — the boilerplate cap now silences it.
    val grown = Dedup.extendWinnowIndex(idx,
      Seq((20L, "x " * 200), (30L, "x " * 200)).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(Dedup.probeWinnow(grown, b1, "doc_id", "text", minShared = 1)
      .isEmpty)
    Dedup.releaseSketchCaches()
  }

  test("substring index: saved + reloaded probe matches one-shot stats on the batch") {
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    // One-shot ground truth over corpus ∪ batch (= all docs), restricted
    // to the batch.
    val expected = Dedup.substringDupStats(docs, "doc_id", "text",
        windowTokens = 8, minOccurrences = 2)
      .where(col("doc_id") % 5 === 0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val built = Dedup.buildSubstringIndex(corpus, "doc_id", "text",
      windowTokens = 8)
    val dir = java.nio.file.Files.createTempDirectory("ssidx").toString
    Dedup.saveSubstringIndex(built, dir)
    Dedup.releaseSketchCaches()
    val loaded = Dedup.loadSubstringIndex(spark, dir)
    assert(loaded.windowTokens == 8)
    val probed = Dedup.probeSubstringDups(loaded, batch, "doc_id", "text",
        minOccurrences = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(probed == expected)
    assert(probed.values.exists(_._2 > 0),
      "fixture should contain cross-split duplicated windows")
    Dedup.releaseSketchCaches()
  }

  test("substring index: extension counts prior batches toward the threshold") {
    import spark.implicits._
    val corpus = Seq((1L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val idx = Dedup.buildSubstringIndex(corpus, "doc_id", "text",
      windowTokens = 4)
    // Batch 1 introduces a novel phrase: not duplicated yet.
    val b1 = Seq((10L, "n1 n2 n3 n4")).toDF("doc_id", "text")
    val r1 = Dedup.probeSubstringDups(idx, b1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(r1 == Map(10L -> 0L))
    // After folding batch 1 in, a later doc repeating the phrase IS a dup
    // — and so is a doc repeating the original corpus text.
    val grown = Dedup.extendSubstringIndex(idx, b1, "doc_id", "text")
    val b2 = Seq((20L, "n1 n2 n3 n4"), (30L, "c1 c2 c3 c4")).toDF("doc_id", "text")
    val r2 = Dedup.probeSubstringDups(grown, b2, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(r2 == Map(20L -> 1L, 30L -> 1L))
    Dedup.releaseSketchCaches()
  }

  test("probe reaches the corpus only through the persisted index") {
    import spark.implicits._
    val corpus = spark.table("documents").where(col("doc_id") % 5 =!= 0)
    val idx = Dedup.buildNearDupIndex(corpus, "doc_id", "text").materialize()
    val batch = Seq((1000001L, "entirely novel arrival text for the probe"))
      .toDF("doc_id", "text")
    val lp = Dedup.probeNearDups(idx, batch, "doc_id", "text")
      .queryExecution.optimizedPlan
    // Corpus side must resolve to the persisted index (InMemoryRelation
    // leaves); the batch is a local relation, so ANY file-backed relation
    // left in the plan would be a corpus re-read. (InMemoryRelation PRINTS
    // its originating scan inside the cached subtree, so this checks real
    // plan leaves, not the plan string.)
    val fileRels = lp.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    val cached = lp.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }
    assert(cached.nonEmpty, "probe plan does not read the persisted index")
    assert(fileRels.isEmpty,
      s"probe plan re-scans the corpus parquet: $fileRels")
    Dedup.releaseSketchCaches()
  }
}
