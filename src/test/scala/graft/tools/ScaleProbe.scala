package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev scale-up probe: replicate sf0.1 tables REP× with distinct ids and
  * time this round's operators on them. Replication makes every duplicate
  * cluster REP× denser, so dedup-family numbers are worst-case. Test-tree
  * only — not shipped.
  *
  *   sbt "Test/runMain graft.tools.ScaleProbe [rep]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(40)
    // Optional second arg: comma-separated name substrings to run (default
    // all sections).
    val only = args.drop(1).headOption.map(_.split(",").toSeq).getOrElse(Nil)
    def wanted(name: String): Boolean =
      only.isEmpty || only.exists(name.contains)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Harness.session(cpus, graft.Harness.extraConf)
    graft.Tables.ensure(spark, sfDir)

    def replicate(table: String, idCols: Seq[String]): DataFrame = {
      val base = spark.table(table)
      val n = base.count()
      base.crossJoin(spark.range(rep).select(col("id").as("__r")))
        .select(base.columns.toIndexedSeq.map { c =>
          if (idCols.contains(c)) (col(c) + col("__r") * lit(n * 10)).as(c)
          else col(c)
        }: _*)
    }

    def time(name: String)(df: => DataFrame): Unit = if (wanted(name)) {
      val t0 = System.nanoTime()
      val d = df
      d.write.format("noop").mode("overwrite").save()
      println(f"[scale] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      System.out.flush()
    }

    val docs = replicate("documents", Seq("doc_id")).cache()
    println(s"[scale] documents x$rep = ${docs.count()} rows")
    val orders = replicate("orders", Seq("o_orderkey")).cache()
    println(s"[scale] orders x$rep = ${orders.count()} rows")
    docs.createOrReplaceTempView("documents")
    orders.createOrReplaceTempView("orders")

    // This round's changed operators, biggest-risk first.
    time("d9_contamination (semi join + freq cap)") {
      graft.SparkEntry.queries("d9_contamination")(spark, sfDir)
    }
    time("t14_repetition_signals") {
      graft.SparkEntry.queries("t14_repetition_signals")(spark, sfDir)
    }
    time("x2_sequence_packing") {
      graft.SparkEntry.queries("x2_sequence_packing")(spark, sfDir)
    }
    time("x3_domain_mixture") {
      graft.SparkEntry.queries("x3_domain_mixture")(spark, sfDir)
    }
    time("w8 analytics distributed") {
      graft.operators.Ranks.globalAnalytics(
        orders.select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice").asc, col("o_orderkey").asc), ntileN = 4,
        maxSingleTaskRows = 0L)
    }
    // d10 arrival path at rep× density: corpus/batch split of the
    // replicated docs — every distinct content now has rep copies spread
    // across both sides, so the collapse + twin pre-passes carry the load.
    if (wanted("d10")) {
      time("d10 incremental near-dup (index build + probe)") {
        val corpus = docs.where(col("doc_id") % 5 =!= 0)
        val batch = docs.where(col("doc_id") % 5 === 0)
        val idx = graft.operators.Dedup.buildNearDupIndex(
          corpus, "doc_id", "text")
        graft.operators.Dedup.probeNearDups(idx, batch, "doc_id", "text")
      }
      graft.operators.Dedup.releaseSketchCaches()
    }
    // TPC-H-shaped joins at rep× lineitem/orders. Keys replicate with ONE
    // shared offset so l_orderkey still joins o_orderkey; suppliers are
    // NOT replicated, so per-supplier density grows rep× (the skew probe).
    if (wanted("h21") || wanted("h8")) {
      val off = 10000000L
      def repKeyed(table: String, keys: Seq[String]): DataFrame = {
        val base = spark.read.parquet(s"$sfDir/$table.parquet")
        base.crossJoin(spark.range(rep).select(col("id").as("__r")))
          .select(base.columns.toIndexedSeq.map { c =>
            if (keys.contains(c)) (col(c) + col("__r") * lit(off)).as(c)
            else col(c)
          }: _*)
      }
      repKeyed("lineitem", Seq("l_orderkey"))
        .createOrReplaceTempView("lineitem")
      repKeyed("orders", Seq("o_orderkey"))
        .createOrReplaceTempView("orders")
      time("h21_waiting_supplier (rep x lineitem, semi+anti self-joins)") {
        graft.SparkEntry.queries("h21_waiting_supplier")(spark, sfDir)
      }
      time("h8_market_share (7-way join)") {
        graft.SparkEntry.queries("h8_market_share")(spark, sfDir)
      }
      // 24M lineitem rows sit ABOVE groupPercentiles' 2M-row cutoff, so
      // this exercises the auto-routed distributed percentile path (the
      // gate at sf0.01 stays on the built-in route).
      time("a17_percentile (auto-routed distributed at 24M rows)") {
        graft.SparkEntry.queries("a17_percentile")(spark, sfDir)
      }
    }
    // Round-5/6 operators: PQ ANN (inline vs persisted-index probe), BM25,
    // chunk explode, epoch shuffle — all on rep× replicated inputs.
    // Round-6 persisted dedup indexes + substring dedup at rep× density.
    // Index pass 1 builds + saves + reloads; pass 2 is the resident-index
    // probe — the steady-state arrival-path cost.
    time("d12_dedup_fp_index pass1 (build+save+load+probe)") {
      graft.SparkEntry.queries("d12_dedup_fp_index")(spark, sfDir)
    }
    time("d12_dedup_fp_index pass2 (probe only)") {
      graft.SparkEntry.queries("d12_dedup_fp_index")(spark, sfDir)
    }
    time("d13_dedup_winnow_index pass1 (build+save+load+probe)") {
      graft.SparkEntry.queries("d13_dedup_winnow_index")(spark, sfDir)
    }
    time("d13_dedup_winnow_index pass2 (probe only)") {
      graft.SparkEntry.queries("d13_dedup_winnow_index")(spark, sfDir)
    }
    // Replication makes every 8-token window rep× duplicated — worst-case
    // frequency-join fan-back for the ExactSubstr shape.
    time("d14_dedup_substring (window freq stats)") {
      graft.SparkEntry.queries("d14_dedup_substring")(spark, sfDir)
    }
    time("d16_dedup_substring_index pass1 (build+save+load+probe)") {
      graft.SparkEntry.queries("d16_dedup_substring_index")(spark, sfDir)
    }
    time("d16_dedup_substring_index pass2 (probe only)") {
      graft.SparkEntry.queries("d16_dedup_substring_index")(spark, sfDir)
    }
    time("m7_frame_overlap (shared-frame pairs)") {
      graft.SparkEntry.queries("m7_frame_overlap")(spark, sfDir)
    }
    time("m6_phash_neardup (hamming buckets)") {
      graft.SparkEntry.queries("m6_phash_neardup")(spark, sfDir)
    }
    // The composed kept-set queries: identical-content collapse bounds the
    // pair search at DISTINCT-content size, so these should sit near d15's
    // numbers where the raw m6/m7 pair lists went quadratic.
    time("m8_payload_dedup (collapse + frame pairs + components)") {
      graft.SparkEntry.queries("m8_payload_dedup")(spark, sfDir)
    }
    time("m9_phash_dedup (collapse + hamming pairs + components)") {
      graft.SparkEntry.queries("m9_phash_dedup")(spark, sfDir)
    }
    time("m10_image_decode (png encode + imageio decode)") {
      graft.SparkEntry.queries("m10_image_decode")(spark, sfDir)
    }
    time("m4_resize (png decode + block-average + re-encode + re-decode)") {
      graft.SparkEntry.queries("m4_resize")(spark, sfDir)
    }
    time("m3_decode_features (png encode + imageio feature extract)") {
      graft.SparkEntry.queries("m3_decode_features")(spark, sfDir)
    }
    time("m11_audio_decode (wav encode + javax.sound parse)") {
      graft.SparkEntry.queries("m11_audio_decode")(spark, sfDir)
    }
    time("m12_audio_overlap (decode + frame fp + capped pair join)") {
      graft.SparkEntry.queries("m12_audio_overlap")(spark, sfDir)
    }
    time("m13_video_decode (tiff encode + imageio demux)") {
      graft.SparkEntry.queries("m13_video_decode")(spark, sfDir)
    }
    time("m14_video_overlap (demux + frame fp + capped pair join)") {
      graft.SparkEntry.queries("m14_video_overlap")(spark, sfDir)
    }
    if (wanted("strip")) {
      time("stripDupSpans (interval merge + token cut)") {
        graft.operators.Dedup.stripDupSpans(docs, "doc_id", "text",
          windowTokens = 8, minOccurrences = 2)
      }
      graft.operators.Dedup.releaseSketchCaches()
    }
    if (wanted("s5") || wanted("s6") || wanted("d5") || wanted("d11") ||
        wanted("d15")) {
      replicate("embeddings", Seq("vec_id")).cache()
        .createOrReplaceTempView("embeddings")
      println(s"[scale] embeddings x$rep = ${spark.table("embeddings").count()} rows")
      time("s5_ann_pq (train+encode+probe per call)") {
        graft.SparkEntry.queries("s5_ann_pq")(spark, sfDir)
      }
      // Pass 1 builds + saves + loads the index; pass 2 hits the resident
      // index — the steady-state probe cost a serving process pays.
      time("s6_ann_pq_index pass1 (build+save+load+probe)") {
        graft.SparkEntry.queries("s6_ann_pq_index")(spark, sfDir)
      }
      time("s6_ann_pq_index pass2 (probe only)") {
        graft.SparkEntry.queries("s6_ann_pq_index")(spark, sfDir)
      }
      // d5's exact blocked grid vs d11's IVF-bucketed pairs on the same
      // replicated corpus — the n² vs Σ|list|² comparison at scale.
      time("d5_dedup_embedding (exact blocked grid)") {
        graft.SparkEntry.queries("d5_dedup_embedding")(spark, sfDir)
      }
      time("d11_dedup_embedding_ivf (bucketed pairs)") {
        graft.SparkEntry.queries("d11_dedup_embedding_ivf")(spark, sfDir)
      }
      time("d15_dedup_semantic (IVF pairs + components + keep)") {
        graft.SparkEntry.queries("d15_dedup_semantic")(spark, sfDir)
      }
    }
    time("t16_bm25_search") {
      graft.SparkEntry.queries("t16_bm25_search")(spark, sfDir)
    }
    time("t17_chunk_documents (token-window explode)") {
      graft.SparkEntry.queries("t17_chunk_documents")(spark, sfDir)
    }
    time("x4_epoch_shuffle") {
      graft.SparkEntry.queries("x4_epoch_shuffle")(spark, sfDir)
    }
    // x5 composes the two heaviest dedup pieces (exact-Jaccard pair gen +
    // connected components) over the dup-dense replicated corpus.
    time("x5_leakage_safe_split") {
      graft.SparkEntry.queries("x5_leakage_safe_split")(spark, sfDir)
    }
    // components: pairs from exact 2-gram jaccard over the replicated corpus
    // (every cluster is rep x denser). Forces BOTH paths.
    if (wanted("components")) {
      val pairs = graft.operators.Dedup.exactJaccard(
        docs, "doc_id", "text", shingleN = 2, threshold = 0.6).cache()
      println(s"[scale] near-dup pairs = ${pairs.count()}")
      System.out.flush()
      time("components local (union-find)") {
        graft.operators.Dedup.components(pairs, "a_id", "b_id")
      }
      time("components distributed (star contraction)") {
        graft.operators.Dedup.components(pairs, "a_id", "b_id",
          localEdgeCap = 0)
      }
    }
    // Arrival-stream throughput at 40× density: each of the four index
    // families bootstraps its index from the full replicated corpus, then
    // processes four 40×-dup-dense micro-batches (half exact re-posts of
    // corpus content under fresh ids, half novel) with compactEvery=2 —
    // so two of the four batch timings INCLUDE a compaction + generational
    // save cycle. Timings are per micro-batch wall clock including the
    // WAL delta write and the counted sink.
    // Section filter "stream" (or a specific "stream_<family>") selects
    // these; each family's runTimed re-checks its own name so one family
    // can be probed alone.
    if (only.isEmpty || only.exists(f => f.startsWith("stream"))) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.StreamingQuery
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val base = spark.table("documents").select(col("doc_id"), col("text"))
      def part(m: Int): Seq[(Long, String)] =
        base.where(pmod(col("doc_id"), lit(40)) === m)
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val batches: Seq[Seq[graft.NdDoc]] = (0 until 4).map { i =>
        val dups = part(i).map { case (id, t) =>
          graft.NdDoc(id + 10000000L * (i + 1), t) }
        val novel = part(10 + i).map { case (id, t) =>
          graft.NdDoc(id + 20000000L * (i + 1), t + s" novel arrival $i") }
        dups ++ novel
      }
      println(s"[scale] stream batches: ${batches.map(_.size).mkString(",")} docs")

      def runTimed(name: String)(
          start: (MemoryStream[graft.NdDoc], String) => StreamingQuery): Unit
          = if (wanted(name)) {
        val dir = java.nio.file.Files.createTempDirectory(s"sp_$name").toString
        val t0 = System.nanoTime()
        val in = MemoryStream[graft.NdDoc]
        val q = start(in, dir)
        println(f"[scale] $name bootstrap (200k corpus index) " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        batches.zipWithIndex.foreach { case (b, i) =>
          val t1 = System.nanoTime()
          in.addData(b: _*)
          q.processAllAvailable()
          println(f"[scale] $name batch$i (${b.size} docs" +
            (if (i % 2 == 1) ", compaction cycle" else "") +
            f") ${(System.nanoTime() - t1) / 1e9}%.2f s")
          System.out.flush()
        }
        q.stop()
        graft.operators.Dedup.releaseSketchCaches()
      }

      runTimed("stream_neardup") { (in, dir) =>
        val st = graft.streaming.NearDupStream.resume(
          spark, dir, base, "doc_id", "text")
        graft.streaming.NearDupStream.run(in.toDF(), st, "doc_id", "text",
          compactEvery = 2, checkpointPath = Some(dir))(k => { k.count(); () })
      }
      runTimed("stream_fpdedup") { (in, dir) =>
        val st = graft.streaming.FpDedupStream.resume(
          spark, dir, base, "doc_id", "text")
        graft.streaming.FpDedupStream.run(in.toDF(), st, "doc_id", "text",
          compactEvery = 2, checkpointPath = Some(dir))(k => { k.count(); () })
      }
      runTimed("stream_winnow") { (in, dir) =>
        val st = graft.streaming.WinnowStream.resume(
          spark, dir, base, "doc_id", "text")
        graft.streaming.WinnowStream.run(in.toDF(), st, "doc_id", "text",
          compactEvery = 2, checkpointPath = Some(dir))(k => { k.count(); () })
      }
      runTimed("stream_substring") { (in, dir) =>
        val st = graft.streaming.SubstringStream.resume(
          spark, dir, base, "doc_id", "text")
        graft.streaming.SubstringStream.run(in.toDF(), st, "doc_id", "text",
          compactEvery = 2, checkpointPath = Some(dir))(k => { k.count(); () })
      }
      // Fifth family — the embedding/semantic stream: same protocol over
      // the embeddings table (per batch: half exact re-posts of corpus
      // vectors under fresh ids — always-caught cosine-1 dups — and half
      // negated vectors, cosine −1 to their source, standing in for novel
      // arrivals).
      if (wanted("stream_semantic")) {
        // Replicate from the original parquet (not the session view, which
        // an earlier section may already have replaced with a replicated
        // copy — replicating that again would square the factor).
        val baseEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val nEmb = baseEmb.count()
        val ecorpus = baseEmb
          .crossJoin(spark.range(rep).select(col("id").as("__r")))
          .select((col("vec_id") + col("__r") * lit(nEmb * 10)).as("doc_id"),
            col("embedding"))
          .cache()
        println(s"[scale] embeddings x$rep = ${ecorpus.count()} vectors")
        def epart(m: Int): Seq[(Long, Seq[Double])] =
          ecorpus.where(pmod(col("doc_id"), lit(40)) === m)
            .select(col("doc_id"),
              graft.operators.Similarity.toDoubleVec(col("embedding"))
                .as("v"))
            .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
        val ebatches: Seq[Seq[graft.SemDoc]] = (0 until 4).map { i =>
          val dups = epart(i).map { case (id, v) =>
            graft.SemDoc(id + 10000000L * (i + 1), v) }
          val novel = epart(10 + i).map { case (id, v) =>
            graft.SemDoc(id + 20000000L * (i + 1), v.map(x => -x)) }
          dups ++ novel
        }
        println(s"[scale] semantic stream batches: " +
          ebatches.map(_.size).mkString(",") + " vectors")
        val dir = java.nio.file.Files
          .createTempDirectory("sp_stream_semantic").toString
        val t0 = System.nanoTime()
        val in = MemoryStream[graft.SemDoc]
        val st = graft.streaming.SemDedupStream.resume(
          spark, dir, ecorpus, "doc_id", "embedding", eps = 0.4)
        val q = graft.streaming.SemDedupStream.run(in.toDF(), st,
          "doc_id", "embedding", compactEvery = 2,
          checkpointPath = Some(dir))(k => { k.count(); () })
        println(f"[scale] stream_semantic bootstrap (corpus IVF index) " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        ebatches.zipWithIndex.foreach { case (b, i) =>
          val t1 = System.nanoTime()
          in.addData(b: _*)
          q.processAllAvailable()
          println(f"[scale] stream_semantic batch$i (${b.size} vectors" +
            (if (i % 2 == 1) ", compaction cycle" else "") +
            f") ${(System.nanoTime() - t1) / 1e9}%.2f s")
          System.out.flush()
        }
        q.stop()
        graft.operators.Dedup.releaseSketchCaches()
      }
    }
    // Round-8: BPE trainer at rep× corpus. Replication grows the corpus
    // pass 40× but NOT the distinct-word dictionary — exactly the regime
    // the design targets (merge rounds are dictionary-sized, corpus-size
    // independent), so train time should be dominated by the one
    // histogram pass and encode by narrow per-doc CPU.
    if (wanted("bpe")) {
      import graft.operators.Bpe
      time(s"t18_bpe_train (${rep}x docs, 24 merges)") {
        Bpe.mergesFrame(spark,
          Bpe.train(Bpe.wordHistogram(docs, "text"), nMerges = 24))
      }
      val merges = Bpe.train(
        Bpe.wordHistogram(
          spark.read.parquet(s"$sfDir/documents.parquet"), "text"),
        nMerges = 24)
      time(s"t19_bpe_encode (${rep}x docs, 24 merges in-plan)") {
        docs.select(col("doc_id"),
          concat_ws(" ", Bpe.encode(col("text"), merges)).as("toks"))
      }
    }
    // Round-8 text additions at rep× docs: t20's corpus-keyed
    // unigram/bigram/context tables grow with the corpus (the real cost
    // driver); t21 and x7's encode are narrow maps; x7's pack window runs
    // per shard.
    if (wanted("text8")) {
      time("text8 t20_bigram_logprob") {
        graft.SparkEntry.queries("t20_bigram_logprob")(spark, sfDir)
      }
      time("text8 t21_pii_redact") {
        graft.SparkEntry.queries("t21_pii_redact")(spark, sfDir)
      }
      time("text8 x7_tokenized_export") {
        graft.SparkEntry.queries("x7_tokenized_export")(spark, sfDir)
      }
    }
    // Round-8: the streaming tokenize-and-pack export at rep× — tokenizer
    // trained on the replicated corpus at bootstrap, then arrival batches
    // of ~rep×125 docs pack through the carried per-shard state.
    if (wanted("stream_pack")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val dir = java.nio.file.Files
        .createTempDirectory("sp_stream_pack").toString
      val out = java.nio.file.Files
        .createTempDirectory("sp_stream_pack_out").toString
      val t0 = System.nanoTime()
      val h = graft.streaming.PackStream.resume(
        spark, dir, docs, "doc_id", "text", nShards = 32L)
      println(f"[scale] stream_pack bootstrap (train tokenizer on " +
        f"${rep}x corpus) ${(System.nanoTime() - t0) / 1e9}%.2f s")
      import spark.implicits._
      val in = MemoryStream[graft.NdDoc]
      val q = graft.streaming.PackStream.run(
        in.toDF(), h, "doc_id", "text", out)
      (0 until 4).foreach { i =>
        val b = docs.where(pmod(col("doc_id"), lit(40)) === i)
          .select(col("doc_id").cast("long"), col("text"))
          .as[graft.NdDoc].collect()
        val t1 = System.nanoTime()
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        println(f"[scale] stream_pack batch$i (${b.length} docs) " +
          f"${(System.nanoTime() - t1) / 1e9}%.2f s")
        System.out.flush()
      }
      q.stop()
    }
    // Round-9: the full THREE-stage export pipeline (gate → exact fp →
    // near-dup → pack) at rep× — bootstrap curates the replicated corpus
    // (collapses to its DISTINCT contents, so the index builds and
    // tokenizer training are content-sized), then arrival batches of
    // rep×125 docs flow through all three dedup/pack stages. Arrival
    // texts are token-suffixed per batch (novel vs corpus and vs other
    // batches at both exact and shingle level), so the exact stage does
    // the within-batch rep-fold collapse and the near-dup + pack stages
    // carry the distinct survivors — the worst-case dup-density mix.
    // compactEvery=2 puts TWO compactions inside the 6-batch run: the
    // cadence cost (fp + nd index compact + generation save) lands on
    // batches 1/3/5 and is measured per batch.
    if (wanted("xpipe")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val root = java.nio.file.Files.createTempDirectory("sp_xpipe").toString
      val out = java.nio.file.Files.createTempDirectory("sp_xpipe_out").toString
      val t0 = System.nanoTime()
      val h = graft.streaming.ExportPipeline.resume(
        spark, root, docs, "doc_id", "text", nShards = 32L)
      println(f"[scale] xpipe bootstrap (curate ${rep}x corpus + fp/nd " +
        f"index + tokenizer) ${(System.nanoTime() - t0) / 1e9}%.2f s")
      import spark.implicits._
      val in = MemoryStream[graft.NdDoc]
      val q = graft.streaming.ExportPipeline.run(
        in.toDF(), h, "doc_id", "text", out, compactEvery = 2)
      (0 until 6).foreach { i =>
        val b = docs.where(pmod(col("doc_id"), lit(40)) === i)
          .select(col("doc_id").cast("long"),
            concat_ws(" ", expr(
              s"transform(split(text, ' '), x -> concat(x, '_$i'))"))
              .as("text"))
          .as[graft.NdDoc].collect()
        val t1 = System.nanoTime()
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        println(f"[scale] xpipe batch$i (${b.length} docs" +
          f"${if (i % 2 == 1) ", compaction" else ""}) " +
          f"${(System.nanoTime() - t1) / 1e9}%.2f s")
        System.out.flush()
      }
      q.stop()
    }
    // Round-17 (VERDICT r16 item 3): the SAME export pipeline protocol
    // with the UNIGRAM tokenizer family — the family landed in round 16
    // with a streamed≡batch parity spec but no scale measurement. The
    // delta vs the xpipe numbers is the unigram leg's composed cost:
    // Viterbi-kernel encode per pack batch instead of BPE merge-walk,
    // plus the unigram train at bootstrap.
    if (wanted("xpipeu")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val root = java.nio.file.Files.createTempDirectory("sp_xpipeu").toString
      val out = java.nio.file.Files.createTempDirectory("sp_xpipeu_out")
        .toString
      val t0 = System.nanoTime()
      val h = graft.streaming.ExportPipeline.resume(
        spark, root, docs, "doc_id", "text", nShards = 32L,
        tokenizer = "unigram")
      println(f"[scale] xpipeu bootstrap (curate ${rep}x corpus + fp/nd " +
        f"index + unigram train) ${(System.nanoTime() - t0) / 1e9}%.2f s")
      import spark.implicits._
      val in = MemoryStream[graft.NdDoc]
      val q = graft.streaming.ExportPipeline.run(
        in.toDF(), h, "doc_id", "text", out, compactEvery = 2)
      (0 until 6).foreach { i =>
        val b = docs.where(pmod(col("doc_id"), lit(40)) === i)
          .select(col("doc_id").cast("long"),
            concat_ws(" ", expr(
              s"transform(split(text, ' '), x -> concat(x, '_$i'))"))
              .as("text"))
          .as[graft.NdDoc].collect()
        val t1 = System.nanoTime()
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        println(f"[scale] xpipeu batch$i (${b.length} docs" +
          f"${if (i % 2 == 1) ", compaction" else ""}) " +
          f"${(System.nanoTime() - t1) / 1e9}%.2f s")
        System.out.flush()
      }
      q.stop()
    }
    // Round-9: arrival-time takedown at rep× — fp + nd indexes bootstrap
    // from the replicated corpus (content-sized after collapse), then one
    // takedown batch withdraws 100 contents across BOTH families. The
    // interesting costs: the nd content→id resolution (an hs-equality
    // semi join against the docsets) and the keyed tombstone writes —
    // both takedown-sized, never index-rewrites.
    if (wanted("takedown")) {
      import graft.streaming.{FpDedupStream, NearDupStream, TakedownStream}
      val root = java.nio.file.Files.createTempDirectory("sp_td").toString
      var t0 = System.nanoTime()
      val fpState = FpDedupStream.resume(spark, s"$root/fp", docs,
        "doc_id", "text")
      println(f"[scale] takedown fp bootstrap (${rep}x corpus) " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      t0 = System.nanoTime()
      val ndState = NearDupStream.resume(spark, s"$root/nd", docs,
        "doc_id", "text")
      println(f"[scale] takedown nd bootstrap (${rep}x corpus) " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      t0 = System.nanoTime()
      val wnState = graft.streaming.WinnowStream.resume(spark, s"$root/wn",
        docs, "doc_id", "text")
      println(f"[scale] takedown wn bootstrap (${rep}x corpus) " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      val td = TakedownStream.resume(spark, s"$root/td")
      val targets = TakedownStream.Targets(
        fp = Some((fpState, s"$root/fp")), nd = Some((ndState, s"$root/nd")),
        wn = Some((wnState, s"$root/wn")))
      val doomed = docs.where(col("doc_id") < 100)
      val ev = doomed.select(lit("fp").as("family"),
          col("doc_id").as("cid"), col("text"))
        .unionByName(doomed.select(lit("nd").as("family"),
          col("doc_id").as("cid"), col("text")))
        .unionByName(doomed.select(lit("wn").as("family"),
          col("doc_id").as("cid"), col("text")))
      t0 = System.nanoTime()
      TakedownStream.processBatch(td, targets, ev, 0L)
      println(f"[scale] takedown batch (100 contents x 3 families incl " +
        f"wn set-identity resolution) ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // Post-takedown probe cost is unchanged (masks are index-side
      // anti joins of takedown-sized frames).
      t0 = System.nanoTime()
      graft.operators.Dedup.probeNovelExact(fpState.index,
          docs.where(col("doc_id") >= 100 && col("doc_id") < 5100)
            .select((col("doc_id") + 900000000L).as("doc_id"), col("text")),
          "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
      println(f"[scale] takedown post-delete fp probe (5k echoes) " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // Round-10: the FOUR-stage export pipeline (gate → exact fp →
    // near-dup → SUBSTRING gate → pack) at rep× — the xpipe protocol with
    // the boilerplate stage enabled, so the delta vs the xpipe numbers IS
    // the substring stage's additive per-batch cost (its probe + window
    // fold + WAL + its share of the compaction cadence).
    if (wanted("xpipe4")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val root = java.nio.file.Files.createTempDirectory("sp_xp4").toString
      val out = java.nio.file.Files.createTempDirectory("sp_xp4_out").toString
      val t0 = System.nanoTime()
      val h = graft.streaming.ExportPipeline.resume(
        spark, root, docs, "doc_id", "text", nShards = 32L,
        substringGate = true)
      println(f"[scale] xpipe4 bootstrap (curate ${rep}x corpus + " +
        f"fp/nd/ss index + tokenizer) ${(System.nanoTime() - t0) / 1e9}%.2f s")
      import spark.implicits._
      val in = MemoryStream[graft.NdDoc]
      val q = graft.streaming.ExportPipeline.run(
        in.toDF(), h, "doc_id", "text", out, compactEvery = 2)
      (0 until 6).foreach { i =>
        val b = docs.where(pmod(col("doc_id"), lit(40)) === i)
          .select(col("doc_id").cast("long"),
            concat_ws(" ", expr(
              s"transform(split(text, ' '), x -> concat(x, '_$i'))"))
              .as("text"))
          .as[graft.NdDoc].collect()
        val t1 = System.nanoTime()
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        println(f"[scale] xpipe4 batch$i (${b.length} docs" +
          f"${if (i % 2 == 1) ", compaction" else ""}) " +
          f"${(System.nanoTime() - t1) / 1e9}%.2f s")
        System.out.flush()
      }
      q.stop()
      graft.operators.Dedup.releaseSketchCaches()
    }
    // Round-10: export RETRACTION at rep× — build a packed export from
    // the replicated corpus (4 standalone batches), then erase doc sets
    // and measure. The cost contract under test: a retraction prices the
    // AFFECTED SHARDS' suffix (read + reflow + rewrite), never the
    // export; an early-batch doc costs a longer suffix than a late-batch
    // doc of the same shard.
    if (wanted("retract")) {
      import graft.streaming.PackStream
      val root = java.nio.file.Files.createTempDirectory("sp_rt").toString
      val out = java.nio.file.Files.createTempDirectory("sp_rt_out").toString
      var t0 = System.nanoTime()
      val h = PackStream.resume(spark, root, docs, "doc_id", "text",
        nShards = 32L, nMerges = 24, window = 1024)
      println(f"[scale] retract bootstrap (tokenizer on ${rep}x corpus) " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      // Batch split must be independent of the shard split (doc_id % 32),
      // or one shard's whole stream lands in one batch and the suffix
      // scenarios collapse into boundary-dir rewrites.
      val batchOf = pmod(expr("doc_id div 32"), lit(4))
      (0 until 4).foreach { i =>
        val b = docs.where(batchOf === i).select(col("doc_id"), col("text"))
        t0 = System.nanoTime()
        PackStream.processBatch(h, b, i.toLong, "doc_id", "text", out)
        println(f"[scale] retract pack batch$i " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
        System.out.flush()
      }
      def erase(name: String, ids: DataFrame): Unit = {
        val t1 = System.nanoTime()
        val stats = PackStream.retract(spark, h, out, ids,
          requestKey = Some(name))
        println(f"[scale] retract $name ${(System.nanoTime() - t1) / 1e9}%.2f" +
          f" s — $stats")
        System.out.flush()
      }
      // 100 docs of ONE shard, landed in the LAST batch (short suffix).
      erase("late100", docs.where(batchOf === 3 &&
          pmod(col("doc_id"), lit(32)) === 7)
        .select("doc_id").orderBy(desc("doc_id")).limit(100))
      // 100 docs of the same shard from the FIRST batch (long suffix —
      // the worst case for that shard; still 1/32 of the export).
      erase("early100", docs.where(batchOf === 0 &&
          pmod(col("doc_id"), lit(32)) === 7)
        .select("doc_id").orderBy("doc_id").limit(100))
      // 100 docs spread over EVERY shard (breadth instead of depth).
      erase("spread100", docs.where(batchOf === 3)
        .select("doc_id").orderBy(desc("doc_id")).limit(100))
    }
    // Round-10: the RELATIONAL surface at sf1-equivalent row counts —
    // h1-h22 + the w/o/u families once over an FK-CONSISTENT rep×
    // replication of the star schema (per-replica key shifts use each
    // REFERENCED table's own base so joins stay consistent within a
    // replica and never match across; region/nation stay fixed like real
    // TPC-H small dims). No native sf1 exists in this environment;
    // id-shifted replication scales row counts and key cardinalities
    // honestly (what scan/join/agg plans feel) while value distributions
    // repeat — noted where it matters. Run as `ScaleProbe 10 sf1`.
    if (wanted("sf1")) {
      def baseOf(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
      val custN = baseOf("customer").count() * 10
      val suppN = baseOf("supplier").count() * 10
      val partN = baseOf("part").count() * 10
      val ordN = baseOf("orders").count() * 10
      def repTable(t: String, shifts: Map[String, Long]): DataFrame = {
        val b = baseOf(t)
        b.crossJoin(spark.range(rep).select(col("id").as("__r")))
          .select(b.columns.toIndexedSeq.map { c =>
            shifts.get(c) match {
              case Some(base) => (col(c) + col("__r") * lit(base)).as(c)
              case None => col(c)
            }
          }: _*)
      }
      repTable("customer", Map("c_custkey" -> custN))
        .createOrReplaceTempView("customer")
      repTable("supplier", Map("s_suppkey" -> suppN))
        .createOrReplaceTempView("supplier")
      repTable("part", Map("p_partkey" -> partN))
        .createOrReplaceTempView("part")
      repTable("orders", Map("o_orderkey" -> ordN, "o_custkey" -> custN))
        .createOrReplaceTempView("orders")
      repTable("lineitem", Map("l_orderkey" -> ordN, "l_partkey" -> partN,
          "l_suppkey" -> suppN))
        .createOrReplaceTempView("lineitem")
      println(s"[scale] sf1 lineitem rows = " +
        spark.table("lineitem").count())
      val rel = graft.SparkEntry.queries.keys.toSeq.sorted.filter(n =>
        n.matches("h\\d+.*|w\\d+.*|o\\d+.*|u\\d+.*"))
      rel.foreach(n => time(s"sf1 $n") {
        graft.SparkEntry.queries(n)(spark, sfDir)
      })
    }
    // Round-11: ENDURANCE — long-horizon stream footprint. 50 batches of
    // novel content through the fp family at compactEvery=5 (10 full
    // compaction + generational-save cycles), measuring after each batch:
    // committed generation dirs on disk (must stay ≤ 2 — the live one
    // plus one replay-grace), WAL delta dirs (must prune back after each
    // generation save instead of accumulating), bytes on disk (must grow
    // with CONTENT, not with batch count), and per-batch wall clock
    // (must stay flat). Run as `ScaleProbe 1 endurance`.
    if (wanted("endurance")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nB = 50
      val dir = java.nio.file.Files.createTempDirectory("sp_endur").toString
      val t0 = System.nanoTime()
      val st = graft.streaming.FpDedupStream.resume(spark, dir,
        base.where(pmod(col("doc_id"), lit(nB + 1)) === lit(nB)),
        "doc_id", "text")
      println(f"[scale] endurance bootstrap " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      val in = MemoryStream[graft.NdDoc]
      val q = graft.streaming.FpDedupStream.run(in.toDF(), st,
        "doc_id", "text", compactEvery = 5,
        checkpointPath = Some(dir))(k => { k.count(); () })
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      def dirStats(): (Int, Int, Long) = {
        val root = new java.io.File(dir)
        val gens = Option(root.listFiles()).getOrElse(Array.empty)
          .count(f => f.isDirectory && f.getName.matches("g\\d+"))
        val deltas = Option(new java.io.File(s"$dir/delta").listFiles())
          .map(_.count(_.getName.matches("b\\d+"))).getOrElse(0)
        (gens, deltas, du(root))
      }
      var maxGens = 0
      var maxDeltas = 0
      val times = Array.ofDim[Double](nB)
      (0 until nB).foreach { i =>
        // Every batch is NOVEL content (per-batch token suffix) — the
        // worst case for footprint: the index grows every batch.
        val b = base.where(pmod(col("doc_id"), lit(nB + 1)) === lit(i))
          .select(col("doc_id").cast("long").as("doc_id"),
            concat_ws(" ", expr(
              s"transform(split(text, ' '), x -> concat(x, '_e$i'))"))
              .as("text"))
          .as[graft.NdDoc].collect()
        val t1 = System.nanoTime()
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        times(i) = (System.nanoTime() - t1) / 1e9
        val (g, d, bytes) = dirStats()
        maxGens = math.max(maxGens, g); maxDeltas = math.max(maxDeltas, d)
        println(f"[scale] endurance batch$i ${b.length} docs " +
          f"${times(i)}%.2f s gens=$g deltas=$d " +
          f"disk=${bytes / 1024.0 / 1024.0}%.1f MiB")
        System.out.flush()
      }
      q.stop()
      // The bounded-footprint assertions the round-11 punch list asks for.
      val firstTen = times.slice(2, 12).sum / 10
      val lastTen = times.takeRight(10).sum / 10
      println(f"[scale] endurance summary: maxGens=$maxGens (bound 2) " +
        f"maxDeltas=$maxDeltas (bound compactEvery+1) " +
        f"steady-early=$firstTen%.2f s steady-late=$lastTen%.2f s " +
        f"(flat if late/early <= ~1.5)")
      assert(maxGens <= 2, s"generation dirs leaked: $maxGens")
      assert(maxDeltas <= 6, s"WAL deltas not pruning: $maxDeltas")
      graft.operators.Dedup.releaseSketchCaches()
    }
    // Round-11: ND endurance with DRIFT — the fp arm's footprint series on
    // the near-dup family, with arrivals engineered to shift live shingle
    // frequencies (each batch's docs echo bootstrap-corpus word prefixes
    // before their novel suffix), so the rarity-drift probe climbs across
    // compactions and the auto-REBUILD branch fires mid-run. Prints the
    // per-batch drift series (sawtooth: climbs with folds, drops to ~0 at
    // each rebuilt compaction) alongside gens/deltas/disk/wall. Run as
    // `ScaleProbe 1 ndendure`.
    if (wanted("ndendure")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nB = 50
      val dir = java.nio.file.Files.createTempDirectory("sp_ndendur").toString
      val corpus = base.where(pmod(col("doc_id"), lit(nB + 1)) === lit(nB))
      val t0 = System.nanoTime()
      val st = graft.streaming.NearDupStream.resume(spark, dir, corpus,
        "doc_id", "text")
      println(f"[scale] ndendure bootstrap " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      // The drift fuel: every arrival reuses a bootstrap doc's leading
      // words (cycling over the corpus), so those shingles' live document
      // frequency multiplies while the frozen order still ranks them at
      // bootstrap rarity.
      val prefixes = corpus.select(
          expr("concat_ws(' ', slice(split(text, ' '), 1, 8))").as("p"))
        .collect().map(_.getString(0))
      val in = MemoryStream[graft.NdDoc]
      val q = graft.streaming.NearDupStream.run(in.toDF(), st,
        "doc_id", "text", compactEvery = 5,
        checkpointPath = Some(dir))(k => { k.count(); () })
      def du(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
      def dirStats(): (Int, Int, Long) = {
        val root = new java.io.File(dir)
        val gens = Option(root.listFiles()).getOrElse(Array.empty)
          .count(f => f.isDirectory && f.getName.matches("g\\d+"))
        val deltas = Option(new java.io.File(s"$dir/delta").listFiles())
          .map(_.count(_.getName.matches("b\\d+"))).getOrElse(0)
        (gens, deltas, du(root))
      }
      var maxGens = 0
      var maxDeltas = 0
      var rebuilds = 0
      var lastDrift = 0.0
      (0 until nB).foreach { i =>
        val b = base.where(pmod(col("doc_id"), lit(nB + 1)) === lit(i))
          .select(col("doc_id").cast("long").as("doc_id"),
            concat_ws(" ", expr(
              s"transform(split(text, ' '), x -> concat(x, '_n$i'))"))
              .as("text"))
          .as[graft.NdDoc].collect()
          .zipWithIndex.map { case (d, j) =>
            graft.NdDoc(d.doc_id,
              prefixes(j % prefixes.length) + " " + d.text)
          }
        val t1 = System.nanoTime()
        in.addData(b.toIndexedSeq: _*)
        q.processAllAvailable()
        val wall = (System.nanoTime() - t1) / 1e9
        val drift = graft.operators.Dedup.ndRarityDrift(st.index)
        if ((i + 1) % 5 == 0 && drift < lastDrift - 0.05) rebuilds += 1
        lastDrift = drift
        val (g, d, bytes) = dirStats()
        maxGens = math.max(maxGens, g); maxDeltas = math.max(maxDeltas, d)
        println(f"[scale] ndendure batch$i ${b.length} docs $wall%.2f s " +
          f"drift=$drift%.3f gens=$g deltas=$d " +
          f"disk=${bytes / 1024.0 / 1024.0}%.1f MiB")
        System.out.flush()
      }
      q.stop()
      println(f"[scale] ndendure summary: maxGens=$maxGens (bound 2) " +
        f"maxDeltas=$maxDeltas (bound compactEvery+1) rebuilds=$rebuilds " +
        f"(>=1 expected) finalDrift=$lastDrift%.3f")
      assert(maxGens <= 2, s"generation dirs leaked: $maxGens")
      assert(maxDeltas <= 6, s"WAL deltas not pruning: $maxDeltas")
      assert(rebuilds >= 1, "drift never triggered the rebuild branch")
      graft.operators.Dedup.releaseSketchCaches()
    }
    // Round-12: SEM endurance with QUANTIZER DRIFT — the ndendure arm on
    // the embedding family: bootstrap the semantic stream on the real
    // embeddings table (spread vectors → balanced lists), then feed
    // batches CONCENTRATED around one drifted direction (deterministic
    // per-id jitter so a retrained quantizer can split the dense region).
    // Under the frozen quantizer the hot lists grow and
    // Similarity.listImbalance climbs; past the bar the compaction leg
    // auto-escalates to Dedup.rebuildSemIndex, and the series SAWTOOTHS
    // (climb between compactions, drop at rebuilt ones). Run as
    // `ScaleProbe 1 semendure`.
    if (wanted("semendure")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      // The broad-cone drift fixture's max/mean asymptote sits near 7 (the
      // cone's nprobe assignments spread over ~7 lists naturally), so the
      // arm runs with the rebuild bar at 4.0 — the same loop, earlier
      // trigger; the production default (8.0) is a per-corpus calibration
      // exposed as conf.
      spark.conf.set(
        graft.operators.Similarity.ImbalanceRebuildBarKey, "4.0")
      val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val dir = java.nio.file.Files.createTempDirectory("sp_semend").toString
      val t0 = System.nanoTime()
      val st = graft.streaming.SemDedupStream.resume(spark, dir, corpus,
        "doc_id", "embedding", eps = 0.95)
      println(f"[scale] semendure bootstrap " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s imbalance=" +
        f"${graft.operators.Similarity.listImbalance(st.index.assigned)}%.2f")
      val in = MemoryStream[graft.SemDoc]
      val q = graft.streaming.SemDedupStream.run(in.toDF(), st,
        "doc_id", "embedding", compactEvery = 5,
        checkpointPath = Some(dir))(k => { k.count(); () })
      val nB = 45
      val dim = 64
      var peak = 0.0
      var last = 0.0
      var rebuilds = 0
      (0 until nB).foreach { i =>
        val b = (0 until 300).map { j =>
          val id = 1000000L + i * 1000L + j
          // Drift = a BROAD (~53°) cone: a common component over dims
          // 40-47 plus full-strength distinct jitter on every dim. The
          // frozen quantizer funnels the cone into its few nearest
          // lists; a retrain — which trains on DISTINCT unit vectors,
          // deliberately copy-blind — bisects the cone into local
          // sub-centroids (trainCentroids' balance refinement) and both
          // primary and secondary (nprobe) assignments re-spread. (A
          // NARROW cone — tighter than the quantizer can resolve — or
          // exact copies are UNsplittable by ANY spherical quantizer:
          // there the imbalance is a content property, the sem
          // saturation regime, and SemOps latches rebuilds off after one
          // ineffective attempt.)
          def u(d: Int): Double =
            ((id * 2654435761L + d * 40503L) % 1009L) / 1009.0 - 0.5
          val v = (0 until dim).map(d =>
            (if (d >= 40 && d < 48) 1.0 else 0.0) + u(d))
          graft.SemDoc(id, v)
        }
        val t1 = System.nanoTime()
        in.addData(b: _*)
        q.processAllAvailable()
        val wall = (System.nanoTime() - t1) / 1e9
        // Raw rows AND probed representatives (round 13): u(d) depends
        // only on id mod 1009, so this drift stream turns EXACT-COPY-heavy
        // after ~4 batches (~1009 distinct cone vectors total) — the
        // identical-vector collapse absorbs that at every compaction, so
        // the REP imbalance (what the rebuild decision reads, and what the
        // probe scans) stays flat while raw rows pile up: the self-heal
        // signature, with flat per-batch cost and zero retrains. The
        // distinct-vector drift sawtooth (rebuild fires, imbalance drops,
        // nlist grows) is QuantizerDriftSpec (and the retired
        // SemLoopRebuildProbe, BENCH_NOTES "Retired probes").
        val imb = graft.operators.Similarity.listImbalance(st.index.assigned)
        val repImb = graft.operators.Similarity.listImbalance(
          st.index.assigned.where(col("rep")))
        if (repImb < last - 0.5) rebuilds += 1
        peak = math.max(peak, repImb)
        last = repImb
        println(f"[scale] semendure batch$i ${b.length} vecs $wall%.2f s " +
          f"rawImbalance=$imb%.2f repImbalance=$repImb%.2f")
        System.out.flush()
      }
      q.stop()
      println(f"[scale] semendure summary: repPeak=$peak%.2f " +
        f"repFinal=$last%.2f effectiveRebuilds=" + rebuilds + " (bar 4.0)")
      spark.conf.unset(graft.operators.Similarity.ImbalanceRebuildBarKey)
      // The ASSERTABLE contract is the loop's mechanics, not imbalance
      // restoration: whether a rebuild RESTORES balance is content-
      // geometry-dependent (QuantizerDriftSpec pins the effective cases;
      // a clustered multi-assign corpus can be content-shaped, where the
      // ineffective-rebuild latch stops the thrash — both outcomes print
      // above and the run must stay exception-free with flat per-batch
      // cost either way).
      graft.operators.Dedup.releaseSketchCaches()
    }
    // Round-11: d18 (simhash kept-set fold) vs d4 (raw pair list) on the
    // DUP-DENSE fixture the composition exists for — rep× replicated docs
    // give every content rep copies, so d4's output carries C(rep,2) pairs
    // per cluster while d18 collapses to distinct-content size before the
    // pair search. Run as `ScaleProbe 10 simfold`.
    if (wanted("simfold")) {
      time("simfold d4 raw pairs (dup-dense)") {
        graft.SparkEntry.queries("d4_dedup_simhash")(spark, sfDir)
      }
      time("simfold d18 kept-set fold (dup-dense)") {
        graft.SparkEntry.queries("d18_dedup_simhash_fold")(spark, sfDir)
      }
    }
    // Round-11: prefix-saturation reading for the documents table at this
    // SF_DIR — validates the detector against the measured d10 wall-clock
    // blowup (saturation ∝ corpus on this fixture → quadratic join). Run
    // as `SPARK_GRAFT_SF_DIR=... ScaleProbe 1 saturation`.
    if (wanted("saturation")) {
      val docsT = spark.read.parquet(s"$sfDir/documents.parquet")
      val idx = graft.operators.Dedup.buildNearDupIndex(
        docsT, "doc_id", "text")
      println(f"[scale] saturation sfDir=$sfDir docs=${docsT.count()} " +
        f"candidatesPerProbeDoc=${graft.operators.Dedup.ndPrefixSaturation(idx)}%.0f")
      graft.operators.Dedup.releaseSketchCaches()
    }
    // Round-11: the relational surface on NATIVE-cardinality data (SfGen
    // output — no replication caveat: value distributions are native, not
    // repeated). Point SPARK_GRAFT_SF_DIR at a generated dir and run
    //   sbt "Test/runMain graft.tools.SfGen 1.0 /tmp/graft_sf1"
    //   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "Test/runMain \
    //     graft.tools.ScaleProbe 1 relnative"
    if (wanted("relnative")) {
      val rel = graft.SparkEntry.queries.keys.toSeq.sorted.filter(n =>
        n.matches("h\\d+.*|w\\d+.*|o\\d+.*|u\\d+.*"))
      rel.foreach(n => time(s"relnative $n") {
        graft.SparkEntry.queries(n)(spark, sfDir)
      })
    }
    // Round-8: serving-index deletion lifecycle at rep× vectors — delete a
    // takedown slice from the saved IVF layout, probe through the mask,
    // compact (applies the tombstones physically), probe again.
    if (wanted("ivfdelete")) {
      import graft.operators.Similarity
      val baseEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val nEmb = baseEmb.count()
      val ecorpus = baseEmb
        .crossJoin(spark.range(rep).select(col("id").as("__r")))
        .select((col("vec_id") + col("__r") * lit(nEmb * 10)).as("vec_id"),
          col("embedding"))
        .cache()
      println(s"[scale] embeddings x$rep = ${ecorpus.count()} vectors")
      val queries = baseEmb.where(col("vec_id") < 10)
      val dir = java.nio.file.Files.createTempDirectory("sp_ivfdel").toString
      time("ivfdelete s9 build+save IVF index") {
        Similarity.saveIvfIndex(
          Similarity.buildIvfIndex(ecorpus, "vec_id", "embedding"), dir)
        spark.emptyDataFrame
      }
      time("ivfdelete s9 tombstone delete (1/17 of corpus)") {
        Similarity.deleteFromIvfIndex(spark, dir,
          ecorpus.where(col("vec_id") % 17 === 0).select("vec_id"), "vec_id")
        spark.emptyDataFrame
      }
      time("ivfdelete s9 probe through the tombstone mask") {
        Similarity.ivfProbe(Similarity.loadIvfIndex(spark, dir), queries,
          "vec_id", "embedding", 5)
      }
      time("ivfdelete s9 compact (applies deletes physically)") {
        Similarity.compactIvfIndex(spark, dir)
        spark.emptyDataFrame
      }
      time("ivfdelete s9 probe post-compaction") {
        Similarity.ivfProbe(Similarity.loadIvfIndex(spark, dir), queries,
          "vec_id", "embedding", 5)
      }
    }
    // Round-14: identical-vector collapse on the SERVING IVF index — the
    // sem family's probe-cost win measured on the saved-artifact path.
    // rep× replication keeps vec_ids distinct but repeats every VECTOR
    // rep times (a re-posted-embeddings corpus); compaction collapses each
    // group to one scored rep row, the probe fans scores back out. Run as
    // `ScaleProbe 40 ivfflood`.
    if (wanted("ivfflood")) {
      import graft.operators.Similarity
      val baseEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val nEmb = baseEmb.count()
      val ecorpus = baseEmb
        .crossJoin(spark.range(rep).select(col("id").as("__r")))
        .select((col("vec_id") + col("__r") * lit(nEmb * 10)).as("vec_id"),
          col("embedding"))
        .cache()
      println(s"[scale] ivfflood vectors=${ecorpus.count()} " +
        s"($rep exact copies per distinct)")
      val queries = baseEmb.where(col("vec_id") < 50)
      val dir = java.nio.file.Files.createTempDirectory("sp_ivffl").toString
      Similarity.saveIvfIndex(
        Similarity.buildIvfIndex(ecorpus, "vec_id", "embedding"), dir)
      time("ivfflood probe UNCOLLAPSED (every copy scored)") {
        Similarity.ivfProbe(Similarity.loadIvfIndex(spark, dir), queries,
          "vec_id", "embedding", 10)
      }
      val collapsed = Similarity.compactIvfIndex(spark, dir)
      val rows = collapsed.assigned.count()
      val reps = collapsed.assigned
        .where(col("cid") === col("repid")).count()
      println(s"[scale] ivfflood rows=$rows scoredReps=$reps " +
        f"(${rows.toDouble / math.max(1L, reps)}%.1fx fewer distance rows)")
      time("ivfflood probe COLLAPSED (reps scored, scores fanned out)") {
        Similarity.ivfProbe(collapsed, queries, "vec_id", "embedding", 10)
      }
    }
    // Round-14: the landed-export compaction cadence stays FLAT as batches
    // accumulate — each sweep lists the root once (names only) and
    // rewrites only the batch dirs landed since the handle's high-water
    // mark, never the years of already-compacted history. Run as
    // `ScaleProbe 1 packcompact`.
    if (wanted("packcompact")) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).limit(500).cache()
      base.count()
      val dir = java.nio.file.Files.createTempDirectory("sp_pkc").toString
      val out = java.nio.file.Files.createTempDirectory("sp_pkco").toString
      val h = graft.streaming.PackStream.resume(spark, dir, base,
        "doc_id", "text", nShards = 8L, nMerges = 16, window = 512)
      val nB = 40
      val sweeps = new Array[Double](nB)
      (0 until nB).foreach { i =>
        val b = base.select((col("doc_id") + lit(1000000L * (i + 1)))
          .as("doc_id"), col("text"))
        val eff = graft.streaming.PackStream.processBatch(h, b, i.toLong,
          "doc_id", "text", out)
        // Every 4th batch, fragment the just-landed leaves (4 content-
        // identical files each — the retraction-rewrite/backfill regime)
        // so the sweeps do real rewrite work, not just listing.
        if (i % 4 == 0)
          Option(new java.io.File(s"$out/b$eff").listFiles())
            .getOrElse(Array())
            .filter(d => d.isDirectory && d.getName.startsWith("sh="))
            .foreach { sh =>
              val tmp = sh.getPath + ".fragtmp"
              spark.read.parquet(sh.getPath).repartition(4)
                .write.parquet(tmp)
              sh.listFiles().filter(f => f.isFile &&
                !f.getName.startsWith(".") && !f.getName.startsWith("_"))
                .foreach(f => require(f.delete()))
              new java.io.File(tmp).listFiles()
                .filter(f => f.isFile && f.getName.endsWith(".parquet"))
                .zipWithIndex.foreach { case (f, k) =>
                  java.nio.file.Files.move(f.toPath,
                    new java.io.File(sh, s"frag-$k.parquet").toPath)
                }
              org.apache.commons.io.FileUtils.deleteDirectory(
                new java.io.File(tmp))
            }
        val t1 = System.nanoTime()
        val st = graft.streaming.PackStream.compactPacks(spark, h, out,
          upTo = eff)
        sweeps(i) = (System.nanoTime() - t1) / 1e9
        if (i % 4 == 0 || i == nB - 1)
          println(f"[scale] packcompact batch$i sweep=${sweeps(i)}%.2f s " +
            s"$st")
      }
      def visibleFiles(d: java.io.File): Long =
        Option(d.listFiles()).getOrElse(Array()).map { f =>
          if (f.isFile)
            if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
            else 1L
          else visibleFiles(f)
        }.sum
      val early = sweeps.slice(1, 6).sum / 5
      val late = sweeps.slice(nB - 5, nB).sum / 5
      println(f"[scale] packcompact summary: sweep early=$early%.2f s " +
        f"late=$late%.2f s (flat expected) files=" +
        visibleFiles(new java.io.File(out)) +
        s" over $nB batches x 8 shards")
      assert(late < math.max(0.5, early * 3),
        f"per-sweep cost must stay flat as batches accumulate: " +
          f"early=$early%.2f late=$late%.2f")
    }

    // The packcompact workload under the MANIFEST commit (round 15) —
    // prices the one-file-commit swap against the rename swap on the same
    // fragmented-leaf regime (extra per-leaf cost: per-part move-ins, a
    // small manifest write, per-file deletes instead of one dir delete)
    // and closes with a readCompacted-vs-plain-read equality check over
    // the whole landed layout. `ScaleProbe 1 packmanifest`.
    if (wanted("packmanifest")) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")).limit(500).cache()
      base.count()
      val dir = java.nio.file.Files.createTempDirectory("sp_pkm").toString
      val out = java.nio.file.Files.createTempDirectory("sp_pkmo").toString
      val h = graft.streaming.PackStream.resume(spark, dir, base,
        "doc_id", "text", nShards = 8L, nMerges = 16, window = 512)
      val nB = 40
      val sweeps = new Array[Double](nB)
      (0 until nB).foreach { i =>
        val b = base.select((col("doc_id") + lit(1000000L * (i + 1)))
          .as("doc_id"), col("text"))
        val eff = graft.streaming.PackStream.processBatch(h, b, i.toLong,
          "doc_id", "text", out)
        if (i % 4 == 0)
          Option(new java.io.File(s"$out/b$eff").listFiles())
            .getOrElse(Array())
            .filter(d => d.isDirectory && d.getName.startsWith("sh="))
            .foreach { sh =>
              val tmp = sh.getPath + ".fragtmp"
              spark.read.parquet(sh.getPath).repartition(4)
                .write.parquet(tmp)
              sh.listFiles().filter(f => f.isFile &&
                !f.getName.startsWith(".") && !f.getName.startsWith("_"))
                .foreach(f => require(f.delete()))
              new java.io.File(tmp).listFiles()
                .filter(f => f.isFile && f.getName.endsWith(".parquet"))
                .zipWithIndex.foreach { case (f, k) =>
                  java.nio.file.Files.move(f.toPath,
                    new java.io.File(sh, s"frag-$k.parquet").toPath)
                }
              org.apache.commons.io.FileUtils.deleteDirectory(
                new java.io.File(tmp))
            }
        val t1 = System.nanoTime()
        val st = graft.streaming.PackStream.compactPacks(spark, h, out,
          upTo = eff, commit = "manifest")
        sweeps(i) = (System.nanoTime() - t1) / 1e9
        if (i % 4 == 0 || i == nB - 1)
          println(f"[scale] packmanifest batch$i sweep=${sweeps(i)}%.2f s " +
            s"$st")
      }
      val early = sweeps.slice(1, 6).sum / 5
      val late = sweeps.slice(nB - 5, nB).sum / 5
      val plain = spark.read.option("recursiveFileLookup", "true")
        .parquet(out).count()
      val resolved = graft.sources.Sink.readCompacted(spark, out).count()
      println(f"[scale] packmanifest summary: sweep early=$early%.2f s " +
        f"late=$late%.2f s (flat expected) rows plain=$plain " +
        f"resolved=$resolved over $nB batches x 8 shards")
      assert(late < math.max(0.5, early * 3),
        f"manifest-commit sweeps must stay flat: early=$early%.2f " +
          f"late=$late%.2f")
      assert(plain == resolved,
        "at rest, plain and manifest-resolved reads must agree")
    }
    spark.stop()
  }
}
