package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity, TextOps}

/** Unit semantics of the pipeline operators on tiny hand-checkable inputs. */
class OperatorsSpec extends SparkSpecBase {


  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different words entirely unrelated here now"),
      (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("wordShingles: bigrams, distinct, safe on short docs") {
    import spark.implicits._
    val out = Seq(Tuple1("a b c"), Tuple1("x")).toDF("text")
      .select(TextOps.wordShingles(col("text"), 2).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(out(0) == Set("a b", "b c"))
    assert(out(1) == Set.empty)
  }

  test("exact dedup groups identical docs") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 3)
    val dupGroup = out.find(_.getAs[Long]("keep_id") == 1L).get
    assert(dupGroup.getAs[Long]("n_copies") == 2L)
  }

  test("minhashLsh finds the near-dup and exact-dup pairs, not the distinct doc") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0, always caught
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard verification values are exact") {
    val j = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .where(col("a_id") === 1 && col("b_id") === 4)
      .select("jaccard").head().getDouble(0)
    assert(j == 1.0)
  }

  test("simhash: identical docs collide, distinct docs don't (hamming 0)") {
    val pairs = Dedup.simhash(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0L))
    assert(!pairs.exists(p => (p._1, p._2) == (1L, 3L)))
  }

  test("hammingPairs hot-bucket split ≡ plain self-join (pair set, order, hamming)") {
    import spark.implicits._
    // ids 1..60 share chunk values in THREE of the four 16-bit chunks
    // (low chunk 0x2A, top two chunks 0) → three hot buckets once
    // blockRows drops to 8; 100/101 are an identical pair living in its
    // own small buckets. maxHamming=64 keeps every candidate, so the
    // comparison covers the full pair set, not just close pairs.
    val sigs = ((1L to 60L).map(i => (i, (i << 16) | 0x2AL)) ++
      Seq((100L, 0x1234567812345678L), (101L, 0x1234567812345678L)))
      .toDF("id", "sim")
    def longPairs(): Set[(Long, Long, Long)] =
      Dedup.hammingPairs(sigs, 64).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.conf.set(Dedup.HammingBlockRowsKey, Int.MaxValue.toString)
    val plain = try longPairs()
      finally spark.conf.unset(Dedup.HammingBlockRowsKey)
    spark.conf.set(Dedup.HammingBlockRowsKey, "8")
    val split = try longPairs()
      finally spark.conf.unset(Dedup.HammingBlockRowsKey)
    assert(plain.nonEmpty, "fixture must produce pairs")
    assert(split == plain, "block-split pair set must match the plain join")
    assert(split.forall(p => p._1 < p._2), "a_id < b_id ordering")
    assert(split.contains((100L, 101L, 0L)), "identical pair at hamming 0")

    // String ids: the split's least/greatest must reproduce the join
    // path's UTF-8 `<` orientation.
    val ssigs = sigs.select(concat(lit("doc-"), col("id")).as("id"), col("sim"))
    def strPairs(): Set[(String, String, Long)] =
      Dedup.hammingPairs(ssigs, 64).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    spark.conf.set(Dedup.HammingBlockRowsKey, Int.MaxValue.toString)
    val plainS = try strPairs()
      finally spark.conf.unset(Dedup.HammingBlockRowsKey)
    spark.conf.set(Dedup.HammingBlockRowsKey, "8")
    val splitS = try strPairs()
      finally spark.conf.unset(Dedup.HammingBlockRowsKey)
    assert(splitS == plainS, "string-id split must match the plain join")

    // Cap semantics through the census route: dropping the hot buckets
    // (cap 30 < 60) keeps only pairs that share a SURVIVING chunk — the
    // identical 100/101 pair does; the 1..60 family pairs collide only
    // in the three degenerate buckets and must vanish.
    spark.conf.set(Dedup.HammingBlockRowsKey, "8")
    val capped = try {
      Dedup.hammingPairs(sigs, 64, maxBucket = 30).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally spark.conf.unset(Dedup.HammingBlockRowsKey)
    assert(capped.contains((100L, 101L, 0L)))
    assert(!capped.exists(p => p._1 <= 60L && p._2 <= 60L),
      "pairs colliding only in over-cap buckets must be dropped")
  }

  test("cosine: hand-checked values") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)), // identical → 1
      (2L, Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)), // orthogonal → 0
      (3L, Seq(1.0f, 1.0f), Seq(1.0f, 0.0f))  // 45° → √2/2
    ).toDF("id", "a", "b")
    val got = df.select(col("id"),
      Similarity.cosine(Similarity.toDoubleVec(col("a")),
        Similarity.toDoubleVec(col("b"))).as("c"))
      .orderBy("id").collect().map(_.getDouble(1))
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) - math.sqrt(2) / 2) < 1e-12)
  }

  test("bruteTopK returns k best-ranked neighbors") {
    import spark.implicits._
    val q = Seq((100L, Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Seq(
      (1L, Seq(1.0f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.9f, 0.0f, 0.1f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteTopK(q, c, "vec_id", "embedding", 2)
      .orderBy("rnk").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 3L)) // cos: 1→.995, 3→.994, 2→0, 4→-1
  }

  test("bruteTopK preserves non-numeric ids (no long cast)") {
    import spark.implicits._
    val q = Seq(("query-a", Seq(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Seq(
      ("doc-1", Seq(1.0f, 0.1f, 0.0f)),
      ("doc-2", Seq(0.0f, 1.0f, 0.0f)),
      ("doc-3", Seq(0.9f, 0.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.bruteTopK(q, c, "vec_id", "embedding", 2)
    assert(r.schema("cid").dataType.typeName == "string")
    assert(r.orderBy("rnk").collect().map(_.getString(1)).toSeq ==
      Seq("doc-1", "doc-3"))
  }

  test("cosinePairsBlocked preserves non-numeric ids; pairs order lexically") {
    import spark.implicits._
    val e = Seq(
      ("u-b", Seq(1.0f, 0.0f)),
      ("u-a", Seq(1.0f, 0.01f)),
      ("u-c", Seq(0.0f, 1.0f))
    ).toDF("doc_id", "embedding")
    val got = Similarity.cosinePairsBlocked(e, "doc_id", "embedding", 0.9)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("u-a", "u-b")))
  }

  test("zero-norm vectors don't crash or pollute top-k (excluded as NULL)") {
    import spark.implicits._
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // Zero vectors have no direction: under ANSI mode a plain 0/0 divide
    // would abort the whole query; try_divide scores them NULL and the
    // ranking excludes them — same answer on every partitioning.
    val c = Seq(
      (10L, Seq(0.0f, 0.0f)),
      (11L, Seq(0.0f, 0.0f)),
      (12L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    (1 to 4).foreach { parts =>
      val got = Similarity.bruteTopK(q, c.repartition(parts), "vec_id",
        "embedding", 2).orderBy("rnk").collect().map(_.getLong(1)).toSeq
      assert(got == Seq(12L), s"partitions=$parts")
    }
  }

  test("ivfTopK: valid ranked output with good recall vs brute force") {
    import spark.implicits._
    // Deterministic clustered corpus: 4 well-separated direction clusters
    // in 8-d, 50 points each; queries are near cluster centers.
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array(1.0, 0, 0, 0, 0, 0, 0, 0), Array(0, 1.0, 0, 0, 0, 0, 0, 0),
      Array(0, 0, 1.0, 0, 0, 0, 0, 0), Array(0, 0, 0, 1.0, 0, 0, 0, 0))
    val corpus = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong + 100, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = (0 until 4).map { i =>
      (i.toLong, centers(i).map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")

    val brute = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 2, trainCap = 200)
      .select("qid", "cid", "rnk").collect()
    // Shape: ≤ k ranked rows per query, rnk contiguous from 1.
    val byQ = ivf.groupBy(_.getLong(0))
    assert(byQ.size == 4)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1 to rows.length).map(_.toLong))
    }
    // Recall@5 vs exact ≥ 80% on well-clustered data.
    val hits = ivf.map(r => (r.getLong(0), r.getLong(1))).count(brute.contains)
    assert(hits >= (brute.size * 0.8).toInt,
      s"IVF recall too low: $hits of ${brute.size}")

    // nlist <= 0: the √n auto-rule (clamped to ≥ 16) still yields valid
    // ranked output — √200 ≈ 14 clamps to 16 lists here.
    val auto = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding", 5,
        nlist = 0, nprobe = 4, trainCap = 200)
      .select("qid", "cid", "rnk").collect()
    assert(auto.groupBy(_.getLong(0)).size == 4 && auto.nonEmpty)
  }

  test("pqTopK: valid ranked output with high recall after exact re-rank") {
    // Real embeddings table: 10 queries vs the remaining corpus, the same
    // split as the s5 query. The exact re-rank of the PQ top-(k·4) should
    // recover nearly all of brute force's top-5.
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val corpus = emb.where(col("vec_id") >= 10)
    val brute = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("qid", "cid", "rnk").collect()
    val byQ = pq.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(2)).sorted.toSeq ==
        (1 to rows.length).map(_.toLong))
    }
    val hits = pq.map(r => (r.getLong(0), r.getLong(1))).count(brute.contains)
    assert(hits >= (brute.size * 0.8).toInt,
      s"PQ recall too low: $hits of ${brute.size}")
  }

  test("pqTopK: ragged dims (dim % m != 0) still encode and rank") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 10-d vectors with m=3 → subspace widths 3/3/4.
    val corpus = (0 until 120).map { i =>
      (i.toLong + 100, Seq.fill(10)((rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = (0 until 3).map { i =>
      (i.toLong, Seq.fill(10)((rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(queries, corpus, "vec_id", "embedding", 4,
        m = 3, ksub = 8, trainCap = 120)
      .select("qid", "cid", "rnk").collect()
    assert(out.groupBy(_.getLong(0)).size == 3)
    assert(out.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 4))
  }

  test("pqTopK: constant subspace (ragged ksub) pads to uniform codebooks") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // With m=2 over 8 dims, subspace 0 (dims 0-3) is CONSTANT → k-means
    // trains a single centroid there while subspace 1 trains up to ksub.
    // Without uniform padding the flat LUT stride (ksub = cb(0).length = 1)
    // would write subspace 1's entries past its segment — crash or silent
    // score corruption. Padded, recall matches the gaussian case.
    def vec() = (Seq(1.0, 2.0, 3.0, 4.0) ++
      Seq.fill(4)(rnd.nextGaussian())).map(_.toFloat)
    val corpus = (0 until 150).map(i => (i.toLong + 100, vec()))
      .toDF("vec_id", "embedding")
    val queries = (0 until 3).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding")
    val brute = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 3)
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(queries, corpus, "vec_id", "embedding", 3,
        m = 2, ksub = 8, trainCap = 150)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.length == 9)
    val hits = pq.count(brute.contains)
    assert(hits >= (brute.size * 0.8).toInt,
      s"PQ recall too low with padded codebooks: $hits of ${brute.size}")
  }

  test("IVF index: saved + loaded probe returns exactly the inline top-k") {
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val corpus = emb.where(col("vec_id") >= 10)
    val inline = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"), dir)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val probe = Similarity.ivfProbe(loaded, queries, "vec_id", "embedding", 5)
    val probed = probe.select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == inline)
    assert(probed.nonEmpty)

    // The probe-list filter partition-prunes the hive-partitioned lists:
    // the scan reads only the probed lists' directories. (AQE wraps the
    // executed plan in a leaf node; plan statically for the traversal.)
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = Similarity.ivfProbe(loaded, queries, "vec_id", "embedding", 5)
        .queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
        }
      assert(scans.nonEmpty, "probe plan lost the partitioned list scan")
      assert(scans.head.partitionFilters.nonEmpty,
        "probe-list filter did not reach the partitioned scan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
  }

  test("PQ index: saved + loaded probe returns exactly the inline top-k") {
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val corpus = emb.where(col("vec_id") >= 10)
    val inline = Similarity.pqTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    Similarity.savePqIndex(
      Similarity.buildPqIndex(corpus, "vec_id", "embedding"), dir)
    val loaded = Similarity.loadPqIndex(spark, dir)
    val probed = Similarity
      .pqProbe(loaded, queries, corpus, "vec_id", "embedding", 5)
      .select("qid", "cid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probed == inline)
    assert(probed.nonEmpty)
  }

  test("IVF index extension: frozen-quantizer add finds new and old vectors") {
    val emb = spark.table("embeddings")
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 400)
    val arrivals = emb.where(col("vec_id") >= 400)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfext").toString
    val built = Similarity.buildIvfIndex(corpus, "vec_id", "embedding")
    Similarity.saveIvfIndex(built, dir)

    // In-memory extension and on-disk append agree with each other.
    val extended = Similarity.extendIvfIndex(
      Similarity.loadIvfIndex(spark, dir), arrivals, "vec_id", "embedding")
    val appended = Similarity.appendIvfIndex(spark, dir, arrivals,
      "vec_id", "embedding")
    assert(appended.centroids == built.centroids,
      "append must not move the quantizer")
    // Querying an arrival by its own vector: top-1 is itself (cos 1), on
    // both the extended and the appended index; an old corpus vector
    // queried against either still finds itself too.
    val qNew = arrivals.limit(3)
    val qOld = corpus.limit(3)
    for (idx <- Seq(extended, appended); q <- Seq(qNew, qOld)) {
      val top1 = Similarity.ivfProbe(idx, q, "vec_id", "embedding", 1)
        .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(top1.nonEmpty && top1.forall { case (a, b) => a == b },
        s"self-query must rank itself first, got ${top1.toSeq}")
    }
    // The append landed INSIDE the partitioned layout (new part-files in
    // list directories, no new top-level dirs).
    val lists = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(lists.forall(_.startsWith("list=")))
  }

  test("PQ index extension: frozen codebooks encode arrivals findably") {
    val emb = spark.table("embeddings")
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 400)
      .select("vec_id", "embedding")
    val arrivals = emb.where(col("vec_id") >= 400)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    val all = corpus.union(arrivals)
    val dir = java.nio.file.Files.createTempDirectory("pqext").toString
    val built = Similarity.buildPqIndex(corpus, "vec_id", "embedding")
    Similarity.savePqIndex(built, dir)
    val appended = Similarity.appendPqIndex(spark, dir, arrivals,
      "vec_id", "embedding")
    assert(appended.codebooks == built.codebooks,
      "append must not retrain the codebooks")
    assert(appended.codes.count() == all.count())
    val qNew = arrivals.limit(3)
    val top1 = Similarity.pqProbe(appended, qNew, all, "vec_id", "embedding", 1)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top1.nonEmpty && top1.forall { case (a, b) => a == b },
      s"self-query must rank itself first, got ${top1.toSeq}")
  }

  test("ivfCosinePairs: exact-precision subset of blocked pairs, good recall") {
    val emb = spark.table("embeddings")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val exact = Similarity
      .cosinePairsBlocked(emb, "vec_id", "embedding", 0.4)
      .collect().map(key).toSet
    val approx = Similarity
      .ivfCosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(key)
    // Precision is EXACT by construction: every candidate is verified with
    // the same cosine the blocked operator computes, so (a, b, cos_sim)
    // triples must be a subset.
    val extras = approx.filterNot(exact.contains)
    assert(extras.isEmpty, s"non-exact pairs emitted: ${extras.take(3).toSeq}")
    // Recall: multi-assignment (nprobe=2) should catch most exact pairs.
    assert(approx.length >= (exact.size * 0.8).toInt,
      s"IVF pair recall too low: ${approx.length} of ${exact.size}")
  }

  test("ivfCosinePairs: blocked within-list grid ≡ exact grid at nlist=1, " +
      "string ids keep UTF-8 pair order") {
    // The round-17 kernel swap (row-per-pair list self-join → per-list
    // blocked grid) must be invisible in the output. nlist=1 puts every
    // vector in ONE list, so the within-list pairs are exactly the full
    // grid — (a_id, b_id, cos_sim) triples must match cosinePairsBlocked
    // bit-for-bit (same sequential-IEEE dot, same rounding).
    val emb = spark.table("embeddings")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val grid = Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", 0.4)
      .collect().map(key).toSet
    val oneList = Similarity
      .ivfCosinePairs(emb, "vec_id", "embedding", 0.4, nlist = 1, nprobe = 1)
      .collect().map(key).toSet
    assert(oneList == grid,
      s"nlist=1 blocked-list pairs diverge from the exact grid: " +
        s"extra=${(oneList -- grid).take(3)} missing=${(grid -- oneList).take(3)}")
    // String ids route through the UTF-8 pair ordering — orientation must
    // match the long path's numeric order on zero-padded encodings.
    val sEmb = emb.selectExpr(
      "lpad(cast(vec_id as string), 6, '0') as vec_id", "embedding")
    val sPairs = Similarity
      .ivfCosinePairs(sEmb, "vec_id", "embedding", 0.4, nlist = 1, nprobe = 1)
      .collect()
      .map(r => (r.getString(0).toLong, r.getString(1).toLong, r.getDouble(2)))
      .toSet
    assert(sPairs == grid, "string-id pair orientation diverges")
  }

  test("blocked cosine on ragged vectors ≡ the join routes, both orientations") {
    import spark.implicits._
    // Lengths 2..5 over 80 vectors, so every grid has block pairs where the
    // longer vector sits on either side; every route dots over the
    // shorter length.
    val emb = (1L to 80L).map { i =>
      (i, Seq.tabulate(2 + (i % 4).toInt)(k => (1 + (i * 7 + k * 13) % 10).toFloat))
    }.toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val join = Similarity.cosinePairs(emb, "vec_id", "embedding", 0.5)
      .collect().map(key).toSet
    assert(join.nonEmpty)
    assert(Similarity.cosinePairsBlocked(emb, "vec_id", "embedding", 0.5)
      .collect().map(key).toSet == join)
    def ivf() = Similarity
      .ivfCosinePairs(emb, "vec_id", "embedding", 0.5, nlist = 1, nprobe = 1)
      .collect().map(key).toSet
    val joinRoute = ivf()
    val key0 = "spark.graft.similarity.pairJoinFloor"
    spark.conf.set(key0, "0") // 80 rows > 0: the per-list grid
    val gridRoute = try ivf() finally spark.conf.unset(key0)
    assert(joinRoute == join)
    assert(gridRoute == joinRoute)
  }

  test("exactJaccard: blocked grid ≡ prefix-filter route, with and " +
      "without identical-set groups") {
    def rows(corpus: org.apache.spark.sql.DataFrame, maxAllPairsDocs: Long,
        collapseFloor: Long) =
      Dedup.exactJaccard(corpus, "doc_id", "text",
          maxAllPairsDocs = maxAllPairsDocs, collapseFloor = collapseFloor)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // The documents table has identical-set groups (pairs at jaccard 1.0);
    // dropping the b side of each such pair leaves a corpus with none.
    val grouped = spark.table("documents")
    val copies = rows(grouped, 8192, 8192).collect { case (_, b, 1.0) => b }
    assert(copies.nonEmpty)
    val distinct = grouped.where(!col("doc_id").isin(copies.toSeq: _*))
    for ((name, corpus, hasGroups) <- Seq(("grouped", grouped, true),
        ("distinct", distinct, false)); floor <- Seq(8192L, 0L)) {
      val grid = rows(corpus, 8192, floor)
      val prefix = rows(corpus, 0, floor)
      assert(grid.nonEmpty, s"$name floor=$floor")
      assert(grid.exists(_._3 == 1.0) == hasGroups, s"$name floor=$floor")
      assert(grid == prefix, s"$name floor=$floor: " +
        s"grid-only=${(grid -- prefix).take(3)} prefix-only=${(prefix -- grid).take(3)}")
    }
  }

  test("lshTopK: dim inferred from the corpus; explicit mismatch throws") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val corpus = (0 until 30).map(i =>
      (i.toLong + 100, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // No dim passed: inferred (8) from the corpus — valid ranked output.
    val ok = Similarity.lshTopK(queries, corpus, "vec_id", "embedding", 3,
      groups = 2, bitsPerGroup = 2)
    assert(ok.select("rnk").collect().map(_.getLong(0)).forall(_ <= 3))
    // A wrong explicit dim fails loudly instead of silently truncating
    // every dot product to min(len).
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(queries, corpus, "vec_id", "embedding", 3, dim = 64)
    }
    assert(e.getMessage.contains("does not match"))
  }

  test("asof join: latest at-or-before match per key, null when none") {
    import spark.implicits._
    val left = Seq((1L, 10L, "L10"), (1L, 20L, "L20"), (2L, 5L, "L5"),
      (3L, 7L, "L7")).toDF("k", "t", "lv")
    val right = Seq((1L, 8L, "R8"), (1L, 15L, "R15"), (1L, 20L, "R20"),
      (2L, 6L, "R6")).toDF("k", "t", "rv")
    val got = graft.operators.AsOf.join(left, right, Seq("k"), "t", "t",
        Seq("rv"))
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(3)))).toSeq
    assert(got == Seq(
      (1L, 10L, Some("R8")),   // 8 ≤ 10 < 15
      (1L, 20L, Some("R20")),  // equal timestamp matches (inclusive)
      (2L, 5L, None),          // right row is later (6 > 5)
      (3L, 7L, None)))         // key absent on the right
  }

  test("range join: exact boundary semantics across chunk borders") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val points = Seq((1L, ts(100)), (2L, ts(3600)), (3L, ts(3700)),
      (4L, ts(7200))).toDF("pid", "pt")
    // Interval [100, 3700): spans two 3600s chunks; point at 3700 excluded
    // (end-exclusive), point at 100 included (start-inclusive).
    val intervals = Seq((10L, ts(100), ts(3700))).toDF("iid", "s", "e")
    val got = graft.operators.RangeJoin.pointInInterval(
        points, intervals, "pt", "s", "e", chunkSeconds = 3600L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L)))
  }

  test("i5: readOwn policy duality on the oracle record — bulk artifacts " +
      "quarantine a truncated part (counted, rows exact), gate index " +
      "layers fail loudly through the d-family load") {
    val out = SparkEntry.queries("i5_own_read_policy_counts")(spark, sfDir)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(rows == Map(
      "bulk_rows_quarantined" -> 1000L,
      "bulk_loud_when_quarantine_off" -> 1L,
      "gate_clean_probe_ok" -> 1L,
      "gate_poisoned_fails_loud" -> 1L), s"got $rows")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("leakage-safe split: no near-dup cluster straddles train/eval") {
    val out = SparkEntry.queries("x5_leakage_safe_split")(spark, sfDir)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // The split is a function of the component, so every cluster lands
    // whole on one side — the property that makes the split leakage-safe.
    rows.groupBy(_._2).foreach { case (compId, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $compId straddles the split")
    }
    // Both sides are non-empty and multi-doc clusters exist in the fixture
    // (otherwise the property is vacuous).
    assert(rows.map(_._3).distinct.sorted.toSeq == Seq("eval", "train"))
    assert(rows.groupBy(_._2).exists(_._2.length > 1),
      "fixture has no multi-doc near-dup cluster")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("components: 1000-link chain converges within the log-round budget") {
    import spark.implicits._
    // A single 1000-edge path graph: graph diameter 1000, so plain
    // min-label propagation could NOT converge in 20 rounds — the
    // alternating large-star/small-star contraction must (O(log n)).
    // localEdgeCap = 0 forces the distributed path.
    val chain = (0 until 1000).map(i => (i.toLong, i.toLong + 1))
      .toDF("a_id", "b_id")
    val out = graft.operators.Dedup
      .components(chain, "a_id", "b_id", maxIter = 20, localEdgeCap = 0)
      .collect()
    assert(out.length == 1001)
    assert(out.forall(_.getLong(1) == 0L),
      "chain did not contract to a single component rooted at 0")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("components: both paths resolve transitive clusters") {
    import spark.implicits._
    // Chain 20-21-22-23 needs >1 round: label must propagate end to end.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("a_id", "b_id")
    val expectedComp = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L)
    // Default: small edge list → driver union-find path.
    val comp = graft.operators.Dedup.components(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == expectedComp)
    // localEdgeCap = 0 forces the distributed label-propagation path; both
    // paths must agree exactly.
    val compDist = graft.operators.Dedup
      .components(pairs, "a_id", "b_id", maxIter = 10, localEdgeCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compDist == expectedComp)

    val docs = (1L to 25L).map(Tuple1(_)).toDF("doc_id")
    val kept = graft.operators.Dedup
      .keepRepresentatives(docs, "doc_id", pairs, "a_id", "b_id")
      .collect().map(_.getLong(0)).toSet
    // Representatives 1/10/20 survive; other cluster members drop;
    // singletons (4..9, 12..19, 24, 25) survive.
    val expected = (1L to 25L).toSet -- Set(2L, 3L, 11L, 21L, 22L, 23L)
    assert(kept == expected)

    // Empty pair list (no duplicates found): every doc survives.
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val keptAll = graft.operators.Dedup
      .keepRepresentatives(docs, "doc_id", none, "a_id", "b_id")
      .count()
    assert(keptAll == 25L)
  }

  test("decodeBatched: codec sees fixed-size batches, rows map 1:1") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val docs = (1 to 150).map(i => (i.toLong, "x" * i)).toDF("doc_id", "text")
    val payloads = graft.operators.Multimodal.withPayload(docs, "doc_id", "text")
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("batches")
    val out = graft.operators.Multimodal.decodeBatched(
        payloads.repartition(1), batchSize = 64,
        codec = { batch =>
          batchSizes.add(batch.length)
          batch.map(b => (b.length.toLong, b.head & 0xff, b.last & 0xff))
        })
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1:1 rows, correct values.
    assert(out.size == 150 && (1 to 150).forall(i => out(i.toLong) == i.toLong))
    // One partition of 150 rows at batchSize 64 → batches of 64, 64, 22.
    assert(batchSizes.value.asScala.toSeq.sorted == Seq(22, 64, 64))
  }

  test("PII redaction: emails, phones, IPs, card runs tagged; counts audit") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Seq(
      (1L, "contact jane.doe+x@example.co.uk or call +1 (415) 555-0132 now"),
      (2L, "server at 10.0.42.7 charged card 4111111111111111 yesterday"),
      (3L, "no pii in this row at all"),
      (4L, ""),
      (5L, "rankings for 2019 2020 2021 stay intact"), // prose, not a phone
      (6L, "dial 415-555-0132 today"),
      (7L, "the 2020-21 season, pp. 1234-56, all prose"), // two-group dashes
      (8L, "call (415) 555 0132 or card 4111-1111-1111-1111")
    ).toDF("id", "text")
    val out = docs.select($"id", TextOps.redactPii($"text").as("red"),
        TextOps.piiMatchCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 == "contact <EMAIL> or call <PHONE> now")
    assert(out(1L)._2 == 2L)
    assert(out(2L)._1 == "server at <IP> charged card <NUMBER> yesterday")
    assert(out(2L)._2 == 2L)
    assert(out(3L) == ("no pii in this row at all", 0L))
    assert(out(4L) == ("", 0L))
    assert(out(5L) == ("rankings for 2019 2020 2021 stay intact", 0L))
    assert(out(6L) == ("dial <PHONE> today", 1L))
    assert(out(7L) == ("the 2020-21 season, pp. 1234-56, all prose", 0L))
    assert(out(8L) == ("call <PHONE> or card <PHONE>", 2L))
    // The fused single-pass kernel (piiScrub) is byte-identical to the
    // composed redact + count columns — on the fixtures AND on real
    // corpus text with the t21 synthetic PII suffix.
    val fused = docs.select($"id", TextOps.piiScrub($"text").as("s"))
      .select($"id", $"s.redacted", $"s.matches")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(fused == out)
    val corpus = spark.table("documents").select(col("doc_id"),
      concat(col("text"), lit(" mail a@b.io ip 1.2.3.4 card "),
        (lit(4111111111111000L) + col("doc_id") % 1000).cast("string"))
        .as("text"))
    val composed = corpus.select(col("doc_id"),
        TextOps.redactPii(col("text")).as("r"),
        TextOps.piiMatchCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val kernel = corpus.select(col("doc_id"), TextOps.piiScrub(col("text")).as("s"))
      .select(col("doc_id"), col("s.redacted"), col("s.matches"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(kernel == composed && kernel.nonEmpty)
  }

  test("salted and hot-split joins match the plain join exactly") {
    import spark.implicits._
    // Heavy skew: key 1 holds 80% of left rows.
    val left = ((1 to 400).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => ((i % 7 + 2).toLong, i.toLong + 1000)))
      .toDF("k", "lv")
    val right = (1 to 9).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    val expected = left.join(right, Seq("k"))
      .orderBy("k", "lv").collect().toSeq

    val salted = graft.operators.Skew.saltedJoin(left, right, Seq("k"), n = 4)
      .orderBy("k", "lv").collect().toSeq
    assert(salted == expected)

    val split = graft.operators.Skew.hotSplitJoin(left, right, Seq("k"),
        minCount = 100L)
      .orderBy("k", "lv").collect().toSeq
    assert(split == expected)
    // The hot path really is a broadcast join.
    val plan = graft.operators.Skew.hotSplitJoin(left, right, Seq("k"), 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("lshTopK: valid ranked output with good recall vs brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array(1.0, 0, 0, 0, 0, 0, 0, 0), Array(0, 1.0, 0, 0, 0, 0, 0, 0),
      Array(0, 0, 1.0, 0, 0, 0, 0, 0), Array(0, 0, 0, 1.0, 0, 0, 0, 0))
    val corpus = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong + 100, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = (0 until 4).map { i =>
      (i.toLong, centers(i).map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")

    val brute = Similarity.bruteTopK(queries, corpus, "vec_id", "embedding", 5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(queries, corpus, "vec_id", "embedding", 5,
        dim = 8, groups = 8, bitsPerGroup = 2)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val hits = lsh.count(brute.contains)
    assert(hits >= (brute.size * 0.8).toInt,
      s"LSH recall too low: $hits of ${brute.size}")
  }

  test("langId is deterministic and favors the matching profile") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "el gato es un animal que vive en la casa")
    ).toDF("id", "text")
    val got = df.select(col("id"), TextOps.langId(col("text")).as("l"))
      .orderBy("id").collect().map(_.getString(1))
    assert(got(0) == "en")
    assert(got(1) == "es")
  }

  test("perceptual hash: identical payloads collide, local edit stays near, distinct far") {
    import spark.implicits._
    val base = ("x" * 40) + ("y" * 40) + ("z" * 40) + ("w" * 40)
    val df = Seq(
      (1L, base),
      (2L, base),                                  // identical → hamming 0
      (3L, base.updated(5, 'q').toString),         // one-byte edit → near
      (4L, scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).alphanumeric.take(160).mkString)
    ).toDF("doc_id", "text")
    val payloads = Multimodal.withPayload(df, "doc_id", "text")
    val pairs = Multimodal.perceptualNearDups(payloads, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L, "identical payloads must be hamming 0")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "a one-byte edit must stay within the hamming budget")
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated random payload must not pair")
    Dedup.releaseSketchCaches()
  }

  test("frameOverlap: shared aligned frames pair, boilerplate frames capped") {
    import spark.implicits._
    val b1 = "0123456789abcdef" // 16 bytes = one frame at frameBytes=16
    val b2 = "ghijklmnopqrstuv"
    val df = Seq(
      (1L, b1 + b2 + "tail-one-xyzzzzz"), // frames: b1, b2, tail
      (2L, b1 + b2 + "tail-two-qqqqqqq"), // shares 2 aligned frames w/ 1
      (3L, "completely different content here"),
      // 4/5 share ONE aligned frame only — below minShared=2.
      (4L, b1 + "AAAAAAAAAAAAAAAA"),
      (5L, b1 + "BBBBBBBBBBBBBBBB")
    ).toDF("doc_id", "text")
    val pairs = Multimodal.frameOverlap(
        Multimodal.withPayload(df, "doc_id", "text"),
        frameBytes = 16, minShared = 2, maxFreq = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs == Map((1L, 2L) -> 2L))
    // With maxFreq=1 the shared block frame (present in docs 1,2,4,5)
    // is boilerplate-capped away and nothing pairs.
    assert(Multimodal.frameOverlap(
      Multimodal.withPayload(df, "doc_id", "text"),
      frameBytes = 16, minShared = 1, maxFreq = 1).isEmpty)
  }

  test("payloadDedup: copies collapse past the freq cap, near-dups cluster, kept-set linear") {
    import spark.implicits._
    val b1 = "0123456789abcdef"
    val b2 = "ghijklmnopqrstuv"
    // Docs 1..4 are IDENTICAL — 4 copies of one content; doc 10 shares two
    // aligned frames with them (near-dup); 20 is unrelated; 30/31 another
    // identical pair. maxFreq=3 would cap the copies' own frames away in
    // the RAW pair query (4 copies > 3) — the collapse makes frequency
    // count per distinct content, so the near-dup pair still forms and the
    // copies still fold.
    val df = Seq(
      (1L, b1 + b2 + "tail-one-xyzzzzz"), (2L, b1 + b2 + "tail-one-xyzzzzz"),
      (3L, b1 + b2 + "tail-one-xyzzzzz"), (4L, b1 + b2 + "tail-one-xyzzzzz"),
      (10L, b1 + b2 + "tail-two-qqqqqqq"),
      (20L, "completely different content here"),
      (30L, "same pair content 30-31 aaaaaaaa"),
      (31L, "same pair content 30-31 aaaaaaaa")
    ).toDF("doc_id", "text")
    val kept = Multimodal.payloadDedup(
        Multimodal.withPayload(df, "doc_id", "text"))(
        Multimodal.frameOverlap(_, frameBytes = 16, minShared = 2,
          maxFreq = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kept == Map(1L -> 1L, 20L -> 20L, 30L -> 30L),
      s"kept-set: $kept")
    // Raw pairs on the same fixture DO lose the capped cluster (the
    // semantic gap the collapse closes) — while the 2-copy 30/31 pair,
    // under the cap, still forms.
    val raw = Multimodal.frameOverlap(
        Multimodal.withPayload(df, "doc_id", "text"),
        frameBytes = 16, minShared = 2, maxFreq = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(raw == Set((30L, 31L)),
      s"freq cap at 3 must drop the 4-copy cluster's raw pairs, keep 30/31: $raw")
    Dedup.releaseSketchCaches()
  }

  test("payloadDedup over perceptual hash: every twin folds into its original") {
    val docs = spark.table("documents")
      .where(length(col("text")) >= 64).select("doc_id", "text")
    val twins = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("concat(substring(text, 1, 28), repeat('#', 8), " +
        "substring(text, 37))").as("text"))
    val nTwins = twins.count()
    val kept = Multimodal.payloadDedup(
        Multimodal.withPayload(docs.union(twins), "doc_id", "text"))(
        Multimodal.perceptualNearDups(_, maxHamming = 6))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // aHash is locality-sensitive, not exact: an 8-char overwrite moves
    // some payloads past hamming 6 (the hash-family recall contract, same
    // as m6's pair spec) — so the property is a recall FLOOR, not totality.
    val twinSurvivors = kept.count(_._1 >= 1000000L)
    assert(twinSurvivors <= 0.4 * nTwins,
      s"$twinSurvivors of $nTwins twins survived — fold recall under 60%")
    // Every captured twin folded into its ORIGINAL's component (min id =
    // the original, ids below 1000000), never a twin-labeled cluster.
    assert(kept.forall { case (id, comp) => comp == id },
      "kept rows must be their own component representative")
    val keptOriginals = kept.count(_._1 < 1000000L)
    assert(keptOriginals > 0 && keptOriginals <= docs.count(),
      "kept originals bounded by the original corpus")
    Dedup.releaseSketchCaches()
  }

  test("decodeBatched: batch size never changes the output (memory = one batch)") {
    val payloads = Multimodal.withPayload(
      spark.table("documents").select("doc_id", "text"), "doc_id", "text")
    def run(bs: Int) = Multimodal.decodeBatched(payloads, batchSize = bs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3))).toSet
    val ref = run(64)
    // 1 = degenerate per-row batches; 7 = batches straddle partition
    // boundaries unevenly; 100000 = one batch per partition. The codec
    // contract (rows come back 1:1 per batch) makes all equivalent — the
    // knob trades per-call overhead against peak memory, never output.
    assert(run(1) == ref && run(7) == ref && run(100000) == ref)
  }

  test("decodeImageBatched: real PNG round-trip, poisoned payload costs one row") {
    import spark.implicits._
    // Two real synthesized PNGs plus one payload that is NOT an image —
    // the poisoned row must emit the sentinel, not fail the task.
    val pngs = Multimodal.syntheticPngPayloads(
      Seq(7L, 8L).toDF("doc_id"), "doc_id", w = 4, h = 2)
    val poison = Seq((99L, "not a png at all".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val out = Multimodal.decodeImageBatched(
        pngs.select("doc_id", "content").unionByName(poison), batchSize = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    def sumR(d: Long) = (for (y <- 0 until 2; x <- 0 until 4)
      yield (d * 31 + x * 7 + y * 13) % 256).sum
    assert(out(7L) == ((4, 2, sumR(7L))))
    assert(out(8L) == ((4, 2, sumR(8L))))
    assert(out(99L) == ((-1, -1, 0L)), "undecodable payload must emit the sentinel")
  }

  test("decodeImageFeatures: real decode fills the retired stub's slot") {
    import spark.implicits._
    val pngs = Multimodal.syntheticPngPayloads(
      Seq(3L).toDF("doc_id"), "doc_id", w = 4, h = 2)
    val poison = Seq((99L, "junk".getBytes("UTF-8"))).toDF("doc_id", "content")
    val out = Multimodal.decodeImageFeatures(
        pngs.select("doc_id", "content").unionByName(poison))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val px = for (y <- 0 until 2; x <- 0 until 4)
      yield ((3L * 31 + x * 7 + y * 13) % 256, (3L * 17 + x * 11 + y * 3) % 256,
        (3L * 29 + x * 5 + y * 19) % 256)
    assert(out(3L) == Seq(4L, 2L, px.map(_._1).sum, px.map(_._2).sum,
      px.map(_._3).sum, px.map(_._1).max, px.map(_._2).max, px.map(_._3).max))
    assert(out(99L) == Seq.fill(8)(-1L), "undecodable payload → 8×(-1) sentinel")
  }

  test("decodeAudioBatched: real WAV round-trip, poisoned payload costs one row") {
    import spark.implicits._
    val wavs = Multimodal.syntheticWavPayloads(
      Seq(5L, 6L).toDF("doc_id"), "doc_id", nSamples = 32, sampleRate = 4000)
    // The WAV payload really is a RIFF container, not raw PCM.
    val head = wavs.select("content").head().getAs[Array[Byte]](0)
    assert(new String(head.take(4), "US-ASCII") == "RIFF" &&
      new String(head.slice(8, 12), "US-ASCII") == "WAVE")
    val poison = Seq((99L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val out = Multimodal.decodeAudioBatched(
        wavs.select("doc_id", "content").unionByName(poison), batchSize = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    def stats(d: Long) = {
      val s = (0 until 32).map(i => Math.floorMod(d * 31 + i * 7, 4096L) - 2048L)
      (4000, 1, 32L, s.sum, s.max)
    }
    assert(out(5L) == stats(5L))
    assert(out(6L) == stats(6L))
    assert(out(99L) == ((-1, -1, 0L, 0L, 0L)),
      "unparseable payload must emit the sentinel")
  }

  test("audio samples + frame overlap: twins pair through the real codec") {
    import spark.implicits._
    val docs = Seq(5L, 6L).toDF("doc_id")
    val origs = Multimodal.syntheticWavPayloads(docs, "doc_id",
      nSamples = 128)
    val twins = Multimodal.syntheticWavPayloads(
      docs.select((col("doc_id") + 100L).as("doc_id"),
        col("doc_id").as("seed")),
      "doc_id", nSamples = 192, seedCol = "seed")
    val payloads = origs.select("doc_id", "content")
      .unionByName(twins.select("doc_id", "content"))
    // Decoded samples match the synthesis formula exactly (lossless PCM).
    val samples = Multimodal.decodeAudioSamples(payloads)
    val s5 = samples.where(col("doc_id") === 5L)
      .head().getSeq[Int](1)
    assert(s5 == (0 until 128).map(i =>
      (Math.floorMod(5L * 31 + i * 7, 4096L) - 2048L).toInt))
    // A twin shares its original's 128 leading samples: all 4 of the
    // original's 32-sample frames coincide; cross-seed docs share none.
    val pairs = Multimodal.audioFrameOverlap(samples, frameSamples = 32,
        minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((5L, 105L, 4L), (6L, 106L, 4L)))
    // Unparseable payload → empty array, one row, job alive.
    val junk = Seq((9L, "junk".getBytes("UTF-8"))).toDF("doc_id", "content")
    assert(Multimodal.decodeAudioSamples(junk).head().getSeq[Int](1).isEmpty)
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("decodeVideoBatched: real multi-page TIFF demux, poisoned payload costs one row") {
    import spark.implicits._
    val vids = Multimodal.syntheticTiffPayloads(
      Seq(7L, 8L).toDF("doc_id"), "doc_id", nFrames = 3, w = 4, h = 2)
    // The payload really is a TIFF container (little- or big-endian magic).
    val head = vids.select("content").head().getAs[Array[Byte]](0).take(4)
    assert(head.sameElements(Array[Byte]('I', 'I', 42, 0)) ||
      head.sameElements(Array[Byte]('M', 'M', 0, 42)))
    val poison = Seq((99L, "not a tiff".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val out = Multimodal.decodeVideoBatched(
        vids.select("doc_id", "content").unionByName(poison), batchSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    def sums(d: Long, f: Int) = {
      val px = for (y <- 0 until 2; x <- 0 until 4)
        yield ((d * 31 + f * 41 + x * 7 + y * 13) % 256,
          (d * 17 + f * 23 + x * 11 + y * 3) % 256,
          (d * 29 + f * 37 + x * 5 + y * 19) % 256)
      (4, 2, px.map(_._1).sum, px.map(_._2).sum, px.map(_._3).sum)
    }
    // One row per (doc, frame): 2 docs × 3 frames + 1 sentinel.
    assert(out.size == 7)
    for (d <- Seq(7L, 8L); f <- 0 until 3)
      assert(out((d, f.toLong)) == sums(d, f), s"frame ($d, $f)")
    assert(out((99L, -1L)) == ((-1, -1, 0L, 0L, 0L)),
      "undecodable payload must emit one sentinel frame row")
  }

  test("video frame fps + overlap: twins pair through the real container codec") {
    import spark.implicits._
    val docs = Seq(5L, 6L).toDF("doc_id")
    val origs = Multimodal.syntheticTiffPayloads(docs, "doc_id", nFrames = 4)
    val twins = Multimodal.syntheticTiffPayloads(
      docs.select((col("doc_id") + 100L).as("doc_id"),
        col("doc_id").as("seed")),
      "doc_id", nFrames = 6, seedCol = "seed")
    val fps = Multimodal.videoFrameFps(origs.select("doc_id", "content")
      .unionByName(twins.select("doc_id", "content")))
    // Decoded-frame fingerprints match the formula exactly (lossless TIFF):
    // recompute frame 2 of doc 5's canonical pixel string driver-side.
    val want = {
      val s = (for (y <- 0 until 8; x <- 0 until 8) yield Seq(
        (5L * 31 + 2 * 41 + x * 7 + y * 13) % 256,
        (5L * 17 + 2 * 23 + x * 11 + y * 3) % 256,
        (5L * 29 + 2 * 37 + x * 5 + y * 19) % 256)).flatten.mkString(",")
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    assert(fps.where(col("doc_id") === 5L && col("frame_idx") === 2L)
      .head().getString(2) == want)
    // A twin shares its original's 4 leading frames; cross-seed docs none.
    val pairs = Multimodal.videoFrameOverlap(fps, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((5L, 105L, 4L), (6L, 106L, 4L)))
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("IVF compaction: one file per list, probe identical, appends continue") {
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id") < 5)
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 300)
    val dir = java.nio.file.Files.createTempDirectory("ivfcomp").toString
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"), dir)
    // Three appended micro-batches fragment the list directories.
    for (lo <- Seq(300, 350, 400)) {
      Similarity.appendIvfIndex(spark, dir,
        emb.where(col("vec_id") >= lo && col("vec_id") < lo + 50)
          .select((col("vec_id") + 5000L).as("vec_id"), col("embedding")),
        "vec_id", "embedding")
    }
    def probe() = Similarity
      .ivfProbe(Similarity.loadIvfIndex(spark, dir), queries,
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    def partFiles(d: String) = {
      val root = new java.io.File(d)
      root.listFiles().filter(_.isDirectory).map(ld =>
        ld.getName -> ld.listFiles().count(_.getName.endsWith(".parquet")))
    }
    val before = probe()
    assert(partFiles(s"$dir/lists").exists(_._2 > 1),
      "appends should have fragmented at least one list")
    val compacted = Similarity.compactIvfIndex(spark, dir)
    assert(new java.io.File(s"$dir/lists_g0/_SUCCESS").exists())
    assert(partFiles(s"$dir/lists_g0").forall(_._2 == 1),
      "compaction must leave exactly one file per list")
    // Reader grace: the source directory survives this compaction.
    assert(new java.io.File(s"$dir/lists").exists())
    assert(probe() == before, "compaction must not change probe results")
    assert(compacted.assigned.count() == corpus.count() + 150)
    // Appends land in the new generation; a second compaction folds them
    // and prunes the original directory (grace expired).
    Similarity.appendIvfIndex(spark, dir,
      emb.where(col("vec_id") >= 450 && col("vec_id") < 460)
        .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val afterAppend = probe()
    Similarity.compactIvfIndex(spark, dir)
    assert(!new java.io.File(s"$dir/lists").exists(),
      "second compaction prunes the two-generations-old directory")
    assert(Similarity.loadIvfIndex(spark, dir).assigned.count() ==
      corpus.count() + 160)
    assert(probe() == afterAppend)
  }

  test("PQ compaction: file count bounded, probe identical") {
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id") < 5)
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 300)
    val all = emb.where(col("vec_id") >= 10 && col("vec_id") < 400)
    val dir = java.nio.file.Files.createTempDirectory("pqcomp").toString
    Similarity.savePqIndex(
      Similarity.buildPqIndex(corpus, "vec_id", "embedding"), dir)
    for (lo <- Seq(300, 350)) {
      Similarity.appendPqIndex(spark, dir,
        emb.where(col("vec_id") >= lo && col("vec_id") < lo + 50),
        "vec_id", "embedding")
    }
    def probe() = Similarity
      .pqProbe(Similarity.loadPqIndex(spark, dir), queries, all,
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    def files(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = probe()
    val fragmented = files(s"$dir/codes")
    val compacted = Similarity.compactPqIndex(spark, dir)
    assert(files(s"$dir/codes_g0") < fragmented &&
      files(s"$dir/codes_g0") >= 1,
      "compaction must shrink the part-file count")
    assert(probe() == before, "compaction must not change probe results")
    assert(compacted.codes.count() == all.count())
  }

  test("IVF tombstone delete: masked at load, applied at compaction, " +
      "retired one cycle later") {
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id") < 5)
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 300)
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toString
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"), dir)
    val doomed = Seq(20L, 40L, 60L, 80L, 111L)
    val full = Similarity.loadIvfIndex(spark, dir)

    def assignedIds(idx: Similarity.IvfIndex): Set[Long] =
      idx.assigned.select("cid").collect().map(_.getLong(0)).toSet
    def probe(idx: Similarity.IvfIndex) = Similarity
      .ivfProbe(idx, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    def tombFiles() = {
      val d = new java.io.File(s"$dir/tombstones")
      if (!d.exists()) Array.empty[String]
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    }

    // Delete = an appended tombstone delta; the lists on disk are untouched
    // but the reloaded index masks the ids.
    val masked = Similarity.deleteFromIvfIndex(spark, dir,
      emb.where(col("vec_id").isin(doomed.map(Long.box): _*))
        .select("vec_id"), "vec_id")
    assert(assignedIds(masked) == assignedIds(full) -- doomed)
    val expected = probe(masked)
    assert(expected.nonEmpty && !expected.exists(t => doomed.contains(t._2)))
    assert(tombFiles().nonEmpty, "delete must write a tombstone delta")

    // Partition pruning survives the tombstone anti join: the probe-list
    // filter still reaches the partitioned scan below it.
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = Similarity
        .ivfProbe(masked, queries, "vec_id", "embedding", 5)
        .queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.contains("lists")) => f
        }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "probe-list pruning must survive the tombstone mask")
    } finally spark.conf.set("spark.sql.adaptive.enabled", savedAqe)

    // Compaction applies the delete PHYSICALLY into the new generation —
    // the doomed rows are gone from the files, not just masked — while the
    // applied tombstone files stay one cycle for in-flight reader grace.
    val compacted = Similarity.compactIvfIndex(spark, dir)
    assert(compacted.assigned.count() == corpus.count() - doomed.size)
    assert(spark.read.parquet(s"$dir/lists_g0")
      .where(col("cid").isin(doomed.map(Long.box): _*)).count() == 0,
      "compaction must drop tombstoned rows from the rewritten lists")
    assert(tombFiles().nonEmpty,
      "applied tombstones get one cycle of reader grace")
    assert(new java.io.File(s"$dir/tombstones/_applied").exists())
    assert(probe(compacted) == expected)

    // A cycle later the applied tombstones are physically retired.
    Similarity.compactIvfIndex(spark, dir)
    assert(tombFiles().isEmpty, "second compaction retires applied tombstones")
    assert(probe(Similarity.loadIvfIndex(spark, dir)) == expected)

    // Contract: a re-appended deleted id only sticks once its tombstone is
    // retired — appended now (post-retirement) it resurfaces.
    Similarity.appendIvfIndex(spark, dir,
      emb.where(col("vec_id") === 20L), "vec_id", "embedding")
    assert(assignedIds(Similarity.loadIvfIndex(spark, dir)).contains(20L))
  }

  test("corrupt tombstone part FAILS the IVF read loudly — the footer " +
      "quarantine must never count an erasure out (a silently skipped " +
      "tombstone UN-ERASES withdrawn ids, permanently once compaction " +
      "folds it)") {
    val emb = spark.table("embeddings")
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 200)
    val dir = java.nio.file.Files.createTempDirectory("ivftc").toString
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding"), dir)
    Similarity.deleteFromIvfIndex(spark, dir,
      emb.where(col("vec_id").isin(20L, 40L)).select("vec_id"), "vec_id")
    // The store truncates the tombstone part after commit.
    val tomb = new java.io.File(s"$dir/tombstones").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(tomb.toPath)
    java.nio.file.Files.write(tomb.toPath, bytes.take(bytes.length / 2))
    // Both the serving read and the compaction (which would make the
    // un-erasure PERMANENT in the rewritten generation) must fail, not
    // resurrect ids 20/40. The bulk lists stay quarantine-readable —
    // only the tombstone leg is integrity-first.
    intercept[Exception] {
      Similarity.loadIvfIndex(spark, dir).assigned.count()
    }
    intercept[Exception] { Similarity.compactIvfIndex(spark, dir) }
  }

  test("PQ tombstone delete: masked at load, applied at compaction") {
    val emb = spark.table("embeddings")
    val queries = emb.where(col("vec_id") < 5)
    val corpus = emb.where(col("vec_id") >= 10 && col("vec_id") < 300)
    val dir = java.nio.file.Files.createTempDirectory("pqdel").toString
    Similarity.savePqIndex(
      Similarity.buildPqIndex(corpus, "vec_id", "embedding"), dir)
    val doomed = Seq(25L, 50L, 75L)
    def probe(idx: Similarity.PqIndex) = Similarity
      .pqProbe(idx, queries, corpus, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet

    val masked = Similarity.deleteFromPqIndex(spark, dir,
      emb.where(col("vec_id").isin(doomed.map(Long.box): _*))
        .select("vec_id"), "vec_id")
    assert(masked.codes.count() == corpus.count() - doomed.size)
    val expected = probe(masked)
    assert(expected.nonEmpty && !expected.exists(t => doomed.contains(t._2)))

    val compacted = Similarity.compactPqIndex(spark, dir)
    assert(compacted.codes.count() == corpus.count() - doomed.size)
    assert(spark.read.parquet(s"$dir/codes_g0")
      .where(col("cid").isin(doomed.map(Long.box): _*)).count() == 0)
    assert(probe(compacted) == expected)
    Similarity.compactPqIndex(spark, dir)
    assert(probe(Similarity.loadPqIndex(spark, dir)) == expected)
  }

  test("multimodal: payload meta + frame sampling shapes") {
    val p = Multimodal.withPayload(docs, "doc_id", "text")
    val meta = p.where(col("doc_id") === 1).select("meta.n_bytes").head().getLong(0)
    assert(meta == "the quick brown fox jumps over the lazy dog".length)
    val frames = Multimodal.sampleFrames(p, 10)
      .where(col("doc_id") === 1).count()
    assert(frames == math.ceil(43.0 / 10).toLong)
    // Real feature extractor on a NON-image payload (text bytes): the
    // poisoned-payload contract — an 8×(-1) sentinel row, not a failed job.
    val feats = Multimodal.decodeImageFeatures(p)
      .select("features").head().getSeq[Long](0)
    assert(feats.length == 8 && feats.forall(_ == -1L))
  }

  test("resizeImageBatched: block-average downsample survives the " +
      "encode→decode round trip; non-image payloads emit the sentinel") {
    import spark.implicits._
    val src = Multimodal.syntheticPngPayloads(
      Seq(0L, 1L, 7L, 40L).toDF("doc_id"), "doc_id")
    val got = Multimodal.resizeImageBatched(src, factor = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // Expected straight from the pixel formula: 2×2 target, each pixel the
    // floor-mean of its 4×4 source block, per channel.
    def chan(d: Long, x: Int, y: Int, a: Long, bx: Long, by: Long): Int =
      Math.floorMod(d * a + x * bx + y * by, 256L).toInt
    for (d <- Seq(0L, 1L, 7L, 40L)) {
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (bx <- 0 until 2; by <- 0 until 2) {
        var (ar, ag, ab) = (0, 0, 0)
        for (dx <- 0 until 4; dy <- 0 until 4) {
          ar += chan(d, bx * 4 + dx, by * 4 + dy, 31, 7, 13)
          ag += chan(d, bx * 4 + dx, by * 4 + dy, 17, 11, 3)
          ab += chan(d, bx * 4 + dx, by * 4 + dy, 29, 5, 19)
        }
        sr += ar / 16; sg += ag / 16; sb += ab / 16
      }
      assert(got(d) == ((2, 2, sr, sg, sb)), s"doc $d")
    }
    // Non-image payload → sentinel row, job survives.
    val bad = Multimodal.resizeImageBatched(
      Multimodal.withPayload(docs, "doc_id", "text"), factor = 4)
    assert(bad.where(col("width") === -1).count() == bad.count())
  }

  test("winnow: guarantee — shared substring ≥ w+k−1 ⇒ shared fingerprint") {
    import spark.implicits._
    val k = 8; val w = 4
    // Docs 1/2 share a 40-char passage (≥ w+k−1 = 11); doc 3 shares nothing.
    val shared = "this exact passage is copied in both docs"
    val df = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"zzz $shared qqq unrelated trailer text"),
      (3L, "no overlap at all with anything else here")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        graft.functions.GraftFunctions.winnow(col("text"), k, w).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)
    // Sorted distinct output.
    val f1 = df.where(col("doc_id") === 1)
      .select(graft.functions.GraftFunctions.winnow(col("text"), k, w))
      .head().getSeq[Long](0)
    assert(f1 == f1.sorted && f1.distinct == f1)
    // Short docs (< k bytes) → empty set, not error.
    val short = Seq(Tuple1("tiny")).toDF("text")
      .select(graft.functions.GraftFunctions.winnow(col("text"), k, w))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("rollingHashes is winnow's pre-selection sequence: coverage holds") {
    import spark.implicits._
    val k = 8; val w = 4
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "aaaaaaaaaaaaaaaaaaaaaaaa", // degenerate: all k-grams identical
      "short", // < k bytes → both empty
      "exactly8") // == k bytes → one hash, one fingerprint
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), length(col("text")).as("len"),
        graft.functions.GraftFunctions.winnow(col("text"), k, w).as("fps"),
        graft.functions.GraftFunctions.rollingHashes(col("text"), k).as("hs"))
      .collect()
    rows.foreach { r =>
      val len = r.getInt(1)
      val fps = r.getSeq[Long](2).toSet
      val hs = r.getSeq[Long](3)
      assert(hs.length == math.max(0, len - k + 1))
      // Selected fingerprints come from the sequence, and every w-window's
      // min is selected (short non-empty docs: the global min).
      assert(fps.subsetOf(hs.toSet))
      if (hs.nonEmpty) {
        if (hs.length < w) assert(fps.contains(hs.min))
        else hs.sliding(w).foreach(win => assert(fps.contains(win.min)))
      } else assert(fps.isEmpty)
    }
  }

  test("winnowing dedup pairs docs sharing a passage, not distinct docs") {
    import spark.implicits._
    val shared = "this exact passage is copied in both documents verbatim"
    val df = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"zzz $shared qqq unrelated trailer text"),
      (3L, "no overlap at all with anything else in this corpus now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowing(df, "doc_id", "text", k = 8, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // The min-K-indexed scale path finds the same pair (shared fingerprints
    // dominate both docs' prefixes here) and nothing for the distinct doc.
    val indexed = Dedup.winnowing(df, "doc_id", "text", k = 8, w = 4,
        minShared = 2, indexK = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed.contains((1L, 2L)))
    assert(!indexed.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("fingerprint normalizes whitespace and case") {
    import spark.implicits._
    val df = Seq(Tuple1("The  Quick   fox"), Tuple1("the quick fox")).toDF("text")
    val fps = df.select(TextOps.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("substringDupStats: hand math — shared and self-repeated windows") {
    import spark.implicits._
    // Doc 1 and 2 share the 4-token run "a b c d"; doc 3 repeats its own
    // "p q r s" twice; doc 4 is clean; doc 5 is too short for any window.
    val df = Seq(
      (1L, "a b c d e f"),       // windows: abcd bcde cdef
      (2L, "x a b c d y"),       // windows: xabc abcd bcdy
      (3L, "p q r s p q r s"),   // pqrs qrsp rspq spqr pqrs
      (4L, "one two three four five"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val stats = Dedup.substringDupStats(df, "doc_id", "text",
        windowTokens = 4, minOccurrences = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(1L) == (3L, 1L)) // abcd duplicated
    assert(stats(2L) == (3L, 1L))
    assert(stats(3L) == (5L, 2L)) // pqrs occurs twice, both occurrences dup
    assert(stats(4L) == (2L, 0L))
    assert(!stats.contains(5L))
    Dedup.releaseSketchCaches()
  }

  test("stripDupSpans: keeps the globally-first occurrence, cuts the rest") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),       // loses its "a b c d" (doc 1 is canonical)
      (3L, "p q r s p q r s"),   // self-repeat: second pqrs run cut
      (4L, "one two three four five")
    ).toDF("doc_id", "text")
    val out = Dedup.stripDupSpans(df, "doc_id", "text",
        windowTokens = 4, minOccurrences = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b c d e f") // canonical — untouched
    assert(out(2L) == "x y")
    // doc 3: dup windows are pqrs@0 and pqrs@4; canonical is (3,0), so the
    // cut interval is [4,7] — the trailing repeat.
    assert(out(3L) == "p q r s")
    assert(out(4L) == "one two three four five")
    Dedup.releaseSketchCaches()
  }

  test("stripDupSpans: overlapping dup windows merge into one interval") {
    import spark.implicits._
    // Doc 20 embeds doc 10's entire 6-token text: dup windows of length 4
    // at positions 1,2,3 of doc 20 — overlapping, must merge to one cut
    // [1,6], not three separate 4-token cuts.
    val df = Seq(
      (10L, "m n o p q r"),
      (20L, "z m n o p q r z2 z3")
    ).toDF("doc_id", "text")
    val out = Dedup.stripDupSpans(df, "doc_id", "text",
        windowTokens = 4, minOccurrences = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) == "m n o p q r")
    assert(out(20L) == "z z2 z3")
    Dedup.releaseSketchCaches()
  }

  test("semantic dedup: nlist=1 equals the exact-grid kept set") {
    val emb = spark.table("embeddings")
    val exactPairs = Dedup.embedding(emb, "vec_id", "embedding", 0.4)
    val exactKept = Dedup.keepRepresentatives(emb, "vec_id",
        exactPairs, "a_id", "b_id")
      .collect().map(_.getLong(0)).toSet
    // One cluster → the IVF pair search degenerates to the full pair set,
    // so the kept sets must be identical.
    val oneList = Dedup.semantic(emb, "vec_id", "embedding", eps = 0.4,
        nlist = 1, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(oneList == exactKept)
    assert(exactKept.nonEmpty && exactKept.size < emb.count(),
      "fixture should both keep and drop embeddings")
    Dedup.releaseSketchCaches()
  }

  test("semantic dedup: precision-exact — never drops a doc the exact grid keeps") {
    val emb = spark.table("embeddings")
    val exactKept = Dedup.keepRepresentatives(emb, "vec_id",
        Dedup.embedding(emb, "vec_id", "embedding", 0.4), "a_id", "b_id")
      .collect().map(_.getLong(0)).toSet
    val sem = Dedup.semantic(emb, "vec_id", "embedding", eps = 0.4)
      .collect().map(_.getLong(0)).toSet
    // A missed cross-cluster pair can only KEEP an extra doc, never drop
    // one that has no true >= eps neighbor... except representative choice:
    // with identical pair sets min-id reps agree, and any dropped doc must
    // have a true neighbor. Assert the sound direction per component:
    // every doc semantic drops has a genuine >= 0.4 neighbor.
    val dropped = emb.select(col("vec_id").cast("long"))
      .collect().map(_.getLong(0)).toSet -- sem
    val paired = Dedup.embedding(emb, "vec_id", "embedding", 0.4)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(dropped.subsetOf(paired),
      "semantic dedup dropped a doc with no true >= eps neighbor")
    assert(sem.size >= exactKept.size,
      "quantized recall can only keep MORE than the exact grid")
    Dedup.releaseSketchCaches()
  }

  test("semantic dedup: identical-vector collapse keeps the exact kept-set") {
    import org.apache.spark.sql.DataFrame
    val emb = spark.table("embeddings")
    // Dup-dense fixture: two extra exact copies of every vector, plus a
    // zero vector and its copy (which must BOTH survive — cosine is
    // undefined for them, so no path may pair or collapse them away).
    def withCopies(df: DataFrame, shift: Long): DataFrame =
      df.union(df.select((col("vec_id") + shift).as("vec_id"),
        col("embedding")))
    import spark.implicits._
    val zeroes = Seq((9000001L, Array.fill(64)(0f)),
        (9000002L, Array.fill(64)(0f)))
      .toDF("vec_id", "embedding")
    val dense = withCopies(withCopies(
      emb.select("vec_id", "embedding"), 1000000L), 2000000L)
      .union(zeroes)
    def kept(floor: Long): Set[Long] = {
      val r = Dedup.semantic(dense, "vec_id", "embedding", eps = 0.4,
          nlist = 1, nprobe = 1, collapseFloor = floor)
        .collect().map(_.getLong(0)).toSet
      Dedup.releaseSketchCaches()
      r
    }
    val collapsed = kept(0) // force the collapse pre-pass
    val plain = kept(Long.MaxValue) // force the direct path
    assert(collapsed == plain)
    assert(collapsed.contains(9000001L) && collapsed.contains(9000002L),
      "zero-norm vectors must survive both paths")
    assert(collapsed.nonEmpty && collapsed.size < dense.count())
  }

  test("substring dedup on the documents table: stats consistent, strip is a projection") {
    val docs = spark.table("documents")
    val stats = Dedup.substringDupStats(docs, "doc_id", "text",
      windowTokens = 8, minOccurrences = 2).collect()
    assert(stats.forall(r => r.getLong(2) <= r.getLong(1)),
      "dup windows must be a subset of windows")
    assert(stats.exists(_.getLong(2) > 0),
      "fixture should contain duplicated 8-token windows")
    val cleaned = Dedup.stripDupSpans(docs, "doc_id", "text",
      windowTokens = 8, minOccurrences = 2)
    assert(cleaned.count() == docs.count(), "strip keeps every doc")
    // Docs with no dup windows pass through byte-identical.
    val untouched = stats.filter(_.getLong(2) == 0).map(_.getLong(0)).toSet
    val changed = cleaned.as("c")
      .join(docs.as("d"), col("c.doc_id") === col("d.doc_id"))
      .where(col("c.text") =!= col("d.text"))
      .select(col("c.doc_id")).collect().map(_.getLong(0)).toSet
    assert(changed.intersect(untouched).isEmpty)
    assert(changed.nonEmpty, "some doc should actually lose a span")
    Dedup.releaseSketchCaches()
  }
}
