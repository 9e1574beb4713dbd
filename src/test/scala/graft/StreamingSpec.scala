package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Sessionize
import graft.streaming.Sessionize.Event

/** Document fixture for the near-dup stream (top-level: MemoryStream needs
  * a TypeTag-backed encoder). */
case class NdDoc(doc_id: Long, text: String)

/** Embedding fixture for the semantic-dedup stream. */
case class SemDoc(doc_id: Long, embedding: Seq[Double])

/** Streaming sessionization through a real micro-batch run (MemoryStream →
  * watermark/state → memory sink). */
class StreamingSpec extends SparkSpecBase {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("session_window aggregation over a stream emits closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Event]
    val q = Sessionize.sessionWindow(input.toDF(), gap = "30 minutes",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()

    // user 7: two events 5 min apart (one session), then a 2-hour jump opens
    // a second session; the late watermark-advancing event closes the first.
    input.addData(
      Event(1, ts(0), 7, "view", 1.0),
      Event(2, ts(5), 7, "click", 2.0))
    q.processAllAvailable()
    input.addData(Event(3, ts(125), 7, "view", 4.0))
    q.processAllAvailable()
    input.addData(Event(4, ts(300), 7, "view", 8.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sess_out")
      .orderBy("session_start")
      .collect().map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    assert(out.nonEmpty)
    assert(out.head == (2L, 3.0)) // first closed session: events 1+2
  }

  test("tumbling-window typeCounts: stream result equals batch backfill") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = Seq(
      Event(1, ts(5), 1, "view", 1.0),
      Event(2, ts(20), 2, "view", 2.0),
      Event(3, ts(45), 1, "click", 4.0),
      Event(4, ts(70), 3, "view", 8.0),   // second window
      Event(5, ts(200), 1, "view", 16.0)) // far ahead: advances watermark

    val input = MemoryStream[Event]
    val q = graft.streaming.Windowed.typeCounts(input.toDF(),
        width = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    input.addData(events.take(4): _*)
    q.processAllAvailable()
    input.addData(events.drop(4): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("win_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = graft.streaming.Windowed.typeCounts(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // Append mode only emits windows sealed by the watermark; everything it
    // emits must agree with the batch computation over the same data.
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
    // The first hour's windows are sealed (watermark passed min 200 - 10).
    assert(streamed.exists(_._2 == "click"))
  }

  test("streaming curation: gate filters, watermarked dedup drops re-arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val good = "the quick brown fox jumps over the lazy dog again and again"
    val low = "a a a a a a a a a a a a" // diversity below the 0.3 gate
    val input = MemoryStream[(Long, Timestamp, String, String)]
    val docs = input.toDF().toDF("doc_id", "ts", "text", "lang")
    val q = graft.streaming.Curate.curated(docs, watermark = "30 minutes")
      .writeStream.format("memory").queryName("curated_out")
      .outputMode(OutputMode.Append).start()

    // Timestamps sit well past epoch 0: the initial watermark IS epoch 0,
    // and dropDuplicatesWithinWatermark discards events at-or-before it.
    input.addData(
      (1L, ts(60), good, "en"),
      (2L, ts(61), low, "en"),      // gated out
      (3L, ts(62), good + " x", "en"))
    q.processAllAvailable()
    input.addData(
      (4L, ts(70), good, "en"),     // duplicate of doc 1 within watermark
      (5L, ts(150), good + " y", "en")) // advances watermark far past 60-62
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("curated_out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 3L, 5L)) // 2 gated, 4 deduped

    // Batch backfill path: same operators on a static frame.
    val batch = Seq(
      (1L, ts(60), good, "en"), (2L, ts(61), low, "en"),
      (4L, ts(70), good, "en")).toDF("doc_id", "ts", "text", "lang")
    val kept = graft.streaming.Curate.curated(batch)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // 2 gated; exactly ONE of the duplicate pair {1, 4} survives — batch
    // dropDuplicates keeps an arbitrary row per key, so don't pin which.
    assert(kept.size == 1 && kept.subsetOf(Set(1L, 4L)))

    // Windowed stats tail on the deduped batch result.
    val stats = graft.streaming.Curate.langWindowStats(
      graft.streaming.Curate.curated(
        Seq((1L, ts(60), good, "en"), (3L, ts(62), good + " x", "en"))
          .toDF("doc_id", "ts", "text", "lang")))
      .collect()
    assert(stats.length == 1 && stats.head.getAs[Long]("n_docs") == 2L)
  }

  test("file-source stream: curation over arriving parquet batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._

    val dir = Files.createTempDirectory("graft_stream_src").toFile.getPath
    val good = "the quick brown fox jumps over the lazy dog again and again"
    // Batch 1 lands before the stream starts; batch 2 arrives "later" —
    // AvailableNow processes everything present, in file order.
    Seq((1L, ts(60), good, "en"), (2L, ts(61), "a a a a a a a a a a a a", "en"))
      .toDF("doc_id", "ts", "text", "lang")
      .write.parquet(dir + "/b1")
    Seq((3L, ts(70), good + " x", "en"), (4L, ts(71), good, "en"))
      .toDF("doc_id", "ts", "text", "lang")
      .write.parquet(dir + "/b2")

    val src = spark.readStream
      .schema("doc_id long, ts timestamp, text string, lang string")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val out = Files.createTempDirectory("graft_stream_out").toFile.getPath
    val q = graft.streaming.Curate.curated(src, watermark = "30 minutes")
      .select("doc_id", "lang")
      .writeStream.format("parquet")
      .option("path", out + "/data")
      .option("checkpointLocation", out + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)

    val ids = spark.read.parquet(out + "/data")
      .select("doc_id").as[Long].collect().toSet
    // 2 gated (low diversity); exactly one of the duplicate pair {1, 4}
    // survives dedup (file processing order decides which); 3 kept.
    assert(ids.contains(3L) && !ids.contains(2L))
    assert((ids - 3L).size == 1 && (ids - 3L).subsetOf(Set(1L, 4L)))
  }

  test("customSessions (flatMapGroupsWithState) matches batch semantics") {
    import spark.implicits._
    // Batch mode: state machine applied per user over sorted events.
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(100), 1, "view", 4.0), // >30min gap → new session
      Event(4, ts(0), 2, "view", 8.0)
    ).toDS()
    val out = Sessionize.customSessions(events).collect()
    // batch NoTimeout closes only sessions superseded by a gap; user 1's
    // first session closes, the open tails stay in (dropped) state.
    assert(out.length == 1)
    assert(out.head.user_id == 1 && out.head.n_events == 2 &&
      out.head.total_value == 3.0)
  }

  test("near-dup stream: corpus dup, cross-batch dup, dropped-doc chain") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.NearDupStream

    val corpus = Seq((1L, "a b c d e"), (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val state = new NearDupStream.IndexState(
      Dedup.buildNearDupIndex(corpus, "doc_id", "text"))
    val input = MemoryStream[NdDoc]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = NearDupStream.run(input.toDF(), state, "doc_id", "text") { kept =>
      got ++= kept.select("doc_id").as[Long].collect()
    }
    // Batch 1: 10 dups corpus doc 1 (bigram J = 3/5); 15 is novel.
    input.addData(NdDoc(10, "a b c d x"), NdDoc(15, "m n o u v"))
    q.processAllAvailable()
    // Batch 2: 20 dups batch-1 KEPT doc 15 (J = 3/5); 25 dups batch-1
    // DROPPED doc 10 (J = 3/5, vs corpus doc 1 only 2/6) — still a dup,
    // because arrivals fold into the index whether kept or not; 30 novel.
    input.addData(NdDoc(20, "m n o u w"), NdDoc(25, "b c d x y"),
      NdDoc(30, "q r s t0 zz"))
    q.processAllAvailable()
    q.stop()

    assert(got.toSet == Set(15L, 30L))
    // The index absorbed corpus + all five arrivals (kept AND dropped).
    assert(state.index.docsets.count() == 7)
    Dedup.releaseSketchCaches()
  }

  test("near-dup stream equals the one-shot batch probe over the same docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.NearDupStream
    import org.apache.spark.sql.functions.col

    // Same corpus/batch split as d10, with the batch arriving as TWO
    // micro-batches in ascending id order (stream arrival order == the
    // batch operator's smaller-id-is-earlier order, so the contracts
    // coincide and the kept sets must be identical).
    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val arrivals = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").as[NdDoc].collect()
    val (first, second) = arrivals.splitAt(arrivals.length / 2)

    val state = new NearDupStream.IndexState(
      Dedup.buildNearDupIndex(corpus, "doc_id", "text"))
    val input = MemoryStream[NdDoc]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = NearDupStream.run(input.toDF(), state, "doc_id", "text") { kept =>
      got ++= kept.select("doc_id").as[Long].collect()
    }
    input.addData(first: _*)
    q.processAllAvailable()
    input.addData(second: _*)
    q.processAllAvailable()
    q.stop()

    val oneShot = Dedup.probeNearDups(
        Dedup.buildNearDupIndex(corpus, "doc_id", "text"),
        arrivals.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .as[Long].collect().toSet
    assert(got.toSet == oneShot)
    assert(got.nonEmpty && got.size < arrivals.length,
      "fixture should both keep and drop arrivals")
    Dedup.releaseSketchCaches()
  }

  test("near-dup stream: compaction bounds plan depth, checkpoint reloads") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.NearDupStream
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.functions.col

    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val arrivals = docs.where(col("doc_id") % 5 === 0)
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").as[NdDoc].collect()
    // Contiguous ascending groups keep stream arrival order == the batch
    // operator's smaller-id-earlier order.
    val parts = arrivals.grouped(
      math.max(1, math.ceil(arrivals.length / 4.0).toInt)).toSeq

    val ckpt = java.nio.file.Files.createTempDirectory("ndstream").toString
    val state = new NearDupStream.IndexState(
      Dedup.buildNearDupIndex(corpus, "doc_id", "text"))
    val input = MemoryStream[NdDoc]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    // compactEvery = 1: every batch compacts then saves IN PLACE over the
    // same checkpoint path — the order (compact, then save) is what makes
    // repeated save-over-self safe, and it exercises extension on top of a
    // compacted (flat-lineage) index at every batch after the first.
    val q = NearDupStream.run(input.toDF(), state, "doc_id", "text",
        compactEvery = 1, checkpointPath = Some(ckpt)) { kept =>
      got ++= kept.select("doc_id").as[Long].collect()
    }
    parts.foreach { p => input.addData(p: _*); q.processAllAvailable() }
    q.stop()

    // Semantics unchanged by compaction: kept-set == the one-shot probe.
    val oneShot = Dedup.probeNearDups(
        Dedup.buildNearDupIndex(corpus, "doc_id", "text"),
        arrivals.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      .as[Long].collect().toSet
    assert(got.toSet == oneShot)
    assert(got.nonEmpty && got.size < arrivals.length)

    // Plan depth is bounded: the adopted index is fully compacted — no
    // union layers, regardless of how many batches ran (uncompacted, it
    // would carry one Union per batch).
    def unions(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collect { case u: Union => u }.size
    assert(unions(state.index.docsets) == 0,
      s"docsets plan still layered: ${unions(state.index.docsets)} unions")
    assert(unions(state.index.prefixes) == 0,
      s"prefixes plan still layered: ${unions(state.index.prefixes)} unions")

    // The checkpoint holds the COMPLETE index (every compaction included
    // all prior batches) and probes identically to the live one.
    val reloaded = Dedup.loadIndex(spark, ckpt)
    assert(reloaded.docsets.count() == state.index.docsets.count())
    val probeBatch = docs.where(col("doc_id") % 25 === 3)
      .select((col("doc_id") + 7000000L).as("doc_id"), col("text"))
      .union(Seq((9000001L, "entirely novel compaction probe text"))
        .toDF("doc_id", "text"))
    val live = Dedup.probeNearDups(state.index, probeBatch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val replay = Dedup.probeNearDups(reloaded, probeBatch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(live == replay)
    assert(live.contains(9000001L), "novel doc should be kept")
    assert(live.size < probeBatch.count(), "twin docs should be dropped")
    Dedup.releaseSketchCaches()
  }

  test("write-ahead deltas restore un-compacted batches; replay sinks recorded kept-set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.NearDupStream

    val corpus = Seq((1L, "a b c d e"), (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ndwal").toString
    val s1 = NearDupStream.resume(spark, dir, corpus, "doc_id", "text")
    assert(s1.lastIndexedBatch == -1L)

    // No compaction in-window: durability must come from the write-ahead
    // delta log alone.
    val in1 = MemoryStream[NdDoc]
    val got1 = scala.collection.mutable.ArrayBuffer[Long]()
    val q1 = NearDupStream.run(in1.toDF(), s1, "doc_id", "text",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got1 ++= kept.select("doc_id").as[Long].collect()
    }
    in1.addData(NdDoc(10, "a b c d x"), NdDoc(15, "m n o u v")) // batch 0
    q1.processAllAvailable()
    in1.addData(NdDoc(20, "m n o u w"), NdDoc(30, "q r s t0 zz")) // batch 1
    q1.processAllAvailable()
    q1.stop()
    assert(got1.toSet == Set(15L, 30L))

    // Restart: bootstrap generation + deltas b0/b1 restore the FULL fold,
    // including the batches no compaction ever saved.
    val s2 = NearDupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s2.lastIndexedBatch == 1L)
    assert(s2.index.docsets.count() == 6) // 2 corpus + 4 arrivals

    // A fresh query restarts batch ids at 0 — exactly the shape of an
    // engine replay whose offsets never committed. Both batches are
    // already folded (durably, via deltas): the stream must sink their
    // RECORDED kept rows, not re-probe (which would emit zero rows).
    val in2 = MemoryStream[NdDoc]
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = NearDupStream.run(in2.toDF(), s2, "doc_id", "text",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got2 ++= kept.select("doc_id").as[Long].collect()
    }
    in2.addData(NdDoc(10, "a b c d x"), NdDoc(15, "m n o u v"))
    q2.processAllAvailable()
    in2.addData(NdDoc(20, "m n o u w"), NdDoc(30, "q r s t0 zz"))
    q2.processAllAvailable()
    q2.stop()
    assert(got2.toSet == Set(15L, 30L),
      "replayed batches must re-emit their recorded kept rows")
    assert(s2.index.docsets.count() == 6, "replay must not re-fold docs")

    // NOT a replay: a restart without the engine checkpoint reuses batch
    // id 0 for NEW data. The recorded id-set for b0 doesn't match, so the
    // batch must be folded normally — not swallowed by replay handling.
    val s3 = NearDupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s3.lastIndexedBatch == 1L)
    val in3 = MemoryStream[NdDoc]
    val got3 = scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = NearDupStream.run(in3.toDF(), s3, "doc_id", "text",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got3 ++= kept.select("doc_id").as[Long].collect()
    }
    in3.addData(NdDoc(40, "h i j k l")) // novel content at batch id 0
    q3.processAllAvailable()
    q3.stop()
    assert(got3.toSet == Set(40L),
      "new data at a colliding batch id must be kept, not swallowed")
    assert(s3.index.docsets.count() == 7, "new data must fold into the index")
    Dedup.releaseSketchCaches()
  }

  test("drifted compaction point auto-rebuilds the rarity order; " +
      "decisions and restart unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.NearDupStream

    // The unit drift fixture (IncrementalDedupSpec), streamed: corpus
    // bigrams all frequency 1, arrivals re-use three of them amid fresh
    // words — live frequencies of "p q"/"a b"/"k l" jump while the frozen
    // order still ranks them rarest, so by the compaction at batch 1 the
    // sampled rank-churn is far past the 0.1 bar and NdOps.compact must
    // take the REBUILD branch instead of a plain compaction.
    val corpus = Seq((1L, "p q r s t u"), (2L, "a b c d e f"),
      (3L, "k l m n o v")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ndrebuild").toString
    val state = NearDupStream.resume(spark, dir, corpus, "doc_id", "text")
    val input = MemoryStream[NdDoc]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val q = NearDupStream.run(input.toDF(), state, "doc_id", "text",
        compactEvery = 2, checkpointPath = Some(dir),
        driftSampleMod = 1L) { kept =>
      got ++= kept.select("doc_id").as[Long].collect()
    }
    def skew(i: Int) = NdDoc(100L + i, s"p q x$i y$i a b w$i z$i k l")
    input.addData((0 until 6).map(skew): _*)  // batch 0
    q.processAllAvailable()
    input.addData((6 until 12).map(skew): _*) // batch 1 → compaction
    q.processAllAvailable()
    // Pairwise the skew docs share only the 3 reused bigrams of their 9
    // (J ≈ 0.2 < 0.6): all kept.
    assert(got.toSet == (100L until 112L).toSet)
    // The compaction rebuilt: live state's drift is zero again (a plain
    // compaction would have left the frozen bootstrap order, drift 1.0
    // for the corpus sample).
    assert(Dedup.ndRarityDrift(state.index, sampleMod = 1L) == 0.0,
      "compaction past the drift bar must rebuild the rarity order")

    // Post-rebuild decisions: a re-post of an indexed arrival drops, a
    // novel doc keeps — the rebuilt order changes candidate width only.
    input.addData(NdDoc(300L, "p q x0 y0 a b w0 z0 k l"),
      NdDoc(301L, "fresh words never seen before here"))
    q.processAllAvailable()
    q.stop()
    assert(got.toSet == (100L until 112L).toSet + 301L,
      "re-post must drop and novel must keep through the rebuilt index")

    // Restart: the rebuilt generation (+ the batch-2 delta) restores and
    // makes the same decisions.
    val s2 = NearDupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s2.index.docsets.count() == state.index.docsets.count())
    val probe = Seq((400L, "p q x3 y3 a b w3 z3 k l"),
      (401L, "another novel never indexed document")).toDF("doc_id", "text")
    val keptIds = Dedup.probeNearDups(s2.index, probe, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == Set(401L),
      "restored rebuilt index must drop re-posts and keep novels")
    Dedup.releaseSketchCaches()
  }

  test("rebased-batch replay recognized; same ids with changed content fold as new") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.NearDupStream

    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ndrebase").toString

    def runOnce(state: NearDupStream.IndexState,
        batches: Seq[Seq[NdDoc]]): Seq[(Long, Long)] = {
      val in = MemoryStream[NdDoc]
      val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val q = NearDupStream.runBatches(in.toDF(), state, "doc_id", "text",
          compactEvery = 1000, checkpointPath = Some(dir)) { (kept, bid) =>
        kept.select("doc_id").as[Long].collect().foreach(d => got += ((bid, d)))
      }
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      got.toSeq
    }

    // Run 1: two batches fold at walIds 0/1.
    val s1 = NearDupStream.resume(spark, dir, corpus, "doc_id", "text")
    runOnce(s1, Seq(Seq(NdDoc(10, "f g h i j")), Seq(NdDoc(20, "k l m n o"))))

    // Run 2: engine checkpoint lost — batch id 0 reused for NEW data →
    // rebase records its delta under walId 2.
    val s2 = NearDupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s2.lastIndexedBatch == 1L)
    assert(runOnce(s2, Seq(Seq(NdDoc(30, "p q r s t2")))) == Seq((2L, 30L)))

    // Run 3: the engine now REPLAYS that rebased batch at raw id 0. The
    // delta lives under id 2, not 0 — recognition must scan upward, sink
    // the recorded kept-set under the id it originally landed with (2),
    // and NOT re-fold. The next fresh batch continues at walId 3 (the
    // prior run's offset is adopted, not re-derived via a second rebase).
    val s3 = NearDupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s3.lastIndexedBatch == 2L)
    val got3 = runOnce(s3, Seq(Seq(NdDoc(30, "p q r s t2")),
      Seq(NdDoc(40, "u v w x y"))))
    assert(got3 == Seq((2L, 30L), (3L, 40L)),
      s"rebased replay must land under its original walId: $got3")
    assert(s3.index.docsets.count() == 5, "replay must not re-fold docs")

    // Run 4: batch id 0 reused with run-1's doc ID but CHANGED text — the
    // content fingerprint rejects the replay match and the batch folds as
    // new data (id-set equality alone would sink the stale kept-set and
    // silently drop the new content).
    val s4 = NearDupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s4.lastIndexedBatch == 3L)
    val got4 = runOnce(s4, Seq(Seq(NdDoc(10, "z0 z1 z2 z3 z4"))))
    assert(got4 == Seq((4L, 10L)),
      s"changed content at a replayed id must fold as new data: $got4")
    assert(s4.index.docsets.count() == 6,
      "changed-content batch must fold into the index")

    // Run 5 — the adopted-offset COLLISION corner: the engine restarts
    // checkpoint-less again, replays the rebased batch identically (raw
    // id 0 → adopts offset +2), then delivers a NON-matching batch at raw
    // id 1 whose effective id 3 still sits at-or-below the high-water
    // mark (4). Folding there would overwrite committed delta b3; the
    // loop must re-rebase above the mark instead (walId 5) and leave b3's
    // record intact.
    val s5 = NearDupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s5.lastIndexedBatch == 4L)
    val got5 = runOnce(s5, Seq(Seq(NdDoc(30, "p q r s t2")),
      Seq(NdDoc(20, "gg hh ii jj kk"))))
    assert(got5 == Seq((2L, 30L), (5L, 20L)),
      s"post-adoption non-matching batch must re-rebase past the mark: $got5")
    assert(spark.read.parquet(s"$dir/delta/b3/kept")
        .select("doc_id").as[Long].collect().toSeq == Seq(40L),
      "committed delta b3 must survive the colliding batch")
    Dedup.releaseSketchCaches()
  }

  test("engine-checkpointed restart: history preserved, numbering continues") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.NearDupStream

    val srcDir = Files.createTempDirectory("nd_src").toString
    val idxCkpt = Files.createTempDirectory("nd_idx").toString
    val engCkpt = Files.createTempDirectory("nd_eng").toString
    val corpus = Seq((1L, "a b c d e"), (2L, "p q r s t"))
      .toDF("doc_id", "text")

    val got = scala.collection.mutable.ArrayBuffer[Long]()
    def stream(state: NearDupStream.IndexState) = {
      val src = spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .parquet(srcDir)
      NearDupStream.run(src, state, "doc_id", "text",
          compactEvery = 1000, checkpointPath = Some(idxCkpt),
          queryCheckpointLocation = Some(engCkpt)) { kept =>
        got ++= kept.select("doc_id").as[Long].collect()
      }
    }

    // Run 1: bootstrap + one arrival file.
    Seq((10L, "a b c d x"), (15L, "m n o u v")).toDF("doc_id", "text")
      .write.parquet(srcDir + "/f1")
    val s1 = NearDupStream.resume(spark, idxCkpt, corpus, "doc_id", "text")
    val q1 = stream(s1)
    q1.processAllAvailable()
    q1.stop()
    assert(got.toSet == Set(15L)) // 10 dups corpus doc 1

    // Run 2: a REAL restart — fresh state from the index checkpoint, the
    // ENGINE's checkpoint continues batch numbering and replays nothing
    // committed, so new ids land above the WAL high-water mark (no
    // collision/rebase) and stream history carries across runs: 20 dups
    // doc 15 kept by the PREVIOUS run, 30 is novel.
    Seq((20L, "m n o u w"), (30L, "q r s t0 zz")).toDF("doc_id", "text")
      .write.parquet(srcDir + "/f2")
    val s2 = NearDupStream.resume(spark, idxCkpt, corpus.limit(0),
      "doc_id", "text")
    assert(s2.lastIndexedBatch >= 0L)
    assert(s2.index.docsets.count() == 4) // 2 corpus + run-1 arrivals
    val q2 = stream(s2)
    q2.processAllAvailable()
    q2.stop()
    assert(got.toSet == Set(15L, 30L),
      "cross-run dup must drop; novel doc must survive the restart")
    Dedup.releaseSketchCaches()
  }

  test("resume: bootstrap saves a checkpoint; restart loads it unchanged") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.NearDupStream
    import org.apache.spark.sql.functions.col

    val docs = spark.table("documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("ndresume").toString

    // First call: no checkpoint yet → builds from the corpus and saves.
    val boot = NearDupStream.resume(spark, dir, corpus, "doc_id", "text")
    val kept1 = Dedup.probeNearDups(boot.index, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    Dedup.releaseSketchCaches()

    // Restart: corpus argument must NOT be re-read — hand it an empty
    // frame to prove the load path is taken.
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val restarted = NearDupStream.resume(spark, dir, empty, "doc_id", "text")
    val kept2 = Dedup.probeNearDups(restarted.index, batch, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == kept1)
    assert(kept1.nonEmpty && kept1.size < batch.count(),
      "fixture should both keep and drop batch docs")
    Dedup.releaseSketchCaches()
  }

  test("exact-dedup stream: corpus/in-stream dups drop, WAL restores, replay re-emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.FpDedupStream

    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fpwal").toString
    val s1 = FpDedupStream.resume(spark, dir, corpus, "doc_id", "text")
    assert(s1.lastIndexedBatch == -1L)

    val in1 = MemoryStream[NdDoc]
    val got1 = scala.collection.mutable.ArrayBuffer[Long]()
    val q1 = FpDedupStream.run(in1.toDF(), s1, "doc_id", "text",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got1 ++= kept.select("doc_id").as[Long].collect()
    }
    // batch 0: 10 = exact corpus dup (whitespace/case-normalized), 15 novel
    in1.addData(NdDoc(10, "Alpha  Beta"), NdDoc(15, "epsilon zeta"))
    q1.processAllAvailable()
    // batch 1: 20 dups the PREVIOUS batch's kept doc 15; 21/22 are
    // in-batch twins (first id wins); 30 novel
    in1.addData(NdDoc(20, "epsilon zeta"), NdDoc(22, "eta theta"),
      NdDoc(21, "eta theta"), NdDoc(30, "iota kappa"))
    q1.processAllAvailable()
    q1.stop()
    assert(got1.toSet == Set(15L, 21L, 30L))

    // Restart from generation + WAL deltas: all folds restored.
    val s2 = FpDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s2.lastIndexedBatch == 1L)
    // 2 corpus + 15 + {21 or 22} + 30 distinct fingerprints
    assert(s2.index.fps.count() == 5)

    // Fresh query renumbering from 0 = engine replay shape: recorded
    // kept-sets re-emit, nothing re-folds.
    val in2 = MemoryStream[NdDoc]
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = FpDedupStream.run(in2.toDF(), s2, "doc_id", "text",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got2 ++= kept.select("doc_id").as[Long].collect()
    }
    in2.addData(NdDoc(10, "Alpha  Beta"), NdDoc(15, "epsilon zeta"))
    q2.processAllAvailable()
    in2.addData(NdDoc(20, "epsilon zeta"), NdDoc(22, "eta theta"),
      NdDoc(21, "eta theta"), NdDoc(30, "iota kappa"))
    q2.processAllAvailable()
    q2.stop()
    assert(got2.toSet == Set(15L, 21L, 30L),
      "replayed batches must re-emit their recorded kept rows")
    assert(s2.index.fps.count() == 5, "replay must not re-fold fingerprints")

    // Batch-id collision with NEW data folds normally (rebase path).
    val s3 = FpDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    val in3 = MemoryStream[NdDoc]
    val got3 = scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = FpDedupStream.run(in3.toDF(), s3, "doc_id", "text",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got3 ++= kept.select("doc_id").as[Long].collect()
    }
    in3.addData(NdDoc(40, "lambda mu"))
    q3.processAllAvailable()
    q3.stop()
    assert(got3.toSet == Set(40L),
      "new data at a colliding batch id must be kept, not swallowed")
    assert(s3.index.fps.count() == 6, "new data must fold into the index")
    Dedup.releaseSketchCaches()
  }

  test("semantic stream: corpus/cross-batch/chain dups drop, WAL restores, replay re-emits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.SemDedupStream

    // Orthogonal corpus directions; eps = 0.9 so only near-parallel
    // vectors dedup. The 2-vector corpus trains 2 unit centroids, and
    // nprobe clamps to the list count, so every vector is a candidate —
    // the fixture tests the cosine CONTRACT, not quantizer recall.
    val corpus = Seq(SemDoc(1, Seq(1, 0, 0, 0)), SemDoc(2, Seq(0, 1, 0, 0)))
      .toDF("doc_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("semwal").toString
    val s1 = SemDedupStream.resume(spark, dir, corpus, "doc_id", "embedding",
      eps = 0.9)
    assert(s1.lastIndexedBatch == -1L)

    val in1 = MemoryStream[SemDoc]
    val got1 = scala.collection.mutable.ArrayBuffer[Long]()
    val q1 = SemDedupStream.run(in1.toDF(), s1, "doc_id", "embedding",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got1 ++= kept.select("doc_id").as[Long].collect()
    }
    // batch 0: 10 near-parallels corpus doc 1 (cos ≈ .995); 15 orthogonal.
    in1.addData(SemDoc(10, Seq(1, 0.1, 0, 0)), SemDoc(15, Seq(0, 0, 1, 0)))
    q1.processAllAvailable()
    // batch 1: 20 dups the PREVIOUS batch's kept 15; 25 exactly copies the
    // DROPPED 10 (still a dup — dropped vectors fold too); 31/32 are
    // in-batch twins (min id 31 wins); 40 is zero-norm (cosine undefined,
    // always kept, never indexed).
    in1.addData(SemDoc(20, Seq(0, 0, 1, 0.1)), SemDoc(25, Seq(1, 0.1, 0, 0)),
      SemDoc(32, Seq(0, 0, 0, 1)), SemDoc(31, Seq(0, 0, 0, 1)),
      SemDoc(40, Seq(0, 0, 0, 0)))
    q1.processAllAvailable()
    q1.stop()
    assert(got1.toSet == Set(15L, 31L, 40L))

    // Restart from generation + WAL deltas: all folds restored.
    val s2 = SemDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "embedding", eps = 0.9)
    assert(s2.lastIndexedBatch == 1L)
    // 2 corpus + 10,15,20,25,31,32 — the zero-norm 40 never indexes.
    assert(s2.index.assigned.select("id").distinct().count() == 8)
    assert(s2.index.eps == 0.9)

    // Fresh query renumbering from 0 = engine replay shape: recorded
    // kept-sets re-emit, nothing re-folds.
    val in2 = MemoryStream[SemDoc]
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = SemDedupStream.run(in2.toDF(), s2, "doc_id", "embedding",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got2 ++= kept.select("doc_id").as[Long].collect()
    }
    in2.addData(SemDoc(10, Seq(1, 0.1, 0, 0)), SemDoc(15, Seq(0, 0, 1, 0)))
    q2.processAllAvailable()
    in2.addData(SemDoc(20, Seq(0, 0, 1, 0.1)), SemDoc(25, Seq(1, 0.1, 0, 0)),
      SemDoc(32, Seq(0, 0, 0, 1)), SemDoc(31, Seq(0, 0, 0, 1)),
      SemDoc(40, Seq(0, 0, 0, 0)))
    q2.processAllAvailable()
    q2.stop()
    assert(got2.toSet == Set(15L, 31L, 40L),
      "replayed batches must re-emit their recorded kept rows")
    assert(s2.index.assigned.select("id").distinct().count() == 8,
      "replay must not re-fold vectors")

    // Batch-id collision with NEW data folds normally (rebase path): a
    // direction far from everything indexed is kept.
    val s3 = SemDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "embedding", eps = 0.9)
    val in3 = MemoryStream[SemDoc]
    val got3 = scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = SemDedupStream.run(in3.toDF(), s3, "doc_id", "embedding",
        compactEvery = 1000, checkpointPath = Some(dir)) { kept =>
      got3 ++= kept.select("doc_id").as[Long].collect()
    }
    in3.addData(SemDoc(50, Seq(0.5, -0.5, 0.5, -0.5)))
    q3.processAllAvailable()
    q3.stop()
    assert(got3.toSet == Set(50L),
      "new data at a colliding batch id must be kept, not swallowed")
    assert(s3.index.assigned.select("id").distinct().count() == 9,
      "new data must fold into the index")
    Dedup.releaseSketchCaches()
  }

  test("semantic stream: compaction saves a generation the restart loads pruned") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.SemDedupStream

    val corpus = Seq(SemDoc(1, Seq(1, 0, 0, 0)), SemDoc(2, Seq(0, 1, 0, 0)))
      .toDF("doc_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("semgen").toString
    val s1 = SemDedupStream.resume(spark, dir, corpus, "doc_id", "embedding",
      eps = 0.9)
    val in1 = MemoryStream[SemDoc]
    val got1 = scala.collection.mutable.ArrayBuffer[Long]()
    // compactEvery = 1: every batch compacts then saves a generation over
    // the same path — extension on top of a compacted index at every
    // batch after the first.
    val q1 = SemDedupStream.run(in1.toDF(), s1, "doc_id", "embedding",
        compactEvery = 1, checkpointPath = Some(dir)) { kept =>
      got1 ++= kept.select("doc_id").as[Long].collect()
    }
    in1.addData(SemDoc(10, Seq(1, 0.1, 0, 0)), SemDoc(15, Seq(0, 0, 1, 0)))
    q1.processAllAvailable()
    in1.addData(SemDoc(20, Seq(0, 0, 1, 0.05)), SemDoc(30, Seq(0, 0, 0, 1)))
    q1.processAllAvailable()
    q1.stop()
    assert(got1.toSet == Set(15L, 30L))

    // Restart loads the newest generation (no outstanding deltas — every
    // batch compacted); the restored index reads the list-partitioned
    // layout, probes correctly, and continues.
    val s2 = SemDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "embedding", eps = 0.9)
    assert(s2.lastIndexedBatch == 1L)
    assert(s2.index.assigned.select("id").distinct().count() == 6)
    val in2 = MemoryStream[SemDoc]
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = SemDedupStream.run(in2.toDF(), s2, "doc_id", "embedding",
        compactEvery = 1, checkpointPath = Some(dir)) { kept =>
      got2 ++= kept.select("doc_id").as[Long].collect()
    }
    // 60 dups the restored stream history (doc 30); 61 is novel.
    in2.addData(SemDoc(60, Seq(0, 0, 0.05, 1)), SemDoc(61, Seq(1, -1, 1, 1)))
    q2.processAllAvailable()
    q2.stop()
    assert(got2.toSet == Set(61L),
      s"restored index must drop dups of pre-restart arrivals, got $got2")

    // The restored index reads the list-partitioned generation layout, so
    // the stream's probe-list filter is partition PRUNING on the vecs
    // scan — probe cost scales with the probed lists, not history.
    val restored = Dedup.loadSemIndex(spark, dir)
    val probeShaped = restored.assigned
      .where(org.apache.spark.sql.functions.col("list").isin(0))
    val scans = probeShaped.queryExecution.executedPlan.collectLeaves()
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("vecs"))
          => f
      }
    assert(scans.nonEmpty, "restored probe lost the partitioned vecs scan")
    assert(scans.head.partitionFilters.nonEmpty,
      "probe-list filter did not reach the partitioned scan")
    Dedup.releaseSketchCaches()
  }

  test("substring gate stream: recycled content drops, WAL + compaction restore") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.SubstringStream

    // Corpus phrase "w1 w2 w3 w4" seeds the window table (windowTokens=4).
    val corpus = Seq((1L, "w1 w2 w3 w4")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sswal").toString
    val s1 = SubstringStream.resume(spark, dir, corpus, "doc_id", "text",
      windowTokens = 4)
    assert(s1.lastIndexedBatch == -1L)

    val in1 = MemoryStream[NdDoc]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    // compactEvery = 2: batch 1 compacts layered freq + saves a generation.
    val q1 = SubstringStream.run(in1.toDF(), s1, "doc_id", "text",
        minOccurrences = 2, maxDupRatio = 0.5, compactEvery = 2,
        checkpointPath = Some(dir)) { kept =>
      got ++= kept.select("doc_id").as[Long].collect()
    }
    // batch 0: 10 = pure corpus recycle (1 window, duplicated -> ratio 1
    // > 0.5, dropped); 15 = novel 5-token doc (2 windows, 0 dup, kept);
    // 16 = too short for any window (kept, no evidence).
    in1.addData(NdDoc(10, "w1 w2 w3 w4"), NdDoc(15, "n1 n2 n3 n4 n5"),
      NdDoc(16, "tiny doc"))
    q1.processAllAvailable()
    // batch 1: 20 recycles batch-0's phrase entirely (both windows seen
    // -> ratio 1, dropped); 30 = half-novel (windows: [n1..n4] dup,
    // [x n1 n2 n3]/[q x n1 n2]... construct 6 tokens: "q x n1 n2 n3 n4"
    // -> windows qxn1n2, xn1n2n3, n1n2n3n4 -> 1 of 3 dup -> ratio 0.33
    // <= 0.5, kept.
    in1.addData(NdDoc(20, "n1 n2 n3 n4 n5"), NdDoc(30, "q x n1 n2 n3 n4"))
    q1.processAllAvailable()
    q1.stop()
    assert(got.toSet == Set(15L, 16L, 30L))

    // Restart from the compacted generation (+ retained last delta).
    val s2 = SubstringStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text", windowTokens = 4)
    assert(s2.lastIndexedBatch == 1L)
    // A post-restart arrival recycling stream history drops.
    val in2 = MemoryStream[NdDoc]
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = SubstringStream.run(in2.toDF(), s2, "doc_id", "text",
        minOccurrences = 2, maxDupRatio = 0.5, compactEvery = 1000,
        checkpointPath = Some(dir)) { kept =>
      got2 ++= kept.select("doc_id").as[Long].collect()
    }
    in2.addData(NdDoc(50, "n1 n2 n3 n4 n5"), NdDoc(60, "f1 f2 f3 f4 f5"))
    q2.processAllAvailable()
    q2.stop()
    assert(got2.toSet == Set(60L),
      "cross-run recycle must drop; novel doc must survive the restart")
    Dedup.releaseSketchCaches()
  }

  test("winnow stream: corpus/cross-batch/in-batch dups drop, restart restores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.WinnowStream

    // Long repeated-character docs give dense winnow fingerprints; the
    // spec-pinned winnow guarantee (shared run >= w+k-1 => shared fp)
    // makes full-copy pairs certain at these sizes.
    def doc(c: Char) = s"$c" * 300
    val corpus = Seq((1L, doc('a'))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("wnstream").toString
    val s1 = WinnowStream.resume(spark, dir, corpus, "doc_id", "text",
      k = 8, w = 4, maxFreq = 1000)
    assert(s1.lastIndexedBatch == -1L)

    val in1 = MemoryStream[NdDoc]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    // compactEvery = 2: batch 1 compacts layered fps/freq + saves a gen.
    val q1 = WinnowStream.run(in1.toDF(), s1, "doc_id", "text",
        minShared = 1, compactEvery = 2, checkpointPath = Some(dir)) {
      kept => got ++= kept.select("doc_id").as[Long].collect()
    }
    // batch 0: 10 copies corpus doc (drop); 15 novel (keep); 20 copies 15
    // IN-batch, larger id (drop).
    in1.addData(NdDoc(10, doc('a')), NdDoc(15, doc('b')),
      NdDoc(20, doc('b')))
    q1.processAllAvailable()
    // batch 1: 30 copies batch-0's doc 15 (cross-batch drop); 40 novel.
    in1.addData(NdDoc(30, doc('b')), NdDoc(40, doc('c')))
    q1.processAllAvailable()
    q1.stop()
    assert(got.toSet == Set(15L, 40L))

    // Restart from the compacted generation: history preserved.
    val s2 = WinnowStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text", k = 8, w = 4, maxFreq = 1000)
    assert(s2.lastIndexedBatch == 1L)
    val in2 = MemoryStream[NdDoc]
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = WinnowStream.run(in2.toDF(), s2, "doc_id", "text",
        minShared = 1, compactEvery = 1000, checkpointPath = Some(dir)) {
      kept => got2 ++= kept.select("doc_id").as[Long].collect()
    }
    in2.addData(NdDoc(50, doc('c')), NdDoc(60, doc('d')))
    q2.processAllAvailable()
    q2.stop()
    assert(got2.toSet == Set(60L),
      "cross-run dup must drop; novel doc must survive the restart")
    Dedup.releaseSketchCaches()
  }

  test("exact-dedup stream: compaction saves a generation the restart loads") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.FpDedupStream

    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fpcompact").toString
    val s1 = FpDedupStream.resume(spark, dir, corpus, "doc_id", "text")
    val in1 = MemoryStream[NdDoc]
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    // compactEvery = 2: batch 1 triggers compaction + a generation save.
    val q1 = FpDedupStream.run(in1.toDF(), s1, "doc_id", "text",
        compactEvery = 2, checkpointPath = Some(dir)) { kept =>
      got ++= kept.select("doc_id").as[Long].collect()
    }
    in1.addData(NdDoc(10, "epsilon zeta"))
    q1.processAllAvailable()
    in1.addData(NdDoc(20, "eta theta"), NdDoc(25, "alpha beta"))
    q1.processAllAvailable()
    q1.stop()
    assert(got.toSet == Set(10L, 20L))

    val s2 = FpDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s2.lastIndexedBatch == 1L)
    assert(s2.index.fps.count() == 3)
    // A post-restart arrival deduping stream history is dropped.
    val in2 = MemoryStream[NdDoc]
    val got2 = scala.collection.mutable.ArrayBuffer[Long]()
    val q2 = FpDedupStream.run(in2.toDF(), s2, "doc_id", "text",
        compactEvery = 2, checkpointPath = Some(dir)) { kept =>
      got2 ++= kept.select("doc_id").as[Long].collect()
    }
    in2.addData(NdDoc(50, "eta theta"), NdDoc(60, "nu xi"))
    q2.processAllAvailable()
    q2.stop()
    assert(got2.toSet == Set(60L),
      "cross-run dup must drop; novel doc must survive the restart")
    Dedup.releaseSketchCaches()
  }

  test("pack stream: arrival packing equals batch packing, carries " +
      "partials across batches AND restarts, rebases id reuse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.{Bpe, Packing}
    import graft.streaming.PackStream

    val corpus = spark.table("documents")
    val dir = java.nio.file.Files.createTempDirectory("packstream").toString
    val out = java.nio.file.Files.createTempDirectory("packout").toString
    val h = PackStream.resume(spark, dir, corpus, "doc_id", "text",
      nShards = 4L, nMerges = 12, window = 256)

    val arrivals = corpus.where(col("doc_id") < 60)
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").as[NdDoc].collect()
    val (b1, rest) = arrivals.splitAt(20)
    val (b2, b3) = rest.splitAt(20)

    val in1 = MemoryStream[NdDoc]
    val q1 = PackStream.run(in1.toDF(), h, "doc_id", "text", out)
    in1.addData(b1: _*); q1.processAllAvailable()
    in1.addData(b2: _*); q1.processAllAvailable()
    q1.stop()

    // Restart: the frozen model reloads identically and the carried
    // partial packs + pack numbering continue. The fresh MemoryStream
    // restarts engine batch ids at 0 — the recorded replay fingerprints
    // must catch the id reuse and rebase instead of overwriting batch 0's
    // landed packs.
    val h2 = PackStream.resume(spark, dir, corpus.limit(0), "doc_id", "text")
    assert(h2.model.merges == h.model.merges &&
      h2.model.vocab == h.model.vocab && h2.model.window == 256)
    val in2 = MemoryStream[NdDoc]
    val q2 = PackStream.run(in2.toDF(), h2, "doc_id", "text", out)
    in2.addData(b3: _*); q2.processAllAvailable()
    q2.stop()

    // Expected: batch packing over the full arrival sequence (arrival
    // order == doc_id order here), same frozen model, full windows only.
    val vmap = typedlit(h.model.vocab)
    val allIds = corpus.where(col("doc_id") < 60)
      .select(col("doc_id").cast("long").as("doc_id"),
        pmod(col("doc_id").cast("long"), lit(4L)).as("shard"),
        transform(Bpe.encode(col("text"), h.model.merges),
          t => coalesce(element_at(vmap, t), lit(-1L))).as("tids"))
    val expected = Packing.packWindows(allIds, 256)
      .where(col("n_tokens") === 256)
      .select(col("shard"), col("pack_id"),
        concat_ws(",", transform(col("tids"), t => t.cast("string")))
          .as("token_ids"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val got = Seq("b0", "b1", "b2")
      .map(b => spark.read.parquet(s"$out/$b")
        .select("shard", "pack_id", "token_ids"))
      .reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == expected && got.nonEmpty,
      "streamed packs must equal the batch packing of the arrival sequence")
  }

  test("pack stream: unigram tokenizer family — bootstrap persists the " +
      "model, a restart reloads it bit-identically, streamed packs equal " +
      "batch packing under the unigram encode, and a mismatched family " +
      "resume fails loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.operators.Packing
    import graft.streaming.PackStream

    val corpus = spark.table("documents")
    val dir = java.nio.file.Files.createTempDirectory("packuni").toString
    val out = java.nio.file.Files.createTempDirectory("packuniout").toString
    val h = PackStream.resume(spark, dir, corpus, "doc_id", "text",
      nShards = 4L, window = 256, tokenizer = "unigram")
    assert(h.model.tokenizer == "unigram" && h.model.merges.isEmpty &&
      h.model.unigram.nonEmpty,
      "unigram bootstrap must train and carry the unigram model")

    val arrivals = corpus.where(col("doc_id") < 60)
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").as[NdDoc].collect()
    val (b1, b2) = arrivals.splitAt(30)
    val in1 = MemoryStream[NdDoc]
    val q1 = PackStream.run(in1.toDF(), h, "doc_id", "text", out)
    in1.addData(b1: _*); q1.processAllAvailable()
    q1.stop()

    // Restart WITHOUT naming the family: the committed params carry it,
    // and the persisted model reloads value-identical (the t23b
    // persistence contract — equal models ⇒ identical Viterbi streams).
    val h2 = PackStream.resume(spark, dir, corpus.limit(0), "doc_id",
      "text")
    assert(h2.model == h.model,
      "restart must reload the identical frozen unigram model")
    val in2 = MemoryStream[NdDoc]
    val q2 = PackStream.run(in2.toDF(), h2, "doc_id", "text", out)
    in2.addData(b2: _*); q2.processAllAvailable()
    q2.stop()

    // Parity: batch packing over the same arrival sequence under the
    // SAME family encode (Model.encodeText — the one splice point).
    val vmap = typedlit(h.model.vocab)
    val allIds = corpus.where(col("doc_id") < 60)
      .select(col("doc_id").cast("long").as("doc_id"),
        pmod(col("doc_id").cast("long"), lit(4L)).as("shard"),
        transform(h.model.encodeText(col("text")),
          t => coalesce(element_at(vmap, t), lit(-1L))).as("tids"))
    val expected = Packing.packWindows(allIds, 256)
      .where(col("n_tokens") === 256)
      .select(col("shard"), col("pack_id"),
        concat_ws(",", transform(col("tids"), t => t.cast("string")))
          .as("token_ids"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val got = Seq("b0", "b1")
      .map(b => spark.read.parquet(s"$out/$b")
        .select("shard", "pack_id", "token_ids"))
      .reduce(_ unionByName _)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(got == expected && got.nonEmpty,
      "streamed unigram packs must equal the batch packing")
    // No token ever fell back to the unknown id: the trainer seeds every
    // corpus code point, so the frozen vocab covers the whole corpus.
    assert(!got.exists(_._3.split(',').contains("-1")),
      "unigram encode must never emit an out-of-vocab token id on its " +
        "training corpus")

    // The family is frozen: an explicit mismatched resume fails loudly.
    val e = intercept[IllegalArgumentException] {
      PackStream.resume(spark, dir, corpus.limit(0), "doc_id", "text",
        tokenizer = "bpe")
    }
    assert(e.getMessage.contains("frozen"))
  }

  test("pack stream: a replayed batch recomputes identical packs and the " +
      "idempotent sink stays exactly-once") {
    import org.apache.spark.sql.functions._
    import graft.streaming.PackStream

    val corpus = spark.table("documents")
    val dir = java.nio.file.Files.createTempDirectory("packcrash").toString
    val out = java.nio.file.Files.createTempDirectory("packcrashout").toString
    val h = PackStream.resume(spark, dir, corpus, "doc_id", "text",
      nShards = 2L, nMerges = 8, window = 64)
    val batch1 = corpus.where(col("doc_id") < 10)
      .select(col("doc_id"), col("text"))
    val batch2 = corpus.where(col("doc_id") >= 10 && col("doc_id") < 20)
      .select(col("doc_id"), col("text"))

    def packsAt(b: Long) = spark.read.parquet(s"$out/b$b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .toSet
    assert(PackStream.processBatch(h, batch1, 0L, "doc_id", "text", out) == 0L)
    val first = packsAt(0L)
    assert(first.nonEmpty)
    // Crash between sink and offsets commit → the engine re-delivers the
    // same batch under the same id: the recompute from the retained base
    // generation is bit-identical and the sink overwrites, not appends.
    assert(PackStream.processBatch(h, batch1, 0L, "doc_id", "text", out) == 0L)
    assert(packsAt(0L) == first)
    // The stream continues past the replay with the state the replay
    // rewrote — and every landed pack is exactly the window size.
    assert(PackStream.processBatch(h, batch2, 1L, "doc_id", "text", out) == 1L)
    val all = spark.read.parquet(s"$out/b0")
      .select("shard", "pack_id", "n_tokens", "token_ids")
      .unionByName(spark.read.parquet(s"$out/b1")
        .select("shard", "pack_id", "n_tokens", "token_ids"))
    assert(all.where(col("n_tokens") =!= 64).count() == 0)
    // Conservation: landed tokens + carried tokens == ingested tokens.
    val ingested = corpus.where(col("doc_id") < 20)
      .select(size(graft.operators.Bpe.encode(col("text"),
        h.model.merges)).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    val landed = all.agg(sum("n_tokens")).head().getLong(0)
    val carried = spark.read.parquet(s"$dir/state/g2/pending")
      .select(size(col("pending")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(landed + carried == ingested)
  }

  test("pack retraction: erasing docs from the landed export reproduces, " +
      "pack for pack, the from-scratch export of the surviving docs — " +
      "idempotently, touching only the affected shards") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.PackStream

    val corpus = spark.table("documents")
    val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "shard long, pack_id long, n_tokens long, token_ids string")
    // (batch, shard, pack_id, token_ids) of every landed pack — explicit
    // schema so a batch with zero full packs (empty dir) reads as empty.
    def export(out: String, batches: Seq[Long]): Set[(Long, Long, Long, String)] =
      batches.flatMap { b =>
        spark.read.schema(pSchema).parquet(s"$out/b$b")
          .select(lit(b).as("b"), col("shard"), col("pack_id"),
            col("token_ids"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3)))
      }.toSet
    def newestState(dir: String): Set[(Long, Long, Seq[Long])] = {
      val root = new java.io.File(s"$dir/state")
      val GenName = "g(\\d+)(?:r(\\d+))?".r
      val newest = root.listFiles().map(_.getName)
        .collect { case n @ GenName(g, r) =>
          (g.toLong, Option(r).map(_.toLong).getOrElse(0L), n) }
        .sorted.last._3
      spark.read.parquet(s"$dir/state/$newest/pending")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Long](2))).toSet
    }
    def manifestRows(dir: String): Set[(Long, Long, Long, Long, Long)] =
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$dir/manifest")
        .collect().map(r => (r.getAs[Long]("batch_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("tie"))).toSet

    def runExport(drop: Set[Long]): (String, String, PackStream.Handle) = {
      val dir = java.nio.file.Files.createTempDirectory("rtrstate").toString
      val out = java.nio.file.Files.createTempDirectory("rtrout").toString
      val h = PackStream.resume(spark, dir, corpus, "doc_id", "text",
        nShards = 4L, nMerges = 12, window = 64)
      Seq(0L until 20L, 20L until 40L, 40L until 60L)
        .zipWithIndex.foreach { case (idsR, b) =>
          val batch = corpus
            .where(col("doc_id").isin(idsR.filterNot(drop): _*))
            .select(col("doc_id"), col("text"))
          PackStream.processBatch(h, batch, b.toLong, "doc_id", "text", out)
        }
      (dir, out, h)
    }

    // Withdraw an early doc (most of its shard's stream reflows), two
    // from one shard, and one near the end (likely still in pending).
    val withdrawn = Set(4L, 25L, 57L)
    val (dir, out, h) = runExport(drop = Set.empty)
    val (refDir, refOut, refH) = runExport(drop = withdrawn)
    assert(refH.model == h.model, "same corpus → same frozen tokenizer")

    // Untouched shards' files must not be rewritten: record mtimes.
    val affShards = withdrawn.map(_ % 4)
    def untouchedFiles(root: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(root))
        .filter(_.getName.endsWith(".parquet"))
        .filterNot(f => affShards.exists(s => f.getPath.contains(s"sh=$s/")))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val untouchedBefore = untouchedFiles(out)

    val stats = PackStream.retract(spark, h, out,
      (withdrawn + 999L).toSeq.toDF("doc_id"), requestKey = Some("gdpr1"))
    assert(!stats.alreadyApplied && stats.docsRemoved == 3 &&
      stats.tokensRemoved > 0 && stats.affectedShards == affShards.size &&
      stats.packsRewritten > 0,
      s"stats: $stats")

    // THE equivalence: retracted export == from-scratch export of the
    // surviving docs — packs (with their batch placement), carried
    // state, and lineage manifests all identical.
    val batches = Seq(0L, 1L, 2L)
    locally {
      val got = export(out, batches)
      val exp = export(refOut, batches)
      val onlyGot = (got -- exp).toSeq.sortBy(t => (t._1, t._2, t._3))
      val onlyExp = (exp -- got).toSeq.sortBy(t => (t._1, t._2, t._3))
      assert(onlyGot.isEmpty && onlyExp.isEmpty,
        s"retracted packs must equal the from-scratch packs:\n" +
          s"got=${got.size} exp=${exp.size}\n" +
          s"onlyGot=${onlyGot.take(4).map(t => (t._1, t._2, t._3))}\n" +
          s"onlyExp=${onlyExp.take(4).map(t => (t._1, t._2, t._3))}")
    }
    assert(newestState(dir) == newestState(refDir),
      "retracted carried state must equal the from-scratch state")
    assert(manifestRows(dir) == manifestRows(refDir),
      "retracted lineage must equal the from-scratch lineage")

    // Shard-sized touch: no file outside the affected shards rewritten.
    val untouchedAfter = untouchedFiles(out)
    assert(untouchedBefore.forall { case (p, m) =>
      untouchedAfter.get(p).contains(m) },
      "files of unaffected shards must not be rewritten")

    // Idempotence: same key replays as a no-op; a fresh key with the
    // same (now absent) docs erases nothing and changes nothing.
    val again = PackStream.retract(spark, h, out,
      (withdrawn + 999L).toSeq.toDF("doc_id"), requestKey = Some("gdpr1"))
    assert(again.alreadyApplied && again.docsRemoved == 3)
    val fresh = PackStream.retract(spark, h, out,
      withdrawn.toSeq.toDF("doc_id"), requestKey = Some("gdpr2"))
    assert(!fresh.alreadyApplied && fresh.docsRemoved == 0)
    assert(export(out, batches) == export(refOut, batches))

    // A reused key with different ids must fail loudly.
    intercept[IllegalArgumentException] {
      PackStream.retract(spark, h, out, Seq(11L).toDF("doc_id"),
        requestKey = Some("gdpr1"))
    }

    // TAIL erasure regression (40× probe catch): withdrawing a shard's
    // entire tail from mid-stream leaves the boundary dir's reflow with
    // ZERO new full packs — everything after the boundary becomes
    // pending — yet the dir still holds carried prefix packs. A
    // worklist derived from range predicates instead of the placed rows
    // deleted that dir, losing the prefix packs; the equivalence below
    // pins the fix.
    val tail = Set(29L, 33L, 37L, 41L, 45L, 49L, 53L, 57L)
    val (dir2, out2, h2) = runExport(drop = Set.empty)
    val (refDir2, refOut2, _) = runExport(drop = tail)
    val st2 = PackStream.retract(spark, h2, out2, tail.toSeq.toDF("doc_id"),
      requestKey = Some("tail"))
    assert(st2.docsRemoved == tail.size)
    assert(export(out2, batches) == export(refOut2, batches),
      "tail erasure must preserve the boundary dir's prefix packs")
    assert(newestState(dir2) == newestState(refDir2))

    // Sequential erasures COMPOSE: a second retraction runs over the
    // already-rewritten export (revision-of-revision state g<n>r2,
    // manifests already shrunk once) and must land exactly where a
    // from-scratch export minus the UNION would.
    val setA = Set(4L, 25L); val setB = Set(57L, 13L)
    val (dir3, out3, h3) = runExport(drop = Set.empty)
    val (refDir3, refOut3, _) = runExport(drop = setA ++ setB)
    PackStream.retract(spark, h3, out3, setA.toSeq.toDF("doc_id"),
      requestKey = Some("seq1"))
    PackStream.retract(spark, h3, out3, setB.toSeq.toDF("doc_id"),
      requestKey = Some("seq2"))
    assert(export(out3, batches) == export(refOut3, batches),
      "sequential erasures must equal the from-scratch union erasure")
    assert(newestState(dir3) == newestState(refDir3))
    assert(manifestRows(dir3) == manifestRows(refDir3))
  }

  test("pack retraction edge contracts: pruned-replay-cover skip, " +
      "phantom-manifest guard, suffix-sized range worklist") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.PackStream

    val corpus = spark.table("documents")
    val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "shard long, pack_id long, n_tokens long, token_ids string")
    def export(out: String): Set[(Long, Long, Long, String)] =
      new java.io.File(out).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
        .flatMap { bd =>
          val b = bd.getName.drop(1).toLong
          spark.read.schema(pSchema).parquet(bd.getPath)
            .collect().map(r => (b, r.getLong(0), r.getLong(1),
              r.getString(3)))
        }.toSet
    def runExport(drop: Set[Long]): (String, String, PackStream.Handle) = {
      val dir = java.nio.file.Files.createTempDirectory("rtestate").toString
      val out = java.nio.file.Files.createTempDirectory("rteout").toString
      val h = PackStream.resume(spark, dir, corpus, "doc_id", "text",
        nShards = 4L, nMerges = 12, window = 64)
      Seq(0L until 20L, 20L until 40L, 40L until 60L)
        .zipWithIndex.foreach { case (idsR, b) =>
          val batch = corpus
            .where(col("doc_id").isin(idsR.filterNot(drop): _*))
            .select(col("doc_id"), col("text"))
          PackStream.processBatch(h, batch, b.toLong, "doc_id", "text", out)
        }
      (dir, out, h)
    }

    val withdrawn = Set(4L, 25L, 57L)
    val (dir, out, h) = runExport(drop = Set.empty)
    val (_, refOut, _) = runExport(drop = withdrawn)
    val stats = PackStream.retract(spark, h, out,
      withdrawn.toSeq.toDF("doc_id"), requestKey = Some("edge1"))
    assert(stats.docsRemoved == 3)
    // The collected range worklist exists and is bounded by batches ×
    // affected shards (the suffix bound's ceiling on this tiny export;
    // flatness under growth is the 400× probe's assertion).
    assert(stats.rangesCollected > 0 &&
      stats.rangesCollected <= 2L * 3L * stats.affectedShards,
      s"rangesCollected=${stats.rangesCollected}")

    // ADVICE-medium window: the engine replays the LAST pre-retraction
    // batch (crash after its state committed, before engine offsets;
    // retraction applied before restart). The replay cover g3 was pruned
    // to the revision g3r1 — processBatch must SKIP (output already
    // landed, post-erasure), not rebase-and-refold, which would duplicate
    // every surviving doc of the batch in the export.
    val exportAfterRetract = export(out)
    val replay = corpus.where(col("doc_id").isin(40L until 60L: _*))
      .select(col("doc_id"), col("text"))
    val eff = PackStream.processBatch(h, replay, 2L, "doc_id", "text", out)
    assert(eff == 2L)
    assert(!new java.io.File(s"$out/b3").exists(),
      "a skipped replay must not land a rebased batch directory")
    assert(export(out) == exportAfterRetract,
      "a replay of a retraction-pruned batch must leave the export " +
        "byte-identical (no silent duplication)")
    assert(export(out) == export(refOut),
      "post-skip export still equals the from-scratch survivors' export")
    // The stream keeps moving: the NEXT batch (id 3) folds normally.
    val next = corpus.where(col("doc_id").isin(60L until 70L: _*))
      .select(col("doc_id"), col("text"))
    assert(PackStream.processBatch(h, next, 3L, "doc_id", "text", out) == 3L)

    // Phantom-manifest guard: a manifest dir with no landed pack dir
    // (crash between manifest write and pack sink) must fail loudly with
    // the restart remedy, before any mutation.
    val phantomSrc = new java.io.File(s"$dir/manifest/b2")
    val phantom = new java.io.File(s"$dir/manifest/b9")
    org.apache.commons.io.FileUtils.copyDirectory(phantomSrc, phantom)
    val ex = intercept[IllegalArgumentException] {
      PackStream.retract(spark, h, out, Seq(5L).toDF("doc_id"),
        requestKey = Some("edge2"))
    }
    assert(ex.getMessage.contains("no landed pack directory"))
    org.apache.commons.io.FileUtils.deleteDirectory(phantom)
  }

  test("pack retraction property: seeded random withdrawal sets equal " +
      "the from-scratch export of the survivors (small window, odd " +
      "shard count — the boundary-arithmetic gauntlet)", SlowTest) {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.PackStream

    val corpus = spark.table("documents")
    val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "shard long, pack_id long, n_tokens long, token_ids string")
    def export(out: String): Set[(Long, Long, Long, String)] =
      Seq(0L, 1L, 2L).flatMap { b =>
        spark.read.schema(pSchema).parquet(s"$out/b$b")
          .select(lit(b), col("shard"), col("pack_id"), col("token_ids"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3)))
      }.toSet
    def runExport(drop: Set[Long]): (String, PackStream.Handle) = {
      val dir = java.nio.file.Files.createTempDirectory("rprop").toString
      val out = java.nio.file.Files.createTempDirectory("rpropo").toString
      val h = PackStream.resume(spark, dir, corpus, "doc_id", "text",
        nShards = 3L, nMerges = 10, window = 32)
      Seq(0L until 20L, 20L until 40L, 40L until 60L)
        .zipWithIndex.foreach { case (idsR, b) =>
          PackStream.processBatch(h,
            corpus.where(col("doc_id").isin(idsR.filterNot(drop): _*))
              .select(col("doc_id"), col("text")),
            b.toLong, "doc_id", "text", out)
        }
      (out, h)
    }
    Seq(7, 21, 1341).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val withdrawn = (0L until 60L).filter(_ => rnd.nextDouble() < 0.2).toSet
      val (out, h) = runExport(Set.empty)
      val (refOut, _) = runExport(withdrawn)
      val stats = PackStream.retract(spark, h, out,
        withdrawn.toSeq.toDF("doc_id"), requestKey = Some(s"p$seed"))
      assert(stats.docsRemoved == withdrawn.size, s"seed $seed: $stats")
      assert(export(out) == export(refOut),
        s"seed $seed (withdrawn=$withdrawn): retracted export must equal " +
          "the from-scratch survivors' export")
    }
  }

  test("export pipeline: gate → exact dedup → NEAR-dup → pack end to " +
      "end; streamed packs equal the one-batch run across a restart; " +
      "bootstrap curates the corpus before indexing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.ExportPipeline

    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    val spam = Seq.fill(16)("spam").mkString(" ")
    // Corpus: two good docs, a low-quality doc (must be gated OUT of the
    // bootstrap index), and an exact dup of doc 1 (bootstrap dedup).
    val corpus = Seq(good(1, "alpha"), good(2, "beta"), NdDoc(3L, spam),
      NdDoc(4L, good(1, "alpha").text)).toDF("doc_id", "text")

    // Arrivals, ids ascending so arrival order == doc_id order (the
    // one-batch reference run then packs the identical sequence). Docs 10
    // and 22 share shard 0 (id % 2), so batch 1's packs continue batch 0's
    // carried partial window ACROSS the restart below.
    // Doc 13: NEAR-dup of corpus doc 2 (one word edited — different exact
    // fingerprint, shingle-Jaccard ≈ 0.88) — sails through the exact
    // stage, must drop at the FUZZY stage. Doc 21: the same shape against
    // STREAM history (near-dup of batch-0's kept doc 10).
    def nearVariant(id: Long, of: NdDoc): NdDoc =
      NdDoc(id, of.text.split(" ").dropRight(1).mkString(" ") + " edited")
    val b1 = Seq(good(10, "gamma"),              // novel → kept
      NdDoc(11, good(1, "alpha").text),          // corpus dup → dropped
      NdDoc(12, spam),                           // low quality → gated
      nearVariant(13, good(2, "beta")))          // corpus NEAR-dup → fuzzy-dropped
    val b2 = Seq(NdDoc(20, good(10, "gamma").text), // stream-history dup
      nearVariant(21, good(10, "gamma")),        // stream NEAR-dup → fuzzy-dropped
      good(22, "delta"))                         // novel → kept

    val root = java.nio.file.Files.createTempDirectory("xpipe").toString
    val out = java.nio.file.Files.createTempDirectory("xpipeout").toString
    val kept = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    def keptTap(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      kept.synchronized {
        kept += id -> batch.select(col("doc_id").cast("long"))
          .as[Long].collect().sorted.toSeq
      }

    val h = ExportPipeline.resume(spark, root, corpus, "doc_id", "text",
      nShards = 2L, nMerges = 8, window = 32)
    val in1 = MemoryStream[NdDoc]
    val q1 = ExportPipeline.run(in1.toDF(), h, "doc_id", "text", out,
      keptSink = keptTap)
    in1.addData(b1: _*); q1.processAllAvailable()
    q1.stop()

    // Restart: both stages restore from their checkpoints (the corpus
    // frame is empty — bootstrap must not rerun), the frozen tokenizer
    // reloads identically, and the fresh MemoryStream's id reuse rebases.
    val h2 = ExportPipeline.resume(spark, root, corpus.limit(0),
      "doc_id", "text")
    assert(h2.pack.model == h.pack.model,
      "restart must reload the identical frozen tokenizer")
    val in2 = MemoryStream[NdDoc]
    val q2 = ExportPipeline.run(in2.toDF(), h2, "doc_id", "text", out,
      keptSink = keptTap)
    in2.addData(b2: _*); q2.processAllAvailable()
    q2.stop()

    // Gate and dedup verdicts, batch by batch: only the novel good docs
    // survive — the corpus dup (vs the CURATED bootstrap index), the
    // low-quality arrival, and the stream-history dup all drop.
    assert(kept.toSeq == Seq(0L -> Seq(10L), 1L -> Seq(22L)),
      s"kept log: $kept")

    // Reference: the same arrivals through a fresh pipeline in ONE batch.
    // Same curated corpus → deterministic BPE → the same frozen model, so
    // per-shard token streams (and hence full-window packs) must be
    // IDENTICAL to the two-batch restarted run.
    val refRoot = java.nio.file.Files.createTempDirectory("xpiperef").toString
    val refOut = java.nio.file.Files.createTempDirectory("xpiperefo").toString
    val hr = ExportPipeline.resume(spark, refRoot, corpus, "doc_id", "text",
      nShards = 2L, nMerges = 8, window = 32)
    assert(hr.pack.model == h.pack.model)
    val inr = MemoryStream[NdDoc]
    val qr = ExportPipeline.run(inr.toDF(), hr, "doc_id", "text", refOut)
    inr.addData((b1 ++ b2): _*); qr.processAllAvailable()
    qr.stop()

    def packsOf(dir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    val streamed = packsOf(out)
    assert(streamed.nonEmpty && streamed == packsOf(refOut),
      "restarted two-batch packs must equal the one-batch reference")

    // Conservation through the whole pipeline: landed + carried tokens ==
    // the encoded tokens of exactly the surviving docs.
    val survivors = Seq(good(10, "gamma"), good(22, "delta"))
      .toDF("doc_id", "text")
    val ingested = survivors.select(
        size(graft.operators.Bpe.encode(col("text"), h.pack.model.merges))
          .cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    val landed = spark.read.option("recursiveFileLookup", "true").parquet(out)
      .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
    val lastGen = new java.io.File(s"$root/pack/state").listFiles()
      .map(_.getName).filter(_.matches("g\\d+")).map(_.drop(1).toLong).max
    val carried = spark.read.parquet(s"$root/pack/state/g$lastGen/pending")
      .select(size(col("pending")).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(landed + carried == ingested,
      s"landed=$landed carried=$carried ingested=$ingested")
  }

  test("export pipeline: gate thresholds persist at bootstrap; a resume " +
      "with different caller params fails loudly instead of silently " +
      "re-gating") {
    import spark.implicits._
    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    val corpus = Seq(good(1, "alpha"), good(2, "beta"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("xgate").toString

    val h = graft.streaming.ExportPipeline.resume(spark, root, corpus,
      "doc_id", "text", nShards = 2L, nMerges = 8, window = 32,
      minTokens = 12, minDistinctRatio = 0.4)
    assert(h.minTokens == 12 && h.minDistinctRatio == 0.4)

    // Restart re-passing the bootstrap values: adopted.
    val h2 = graft.streaming.ExportPipeline.resume(spark, root,
      corpus.limit(0), "doc_id", "text", minTokens = 12,
      minDistinctRatio = 0.4)
    assert(h2.minTokens == 12 && h2.minDistinctRatio == 0.4)

    // Restart with DIFFERENT values (here: the defaults): rejected before
    // any stage loads — the stream must never run at a different bar than
    // the indexes were curated with.
    val e = intercept[IllegalArgumentException] {
      graft.streaming.ExportPipeline.resume(spark, root, corpus.limit(0),
        "doc_id", "text")
    }
    assert(e.getMessage.contains("bootstrapped with"))
  }

  test("packWindows: duplicate sort keys conserve tokens and pack " +
      "deterministically (explicit ROWS frame + content-hash tiebreak)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Packing

    // Three rows TIE on doc_id within shard 0 — under the default RANGE
    // frame all three would receive the full tie-group cumulative sum,
    // overlapping their slices (duplicating some tokens, dropping others).
    // Two of the tied rows are byte-identical (interchangeable), one is
    // distinct content (hash-ordered).
    val ids = Seq(
      (7L, 0L, (0L until 5L).toArray),
      (7L, 0L, (100L until 108L).toArray),
      (7L, 0L, (100L until 108L).toArray),
      (9L, 0L, (200L until 210L).toArray),
      (1L, 1L, (300L until 303L).toArray))
      .toDF("doc_id", "shard", "tids")
    val total = 5L + 8L + 8L + 10L + 3L

    def run() = Packing.packWindows(ids, window = 8)
      .select(col("shard"), col("pack_id"),
        concat_ws(",", transform(col("tids"), t => t.cast("string")))
          .as("s"), col("n_tokens"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2))
    val a = run()
    // Conservation: every input token lands in exactly one pack — the
    // landed MULTISET equals the input multiset (the identical twin rows
    // both pack), so a RANGE-frame overlap (duplicating some tokens while
    // dropping others) cannot hide behind a matching count.
    assert(a.map(_._4).sum == total, s"packs must conserve tokens: $a")
    val flat = a.flatMap(_._3.split(",").map(_.toLong)).sorted.toSeq
    val want = ((0L until 5L) ++ (100L until 108L) ++ (100L until 108L) ++
      (200L until 210L) ++ (300L until 303L)).sorted
    assert(flat == want, "landed tokens must equal the input multiset")
    // Determinism: identical input packs identical bytes on every run.
    assert(run().toSeq == a.toSeq)
  }

  test("pack stream: a real arrival with doc_id Long.MinValue cannot " +
      "collide with the carried-state ordering") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.PackStream

    val corpus = spark.table("documents")
    val dir = java.nio.file.Files.createTempDirectory("packminid").toString
    val out = java.nio.file.Files.createTempDirectory("packminout").toString
    val h = PackStream.resume(spark, dir, corpus, "doc_id", "text",
      nShards = 2L, nMerges = 8, window = 64)

    // Batch 0 leaves a carried partial on shard 0 (even ids → shard 0).
    val b0 = corpus.where(col("doc_id").isin(2L, 4L, 6L))
      .select(col("doc_id"), col("text"))
    PackStream.processBatch(h, b0, 0L, "doc_id", "text", out)
    val carried0 = spark.read.parquet(s"$dir/state/g1/pending")
      .where(col("shard") === 0L)
      .select(size(col("pending")).cast("long").as("n"))
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    assert(carried0 > 0, "fixture must carry a partial window on shard 0")

    // Batch 1 contains a doc whose id IS Long.MinValue — it maps to
    // shard 0 (pmod) and, with the old sentinel encoding, would tie with
    // the carried-state pseudo-doc and corrupt that shard's pack bytes.
    // The carried tokens must still pack strictly BEFORE it.
    val minDoc = Seq((Long.MinValue,
      corpus.where(col("doc_id") === 8L).select("text")
        .head().getString(0))).toDF("doc_id", "text")
    val b1 = minDoc.unionByName(
      corpus.where(col("doc_id").isin(10L, 12L))
        .select(col("doc_id").cast("long").as("doc_id"), col("text")))
    PackStream.processBatch(h, b1, 1L, "doc_id", "text", out)

    // Conservation across both batches: landed + carried == ingested.
    val ingested = b0.unionByName(
        minDoc.unionByName(corpus.where(col("doc_id").isin(10L, 12L))
          .select(col("doc_id").cast("long").as("doc_id"), col("text"))))
      .select(size(graft.operators.Bpe.encode(col("text"),
        h.model.merges)).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    val landed = spark.read.option("recursiveFileLookup", "true").parquet(out)
      .agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
    val carried = spark.read.parquet(s"$dir/state/g2/pending")
      .select(size(col("pending")).cast("long").as("n"))
      .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
    assert(landed + carried == ingested,
      s"landed=$landed carried=$carried ingested=$ingested")

    // Ordering: shard 0's first landed pack must OPEN with the batch-0
    // carry (tokens of doc 2's tail), not with the MinValue doc's tokens —
    // the carry sorts first by pack_ord, never by a sentinel id tie.
    val carryHead = spark.read.parquet(s"$dir/state/g1/pending")
      .where(col("shard") === 0L).select(col("pending"))
      .head().getSeq[Long](0)
    val shard0Packs = spark.read.option("recursiveFileLookup", "true")
      .parquet(out).where(col("shard") === 0L)
      .orderBy("pack_id").select("token_ids").collect().map(_.getString(0))
    val batch1Shard0 = shard0Packs.drop(
      spark.read.parquet(s"$out/b0").where(col("shard") === 0L).count().toInt)
    assert(batch1Shard0.nonEmpty &&
      batch1Shard0.head.startsWith(carryHead.mkString(",")),
      "batch 1's first shard-0 pack must begin with the carried tokens")
  }

  test("takedown stream: fp content + ivf/pq id deletes, exactly-once " +
      "across replay, ordering preserved across a crash-window re-apply") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Similarity}
    import graft.streaming.{FpDedupStream, TakedownStream}

    // Live fp stream with two corpus contents.
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val fpDir = java.nio.file.Files.createTempDirectory("tdfp").toString
    val st = FpDedupStream.resume(spark, fpDir, corpus, "doc_id", "text")
    val in = MemoryStream[NdDoc]
    val q = FpDedupStream.run(in.toDF(), st, "doc_id", "text",
      compactEvery = 1000, checkpointPath = Some(fpDir)) { _ => () }
    in.addData(NdDoc(10, "epsilon zeta")); q.processAllAvailable()

    // Saved serving indexes the id-deletes target.
    val emb = spark.table("embeddings")
    val ivfDir = java.nio.file.Files.createTempDirectory("tdivf").toString
    val pqDir = java.nio.file.Files.createTempDirectory("tdpq").toString
    Similarity.saveIvfIndex(Similarity.buildIvfIndex(
      emb.where(col("vec_id") >= 10), "vec_id", "embedding"), ivfDir)
    Similarity.savePqIndex(Similarity.buildPqIndex(
      emb.where(col("vec_id") >= 10), "vec_id", "embedding"), pqDir)

    val tdDir = java.nio.file.Files.createTempDirectory("tdwal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = TakedownStream.Targets(
      fp = Some((st, fpDir)), ivf = Seq(ivfDir), pq = Seq(pqDir))

    // Event batch 0: withdraw content "alpha beta"; delete ids 20/40 from
    // the serving indexes.
    val ev0 = Seq(("fp", 1L, "alpha beta"), ("ivf", 20L, null),
      ("ivf", 40L, null), ("pq", 20L, null))
      .toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev0, 0L) == 0L)

    // fp effect: an identical fresh arrival is ADMITTED again.
    def admits(text: String): Boolean = Dedup.probeNovelExact(st.index,
      Seq((99L, text)).toDF("doc_id", "text"), "doc_id", "text").count() == 1
    assert(admits("alpha beta"), "withdrawn content must re-admit")
    assert(!admits("gamma delta"), "untouched content stays recognized")
    // Serving-index effect: masked at load.
    val queries = emb.where(col("vec_id") < 5)
    def ivfTop(): Set[Long] = Similarity.ivfProbe(
      Similarity.loadIvfIndex(spark, ivfDir), queries,
      "vec_id", "embedding", 5).select("cid")
      .collect().map(_.getLong(0)).toSet
    assert(!ivfTop().exists(Set(20L, 40L)), "deleted ids must be masked")
    val nTombs = Dedup.TombstoneLog.Fps.list(spark, fpDir).size

    // Engine replay of the fully-applied batch: a SKIP — no second
    // tombstone at a later position, same admit verdicts.
    assert(TakedownStream.processBatch(td, targets, ev0, 0L) == 0L)
    assert(Dedup.TombstoneLog.Fps.list(spark, fpDir).size == nTombs,
      "replay must not append a duplicate tombstone")

    // Ordering across a crash-window re-apply: the withdrawn content is
    // RE-ADMITTED by a later stream batch; replaying the takedown with its
    // applied marker lost must keep the re-admission (the keyed overwrite
    // lands at the RECORDED position, before the re-admitting batch).
    in.addData(NdDoc(20, "alpha beta")); q.processAllAvailable()
    q.stop()
    assert(!admits("alpha beta"), "re-admitted content is recognized again")
    val marker = new org.apache.hadoop.fs.Path(s"$tdDir/b0/applied")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, true)
    assert(TakedownStream.processBatch(td, targets, ev0, 0L) == 0L)
    assert(Dedup.TombstoneLog.Fps.list(spark, fpDir).size == nTombs,
      "crash-window re-apply rewrites the same tombstone, not a new one")
    assert(!admits("alpha beta"),
      "re-apply must not delete content a later batch re-admitted")
    // The durable story agrees: a fresh restore replays the tombstone at
    // its recorded position (before the re-admitting delta).
    val st2 = FpDedupStream.resume(spark, fpDir, corpus.limit(0),
      "doc_id", "text")
    assert(Dedup.probeNovelExact(st2.index,
      Seq((99L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)

    // Id reuse with DIFFERENT events rebases above the high-water mark.
    val ev1 = Seq(("ivf", 60L, null: String)).toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev1, 0L) == 1L)
    assert(!ivfTop().exists(Set(20L, 40L, 60L)))

    // Compaction applies the masks physically; probe-list partition
    // pruning survives on the RESTORED (masked) index.
    val compacted = Similarity.compactIvfIndex(spark, ivfDir)
    assert(compacted.assigned.where(
      col("cid").isin(20L, 40L, 60L)).count() == 0)
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = Similarity.ivfProbe(Similarity.loadIvfIndex(spark, ivfDir),
        queries, "vec_id", "embedding", 5)
        .queryExecution.executedPlan.collectLeaves().collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.contains("lists")) => f
        }
      assert(scans.nonEmpty && scans.head.partitionFilters.nonEmpty,
        "probe-list pruning must survive takedown masks on a restored index")
    } finally spark.conf.set("spark.sql.adaptive.enabled", savedAqe)

    // Applied-batch pruning keeps the newest `keep` WAL entries.
    TakedownStream.pruneApplied(spark, td, keep = 1)
    assert(!new java.io.File(s"$tdDir/b0").exists() &&
      new java.io.File(s"$tdDir/b1").exists())
    Dedup.releaseSketchCaches()
  }

  test("export pipeline + takedown: withdrawn content re-enters the " +
      "export on re-post, through both dedup gates, across a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.{ExportPipeline, TakedownStream}

    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    def nearVariant(id: Long, of: NdDoc): NdDoc =
      NdDoc(id, of.text.split(" ").dropRight(1).mkString(" ") + " edited")
    val corpus = Seq(good(1, "alpha"), good(2, "beta"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("xtd").toString
    val out = java.nio.file.Files.createTempDirectory("xtdout").toString
    val kept = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
    def tap(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      kept.synchronized {
        kept += id -> b.select(col("doc_id").cast("long"))
          .as[Long].collect().sorted.toSeq
      }

    val h = ExportPipeline.resume(spark, root, corpus, "doc_id", "text",
      nShards = 2L, nMerges = 8, window = 32)
    val in1 = MemoryStream[NdDoc]
    val q1 = ExportPipeline.run(in1.toDF(), h, "doc_id", "text", out,
      keptSink = tap)
    // Batch 0: exact re-post of corpus doc 1 — gated (the corpus content
    // is live) but its SKETCH still folds into the nd index under id 10
    // (full-batch fold); a novel doc is kept. No near-variant here: a
    // variant's own sketch would legitimately keep suppressing re-posts
    // of itself after the original's withdrawal (it was never withdrawn).
    in1.addData(NdDoc(10, good(1, "alpha").text), good(12, "gamma"))
    q1.processAllAvailable()

    // GDPR event between batches: withdraw corpus content 1 from BOTH the
    // pipeline's gates via its own takedown targets.
    val tdDir = java.nio.file.Files.createTempDirectory("xtdwal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = ExportPipeline.takedownTargets(h)
    val ev = Seq(("fp", 1L, good(1, "alpha").text),
      ("nd", 1L, good(1, "alpha").text)).toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)

    // Batch 1: the re-post now passes BOTH dedup gates and enters the
    // export — the fp takedown removed the content fingerprint, and the
    // content-addressed nd takedown stripped BOTH the corpus sketch and
    // the dropped batch-0 re-post's folded sketch (id 10). Its
    // near-variant 21 drops within-batch against 20 (first-wins), and a
    // near-variant of the untouched corpus doc 2 still drops at the
    // fuzzy stage. kept = {20}.
    in1.addData(NdDoc(20, good(1, "alpha").text),
      nearVariant(21, good(1, "alpha")), nearVariant(22, good(2, "beta")))
    q1.processAllAvailable()
    q1.stop()
    assert(kept.toSeq == Seq(0L -> Seq(12L), 1L -> Seq(20L)),
      s"kept log: $kept")

    // Restart: the takedown survives in both checkpoints — a fresh
    // re-post of the withdrawn content is a DUP again only because batch
    // 1 re-admitted it (not because the takedown was lost), and the
    // never-withdrawn corpus doc 2 still gates.
    val h2 = ExportPipeline.resume(spark, root, corpus.limit(0),
      "doc_id", "text")
    val in2 = MemoryStream[NdDoc]
    val q2 = ExportPipeline.run(in2.toDF(), h2, "doc_id", "text", out,
      keptSink = tap)
    in2.addData(NdDoc(30, good(2, "beta").text), good(31, "delta"))
    q2.processAllAvailable()
    q2.stop()
    assert(kept.toSeq.last == 2L -> Seq(31L),
      s"corpus doc 2 must still gate after restart: $kept")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("export pipeline, four stages: the substring gate drops recycled " +
      "boilerplate at arrival; restarted run equals the one-shot run " +
      "pack for pack; enablement is a persisted bootstrap decision") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.ExportPipeline

    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    val alpha = good(1, "alpha"); val beta = good(2, "beta")
    val corpus = Seq(alpha, beta).toDF("doc_id", "text")
    // Recycled-boilerplate shape: 10 contiguous words of alpha + 10 of
    // beta. Distinct fingerprint (passes exact), shingle-Jaccard vs
    // either source ≈ 0.36 (passes the 0.6 fuzzy gate) — but 6 of its 13
    // 8-token windows reproduce corpus windows verbatim → dup ratio 0.46
    // over the 0.35 bar → must drop at the SUBSTRING stage, the gap this
    // stage exists to close.
    def recycled(id: Long): NdDoc = NdDoc(id,
      (alpha.text.split(" ").take(10) ++ beta.text.split(" ").take(10))
        .mkString(" "))
    val b1 = Seq(good(10, "gamma"), recycled(11))
    val b2 = Seq(good(20, "delta"), recycled(21))

    def runFour(root: String, out: String,
        batches: Seq[Seq[NdDoc]], restartBetween: Boolean)
        : Seq[(Long, Seq[Long])] = {
      val kept = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long])]()
      def tap(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
        kept.synchronized {
          kept += id -> b.select(col("doc_id").cast("long"))
            .as[Long].collect().sorted.toSeq
        }
      var h = ExportPipeline.resume(spark, root, corpus, "doc_id", "text",
        nShards = 2L, nMerges = 8, window = 32,
        substringGate = true, ssMaxDupRatio = 0.35)
      var in = MemoryStream[NdDoc]
      var q = ExportPipeline.run(in.toDF(), h, "doc_id", "text", out,
        keptSink = tap)
      batches.zipWithIndex.foreach { case (docs, i) =>
        if (i > 0 && restartBetween) {
          q.stop()
          h = ExportPipeline.resume(spark, root, corpus.limit(0),
            "doc_id", "text", substringGate = true, ssMaxDupRatio = 0.35)
          in = MemoryStream[NdDoc]
          q = ExportPipeline.run(in.toDF(), h, "doc_id", "text", out,
            keptSink = tap)
        }
        in.addData(docs: _*); q.processAllAvailable()
      }
      q.stop()
      kept.toSeq
    }

    val root = java.nio.file.Files.createTempDirectory("x4root").toString
    val out = java.nio.file.Files.createTempDirectory("x4out").toString
    val kept = runFour(root, out, Seq(b1, b2), restartBetween = true)
    // The recycled docs drop at the substring stage in BOTH batches (the
    // second also proves the gate counts stream history across the
    // restart: recycled(21)'s windows met the corpus AND recycled(11)'s
    // batch-0 fold).
    assert(kept == Seq(0L -> Seq(10L), 1L -> Seq(20L)), s"kept: $kept")

    // One-shot reference: same arrivals, one batch, fresh root — packs
    // must be identical, pack for pack.
    val refRoot = java.nio.file.Files.createTempDirectory("x4ref").toString
    val refOut = java.nio.file.Files.createTempDirectory("x4refo").toString
    val keptRef = runFour(refRoot, refOut, Seq(b1 ++ b2),
      restartBetween = false)
    assert(keptRef == Seq(0L -> Seq(10L, 20L)), s"one-shot kept: $keptRef")
    def packsOf(dir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    assert(packsOf(out).nonEmpty && packsOf(out) == packsOf(refOut),
      "four-stage streamed packs must equal the one-shot run")

    // Enablement is persisted: resuming this root WITHOUT the gate (or
    // with different thresholds) fails loudly instead of un-curating.
    intercept[IllegalArgumentException] {
      ExportPipeline.resume(spark, root, corpus.limit(0), "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      ExportPipeline.resume(spark, root, corpus.limit(0), "doc_id", "text",
        substringGate = true, ssMaxDupRatio = 0.5)
    }
    // And it cannot be bolted onto an export bootstrapped without it.
    val plainRoot = java.nio.file.Files.createTempDirectory("x4plain")
      .toString
    val plainOut = java.nio.file.Files.createTempDirectory("x4plaino")
      .toString
    val hPlain = ExportPipeline.resume(spark, plainRoot, corpus,
      "doc_id", "text", nShards = 2L, nMerges = 8, window = 32)
    val inP = MemoryStream[NdDoc]
    val qP = ExportPipeline.run(inP.toDF(), hPlain, "doc_id", "text",
      plainOut)
    inP.addData(good(30, "iota")); qP.processAllAvailable(); qP.stop()
    intercept[IllegalArgumentException] {
      ExportPipeline.resume(spark, plainRoot, corpus.limit(0),
        "doc_id", "text", substringGate = true)
    }
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("export pipeline endurance with in-loop pack compaction: file " +
      "counts stay bounded as batches accumulate, packs byte-identical " +
      "to an uncompacted run, retraction exact over the compacted " +
      "layout, and a mid-compaction crash heals at the next stream start",
      SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ExportPipeline

    def doc(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 24).map(k => s"$seed$k").mkString(" "))
    val corpus = Seq(doc(1, "alpha"), doc(2, "beta")).toDF("doc_id", "text")
    // 6 batches × 4 novel docs, all passing every gate.
    val batches: Seq[Seq[NdDoc]] = (0 until 6).map { b =>
      (0 until 4).map(k => doc(100L + b * 10 + k, s"s${b}x${k}q")).toSeq
    }
    // The steady-state sink lands ~one file per (batch, shard) — leaf
    // fragmentation comes from retraction rewrites and out-of-band
    // backfills. The tap below emulates that regime deterministically:
    // after every EVEN batch lands, its leaves are rewritten into 3
    // content-identical fragments each (keptSink runs after the batch's
    // cadence slot, so the NEXT cadence fire must merge them back).
    def fragment(out: String)(kept: org.apache.spark.sql.DataFrame,
        id: Long): Unit = if (id % 2 == 0) {
      Option(new java.io.File(s"$out/b$id").listFiles()).getOrElse(Array())
        .filter(d => d.isDirectory && d.getName.startsWith("sh="))
        .foreach { sh =>
          val tmp = sh.getPath + ".fragtmp"
          spark.read.parquet(sh.getPath).repartition(3).write.parquet(tmp)
          sh.listFiles().filter(f => f.isFile &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
            .foreach(f => assert(f.delete()))
          new java.io.File(tmp).listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .zipWithIndex.foreach { case (f, i) =>
              java.nio.file.Files.move(f.toPath,
                new java.io.File(sh, s"frag-$i.parquet").toPath)
            }
          org.apache.commons.io.FileUtils.deleteDirectory(
            new java.io.File(tmp))
        }
    }

    def drive(root: String, out: String, every: Long, bs: Seq[Seq[NdDoc]],
        frag: Boolean): ExportPipeline.Handles = {
      val h = ExportPipeline.resume(spark, root, corpus, "doc_id", "text",
        nShards = 2L, nMerges = 8, window = 16)
      val in = MemoryStream[NdDoc]
      val q = ExportPipeline.run(in.toDF(), h, "doc_id", "text", out,
        compactEvery = 2,
        keptSink = if (frag) fragment(out) else (_, _) => (),
        compactPacksEvery = every, packTargetBytesPerFile = 1L << 30)
      bs.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      h
    }
    def packsOf(dir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    def leafCounts(out: String): Map[String, Int] =
      Option(new java.io.File(out).listFiles()).getOrElse(Array())
        .filter(d => d.isDirectory && d.getName.startsWith("b"))
        .flatMap { b =>
          b.listFiles().filter(d => d.isDirectory &&
            d.getName.startsWith("sh=")).map { sh =>
            s"${b.getName}/${sh.getName}" -> sh.listFiles().count(f =>
              f.isFile && !f.getName.startsWith(".") &&
                !f.getName.startsWith("_"))
          }
        }.toMap

    val rootA = java.nio.file.Files.createTempDirectory("xcmpa").toString
    val outA = java.nio.file.Files.createTempDirectory("xcmpao").toString
    val rootB = java.nio.file.Files.createTempDirectory("xcmpb").toString
    val outB = java.nio.file.Files.createTempDirectory("xcmpbo").toString
    val hA = drive(rootA, outA, every = 2, batches, frag = true)
    drive(rootB, outB, every = 0, batches, frag = true)

    // Content is compaction-invariant, batch for batch, pack for pack.
    assert(packsOf(outA).nonEmpty && packsOf(outA) == packsOf(outB),
      "compacted packs must equal the uncompacted run")
    // The uncompacted run stays fragmented (the cadence had real work);
    // the cadence bounded every leaf back to the byte target.
    val rawCounts = leafCounts(outB)
    assert(rawCounts.values.exists(_ > 1),
      s"fixture must produce multi-file leaves, got $rawCounts")
    val cmpCounts = leafCounts(outA)
    assert(cmpCounts.nonEmpty && cmpCounts.values.forall(_ == 1),
      s"every compacted leaf must hold one file, got $cmpCounts")

    // Retraction over the COMPACTED layout: equals the from-scratch
    // export of the surviving docs (the erasure contract, unchanged by
    // the leaf rewrites).
    val withdrawn = Set(121L, 150L)
    graft.streaming.PackStream.retract(spark, hA.pack, outA,
      withdrawn.toSeq.toDF("doc_id")): Unit
    val rootC = java.nio.file.Files.createTempDirectory("xcmpc").toString
    val outC = java.nio.file.Files.createTempDirectory("xcmpco").toString
    val extra = (0 until 4).map(k => doc(200L + k, s"s9x${k}q")).toSeq
    drive(rootC, outC, every = 2,
      batches.map(_.filterNot(d => withdrawn(d.doc_id))) :+ extra,
      frag = false)
    val packsC = packsOf(outC)

    // Mid-compaction crash: a complete copy whose leaf is already gone
    // (the worst half of the swap window). The next stream start must
    // heal it BEFORE processing anything — ExportPipeline.run's
    // compactRecover — restoring the leaf byte-for-byte.
    val leaf = s"$outA/b0/sh=0"
    val tmpLeaf = s"$outA/b0/.cmp_tmp_sh=0"
    spark.read.parquet(leaf).coalesce(1).write.parquet(tmpLeaf)
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    lfs.delete(new org.apache.hadoop.fs.Path(leaf), true)
    assert(!new java.io.File(leaf).exists())
    // Restart and continue the stream with one more batch: the recovery,
    // the retraction's leaf rewrites, and the resumed packing must all
    // compose to the from-scratch survivors' export.
    val h2 = ExportPipeline.resume(spark, rootA, corpus.limit(0),
      "doc_id", "text")
    val in2 = MemoryStream[NdDoc]
    val q2 = ExportPipeline.run(in2.toDF(), h2, "doc_id", "text", outA,
      compactEvery = 2, compactPacksEvery = 2)
    in2.addData(extra: _*); q2.processAllAvailable(); q2.stop()
    assert(packsOf(outA) == packsC,
      "healed + resumed export must equal the from-scratch survivors' run")
    assert(!java.nio.file.Files.walk(java.nio.file.Paths.get(outA))
      .anyMatch(p => p.getFileName.toString.startsWith(".cmp_tmp_")),
      "no tmp remnants may survive the recovery")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("takedown stream: export family — a withdrawn doc's tokens are " +
      "physically erased from the landed pack shards, replay-stable, " +
      "and its lineage rows disappear") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{ExportPipeline, TakedownStream}

    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    val corpus = Seq(good(1, "alpha"), good(2, "beta"))
      .toDF("doc_id", "text")
    def packsOf(dir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet

    def runPipeline(arrivals: Seq[NdDoc]): (String, String,
        ExportPipeline.Handles) = {
      val root = java.nio.file.Files.createTempDirectory("xte").toString
      val out = java.nio.file.Files.createTempDirectory("xteout").toString
      val h = ExportPipeline.resume(spark, root, corpus, "doc_id", "text",
        nShards = 2L, nMerges = 8, window = 32)
      val in = MemoryStream[NdDoc]
      val q = ExportPipeline.run(in.toDF(), h, "doc_id", "text", out)
      in.addData(arrivals: _*); q.processAllAvailable(); q.stop()
      (root, out, h)
    }
    val (root, out, h) = runPipeline(
      Seq(good(10, "gamma"), good(11, "delta"), good(12, "epsilon")))
    val (_, refOut, refH) = runPipeline(
      Seq(good(11, "delta"), good(12, "epsilon")))
    assert(refH.pack.model == h.pack.model)

    // One takedown batch: withdraw doc 10 from BOTH gates (content) and
    // from the landed export (id) — full erasure is the composition.
    val tdDir = java.nio.file.Files.createTempDirectory("xtewal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = ExportPipeline.takedownTargets(h, exportOut = Some(out))
    val ev = Seq(("fp", 10L, good(10, "gamma").text),
      ("nd", 10L, good(10, "gamma").text),
      ("export", 10L, null.asInstanceOf[String]))
      .toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)

    // The landed shards now equal the from-scratch export that never saw
    // doc 10 — and the lineage manifest forgets it too.
    assert(packsOf(out).nonEmpty && packsOf(out) == packsOf(refOut),
      "erased export must equal the never-saw-it export")
    val manifestIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/pack/manifest").select("doc_id")
      .as[Long].collect().toSet
    assert(!manifestIds.contains(10L) && manifestIds.contains(11L),
      s"lineage after erasure: $manifestIds")

    // Replay of the same engine batch: recognized, skipped, bytes
    // untouched (the export leg resumes via its applied marker).
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)
    assert(packsOf(out) == packsOf(refOut))

    // And the gates really were withdrawn: a re-post of doc 10's content
    // re-enters the export and repacks.
    val in2 = MemoryStream[NdDoc]
    val q2 = ExportPipeline.run(in2.toDF(), h, "doc_id", "text", out)
    in2.addData(NdDoc(20, good(10, "gamma").text))
    q2.processAllAvailable(); q2.stop()
    val manifestIds2 = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/pack/manifest").select("doc_id")
      .as[Long].collect().toSet
    assert(manifestIds2.contains(20L),
      s"re-posted content must re-enter after erasure: $manifestIds2")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("capstone composition: four-stage pipeline + one takedown batch " +
      "across fp, nd, ss AND export — gates withdrawn, shards erased, " +
      "re-post re-enters, all under the composed lock chain", SlowTest) {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{ExportPipeline, TakedownStream}

    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    val corpus = Seq(good(1, "alpha"), good(2, "beta"))
      .toDF("doc_id", "text")
    def packsOf(dir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    def runPipeline(arrivals: Seq[NdDoc]): (String, String,
        ExportPipeline.Handles) = {
      val root = java.nio.file.Files.createTempDirectory("cap4").toString
      val out = java.nio.file.Files.createTempDirectory("cap4o").toString
      val h = ExportPipeline.resume(spark, root, corpus, "doc_id", "text",
        nShards = 2L, nMerges = 8, window = 32, substringGate = true)
      val in = MemoryStream[NdDoc]
      val q = ExportPipeline.run(in.toDF(), h, "doc_id", "text", out)
      in.addData(arrivals: _*); q.processAllAvailable(); q.stop()
      (root, out, h)
    }
    val (root, out, h) = runPipeline(
      Seq(good(10, "gamma"), good(11, "delta")))
    val (_, refOut, refH) = runPipeline(Seq(good(11, "delta")))
    assert(refH.pack.model == h.pack.model)

    // One event batch, all four registered families: full erasure of
    // doc 10 — the gates forget it AND its tokens leave the shards.
    val td = TakedownStream.resume(spark,
      java.nio.file.Files.createTempDirectory("cap4td").toString)
    val targets = ExportPipeline.takedownTargets(h, exportOut = Some(out))
    assert(targets.ss.isDefined, "four-stage handles must expose the ss gate")
    val ev = Seq(
      ("fp", 10L, good(10, "gamma").text),
      ("nd", 10L, good(10, "gamma").text),
      ("ss", 10L, good(10, "gamma").text),
      ("export", 10L, null.asInstanceOf[String]))
      .toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)
    assert(packsOf(out).nonEmpty && packsOf(out) == packsOf(refOut),
      "erased export must equal the never-saw-it export")

    // The re-post passes every gate (exact, fuzzy, AND the substring
    // gate whose counts were decremented) and repacks.
    val in2 = MemoryStream[NdDoc]
    val q2 = ExportPipeline.run(in2.toDF(), h, "doc_id", "text", out)
    in2.addData(NdDoc(20, good(10, "gamma").text))
    q2.processAllAvailable(); q2.stop()
    val manifestIds = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/pack/manifest").select("doc_id")
      .as[Long].collect().toSet
    assert(manifestIds.contains(20L) && !manifestIds.contains(10L),
      s"re-post must re-enter after full erasure: $manifestIds")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("takedown stream: fingerprint collisions don't skip fresh batches; " +
      "a rebased batch's redelivery is recognized, not re-applied") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import graft.streaming.TakedownStream

    val emb = spark.table("embeddings")
    val ivfDir = java.nio.file.Files.createTempDirectory("tdcoll").toString
    Similarity.saveIvfIndex(Similarity.buildIvfIndex(
      emb.where(col("vec_id") >= 10), "vec_id", "embedding"), ivfDir)
    val tdDir = java.nio.file.Files.createTempDirectory("tdcollwal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = TakedownStream.Targets(ivf = Seq(ivfDir))

    // Batch A = {20, 20, 40}: XOR fingerprint h(20)^h(20)^h(40) = h(40),
    // count 3. Batch B = {40, 60, 60} has the SAME (h(40), 3) — the
    // duplicate-event cancellation a takedown feed naturally produces.
    val evA = Seq(("ivf", 20L, null: String), ("ivf", 20L, null: String),
      ("ivf", 40L, null: String)).toDF("family", "cid", "text")
    val evB = Seq(("ivf", 40L, null: String), ("ivf", 60L, null: String),
      ("ivf", 60L, null: String)).toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, evA, 0L) == 0L)
    // B arrives under a reused id (engine restarted without checkpoint):
    // the fingerprints collide, but the exact event comparison must see
    // a DIFFERENT batch and rebase — skipping would silently lose the
    // deletion of id 60.
    assert(TakedownStream.processBatch(td, targets, evB, 0L) == 1L)
    def masked(): Set[Long] = Similarity.loadIvfIndex(spark, ivfDir)
      .assigned.select("cid").collect().map(_.getLong(0)).toSet
    assert(!masked().exists(Set(20L, 40L, 60L)),
      "both batches' deletions must apply")
    def tombs(): Seq[String] = new java.io.File(s"$ivfDir/tombstones")
      .listFiles().map(_.getName).filter(_.startsWith("e_")).sorted.toSeq
    assert(tombs().size == 2)

    // Redelivery of B at its RAW id after the rebase (the crash-replay
    // shape): recognition must scan committed batches upward, find its
    // record at the rebased id 1, and skip — a third application at yet
    // another position is the double-apply hazard.
    assert(TakedownStream.processBatch(td, targets, evB, 0L) == 1L)
    assert(tombs().size == 2, "redelivered rebased batch must not re-apply")
  }

  test("takedown stream: near-dup family — withdrawn content stops " +
      "suppressing variants, replay-stable, restore-parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.{NearDupStream, TakedownStream}

    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    def variant(id: Long, of: NdDoc): NdDoc =
      NdDoc(id, of.text.split(" ").dropRight(1).mkString(" ") + " edited")
    val corpus = Seq(good(1, "alpha"), good(2, "beta"))
      .toDF("doc_id", "text")
    val ndDir = java.nio.file.Files.createTempDirectory("tdnd").toString
    val st = NearDupStream.resume(spark, ndDir, corpus, "doc_id", "text")
    // Fold one arrival batch so the stream has history + a WAL delta.
    val in = MemoryStream[NdDoc]
    val q = NearDupStream.run(in.toDF(), st, "doc_id", "text",
      compactEvery = 1000, checkpointPath = Some(ndDir)) { _ => () }
    in.addData(good(10, "gamma")); q.processAllAvailable()
    q.stop()

    def admits(state: NearDupStream.IndexState, d: NdDoc): Boolean =
      Dedup.probeNearDups(state.index,
        Seq(d).toDF("doc_id", "text"), "doc_id", "text").count() == 1
    // Variants are suppressed by their originals pre-takedown.
    assert(!admits(st, variant(90, good(1, "alpha"))))
    assert(!admits(st, variant(91, good(10, "gamma"))))

    val tdDir = java.nio.file.Files.createTempDirectory("tdndwal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = TakedownStream.Targets(nd = Some((st, ndDir)))
    // Withdraw corpus content 1 AND the stream-folded content 10.
    val ev = Seq(("nd", 1L, good(1, "alpha").text),
      ("nd", 10L, good(10, "gamma").text)).toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)

    // Their variants are ADMITTED now; unrelated suppression holds.
    assert(admits(st, variant(90, good(1, "alpha"))))
    assert(admits(st, variant(91, good(10, "gamma"))))
    assert(!admits(st, variant(92, good(2, "beta"))))

    // Replay of the applied batch: skip, no duplicate tombstone.
    val n = Dedup.TombstoneLog.Ids.list(spark, ndDir).size
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)
    assert(Dedup.TombstoneLog.Ids.list(spark, ndDir).size == n)

    // Restore parity: a fresh resume replays the tombstone at its
    // recorded position — same verdicts as the live state.
    val st2 = NearDupStream.resume(spark, ndDir, corpus.limit(0),
      "doc_id", "text")
    assert(admits(st2, variant(90, good(1, "alpha"))))
    assert(admits(st2, variant(91, good(10, "gamma"))))
    assert(!admits(st2, variant(92, good(2, "beta"))))

    // Crash-window re-apply (applied marker lost): the keyed overwrite
    // rewrites the SAME tombstone; a later batch that re-admits similar
    // content is unaffected.
    val in2 = MemoryStream[NdDoc]
    val q2 = NearDupStream.run(in2.toDF(), st2, "doc_id", "text",
      compactEvery = 1000, checkpointPath = Some(ndDir)) { _ => () }
    in2.addData(good(20, "alpha")); q2.processAllAvailable()
    q2.stop()
    assert(!admits(st2, variant(93, good(20, "alpha"))),
      "re-admitted content suppresses again")
    val marker = new org.apache.hadoop.fs.Path(s"$tdDir/b0/applied")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, true)
    val targets2 = TakedownStream.Targets(nd = Some((st2, ndDir)))
    assert(TakedownStream.processBatch(td, targets2, ev, 0L) == 0L)
    assert(Dedup.TombstoneLog.Ids.list(spark, ndDir).size == n,
      "re-apply rewrites the same tombstone, not a new one")
    assert(!admits(st2, variant(93, good(20, "alpha"))),
      "re-apply must not delete content a later batch re-admitted")
    // Compaction save prunes the applied tombstone; the saved generation
    // already reflects it.
    Dedup.releaseSketchCaches()
  }

  test("takedown stream: semantic family — withdrawn vectors stop " +
      "suppressing, replay-stable, restore-parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.{SemDedupStream, TakedownStream}

    // Orthogonal corpus directions, eps 0.9 (the SemDedupStream fixture
    // contract: only near-parallel vectors dedup).
    val corpus = Seq(SemDoc(1, Seq(1, 0, 0, 0)), SemDoc(2, Seq(0, 1, 0, 0)))
      .toDF("doc_id", "embedding")
    val semDir = java.nio.file.Files.createTempDirectory("tdsem").toString
    val st = SemDedupStream.resume(spark, semDir, corpus, "doc_id",
      "embedding", eps = 0.9)
    val in = MemoryStream[SemDoc]
    val q = SemDedupStream.run(in.toDF(), st, "doc_id", "embedding",
      compactEvery = 1000, checkpointPath = Some(semDir)) { _ => () }
    in.addData(SemDoc(10, Seq(0, 0, 1, 0))); q.processAllAvailable()
    q.stop()

    def admits(state: SemDedupStream.IndexState, d: SemDoc): Boolean =
      Dedup.probeAndExtendSemParts(state.index,
        Seq(d).toDF("doc_id", "embedding"), "doc_id", "embedding")
        ._1.count() == 1
    // Near-parallel probes are suppressed pre-takedown.
    assert(!admits(st, SemDoc(90, Seq(1, 0.1, 0, 0))))   // ~ corpus 1
    assert(!admits(st, SemDoc(91, Seq(0, 0, 1, 0.1))))   // ~ folded 10

    val tdDir = java.nio.file.Files.createTempDirectory("tdsemwal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = TakedownStream.Targets(sem = Some((st, semDir)))
    val ev = Seq(("sem", 1L, null: String), ("sem", 10L, null: String))
      .toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)

    // Withdrawn directions admit again; unrelated suppression holds.
    assert(admits(st, SemDoc(90, Seq(1, 0.1, 0, 0))))
    assert(admits(st, SemDoc(91, Seq(0, 0, 1, 0.1))))
    assert(!admits(st, SemDoc(92, Seq(0, 1, 0.1, 0))))   // ~ corpus 2

    // Replay of the applied batch: skip, no duplicate tombstone.
    val n = Dedup.TombstoneLog.Ids.list(spark, semDir).size
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)
    assert(Dedup.TombstoneLog.Ids.list(spark, semDir).size == n)

    // Restore parity: the tombstone replays at its recorded position.
    val st2 = SemDedupStream.resume(spark, semDir, corpus.limit(0),
      "doc_id", "embedding")
    assert(admits(st2, SemDoc(90, Seq(1, 0.1, 0, 0))))
    assert(!admits(st2, SemDoc(92, Seq(0, 1, 0.1, 0))))

    // Crash-window re-apply after the direction was RE-ADMITTED by a
    // later batch: the recorded-id tombstone cannot touch the new vector.
    val in2 = MemoryStream[SemDoc]
    val q2 = SemDedupStream.run(in2.toDF(), st2, "doc_id", "embedding",
      compactEvery = 1000, checkpointPath = Some(semDir)) { _ => () }
    in2.addData(SemDoc(20, Seq(1, 0.05, 0, 0))); q2.processAllAvailable()
    q2.stop()
    assert(!admits(st2, SemDoc(93, Seq(1, 0.1, 0, 0))),
      "re-admitted direction suppresses again")
    val marker = new org.apache.hadoop.fs.Path(s"$tdDir/b0/applied")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, true)
    assert(TakedownStream.processBatch(td,
      TakedownStream.Targets(sem = Some((st2, semDir))), ev, 0L) == 0L)
    assert(Dedup.TombstoneLog.Ids.list(spark, semDir).size == n,
      "re-apply rewrites the same tombstone, not a new one")
    assert(!admits(st2, SemDoc(93, Seq(1, 0.1, 0, 0))),
      "re-apply must not delete a vector a later batch re-admitted")
    Dedup.releaseSketchCaches()
  }

  test("takedown stream: winnow + substring families — withdrawn content " +
      "stops gating re-posts, restore-parity, replay-stable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    import graft.streaming.{SubstringStream, TakedownStream, WinnowStream}

    // Long stable texts (the CrashRestartSpec winnow fixture shape: with
    // k=16/w=30 identical texts share every selected fingerprint).
    val cT = "the first corpus document carries one hundred and twenty " +
      "characters of stable text for winnowing fingerprints to select from"
    val oT = "a completely different second document whose words overlap " +
      "with nothing in the first one at any rolling hash window position"
    val corpus = Seq((1L, cT), (2L, oT)).toDF("doc_id", "text")

    val wnDir = java.nio.file.Files.createTempDirectory("tdwn").toString
    val wn = WinnowStream.resume(spark, wnDir, corpus, "doc_id", "text")
    // Fold a DROPPED re-post of cT: the stream folds the full batch, so
    // id 50's postings enter the index even though 50 is gated — the case
    // that makes wn takedown content-addressed (an id-only delete of doc
    // 1 would leave 50's postings gating future re-posts).
    val in = MemoryStream[NdDoc]
    val q = WinnowStream.run(in.toDF(), wn, "doc_id", "text",
      minShared = 3, compactEvery = 1000, checkpointPath = Some(wnDir)) {
      _ => () }
    in.addData(NdDoc(50, cT)); q.processAllAvailable()
    q.stop()
    def wnAdmits(text: String): Boolean =
      Dedup.probeAndExtendWnParts(wn.index,
        Seq((99L, text)).toDF("doc_id", "text"), "doc_id", "text",
        minShared = 3)._1.count() == 1
    assert(!wnAdmits(cT) && !wnAdmits(oT), "re-posts gate pre-takedown")

    val ssDir = java.nio.file.Files.createTempDirectory("tdss").toString
    val ssCorpus = Seq((1L, "one two three four five six seven eight nine " +
      "ten eleven twelve thirteen fourteen fifteen sixteen"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi")).toDF("doc_id", "text")
    val ss = SubstringStream.resume(spark, ssDir, ssCorpus, "doc_id", "text")
    def ssAdmits(text: String): Boolean =
      Dedup.probeAndExtendSsParts(ss.index,
        Seq((99L, text)).toDF("doc_id", "text"), "doc_id", "text",
        minOccurrences = 2, maxDupRatio = 0.5)._1.count() == 1
    val ssT = ssCorpus.where(col("doc_id") === 1).head().getString(1)
    assert(!ssAdmits(ssT), "an identical re-post gates pre-takedown")

    val tdDir = java.nio.file.Files.createTempDirectory("tdwnsswal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = TakedownStream.Targets(
      wn = Some((wn, wnDir)), ss = Some((ss, ssDir)))
    // Withdraw winnow content cT (content-addressed — must strip BOTH
    // doc 1's and the dropped re-post 50's postings) and substring
    // content 1 (by text).
    val ev = Seq(("wn", 1L, cT), ("ss", 1L, ssT))
      .toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)

    // Withdrawn content re-admits (including past the dropped re-post's
    // postings); the untouched docs still gate.
    assert(wnAdmits(cT) && !wnAdmits(oT))
    assert(ssAdmits(ssT))
    assert(!ssAdmits(ssCorpus.where(col("doc_id") === 2)
      .head().getString(1)))

    // Replay: skip, no duplicate tombstones.
    val nw = Dedup.TombstoneLog.Ids.list(spark, wnDir).size
    val ns = Dedup.TombstoneLog.Neg.list(spark, ssDir).size
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)
    assert(Dedup.TombstoneLog.Ids.list(spark, wnDir).size == nw &&
      Dedup.TombstoneLog.Neg.list(spark, ssDir).size == ns)

    // Restore parity: tombstones replay at recorded positions.
    val wn2 = WinnowStream.resume(spark, wnDir, corpus.limit(0),
      "doc_id", "text")
    assert(Dedup.probeAndExtendWnParts(wn2.index,
      Seq((99L, cT)).toDF("doc_id", "text"), "doc_id", "text",
      minShared = 3)._1.count() == 1)
    val ss2 = SubstringStream.resume(spark, ssDir, ssCorpus.limit(0),
      "doc_id", "text")
    assert(Dedup.probeAndExtendSsParts(ss2.index,
      Seq((99L, ssT)).toDF("doc_id", "text"), "doc_id", "text",
      minOccurrences = 2, maxDupRatio = 0.5)._1.count() == 1)
    Dedup.releaseSketchCaches()
  }

  test("export retraction racing a mid-flight pipeline batch: the exact " +
      "stage's lock serializes them; result equals the serial order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.streaming.{Curate, ExportPipeline, FpDedupStream,
      NearDupStream, PackStream, TakedownStream}

    def good(id: Long, seed: String): NdDoc =
      NdDoc(id, (0 until 16).map(k => s"$seed$k").mkString(" "))
    val corpus = Seq(good(1, "alpha"), good(2, "beta"))
      .toDF("doc_id", "text")
    val b0 = Seq(good(10, "gamma"), good(11, "delta"))
    val b1 = Seq(good(20, "epsilon"), good(21, "zeta"))

    // The ExportPipeline.run chain with one extra seam: a latch BEFORE
    // the pack sink, so the takedown can be fired while the batch is
    // mid-flight with its packs NOT yet landed — inside the window the
    // lock contract has to cover.
    def startChain(h: ExportPipeline.Handles, out: String,
        in: org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[NdDoc],
        prePack: Long => Unit) = {
      val nd = NearDupStream.batchLoop(h.near, "doc_id", "text",
        compactEvery = 100, checkpointPath = Some(h.ndCheckpoint))
      FpDedupStream.runBatches(
        Curate.qualityGate(in.toDF(), h.minTokens, h.minDistinctRatio)
          .select(col("doc_id"), col("text")),
        h.dedup, "doc_id", "text", compactEvery = 100,
        checkpointPath = Some(h.fpCheckpoint)) { (kept, walId) =>
        nd.processBatch(kept, walId) { (ndKept, ndId) =>
          prePack(ndId)
          PackStream.processBatch(h.pack, ndKept, ndId, "doc_id", "text",
            out): Unit
        }
      }
    }
    val ev = Seq(("export", 10L, null.asInstanceOf[String]))
      .toDF("family", "cid", "text")

    // RACE run: batch 0 lands normally; batch 1 pauses before its pack
    // sink while a family=export takedown of batch-0 doc 10 fires from
    // another thread.
    val root = java.nio.file.Files.createTempDirectory("raceroot").toString
    val out = java.nio.file.Files.createTempDirectory("raceout").toString
    val h = ExportPipeline.resume(spark, root, corpus, "doc_id", "text",
      nShards = 2L, nMerges = 8, window = 32)
    val midFlight = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val in = MemoryStream[NdDoc]
    val q = startChain(h, out, in, id => if (id == 1L) {
      midFlight.countDown()
      assert(release.await(60, java.util.concurrent.TimeUnit.SECONDS))
    })
    in.addData(b0: _*); q.processAllAvailable()
    val tdDir = java.nio.file.Files.createTempDirectory("racetd").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = ExportPipeline.takedownTargets(h, exportOut = Some(out))
    in.addData(b1: _*)
    assert(midFlight.await(60, java.util.concurrent.TimeUnit.SECONDS))
    // Batch 1 is mid-flight (pre-pack, fp lock held). Fire the takedown.
    val tdDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      TakedownStream.processBatch(td, targets, ev, 0L)
      tdDone.set(true)
    })
    t.start()
    Thread.sleep(700)
    assert(!tdDone.get,
      "the takedown must BLOCK on the exact stage's lock while the " +
        "pipeline batch is mid-flight — not interleave with it")
    release.countDown()
    q.processAllAvailable(); q.stop()
    t.join(120000)
    assert(tdDone.get, "the takedown must complete once the batch commits")

    // REFERENCE serial run: same batches fully landed, THEN the same
    // takedown — the serial order the lock forces (batch first: it held
    // the lock when the takedown arrived).
    val root2 = java.nio.file.Files.createTempDirectory("raceref").toString
    val out2 = java.nio.file.Files.createTempDirectory("racerefo").toString
    val h2 = ExportPipeline.resume(spark, root2, corpus, "doc_id", "text",
      nShards = 2L, nMerges = 8, window = 32)
    val in2 = MemoryStream[NdDoc]
    val q2 = startChain(h2, out2, in2, _ => ())
    in2.addData(b0: _*); q2.processAllAvailable()
    in2.addData(b1: _*); q2.processAllAvailable()
    q2.stop()
    val td2 = TakedownStream.resume(spark,
      java.nio.file.Files.createTempDirectory("racetd2").toString)
    TakedownStream.processBatch(td2,
      ExportPipeline.takedownTargets(h2, exportOut = Some(out2)), ev, 0L)

    val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "shard long, pack_id long, n_tokens long, token_ids string")
    def export(o: String): Set[(Long, Long, Long, String)] =
      new java.io.File(o).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
        .flatMap { bd =>
          spark.read.schema(pSchema).parquet(bd.getPath)
            .collect().map(r => (bd.getName.drop(1).toLong, r.getLong(0),
              r.getLong(1), r.getString(3)))
        }.toSet
    assert(export(out) == export(out2),
      "the raced run must land exactly the serial batch-then-retract export")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("ss takedown is content-addressed: one event erases k folded " +
      "re-posts; re-withdrawal is a no-op; restore-parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.{SubstringStream, TakedownStream}

    val xT = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val yT = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi"
    val corpus = Seq((1L, xT), (2L, yT)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sscontaddr").toString
    val ss = SubstringStream.resume(spark, dir, corpus, "doc_id", "text")
    def admits(text: String): Boolean =
      Dedup.probeAndExtendSsParts(ss.index,
        Seq((99L, text)).toDF("doc_id", "text"), "doc_id", "text",
        minOccurrences = 2, maxDupRatio = 0.5)._1.count() == 1

    // Fold k = 3 DROPPED re-posts of xT (the stream folds every arrival's
    // counts, kept or not) — with the corpus copy, 4 folds total. The
    // round-9/10 honest contract needed 4 events to stop xT gating; the
    // content-addressed takedown needs ONE.
    val in = MemoryStream[NdDoc]
    val q = SubstringStream.run(in.toDF(), ss, "doc_id", "text",
      compactEvery = 1000, checkpointPath = Some(dir)) { _ => () }
    (0 until 3).foreach { i =>
      in.addData(NdDoc(50 + i, xT)); q.processAllAvailable()
    }
    q.stop()
    assert(!admits(xT) && !admits(yT), "re-posts gate pre-takedown")

    val tdDir = java.nio.file.Files.createTempDirectory("sscawal").toString
    val td = TakedownStream.resume(spark, tdDir)
    val targets = TakedownStream.Targets(ss = Some((ss, dir)))
    val ev = Seq(("ss", 1L, xT)).toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td, targets, ev, 0L) == 0L)
    assert(admits(xT), "one event must erase all 4 folded arrivals")
    assert(!admits(yT), "the untouched content still gates")

    // Re-withdrawal (a NEW batch, same content): resolves k = 0, applies
    // an empty layer — counts cannot go negative, and the index still
    // admits xT while gating yT.
    assert(TakedownStream.processBatch(td, targets,
      Seq(("ss", 1L, xT)).toDF("family", "cid", "text"), 1L) == 1L)
    assert(admits(xT) && !admits(yT))

    // Restore parity: a fresh resume replays the recorded tombstones and
    // reaches the same post-erasure counts.
    val ss2 = SubstringStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(Dedup.probeAndExtendSsParts(ss2.index,
      Seq((99L, xT)).toDF("doc_id", "text"), "doc_id", "text",
      minOccurrences = 2, maxDupRatio = 0.5)._1.count() == 1)
    assert(Dedup.probeAndExtendSsParts(ss2.index,
      Seq((99L, yT)).toDF("doc_id", "text"), "doc_id", "text",
      minOccurrences = 2, maxDupRatio = 0.5)._1.count() == 0)

    // The documented per-arrival fallback still works: withdraw ONE of
    // yT's (single) folds explicitly — yT re-admits.
    SubstringStream.delete(ss2, Some(dir),
      Seq((2L, yT)).toDF("doc_id", "text"), "doc_id", "text",
      contentAddressed = Some(false))
    assert(Dedup.probeAndExtendSsParts(ss2.index,
      Seq((99L, yT)).toDF("doc_id", "text"), "doc_id", "text",
      minOccurrences = 2, maxDupRatio = 0.5)._1.count() == 1)
    Dedup.releaseSketchCaches()
  }

  test("ss takedown routes on index capability: identity-less indexes " +
      "fall back to per-arrival subtraction instead of a silent no-op") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.{SubstringStream, TakedownStream}

    val xT = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val corpus = Seq((1L, xT)).toDF("doc_id", "text")

    // A PRE-UPGRADE-STYLE checkpoint: bare buildSubstringIndex, no
    // identity rows — the capability flag persists false through
    // save/load (ADVICE r11: this compliance-critical path used to
    // resolve every event to k = 0 and silently subtract nothing).
    val dir = java.nio.file.Files.createTempDirectory("ssnoid").toString
    Dedup.saveSubstringIndex(
      Dedup.buildSubstringIndex(corpus, "doc_id", "text"), dir)
    val state = new graft.streaming.DedupLoop.IndexState(
      Dedup.loadSubstringIndex(spark, dir))
    assert(!state.index.hasIdentityRows,
      "bare-built index must load as not content-addressable")
    def admits(text: String): Boolean =
      Dedup.probeAndExtendSsParts(state.index,
        Seq((99L, text)).toDF("doc_id", "text"), "doc_id", "text",
        minOccurrences = 2, maxDupRatio = 0.5)._1.count() == 1
    assert(!admits(xT), "corpus fold must gate an echo pre-takedown")

    // The takedown stream detects the missing capability and subtracts
    // the ONE corpus arrival per-arrival — the withdrawal has an effect.
    val td = TakedownStream.resume(spark,
      java.nio.file.Files.createTempDirectory("ssnoidwal").toString)
    assert(TakedownStream.processBatch(td,
      TakedownStream.Targets(ss = Some((state, dir))),
      Seq(("ss", 1L, xT)).toDF("family", "cid", "text"), 0L) == 0L)
    assert(admits(xT),
      "identity-less ss takedown must fall back per-arrival, not no-op")

    // delete()'s DEFAULT route keys off the same capability: on this
    // index it goes per-arrival (here: a second withdrawal of the now
    // absent content just subtracts into negative-pruned territory and
    // the content stays admitted — no crash, no resurrection).
    SubstringStream.delete(state, Some(dir),
      Seq((1L, xT)).toDF("doc_id", "text"), "doc_id", "text")
    assert(admits(xT))

    // An upgraded STREAM index advertises the capability after
    // bootstrap + save/load.
    val upDir = java.nio.file.Files.createTempDirectory("ssid").toString
    val up = SubstringStream.resume(spark, upDir, corpus, "doc_id", "text")
    assert(up.index.hasIdentityRows,
      "stream-managed index must load as content-addressable")
    Dedup.releaseSketchCaches()
  }

  test("fp takedown tombstones: a crash between the generation save and " +
      "the tombstone prune must not re-delete re-admitted content on " +
      "restore") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    import graft.streaming.FpDedupStream

    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("fptombcrash").toString
    val s1 = FpDedupStream.resume(spark, dir, corpus, "doc_id", "text")

    val in1 = MemoryStream[NdDoc]
    val q1 = FpDedupStream.run(in1.toDF(), s1, "doc_id", "text",
        compactEvery = 1000, checkpointPath = Some(dir)) { _ => () }
    // batch 0: a novel doc folds.
    in1.addData(NdDoc(10, "epsilon zeta")); q1.processAllAvailable()
    // Takedown between batches: content "alpha beta" leaves the seen set
    // (tombstone tagged afterBatch=0).
    FpDedupStream.delete(s1, Some(dir),
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "text")
    // batch 1: the withdrawn content is re-admitted under a fresh id.
    in1.addData(NdDoc(20, "alpha beta")); q1.processAllAvailable()
    q1.stop()

    // Simulate the crash window inside FpOps.save: the generation commits
    // at batch 1 (snapshotting an index that ALREADY reflects the delete
    // and the re-admission), but the process dies before
    // TombstoneLog.clear — the applied tombstone survives on disk.
    Dedup.saveFingerprintIndex(s1.index, dir, batchId = 1L,
      kept = Some(Seq(20L).toDF("doc_id")))

    // Restore: the stale tombstone (afterBatch=0 < snapshot batch 1) must
    // be SKIPPED — replaying it after the snapshot would delete the
    // re-admitted fingerprint and wrongly admit future identical arrivals.
    val s2 = FpDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    assert(s2.lastIndexedBatch == 1L)
    val probe = Dedup.probeNovelExact(s2.index,
      Seq((99L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text")
    assert(probe.count() == 0,
      "re-admitted content must stay recognized after a save/prune crash")

    // A tombstone tagged AT the snapshot batch was created after that
    // batch's save completed — it must still replay on restore.
    FpDedupStream.delete(s2, Some(dir),
      Seq((2L, "gamma delta")).toDF("doc_id", "text"), "text")
    val s3 = FpDedupStream.resume(spark, dir, corpus.limit(0),
      "doc_id", "text")
    val probe2 = Dedup.probeNovelExact(s3.index,
      Seq((100L, "gamma delta")).toDF("doc_id", "text"), "doc_id", "text")
    assert(probe2.count() == 1,
      "a takedown issued after the snapshot must replay on restore")
    Dedup.releaseSketchCaches()
  }

  test("takedown replay with a family recorded as disabled skips that " +
      "family's leg; retired keyed tombstone dirs are fully removed") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, Similarity}
    import graft.streaming.{FpDedupStream, TakedownStream}

    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val fpDir = java.nio.file.Files.createTempDirectory("tdgfp").toString
    val st = FpDedupStream.resume(spark, fpDir, corpus, "doc_id", "text")

    val emb = spark.table("embeddings")
    val ivfDir = java.nio.file.Files.createTempDirectory("tdgivf").toString
    Similarity.saveIvfIndex(Similarity.buildIvfIndex(
      emb.where(col("vec_id") >= 10), "vec_id", "embedding"), ivfDir)

    val tdDir = java.nio.file.Files.createTempDirectory("tdgwal").toString
    val td = TakedownStream.resume(spark, tdDir)

    // Batch 0 arrives while only the ivf target is registered: the fp
    // event is unrouted and the WAL records fp_seq = -1 for the batch.
    val ev = Seq(("fp", 1L, "alpha beta"), ("ivf", 20L, null))
      .toDF("family", "cid", "text")
    assert(TakedownStream.processBatch(td,
      TakedownStream.Targets(ivf = Seq(ivfDir)), ev, 0L) == 0L)

    // Crash window (applied marker lost), then the batch replays AFTER an
    // fp target has been registered: the fp leg must stay disabled — the
    // alternative is an invisible `t-1` tombstone (applied in memory,
    // skipped by the restore-time t\d+ scan, silently lost on restart).
    val marker = new org.apache.hadoop.fs.Path(s"$tdDir/b0/applied")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, true)
    assert(TakedownStream.processBatch(td,
      TakedownStream.Targets(fp = Some((st, fpDir)), ivf = Seq(ivfDir)),
      ev, 0L) == 0L)
    assert(!new java.io.File(s"$fpDir/tomb/t-1_b-1").exists(),
      "a disabled-family replay must not write an invisible t-1 tombstone")
    assert(Dedup.probeNovelExact(st.index,
      Seq((99L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0,
      "the fp event must be skipped, not applied, on a disabled-family " +
        "replay")

    // Keyed-tombstone retirement: once the one-cycle reader grace expires
    // (second compaction), the whole e_<key> directory is deleted — not
    // just its part file, which would leave empty `_SUCCESS`-marked dirs
    // accumulating over the takedown stream's lifetime.
    val tombRoot = new java.io.File(s"$ivfDir/tombstones")
    def eDirs() = Option(tombRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("e_"))
    assert(eDirs().nonEmpty, "the ivf takedown lands as a keyed tombstone")
    Similarity.compactIvfIndex(spark, ivfDir) // applies, records _applied
    Similarity.compactIvfIndex(spark, ivfDir) // retires file AND directory
    assert(eDirs().isEmpty,
      "retired keyed tombstone dirs must be deleted, not left empty")
    Dedup.releaseSketchCaches()
  }
}
