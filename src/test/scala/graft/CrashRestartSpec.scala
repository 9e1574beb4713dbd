package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** A REAL crash-restart of the streaming near-dup path: a child JVM is
  * killed with SIGKILL semantics (`Runtime.halt` — no shutdown hooks, no
  * cleanup) mid-batch, at the worst moment the durability design allows:
  * the batch's write-ahead delta is on disk, its kept rows are NOT sunk,
  * and the engine's offsets are uncommitted. A second child JVM restarts
  * from the two checkpoints and must (a) recognize the re-delivered batch
  * as already folded, (b) sink its RECORDED kept-set instead of re-probing
  * (which would emit zero rows), and (c) process the remaining files
  * normally — ending with exactly-once kept output across the crash.
  *
  * The existing StreamingSpec restart tests stop cleanly; this is the only
  * test where the first process never gets to say goodbye. */
class CrashRestartSpec extends SparkSpecBase {

  private def runChild(args: Seq[String], logFile: String): Int = {
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.CrashStreamMain") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(logFile))
    val p = pb.start()
    assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
      s"child JVM did not exit within 240s — log: $logFile")
    p.exitValue()
  }

  test("kill -9 mid-batch: WAL replay restores exactly-once kept output") {
    import spark.implicits._
    val base = Files.createTempDirectory("crash9").toString
    val srcDir = s"$base/src"
    val idxCkpt = s"$base/idx"
    val qCkpt = s"$base/eng"
    val sinkDir = s"$base/sink"

    Seq((1L, "a b c d e"), (2L, "p q r s t")).toDF("doc_id", "text")
      .write.parquet(s"$srcDir/corpus")
    // One micro-batch per file (maxFilesPerTrigger=1), ordered by mtime:
    //  f1: 10 dups corpus doc 1 (J=0.6), 15 novel         -> kept {15}
    //  f2: 20 dups doc 15 from the PREVIOUS batch, 30 novel -> kept {30}
    //  f3: 40 novel, 45 dups corpus doc 1                 -> kept {40}
    val files = Seq(
      "f1" -> Seq((10L, "a b c d x"), (15L, "m n o u v")),
      "f2" -> Seq((20L, "m n o u w"), (30L, "q r s t0 zz")),
      "f3" -> Seq((40L, "h i j k l"), (45L, "a b c d y")))
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val dir = s"$srcDir/stream/$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
      // Deterministic arrival order for the file source's mtime sort.
      val t0 = System.currentTimeMillis() - 100000
      Files.walk(Paths.get(dir)).forEach(p =>
        p.toFile.setLastModified(t0 + i * 2000L))
    }

    // Run 1: sink one batch (f1), then die by halt(137) DURING f2 — after
    // f2's WAL delta is written, before its kept rows are sunk.
    val args = Seq(idxCkpt, qCkpt, srcDir, sinkDir)
    val rc1 = runChild(args :+ "1", s"$base/run1.log")
    assert(rc1 == 137, s"first child should die by halt(137), got $rc1 — " +
      s"log: $base/run1.log")
    val afterCrash = spark.read.parquet(sinkDir)
      .select("doc_id").as[Long].collect().toSeq
    assert(afterCrash.sorted == Seq(15L),
      s"crash point wrong: sink after crash = $afterCrash")

    // Run 2: restart from the same checkpoints, run to completion.
    val rc2 = runChild(args :+ "-1", s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")

    val ids = spark.read.parquet(sinkDir)
      .select("doc_id").as[Long].collect().toSeq
    // Exactly-once: each kept doc appears ONCE — the replayed batch sank
    // its recorded kept-set (30), not zero rows (re-probe bug) and not a
    // duplicate of batch 0's output.
    assert(ids.sorted == Seq(15L, 30L, 40L),
      s"kept output after crash-restart: $ids")
  }

  test("kill -9 mid-batch: exact-dedup stream survives on the same shared loop") {
    import spark.implicits._
    val base = Files.createTempDirectory("crash9fp").toString
    val srcDir = s"$base/src"
    Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
      .write.parquet(s"$srcDir/corpus")
    //  f1: 10 = exact corpus dup (normalized), 15 novel   -> kept {15}
    //  f2: 20 dups batch-0's doc 15, 30 novel             -> kept {30}
    //  f3: 40 novel, 45 = corpus dup                      -> kept {40}
    val files = Seq(
      "f1" -> Seq((10L, "Alpha  Beta"), (15L, "epsilon zeta")),
      "f2" -> Seq((20L, "epsilon zeta"), (30L, "iota kappa")),
      "f3" -> Seq((40L, "lambda mu"), (45L, "gamma delta")))
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val dir = s"$srcDir/stream/$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
      val t0 = System.currentTimeMillis() - 100000
      Files.walk(Paths.get(dir)).forEach(p =>
        p.toFile.setLastModified(t0 + i * 2000L))
    }
    val args = Seq(s"$base/idx", s"$base/eng", srcDir, s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", "exact"), s"$base/run1.log")
    assert(rc1 == 137, s"first child should die by halt(137), got $rc1")
    val rc2 = runChild(args ++ Seq("-1", "exact"), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")
    val ids = spark.read.parquet(s"$base/sink")
      .select("doc_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(15L, 30L, 40L),
      s"kept output after crash-restart: $ids")
  }

  /** Shared arrival-fixture writer: corpus parquet + one file per
    * micro-batch with deterministic mtime order. */
  private def writeArrivals(base: String,
      corpus: Seq[(Long, String)],
      files: Seq[(String, Seq[(Long, String)])]): Unit = {
    import spark.implicits._
    corpus.toDF("doc_id", "text").write.parquet(s"$base/src/corpus")
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val dir = s"$base/src/stream/$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
      val t0 = System.currentTimeMillis() - 100000
      Files.walk(Paths.get(dir)).forEach(p =>
        p.toFile.setLastModified(t0 + i * 2000L))
    }
  }

  private def crashThenRestart(base: String, mode: String): Seq[Long] = {
    import spark.implicits._
    val args = Seq(s"$base/idx", s"$base/eng", s"$base/src", s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", mode), s"$base/run1.log")
    assert(rc1 == 137,
      s"first child should die by halt(137), got $rc1 — log: $base/run1.log")
    val rc2 = runChild(args ++ Seq("-1", mode), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")
    spark.read.parquet(s"$base/sink")
      .select("doc_id").as[Long].collect().toSeq.sorted
  }

  test("kill -9 mid-batch: winnow stream restores its layered freq deltas") {
    val base = Files.createTempDirectory("crash9wn").toString
    // Winnowing (k=16, w=30, minShared=3): identical texts share every
    // selected fingerprint; the novel texts share no 16-char window.
    val cT = "the first corpus document carries one hundred and twenty " +
      "characters of stable text for winnowing fingerprints to select from"
    val nA = "completely novel arrival text number fifteen streaming into " +
      "the index with plenty of length to produce many distinct window prints"
    val nB = "yet another unrelated document thirty whose content overlaps " +
      "with nothing previously folded into the rolling hash index layers"
    val nC = "final fresh document forty bringing unique wording that " +
      "matches neither corpus nor any earlier stream arrival in this run"
    writeArrivals(base,
      corpus = Seq((1L, cT)),
      files = Seq(
        //  f1: 10 dups the corpus doc, 15 novel            -> kept {15}
        "f1" -> Seq((10L, cT), (15L, nA)),
        //  f2: 20 dups batch-0's doc 15, 30 novel          -> kept {30}
        //      (crash lands here: WAL durable, kept unsunk)
        "f2" -> Seq((20L, nA), (30L, nB)),
        //  f3: 40 novel, 45 dups the corpus doc            -> kept {40}
        "f3" -> Seq((40L, nC), (45L, cT))))
    assert(crashThenRestart(base, "winnow") == Seq(15L, 30L, 40L))
  }

  test("kill -9 mid-batch: substring stream restores its window-freq deltas") {
    val base = Files.createTempDirectory("crash9ss").toString
    // Substring gate (8-token windows, minOccurrences=2, maxDupRatio=0.5):
    // an identical 20-token re-post turns every window duplicated (ratio
    // 1.0 -> dropped); the novel texts share no 8-token window.
    val cT = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    val nA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nB = "red orange yellow green blue indigo violet crimson amber " +
      "teal navy maroon olive coral salmon ivory beige tan gold silver"
    val nC = "mercury venus earth mars jupiter saturn uranus neptune pluto " +
      "ceres eris haumea makemake sedna quaoar orcus varuna ixion salacia vanth"
    writeArrivals(base,
      corpus = Seq((1L, cT)),
      files = Seq(
        "f1" -> Seq((10L, cT), (15L, nA)),
        "f2" -> Seq((20L, nA), (30L, nB)),
        "f3" -> Seq((40L, nC), (45L, cT))))
    assert(crashThenRestart(base, "substring") == Seq(15L, 30L, 40L))
  }

  test("kill -9 mid-batch: semantic stream restores its vector deltas") {
    import spark.implicits._
    val base = Files.createTempDirectory("crash9sem").toString
    val srcDir = s"$base/src"
    // eps = 0.9 (CrashStreamMain's semantic mode): only near-parallel
    // vectors dedup. Orthogonal corpus directions, arrivals as in the
    // other families: f1 corpus-dup + novel, f2 cross-batch dup + novel
    // (crash lands here), f3 novel + corpus-dup.
    Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("doc_id", "embedding").write.parquet(s"$srcDir/corpus")
    val files = Seq(
      "f1" -> Seq((10L, Seq(1.0, 0.1, 0.0, 0.0)),
        (15L, Seq(0.0, 0.0, 1.0, 0.0))),
      "f2" -> Seq((20L, Seq(0.0, 0.0, 1.0, 0.1)),
        (30L, Seq(0.0, 0.0, 0.0, 1.0))),
      "f3" -> Seq((40L, Seq(0.5, -0.5, 0.5, -0.5)),
        (45L, Seq(1.0, 0.05, 0.0, 0.0))))
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val dir = s"$srcDir/stream/$name"
      rows.toDF("doc_id", "embedding").coalesce(1).write.parquet(dir)
      val t0 = System.currentTimeMillis() - 100000
      Files.walk(Paths.get(dir)).forEach(p =>
        p.toFile.setLastModified(t0 + i * 2000L))
    }
    val args = Seq(s"$base/idx", s"$base/eng", srcDir, s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", "semantic"), s"$base/run1.log")
    assert(rc1 == 137,
      s"first child should die by halt(137), got $rc1 — log: $base/run1.log")
    val rc2 = runChild(args ++ Seq("-1", "semantic"), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")
    val ids = spark.read.parquet(s"$base/sink")
      .select("doc_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(15L, 30L, 40L),
      s"kept output after crash-restart: $ids")
  }

  // Slow tier: the post-sink crash point for the semantic family. The
  // idempotent-sink contract already has a default-tier smoke on the near
  // family ("kill -9 AFTER the sink wrote" below); this arm re-proves it
  // per-family on the embedding stream.
  test("kill -9 AFTER the semantic sink wrote: idempotent per-batch sink " +
      "stays exactly-once on the embedding stream", SlowTest) {
    import spark.implicits._
    val base2 = Files.createTempDirectory("crash9semP").toString
    val src2 = s"$base2/src"
    Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("doc_id", "embedding").write.parquet(s"$src2/corpus")
    val files = Seq(
      "f1" -> Seq((10L, Seq(1.0, 0.1, 0.0, 0.0)),
        (15L, Seq(0.0, 0.0, 1.0, 0.0))),
      "f2" -> Seq((20L, Seq(0.0, 0.0, 1.0, 0.1)),
        (30L, Seq(0.0, 0.0, 0.0, 1.0))),
      "f3" -> Seq((40L, Seq(0.5, -0.5, 0.5, -0.5)),
        (45L, Seq(1.0, 0.05, 0.0, 0.0))))
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val d = s"$src2/stream/$name"
      rows.toDF("doc_id", "embedding").coalesce(1).write.parquet(d)
      val t0 = System.currentTimeMillis() - 100000
      Files.walk(Paths.get(d)).forEach(p =>
        p.toFile.setLastModified(t0 + i * 2000L))
    }
    val args2 = Seq(s"$base2/idx", s"$base2/eng", src2, s"$base2/sink")
    val rcp1 = runChild(args2 ++ Seq("1", "semantic", "post"),
      s"$base2/run1.log")
    assert(rcp1 == 137, s"post-mode child should die by halt(137), got $rcp1")
    val rcp2 = runChild(args2 ++ Seq("-1", "semantic", "post"),
      s"$base2/run2.log")
    assert(rcp2 == 0, s"restart child failed with $rcp2 — log: $base2/run2.log")
    val idsPost = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base2/sink").select("doc_id").as[Long].collect().toSeq
    assert(idsPost.sorted == Seq(15L, 30L, 40L),
      s"kept output after post-sink crash-restart: $idsPost")
  }

  test("kill -9 AFTER the sink wrote: idempotent per-batch sink stays exactly-once") {
    import spark.implicits._
    val base = Files.createTempDirectory("crash9post").toString
    val srcDir = s"$base/src"
    Seq((1L, "a b c d e"), (2L, "p q r s t")).toDF("doc_id", "text")
      .write.parquet(s"$srcDir/corpus")
    val files = Seq(
      "f1" -> Seq((10L, "a b c d x"), (15L, "m n o u v")),
      "f2" -> Seq((20L, "m n o u w"), (30L, "q r s t0 zz")),
      "f3" -> Seq((40L, "h i j k l"), (45L, "a b c d y")))
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val dir = s"$srcDir/stream/$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
      val t0 = System.currentTimeMillis() - 100000
      Files.walk(Paths.get(dir)).forEach(p =>
        p.toFile.setLastModified(t0 + i * 2000L))
    }
    // Die AFTER batch 1's sink wrote its directory but BEFORE the engine
    // committed offsets: the restart replays batch 1 and the sink runs
    // AGAIN for output that already landed — the per-batch overwrite is
    // what keeps the landed rows exactly-once.
    val args = Seq(s"$base/idx", s"$base/eng", srcDir, s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", "near", "post"), s"$base/run1.log")
    assert(rc1 == 137, s"first child should die by halt(137), got $rc1")
    val afterCrash = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/sink").select("doc_id").as[Long].collect().toSeq
    assert(afterCrash.sorted == Seq(15L, 30L),
      s"crash point wrong: sink after crash = $afterCrash")
    val rc2 = runChild(args ++ Seq("-1", "near", "post"), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")
    val ids = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/sink").select("doc_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(15L, 30L, 40L),
      s"kept output after post-sink crash-restart: $ids")
  }

  test("kill -9 inside the takedown crash window: re-applied tombstones " +
      "land at their recorded positions, no duplicates") {
    import spark.implicits._
    val base = Files.createTempDirectory("crash9td").toString
    val srcDir = s"$base/src"
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "iota kappa"))
      .toDF("doc_id", "text").write.parquet(s"$srcDir/corpus")
    //  f1: withdraw content "alpha beta" + ivf id 20
    //  f2: withdraw content "gamma delta" + ivf id 40
    //      (crash lands here: WAL + tombstones down, applied marker not)
    //  f3: ivf id 60
    val files = Seq(
      "f1" -> Seq(("fp", 1L, "alpha beta"), ("ivf", 20L, null)),
      "f2" -> Seq(("fp", 2L, "gamma delta"), ("ivf", 40L, null)),
      "f3" -> Seq(("ivf", 60L, null: String)))
    files.zipWithIndex.foreach { case ((name, rows), i) =>
      val dir = s"$srcDir/stream/$name"
      rows.toDF("family", "cid", "text").coalesce(1).write.parquet(dir)
      val t0 = System.currentTimeMillis() - 100000
      Files.walk(Paths.get(dir)).forEach(p =>
        p.toFile.setLastModified(t0 + i * 2000L))
    }
    val args = Seq(s"$base/idx", s"$base/eng", srcDir, s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", "takedown"), s"$base/run1.log")
    assert(rc1 == 137, s"child should die by halt(137), got $rc1 — " +
      s"log: $base/run1.log")
    val rc2 = runChild(args ++ Seq("-1", "takedown"), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")

    // Exactly-once tombstones: TWO fp tombstones (one per withdrawn
    // content — the replayed f2 REWROTE its recorded one instead of
    // appending), three keyed IVF tombstones (one per event batch).
    val fpTombs = graft.operators.Dedup.TombstoneLog.Fps.list(spark,
      s"$base/idx/fp")
    assert(fpTombs.size == 2, s"fp tombstones after crash-restart: $fpTombs")
    // Keys carry WAL identity + batch fingerprint (collision hardening);
    // exactly one per event batch — the replayed f2 REWROTE its key.
    val ivfTombs = new java.io.File(s"$base/idx/ivf/tombstones")
      .listFiles().map(_.getName).filter(_.startsWith("e_")).sorted
    assert(ivfTombs.length == 3 &&
      Seq("_b0_", "_b1_", "_b2_").forall(b => ivfTombs.count(_.contains(b)) == 1),
      s"keyed ivf tombstones: ${ivfTombs.toSeq}")

    // Effects hold on restore: withdrawn contents re-admit, untouched
    // content stays recognized, deleted ids are masked out of the probe.
    val st = graft.streaming.FpDedupStream.resume(spark, s"$base/idx/fp",
      spark.emptyDataFrame.select(lit(0L).as("doc_id"),
        lit("").as("text")).limit(0), "doc_id", "text")
    def admits(text: String): Boolean = graft.operators.Dedup
      .probeNovelExact(st.index, Seq((99L, text)).toDF("doc_id", "text"),
        "doc_id", "text").count() == 1
    assert(admits("alpha beta") && admits("gamma delta") &&
      !admits("iota kappa"))
    val idx = graft.operators.Similarity.loadIvfIndex(spark, s"$base/idx/ivf")
    val masked = idx.assigned.select("cid")
      .collect().map(_.getLong(0)).toSet
    assert(!masked.exists(Set(20L, 40L, 60L)) && masked.nonEmpty,
      "deleted ids must stay masked after crash-restart")
    graft.operators.Dedup.releaseSketchCaches()
  }

  test("kill -9 after a batch landed: the three-stage export pipeline " +
      "(gate → exact → near-dup → pack) replays exactly-once") {
    import spark.implicits._
    // 20-word docs: pass the gate, close 32-token windows per batch. The
    // near variants edit ONE word — different exact fingerprint (sails
    // through the fp stage), shingle-Jaccard 0.9 (drops at the fuzzy
    // stage) — the re-posted-with-one-edit contamination the composed
    // pipeline exists to stop.
    def doc(id: Long, seed: String): (Long, String) =
      (id, (0 until 20).map(k => s"$seed$k").mkString(" "))
    def nearVariant(id: Long, of: (Long, String)): (Long, String) =
      (id, of._2.split(" ").dropRight(1).mkString(" ") + " edited")
    val corpusRows = Seq(doc(1L, "alpha"), doc(2L, "beta"))
    val files = Seq(
      //  f1: novel kept; exact corpus dup dropped; corpus NEAR-dup
      //      fuzzy-dropped                                  -> kept {10}
      "f1" -> Seq(doc(10L, "gamma"), (11L, doc(1L, "alpha")._2),
        nearVariant(12L, doc(1L, "alpha"))),
      //  f2: exact stream-history dup dropped; stream NEAR-dup (of
      //      batch-0's kept doc 10) fuzzy-dropped; novel kept -> kept {22}
      //      (crash lands here: everything sunk, offsets uncommitted)
      "f2" -> Seq((20L, doc(10L, "gamma")._2),
        nearVariant(21L, doc(10L, "gamma")), doc(22L, "delta")),
      //  f3: novel kept; stream NEAR-dup of doc 22 dropped  -> kept {30}
      "f3" -> Seq(doc(30L, "epsilon"), nearVariant(31L, doc(22L, "delta"))))

    def writeSrc(srcDir: String): Unit = {
      corpusRows.toDF("doc_id", "text").write.parquet(s"$srcDir/corpus")
      files.zipWithIndex.foreach { case ((name, rows), i) =>
        val d = s"$srcDir/stream/$name"
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(d)
        val t0 = System.currentTimeMillis() - 100000
        Files.walk(Paths.get(d)).forEach(p =>
          p.toFile.setLastModified(t0 + i * 2000L))
      }
    }
    def packsOf(dir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet

    val base = Files.createTempDirectory("crash9xp").toString
    writeSrc(s"$base/src")
    val args = Seq(s"$base/idx", s"$base/eng", s"$base/src", s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", "export"), s"$base/run1.log")
    assert(rc1 == 137, s"child should die by halt(137), got $rc1 — " +
      s"log: $base/run1.log")
    // Crash point check: f1 + f2 landed (kept {10, 22}), f3 not yet.
    val midKept = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/sink/kept").select("doc_id").as[Long].collect().toSeq
    assert(midKept.sorted == Seq(10L, 22L),
      s"crash point wrong: kept after crash = $midKept")
    val rc2 = runChild(args ++ Seq("-1", "export"), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")

    // Clean reference run over the same source, fresh dirs, no kill.
    val ref = Files.createTempDirectory("crash9xpref").toString
    writeSrc(s"$ref/src")
    assert(runChild(Seq(s"$ref/idx", s"$ref/eng", s"$ref/src", s"$ref/sink")
      ++ Seq("-1", "export"), s"$ref/run.log") == 0)

    // Kept audit log: the fuzzy drops (12, 21, 31) never entered, the
    // replayed batch re-sank its recorded survivors once.
    val kept = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/sink/kept").select("doc_id").as[Long].collect().toSeq
    assert(kept.sorted == Seq(10L, 22L, 30L),
      s"kept after crash-restart: $kept")
    // Landed packs: bit-identical to the uncrashed run, no duplicates.
    val crashed = packsOf(s"$base/sink/packs")
    assert(crashed.nonEmpty && crashed == packsOf(s"$ref/sink/packs"),
      "packs across the crash must equal the uncrashed run")
    val keys = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/sink/packs").select("shard", "pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keys.distinct.size == keys.size,
      s"duplicate packs after crash-restart: $keys")
  }

  // Slow tier: the three-stage test above is the default-tier export
  // crash smoke (same kill point, same replay contract); this arm adds the
  // substring gate to the composition, which has its own mid-batch crash
  // smoke and a default-tier StreamingSpec four-stage functional test.
  test("kill -9 after a batch landed: the FOUR-stage export pipeline " +
      "(gate → exact → near-dup → substring → pack) replays exactly-once",
      SlowTest) {
    import spark.implicits._
    def doc(id: Long, seed: String): (Long, String) =
      (id, (0 until 20).map(k => s"$seed$k").mkString(" "))
    val alpha = doc(1L, "alpha"); val beta = doc(2L, "beta")
    // Recycled boilerplate: 10 contiguous words of each corpus doc —
    // distinct fingerprint, shingle-Jaccard ≈ 0.31 (passes both content
    // gates), 6 of 13 windows duplicated (ratio 0.46 > the 0.35 bar) →
    // must drop at the SUBSTRING stage, in every batch it arrives in.
    def recycled(id: Long): (Long, String) = (id,
      (alpha._2.split(" ").take(10) ++ beta._2.split(" ").take(10))
        .mkString(" "))
    val corpusRows = Seq(alpha, beta)
    val files = Seq(
      "f1" -> Seq(doc(10L, "gamma"), recycled(11L)),   // kept {10}
      "f2" -> Seq(recycled(21L), doc(22L, "delta")),   // kept {22} (crash)
      "f3" -> Seq(doc(30L, "epsilon")))                // kept {30}

    def writeSrc(srcDir: String): Unit = {
      corpusRows.toDF("doc_id", "text").write.parquet(s"$srcDir/corpus")
      files.zipWithIndex.foreach { case ((name, rows), i) =>
        val d = s"$srcDir/stream/$name"
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(d)
        val t0 = System.currentTimeMillis() - 100000
        Files.walk(Paths.get(d)).forEach(p =>
          p.toFile.setLastModified(t0 + i * 2000L))
      }
    }
    def packsOf(dir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet

    val base = Files.createTempDirectory("crash9x4").toString
    writeSrc(s"$base/src")
    val args = Seq(s"$base/idx", s"$base/eng", s"$base/src", s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", "export4"), s"$base/run1.log")
    assert(rc1 == 137, s"child should die by halt(137), got $rc1 — " +
      s"log: $base/run1.log")
    val rc2 = runChild(args ++ Seq("-1", "export4"), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")

    val ref = Files.createTempDirectory("crash9x4ref").toString
    writeSrc(s"$ref/src")
    assert(runChild(Seq(s"$ref/idx", s"$ref/eng", s"$ref/src", s"$ref/sink")
      ++ Seq("-1", "export4"), s"$ref/run.log") == 0)

    // The recycled docs never entered; the replayed batch re-sank its
    // recorded survivors once, through all four WALs.
    val kept = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/sink/kept").select("doc_id").as[Long].collect().toSeq
    assert(kept.sorted == Seq(10L, 22L, 30L),
      s"kept after crash-restart: $kept")
    val crashed = packsOf(s"$base/sink/packs")
    assert(crashed.nonEmpty && crashed == packsOf(s"$ref/sink/packs"),
      "packs across the crash must equal the uncrashed run")
  }

  test("kill -9 between pack sink and state commit: replay recomputes " +
      "bit-identical packs, exactly-once") {
    import spark.implicits._
    // Docs sized so every batch closes at least one 32-token window per
    // shard (ids split by parity across nShards = 2).
    def doc(id: Long, seed: String): (Long, String) =
      (id, (0 until 20).map(k => s"$seed$k").mkString(" "))
    val corpusRows = Seq(doc(1L, "alpha"), doc(2L, "beta"))
    val files = Seq(
      "f1" -> Seq(doc(10L, "alpha"), doc(11L, "beta")),
      "f2" -> Seq(doc(20L, "gamma"), doc(21L, "alpha")),
      "f3" -> Seq(doc(30L, "beta"), doc(31L, "gamma")))

    def writeSrc(srcDir: String): Unit = {
      corpusRows.toDF("doc_id", "text").write.parquet(s"$srcDir/corpus")
      files.zipWithIndex.foreach { case ((name, rows), i) =>
        val d = s"$srcDir/stream/$name"
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(d)
        val t0 = System.currentTimeMillis() - 100000
        Files.walk(Paths.get(d)).forEach(p =>
          p.toFile.setLastModified(t0 + i * 2000L))
      }
    }
    def packsOf(sinkDir: String): Set[(Long, Long, String)] =
      spark.read.option("recursiveFileLookup", "true").parquet(sinkDir)
        .select("shard", "pack_id", "token_ids")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet

    // Crashed run: die during f2, AFTER its packs landed in the sink but
    // BEFORE the successor state generation committed — the restart
    // replays f2 from the RETAINED base generation; determinism makes the
    // recompute bit-identical, and the per-batch overwrite keeps the
    // landed packs exactly-once.
    val base = Files.createTempDirectory("crash9pack").toString
    writeSrc(s"$base/src")
    val args = Seq(s"$base/idx", s"$base/eng", s"$base/src", s"$base/sink")
    val rc1 = runChild(args ++ Seq("1", "pack", "mid"), s"$base/run1.log")
    assert(rc1 == 137, s"child should die by halt(137), got $rc1 — " +
      s"log: $base/run1.log")
    val rc2 = runChild(args ++ Seq("-1", "pack", "mid"), s"$base/run2.log")
    assert(rc2 == 0, s"restart child failed with $rc2 — log: $base/run2.log")

    // Clean reference run over the same source, fresh dirs, no kill.
    val ref = Files.createTempDirectory("crash9packref").toString
    writeSrc(s"$ref/src")
    val refArgs = Seq(s"$ref/idx", s"$ref/eng", s"$ref/src", s"$ref/sink")
    assert(runChild(refArgs ++ Seq("-1", "pack", "mid"),
      s"$ref/run.log") == 0)

    val crashed = packsOf(s"$base/sink")
    val clean = packsOf(s"$ref/sink")
    assert(crashed.nonEmpty && crashed == clean,
      s"packs across the crash must equal the uncrashed run\n" +
        s" crashed=$crashed\n clean=$clean")
    // Exactly-once at the pack level: no (shard, pack_id) appears twice.
    val keys = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$base/sink").select("shard", "pack_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keys.distinct.size == keys.size,
      s"duplicate packs after crash-restart: $keys")
  }

  test("kill -9 mid-retraction: the export erasure completes exactly-once " +
      "on restart, from either half of its crash window") {
    // Default tier runs the deeper half of the crash window ("packs": the
    // shard rewrites landed, deletes/manifest/state did not); the "plan"
    // half (WAL committed, no apply leg ran) is the slow-tier arm below.
    retractionCrashCase(Seq("packs"))
  }

  test("kill -9 mid-retraction, pre-apply half: the erasure resumes from " +
      "a committed WAL before any apply leg ran", SlowTest) {
    retractionCrashCase(Seq("plan"))
  }

  private def retractionCrashCase(killPoints: Seq[String]): Unit = {
    import spark.implicits._
    // Docs sized to close 32-token windows across 4 shards; withdrawn
    // docs hit two shards, one early (long reflow) and one late.
    def doc(id: Long, seed: String): (Long, String) =
      (id, (0 until 20).map(k => s"$seed$k").mkString(" "))
    val corpusRows = Seq(doc(1L, "alpha"), doc(2L, "beta"))
    def batchRows(drop: Set[Long]): Seq[(String, Seq[(Long, String)])] = Seq(
      "f1" -> Seq(doc(10L, "alpha"), doc(11L, "beta"), doc(12L, "gamma"),
        doc(13L, "delta")),
      "f2" -> Seq(doc(20L, "epsilon"), doc(21L, "zeta"), doc(22L, "eta")),
      "f3" -> Seq(doc(30L, "theta"), doc(31L, "iota"), doc(33L, "kappa")))
      .map { case (n, rs) => n -> rs.filterNot(r => drop(r._1)) }
    val withdrawn = Set(12L, 21L, 33L)

    def writeSrc(srcDir: String, drop: Set[Long]): Unit = {
      corpusRows.toDF("doc_id", "text").write.parquet(s"$srcDir/corpus")
      batchRows(drop).foreach { case (name, rows) =>
        rows.toDF("doc_id", "text").coalesce(1)
          .write.parquet(s"$srcDir/stream/$name")
      }
      withdrawn.toSeq.toDF("doc_id").write.parquet(s"$srcDir/withdraw")
    }
    val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "shard long, pack_id long, n_tokens long, token_ids string")
    def export(out: String): Set[(Long, Long, Long, String)] =
      Seq(0L, 1L, 2L).flatMap { b =>
        spark.read.schema(pSchema).parquet(s"$out/b$b")
          .select(lit(b), col("shard"), col("pack_id"), col("token_ids"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3)))
      }.toSet

    // Reference: from-scratch export over the SURVIVING docs (no
    // retraction at all — what erasure must leave behind).
    val ref = Files.createTempDirectory("crash9rtref").toString
    writeSrc(s"$ref/src", drop = withdrawn)
    assert(runChild(Seq(s"$ref/idx", s"$ref/eng", s"$ref/src", s"$ref/sink",
      "-1", "retract", "none"), s"$ref/run.log") == 0)
    val expected = export(s"$ref/sink")
    assert(expected.nonEmpty)

    killPoints.foreach { killPoint =>
      val base = Files.createTempDirectory(s"crash9rt$killPoint").toString
      writeSrc(s"$base/src", drop = Set.empty)
      val args = Seq(s"$base/idx", s"$base/eng", s"$base/src", s"$base/sink")
      val rc1 = runChild(args ++ Seq("1", "retract", killPoint),
        s"$base/run1.log")
      assert(rc1 == 137, s"[$killPoint] child should die by halt(137), " +
        s"got $rc1 — log: $base/run1.log")
      // Crash-window invariants: the retraction WAL is committed, the
      // applied marker is not.
      assert(new java.io.File(
        s"$base/idx/retract/crash1/params/_SUCCESS").exists(),
        s"[$killPoint] retraction WAL must be committed at the crash")
      assert(!new java.io.File(
        s"$base/idx/retract/crash1/applied/_SUCCESS").exists(),
        s"[$killPoint] applied marker must NOT exist at the crash")
      // Restart: the same retract key resumes from its WAL and completes.
      val rc2 = runChild(args ++ Seq("-1", "retract", "none"),
        s"$base/run2.log")
      assert(rc2 == 0, s"[$killPoint] restart failed — log: $base/run2.log")
      assert(export(s"$base/sink") == expected,
        s"[$killPoint] erased export must equal the from-scratch export " +
          "of the surviving docs")
    }
  }
}
