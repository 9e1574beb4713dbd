package graft

/** Driver benchmark contract: run every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, print ONE JSON line with per-query seconds.
  *
  * Materialization is a `noop` datasource write — unlike count(), it
  * computes every output column (count() lets Catalyst prune the projection
  * away, which under-measures expression-heavy queries).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Idle-bench protocol (round-8 postmortem): wait briefly for ambient
    // load to settle, then stamp. A snapshot that still ran loaded carries
    // "loaded":true so a driver comparing raw JSONs can discount it
    // instead of reading phantom per-query regressions.
    val (ambientLoad, stillLoaded) =
      Harness.awaitQuietBox(threshold = 1.0, maxWaitMs = 90000L)
    val ambientJvms = Harness.javaProcessCount
    // Known-benign warning spam (WindowExec sub-cutoff global ranks) once
    // filled 90% of the driver's ~2KB log tail; the session quiets it
    // ([[Harness.quietNoisyLoggers]]).
    val spark = Harness.session(cpus)
    // Task-level error traces route to a FILE and a counter (round 17):
    // the round-16 record opened mid-stack-trace from an expected-poison
    // executor error (the i-series plant corrupt files by design) and the
    // official record couldn't adjudicate it. The JSON now carries
    // task_errors + the log path; the tail carries no raw frames.
    val taskErrLog = sys.env.get("SPARK_GRAFT_OUT")
      .map(d => java.nio.file.Paths.get(d, "bench-task-errors.log"))
      .getOrElse(java.nio.file.Paths.get("target", "bench-task-errors.log"))
      .toString
    val taskErrs = Harness.routeTaskErrorLogs(taskErrLog)

    // Per-query task-error attribution (round 18, VERDICT item 8): the
    // sf1 record carried `task_errors: 10` with no on-record adjudication
    // — the counter is now sampled around each materialization so the
    // final tail line can NAME the queries that errored and say whether
    // they are all i-series expected-poison fixtures.
    val taskErrQueries = scala.collection.mutable.LinkedHashMap[String, Int]()
    // Each materialization releases the dedup sketch caches it persisted
    // once its clock has stopped, so pass 2 measures the same cold-sketch
    // work as pass 1 and MEMORY_AND_DISK does not pile up across passes.
    def materialize(name: String): Double = operators.Dedup.withSketchCache {
      val e0 = taskErrs.get
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      finally {
        val d = taskErrs.get - e0
        if (d > 0) taskErrQueries(name) = taskErrQueries.getOrElse(name, 0) + d
      }
    }

    // Registration failure must still produce a parseable one-line JSON for
    // the driver's ~2KB log tail — r7's unwrapped call died rc=1 with only a
    // stack-trace tail, leaving the round's bench record undiagnosable.
    try Tables.ensure(spark, sfDir)
    catch { case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(600)
      spark.stop()
      println(s"""{"metric":"total","value":-1,"unit":"sec","queries":{},"sf":"$sfDir","error":"table registration failed: $msg"}""")
      System.out.flush()
      sys.exit(1)
    }
    // Warmup: pay JVM/codegen/first-stage costs outside the measurement.
    // The set-op pair covers the INTERSECT ALL / EXCEPT ALL replication
    // shapes, whose first-use codegen (~0.3-0.7s) otherwise lands on
    // whichever u-series query runs first — the round-3 "regression" was
    // exactly this measurement-order JIT noise (warm steady-state was flat
    // round-over-round; see BENCH_NOTES.md).
    materialize("h1_pricing_summary")
    materialize("j1_inner")
    materialize("u4_intersect_all")
    materialize("u6_except_all")
    // The token-window rolling-hash shape: its first use pays ~1.5s of
    // codegen/JIT that landed inside d14's measurement in round 9
    // (0.57→1.24s with zero code changes; probed round 10: cold 2.31s,
    // warm 0.73s — the documented measurement-order noise class, same as
    // the round-3 u-series. See BENCH_NOTES.md round 10).
    materialize("d14_dedup_substring")

    // CALIBRATION BLOCK (round-12, VERDICT item 3): five fixed pure-Catalyst
    // queries measured in their own best-of-2 block right after warmup.
    // Their plans never change round-over-round, so their wall-clock is a
    // box-speed probe: BENCH_NOTES keeps the same-box history, and the JSON
    // carries both the raw total and norm_total = total × (calibRef /
    // calib_sec), separating box drift (uniform inflation — the +22% the
    // round-11 forensics had to explain manually) from per-plan regressions
    // (which move queries the calibration does NOT move).
    val calibNames = Seq("h1_pricing_summary", "h2_min_cost_supplier",
      "h7_preagg_join", "j1_inner", "w2_rank_multi")
    // Same-box quiet-run reference for the calibration block's summed
    // seconds, pinned at round 12 to the QUIETEST same-box reading
    // (BENCH_NOTES r12 history: 5.33 @load .93, 5.07 @.97, 4.49 @.90 —
    // the ref tracks the quiet floor so norm_total ≈ total on a quiet
    // box and reads above it under drift). Per-FIXTURE: the sf1 lane's
    // block reads ~15.2 on its own tables — compare norm_total only
    // across runs of the same fixture. Override per-box via env.
    val calibRef = sys.env.getOrElse("SPARK_GRAFT_CALIB_REF", "4.5").toDouble
    val calibSec = {
      val a = calibNames.map(materialize)
      val b = calibNames.map(materialize)
      a.zip(b).map { case (x, y) =>
        if (x < 0) y else if (y < 0) x else math.min(x, y)
      }.filter(_ >= 0).sum
    }

    // SPARK_GRAFT_SKIP: comma-separated query names to exclude — for
    // scale probes on saturated fixtures. Round 12: the saturation guard's
    // route mode (SPARK_GRAFT_SATURATION_MODE, [[Harness.session]])
    // replaces the round-11 exclusions; SKIP remains as a debugging escape
    // hatch only, and a non-empty set is LOGGED and recorded in the JSON so
    // a truncated run is self-describing (ADVICE r11).
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    if (skip.nonEmpty)
      System.err.println(s"SPARK_GRAFT_SKIP active: ${skip.size} queries " +
        s"excluded from this run's map: ${skip.toSeq.sorted.mkString(",")}")
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(skip.contains)
    // INTERLEAVED CALIBRATION (round-14, VERDICT item 3): the start-of-run
    // block prices the box ONCE, so load moving DURING a run still skewed
    // norm_total (BENCH_NOTES: two same-code snapshots 30 min apart read
    // norm 96 vs 113). A 2-query mini-probe (warm, pure-Catalyst) now runs
    // before every `segSize`-query segment of BOTH passes; each
    // measurement is normalized by ITS OWN segment's speed reading before
    // the per-query min (factor computed below, anchored at the run's
    // median probe reading), so a load spike mid-run inflates only the
    // segments it actually touched instead of being averaged into (or
    // missed by) one opening snapshot. Raw totals and the `queries` map
    // stay untouched raw minimums; only norm_total consumes the factors.
    val segProbe = Seq("h1_pricing_summary", "j1_inner")
    def probeSeg(): Double = {
      val s = segProbe.map(materialize).filter(_ >= 0)
      if (s.isEmpty) -1.0 else s.sum
    }
    val segSize = sys.env.getOrElse("SPARK_GRAFT_CALIB_SEG", "15").toInt
    final case class Timed(name: String, sec: Double, segCal: Double)
    def runPassOver(sel: Seq[String]): Seq[Timed] =
      if (segSize <= 0) sel.map(n => Timed(n, materialize(n), -1.0))
      else sel.grouped(segSize).toSeq.flatMap { chunk =>
        val c = probeSeg()
        chunk.map(n => Timed(n, materialize(n), c))
      }
    // Best-of-2 per query: ambient machine load (a co-resident sbt/probe
    // JVM) inflates single-pass wall clock by up to ~1.6× and cannot be
    // prevented from here; the min of two interleaved passes caps that
    // noise at whichever pass had the quieter neighborhood. Queries stay
    // warm between passes (same JVM, codegen cache sized above), so pass 2
    // is also the steady-state number.
    var passes = Vector(runPassOver(names), runPassOver(names))
    // LOADED-SEGMENT RE-RUN (round 15; round 18, VERDICT r17 item 1a): a
    // query whose segment probes read loaded in EVERY pass has no quiet
    // raw minimum at all — the round-14 official record carried a 1.93×
    // phantom on exactly this shape, and the round-17 record re-ran its 15
    // load-struck segments ONCE, stayed loaded, and the official numbers
    // came out unprovable. Suspects now re-run until every query owns at
    // least one measurement from a quiet segment (probe ≤ 1.5× the median
    // of the first two passes' probes) or the retry cap is spent; if the
    // box stays loaded to the cap, the per-query calibration (qcal, item
    // 1b below) still prices each surviving number and `rerun_n` says how
    // much re-measuring happened.
    val rerunCap = sys.env.getOrElse("SPARK_GRAFT_RERUN_CAP", "4").toInt
    var rerunN = 0
    locally {
      // The quiet bar is fixed before any rerun: a median over the reruns
      // too would drift up with the very load the reruns are dodging.
      val probes = passes.flatten.map(_.segCal).filter(_ > 0)
      val med = if (probes.isEmpty) -1.0 else probes.sorted.apply(probes.size / 2)
      var attempts = 0
      var more = med > 0
      while (more && attempts < rerunCap) {
        val suspect = names.filter { n =>
          val cals = passes.flatMap(_.find(_.name == n)).map(_.segCal)
          cals.nonEmpty && cals.forall(c => c > 0 && c > med * 1.5)
        }
        if (suspect.isEmpty) more = false
        else {
          attempts += 1
          rerunN += suspect.size
          System.err.println(s"[bench] ${suspect.size} queries measured " +
            s"only under load (probe > 1.5× median, n_jvms=$ambientJvms) " +
            s"- re-running those segments (attempt $attempts/$rerunCap)")
          passes :+= runPassOver(suspect)
        }
      }
    }
    // Per-query result = the raw minimum across passes, PAIRED with the
    // segment-probe reading of the pass that produced it (round 18, VERDICT
    // r17 item 1b): the record then carries, for every query, how fast the
    // box was in the exact neighborhood its reported second came from, so a
    // PERF comparison can normalize per query instead of discounting the
    // whole record when one segment was load-struck.
    val results = names.map { n =>
      val ms = passes.flatMap(_.find(_.name == n)).filter(_.sec >= 0)
      if (ms.isEmpty) n -> Timed(n, -1.0, -1.0)
      else n -> ms.minBy(_.sec)
    }
    // The BOX-SPEED anchor is the MEDIAN of all ~2·ceil(n/segSize) segment
    // probes — a robust statistic over the whole run — priced against a
    // pinned quiet-box reference for the same 2-query probe
    // (SPARK_GRAFT_CALIB_SEG_REF, the calibRef discipline one level
    // down). The round-13 formula divided by the one start-of-run block,
    // whose own ±10% reading noise dominated norm_total even when the
    // per-query raw minimums agreed to <1% (measured back-to-back,
    // BENCH_NOTES r14). Per-segment correction then discounts only the
    // segments a load spike actually touched, clamped to [1/1.5, 1.5] so
    // one noisy probe can't amplify into the total. calib_sec (the block)
    // stays on the record for cross-round continuity.
    val calibSegRef =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_SEG_REF", "0.47").toDouble
    val segCals = passes.flatten.map(_.segCal).filter(_ > 0)
    val medianSegCal =
      if (segCals.isEmpty) -1.0
      else segCals.sorted.apply(segCals.size / 2)
    def segFactor(c: Double): Double =
      if (medianSegCal <= 0 || calibSegRef <= 0)
        (if (calibSec > 0) calibRef / calibSec else 1.0)
      else {
        val cClamped = math.max(medianSegCal / 1.5,
          math.min(medianSegCal * 1.5, if (c > 0) c else medianSegCal))
        calibSegRef / cClamped
      }
    val segNormTotal =
      if (calibSec <= 0 && medianSegCal <= 0) -1.0
      else names.map { n =>
        val normd = passes.flatMap(_.find(_.name == n))
          .filter(_.sec >= 0).map(t => t.sec * segFactor(t.segCal))
        if (normd.isEmpty) 0.0 else normd.min
      }.sum
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // Record-refusal discipline (round 18, VERDICT r17 item 1c): a record
    // whose calibration block ran >1.5× slower than its pinned quiet-box
    // reference is stamped loaded even if the ambient-load probe at start
    // looked quiet — the r17 record read load_avg 1.13 / calib 10.97-vs-4.5
    // and was still compared raw.
    val loadedFlag = stillLoaded ||
      (calibSec > 0 && calibRef > 0 && calibSec > calibRef * 1.5)
    // `value` is always the FULL-suite total (the round-over-round headline
    // number), even on the printed line whose `queries` map carries only the
    // headline subset — the full map lives in bench.json.
    def jsonFor(sel: Seq[(String, Timed)]): String = {
      val qs = sel.map { case (k, t) => "\"" + k + "\":" + fmt(t.sec) }
        .mkString("{", ",", "}")
      // qcal: the per-query segment-probe seconds, ARRAY-ALIGNED with the
      // `queries` map's key order (an object map would double the printed
      // line past the driver's ~2 KB tail window). Ratio use only, so two
      // decimals; compare against seg_cal_ref/seg_cal_med. -1 = no probe
      // (SPARK_GRAFT_CALIB_SEG=0 runs).
      def fmt2(v: Double): String =
        if (v < 0) "-1"
        else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
      val qcal = sel.map(t => fmt2(t._2.segCal)).mkString("[", ",", "]")
      val total = results.map(_._2.sec).filter(_ >= 0).sum
      val skipped = skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      // seg_cal min/max: the run's own drift envelope — equal values mean
      // the box held steady, a spread localizes WHERE load moved.
      val (scMin, scMax) =
        if (segCals.isEmpty) (-1.0, -1.0) else (segCals.min, segCals.max)
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""qcal":$qcal,""" +
        s""""calib_sec":${fmt(calibSec)},"calib_ref":${fmt(calibRef)},""" +
        s""""norm_total":${fmt(segNormTotal)},""" +
        s""""seg_cal_med":${fmt(medianSegCal)},"seg_cal_ref":${fmt(calibSegRef)},""" +
        s""""seg_cal_min":${fmt(scMin)},"seg_cal_max":${fmt(scMax)},""" +
        s""""skipped":$skipped,"rerun_n":$rerunN,""" +
        s""""load_avg":${fmt(math.max(0.0, ambientLoad))},""" +
        s""""n_jvms":$ambientJvms,"loaded":$loadedFlag,""" +
        s""""task_errors":${taskErrs.get},""" +
        s""""task_error_log":"$taskErrLog","sf":"$sfDir"}"""
    }
    // Full per-query detail goes to the file; the PRINTED line carries only
    // the headline subset. Rounds 1-2 both ended with rc=0 but parsed=null:
    // the driver keeps only a ~2KB log tail, and a 110-query JSON line is
    // ~4KB, so its opening brace was cut off. The headline line stays well
    // under the tail window (and the [success] trailer sbt appends after it).
    val headline = Seq(
      "h1_pricing_summary", "h2_min_cost_supplier", "h3_shipping_priority",
      "h4_order_priority", "h5_local_supplier", "h6_forecast_revenue",
      "h7_preagg_join", "h8_market_share", "h9_product_profit",
      "h10_returned_items", "h12_priority_shipping", "h21_waiting_supplier",
      "x1_curation_pipeline",
      "j1_inner", "j10_salted_join", "j11_hot_split_join",
      "w2_rank_multi", "w5_dense_rank_partition",
      "s1_ann_brute", "s2_ann_lsh", "s3_ann_ivf", "s5_ann_pq",
      "d1_dedup_exact", "d2_dedup_minhash", "d3_dedup_jaccard",
      "d5_dedup_embedding", "d7_dedup_clusters", "d9_contamination",
      "d12_dedup_fp_index", "d14_dedup_substring", "d15_dedup_semantic",
      "x6_quality_quantile_filter",
      "t11_vocab_tokenize", "t13_tfidf_search", "t14_repetition_signals",
      "e4_asof_join", "e5_range_join",
      "m2_frame_sample", "m8_payload_dedup", "m10_image_decode",
      "m11_audio_decode", "m12_audio_overlap",
      "s4_hybrid_search", "x2_sequence_packing")
    val headlineJson = jsonFor(results.filter(r => headline.contains(r._1)))
    val fullJson = jsonFor(results)
    // File targets: $SPARK_GRAFT_OUT/bench.json when set, else bench.json in
    // the working directory (kept out of git; unconditional cwd writes were
    // leaving litter in the checkout).
    val outPath = sys.env.get("SPARK_GRAFT_OUT")
      .map(d => java.nio.file.Paths.get(d, "bench.json"))
      .getOrElse(java.nio.file.Paths.get("bench.json"))
    try {
      Option(outPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(outPath, (fullJson + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(s"bench.json write to $outPath failed: $e")
    }
    spark.stop()
    // Print last, after spark.stop(), so no executor/log line can interleave;
    // flush so the line is complete even if the JVM is torn down abruptly.
    // Self-adjudicating tail (round 18, VERDICT r17 item 8): when task-level
    // errors happened on a green map, the ONE tail line names which queries
    // produced them and rules on benignity — the i-series integrity fixtures
    // plant corrupt files BY DESIGN, and a record must never again need a
    // human to connect `task_errors: 10` to them.
    if (taskErrs.get > 0) {
      val byQ = taskErrQueries.toSeq.sortBy(_._1)
        .map { case (q, n) => s"$q:$n" }.mkString(" ")
      // Known-benign event classes: (a) i-series integrity fixtures plant
      // corrupt files BY DESIGN; (b) "task of very large size" is a
      // scheduler ADVISORY (driver-resolved local results — union-find
      // components, blocked-grid combos — ride in the task binary; no
      // task failed). Anything else on a green map still says "inspect".
      val nAdvisory = scala.util.Try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(taskErrLog)).asScala
          .count(_.contains("contains a task of very large size"))
      }.getOrElse(0)
      val nNonPoison = taskErrQueries.collect {
        case (q, n) if !q.startsWith("i") => n }.sum
      val verdict =
        if (taskErrQueries.keys.forall(_.startsWith("i")))
          "all from i-series expected-poison integrity fixtures (corrupt " +
            "files planted by design) - benign on a green map"
        else if (nNonPoison <= nAdvisory)
          "i-series expected poison and/or 'task of very large size' " +
            "scheduler advisories (driver-resolved local results in the " +
            "task binary; nothing failed) - benign on a green map"
        else "NOT all from known-benign classes - inspect the log"
      println(s"[bench] ${taskErrs.get} task-level error/warn events " +
        s"routed to $taskErrLog ($byQ): $verdict; a query that actually " +
        "failed reads -1 in the map")
    }
    println(headlineJson)
    System.out.flush()
  }
}
