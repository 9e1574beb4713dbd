package graft

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the driver-facing mains ([[Bench]], [[Verify]]) and
  * the test-tree dev tools: one session builder, so the conf the bench
  * measures is the conf Verify checks; and log routing — their
  * stdout/stderr tail is the round's machine-readable record, so
  * known-benign warning spam must never be able to crowd the one parseable
  * line out of the driver's ~2 KB log-tail window. */
object Harness {

  /** The harness session: `local[cpus]` with as many shuffle partitions,
    * UTC, AQE with partition coalescing, a 5000-entry codegen cache, the
    * fast-storage file open cost, no UI, and the saturation-guard policy
    * passthrough; `overlay` is applied last (dev tools pass [[extraConf]]).
    * The benchmark program's `perfbench.Ctx.startSession` holds a copy of
    * this conf (at a fixed open cost and saturation mode) — change both
    * together. Log level WARN, with [[quietNoisyLoggers]] applied. */
  def session(cpus: String,
      overlay: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // 120 queries × several codegen units overflow the default 100-entry
      // compile cache; evictions turn mid-suite queries cold again and
      // inject multi-second recompile noise (BENCH_NOTES.md).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // File-split open cost (round 17): the 4 MB default models slow-disk
      // per-file open overhead and packs every small parquet table into
      // 1-3 splits — 500 ImageIO decodes measured running on THREE tasks
      // of a 32-core box, tokenize-heavy SQL at sub-10% core use (QProf,
      // OPTIMIZATION_r17.md). 128 KB is the fast-storage (NVMe page-cached
      // / parallel object-store reader) figure; at scale it is inert —
      // large files split by maxPartitionBytes, and split-packing of many
      // small files still amortizes opens within a split. Env-overridable
      // per box like the other scale knobs.
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "131072"))
      .config("spark.ui.enabled", "false")
      // Saturation-guard policy passthrough for scale lanes: the native-sf1
      // fixture is vocabulary-saturated, where the exact-pair family
      // FAILS FAST by default (operators/Dedup.routeOnSaturation). The sf1
      // recipe sets route so the full map runs on the capped shapes. The
      // official sf0.1 bench leaves this unset (healthy corpus, guard
      // silent).
      .config("spark.graft.dedup.saturation.mode",
        sys.env.getOrElse("SPARK_GRAFT_SATURATION_MODE", "fail"))
    val spark = overlay.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietNoisyLoggers()
    spark
  }

  /** Dev-tool conf A/B hook: `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` as pairs
    * for [[session]]'s overlay, so config experiments need no recompile
    * per trial. The driver-facing mains never read it. */
  def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").map(_.trim).filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }

  /** Route known-noisy, by-design warning sources to ERROR. The big one:
    * WindowExec's "No Partition Defined for Window operation" — global
    * ranks BELOW the measured single-task cutoff route to a plain window
    * deliberately (operators.Ranks, spec-asserted), and at ~20 repeats per
    * run the warnings once left the bench JSON line with almost no tail
    * headroom (round 8). Level is set via log4j2's Configurator, same
    * backend sparkContext.setLogLevel drives. */
  def quietNoisyLoggers(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel("org.apache.spark.sql.execution.window", Level.ERROR)
    // Structured-streaming state/commit chatter — irrelevant to batch
    // harness output but WARN-level under checkpoint contention.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming", Level.ERROR)
    // "Asked to cache already cached data": the resident-index pattern
    // re-persists deterministic per-(session, dir) sketches by design.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.CacheManager", Level.ERROR)
    // "Broadcasting large task binary with size ~1 MiB": audited round 10
    // (BENCH_NOTES) — the megabyte closures are the BPE merge-table /
    // vocab literals and IVF centroid arrays, all MODEL-bounded (merge
    // count, nlist) and constant in corpus size, so the scheduler cost
    // does not grow with data. Filter that ONE message with a DENY regex
    // rather than raising the whole DAGScheduler logger to ERROR —
    // stage-failure/resubmission warnings come from the same logger, and
    // a bench run that quietly retried stages must leave its trace in
    // the log, not report skewed timings silently (round-11 fix).
    locally {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LoggerContext}
      import org.apache.logging.log4j.core.filter.RegexFilter
      val name = "org.apache.spark.scheduler.DAGScheduler"
      // Materialize a logger-specific config to hang the filter on.
      Configurator.setLevel(name, Level.WARN)
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getLoggerConfig(name).addFilter(
        RegexFilter.createFilter("Broadcasting large task binary.*", null,
          java.lang.Boolean.FALSE, Filter.Result.DENY, Filter.Result.NEUTRAL))
      ctx.updateLoggers()
    }
  }

  /** Route executor/task-scheduler error traces OFF the console and into
    * `path`, counted — the round-16 official bench record opened
    * mid-stack-trace: an expected-poison task error (the i-series plant
    * corrupt files by design) printed six frames into the driver's ~2 KB
    * log tail, and the record could not say whether it was benign. Same
    * failure family as the WARN spam [[quietNoisyLoggers]] routes: the
    * one parseable line must own the tail, and anything that DID happen
    * must be adjudicated on the record (the JSON carries the count and
    * the file path) rather than interleaved raw. Returns the live event
    * counter. */
  def routeTaskErrorLogs(path: String)
      : java.util.concurrent.atomic.AtomicInteger = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.logging.log4j.core.layout.PatternLayout
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val layout = PatternLayout.newBuilder().withConfiguration(cfg)
      .withPattern("%d{HH:mm:ss} %-5p %c{1}: %m%n%ex").build()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).toAbsolutePath.getParent)
    // Truncate: the record's count and benign verdict speak for this run
    // only, so events from earlier runs must not linger in the file.
    val out = new java.io.PrintWriter(new java.io.FileWriter(path, false))
    val sink = new AbstractAppender("graft-task-errors", null, layout,
        true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = {
        counter.incrementAndGet()
        out.synchronized {
          out.print(new String(layout.toByteArray(event), "UTF-8"))
          out.flush()
        }
      }
    }
    sink.start()
    // The two loggers every task-level failure speaks through. Additivity
    // OFF detaches them from the console appender; the sink keeps the
    // full trace on disk.
    for (name <- Seq("org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager")) {
      Configurator.setLevel(name, Level.WARN) // materialize a config
      val lc = cfg.getLoggerConfig(name)
      lc.setAdditive(false)
      lc.addAppender(sink, Level.WARN, null)
    }
    ctx.updateLoggers()
    counter
  }

  /** 1-min system load average (ambient stamp — take it BEFORE the session
    * spins up; our own executor threads dominate afterwards). */
  def loadAverage: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Live java processes on the box — idle is ≈2 (the sbt launcher + this
    * forked main); more means a co-resident build/probe JVM. */
  def javaProcessCount: Int =
    try {
      import scala.jdk.CollectionConverters._
      val procs = java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
      try procs.iterator().asScala
        .filter(_.getFileName.toString.forall(_.isDigit))
        .count { p =>
          try new String(java.nio.file.Files.readAllBytes(
            p.resolve("cmdline"))).contains("java")
          catch { case _: Throwable => false }
        }
      finally procs.close()
    } catch { case _: Throwable => -1 }

  /** Idle-bench protocol: wait (bounded) for ambient load to drop below
    * `threshold` before measuring — a co-resident JVM inflates single-pass
    * wall clock up to ~1.6× and manufactured three phantom per-query
    * regressions in the round-8 snapshot (judge-confirmed code-untouched).
    * Returns the final load stamp and whether the box was still loaded
    * when the wait budget ran out — callers mark the output LOADED so a
    * driver comparing raw JSONs can discount it. Wait budget is
    * deliberately small (default ≤90 s) so a busy box delays the round,
    * never stalls it. */
  def awaitQuietBox(threshold: Double = 1.0, maxWaitMs: Long = 90000L,
      pollMs: Long = 15000L): (Double, Boolean) = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var load = loadAverage
    while (load > threshold && System.currentTimeMillis() < deadline) {
      System.err.println(
        f"[bench] load_avg $load%.2f > $threshold%.1f - waiting for a " +
          "quiet box (idle-bench protocol)")
      Thread.sleep(pollMs)
      load = loadAverage
    }
    (load, load > threshold)
  }
}
