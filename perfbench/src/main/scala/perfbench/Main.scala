package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark program. One JVM runs one workload for one seed and writes a
  * raw record (every timed sample, the environment, the output checks, and
  * in a traced run the per-operation layer counts and spans) as JSON to
  * `--record`. `run.py` turns that record into the metric line.
  *
  *   perfbench.Main --workload ref_session|batch_map|stream_export
  *     --seed N --seconds S --trace 0|1 --work DIR --record FILE [--data DIR]
  *   perfbench.Main --selftest
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.contains("--selftest")) { SelfTest.run(); return }
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("work"), opt.getOrElse("data", ""))
    val out = try {
      ctx.workload match {
        case "ref_session" => RefSession.run(ctx)
        case "batch_map" => BatchMap.run(ctx)
        case "stream_export" => StreamExport.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally ctx.stopSession()
    Json.write(opt("record"), ctx.record(out))
  }
}

/** One timed operation: its pass, kind, name, wall ms and whether its
  * outputs checked out; `layers` only in a traced run. */
final case class Op(pass: Int, kind: String, name: String, ms: Double,
    ok: Boolean, error: String = null, layers: Map[String, Any] = null)

/** What every workload shares: options, the Spark session (restartable, so
  * set-up can be repeated), set-up repetitions, the op log, the tracer and
  * the environment stamp. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String, val data: String) {

  /** local[2], not one thread per core: on a box shared with other work,
    * four executor threads competing for four cores made run-to-run
    * spread 20-25%; two keep parallel shuffles in the plans at a spread
    * of 2-15%. */
  val cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())
  val tracer = new Tracer(trace)

  private var session: SparkSession = _
  def spark: SparkSession = session

  /** The session conf of the library's `Bench` main, plus local dirs kept
    * inside the benchmark's work directory. */
  def startSession(): SparkSession = {
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.files.openCostInBytes", "131072")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.dedup.saturation.mode", "fail")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session
  }

  def stopSession(): Unit = if (session != null) { session.stop(); session = null }

  // ---- set-up ------------------------------------------------------------

  val setupReps = mutable.ArrayBuffer[Map[String, Double]]()

  /** Repeats set-up `n` times, each on a fresh session, and keeps the last
    * repetition's state. Set-up is what a user waits for before the first
    * result: session start, input generation, registration and a first
    * operation. Each part's seconds go to the record; setup_s is the median
    * of the repetitions' totals. */
  def setup[S](n: Int)(body: (SparkSession, Int, (String, => Unit) => Unit) => S): S = {
    var state: Option[S] = None
    for (rep <- 0 until n) {
      val parts = mutable.LinkedHashMap[String, Double]()
      def part(name: String, f: => Unit): Unit = {
        val t0 = System.nanoTime()
        tracer.span(s"setup.$name")(f)
        parts(name) = (System.nanoTime() - t0) / 1e9
      }
      stopSession()
      val t0 = System.nanoTime()
      tracer.span("setup") {
        part("session", startSession(): Unit)
        state = Some(body(spark, rep, part))
      }
      parts("total") = (System.nanoTime() - t0) / 1e9
      setupReps += parts.toMap
      log(f"setup $rep: ${parts.map { case (k, v) => f"$k=$v%.2fs" }.mkString(" ")}")
    }
    state.get
  }

  // ---- measured operations ----------------------------------------------

  val ops = mutable.ArrayBuffer[Op]()
  val passMs = mutable.ArrayBuffer[Double]()
  var loopSeconds = 0.0
  lazy val probe: Option[Probe] =
    if (trace) { val p = new Probe(spark); p.start(); Some(p) } else None

  /** Times `body` as operation (kind, name). `check` runs after the clock
    * stops and returns an error text, or null when the outputs are right.
    * In a traced run the op's Spark counts are collected after the clock
    * stops, too. */
  def op[T](pass: Int, kind: String, name: String)(body: => T)(
      check: T => String): Unit = {
    probe.foreach(_.take(): Unit)
    val opSpan = tracer.spans.size + 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"$kind:$name")(body))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val layers = probe.map { p =>
      val c = p.take()
      c.jobs.foreach(j => tracer.add("spark.job", j.start * 1000, j.end * 1000,
        parent = opSpan))
      c.toJson(ms)
    }.orNull
    val err = res match {
      case Left(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      case Right(v) => try check(v) catch { case e: Throwable => s"check: $e".take(500) }
    }
    ops += Op(pass, kind, name, ms, err == null, err, layers)
    if (kind == "batch") log(f"$name: $ms%.0f ms")
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Untimed warm-up before the measured loop: the first pass pays
    * codegen, and pass times keep falling for several more as the JIT
    * compiles Catalyst and the generated code. */
  def warmUp(passes: Int)(pass: => Unit): Unit = {
    val t0 = System.nanoTime()
    for (_ <- 0 until passes) pass
    log(f"warm-up ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Runs passes until `seconds` have elapsed (at least one). */
  def loop(pass: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tp = System.nanoTime()
      tracer.span(s"pass")(pass(p))
      passMs += (System.nanoTime() - tp) / 1e6
      p += 1
    }
    loopSeconds = (System.nanoTime() - t0) / 1e9
    log(f"loop $loopSeconds%.1f s, $p passes")
  }

  // ---- record ------------------------------------------------------------

  def env: Map[String, Any] = {
    val conf = Option(spark).map(_.conf.getAll).getOrElse(Map.empty)
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_n" -> cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "spark_conf" -> conf.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.graft.") ||
          k == "spark.master" || k == "spark.driver.memory"
      })
  }

  def record(extra: Map[String, Any]): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
    "trace" -> trace, "env" -> envSnapshot,
    "setup_reps" -> setupReps.toSeq,
    "loop_seconds" -> loopSeconds,
    "pass_ms" -> passMs.toSeq,
    "ops" -> ops.toSeq.map(o => Map("pass" -> o.pass, "kind" -> o.kind,
      "name" -> o.name, "ms" -> o.ms, "ok" -> o.ok, "error" -> o.error,
      "layers" -> o.layers)),
    "spans" -> tracer.toJson) ++ extra

  /** Environment taken while the session is still up (the conf). */
  var envSnapshot: Map[String, Any] = Map.empty
  def stampEnv(): Unit = envSnapshot = env
}
