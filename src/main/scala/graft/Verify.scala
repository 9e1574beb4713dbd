package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional trailing names: dump only that subset (local spot-checks; the
    // driver always calls with exactly two args → full dump).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Bench's session, so Verify checks the conf the bench measures; the
    // driver reads this run's log tail too, and the session keeps
    // by-design warning spam out of it ([[Harness]] doc).
    val spark = Harness.session(cpus)
    // Expected-poison task errors (the i-series plant corrupt files by
    // design; i5 probes the engine's OWN gate layers) route to a counted
    // file here too, so the driver's tail stays adjudicable — the same
    // treatment [[Bench]] got after the r16 record opened mid-stack-trace.
    val taskErrs = Harness.routeTaskErrorLogs(s"$outDir/task-errors.log")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written BEFORE the query loop: a mid-loop crash (or
    // an all-queries-fail round, as in r7) must still leave the driver a
    // machine-readable record of what was supposed to run.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    var ok = 0
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // Each dump releases the dedup sketch caches it persisted, so
      // MEMORY_AND_DISK does not pile up across the map.
      try {
        operators.Dedup.withSketchCache {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        ok += 1
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errs(name) = msg.take(500)
      }
    }
    // Per-query error manifest: total failure is machine-visible, not an
    // indistinguishable-from-empty run (r7's silent-zero failure mode).
    val errJson = errs.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (taskErrs.get > 0)
      System.err.println(s"[verify] ${taskErrs.get} task error(s) routed " +
        s"to $outDir/task-errors.log (expected-poison i-series fixtures " +
        "fail tasks by design; a green dump count adjudicates them benign)")
    System.err.println(s"[verify] dumped $ok queries, ${errs.size} failed")
    spark.stop()
    // Zero successful dumps with at least one attempt means the harness
    // itself is broken (e.g. table registration failed) — exit nonzero so
    // the driver records a loud rc instead of an empty-but-clean run.
    if (ok == 0 && errs.nonEmpty) sys.exit(1)
  }
}
