package perfbench

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** `batch_map`: a fixed, family-spanning subset of the library's named
  * queries over the TESTDATA.md tables (generated from the seed by
  * gen.py into `--data`), warm, each materialised by a `noop` write as the
  * library's `Bench` main does. The seed also permutes the query order. */
object BatchMap {

  /** One query per family (h, j, w, a, d, s, t, m, x, e): the one whose
    * executors did the largest share of the work (executor CPU over
    * wall × cores) in a traced survey of 145 named queries at sf0.1, among
    * those that took at most 0.7 s and return at most 150k rows, so that
    * operators, not fixed per-query costs, dominate the pass and the
    * output check stays cheap (perfbench/README.md, "batch_map"). */
  val names: Seq[String] = Seq(
    "h6_forecast_revenue", "j9_case_insensitive", "w3_dense_rank", "a15_rollup",
    "d1_dedup_exact", "s1_ann_brute", "t17_chunk_documents", "m10_image_decode",
    "x6_quality_quantile_filter", "e2_sessionize")

  def run(ctx: Ctx): Map[String, Any] = {
    val dir = ctx.data
    val order = Gen.shuffle(ctx.seed, "map_order", names)
    def materialize(spark: SparkSession, name: String): Unit =
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

    // The first operation of set-up is the same query for every seed, so
    // that setup_s does not vary with the seed's order.
    ctx.setup(3) { (spark, _, part) =>
      part("register", Tables.ensure(spark, dir))
      part("first_op", materialize(spark, names.head))
    }
    val spark = ctx.spark
    ctx.stampEnv()
    ctx.warmUp(2)(order.foreach(materialize(spark, _)))

    ctx.loop { pass =>
      order.foreach { name =>
        ctx.op(pass, "query", name) {
          val df = ctx.tracer.span("engine")(SparkEntry.queries(name)(spark, dir))
          ctx.probe.foreach(_.noteAnalysis(df.queryExecution))
          ctx.tracer.span("execute")(df.write.format("noop").mode("overwrite").save())
        }(_ => null)
      }
    }

    // Output checks, untimed, on the warm session after the measured loop:
    // each query is built and run once more and its rows collected, so a
    // result that goes wrong only on a repeated execution is caught. Every
    // result goes to the DuckDB oracle; a query without one gets a
    // rows-only check.
    val results = order.map { n =>
      n -> Try { val df = SparkEntry.queries(n)(spark, dir); (df.columns.toSeq, df.collect()) }
    }.toMap
    val oracleSql = SparkEntry.oracleSql
    Map(
      "checks" -> names.map { n =>
        n -> results(n).fold(e => s"collect: $e".take(500),
          r => if (oracleSql.contains(n) || r._2.nonEmpty) null else "no rows")
      }.toMap,
      "detail" -> Map("order" -> order),
      "oracle" -> Map(
        "tables_dir" -> dir, "by_name" -> true,
        "tables" -> Tables.all.filter(t => new java.io.File(s"$dir/$t.parquet").exists()),
        "queries" -> names.filter(n => oracleSql.contains(n) && results(n).isSuccess).map { n =>
          val (cols, rows) = results(n).get
          Map("name" -> n, "sql" -> oracleSql(n), "columns" -> cols, "rows" -> rows.toSeq)
        }))
  }
}
