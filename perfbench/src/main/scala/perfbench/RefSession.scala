package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Dialect, Engine}

/** `ref_session`: the paper's own workload. The reference-shaped tables
  * (FIXTURES.md schemas and row counts) are generated from the seed and
  * registered; one closed-loop client then runs passes that mix two kinds
  * of operation in a seeded order:
  *
  *   - reads: reference-dialect SELECTs through `Engine.query`, collected;
  *   - chains (one operation in five): re-register `chain_src` with fresh
  *     seeded rows → query it → register the result → query that → remove
  *     the result.
  */
object RefSession {

  /** A read; `duck` is the DuckDB oracle (checked by run.py), `expect`
    * a DataFrame-API oracle for dialect-specific reads, `names` pins the
    * reference's output names. */
  final case class Read(name: String, sql: String, duck: String = null,
      expect: SparkSession => DataFrame = null, names: Seq[String] = null)

  /** A read whose SQL text DuckDB runs unchanged as its oracle. */
  private def portable(name: String, sql: String, names: Seq[String] = null) =
    Read(name, sql, duck = sql, names = names)

  private def t(s: SparkSession, n: String) = s.table(n)

  val reads: Seq[Read] = Seq(
    portable("filter",
      "select * from forest_fires where (wind > 4 and rain = 0) or temp > 30"),
    portable("between_in", "select X, Y, month, temp from forest_fires " +
      "where temp between 10 and 20 and day in ('fri', 'sun')"),
    portable("group_agg", "select month, count(*) as n, avg(temp) as avg_temp, " +
      "max(area) as max_area from forest_fires group by month"),
    portable("having", "select day, sum(rain) as total_rain from forest_fires " +
      "group by day having count(*) > 60"),
    portable("global_agg",
      "select min(temp), max(temp), avg(temp), max(wind) from forest_fires",
      names = Seq("_col0", "_col1", "_col2", "_col3")),
    portable("order_limit", "select X, Y, DC, DMC, temp from forest_fires " +
      "order by DC desc, DMC desc, temp desc, X, Y limit 10"),
    portable("join_star", "select * from digimon_mon_list join digimon_move_list " +
      "on mon_attribute = move_attribute where Power > 280"),
    portable("left_join", "select Digimon, Stage, Move, Power from digimon_mon_list " +
      "left join digimon_move_list on mon_attribute = move_attribute " +
      "and Power > 290 where Memory > 20"),
    portable("union", "select month from forest_fires where temp > 30 " +
      "union select month from forest_fires where rain > 5"),
    portable("except", "select day, X from forest_fires where wind > 8 " +
      "except select day, X from forest_fires where temp < 10"),
    portable("window", "select month, temp, rank() over (partition by month " +
      "order by temp desc) as rnk from forest_fires"),
    portable("case_when", "select X, Y, case when area > 100 then 'big' " +
      "when area > 0 then 'small' else 'none' end as fire_size from forest_fires"),
    Read("avocado_agg", "select region, type, avg(AveragePrice) as avg_price, " +
      "sum(`Total Volume`) as volume, max(`4046`) as max_4046 from avocado group by region, type",
      duck = "select region, type, avg(AveragePrice) as avg_price, " +
        "sum(\"Total Volume\") as volume, max(\"4046\") as max_4046 from avocado group by region, type"),
    Read("pandas_cast", "select cast(temp as int64) as t64, cast(RH as float64) as rh, " +
      "cast(month as object) as m, cast(wind as float32) as w from forest_fires",
      expect = s => t(s, "forest_fires").select(col("temp").cast("bigint"),
        col("RH").cast("double"), col("month").cast("string"),
        col("wind").cast("float")),
      names = Seq("t64", "rh", "m", "w")),
    Read("datetime_cast", "select avocado_id, cast(Date as datetime64) as d, " +
      "cast(year as int32) as y from avocado",
      expect = s => t(s, "avocado").select(col("avocado_id"),
        col("Date").cast("timestamp"), col("year").cast("int"))),
    Read("now_today", "select wind, now(), today() from forest_fires where X = 1",
      expect = s => t(s, "forest_fires").where(col("X") === 1)
        .select(col("wind"), lit(0).as("now()"), current_date().as("today()")),
      names = Seq("wind", "now()", "today()")))

  /** One chain per four reads. */
  val chainsPerPass: Int = reads.size / 4

  /** Every read and `chainsPerPass` chains in a seeded order. */
  def passOrder(seed: Long, pass: Int): Seq[Option[Read]] =
    Gen.shuffle(seed, s"order$pass", reads.map(Some(_)) ++ Seq.fill(chainsPerPass)(None))

  private val chainSql1 =
    "select grp, count(*) as n, sum(v) as s from chain_src group by grp"
  private val chainSql2 =
    "select count(*) as n_groups, sum(n) as n_rows, round(sum(s), 2) as total from chain_res"

  def run(ctx: Ctx): Map[String, Any] = {
    val tables = ctx.setup(5) { (spark, rep, part) =>
      var ts: Seq[Gen.Table] = null
      part("generate", { ts = Gen.referenceTables(ctx.seed) })
      part("register", ts.foreach(tb => Engine.registerTempTable(tb.df(spark), tb.name)))
      part("first_op", Engine.query(spark, reads.head.sql).collect(): Unit)
      ts
    }
    val spark = ctx.spark
    ctx.stampEnv()
    var warm = 0L
    ctx.warmUp(6) {
      reads.foreach(rd => Engine.query(spark, rd.sql).collect())
      warm -= 1
      chain(spark, Gen.chainRows(ctx.seed, warm))
    }

    val last = scala.collection.mutable.Map[String, (Seq[String], Array[Row])]()
    var chainNo = 0L
    ctx.loop { pass =>
      passOrder(ctx.seed, pass).foreach {
        case Some(rd) =>
          ctx.op(pass, "read", rd.name) {
            if (ctx.trace) readTraced(ctx, rd.sql) else {
              val df = Engine.query(spark, rd.sql)
              (df.columns.toSeq, df.collect())
            }
          } { res => last(rd.name) = res; null }
        case None =>
          val rows = Gen.chainRows(ctx.seed, chainNo)
          chainNo += 1
          ctx.op(pass, "chain", "chain") {
            chain(spark, rows, ctx.tracer)
          }(res => checkChain(rows, res))
      }
    }

    // Output checks, outside the timed region.
    val jvmChecks = reads.filter(_.expect != null).map { rd =>
      rd.name -> checkExpect(spark, rd, last(rd.name))
    }.toMap
    val nameChecks = reads.filter(_.names != null).map { rd =>
      val got = last(rd.name)._1
      rd.name -> (if (got == rd.names) null else s"names $got != ${rd.names}")
    }.toMap
    val tablesDir = s"${ctx.work}/ref_tables"
    tables.foreach(tb => tb.df(spark).write.mode("overwrite")
      .parquet(s"$tablesDir/${tb.name}.parquet"))
    Map(
      "checks" -> reads.map { rd =>
        val errs = Seq(jvmChecks.get(rd.name).orNull, nameChecks.get(rd.name).orNull)
          .filter(_ != null)
        rd.name -> (if (errs.isEmpty) null else errs.mkString("; "))
      }.toMap,
      "oracle" -> Map(
        "tables_dir" -> tablesDir,
        "tables" -> tables.map(_.name),
        "queries" -> reads.filter(_.duck != null).map { rd =>
          val (cols, rows) = last(rd.name)
          Map("name" -> rd.name, "sql" -> rd.duck, "columns" -> cols,
            "rows" -> rows.toSeq)
        }))
  }

  /** Traced read: the dialect pre-pass timed on its own, then Engine.query,
    * then the collect with its optimisation and planning phases taken from
    * the frame's QueryPlanningTracker. */
  private def readTraced(ctx: Ctx, sql: String): (Seq[String], Array[Row]) = {
    val tr = ctx.tracer
    tr.span("dialect")(Dialect.rewrite(sql))
    val df = tr.span("engine")(Engine.query(ctx.spark, sql))
    val t0 = tr.nowUs
    val rows = tr.span("execute")(df.collect())
    val ph = df.queryExecution.tracker.phases
    val execId = tr.spans.size
    var at = t0
    for (p <- Seq("optimization", "planning"); s <- ph.get(p)) {
      val d = s.durationMs * 1000
      tr.add(p, at, at + d, parent = execId)
      at += d
    }
    (df.columns.toSeq, rows)
  }

  /** register → query → register result → query → remove. Returns both
    * query results. */
  def chain(spark: SparkSession, rows: Gen.Table,
      tr: Tracer = Tracer.off): (Array[Row], Array[Row]) = {
    tr.span("register")(Engine.registerTempTable(rows.df(spark), rows.name))
    val r1 = tr.span("engine")(Engine.query(spark, chainSql1))
    val a = tr.span("execute")(r1.collect())
    tr.span("register")(Engine.registerTempTable(r1, "chain_res"))
    val r2 = tr.span("engine")(Engine.query(spark, chainSql2))
    val b = tr.span("execute")(r2.collect())
    tr.span("remove")(Engine.removeTempTable(spark, "chain_res"))
    (a, b)
  }

  private def checkChain(t: Gen.Table, res: (Array[Row], Array[Row])): String = {
    val exp = t.rows.groupBy(_.getString(1)).map { case (g, rs) =>
      g -> (rs.size.toLong, rs.map(_.getDouble(2)).sum)
    }
    val got = res._1.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sameGroups = got.keySet == exp.keySet && exp.forall { case (g, (n, s)) =>
      got(g)._1 == n && math.abs(got(g)._2 - s) < 1e-6 * math.max(1.0, math.abs(s))
    }
    val second = res._2.head
    val total = BigDecimal(t.rows.map(_.getDouble(2)).sum).setScale(2,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    if (!sameGroups) s"chain groups differ: $got vs $exp"
    else if (second.getLong(0) != exp.size || second.getLong(1) != t.rows.size ||
        math.abs(second.getDouble(2) - total) > 0.011)
      s"chain totals differ: $second vs (${exp.size}, ${t.rows.size}, $total)"
    else null
  }

  /** Order-insensitive comparison with a DataFrame-API oracle. For
    * `now()` only the column's type is compared (the value is the clock). */
  private def checkExpect(spark: SparkSession, rd: Read,
      got: (Seq[String], Array[Row])): String = {
    val exp = rd.expect(spark).collect()
    def canon(rs: Array[Row]): Seq[String] = rs.map(r => r.toSeq.zipWithIndex.map {
      case (v, i) if rd.name == "now_today" && i == 1 => if (v == null) "null" else "t"
      case (d: Double, _) => f"$d%.9g"
      case (f: Float, _) => f"${f.toDouble}%.9g"
      case (v, _) => String.valueOf(v)
    }.mkString("|")).toSeq.sorted
    val (g, e) = (canon(got._2), canon(exp))
    if (g == e) null
    else s"rows differ (${g.size} vs ${e.size}): first ${g.diff(e).take(1)} vs ${e.diff(g).take(1)}"
  }
}
