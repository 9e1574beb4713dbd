package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** `Engine.query`'s single-partition path for small in-memory frames:
  * FIXTURES-shaped tables (forest_fires 518 rows, the digimon lists 249 and
  * 387) registered from in-memory rows. Every distribution-requiring read
  * must return the rows the same SQL returns over a parquet copy of the
  * same tables (which the path skips), plan no Exchange and run exactly one
  * job; project/filter reads stay zero-job local scans; frames over
  * `spark.sql.autoBroadcastJoinThreshold` keep Spark's own plan.
  */
class SinglePartitionSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def forestFires: DataFrame = {
    import spark.implicits._
    val months = Seq("jan", "feb", "mar", "apr", "may", "jun", "jul", "aug",
      "sep", "oct", "nov", "dec")
    val days = Seq("mon", "tue", "wed", "thu", "fri", "sat", "sun")
    (0 until 518).map { i =>
      (1L + i % 9, 2L + i % 8, months(i * 7 % 12), days(i * 5 % 7),
        80.0 + i % 17, 3.0 + i % 29 * 2.5, 7.9 + i * 13 % 800, i % 23 * 0.7,
        2.0 + i * 31 % 300 / 10.0, 15L + i % 85, 0.4 + i % 19 * 0.5,
        if (i % 41 == 0) 6.4 else 0.0, if (i % 3 == 0) 0.0 else i * 37 % 1100 / 10.0)
    }.toDF("X", "Y", "month", "day", "FFMC", "DMC", "DC", "ISI", "temp", "RH",
      "wind", "rain", "area")
  }

  private val attributes = Seq("Fire", "Plant", "Neutral", "Water", "Dark", "Light")

  private def monList: DataFrame = {
    import spark.implicits._
    (1 to 249).map { i =>
      val a = attributes(i * 5 % 6)
      (i.toLong, s"mon$i", Seq("Baby", "Rookie", "Champion")(i % 3), a,
        5L + i % 40, a)
    }.toDF("Number", "Digimon", "Stage", "Attribute", "Memory", "mon_attribute")
  }

  private def moveList: DataFrame = {
    import spark.implicits._
    (1 to 387).map { i =>
      val a = attributes(i * 7 % 6)
      (s"move$i", a, 3L + i % 30, 20L + i * 11 % 300, a)
    }.toDF("Move", "Attribute", "SP Cost", "Power", "move_attribute")
  }

  private val tables = Seq("forest_fires" -> (() => forestFires),
    "digimon_mon_list" -> (() => monList), "digimon_move_list" -> (() => moveList))

  /** A parquet copy of the tables, written once; the path skips it. */
  private lazy val parquetDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("single_partition").toFile
    dir.deleteOnExit()
    tables.foreach { case (name, df) => df().write.parquet(s"$dir/$name") }
    dir.toString
  }

  override def afterAll(): Unit = {
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(parquetDir))
    finally super.afterAll()
  }

  /** Register the tables from in-memory rows, or (`parquet = true`) from
    * the parquet copy of the same rows. */
  private def withTables[T](parquet: Boolean)(f: => T): T = {
    tables.foreach { case (name, df) => Engine.registerTempTable(
      if (parquet) spark.read.parquet(s"$parquetDir/$name") else df(), name) }
    try f finally tables.foreach { case (name, _) => Engine.removeTempTable(spark, name) }
  }

  /** Collect `df`, returning its rows and the number of Spark jobs the
    * collect ran. */
  private def collectCountingJobs(df: DataFrame): (Array[Row], Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val rows = df.collect()
      ListenerBus.drain(sc)
      (rows, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Order-insensitive canonical rows; doubles to 12 significant digits,
    * since the two plans may add partial sums in a different order. */
  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: Double => f"$d%.12g"
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  private def exchanges(df: DataFrame) = collect(df.queryExecution.executedPlan) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }

  private val distributed = Seq(
    "group by" -> ("select month, count(*) as n, avg(temp) as avg_temp, " +
      "max(area) as max_area from forest_fires group by month"),
    "having" -> ("select day, sum(rain) as total_rain from forest_fires " +
      "group by day having count(*) > 60"),
    "global aggregate" -> "select min(temp), max(temp), avg(temp), max(wind) from forest_fires",
    "window" -> ("select month, temp, rank() over (partition by month " +
      "order by temp desc) as rnk from forest_fires"),
    "inner join" -> ("select * from digimon_mon_list join digimon_move_list " +
      "on mon_attribute = move_attribute where Power > 280"),
    "left join" -> ("select Digimon, Stage, Move, Power from digimon_mon_list " +
      "left join digimon_move_list on mon_attribute = move_attribute " +
      "and Power > 290 where Memory > 20"),
    "union" -> ("select month from forest_fires where temp > 30 " +
      "union select month from forest_fires where rain > 5"),
    "except" -> ("select day, X from forest_fires where wind > 8 " +
      "except select day, X from forest_fires where temp < 10"),
    "intersect" -> ("select day, X from forest_fires where wind > 5 " +
      "intersect select day, X from forest_fires where temp > 10"),
    "order by without limit" -> "select X, Y, temp from forest_fires order by temp desc, X, Y")

  distributed.foreach { case (name, sql) =>
    test(s"$name: bypass rows, no Exchange, one job") {
      val expected = withTables(parquet = true)(sorted(Engine.query(spark, sql).collect()))
      withTables(parquet = false) {
        val df = Engine.query(spark, sql)
        val (rows, jobs) = collectCountingJobs(df)
        assert(sorted(rows) == expected)
        assert(rows.nonEmpty)
        assert(exchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
        assert(jobs == 1, df.queryExecution.executedPlan.toString)
      }
    }
  }

  test("order by without limit keeps the order") {
    withTables(parquet = false) {
      val temps = Engine.query(spark, "select temp from forest_fires order by temp desc")
        .collect().map(_.getDouble(0)).toSeq
      assert(temps.size == 518 && temps == temps.sorted.reverse)
    }
  }

  test("register -> query -> register -> query -> remove chain") {
    def chain(): Seq[(Seq[String], Int)] = {
      val r1 = Engine.query(spark, "select month, count(*) as n, sum(area) as s " +
        "from forest_fires group by month")
      val a = collectCountingJobs(r1)
      Engine.registerTempTable(r1, "chain_res")
      try {
        val r2 = Engine.query(spark, "select count(*) as n_groups, sum(n) as n_rows, " +
          "round(sum(s), 2) as total from chain_res")
        val b = collectCountingJobs(r2)
        Seq(sorted(a._1) -> a._2, sorted(b._1) -> b._2)
      } finally Engine.removeTempTable(spark, "chain_res")
    }
    val expected = withTables(parquet = true)(chain())
    val got = withTables(parquet = false)(chain())
    assert(got.map(_._1) == expected.map(_._1))
    assert(got.map(_._2) == Seq(1, 1))
  }

  test("projection and filter still plan a bare local scan and run no job") {
    withTables(parquet = false) {
      for (sql <- Seq("select X, Y, temp from forest_fires",
          "select * from forest_fires where (wind > 4 and rain = 0) or temp > 30")) {
        val df = Engine.query(spark, sql)
        val (rows, jobs) = collectCountingJobs(df)
        assert(rows.nonEmpty)
        assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
          df.queryExecution.executedPlan.toString)
        assert(jobs == 0)
      }
    }
  }

  test("order by + limit keeps its TakeOrderedAndProject plan") {
    withTables(parquet = false) {
      val df = Engine.query(spark, "select X, Y, DC, temp from forest_fires " +
        "order by DC desc, temp desc, X, Y limit 10")
      val (rows, jobs) = collectCountingJobs(df)
      assert(rows.length == 10 && jobs == 1)
      assert(df.queryExecution.analyzed.collectFirst { case r: Repartition => r }.isEmpty)
      assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    }
  }

  test("frames over autoBroadcastJoinThreshold, or a threshold of -1, keep Spark's plan") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val sql = distributed.head._2
    withTables(parquet = false) {
      val bytes = spark.table("forest_fires").queryExecution.analyzed.stats.sizeInBytes
      val before = spark.conf.getOption(key)
      for (threshold <- Seq(bytes - 1, BigInt(-1))) {
        spark.conf.set(key, threshold.toString)
        try {
          val df = Engine.query(spark, sql)
          val plain = spark.sql(sql)
          assert(df.queryExecution.analyzed.canonicalized ==
            plain.queryExecution.analyzed.canonicalized)
          assert(df.queryExecution.analyzed.collectFirst { case r: Repartition => r }.isEmpty)
          df.collect()
          assert(exchanges(df).nonEmpty, df.queryExecution.executedPlan.toString)
        } finally before match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
  }
}
