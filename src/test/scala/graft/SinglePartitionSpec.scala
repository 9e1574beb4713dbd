package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.graft.LocalCollectExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** `Engine.query`'s single-partition path for small in-memory frames:
  * FIXTURES-shaped tables (forest_fires 518 rows, the digimon lists 249 and
  * 387) registered from in-memory rows. Every distribution-requiring read
  * must return the rows the same SQL returns over a parquet copy of the
  * same tables (which the path skips), plan no Exchange and collect with no
  * job (its one partition is iterated in the calling thread), while a
  * `noop` write of the same frame still runs exactly one job;
  * project/filter reads stay zero-job local scans, and a plain top-k read
  * takes the single-partition path too; frames over
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
  private def collectCountingJobs(df: DataFrame): (Array[Row], Int) =
    ListenerBus.countingJobs(spark.sparkContext)(df.collect())

  /** Order-insensitive canonical rows; doubles to 12 significant digits,
    * since the two plans may add partial sums in a different order. */
  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toSeq.map {
    case d: Double => f"$d%.12g"
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  private def exchanges(plan: SparkPlan) = collect(plan) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }

  /** Write `df` to the `noop` sink, returning the write's executed plan and
    * the number of Spark jobs it ran. */
  private def noopWrite(df: DataFrame): (SparkPlan, Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (_, jobs) = ListenerBus.countingJobs(spark.sparkContext)(
        df.write.format("noop").mode("overwrite").save())
      assert(plans.size == 1)
      (plans.peek, jobs)
    } finally spark.listenerManager.unregister(listener)
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
    // The rows are the local collect's; the one job is the noop write's,
    // the route of every action but the collecting ones.
    test(s"$name: bypass rows, no Exchange, one job") {
      val expected = withTables(parquet = true)(sorted(Engine.query(spark, sql).collect()))
      withTables(parquet = false) {
        val rows = Engine.query(spark, sql).collect()
        assert(sorted(rows) == expected)
        assert(rows.nonEmpty)
        val (plan, jobs) = noopWrite(Engine.query(spark, sql))
        assert(exchanges(plan).isEmpty, plan.toString)
        assert(jobs == 1, plan.toString)
      }
    }

    test(s"$name: collect runs no job and no adaptive plan") {
      withTables(parquet = false) {
        val df = Engine.query(spark, sql)
        val (rows, jobs) = collectCountingJobs(df)
        assert(rows.nonEmpty)
        val plan = df.queryExecution.executedPlan
        assert(exchanges(plan).isEmpty, plan.toString)
        assert(plan.isInstanceOf[LocalCollectExec], plan.toString)
        assert(plan.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty, plan.toString)
        assert(jobs == 0, plan.toString)
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
    assert(got.map(_._2) == Seq(0, 0))
  }

  test("toLocalIterator and the root's executeTake run no job either") {
    withTables(parquet = false) {
      val sql = distributed.head._2
      val all = sorted(Engine.query(spark, sql).collect())
      val df = Engine.query(spark, sql)
      val (iterated, jobs) = ListenerBus.countingJobs(spark.sparkContext)(
        df.toLocalIterator().asScala.toArray)
      assert(sorted(iterated) == all && jobs == 0)
      val plan = df.queryExecution.executedPlan
      val (taken, takeJobs) = ListenerBus.countingJobs(spark.sparkContext)(plan.executeTake(3))
      assert(taken.length == 3 && takeJobs == 0)
      assert(plan.executeTake(0).isEmpty)
    }
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

  test("order by + limit reads its one partition and collects with no job") {
    // k ties (two values over ~345 rows) and is null on a third of them;
    // DC is unique, so the order is total and the limit crosses from the
    // null rows into the k = 1 ties.
    val sql = "select X, Y, DC, temp, nullif(X % 3, 0) as k from forest_fires " +
      "order by k nulls first, DC desc limit 200"
    val expected = withTables(parquet = true)(Engine.query(spark, sql).collect().toSeq)
    withTables(parquet = false) {
      val df = Engine.query(spark, sql)
      val (rows, jobs) = collectCountingJobs(df)
      val plan = df.queryExecution.executedPlan
      assert(rows.toSeq == expected && rows.length == 200)
      assert(rows.head.isNullAt(4) && !rows.last.isNullAt(4))
      assert(df.queryExecution.analyzed.collectFirst { case r: Repartition => r }.nonEmpty)
      assert(plan.toString.contains("TakeOrderedAndProject"), plan.toString)
      assert(jobs == 0, plan.toString)
    }
  }

  test("a top-k over an aggregate reads its one partition and collects with no job") {
    val sql = "select month, count(*) as n from forest_fires group by month " +
      "order by n desc, month limit 3"
    val expected = withTables(parquet = true)(Engine.query(spark, sql).collect().toSeq)
    withTables(parquet = false) {
      val df = Engine.query(spark, sql)
      val (rows, jobs) = collectCountingJobs(df)
      val plan = df.queryExecution.executedPlan
      assert(rows.toSeq == expected)
      assert(plan.isInstanceOf[LocalCollectExec], plan.toString)
      assert(plan.toString.contains("TakeOrderedAndProject"), plan.toString)
      assert(jobs == 0, plan.toString)
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
          val plan = df.queryExecution.executedPlan
          assert(exchanges(plan).nonEmpty, plan.toString)
          assert(!plan.isInstanceOf[LocalCollectExec], plan.toString)
        } finally before match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
  }
}
