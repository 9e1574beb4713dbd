package graft

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graft.GraftBridge

/** `Engine.query`'s per-session plan cache: a repeated text is served from
  * the cache, and every change that could alter its result — the temp views
  * it reads, the session's confs, a UDF, the clock, a random seed — either
  * misses or bypasses it, with the same rows an uncached run returns. Each
  * test runs on its own session, so the cache's outcome counts start at 0.
  */
class PlanCacheSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def fresh(): SparkSession = spark.newSession()

  private def frame(s: SparkSession, rows: (Int, String)*): DataFrame = {
    import s.implicits._
    rows.toDF("v", "k")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def outcomes(s: SparkSession): Map[String, Long] =
    Engine.planCacheStats(s).outcomes

  private def prepared(s: SparkSession): Long = Engine.planCacheStats(s).prepared

  /** Whether the object `ref` points to is collected within a bounded
    * number of full collections. */
  private def collected(ref: WeakReference[_]): Boolean =
    (0 until 50).exists { _ =>
      ListenerBus.flush(spark.sparkContext)
      System.gc()
      Thread.sleep(20)
      ref.get == null
    }

  /** Collect `df`, returning its rows and the number of Spark jobs the
    * collect ran. */
  private def collectCountingJobs(df: DataFrame): (Seq[String], Int) =
    ListenerBus.countingJobs(spark.sparkContext)(rows(df))

  test("a repeated text is a hit and returns the same rows") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a", 2 -> "b", 3 -> "a"), "t")
    val q = "select k, sum(v) as total from t group by k"
    val first = rows(Engine.query(s, q))
    val second = Engine.query(s, q)
    assert(rows(second) == first)
    assert(second.columns.toSeq == Seq("k", "total"))
    assert(outcomes(s) == Map("miss" -> 1L, "hit" -> 1L))
    assert(Engine.planCacheStats(s).entries == 1)
    // The hit's plan is still the single-partition rewrite's, and it was
    // taken as analyzed: analysis returned the handed-in plan itself.
    val qe = second.queryExecution
    assert(qe.analyzed.exists(_.isInstanceOf[Repartition]))
    assert(qe.logical.analyzed && (qe.analyzed eq qe.logical))
    // A CTE's references read its definition inside the same plan.
    val cte = "with big as (select v, k from t where v > 1) " +
      "select k, count(*) as n from big group by k"
    assert(rows(Engine.query(s, cte)) == Seq("[a,1]", "[b,1]"))
    assert(rows(Engine.query(s, cte)) == Seq("[a,1]", "[b,1]"))
    assert(outcomes(s) == Map("miss" -> 2L, "hit" -> 2L))
  }

  test("re-registering, removing or replacing a view outside Engine misses") {
    val s = fresh()
    val q = "select sum(v) as total from t"
    def total(): Long = Engine.query(s, q).head().getLong(0)
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    assert(total() == 1L)
    assert(total() == 1L)
    // Engine evicts the name's entries at once.
    Engine.registerTempTable(frame(s, 5 -> "a"), "t")
    assert(Engine.planCacheStats(s).entries == 0)
    assert(total() == 5L)
    // Replaced outside Engine: the entry is found, rejected and rebuilt.
    frame(s, 7 -> "a").createOrReplaceTempView("t")
    assert(total() == 7L)
    assert(outcomes(s) == Map("miss" -> 2L, "hit" -> 1L, "stale view" -> 1L))
    Engine.removeTempTable(s, "t")
    assert(Engine.planCacheStats(s).entries == 0)
    Engine.registerTempTable(frame(s, 9 -> "a"), "t")
    assert(total() == 9L)
    // Dropped outside Engine: never served; a re-created view's rows are.
    s.catalog.dropTempView("t")
    intercept[org.apache.spark.sql.AnalysisException](total())
    frame(s, 11 -> "a").createOrReplaceTempView("t")
    assert(total() == 11L)
    assert(outcomes(s) == Map("miss" -> 3L, "hit" -> 1L, "stale view" -> 2L))
  }

  test("a view stored as SQL text is checked through to the views it reads") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    s.sql("create or replace temp view w as select v * 10 as v10 from t")
    val q = "select sum(v10) as total from w"
    assert(Engine.query(s, q).head().getLong(0) == 10L)
    frame(s, 2 -> "a").createOrReplaceTempView("t")
    assert(Engine.query(s, q).head().getLong(0) == 20L)
    assert(outcomes(s) == Map("miss" -> 1L, "stale view" -> 1L))
  }

  test("now() and today() keep their per-call value across hits") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    val q = "select v, now(), today() from t"
    val got = (0 until 3).map { i =>
      if (i > 0) Thread.sleep(25)
      val df = Engine.query(s, q)
      assert(df.columns.toSeq == Seq("v", "now()", "today()"))
      df.head()
    }
    assert(outcomes(s) == Map("miss" -> 1L, "hit" -> 2L))
    val stamps = got.map(_.getTimestamp(1).getTime)
    assert(stamps.zip(stamps.tail).forall { case (a, b) => b > a },
      s"now() must move between calls: $stamps")
    val today = s.sql("select current_date()").head().getDate(0).toString
    assert(got.forall(_.getDate(2).toString == today))
  }

  test("rand() is drawn afresh on every call and bypasses the cache") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    val q = "select rand() as r from t"
    val a = Engine.query(s, q).head().getDouble(0)
    val b = Engine.query(s, q).head().getDouble(0)
    assert(a != b)
    assert(outcomes(s) == Map("nondeterministic" -> 2L))
    assert(Engine.planCacheStats(s).entries == 0)
  }

  test("a special datetime literal is read afresh on every call and bypasses the cache") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    val got = (0 until 3).map { i =>
      if (i > 0) Thread.sleep(25)
      Engine.query(s, "select timestamp 'now' as x from t").collect().head.getTimestamp(0).getTime
    }
    assert(got.zip(got.tail).forall { case (a, b) => b > a }, s"$got")
    assert(outcomes(s) == Map("nondeterministic" -> 3L))
  }

  test("a conf change misses and matches an uncached run") {
    val s = fresh()
    val setup = (x: SparkSession) => {
      Engine.registerTempTable(frame(x, 1 -> "a", 2 -> "b", 3 -> "c"), "t")
      Engine.registerTempTable(frame(x, 2 -> "b", 3 -> "c", 4 -> "d"), "u")
    }
    setup(s)
    val texts = Seq(
      "select cast(timestamp_seconds(v) as string) as ts from t where v = 1",
      "select v, k from t except select v, k from u",
      "select t.k, u.v from t join u on t.v = u.v")
    val settings = Seq(
      "spark.sql.session.timeZone" -> "America/New_York",
      Engine.SymmetricExceptKey -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    texts.foreach(q => Engine.query(s, q).collect())
    for ((key, value) <- settings) {
      s.conf.set(key, value)
      // An uncached run: a new session with the same confs and tables.
      val other = fresh()
      settings.takeWhile(_._1 != key).foreach { case (k, v) => other.conf.set(k, v) }
      other.conf.set(key, value)
      setup(other)
      for (q <- texts) {
        val before = Engine.planCacheStats(s)("miss")
        val got = Engine.query(s, q)
        assert(Engine.planCacheStats(s)("miss") == before + 1, s"$key: $q")
        assert(rows(got) == rows(Engine.query(other, q)), s"$key: $q")
      }
    }
    val tz = Engine.query(s, texts.head).head()
    assert(tz.getString(0) == "1969-12-31 19:00:01")
    assert(rows(Engine.query(s, texts(1))) == Seq("[1,a]", "[4,d]"))
    val joined = Engine.query(s, texts(2)).queryExecution.analyzed
    assert(!joined.exists(_.isInstanceOf[Repartition]),
      "a -1 broadcast threshold turns the single-partition path off")
    assert(Engine.planCacheStats(s)("hit") == 3L)
  }

  test("a UDF re-registered under the same name is served fresh") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a", 2 -> "b"), "t")
    val q = "select sum(f(v)) as total from t"
    s.udf.register("f", (x: Int) => x + 1)
    assert(Engine.query(s, q).head().getLong(0) == 5L)
    s.udf.register("f", (x: Int) => x * 10)
    assert(Engine.query(s, q).head().getLong(0) == 30L)
    assert(outcomes(s) == Map("udf" -> 2L))
  }

  test("file-backed and catalog leaves bypass the cache") {
    val region = Engine.query(spark, "select count(*) as n from region")
    assert(region.head().getLong(0) == 5L)
    val s = fresh()
    Engine.registerTempTable(s.range(3).toDF("v"), "r")
    Engine.query(s, "select sum(v) as total from r").collect()
    assert(outcomes(s) == Map("non-local leaf" -> 1L))
    assert(Engine.planCacheStats(spark)("non-local leaf") >= 1L)
  }

  test("the entry count stays at its bound") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    val n = Engine.PlanCache.MaxEntries + 40
    (0 until n).foreach(i => Engine.query(s, s"select v + $i as w from t"))
    assert(Engine.planCacheStats(s).entries == Engine.PlanCache.MaxEntries)
    assert(outcomes(s) == Map("miss" -> n.toLong))
    // The most recent texts are kept, the oldest evicted.
    Engine.query(s, s"select v + ${n - 1} as w from t")
    Engine.query(s, "select v + 0 as w from t")
    assert(outcomes(s) == Map("miss" -> (n + 1).toLong, "hit" -> 1L))
  }

  test("hits do not grow the cached plan's Dataset ids") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a", 2 -> "b"), "t")
    val q = "select k, count(*) as n from t group by k"
    val frames = (0 to 1000).map(_ => Engine.query(s, q))
    assert(outcomes(s) == Map("miss" -> 1L, "hit" -> 1000L))
    // Each hit's Dataset carries its own id on its own root, and only that:
    // the root is a copy of the stored plan, so any id left on the stored
    // root would show on every later hit.
    val ids = frames.tail.map(f => GraftBridge.datasetIds(f.queryExecution.analyzed))
    assert(ids.forall(_.size == 1) && ids.flatten.distinct.size == 1000)
    assert(rows(frames.last) == Seq("[a,1]", "[b,1]"))
  }

  test("no hit across sessions") {
    val a = fresh()
    val b = fresh()
    Engine.registerTempTable(frame(a, 1 -> "a"), "t")
    Engine.registerTempTable(frame(b, 2 -> "b"), "t")
    val q = "select v, k from t"
    assert(rows(Engine.query(a, q)) == Seq("[1,a]"))
    assert(rows(Engine.query(b, q)) == Seq("[2,b]"))
    assert(rows(Engine.query(a, q)) == Seq("[1,a]"))
    assert(outcomes(a) == Map("miss" -> 1L, "hit" -> 1L))
    assert(outcomes(b) == Map("miss" -> 1L))
  }

  test("a miss built by the rewrites is not analyzed a second time") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a", 2 -> "b", 3 -> "a"), "t")
    val qe = Engine.query(s, "select k, sum(v) from t group by k").queryExecution
    assert(qe.logical.exists(_.isInstanceOf[Repartition]))
    assert(qe.logical.analyzed && (qe.analyzed eq qe.logical))
  }

  test("hits after the first share one executed plan and skip optimization") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a", 2 -> "b", 3 -> "a"), "t")
    for (q <- Seq("select k, sum(v) as total from t group by k",
        "select v, k from t where v > 1")) {
      val before = prepared(s)
      val frames = (0 until 4).map(_ => Engine.query(s, q))
      val expected = rows(frames.head)
      assert(frames.forall(f => rows(f) == expected))
      // The miss and the first hit plan their own; the first hit's
      // execution becomes the template of the two after it.
      assert(prepared(s) == before + 2)
      val plans = frames.map(_.queryExecution.executedPlan)
      assert(plans(1) ne plans(0))
      assert((plans(2) eq plans(1)) && (plans(3) eq plans(1)))
      assert(frames.map(_.queryExecution.id).distinct.size == 4)
      assert(!frames(3).queryExecution.tracker.phases.contains("optimization"))
    }
    assert(outcomes(s) == Map("miss" -> 2L, "hit" -> 6L))
  }

  test("per-call values are fresh on every hit and never prepared") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    val clock = Seq("select now() as x from t", "select current_timestamp() as x from t",
      "select cast('now' as timestamp) as x from t")
    for (q <- clock) {
      val got = (0 until 4).map { i =>
        if (i > 0) Thread.sleep(25)
        Engine.query(s, q).collect().head.getTimestamp(0).getTime
      }
      assert(got.zip(got.tail).forall { case (a, b) => b > a }, s"$q: $got")
    }
    val today = s.sql("select current_date()").head().getDate(0).toString
    (0 until 3).foreach { _ =>
      assert(Engine.query(s, "select today() as d from t").collect().head.getDate(0).toString == today)
    }
    val db = "select current_database() as db from t"
    assert(Engine.query(s, db).collect().head.getString(0) == "default")
    assert(Engine.query(s, db).collect().head.getString(0) == "default")
    s.sql("create database if not exists plan_cache_spec")
    try {
      s.sql("use plan_cache_spec")
      assert(Engine.query(s, db).collect().head.getString(0) == "plan_cache_spec")
    } finally {
      s.sql("use default")
      s.sql("drop database plan_cache_spec")
    }
    assert(Engine.query(s, db).collect().head.getString(0) == "default")
    assert(outcomes(s) == Map("miss" -> 5L, "hit" -> 14L))
    assert(prepared(s) == 0L)
  }

  test("a plan with an Exchange is never prepared") {
    val s = fresh()
    Engine.registerTempTable(frame(s, (1 to 50).map(i => i -> s"k${i % 5}"): _*), "t")
    // Above the broadcast threshold the single-partition path is off, and
    // the group-by plans a shuffle.
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "64")
    val q = "select k, sum(v) as total from t group by k"
    val got = (0 until 4).map(_ => Engine.query(s, q))
    assert(got.forall(f => rows(f) == rows(got.head)))
    assert(find(got.last.queryExecution.executedPlan)(_.isInstanceOf[Exchange]).isDefined)
    assert(outcomes(s) == Map("miss" -> 1L, "hit" -> 3L))
    assert(prepared(s) == 0L)
  }

  test("four threads share prepared hits and get the same rows") {
    val s = fresh()
    Engine.registerTempTable(frame(s, (1 to 40).map(i => i -> s"k${i % 3}"): _*), "t")
    val q = "select k, count(*) as n, sum(v) as total from t group by k"
    val expected = rows(Engine.query(s, q))
    assert(rows(Engine.query(s, q)) == expected)
    val good = new AtomicInteger
    val threads = (0 until 4).map { _ =>
      new Thread(() => (0 until 200).foreach { _ =>
        if (rows(Engine.query(s, q)) == expected) good.incrementAndGet()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(good.get == 800)
    assert(prepared(s) == 800L)
    // No adaptive plan, and so no lock that runs the hits one at a time.
    val template = Engine.query(s, q).queryExecution.executedPlan
    assert(template.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty, template.toString)
  }

  test("a prepared hit runs as many jobs as an unprepared one") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a", 2 -> "b", 3 -> "a"), "t")
    for (q <- Seq("select k, sum(v) as total from t group by k",
        "select v, k from t where v > 1", "select v from t order by v desc limit 2")) {
      val before = prepared(s)
      val unprepared = collectCountingJobs(Engine.query(s, q))
      collectCountingJobs(Engine.query(s, q))
      val hit = collectCountingJobs(Engine.query(s, q))
      assert(prepared(s) == before + 1, q)
      assert(hit == unprepared, q)
    }
  }

  test("a replaced view's template is neither served nor retained") {
    val s = fresh()
    val q = "select k, sum(v) as total from t group by k"
    // Registers `t` with `v`, runs `q` until it is served prepared, and
    // returns the template's executed plan, weakly.
    def prepare(v: Int): WeakReference[AnyRef] = {
      Engine.registerTempTable(frame(s, v -> "a"), "t")
      val before = prepared(s)
      (0 until 3).foreach(_ => assert(rows(Engine.query(s, q)) == Seq(s"[a,$v]")))
      assert(prepared(s) == before + 1)
      new WeakReference(Engine.query(s, q).queryExecution.executedPlan)
    }
    val first = prepare(1)
    val second = prepare(2)
    assert(collected(first), "a template outlived its view's registration")
    // Replaced outside Engine: the entry is stale, its template unreachable.
    frame(s, 3 -> "a").createOrReplaceTempView("t")
    assert(collected(second), "a template outlived its view's registration")
    assert(rows(Engine.query(s, q)) == Seq("[a,3]"))
    assert(outcomes(s)("stale view") == 1L)
  }

  test("an entry evicted from the LRU drops its template") {
    val s = fresh()
    Engine.registerTempTable(frame(s, 1 -> "a"), "t")
    val q = "select k, sum(v) as total from t group by k"
    def template(): WeakReference[AnyRef] = {
      (0 until 2).foreach(_ => Engine.query(s, q).collect())
      new WeakReference(Engine.query(s, q).queryExecution.executedPlan)
    }
    val t = template()
    assert(prepared(s) == 1L)
    (0 until Engine.PlanCache.MaxEntries).foreach(i =>
      Engine.query(s, s"select v + $i as w from t"))
    assert(collected(t), "an evicted entry's template is still reachable")
  }

  test("a finished session is collected with its tables, plans and templates") {
    // Everything that refers to the session lives in this method's frame.
    def run(): WeakReference[SparkSession] = {
      val s = fresh()
      // Spark's adaptive-execution pools start a thread per task until they
      // are full, and a new thread inherits the active session of the
      // thread that starts it, so the first sessions that run adaptive
      // plans in a JVM stay reachable while those threads live. The
      // in-memory group-by below collects with no adaptive plan, but the
      // file-backed read of `region` would still plan one.
      s.conf.set("spark.sql.adaptive.enabled", "false")
      Tables.ensure(s, sfDir)
      Engine.registerTempTable(frame(s, 1 -> "a", 2 -> "b"), "t")
      val q = "select k, count(*) as n from t group by k"
      (0 until 4).foreach(_ => assert(rows(Engine.query(s, q)) == Seq("[a,1]", "[b,1]")))
      assert(rows(Engine.query(s, "select count(*) from region")) == Seq("[5]"))
      assert(prepared(s) == 2L)
      new WeakReference(s)
    }
    assert(collected(run()), "the session is still reachable")
  }
}
