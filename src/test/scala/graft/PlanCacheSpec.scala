package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.graft.GraftBridge

/** `Engine.query`'s per-session plan cache: a repeated text is served from
  * the cache, and every change that could alter its result — the temp views
  * it reads, the session's confs, a UDF, the clock, a random seed — either
  * misses or bypasses it, with the same rows an uncached run returns. Each
  * test runs on its own session, so the cache's outcome counts start at 0.
  */
class PlanCacheSpec extends SparkSpecBase {

  private def fresh(): SparkSession = spark.newSession()

  private def frame(s: SparkSession, rows: (Int, String)*): DataFrame = {
    import s.implicits._
    rows.toDF("v", "k")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def outcomes(s: SparkSession): Map[String, Long] =
    Engine.planCacheStats(s).outcomes

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
}
