package graft

import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.graft.{ExecutionMemory, ListenerBus}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.LocalCollectExec

/** Errors and resources of `Engine.query`'s local collect, the run of a
  * small single-partition plan in the calling thread: a failing run raises
  * what the same frame raises as a job, and no run, failed or not, leaves
  * a task context on the thread or execution memory behind. */
class LocalRunSpec extends SparkSpecBase {

  private def session(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    import s.implicits._
    Engine.registerTempTable((1 to 60).map(i =>
      (i, s"k${i % 4}", if (i % 9 == 0) "x" else i.toString)).toDF("v", "k", "s"), "t")
    s
  }

  private def local(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalCollectExec]

  private def condition(e: Throwable): String = e match {
    case st: SparkThrowable => st.getCondition
    case _ => null
  }

  test("an ANSI error raises the same class and condition as the job route") {
    val s = session()
    val before = ExecutionMemory.used
    val cases = Seq(
      "CAST_INVALID_INPUT" -> "select k, sum(cast(s as int)) as total from t group by k",
      "DIVIDE_BY_ZERO" -> "select k, sum(v / (v - v)) as total from t group by k",
      "DIVIDE_BY_ZERO" -> ("select k, v, rank() over (partition by k order by v div (v - v)) " +
        "as r from t"))
    for ((expected, q) <- cases) {
      val df = Engine.query(s, q)
      assert(local(df), df.queryExecution.executedPlan.toString)
      val (viaLocal, jobs) = ListenerBus.countingJobs(spark.sparkContext)(
        intercept[Exception](df.collect()))
      assert(jobs == 0, q)
      val viaJob = intercept[Exception](df.write.format("noop").mode("overwrite").save())
      assert(viaLocal.getClass == viaJob.getClass, s"$q: $viaLocal vs $viaJob")
      assert(condition(viaLocal) == expected && condition(viaJob) == expected,
        s"$q: $viaLocal vs $viaJob")
      assert(TaskContext.get == null)
      assert(ExecutionMemory.used == before)
    }
  }

  test("a plan of several partitions or with a shuffle collects as the job it runs without the root") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val several = s.range(0, 12, 1, 3).toDF("v")
    val shuffled = several.groupBy((col("v") % 3).as("k")).count().coalesce(1)
    for (df <- Seq(several, shuffled)) {
      val expected = df.collect().map(_.toString).sorted.toSeq
      val root = LocalCollectExec(df.queryExecution.executedPlan)
      val (rows, jobs) = ListenerBus.countingJobs(spark.sparkContext)(root.executeCollect())
      assert(rows.map(r => Row.fromSeq(r.toSeq(root.schema)).toString).sorted.toSeq == expected)
      assert(jobs == 1, root.toString)
      assert(TaskContext.get == null)
    }
  }

  test("1,200 local runs leave no task context, no execution memory and no block lock") {
    val s = session()
    val qs = Seq("select k, count(*) as n, sum(v) as total from t group by k",
      "select k, v, rank() over (partition by k order by v desc) as r from t",
      "select s, v from t order by s, v")
    val expected = qs.map(q => Engine.query(s, q).collect().map(_.toString).sorted.toSeq)
    val before = ExecutionMemory.used
    val (same, jobs) = ListenerBus.countingJobs(spark.sparkContext) {
      (0 until 1200).count { i =>
        val df = Engine.query(s, qs(i % qs.size))
        local(df) && df.collect().map(_.toString).sorted.toSeq == expected(i % qs.size)
      }
    }
    assert(same == 1200 && jobs == 0)
    assert(TaskContext.get == null)
    assert(ExecutionMemory.used == before)
    // A job still broadcasts its task under the block manager's non-task
    // writer id (-1024): more than 1,024 runs would have reached that id if
    // local runs counted down from -1.
    val (_, writeJobs) = ListenerBus.countingJobs(spark.sparkContext)(
      Engine.query(s, qs.head).write.format("noop").mode("overwrite").save())
    assert(writeJobs == 1)
  }
}
