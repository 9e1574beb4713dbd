package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query profiler for the optimization rounds: for each named query,
  * time a warm noop-sink materialization and count the Spark jobs, stages,
  * tasks and shuffled bytes it launched; optionally dump
  * `.explain("formatted")` to a file. Test-tree only — not shipped.
  *
  *   sbt "Test/runMain graft.tools.QProf <name[,name...]|all> [plansDir]"
  *
  * `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` overlays the session conf
  * ([[graft.Harness.extraConf]]), as in every dev tool.
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val names0 = args.headOption.getOrElse("all")
    val plansDir = args.drop(1).headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Harness.session(cpus, graft.Harness.extraConf)
    graft.Tables.ensure(spark, sfDir)

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        shufRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    val all = graft.SparkEntry.queries
    val sel =
      if (names0 == "all") all.keys.toSeq.sorted
      else names0.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    sel.foreach { name =>
      val fn = all.getOrElse(name,
        sys.error(s"unknown query $name; known: ${all.keys.toSeq.sorted.take(5)}..."))
      // warm pass (codegen/JIT) — uncounted
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"[qprof] $name FAILED: ${e.getMessage}"); System.out.flush()
      }
      jobs.set(0); stages.set(0); tasks.set(0); shufRead.set(0L); shufWrite.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // give listener events a moment to drain
      Thread.sleep(150)
      println(f"[qprof] $name%-34s ${sec}%7.3f s  jobs=${jobs.get}%3d stages=${stages.get}%4d tasks=${tasks.get}%5d shufR=${shufRead.get / 1024}%8d KiB shufW=${shufWrite.get / 1024}%8d KiB")
      System.out.flush()
      plansDir.foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"$name.txt"),
          plan.getBytes("UTF-8"))
      }
    }
    spark.stop()
  }
}
