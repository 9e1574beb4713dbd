package org.apache.spark.sql.graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.{ShuffleDependency, SparkEnv, SparkException, SparkThrowable, SparkThrowableHelper, TaskContext, TaskContextImpl}
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}

/** Root of the executed plan of a small single-partition `Engine.query`
  * plan (`GraftBridge.ofLocal`). Its collecting actions — `executeCollect`,
  * `executeTake`, `executeToIterator` — iterate the plan's one partition in
  * the calling thread instead of running a Spark job for it; about 10 ms of
  * scheduling per job on a few hundred rows, against 1–3 ms of work.
  *
  * The local route is taken when the plan's RDD has one partition and no
  * shuffle in its lineage, and no other thread is iterating this same plan
  * (a prepared `Engine.query` hit shares its executed plan, and a task's
  * operators and expressions are copies of their own, so two runs must not
  * share them). Otherwise the child runs the action as it would without
  * this root, as a job. `doExecute` is the child's RDD, so `.rdd`, writes
  * and every other action still run as jobs. */
case class LocalCollectExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] =
    local(Int.MaxValue).getOrElse(child.executeCollect())

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty
    else local(n).getOrElse(child.executeTake(n))

  override def executeToIterator(): Iterator[InternalRow] =
    local(Int.MaxValue).map(_.iterator).getOrElse(child.executeToIterator())

  @transient private lazy val busy = new AtomicBoolean

  /** The first `n` rows of a local run, or None where the action must run
    * as a job. */
  private def local(n: Int): Option[Array[InternalRow]] =
    if (!busy.compareAndSet(false, true)) None
    else try {
      val rdd = execute()
      if (rdd.getNumPartitions == 1 && narrow(rdd)) Some(LocalCollectExec.run(rdd, n))
      else None
    } finally busy.set(false)

  private def narrow(rdd: RDD[_]): Boolean = rdd.dependencies.forall(d =>
    !d.isInstanceOf[ShuffleDependency[_, _, _]] && narrow(d.rdd))

  override protected def withNewChildInternal(c: SparkPlan): LocalCollectExec =
    copy(child = c)
}

object LocalCollectExec {

  /** Attempt ids of local runs count up from `Long.MinValue`: never a
    * task's (those are at least 0) nor one of the negative ids the block
    * manager reserves (`NO_WRITER` -1, `NON_TASK_WRITER` -1024, whose locks
    * a local run would release when it ends). */
  private val attempts = new AtomicLong(Long.MinValue)

  /** Up to `n` rows, copied, of the one partition of `rdd`, iterated in
    * this thread the way an executor runs a task: under a task context of
    * its own with its own memory manager, registered with the block
    * manager. Its completion (and, on an error, failure) listeners run
    * before it returns, and its memory, block locks and task context are
    * released. An error surfaces as a failed job's would. */
  private def run(rdd: RDD[InternalRow], n: Int): Array[InternalRow] = {
    val env = SparkEnv.get
    val id = attempts.incrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(stageId = -1, stageAttemptNumber = 0,
      partitionId = 0, taskAttemptId = id, attemptNumber = 0, numPartitions = 1,
      taskMemoryManager = memory, localProperties = rdd.sparkContext.getLocalProperties,
      metricsSystem = env.metricsSystem)
    env.blockManager.registerTask(id)
    TaskContext.setTaskContext(ctx)
    try {
      val out = ArrayBuffer[InternalRow]()
      val it = rdd.iterator(rdd.partitions.head, ctx)
      while (out.length < n && it.hasNext) out += it.next().copy()
      ctx.markTaskCompleted(None)
      out.toArray
    } catch {
      case e: Throwable =>
        if (!ctx.isCompleted()) {
          try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          try ctx.markTaskCompleted(Some(e)) catch { case t: Throwable => e.addSuppressed(t) }
        }
        throw (if (NonFatal(e)) asJobError(e) else e)
    } finally {
      try memory.cleanUpAllAllocatedMemory()
      finally {
        env.blockManager.releaseAllLocksForTask(id)
        TaskContext.unset()
      }
    }
  }

  /** The error a job ends with when its task throws `e`: a user-facing
    * Spark error as it is, anything else wrapped (the scheduler's rule). */
  private def asJobError(e: Throwable): Throwable = e match {
    case st: Exception with SparkThrowable if st.getCondition != null &&
        !SparkThrowableHelper.isInternalError(st.getCondition) => st
    case _ => new SparkException(s"Local run of a single-partition plan failed: $e", e)
  }
}
