package org.apache.spark.graft

import org.apache.spark.SparkEnv

/** Test doorway to the private[spark] memory manager. */
object ExecutionMemory {
  /** Bytes of execution memory held by all tasks of this JVM. */
  def used: Long = SparkEnv.get.memoryManager.executionMemoryUsed
}
