package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQuery

/** Counts the Spark jobs a block starts. The block runs under a job group
  * of its own, and the listener bus is drained before the count is read,
  * so the count is complete without waiting on a clock. The bus and the
  * job-group property key are Spark-private, hence this bridge.
  */
object TestJobs {
  def count(sc: SparkContext)(body: => Unit): Int = {
    val group = s"graft-count-${java.util.UUID.randomUUID()}"
    byGroup(sc) {
      sc.setJobGroup(group, group)
      try body
      finally sc.clearJobGroup()
    }.getOrElse(group, 0)
  }

  /** Counts the jobs of the streaming query that `start` starts, once it
    * has terminated. A query runs its batches, `foreachBatch` bodies
    * included, under a job group named after its run id.
    */
  def countStream(sc: SparkContext)(start: => StreamingQuery): Int = {
    var q: StreamingQuery = null
    val jobs = byGroup(sc) { q = start; q.awaitTermination() }
    jobs.getOrElse(q.runId.toString, 0)
  }

  private def byGroup(sc: SparkContext)(body: => Unit): Map[String, Int] = {
    val jobs = new ConcurrentHashMap[String, Integer]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
    }
    sc.addSparkListener(listener)
    try body
    finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.map { case (g, n) => g -> n.intValue }.toMap
  }
}
