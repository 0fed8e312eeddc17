package org.apache.spark.graftspec

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs one block runs: the block runs under a fresh job
  * group (jobs planned or submitted from its thread, and the futures that
  * capture its local properties, carry it), and a listener added for the
  * block counts the jobs of that group only. The listener bus is private
  * to Spark, so the drain that makes the count complete lives here. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val (out, sites) = callSites(sc)(body)
    (out, sites.length)
  }

  /** The block's result and the call site of each job it ran (its stage
    * names). */
  def callSites[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          .foreach(_ => sites.add(e.stageInfos.map(_.name).mkString(" / ")): Unit)
    }
    val outer = sc.getLocalProperty(SparkContext.SPARK_JOB_GROUP_ID)
    sc.addSparkListener(listener)
    sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, group)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, sites.asScala.toSeq)
    } finally {
      sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, outer)
      sc.removeSparkListener(listener)
    }
  }
}
