package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spec helper: count the Spark jobs a block of code starts. */
object SparkJobs {

  /** Count Spark jobs started while `body` runs. The listener bus is
    * async: it is drained before the listener is added, so no earlier
    * action's job-start reaches it, and again after `body`, so every
    * one of `body`'s has. */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    BusDrain(sc)
    sc.addSparkListener(l)
    try {
      body
      BusDrain(sc)
      n.get
    } finally sc.removeSparkListener(l)
  }
}
