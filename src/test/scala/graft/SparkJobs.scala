package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spec helper: count the Spark jobs a block of code starts. */
object SparkJobs {

  /** Count Spark jobs started while `body` runs. Job IDS are
    * recorded (not a bare counter) and fenced by a marker job's id:
    * the listener bus is async and registered per call, so
    * late-draining job-start events from a PRIOR action could leak
    * into the window and flake an exact-zero assertion. Job ids are
    * monotone, so only ids above the marker's belong to `body`. */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        ids.add(Integer.valueOf(j.jobId))
    }
    // the listener bus is async (and its drain hook is
    // private[spark]); wait until the seen-id set is quiescent
    def settle(): Unit = {
      var prev = -1
      var stable = 0
      var spins = 0
      while (stable < 5 && spins < 100) {
        val cur = ids.size()
        if (cur == prev) stable += 1 else stable = 0
        prev = cur
        Thread.sleep(50)
        spins += 1
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.range(1).count() // the fence job
      settle()
      val fence = ids.asScala.map(_.intValue).max
      body
      settle()
      ids.asScala.map(_.intValue).count(_ > fence)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
