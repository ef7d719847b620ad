package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `query` is the id every span of one
  * query shares (the id of its query span); 0 above the query level.
  * Times are epoch milliseconds with sub-millisecond digits, so they
  * line up with the listener's event times. */
final case class Span(id: Int, parent: Int, name: String, query: Int,
    t0: Double, var t1: Double = Double.NaN) {
  def seconds: Double = (t1 - t0) / 1e3
}

/** Spark work attributed to one span: every job started while the span
  * was open, with its stages and tasks. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  val jobSpans = mutable.Map.empty[Int, (Long, Long)] // job id -> (start, end) ms
}

/** In-memory spans plus the Spark listeners that fill their counters.
  *
  * A job belongs to the span named in the `perfbench.span` local
  * property of the thread that submitted it; threads a query starts
  * inherit the property. Planning phases arrive through a
  * QueryExecutionListener for every action, and through
  * [[recordPhases]] for the analysis a DataFrame gets when it is built;
  * they belong to the span whose interval holds their start. No
  * listener runs unless [[attach]] was called. */
final class Trace(spark: Option[SparkSession]) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, Counters]
  /** (phase, start ms, end ms) of every planned action. */
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]

  def open(name: String, parent: Int, query: Int = 0): Span = synchronized {
    val s = Span(spans.size + 1, parent, name, query, now())
    spans += s
    s
  }

  /** A query span: its own id is the id all its child spans share. */
  def openQuery(name: String, parent: Int): Span = synchronized {
    val s = Span(spans.size + 1, parent, name, spans.size + 1, now())
    spans += s
    s
  }

  def close(s: Span): Unit = s.t1 = now()

  /** Runs `body` inside a new span; Spark jobs it starts count there. */
  def within[T](name: String, parent: Int, query: Int)(body: => T): T = {
    val s = open(name, parent, query)
    val sc = spark.map(_.sparkContext)
    sc.foreach(_.setLocalProperty(Trace.SpanKey, s.id.toString))
    try body
    finally {
      sc.foreach(_.setLocalProperty(Trace.SpanKey, null))
      close(s)
    }
  }

  private def counterOf(span: Int): Counters =
    counters.getOrElseUpdate(span, new Counters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Trace.SpanKey)))
        .map(_.toInt).getOrElse(0)
      val c = counterOf(span)
      c.jobs += 1
      c.jobSpans(e.jobId) = (e.time, e.time)
      jobSpan(e.jobId) = span
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.get(e.jobId).map(counterOf).foreach { c =>
        c.jobSpans(e.jobId) = (c.jobSpans(e.jobId)._1, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        counterOf(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val c = counterOf(stageSpan.getOrElse(e.stageId, 0))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputB += m.inputMetrics.bytesRead
      }
    }
  }

  /** Keeps the planning phases `qe` has run so far. */
  def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += ((name, p.startTimeMs, p.endTimeMs))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPhases(qe)
  }

  def attach(): Unit = spark.foreach { s =>
    s.sparkContext.addSparkListener(jobListener)
    s.listenerManager.register(planListener)
  }

  /** Waits until every event posted so far was handled, then stops
    * listening. */
  def detach(): Unit = spark.foreach { s =>
    org.apache.spark.perfbench.BusDrain(s.sparkContext)
    s.sparkContext.removeSparkListener(jobListener)
    s.listenerManager.unregister(planListener)
  }

  /** Seconds of `s` covered by none of its jobs: driver-side work. */
  def driverGapSeconds(s: Span): Double = {
    val iv = counters.get(s.id).toSeq.flatMap(_.jobSpans.values)
      .map { case (a, b) => (math.max(a.toDouble, s.t0), math.min(b.toDouble, s.t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = Double.NegativeInfinity
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    math.max(0.0, s.seconds - covered / 1e3)
  }

  /** The innermost span whose interval holds epoch-ms `t`. */
  def spanAt(t: Double, names: Set[String]): Option[Span] =
    spans.iterator.filter(s => names(s.name) && s.t0 <= t && t <= s.t1)
      .maxByOption(_.t0)

  def toJson: String = Json.arr(spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "query" -> s.query, "start_ms" -> s.t0, "end_ms" -> s.t1)
  })
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Collection time of every garbage collector of this JVM so far. */
  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}
