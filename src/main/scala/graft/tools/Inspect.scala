package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.engine.{Caches, Sessions}

/** Dev-only view into the gated queries; Bench and Verify never run it.
  *
  *  - `plan <sfDir> <cpus> <query…>`: each query's FORMATTED physical
  *    plan, raw (PlanSpec, not this tool, pins plan properties).
  *  - `fp <sfDir> <outFile>`: every query's plan fingerprint
  *    ([[Bench.planFp]], the function the bench records) as one JSON
  *    object on `local[32]`, for checking that a change does not
  *    replan (dump in two fresh JVMs, compare). A query whose plan
  *    cannot be built fingerprints as `err:<exception class>`; those
  *    are named on stderr with the exception's message and make the
  *    exit status non-zero. Building some plans
  *    runs eager memo builds, so expect corpus-scale jobs.
  *  - `profile <sfDir> <cpus> <query…>`: runs each query through the
  *    bench's `noop` sink cold, then twice warm, and prints the jobs,
  *    stages, tasks and driver gaps between jobs of each run.
  *
  * Each query is built, and in `profile` each run runs, in its own
  * [[Caches]] scope, as in Bench.
  *
  * Usage: runMain graft.tools.Inspect <subcommand> <args…>
  */
object Inspect {

  private val Usage =
    """usage: Inspect plan <sfDir> <cpus> <query...>
      |       Inspect fp <sfDir> <outFile>
      |       Inspect profile <sfDir> <cpus> <query...>""".stripMargin

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Runs one subcommand and returns the exit status. Arguments are
    * checked before a session is built: a bad call prints [[Usage]]
    * and returns 2. */
  def run(args: Array[String]): Int = args.toList match {
    case "plan" :: dir :: Cpus(cpus) :: names if known(names) =>
      plan(session(cpus, "ERROR"), dir, names)
    case "fp" :: dir :: out :: Nil =>
      fp(session(32, "WARN"), dir, out, SparkEntry.queries.keys.toSeq.sorted)
    case "profile" :: dir :: Cpus(cpus) :: names if known(names) =>
      profile(session(cpus, "WARN"), dir, names)
    case _ =>
      Console.err.println(Usage)
      2
  }

  private object Cpus {
    def unapply(s: String): Option[Int] = s.toIntOption.filter(_ > 0)
  }

  private def known(names: List[String]): Boolean =
    names.nonEmpty && names.forall(SparkEntry.queries.contains)

  private def session(cpus: Int, logLevel: String): SparkSession = {
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  private def plan(spark: SparkSession, dir: String, names: Seq[String]): Int = {
    names.foreach { n =>
      println(s"########## $n ##########")
      println(Caches.scoped(SparkEntry.queries(n)(spark, dir)
        .queryExecution.explainString(FormattedMode)))
    }
    0
  }

  /** Writes `{"name":"fp",…}` for `names` to `out`; non-zero if any
    * plan cannot be built. */
  private[tools] def fp(spark: SparkSession, dir: String, out: String,
      names: Seq[String]): Int = {
    val fps = names.map(n => n -> Bench.tryPlanFp(spark, n, dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      fps.map { case (n, f) => s""""$n":"${f.fold(Bench.errFp, identity)}"""" }
        .mkString("{", ",", "}").getBytes("UTF-8"))
    println(s"wrote $out (${fps.size} fingerprints)")
    val failed = fps.collect { case (n, Left(e)) => n -> e }
    failed.foreach { case (n, e) =>
      Console.err.println(s"[inspect] $n: plan failed (${Bench.errFp(e)}): ${e.getMessage}")
    }
    if (failed.isEmpty) 0 else 1
  }

  private final case class Job(id: Int, desc: String, t0: Long,
      var t1: Long = -1, stages: Int)

  private def profile(spark: SparkSession, dir: String, names: Seq[String]): Int = {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageTasks = mutable.Map[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId,
            Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""), e.time, stages = e.stageIds.size)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageTasks.synchronized {
          stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks
        }
    }

    def runOnce(tag: String, name: String): Unit = Caches.scoped {
      jobs.clear(); stageTasks.clear()
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(listener)
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      // the listener bus is async and its waitUntilEmpty is
      // private[spark]; a 1 s drain (300 ms under-counted jobs on a
      // loaded host) can at worst LOWER a job count, never invent one
      Thread.sleep(1000)
      println(f"== $tag $name wall=$wall%.3f s, ${jobs.size} jobs, " +
        s"${stageTasks.size} stages, ${stageTasks.values.sum} tasks")
      val jseq = jobs.values.toSeq.sortBy(_.t0)
      val first = jseq.headOption.map(_.t0).getOrElse(0L)
      jseq.foreach { j =>
        val dur = if (j.t1 > 0) (j.t1 - j.t0) / 1e3 else -1.0
        val off = (j.t0 - first) / 1e3
        println(f"  job ${j.id}%3d +$off%7.2fs ${dur}%7.3fs stages=${j.stages} ${j.desc.take(90)}")
      }
      val gaps = jseq.sliding(2).collect {
        case Seq(a, b) if b.t0 - math.max(a.t1, a.t0) > 50 =>
          (a.id, b.id, (b.t0 - a.t1) / 1e3)
      }.toSeq
      if (gaps.nonEmpty) {
        println("  gaps >50ms between jobs (driver-side work):")
        gaps.foreach { case (a, b, g) => println(f"    job $a -> $b : $g%.3f s") }
      }
    }

    names.foreach { name =>
      Seq("cold", "warm1", "warm2").foreach(runOnce(_, name))
    }
    0
  }
}
