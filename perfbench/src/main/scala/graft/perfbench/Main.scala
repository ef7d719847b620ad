package graft.perfbench

import java.nio.file.{Files, Paths}

/** Settings of one benchmark run. */
final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, dataDir: String, workDir: String, cores: Int,
    setups: Int, jvmStartMs: Long)

/** One timed operation: a query (Spark workloads) or a script
  * (lineage), with the statements it holds. */
final case class Op(name: String, pass: Int, ms: Double, ok: Boolean, statements: Int)

final case class Pass(index: Int, seconds: Double, traced: Boolean)

/** Everything one run measured; `perfbench/run.py` turns it into the
  * printed metrics after checking the outputs. */
final case class RunRecord(workload: String, setup: Seq[Double],
    warmupSeconds: Double, firstRunMs: Map[String, Double], ops: Seq[Op], passes: Seq[Pass],
    measuredSeconds: Double, residentMb: Double, layers: Map[String, Double],
    checks: String, spans: Option[String],
    detail: Option[Map[String, Map[String, Double]]]) {

  def toJson: String = Json.obj(
    "workload" -> workload,
    "setup_s" -> setup,
    "warmup_s" -> warmupSeconds,
    "first_run_ms" -> firstRunMs,
    "ops" -> ops.map(o => Json.Raw(Json.obj("name" -> o.name, "pass" -> o.pass,
      "ms" -> o.ms, "ok" -> o.ok, "statements" -> o.statements))),
    "passes" -> passes.map(p => Json.Raw(Json.obj("index" -> p.index,
      "seconds" -> p.seconds, "traced" -> p.traced))),
    "measured_s" -> measuredSeconds,
    "resident_mb" -> residentMb,
    "layers" -> layers,
    "checks" -> Json.Raw(checks),
    "spans" -> spans.map(Json.Raw),
    "per_query" -> detail)
}

/** Usage: graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <dataDir> <workDir> <cores> <setups>
  * Writes the run record to `<workDir>/record.json`. */
object Main {
  val Workloads = Seq("lineage", "relational", "ops_warm", "ops_cold")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, workDir, cores, setups) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val cfg = Config(workload, seed.toLong, seconds.toDouble, trace == "1",
      dataDir, workDir, cores.toInt, setups.toInt,
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val record =
      if (workload == "lineage") LineageLoad.run(cfg) else SparkLoad.run(cfg)
    Files.write(Paths.get(workDir, "record.json"), record.toJson.getBytes("UTF-8"))
  }
}
