package graft.engine

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is configured. Bench, Verify,
  * the dev mains and every spec get their session here, so a setting
  * the gated numbers depend on cannot drift between them. */
object Sessions {

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC
    * session time and no UI. `getOrCreate`: within one JVM (the specs
    * share one) a later call reuses the running context and applies
    * its SQL settings to the shared session.
    *
    * The broadcast timeout is raised from Spark's 300 s default: a
    * single host stall inside a broadcast build would otherwise fail a
    * correctness query, or surface as a timeout whose wall time cannot
    * be told apart from real query cost. */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.broadcastTimeout", "3600")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
