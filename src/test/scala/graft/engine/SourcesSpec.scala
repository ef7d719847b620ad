package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink round-trips beyond parquet: the engine reads and
  * writes csv, json and orc with schema preserved (parquet is
  * exercised by every driver query; these cover the rest of the
  * built-in format surface a user switching from the reference's
  * Hive-managed storage would expect).
  */
class SourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  private def roundTrip(format: String): Unit = {
    val out = Files.createTempDirectory(s"graft_$format").toString
    val src = Tables.t(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy("n_nationkey")
    src.write.mode("overwrite").format(format).save(out)
    val back = spark.read.format(format)
      .schema(src.schema) // csv/json carry no types; orc ignores this
      .load(out)
    assert(back.schema == src.schema, s"$format schema drift")
    val a = src.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, s"$format round-trip lost rows")
  }

  test("csv sink/source round-trips with explicit schema")(roundTrip("csv"))
  test("json sink/source round-trips with explicit schema")(roundTrip("json"))
  test("orc sink/source round-trips")(roundTrip("orc"))

  test("partitioned parquet write prunes partitions on read") {
    val out = Files.createTempDirectory("graft_part").toString
    Tables.t(spark, dir, "customer")
      .write.mode("overwrite").partitionBy("c_nationkey").parquet(out)
    val one = spark.read.parquet(out).filter(col("c_nationkey") === 3)
    val p = one.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // partition filter must prune directories, not scan-and-filter
    assert(p.contains("PartitionFilters: [isnotnull(c_nationkey"),
      s"partition pruning missing from:\n$p")
    val expected = Tables.t(spark, dir, "customer")
      .filter(col("c_nationkey") === 3).count()
    assert(one.count() == expected)
  }
}
