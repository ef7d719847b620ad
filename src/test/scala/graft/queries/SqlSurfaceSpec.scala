package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** Execution (not just lineage) coverage for the DDL/DML statement
  * surface of SURVEY.md §2.1: CTAS (S5), INSERT append (S2),
  * TRUNCATE (S7), and the Hive multi-insert `FROM … INSERT … INSERT`
  * (S13) — one scan fanned into several destination tables, which
  * Spark SQL supports natively with a `Union` of inserts.
  *
  * Tables live in an explicit /tmp-located database so nothing is
  * written into the repo's working directory.
  */
class SqlSurfaceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  // unique location per JVM: the in-memory catalog forgets tables
  // between runs, so a fixed path would leave orphaned parquet files
  // that a later CTAS collides with
  private lazy val dbLoc =
    s"/tmp/graft-g2-${java.util.UUID.randomUUID().toString.take(8)}.db"

  private def ensureDb(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS g2 LOCATION '$dbLoc'")
  }

  test("multi-insert fans one scan into two tables (S13)") {
    ensureDb()
    Tables.ensure(spark, dir)
    spark.sql("DROP TABLE IF EXISTS g2.hi")
    spark.sql("DROP TABLE IF EXISTS g2.lo")
    spark.sql(
      "CREATE TABLE g2.hi USING parquet AS SELECT o_orderkey, o_totalprice FROM orders LIMIT 0")
    spark.sql(
      "CREATE TABLE g2.lo USING parquet AS SELECT o_orderkey, o_totalprice FROM orders LIMIT 0")
    spark.sql("""
      FROM orders
      INSERT OVERWRITE TABLE g2.hi SELECT o_orderkey, o_totalprice WHERE o_totalprice > 300000
      INSERT OVERWRITE TABLE g2.lo SELECT o_orderkey, o_totalprice WHERE o_totalprice <= 300000""")
    val hi = spark.table("g2.hi").count()
    val lo = spark.table("g2.lo").count()
    val all = spark.table("orders").count()
    assert(hi > 0 && lo > 0, s"expected both branches non-empty (hi=$hi, lo=$lo)")
    assert(hi + lo == all, s"multi-insert must partition the scan ($hi + $lo != $all)")
  }

  test("partitioned table + INSERT OVERWRITE PARTITION (S3)") {
    ensureDb()
    Tables.ensure(spark, dir)
    spark.sql("DROP TABLE IF EXISTS g2.seg_p")
    spark.sql("""
      CREATE TABLE g2.seg_p USING parquet PARTITIONED BY (c_mktsegment) AS
      SELECT c_custkey, c_mktsegment FROM customer""")
    val seg = spark.table("customer")
      .select("c_mktsegment").limit(1).collect()(0).getString(0)
    val before = spark.table("g2.seg_p")
      .where(s"c_mktsegment = '$seg'").count()
    assert(before > 0)
    // static partition overwrite replaces exactly that partition
    spark.sql(s"""
      INSERT OVERWRITE TABLE g2.seg_p PARTITION (c_mktsegment = '$seg')
      SELECT c_custkey FROM customer WHERE c_mktsegment = '$seg' AND c_custkey < 100""")
    val after = spark.table("g2.seg_p").where(s"c_mktsegment = '$seg'").count()
    val others = spark.table("g2.seg_p").where(s"c_mktsegment <> '$seg'").count()
    val expectOthers = spark.table("customer")
      .where(s"c_mktsegment <> '$seg'").count()
    assert(after < before, "partition should have been replaced with a subset")
    assert(others == expectOthers, "other partitions must be untouched")
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    ensureDb()
    Tables.ensure(spark, dir)
    spark.sql("DROP TABLE IF EXISTS g2.ord_b")
    spark.sql("DROP TABLE IF EXISTS g2.cust_b")
    spark.table("orders").write.bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable("g2.ord_b")
    spark.table("customer").write.bucketBy(8, "c_custkey")
      .sortBy("c_custkey").saveAsTable("g2.cust_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-or-not decision (broadcast would mask it)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("g2.ord_b").join(spark.table("g2.cust_b"),
        col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // sanity: it actually joins
      assert(j.count() == spark.table("orders").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("CTAS + INSERT INTO append + TRUNCATE (S2, S5, S7)") {
    ensureDb()
    Tables.ensure(spark, dir)
    spark.sql("DROP TABLE IF EXISTS g2.seg")
    spark.sql("""
      CREATE TABLE g2.seg USING parquet AS
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_nationkey = 1""")
    val n1 = spark.table("g2.seg").count()
    val n2 = spark.table("customer").where("c_nationkey = 2").count()
    spark.sql(
      "INSERT INTO g2.seg SELECT c_custkey, c_mktsegment FROM customer WHERE c_nationkey = 2")
    assert(spark.table("g2.seg").count() == n1 + n2)
    spark.sql("TRUNCATE TABLE g2.seg")
    assert(spark.table("g2.seg").count() == 0)
  }
}
