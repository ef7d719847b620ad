package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 laws: NULL parity of the round-15 window replacements.
  *
  * Round 15 replaced corpus-scale window partitions with two-level
  * mechanisms (BucketedWindow, the keep-best arg-max aggregate) and
  * proved row identity on non-null fixtures. Round-15 ADVICE found
  * the two places NULL semantics diverged from the windows they
  * replaced: an inner equi-join dropping null partition keys
  * (`Window.partitionBy` keeps NULL as its own group; `=` never
  * matches it) and min(struct(-score, id)) sorting a NULL score
  * FIRST where the old `desc` default was NULLS LAST. These laws pin
  * the fixes on frames that exercise exactly those inputs.
  */
class Round16Spec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  test("BucketedWindow.rank keeps a NULL partition key as its own group") {
    import spark.implicits._
    // a null source among real ones: the plain window ranks the null
    // group like any other; the bucketed form must not drop its rows
    val rows = (0 until 200).map(i =>
      (if (i % 3 == 0) null else s"s${i % 2}", i.toLong, (i % 11).toLong))
    val df = rows.toDF("src", "k", "tie").repartition(5)
    val plain = df.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("k"), col("tie"))).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val got = BucketedWindow.rank(df, Seq("src"),
        shiftright(col("k"), 4), Seq(col("k"), col("tie")), "rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got.size == rows.size,
      s"bucketed rank lost ${rows.size - got.size} null-keyed rows")
    assert(got == plain, s"null-group rank diverges: " +
      s"extra=${(got -- plain).take(3)} missing=${(plain -- got).take(3)}")
  }

  test("BucketedWindow.runningSum keeps NULL partition keys too") {
    import spark.implicits._
    val rows = (0 until 150).map(i =>
      (if (i % 4 == 0) null else "a", i.toLong, (i % 7).toLong + 1L))
    val df = rows.toDF("src", "id", "v").repartition(3)
    val plain = df.withColumn("s", sum("v").over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy("id").rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .toSet
    val got = BucketedWindow.runningSum(df, Seq("src"),
        shiftright(col("id"), 5), Seq(col("id")), col("v"), "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .toSet
    assert(got == plain, "null-group running sum diverges")
  }

  test("keep-best arg-max puts NULL scores last, like the old window") {
    import spark.implicits._
    // cluster 0: a null-scored member among scored ones — the window's
    // `desc` default (NULLS LAST) never picks it; cluster 1: ALL
    // members null-scored — the representative is the smallest id and
    // its reported score stays NULL (not a coalesce sentinel)
    val rows = Seq(
      (0L, 1L, Some(5L)), (0L, 2L, None), (0L, 3L, Some(9L)),
      (1L, 10L, None), (1L, 11L, None))
    val members = rows.toDF("cluster_id", "id", "score")
      .withColumn("cluster_sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .repartition(3)
    val plain = members.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
          .orderBy(col("score").desc, col("id"))))
      .filter(col("rn") === 1)
      .select("cluster_id", "id", "cluster_sz", "score")
      .collect().map(_.toString).toSet
    val got = DupCluster.bestPerCluster(members, "id", "score")
      .select("cluster_id", "id", "cluster_sz", "score")
      .collect().map(_.toString).toSet
    assert(got == plain, s"null-score keep-best diverges: $got vs $plain")
    // the all-null cluster's representative reports a NULL score
    val nullRep = DupCluster.bestPerCluster(members, "id", "score")
      .filter(col("cluster_id") === 1L).collect()
    assert(nullRep.length == 1 && nullRep(0).getAs[Long]("id") == 10L &&
      nullRep(0).isNullAt(nullRep(0).fieldIndex("score")),
      "all-null cluster must keep the smallest id with a NULL score")
  }
}
