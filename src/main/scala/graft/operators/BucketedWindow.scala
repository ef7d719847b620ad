package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level replacements for corpus-scale window partitions — the
  * t29/i14 rank discipline factored as a reusable mechanism
  * (round 15).
  *
  * `Window.partitionBy(part).orderBy(ord)` materializes each part in
  * ONE task. When the partition key is a SOURCE, a part holds
  * Θ(corpus) rows — at 100 TB that task sorts a whole corpus shard,
  * the exact single-reducer shape the round-13 (t29 vocabulary rank)
  * and round-14 (i14 posting-list rank) verdicts killed. The x-family
  * per-source ranks and running sums (x11 mixture sampling, x04/x28
  * packing) had the same latent shape, documented as a
  * "small-corpus shortcut" but never mechanized; this object is the
  * mechanism, shared so the three call sites cannot drift:
  *
  *  1. bucket every row by a caller-supplied expression that is
  *     MONOTONE NONDECREASING in the leading order column and has
  *     construction-bounded cardinality (a fixed shift of a hash, or
  *     `id div W` under a data-derived 1-row width scalar);
  *  2. one per-(part, bucket) partial aggregate — the only
  *     corpus-scale pass, embarrassingly parallel, map-side combined;
  *  3. an exclusive prefix over the ≤buckets-per-part HISTOGRAM (a
  *     window over thousands of rows, never the corpus), broadcast
  *     back as per-bucket offsets;
  *  4. the original window re-partitioned by (part, bucket): the
  *     largest single task is ONE bucket — corpus_size/buckets — and
  *     adding the offset restores the exact global semantics. (The
  *     bound measured at sf0.1/×10/×30 for the three call sites is
  *     BASELINE.md's round-15 "BucketedWindow task bound" row.)
  *
  * Both entry points are row-identical to the single-task window
  * they replace (Round15Spec pins the identity on skewed synthetic
  * frames and on the corpus fixture, plus repartition-invariance).
  * Monotonicity of the bucket in the leading order key is what makes
  * the offset shift exact: every row of a lower bucket precedes every
  * row of a higher bucket in the part-wide order.
  */
object BucketedWindow {

  /** Exact `row_number() OVER (PARTITION BY part ORDER BY ord)` as a
    * LONG column `out`, computed without ever sorting a whole part.
    * `bucket` must be monotone nondecreasing in `ord.head` and of
    * construction-bounded cardinality. Ties across the full `ord`
    * list resolve exactly as the plain window would (equal leading
    * keys land in one bucket by monotonicity, where the in-bucket
    * window applies the full order). */
  def rank(df: DataFrame, part: Seq[String], bucket: Column,
      ord: Seq[Column], out: String): DataFrame = {
    val b = df.withColumn("__bkt", bucket)
    val partB = part :+ "__bkt"
    val hist = b.groupBy(partB.map(col): _*).agg(count(lit(1)).as("__c"))
    val off = withExclusivePrefix(hist, part, sumCol = "__c")
      .select(partB.map(col) :+ col("__off"): _*)
    joinOffsets(b, off, partB)
      .withColumn(out,
        row_number().over(Window.partitionBy(partB.map(col): _*)
          .orderBy(ord: _*)).cast("long") + col("__off"))
      .drop("__bkt", "__off")
  }

  /** Exact `sum(value) OVER (PARTITION BY part ORDER BY ord ROWS
    * UNBOUNDED PRECEDING)` — the per-part running sum — as a LONG
    * column `out`, same contract as [[rank]]. */
  def runningSum(df: DataFrame, part: Seq[String], bucket: Column,
      ord: Seq[Column], value: Column, out: String): DataFrame = {
    val b = df.withColumn("__bkt", bucket).withColumn("__v", value)
    val partB = part :+ "__bkt"
    val hist = b.groupBy(partB.map(col): _*).agg(sum("__v").as("__c"))
    val off = withExclusivePrefix(hist, part, sumCol = "__c")
      .select(partB.map(col) :+ col("__off"): _*)
    joinOffsets(b, off, partB)
      .withColumn(out,
        sum("__v").over(Window.partitionBy(partB.map(col): _*)
          .orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          + col("__off"))
      .drop("__bkt", "__off", "__v")
  }

  /** Rejoin data rows to their broadcast per-(part, bucket) offsets
    * with NULL-SAFE key equality. `Window.partitionBy` keeps a NULL
    * partition key as its own group (and groupBy aggregates it as
    * one), but a plain equi-join's `=` never matches NULL = NULL —
    * through round 15 a null `source` (nullable parquet column) would
    * have been silently DROPPED here instead of ranked/packed, the
    * one row-loss path in an otherwise window-identical mechanism
    * (round-15 ADVICE). `<=>` keeps the join a broadcast HASH join
    * (null-safe equality is a hashable key) and restores exact
    * window-partition semantics for null keys. */
  private def joinOffsets(b: DataFrame, off: DataFrame,
      partB: Seq[String]): DataFrame = {
    val offR = partB.foldLeft(off)((d, c) =>
      d.withColumnRenamed(c, s"__o_$c"))
    b.join(broadcast(offR),
        partB.map(c => col(c) <=> col(s"__o_$c")).reduce(_ && _))
      .drop(partB.map(c => s"__o_$c"): _*)
  }

  /** Exclusive per-part prefix of `sumCol` over the bucket histogram,
    * ordered by bucket — a window over the construction-bounded
    * histogram, never over data rows. */
  private def withExclusivePrefix(hist: DataFrame, part: Seq[String],
      sumCol: String): DataFrame =
    hist.withColumn("__off",
      coalesce(sum(sumCol).over(Window.partitionBy(part.map(col): _*)
        .orderBy(col("__bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
}
