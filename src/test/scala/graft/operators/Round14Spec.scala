package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 laws the row-hash oracle can't express (the memo probe
  * laws live in MemoSpec).
  *
  * t29 rank-interval identity: the scalable zipfOctaves derives each
  * octave's aggregates from frequency-group rank INTERVALS without
  * ranking any individual term; a first-principles Scala replica that
  * DOES rank every term one-by-one must agree exactly.
  */
class Round14Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.01"

  test("i14 guards the tie set at frame build, with a clean plan") {
    // round 15 replaced the per-term rank window with a distributed
    // top-fraction selection whose guard capped the threshold TIE SET
    // in-plan; round 16 moved the radix walk's selection state to the
    // driver, so the refusal is now a driver-side require at frame
    // BUILD (the d05/d15 guard class — it fires before the tie window
    // is even constructed; GuardSweepSpec fires it past the cap with
    // its constant). What THIS pin protects: the plan i14 serves is
    // clean — the thresholds enter as a LocalRelation, with no
    // checkpoint scans (whose runtime partition counts split the sf1
    // bench fingerprints — the round-15 refusal) and no leftover
    // in-plan raise (the guard inventory lives in GuardSweepSpec).
    val p = TextAnalysis.indexPruning(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("assert_true") && !p.contains("raise_error"),
      s"i14's guard moved driver-side; an in-plan raise here is a " +
        s"stray second mechanism:\n$p")
    assert(!p.contains("Scan ExistingRDD"),
      s"i14's plan embeds a checkpoint scan again — the runtime " +
        s"partition-count fingerprint leak is back:\n$p")
    assert(p.contains("LocalTableScan"),
      s"radix thresholds must enter the plan as a local relation:\n$p")
  }

  test("t29 interval octaves == rank-every-term replica") {
    // first-principles replica of the ORIGINAL semantics: collect the
    // (term, freq) vocabulary, sort by (freq desc, term), rank
    // 1..V one term at a time, bucket by floor(log2 rank) — the exact
    // single-reducer shape the operator exists to avoid. Tiny here
    // (sf0.001 vocabulary), which is the point: the replica is the
    // spec, the operator is the scale path.
    val sfDir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val tf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(lower(col("text")), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ranked = tf.sortBy { case (t, f) => (-f, t) }.zipWithIndex
    val expected = ranked
      .map { case ((_, f), i) =>
        (63 - java.lang.Long.numberOfLeadingZeros(i + 1L), f) }
      .groupBy(_._1).map { case (oct, xs) =>
        (oct, (xs.length.toLong, xs.map(_._2).sum,
          xs.map(_._2).max, xs.map(_._2).min))
      }
    val got = TextAnalysis.zipfOctaves(spark, sfDir).collect()
      .map(r => (r.getInt(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == expected,
      s"interval octaves diverged from the rank-every-term replica:\n" +
        s"got      $got\nexpected $expected")
  }
}
