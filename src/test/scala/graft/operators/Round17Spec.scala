package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 laws: the optimization round's operator-internal changes.
  *
  *  - [[graft.functions.ArgMaxLong]] (`argmax_long`) replaces
  *    `max_by(v, struct(o1, o2))` in the x06/x09 hourly-latest rule so
  *    the partial pass hash-aggregates (max_by's struct buffer forced
  *    SortAggregate). The law proves value identity against max_by
  *    itself on a frame that exercises NULL values, NULL ordering
  *    fields, single-row groups, and duplicate ordering prefixes —
  *    and pins the restored hash path in the x06 plan.
  *  - i12's round-2 scorer and candidate-df census now share one
  *    candidate-postings frame; i07's df census aggregates before the
  *    exchange. Both are value-pinned by the DuckDB oracle gate; here
  *    the i07 selection is pinned to stay inside its query budget
  *    (the PlanSpec pin re-asserted post-replan would be redundant —
  *    this spec instead pins the new dfreq shape: no (doc, term)
  *    distinct feeding it).
  */
class Round17Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.01"

  test("argmax_long ≡ max_by(v, struct(o1, o2)) incl. NULL fields") {
    import spark.implicits._
    graft.functions.TextHashExprs.register(spark)
    // deterministic pseudo-random frame: groups of mixed size, NULL
    // values, NULL ordering fields, equal-o1 ties broken by o2, and a
    // single-row group. (o1, o2) stays unique within each group —
    // the uniqueness every gated consumer guarantees — so both forms
    // are deterministic and comparable.
    val rows = (0 until 5000).map { i =>
      val g = i % 37
      val o1: java.lang.Long = if (i % 11 == 0) null else (i % 97).toLong
      val o2: java.lang.Long = i.toLong // unique ⇒ pair unique
      val v: java.lang.Long = if (i % 7 == 0) null else (i * 31 % 1001).toLong
      (g, o1, o2, v)
    } :+ ((99, 5L: java.lang.Long, 5L: java.lang.Long, 42L: java.lang.Long))
    val df = rows.toDF("g", "o1", "o2", "v").repartition(7)
    val got = df.groupBy("g")
      .agg(expr("argmax_long(v, o1, o2)").as("r"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val want = df.groupBy("g")
      .agg(expr("max_by(v, struct(o1, o2))").as("r"))
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(got == want,
      s"argmax_long diverged from max_by on ${
        got.keySet.filter(k => got(k) != want(k))}")
  }

  test("x06 aggregates on the hash path — no SortAggregate anywhere") {
    // the round-17 point of argmax_long: max_by's struct buffer
    // planned the hourly-latest partial pass as SortAggregate,
    // sorting every scan partition of the raw events table
    val p = TimeSeries.resampleFfill(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortAggregate"),
      s"x06 fell back to SortAggregate:\n$p")
    assert(p.contains("argmax_long"),
      "x06 no longer aggregates via argmax_long — pin is vacuous")
  }

  test("i07 df census partial-aggregates — no (doc, term) distinct") {
    // the old dfreq shuffled every distinct (doc_id, term) pair just
    // to drop doc_id one node later; the census must aggregate per
    // term map-side (per-doc array_distinct before the explode)
    val p = TextAnalysis.moreLikeThisSelection(spark, dir)
      .queryExecution.optimizedPlan.toString
    val badDistinct = p.linesIterator.exists(l =>
      l.contains("Aggregate") && l.contains("doc_id") &&
        l.contains("term") && !l.contains("count"))
    assert(!badDistinct,
      s"i07 df census re-grew a (doc, term) distinct:\n$p")
  }
}
