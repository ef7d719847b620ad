package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.engine.{Caches, Tables}

/** Execution surface of SURVEY.md §2, re-expressed Spark-first.
  *
  * Every query here mirrors a construct the reference's lineage
  * analyzer understands (see /root/reference/README.md — citations in
  * SURVEY.md §2) but as a *real* distributed computation on the
  * TPC-H-ish test tables. Conventions:
  *  - Output column names are stable aliases matched 1:1 by the
  *    DuckDB oracle SQL in [[graft.SparkEntry.oracleSql]].
  *  - Money sums are exact BIGINT cents rendered as DOUBLE once
  *    ([[cents]], [[money]]); other double aggregates are `round`ed
  *    (4dp for averages/ratios) so cross-engine float summation order
  *    cannot flip the hash compare.
  *  - Every result carries a deterministic `ORDER BY` on a unique key.
  *  - Scale notes: filters/projections sit directly over the parquet
  *    scan (pushdown + pruning), small dims are broadcast, aggregates
  *    rely on partial (map-side) aggregation; no driver-side loops.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  /** Round to 2dp (a quantity sum or a single price; money sums use
    * [[money]]). */
  private def m(c: Column): Column = round(c, 2)

  /** Money math in exact BIGINT fixed point. The parquet money columns
    * (prices, discounts, taxes, balances) are 2-dp-coded doubles: each
    * is the double nearest some k/100, so `cents` recovers k exactly —
    * it equals the unscaled value of `CAST(x AS DECIMAL(12,2))`,
    * negatives included (not true of 3-dp ties like 0.125, which the
    * tables never hold). Sums and products of cents then run as long
    * arithmetic, exact and associative, so engine summation order
    * cannot move a result: a product like ep·(1−d)·(1+t) is
    * ep_c·(100−d_c)·(100+t_c) at scale 6. This is Catalyst's own
    * `DecimalAggregates` move (sum unscaled longs while the result
    * fits 18 digits), applied where a DECIMAL(12,2) sum's declared
    * DECIMAL(22,2)+ type is too wide for that rule and would update
    * a `java.math.BigDecimal` per row.
    *
    * Bound: an unscaled sum must stay inside a long (|S| < 9.2e18).
    * The widest, q01's scale-6 sum_charge, is ~3e15 at sf0.1 and
    * ~3e16 at sf1, so it overflows near sf300. Under ANSI mode (the
    * session default) long overflow throws ARITHMETIC_OVERFLOW rather
    * than wrapping, so the bound fails loudly, never silently. */
  private[graft] def cents(c: Column): Column = floor(c * 100 + 0.5)

  /** Render an unscaled sum S at `scale` as the DOUBLE nearest
    * S / 10^scale — bit-identical to the correctly rounded
    * `CAST(DECIMAL → DOUBLE)` of both Spark and the DuckDB oracle (a
    * DECIMAL output type would be hash-fragile: `134122313.70`
    * stringifies with a trailing zero as decimal but not as float).
    * Below 2^53, S and 10^scale are exact doubles and one IEEE
    * division is correctly rounded; past it `S.toDouble / 10^scale`
    * would round twice, so S is rendered as decimal text and parsed
    * (`Double.parseDouble` is correctly rounded). It applies to a
    * finished sum, never inside one. */
  private[graft] def money(unscaled: Column, scale: Int): Column = {
    val exact = 1L << 53
    when(unscaled.between(-exact, exact),
      unscaled.cast(DoubleType) / math.pow(10, scale))
      .otherwise(regexp_replace(unscaled.cast(StringType),
        s"(\\d{$scale})$$", ".$1").cast(DoubleType))
  }

  /** 4-dp average from an exact cents sum and a count: one exact
    * double render, one division, floor(·1e4 + 0.5)/1e4 — every step
    * is the same IEEE op in both engines, unlike round(avg(double), 4),
    * whose input depends on summation order and whose rounding
    * resolves representation ties engine-specifically. */
  private def avg4(sumCents: Column, n: Column): Column =
    floor(money(sumCents, 2) / n * 10000 + 0.5) / 10000.0

  // ---------------------------------------------------------------
  // Aggregation (SURVEY §2.4: A2, A3) — TPC-H Q1 pricing summary.
  // Partial aggregation keeps the shuffle at |groups| ≈ 6 rows.
  def q01_pricing_summary(s: SparkSession, dir: String): DataFrame = {
    val ep = cents(col("l_extendedprice"))
    val disc = cents(col("l_discount"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        m(sum(col("l_quantity"))).as("sum_qty"),
        money(sum(ep), 2).as("sum_base_price"),
        money(sum(ep * (lit(100) - disc)), 4).as("sum_disc_price"),
        money(sum(ep * (lit(100) - disc) * (lit(100) + cents(col("l_tax")))), 6)
          .as("sum_charge"),
        // averages derive from the exact cents sums (avg4) — a
        // round(avg(double)) would depend on summation order
        sum(cents(col("l_quantity"))).as("sq_c"),
        sum(ep).as("sp_c"),
        sum(disc).as("sd_c"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        avg4(col("sq_c"), col("count_order")).as("avg_qty"),
        avg4(col("sp_c"), col("count_order")).as("avg_price"),
        avg4(col("sd_c"), col("count_order")).as("avg_disc"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // Projection + compound predicates (P1, P3, P4, P5): pushed to scan.
  def q02_filter_project(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 &&
        (col("l_returnflag").isin("A", "R") || col("l_linestatus") =!= "O") &&
        col("l_shipdate") >= lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // Inner equi-join (J1) + group: orders ⋈ customer on custkey.
  // customer is the smaller side → Spark broadcasts it under AQE.
  def q03_join_inner(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"))
      .agg(money(sum(cents(col("o_totalprice"))), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  // Left outer join (J2): customers keep rows with zero orders.
  def q04_join_left(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  // Right outer join (J3): every part survives, matched or not.
  def q05_join_right(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .join(t(s, dir, "part"),
        col("l_partkey") === col("p_partkey"), "right_outer")
      .groupBy(col("p_partkey"))
      .agg(count(col("l_orderkey")).as("n_lines"))
      .orderBy("p_partkey")
  }

  // Full outer join (J4) of two aggregated sides on nationkey.
  def q06_join_full(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val supp = t(s, dir, "supplier").groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  // Left semi join (J5) ≡ EXISTS: customers holding a big order.
  def q07_join_semi(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  // Left anti join ≡ NOT EXISTS: customers with no orders at all.
  def q08_join_anti(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  // Broadcast-hash join (J6 — Hive MAPJOIN): explicit broadcast() of
  // the part dimension against the lineitem fact.
  def q09_join_broadcast(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(money(sum(cents(col("l_extendedprice"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")
  }

  // Theta join with OR of inequalities (J8 — reference sql25 shape):
  // Catalyst extracts the equi conjunct (nationkey) for the hash join
  // and applies the OR-disjunction as a post-join filter — so this
  // stays a shuffled equi-join at scale, not a nested loop.
  def q10_join_theta(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
    val cus = t(s, dir, "customer")
    sup.join(cus,
      (col("s_acctbal") > col("c_acctbal") ||
        col("s_suppkey") === col("c_custkey")) &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_matches"),
        money(sum(cents(col("c_acctbal"))), 2).as("sum_bal"))
      .orderBy("s_suppkey")
  }

  // UNION ALL (U1): positional, duplicate-preserving.
  def q11_union_all(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey"), col("c_acctbal").as("bal"))
    val p = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey"), col("s_acctbal").as("bal"))
    c.union(p)
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n"), money(sum(cents(col("bal"))), 2).as("sum_bal"))
      .orderBy("nationkey")
  }

  // INTERSECT (U3 extension).
  def q12_intersect(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(
        t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")
  }

  // EXCEPT (U3 extension): customers with a 400k+ order but no 450k+
  // order (distinct set difference over the same fact table).
  def q13_except(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("custkey"))
      .except(o.filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  // Distinct aggregates (A1): count(distinct …) per group.
  def q14_distinct_agg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // CASE WHEN (F1): banded aggregation.
  def q15_case_when(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .select(
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), money(sum(cents(col("o_totalprice"))), 2).as("total"))
      .orderBy("bucket")
  }

  // Scalar functions (F2, F3): concat / coalesce-nvl / date arithmetic
  // / string functions — all codegen'd built-ins, no UDFs.
  def q16_scalar_funcs(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 500)
      .select(
        col("o_orderkey"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority"))
          .as("status_prio"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING"))
          .as("nvl_status"),
        date_format(date_sub(col("o_orderdate"), 30), "yyyy-MM-dd").as("d30"),
        year(col("o_orderdate")).as("yr"),
        upper(substring(col("o_orderpriority"), 3, 99)).as("prio"))
      .orderBy("o_orderkey")
  }

  // Arithmetic + bitwise expressions (F4).
  def q17_arith_bitwise(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") + col("l_tax")).as("a_add"),
        (col("l_quantity") - col("l_discount")).as("a_sub"),
        // product/quotient exposed as floor(x·10^k + 0.5) longs: both
        // engines compute the identical IEEE double, then the same
        // floor — round(double, k) is NOT portable (engines disagree
        // by 1 in the last digit on representation ties; seen at
        // sf0.1)
        floor(col("l_quantity") * col("l_extendedprice") * 100 + 0.5)
          .cast("long").as("a_mul_e2"),
        floor(col("l_extendedprice") / col("l_quantity") * 10000 + 0.5)
          .cast("long").as("a_div_e4"),
        (col("l_partkey") % 10).as("a_mod"),
        col("l_partkey").bitwiseAND(lit(255L)).as("b_and"),
        col("l_partkey").bitwiseOR(lit(16L)).as("b_or"),
        col("l_partkey").bitwiseXOR(col("l_suppkey")).as("b_xor"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // Map/JSON element access (F5 analog): events.props is a JSON string;
  // both a direct JSON path extract and a map-typed getItem.
  def q18_json_access(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"),
        from_json(col("props"), MapType(StringType, IntegerType))
          .getItem("k").as("k_map"))
      .filter(col("k_val") >= 50)
      .orderBy("event_id")
  }

  // FROM-clause subquery (Q1) joined back to a dimension.
  def q19_subquery_from(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(money(sum(cents(col("o_totalprice"))), 2).as("spend"))
    spend.filter(col("spend") > 1000000)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("spend"))
      .orderBy("c_custkey")
  }

  // Scalar subquery (Q3 extension): price above 1.5× global average.
  // Declarative: the single-row aggregate is broadcast, not collected.
  // The comparison is cleared of the double mean: price > sum/n · 1.5
  // ⟺ price·2n > sum·3 in exact BIGINT cents, so membership cannot flip on
  // engine summation order (the q43/q48 convention).
  def q20_scalar_subquery(s: SparkSession, dir: String): DataFrame = {
    val tot = t(s, dir, "orders")
      .agg(sum(cents(col("o_totalprice"))).as("s"), count(lit(1)).as("n"))
    t(s, dir, "orders")
      .join(broadcast(tot),
        cents(col("o_totalprice")) * 2 * col("n") > col("s") * 3)
      .select(col("o_orderkey"), m(col("o_totalprice")).as("price"))
      .orderBy("o_orderkey")
  }

  // IN-subquery (P5 + Q3) via Spark SQL — planned as a left-semi join.
  def q21_in_subquery(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT c_custkey, c_name
      FROM customer
      WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      ORDER BY c_custkey""")
  }

  // Correlated EXISTS — decorrelated by Catalyst into a semi join.
  def q22_exists_correlated(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      ORDER BY c_custkey""")
  }

  // Window functions (§2.5): rank + running sum per customer.
  def q23_window(s: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate"))
      .withColumn("rnk", row_number().over(byPrice))
      // running sum accumulates in cents: a windowed double sum's
      // association order is an engine implementation detail (segment
      // trees vs sequential), the same hazard money sums avoid for groups
      .withColumn("running",
        money(sum(cents(col("o_totalprice"))).over(byDate), 2))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"), col("running"))
      .orderBy("o_custkey", "rnk")
  }

  // ROLLUP grouping sets (A4 extension).
  def q24_rollup(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"))
      .orderBy("region", "nation")
  }

  // ORDER BY + LIMIT (§2.5): global top-k via TakeOrderedAndProject —
  // only k rows per partition reach the driver-side merge.
  def q25_topk(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), m(col("o_totalprice")).as("price"))
  }

  // Multi-way star join (headline): revenue per nation in a date range,
  // customer-and-supplier co-located in the same nation (TPC-H Q5).
  def q26_star_join(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(money(sum(cents(col("l_extendedprice")) *
        (lit(100) - cents(col("l_discount")))), 4).as("revenue"))
      .orderBy("n_name")
  }

  // Executable analog of the reference's hardest golden (sql25,
  // README.md:1135–1140): theta-OR join + CASE WHEN + count(distinct)
  // + LIKE + IN + IS NOT NULL + GROUP BY in one statement.
  def q27_sql25_analog(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.join(c, col("o_custkey") === col("c_custkey") &&
        (col("o_totalprice") > col("c_acctbal") * 50 ||
          col("o_orderpriority").like("1-%")))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .filter(col("o_orderstatus").isNotNull &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("n_name"),
        when(col("o_orderstatus") === "F", "done").otherwise("open").as("st"),
        col("o_custkey"))
      .groupBy(col("n_name"), col("st"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
      .orderBy("n_name", "st")
  }

  // Tumbling time window over the events table (batch analog of the
  // streaming pipeline in graft.streaming): 1-hour buckets.
  def q28_time_window(s: SparkSession, dir: String): DataFrame = {
    // values sum as floor(v·1e6) longs — events.value is NOT 2dp-coded
    // like the money columns, so a double sum would be summation-order
    // dependent (the q17 hazard class); integer addition is exact and
    // associative
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000000).cast("long")).as("sum_value_e6"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value_e6"))
      .orderBy("w_start", "event_type")
  }

  // Window-function breadth (§2.5): lag / lead / dense_rank / ntile /
  // sliding max. All rank/offset functions are order-deterministic
  // (ties broken by o_orderkey) and the sliding agg is max (order-free),
  // so no float-summation divergence is possible.
  def q30_window_funcs(s: SparkSession, dir: String): DataFrame = {
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate"))
      // coalesce to a sentinel: NULL stringification differs across
      // harness paths (None vs NaN), so checked outputs stay null-free
      .withColumn("prev_price",
        coalesce(lag(col("o_totalprice"), 1).over(byDate), lit(-1.0)))
      .withColumn("next_price",
        coalesce(lead(col("o_totalprice"), 1).over(byDate), lit(-1.0)))
      .withColumn("drnk", dense_rank().over(byPrice))
      .withColumn("tile4", ntile(4).over(byDate))
      .withColumn("max3",
        max(col("o_totalprice")).over(byDate.rowsBetween(-2, 0)))
      .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
        col("next_price"), col("drnk"), col("tile4"), col("max3"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // CUBE grouping sets (A4): all 4 grouping combinations in one pass —
  // Spark expands to a single shuffle with a grouping-id column.
  def q31_cube(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), m(sum(col("l_quantity"))).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")
  }

  // Explicit GROUPING SETS + grouping() marker columns (A4), SQL path.
  def q32_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT coalesce(l_returnflag, 'ALL') AS flag,
             coalesce(l_linestatus, 'ALL') AS status,
             cast(grouping(l_returnflag) AS INT) AS g_flag,
             cast(grouping(l_linestatus) AS INT) AS g_status,
             count(*) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY flag, status""")
  }

  // String-function breadth (F10): trim/pad/replace/split/instr/
  // left-right/repeat/translate/reverse — all codegen'd built-ins.
  def q33_string_funcs(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part")
      .filter(col("p_partkey") < 500)
      .select(
        col("p_partkey"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("s_trim"),
        lpad(col("p_brand"), 12, "*").as("s_lpad"),
        rpad(col("p_brand"), 12, "#").as("s_rpad"),
        regexp_replace(col("p_type"), " ", "_").as("s_repl"),
        reverse(col("p_name")).as("s_rev"),
        instr(col("p_name"), "a").as("s_instr"),
        element_at(split(col("p_name"), " "), 1).as("s_first_word"),
        expr("left(p_name, 5)").as("s_left"),
        expr("right(p_type, 4)").as("s_right"),
        expr("repeat(p_brand, 2)").as("s_repeat"),
        translate(col("p_type"), "AEIOU", "aeiou").as("s_trans"))
      .orderBy("p_partkey")
  }

  // Date/time-function breadth (F3): trunc, diff, add_months,
  // last_day, day-of-week, quarter.
  def q34_date_funcs(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .filter(col("o_orderkey") < 1000)
      .select(
        col("o_orderkey"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .as("d_month"),
        datediff(lit("1998-01-01").cast(DateType), col("o_orderdate"))
          .as("d_diff"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd")
          .as("d_addm"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("d_last"),
        dayofweek(col("o_orderdate")).as("d_dow"),
        quarter(col("o_orderdate")).as("d_q"),
        month(col("o_orderdate")).as("d_m"))
      .orderBy("o_orderkey")
  }

  // GROUP BY + HAVING (P3 over aggregates): post-aggregation predicate
  // stays on the reduced side of the shuffle.
  def q35_having(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(cents(col("o_totalprice"))), 2).as("total"))
      .filter(col("n_orders") >= 15)
      .orderBy("o_custkey")
  }

  // PIVOT (A4 extension): per-returnflag counts pivoted by linestatus.
  // Explicit value list keeps the output schema static (a scale
  // requirement: dynamic pivot would need a driver-side distinct pass).
  def q36_pivot(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"))
      .orderBy("l_returnflag")
  }

  // Correlated scalar subquery in the SELECT list (Q3 extension):
  // Catalyst decorrelates it into a left outer aggregate join — no
  // per-row re-execution, one shuffle at scale.
  def q37_correlated_scalar(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT c_custkey,
        (SELECT count(*) FROM orders o
         WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000) AS n_big
      FROM customer c
      ORDER BY c_custkey""")
  }

  // Generator / UDTF surface (§2.10 — beyond the reference, which has
  // no LATERAL VIEW): explode a split column, re-aggregate. The
  // generate step is narrow (no shuffle until the groupBy).
  def q38_explode(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT word, count(*) AS n
      FROM part LATERAL VIEW explode(split(p_name, ' ')) t AS word
      WHERE p_partkey < 1000
      GROUP BY word
      ORDER BY word""")
  }

  // Time-valued RANGE window frame (§2.5 breadth): per user, the count
  // and value mass of events in the trailing 10 minutes. A ROWS frame
  // can't express this (events are irregularly spaced); the RANGE
  // frame runs over epoch micros so frame bounds are engine-exact.
  def q42_range_frame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-600L * 1000000, 0) // trailing 10 minutes, in micros
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 1000000).cast("long").as("v_e6"))
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("sum_10m_e6", sum(col("v_e6")).over(w))
      .select(col("event_id"), col("user_id"), col("n_10m"), col("sum_10m_e6"))
      .orderBy("event_id")
  }

  // LIKE / NOT LIKE / IS NULL family (P4, P6) over part descriptions.
  def q29_like_null(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "part")
      .filter((col("p_type").like("%ECO%") || col("p_brand").like("Brand#1_")) &&
        !col("p_name").like("%red%") && col("p_size").isNotNull)
      .select(col("p_partkey"), col("p_name"), col("p_type"))
      .orderBy("p_partkey")
  }

  // WITH clause referenced twice (CTE reuse): nations whose revenue
  // exceeds the all-nation mean. Revenue sums BIGINT cents (the SQL
  // spelling of [[cents]]), the threshold compare stays in exact longs
  // (rev·n > total) — no double mean to diverge on — and [[money]]
  // renders the revenue only at the output boundary.
  // Scale note: Catalyst INLINES both CTE references (explain shows
  // the 3-table aggregate twice); that's fine here because the CTE
  // output is 25 rows and AQE's exchange reuse can dedupe identical
  // shuffles at runtime, but an expensive CTE fanned out many times
  // should be materialized explicitly (df.persist, or a window over
  // one aggregate: rev·count(*) OVER () > sum(rev) OVER ()).
  def q43_cte(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      WITH nat_rev AS (
        SELECT n_name,
          sum(floor(o_totalprice * 100 + 0.5D)) AS rev_c,
          count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name),
      tot AS (SELECT sum(rev_c) AS t_rev, count(*) AS n_nat FROM nat_rev)
      SELECT n_name, rev_c, n_orders
      FROM nat_rev, tot
      WHERE rev_c * n_nat > t_rev
      ORDER BY n_name""")
      .select(col("n_name"), money(col("rev_c"), 2).as("revenue"),
        col("n_orders"))
  }

  // UNPIVOT (wide → long): per-returnflag metrics melted into
  // (metric, value) rows. Values are exact under DOUBLE (counts, and
  // a 2-decimal rounded sum of integral quantities).
  def q44_unpivot(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag,
          CAST(count(*) AS DOUBLE) AS n_lines,
          CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders,
          round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
      ) UNPIVOT (value FOR metric IN (n_lines, n_orders, sum_qty))
      ORDER BY l_returnflag, metric""")
  }

  // INTERSECT ALL / EXCEPT ALL (multiset set ops, U3 extension):
  // nation keys by customer-vs-supplier multiplicity. Folded to
  // per-key counts so the multiset semantics are what's checked.
  def q46_setops_all(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT 'intersect_all' AS op, k, count(*) AS n FROM (
        SELECT c_nationkey AS k FROM customer
        INTERSECT ALL
        SELECT s_nationkey FROM supplier) i
      GROUP BY k
      UNION ALL
      SELECT 'except_all' AS op, k, count(*) AS n FROM (
        SELECT s_nationkey AS k FROM supplier
        EXCEPT ALL
        SELECT c_nationkey FROM customer) e
      GROUP BY k
      ORDER BY op, k""")
  }

  // Null-safe equality join (<=> / IS NOT DISTINCT FROM) with explicit
  // NULLS FIRST ordering — the null-semantics parity check: Spark and
  // DuckDB disagree on default null sort order, and a plain = join
  // would drop the NULL group entirely. <=> is still an equi-key, so
  // this plans as a hash join, not a nested loop.
  def q47_null_safe(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      WITH c AS (SELECT CASE WHEN c_nationkey < 3 THEN NULL
                   ELSE c_nationkey END AS k, c_custkey FROM customer),
           su AS (SELECT CASE WHEN s_nationkey < 3 THEN NULL
                   ELSE s_nationkey END AS k, s_suppkey FROM supplier)
      SELECT c.k AS k, count(*) AS n_pairs
      FROM c JOIN su ON c.k <=> su.k
      GROUP BY c.k
      ORDER BY k NULLS FIRST""")
  }

  // Statistical aggregates from exact integer moments (q48): variance
  // and correlation of (quantity, price-cents) per return flag.
  // Spark's stddev/corr built-ins sum doubles in partition order —
  // not reproducible across engines — so the moments accumulate as
  // exact longs (associative, order-free) and the statistics derive
  // from them in one deterministic double expression per group.
  def q48_moments(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    // The quadratic moment sums accumulate as DECIMAL(38,0), not
    // BIGINT: Σ cents² is ~2e18 at sf0.1 and overflowed long at the
    // sf1 stress (ARITHMETIC_OVERFLOW) — decimal summation is equally
    // exact and order-free with 1e38 of headroom (sf1000+). The
    // per-row product stays in BIGINT (≤ ~1e14); DuckDB needs no
    // change (its BIGINT sum is already an exact 128-bit HUGEINT).
    // Both engines then convert the same exact integer to double once,
    // so the derived statistics stay bit-identical.
    s.sql("""
      WITH m AS (
        SELECT l_returnflag AS flag, count(*) AS n,
          sum(CAST(l_quantity AS BIGINT)) AS sx,
          sum(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
            AS DECIMAL(38,0))) AS sxx,
          sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
          sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            AS DECIMAL(38,0))) AS syy,
          sum(CAST(CAST(l_quantity AS BIGINT)
            * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            AS DECIMAL(38,0))) AS sxy
        FROM lineitem GROUP BY l_returnflag)
      SELECT flag, n, sx, sy,
        CAST(floor(1000000 * ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT) AS var_qty_e6,
        CAST(floor(1000000 * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)))) AS BIGINT)
          AS corr_e6
      FROM m ORDER BY flag""")
  }

  // Skew-mitigated aggregation join (SURVEY §2.3 J1 at the 100 TB
  // failure mode): [[graft.operators.Skew.saltedJoin]] spreads every
  // hot key over 8 deterministic sub-keys so no single reducer owns a
  // whole key. Gated against the PLAIN-join oracle — proving the salt
  // is result-invariant is the point of the query.
  def q49_skew_salted(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    graft.operators.Skew
      .saltedJoin(orders, customer, "o_custkey", "c_custkey", salt = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(cents(col("o_totalprice"))), 2).as("revenue"))
      .select(col("c_nationkey").cast("int").as("nationkey"),
        col("n_orders"), col("revenue"))
      .orderBy("nationkey")
  }

  // Rank-family window completion (percent_rank / cume_dist /
  // first_value / nth_value). The ratios are single IEEE divisions of
  // integer counts — identical in any engine — so the e6 floor cannot
  // straddle; ORDER BY is unique, so the default RANGE frame equals
  // ROWS and nth_value is deterministic.
  def q50_window_family(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        floor(percent_rank().over(w) * 1000000).cast("long").as("pr_e6"),
        floor(cume_dist().over(w) * 1000000).cast("long").as("cd_e6"),
        first(col("o_orderkey")).over(w).as("first_ok"),
        nth_value(col("o_orderkey"), 3).over(w).as("third_ok"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // Spark 4 WITH RECURSIVE (linear recursion; the engine restricts
  // recursive CTEs to UNION ALL, so cyclic closure stays with d06's
  // iterative Hash-Min). The first 10 links of each customer's order
  // chain are walked via lead()-built successor edges, one recursion
  // level per step — every level is one distributed equi-join, so the
  // explicit pos < 10 bound caps the job at 10 stages however large
  // the data (an unbounded walk costs max-chain-length joins: measured
  // 24 levels / 11.5 s at sf0.1 vs ~3 s bounded). The oracle is the
  // equivalent *window* formulation, so the gate cross-checks
  // recursion against ordered aggregation.
  def q51_recursive(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    // The engine's accumulated-row safety valve defaults to 1e6, which
    // a bounded-depth recursion outgrows linearly with data (sf1
    // telemetry: ~1.5M chain rows → RECURSION_ROW_LIMIT_EXCEEDED).
    // The real guard here is the explicit pos < 10 depth bound — total
    // rows are ≤ 10×|orders| by construction — so raise the valve to
    // exactly that computed bound (anchor + 9 recursive levels, plus
    // slack) rather than disarming it session-wide: a later runaway
    // recursive query in the same session still trips the backstop.
    // Set, not restored: the conf is read when the returned frame
    // EXECUTES, so restoring it on exit would silently re-arm the 1e6
    // limit before the caller's action runs. The count() is parquet
    // row-group metadata, not a scan.
    val nOrders = t(s, dir, "orders").count()
    val rowBound = math.min(11L * nOrders + 1000L, Int.MaxValue.toLong)
    s.conf.set("spark.sql.cteRecursionRowLimit",
      math.max(rowBound, 1000000L).toString)
    // materialize the successor-edge table once: a recursive CTE's
    // body re-executes per level, so an uncached `o` would redo the
    // scan + lead() window 10 times (measured 9 s vs ~3 s at sf0.1)
    s.sql("""
      SELECT o_custkey, o_orderkey,
        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        lead(o_orderkey) OVER
          (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_ok,
        row_number() OVER
          (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders""")
      .transform(Caches.persist).createOrReplaceTempView("q51_edges")
    s.sql("""
      WITH RECURSIVE
      chain AS (
        SELECT o_custkey, o_orderkey, next_ok, 1 AS pos, cents AS run_cents
        FROM q51_edges WHERE rn = 1
        UNION ALL
        SELECT c.o_custkey, o.o_orderkey, o.next_ok, c.pos + 1,
          c.run_cents + o.cents
        FROM chain c JOIN q51_edges o ON o.o_orderkey = c.next_ok
        WHERE c.pos < 10)
      SELECT o_custkey AS custkey, o_orderkey AS orderkey, pos, run_cents
      FROM chain ORDER BY custkey, orderkey""")
  }

  // Struct support — beyond reference parity (the reference rejects
  // struct access outright, /root/reference/README.md:971). Builds a
  // (date, key) struct per order and aggregates with max(struct):
  // Spark's lexicographic struct ordering replaces an argmax window —
  // one partial-aggregated pass, no per-group sort. The oracle
  // produces the same rows via a rank window, so the gate proves the
  // struct ordering agrees with explicit lexicographic ranking.
  def q52_struct(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("last"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey"),
        date_format(col("last.o_orderdate"), "yyyy-MM-dd").as("last_date"),
        col("last.o_orderkey").as("last_ok"),
        col("n_orders"))
      .orderBy("o_custkey")
  }

  // q53 IGNORE NULLS window family: the carried-forward last non-null
  // observation (the gap-filling primitive x06 builds on) exposed as
  // a checked relational query, plus the null-skipping running count.
  // prev_val_e6 is floor(copied-double · 1e6) — no arithmetic beyond
  // one correctly-rounded product, so the floor is engine-exact.
  def q53_ignore_nulls(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT event_id, user_id,
        CAST(floor(last(value, true) OVER (PARTITION BY user_id
          ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) * 1000000)
          AS BIGINT) AS prev_val_e6,
        CAST(count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS n_obs
      FROM events ORDER BY event_id""")
  }

  // Calendar-INTERVAL RANGE frame (§2.5 breadth, q42's sibling): the
  // frame bound is a genuine INTERVAL literal over the timestamp sort
  // key — the SQL-standard spelling of "trailing hour" — rather than
  // q42's epoch-micros arithmetic. RANGE (not ROWS) makes timestamp
  // ties frame-peers, so the integer count/sum are tie-order-proof.
  def q54_interval_range(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT event_id, user_id,
        CAST(count(*) OVER w AS BIGINT) AS n_1h,
        CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) OVER w AS BIGINT)
          AS sum_1h_e6
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")
  }

  // LATERAL correlated subquery join (top-2 orders per customer):
  // Catalyst decorrelates the ORDER BY/LIMIT lateral into a
  // partitioned window rank — one shuffle, no per-row re-execution.
  def q45_lateral(s: SparkSession, dir: String): DataFrame = {
    Tables.ensure(s, dir)
    s.sql("""
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c.c_custkey <= 200
      ORDER BY c_custkey, o_orderkey""")
  }
}
