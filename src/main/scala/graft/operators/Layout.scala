package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Caches, Tables}

/** Data-layout operators: Z-order (Morton) clustering keys.
  *
  * Sorting (or range-partitioning) a 100 TB table by the interleaved
  * bits of two dimensions co-locates rows that are close in BOTH — a
  * 2-D box predicate then touches O(√files) instead of every file the
  * single-sort-key layout would. This is the technique behind
  * Delta/Iceberg `OPTIMIZE ZORDER BY`; here the key itself is exposed
  * as a checked query (pure integer bit math, engine-portable) and
  * the locality claim is asserted by `CurationSpec`.
  */
object Layout {

  val Bits = 10

  /** zkey arithmetic over two bucketized 10-bit dims — same text runs
    * in Spark SQL and DuckDB. */
  def zkeyExpr(x: String, y: String): String =
    (0 until Bits).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString(" + ")

  /** z01: Morton key per event over (hour bucket, value bucket) — the
    * classic time×measure box-query layout ("values in [a,b) during
    * week 2"). The hour bucket is relative to the table's first hour
    * (a tiny broadcast scalar), so temporally adjacent rows can never
    * land on opposite ends of the key space — a raw `% 1024` of the
    * epoch hour would wrap mid-window every ~43 days. Value is
    * clamped on BOTH sides: a negative value's sign bits would
    * corrupt the interleave — and a NULL value buckets at 0, not at
    * the top (least/greatest silently SKIP nulls in both engines, so
    * without the coalesce a null row would z-order next to the
    * highest-valued events). Windows longer than 1024 hours need
    * more time bits. */
  def zorderKeys(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .select(col("event_id"),
        expr("unix_micros(ts) div 3600000000L").as("hr"),
        expr(s"greatest(0L, least(CAST(floor(coalesce(value, 0.0)) AS BIGINT), ${(1 << Bits) - 1}))")
          .as("vb"))
    val minHr = e.agg(min(col("hr")).as("min_hr"))
    e.crossJoin(broadcast(minHr))
      .withColumn("tb", (col("hr") - col("min_hr")) % (1 << Bits))
      .withColumn("zkey", expr(zkeyExpr("tb", "vb")))
      .select(col("event_id"), col("tb"), col("vb"), col("zkey"))
      .orderBy("event_id")
  }

  /** z02 file-skipping simulation geometry: 64 files; the box query is
    * a 128-hour window (days 10–15) × the sparse high-value tail —
    * both dimensions selective BY ROW MASS, the workload Z-order
    * exists for. (A value slab inside the dense low range would make
    * the 1-D time sort look best: its files each hold ~1/64 of the
    * rows regardless of value, so when the value predicate keeps most
    * row mass, time pruning alone is optimal. Z-order's win is
    * two-dimensionally selective queries.) */
  val PruneFiles = 64L
  val PruneTbLo = 240L
  val PruneTbHi = 367L
  val PruneVbLo = 128L
  val PruneVbHi = 511L

  /** z02: pruning-effectiveness report — simulate min/max file
    * statistics (the parquet row-group / Delta file-stats model) under
    * four layouts of the SAME rows (insertion order, time-sorted,
    * value-sorted, Z-order) and count what a (time × value) box query
    * must scan in each. The report quantifies z01's locality claim as
    * the number a capacity planner uses: files touched and rows read
    * per layout, with the true box cardinality as the floor.
    *
    * Files are simulated as equal-width KEY ranges (file f gets keys
    * with `key·64 div (max+1) = f`) rather than ntile ranks: value
    * ranges compute distributively (two partial-agg passes + a 1-row
    * max scalar broadcast) where a rank-based ntile would need a
    * global single-task sort at 100 TB — and a real `OPTIMIZE ZORDER`
    * write range-partitions on the key the same way. Under skew the
    * simulated files hold unequal row counts, which is why the report
    * exposes rows-scanned alongside files-scanned. */
  def pruningReport(s: SparkSession, dir: String): DataFrame = {
    val mx = zorderKeys(s, dir).agg(max(col("event_id")).as("me"),
      max(col("tb")).as("mt"), max(col("vb")).as("mv"),
      max(col("zkey")).as("mz"))
    // persisted: the four per-layout file aggregations share one
    // scan+zkey pass
    val rows = zorderKeys(s, dir).crossJoin(broadcast(mx))
      .select(col("tb"), col("vb"),
        expr(s"event_id * $PruneFiles div (me + 1L)").as("f_natural"),
        expr(s"tb * $PruneFiles div (mt + 1L)").as("f_time"),
        expr(s"vb * $PruneFiles div (mv + 1L)").as("f_value"),
        expr(s"zkey * $PruneFiles div (mz + 1L)").as("f_zorder"))
      .transform(Caches.persist)
    val inBox = col("tb").between(PruneTbLo, PruneTbHi) &&
      col("vb").between(PruneVbLo, PruneVbHi)
    val fileHit = col("tb_max") >= PruneTbLo && col("tb_min") <= PruneTbHi &&
      col("vb_max") >= PruneVbLo && col("vb_min") <= PruneVbHi
    def layer(name: String, f: String): DataFrame =
      rows.groupBy(col(f).as("f"))
        .agg(min(col("tb")).as("tb_min"), max(col("tb")).as("tb_max"),
          min(col("vb")).as("vb_min"), max(col("vb")).as("vb_max"),
          count(lit(1)).as("n_rows"),
          sum(inBox.cast("long")).as("n_box"))
        .agg(count(lit(1)).as("n_files"),
          sum(fileHit.cast("long")).as("n_files_scanned"),
          sum(when(fileHit, col("n_rows")).otherwise(0L)).as("n_rows_scanned"),
          sum(col("n_box")).as("n_rows_box"))
        .select(lit(name).as("layout"), col("n_files"),
          col("n_files_scanned"), col("n_rows_scanned"), col("n_rows_box"))
    layer("natural", "f_natural")
      .unionByName(layer("time", "f_time"))
      .unionByName(layer("value", "f_value"))
      .unionByName(layer("zorder", "f_zorder"))
      .orderBy("layout")
  }

  /** z04 probe grid: 16 mid-band time probes (tb = 64j + 32), one per
    * 64-hour slab of the 1024-hour key space. */
  val DepthProbes = 16L
  val DepthProbeStride = 64L

  /** z04: clustering-depth report — the OPTIMIZE-effectiveness metric
    * of a Delta/Iceberg table: for a point query on the TIME key, how
    * many simulated files' [tb_min, tb_max] ranges contain the probe?
    * z02 prices one box query; THIS sweeps [[DepthProbes]] point
    * probes across the whole key space and reports, per layout, the
    * average and worst overlap depth plus how many probes hit a
    * perfectly clustered (depth ≤ 1) slab. depth ≈ 1 everywhere means
    * the layout is fully clustered on time (the `time` sort); depth ≈
    * n_files means time is unclustered (the `value` sort); Z-order
    * sits between — the measured cost of buying the second dimension.
    * The number a table-maintenance scheduler compares against its
    * re-OPTIMIZE threshold.
    *
    * Scale shape: file stats aggregate from the same one-pass
    * simulated layout frame as z02 (per-file min/max, a partial-agg
    * groupBy); the containment join is files × a STATIC
    * [[DepthProbes]]-row probe grid (broadcast nested loop over ≤
    * 4·[[PruneFiles]] file-stat rows — metadata scale, the file
    * COUNT, never row scale). */
  def clusteringDepth(s: SparkSession, dir: String): DataFrame = {
    val mx = zorderKeys(s, dir).agg(max(col("event_id")).as("me"),
      max(col("tb")).as("mt"), max(col("vb")).as("mv"),
      max(col("zkey")).as("mz"))
    val rows = zorderKeys(s, dir).crossJoin(broadcast(mx))
      .select(col("tb"),
        expr(s"event_id * $PruneFiles div (me + 1L)").as("f_natural"),
        expr(s"tb * $PruneFiles div (mt + 1L)").as("f_time"),
        expr(s"vb * $PruneFiles div (mv + 1L)").as("f_value"),
        expr(s"zkey * $PruneFiles div (mz + 1L)").as("f_zorder"))
      .transform(Caches.persist) // four per-layout file aggregations share one pass
    val probes = s.range(DepthProbes)
      .select((col("id") * DepthProbeStride + DepthProbeStride / 2).as("p"))
    def layer(name: String, f: String): DataFrame = {
      val files = rows.groupBy(col(f).as("f"))
        .agg(min(col("tb")).as("tb_min"), max(col("tb")).as("tb_max"))
      val depth = broadcast(probes)
        .join(files, col("tb_min") <= col("p") && col("p") <= col("tb_max"),
          "left")
        .groupBy("p")
        .agg(count(col("f")).as("depth"))
      depth.agg(count(lit(1)).as("n_probes"), sum(col("depth")).as("td"),
          max(col("depth")).as("max_depth"),
          sum((col("depth") <= 1L).cast("long")).as("n_clustered"))
        .select(lit(name).as("layout"), col("n_probes"),
          expr(s"(1000000L * td) div n_probes").as("avg_depth_e6"),
          col("max_depth"), col("n_clustered"))
    }
    layer("natural", "f_natural")
      .unionByName(layer("time", "f_time"))
      .unionByName(layer("value", "f_value"))
      .unionByName(layer("zorder", "f_zorder"))
      .orderBy("layout")
  }

  /** x20 compaction geometry: an ingest file is "small" below
    * [[SmallFileBytes]]; small files pack greedily (in file order)
    * into groups targeting [[CompactTargetBytes]]. */
  val SmallFileBytes = 1024L
  val CompactTargetBytes = 4096L

  /** x20: small-file compaction planner — the OPTIMIZE/bin-packing
    * pass every lakehouse table needs after streaming ingest writes
    * one tiny file per micro-batch: per source shard, find the files
    * under the small-file threshold and assign them to compaction
    * groups by a greedy running-sum cut at the target size (each doc
    * stands in for one ingest file; its byte size is `n_chars`). The
    * card reports files before/after, group count, and bytes the
    * compactor must rewrite — the numbers that decide whether the
    * job is worth scheduling.
    *
    * Scale shape: x04's sequence-packing window applied to file
    * stats: the running sum is per-source (never a global order), and
    * everything downstream is a partial-aggregated rollup on the
    * source key. The planner touches file METADATA only — bytes
    * moved is reported, not moved. */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = Tables.t(s, dir, "documents")
      .select(col("source"), col("doc_id").as("file_id"),
        col("n_chars").as("bytes"))
    val planned = files.filter(col("bytes") < SmallFileBytes)
      .withColumn("grp",
        expr(s"(sum(bytes) OVER (PARTITION BY source ORDER BY file_id " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1L) " +
          s"div $CompactTargetBytes"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_small"),
        sum(col("bytes")).as("bytes_moved"),
        countDistinct(col("grp")).as("n_groups"))
    files.groupBy("source")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes_total"))
      .join(planned, Seq("source"), "left_outer")
      .na.fill(0L, Seq("n_small", "bytes_moved", "n_groups"))
      .withColumn("n_files_after",
        col("n_files") - col("n_small") + col("n_groups"))
      .select(col("source"), col("n_files"), col("bytes_total"),
        col("n_small"), col("bytes_moved"), col("n_groups"),
        col("n_files_after"))
      .orderBy("source")
  }

  /** z03's bloom geometry: a PARTITIONED bloom filter — each of the
    * [[BloomK]] hash functions owns its own [[BloomM]]-bit lane (the
    * blocked variant Impala/Kudu use; lane independence is also what
    * makes the filter expressible as k relational joins). The lane
    * hash must actually SCATTER sequential keys — the shape of every
    * surrogate-key column — and no affine map does: a·x mod P over a
    * contiguous x-range is a three-gap Weyl lattice (more even than
    * random, near-zero lane fill collisions, lockstep lane hits), so
    * the measured "FP rate" would be a lattice artifact. h_i(x) is
    * therefore the first 8 hex chars of md5("i:x") mod M — md5 text
    * is bit-identical across engines, each engine just spells the
    * hex→int step natively. */
  val BloomM = 16384L
  val BloomK = 4

  /** Lane hash, Spark SQL spelling: conv() does hex→int. */
  def laneHashSpark(i: String, x: String): String =
    s"CAST(conv(substring(md5(concat(CAST($i AS STRING), ':', " +
      s"CAST($x AS STRING))), 1, 8), 16, 10) AS BIGINT) % $BloomM"

  /** Lane hash, DuckDB spelling of the SAME value: '0x…'::BIGINT
    * does hex→int. */
  def laneHashSql(i: String, x: String): String =
    s"('0x' || substring(md5(CAST($i AS VARCHAR) || ':' || " +
      s"CAST($x AS VARCHAR)), 1, 8))::BIGINT % $BloomM"

  /** z03: bloom-filter skipping report — the membership-pruning
    * sibling of z02's min/max stats: build a partitioned bloom over
    * the join keys PRESENT in the fact table (distinct `o_custkey`),
    * probe it with the keys that are genuinely absent (customers with
    * no orders), and report the false-positive rate at every filter
    * depth k = 1..4. This is the number a planner weighs before
    * pushing a bloom into a scan (Spark's own
    * `spark.sql.optimizer.runtimeFilter.bloomFilter` makes the same
    * trade): each extra hash function cuts the FP rate — until the
    * lanes saturate, which the reported bits-set column exposes as
    * the scale factor grows.
    *
    * Probes must be TRUE negatives for the measured rate to be a
    * false-positive rate, and at the gate SFs every customer has at
    * least one order — so the probe set is each customer key shifted
    * past the maximum member key (a 1-row broadcast scalar): absent
    * by construction, one probe per customer, and still
    * affine-scattered across the lanes by the hash.
    *
    * Scale shape: the filter itself is O(M·k) bits regardless of
    * corpus size — `bits` is a broadcast; the only fact-scale work is
    * the distinct on members, a single equi-shuffle. Probing is
    * map-side. */
  def bloomReport(s: SparkSession, dir: String): DataFrame = {
    val members = Tables.t(s, dir, "orders")
      .select(col("o_custkey").as("x")).distinct().transform(Caches.persist)
    val lanes = members
      .select(explode(expr(
        s"transform(sequence(0, ${BloomK - 1}), " +
          s"i -> struct(i AS i, ${laneHashSpark("i", "x")} AS h))")).as("l"))
      .select(col("l.i").as("i"), col("l.h").as("h"))
      .distinct() // the set bits; ≤ k·M rows no matter the corpus
      .transform(Caches.persist)
    val probes = Tables.t(s, dir, "customer")
      .select(col("c_custkey").as("ck"))
      .crossJoin(broadcast(members.agg(max(col("x")).as("mx"))))
      .select((col("ck") + col("mx")).as("x"))
    val ph = probes
      .select(col("x"), explode(expr(
        s"transform(sequence(0, ${BloomK - 1}), " +
          s"i -> struct(i AS i, ${laneHashSpark("i", "x")} AS h))")).as("l"))
      .select(col("x"), col("l.i").as("i"), col("l.h").as("h"))
      .join(broadcast(lanes.withColumn("hit", lit(1))), Seq("i", "h"),
        "left_outer")
      .na.fill(0, Seq("hit"))
    val flags = ph.groupBy("x").agg(
      max(when(col("i") === 0, col("hit"))).as("h0"),
      max(when(col("i") === 1, col("hit"))).as("h1"),
      max(when(col("i") === 2, col("hit"))).as("h2"),
      max(when(col("i") === 3, col("hit"))).as("h3"))
    val counts = flags.agg(
      count(lit(1)).as("n_probes"),
      sum(when(col("h0") === 1, 1L).otherwise(0L)).as("fp1"),
      sum(when(col("h0") === 1 && col("h1") === 1, 1L).otherwise(0L))
        .as("fp2"),
      sum(when(col("h0") === 1 && col("h1") === 1 && col("h2") === 1, 1L)
        .otherwise(0L)).as("fp3"),
      sum(when(col("h0") === 1 && col("h1") === 1 && col("h2") === 1 &&
        col("h3") === 1, 1L).otherwise(0L)).as("fp4"))
    val laneFill = lanes.groupBy("i").agg(count(lit(1)).as("nb"))
      .agg(sum(when(col("i") < 1, col("nb")).otherwise(0L)).as("bits1"),
        sum(when(col("i") < 2, col("nb")).otherwise(0L)).as("bits2"),
        sum(when(col("i") < 3, col("nb")).otherwise(0L)).as("bits3"),
        sum(when(col("i") < 4, col("nb")).otherwise(0L)).as("bits4"))
    val mem = members.agg(count(lit(1)).as("n_members"))
    counts.crossJoin(broadcast(laneFill)).crossJoin(broadcast(mem))
      .select(expr("""stack(4,
          1, fp1, bits1,
          2, fp2, bits2,
          3, fp3, bits3,
          4, fp4, bits4) AS (k, n_false_pos, n_bits_set)"""),
        col("n_members"), col("n_probes"))
      .select(col("k"), col("n_members"), col("n_probes"),
        col("n_bits_set"), col("n_false_pos"),
        expr("n_false_pos * 1000000 div n_probes").as("fp_e6"))
      .orderBy("k")
  }
}
