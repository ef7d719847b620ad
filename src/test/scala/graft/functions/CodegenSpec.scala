package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Proves the native hash expressions really participate in codegen:
  * Spark silently falls back to the interpreted path when doGenCode
  * emits uncompilable Java, so a plain query test would pass with
  * broken codegen. CODEGEN_ONLY turns that fallback into an error,
  * and the NO_CODEGEN twin run pins interpreted ≡ generated results.
  */
class CodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(2)

  private def runAll(mode: String): Array[Row] = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    TextHashExprs.register(s)
    import s.implicits._
    Seq(
      ("the quick brown fox jumps over the lazy dog again and again",
        Array(0.5f, -1.5f, 2.5f, -0.25f)),
      ("", Array.empty[Float]))
      .toDF("t", "v").createOrReplaceTempView("cg_probe")
    s.sql("""
      SELECT rolling_hash_str(t, 1000000007L) AS h,
             rolling_hash_arr(split(t, ' '), 1000000007L) AS ha,
             affine_minhash(rolling_hash_arr(split(t, ' '), 1000000007L), 8) AS mh,
             simhash32(rolling_hash_arr(split(t, ' '), 4294967296L)) AS sh,
             lsh_sig16(v) AS ls,
             ivf_assign(v, 2) AS iv,
             float_dot(v, v) AS fd,
             lloyd_argmin(array(1L, 3L), array(
               named_struct('bucket', 0, 'c', array(1L, 1L)),
               named_struct('bucket', 1, 'c', array(1L, 3L)),
               named_struct('bucket', 2, 'c', array(1L, 3L)))) AS la
      FROM cg_probe""").collect()
  }

  test("hash expressions compile under CODEGEN_ONLY and match interpreted") {
    val gen = runAll("CODEGEN_ONLY")
    val interp = runAll("NO_CODEGEN")
    assert(gen.length == 2)
    assert(gen.map(_.toSeq.map {
      case a: Seq[_] => a.toList
      case x => x
    }).toSeq == interp.map(_.toSeq.map {
      case a: Seq[_] => a.toList
      case x => x
    }).toSeq)
    assert(gen.head.getAs[Long]("h") > 0)
    // lloyd_argmin: buckets 1 and 2 are both exact (d2 = 0); the
    // strict-< fold must keep the FIRST — the (d2, bucket) oracle rule
    assert(gen.head.getAs[Row]("la") == Row(1, 0L))
  }

  private def edgeCases(mode: String): Array[Row] = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    TextHashExprs.register(s)
    s.sql("""
      SELECT float_dot(array(1.0f, 2.0f), array(1.0f)) AS ragged,
             affine_minhash(cast(array() as array<bigint>), 4) AS mh_empty,
             affine_minhash(array(1L, cast(null as bigint)), 4) AS mh_null,
             rolling_hash_arr(array('a', cast(null as string)), 1000000007L) AS ha_null
    """).collect()
  }

  test("lloyd_argmin fails loudly on corrupt centroid state") {
    // DELIBERATE divergence from the corrupt-inputs-yield-NULL rule
    // below, pinned here so it stays a contract and not an accident
    // (round-13 ADVICE): a NULL assignment would silently DROP
    // vectors from the Lloyd loop — every consumer (s26 M-step, s27
    // quality, d21 chunking) would see a smaller corpus, not a broken
    // one. The Pq.checkDims convention instead: empty or dim-
    // mismatched centroid state kills the task with a named error, in
    // BOTH codegen modes.
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      TextHashExprs.register(s)
      def failure(sql: String): String = {
        val e = intercept[Throwable](s.sql(sql).collect())
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      }
      assert(failure("""SELECT lloyd_argmin(array(1L, 2L),
          cast(array() as array<struct<bucket:int,c:array<bigint>>>))""")
        .contains("empty centroid"), s"$mode: empty state must throw")
      assert(failure("""SELECT lloyd_argmin(array(1L, 2L),
          array(named_struct('bucket', 0, 'c', array(1L))))""")
        .contains("centroid dims"), s"$mode: dim mismatch must throw")
    }
  }

  test("corrupt inputs yield NULL, never silent sentinels") {
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val r = edgeCases(mode).head
      // ragged dot: NULL (HOF zip_with semantics), not a truncated dot
      assert(r.isNullAt(0), s"$mode: ragged float_dot must be null")
      // empty/null-element minhash: NULL, not a MaxValue sentinel that
      // makes all empty docs mutual near-duplicates
      assert(r.isNullAt(1), s"$mode: empty minhash must be null")
      assert(r.isNullAt(2), s"$mode: null-element minhash must be null")
      // null element hashes to a null element
      assert(r.getSeq[Any](3) == Seq(RollingHashArray.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString("a"),
        1000000007L), null), s"$mode: null element must pass through")
    }
  }
}
