package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DecimalType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.lineage.LineParser
import graft.queries.Relational

/** Property-based laws for the native hash/sketch kernels — the
  * algebraic facts the operators LEAN on, made executable over
  * generated inputs instead of the fixed corpora the gated queries
  * see. Each law is the foundation of a specific production claim:
  * mergeability is WHY t32 can reduce per-source sketches with a
  * plain min; permutation invariance is WHY partitioning (which
  * reorders rows) cannot change a signature; the fold-reference
  * equality is WHY the DuckDB oracle's list_reduce replication
  * matches the compiled loop bit-for-bit. The money laws are WHY the
  * BIGINT-cents sums in [[graft.queries.Relational]] render the same
  * doubles as the DECIMAL sums of the DuckDB oracle.
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop, cases: Int = 200): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(r.passed, s"$name: ${r.status}")
  }

  private val P = 1000000007L

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  /** The money laws run one Spark job per case, so they take fewer,
    * larger cases (500 values each). The values go through an RDD, not
    * a local relation, so the projection runs as generated code. */
  private val MoneyCases = 20

  private val asciiStr: Gen[String] =
    Gen.chooseNum(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString))

  private val hashVals: Gen[List[Long]] =
    Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, P - 1)))

  test("rolling hash: compiled loop == naive fold reference, range [0, m)") {
    def ref(s: String, m: Long): Long =
      s.foldLeft(7L)((a, c) => (a * 31 + c.toLong) % m)
    check("rollingHash", Prop.forAll(asciiStr,
        Gen.oneOf(P, 998244353L, 754974721L, 4294967296L)) { (s, m) =>
      val h = RollingHashArray.hash(UTF8String.fromString(s), m)
      h == ref(s, m) && h >= 0 && h < m
    })
  }

  test("minhash: sig(A ++ B) == componentwise min — the t32 merge law") {
    check("mergeability", Prop.forAll(hashVals, hashVals) { (a, b) =>
      val sa = AffineMinHash.sig(new GenericArrayData(a.toArray), 32)
        .toLongArray()
      val sb = AffineMinHash.sig(new GenericArrayData(b.toArray), 32)
        .toLongArray()
      val su = AffineMinHash.sig(new GenericArrayData((a ++ b).toArray), 32)
        .toLongArray()
      su.toSeq == sa.zip(sb).map { case (x, y) => math.min(x, y) }.toSeq
    })
  }

  test("minhash: permutation- and duplicate-invariant (a true set sketch)") {
    check("minhashSet", Prop.forAll(hashVals, Gen.long) { (a, seed) =>
      val rnd = new scala.util.Random(seed)
      val shuffled = rnd.shuffle(a)
      val dup = a ++ rnd.shuffle(a).take(rnd.nextInt(a.length max 1))
      val s0 = AffineMinHash.sig(new GenericArrayData(a.toArray), 32)
        .toLongArray().toSeq
      AffineMinHash.sig(new GenericArrayData(shuffled.toArray), 32)
        .toLongArray().toSeq == s0 &&
      AffineMinHash.sig(new GenericArrayData(dup.toArray), 32)
        .toLongArray().toSeq == s0
    })
  }

  test("simhash: permutation-invariant, and doubling the tf changes nothing") {
    check("simhash", Prop.forAll(hashVals, Gen.long) { (a, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(a)
      val f0 = SimHash32.fp(new GenericArrayData(a.toArray))
      SimHash32.fp(new GenericArrayData(shuffled.toArray)) == f0 &&
      SimHash32.fp(new GenericArrayData((a ++ a).toArray)) == f0
    })
  }

  test("lsh signature stays within 16 bits over arbitrary float vectors") {
    val vec: Gen[Array[Float]] = Gen.listOfN(64,
      Gen.chooseNum(-100.0f, 100.0f)).map(_.toArray)
    check("lsh16", Prop.forAll(vec) { v =>
      val sig = LshSig16.sigOf(new GenericArrayData(
        v.map(_.asInstanceOf[Any])))
      (sig & ~0xFFFFL) == 0L
    })
  }

  test("lineage: generated INSERT..SELECT always yields the FROM tables") {
    val ident: Gen[String] = for {
      c <- Gen.alphaLowerChar
      rest <- Gen.listOfN(5, Gen.oneOf(Gen.alphaLowerChar, Gen.numChar))
    } yield (c :: rest).mkString
    check("lineage", Prop.forAll(ident, ident, ident, ident, ident) {
      (db, dst0, src, c1, c2) =>
        // a same-named source and destination is legal but uninteresting
        val dst = if (dst0 == src) dst0 + "x" else dst0
        val sql = s"use $db; insert overwrite table $dst " +
          s"select $c1, count($c2) from $src where $c1 > 0 group by $c1"
        val p = new LineParser().parse(sql)
        p.getInputTables.contains(s"$db.$src") &&
          p.getOutputTables.contains(s"$db.$dst")
    })
  }

  test("money: cents(x) is the unscaled CAST(x AS DECIMAL(12,2)) of a 2-dp x") {
    import spark.implicits._
    // k/100 for |k| < 10^12 (the DECIMAL(12,2) range), with the .x5
    // values (round()'s representation ties) and negatives drawn often
    val k: Gen[Long] = Gen.frequency(
      3 -> Gen.chooseNum(-999999999999L, 999999999999L),
      2 -> Gen.chooseNum(-99999999999L, 99999999999L).map(_ * 10 + 5),
      1 -> Gen.chooseNum(-1000L, 1000L))
    check("cents", Prop.forAll(Gen.listOfN(500, k)) { ks =>
      spark.sparkContext.parallelize(ks.map(_ / 100.0), 2).toDF("x")
        .select(Relational.cents(col("x")), col("x").cast(DecimalType(12, 2)))
        .collect()
        .forall(r => r.getLong(0) == r.getDecimal(1).unscaledValue.longValueExact)
    }, MoneyCases)
  }

  test("money: money(S, k) is Decimal(S, 38, k).toDouble bit for bit, |S| <= 2^62") {
    import spark.implicits._
    // past 2^53 a plain S.toDouble / 10^k rounds twice; draw that
    // boundary, the full 2^62 range and small sums
    val big = 1L << 62
    val edge = 1L << 53
    val s: Gen[Long] = Gen.frequency(
      3 -> Gen.chooseNum(-big, big),
      2 -> Gen.chooseNum(-4096L, 4096L).flatMap(d =>
        Gen.oneOf(edge + d, -edge + d)),
      1 -> Gen.chooseNum(-10000000L, 10000000L))
    val scales = Seq(2, 4, 6)
    check("money", Prop.forAll(Gen.listOfN(500, s)) { ss =>
      spark.sparkContext.parallelize(ss, 2).toDF("s")
        .select(col("s") +: scales.map(k => Relational.money(col("s"), k)): _*)
        .collect()
        .forall { r =>
          scales.zipWithIndex.forall { case (k, i) =>
            java.lang.Double.doubleToRawLongBits(r.getDouble(i + 1)) ==
              java.lang.Double.doubleToRawLongBits(
                Decimal(r.getLong(0), 38, k).toDouble)
          }
        }
    }, MoneyCases)
  }
}
