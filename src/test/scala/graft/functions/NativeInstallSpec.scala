package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The native-function install and the signature check of every
  * native function: installing twice keeps the first registration (no
  * rebuild, no "replaced a previously registered function" log line
  * per call), and a call with a wrong argument count or a wrong
  * argument type fails analysis with an AnalysisException that names
  * the function's signature. */
class NativeInstallSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(2)

  test("a second install keeps the first registration") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    TextHashExprs.register(s)
    val names = Seq("argmax_long", "float_dot", "rolling_hash_arr")
    val first = names.map(n => reg.lookupFunction(FunctionIdentifier(n)))
    assert(first.forall(_.isDefined), "install missed a function")
    TextHashExprs.register(s)
    val second = names.map(n => reg.lookupFunction(FunctionIdentifier(n)))
    assert(first.zip(second).forall { case (a, b) => a.get eq b.get },
      "a repeated install replaced a registered function")
  }

  private def analyze(sql: String): Unit = {
    val s = spark.newSession()
    TextHashExprs.register(s)
    s.sql(sql).queryExecution.assertAnalyzed()
  }

  private def analysisError(sql: String): AnalysisException =
    intercept[AnalysisException](analyze(sql))

  val ArgMaxLongSignature = "argmax_long(bigint, bigint, bigint)"

  test("argmax_long with a wrong arity names its signature") {
    val e = analysisError("SELECT argmax_long(id, id) FROM range(3)")
    assert(e.getMessage.contains(ArgMaxLongSignature), e.getMessage)
  }

  test("argmax_long with a non-bigint argument names its signature") {
    val e = analysisError(
      "SELECT argmax_long(id, cast(id AS int), id) FROM range(3)")
    assert(e.getMessage.contains(ArgMaxLongSignature), e.getMessage)
  }

  test("argmax_long over bigints still analyzes and runs") {
    val s = spark.newSession()
    TextHashExprs.register(s)
    val r = s.sql("SELECT argmax_long(id * 10, id, -id) FROM range(3)").head()
    assert(r.getLong(0) == 20L)
  }

  /** Every native function: its signature, and arguments of exactly
    * those types. */
  val natives: Seq[(String, Seq[String])] = Seq(
    "lloyd_argmin(array<bigint>, array<struct<bucket:int,c:array<bigint>>>)" ->
      Seq("array(1L, 3L)", "array(named_struct('bucket', 0, 'c', array(1L, 1L)))"),
    "ivf_assign(array<float>, int)" -> Seq("array(0.5f, -1.5f)", "2"),
    "rolling_hash_arr(array<string>, bigint)" -> Seq("array('a', 'b')", "7L"),
    "rolling_hash_str(string, bigint)" -> Seq("'ab'", "7L"),
    "affine_minhash(array<bigint>, int)" -> Seq("array(1L, 2L)", "4"),
    "simhash32(array<bigint>)" -> Seq("array(1L, 2L)"),
    "lsh_sig16(array<float>)" -> Seq("array(0.5f)"),
    "lsh_bands(array<float>, int)" -> Seq("array(0.5f)", "4"),
    "pq_encode(array<float>)" -> Seq("array(0.5f)"),
    "pq_adc_e6(array<float>, array<struct<code:int,err_e6:bigint>>)" ->
      Seq("array(0.5f)", "array(named_struct('code', 0, 'err_e6', 0L))"),
    "float_dot(array<float>, array<float>)" -> Seq("array(1.0f)", "array(2.0f)"),
    ArgMaxLongSignature -> Seq("id", "id", "id"))

  private def call(signature: String, args: Seq[String]): String =
    s"SELECT ${signature.takeWhile(_ != '(')}(${args.mkString(", ")}) FROM range(3)"

  test("the signature table covers every installed native function") {
    assert(natives.map(_._1).toSet == TextHashExprs.builders.map(_._1.signature).toSet)
  }

  natives.foreach { case (signature, args) =>
    val name = signature.takeWhile(_ != '(')

    test(s"$name: arguments of its signature's types analyze") {
      analyze(call(signature, args))
    }

    test(s"$name: a wrong argument count names its signature") {
      for (wrong <- Seq(args :+ args.last, args.init)) {
        val e = analysisError(call(signature, wrong))
        assert(e.getMessage.contains(signature), e.getMessage)
      }
    }

    test(s"$name: a wrong argument type names its signature") {
      val e = analysisError(call(signature, "1.5d" +: args.tail))
      assert(e.getMessage.contains(signature), e.getMessage)
    }
  }
}
