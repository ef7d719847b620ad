package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The native-function install and `argmax_long`'s signature check:
  * installing twice keeps the first registration (no rebuild, no
  * "replaced a previously registered function" log line per call),
  * and a misused `argmax_long` fails analysis with an
  * AnalysisException that names its signature. */
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

  private def analysisError(sql: String): AnalysisException = {
    val s = spark.newSession()
    TextHashExprs.register(s)
    intercept[AnalysisException](s.sql(sql).queryExecution.assertAnalyzed())
  }

  test("argmax_long with a wrong arity names its signature") {
    val e = analysisError("SELECT argmax_long(id, id) FROM range(3)")
    assert(e.getMessage.contains(ArgMaxLong.Signature), e.getMessage)
  }

  test("argmax_long with a non-bigint argument names its signature") {
    val e = analysisError(
      "SELECT argmax_long(id, cast(id AS int), id) FROM range(3)")
    assert(e.getMessage.contains(ArgMaxLong.Signature), e.getMessage)
  }

  test("argmax_long over bigints still analyzes and runs") {
    val s = spark.newSession()
    TextHashExprs.register(s)
    val r = s.sql("SELECT argmax_long(id * 10, id, -id) FROM range(3)").head()
    assert(r.getLong(0) == 20L)
  }
}
