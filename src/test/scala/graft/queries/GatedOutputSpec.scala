package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The gated-output schema convention (README "Gated-output
  * conventions"): the driver compares Spark vs DuckDB through pandas
  * (sort by every column + hash of stringified cells), so non-scalar
  * cells crash the gate outright — this assertion keeps a new query
  * from re-learning round 5's i01 failure. (The queries↔oracle key
  * coverage lives in graft.ContractSpec, which needs no session.)
  */
class GatedOutputSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  test("every gated output schema is scalar-only (no array/struct/map)") {
    // NOTE: "schema-only" is not free for every query — the cluster
    // queries (d06/d07/d09/d10) run DupCluster's driver-side fixpoint
    // loop during DataFrame *construction*, so building their frames
    // executes real jobs (and warms the label memo). Accepted cost:
    // the memoized fixpoint makes the second pair of queries cheap,
    // and sf0.001 converges in a couple of rounds.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, dir).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[StructType] ||
            f.dataType.isInstanceOf[MapType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(offenders.isEmpty,
      s"non-scalar gated output columns (driver pandas compare crashes): $offenders")
  }
}
