package graft.lineage

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Column-level corpus assertion (VERDICT r8 item 6): the base-table
  * check in [[LineageCorpusSpec]] caught a real dropped-input bug
  * (LATERAL, commit a997d42); this is its output-side sibling. For
  * every oracle statement the lineage layer analyzes, the set of
  * parsed output-column names (`ColLine.toNameParse`) must equal the
  * engine's OWN result columns for the same query —
  * `SparkEntry.queries(name)` built at sf0.001, whose schema the
  * driver gate already proves identical to the DuckDB oracle's
  * (columns are sorted+hash-compared per round). That makes the
  * expected set independent of the plan walk under test, and makes
  * the lineage layer earn its keep column-by-column on all the real
  * query shapes (windows, set-ops, QUALIFY-free CTE chains, UNION
  * arms, lateral subqueries) rather than only the 7 reference
  * goldens (/root/reference/README.md:851–1218). */
class LineageOutputColumnsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.engine.Sessions.local(4)

  val dir = "/root/testdata/sf0.001"

  test("analyzed oracle statements' output columns match the engine schema") {
    var checked = 0
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        val p = new LineParser().parse(sql)
        if (p.getErrors.nonEmpty || p.getInputTables.isEmpty) None // skipped
        else {
          val parsed = p.getColLines.map(_.toNameParse).toSet
          val engine = SparkEntry.queries(name)(spark, dir).columns.toSet
          checked += 1
          if (parsed == engine) None
          else Some(s"$name: lineage output cols ${parsed.toSeq.sorted} " +
            s"!= engine schema ${engine.toSeq.sorted}")
        }
    }
    assert(bad.isEmpty,
      s"${bad.size} output-column mismatches:\n${bad.mkString("\n")}")
    // same fixed floor as the input-table check: the ANSI relational
    // corpus must stay covered; DuckDB-dialect extension oracles are
    // recorded+skipped by design and must not dilute the guard
    assert(checked >= 60, s"only $checked statements cross-checked")
  }
}
