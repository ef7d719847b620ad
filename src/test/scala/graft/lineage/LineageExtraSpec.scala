package graft.lineage

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Coverage beyond the reference goldens: remaining join-type tags
  * (SURVEY §2.3), CTAS outputs (S5), DDL tolerance (S6-S10),
  * multi-statement scripts (S12), and the concurrent statement parse
  * (stack overflow, conf propagation, script order). */
class LineageExtraSpec extends AnyFunSuite with TimeLimits {

  private def parser = new LineParser()

  test("left/right/semi join tags (J2, J3, J5)") {
    val p = parser.parse(
      "insert into table dst select a.x from t1 a left join t2 b on a.k = b.k")
    assert(p.getColLines.head.conditionSet
      .contains("JOIN".replace("JOIN", "LEFTOUTERJOIN") + ":default.t1.k = default.t2.k"))

    val p2 = parser.parse(
      "insert into table dst select a.x from t1 a right join t2 b on a.k = b.k")
    assert(p2.getColLines.head.conditionSet
      .contains("RIGHTOUTERJOIN:default.t1.k = default.t2.k"))

    val p3 = parser.parse(
      "insert into table dst select a.x from t1 a left semi join t2 b on a.k = b.k")
    assert(p3.getColLines.head.conditionSet
      .contains("LEFTSEMIJOIN:default.t1.k = default.t2.k"))
  }

  test("CREATE TABLE AS SELECT records the destination (S5)") {
    val p = parser.parse(
      "use dw;create table summary as select region, sum(amount) as total from sales group by region")
    assert(p.getOutputTables == Set("dw.summary"))
    assert(p.getInputTables == Set("dw.sales"))
    val byName = p.getColLines.map(c => c.toNameParse -> c).toMap
    assert(byName("region").fromName == "dw.sales.region")
    assert(byName("total").conditionSet.contains("COLFUN:sum(dw.sales.amount)"))
  }

  test("DDL statements don't crash or pollute lineage (S6-S10)") {
    val p = parser.parse(
      "drop table if exists old_t;truncate table t2;insert into table dst select x from src")
    assert(p.getOutputTables == Set("default.dst"))
    assert(p.getInputTables == Set("default.src"))
  }

  test("multi-statement scripts accumulate per statement (S12)") {
    val p = parser.parse(
      "use a;insert into table d1 select x from s1;use b;insert into table d2 select y from s2")
    assert(p.getOutputTables == Set("a.d1", "b.d2"))
    assert(p.getInputTables == Set("a.s1", "b.s2"))
    val lines = p.getColLines
    assert(lines.map(_.toTable).toSet == Set("a.d1", "b.d2"))
  }

  test("LATERAL VIEW generator-alias lineage renders exactly (golden)") {
    // round-15 verdict item 6: the fuzzer pins LATERAL VIEW ColLines
    // only by COUNT laws; the rendered strings were free to drift.
    // The walker's deliberate behavior — pinned here verbatim so a
    // refactor can't silently change the qualification: a generated
    // column's provenance keeps the GENERATOR ALIAS as its qualifier
    // (`default.t.w`, the generic fold's lexical resolution — the
    // generator is the column's defining relation; the underlying
    // source column sits inside the explode argument, which the
    // reference's own walker also leaves un-chased for UDTFs), while
    // the table-level lineage still records the real source table.
    val p = parser.parse(
      "insert into table dst select t.w, count(1) from src " +
        "lateral view explode(split(x, ' ')) t as w group by t.w")
    assert(p.getInputTables == Set("default.src"))
    assert(p.getOutputTables == Set("default.dst"))
    val lines = p.getColLines
    assert(lines.map(_.toNameParse) == List("w", ""))
    val w = lines.head
    assert(w.toTable == "default.dst")
    assert(w.fromName == "default.t.w",
      s"generator-alias qualification drifted: ${w.fromName}")
    assert(w.conditionSet.isEmpty)
    val agg = lines(1)
    assert(agg.fromName == "" &&
      agg.conditionSet == Set("COLFUN:count(1)"),
      s"aggregate ColLine drifted: ${agg.fromName} ${agg.conditionSet}")
  }

  test("LATERAL VIEW composes with CTEs and stacks (goldens)") {
    // the same generator-alias contract under composition (round 16):
    // a lateral view INSIDE a CTE body chases through the CTE
    // reference; a lateral view OVER a CTE carries the CTE body's
    // WHERE condition; stacked generators resolve to the INNERMOST
    // alias. All three pinned verbatim.
    val p1 = parser.parse(
      "WITH c AS (SELECT t.w AS w FROM src LATERAL VIEW " +
        "explode(split(x, ' ')) t AS w) " +
        "INSERT INTO TABLE dst SELECT w FROM c")
    assert(p1.getInputTables == Set("default.src") &&
      p1.getOutputTables == Set("default.dst"))
    assert(p1.getColLines.map(c => (c.toNameParse, c.fromName)) ==
      List(("w", "default.t.w")))

    val p2 = parser.parse(
      "WITH c AS (SELECT x FROM src WHERE k > 0) " +
        "INSERT INTO TABLE dst SELECT t.w FROM c " +
        "LATERAL VIEW explode(split(x, ' ')) t AS w")
    val l2 = p2.getColLines.head
    assert(l2.fromName == "default.t.w" &&
      l2.conditionSet == Set("WHERE:default.src.k > 0"),
      s"CTE-carried condition drifted: ${l2.fromName} ${l2.conditionSet}")

    val p3 = parser.parse(
      "INSERT INTO TABLE dst SELECT t2.v FROM src " +
        "LATERAL VIEW explode(split(x, ' ')) t1 AS w " +
        "LATERAL VIEW explode(split(t1.w, '-')) t2 AS v")
    assert(p3.getColLines.map(c => (c.toNameParse, c.fromName)) ==
      List(("v", "default.t2.v")),
      "stacked generators must resolve to the innermost alias")
  }

  test("ORDER BY / LIMIT / DISTINCT pass through (§2.5)") {
    val p = parser.parse(
      "insert into table dst select distinct x from src order by x limit 10")
    assert(p.getColLines.map(_.toNameParse) == List("x"))
    assert(p.getColLines.head.fromName == "default.src.x")
  }

  test("INSERT OVERWRITE DIRECTORY uses the TMP sentinel (S4)") {
    val p = parser.parse(
      "insert overwrite directory '/tmp/out' select x, y from src where x > 1")
    assert(p.getOutputTables.isEmpty, "a directory is not an output table")
    assert(p.getInputTables == Set("default.src"))
    assert(p.getColLines.map(_.toTable).toSet == Set(LineParser.TmpFile))
    assert(p.getColLines.map(_.toNameParse) == List("x", "y"))
    assert(p.getColLines.head.conditionSet.contains("WHERE:default.src.x > 1"))
  }

  test("map access in WHERE renders as subscript (F5)") {
    val p = parser.parse(
      "insert into table dst select x from src where params['k'] = 'v'")
    assert(p.getColLines.head.conditionSet
      .contains("WHERE:default.src.params['k'] = 'v'"))
  }

  test("WITH CTE provenance chases through to base tables (extension)") {
    val p = parser.parse(
      "with base as (select col1, col2 from db1.ta where col3 = 1) " +
        "insert overwrite table db2.out " +
        "select b.col1, concat(b.col2, 'x') as c2 from base b")
    assert(p.getInputTables == Set("db1.ta"), "CTE is not an input table")
    assert(p.getOutputTables == Set("db2.out"))
    val byName = p.getColLines.map(c => c.toNameParse -> c).toMap
    assert(byName("col1").fromName == "db1.ta.col1")
    assert(byName("c2").fromName == "db1.ta.col2")
    assert(byName("col1").conditionSet.contains("WHERE:db1.ta.col3 = 1"))
  }

  test("CTE referenced twice resolves both references (extension)") {
    val p = parser.parse(
      "with r as (select k, v from db1.src) " +
        "insert into table dst " +
        "select a.k, b.v from r a join r b on a.k = b.k")
    assert(p.getInputTables == Set("db1.src"))
    val byName = p.getColLines.map(c => c.toNameParse -> c).toMap
    assert(byName("k").fromName == "db1.src.k")
    assert(byName("v").fromName == "db1.src.v")
  }

  test("CTE with a column-alias list parses and resolves (extension)") {
    // regression: WITH t(a, b) wraps the body in
    // UnresolvedSubqueryColumnAliases; unhandled it crashed the walk
    // with mutual walkQuery/walkFrom recursion. Attribution follows
    // the reference's subquery-alias semantics (README.md:589-611):
    // outer name at the resolved inner table.
    val p = parser.parse(
      "with t(a, b) as (select x, y from base) " +
        "insert into table dst select a, b from t")
    assert(p.getInputTables == Set("default.base"))
    val byName = p.getColLines.map(c => c.toNameParse -> c).toMap
    assert(byName("a").fromName == "default.base.a")
    assert(byName("b").fromName == "default.base.b")
  }

  test("INSERT VALUES records the destination without crashing") {
    // inline tables have no column provenance; the walker must treat
    // the unknown FROM node (UnresolvedInlineTable) as empty scope
    val p = parser.parse("insert into table dst values (1, 'a'), (2, 'b')")
    assert(p.getOutputTables == Set("default.dst"))
    assert(p.getInputTables.isEmpty)
  }

  test("chained CTEs thread provenance (extension)") {
    val p = parser.parse(
      "with a as (select x from t1), b as (select x from a where x > 0) " +
        "insert into table dst select x from b")
    assert(p.getInputTables == Set("default.t1"))
    assert(p.getColLines.head.fromName == "default.t1.x")
    assert(p.getColLines.head.conditionSet
      .contains("WHERE:default.t1.x > 0"))
  }

  test("UNION (distinct) and trailing ORDER BY still merge positionally") {
    // Distinct/Sort wrappers above the Union must not defeat the
    // positional branch merge (U1)
    val p = parser.parse(
      "insert into table dst select a from t1 union select b from t2")
    assert(p.getColLines.size == 1, p.getColLines.mkString("; "))
    assert(p.getColLines.head.fromName == "default.t1.a,default.t2.b")

    val p2 = parser.parse(
      "insert into table dst select a from t1 union all select b from t2 order by 1")
    assert(p2.getColLines.size == 1)
    assert(p2.getColLines.head.fromName == "default.t1.a,default.t2.b")
  }

  test("mixed-case subquery alias resolves through the scope") {
    // provenance keeps the reference's table-part + OUTER-name
    // convention (getSubQueryTable, README.md:589-611): the matched
    // subquery column contributes its source TABLE, the outer
    // reference contributes the name. The point here is the case fix:
    // `Foo` must match the scope (db.t), not fall through to an
    // unresolved qualifier.
    val p = parser.parse(
      "insert into table dst select s.Foo from (select a as Foo from db.t) s")
    assert(p.getColLines.head.fromName == "db.t.foo")
  }

  test("USE with a multipart namespace keeps the database part") {
    val p = parser.parse("use cat.db2; insert into table dst select x from t")
    assert(p.getInputTables == Set("db2.t"))
  }

  test("IN/EXISTS subqueries register their source tables (Q3 extension)") {
    val p = parser.parse(
      "insert into table dst select x from t1 where k in (select k from t2)")
    assert(p.getInputTables == Set("default.t1", "default.t2"))
    val cond = p.getColLines.head.conditionSet.find(_.startsWith("WHERE:"))
    assert(cond.exists(_.contains("in (select k from t2")),
      s"subquery text mangled: $cond")
  }

  test("a statement that overflows the stack is recorded, later ones still parse") {
    // Catalyst's parser recurses at every nesting level; this depth
    // overflows a default 1 MB thread stack many times over
    val depth = 20000
    val deep = "SELECT " + "(" * depth + "1" + ")" * depth
    // the walk must not hang on the failed statement: interrupt it
    implicit val signaler: Signaler = ThreadSignaler
    failAfter(60.seconds) {
      val p =
        try parser.parse(s"USE a; $deep; SELECT 1")
        catch { case e: StackOverflowError => fail("the overflow escaped parse", e) }
      assert(p.getErrors.map(_._1) == List(deep))
      assert(p.getErrors.head._2.startsWith("StackOverflowError"), p.getErrors.head._2)
      assert(p.getColLines.map(c => (c.toTable, c.toNameParse)) ==
        List((LineParser.TmpFile, "1")), p.getColLines.mkString("; "))
    }
  }

  test("the caller's SQLConf governs the parse of every statement") {
    // with double-quoted identifiers "a" is a column, else a literal
    val script = "use d; insert overwrite table o select \"a\" from t; " +
      "insert overwrite table o2 select \"b\" from t"
    val quoted = new SQLConf
    quoted.setConfString("spark.sql.ansi.enabled", "true")
    quoted.setConfString("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    def lines(p: LineParser) =
      p.getColLines.map(c => (c.toTable, c.fromName, c.conditionSet))
    val p = parser
    for (_ <- 1 to 50) {
      assert(lines(SQLConf.withExistingConf(quoted)(p.parse(script))) == List(
        ("d.o", "d.t.a", Set.empty[String]), ("d.o2", "d.t.b", Set.empty[String])))
      assert(lines(p.parse(script)) == List(
        ("d.o", "", Set("COLFUN:\"a\"")), ("d.o2", "", Set("COLFUN:\"b\""))))
    }
  }

  test("errors and USE carry-over follow script order") {
    // unparsable statements at indices 2, 5 and 9; USE b at index 6
    val stmts = Seq(
      "use a", "insert into table d1 select x from s1", "not sql 2",
      "insert into table d3 select x from s3",
      "insert into table d4 select x from s4", "not sql 5", "use b",
      "insert into table d7 select x from s7",
      "insert into table d8 select x from s8", "not sql 9",
      "insert into table d10 select x from s10",
      "insert into table d11 select x from s11")
    val outs = Seq("a.d1", "a.d3", "a.d4", "b.d7", "b.d8", "b.d10", "b.d11")
    val p = parser
    for (_ <- 1 to 50) {
      p.parse(stmts.mkString(";"))
      assert(p.getErrors.map(_._1) == List("not sql 2", "not sql 5", "not sql 9"))
      assert(p.getColLines.map(_.toTable) == outs)
      assert(p.getColLines.map(_.fromName) == outs.map(_.replace(".d", ".s") + ".x"))
      assert(p.getOutputTables == outs.toSet)
    }
  }
}
