package graft.lineage

import java.util.concurrent.ForkJoinPool
import java.util.concurrent.atomic.{AtomicInteger, AtomicReferenceArray}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedExtractValue, UnresolvedFunction, UnresolvedHaving, UnresolvedRelation, UnresolvedStar, UnresolvedSubqueryColumnAliases}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.internal.SQLConf

/** Hive-script column-level lineage analyzer, Spark-native.
  *
  * Re-implements the capability of the reference `LineParser`
  * (/root/reference/README.md:58-844) — given a `;`-separated HQL/SQL
  * script, compute input tables, output tables, and per-output-column
  * lineage with tagged processing conditions — but over Catalyst's
  * *unresolved* `LogicalPlan` instead of a hand-walked Hive ANTLR AST.
  * Catalyst's parse tree is already scoped (`SubqueryAlias`, `Join`,
  * `Union` nodes), so the reference's five explicit stacks
  * (README.md:108-129) collapse into one recursive fold; alias
  * resolution happens against a small lexical [[Env]] instead of
  * global mutable maps.
  *
  * Output strings are golden-compatible with the reference test suite
  * (README.md:851-1218): same qualification (`db.table.col`), same
  * tagged-condition grammar (`WHERE:`/`JOIN:`/`FULLOUTERJOIN:`/
  * `COLFUN:`), same `&`/`,` provenance joining, same positional UNION
  * merge (README.md:396-415), including the reference's
  * Java-HashSet-ordered CASE WHEN source extraction (README.md:362-383)
  * — we run on the same JVM, so using `java.util.HashSet` reproduces
  * the exact golden ordering.
  */
class LineParser(meta: MetaStore = EmptyMetaStore) {

  import LineParser._

  private var currentDb = "default"
  private val inputTables = mutable.LinkedHashSet.empty[String]
  private val outputTables = mutable.LinkedHashSet.empty[String]
  private val colLines = mutable.ArrayBuffer.empty[ColLine]
  private val errors = mutable.ArrayBuffer.empty[(String, String)]
  // per-statement tagged conditions (reference: `conditions`, README.md:119)
  private var conditions = mutable.LinkedHashSet.empty[String]
  // per-statement CTE name → its walked scope (WITH is a post-2015
  // extension beyond the reference; provenance chases through CTE
  // bodies like FROM-subqueries, README.md:589-611 analog)
  private val cteScopes = mutable.Map.empty[String, Scope]

  def getColLines: List[ColLine] = colLines.toList
  def getInputTables: Set[String] = inputTables.toSet
  def getOutputTables: Set[String] = outputTables.toSet
  /** Statements this parse call could not analyze, as
    * (statement, error) pairs — see [[parse]]'s degradation contract. */
  def getErrors: List[(String, String)] = errors.toList

  /** Parse a whole script (statements split on non-escaped `;`,
    * README.md:744-746). State resets per call; `USE db` carries
    * across statements within the call.
    *
    * Statements are parsed concurrently (see `LineParser.ParseAhead`) and
    * walked one at a time in script order on the calling thread, so
    * lineage, `USE` carry-over and the order of [[getErrors]] are those
    * of a sequential parse. The caller's `SQLConf` governs the parse of
    * every statement. One instance serves one `parse` call at a time.
    *
    * Degradation contract (the reference threw mid-script on any
    * unexpected statement shape, README.md:550, losing the lineage of
    * every later statement): a statement that fails to parse or walk,
    * stack overflow included, is recorded in [[getErrors]] and
    * skipped; the remaining statements still contribute lineage.
    * LineageCorpusSpec fuzzes this over the engine's full oracle-SQL
    * corpus. */
  def parse(sqlAll: String, validate: Boolean = false): LineParser = {
    currentDb = "default"
    inputTables.clear(); outputTables.clear(); colLines.clear()
    errors.clear()
    val stmts = sqlAll.split("(?<!\\\\);").map(_.trim).filter(_.nonEmpty)
    val parsed = new ParseAhead(stmts)
    stmts.indices.foreach { i =>
      conditions = mutable.LinkedHashSet.empty[String]
      cteScopes.clear()
      try dispatch(parsed(i))
      catch {
        case e @ (scala.util.control.NonFatal(_) | _: StackOverflowError) =>
          errors += ((stmts(i), s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    if (validate) runValidate()
    this
  }

  // -- statement dispatch -------------------------------------------

  private def dispatch(plan: LogicalPlan): Unit =
    plan match {
      case w: UnresolvedWith =>
        // WITH before INSERT/SELECT (post-reference extension):
        // register each CTE's walked scope in order — later CTEs may
        // reference earlier ones — then dispatch the body.
        w.cteRelations.foreach { case (name, sa, _) =>
          cteScopes(name.toLowerCase) = walkQuery(sa.child)
        }
        dispatch(w.child)
      case SetCatalogAndNamespace(child) =>
        // USE db (README.md:637-640): mutate the db used by fillDB.
        // Read the namespace parts structurally (the last part is the
        // database for a `USE cat.db`) — never via argString, whose
        // debug formatting truncates multipart names and may change
        // between Spark versions.
        child.collectFirst {
          case ns: org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace =>
            ns.multipartIdentifier
        }.foreach { parts =>
          if (parts.nonEmpty) currentDb = parts.last.toLowerCase
        }
      case i: InsertIntoStatement =>
        val dest = fillDB(relationParts(i.table))
        outputTables += dest
        finishStatement(i.query, dest)
      case u @ Union(children, _, _)
          if children.forall(_.isInstanceOf[InsertIntoStatement]) =>
        // Hive multi-insert with several INSERT branches (S13). NOTE:
        // `conditions` deliberately accumulates ACROSS branches — the
        // reference keeps one per-statement condition set that is
        // never cleared per TOK_INSERT (README.md:108-129; the stacks
        // at :660-675 do not include `conditions`), so later branches'
        // ColLines carry earlier branches' tags. Golden sql25 pins
        // this behavior.
        children.foreach { case i: InsertIntoStatement =>
          val dest = fillDB(relationParts(i.table))
          outputTables += dest
          finishStatement(i.query, dest)
        }
      case c: CreateTableAsSelect =>
        val dest = fillDB(c.name.collectFirst {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
            u.nameParts
        }.getOrElse(Nil))
        outputTables += dest
        finishStatement(c.query, dest)
      case d: InsertIntoDir =>
        // INSERT OVERWRITE [LOCAL] DIRECTORY: the reference records the
        // same TOK_TMP_FILE sentinel as a bare SELECT (README.md:222-225).
        finishStatement(d.child, TmpFile)
      case q if isQueryShape(q) =>
        // bare SELECT → TOK_TMP_FILE sentinel dest (README.md:222-225);
        // not recorded as an output table.
        finishStatement(q, TmpFile)
      case _ =>
        // DDL and friends (DROP/TRUNCATE/LOAD/ALTER): table-level ops
        // with no column lineage; inputs/outputs not recorded by the
        // reference either (oper flag only, README.md:676-693).
        ()
    }

  private def isQueryShape(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Aggregate | _: Union | _: Distinct | _: Sort |
        _: GlobalLimit | _: LocalLimit | _: Filter | _: SubqueryAlias |
        _: SetOperation | _: UnresolvedHaving | _: WithWindowDefinition => true
    case _ => false
  }

  private def relationParts(p: LogicalPlan): Seq[String] = p match {
    case r: UnresolvedRelation => r.multipartIdentifier
    case SubqueryAlias(_, child) => relationParts(child)
    case other => other.collectFirst {
      case r: UnresolvedRelation => r.multipartIdentifier
    }.getOrElse(Nil)
  }

  /** Walk one statement's query, apply the top-level UNION positional
    * merge (README.md:396-415), emit ColLines. */
  private def finishStatement(query: LogicalPlan, dest: String): Unit = {
    val branches = flattenUnion(query)
    val cols =
      if (branches.size <= 1) walkQuery(query).cols
      else mergeUnionCols(branches.map(b => walkQuery(b).cols))
    val destCols: Seq[String] = {
      val parts = dest.split("\\.")
      if (parts.length == 2) meta.columns(parts(0), parts(1)) else Nil
    }
    cols.zipWithIndex.foreach { case (c, i) =>
      val toName =
        if (i < destCols.size && dest != TmpFile) Some(s"$dest.${destCols(i)}")
        else None
      colLines += ColLine(dest, toName, c.name, c.from.mkString(","),
        (c.funs ++ conditions).toSet)
    }
  }

  /** Positional merge of top-level UNION branches: output col i merges
    * branch cols i, i+colNum, …; literal output names are replaced by
    * a real name from a sibling branch (README.md:396-415). */
  private def mergeUnionCols(branchCols: Seq[Seq[Col]]): Seq[Col] = {
    val all = branchCols.flatten
    val n = branchCols.size
    val colNum = all.size / n
    (0 until colNum).map { i =>
      var name = all(i).name
      val from = mutable.ArrayBuffer(all(i).from: _*)
      val funs = mutable.LinkedHashSet(all(i).funs: _*)
      var j = i + colNum
      while (j < all.size) {
        val c2 = all(j)
        if (notNormalCol(name) && !notNormalCol(c2.name)) name = c2.name
        from ++= c2.from
        funs ++= c2.funs
        j += colNum
      }
      Col(name, from.toSeq, funs.toSeq)
    }
  }

  /** Strips the wrappers Catalyst puts above a top-level set operation
    * — `Distinct` for UNION (vs UNION ALL), `Sort`/limits for trailing
    * ORDER BY/LIMIT — so the positional merge still sees the branches.
    * A non-union query under the same wrappers yields one branch and
    * takes the ordinary single-query path. */
  private def flattenUnion(p: LogicalPlan): Seq[LogicalPlan] = p match {
    case Union(children, _, _) => children.flatMap(flattenUnion)
    case Distinct(child) => flattenUnion(child)
    case Sort(_, _, child, _) => flattenUnion(child)
    case GlobalLimit(_, child) => flattenUnion(child)
    case LocalLimit(_, child) => flattenUnion(child)
    case other => Seq(other)
  }

  // -- query / FROM walking -----------------------------------------

  /** Scope of one SELECT: the `&`-ordered source tables and the
    * projected columns. */
  private case class Scope(tables: Seq[String], cols: Seq[Col])

  private sealed trait Ref
  private case class TableRef(filled: String, raw: String) extends Ref
  private case class ScopeRef(scope: Scope) extends Ref

  /** Lexical environment of a FROM clause: alias → table/subquery. */
  private case class Env(entries: Seq[(Option[String], Ref)]) {
    def tablesInOrder: Seq[String] = entries.flatMap {
      case (_, TableRef(f, _)) => Seq(f)
      case (_, ScopeRef(s)) => s.tables
    }
    def scopes: Seq[Scope] = entries.collect { case (_, ScopeRef(s)) => s }
    def byAlias(a: String): Option[Ref] =
      entries.collectFirst { case (Some(n), r) if n == a => r }
    def byRawTable(t: String): Option[Ref] =
      entries.collectFirst { case (_, r @ TableRef(_, raw)) if raw == t => r }
  }

  private def walkQuery(plan: LogicalPlan): Scope = plan match {
    case Project(list, child) =>
      val env = walkFrom(child)
      Scope(env.tablesInOrder, list.flatMap(extractCol(_, env)))
    case Aggregate(_, list, child, _) =>
      // GROUP BY keys are deliberately NOT recorded (README.md golden
      // sql25 has no GROUP tag, :1147-1150).
      val env = walkFrom(child)
      Scope(env.tablesInOrder, list.flatMap(extractCol(_, env)))
    case Union(children, _, _) =>
      // FROM-subquery union: branch cols concatenate (provenance is
      // resolved per-name later via `&`), no positional merge here.
      val scopes = children.map(walkQuery(_))
      Scope(scopes.flatMap(_.tables), scopes.flatMap(_.cols))
    case s: SetOperation =>
      // INTERSECT / EXCEPT (post-reference extension, U3): output
      // columns take the left branch's names positionally (SQL set-op
      // semantics) while provenance unions both branches — the right
      // side decides membership, so it IS lineage, exactly like a
      // UNION branch. mergeUnionCols already implements the positional
      // name-preference + provenance concat.
      val scopes = Seq(walkQuery(s.left), walkQuery(s.right))
      Scope(scopes.flatMap(_.tables), mergeUnionCols(scopes.map(_.cols)))
    case Distinct(child) => walkQuery(child)
    case Sort(_, _, child, _) => walkQuery(child)
    case GlobalLimit(_, child) => walkQuery(child)
    case LocalLimit(_, child) => walkQuery(child)
    case SubqueryAlias(_, child) => walkQuery(child)
    case u: UnresolvedSubqueryColumnAliases =>
      // WITH t(a, b) AS (...) / FROM (...) t(a, b): positional rename
      // of the underlying scope's output columns
      val inner = walkQuery(u.child)
      Scope(inner.tables, inner.cols.zipWithIndex.map { case (c, i) =>
        if (i < u.outputColumnNames.size)
          c.copy(name = u.outputColumnNames(i).toLowerCase)
        else c
      })
    case w: UnresolvedWith =>
      // nested WITH: register, walk the body, restore shadowed names
      val saved = w.cteRelations.map { case (name, _, _) =>
        val n = name.toLowerCase; n -> cteScopes.get(n)
      }
      w.cteRelations.foreach { case (name, sa, _) =>
        cteScopes(name.toLowerCase) = walkQuery(sa.child)
      }
      val out = walkQuery(w.child)
      saved.foreach {
        case (n, Some(s)) => cteScopes(n) = s
        case (n, None) => cteScopes.remove(n)
      }
      out
    case _: Filter | _: UnresolvedHaving =>
      // WHERE/HAVING-style filter above a query block (HAVING above an
      // aggregate parses as its own node; q35's lineage was silently
      // empty while it fell to the cols-less fallback below): record
      // its one condition as WHERE, pass the block's columns through.
      val scope = walkQuery(plan.children.head)
      conditions += "WHERE:" + render(plan.expressions.head,
        Env(Seq((None, ScopeRef(scope)))))
      scope
    case WithWindowDefinition(_, child, _) =>
      // WINDOW w AS (...) clause: a name→spec map with no lineage of
      // its own; output columns come from the child projection whose
      // window expressions reference the named spec. (Same corpus
      // finding: q42/q50/q54 had empty column lineage.)
      walkQuery(child)
    case other =>
      val env = walkFrom(other)
      Scope(env.tablesInOrder, Nil)
  }

  /** Walk a FROM tree: register input tables, aliases, and JOIN/WHERE
    * conditions; return the lexical environment. */
  private def walkFrom(plan: LogicalPlan): Env = plan match {
    // a single-part relation name matching a CTE resolves to the CTE's
    // scope, never to a catalog table (SQL scoping; CTEs shadow tables)
    case r: UnresolvedRelation if cteRef(r).isDefined =>
      val n = r.multipartIdentifier.head.toLowerCase
      Env(Seq((Some(n), ScopeRef(cteRef(r).get))))
    case SubqueryAlias(id, r: UnresolvedRelation) if cteRef(r).isDefined =>
      Env(Seq((Some(id.name.toLowerCase), ScopeRef(cteRef(r).get))))
    case r: UnresolvedRelation =>
      val filled = fillDB(r.multipartIdentifier)
      inputTables += filled
      Env(Seq((None, TableRef(filled, r.multipartIdentifier.last.toLowerCase))))
    case SubqueryAlias(id, r: UnresolvedRelation) =>
      val filled = fillDB(r.multipartIdentifier)
      inputTables += filled
      Env(Seq((Some(id.name.toLowerCase),
        TableRef(filled, r.multipartIdentifier.last.toLowerCase))))
    case SubqueryAlias(id, child) =>
      Env(Seq((Some(id.name.toLowerCase), ScopeRef(walkQuery(child)))))
    // `FROM t, LATERAL (subquery) x` holds its subquery as a
    // LateralSubquery EXPRESSION, not a plan child, so the generic
    // children-fallback would walk the left side only and silently
    // drop the subquery's input tables (corpus cross-check, q45).
    case _: Join | _: LateralJoin =>
      val (left, right, joinType, cond) = plan match {
        case Join(l, r, t, c, _) => (l, r, t, c)
        case LateralJoin(l, r, t, c) => (l, r.plan, t, c)
      }
      val env = Env(walkFrom(left).entries ++ walkFrom(right).entries)
      cond.foreach(c => conditions += joinTag(joinType) + ":" + render(c, env))
      env
    case Filter(cond, child) =>
      val env = walkFrom(child)
      conditions += "WHERE:" + render(cond, env)
      env
    case other if isQueryShape(other) || other.isInstanceOf[UnresolvedWith] ||
        other.isInstanceOf[UnresolvedSubqueryColumnAliases] =>
      Env(Seq((None, ScopeRef(walkQuery(other)))))
    case other =>
      // unknown FROM node (VALUES, table-valued function, …): don't
      // bounce back to walkQuery — its own default calls walkFrom,
      // and an unmatched node would mutually recurse forever.
      other.children match {
        case Seq(only) => walkFrom(only)
        case _ => Env(Nil)
      }
  }

  /** The CTE scope a relation reference resolves to, if any (only
    * unqualified single-part names can name a CTE). */
  private def cteRef(r: UnresolvedRelation): Option[Scope] =
    if (r.multipartIdentifier.size == 1)
      cteScopes.get(r.multipartIdentifier.head.toLowerCase)
    else None

  private def joinTag(t: JoinType): String = t match {
    case Inner => "JOIN"
    case FullOuter => "FULLOUTERJOIN"
    case LeftOuter => "LEFTOUTERJOIN"
    case RightOuter => "RIGHTOUTERJOIN"
    case LeftSemi => "LEFTSEMIJOIN"
    case LeftAnti => "LEFTANTIJOIN"
    case Cross => "CROSSJOIN"
    case other => other.toString.toUpperCase + "JOIN"
  }

  // -- select-expression extraction ---------------------------------

  private case class Col(name: String, from: Seq[String], funs: Seq[String])

  private def extractCol(ne: Expression, env: Env): Seq[Col] = {
    ne match {
      case UnresolvedStar(target) =>
        // SELECT * / alias.*: expand via the metadata store
        // (README.md:228-245), one Col per physical column.
        val refs: Seq[Ref] = target match {
          case Some(parts) =>
            env.byAlias(parts.last.toLowerCase).orElse(
              env.byRawTable(parts.last.toLowerCase)).toSeq
          case None => env.entries.map(_._2)
        }
        refs.flatMap {
          case TableRef(filled, _) =>
            val Array(db, table) = filled.split("\\.", 2)
            meta.columns(db, table).map(c =>
              Col(c, Seq(s"$filled.$c"), Nil))
          case ScopeRef(s) => s.cols
        }
      case _ =>
        val (expr, aliasName) = ne match {
          // lowercased like every other identifier path (the reference
          // lower-cases all identifiers, README.md:512-515; subquery
          // column lookups compare lowercased names)
          case Alias(child, name) => (child, Some(name.toLowerCase))
          case UnresolvedAlias(child, _) => (child, None)
          case other => (other, None)
        }
        val name = aliasName.getOrElse(expr match {
          case a: UnresolvedAttribute => a.nameParts.last.toLowerCase
          case l: Literal => literalText(l)
          case _ => ""
        })
        val atoms = sources(expr, env)
        val from = atoms.filterNot(notNormalCol)
        val rendered = render(expr, env)
        val joined = from.mkString(",")
        val funs =
          if (rendered.nonEmpty && rendered != joined) Seq("COLFUN:" + rendered)
          else Nil
        Seq(Col(name, from, funs))
    }
  }

  /** Ordered source atoms of an expression — qualified columns plus
    * literal texts (filtered later), replicating `getColOrData`'s
    * comma-joined walk (README.md:461-499). For CASE WHEN, branch
    * *result* strings pass through a `java.util.HashSet` exactly like
    * `getWhenColumn` (README.md:362-383) — this reproduces the golden
    * orderings, dedup included. */
  private def sources(e: Expression, env: Env): Seq[String] =
    e match {
      case a: UnresolvedAttribute => Seq(resolveAttr(a.nameParts, env))
      case l: Literal => Seq(literalText(l))
      case CaseWhen(branches, elseValue) =>
        val hs = new java.util.HashSet[String]()
        (branches.map(_._2) ++ elseValue.toSeq).foreach { v =>
          hs.add(sources(v, env).mkString(","))
        }
        val out = mutable.ArrayBuffer.empty[String]
        val it = hs.iterator()
        while (it.hasNext) out ++= it.next().split(",").filter(_.nonEmpty)
        out.toSeq
      case UnresolvedExtractValue(child, _) => sources(child, env)
      case f: UnresolvedFunction =>
        f.arguments.flatMap(sources(_, env))
      case sub: SubqueryExpression =>
        // IN (SELECT …) / EXISTS / scalar subqueries (beyond the
        // reference, which only handles FROM-clause subqueries —
        // SURVEY §2.8 Q3): walk the subquery plan so its relations
        // reach inputTables; the subquery yields no source column for
        // the enclosing expression itself.
        walkQuery(sub.plan)
        Nil
      case other => other.children.flatMap(sources(_, env))
    }

  // -- rendering (the reference's getCondition, README.md:306-333) ---

  private def render(e: Expression, env: Env): String = e match {
    case And(l, r) =>
      s"(${render(l, env)} and ${render(r, env)})"
    case Or(l, r) =>
      s"(${render(l, env)} or ${render(r, env)})"
    case Not(EqualTo(l, r)) => binop("<>", l, r, env)
    case EqualTo(l, r) => binop("=", l, r, env)
    case LessThan(l, r) => binop("<", l, r, env)
    case LessThanOrEqual(l, r) => binop("<=", l, r, env)
    case GreaterThan(l, r) => binop(">", l, r, env)
    case GreaterThanOrEqual(l, r) => binop(">=", l, r, env)
    case l: Like => binop("like", l.left, l.right, env)
    case Add(l, r, _) => binop("+", l, r, env)
    case Subtract(l, r, _) => binop("-", l, r, env)
    case Multiply(l, r, _) => binop("*", l, r, env)
    case Divide(l, r, _) => binop("/", l, r, env)
    case Remainder(l, r, _) => binop("%", l, r, env)
    case BitwiseAnd(l, r) => binop("&", l, r, env)
    case BitwiseOr(l, r) => binop("|", l, r, env)
    case BitwiseXor(l, r) => binop("^", l, r, env)
    case In(v, list) =>
      render(v, env) + " in (" +
        list.map(render(_, env)).mkString(",") + ")"
    case IsNull(c) => render(c, env) + " isnull"
    case IsNotNull(c) => render(c, env) + " isnotnull"
    case CaseWhen(branches, elseValue) =>
      val sb = new StringBuilder("case")
      branches.foreach { case (c, v) =>
        sb.append(" when ").append(render(c, env))
          .append(" then ").append(render(v, env))
      }
      elseValue.foreach(v => sb.append(" else ").append(render(v, env)))
      sb.append(" end").toString
    case f: UnresolvedFunction =>
      val name = f.nameParts.last
      val args = f.arguments.map(render(_, env)).mkString(",")
      if (f.isDistinct) s"$name(distinct ($args))" else s"$name($args)"
    case UnresolvedExtractValue(child, key) =>
      s"${render(child, env)}[${render(key, env)}]"
    case a: UnresolvedAttribute => resolveAttr(a.nameParts, env)
    case l: Literal => literalText(l)
    case ins: InSubquery =>
      walkQuery(ins.query.plan) // register the subquery's inputs
      ins.values.map(render(_, env)).mkString(",") +
        " in (" + originText(ins.query).getOrElse("subquery") + ")"
    case sub: SubqueryExpression =>
      walkQuery(sub.plan)
      originText(sub).getOrElse("subquery")
    case Cast(child, dt, _, _) =>
      s"cast(${render(child, env)} as ${dt.sql.toLowerCase})"
    case Not(c) => "not " + render(c, env)
    case UnaryMinus(c, _) => "-" + render(c, env)
    case _: UnresolvedStar => "*"
    case other =>
      other.children.map(render(_, env)).mkString(",")
  }

  private def binop(op: String, l: Expression, r: Expression, env: Env): String =
    s"${render(l, env)} $op ${render(r, env)}"

  /** Source text of any expression via parser origin offsets, if the
    * parser recorded a usable span. */
  private def originText(e: Expression): Option[String] =
    (e.origin.sqlText, e.origin.startIndex, e.origin.stopIndex) match {
      case (Some(text), Some(a), Some(b)) if b >= a && b < text.length =>
        Some(text.substring(a, b + 1))
      case _ => None
    }

  /** Exact source text of a literal via parser origin offsets — this
    * is what preserves quote style (`'x'` vs `"x"`) and number
    * formatting for golden parity. */
  private def literalText(l: Literal): String =
    originText(l).getOrElse(l.value match {
      case null => "null"
      case s: org.apache.spark.unsafe.types.UTF8String => s"'$s'"
      case s: String => s"'$s'"
      case v => v.toString
    })

  // -- attribute resolution (getRealTable/getSubQueryTable,
  //    README.md:531-611) ------------------------------------------

  private def resolveAttr(parts0: Seq[String], env: Env): String = {
    val parts = parts0.map(_.toLowerCase)
    parts match {
      case Seq(col) =>
        val matched = env.scopes.flatMap(matchSubqueryCol(_, col))
        if (matched.nonEmpty) matched.mkString("&") + "." + col
        else {
          val tables = env.tablesInOrder
          if (tables.nonEmpty) tables.mkString("&") + "." + col
          else fillDB(Seq(col)) // unresolvable; qualify with current db
        }
      case Seq(q, col) =>
        env.byAlias(q) match {
          case Some(TableRef(filled, _)) => s"$filled.$col"
          case Some(ScopeRef(s)) =>
            val matched = matchSubqueryCol(s, col)
            if (matched.nonEmpty) matched.mkString("&") + "." + col
            else s.tables.mkString("&") + "." + col
          case None =>
            env.byRawTable(q) match {
              case Some(TableRef(filled, _)) => s"$filled.$col"
              case _ => fillDB(Seq(q)) + "." + col
            }
        }
      case _ =>
        fillDB(parts.dropRight(1)) + "." + parts.last
    }
  }

  /** Table parts of subquery cols whose output name is `col` — the
    * `fromName.substring(0, lastIndexOf('.'))` walk of
    * `getSubQueryTable` (README.md:589-611), producing the `&`-joined
    * multi-provenance form for union branches. */
  private def matchSubqueryCol(s: Scope, col: String): Seq[String] =
    s.cols.filter(c => c.name == col && c.from.nonEmpty).map { c =>
      val joined = c.from.mkString(",")
      val idx = joined.lastIndexOf('.')
      if (idx > 0) joined.substring(0, idx) else joined
    }

  /** db-qualify a table name with the current database
    * (README.md:819-843). */
  private def fillDB(parts: Seq[String]): String = {
    if (parts.isEmpty) return currentDb
    if (parts.length == 1) s"$currentDb.${parts.head.toLowerCase}"
    else parts.takeRight(2).map(_.toLowerCase).mkString(".")
  }

  // -- validation ----------------------------------------------------

  private def runValidate(): Unit = {
    colLines.foreach { cl =>
      cl.fromName.split(",").filter(_.nonEmpty).foreach { qualified =>
        // multi-provenance "db.t1&db.t2.col" → every table must have col
        val idx = qualified.lastIndexOf('.')
        if (idx > 0) {
          val col = qualified.substring(idx + 1)
          qualified.substring(0, idx).split("&").foreach { tbl =>
            val p = tbl.split("\\.")
            if (p.length == 2) {
              val cols = meta.columns(p(0), p(1))
              if (cols.nonEmpty && !cols.contains(col)) {
                throw new LineageValidationException(
                  s"column $col not found in $tbl")
              }
            }
          }
        }
      }
    }
  }
}

object LineParser {
  /** Destination sentinel for SELECTs with no INSERT target
    * (README.md:222-225). */
  val TmpFile = "TOK_TMP_FILE"

  /** `INSERT OVERWRITE [LOCAL] DIRECTORY '…' … SELECT …` — capture the
    * SELECT; the directory clause itself carries no lineage. */
  private[lineage] val InsertDirRe =
    "(?is)^\\s*insert\\s+overwrite\\s+(?:local\\s+)?directory\\b.*?\\b(select\\b.*)$".r

  /** Parse one statement. INSERT OVERWRITE [LOCAL] DIRECTORY '…'
    * [STORED AS …] SELECT …: Spark's non-Hive parser rejects the
    * statement outright, but the reference analyzed Hive scripts that
    * use it (TOK_TMP_FILE dest, README.md:222-225). Parse first — only
    * when that fails do we strip the directory clause and analyze the
    * SELECT (so a path that happens to contain "select" can't corrupt
    * a statement the parser handles natively, e.g. under a
    * Hive-enabled parser that yields InsertIntoDir). */
  private def parseStatement(stmt: String): LogicalPlan =
    try CatalystSqlParser.parsePlan(stmt)
    catch {
      case e: Exception =>
        stmt match {
          case InsertDirRe(sel) => CatalystSqlParser.parsePlan(sel)
          case _ => throw e
        }
    }

  /** A script's statements parsed ahead of the walk. Up to
    * `min(n - 1, common-pool parallelism)` helper tasks on the JVM
    * common pool claim statements in index order and fill each one's
    * slot with its plan or whatever it threw. [[apply]] is called for
    * 0…n−1 in order and never waits on another thread: while slot i is
    * empty the caller parses the next unclaimed statement itself, and
    * once none is left it parses statement i itself, even if a helper
    * is still at it. So a busy pool, a helper the OS has descheduled,
    * or a call from a pool thread costs the caller at most one parse
    * of a statement, never a wait of unknown length. Parsing needs
    * none of the walk's state; every helper parses under the caller's
    * `SQLConf`. */
  private final class ParseAhead(stmts: Array[String]) {
    private val conf = SQLConf.get
    private val next = new AtomicInteger(0)
    private val slots =
      new AtomicReferenceArray[Either[Throwable, LogicalPlan]](stmts.length)

    /** Fills slot i with statement i's parse unless another thread
      * filled it first. Any Throwable fills it, to be rethrown on the
      * caller. */
    private def fill(i: Int): Unit =
      slots.compareAndSet(i, null,
        try scala.util.Right(parseStatement(stmts(i)))
        catch { case t: Throwable => scala.util.Left(t) })

    /** Parses the next unclaimed statement; false when none is left. */
    private def claim(): Boolean = {
      val i = next.getAndIncrement()
      i < stmts.length && { fill(i); true }
    }

    for (_ <- 0 until math.min(stmts.length - 1, ForkJoinPool.getCommonPoolParallelism))
      ForkJoinPool.commonPool().execute(() => SQLConf.withExistingConf(conf)(while (claim()) ()))

    /** Statement i's plan; rethrows what its parse threw. */
    def apply(i: Int): LogicalPlan = {
      while (slots.get(i) == null && claim()) ()
      if (slots.get(i) == null) fill(i)
      slots.get(i) match {
        case scala.util.Right(parsed) => parsed
        case scala.util.Left(t) => throw t
      }
    }
  }

  /** Literal-ish output names are replaced during UNION merge
    * (README.md:427-435). */
  private[lineage] def notNormalCol(s: String): Boolean =
    s.isEmpty || s.forall(c => c.isDigit || c == '.') ||
      s.startsWith("\"") || s.startsWith("'")
}
