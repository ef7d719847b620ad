package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

import graft.SparkEntry
import graft.lineage.{ColLine, LineParser, MapMetaStore}

/** The lineage workload: seeded HQL scripts through [[LineParser]],
  * with no SparkSession. A closed loop parses the run's scripts one
  * after another; one pass parses each script once. */
object LineageLoad {

  val Databases = Seq("dw", "ods", "app", "default")

  private val baseColumns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Schemas of the base tables in every database, plus the stub
    * tables the reference goldens read. */
  val meta = MapMetaStore(
    (for (db <- Databases; (t, cs) <- baseColumns) yield s"$db.$t" -> cs).toMap ++
      Goldens.meta)

  /** One unit a script is drawn from: an oracle statement as
    * `INSERT OVERWRITE TABLE out_<name> <select>`, or a golden script. */
  final case class Item(id: String, sql: String, statements: Int)

  /** Oracle statements Catalyst parses, each turned into an insert. */
  def corpus(): Seq[Item] =
    SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      val q = sql.trim
      val parses =
        try { CatalystSqlParser.parsePlan(q); true }
        catch { case scala.util.control.NonFatal(_) => false }
      if (parses) Some(Item(name, s"INSERT OVERWRITE TABLE out_$name $q", 1)) else None
    }

  def items(): Seq[Item] =
    corpus() ++ Goldens.all.map(g => Item(g.name, g.sql, split(g.sql).count(!isUse(_))))

  /** A script's statements, split the way [[LineParser.parse]] splits. */
  def split(sql: String): Seq[String] =
    sql.split("(?<!\\\\);").map(_.trim).filter(_.nonEmpty).toSeq

  private def isUse(stmt: String) = stmt.toLowerCase.startsWith("use ")

  final case class Script(sql: String, statements: Int, items: Seq[String])

  /** `n` scripts, each opened with `USE <db>`, with 1 to 20 items:
    * every length occurs equally often, so seeds differ in which items
    * a script holds and in the order of the scripts, not in how many. */
  def scripts(seed: Long, n: Int, pool: Seq[Item]): Seq[Script] = {
    val rnd = new Random(seed)
    rnd.shuffle(Seq.tabulate(n)(i => 1 + i % 20)).map { len =>
      val db = Databases(rnd.nextInt(Databases.size))
      val picked = Seq.fill(len)(pool(rnd.nextInt(pool.size)))
      Script((s"USE $db" +: picked.map(_.sql)).mkString(";\n"),
        picked.map(_.statements).sum, picked.map(_.id))
    }
  }

  /** Output checks: the goldens, and each corpus statement's input
    * tables against a word-boundary scan of its SQL. Returns the ids
    * of the items that failed, with the reason. */
  def check(pool: Seq[Item]): Map[String, String] = {
    val bad = mutable.Map.empty[String, String]
    Goldens.all.foreach { g =>
      Goldens.mismatch(g, new LineParser(meta).parse(g.sql)).foreach(bad(g.name) = _)
    }
    val goldenIds = Goldens.all.map(_.name).toSet
    pool.filterNot(i => goldenIds(i.id)).foreach { item =>
      val db = "dw"
      val p = new LineParser(meta).parse(s"USE $db;${item.sql}")
      val text = item.sql.replaceAll("'[^']*'", "''")
      val expected = baseColumns.keys.filter(t => s"\\b$t\\b".r.findFirstIn(text).isDefined)
        .map(t => s"$db.$t").toSet
      val out = Set(s"$db.out_${item.id}")
      if (p.getErrors.nonEmpty) bad(item.id) = s"errors: ${p.getErrors.map(_._2).mkString("; ")}"
      else if (p.getInputTables != expected)
        bad(item.id) = s"inputs ${p.getInputTables.toSeq.sorted} != ${expected.toSeq.sorted}"
      else if (p.getOutputTables != out)
        bad(item.id) = s"outputs ${p.getOutputTables.toSeq.sorted} != ${out.toSeq.sorted}"
    }
    bad.toMap
  }

  private val threadBean =
    java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadBean.getCurrentThreadAllocatedBytes

  val ScriptsPerPass = 400

  val WarmupPasses = 6

  def run(cfg: Config): RunRecord = {
    val setupSamples = mutable.ArrayBuffer.empty[Double]
    var pool = Seq.empty[Item]
    var batch = Seq.empty[Script]
    val parser = new LineParser(meta)
    // Set-up, made `setups` times; setup_s is the median. Each finds
    // the statements Catalyst parses, draws the scripts and parses them
    // once untimed, which also warms the JIT; the first runs from JVM
    // start.
    for (i <- 0 until cfg.setups) {
      val t0 = if (i == 0) cfg.jvmStartMs.toDouble else System.currentTimeMillis().toDouble
      pool = items()
      batch = scripts(cfg.seed, ScriptsPerPass, pool)
      batch.foreach(s => parser.parse(s.sql))
      setupSamples += (System.currentTimeMillis() - t0) / 1e3
    }
    // Untimed passes until the JIT has compiled the parser's hot paths:
    // without them pass times still fall through the measured window.
    val w0 = System.nanoTime()
    for (_ <- 1 to WarmupPasses) batch.foreach(s => parser.parse(s.sql))
    val warmupSeconds = (System.nanoTime() - w0) / 1e9

    val trace = new Trace(None)
    val run = trace.open("run", 0)
    val wl = trace.open("lineage", run.id)
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Pass]
    var allocB, stmts, collines, errors, gcMs = 0L
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    var p = 0
    // as in SparkLoad: every second pass is traced, starting with the
    // second, and the overhead leaves out the first
    while (elapsed < cfg.seconds || passes.size < (if (cfg.trace) 3 else 1)) {
      val traced = cfg.trace && p % 2 == 1
      val passSpan = if (traced) trace.open(s"pass$p", wl.id) else null
      val gc0 = Trace.gcMillis()
      val t0 = System.nanoTime()
      batch.zipWithIndex.foreach { case (s, i) =>
        val q0 = System.nanoTime()
        val ok =
          if (!traced) parser.parse(s.sql).getErrors.isEmpty
          else {
            val qs = trace.openQuery(s"script$i", passSpan.id)
            val a0 = allocated()
            val r = trace.within("parse", qs.id, qs.id)(parser.parse(s.sql))
            allocB += allocated() - a0
            trace.within("catalyst", qs.id, qs.id) {
              split(s.sql).foreach { st =>
                try CatalystSqlParser.parsePlan(st)
                catch { case scala.util.control.NonFatal(_) => () }
              }
            }
            trace.close(qs)
            stmts += s.statements
            collines += r.getColLines.size
            errors += r.getErrors.size
            r.getErrors.isEmpty
          }
        ops += Op(s"script$i", p, (System.nanoTime() - q0) / 1e6, ok, s.statements)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) { trace.close(passSpan); gcMs += Trace.gcMillis() - gc0 }
      passes += Pass(p, wall, traced)
      p += 1
    }
    val measured = elapsed
    trace.close(wl); trace.close(run)

    val tracedPasses = passes.count(_.traced)
    val layers =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        val div = tracedPasses.toDouble
        val parseS = trace.spans.filter(_.name == "parse").map(_.seconds).sum
        val catS = trace.spans.filter(_.name == "catalyst").map(_.seconds).sum
        def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        Map(
          "lineage.parse_s" -> parseS / div,
          "lineage.catalyst_parse_s" -> catS / div,
          "lineage.walk_s" -> (parseS - catS) / div,
          "lineage.alloc_bytes_per_stmt" -> allocB.toDouble / math.max(1L, stmts),
          "lineage.collines" -> collines / div,
          "lineage.errors" -> errors / div,
          "jvm.gc_s" -> gcMs / 1e3 / div,
          "trace.overhead" -> median(passes.filter(_.traced).map(_.seconds).toSeq) /
            median(passes.filter(p => !p.traced && p.index > 0).map(_.seconds).toSeq))
      }

    val failedItems = check(pool)
    val checked = ops.map { o =>
      val items = batch(o.name.stripPrefix("script").toInt).items
      if (items.exists(failedItems.contains)) o.copy(ok = false) else o
    }
    RunRecord("lineage", setupSamples.toSeq, warmupSeconds, Map.empty, checked.toSeq, passes.toSeq,
      measured, 0.0, layers,
      checks = Json.obj("items" -> pool.size, "failed" -> failedItems),
      spans = if (cfg.trace) Some(trace.toJson) else None, detail = None)
  }
}

/** The reference's seven golden scripts and the lineage each must
  * yield: input tables, output tables, and each column's
  * (name, sources, conditions). */
object Goldens {
  final case class Golden(name: String, sql: String, inputs: Set[String],
      outputs: Set[String], lines: Set[(String, String, Set[String])])

  val meta: Map[String, Seq[String]] = Map(
    "app.hand_qq_passenger" -> Seq("statid", "channel"),
    "app.return_benefit_base_foo" -> Seq("id"))

  def mismatch(g: Golden, p: LineParser): Option[String] = {
    val lines = p.getColLines.map((c: ColLine) => (c.toNameParse, c.fromName, c.conditionSet)).toSet
    if (p.getErrors.nonEmpty) Some(s"errors: ${p.getErrors.map(_._2).mkString("; ")}")
    else if (p.getInputTables != g.inputs) Some(s"inputs ${p.getInputTables}")
    else if (p.getOutputTables != g.outputs) Some(s"outputs ${p.getOutputTables}")
    else if (lines != g.lines) Some(s"column lineage $lines")
    else None
  }

  private val allColumnConds = Set(
    "WHERE:app.hand_qq_passenger.channel > 10",
    "JOIN:app.hand_qq_passenger.statid = app.return_benefit_base_foo.id")
  private val whereConds = Set(
    "WHERE:((default.test.age > 10 and default.test.area in (11,22)) or default.test.name <> '$V_PARYMD')")
  private val joinConds = Set(
    "WHERE:((app.test.age > 10 and app.test1.area in (11,22)) and to_date(app.test1.date) > date_sub('20151001',7))",
    "JOIN:app.test.ip = app.test1.ip")
  private val unionConds = Set(
    "WHERE:app.action_video.date = '2010-06-03'",
    "WHERE:fact.action_comment.date = '2008-06-03'",
    "JOIN:app.users.id = app.action_video&fact.action_comment.uid")
  private val union2Conds = Set("WHERE:default.source_table_3.name = 123")
  private val sql25Conds = Set(
    "JOIN:((fact.orderpayment.orderid > detail.usersequence_client.orderid or fact.orderpayment.a = detail.usersequence_client.b) and fact.orderpayment.aaa = detail.usersequence_client.bbb)",
    "WHERE:(fact.orderpayment.datekey = '20131118' and (dim.user.userid in (111,222) or hash(fact.orderpayment.test) like '%123%'))",
    "WHERE:fact.orderpayment.userid isnotnull",
    "FULLOUTERJOIN:dim.user.userid = fact.orderpayment.userid")

  val all: Seq[Golden] = Seq(
    Golden("golden_all_column",
      "use app;insert into table dest select statid from " +
        "(select * from hand_qq_passenger a join return_benefit_base_foo b on a.statid=b.id where a.channel > 10) base",
      Set("app.hand_qq_passenger", "app.return_benefit_base_foo"), Set("app.dest"),
      Set(("statid", "app.hand_qq_passenger.statid", allColumnConds))),
    Golden("golden_where",
      "INSERT OVERWRITE table app.dest PARTITION (year='2015',month='10',day='$day') " +
        "select ip,name from test where age > 10 and area in (11,22) or name<>'$V_PARYMD'",
      Set("default.test"), Set("app.dest"),
      Set(("ip", "default.test.ip", whereConds), ("name", "default.test.name", whereConds))),
    Golden("golden_join",
      "use app;insert into table dest select nvl(a.name,0) as name, b.ip  " +
        "from test a join test1 b on a.ip=b.ip where a.age > 10 and b.area in (11,22) and to_date(b.date) > date_sub('20151001',7)",
      Set("app.test", "app.test1"), Set("app.dest"),
      Set(("ip", "app.test1.ip", joinConds),
        ("name", "app.test.name", joinConds + "COLFUN:nvl(app.test.name,0)"))),
    Golden("golden_map",
      "use dw;insert into table dest select 1+1 as num, params['cid'] as maptest,arr[0] as arrtest,CONCAT(year,month,day) as date " +
        "from test ",
      Set("dw.test"), Set("dw.dest"),
      Set(("num", "", Set("COLFUN:1 + 1")),
        ("maptest", "dw.test.params", Set("COLFUN:dw.test.params['cid']")),
        ("arrtest", "dw.test.arr", Set("COLFUN:dw.test.arr[0]")),
        ("date", "dw.test.year,dw.test.month,dw.test.day",
          Set("COLFUN:CONCAT(dw.test.year,dw.test.month,dw.test.day)")))),
    Golden("golden_union",
      "use default;use app;SELECT u.id, actions.date FROM ( " +
        "SELECT av.uid AS uid, av.date as date " +
        "FROM action_video av " +
        "WHERE av.date = '2010-06-03' " +
        "UNION ALL " +
        "SELECT ac.uid AS uid,ac.date as date " +
        "FROM fact.action_comment ac " +
        "WHERE ac.date = '2008-06-03' " +
        ") actions JOIN users u ON (u.id = actions.uid)",
      Set("app.users", "app.action_video", "fact.action_comment"), Set.empty,
      Set(("id", "app.users.id", unionConds),
        ("date", "app.action_video&fact.action_comment.date", unionConds))),
    Golden("golden_union2",
      "INSERT OVERWRITE TABLE target_table " +
        "SELECT name, id, \"Category159\"  FROM source_table_1 " +
        "UNION ALL " +
        "SELECT name, id,category FROM source_table_2 " +
        "UNION ALL " +
        "SELECT name, id, \"Category160\"  FROM source_table_3 where name=123",
      Set("default.source_table_1", "default.source_table_2", "default.source_table_3"),
      Set("default.target_table"),
      Set(("name",
        "default.source_table_1.name,default.source_table_2.name,default.source_table_3.name",
        union2Conds),
        ("id",
          "default.source_table_1.id,default.source_table_2.id,default.source_table_3.id",
          union2Conds),
        ("category", "default.source_table_2.category",
          union2Conds ++ Set("COLFUN:\"Category159\"", "COLFUN:\"Category160\"")))),
    Golden("golden_sql25",
      "from(select p.datekey datekey, p.userid userid, c.clienttype " +
        "from detail.usersequence_client c join fact.orderpayment p on (p.orderid > c.orderid or p.a = c.b) and p.aaa=c.bbb " +
        "full outer join dim.user du on du.userid = p.userid where p.datekey = '20131118' and (du.userid in (111,222) or hash(p.test) like '%123%')) base " +
        "insert overwrite table test.customer_kpi select concat(base.datekey,1,2) as aaa, " +
        "case when base.userid > 5 then base.clienttype when base.userid > 1 then base.datekey+5 else 1-base.clienttype end bbbaaa,count(distinct hash(base.userid)) buyer_count " +
        "where base.userid is not null group by base.datekey, base.clienttype",
      Set("detail.usersequence_client", "fact.orderpayment", "dim.user"),
      Set("test.customer_kpi"),
      Set(("aaa", "fact.orderpayment.datekey",
        sql25Conds + "COLFUN:concat(fact.orderpayment.datekey,1,2)"),
        ("bbbaaa",
          "detail.usersequence_client.clienttype,detail.usersequence_client.clienttype,fact.orderpayment.datekey",
          sql25Conds + "COLFUN:case when fact.orderpayment.userid > 5 then detail.usersequence_client.clienttype when fact.orderpayment.userid > 1 then fact.orderpayment.datekey + 5 else 1 - detail.usersequence_client.clienttype end"),
        ("buyer_count", "fact.orderpayment.userid",
          sql25Conds + "COLFUN:count(distinct (hash(fact.orderpayment.userid)))"))))
}
