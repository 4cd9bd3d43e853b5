package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.bgp.{Bgp, C, TriplePattern, V}
import graft.dict.Dictionary
import graft.sparql.Sparql
import graft.store.{GraftStore, StoreHandle}

/** A query shape with seeded constants. `run` calls the program for one
  * constant; `oracle` is Spark SQL over the generated parquet tables that
  * answers every listed constant at once, as rows of (k, answer columns).
  */
final case class Template(name: String, consts: Vector[String],
                          run: (SparkSession, StoreHandle, String) => Tracer => Any,
                          oracle: Seq[String] => String)

object Calls {
  val Prefix = "PREFIX : <>\n"

  /** A SELECT through the encoded front-end, one span per phase. */
  def select(q: String)(spark: SparkSession, st: StoreHandle, c: String)(tr: Tracer): Array[Row] = {
    val text = Prefix + q.replace("$K", c)
    if (tr.enabled) tr.span("sparql.parse")(Sparql.parse(text))
    val df = tr.span("sparql.compile")(Sparql.executeEncoded(spark, st, text))
    tr.span("sparql.plan")(df.queryExecution.executedPlan)
    tr.span("sparql.exec")(df.collect())
  }

  def ask(q: String)(spark: SparkSession, st: StoreHandle, c: String)(tr: Tracer): Boolean =
    tr.span("sparql.ask")(Sparql.ask(spark, st, Prefix + q.replace("$K", c)))

  def evidence(r: Any): Any = r match {
    case rows: Array[Row] => Digest.ofRows(rows)
    case b: Boolean       => Digest.of(Seq(Seq(b)))
  }

  def inList(cs: Seq[String]): String = cs.map(c => s"'${c.replace("'", "''")}'").mkString(", ")

  /** Sum of output rows over the join operators of an executed plan. */
  def joinRows(plan: org.apache.spark.sql.execution.SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case j: BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) + j.children.map(walk).sum
      case other => other.children.map(walk).sum
    }
    walk(plan)
  }
}

/** Read-only workload over the store handle: `clients` closed-loop
  * clients on one session cycle through the selective ([[Lookups]]) and
  * scan-and-join ([[Scans]]) templates, each op taking the next seeded
  * constant of its template. Every op is a select-style read, so no op
  * changes session settings while others run. Answers are checked
  * against each template's Spark SQL oracle.
  */
final class Query(data: Gen.Data, dir: String, seed: Long, override val clients: Int)
    extends Workload {
  final class Ctx(val spark: SparkSession, val store: StoreHandle)
  type State = Ctx
  val templates: Vector[Template] = {
    val rnd = new SplittableRandom(seed * 31 + 1)
    Lookups(data, rnd) ++ Scans(rnd)
  }
  def roundSize: Int = templates.size

  def setup(spark: SparkSession): (Ctx, Seq[(String, Double)]) = {
    val t0 = System.nanoTime()
    val st = GraftStore.forDir(spark, dir)
    (new Ctx(spark, st), Seq("store.ingest" -> (System.nanoTime() - t0) / 1e9))
  }

  /** Client `client`'s `k`-th template and constant. Clients walk the
    * templates from different offsets, so concurrent ops differ.
    */
  def pick(client: Int, k: Long): (Template, String) = {
    val i = k + client * templates.size / clients
    val j = (i % templates.size).toInt
    val t = templates(j)
    (t, t.consts(((i / templates.size + 3L * client + j) % t.consts.size).toInt))
  }

  /** Twice `templates / clients` ops per client, rounded up: with the
    * offsets above, every template is warmed at least twice, concurrently.
    */
  override def warmup: Seq[Long] = 0L until (templates.size + clients - 1) / clients * 2

  def op(st: Ctx, client: Int, k: Long): Op = {
    val (t, c) = pick(client, k)
    new Op(t.name, write = false, s"${t.name}|$c", t.run(st.spark, st.store, c), Calls.evidence)
  }

  def verify(st: Ctx, done: Seq[Done]): Map[Long, String] =
    Oracle.check(st.spark, dir, templates, done)
}

object Oracle {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  def register(spark: SparkSession, dir: String): Unit =
    Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))

  /** Runs `sql` (first column `k`) and digests the other columns per k. */
  def digests(spark: SparkSession, sql: String): Map[String, Digest] =
    spark.sql(sql).collect().groupBy(_.get(0).toString).map { case (k, rows) =>
      k -> Digest.of(rows.map(_.toSeq.drop(1)).toSeq) }

  def line(l: String) = s"concat('lineitem:', $l.l_orderkey, '-', $l.l_linenumber)"

  /** Compares each done op (key `template|constant`) with its template's
    * oracle, one oracle query per template.
    */
  def check(spark: SparkSession, dir: String, templates: Seq[Template],
            done: Seq[Done]): Map[Long, String] = {
    register(spark, dir)
    done.groupBy(_.op.template).flatMap { case (name, ds) =>
      val t = templates.find(_.name == name).get
      val want = digests(spark, t.oracle(ds.map(_.op.key.split('|')(1)).distinct))
      ds.flatMap { d =>
        val exp = want.getOrElse(d.op.key.split('|')(1), Digest.empty)
        val got = d.out.toOption.get
        if (got == exp) None else Some(d.id -> s"${d.op.key}: got $got, want $exp")
      }
    }
  }
}

object Sample {
  /** `n` distinct draws (or all of `from`, if it is smaller). */
  def distinct[T](rnd: SplittableRandom, from: IndexedSeq[T], n: Int): Vector[T] =
    if (from.size <= n) from.toVector
    else {
      val picked = scala.collection.mutable.LinkedHashSet.empty[T]
      while (picked.size < n) picked += from(rnd.nextInt(from.size))
      picked.toVector
    }
}

/** Selective reads: tens of rows each, so time goes to SPARQL compile,
  * driver planning and the per-job floor. Constants are sampled from the
  * data: customers that have orders, and existing orders.
  */
object Lookups {
  def apply(data: Gen.Data, rnd: SplittableRandom): Vector[Template] = {
    val withOrders = data.orderRows.map(_.o_custkey).distinct.sorted.map(_.toString)
    def custs = Sample.distinct(rnd, withOrders, 8)
    val orders = Sample.distinct(rnd, data.orderRows.map(_.o_orderkey.toString), 8)
    Vector(
      Template("star", orders,
        Calls.select("SELECT ?p ?o WHERE { <order:$K> ?p ?o }"),
        cs => s"""SELECT o_orderkey, p, o FROM orders LATERAL VIEW stack(5,
          'a', 'Order', 'custkey', concat('customer:', o_custkey),
          'orderstatus', o_orderstatus, 'orderpriority', o_orderpriority,
          'orderdate', date_format(o_orderdate, 'yyyy-MM-dd')) s AS p, o
          WHERE o_orderkey IN (${Calls.inList(cs)})"""),
      Template("hop1", custs,
        Calls.select("SELECT ?o ?st ?d WHERE { ?o :custkey <customer:$K> . " +
          "?o :orderstatus ?st . ?o :orderdate ?d }"),
        cs => s"""SELECT o_custkey, concat('order:', o_orderkey), o_orderstatus,
          date_format(o_orderdate, 'yyyy-MM-dd') FROM orders
          WHERE o_custkey IN (${Calls.inList(cs)})"""),
      Template("hop2", custs,
        Calls.select("SELECT ?o ?l ?p WHERE { ?o :custkey <customer:$K> . " +
          "?l :orderkey ?o . ?l :partkey ?p }"),
        cs => s"""SELECT o_custkey, concat('order:', o_orderkey), ${Oracle.line("l")},
          concat('part:', l.l_partkey) FROM orders JOIN lineitem l ON l.l_orderkey = o_orderkey
          WHERE o_custkey IN (${Calls.inList(cs)})"""),
      Template("path", custs,
        Calls.select("SELECT ?l ?r WHERE { ?l :orderkey/:custkey <customer:$K> . " +
          "?l :returnflag ?r }"),
        cs => s"""SELECT o_custkey, ${Oracle.line("l")}, l.l_returnflag
          FROM orders JOIN lineitem l ON l.l_orderkey = o_orderkey
          WHERE o_custkey IN (${Calls.inList(cs)})"""),
      Template("ask", custs,
        Calls.ask("ASK { ?o :custkey <customer:$K> . ?o :orderpriority \"1-URGENT\" }"),
        cs => s"""SELECT k, count(o_orderkey) > 0 FROM
          (SELECT explode(array(${Calls.inList(cs)})) AS k) ks
          LEFT JOIN orders ON o_custkey = k AND o_orderpriority = '1-URGENT' GROUP BY k"""))
  }
}

/** Scan-and-join reads: multi-hop BGPs with GROUP BY, OPTIONAL and
  * paths, plus the core API (`Bgp.compile` with explicit dictionary
  * encode/decode). Constants move selectivity from ~1% to ~50% and
  * results from a few rows to ~10^4.
  */
object Scans {
  def apply(rnd: SplittableRandom): Vector[Template] = {
    val nationSegs = Sample.distinct(rnd,
      for (n <- 0 until 25; s <- Gen.Segments) yield s"$n/$s", 6)
    Vector(
      Template("group2", Sample.distinct(rnd, Gen.Priorities, 5),
        Calls.select("SELECT ?seg (COUNT(?o) AS ?n) WHERE { ?o :orderpriority \"$K\" . " +
          "?o :custkey ?c . ?c :mktsegment ?seg } GROUP BY ?seg"),
        cs => s"""SELECT o_orderpriority, c_mktsegment, count(*) FROM orders
          JOIN customer ON c_custkey = o_custkey
          WHERE o_orderpriority IN (${Calls.inList(cs)}) GROUP BY o_orderpriority, c_mktsegment"""),
      Template("region3", Vector("R", "A", "N"),
        Calls.select("SELECT ?rn (COUNT(?l) AS ?cnt) WHERE { ?l :returnflag \"$K\" . " +
          "?l :orderkey ?o . ?o :custkey ?c . ?c :nationkey ?n . ?n :regionkey ?r . " +
          "?r :name ?rn } GROUP BY ?rn"),
        cs => s"""SELECT l_returnflag, r_name, count(*) FROM lineitem
          JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey
          JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey
          WHERE l_returnflag IN (${Calls.inList(cs)}) GROUP BY l_returnflag, r_name"""),
      Template("optional", nationSegs,
        (spark, st, c) => {
          val Array(n, seg) = c.split('/')
          Calls.select(s"""SELECT ?c ?o ?st WHERE { ?c :nationkey <nation:$n> .
            ?c :mktsegment "$seg" . OPTIONAL { ?o :custkey ?c .
            ?o :orderpriority "1-URGENT" . ?o :orderstatus ?st } }""")(spark, st, c)
        },
        cs => s"""SELECT concat(c_nationkey, '/', c_mktsegment), concat('customer:', c_custkey),
          CASE WHEN o_orderkey IS NULL THEN NULL ELSE concat('order:', o_orderkey) END,
          o_orderstatus FROM customer LEFT JOIN orders
          ON o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
          WHERE concat(c_nationkey, '/', c_mktsegment) IN (${Calls.inList(cs)})"""),
      Template("path5", Vector("O", "F"),
        Calls.select("SELECT ?l ?rn WHERE { ?l :linestatus \"$K\" . " +
          "?l :orderkey/:custkey/:nationkey/:regionkey/:name ?rn }"),
        cs => s"""SELECT l.l_linestatus, ${Oracle.line("l")}, r_name FROM lineitem l
          JOIN orders ON o_orderkey = l.l_orderkey JOIN customer ON c_custkey = o_custkey
          JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey
          WHERE l.l_linestatus IN (${Calls.inList(cs)})"""),
      bgp(rnd))
  }

  /** Lines of one part brand with their part, supplier and its nation.
    * `maintain` reads it too: its updates never touch these triples.
    */
  def bgp(rnd: SplittableRandom): Template =
    Template("bgp", Sample.distinct(rnd, Gen.Brands, 6), bgpBrand,
      cs => s"""SELECT p_brand, ${Oracle.line("l")}, concat('part:', p_partkey),
        concat('supplier:', s_suppkey), concat('nation:', s_nationkey) FROM lineitem l
        JOIN part ON p_partkey = l.l_partkey JOIN supplier ON s_suppkey = l.l_suppkey
        WHERE p_brand IN (${Calls.inList(cs)})""")

  /** The core-API shape: encode constants, compile the BGP over the
    * encoded relation, pin it, decode the projected variables.
    */
  private def bgpBrand(spark: SparkSession, st: StoreHandle, brand: String)(tr: Tracer): Array[Row] = {
    val consts = Seq("partkey", "brand", brand, "suppkey", "nationkey")
    val ids = tr.span("dict.encode")(
      if (st.pureHash) Dictionary.hashLiterals(spark, consts)
      else Dictionary.lookup(st.dict, consts))
    val res = tr.span("bgp.compile")(Bgp.compile(spark, st.enc, Seq(
      TriplePattern(V("l"), C(ids("partkey")), V("p")),
      TriplePattern(V("p"), C(ids("brand")), C(ids(brand))),
      TriplePattern(V("l"), C(ids("suppkey")), V("s")),
      TriplePattern(V("s"), C(ids("nationkey")), V("n"))), st.encStats, st.totalCnt))
    val pinned = tr.span("bgp.exec")(res.localCheckpoint(true))
    val rows = tr.span("dict.decode")(
      Dictionary.decodeAll(pinned, st.dict, Seq("l", "p", "s", "n"))
        .select("l", "p", "s", "n").collect())
    graft.Pins.unpin(pinned)
    if (tr.enabled) {
      tr.count("bgp.join_rows", Calls.joinRows(res.queryExecution.executedPlan).toDouble)
      tr.count("bgp.result_rows", rows.length.toDouble)
    }
    rows
  }
}
