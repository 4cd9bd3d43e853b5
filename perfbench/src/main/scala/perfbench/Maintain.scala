package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ReasonOps
import graft.sparql.Sparql
import graft.store.{GraftStore, StoreHandle}

/** Writes next to reads on one handle chain. Each batch is one SPARQL
  * update (INSERT DATA of a new customer with two orders, a DELETE/INSERT
  * WHERE closing a customer's open orders, or DELETE DATA of an order's
  * facts) followed by RDFS maintenance of the pinned base closure, then
  * reads of the touched entities on the updated handle (star SELECTs and
  * one ASK). Every `CompactEvery` batches the handle is compacted. Each
  * round of `CompactEvery` batches also runs the graph fixpoints of
  * [[Graphs]] (reads that leave the store alone; they may change session
  * settings, which is why they live in this single-client workload) and
  * one core-API BGP read ([[Scans.bgp]]) on the updated handle.
  *
  * The generator's own bookkeeping gives each read its expected answer
  * before the timed phase; at the end a full `rdfsClosure` of the final
  * base must equal the maintained closure.
  */
final class Maintain(data: Gen.Data, dir: String, seed: Long) extends Workload {
  import Maintain._

  final class Ctx(val spark: SparkSession, var store: StoreHandle, var closure: DataFrame) {
    val tbox: DataFrame = tboxOf(spark)
    /** Checkpoints the current closure is made of (the base artifact excluded). */
    val closurePins = mutable.ListBuffer.empty[DataFrame]
    var compacted: Option[StoreHandle] = None
  }
  type State = Ctx

  val CompactEvery = 3
  val ReadsPerBatch = 6
  private val batchOps = CompactEvery * (1 + ReadsPerBatch)
  private val graphs = new Graphs(data, seed)
  private val bgp = Scans.bgp(new SplittableRandom(seed * 31 + 5))
  def roundSize: Int = batchOps + graphs.plan.size + 1
  override def minReads: Int = 20
  /** The first round with one star read per batch: every op shape runs once. */
  override def warmup: Seq[Long] = (0L until roundSize).filter { j =>
    val i = j % (1 + ReadsPerBatch)
    j >= batchOps || i <= 1 || i == ReadsPerBatch
  }

  private val script: Vector[Batch] = Maintain.script(data, seed, 90, ReadsPerBatch - 1)

  def setup(spark: SparkSession): (Ctx, Seq[(String, Double)]) = {
    val t0 = System.nanoTime()
    val st = GraftStore.forDir(spark, dir)
    val t1 = System.nanoTime()
    val tbox = tboxOf(spark)
    val closure = GraftStore.reasonArtifact(spark, dir, "perfbench_rdfs_base") {
      ReasonOps.rdfsClosure(st.triples.unionAll(tbox))
    }
    val t2 = System.nanoTime()
    (new Ctx(spark, st, closure),
      Seq("store.ingest" -> (t1 - t0) / 1e9, "store.artifact.closure" -> (t2 - t1) / 1e9))
  }

  override def prepare(st: Ctx): Unit = graphs.prepare(st.spark)

  def op(st: Ctx, client: Int, k: Long): Op = {
    val j = (k % roundSize).toInt
    if (j == roundSize - 1) {
      val c = bgp.consts((k / roundSize % bgp.consts.size).toInt)
      return new Op(bgp.name, write = false, s"${bgp.name}|$c",
        bgp.run(st.spark, st.store, c), Calls.evidence)
    }
    if (j >= batchOps) return graphs.op(st.spark, j - batchOps)
    val b = script((k / roundSize * CompactEvery + j / (1 + ReadsPerBatch)).toInt)
    val i = j % (1 + ReadsPerBatch)
    if (i == 0) new Op(b.kind, write = true, s"batch-${b.index}",
      tr => write(st, b, tr), _ => Digest.empty)
    else if (i == ReadsPerBatch) {
      val (ask, want) = b.ask
      new Op("ask", write = false, s"batch-${b.index}|$ask|${Digest.of(Seq(Seq(want)))}",
        Calls.ask(ask)(st.spark, st.store, ""), Calls.evidence)
    } else {
      val (entity, want) = b.reads(i - 1)
      new Op("read", write = false, s"batch-${b.index}|$entity|$want",
        Calls.select("SELECT ?p ?o WHERE { <$K> ?p ?o }")(st.spark, st.store, entity),
        Calls.evidence)
    }
  }

  private def write(st: Ctx, b: Batch, tr: Tracer): Long = {
    import st.spark.implicits._
    val before = st.store
    st.store = tr.span("sparql.update")(Sparql.update(st.spark, st.store, b.update))
    if (b.deletes.nonEmpty) tr.span("reason.retract") {
      val dels = b.deletes.toDF("s", "p", "o")
      val kept = ReasonOps.rdfsRetract(st.closure, before.triples.unionAll(st.tbox), dels)
        .localCheckpoint(false)
      kept.count()
      st.closurePins.foreach(graft.Pins.unpin)
      st.closurePins.clear()
      st.closurePins += kept
      st.closure = kept
    }
    if (b.inserts.nonEmpty) tr.span("reason.delta") {
      val inc = ReasonOps.rdfsDelta(st.tbox, b.inserts.toDF("s", "p", "o"))
        .localCheckpoint(false)
      val nInc = inc.count()
      val novel = ReasonOps.incrementNovel(st.closure, inc).localCheckpoint(false)
      val nNovel = novel.count()
      graft.Pins.unpin(inc)
      tr.count("reason.increment_rows", nInc.toDouble)
      tr.count("reason.novel_rows", nNovel.toDouble)
      st.closurePins += novel
      st.closure = st.closure.unionAll(novel)
    }
    if ((b.index + 1) % CompactEvery == 0) tr.span("store.compact") {
      val old = st.compacted
      st.store = GraftStore.compact(st.spark, st.store)
      st.compacted = Some(st.store)
      old.foreach { h => graft.Pins.unpin(h.triples); graft.Pins.unpin(h.enc) }
    }
    b.index
  }

  def verify(st: Ctx, done: Seq[Done]): Map[Long, String] = {
    val (g, rest) = done.partition(d => graphs.kinds(d.op.template))
    val (b, entity) = rest.partition(_.op.template == bgp.name)
    graphs.verify(g) ++ Oracle.check(st.spark, dir, Seq(bgp), b) ++
      entity.filterNot(_.op.write).flatMap { d =>
      val want = d.op.key.split('|')(2)
      val got = d.out.toOption.get.toString
      if (got == want) None else Some(d.id -> s"${d.op.key}: got $got")
    }
  }

  override def finalCheck(st: Ctx): Option[String] = {
    def digest(df: DataFrame) = df.agg(count(lit(1)),
      sum(xxhash64(col("s"), col("p"), col("o")).cast("decimal(38,0)"))).head()
    val want = digest(ReasonOps.rdfsClosure(st.store.triples.unionAll(st.tbox)))
    val got = digest(st.closure)
    if (want == got) None else Some(s"maintained closure $got, full rebuild $want")
  }
}

object Maintain {
  /** One update batch: its text, the base triples it adds and removes,
    * the star reads that follow it with their expected digests, and an
    * ASK about the change with its expected answer.
    */
  final case class Batch(index: Int, kind: String, update: String,
                         inserts: Seq[(String, String, String)],
                         deletes: Seq[(String, String, String)],
                         reads: Seq[(String, Digest)], ask: (String, Boolean))

  /** The schema the closure is maintained under: a class hierarchy over
    * the entity types, a property hierarchy over the foreign keys, and
    * domain/range on the derived properties.
    */
  def tboxOf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import ReasonOps.{Domain, Range, SubClassOf, SubPropertyOf}
    Seq(("Customer", SubClassOf, "Agent"), ("Supplier", SubClassOf, "Agent"),
      ("Agent", SubClassOf, "Entity"), ("Nation", SubClassOf, "Place"),
      ("Region", SubClassOf, "Place"), ("Place", SubClassOf, "Entity"),
      ("Order", SubClassOf, "Event"), ("Lineitem", SubClassOf, "Event"),
      ("nationkey", SubPropertyOf, "locatedIn"), ("regionkey", SubPropertyOf, "locatedIn"),
      ("locatedIn", SubPropertyOf, "within"), ("custkey", SubPropertyOf, "party"),
      ("suppkey", SubPropertyOf, "party"), ("locatedIn", Domain, "Locatable"),
      ("locatedIn", Range, "Place"), ("party", Domain, "Transaction"),
      ("party", Range, "Agent")).toDF("s", "p", "o")
  }

  private def term(o: String): String =
    if (o.contains(":")) s"<$o>" else "\"" + o + "\""

  private def triples(ts: Seq[(String, String, String)]): String =
    ts.map { case (s, p, o) => s"<$s> :$p ${term(o)}" }.mkString(" . ")

  /** The batch sequence and its expected reads, from the seed alone. */
  def script(data: Gen.Data, seed: Long, batches: Int, reads: Int): Vector[Batch] = {
    val rnd = new SplittableRandom(seed * 31 + 3)
    val facts = mutable.HashMap.empty[String, mutable.LinkedHashSet[(String, String)]]
    def add(s: String, p: String, o: String) =
      facts.getOrElseUpdate(s, mutable.LinkedHashSet.empty) += ((p, o))
    data.customerRows.foreach { c =>
      val s = s"customer:${c.c_custkey}"
      add(s, "a", "Customer"); add(s, "name", c.c_name)
      add(s, "mktsegment", c.c_mktsegment); add(s, "nationkey", s"nation:${c.c_nationkey}")
    }
    data.orderRows.foreach { o =>
      val s = s"order:${o.o_orderkey}"
      add(s, "a", "Order"); add(s, "custkey", s"customer:${o.o_custkey}")
      add(s, "orderstatus", o.o_orderstatus); add(s, "orderpriority", o.o_orderpriority)
      add(s, "orderdate", Gen.dateTerm(o.o_orderdate))
    }
    def ordersOf(c: String) = facts.collect {
      case (o, ps) if o.startsWith("order:") && ps.contains(("custkey", c)) => o }.toSeq.sorted
    def star(e: String) = Digest.of(facts.getOrElse(e, mutable.LinkedHashSet.empty)
      .toSeq.map { case (p, o) => Seq(p, o) })
    val customers = data.customerRows.map(c => s"customer:${c.c_custkey}")
    var nextCust = data.customerRows.size + 1L
    var nextOrder = data.orderRows.size + 1L
    Vector.tabulate(batches) { b =>
      // the ASK is evaluated on the model after the batch
      val (kind, text, ins, del, touched, ask) = b % 3 match {
        case 0 =>
          val c = s"customer:$nextCust"
          val ts = Seq((c, "a", "Customer"), (c, "name", f"Customer-$nextCust%09d"),
            (c, "mktsegment", Gen.Segments(rnd.nextInt(5))),
            (c, "nationkey", s"nation:${rnd.nextInt(25)}")) ++
            (0 until 2).flatMap { j =>
              val o = s"order:${nextOrder + j}"
              Seq((o, "a", "Order"), (o, "custkey", c), (o, "orderstatus", "O"),
                (o, "orderpriority", Gen.Priorities(rnd.nextInt(5))),
                (o, "orderdate", Gen.dateTerm(Gen.timestamp(rnd.nextInt(2400)))))
            }
          nextCust += 1; nextOrder += 2
          ("insert", s"INSERT DATA { ${triples(ts)} }", ts, Seq.empty,
            Seq(c, s"order:${nextOrder - 2}", s"order:${nextOrder - 1}"),
            () => s"ASK { ?o :custkey <$c> }" -> ordersOf(c).nonEmpty)
        case 1 =>
          var c = customers(rnd.nextInt(customers.size))
          while (!ordersOf(c).exists(o => facts(o).contains(("orderstatus", "O"))))
            c = customers(rnd.nextInt(customers.size))
          val open = ordersOf(c).filter(o => facts(o).contains(("orderstatus", "O")))
          ("modify", s"""DELETE { ?o :orderstatus "O" } INSERT { ?o :orderstatus "F" }
            WHERE { ?o :custkey <$c> . ?o :orderstatus "O" }""",
            open.map(o => (o, "orderstatus", "F")), open.map(o => (o, "orderstatus", "O")),
            c +: open, () => s"""ASK { ?o :custkey <$c> . ?o :orderstatus "O" }""" ->
              ordersOf(c).exists(o => facts(o).contains(("orderstatus", "O"))))
        case _ =>
          var o = s"order:${1 + rnd.nextInt(data.orderRows.size)}"
          while (!facts(o).exists(_._1 == "custkey")) o = s"order:${1 + rnd.nextInt(data.orderRows.size)}"
          val ts = facts(o).toSeq.filter(po => po._1 == "custkey" || po._1 == "orderpriority")
            .map { case (p, v) => (o, p, v) }
          ("delete", s"DELETE DATA { ${triples(ts)} }", Seq.empty, ts,
            Seq(o, ts.find(_._2 == "custkey").get._3),
            () => s"ASK { <$o> :custkey ?c }" -> facts(o).exists(_._1 == "custkey"))
      }
      del.foreach { case (s, p, o) => facts(s) -= ((p, o)) }
      ins.foreach { case (s, p, o) => add(s, p, o) }
      val rs = Iterator.continually(touched).flatten.take(reads).map(e => e -> star(e)).toSeq
      Batch(b, kind, "PREFIX : <>\n" + text, ins, del, rs, ask())
    }
  }
}
