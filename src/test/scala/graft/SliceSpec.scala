package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, ScopedConf}
import org.apache.spark.sql.functions._

import graft.bgp.{Bgp, C, TriplePattern, V}
import graft.dict.Dictionary
import graft.sparql.Sparql
import graft.store.{GraftStore, Slices, StoreHandle}

/** Predicates within `Dictionary.LocalCap` rows are read from the
  * store handle's driver-held slices; the rows are those of the
  * distributed scan (forced with `StoreHandle.useSlices`).
  */
class SliceSpec extends SparkSpec {
  import spark.implicits._

  private val orderRows: Seq[(String, String, String)] = (0 until 40).flatMap { i =>
    Seq((s"order:$i", "custkey", s"customer:${i % 5}"),
      (s"order:$i", "status", if (i % 3 == 0) "F" else "O"),
      (s"order:$i", "date", s"1995-01-${10 + i % 20}"))
  }

  private def fresh(): StoreHandle =
    GraftStore.ingestTriples(spark, orderRows.toDF("s", "p", "o"))

  private lazy val store = fresh()

  private val hop1 = "PREFIX : <>\nSELECT ?o ?st ?d WHERE { ?o :custkey <customer:2> . " +
    "?o :status ?st . ?o :date ?d }"

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def scanned(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[LogicalRDD])

  private def id(st: StoreHandle, term: String): Long =
    Dictionary.lookup(st.dict, Seq(term))(term)

  "A hop1 SELECT over small predicates" should "start no job and match the scan path" in {
    val scan = StoreHandle.useSlices.withValue(false) {
      Sparql.execute(spark, store, hop1).collect() // warm
      jobsDuring(rowSet(Sparql.execute(spark, store, hop1)))
    }
    Sparql.execute(spark, store, hop1).collect() // fills the slices and the term index
    val (rows, jobs) = jobsDuring(rowSet(Sparql.execute(spark, store, hop1)))
    rows shouldBe scan._1
    rows.size shouldBe 8
    jobs shouldBe 0
    scan._2 should be > 2
  }

  it should "read no stored relation in Bgp.compile over the handle's enc" in {
    val tp = Seq(TriplePattern(V("o"), C(id(store, "custkey")), C(id(store, "customer:2"))),
      TriplePattern(V("o"), C(id(store, "status")), V("st")))
    def compile() = Bgp.compile(spark, store.enc, tp, store.encStats, store.totalCnt)
    scanned(compile()) shouldBe false
    StoreHandle.useSlices.withValue(false)(scanned(compile())) shouldBe true
    rowSet(compile()) shouldBe StoreHandle.useSlices.withValue(false)(rowSet(compile()))
    // a frame derived from the relation is not the handle's relation
    scanned(Bgp.compile(spark, store.enc.where(lit(true)), tp, store.encStats,
      store.totalCnt)) shouldBe true
  }

  it should "read its slices in the session of the relation it is handed" in {
    val tp = Seq(TriplePattern(V("o"), C(id(store, "status")), V("st")),
      TriplePattern(V("o"), C(id(store, "date")), V("d")))
    ScopedConf.withConf(spark, "spark.sql.shuffle.partitions" -> "3") { sc =>
      val df = Bgp.compile(spark, sc.in(store.enc), tp, store.encStats, store.totalCnt)
      df.sparkSession shouldBe theSameInstanceAs(sc.session)
      scanned(df) shouldBe false
      df.count() shouldBe 40L
    }
  }

  it should "answer the string store from its own slices" in {
    Sparql.execute(spark, Sparql.Dataset.Triples(store.triples, store.stats), hop1).collect()
    val q = Sparql.execute(spark, Sparql.Dataset.Triples(store.triples, store.stats), hop1)
    scanned(q) shouldBe false
    rowSet(q) shouldBe rowSet(Sparql.execute(spark, store, hop1))
  }

  "A BGP over held predicates" should "start no job to compile, decode and collect" in {
    val tp = Seq(TriplePattern(V("o"), C(id(store, "custkey")), C(id(store, "customer:2"))),
      TriplePattern(V("o"), C(id(store, "status")), V("st")),
      TriplePattern(V("o"), C(id(store, "date")), V("d")))
    def run(): Set[Seq[Any]] = rowSet(Dictionary.decodeAll(
      Bgp.compile(spark, store.enc, tp, store.encStats, store.totalCnt),
      store.dict, Seq("o", "st", "d")))
    run() // fills the slices and the term index
    val (rows, jobs) = jobsDuring(run())
    jobs shouldBe 0
    rows shouldBe StoreHandle.useSlices.withValue(false)(run())
    rows.size shouldBe 8
  }

  "A predicate above the cap" should "keep the distributed scan" in {
    val big = spark.range(Dictionary.LocalCap + 10).select(
      concat(lit("n"), col("id")).as("s"), lit("big").as("p"),
      concat(lit("m"), col("id") % 7).as("o"))
    val st = GraftStore.ingestTriples(spark,
      big.unionAll(orderRows.toDF("s", "p", "o")))
    st.encSlices.frame(Seq(id(st, "big")), spark) shouldBe None
    st.encSlices.frame(Seq(id(st, "status")), spark).map(_.count()) shouldBe Some(40L)
    val tp = Seq(TriplePattern(V("x"), C(id(st, "big")), C(id(st, "m3"))))
    val df = Bgp.compile(spark, st.enc, tp, st.encStats, st.totalCnt)
    scanned(df) shouldBe true
    df.count() shouldBe (0 until Dictionary.LocalCap + 10).count(_ % 7 == 3)
  }

  "The slice budget" should "leave a predicate that no longer fits to the scan" in {
    val sl = new Slices(store.enc, store.encStats, new AtomicLong(50))
    sl.frame(Seq(id(store, "custkey")), spark).map(_.count()) shouldBe Some(40L)
    sl.frame(Seq(id(store, "status")), spark) shouldBe None
    sl.frame(Seq(id(store, "custkey"), id(store, "status")), spark) shouldBe None
    sl.buildCount shouldBe 1
  }

  "A handle made by an update" should "start with no slices and see its own triples" in {
    val h0 = fresh()
    Sparql.execute(spark, h0, hop1).collect()
    h0.encSlices.buildCount shouldBe 1
    val gone = ("order:7", "status", "O")
    val h1 = GraftStore.remove(spark, h0, Seq(gone).toDF("s", "p", "o"))
    h1.encSlices.buildCount shouldBe 0
    def both(h: StoreHandle): Set[Seq[Any]] = {
      val enc = rowSet(Sparql.execute(spark, h, hop1))
      rowSet(Sparql.execute(spark, Sparql.Dataset.Triples(h.triples, h.stats), hop1)) shouldBe enc
      StoreHandle.useSlices.withValue(false)(
        rowSet(Sparql.execute(spark, h, hop1))) shouldBe enc
      enc
    }
    val after1 = both(h1)
    after1.exists(_.head == "order:7") shouldBe false
    after1.size shouldBe 7
    h1.encSlices.buildCount shouldBe 1
    val h2 = GraftStore.append(spark, h1,
      Seq(("order:7", "status", "X")).toDF("s", "p", "o"))
    h2.encSlices.buildCount shouldBe 0
    val after2 = both(h2)
    after2 should contain(Seq("order:7", "X", "1995-01-17"))
    after2.size shouldBe 8
    rowSet(Sparql.execute(spark, h0, hop1)) should contain(
      Seq("order:7", "O", "1995-01-17"))
  }

  "Two threads on a fresh handle" should "collect its slices once" in {
    val h = fresh()
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val runs = (1 to 2).map(_ => pool.submit(() => {
        go.await()
        rowSet(Sparql.execute(spark, h, hop1))
      }))
      go.countDown()
      val out = runs.map(_.get())
      out.distinct.size shouldBe 1
      out.head.size shouldBe 8
    } finally pool.shutdown()
    h.encSlices.buildCount shouldBe 1
  }
}
