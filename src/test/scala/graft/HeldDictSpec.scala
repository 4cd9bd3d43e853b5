package graft

import org.apache.spark.sql.DataFrame

import graft.dict.Dictionary
import graft.sparql.Sparql
import graft.store.{GraftStore, StoreHandle}

/** A store dictionary's driver-held term index answers decodes and term
  * probes with no Spark job once built, and is built in one job however
  * many threads ask for it first; the forced probe
  * (`StoreHandle.useSlices.withValue(false)`) gives the same answers.
  */
class HeldDictSpec extends SparkSpec {
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

  "A driver-matched SELECT on a warm handle" should "start no job" in {
    rowSet(Sparql.execute(spark, store, hop1)) // fills the slices and the index
    val (rows, jobs) = jobsDuring(rowSet(Sparql.execute(spark, store, hop1)))
    jobs shouldBe 0
    rows.size shouldBe 8
    rows shouldBe StoreHandle.useSlices.withValue(false)(
      rowSet(Sparql.execute(spark, store, hop1)))
  }

  "Term probes on a held dictionary" should "start no job" in {
    val terms = Seq("customer:2", "status", "order:7", "nobody", "F")
    Dictionary.lookup(store.dict, terms) // builds the index if no spec did
    val ((ids, claims), jobs) = jobsDuring(
      (Dictionary.lookup(store.dict, terms), Dictionary.probeClaims(spark, store.dict, terms)))
    jobs shouldBe 0
    ids.keySet shouldBe Set("customer:2", "status", "order:7", "F")
    claims shouldBe ((Set("customer:2", "status", "order:7", "F"), false))
    StoreHandle.useSlices.withValue(false) {
      Dictionary.lookup(store.dict, terms) shouldBe ids
      Dictionary.probeClaims(spark, store.dict, terms) shouldBe claims
    }
  }

  "The index of an appendLocal handle" should "be derived from its parent's with no job" in {
    val h = fresh()
    Dictionary.lookup(h.dict, Seq("status")) // builds the parent's index
    val h2 = GraftStore.appendLocal(spark, h,
      Seq(("order:99", "status", "X"), ("order:99", "custkey", "customer:2")))
    (h2.dict ne h.dict) shouldBe true
    val (entries, jobs) = jobsDuring(h2.dictIndex.entries)
    jobs shouldBe 0
    entries.map(_.toMap) shouldBe
      Some(h2.dict.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    Dictionary.lookup(h2.dict, Seq("order:99", "X")).keySet shouldBe Set("order:99", "X")
  }

  "Four threads on a fresh handle" should "build its index in one job" in {
    val h = fresh()
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val (out, jobs) = jobsDuring {
      try {
        val runs = (1 to 4).map(i => pool.submit(() => {
          go.await()
          Dictionary.lookup(h.dict, Seq("order:1", s"customer:$i", "absent"))
        }))
        go.countDown()
        runs.map(_.get())
      } finally pool.shutdown()
    }
    jobs shouldBe 1
    out.map(_.keySet) shouldBe (1 to 4).map(i => Set("order:1", s"customer:$i"))
  }
}
