package graft

import scala.io.Source

import graft.sparql.Sparql
import graft.store.{GraftStore, TripleStore}

/** The reference's OWN benchmark workload, end-to-end: LUBM University0
  * (318k triples, `/root/reference/benchmarks/data/university0_*.nt`) and
  * the 14 standard LUBM queries (Guo, Pan & Heflin, "LUBM: A Benchmark
  * for OWL Knowledge Base Systems", JWS 2005 — the same query set the
  * reference runs, `benchmarks/.../Lubm.scala:33-172`), checked against
  * the reference's golden answer files
  * (`GroundTruthSpec.scala:127-168`). Both engines run WITHOUT
  * inference, so plain pattern matching must reproduce the goldens
  * exactly — on the string store AND on the encoded store.
  */
class LubmSpec extends SparkSpec {

  // resolvable via GRAFT_LUBM_DIR / -Dgraft.lubm.dir
  private val dataDir = LubmData.dir

  // without the fixtures these specs register as ignored, so test
  // reports count them as skipped rather than passed
  private def lubm(name: String)(body: => Any): Unit =
    if (LubmData.available) it should name in body else it should name ignore body

  private val prologue = LubmQueries.prologue

  // The 14 standard LUBM queries (no inference variant).
  private val queries: Seq[String] = LubmQueries.queries

  /** Golden answers: header of var names, bare IRI/literal values, or
    * the literal `NO ANSWERS.`; compared as a sorted bag of rows.
    */
  private def golden(queryId: Int): Seq[Seq[String]] = {
    val src = Source.fromFile(s"$dataDir/answers_query$queryId.txt")
    try {
      val lines = src.getLines().toList
      if (lines.headOption.contains("NO ANSWERS.")) Seq.empty
      else lines.tail.map(_.split("\t", -1).toSeq)
    } finally src.close()
  }

  /** Our term rendering keeps literal quotes; goldens are bare. */
  private def bare(v: String): String =
    if (v != null && v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
      v.substring(1, v.length - 1)
    else v

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r =>
      (0 until r.length).map(i => bare(r.getString(i))).toSeq)

  private lazy val store = GraftStore.ingestTriples(spark,
    TripleStore.parseNTriples(spark, s"$dataDir/university0_*.nt"))

  behavior of "LUBM golden corpus"

  (1 to 14).foreach { qid =>
    lubm(s"reproduce query $qid on the string store") {
      val got = rowsOf(Sparql.execute(spark, Sparql.Dataset.Triples(store.triples, store.stats),
        queries(qid - 1)))
      got.sortBy(_.mkString("\t")) shouldBe
        golden(qid).sortBy(_.mkString("\t"))
    }
  }

  // the same queries over long keys with a single decode stage on top —
  // ALL 14, since the encoded path is the production one
  (1 to 14).foreach { qid =>
    lubm(s"reproduce query $qid on the encoded store") {
      val got = rowsOf(Sparql.execute(spark, store, queries(qid - 1)))
      got.sortBy(_.mkString("\t")) shouldBe
        golden(qid).sortBy(_.mkString("\t"))
    }
  }
}
