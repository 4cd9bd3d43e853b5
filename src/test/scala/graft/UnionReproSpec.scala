package graft

import graft.sparql.Sparql
import graft.store.GraftStore

/** Regression guard for the Spark 4.1 union-constraint defect worked
  * around in CleanCheckpoint: a SELF-JOINED BGP over an appended store
  * (union of checkpoints) used to crash in UnionBase.rewriteConstraints
  * (`key not found: o#N`) because the checkpointed LogicalRDD's
  * origin-constraint snapshot kept stale expression ids after
  * DeduplicateRelations re-instanced the node.
  */
class UnionReproSpec extends SparkSpec {

  "appended store" should "answer a self-joined BGP over the union" in {
    val h0 = GraftStore.ingestTriples(spark,
      graft.store.TripleStore.tableTriples(spark, sfDir))
    val h1 = Sparql.update(spark, h0,
      """PREFIX : <>
        |INSERT DATA { <region:9> :a "Region" . <region:9> :name "R_NINE" }""".stripMargin)
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(h1.triples, h1.stats),
      """PREFIX : <>
        |SELECT ?nm WHERE { ?r a "Region" . ?r :name ?nm } ORDER BY ?nm""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    res should contain("R_NINE")
    res.length shouldBe 6 // the 5 stored regions + the inserted one
  }
}
