package graft

import graft.sparql.Sparql
import graft.store.GraftStore

/** SPARQL 1.1 Update surface over store handles: INSERT/DELETE DATA,
  * DELETE WHERE, DELETE/INSERT WHERE, CLEAR, sequential op semantics,
  * and the store invariants updates must preserve (exact stats for the
  * count shortcut, string/encoded relation agreement, immutable input
  * handles). The reference has only the programmatic add path.
  */
class UpdateSpec extends SparkSpec {
  import spark.implicits._

  private def mkStore = GraftStore.ingestTriples(spark, Seq(
    ("alice", "knows", "bob"),
    ("bob", "knows", "carol"),
    ("alice", "age", "39"),
    ("bob", "age", "41"),
    ("carol", "a", "Admin")
  ).toDF("s", "p", "o"))

  private def rows(h: graft.store.StoreHandle): Set[(String, String, String)] =
    h.triples.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def invariants(h: graft.store.StoreHandle): Unit = {
    // encoded relation stays in lockstep with the string relation
    h.enc.count() shouldBe h.triples.count()
    // stats stay EXACT (the (?, p, ?) count shortcut depends on it)
    val byPred = h.triples.groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    h.stats.map { case (k, v) => k -> v.cnt } shouldBe byPred
    h.totalCnt shouldBe h.triples.count()
  }

  "Sparql.update" should "INSERT DATA and leave the input handle untouched" in {
    val h0 = mkStore
    val h1 = Sparql.update(spark, h0,
      """PREFIX : <>
        |INSERT DATA { <dave> :knows <alice> . <dave> :age "52" }""".stripMargin)
    rows(h1) should contain allOf(("dave", "knows", "alice"), ("dave", "age", "52"))
    rows(h1).size shouldBe 7
    rows(h0).size shouldBe 5 // immutability: old handle unchanged
    invariants(h1)
  }

  it should "DELETE DATA exactly the listed triples" in {
    val h1 = Sparql.update(spark, mkStore,
      """PREFIX : <>
        |DELETE DATA { <alice> :age "39" . <nosuch> :age "0" }""".stripMargin)
    rows(h1) shouldBe mkStore.triples.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet -
      (("alice", "age", "39"))
    invariants(h1)
  }

  it should "DELETE WHERE all matched bindings" in {
    val h1 = Sparql.update(spark, mkStore,
      """PREFIX : <>
        |DELETE WHERE { ?s :knows ?o }""".stripMargin)
    rows(h1).map(_._2) should not contain "knows"
    rows(h1).size shouldBe 3
    invariants(h1)
  }

  it should "rewrite triples with DELETE/INSERT WHERE" in {
    val h1 = Sparql.update(spark, mkStore,
      """PREFIX : <>
        |DELETE { ?s :knows ?o } INSERT { ?o :knownBy ?s }
        |WHERE { ?s :knows ?o }""".stripMargin)
    rows(h1) should contain allOf(
      ("bob", "knownBy", "alice"), ("carol", "knownBy", "bob"))
    rows(h1).map(_._2) should not contain "knows"
    invariants(h1)
  }

  it should "apply ;-separated operations sequentially" in {
    val h1 = Sparql.update(spark, mkStore,
      """PREFIX : <>
        |INSERT DATA { <erin> :knows <alice> } ;
        |DELETE WHERE { ?s :knows <alice> } ;
        |INSERT { ?s :isAdmin "yes" } WHERE { ?s :a "Admin" }""".stripMargin)
    // op2 must see op1's insert: erin's fresh edge is already deletable
    rows(h1).exists(_._1 == "erin") shouldBe false
    rows(h1) should contain(("carol", "isAdmin", "yes"))
    invariants(h1)
  }

  it should "keep set semantics: re-inserting an existing triple is a no-op" in {
    val h1 = Sparql.update(spark, mkStore,
      """PREFIX : <>
        |INSERT DATA { <alice> :knows <bob> . <alice> :knows <bob> }""".stripMargin)
    rows(h1).size shouldBe 5 // graph union, not bag append (SPARQL 1.1 §3.1.1)
    invariants(h1)
  }

  it should "CLEAR to an empty store" in {
    val h1 = Sparql.update(spark, mkStore, "CLEAR ALL")
    h1.triples.count() shouldBe 0L
    h1.totalCnt shouldBe 0L
  }

  it should "treat graph management under single-graph semantics" in {
    val h0 = mkStore
    // DROP == CLEAR on the default graph
    Sparql.update(spark, h0, "DROP DEFAULT").totalCnt shouldBe 0L
    // CREATE DEFAULT / COPY-MOVE-ADD DEFAULT TO DEFAULT are identities
    val h1 = Sparql.update(spark, h0,
      "CREATE DEFAULT ; COPY DEFAULT TO DEFAULT ; ADD DEFAULT TO DEFAULT")
    rows(h1) shouldBe rows(h0)
    // named targets: error without SILENT, no-op with it
    an[IllegalArgumentException] should be thrownBy
      Sparql.update(spark, h0, "CREATE GRAPH <g>")
    an[IllegalArgumentException] should be thrownBy
      Sparql.update(spark, h0, "COPY DEFAULT TO GRAPH <g>")
    rows(Sparql.update(spark, h0,
      "CREATE SILENT GRAPH <g> ; DROP SILENT GRAPH <g> ; " +
        "MOVE SILENT DEFAULT TO GRAPH <g>")) shouldBe rows(h0)
    // every other named-graph form the single-graph store rejects
    val f = java.nio.file.Files.createTempFile("graft-load", ".nt")
    java.nio.file.Files.writeString(f, "<http://x/s> <http://x/p> <http://x/o> .\n")
    try {
      Seq(
        "PREFIX : <>\nWITH <g> INSERT { ?s :p2 ?o } WHERE { ?s :age ?o }",
        "PREFIX : <>\nDELETE { ?s :age ?o } USING <g> WHERE { ?s :age ?o }",
        "CLEAR NAMED",
        "COPY GRAPH <g> TO GRAPH <g>",
        s"LOAD <${f.toString}> INTO GRAPH <g>",
        "PREFIX : <>\nINSERT DATA { GRAPH <g> { <x> :p \"1\" } }",
        "PREFIX : <>\nINSERT { ?s :p2 ?o } WHERE { GRAPH <g> { ?s :age ?o } }"
      ).foreach { script =>
        withClue(script) {
          an[IllegalArgumentException] should be thrownBy
            Sparql.update(spark, h0, script)
        }
      }
      // SILENT turns the named-target ops into no-ops
      rows(Sparql.update(spark, h0,
        "CLEAR SILENT NAMED ; COPY SILENT GRAPH <g> TO GRAPH <g>")) shouldBe rows(h0)
      // CLEAR ALL still empties the single graph
      Sparql.update(spark, h0, "CLEAR ALL").totalCnt shouldBe 0L
      rows(h0).size shouldBe 5
    } finally java.nio.file.Files.delete(f)
  }

  it should "answer queries over the updated ENCODED store" in {
    val h1 = Sparql.update(spark, mkStore,
      """PREFIX : <>
        |DELETE { ?s :age ?o } WHERE { ?s :age ?o . FILTER (?o > 40) } ;
        |INSERT DATA { <frank> :age "29" }""".stripMargin)
    val res = Sparql.execute(spark, h1,
      """PREFIX : <>
        |SELECT ?s ?v WHERE { ?s :age ?v } ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    res shouldBe Seq(("alice", "39"), ("frank", "29"))
  }

  it should "LOAD an N-Triples file with skolemized blanks" in {
    val f = java.nio.file.Files.createTempFile("graft-load", ".nt")
    java.nio.file.Files.writeString(f,
      """<http://x/s1> <http://x/p> <http://x/o1> .
        |_:b1 <http://x/p> "lit" .
        |""".stripMargin)
    val h1 = Sparql.update(spark, mkStore, s"LOAD <${f.toString}>")
    rows(h1).size shouldBe 7
    rows(h1) should contain(("http://x/s1", "http://x/p", "http://x/o1"))
    // blank skolemized with the source scope, literal kept quoted
    rows(h1).exists(t => t._1.startsWith("_:") && t._1.contains("b1") &&
      t._3 == "\"lit\"") shouldBe true
    invariants(h1)
    java.nio.file.Files.delete(f)
  }

  it should "LOAD a Turtle file through the format-sniffing loader" in {
    val f = java.nio.file.Files.createTempFile("graft-load", ".ttl")
    java.nio.file.Files.writeString(f,
      """@prefix x: <http://x/> .
        |x:s2 a x:T ; x:p "v", 7 .
        |""".stripMargin)
    val h1 = Sparql.update(spark, mkStore, s"LOAD <${f.toString}>")
    rows(h1) should contain(("http://x/s2",
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "http://x/T"))
    rows(h1) should contain(("http://x/s2", "http://x/p", "\"v\""))
    rows(h1) should contain(("http://x/s2", "http://x/p",
      "\"7\"^^<http://www.w3.org/2001/XMLSchema#integer>"))
    invariants(h1)
    java.nio.file.Files.delete(f)
  }

  it should "compact tombstones and persist/reopen an updated store" in {
    val h1 = Sparql.update(spark, mkStore,
      """PREFIX : <>
        |DELETE WHERE { ?s :knows ?o } ;
        |INSERT DATA { <dan> :age "23" }""".stripMargin)
    // compact materializes the lazy delete chain; resketch restores
    // exact ndv sketches from the survivors
    val hc = GraftStore.compact(spark, h1, resketch = true)
    rows(hc) shouldBe rows(h1)
    invariants(hc)
    // the compacted relation owns its blocks: a flat checkpoint scan
    graft.Pins.isPinned(hc.triples) shouldBe true
    // full lifecycle: persist the updated store, reopen, query
    val dir = java.nio.file.Files.createTempDirectory("graft-upd").toString
    GraftStore.persist(hc, dir)
    val ho = GraftStore.open(spark, dir)
    rows(ho) shouldBe rows(h1)
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(ho.triples, ho.stats),
      """PREFIX : <>
        |SELECT ?s ?v WHERE { ?s :age ?v } ORDER BY ?s""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    res shouldBe Seq(("alice", "39"), ("bob", "41"), ("dan", "23"))
  }

  it should "reject blank nodes in DELETE and named-graph forms" in {
    an[IllegalArgumentException] should be thrownBy
      Sparql.update(spark, mkStore,
        "PREFIX : <>\nWITH <g> DELETE WHERE { ?s :p ?o }")
    an[Exception] should be thrownBy
      Sparql.update(spark, mkStore,
        "PREFIX : <>\nDELETE DATA { _:b :p \"x\" }")
  }

  it should "fail on trailing tokens instead of silently dropping them" in {
    // CLEAR GRAPH <g> must NOT clear the whole store and discard `GRAPH <g>`
    an[Exception] should be thrownBy
      Sparql.update(spark, mkStore, "CLEAR GRAPH <g>")
    // a missing ';' between two operations must fail, not drop the second op
    an[Exception] should be thrownBy
      Sparql.update(spark, mkStore,
        """PREFIX : <>
          |INSERT DATA { <x> :p "1" }
          |INSERT DATA { <y> :p "2" }""".stripMargin)
    // the throw leaves the caller's handle untouched (immutability)
    val h0 = mkStore
    intercept[Exception] {
      Sparql.update(spark, h0, "CLEAR GRAPH <g>")
    }
    rows(h0).size shouldBe 5
  }

  it should "not prefetch a WHERE whose VALUES entry an earlier op inserts" in {
    // op 2's patterns cannot match op 1's write, but its VALUES entry is
    // the term op 1 adds to the dictionary: a WHERE evaluated against the
    // pre-script store would see that term as new and add it again
    val h0 = mkStore
    h0.pureHash shouldBe true
    val op1 = "INSERT DATA { <x> <p> <newT> }"
    val op2 = "INSERT { ?v <q> <c> } WHERE { VALUES ?v { <newT> } }"
    val h1 = Sparql.update(spark, h0, s"$op1 ; $op2")
    rows(h1) shouldBe rows(Sparql.update(spark, Sparql.update(spark, h0, op1), op2))
    rows(h1) should contain(("newT", "q", "c"))
    h1.dict.where(org.apache.spark.sql.functions.col("term") === "newT")
      .count() shouldBe 1L
    invariants(h1)
  }
}
