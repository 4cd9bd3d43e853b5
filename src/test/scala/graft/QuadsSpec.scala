package graft

import graft.sparql.Sparql
import org.apache.spark.sql.functions.col

/** Named-graph (quad dataset) surface: GRAPH blocks, dataset clauses,
  * and default-graph scoping over one (s, p, o, g) relation — the SPARQL
  * 1.1 §13 semantics the reference lacks entirely (single-graph store,
  * named-graph Update targets error).
  */
class QuadsSpec extends SparkSpec {
  import spark.implicits._

  // default graph: the g-null rows; two named graphs
  lazy val quads = Seq(
    ("x", "type", "Root", null),
    ("x", "in", "g1", null),
    ("a", "p", "1", "g1"),
    ("a", "q", "2", "g1"),
    ("b", "p", "1", "g2"),
    ("a", "p", "9", "g2")
  ).toDF("s", "p", "o", "g")

  private def run(q: String): Set[Seq[String]] =
    Sparql.execute(spark, Sparql.Dataset.Quads(quads), q).collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.getString(i)): Seq[String]).toSet

  "executeQuads" should "confine a GRAPH block's patterns to one graph" in {
    // (?s :p 1 . ?s :q 2) co-occur only inside g1 — b/g2 must not leak in
    run("""PREFIX : <>
          |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p "1" . ?s :q "2" } }""".stripMargin) shouldBe
      Set(Seq("g1", "a"))
  }

  it should "bind the graph variable across all matching graphs" in {
    run("""PREFIX : <>
          |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p "1" } }""".stripMargin) shouldBe
      Set(Seq("g1", "a"), Seq("g2", "b"))
  }

  it should "scan a constant GRAPH target only" in {
    run("""PREFIX : <>
          |SELECT ?s ?o WHERE { GRAPH <g2> { ?s :p ?o } }""".stripMargin) shouldBe
      Set(Seq("b", "1"), Seq("a", "9"))
  }

  it should "match default-graph patterns against the g-null slice only" in {
    run("""PREFIX : <>
          |SELECT ?s WHERE { ?s :type "Root" }""".stripMargin) shouldBe
      Set(Seq("x"))
    // :p lives only in named graphs -> invisible to the default graph
    run("""PREFIX : <>
          |SELECT ?s WHERE { ?s :p "1" }""".stripMargin) shouldBe Set.empty
  }

  it should "join GRAPH-block bindings with outer patterns" in {
    // the default graph names g1; the GRAPH var joins against that value
    run("""PREFIX : <>
          |SELECT ?s WHERE { <x> :in ?g . GRAPH ?g { ?s :p "1" } }""".stripMargin) shouldBe
      Set(Seq("a"))
  }

  it should "merge FROM graphs into the default graph" in {
    run("""PREFIX : <>
          |SELECT ?s ?o FROM <g1> FROM <g2> WHERE { ?s :p ?o }""".stripMargin) shouldBe
      Set(Seq("a", "1"), Seq("b", "1"), Seq("a", "9"))
    // an explicit dataset EXCLUDES the original default graph
    run("""PREFIX : <>
          |SELECT ?s FROM <g1> WHERE { ?s :type "Root" }""".stripMargin) shouldBe
      Set.empty
  }

  it should "restrict GRAPH visibility to FROM NAMED" in {
    run("""PREFIX : <>
          |SELECT ?g ?s FROM NAMED <g2> WHERE { GRAPH ?g { ?s :p "1" } }""".stripMargin) shouldBe
      Set(Seq("g2", "b"))
    // FROM NAMED alone -> empty default graph
    run("""PREFIX : <>
          |SELECT ?s FROM NAMED <g1> WHERE { ?s :type "Root" }""".stripMargin) shouldBe
      Set.empty
  }

  it should "support FILTER and BIND inside GRAPH blocks" in {
    run("""PREFIX : <>
          |SELECT ?g ?k WHERE {
          |  GRAPH ?g { ?s :p ?o . FILTER(?o > 5) BIND(CONCAT(?s, "!") AS ?k) }
          |}""".stripMargin) shouldBe
      Set(Seq("g2", "a!"))
  }

  it should "aggregate per graph" in {
    val got = Sparql.execute(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
        |GROUP BY ?g ORDER BY ?g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    got shouldBe Seq(("g1", 2L), ("g2", 2L))
  }

  it should "handle repeated variables inside a quad pattern" in {
    val q2 = Seq(("a", "p", "a", "g1"), ("a", "p", "b", "g1"))
      .toDF("s", "p", "o", "g")
    Sparql.execute(spark, Sparql.Dataset.Quads(q2),
      """PREFIX : <>
        |SELECT ?s WHERE { GRAPH ?g { ?s :p ?s } }""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("a")
  }

  private def allQuads(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      if (r.isNullAt(3)) null else r.getString(3))).toSet

  "updateQuads" should "insert and delete ground quads per graph" in {
    val out = Sparql.updateQuads(spark, quads,
      """PREFIX : <>
        |INSERT DATA { <y> :type "Extra" . GRAPH <g3> { <c> :p "7" } } ;
        |DELETE DATA { <x> :in "g1" . GRAPH <g1> { <a> :q "2" } }""".stripMargin)
    val got = allQuads(out)
    got should contain allOf (
      ("y", "type", "Extra", null),      // default-graph insert
      ("c", "p", "7", "g3"))             // named-graph insert
    got.contains(("a", "q", "2", "g1")) shouldBe false
    got.contains(("x", "in", "g1", null)) shouldBe false
    got.size shouldBe quads.count() + 2 - 2
  }

  it should "apply set semantics to re-inserts" in {
    val out = Sparql.updateQuads(spark, quads,
      """PREFIX : <>
        |INSERT DATA { GRAPH <g1> { <a> :p "1" } . <x> :in "g1" }""".stripMargin)
    out.count() shouldBe quads.count() // both already present
  }

  it should "clear and drop graph targets" in {
    Sparql.updateQuads(spark, quads, "CLEAR GRAPH <g1>")
      .where(col("g") === "g1").count() shouldBe 0
    Sparql.updateQuads(spark, quads, "CLEAR DEFAULT")
      .where(col("g").isNull).count() shouldBe 0
    Sparql.updateQuads(spark, quads, "DROP NAMED")
      .collect().forall(_.isNullAt(3)) shouldBe true
    Sparql.updateQuads(spark, quads, "CLEAR ALL").count() shouldBe 0
    // CREATE is a no-op on a relation-backed dataset
    Sparql.updateQuads(spark, quads, "CREATE GRAPH <gz>").count() shouldBe
      quads.count()
  }

  it should "COPY, MOVE, and ADD between graphs" in {
    // COPY overwrites the target with the source
    val copied = Sparql.updateQuads(spark, quads, "COPY GRAPH <g1> TO GRAPH <g2>")
    allQuads(copied.where(col("g") === "g2")) shouldBe Set(
      ("a", "p", "1", "g2"), ("a", "q", "2", "g2"))
    // MOVE also drops the source
    val moved = Sparql.updateQuads(spark, quads, "MOVE GRAPH <g1> TO GRAPH <g2>")
    moved.where(col("g") === "g1").count() shouldBe 0
    allQuads(moved.where(col("g") === "g2")) shouldBe Set(
      ("a", "p", "1", "g2"), ("a", "q", "2", "g2"))
    // ADD merges under set semantics: (a :p 1) collides with g2's copy
    // only on (s,p,o) when values match — here (a,p,1) vs (b,p,1) differ
    val added = Sparql.updateQuads(spark, quads, "ADD GRAPH <g1> TO GRAPH <g2>")
    allQuads(added.where(col("g") === "g2")) shouldBe Set(
      ("b", "p", "1", "g2"), ("a", "p", "9", "g2"),
      ("a", "p", "1", "g2"), ("a", "q", "2", "g2"))
    // DEFAULT endpoints work too
    val toDefault = Sparql.updateQuads(spark, quads, "ADD GRAPH <g1> TO DEFAULT")
    toDefault.where(col("g").isNull).count() shouldBe 4 // 2 existing + 2 added
  }

  it should "run ops sequentially, each seeing the previous result" in {
    val out = Sparql.updateQuads(spark, quads,
      """INSERT DATA { GRAPH <g3> { <c> <p> "7" } } ;
        |COPY GRAPH <g3> TO GRAPH <g4> ;
        |DELETE DATA { GRAPH <g3> { <c> <p> "7" } }""".stripMargin)
    allQuads(out.where(col("g").isin("g3", "g4"))) shouldBe Set(
      ("c", "p", "7", "g4"))
  }

  it should "rename a predicate inside a WITH graph" in {
    val out = Sparql.updateQuads(spark, quads,
      """WITH <g1> DELETE { ?s <q> ?o } INSERT { ?s <q2> ?o }
        |WHERE { ?s <q> ?o }""".stripMargin)
    allQuads(out.where(col("g") === "g1")) shouldBe Set(
      ("a", "p", "1", "g1"), ("a", "q2", "2", "g1"))
  }

  it should "DELETE WHERE across graphs with a variable GRAPH" in {
    val out = Sparql.updateQuads(spark, quads,
      """DELETE WHERE { GRAPH ?g { ?s <p> "1" } }""")
    allQuads(out).count(_._3 == "1") shouldBe 0 // gone from g1 AND g2
    out.count() shouldBe quads.count() - 2
    // the default graph is untouched (its rows match no GRAPH pattern)
    out.where(col("g").isNull).count() shouldBe 2
  }

  it should "INSERT into the solution's graph via a GRAPH ?g target" in {
    val out = Sparql.updateQuads(spark, quads,
      """INSERT { GRAPH ?g { ?s <seen> "y" } }
        |WHERE { GRAPH ?g { ?s <p> "1" } }""".stripMargin)
    allQuads(out).filter(_._2 == "seen") shouldBe Set(
      ("a", "seen", "y", "g1"), ("b", "seen", "y", "g2"))
  }

  it should "modify across graphs: default-graph WHERE, named target" in {
    val out = Sparql.updateQuads(spark, quads,
      """INSERT { GRAPH <meta> { ?s <from> ?o } }
        |WHERE { ?s <in> ?o }""".stripMargin)
    allQuads(out.where(col("g") === "meta")) shouldBe Set(
      ("x", "from", "g1", "meta"))
  }

  it should "apply DELETE before INSERT from the same solutions" in {
    // re-inserting the deleted quad under set semantics must survive
    val out = Sparql.updateQuads(spark, quads,
      """WITH <g1> DELETE { ?s <p> ?o } INSERT { ?s <p> ?o }
        |WHERE { ?s <p> ?o }""".stripMargin)
    allQuads(out) shouldBe allQuads(quads)
  }

  it should "reject variable GRAPH targets in ground data clearly" in {
    an[IllegalArgumentException] should be thrownBy
      Sparql.updateQuads(spark, quads,
        """INSERT DATA { GRAPH ?g { <a> <p> "1" } }""")
  }

  it should "round-trip with executeQuads" in {
    val out = Sparql.updateQuads(spark, quads,
      "MOVE GRAPH <g2> TO GRAPH <g9> ; CLEAR GRAPH <g1>")
    Sparql.execute(spark, Sparql.Dataset.Quads(out),
      """PREFIX : <>
        |SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }
        |GROUP BY ?g ORDER BY ?g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq shouldBe
      Seq(("g9", 2L))
  }

  // ---- full algebra inside GRAPH blocks (§13.3 over the whole grammar) ----

  "GRAPH-block algebra" should "run OPTIONAL inside a constant GRAPH" in {
    // in g1, a has both :p and :q; nothing else has :p there
    run("""PREFIX : <>
          |SELECT ?s ?x WHERE { GRAPH <g2> { ?s :p ?o OPTIONAL { ?s :q ?x } } }""".stripMargin) shouldBe
      Set(Seq("b", null), Seq("a", null))
    run("""PREFIX : <>
          |SELECT ?s ?x WHERE { GRAPH <g1> { ?s :p ?o OPTIONAL { ?s :q ?x } } }""".stripMargin) shouldBe
      Set(Seq("a", "2"))
  }

  it should "run UNION and MINUS inside a constant GRAPH" in {
    run("""PREFIX : <>
          |SELECT ?s WHERE { GRAPH <g2> { { ?s :p "1" } UNION { ?s :p "9" } } }""".stripMargin) shouldBe
      Set(Seq("b"), Seq("a"))
    run("""PREFIX : <>
          |SELECT ?s WHERE { GRAPH <g2> { ?s :p ?o MINUS { ?s :p "9" } } }""".stripMargin) shouldBe
      Set(Seq("b"))
  }

  it should "run property paths inside a constant GRAPH" in {
    // alternation path: :p|:q inside g1
    run("""PREFIX : <>
          |SELECT ?o WHERE { GRAPH <g1> { <a> :p|:q ?o } }""".stripMargin) shouldBe
      Set(Seq("1"), Seq("2"))
  }

  it should "run a subquery inside a constant GRAPH" in {
    Sparql.execute(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |SELECT ?s ?n WHERE { GRAPH <g1> {
        |  ?s :q ?v . { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s :p ?o } GROUP BY ?s }
        |} }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet shouldBe
      Set(("a", 1L))
  }

  it should "run OPTIONAL inside a variable GRAPH, confined per graph" in {
    // :q exists only in g1 — the g2 match for a must NOT pick it up
    run("""PREFIX : <>
          |SELECT ?g ?s ?x WHERE { GRAPH ?g { ?s :p ?o OPTIONAL { ?s :q ?x } } }""".stripMargin) shouldBe
      Set(Seq("g1", "a", "2"), Seq("g2", "b", null), Seq("g2", "a", null))
  }

  it should "run UNION inside a variable GRAPH with per-branch confinement" in {
    run("""PREFIX : <>
          |SELECT ?g ?s WHERE { GRAPH ?g { { ?s :q "2" } UNION { ?s :p "9" } } }""".stripMargin) shouldBe
      Set(Seq("g1", "a"), Seq("g2", "a"))
  }

  it should "run MINUS and EXISTS inside a variable GRAPH" in {
    // graphs where some ?s has :p but not :q in the SAME graph
    run("""PREFIX : <>
          |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p ?o MINUS { ?s :q ?x } } }""".stripMargin) shouldBe
      Set(Seq("g2", "b"), Seq("g2", "a"))
    run("""PREFIX : <>
          |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p ?o FILTER EXISTS { ?s :q ?x } } }""".stripMargin) shouldBe
      Set(Seq("g1", "a"))
  }

  it should "join VALUES inside a variable GRAPH" in {
    run("""PREFIX : <>
          |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p ?o VALUES ?o { "9" } } }""".stripMargin) shouldBe
      Set(Seq("g2", "a"))
  }

  it should "evaluate alternation from a bound subject under a variable GRAPH" in {
    run("""PREFIX : <>
          |SELECT ?g ?o WHERE { GRAPH ?g { <a> :p|:q ?o } }""".stripMargin) shouldBe
      Set(Seq("g1", "1"), Seq("g1", "2"), Seq("g2", "9"))
  }

  // ---- ASK / CONSTRUCT / DESCRIBE over the quad dataset ----

  "quad query forms" should "answer ASK with GRAPH blocks and dataset clauses" in {
    Sparql.ask(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |ASK { GRAPH ?g { ?s :p "9" } }""".stripMargin) shouldBe true
    Sparql.ask(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |ASK { GRAPH ?g { ?s :p "77" } }""".stripMargin) shouldBe false
    // FROM NAMED restricts the GRAPH-visible set: :p 9 lives in g2 only
    Sparql.ask(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |ASK FROM NAMED <g1> { GRAPH ?g { ?s :p "9" } }""".stripMargin) shouldBe false
    // FROM merges a named graph into the default graph
    Sparql.ask(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |ASK FROM <g2> { ?s :p "9" }""".stripMargin) shouldBe true
  }

  it should "CONSTRUCT a plain graph from graph-confined matches" in {
    val g = Sparql.construct(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |CONSTRUCT { ?s :from ?g } WHERE { GRAPH ?g { ?s :p "1" } }""".stripMargin)
    g.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet shouldBe Set(("a", "from", "g1"), ("b", "from", "g2"))
    g.columns.toSeq shouldBe Seq("s", "p", "o") // a graph, not a quad set
  }

  it should "reject a SERVICE block in a CONSTRUCT template on both quad paths" in {
    // a template instantiates triple patterns only: a SERVICE there
    // cannot add triples, so it is rejected rather than ignored
    val (enc, dict) = graft.store.TripleStore.encodeQuads(quads)
    val q =
      """PREFIX : <>
        |CONSTRUCT { ?s :from ?g . SERVICE <graft://endpoints/none> { ?s :x ?g } }
        |WHERE { GRAPH ?g { ?s :p "1" } }""".stripMargin
    Seq(Sparql.Dataset.Quads(quads), Sparql.Dataset.QuadsEncoded(enc, dict))
      .foreach { ds =>
        intercept[IllegalArgumentException](Sparql.construct(spark, ds, q))
          .getMessage should include ("only triple patterns")
      }
  }

  it should "DESCRIBE across the merged dataset" in {
    // a's triples span g1 and g2; the CBD merges both named graphs
    Sparql.describe(spark, Sparql.Dataset.Quads(quads), "DESCRIBE <a>")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet shouldBe Set(("a", "p", "1"), ("a", "q", "2"), ("a", "p", "9"))
    // WHERE-resolved subjects via a GRAPH block
    Sparql.describe(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |DESCRIBE ?s WHERE { GRAPH <g2> { ?s :p "1" } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet shouldBe Set(("b", "p", "1"))
  }

  it should "reject dataset clauses on the single-graph DESCRIBE path" in {
    val triples = quads.where(col("g").isNull).select("s", "p", "o")
    an[IllegalArgumentException] should be thrownBy
      Sparql.describe(spark, Sparql.Dataset.Triples(triples), "DESCRIBE <x> FROM <g1>")
  }

  it should "evaluate non-closure property paths under a VARIABLE graph" in {
    // two-hop chain lives entirely in g3; a cross-graph a->m / m->z pair
    // (g1 then g2) must NOT match — the (mid, g) join confines the path
    val chained = quads.unionByName(Seq(
      ("a", "p", "m", "g3"), ("m", "p", "z", "g3"),
      ("a", "p", "m", "g1"), ("m", "p", "z", "g2")
    ).toDF("s", "p", "o", "g"))
    Sparql.execute(spark, Sparql.Dataset.Quads(chained),
      """PREFIX : <>
        |SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x :p/:p ?y } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet shouldBe Set(("g3", "a", "z"))
    // alternation + inverse carry the graph column too
    Sparql.execute(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |SELECT ?g ?v WHERE { GRAPH ?g { "1" ^(:p|:q) ?v } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .toSet shouldBe Set(("g1", "a"), ("g2", "b"))
  }

  "persistQuads" should "write a graph-partitioned layout that prunes constant-GRAPH scans" in {
    val out = "target/tmp-quads"
    graft.store.TripleStore.persistQuads(quads, out)
    val reopened = graft.store.TripleStore.openQuads(spark, out)
    // content round-trips, default graph included (null partition)
    reopened.collect().map(r => (r.getString(0), r.getString(3))).toSet shouldBe
      quads.collect().map(r => (r.getString(0), r.getString(3))).toSet
    // a constant GRAPH target scans ONE graph directory: the g filter
    // lands in PartitionFilters (directory pruning), not data filters
    val res = Sparql.execute(spark, Sparql.Dataset.Quads(reopened),
      """PREFIX : <>
        |SELECT ?s ?o WHERE { GRAPH <g2> { ?s :p ?o } }""".stripMargin)
    val plan = res.queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[[^\\]]*g2"
    res.collect().map(_.getString(0)).toSet shouldBe Set("a", "b")
  }

  it should "evaluate subqueries per graph under a variable target" in {
    // §13.3: a subquery INSIDE GRAPH ?g evaluates once per active graph
    // — the aggregate counts each graph's own :p triples
    def runAny(q: String): Set[Seq[String]] =
      Sparql.execute(spark, Sparql.Dataset.Quads(quads), q).collect()
        .map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.get(i).toString): Seq[String]).toSet
    runAny("""PREFIX : <>
          |SELECT ?g ?cnt WHERE {
          |  GRAPH ?g { { SELECT (COUNT(?s) AS ?cnt) WHERE { ?s :p ?o } } }
          |}""".stripMargin) shouldBe Set(Seq("g1", "1"), Seq("g2", "2"))
    // with GROUP BY keys, per (key, graph) groups
    runAny("""PREFIX : <>
          |SELECT ?g ?s ?n WHERE {
          |  GRAPH ?g { { SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s ?pp ?o } GROUP BY ?s } }
          |} ORDER BY ?g ?s""".stripMargin) shouldBe
      Set(Seq("g1", "a", "2"), Seq("g2", "b", "1"), Seq("g2", "a", "1"))
  }

  it should "scope nested GRAPH independently of the enclosing block" in {
    // inner GRAPH <g2> re-scopes: pairs (?a in ?g) with (?b :p same o in g2)
    run("""PREFIX : <>
          |SELECT ?g ?a ?b WHERE {
          |  GRAPH ?g { ?a :p "1" GRAPH <g2> { ?b :p "1" } }
          |} ORDER BY ?g""".stripMargin) shouldBe
      Set(Seq("g1", "a", "b"), Seq("g2", "b", "b"))
  }

  it should "slice LIMIT/OFFSET per active graph in a variable-GRAPH subquery" in {
    // g1 holds {a p 1}, g2 holds {b p 1, a p 9}: LIMIT 1 ordered by ?o ?s
    // keeps the smallest (o, s) row of EACH graph — not one global row
    run("""PREFIX : <>
          |SELECT ?g ?s ?o WHERE {
          |  GRAPH ?g {
          |    { SELECT ?s ?o WHERE { ?s :p ?o } ORDER BY ?o ?s LIMIT 1 }
          |  }
          |}""".stripMargin) shouldBe
      Set(Seq("g1", "a", "1"), Seq("g2", "b", "1"))
    // OFFSET skips per graph too: g1 exhausts, g2 yields its second row
    run("""PREFIX : <>
          |SELECT ?g ?s ?o WHERE {
          |  GRAPH ?g {
          |    { SELECT ?s ?o WHERE { ?s :p ?o } ORDER BY ?o ?s LIMIT 1 OFFSET 1 }
          |  }
          |}""".stripMargin) shouldBe Set(Seq("g2", "a", "9"))
    // keyless LIMIT: deterministic all-column order, one row per graph
    run("""PREFIX : <>
          |SELECT ?g ?s WHERE {
          |  GRAPH ?g { { SELECT ?s WHERE { ?s :p ?o } LIMIT 2 } }
          |}""".stripMargin) shouldBe
      Set(Seq("g1", "a"), Seq("g2", "a"), Seq("g2", "b"))
  }

  "updateQuadsEnc" should "match the string path across the update surface" in {
    def both(script: String): Unit = {
      val viaStrings = allQuads(Sparql.updateQuads(spark, quads, script))
      val (enc0, dict0) = graft.store.TripleStore.encodeQuads(quads)
      val (encOut, dictOut) = Sparql.updateQuadsEnc(spark, enc0, dict0, script)
      val dec = allQuads(graft.dict.Dictionary
        .decodeAll(encOut, dictOut, Seq("s", "p", "o", "g")))
      dec shouldBe viaStrings
    }
    // ground inserts extend the dictionary; deletes of absent terms no-op
    both("""PREFIX : <>
        |INSERT DATA { <y> :type "Extra" . GRAPH <g3> { <c> :p "7" } } ;
        |DELETE DATA { <x> :in "g1" . GRAPH <g1> { <a> :q "2" } . <zz> :nope "0" }"""
      .stripMargin)
    // set semantics on re-inserts
    both("""PREFIX : <>
        |INSERT DATA { GRAPH <g1> { <a> :p "1" } . <x> :in "g1" }""".stripMargin)
    // graph management (new graph labels enter the dictionary)
    both("COPY GRAPH <g1> TO GRAPH <gc> ; MOVE GRAPH <g2> TO GRAPH <gm> ; " +
      "ADD GRAPH <g1> TO DEFAULT")
    both("CLEAR GRAPH <g1> ; CLEAR DEFAULT ; CREATE GRAPH <gz>")
    // pattern modify: WITH rename, DELETE WHERE, GRAPH ?g insert target
    both("""WITH <g1> DELETE { ?s <q> ?o } INSERT { ?s <q2> ?o }
        |WHERE { ?s <q> ?o }""".stripMargin)
    both("""INSERT { GRAPH ?g { ?s <audit> "seen" } }
        |WHERE { GRAPH ?g { ?s <p> "1" } }""".stripMargin)
    both("DELETE WHERE { GRAPH <g2> { ?s <p> ?o } }")
    // sequential visibility
    both("""INSERT DATA { GRAPH <g3> { <c> <p> "7" } } ;
        |COPY GRAPH <g3> TO GRAPH <g4> ;
        |DELETE DATA { GRAPH <g3> { <c> <p> "7" } }""".stripMargin)
  }

  it should "reject value-typed template vars with a pointer to the string path" in {
    val (enc0, dict0) = graft.store.TripleStore.encodeQuads(quads)
    val e = intercept[IllegalArgumentException] {
      Sparql.updateQuadsEnc(spark, enc0, dict0,
        """INSERT { GRAPH <g9> { ?s <len> ?n } }
          |WHERE { GRAPH <g1> { ?s <p> ?o } BIND(STRLEN(?o) AS ?n) }"""
          .stripMargin)._1.count()
    }
    e.getMessage should include("updateQuads")
  }

  "updateQuads and updateQuadsEnc" should "reject blank nodes in every DELETE form" in {
    // SPARQL 1.1 Update §3.1: no blank nodes in DELETE DATA, DELETE WHERE
    // or a DELETE template, top-level or inside a GRAPH block
    val (enc0, dict0) = graft.store.TripleStore.encodeQuads(quads)
    Seq(
      "DELETE DATA { _:b <p> <o> }",
      "DELETE DATA { GRAPH <g1> { _:b <p> <o> } }",
      "DELETE WHERE { GRAPH <g1> { _:b <p> ?o } }",
      "DELETE { _:b <p> ?o } WHERE { ?s <p> ?o }"
    ).foreach { script =>
      withClue(script) {
        an[IllegalArgumentException] should be thrownBy
          Sparql.updateQuads(spark, quads, script).count()
        an[IllegalArgumentException] should be thrownBy
          Sparql.updateQuadsEnc(spark, enc0, dict0, script)._1.count()
      }
    }
  }

  "persistQuadsEnc/openQuadsEnc" should "answer identically through the reopened artifact" in {
    val d = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft_qenc").toString
    graft.store.GraftStore.persistQuadsEnc(spark, d, tmp)
    val (enc2, dict2) = graft.store.GraftStore.openQuadsEnc(spark, tmp)
    val (enc1, dict1) = graft.store.GraftStore.quadDatasetEnc(spark, d)
    val q = """SELECT ?g (COUNT(?s) AS ?cnt) WHERE { GRAPH ?g { ?s ?p ?o } }
              |GROUP BY ?g ORDER BY ?g""".stripMargin
    def rows(enc: org.apache.spark.sql.DataFrame,
             dict: org.apache.spark.sql.DataFrame) =
      Sparql.execute(spark, Sparql.Dataset.QuadsEncoded(enc, dict), q).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    rows(enc2, dict2) shouldBe rows(enc1, dict1)
  }

  "executeQuadsEncoded" should "match the string path across the quad algebra" in {
    val (enc, dict) = graft.store.TripleStore.encodeQuads(quads)
    def both(q: String): Set[Seq[String]] = {
      val viaStrings = Sparql.execute(spark, Sparql.Dataset.Quads(quads), q).collect()
        .map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.get(i).toString): Seq[String]).toSet
      val viaEnc = Sparql.execute(spark, Sparql.Dataset.QuadsEncoded(enc, dict), q).collect()
        .map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.get(i).toString): Seq[String]).toSet
      viaEnc shouldBe viaStrings
      viaStrings
    }
    // graph confinement + graph var binding
    both("""PREFIX : <>
            |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p "1" . ?s :q "2" } }""".stripMargin) should
      not be empty
    // constant target, full recursion
    both("""PREFIX : <>
            |SELECT ?s ?o WHERE { GRAPH <g2> { ?s :p ?o } }""".stripMargin) should
      not be empty
    // dataset clauses
    both("""PREFIX : <>
            |SELECT ?s WHERE { ?s :p "1" } FROM <g1> FROM NAMED <g2>""".stripMargin)
    // paths + closure under a variable target
    both("""PREFIX : <>
            |SELECT ?g ?v WHERE { GRAPH ?g { "1" ^(:p|:q) ?v } }""".stripMargin) should
      not be empty
    both("""PREFIX : <>
            |SELECT ?g ?y WHERE { GRAPH ?g { <a> :p+ ?y } }""".stripMargin) should
      not be empty
    // per-graph subquery aggregation
    both("""PREFIX : <>
            |SELECT ?g ?cnt WHERE {
            |  GRAPH ?g { { SELECT (COUNT(?s) AS ?cnt) WHERE { ?s :p ?o } } }
            |}""".stripMargin) should not be empty
    // OPTIONAL / MINUS / VALUES inside the block
    both("""PREFIX : <>
            |SELECT ?g ?s ?x WHERE {
            |  GRAPH ?g { ?s :p "1" OPTIONAL { ?s :q ?x } MINUS { ?s :q "9" } }
            |}""".stripMargin) should not be empty
    // a BIND target REUSED by a later pattern in the same variable-GRAPH
    // block: ?b is value-typed, so the later scan's ?b position demotes
    // to term strings at the source (the contaminated-var discipline)
    both("""PREFIX : <>
            |SELECT ?g ?s ?w WHERE {
            |  GRAPH ?g { ?s :p "1" . BIND(?s AS ?b) ?b :q ?w }
            |}""".stripMargin) should not be empty
    // id-space equality filters inside the block (encTermEqRewrite) and
    // on the graph var itself
    both("""PREFIX : <>
            |SELECT ?g ?s ?o WHERE {
            |  GRAPH ?g { ?s :p ?o FILTER(?o IN ("1", "9", "zzz")) }
            |  FILTER(?g = "g2")
            |}""".stripMargin) should not be empty
  }

  "the other encoded quad query forms" should "match their string twins" in {
    val (enc, dict) = graft.store.TripleStore.encodeQuads(quads)
    // ASK: encoded existence probes agree with the string path
    Sparql.ask(spark, Sparql.Dataset.QuadsEncoded(enc, dict),
      """PREFIX : <>
        |ASK { GRAPH ?g { ?s :p "1" . ?s :q "2" } }""".stripMargin) shouldBe
      Sparql.ask(spark, Sparql.Dataset.Quads(quads),
        """PREFIX : <>
          |ASK { GRAPH ?g { ?s :p "1" . ?s :q "2" } }""".stripMargin)
    Sparql.ask(spark, Sparql.Dataset.QuadsEncoded(enc, dict),
      "PREFIX : <>\nASK { GRAPH <g1> { ?s :p \"nope\" } }") shouldBe false
    // CONSTRUCT: the instantiated graphs are identical
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val cq =
      """PREFIX : <>
        |CONSTRUCT { ?s :inGraph ?g } WHERE { GRAPH ?g { ?s :p ?o } }""".stripMargin
    rows(Sparql.construct(spark, Sparql.Dataset.QuadsEncoded(enc, dict), cq)) shouldBe
      rows(Sparql.construct(spark, Sparql.Dataset.Quads(quads), cq))
    // DESCRIBE: the CBDs agree (incoming + outgoing edges of <a>)
    rows(Sparql.describe(spark, Sparql.Dataset.QuadsEncoded(enc, dict), "DESCRIBE <a>")) shouldBe
      rows(Sparql.describe(spark, Sparql.Dataset.Quads(quads), "DESCRIBE <a>"))
  }

  "updateQuads LOAD" should "load TriG with its own labels and Turtle INTO a graph" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-qload")
    try {
      java.nio.file.Files.writeString(dir.resolve("d.trig"),
        "@prefix : <n:> .\n:x :p :y .\nGRAPH :gT { :a :p :b . }\n")
      java.nio.file.Files.writeString(dir.resolve("t.ttl"),
        "@prefix : <n:> .\n:c :p :d .\n")
      val afterTrig = Sparql.updateQuads(spark, quads,
        s"LOAD <${dir.resolve("d.trig")}>")
      val rowsT = afterTrig.collect()
        .map(r => (r.getString(0), r.getString(3))).toSet
      rowsT should contain(("n:x", null)) // TriG default-graph row
      rowsT should contain(("n:a", "n:gT")) // TriG named block kept its label
      // Turtle INTO GRAPH <g2>: triples land in g2
      val afterTtl = Sparql.updateQuads(spark, quads,
        s"LOAD <${dir.resolve("t.ttl")}> INTO GRAPH <g2>")
      afterTtl.collect().map(r => (r.getString(0), r.getString(3))).toSet should
        contain(("n:c", "g2"))
      // idempotent: re-loading adds nothing (set semantics)
      val twice = Sparql.updateQuads(spark, afterTrig,
        s"LOAD <${dir.resolve("d.trig")}>")
      twice.count() shouldBe afterTrig.count()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  it should "run closures per graph under a variable target" in {
    // chain a->m->z in g3 only; a->m in g1, m->z in g2 (cross-graph, must
    // NOT close); the one fixpoint job serves all graphs
    val chained = quads.unionByName(Seq(
      ("a", "p", "m", "g3"), ("m", "p", "z", "g3"),
      ("a", "p", "m", "g4"), ("m", "p", "z", "g5")
    ).toDF("s", "p", "o", "g"))
    Sparql.execute(spark, Sparql.Dataset.Quads(chained),
      """PREFIX : <>
        |SELECT ?g ?y WHERE { GRAPH ?g { <a> :p+ ?y } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
      .toSet shouldBe Set(
        ("g1", "1"), ("g2", "9"),                   // single hops
        ("g3", "m"), ("g3", "z"),                   // real 2-hop closure
        ("g4", "m"))                                // g4/g5 never stitch
    // constant targets keep recursing through the full compiler
    run("""PREFIX : <>
          |SELECT ?x WHERE { GRAPH <g1> { ?x :p+ ?y } }""".stripMargin) shouldBe
      Set(Seq("a"))
  }
}
