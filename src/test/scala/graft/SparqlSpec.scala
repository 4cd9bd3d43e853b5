package graft

import graft.sparql.Sparql

/** Mirrors the reference's SPARQL end-to-end tests
  * (sparql/src/test/scala/com/graphula/sparql/SparqlSpec.scala:15-62):
  * 2-hop pattern query and a failing existence check, on the same graph
  * fixture as BgpSpec, plus modifier coverage the reference delegates to
  * Jena (FILTER/OPTIONAL/UNION/DISTINCT/ORDER/LIMIT).
  */
class SparqlSpec extends SparkSpec {
  import spark.implicits._

  lazy val triples = Seq(
    ("1", "2", "3"), ("3", "4", "5"), ("3", "4", "6"),
    ("5", "2", "5"), ("6", "2", "5")
  ).toDF("s", "p", "o")

  def run(q: String): Seq[Seq[String]] =
    Sparql.execute(spark, Sparql.Dataset.Triples(triples), q).collect()
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) null else r.getString(i)))
      .toSeq

  "Sparql.execute" should "answer a 2-hop pattern query" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?a ?c WHERE { ?a :2 ?b . ?b :4 ?c } ORDER BY ?c""".stripMargin)
    res shouldBe Seq(Seq("1", "5"), Seq("1", "6"))
    // a single graph has no dataset to slice: FROM is rejected, not ignored
    intercept[IllegalArgumentException](run(
      """PREFIX : <>
        |SELECT ?a ?c FROM <g1> WHERE { ?a :2 ?b . ?b :4 ?c }""".stripMargin))
      .getMessage should include ("need a quad dataset")
  }

  it should "return empty on a failing existence check" in {
    run("""PREFIX : <>
          |SELECT ?a WHERE { ?a :2 ?b . "1" :99 "99" }""".stripMargin) shouldBe empty
  }

  it should "evaluate XPath constructor casts with error -> NULL" in {
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?i ?b ?bad WHERE {
        |  "1" :2 ?y .
        |  BIND(xsd:integer("7.9") AS ?i)     # truncates toward zero
        |  BIND(xsd:boolean("1") AS ?b)
        |  BIND(xsd:integer("nope") AS ?bad)  # cast error -> NULL
        |}""".stripMargin)
      .collect().map(_.toSeq).toSeq
    res shouldBe Seq(Seq(7L, true, null))
  }

  it should "apply numeric FILTER with casts" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . FILTER (?y >= 5) } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("5"), Seq("6")) // (5,2,5) and (6,2,5)
  }

  it should "apply string FILTER without casts" in {
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :2 ?y . FILTER (?y = "3") }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
  }

  it should "answer UNION with bag semantics" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { { ?x :2 "3" } UNION { ?x :4 "5" } } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1"), Seq("3"))
  }

  it should "answer OPTIONAL with nulls for unmatched" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?z WHERE { ?x :2 ?y . OPTIONAL { ?x :4 ?z } } ORDER BY ?x""".stripMargin)
    // subjects with p=2: 1, 5, 6 — none has p=4 edges except via other nodes
    res shouldBe Seq(Seq("1", null), Seq("5", null), Seq("6", null))
  }

  it should "apply DISTINCT, ORDER BY DESC and LIMIT" in {
    val res = run(
      """PREFIX : <>
        |SELECT DISTINCT ?y WHERE { ?x :2 ?y } ORDER BY DESC(?y) LIMIT 2""".stripMargin)
    res shouldBe Seq(Seq("5"), Seq("3"))
  }

  it should "support REGEX filters" in {
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :4 ?y . FILTER (REGEX(?y, "^5$")) }""".stripMargin)
      .shouldBe(Seq(Seq("3")))
  }

  it should "subtract solutions with MINUS" in {
    // subjects with p=2, minus those whose object is 5 -> only 1
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . MINUS { ?x :2 "5" } } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1"))
  }

  it should "constrain bindings with VALUES" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 ?y . VALUES ?x { "5" "6" } } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("5", "5"), Seq("6", "5"))
  }

  it should "apply a trailing ValuesClause after the modifiers" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 ?y } ORDER BY ?x VALUES ?x { "5" "6" }""".stripMargin)
    res shouldBe Seq(Seq("5", "5"), Seq("6", "5"))
  }

  it should "join a trailing ValuesClause AFTER aggregation" in {
    // groups: y=3 (n=1), y=5 (n=2); the trailing block filters the
    // aggregated solutions (§18.2.4.4 runs after §18.2.4.2)
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?y (COUNT(?x) AS ?n) WHERE { ?x :2 ?y }
        |GROUP BY ?y VALUES ?y { "5" }""".stripMargin)
      .collect().map(r => Seq(r.getString(0), r.getLong(1))).toSeq
    res shouldBe Seq(Seq("5", 2L))
  }

  it should "treat UNDEF wildcards in a trailing ValuesClause" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 ?y }
        |ORDER BY ?x VALUES (?x ?y) { ("5" UNDEF) (UNDEF "3") }""".stripMargin)
    res shouldBe Seq(Seq("1", "3"), Seq("5", "5"))
  }

  it should "support inverse members in negated property sets" in {
    // pure inverse: reversed edges whose predicate is not :2 -> the :4 edges
    run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x !(^:2) ?y } ORDER BY ?x ?y""".stripMargin) shouldBe
      Seq(Seq("5", "3"), Seq("6", "3"))
    // mixed: forward edges with p != :2 plus reversed edges with p != :4
    run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x !(:2|^:4) ?y } ORDER BY ?x ?y""".stripMargin) shouldBe
      Seq(Seq("3", "1"), Seq("3", "5"), Seq("3", "6"), Seq("5", "5"), Seq("5", "6"))
  }

  it should "sort numerically via an expression ORDER BY key" in {
    // plain ORDER BY ?x is serialized-term order ("10" < "9", the oracle
    // convention); the numeric-grammar expression key sorts by value
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { VALUES ?x { "10" "9" "2" } } ORDER BY (?x * 1)""".stripMargin)
    res shouldBe Seq(Seq("2"), Seq("9"), Seq("10"))
    val lex = run(
      """PREFIX : <>
        |SELECT ?x WHERE { VALUES ?x { "10" "9" "2" } } ORDER BY ?x""".stripMargin)
    lex shouldBe Seq(Seq("10"), Seq("2"), Seq("9"))
  }

  it should "compile a group that is only a VALUES block" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { VALUES (?x ?y) { ("a" "b") ("c" "d") } }
        |ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("a", "b"), Seq("c", "d"))
  }

  it should "accept a trailing ValuesClause on ASK" in {
    Sparql.ask(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |ASK { ?x :2 ?y } VALUES ?y { "5" }""".stripMargin) shouldBe true
    Sparql.ask(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |ASK { ?x :2 ?y } VALUES ?y { "99" }""".stripMargin) shouldBe false
  }

  it should "accept a trailing ValuesClause on CONSTRUCT" in {
    val res = Sparql.construct(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |CONSTRUCT { ?x :tagged "yes" } WHERE { ?x :2 ?y } VALUES ?x { "5" }""".stripMargin)
      .collect().map(_.toSeq).toSeq
    res shouldBe Seq(Seq("5", "tagged", "yes"))
  }

  it should "never join sibling groups on internal path-midpoint vars" in {
    // outer path mid is 3; inner mids are 5 and 6 — a per-group fresh
    // counter would name both `__pv0` and the group join would wrongly
    // constrain them equal (0 rows). Correct: no shared NAMED vars, so
    // the groups cross-join: 2 outer x 2 inner solutions.
    val res = run(
      """PREFIX : <>
        |SELECT ?a ?c ?x ?y WHERE {
        |  { ?a :2/:4 ?c } { ?x :4/:2 ?y }
        |} ORDER BY ?c ?x""".stripMargin)
    res should have size 4
    res.map(_.take(2)).toSet shouldBe Set(Seq("1", "5"), Seq("1", "6"))
  }

  it should "aggregate over the DISTINCT value set for SUM and AVG" in {
    // objects of :2 are 3, 5, 5 -> distinct {3, 5}
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT (SUM(DISTINCT ?o) AS ?s) (AVG(DISTINCT ?o) AS ?a)
        |  (SUM(?o) AS ?sa) WHERE { ?x :2 ?o }""".stripMargin)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    res.head shouldBe ((8.0, 4.0, 13.0))
  }

  it should "dedup COUNT, SUM and AVG DISTINCT in ONE domain: the RDF term (§18.5.1)" in {
    // "1", "01" and "1.0" are THREE distinct terms denoting one number.
    // SPARQL §18.5.1 Distinct removes duplicate TERMS, so all three
    // aggregates see a 3-member set: COUNT=3, SUM=3, AVG=1 — mixing
    // term-dedup COUNT with value-dedup SUM would give COUNT=3 / SUM=1.
    val t = Seq(("a", "v", "1"), ("b", "v", "01"), ("c", "v", "1.0"),
      ("d", "v", "01"))
      .toDF("s", "p", "o")
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(t),
      """PREFIX : <>
        |SELECT (COUNT(DISTINCT ?o) AS ?c) (SUM(DISTINCT ?o) AS ?s)
        |  (AVG(DISTINCT ?o) AS ?a)
        |WHERE { ?x :v ?o }""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    res.head shouldBe ((3L, 3.0, 1.0))
    // same query, encoded store: identical domain discipline
    val store = graft.store.GraftStore.ingestTriples(spark, t)
    val enc = graft.sparql.Sparql.execute(spark, store,
      """PREFIX : <>
        |SELECT (COUNT(DISTINCT ?o) AS ?c) (SUM(DISTINCT ?o) AS ?s)
        |  (AVG(DISTINCT ?o) AS ?a)
        |WHERE { ?x :v ?o }""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    enc.head shouldBe ((3L, 3.0, 1.0))
  }

  it should "reject a lone non-bracket subject as a parse error" in {
    an[IllegalArgumentException] should be thrownBy Sparql.parse(
      """PREFIX : <>
        |SELECT * WHERE { ?x :2 ?y . ?z }""".stripMargin)
    an[IllegalArgumentException] should be thrownBy Sparql.parse(
      """PREFIX : <> SELECT * WHERE { "x" }""")
  }

  it should "include trailing-VALUES-only variables in SELECT *" in {
    val res = run(
      """PREFIX : <>
        |SELECT * WHERE { ?x :2 "3" } VALUES ?tag { "t1" "t2" }""".stripMargin)
    res.toSet shouldBe Set(Seq("1", "t1"), Seq("1", "t2"))
  }

  it should "apply a subquery's trailing VALUES before its projection" in {
    // ?b is NOT projected: the inner ValuesClause must restrict the
    // subquery (§18.2.4.4), not cross-join-extend the enclosing group
    run("""PREFIX : <>
          |SELECT ?c WHERE { { SELECT ?c WHERE { ?b :4 ?c } VALUES ?b { "99" } } }""".stripMargin)
      .shouldBe(empty)
    val res = run(
      """PREFIX : <>
        |SELECT ?c WHERE { { SELECT ?c WHERE { ?b :4 ?c } VALUES ?b { "3" } } }
        |ORDER BY ?c""".stripMargin)
    res shouldBe Seq(Seq("5"), Seq("6"))
  }

  it should "treat [ ... ] blank property lists as fresh hidden variables" in {
    // object position: ?x :2 [ :4 "5" ]  ==  ?x :2 ?b . ?b :4 "5"
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 [ :4 "5" ] } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1")) // 1 -:2-> 3 -:4-> 5
    // subject position, standalone, with a po-list inside
    val res2 = run(
      """PREFIX : <>
        |SELECT ?o WHERE { [ :2 "3" ; :9 ?z ] . "3" :4 ?o } ORDER BY ?o""".stripMargin)
    res2 shouldBe empty // the blank needs BOTH predicates; :9 matches nothing
    val res3 = run(
      """PREFIX : <>
        |SELECT ?o WHERE { [ :2 "3" ] . "3" :4 ?o } ORDER BY ?o""".stripMargin)
    res3 shouldBe Seq(Seq("5"), Seq("6"))
  }

  it should "hide internal variables from SELECT *" in {
    val df = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT * WHERE { ?x :2 [ :4 ?y ] }""".stripMargin)
    df.columns.toSeq.sorted shouldBe Seq("x", "y")
  }

  it should "expand sequence property paths" in {
    // ?a :2/:4 ?c == { ?a :2 ?m . ?m :4 ?c }
    val res = run(
      """PREFIX : <>
        |SELECT ?a ?c WHERE { ?a :2/:4 ?c } ORDER BY ?c""".stripMargin)
    res shouldBe Seq(Seq("1", "5"), Seq("1", "6"))
  }

  it should "compute transitive closure for p+" in {
    // graph has 1-2->3, 5-2->5, 6-2->5; p=2 closure from 1: {3}, from 6: {5}
    // and 5-2->5 self-loop stays
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { "1" :2 + ?x }""".stripMargin)
    res shouldBe Seq(Seq("3"))
    val res2 = run(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 + "5" } ORDER BY ?x""".stripMargin)
    res2 shouldBe Seq(Seq("5"), Seq("6"))
  }

  it should "produce identical results on the string and encoded stores" in {
    val q =
      """PREFIX : <>
        |SELECT ?c ?n WHERE { ?c :nationkey ?n . ?n :regionkey ?r . ?r :name "ASIA" }
        |ORDER BY ?c ?n""".stripMargin
    val st = graft.store.GraftStore.forDir(spark, sfDir)
    val viaStrings = Sparql.execute(spark, Sparql.Dataset.Triples(st.triples, st.stats), q)
      .collect().map(_.toSeq).toSeq
    val viaEncoded = Sparql.execute(spark, st, q)
      .collect().map(_.toSeq).toSeq
    viaEncoded shouldBe viaStrings
    viaStrings should not be empty
  }

  it should "aggregate with GROUP BY and COUNT" in {
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?y (COUNT(?x) AS ?n) WHERE { ?x :2 ?y } GROUP BY ?y ORDER BY ?y""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    res shouldBe Seq(("3", 1L), ("5", 2L)) // objects of p=2: 3<-1, 5<-{5,6}
  }

  it should "aggregate globally without GROUP BY" in {
    val n = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT (COUNT(*) AS ?n) WHERE { ?x :2 ?y }""".stripMargin)
      .head().getLong(0)
    n shouldBe 3L
  }

  it should "compute MIN/MAX/AVG over numeric terms" in {
    val r = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT (MIN(?y) AS ?mn) (MAX(?y) AS ?mx) (AVG(?y) AS ?av)
        |WHERE { ?x :2 ?y }""".stripMargin).head()
    r.getString(0) shouldBe "3" // lexicographic MIN over string terms
    r.getString(1) shouldBe "5"
    r.getDouble(2) shouldBe (13.0 / 3.0) +- 1e-9
  }

  it should "apply OFFSET after ORDER BY" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?y WHERE { ?x :2 ?y } ORDER BY ?y OFFSET 1 LIMIT 1""".stripMargin)
    res shouldBe Seq(Seq("5")) // sorted objects: 3, 5, 5 -> skip 1, take 1
  }

  it should "compute a derived binding with BIND" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?l WHERE { ?x :2 ?y . BIND(CONCAT("v-", ?y) AS ?l) }
        |ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1", "v-3"), Seq("5", "v-5"), Seq("6", "v-5"))
  }

  it should "support negation by failure via OPTIONAL + !BOUND" in {
    // y=3 (from x=1) has :4 edges; y=5 (from x=5,6) has none
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE {
        |  ?x :2 ?y . OPTIONAL { ?y :4 ?z } FILTER (!BOUND(?z))
        |} ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("5"), Seq("6"))
  }

  it should "filter with EXISTS and NOT EXISTS" in {
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :2 ?y . FILTER EXISTS { ?y :4 ?w } }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :2 ?y . FILTER NOT EXISTS { ?y :4 ?w } }
          |ORDER BY ?x""".stripMargin)
      .shouldBe(Seq(Seq("5"), Seq("6")))
  }

  it should "evaluate EXISTS in expression position inside FILTER" in {
    // EXISTS as one operand of a disjunction: x=1 passes via the
    // existence arm (3 has :4 edges), x=6 passes via the comparison arm
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE {
        |  ?x :2 ?y . FILTER(EXISTS { ?y :4 ?w } || ?x = "6")
        |} ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1"), Seq("6"))
  }

  it should "evaluate NOT EXISTS in expression position" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE {
        |  ?x :2 ?y . FILTER(NOT EXISTS { ?y :4 ?w } && ?x != "6")
        |} ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("5"))
  }

  it should "evaluate EXISTS inside IF in a BIND" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?k WHERE {
        |  ?x :2 ?y . BIND(IF(EXISTS { ?y :4 ?w }, "hub", "leaf") AS ?k)
        |} ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1", "hub"), Seq("5", "leaf"), Seq("6", "leaf"))
  }

  it should "treat a disjoint EXISTS group as a global emptiness probe" in {
    // no shared vars: the inner group's (non)emptiness decides per row
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :2 ?y . FILTER(EXISTS { ?a :4 ?b } && ?x = "1") }
          |""".stripMargin)
      .shouldBe(Seq(Seq("1")))
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :2 ?y . FILTER(EXISTS { ?a :99 ?b } || ?x = "1") }
          |""".stripMargin)
      .shouldBe(Seq(Seq("1")))
  }

  it should "evaluate path alternation with bag semantics" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2|:4 ?y } ORDER BY ?x ?y""".stripMargin)
    res shouldBe Seq(Seq("1", "3"), Seq("3", "5"), Seq("3", "6"),
      Seq("5", "5"), Seq("6", "5"))
  }

  it should "evaluate inverse paths" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x ^:2 ?y } ORDER BY ?x ?y""".stripMargin)
    res shouldBe Seq(Seq("3", "1"), Seq("5", "5"), Seq("5", "6"))
  }

  it should "evaluate zero-or-more and zero-or-one closures" in {
    run("""PREFIX : <>
          |SELECT ?x WHERE { "1" :2 * ?x } ORDER BY ?x""".stripMargin)
      .shouldBe(Seq(Seq("1"), Seq("3"))) // zero-length self + one hop
    run("""PREFIX : <>
          |SELECT ?x WHERE { "1" :2 ? ?x } ORDER BY ?x""".stripMargin)
      .shouldBe(Seq(Seq("1"), Seq("3")))
    // zero-length matches a constant endpoint even when absent from graph
    run("""PREFIX : <>
          |SELECT ?x WHERE { "99" :2 * ?x }""".stripMargin)
      .shouldBe(Seq(Seq("99")))
  }

  it should "handle cycles in seeded closures from a bound endpoint" in {
    val cyc = Seq(("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"), ("c", "p", "d"))
      .toDF("s", "p", "o")
    def runC(q: String): Seq[String] =
      Sparql.execute(spark, Sparql.Dataset.Triples(cyc), q).collect().map(_.getString(0)).toSeq
    // a->b->c->a cycle: + from a reaches everything INCLUDING a itself
    runC("""PREFIX : <>
           |SELECT ?x WHERE { "a" :p + ?x } ORDER BY ?x""".stripMargin)
      .shouldBe(Seq("a", "b", "c", "d"))
    // frontier terminates on the cycle; origin re-reached at length 3
    runC("""PREFIX : <>
           |SELECT ?x WHERE { "c" :p + ?x } ORDER BY ?x""".stripMargin)
      .shouldBe(Seq("a", "b", "c", "d"))
    // bound OBJECT expands the reversed path from d
    runC("""PREFIX : <>
           |SELECT ?x WHERE { ?x :p + "d" } ORDER BY ?x""".stripMargin)
      .shouldBe(Seq("a", "b", "c"))
  }

  it should "seed closures of compound inner paths" in {
    // (:2|:4)+ from 1: 1->3 (:2), 3->{5,6} (:4), 5->5, 6->5 (:2)
    run("""PREFIX : <>
          |SELECT ?x WHERE { "1" (:2|:4)+ ?x } ORDER BY ?x""".stripMargin)
      .shouldBe(Seq(Seq("3"), Seq("5"), Seq("6")))
    // fully-bound closure endpoints act as an existence probe
    run("""PREFIX : <>
          |SELECT ?a WHERE { ?a :4 ?b . "1" :2 + "3" } ORDER BY ?a""".stripMargin)
      .shouldBe(Seq(Seq("3"), Seq("3")))
  }

  it should "expand bounded path quantifiers" in {
    // exactly two :2 steps: 5→5→5 (self-loop) and 6→5→5
    run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2{2} ?y } ORDER BY ?x ?y""".stripMargin) shouldBe
      Seq(Seq("5", "5"), Seq("6", "5"))
    // one to two steps (bag → DISTINCT for a stable result)
    run(
      """PREFIX : <>
        |SELECT DISTINCT ?x ?y WHERE { ?x :2{1,2} ?y } ORDER BY ?x ?y""".stripMargin) shouldBe
      Seq(Seq("1", "3"), Seq("5", "5"), Seq("6", "5"))
    // two or more steps: one fixed hop then a + closure
    run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2{2,} ?y } ORDER BY ?x ?y""".stripMargin) shouldBe
      Seq(Seq("5", "5"), Seq("6", "5"))
    // zero-or-up-to-two: {0,2} includes every mentioned node reflexively
    run(
      """PREFIX : <>
        |SELECT DISTINCT ?y WHERE { <6> :2{0,2} ?y } ORDER BY ?y""".stripMargin) shouldBe
      Seq(Seq("5"), Seq("6"))
  }

  it should "combine alternation, inverse and sequence in one path" in {
    // (^:2)/:4 from 3: inverse-2 of 3 is 1; 1 has no :4 -> empty.
    // :2/(:4|:2) from 1: via 3 -> {5, 6} by :4 (3 has no :2 edge)
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { "1" :2/(:4|:2) ?x } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("5"), Seq("6"))
  }

  it should "aggregate with GROUP_CONCAT and SAMPLE" in {
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?y (GROUP_CONCAT(?x ; SEPARATOR ",") AS ?xs) (SAMPLE(?x) AS ?m)
        |WHERE { ?x :2 ?y } GROUP BY ?y ORDER BY ?y""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    res shouldBe Seq(("3", "1", "1"), ("5", "5,6", "5"))
  }

  it should "filter groups with HAVING" in {
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?y (COUNT(?x) AS ?n) WHERE { ?x :2 ?y }
        |GROUP BY ?y HAVING (?n > 1)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    res shouldBe Seq(("5", 2L))
  }

  it should "join a subquery on shared variables" in {
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT DISTINCT ?y ?n WHERE {
        |  ?y :4 ?w .
        |  { SELECT ?y (COUNT(?x) AS ?n) WHERE { ?x :2 ?y } GROUP BY ?y }
        |} ORDER BY ?y""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    res shouldBe Seq(("3", 1L))
  }

  it should "project computed expressions" in {
    val res = run(
      """PREFIX : <>
        |SELECT (CONCAT(?y, "!") AS ?u) WHERE { "1" :2 ?y }""".stripMargin)
    res shouldBe Seq(Seq("3!"))
  }

  it should "evaluate term-introspection builtins on serialized literals" in {
    val litTriples = Seq(
      ("p:1", "label", "\"Bob\"@en"),
      ("p:1", "knows", "p:2"),
      ("p:2", "label", "plain")
    ).toDF("s", "p", "o")
    val r1 = Sparql.execute(spark, Sparql.Dataset.Triples(litTriples),
      """PREFIX : <>
        |SELECT ?s (STR(?o) AS ?v) WHERE { ?s :label ?o . FILTER (LANG(?o) = "en") }""".stripMargin)
      .collect().map(_.toSeq).toSeq
    r1 shouldBe Seq(Seq("p:1", "Bob"))
    val r2 = Sparql.execute(spark, Sparql.Dataset.Triples(litTriples),
      """PREFIX : <>
        |SELECT ?o WHERE { ?s :knows ?o . FILTER (isIRI(?o)) }""".stripMargin)
      .collect().map(_.toSeq).toSeq
    r2 shouldBe Seq(Seq("p:2"))
    val r3 = Sparql.execute(spark, Sparql.Dataset.Triples(litTriples),
      """PREFIX : <>
        |SELECT ?s WHERE { ?s :label ?o . FILTER (isLiteral(?o) && STRSTARTS(?o, "pl")) }""".stripMargin)
      .collect().map(_.toSeq).toSeq
    r3 shouldBe Seq(Seq("p:2"))
  }

  it should "expand predicate-object and object lists" in {
    // object list: subject with BOTH :4 objects -> only 3
    run("""PREFIX : <>
          |SELECT ?s WHERE { ?s :4 "5" , "6" }""".stripMargin)
      .shouldBe(Seq(Seq("3")))
    // predicate-object list: same subject, two patterns
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 "5" ; :2 ?y } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("5", "5"), Seq("6", "5"))
  }

  it should "evaluate negated property sets" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x !(:4) ?y } ORDER BY ?x ?y""".stripMargin)
    res shouldBe Seq(Seq("1", "3"), Seq("5", "5"), Seq("6", "5"))
    run("""PREFIX : <>
          |SELECT ?x ?y WHERE { ?x !(:2|:4) ?y }""".stripMargin) shouldBe empty
  }

  it should "filter with IN and NOT IN" in {
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :2 ?y . FILTER (?x IN ("5", "6")) } ORDER BY ?x""".stripMargin)
      .shouldBe(Seq(Seq("5"), Seq("6")))
    run("""PREFIX : <>
          |SELECT ?x WHERE { ?x :2 ?y . FILTER (?x NOT IN ("5", "6")) }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
  }

  it should "constrain with multi-variable VALUES" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE {
        |  ?x :2 ?y .
        |  VALUES (?x ?y) { ("5" "5") ("1" "3") ("1" "99") }
        |} ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1", "3"), Seq("5", "5"))
  }

  it should "group by anonymous expression and bare builtin-call keys" in {
    // same grouping as the aliased form, but the key is not projectable
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT (COUNT(?x) AS ?n) WHERE { ?x ?p ?y }
        |GROUP BY (CONCAT("k", ?p)) ORDER BY ?n""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    res shouldBe Seq(2L, 3L)
    val res2 = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT (COUNT(?x) AS ?n) WHERE { ?x ?p ?y }
        |GROUP BY STR(?p) ORDER BY ?n""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    res2 shouldBe Seq(2L, 3L)
  }

  it should "group by expression keys" in {
    // key = CONCAT("k", ?p): predicate 2 -> k2 (3 triples), 4 -> k4 (2)
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?k (COUNT(?x) AS ?n) WHERE { ?x ?p ?y }
        |GROUP BY (CONCAT("k", ?p) AS ?k) ORDER BY ?k""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    res shouldBe Seq(("k2", 3L), ("k4", 2L))
  }

  it should "sort on non-projected variables" in {
    // ORDER BY happens before projection (ARQ algebra): y desc -> 5,5,3
    // with x tiebreak -> x = 5,6,1
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y } ORDER BY DESC(?y) ?x""".stripMargin)
    res shouldBe Seq(Seq("5"), Seq("6"), Seq("1"))
  }

  it should "sort on expression keys" in {
    // numeric sort via an arithmetic key (term strings would give the
    // same order here only by luck of single digits; the point is the
    // expression compiles and sorts)
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y } ORDER BY DESC(?y - 0) ?x""".stripMargin)
    res shouldBe Seq(Seq("5"), Seq("6"), Seq("1"))
  }

  it should "sort on aggregate expression keys" in {
    // predicate 2 has 3 triples, predicate 4 has 2 -> COUNT asc = 4, 2
    val res = run(
      """PREFIX : <>
        |SELECT ?p WHERE { ?x ?p ?y } GROUP BY ?p ORDER BY COUNT(?x)""".stripMargin)
    res shouldBe Seq(Seq("4"), Seq("2"))
  }

  it should "reject expression sort keys under DISTINCT" in {
    the[IllegalArgumentException] thrownBy run(
      """PREFIX : <>
        |SELECT DISTINCT ?x WHERE { ?x :2 ?y } ORDER BY DESC(?y - 0)""".stripMargin)
  }

  it should "treat UNDEF cells in VALUES as wildcards" in {
    // row ("5" UNDEF) matches any y for x=5; (UNDEF "3") any x with y=3
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?y WHERE {
        |  ?x :2 ?y .
        |  VALUES (?x ?y) { ("5" UNDEF) (UNDEF "3") }
        |} ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1", "3"), Seq("5", "5"))
  }

  it should "apply bag semantics for single-var VALUES with UNDEF" in {
    // the UNDEF row is compatible with every solution; the "5" row adds a
    // second match for x=5 (SPARQL joins are bags)
    val res = run(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . VALUES ?x { "5" UNDEF } } ORDER BY ?x""".stripMargin)
    res shouldBe Seq(Seq("1"), Seq("5"), Seq("5"), Seq("6"))
  }

  it should "extend solutions with VALUES-only vars under UNDEF rows" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?z WHERE {
        |  ?x :2 ?y .
        |  VALUES (?y ?z) { ("5" "Z5") (UNDEF "ZU") }
        |} ORDER BY ?x ?z""".stripMargin)
    res shouldBe Seq(Seq("1", "ZU"), Seq("5", "Z5"), Seq("5", "ZU"),
      Seq("6", "Z5"), Seq("6", "ZU"))
  }

  it should "evaluate SPARQL 1.1 string and numeric builtins" in {
    val docs = Seq(
      ("d:1", "name", "alpha-beta"),
      ("d:2", "name", "gamma"),
      ("d:1", "size", "7")
    ).toDF("s", "p", "o")
    val r = Sparql.execute(spark, Sparql.Dataset.Triples(docs),
      """PREFIX : <>
        |SELECT ?s (SUBSTR(?nm, 1, 5) AS ?head) (STRBEFORE(?nm, "-") AS ?pre)
        |       (STRAFTER(?nm, "-") AS ?post) (REPLACE(?nm, "a", "_") AS ?repl)
        |WHERE { ?s :name ?nm } ORDER BY ?s""".stripMargin)
      .collect().map(_.toSeq).toSeq
    r shouldBe Seq(
      Seq("d:1", "alpha", "alpha", "beta", "_lph_-bet_"),
      Seq("d:2", "gamma", "", "", "g_mm_"))
    val n = Sparql.execute(spark, Sparql.Dataset.Triples(docs),
      """PREFIX : <>
        |SELECT (ABS(?sz - 10) AS ?a) (CEIL(?sz / 2) AS ?c) (FLOOR(?sz / 2) AS ?f)
        |WHERE { ?s :size ?sz }""".stripMargin).head()
    n.getDouble(0) shouldBe 3.0
    n.getLong(1) shouldBe 4L
    n.getLong(2) shouldBe 3L
  }

  it should "extract date parts and match language ranges" in {
    val t = Seq(
      ("o:1", "orderdate", "1994-03-15"),
      ("p:1", "label", "\"chat\"@fr-BE")
    ).toDF("s", "p", "o")
    val d = Sparql.execute(spark, Sparql.Dataset.Triples(t),
      """PREFIX : <>
        |SELECT (YEAR(?d) AS ?y) (MONTH(?d) AS ?m) (DAY(?d) AS ?dd)
        |WHERE { ?s :orderdate ?d }""".stripMargin).head()
    (d.getInt(0), d.getInt(1), d.getInt(2)) shouldBe ((1994, 3, 15))
    Sparql.execute(spark, Sparql.Dataset.Triples(t),
      """PREFIX : <>
        |SELECT ?s WHERE { ?s :label ?v . FILTER (LANGMATCHES(LANG(?v), "fr")) }""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("p:1")
  }

  it should "treat REDUCED like DISTINCT" in {
    run("""PREFIX : <>
          |SELECT REDUCED ?y WHERE { ?x :2 ?y } ORDER BY ?y""".stripMargin)
      .shouldBe(Seq(Seq("3"), Seq("5")))
  }

  it should "treat OPTIONAL filters on outer vars as join conditions" in {
    // FILTER (?x = "1") references only the OUTER var: it must null the
    // optional bindings for other x, NOT eliminate their solutions
    val res = run(
      """PREFIX : <>
        |SELECT ?x ?z WHERE {
        |  ?x :2 ?y .
        |  OPTIONAL { ?y :4 ?z . FILTER (?x = "1") }
        |} ORDER BY ?x ?z""".stripMargin)
    res shouldBe Seq(Seq("1", "5"), Seq("1", "6"), Seq("5", null), Seq("6", null))
    // mixed inner+outer refs in the same filter
    val res2 = run(
      """PREFIX : <>
        |SELECT ?x ?z WHERE {
        |  ?x :2 ?y .
        |  OPTIONAL { ?y :4 ?z . FILTER (?z != ?x) }
        |} ORDER BY ?x ?z""".stripMargin)
    res2 shouldBe Seq(Seq("1", "5"), Seq("1", "6"), Seq("5", null), Seq("6", null))
  }

  it should "project aggregate expressions and filter HAVING on aggregates" in {
    val res = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?y ((COUNT(?x) * 10) AS ?tens) ((MAX(?x * 1) - MIN(?x * 1)) AS ?spread)
        |WHERE { ?x :2 ?y } GROUP BY ?y ORDER BY ?y""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    res shouldBe Seq(("3", 10.0, 0.0), ("5", 20.0, 1.0))
    val hav = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?y WHERE { ?x :2 ?y } GROUP BY ?y
        |HAVING (COUNT(?x) > 1)""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    hav shouldBe Seq("5")
  }

  "Sparql.ask" should "answer boolean existence queries" in {
    Sparql.ask(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |ASK WHERE { ?x :2 ?y . ?y :4 ?z }""".stripMargin) shouldBe true
    Sparql.ask(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |ASK { "1" :99 ?x }""".stripMargin) shouldBe false
    intercept[IllegalArgumentException](Sparql.ask(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |ASK FROM NAMED <g1> { ?x :2 ?y }""".stripMargin))
      .getMessage should include ("need a quad dataset")
  }

  "Sparql.construct" should "build a deduplicated result graph" in {
    val res = Sparql.construct(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |CONSTRUCT { ?a :reaches ?c . ?a :kind "start" }
        |WHERE { ?a :2 ?b . ?b :4 ?c }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    res shouldBe Set(
      ("1", "reaches", "5"), ("1", "reaches", "6"), ("1", "kind", "start"))
    intercept[IllegalArgumentException](Sparql.construct(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |CONSTRUCT { ?a :reaches ?b } FROM <g1> WHERE { ?a :2 ?b }""".stripMargin))
      .getMessage should include ("need a quad dataset")
  }

  it should "drop template triples with unbound variables" in {
    val res = Sparql.construct(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |CONSTRUCT { ?x :opt ?z }
        |WHERE { ?x :2 ?y . OPTIONAL { ?y :4 ?z } }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    res shouldBe Set(("1", "5"), ("1", "6")) // x=5,6 have unbound ?z
  }

  it should "instantiate driver-decoded solutions on the driver, as the string path does" in {
    val st = graft.store.GraftStore.ingestTriples(spark, triples)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val where = "WHERE { ?a :2 ?b . ?b :4 ?c }"
    val plain = s"PREFIX : <>\nCONSTRUCT { ?a :reaches ?c . ?c :from ?a . ?a :kind \"start\" } $where"
    val blank = s"PREFIX : <>\nCONSTRUCT { ?a :via _:hop . _:hop :to ?c } $where"
    val typed = "PREFIX : <>\nCONSTRUCT { ?c :len ?n } WHERE { ?b :4 ?c . BIND(STRLEN(?c) AS ?n) }"
    for (q <- Seq(plain, blank, typed)) withClue(q + "\n") {
      val strings = Sparql.construct(spark, Sparql.Dataset.Triples(triples), q)
      val onDriver = Sparql.construct(spark, st, q)
      // the forced distributed decode leaves the solutions distributed
      val distributed = graft.dict.Dictionary.localDecodeCap.withValue(0)(
        Sparql.construct(spark, st, q))
      rows(onDriver) shouldBe rows(strings)
      rows(distributed) shouldBe rows(strings)
      onDriver.schema shouldBe distributed.schema
      // a non-string template variable keeps the distributed instantiation
      graft.dict.Dictionary.isLocal(onDriver) shouldBe (q ne typed)
    }
    rows(Sparql.construct(spark, st, plain)) should contain(Seq("5", "from", "1"))
    val (_, jobs) = jobsDuring(Sparql.construct(spark, st, blank).collect())
    jobs shouldBe 0
  }

  "Sparql.describe" should "return the concise bounded description (outgoing + incoming)" in {
    val cbd = Set(
      ("3", "4", "5"), ("3", "4", "6"), // outgoing
      ("1", "2", "3"))                  // incoming edge
    val direct = Sparql.describe(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |DESCRIBE <3>""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    direct shouldBe cbd
    val viaWhere = Sparql.describe(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |DESCRIBE ?y WHERE { "1" :2 ?y }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    viaWhere shouldBe cbd
    intercept[IllegalArgumentException](Sparql.describe(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |DESCRIBE <3> FROM <g1>""".stripMargin))
      .getMessage should include ("need a quad dataset")
  }

  it should "fold blank-node objects' descriptions in (blank closure)" in {
    val withBlanks = Seq(
      ("e:1", "addr", "_:a1"), ("_:a1", "city", "\"Zurich\""),
      ("_:a1", "geo", "_:g1"), ("_:g1", "lat", "\"47.4\""),
      ("e:2", "addr", "_:a2"), ("_:a2", "city", "\"Bern\"")
    ).toDF("s", "p", "o")
    val res = Sparql.describe(spark, Sparql.Dataset.Triples(withBlanks),
      """PREFIX : <>
        |DESCRIBE <e:1>""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    res shouldBe Set(
      ("e:1", "addr", "_:a1"),
      ("_:a1", "city", "\"Zurich\""),
      ("_:a1", "geo", "_:g1"),      // nested blank chain...
      ("_:g1", "lat", "\"47.4\""))  // ...followed to fixpoint; e:2 excluded
  }

  it should "skolemize CONSTRUCT template blanks fresh per solution" in {
    val res = Sparql.construct(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |CONSTRUCT { ?a :via _:hop . _:hop :to ?c }
        |WHERE { ?a :2 ?b . ?b :4 ?c }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    // 2 solutions (1,3,5) and (1,3,6) -> 2 distinct blanks, 4 triples
    res.length shouldBe 4
    val blanks = res.collect { case (_, "via", b) => b }.toSet
    blanks.size shouldBe 2
    blanks.foreach(_ should startWith("_:hop-"))
    // the same solution's blank links both template triples
    res.collect { case (b, "to", _) => b }.toSet shouldBe blanks
  }

  it should "treat anonymous [] in CONSTRUCT templates as fresh template blanks" in {
    // [ :to ?c ] is sugar for a labeled template blank (SPARQL §16.2.1):
    // fresh per solution, shared across the expansion's triples
    val res = Sparql.construct(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |CONSTRUCT { ?a :via [ :to ?c ] }
        |WHERE { ?a :2 ?b . ?b :4 ?c }""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    res.length shouldBe 4
    val blanks = res.collect { case (_, "via", b) => b }.toSet
    blanks.size shouldBe 2
    blanks.foreach(_ should startWith("_:"))
    res.collect { case (b, "to", _) => b }.toSet shouldBe blanks
  }

  it should "evaluate term-inspection and hash builtins (SPARQL 1.1 §17.4)" in {
    val t2 = Seq(
      ("a", "v", "\"hi\"@en"), ("b", "v", "\"raw\""), ("c", "v", "42"),
      ("d", "v", "iri:x"), ("e", "v", "two words")
    ).toDF("s", "p", "o")
    def one(q: String): Seq[Seq[String]] =
      Sparql.execute(spark, Sparql.Dataset.Triples(t2), q).collect()
        .map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.getString(i))).toSeq
    one("""PREFIX : <>
          |SELECT ?s (DATATYPE(?o) AS ?dt) WHERE { ?s :v ?o } ORDER BY ?s""".stripMargin)
      .map(_(1)) shouldBe Seq(
      "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
      "http://www.w3.org/2001/XMLSchema#string",
      "http://www.w3.org/2001/XMLSchema#string",
      null, // IRI: DATATYPE unbound
      "http://www.w3.org/2001/XMLSchema#string")
    one("""PREFIX : <>
          |SELECT ?s WHERE { ?s :v ?o . FILTER (ISNUMERIC(?o)) }""".stripMargin)
      .shouldBe(Seq(Seq("c")))
    one("""PREFIX : <>
          |SELECT (ENCODE_FOR_URI(?o) AS ?u) WHERE { ?s :v ?o . FILTER (?s = "e") }""".stripMargin)
      .shouldBe(Seq(Seq("two%20words")))
    one("""PREFIX : <>
          |SELECT (MD5(?o) AS ?h) (SHA256(?o) AS ?h2) WHERE { ?s :v ?o . FILTER (?s = "c") }""".stripMargin)
      .head shouldBe Seq(
      "a1d0c6e83f027327d8461063f4ac58a6", // md5("42")
      "73475cb40a568e8da8a045ced110137e159f890ac4da883b6b17dc651b3a8049")
    one("""PREFIX : <>
          |SELECT (STRLANG(STR(?o), "fr") AS ?l) WHERE { ?s :v ?o . FILTER (?s = "b") }""".stripMargin)
      .shouldBe(Seq(Seq("\"raw\"@fr")))
    one("""PREFIX : <>
          |SELECT (IRI(?o) AS ?i) WHERE { ?s :v ?o . FILTER (?s = "d") }""".stripMargin)
      .shouldBe(Seq(Seq("iri:x")))
  }

  it should "skip comments while tokenizing (not inside IRIs or literals)" in {
    val res = run(
      """# leading comment
        |PREFIX : <>   # prefixes end here
        |SELECT ?a ?c WHERE {
        |  ?a :2 ?b .  # hop one
        |  ?b :4 ?c    # hop two
        |} ORDER BY ?c # trailing""".stripMargin)
    res shouldBe Seq(Seq("1", "5"), Seq("1", "6"))
    // '#' inside quoted literals and IRIs is content, not a comment
    Sparql.execute(spark,
      Sparql.Dataset.Triples(Seq(("x", "brand", "Brand#17")).toDF("s", "p", "o")),
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :brand "Brand#17" }""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("x")
  }

  it should "reject malformed queries with a parse error" in {
    an[IllegalArgumentException] should be thrownBy
      Sparql.parse("SELECT WHERE { }")
    an[IllegalArgumentException] should be thrownBy
      Sparql.parse("PREFIX x <oops> SELECT ?a WHERE { ?a ?b ?c }")
  }
}
