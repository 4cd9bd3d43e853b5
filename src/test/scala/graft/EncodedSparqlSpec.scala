package graft

import graft.sparql.Sparql
import graft.store.GraftStore

/** The full SPARQL surface must produce IDENTICAL results on the string
  * store and the encoded store (the reference runs every ARQ operator over
  * encoded longs with lazy decode, `BindingAdapter.scala:21-82`,
  * `LazyJenaNode.scala:14-53`; here `execute` over a store handle
  * compiles the same algebra over `store.enc`). Each case runs one query both ways and
  * compares row sets, so any divergence in encode/decode placement fails
  * loudly.
  */
class EncodedSparqlSpec extends SparkSpec {
  import spark.implicits._

  lazy val store = GraftStore.ingestTriples(spark, Seq(
    ("1", "2", "3"), ("3", "4", "5"), ("3", "4", "6"),
    ("5", "2", "5"), ("6", "2", "5"),
    ("a", "name", "\"Ann\"@en"), ("b", "name", "\"Bob\""),
    ("a", "knows", "b"), ("b", "knows", "c"), ("c", "knows", "a")
  ).toDF("s", "p", "o"))

  private def both(q: String): Seq[Seq[Any]] = {
    val viaStrings = Sparql.execute(spark, Sparql.Dataset.Triples(store.triples, store.stats), q)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))
    val viaEncoded = Sparql.execute(spark, store, q)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))
    viaEncoded shouldBe viaStrings
    viaStrings
  }

  "executeEncoded" should "match the string store on OPTIONAL" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?y ?z WHERE {
        |  ?x :2 ?y . OPTIONAL { ?y :4 ?z }
        |}""".stripMargin) should not be empty
  }

  it should "match on OPTIONAL with an outer-var join condition" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?z WHERE {
        |  ?x :2 ?y . OPTIONAL { ?y :4 ?z FILTER (?x = "1") }
        |}""".stripMargin) should not be empty
  }

  it should "match on UNION (bag semantics, disjoint vars null-padded)" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?w WHERE {
        |  { ?x :2 "3" } UNION { ?w :4 "5" }
        |}""".stripMargin) should not be empty
  }

  it should "match on MINUS" in {
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . MINUS { ?x :2 "5" } }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
  }

  it should "match on VALUES (single and multi-var)" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 ?y . VALUES ?x { "5" "6" } }""".stripMargin)
      .shouldBe(Seq(Seq("5", "5"), Seq("6", "5")))
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 ?y . VALUES (?x ?y) { ("1" "3") ("5" "5") } }""".stripMargin)
      .shouldBe(Seq(Seq("1", "3"), Seq("5", "5")))
  }

  it should "match on FILTER families (numeric, string fns, REGEX, IN)" in {
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . FILTER (?y >= 5) }""".stripMargin)
      .shouldBe(Seq(Seq("5"), Seq("6")))
    both(
      """PREFIX : <>
        |SELECT ?s WHERE { ?s :name ?n . FILTER (STRSTARTS(STR(?n), "A")) }""".stripMargin)
      .shouldBe(Seq(Seq("a")))
    both(
      """PREFIX : <>
        |SELECT ?s WHERE { ?s :name ?n . FILTER (REGEX(?n, "Bob")) }""".stripMargin)
      .shouldBe(Seq(Seq("b")))
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . FILTER (?y IN ("3")) }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
  }

  it should "match on BIND and expression projection" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?l WHERE { ?x :2 ?y . BIND(CONCAT("v-", ?y) AS ?l) }""".stripMargin)
      .shouldBe(Seq(Seq("1", "v-3"), Seq("5", "v-5"), Seq("6", "v-5")))
    both(
      """PREFIX : <>
        |SELECT ?x (STRLEN(?y) AS ?n) WHERE { ?x :2 ?y }""".stripMargin)
      .foreach(_.length shouldBe 2)
  }

  it should "match on FILTER EXISTS / NOT EXISTS" in {
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . FILTER EXISTS { ?y :4 ?z } }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . FILTER NOT EXISTS { ?y :4 ?z } }""".stripMargin)
      .shouldBe(Seq(Seq("5"), Seq("6")))
  }

  it should "match on aggregates (COUNT/MIN/MAX/AVG/GROUP_CONCAT, HAVING)" in {
    both(
      """PREFIX : <>
        |SELECT ?y (COUNT(?x) AS ?n) WHERE { ?x :2 ?y } GROUP BY ?y""".stripMargin)
      .shouldBe(Seq(Seq("3", 1L), Seq("5", 2L)))
    both(
      """PREFIX : <>
        |SELECT (MIN(?y) AS ?mn) (MAX(?y) AS ?mx) (AVG(?y) AS ?av)
        |WHERE { ?x :2 ?y }""".stripMargin).head.take(2) shouldBe Seq("3", "5")
    both(
      """PREFIX : <>
        |SELECT ?y (GROUP_CONCAT(?x ; SEPARATOR ",") AS ?g)
        |WHERE { ?x :2 ?y } GROUP BY ?y HAVING (COUNT(?x) > 1)""".stripMargin)
      .shouldBe(Seq(Seq("5", "5,6")))
  }

  it should "match on subqueries" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?n WHERE {
        |  ?x :2 ?y .
        |  { SELECT ?y (COUNT(?s) AS ?n) WHERE { ?s :2 ?y } GROUP BY ?y }
        |}""".stripMargin) should not be empty
  }

  it should "match on property paths (closure, alt, inverse, negated)" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :knows + ?y }""".stripMargin)
      .length shouldBe 9 // 3-cycle closure: all ordered pairs incl self
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2|:4 ?y }""".stripMargin)
      .length shouldBe 5
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?y ^:2 ?x FILTER (?y = "3") }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x !(:2|:4) ?y . FILTER (?y = "b") }""".stripMargin)
      .shouldBe(Seq(Seq("a", "b")))
  }

  it should "match on bound-endpoint closures (seeded frontier)" in {
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { "a" :knows + ?x }""".stripMargin)
      .shouldBe(Seq(Seq("a"), Seq("b"), Seq("c")))
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :knows + "c" }""".stripMargin)
      .shouldBe(Seq(Seq("a"), Seq("b"), Seq("c")))
  }

  it should "preserve the zero-length path match for a constant ABSENT from the graph" in {
    // `<absent> p* ?x` must yield the zero-length solution ?x = <absent>
    // even though "zz" has no dictionary entry (ARQ semantics; the
    // query-local id must decode back to the original constant)
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { "zz" :knows * ?x }""".stripMargin)
      .shouldBe(Seq(Seq("zz")))
  }

  it should "fail fast to empty on a dictionary-miss constant in a pattern" in {
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :nope ?y }""".stripMargin) shouldBe empty
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { "nope" :knows ?x }""".stripMargin) shouldBe empty
  }

  it should "match on DISTINCT / ORDER BY / OFFSET / LIMIT" in {
    both(
      """PREFIX : <>
        |SELECT DISTINCT ?y WHERE { ?x :2 ?y } ORDER BY DESC(?y) LIMIT 2""".stripMargin)
      .shouldBe(Seq(Seq("3"), Seq("5"))) // sorted by `both`, content equal
    both(
      """PREFIX : <>
        |SELECT ?y WHERE { ?x :2 ?y } ORDER BY ?y OFFSET 1 LIMIT 1""".stripMargin)
      .shouldBe(Seq(Seq("5")))
  }

  it should "answer ASK / CONSTRUCT / DESCRIBE identically on both stores" in {
    val askQ =
      """PREFIX : <>
        |ASK { ?x :knows ?y . ?y :knows ?z }""".stripMargin
    Sparql.ask(spark, store, askQ) shouldBe
      Sparql.ask(spark, Sparql.Dataset.Triples(store.triples, store.stats), askQ)
    Sparql.ask(spark, store,
      """PREFIX : <>
        |ASK { ?x :nope ?y }""".stripMargin) shouldBe false
    val conQ =
      """PREFIX : <>
        |CONSTRUCT { ?a :via _:hop . _:hop :to ?c }
        |WHERE { ?a :2 ?b . ?b :4 ?c }""".stripMargin
    val conStr = Sparql.construct(spark, Sparql.Dataset.Triples(store.triples, store.stats), conQ)
      .collect().map(_.toSeq).toSet
    val conEnc = Sparql.construct(spark, store, conQ)
      .collect().map(_.toSeq).toSet
    conEnc shouldBe conStr // incl. IDENTICAL skolemized blank ids
    conEnc should not be empty
    val desQ =
      """PREFIX : <>
        |DESCRIBE <3>""".stripMargin
    val desStr = Sparql.describe(spark, Sparql.Dataset.Triples(store.triples, store.stats), desQ)
      .collect().map(_.toSeq).toSet
    Sparql.describe(spark, store, desQ)
      .collect().map(_.toSeq).toSet shouldBe desStr
    desStr should not be empty
    // a store handle is one graph: every form rejects FROM / FROM NAMED
    Seq(
      () => Sparql.execute(spark, store,
        "PREFIX : <>\nSELECT ?x FROM <g1> WHERE { ?x :knows ?y }"),
      () => Sparql.ask(spark, store,
        "PREFIX : <>\nASK FROM NAMED <g1> { ?x :knows ?y }"),
      () => Sparql.construct(spark, store,
        "PREFIX : <>\nCONSTRUCT { ?x :k ?y } FROM <g1> WHERE { ?x :knows ?y }"),
      () => Sparql.describe(spark, store, "DESCRIBE <3> FROM <g1>")
    ).foreach { form =>
      intercept[IllegalArgumentException](form()).getMessage should
        include ("need a quad dataset")
    }
  }

  it should "follow blank-node closure in encoded DESCRIBE via the dictionary" in {
    val st = GraftStore.ingestTriples(spark, Seq(
      ("e:1", "addr", "_:a1"), ("_:a1", "city", "\"Zurich\""),
      ("_:a1", "geo", "_:g1"), ("_:g1", "lat", "\"47.4\""),
      ("e:2", "addr", "_:a2"), ("_:a2", "city", "\"Bern\"")
    ).toDF("s", "p", "o"))
    Sparql.describe(spark, st,
      """PREFIX : <>
        |DESCRIBE <e:1>""".stripMargin)
      .collect().map(_.toSeq).toSet shouldBe Set(
      Seq("e:1", "addr", "_:a1"),
      Seq("_:a1", "city", "\"Zurich\""),
      Seq("_:a1", "geo", "_:g1"),
      Seq("_:g1", "lat", "\"47.4\""))
  }

  it should "run the full surface over a REPAIRED (non-pure-hash) dictionary" in {
    val enc = Seq((10L, 20L, 30L), (30L, 20L, 40L), (40L, 20L, 10L))
      .toDF("s", "p", "o")
    val dict = Seq((10L, "a:1"), (20L, "knows"), (30L, "a:2"), (40L, "a:3"))
      .toDF("id", "term")
    val st = GraftStore.ingestEncoded(spark, enc, dict)
    st.pureHash shouldBe false
    Sparql.execute(spark, st,
      """PREFIX : <>
        |SELECT ?x WHERE { "a:1" :knows + ?x } ORDER BY ?x""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("a:1", "a:2", "a:3")
    // OPTIONAL + aggregate over the arbitrary-id store
    Sparql.execute(spark, st,
      """PREFIX : <>
        |SELECT (COUNT(?y) AS ?n) WHERE { ?x :knows ?y }""".stripMargin)
      .head().getLong(0) shouldBe 3L
    // absent constant gets a query-local NEGATIVE id and still zero-matches
    Sparql.execute(spark, st,
      """PREFIX : <>
        |SELECT ?x WHERE { "zz" :knows * ?x }""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("zz")
  }

  it should "allow a subquery alias to join an outer pattern (demotion)" in {
    // ?y is an ALIAS inside the subquery and a PATTERN var outside — the
    // overlap the r5 verdict flagged as require-rejected. The outer scan
    // demotes ?y to its term string at the source, the join compares terms.
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE {
        |  { SELECT (STR("b") AS ?y) WHERE { ?q :name ?nm } }
        |  ?x :knows ?y .
        |}""".stripMargin) should not be empty
  }

  it should "join a BIND target reused by a pattern variable" in {
    // BIND introduces ?t, a pattern elsewhere binds ?t too — the extended
    // binding joins (equality), it does not overwrite.
    val res = both(
      """PREFIX : <>
        |SELECT ?x ?t WHERE {
        |  ?x :knows ?t .
        |  BIND(STR("b") AS ?t)
        |}""".stripMargin)
    res.map(_.toList) shouldBe Seq(List("a", "b"))
  }

  it should "keep plain BIND outputs value-typed alongside id joins" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?lbl WHERE {
        |  ?x :knows ?y .
        |  BIND(CONCAT("k-", ?y) AS ?lbl)
        |} ORDER BY ?x""".stripMargin) should not be empty
  }

  it should "match on ORDER BY expression keys with LIMIT" in {
    // the kept row SET depends on correct expression ordering pre-limit
    val res = both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y } ORDER BY DESC(?y - 0) ?x LIMIT 2""".stripMargin)
    res.map(_.toList).sortBy(_.mkString) shouldBe Seq(List("5"), List("6"))
  }

  it should "match on VALUES rows containing UNDEF" in {
    val res = both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE {
        |  ?x :2 ?y .
        |  VALUES (?x ?y) { ("5" UNDEF) (UNDEF "3") }
        |} ORDER BY ?x""".stripMargin)
    res.map(_.toList) shouldBe Seq(List("1", "3"), List("5", "5"))
  }

  it should "match negated property sets with inverse members" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x !(:2|^:4) ?y }""".stripMargin) should not be empty
  }

  it should "match [ ... ] blank property lists (fresh hidden vars)" in {
    both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 [ :4 "5" ] }""".stripMargin)
      .shouldBe(Seq(Seq("1")))
  }

  it should "match on a trailing ValuesClause (incl. post-aggregation)" in {
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 ?y } VALUES ?x { "5" "6" }""".stripMargin)
      .shouldBe(Seq(Seq("5", "5"), Seq("6", "5")))
    both(
      """PREFIX : <>
        |SELECT ?y (COUNT(?x) AS ?n) WHERE { ?x :2 ?y }
        |GROUP BY ?y VALUES ?y { "5" }""".stripMargin)
      .shouldBe(Seq(Seq("5", 2L)))
    both(
      """PREFIX : <>
        |SELECT ?x ?y WHERE { ?x :2 ?y }
        |VALUES (?x ?y) { ("5" UNDEF) (UNDEF "3") }""".stripMargin)
      .map(_.toList).shouldBe(Seq(List("1", "3"), List("5", "5")))
  }

  it should "match on single-var VALUES with an UNDEF row (bag)" in {
    val res = both(
      """PREFIX : <>
        |SELECT ?x WHERE { ?x :2 ?y . VALUES ?x { "5" UNDEF } }""".stripMargin)
    res.map(_.toList).sortBy(_.mkString) shouldBe
      Seq(List("1"), List("5"), List("5"), List("6"))
  }

  it should "match on expression-position EXISTS in FILTER and BIND" in {
    both(
      """PREFIX : <>
        |SELECT ?x WHERE {
        |  ?x :2 ?y . FILTER(EXISTS { ?y :4 ?w } || ?x = "6")
        |}""".stripMargin)
      .map(_.toList).sortBy(_.mkString) shouldBe Seq(List("1"), List("6"))
    both(
      """PREFIX : <>
        |SELECT ?x ?k WHERE {
        |  ?x :2 ?y . BIND(IF(EXISTS { ?y :4 ?w }, "hub", "leaf") AS ?k)
        |}""".stripMargin)
      .map(_.toList).sortBy(_.mkString) shouldBe
      Seq(List("1", "hub"), List("5", "leaf"), List("6", "leaf"))
  }

  /** Did the top-level decode run on the driver? Its result is then a
    * local relation; the distributed decode reads the pinned result.
    */
  private def decodedLocally(df: org.apache.spark.sql.DataFrame): Boolean =
    !df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  /** Runs `query` with the driver-side decode and again with the decode
    * forced onto the distributed path; both must give the same schema and
    * rows (in result order when `ordered`). Returns the rows.
    */
  private def bothDecodes(query: => org.apache.spark.sql.DataFrame,
                          ordered: Boolean = false): Seq[Seq[Any]] = {
    val local = query
    val dist = graft.dict.Dictionary.localDecodeCap.withValue(0)(query)
    decodedLocally(local) shouldBe true
    decodedLocally(dist) shouldBe false
    local.schema shouldBe dist.schema
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val r = df.collect().map(_.toSeq).toSeq
      if (ordered) r else r.sortBy(_.mkString("\u0000"))
    }
    val out = rows(local)
    rows(dist) shouldBe out
    out should not be empty
    out
  }

  private def select(q: String) =
    Sparql.execute(spark, store, "PREFIX : <>\n" + q)

  "The top-level decode" should "give the same rows on the driver as distributed" in {
    // OPTIONAL leaves nulls
    bothDecodes(select(
      "SELECT ?x ?y ?z WHERE { ?x :2 ?y . OPTIONAL { ?y :4 ?z } }")) should
      contain(Seq("5", "5", null))
    // an absent constant decodes back to itself (zero-length path)
    bothDecodes(select("SELECT ?x WHERE { \"zz\" :knows * ?x }")) shouldBe
      Seq(Seq("zz"))
    // ORDER BY with OFFSET/LIMIT keeps its order; DISTINCT + ORDER BY too
    bothDecodes(select(
      "SELECT ?x ?y WHERE { ?x :2 ?y } ORDER BY DESC(?x) OFFSET 1 LIMIT 2"),
      ordered = true) shouldBe Seq(Seq("5", "5"), Seq("1", "3"))
    bothDecodes(select(
      "SELECT DISTINCT ?y WHERE { ?x :2 ?y } ORDER BY DESC(?y)"),
      ordered = true) shouldBe Seq(Seq("5"), Seq("3"))
    bothDecodes(select("SELECT DISTINCT ?p WHERE { ?s ?p ?o }")) shouldBe
      Seq(Seq("2"), Seq("4"), Seq("knows"), Seq("name"))
  }

  it should "keep aggregate columns' types on both paths" in {
    val q = """SELECT ?x (COUNT(?y) AS ?n) (GROUP_CONCAT(?y) AS ?ys)
              |WHERE { ?x :4 ?y } GROUP BY ?x""".stripMargin
    select(q).schema("n").dataType shouldBe org.apache.spark.sql.types.LongType
    bothDecodes(select(q)) shouldBe Seq(Seq("3", 2L, "5 6"))
  }

  it should "give the same CONSTRUCT skolems and DESCRIBE rows on both paths" in {
    bothDecodes(Sparql.construct(spark, store,
      """PREFIX : <>
        |CONSTRUCT { ?a :via _:hop . _:hop :to ?c }
        |WHERE { ?a :2 ?b . ?b :4 ?c }""".stripMargin)).size shouldBe 4
    bothDecodes(Sparql.describe(spark, store,
      """PREFIX : <>
        |DESCRIBE <3>""".stripMargin)).size shouldBe 3
  }

  it should "cost one collect job and one dictionary probe job for a small SELECT" in {
    val q = "SELECT ?x ?y WHERE { ?x :knows ?y }"
    select(q).collect() // warm: store artifacts and codegen
    val (rows, jobs) = jobsDuring(select(q).collect())
    rows.map(_.toSeq).toSet shouldBe
      Set(Seq("a", "b"), Seq("b", "c"), Seq("c", "a"))
    jobs should be <= 2
  }

  "Sparql.update" should "not change the session's limit settings under a concurrent query" in {
    val key = "spark.sql.limit.initialNumPartitions"
    val q = "SELECT ?x ?y WHERE { ?x :knows ?y }"
    val expected = select(q).collect().map(_.toSeq).toSet
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    // sampled at every job start: the session conf, and the conf the job
    // was submitted under (SQL executions copy it to job properties)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        spark.conf.getAll.get(key).foreach(v => seen.add(s"session: $v"))
        Option(j.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(v => seen.add(s"job ${j.jobId}: $v"))
      }
    }
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    spark.sparkContext.addSparkListener(l)
    try {
      val reads = pool.submit(new java.util.concurrent.Callable[Seq[Set[Seq[Any]]]] {
        def call() = (1 to 3).map(_ => select(q).collect().map(_.toSeq).toSet)
      })
      val after = Sparql.update(spark, store,
        """PREFIX : <>
          |DELETE { ?x :2 ?y } INSERT { ?y :back ?x } WHERE { ?x :2 ?y } ;
          |INSERT { ?x :seen "1" } WHERE { ?x :name ?n } ;
          |INSERT DATA { <d> :knows <e> }""".stripMargin)
      reads.get().foreach(_ shouldBe expected)
      Sparql.execute(spark, after,
        "PREFIX : <>\nSELECT ?y ?x WHERE { ?y :back ?x }").count() shouldBe 3L
    } finally {
      pool.shutdown()
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(l)
    }
    jobs.get() should be > 0
    seen.toArray.toSeq shouldBe empty
  }
}
