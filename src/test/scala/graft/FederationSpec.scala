package graft

import graft.sparql.Sparql
import graft.store.GraftStore

/** SPARQL 1.1 Federated Query (SERVICE) over registered co-resident
  * endpoint relations: the federated join is a plain distributed join,
  * with SILENT degradation and full algebra inside the block.
  */
class FederationSpec extends SparkSpec {
  import spark.implicits._

  lazy val local = Seq(
    ("p1", "worksAt", "org1"), ("p2", "worksAt", "org2"),
    ("p3", "worksAt", "org9"), // org9 absent from the endpoint
    ("p1", "name", "\"ann\""), ("p2", "name", "\"bo\""),
    ("p3", "name", "\"cy\"")
  ).toDF("s", "p", "o")

  lazy val remote = Seq(
    ("org1", "label", "\"Acme\""), ("org2", "label", "\"Globex\""),
    ("org2", "city", "\"Berlin\"")
  ).toDF("s", "p", "o")

  def run(q: String): Seq[Seq[String]] =
    Sparql.execute(spark, Sparql.Dataset.Triples(local), q).collect()
      .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) null else r.getString(i)))
      .toSeq

  "SERVICE" should "join the inner group against the registered endpoint" in {
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val res = run(
      """PREFIX : <>
        |SELECT ?p ?l WHERE {
        |  ?p :worksAt ?o .
        |  SERVICE <graft://orgs> { ?o :label ?l }
        |} ORDER BY ?p""".stripMargin)
    res shouldBe Seq(Seq("p1", "\"Acme\""), Seq("p2", "\"Globex\""))
  }

  it should "support full algebra inside the block (OPTIONAL + FILTER)" in {
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val res = run(
      """PREFIX : <>
        |SELECT ?p ?l ?c WHERE {
        |  ?p :worksAt ?o .
        |  SERVICE <graft://orgs> {
        |    ?o :label ?l .
        |    OPTIONAL { ?o :city ?c }
        |    FILTER (STRLEN(?l) > 0)
        |  }
        |} ORDER BY ?p""".stripMargin)
    res shouldBe Seq(
      Seq("p1", "\"Acme\"", null),
      Seq("p2", "\"Globex\"", "\"Berlin\""))
  }

  it should "treat SILENT on an unregistered endpoint as the unit solution" in {
    val res = run(
      """PREFIX : <>
        |SELECT ?p WHERE {
        |  ?p :worksAt ?o .
        |  SERVICE SILENT <graft://nowhere> { ?o :label ?l }
        |} ORDER BY ?p""".stripMargin)
    res shouldBe Seq(Seq("p1"), Seq("p2"), Seq("p3"))
  }

  it should "error clearly on an unregistered endpoint without SILENT" in {
    val e = intercept[IllegalArgumentException] {
      run(
        """PREFIX : <>
          |SELECT ?p WHERE {
          |  ?p :worksAt ?o .
          |  SERVICE <graft://nowhere> { ?o :label ?l }
          |}""".stripMargin)
    }
    e.getMessage should include("registerEndpoint")
  }

  it should "compose with quad datasets (SERVICE beside a GRAPH block)" in {
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val quads = Seq(
      ("p1", "worksAt", "org1", "urn:gA"),
      ("p2", "worksAt", "org2", "urn:gB")
    ).toDF("s", "p", "o", "g")
    val res = Sparql.execute(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |SELECT ?p ?l WHERE {
        |  GRAPH <urn:gA> { ?p :worksAt ?o }
        |  SERVICE <graft://orgs> { ?o :label ?l }
        |} ORDER BY ?p""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    res shouldBe Array(("p1", "\"Acme\""))
  }

  it should "evaluate inside a variable GRAPH block (endpoint is graph-independent)" in {
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val quads = Seq(
      ("p1", "worksAt", "org1", "urn:gA"),
      ("p2", "worksAt", "org2", "urn:gB")
    ).toDF("s", "p", "o", "g")
    val res = Sparql.execute(spark, Sparql.Dataset.Quads(quads),
      """PREFIX : <>
        |SELECT ?g ?p ?l WHERE {
        |  GRAPH ?g { ?p :worksAt ?o SERVICE <graft://orgs> { ?o :label ?l } }
        |} ORDER BY ?g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    res shouldBe Array(
      ("urn:gA", "p1", "\"Acme\""), ("urn:gB", "p2", "\"Globex\""))
  }

  it should "match the string path on the ENCODED store (plainVars bridge)" in {
    val st = GraftStore.ingestTriples(spark, local)
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val q =
      """PREFIX : <>
        |SELECT ?p ?l ?c WHERE {
        |  ?p :worksAt ?o .
        |  SERVICE <graft://orgs> {
        |    ?o :label ?l
        |    OPTIONAL { ?o :city ?c }
        |  }
        |  SERVICE SILENT <graft://nowhere> { ?o :nope ?x }
        |} ORDER BY ?p""".stripMargin
    val viaString = run(q)
    val viaEncoded = Sparql.execute(spark, st, q).collect()
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) null else r.getString(i))).toSeq
    viaEncoded shouldBe viaString
    viaEncoded.nonEmpty shouldBe true
  }

  it should "compose with ENCODED quad datasets (GRAPH + SERVICE)" in {
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val quads = Seq(
      ("p1", "worksAt", "org1", "urn:gA"),
      ("p2", "worksAt", "org2", "urn:gB")
    ).toDF("s", "p", "o", "g")
    val (enc, dict) = graft.store.TripleStore.encodeQuads(quads)
    val res = Sparql.execute(spark, Sparql.Dataset.QuadsEncoded(enc, dict),
      """PREFIX : <>
        |SELECT ?g ?p ?l WHERE {
        |  GRAPH ?g { ?p :worksAt ?o }
        |  SERVICE <graft://orgs> { ?o :label ?l }
        |} ORDER BY ?g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    res shouldBe Array(
      ("urn:gA", "p1", "\"Acme\""), ("urn:gB", "p2", "\"Globex\""))
  }

  it should "join a STREAM against the registered endpoint (append-safe)" in {
    // the endpoint relation is bounded and static by construction, so a
    // live stream enriches through it like any stream-static join
    implicit val sqlCtx = spark.sqlContext
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, String)]
    src.addData(("p1", "worksAt", "org1"), ("p9", "worksAt", "org9"))
    val out = Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), local.limit(0),
      """PREFIX : <>
        |SELECT ?p ?l WHERE {
        |  ?p :worksAt ?o .
        |  SERVICE <graft://orgs> { ?o :label ?l }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("fed_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("fed_stream").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("p1", "\"Acme\"")) // org9 absent from the endpoint
  }

  it should "join SERVICE vars against the store's own terms when shared (encoded)" in {
    // ?o also surfaces in the projection: the var is SERVICE-bound AND
    // pattern-bound -> demoted at the pattern source, projected as a term
    val st = GraftStore.ingestTriples(spark, local)
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    val q =
      """PREFIX : <>
        |SELECT ?p ?o ?l WHERE {
        |  ?p :worksAt ?o .
        |  SERVICE <graft://orgs> { ?o :label ?l }
        |} ORDER BY ?p""".stripMargin
    val viaEncoded = Sparql.execute(spark, st, q).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    viaEncoded shouldBe Array(
      ("p1", "org1", "\"Acme\""), ("p2", "org2", "\"Globex\""))
  }

  it should "union a VARIABLE endpoint over every registered endpoint" in {
    val remote2 = Seq(("org9", "label", "\"Niners\"")).toDF("s", "p", "o")
    Sparql.registerEndpoint(spark, "graft://orgs", remote)
    Sparql.registerEndpoint(spark, "graft://more", remote2)
    try {
      val res = run(
        """PREFIX : <>
          |SELECT ?p ?ep ?l WHERE {
          |  ?p :worksAt ?o .
          |  SERVICE ?ep { ?o :label ?l }
          |} ORDER BY ?p""".stripMargin)
      res shouldBe Seq(
        Seq("p1", "graft://orgs", "\"Acme\""),
        Seq("p2", "graft://orgs", "\"Globex\""),
        Seq("p3", "graft://more", "\"Niners\""))
    } finally Sparql.unregisterEndpoint(spark, "graft://more")
  }

  it should "treat SILENT ?ep with an empty registry as the unit solution" in {
    Sparql.unregisterEndpoint(spark, "graft://orgs")
    val res = run(
      """PREFIX : <>
        |SELECT ?p WHERE {
        |  ?p :name ?n .
        |  SERVICE SILENT ?ep { ?o :label ?l }
        |} ORDER BY ?p""".stripMargin)
    res shouldBe Seq(Seq("p1"), Seq("p2"), Seq("p3"))
    an[IllegalArgumentException] should be thrownBy run(
      """PREFIX : <>
        |SELECT ?p WHERE { ?p :name ?n .
        |  SERVICE ?ep { ?o :label ?l } }""".stripMargin)
  }
}
