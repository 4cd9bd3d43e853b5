package graft

import graft.sparql.{Results, Sparql}
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** W3C SPARQL 1.1 results serialization (JSON / CSV / TSV). */
class ResultsSpec extends SparkSpec {
  import spark.implicits._

  // mixed term kinds: IRIs, a quoted plain literal, a lang-tagged and a
  // typed literal, a blank node
  lazy val triples = Seq(
    ("person:1", "name", "\"Ada\""),
    ("person:1", "label", "\"Gr\\u00e4fin\"@de"),
    ("person:1", "age", "\"36\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
    ("person:1", "knows", "_:b0")
  ).toDF("s", "p", "o")

  private def q(sel: String) = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
    s"""PREFIX : <>
       |SELECT ?p ?o WHERE { <person:1> ?p ?o } $sel""".stripMargin)

  "toJson" should "emit the W3C results-JSON document" in {
    val json = Results.toJson(q("ORDER BY ?p"))
    json should startWith("""{"head":{"vars":["p","o"]},"results":{"bindings":[""")
    json should include(
      """{"p":{"type":"uri","value":"name"},"o":{"type":"literal","value":"Ada"}}""")
    json should include(
      """"o":{"type":"literal","value":"Gr\\u00e4fin","xml:lang":"de"}""")
    json should include(
      """"o":{"type":"literal","value":"36","datatype":"http://www.w3.org/2001/XMLSchema#integer"}""")
    json should include("""{"type":"bnode","value":"b0"}""")
  }

  "toXml" should "emit the W3C results-XML document" in {
    val xml = Results.toXml(q("ORDER BY ?p"))
    xml should startWith("""<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#">""")
    xml should include("""<head><variable name="p"/><variable name="o"/></head>""")
    xml should include(
      """<binding name="p"><uri>name</uri></binding><binding name="o"><literal>Ada</literal></binding>""")
    xml should include("""<literal xml:lang="de">""")
    xml should include(
      """<literal datatype="http://www.w3.org/2001/XMLSchema#integer">36</literal>""")
    xml should include("""<bnode>b0</bnode>""")
    an[IllegalArgumentException] should be thrownBy
      Results.toXml(q(""), limit = 2)
  }

  "toTurtle" should "group, compact and sort a CONSTRUCT graph" in {
    val g = Sparql.construct(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }""".stripMargin)
    val ttl = Results.toTurtle(g,
      prefixes = Map("ex" -> "person:", "xsd" -> "http://www.w3.org/2001/XMLSchema#"))
    ttl should startWith("@prefix ex: <person:> .")
    ttl should include("ex:1 ")                       // compacted subject
    ttl should include(""""36"^^xsd:integer""")       // compacted datatype
    ttl should include(""""Ada"""")
    ttl should include("_:b0")
    ttl.linesIterator.count(_.endsWith(" .")) shouldBe 3 // 2 prefixes + 1 stanza
  }

  "toTrig" should "round-trip a quad dataset through parseTriG" in {
    import spark.implicits._
    val quads = Seq(
      ("person:1", "name", "\"Ada\"", null),
      ("person:1", "knows", "person:2", null),
      ("person:2", "name", "\"Bob\"", "graph:a"),
      ("person:2", "age", "\"36\"^^<http://www.w3.org/2001/XMLSchema#integer>", "graph:a"),
      ("person:3", "name", "\"Eve\"", "graph:b")
    ).toDF("s", "p", "o", "g")
    val trig = Results.toTrig(quads)
    // default graph first, then sorted named blocks
    trig should include("<graph:a> {")
    trig should include("<graph:b> {")
    trig.indexOf("<person:1>") should be < trig.indexOf("<graph:a>")
    val tmp = java.nio.file.Files.createTempDirectory("graft_trig_rt")
    java.nio.file.Files.writeString(tmp.resolve("out.trig"), trig)
    val back = graft.store.TripleStore.parseTriG(spark, tmp.toString + "/*.trig")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    back shouldBe quads.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), if (r.isNullAt(3)) null else r.getString(3))).toSet
  }

  it should "compact terms inside blocks with the prefix table" in {
    import spark.implicits._
    val quads = Seq(("person:1", "name", "\"Ada\"", "graph:a"))
      .toDF("s", "p", "o", "g")
    val trig = Results.toTrig(quads, prefixes = Map("ex" -> "person:"))
    trig should startWith("@prefix ex: <person:> .")
    trig should include("  ex:1 <name> \"Ada\" .")
  }

  it should "omit unbound variables and refuse oversized results" in {
    val df = Sparql.execute(spark, Sparql.Dataset.Triples(triples),
      """PREFIX : <>
        |SELECT ?p ?x WHERE { <person:1> ?p ?o
        |  OPTIONAL { ?o :nope ?x } } ORDER BY ?p""".stripMargin)
    val json = Results.toJson(df)
    json should include("""{"p":{"type":"uri","value":"age"}}""")
    an[IllegalArgumentException] should be thrownBy
      Results.toJson(q(""), limit = 2)
  }

  private def readLines(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq

  "writeCsv" should "write header + raw lexical forms" in {
    val dir = Files.createTempDirectory("graft_csv").toString
    Results.writeCsv(q("ORDER BY ?p").coalesce(1), dir)
    val lines = readLines(dir)
    lines.head shouldBe "p,o"
    lines should contain("name,Ada")
    lines should contain("age,36")          // typed literal -> lexical form
    lines should contain("knows,_:b0")
  }

  "fromJson" should "round-trip terms, escapes and unbound cells" in {
    import spark.implicits._
    val df = Seq(
      ("iri:a", "\"li \\\"q\\\" ne\\nx\"", Some("_:s:b1")),
      ("iri:b", "\"wort\"@de", None),
      ("iri:c", "\"7\"^^<http://www.w3.org/2001/XMLSchema#int>", Some("iri:d"))
    ).toDF("s", "v", "w")
    val doc = Results.toJson(df)
    // W3C JSON carries the RAW lexical form: the stored \n becomes a
    // real JSON \n escape, not a double-escaped backslash
    doc should include("li \\\"q\\\" ne\\nx")
    doc should not include "\\\\n"
    val back = Results.fromJson(spark, doc)
    back.columns.toSeq shouldBe Seq("s", "v", "w")
    back.collect().map(r => (r.getString(0), r.getString(1),
      Option(r.getString(2)))).toSet shouldBe df.collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
  }

  "fromXml" should "round-trip terms, escapes and unbound cells" in {
    import spark.implicits._
    val df = Seq(
      ("iri:a", "\"a<b&c>d \\\"q\\\"\"", Some("_:s:b1")),
      ("iri:b", "\"wort\"@de", None),
      ("iri:c", "\"7\"^^<http://www.w3.org/2001/XMLSchema#int>", Some("iri:d"))
    ).toDF("s", "v", "w")
    val back = Results.fromXml(spark, Results.toXml(df))
    back.columns.toSeq shouldBe Seq("s", "v", "w")
    back.collect().map(r => (r.getString(0), r.getString(1),
      Option(r.getString(2)))).toSet shouldBe df.collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
  }

  "writeTsv" should "write ?var header + SPARQL-syntax terms" in {
    val dir = Files.createTempDirectory("graft_tsv").toString
    Results.writeTsv(q("ORDER BY ?p").coalesce(1), dir)
    val lines = readLines(dir)
    lines.head shouldBe "?p\t?o"
    lines should contain("<name>\t\"Ada\"")
    lines should contain(
      "<age>\t\"36\"^^<http://www.w3.org/2001/XMLSchema#integer>")
  }
}
