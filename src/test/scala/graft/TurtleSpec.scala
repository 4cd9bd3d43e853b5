package graft

import graft.store.{TripleStore, Turtle}

/** Turtle 1.1 parser: directives, sugar forms, literals, blank-node
  * structures, and the per-file-parallel loader surface.
  */
class TurtleSpec extends SparkSpec {

  val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val XSD = "http://www.w3.org/2001/XMLSchema#"

  def p(ttl: String): Set[(String, String, String)] =
    Turtle.parse(ttl, "t").toSet

  "Turtle.parse" should "expand prefixes, @base, a, and ;/, lists" in {
    val got = p(
      """@prefix ex: <http://ex.org/> .
        |@base <http://base.org/dir/> .
        |# a comment
        |ex:s a ex:T ;
        |     ex:p "v1", "v2" ;
        |     ex:q <rel> .
        |<http://abs.org/x> ex:p ex:o.more .
        |""".stripMargin)
    got shouldBe Set(
      ("http://ex.org/s", RDF + "type", "http://ex.org/T"),
      ("http://ex.org/s", "http://ex.org/p", "\"v1\""),
      ("http://ex.org/s", "http://ex.org/p", "\"v2\""),
      ("http://ex.org/s", "http://ex.org/q", "http://base.org/dir/rel"),
      ("http://abs.org/x", "http://ex.org/p", "http://ex.org/o.more"))
  }

  it should "accept SPARQL-style PREFIX/BASE without dots" in {
    val got = p(
      """PREFIX ex: <http://ex.org/>
        |BASE <http://b.org/>
        |ex:s ex:p <r> .
        |""".stripMargin)
    got shouldBe Set(("http://ex.org/s", "http://ex.org/p", "http://b.org/r"))
  }

  it should "type numeric and boolean shorthand per the spec" in {
    val got = p(
      """@prefix : <n:> .
        |:s :i 42 ; :n -7 ; :d 3.14 ; :e 1e3 ; :f .5 ; :t true ; :x false .
        |""".stripMargin)
    got shouldBe Set(
      ("n:s", "n:i", "\"42\"^^<" + XSD + "integer>"),
      ("n:s", "n:n", "\"-7\"^^<" + XSD + "integer>"),
      ("n:s", "n:d", "\"3.14\"^^<" + XSD + "decimal>"),
      ("n:s", "n:e", "\"1e3\"^^<" + XSD + "double>"),
      ("n:s", "n:f", "\".5\"^^<" + XSD + "decimal>"),
      ("n:s", "n:t", "\"true\"^^<" + XSD + "boolean>"),
      ("n:s", "n:x", "\"false\"^^<" + XSD + "boolean>"))
  }

  it should "handle all four string forms, escapes, lang tags, datatypes" in {
    val got = p(
      "@prefix : <n:> .\n" +
        ":s :a \"pla\\tin\" ;\n" +
        "   :b 'single' ;\n" +
        "   :c \"\"\"long \"quoted\" and\nmultiline\"\"\" ;\n" +
        "   :d '''x''' ;\n" +
        "   :e \"fr\"@en-GB ;\n" +
        "   :f \"7\"^^<" + XSD + "byte> ;\n" +
        "   :g \"\\u00e9\\U0001F600\" .\n")
    val m = got.map(t => t._2 -> t._3).toMap
    m("n:a") shouldBe "\"pla\\tin\""
    m("n:b") shouldBe "\"single\""
    m("n:c") shouldBe "\"long \\\"quoted\\\" and\\nmultiline\""
    m("n:d") shouldBe "\"x\""
    m("n:e") shouldBe "\"fr\"@en-GB"
    m("n:f") shouldBe "\"7\"^^<" + XSD + "byte>"
    m("n:g") shouldBe "\"é😀\""
  }

  it should "expand blank-node property lists, labels, and collections" in {
    val got = p(
      """@prefix : <n:> .
        |:s :knows [ :name "anna" ; :age 3 ] .
        |_:x :p :o .
        |[ :lone "subject" ] .
        |:t :list ( :a "b" ) .
        |:u :empty () .
        |""".stripMargin)
    // labeled blanks are scoped; generated blanks are distinct
    got should contain(("_:t:x", "n:p", "n:o"))
    val anna = got.collect { case (s, p, o) if p == "n:name" && o == "\"anna\"" => s }
    anna should have size 1
    got should contain(("n:s", "n:knows", anna.head))
    got should contain((anna.head, "n:age", "\"3\"^^<" + XSD + "integer>"))
    // collection: first/rest/nil chain of length 2
    val first = got.filter(_._2 == RDF + "first")
    first should have size 2
    first.map(_._3) shouldBe Set("n:a", "\"b\"")
    got should contain(("n:u", "n:empty", RDF + "nil"))
    val rests = got.filter(_._2 == RDF + "rest")
    rests.map(_._3) should contain(RDF + "nil")
  }

  it should "keep generated blanks distinct from explicit _:genN labels" in {
    // the anonymous [] would naively take gen1 — colliding with the
    // explicit _:gen1 that appears LATER in the document
    val got = p(
      """@prefix : <n:> .
        |[ :anon "yes" ] .
        |_:gen1 :explicit "yes" .
        |""".stripMargin)
    val anon = got.collect { case (s, _, o) if o == "\"yes\"" => s }
    anon should have size 2 // Set: the two subjects are distinct
    got should contain(("_:t:gen1", "n:explicit", "\"yes\""))
  }

  it should "resolve fragment refs keeping the base query string, and allow trailing ';' in TriG blocks" in {
    val got = p(
      """@base <http://e/x?q=1> .
        |<#f> <p:one> "v" .
        |""".stripMargin)
    got should contain(("http://e/x?q=1#f", "p:one", "\"v\""))
    val quads = Turtle.parseQuads(
      "@prefix : <n:> .\n:g { :s :p :o ; }\n", "t")
    quads shouldBe Seq(("n:s", "n:p", "n:o", "n:g"))
  }

  it should "reject a lone non-bracketed subject and undeclared prefixes" in {
    a[Turtle.ParseException] should be thrownBy p("@prefix : <n:> .\n:s .\n")
    a[Turtle.ParseException] should be thrownBy p("x:s x:p x:o .\n")
    a[Turtle.ParseException] should be thrownBy p("@prefix : <n:> .\n:s :p \"open .\n")
  }

  "TripleStore.parseTurtle" should "load files in parallel with per-file blank scopes" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl")
    try {
      // two files using the SAME blank label — must not collide
      java.nio.file.Files.writeString(dir.resolve("a.ttl"),
        "@prefix : <n:> .\n_:b :from \"a\" .\n")
      java.nio.file.Files.writeString(dir.resolve("b.ttl"),
        "@prefix : <n:> .\n_:b :from \"b\" .\n")
      val rows = TripleStore.parseTurtle(spark, dir.toString + "/*.ttl")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      rows should have size 2
      rows.map(_._1).distinct should have size 2 // distinct skolem scopes
      rows.map(_._3).toSet shouldBe Set("\"a\"", "\"b\"")
      rows.foreach(_._1 should startWith("_:"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  "Turtle.parseQuads (TriG)" should "route blocks to named graphs and bare statements to the default" in {
    val got = Turtle.parseQuads(
      """@prefix : <n:> .
        |:s :p "default" .
        |GRAPH :g1 { :a :p "in-g1" ; :q "also-g1" . }
        |:g2 { :b :p "in-g2" }
        |{ :c :p "wrapped-default" . }
        |""".stripMargin, "t").toSet
    got shouldBe Set(
      ("n:s", "n:p", "\"default\"", null),
      ("n:a", "n:p", "\"in-g1\"", "n:g1"),
      ("n:a", "n:q", "\"also-g1\"", "n:g1"),
      ("n:b", "n:p", "\"in-g2\"", "n:g2"),
      ("n:c", "n:p", "\"wrapped-default\"", null))
  }

  it should "reject nested graph blocks and feed executeQuads end-to-end" in {
    a[Turtle.ParseException] should be thrownBy Turtle.parseQuads(
      "@prefix : <n:> .\nGRAPH :g { GRAPH :h { :a :p :o } }\n", "t")
    val dir = java.nio.file.Files.createTempDirectory("graft-trig")
    try {
      java.nio.file.Files.writeString(dir.resolve("d.trig"),
        """@prefix : <n:> .
          |:x :in :default .
          |GRAPH :g1 { :a :p :v1 . :a :q :v2 . }
          |GRAPH :g2 { :b :p :v1 . }
          |""".stripMargin)
      val quads = TripleStore.parseTriG(spark, dir.toString + "/*.trig")
      val res = graft.sparql.Sparql.execute(spark, graft.sparql.Sparql.Dataset.Quads(quads),
        """PREFIX : <n:>
          |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p :v1 . ?s :q :v2 } }""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1)))
      res shouldBe Array(("n:g1", "n:a"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  "Results.toTurtle then Turtle.parse" should "round-trip a graph exactly" in {
    import spark.implicits._
    // all four literal shapes + cross-namespace IRIs; blanks excluded
    // (parse re-skolemizes labels per scope, by design)
    val rows = Seq(
      ("http://ex.org/a", "http://ex.org/p", "\"plain\""),
      ("http://ex.org/a", "http://ex.org/p", "\"fr\"@en-GB"),
      ("http://ex.org/a", "http://ex.org/q",
        "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("http://ex.org/b", "http://other.net/r", "http://ex.org/a"),
      ("urn:x", "http://ex.org/p", "\"esc \\\"q\\\" \\n nl\""))
    val ttl = graft.sparql.Results.toTurtle(rows.toDF("s", "p", "o"),
      Map("ex" -> "http://ex.org/"))
    Turtle.parse(ttl, "rt").toSet shouldBe rows.toSet
  }

  "GraftStore.forTurtle" should "serve SPARQL over a Turtle-ingested certified store" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl3")
    try {
      java.nio.file.Files.writeString(dir.resolve("g.ttl"),
        """@prefix : <urn:g:> .
          |:alice :knows :bob ; :age 31 .
          |:bob :knows :carol .
          |""".stripMargin)
      val st = graft.store.GraftStore.forTurtle(spark, dir.toString + "/*.ttl")
      val res = graft.sparql.Sparql.execute(spark, st,
        """PREFIX : <urn:g:>
          |SELECT ?x ?z WHERE { ?x :knows ?y . ?y :knows ?z }""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1)))
      res shouldBe Array(("urn:g:alice", "urn:g:carol"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  it should "agree with parseNTriples on equivalent content" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl2")
    try {
      java.nio.file.Files.writeString(dir.resolve("d.ttl"),
        """@prefix ub: <http://swat.cse.lehigh.edu/onto/univ-bench.owl#> .
          |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
          |<http://www.University0.edu> rdf:type ub:University ;
          |  ub:name "University0" .
          |""".stripMargin)
      java.nio.file.Files.writeString(dir.resolve("d.nt"),
        ("<http://www.University0.edu> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> " +
          "<http://swat.cse.lehigh.edu/onto/univ-bench.owl#University> .\n" +
          "<http://www.University0.edu> <http://swat.cse.lehigh.edu/onto/univ-bench.owl#name> " +
          "\"University0\" .\n"))
      val ttl = TripleStore.parseTurtle(spark, dir.toString + "/d.ttl")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val nt = TripleStore.parseNTriples(spark, dir.toString + "/d.nt")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      ttl shouldBe nt
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
