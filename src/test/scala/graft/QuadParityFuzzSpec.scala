package graft

import graft.sparql.Sparql

/** Seeded random-algebra parity fuzz: the string quad path and the
  * ENCODED quad path must agree on every composition the generator can
  * produce — triple patterns with random constant positions, GRAPH
  * confinement under both target forms, OPTIONAL / UNION / MINUS /
  * FILTER / DISTINCT stacked at random. The Turtle writer↔parser pair
  * has the same discipline (TurtlePropertySpec); this is the query-side
  * twin, aimed at the newest surface (encoded quads).
  */
class QuadParityFuzzSpec extends SparkSpec {
  import spark.implicits._

  // a fixture rich enough for joins to hit: 3 named graphs + default,
  // shared objects across graphs, literals alongside IRIs
  lazy val quads: org.apache.spark.sql.DataFrame = {
    val subs = Seq("s1", "s2", "s3", "s4", "s5", "s6")
    val rows = scala.collection.mutable.Buffer.empty[(String, String, String, String)]
    for ((s, i) <- subs.zipWithIndex) {
      // table-store literal convention: UNQUOTED object terms; every
      // predicate lives in the default graph AND the named graphs, with
      // q linking subjects so multi-pattern joins actually fire
      rows += ((s, "p", s"${i % 3}", null))
      rows += ((s, "q", subs((i + 1) % 6), null))
      rows += ((s, "r", s"v${i % 2}", null))
      val g = s"g${i % 3 + 1}"
      rows += ((s, "p", s"${(i + 1) % 3}", g))
      rows += ((s, "q", subs((i + 2) % 6), g))
      if (i % 2 == 0) rows += ((s, "r", s"v${i % 2}", g))
    }
    rows.toSeq.toDF("s", "p", "o", "g")
  }
  lazy val encPair = graft.store.TripleStore.encodeQuads(quads)

  private val preds = Seq("p", "q", "r")
  // object constants that actually occur, per predicate — a blind pool
  // would make most conjunctions vacuously empty
  private val objPool = Map(
    "p" -> Seq("\"0\"", "\"1\"", "\"2\""),
    "q" -> Seq("<s1>", "<s2>", "<s3>", "<s4>", "<s5>", "<s6>"),
    "r" -> Seq("\"v0\"", "\"v1\""))
  private val subjPool = Seq("<s1>", "<s2>", "<s4>")
  private val consts = objPool.values.flatten.toSeq

  private def gen(rnd: scala.util.Random): String = {
    val vars = Seq("?x", "?y", "?z")
    def subjTerm(bound: Seq[String]): String =
      if (rnd.nextInt(6) == 0) subjPool(rnd.nextInt(subjPool.length))
      else if (bound.nonEmpty && rnd.nextBoolean()) bound(rnd.nextInt(bound.length))
      else vars(rnd.nextInt(vars.length))
    def pat(bound: Seq[String]): (String, Seq[String]) = {
      val p = preds(rnd.nextInt(preds.length))
      val s = subjTerm(bound)
      val pool = objPool(p)
      val o =
        if (rnd.nextInt(4) == 0) pool(rnd.nextInt(pool.length))
        else if (p == "q" && bound.nonEmpty && rnd.nextBoolean())
          bound(rnd.nextInt(bound.length))
        else vars(rnd.nextInt(vars.length))
      (s"$s <$p> $o .", Seq(s, o).filter(_.startsWith("?")))
    }
    // base: always at least one pattern with a variable subject
    val v0 = vars(rnd.nextInt(vars.length))
    val (bp, bv0) = {
      val p = preds(rnd.nextInt(preds.length))
      val pool = objPool(p)
      val o =
        if (rnd.nextInt(3) == 0) pool(rnd.nextInt(pool.length))
        else vars(rnd.nextInt(vars.length))
      (s"$v0 <$p> $o .", Seq(v0) ++ Seq(o).filter(_.startsWith("?")))
    }
    var bound = bv0.distinct
    val parts = scala.collection.mutable.Buffer(bp)
    (0 until rnd.nextInt(2)).foreach { _ =>
      val (t, vs) = pat(bound); parts += t; bound = (bound ++ vs).distinct
    }
    if (rnd.nextInt(3) == 0) {
      val (t, _) = pat(bound)
      parts += s"OPTIONAL { $t }"
    }
    if (rnd.nextInt(4) == 0) {
      val (a, _) = pat(bound); val (b, _) = pat(bound)
      parts += s"{ $a } UNION { $b }"
    }
    if (rnd.nextInt(4) == 0) {
      val (t, _) = pat(bound)
      parts += s"MINUS { $t }"
    }
    if (rnd.nextInt(3) == 0 && bound.nonEmpty) {
      val v = bound(rnd.nextInt(bound.length))
      val f = rnd.nextInt(3) match {
        case 0 => s"FILTER($v != ${consts(rnd.nextInt(consts.length))})"
        case 1 => s"FILTER(BOUND($v))"
        case _ => s"FILTER(STRSTARTS(STR($v), \"s\"))"
      }
      parts += f
    }
    // term-EQUALITY filter family, generated independently: the encoded
    // path rewrites =/IN/sameTerm on id vars to id-space predicates
    // (encTermEqRewrite) — parity here proves the rewrite, including the
    // "absent constant hashes match nothing" branch
    if (rnd.nextInt(4) == 0 && bound.nonEmpty) {
      val v = bound(rnd.nextInt(bound.length))
      def cOrAbsent(): String =
        if (rnd.nextInt(5) == 0) "\"zzz-absent\""
        else consts(rnd.nextInt(consts.length))
      parts += (rnd.nextInt(3) match {
        case 0 => s"FILTER($v = ${cOrAbsent()})"
        case 1 =>
          val items = (0 to 1 + rnd.nextInt(2)).map(_ => cOrAbsent()).distinct
          s"FILTER($v IN (${items.mkString(", ")}))"
        case _ => s"FILTER(sameTerm($v, ${cOrAbsent()}))"
      })
    }
    val body = parts.mkString(" ")
    val group = rnd.nextInt(3) match {
      case 0 => body                       // default graph
      case 1 =>
        // per-graph LIMIT: a KEYLESS subquery slice orders by all
        // projected columns, so the per-graph row_number is
        // deterministic on both paths (full-row ties pick identical
        // rows) — fuzzing the §13.3 per-active-graph semantics
        if (rnd.nextInt(4) == 0)
          s"GRAPH ?g { { SELECT * WHERE { $body } LIMIT ${1 + rnd.nextInt(2)} } }"
        else s"GRAPH ?g { $body }"         // variable target
      case _ => s"GRAPH <g${rnd.nextInt(3) + 1}> { $body }" // constant target
    }
    val distinct = if (rnd.nextBoolean()) "DISTINCT " else ""
    s"SELECT $distinct* WHERE { $group }"
  }

  private def genScript(rnd: scala.util.Random): String = {
    val graphs = Seq("<g1>", "<g2>", "<g3>")
    val gOrD = () => if (rnd.nextInt(4) == 0) None else Some(graphs(rnd.nextInt(3)))
    def quad(): String = {
      val sPool = Seq("<s1>", "<s2>", "<s3>", "<n1>", "<n2>")
      val s = sPool(rnd.nextInt(sPool.length))
      val p = Seq("<p>", "<q>", "<x>")(rnd.nextInt(3))
      val o = Seq("\"0\"", "\"w1\"", "<s4>")(rnd.nextInt(3))
      s"$s $p $o"
    }
    def ground(kw: String): String = {
      val qs = (1 to 1 + rnd.nextInt(2)).map(_ => quad())
      gOrD() match {
        case Some(g) => s"$kw DATA { GRAPH $g { ${qs.mkString(" . ")} } }"
        case None => s"$kw DATA { ${qs.mkString(" . ")} }"
      }
    }
    def op(): String = rnd.nextInt(7) match {
      case 0 => ground("INSERT")
      case 1 => ground("DELETE")
      case 2 => gOrD() match {
        case Some(g) => s"CLEAR GRAPH $g"
        case None => "CLEAR DEFAULT"
      }
      case 3 =>
        val kind = Seq("COPY", "MOVE", "ADD")(rnd.nextInt(3))
        val a = graphs(rnd.nextInt(3)); val b = graphs(rnd.nextInt(3))
        val src = if (rnd.nextInt(5) == 0) "DEFAULT" else s"GRAPH $a"
        val dst = if (rnd.nextInt(5) == 0) "DEFAULT" else s"GRAPH $b"
        s"$kind $src TO $dst"
      case 4 =>
        val g = graphs(rnd.nextInt(3))
        s"WITH $g DELETE { ?s <p> ?o } INSERT { ?s <p2> ?o } WHERE { ?s <p> ?o }"
      case 5 =>
        val g = graphs(rnd.nextInt(3))
        s"DELETE WHERE { GRAPH $g { ?s <q> ?o } }"
      case _ =>
        "INSERT { GRAPH ?g { ?s <seen> \"1\" } } WHERE { GRAPH ?g { ?s <p> \"0\" } }"
    }
    (1 to 1 + rnd.nextInt(2)).map(_ => op()).mkString(" ;\n")
  }

  // default-graph-only scripts: every form the store-handle path runs
  private def genTripleScript(rnd: scala.util.Random): String = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def triple(): String = {
      val s = pick(Seq("<s1>", "<s2>", "<s3>", "<n1>"))
      val p = pick(preds)
      s"$s <$p> ${pick(objPool(p) :+ "\"w1\"")}"
    }
    def ground(kw: String): String =
      s"$kw DATA { ${(1 to 1 + rnd.nextInt(2)).map(_ => triple()).mkString(" . ")} }"
    def op(): String = rnd.nextInt(12) match {
      case 0 | 1 | 2 => ground("INSERT")
      case 3 | 4 => ground("DELETE")
      case 5 | 6 =>
        val p = pick(preds)
        s"DELETE { ?s <$p> ?o } INSERT { ?s <${p}2> ?o } WHERE { ?s <$p> ?o }"
      case 7 | 8 =>
        val o = pick(objPool("p"))
        s"INSERT { ?s <seen> $o } WHERE { ?s <p> $o }"
      case 9 | 10 =>
        val p = pick(preds)
        s"DELETE WHERE { ?s <$p> ${pick(objPool(p) :+ "?o")} }"
      case _ => "CLEAR DEFAULT"
    }
    (1 to 1 + rnd.nextInt(3)).map(_ => op()).mkString(" ;\n")
  }

  "store-handle and quad updates" should "agree on 20 random default-graph scripts" in {
    import org.apache.spark.sql.functions.col
    val triples = quads.where(col("g").isNull)
    val h0 = graft.store.GraftStore.ingestTriples(spark,
      triples.select("s", "p", "o"))
    val rnd = new scala.util.Random(4242L)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
      df.select("s", "p", "o").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    (1 to 20).foreach { i =>
      val script = genTripleScript(rnd)
      withClue(s"case $i:\n$script\n") {
        val viaHandle = canon(Sparql.update(spark, h0, script).triples)
        val viaQuads = canon(Sparql.updateQuads(spark, triples, script))
        viaHandle shouldBe viaQuads
      }
    }
  }

  "string and encoded quad updates" should "agree on 30 random scripts" in {
    val (enc0, dict0) = encPair
    val rnd = new scala.util.Random(777L)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    (1 to 30).foreach { i =>
      val script = genScript(rnd)
      withClue(s"case $i:\n$script\n") {
        val viaStrings = canon(Sparql.updateQuads(spark, quads, script))
        val (encOut, dictOut) =
          Sparql.updateQuadsEnc(spark, enc0, dict0, script)
        val viaEnc = canon(graft.dict.Dictionary
          .decodeAll(encOut, dictOut, Seq("s", "p", "o", "g")))
        viaEnc shouldBe viaStrings
      }
    }
  }

  // deeper local hunts: sbt -Dgraft.fuzz.n=500 "testOnly graft.QuadParityFuzzSpec"
  private val fuzzN = sys.props.getOrElse("graft.fuzz.n", "100").toInt

  // the default graph as a single-graph dataset, string and encoded
  lazy val defaultTriples: org.apache.spark.sql.DataFrame =
    quads.where(org.apache.spark.sql.functions.col("g").isNull).select("s", "p", "o")
  lazy val defaultStore = graft.store.GraftStore.ingestTriples(spark, defaultTriples)

  /** A result as a bag: columns by name, rows sorted. */
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq
      .map(r => (0 until r.length).map(j =>
        if (r.isNullAt(j)) null else r.get(j).toString))
      .sortBy(_.mkString(""))
  }

  "string and encoded quad paths" should "agree on 100 random algebra compositions" in {
    val (enc, dict) = encPair
    val rnd = new scala.util.Random(20260814L)
    var nonEmpty = 0
    var singleGraph = 0
    (1 to fuzzN).foreach { i =>
      val q = gen(rnd)
      withClue(s"case $i: $q\n") {
        val viaStrings = rows(Sparql.execute(spark, Sparql.Dataset.Quads(quads), q))
        val viaEnc = rows(Sparql.execute(spark, Sparql.Dataset.QuadsEncoded(enc, dict), q))
        viaEnc shouldBe viaStrings
        if (viaStrings.nonEmpty) nonEmpty += 1
        // a default-graph composition reads the same graph as the
        // single-graph datasets: triples and a store handle agree too
        if (!q.contains("GRAPH")) {
          rows(Sparql.execute(spark, Sparql.Dataset.Triples(defaultTriples), q)) shouldBe
            viaStrings
          rows(Sparql.execute(spark, defaultStore, q)) shouldBe viaStrings
          singleGraph += 1
        }
      }
    }
    singleGraph should be >= fuzzN / 5
    // the generator must actually exercise joins, not vacuous empties
    // (the eq-filter family empties some compositions by design)
    nonEmpty should be >= fuzzN / 4
  }

  "the four datasets" should "agree on fixed ASK, CONSTRUCT and DESCRIBE queries" in {
    // the default graph gains a blank chain e:1 -> _:a1 -> _:g1, which
    // lives only there, so its DESCRIBE reads the same triples in every
    // dataset (DESCRIBE over quads also reads the named graphs)
    val chain = Seq(("e:1", "addr", "_:a1"), ("_:a1", "geo", "_:g1"),
      ("_:g1", "lat", "47"), ("e:2", "addr", "_:a2"), ("_:a2", "geo", "46"))
    val quadsB = quads.unionByName(chain.map { case (s, p, o) => (s, p, o, null: String) }
      .toDF("s", "p", "o", "g"))
    val triplesB = defaultTriples.unionByName(chain.toDF("s", "p", "o"))
    val (enc, dict) = graft.store.TripleStore.encodeQuads(quadsB)
    val cells = Seq(
      "quads" -> Sparql.Dataset.Quads(quadsB),
      "encoded quads" -> Sparql.Dataset.QuadsEncoded(enc, dict),
      "triples" -> Sparql.Dataset.Triples(triplesB),
      "store" -> Sparql.Dataset.Store(graft.store.GraftStore.ingestTriples(spark, triplesB)))
    def agree[A](what: String, run: Sparql.Dataset => A): A = {
      val out = cells.map { case (name, ds) => name -> run(ds) }
      out.foreach { case (name, got) =>
        withClue(s"$what over $name: ")(got shouldBe out.head._2) }
      out.head._2
    }
    agree("ASK", Sparql.ask(spark, _, "ASK { ?x <q> ?y . ?y <p> \"1\" }")) shouldBe true
    agree("ASK", Sparql.ask(spark, _, "ASK { ?x <q> ?y . ?y <p> \"7\" }")) shouldBe false
    // a template blank skolemizes from the decoded solution: the same
    // ids in every dataset
    agree("CONSTRUCT", ds => rows(Sparql.construct(spark, ds,
      "CONSTRUCT { ?y <back> ?x . ?x <via> _:b } WHERE { ?x <q> ?y . ?y <r> ?v }")))
      .size shouldBe 12
    // (o, p, s): `rows` orders columns by name
    agree("DESCRIBE", ds => rows(Sparql.describe(spark, ds, "DESCRIBE <e:1>"))) shouldBe
      Seq(Seq("47", "lat", "_:g1"), Seq("_:a1", "addr", "e:1"), Seq("_:g1", "geo", "_:a1"))
  }
}
