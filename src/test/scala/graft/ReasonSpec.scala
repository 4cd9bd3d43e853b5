package graft

import graft.ops.{GraphOps, ReasonOps}
import graft.ops.ReasonOps.Corpus
import org.apache.spark.sql.functions.col
import graft.ops.ReasonOps.{Domain, Range, SubClassOf, SubPropertyOf}

/** RDFS materialization: exact closure on a hand-computed fixture
  * (sub-property chains, INHERITED domains, range typing, sub-class
  * expansion over derived types), cycle termination, idempotence, and
  * the TBox fail-fast cap.
  */
class ReasonSpec extends SparkSpec {
  import spark.implicits._

  private def tset(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  "ReasonOps.transitive" should "close chains and drop reflexive pairs" in {
    ReasonOps.transitive(Seq("a" -> "b", "b" -> "c", "c" -> "d")).toSet shouldBe
      Set("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d", "c" -> "d")
  }

  it should "terminate on cycles with every cross pair and no self pair" in {
    // a <-> b cycle plus an exit edge: each cycle member reaches the other
    // and the exit, but never itself
    ReasonOps.transitive(Seq("a" -> "b", "b" -> "a", "b" -> "c")).toSet shouldBe
      Set("a" -> "b", "a" -> "c", "b" -> "a", "b" -> "c")
  }

  "ReasonOps.rdfsClosure" should "derive the exact rho-df closure" in {
    // worksFor sp employedBy sp affiliated; employedBy has the domain, so
    // a base worksFor statement must pick it up through INHERITANCE;
    // Person sc Agent sc Entity two-level class chain; range types the
    // OBJECT and that derived type must itself sub-class-expand.
    val g = Seq(
      ("worksFor", SubPropertyOf, "employedBy"),
      ("employedBy", SubPropertyOf, "affiliated"),
      ("employedBy", Domain, "Person"),
      ("affiliated", Range, "Org"),
      ("Person", SubClassOf, "Agent"),
      ("Agent", SubClassOf, "Entity"),
      ("Org", SubClassOf, "Agent"),
      ("alice", "worksFor", "acme"),
      ("bob", "a", "Person")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.rdfsClosure(g))
    val expected = Set(
      // base
      ("worksFor", SubPropertyOf, "employedBy"),
      ("employedBy", SubPropertyOf, "affiliated"),
      ("employedBy", Domain, "Person"),
      ("affiliated", Range, "Org"),
      ("Person", SubClassOf, "Agent"),
      ("Agent", SubClassOf, "Entity"),
      ("Org", SubClassOf, "Agent"),
      ("alice", "worksFor", "acme"),
      ("bob", "a", "Person"),
      // rdfs5: closed property hierarchy
      ("worksFor", SubPropertyOf, "affiliated"),
      // rdfs11: closed class hierarchy
      ("Person", SubClassOf, "Entity"),
      ("Org", SubClassOf, "Entity"),
      // rdfs7: property expansion of the one ABox edge
      ("alice", "employedBy", "acme"),
      ("alice", "affiliated", "acme"),
      // rdfs2 via inheritance: worksFor inherits employedBy's domain
      ("alice", "a", "Person"),
      // rdfs3 via inheritance: worksFor inherits affiliated's range
      ("acme", "a", "Org"),
      // rdfs9 over base AND derived types
      ("alice", "a", "Agent"), ("alice", "a", "Entity"),
      ("acme", "a", "Agent"), ("acme", "a", "Entity"),
      ("bob", "a", "Agent"), ("bob", "a", "Entity"))
    got shouldBe expected
  }

  it should "be idempotent" in {
    val g = Seq(
      ("p1", SubPropertyOf, "p2"),
      ("p2", Domain, "C"),
      ("C", SubClassOf, "D"),
      ("x", "p1", "y")
    ).toDF("s", "p", "o")
    val once = ReasonOps.rdfsClosure(g)
    tset(ReasonOps.rdfsClosure(once)) shouldBe tset(once)
  }

  it should "terminate on a class-hierarchy cycle" in {
    val g = Seq(
      ("A", SubClassOf, "B"),
      ("B", SubClassOf, "A"),
      ("x", "a", "A")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.rdfsClosure(g))
    got should contain allOf (("x", "a", "A"), ("x", "a", "B"),
      ("A", SubClassOf, "B"), ("B", SubClassOf, "A"))
    // no reflexive hierarchy statements, no self-typing of classes
    got should not contain (("A", SubClassOf, "A"))
    got should not contain (("B", SubClassOf, "B"))
  }

  "ReasonOps.rdfsClosureEncoded" should "derive on long ids exactly like strings" in {
    // string fixture and its long-id encoding share structure; the
    // encoded closure must be the id-image of the string closure
    val terms = Seq("sc", "sp", "dom", "rng", "ty", "P", "A", "p", "q",
      "C", "x", "y")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    val g = Seq(
      ("p", "sp", "q"), ("q", "dom", "C"), ("C", "sc", "A"),
      ("x", "p", "y"), ("y", "ty", "C"))
    val strClosure = {
      // rename the vocab into the default string constants to reuse
      // rdfsClosure, then map back
      val m = Map("sc" -> ReasonOps.SubClassOf, "sp" -> ReasonOps.SubPropertyOf,
        "dom" -> ReasonOps.Domain, "rng" -> ReasonOps.Range, "ty" -> "a")
      def f(t: String) = m.getOrElse(t, t)
      val inv = m.map(_.swap)
      tset(ReasonOps.rdfsClosure(
        g.map { case (s, p, o) => (f(s), f(p), f(o)) }.toDF("s", "p", "o")))
        .map { case (s, p, o) =>
          (inv.getOrElse(s, s), inv.getOrElse(p, p), inv.getOrElse(o, o)) }
    }
    val encClosure = ReasonOps.rdfsClosure(
      g.map { case (s, p, o) => (id(s), id(p), id(o)) }.toDF("s", "p", "o"),
      Corpus.encoded(ReasonOps.RdfsIds(id("sc"), id("sp"), id("dom"), id("rng"), id("ty"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    encClosure shouldBe strClosure.map { case (s, p, o) => (id(s), id(p), id(o)) }
  }

  "ReasonOps.rdfsClosureQuads" should "keep derivations in their premise's graph" in {
    val tbox = Seq(
      ("p", SubPropertyOf, "q"),
      ("q", Domain, "C"),
      ("C", SubClassOf, "D")).toDF("s", "p", "o")
    val quads = Seq(
      ("a", "p", "b", "g1"),
      ("c", "p", "d", "g2"),
      ("e", "a", "C", null.asInstanceOf[String])  // default graph
    ).toDF("s", "p", "o", "g")
    val got = ReasonOps.rdfsClosure(quads, Corpus.Quads, Some(tbox)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)).getOrElse("default"))).toSet
    got shouldBe Set(
      // base
      ("a", "p", "b", "g1"), ("c", "p", "d", "g2"), ("e", "a", "C", "default"),
      // rdfs7/2/9 in g1 ONLY for g1's premise
      ("a", "q", "b", "g1"), ("a", "a", "C", "g1"), ("a", "a", "D", "g1"),
      // and in g2 for g2's premise
      ("c", "q", "d", "g2"), ("c", "a", "C", "g2"), ("c", "a", "D", "g2"),
      // default-graph typing expands in the default graph
      ("e", "a", "D", "default"),
      // closed TBox statements land in the default graph
      ("p", SubPropertyOf, "q", "default"),
      ("C", SubClassOf, "D", "default"))
  }

  "ReasonOps.owlClosureQuads" should "close transitive chains per graph only" in {
    val tbox = Seq(
      ("p", "a", ReasonOps.TransitiveProperty),
      ("r", ReasonOps.InverseOf, "p")).toDF("s", "p", "o")
    val quads = Seq(
      ("x", "p", "y", "g1"), ("y", "p", "z", "g1"), // chain inside g1
      ("y", "p", "w", "g2")                          // y->w lives in g2
    ).toDF("s", "p", "o", "g")
    val got = ReasonOps.owlClosure(quads, Corpus.Quads, Some(tbox)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    got shouldBe Set(
      ("x", "p", "y", "g1"), ("y", "p", "z", "g1"), ("y", "p", "w", "g2"),
      // closed INSIDE g1; x->y(g1)->w(g2) must NOT appear anywhere
      ("x", "p", "z", "g1"),
      // inverse of base and of closure-derived edges, graph-preserving
      ("y", "r", "x", "g1"), ("z", "r", "y", "g1"), ("z", "r", "x", "g1"),
      ("w", "r", "y", "g2"))
  }

  "ReasonOps.rdfsDeltaEncoded" should "maintain the encoded closure in O(delta)" in {
    val terms = Seq("sc", "sp", "dom", "rng", "ty", "P", "A", "p", "q",
      "C", "x", "y", "z")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    val ids = ReasonOps.RdfsIds(id("sc"), id("sp"), id("dom"), id("rng"), id("ty"))
    def enc(g: Seq[(String, String, String)]) =
      g.map { case (s, p, o) => (id(s), id(p), id(o)) }.toDF("s", "p", "o")
    val tbox = Seq(("p", "sp", "q"), ("q", "dom", "C"), ("C", "sc", "A"))
    val base = tbox ++ Seq(("x", "p", "y"))
    val delta = Seq(("z", "p", "x"), ("y", "ty", "C"))
    val full = ReasonOps.rdfsClosure(enc(base ++ delta), Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incremental = ReasonOps.rdfsClosure(enc(base), Corpus.encoded(ids))
      .unionAll(ReasonOps.rdfsDelta(enc(tbox), enc(delta), Corpus.encoded(ids)))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    incremental shouldBe full
  }

  "ReasonOps.sameAsCanonicalize" should "smush LONG-id relations too" in {
    // the op is type-generic: rank encoding + CC + rewrite joins all
    // run on whatever the term column type is
    val g = Seq(
      (20L, 1L, 30L),   // 1 = sameAs id
      (30L, 1L, 10L),   // chain {10, 20, 30}, canon = min = 10
      (20L, 5L, 99L),
      (98L, 5L, 30L)
    ).toDF("s", "p", "o")
    val (rewritten, _) = ReasonOps.sameAsCanonicalize(g, Corpus.encoded(1L))
    rewritten.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet shouldBe Set((10L, 5L, 99L), (98L, 5L, 10L))
  }

  "ReasonOps.rdfsDelta" should "equal full rematerialization on base + delta" in {
    val tbox = Seq(
      ("worksFor", SubPropertyOf, "affiliated"),
      ("affiliated", Domain, "Person"),
      ("affiliated", Range, "Org"),
      ("Person", SubClassOf, "Agent"))
    val base = tbox ++ Seq(("a", "worksFor", "x"), ("b", "a", "Person"))
    val delta = Seq(("c", "worksFor", "y"), ("d", "a", "Person"))
    val full = ReasonOps.rdfsClosure((base ++ delta).toDF("s", "p", "o"))
    val incremental = ReasonOps.rdfsClosure(base.toDF("s", "p", "o"))
      .unionAll(ReasonOps.rdfsDelta(tbox.toDF("s", "p", "o"),
        delta.toDF("s", "p", "o")))
      .distinct()
    tset(incremental) shouldBe tset(full)
  }

  "ReasonOps.rdfsDeltaStream" should "emit the batch increment on a live stream" in {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val tbox = Seq(
      ("worksFor", SubPropertyOf, "affiliated"),
      ("affiliated", Domain, "Person"),
      ("Person", SubClassOf, "Agent")).toDF("s", "p", "o")
    val deltaRows = Seq(("a", "worksFor", "x"), ("b", "a", "Person"))
    val src = MemoryStream[(String, String, String)]
    src.addData(deltaRows: _*)
    val out = ReasonOps.rdfsDeltaStream(tbox, src.toDF().toDF("s", "p", "o"))
    out.isStreaming shouldBe true
    val q = out.writeStream.format("memory").queryName("rdfs_stream_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("rdfs_stream_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    got shouldBe tset(ReasonOps.rdfsDelta(tbox, deltaRows.toDF("s", "p", "o")))
  }

  "ReasonOps.rdfsDeltaStreamQuads" should "emit per-graph increments on a live quad stream" in {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val tbox = Seq(
      ("p", SubPropertyOf, "q"),
      ("q", Domain, "C"),
      ("C", SubClassOf, "D")).toDF("s", "p", "o")
    val rows = Seq(("a", "p", "b", "g1"), ("c", "p", "d", "g2"),
      ("e", "a", "C", null.asInstanceOf[String]))
    val src = MemoryStream[(String, String, String, String)]
    src.addData(rows: _*)
    val out = ReasonOps.rdfsDeltaStream(tbox,
      src.toDF().toDF("s", "p", "o", "g"), Corpus.Quads)
    out.isStreaming shouldBe true
    val q = out.writeStream.format("memory").queryName("rdfs_qstream_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("rdfs_qstream_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)).getOrElse("default"))).toSet
    // exactly the batch closure minus the closed-TBox statements,
    // derivations confined to their premise's graph
    got shouldBe Set(
      ("a", "p", "b", "g1"), ("a", "q", "b", "g1"),
      ("a", "a", "C", "g1"), ("a", "a", "D", "g1"),
      ("c", "p", "d", "g2"), ("c", "q", "d", "g2"),
      ("c", "a", "C", "g2"), ("c", "a", "D", "g2"),
      ("e", "a", "C", "default"), ("e", "a", "D", "default"))
  }

  it should "fail the batch on TBox statements arriving on the stream" in {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val tbox = Seq(("C", SubClassOf, "D")).toDF("s", "p", "o")
    val src = MemoryStream[(String, String, String, String)]
    src.addData(("A", SubClassOf, "B", "g1"))
    val out = ReasonOps.rdfsDeltaStream(tbox,
      src.toDF().toDF("s", "p", "o", "g"), Corpus.Quads)
    val q = out.writeStream.format("memory").queryName("rdfs_qstream_bad")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000)
    }
    e.getMessage should include("re-materialization")
  }

  "GraftStore closure artifacts" should "persist, append increments, reopen" in {
    import graft.store.GraftStore
    val tbox = Seq(
      ("worksFor", SubPropertyOf, "affiliated"),
      ("Person", SubClassOf, "Agent")).toDF("s", "p", "o")
    val base = tbox.unionAll(Seq(("a", "worksFor", "x")).toDF("s", "p", "o"))
    val delta = Seq(("b", "a", "Person")).toDF("s", "p", "o")
    val path = java.nio.file.Files.createTempDirectory("graft-closure").toString
    GraftStore.persistClosure(ReasonOps.rdfsClosure(base), path)
    GraftStore.persistClosure(ReasonOps.rdfsDelta(tbox, delta), path, append = true)
    val reopened = GraftStore.openClosure(spark, path)
    tset(reopened.distinct()) shouldBe
      tset(ReasonOps.rdfsClosure(base.unionAll(delta)))
  }

  it should "maintain a REOPENED closure through a DELETE and re-persist" in {
    // the full DRed lifecycle on the persisted artifact: reason once,
    // persist, reopen in a "later session", retract, re-persist
    // (retraction rewrites — the compaction step of tombstone-lazy
    // maintenance), reopen again
    import graft.store.GraftStore
    val tbox = Seq(
      ("worksFor", SubPropertyOf, "affiliated"),
      ("affiliated", Domain, "Person")).toDF("s", "p", "o")
    val abox = Seq(("a", "worksFor", "x"), ("b", "worksFor", "x"))
    val base = tbox.unionAll(abox.toDF("s", "p", "o"))
    val del = Seq(("a", "worksFor", "x")).toDF("s", "p", "o")
    val p1 = java.nio.file.Files.createTempDirectory("graft-closure-d1").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft-closure-d2").toString
    GraftStore.persistClosure(ReasonOps.rdfsClosure(base), p1)
    val maintained = ReasonOps.rdfsRetract(
      GraftStore.openClosure(spark, p1), base, del)
    GraftStore.persistClosure(maintained, p2)
    tset(GraftStore.openClosure(spark, p2)) shouldBe
      tset(ReasonOps.rdfsClosure(
        tbox.unionAll(Seq(("b", "worksFor", "x")).toDF("s", "p", "o"))))
  }

  it should "run the QUAD lifecycle: persist, append, reopen, retract, re-persist" in {
    import graft.store.GraftStore
    def qs(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    val tbox = Seq(
      ("worksFor", SubPropertyOf, "affiliated"),
      ("affiliated", Domain, "Person")).toDF("s", "p", "o")
    val base = Seq(("a", "worksFor", "x", "g1"), ("b", "worksFor", "x", "g2"))
      .toDF("s", "p", "o", "g")
    val delta = Seq(("c", "worksFor", "y", "g1")).toDF("s", "p", "o", "g")
    val p1 = java.nio.file.Files.createTempDirectory("graft-qclosure1").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft-qclosure2").toString
    // persist the materialized per-graph closure, fold an O(Δ) increment
    GraftStore.persistClosure(ReasonOps.rdfsClosure(base, Corpus.Quads, Some(tbox)), p1,
      Corpus.Quads)
    GraftStore.persistClosure(
      ReasonOps.rdfsDelta(tbox, delta, Corpus.Quads), p1, Corpus.Quads, append = true)
    val reopened = GraftStore.openClosure(spark, p1, Corpus.Quads)
    qs(reopened.distinct()) shouldBe
      qs(ReasonOps.rdfsClosure(base.unionByName(delta), Corpus.Quads, Some(tbox)))
    // retract against the REOPENED artifact, re-persist (compaction)
    val del = Seq(("a", "worksFor", "x", "g1")).toDF("s", "p", "o", "g")
    val maintained = ReasonOps.rdfsRetract(reopened.distinct(),
      base.unionByName(delta), del, Corpus.Quads, Some(tbox))
    GraftStore.persistClosure(maintained, p2, Corpus.Quads)
    qs(GraftStore.openClosure(spark, p2, Corpus.Quads)) shouldBe
      qs(ReasonOps.rdfsClosure(
        Seq(("b", "worksFor", "x", "g2"), ("c", "worksFor", "y", "g1"))
          .toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox)))
  }

  it should "reject TBox statements in a delta" in {
    val e = intercept[IllegalArgumentException] {
      ReasonOps.rdfsDelta(
        Seq(("A", SubClassOf, "B")).toDF("s", "p", "o"),
        Seq(("C", SubClassOf, "D")).toDF("s", "p", "o")).collect()
    }
    e.getMessage should include("re-materialization")
  }

  "GraphOps.transitiveClosure" should "close a chain in log rounds" in {
    val e = Seq(("1", "2"), ("2", "3"), ("3", "4")).toDF("a", "b")
    // diameter 3 closes in 2 doubling rounds + 1 fixpoint-confirm round:
    // under the seam the doubling runs, bounded by maxRounds = 3; at the
    // default cap the driver BFS serves it
    Seq(-1, GraphOps.GraphDriverCap).foreach { cap =>
      GraphOps.graphDriverCap.withValue(cap)(
        GraphOps.transitiveClosure(e, maxRounds = 3).collect())
        .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
        Set("1" -> "2", "1" -> "3", "1" -> "4",
          "2" -> "3", "2" -> "4", "3" -> "4")
    }
  }

  it should "terminate on cycles without self pairs" in {
    val e = Seq(("a", "b"), ("b", "a")).toDF("a", "b")
    // the closure keeps (x, x) on a cycle; the OWL callers drop a = b
    GraphOps.transitiveClosure(e, maxRounds = 16).where(col("a") =!= col("b")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set("a" -> "b", "b" -> "a")
  }

  "ReasonOps.owlClosure" should "invert CLOSED chains, not just base edges" in {
    val g = Seq(
      ("p", "a", ReasonOps.TransitiveProperty),
      ("q", ReasonOps.InverseOf, "p"),
      ("x", "p", "y"), ("y", "p", "z")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlClosure(g))
    got should contain(("x", "p", "z"))
    // inverse of the DERIVED x->z edge (the pass-2 fixpoint)
    got should contain(("z", "q", "x"))
    got should contain(("y", "q", "x"))
    got should contain(("z", "q", "y"))
    // and base q edges feed p chains through the inverse
    val g2 = Seq(
      ("p", "a", ReasonOps.TransitiveProperty),
      ("q", ReasonOps.InverseOf, "p"),
      ("x", "p", "y"), ("z", "q", "y")
    ).toDF("s", "p", "o")
    tset(ReasonOps.owlClosure(g2)) should contain(("x", "p", "z"))
  }

  it should "close a symmetric transitive property both ways" in {
    val g = Seq(
      ("r", "a", ReasonOps.SymmetricProperty),
      ("r", "a", ReasonOps.TransitiveProperty),
      ("x", "r", "y"), ("y", "r", "z")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlClosure(g))
    for (a <- Seq("x", "y", "z"); b <- Seq("x", "y", "z") if a != b)
      got should contain((a, "r", b))
  }

  "ReasonOps.sameAsCanonicalize" should "smush chained identities to the min" in {
    val g = Seq(
      ("b", ReasonOps.SameAs, "c"),
      ("c", ReasonOps.SameAs, "a"),       // chain: {a, b, c} one cluster
      ("b", "knows", "d"),
      ("d", "knows", "c"),
      ("e", "knows", "e")                  // untouched
    ).toDF("s", "p", "o")
    val (rewritten, mapping) = ReasonOps.sameAsCanonicalize(g)
    tset(rewritten) shouldBe Set(
      ("a", "knows", "d"),
      ("d", "knows", "a"),
      ("e", "knows", "e"))
    mapping.collect().map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("a", "a"), ("b", "a"), ("c", "a"))
  }

  it should "fail fast on a non-schema-shaped TBox" in {
    val g = (1 to 100).map(i => (s"s$i", SubClassOf, s"o$i")).toDF("s", "p", "o")
    val e = intercept[IllegalArgumentException] {
      ReasonOps.rdfsClosure(g, tboxCap = 10)
    }
    e.getMessage should include("TBox")
  }

  "ReasonOps string vocabulary" should "recognize full-IRI schema statements and emit IRIs" in {
    // loader-ingested graphs carry the W3C IRIs, not the prefixed short
    // forms — the closure must collect the TBox, derive, AND emit its
    // closed statements in the SAME rendering the data uses
    val g = Seq(
      ("worksFor", ReasonOps.SubPropertyOfIri, "employedBy"),
      ("employedBy", ReasonOps.SubPropertyOfIri, "affiliated"),
      ("employedBy", ReasonOps.DomainIri, "Person"),
      ("Person", ReasonOps.SubClassOfIri, "Agent"),
      ("alice", "worksFor", "acme"),
      ("bob", ReasonOps.TypeIri, "Person")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.rdfsClosure(g))
    got should contain allOf (
      ("alice", "employedBy", "acme"),
      ("alice", "affiliated", "acme"),
      ("alice", ReasonOps.TypeIri, "Person"),
      ("alice", ReasonOps.TypeIri, "Agent"),
      ("bob", ReasonOps.TypeIri, "Agent"),
      ("worksFor", ReasonOps.SubPropertyOfIri, "affiliated"))
    // no short-form statements invented for an IRI-rendered graph
    got.map(_._2) should not contain SubPropertyOf
    got.filter(t => t._2 == "a") shouldBe empty
  }

  it should "fire the delta TBox fail-fast on full-IRI schema statements too" in {
    val e = intercept[IllegalArgumentException] {
      ReasonOps.rdfsDelta(
        Seq(("A", SubClassOf, "B")).toDF("s", "p", "o"),
        Seq(("C", ReasonOps.SubClassOfIri, "D")).toDF("s", "p", "o")).collect()
    }
    e.getMessage should include("re-materialization")
  }

  "ReasonOps.rdfsEntailed" should "equal the materialized closure with pattern filters pushed into the TBox maps" in {
    val g = Seq(
      ("worksFor", SubPropertyOf, "affiliated"),
      ("affiliated", Range, "Org"),
      ("Org", SubClassOf, "Agent"),
      ("alice", "worksFor", "acme"),
      ("bob", "a", "Agent")
    ).toDF("s", "p", "o")
    val ent = ReasonOps.rdfsEntailed(g)
    // nothing materialized: same answer set as the materialized closure
    tset(ent) shouldBe tset(ReasonOps.rdfsClosure(g))
    // constant-predicate pattern: every rule leg whose emitted predicate
    // contradicts the filter constant-folds away and the sub-property
    // pair table filters to the sub-property set — ONE join survives
    val byPred = ent.where(col("p") === "affiliated")
    byPred.collect().map(r => (r.getString(0), r.getString(2))).toSet shouldBe
      Set(("alice", "acme"))
    val plan = byPred.queryExecution.optimizedPlan.toString
    (plan.split("Join").length - 1) should be <= 1
    // constant-class type pattern: the class constant pushes INTO the
    // subclass pairs (the subclass-set rewrite); evidence via range
    // typing and via a base assertion both surface
    val byType = ent.where(col("p") === "a" && col("o") === "Agent")
    byType.collect().map(_.getString(0)).toSet shouldBe Set("acme", "bob")
  }

  it should "have an encoded twin" in {
    val terms = Seq("sc", "sp", "dom", "rng", "ty", "p", "q", "C", "A",
      "x", "y")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    val ids = ReasonOps.RdfsIds(id("sc"), id("sp"), id("dom"), id("rng"), id("ty"))
    val g = Seq(("p", "sp", "q"), ("q", "dom", "C"), ("C", "sc", "A"),
      ("x", "p", "y"))
      .map { case (s, p, o) => (id(s), id(p), id(o)) }.toDF("s", "p", "o")
    val got = ReasonOps.rdfsEntailed(g, Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe ReasonOps.rdfsClosure(g, Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  it should "cover quad datasets lazily too" in {
    val tbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"))
      .toDF("s", "p", "o")
    val quads = Seq(("x", "p", "y", "g1"), ("z", "p", "w", "g2"))
      .toDF("s", "p", "o", "g")
    val ent = ReasonOps.rdfsEntailed(quads, Corpus.Quads, Some(tbox))
    val got = ent.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), Option(r.getString(3)))).toSet
    val mat = ReasonOps.rdfsClosure(quads, Corpus.Quads, Some(tbox)).collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getString(2), Option(r.getString(3)))).toSet
    got shouldBe mat
    // a graph-confined pattern filter reads only its graph's slice
    ent.where(col("p") === "q" && col("g") === "g1").collect()
      .map(_.getString(0)).toSet shouldBe Set("x")
  }

  "ReasonOps.incrementNovel" should "compose to the full-union distinct without shuffling" in {
    val closure = Seq(("a", "p", "b"), ("c", "p", "d")).toDF("s", "p", "o")
      .localCheckpoint(true)
    val inc = Seq(("c", "p", "d"), ("e", "p", "f")).toDF("s", "p", "o")
    val composed = ReasonOps.composeIncrement(closure, inc)
    tset(composed) shouldBe Set(("a", "p", "b"), ("c", "p", "d"), ("e", "p", "f"))
    // the O(Δ) contract: the plan carries NO shuffle exchange — the
    // closure only streams against broadcast probes (asserted on the
    // raw plan, below the constraint-stripping boundary)
    val plan = ReasonOps.incrementNovelRaw(closure, inc)
      .queryExecution.executedPlan.toString
    plan should not include "Exchange hashpartitioning"
    plan should include ("BroadcastHashJoin")
  }

  it should "stay shuffle-free and set-identical with lazy existence hits" in {
    // pinHits=false (the immediately-pinned/single-action callers):
    // same novelty set, same broadcast-only shape — the hit set is a
    // lazy broadcast subplan instead of a separate pin job
    val closure = Seq(("a", "p", "b"), ("c", "p", "d")).toDF("s", "p", "o")
      .localCheckpoint(true)
    val inc = Seq(("c", "p", "d"), ("e", "p", "f")).toDF("s", "p", "o")
    val raw = ReasonOps.incrementNovelRaw(closure, inc, pinHits = false)
    val plan = raw.queryExecution.executedPlan.toString
    plan should not include "Exchange hashpartitioning"
    plan should include ("BroadcastHashJoin")
    tset(ReasonOps.incrementNovel(closure, inc, pinHits = false)) shouldBe
      Set(("e", "p", "f"))
    tset(closure.unionAll(
      ReasonOps.incrementNovel(closure, inc, pinHits = false))) shouldBe
      Set(("a", "p", "b"), ("c", "p", "d"), ("e", "p", "f"))
  }

  it should "dedup null-valued graph columns null-safely" in {
    val closure = Seq(("a", "p", "b", null.asInstanceOf[String]))
      .toDF("s", "p", "o", "g").localCheckpoint(true)
    val inc = Seq(("a", "p", "b", null.asInstanceOf[String]),
      ("a", "p", "b", "g1")).toDF("s", "p", "o", "g")
    ReasonOps.incrementNovel(closure, inc).collect()
      .map(r => (r.getString(0), Option(r.getString(3)))) shouldBe
      Array(("a", Some("g1")))
  }

  "ReasonOps.rdfsRetract" should "equal rematerialization through mixed insert+delete" in {
    val tbox = Seq(
      ("worksFor", SubPropertyOf, "affiliated"),
      ("affiliated", Domain, "Person"),
      ("affiliated", Range, "Org"),
      ("Person", SubClassOf, "Agent"))
    val base = tbox ++ Seq(
      ("a", "worksFor", "x"), ("b", "a", "Person"),
      ("a", "name", "Alice"), ("c", "worksFor", "x"))
    val ins = Seq(("d", "worksFor", "y"), ("e", "a", "Person"))
    val del = Seq(("a", "worksFor", "x"), ("b", "a", "Person"))
    val baseDf = base.toDF("s", "p", "o")
    val tboxDf = tbox.toDF("s", "p", "o")
    // maintain: closure(base) -> +ins via composeIncrement -> -del via DRed
    val closure0 = ReasonOps.rdfsClosure(baseDf).localCheckpoint(true)
    val afterIns = ReasonOps.composeIncrement(closure0,
      ReasonOps.rdfsDelta(tboxDf, ins.toDF("s", "p", "o"))).localCheckpoint(true)
    val baseAfterIns = baseDf.unionAll(ins.toDF("s", "p", "o"))
    val maintained = ReasonOps.rdfsRetract(afterIns, baseAfterIns,
      del.toDF("s", "p", "o"))
    // rematerialize: closure over (base + ins - del)
    val remat = ReasonOps.rdfsClosure(
      (base ++ ins).filterNot(del.contains).toDF("s", "p", "o"))
    tset(maintained) shouldBe tset(remat)
    // and the retract genuinely removed something while keeping a
    // survivor: (x a Org) must survive via c's remaining premise
    tset(maintained) should contain(("x", "a", "Org"))
    tset(maintained) should not contain (("a", "a", "Person"))
  }

  it should "keep a derivation alive when another premise rederives it" in {
    val g = Seq(
      ("p", Domain, "C"),
      ("a", "p", "x"), ("a", "p", "y")).toDF("s", "p", "o")
    val closure = ReasonOps.rdfsClosure(g).localCheckpoint(true)
    // deleting ONE of the two p-edges must keep (a type C)
    val kept = ReasonOps.rdfsRetract(closure, g,
      Seq(("a", "p", "x")).toDF("s", "p", "o"))
    tset(kept) should contain(("a", "a", "C"))
    tset(kept) should not contain (("a", "p", "x"))
    // deleting BOTH removes it
    val gone = ReasonOps.rdfsRetract(closure, g,
      Seq(("a", "p", "x"), ("a", "p", "y")).toDF("s", "p", "o"))
    tset(gone) should not contain (("a", "a", "C"))
  }

  it should "reject TBox statements in the deletions" in {
    val g = Seq(("A", SubClassOf, "B")).toDF("s", "p", "o")
    val e = intercept[IllegalArgumentException] {
      ReasonOps.rdfsRetract(ReasonOps.rdfsClosure(g), g, g)
    }
    e.getMessage should include("re-materialization")
  }

  "ReasonOps.rdfsRetractEncoded" should "maintain encoded closures through deletes" in {
    val terms = Seq("sc", "sp", "dom", "rng", "ty", "P", "A", "p", "q",
      "C", "x", "y", "z")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    val ids = ReasonOps.RdfsIds(id("sc"), id("sp"), id("dom"), id("rng"), id("ty"))
    def enc(g: Seq[(String, String, String)]) =
      g.map { case (s, p, o) => (id(s), id(p), id(o)) }.toDF("s", "p", "o")
    val tbox = Seq(("p", "sp", "q"), ("q", "dom", "C"), ("C", "sc", "A"))
    val base = tbox ++ Seq(("x", "p", "y"), ("z", "p", "y"))
    val del = Seq(("x", "p", "y"))
    val closure = ReasonOps.rdfsClosure(enc(base), Corpus.encoded(ids)).localCheckpoint(true)
    val maintained = ReasonOps.rdfsRetract(closure, enc(base), enc(del), Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val remat = ReasonOps.rdfsClosure(enc(base.filterNot(del.contains)), Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    maintained shouldBe remat
  }

  "ReasonOps.owlDelta" should "equal full rematerialization on base + delta" in {
    val decls = Seq(
      ("next", "a", ReasonOps.TransitiveProperty),
      ("prev", ReasonOps.InverseOf, "next"),
      ("near", "a", ReasonOps.SymmetricProperty))
    // base chain 1->2->3 and 5->6; delta bridges 3->5 and 6->7, plus a
    // symmetric edge — new paths must cross MULTIPLE delta edges and
    // pick up existing prefixes AND suffixes
    val base = decls ++ Seq(
      ("n1", "next", "n2"), ("n2", "next", "n3"), ("n5", "next", "n6"),
      ("a", "near", "b"))
    val delta = Seq(("n3", "next", "n5"), ("n6", "next", "n7"),
      ("c", "near", "d"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
      .localCheckpoint(true)
    val inc = ReasonOps.owlDelta(closure, delta.toDF("s", "p", "o"),
      decls.toDF("s", "p", "o"))
    val maintained = ReasonOps.composeIncrement(closure, inc)
    val full = ReasonOps.owlClosure((base ++ delta).toDF("s", "p", "o"))
    tset(maintained) shouldBe tset(full)
    // spot-check the long bridge: 1 -> 7 crosses both delta edges, and
    // its inverse arrives through the pass-2 rule
    tset(maintained) should contain(("n1", "next", "n7"))
    tset(maintained) should contain(("n7", "prev", "n1"))
  }

  "ReasonOps.owlRetract" should "equal rematerialization, rerouting through surviving edges" in {
    val decls = Seq(
      ("next", "a", ReasonOps.TransitiveProperty),
      ("prev", ReasonOps.InverseOf, "next"),
      ("near", "a", ReasonOps.SymmetricProperty))
    // chain 1..5 plus a 2->4 shortcut: deleting 3->4 must KEEP every
    // pair reroutable via the shortcut (1->4, 2->5, ...) and DROP the
    // pairs that genuinely needed the edge (3->4, 3->5); the symmetric
    // edge dies in BOTH directions
    val base = decls ++ Seq(
      ("n1", "next", "n2"), ("n2", "next", "n3"), ("n3", "next", "n4"),
      ("n4", "next", "n5"), ("n2", "next", "n4"),
      ("a", "near", "b"), ("c", "near", "d"))
    val del = Seq(("n3", "next", "n4"), ("a", "near", "b"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
      .localCheckpoint(true)
    val maintained = ReasonOps.owlRetract(closure, base.toDF("s", "p", "o"),
      del.toDF("s", "p", "o"), decls.toDF("s", "p", "o"))
    val remat = ReasonOps.owlClosure(
      base.filterNot(del.contains).toDF("s", "p", "o"))
    tset(maintained) shouldBe tset(remat)
    tset(maintained) should contain(("n1", "next", "n5")) // rerouted
    tset(maintained) should contain(("n5", "prev", "n1")) // inverse too
    tset(maintained) should not contain (("n3", "next", "n4"))
    tset(maintained) should not contain (("n3", "next", "n5"))
    tset(maintained) should not contain (("b", "near", "a")) // sym image
    tset(maintained) should contain(("d", "near", "c"))      // untouched
  }

  it should "reject property declarations in the deletions" in {
    val decls = Seq(("next", "a", ReasonOps.TransitiveProperty))
    val g = (decls ++ Seq(("x", "next", "y"))).toDF("s", "p", "o")
    val e = intercept[IllegalArgumentException] {
      ReasonOps.owlRetract(ReasonOps.owlClosure(g), g,
        decls.toDF("s", "p", "o"), decls.toDF("s", "p", "o")).collect()
    }
    e.getMessage should include("re-materialization")
  }

  "ReasonOps.owlRetractEncoded" should "maintain encoded closures through deletes" in {
    val terms = Seq("inv", "symP", "transP", "ty", "next", "prev",
      "n1", "n2", "n3", "n4", "n5")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    val ids = ReasonOps.OwlIds(id("inv"), id("symP"), id("transP"), id("ty"))
    def enc(g: Seq[(String, String, String)]) =
      g.map { case (s, p, o) => (id(s), id(p), id(o)) }.toDF("s", "p", "o")
    val decls = Seq(("next", "ty", "transP"), ("prev", "inv", "next"))
    val base = decls ++ Seq(
      ("n1", "next", "n2"), ("n2", "next", "n3"), ("n3", "next", "n4"),
      ("n2", "next", "n4"))
    val del = Seq(("n3", "next", "n4"))
    val closure = ReasonOps.owlClosure(enc(base), Corpus.encoded(ids)).localCheckpoint(true)
    val maintained = ReasonOps.owlRetract(closure, enc(base),
      enc(del), enc(decls), Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val remat = ReasonOps.owlClosure(enc(base.filterNot(del.contains)), Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    maintained shouldBe remat
  }

  it should "reject property declarations in a delta" in {
    val decls = Seq(("next", "a", ReasonOps.TransitiveProperty))
    val closure = ReasonOps.owlClosure(decls.toDF("s", "p", "o"))
    val e = intercept[IllegalArgumentException] {
      ReasonOps.owlDelta(closure,
        Seq(("jump", "a", ReasonOps.TransitiveProperty)).toDF("s", "p", "o"),
        decls.toDF("s", "p", "o")).collect()
    }
    e.getMessage should include("re-materialization")
  }

  "encoded quad reasoning" should "match the string twins exactly" in {
    val terms = Seq("sc", "sp", "dom", "rng", "ty", "p", "q", "C", "D",
      "u", "b", "c", "d", "e", "g1", "g2", "inv", "symP", "transP",
      "r", "x", "y", "z", "w")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    def encQ(rows: Seq[(String, String, String, String)]) =
      rows.map { case (s, p, o, g) =>
        (id(s), id(p), id(o), Option(g).map(id)) }.toDF("s", "p", "o", "g")
    def encT(rows: Seq[(String, String, String)]) =
      rows.map { case (s, p, o) => (id(s), id(p), id(o)) }.toDF("s", "p", "o")
    // RDFS quads
    val rTbox = Seq(("p", "sp", "q"), ("q", "dom", "C"), ("C", "sc", "D"))
    val rQuads = Seq(("u", "p", "b", "g1"), ("c", "p", "d", "g2"),
      ("e", "ty", "C", null))
    val rids = ReasonOps.RdfsIds(id("sc"), id("sp"), id("dom"), id("rng"), id("ty"))
    val gotR = ReasonOps.rdfsClosure(encQ(rQuads),
      Corpus.encoded(rids, quads = true), Some(encT(rTbox)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // expected: the id-image of the string-path result on the same shape
    val strTbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"),
      ("C", SubClassOf, "D")).toDF("s", "p", "o")
    val strQuads = Seq(("u", "p", "b", "g1"), ("c", "p", "d", "g2"),
      ("e", "a", "C", null.asInstanceOf[String])).toDF("s", "p", "o", "g")
    val m = Map(SubPropertyOf -> "sp", SubClassOf -> "sc", Domain -> "dom",
      Range -> "rng", "a" -> "ty")
    val expR = ReasonOps.rdfsClosure(strQuads, Corpus.Quads, Some(strTbox)).collect()
      .map { r =>
        def f(t: String) = id(m.getOrElse(t, t))
        (f(r.getString(0)), f(r.getString(1)), f(r.getString(2)),
          if (r.isNullAt(3)) -1L else f(r.getString(3)))
      }.toSet
    gotR shouldBe expR
    // OWL quads: per-graph transitive closure + inverse on long ids
    val oDecls = Seq((id("p"), id("ty"), id("transP")),
      (id("r"), id("inv"), id("p"))).toDF("s", "p", "o")
    val oQuads = Seq(("x", "p", "y", "g1"), ("y", "p", "z", "g1"),
      ("y", "p", "w", "g2"))
    val oids = ReasonOps.OwlIds(id("inv"), id("symP"), id("transP"), id("ty"))
    val gotO = ReasonOps.owlClosure(encQ(oQuads),
      Corpus.encoded(oids, quads = true), Some(oDecls))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val strODecls = Seq(("p", "a", ReasonOps.TransitiveProperty),
      ("r", ReasonOps.InverseOf, "p")).toDF("s", "p", "o")
    val strOQuads = oQuads.toDF("s", "p", "o", "g")
    val expO = ReasonOps.owlClosure(strOQuads, Corpus.Quads, Some(strODecls)).collect()
      .map(r => (id(r.getString(0)), id(r.getString(1)), id(r.getString(2)),
        if (r.isNullAt(3)) -1L else id(r.getString(3)))).toSet
    gotO shouldBe expO
  }

  private def qset(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      if (r.isNullAt(3)) null else r.getString(3))).toSet

  "ReasonOps.rdfsDeltaQuads" should "maintain per-graph closures exactly, string and encoded" in {
    val tbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"),
      ("C", SubClassOf, "D")).toDF("s", "p", "o")
    val base = Seq(("u", "p", "b", "g1"), ("e", "a", "C", null))
    val delta = Seq(("c", "p", "d", "g2"), ("f", "p", "h", "g1"))
    def qdf(rows: Seq[(String, String, String, String)]) =
      rows.toDF("s", "p", "o", "g")
    val closure = ReasonOps.rdfsClosure(qdf(base), Corpus.Quads, Some(tbox))
      .localCheckpoint(true)
    val inc = ReasonOps.rdfsDelta(tbox, qdf(delta), Corpus.Quads)
    val maintained = ReasonOps.composeIncrement(closure, inc)
    val full = ReasonOps.rdfsClosure(qdf(base ++ delta), Corpus.Quads, Some(tbox))
    qset(maintained) shouldBe qset(full)
    // derivations land in the DELTA quad's graph, not anywhere else
    qset(maintained) should contain(("c", "q", "d", "g2"))
    qset(maintained) should contain(("c", "a", "D", "g2"))
    qset(maintained) should not contain (("c", "q", "d", "g1"))
    // encoded twin on the same shape
    val terms = Seq("sc", "sp", "dom", "rng", "ty", "p", "q", "C", "D",
      "u", "b", "c", "d", "e", "f", "h", "g1", "g2")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    def encQ(rows: Seq[(String, String, String, String)]) =
      rows.map { case (s, p, o, g) =>
        (id(s), id(p), id(o), Option(g).map(id)) }.toDF("s", "p", "o", "g")
    val encTbox = Seq((id("p"), id("sp"), id("q")), (id("q"), id("dom"), id("C")),
      (id("C"), id("sc"), id("D"))).toDF("s", "p", "o")
    val ids = ReasonOps.RdfsIds(id("sc"), id("sp"), id("dom"), id("rng"), id("ty"))
    val encBase = base.map { case (s, p, o, g) =>
      (s, if (p == "a") "ty" else p, o, g) }
    val encClosure = ReasonOps.rdfsClosure(encQ(encBase),
      Corpus.encoded(ids, quads = true), Some(encTbox))
      .localCheckpoint(true)
    val encInc = ReasonOps.rdfsDelta(encTbox, encQ(delta), Corpus.encoded(ids, quads = true))
    val encMaint = ReasonOps.composeIncrement(encClosure, encInc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val encFull = ReasonOps.rdfsClosure(
        encQ(encBase ++ delta), Corpus.encoded(ids, quads = true), Some(encTbox))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    encMaint shouldBe encFull
  }

  "ReasonOps.rdfsRetractQuads" should "equal per-graph rematerialization and never cross graphs" in {
    val tbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"),
      ("C", SubClassOf, "D")).toDF("s", "p", "o")
    // the SAME triple lives in g1 and g2: deleting the g1 copy must kill
    // the g1 derivations ONLY
    val base = Seq(("u", "p", "b", "g1"), ("u", "p", "b", "g2"),
      ("e", "a", "C", null))
    val del = Seq(("u", "p", "b", "g1"))
    def qdf(rows: Seq[(String, String, String, String)]) =
      rows.toDF("s", "p", "o", "g")
    val closure = ReasonOps.rdfsClosure(qdf(base), Corpus.Quads, Some(tbox))
      .localCheckpoint(true)
    val maintained = ReasonOps.rdfsRetract(closure, qdf(base),
      qdf(del), Corpus.Quads, Some(tbox))
    val remat = ReasonOps.rdfsClosure(qdf(base.filterNot(del.contains)),
      Corpus.Quads, Some(tbox))
    qset(maintained) shouldBe qset(remat)
    qset(maintained) should not contain (("u", "q", "b", "g1"))
    qset(maintained) should contain(("u", "q", "b", "g2"))
    qset(maintained) should contain(("u", "a", "D", "g2"))
    // encoded twin
    val terms = Seq("sc", "sp", "dom", "rng", "ty", "p", "q", "C", "D",
      "u", "b", "e", "g1", "g2")
    val id = terms.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toMap
    def encQ(rows: Seq[(String, String, String, String)]) =
      rows.map { case (s, p, o, g) =>
        (id(s), id(if (p == "a") "ty" else p), id(o), Option(g).map(id)) }
        .toDF("s", "p", "o", "g")
    val encTbox = Seq((id("p"), id("sp"), id("q")), (id("q"), id("dom"), id("C")),
      (id("C"), id("sc"), id("D"))).toDF("s", "p", "o")
    val ids = ReasonOps.RdfsIds(id("sc"), id("sp"), id("dom"), id("rng"), id("ty"))
    val encClosure = ReasonOps.rdfsClosure(encQ(base),
      Corpus.encoded(ids, quads = true), Some(encTbox))
      .localCheckpoint(true)
    val encMaint = ReasonOps.rdfsRetract(encClosure, encQ(base),
        encQ(del), Corpus.encoded(ids, quads = true), Some(encTbox))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val encRemat = ReasonOps.rdfsClosure(
        encQ(base.filterNot(del.contains)), Corpus.encoded(ids, quads = true), Some(encTbox))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    encMaint shouldBe encRemat
  }

  "ReasonOps.owlDeltaQuads" should "bridge chains within graphs only" in {
    val decls = Seq(("p", "a", ReasonOps.TransitiveProperty),
      ("r", ReasonOps.InverseOf, "p")).toDF("s", "p", "o")
    val base = Seq(("x", "p", "y", "g1"), ("y", "p", "z", "g1"),
      ("x", "p", "y", "g2"))
    val delta = Seq(("z", "p", "w", "g1"), ("y", "p", "v", "g2"))
    def qdf(rows: Seq[(String, String, String, String)]) =
      rows.toDF("s", "p", "o", "g")
    val closure = ReasonOps.owlClosure(qdf(base), Corpus.Quads, Some(decls))
      .localCheckpoint(true)
    val inc = ReasonOps.owlDelta(closure, qdf(delta), decls, Corpus.Quads)
    val maintained = ReasonOps.composeIncrement(closure, inc)
    val full = ReasonOps.owlClosure(qdf(base ++ delta), Corpus.Quads, Some(decls))
    qset(maintained) shouldBe qset(full)
    // bridge crossing existing prefix in g1, and its pass-2 inverse
    qset(maintained) should contain(("x", "p", "w", "g1"))
    qset(maintained) should contain(("w", "r", "x", "g1"))
    // g2's delta edge chains with g2's base edge, never with g1's
    qset(maintained) should contain(("x", "p", "v", "g2"))
    qset(maintained) should not contain (("x", "p", "v", "g1"))
    qset(maintained) should not contain (("x", "p", "w", "g2"))
  }

  "ReasonOps.owlRetractQuads" should "reroute within a graph, leaving other graphs intact" in {
    val decls = Seq(("p", "a", ReasonOps.TransitiveProperty),
      ("r", ReasonOps.InverseOf, "p")).toDF("s", "p", "o")
    // g1: chain 1->2->3->4 plus 2->4 shortcut; g2 holds the SAME 2->3
    // edge — deleting g1's copy must keep every g2 pair
    val base = Seq(("n1", "p", "n2", "g1"), ("n2", "p", "n3", "g1"),
      ("n3", "p", "n4", "g1"), ("n2", "p", "n4", "g1"),
      ("n2", "p", "n3", "g2"), ("n3", "p", "n4", "g2"))
    val del = Seq(("n2", "p", "n3", "g1"))
    def qdf(rows: Seq[(String, String, String, String)]) =
      rows.toDF("s", "p", "o", "g")
    val closure = ReasonOps.owlClosure(qdf(base), Corpus.Quads, Some(decls))
      .localCheckpoint(true)
    val maintained = ReasonOps.owlRetract(closure, qdf(base),
      qdf(del), decls, Corpus.Quads)
    val remat = ReasonOps.owlClosure(qdf(base.filterNot(del.contains)),
      Corpus.Quads, Some(decls))
    qset(maintained) shouldBe qset(remat)
    qset(maintained) should contain(("n1", "p", "n4", "g1")) // via shortcut
    qset(maintained) should not contain (("n2", "p", "n3", "g1"))
    qset(maintained) should not contain (("n1", "p", "n3", "g1"))
    qset(maintained) should contain(("n2", "p", "n4", "g2")) // g2 untouched
    qset(maintained) should contain(("n4", "r", "n2", "g2"))
  }

  "maintenance deltaCap" should "fail fast on an oversized delta with a re-materialization pointer" in {
    val tbox = Seq(("p", SubPropertyOf, "q")).toDF("s", "p", "o")
    val delta = (1 to 5).map(i => (s"s$i", "p", s"o$i")).toDF("s", "p", "o")
    val e = intercept[IllegalArgumentException] {
      ReasonOps.rdfsDelta(tbox, delta, deltaCap = Some(2))
    }
    e.getMessage should include("deltaCap")
    e.getMessage should include("rdfsClosure")
  }

  "ReasonOps.owlRetract" should "fall back to re-materialization when the frontier outgrows the cap" in {
    val decls = Seq(("p", "a", ReasonOps.TransitiveProperty))
    // src fans out to five certain targets; the over-delete itself is one
    // row, but the survivor frontier from src is 5 > deltaCap=3 — the
    // broadcast-hazard fallback must re-close the remaining base instead
    // of failing
    val base = decls ++ Seq(("src", "p", "x")) ++
      (1 to 5).map(i => ("src", "p", s"c$i"))
    val del = Seq(("src", "p", "x"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
      .localCheckpoint(true)
    val maintained = ReasonOps.owlRetract(closure, base.toDF("s", "p", "o"),
      del.toDF("s", "p", "o"), decls.toDF("s", "p", "o"), deltaCap = Some(3))
    val remat = ReasonOps.owlClosure(
      base.filterNot(del.contains).toDF("s", "p", "o"))
    tset(maintained) shouldBe tset(remat)
  }

  "ReasonOps.owlEntailed" should "match the materialized closure lazily" in {
    val base = Seq(
      ("next", "a", ReasonOps.TransitiveProperty),
      ("prev", ReasonOps.InverseOf, "next"),
      ("borders", "a", ReasonOps.SymmetricProperty),
      ("n1", "next", "n2"), ("n2", "next", "n3"),
      ("a", "borders", "b")).toDF("s", "p", "o")
    tset(ReasonOps.owlEntailed(base)) shouldBe tset(ReasonOps.owlClosure(base))
  }

  it should "run NO fixpoint for non-transitive pattern predicates" in {
    val base = Seq(
      ("next", "a", ReasonOps.TransitiveProperty),
      ("prev", ReasonOps.InverseOf, "next"),
      ("borders", "a", ReasonOps.SymmetricProperty),
      ("n1", "next", "n2"), ("n2", "next", "n3"),
      ("a", "borders", "b")).toDF("s", "p", "o")
    val before = GraphOps.fixpointRuns.get()
    val borders = ReasonOps.owlEntailed(base, patternPreds = Seq("borders"))
      .where(col("p") === "borders")
    tset(borders) shouldBe Set(("a", "borders", "b"), ("b", "borders", "a"))
    GraphOps.fixpointRuns.get() shouldBe before // no squaring round ran
    // the INVERSE of a transitive property still needs its fixpoint:
    // prev exposes inverse(closure(next)) through pass 2
    val prevRel = ReasonOps.owlEntailed(base, patternPreds = Seq("prev"))
      .where(col("p") === "prev")
    tset(prevRel) should contain(("n3", "prev", "n1"))
    GraphOps.fixpointRuns.get() should be > before
  }

  it should "cover quad datasets lazily with per-graph confinement" in {
    val decls = Seq(("p", "a", ReasonOps.TransitiveProperty),
      ("r", ReasonOps.InverseOf, "p")).toDF("s", "p", "o")
    val quads = Seq(("x", "p", "y", "g1"), ("y", "p", "z", "g1"),
      ("y", "p", "w", "g2")).toDF("s", "p", "o", "g")
    qset(ReasonOps.owlEntailed(quads, Corpus.Quads, Some(decls))) shouldBe
      qset(ReasonOps.owlClosure(quads, Corpus.Quads, Some(decls)))
    // non-transitive pattern predicates skip the per-graph fixpoints too
    val before = GraphOps.fixpointRuns.get()
    ReasonOps.owlEntailed(quads, Corpus.Quads, Some(decls), patternPreds = Seq("q"))
      .where(col("p") === "q").collect()
    GraphOps.fixpointRuns.get() shouldBe before
  }

  "rendering discipline" should "fail fast on a TBox mixing short and IRI renderings" in {
    val g = Seq(
      ("A", SubClassOf, "B"),
      ("B", ReasonOps.SubClassOfIri, "C"),
      ("x", "a", "A")).toDF("s", "p", "o")
    val e = intercept[IllegalArgumentException] {
      ReasonOps.rdfsClosure(g)
    }
    e.getMessage should include("rendering")
  }

  it should "guard the OWL maintenance broadcasts too" in {
    val decls = Seq(("next", "a", ReasonOps.TransitiveProperty))
      .toDF("s", "p", "o")
    val closure = ReasonOps.owlClosure(decls)
    val delta = (1 to 5).map(i => (s"n$i", "next", s"n${i + 1}"))
      .toDF("s", "p", "o")
    val e = intercept[IllegalArgumentException] {
      ReasonOps.owlDelta(closure, delta, decls, deltaCap = Some(2))
    }
    e.getMessage should include("deltaCap")
    e.getMessage should include("owlClosure")
  }

  it should "honor the session deltaCap conf when no explicit cap is given" in {
    val tbox = Seq(("p", SubPropertyOf, "q")).toDF("s", "p", "o")
    val delta = (1 to 5).map(i => (s"s$i", "p", s"o$i")).toDF("s", "p", "o")
    spark.conf.set("spark.graft.reason.deltaCap", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        ReasonOps.rdfsDelta(tbox, delta)
      }
      e.getMessage should include("deltaCap=2")
      // an explicit parameter overrides the conf
      ReasonOps.rdfsDelta(tbox, delta, deltaCap = Some(100)).count() should be > 0L
      // ... INCLUDING the explicit built-in default - Some(DefaultDeltaCap)
      // is distinguishable from omission, so the conf cannot silently
      // override a caller who CHOSE the default (r10 verdict what's-wrong #2)
      ReasonOps.rdfsDelta(tbox, delta,
        deltaCap = Some(ReasonOps.DefaultDeltaCap)).count() should be > 0L
    } finally spark.conf.unset("spark.graft.reason.deltaCap")
  }

  "RDFS maintenance on the driver" should "fail the deltaCap contract with the plan's messages" in {
    val tbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"))
    val base = (tbox ++ (1 to 5).map(i => (s"s$i", "p", s"o$i"))).toDF("s", "p", "o")
    val closure = ReasonOps.rdfsClosure(base).localCheckpoint(true)
    val five = (1 to 5).map(i => (s"s$i", "p", s"o$i")).toDF("s", "p", "o")
    val inc = (1 to 5).map(i => (s"n$i", "p", s"o$i")).toDF("s", "p", "o")
    def capMessages(cap: Option[Long]): Seq[String] = Seq(
      intercept[IllegalArgumentException](
        ReasonOps.rdfsDelta(tbox.toDF("s", "p", "o"), five, deltaCap = cap)),
      intercept[IllegalArgumentException](
        ReasonOps.incrementNovel(closure, inc, deltaCap = cap)),
      intercept[IllegalArgumentException](
        ReasonOps.rdfsRetract(closure, base, five, deltaCap = cap))
    ).map(_.getMessage)
    def check(cap: Option[Long]): Unit = {
      val driver = capMessages(cap)
      driver.zip(Seq("rdfsDelta increment", "incrementNovel increment",
        "retraction set")).foreach { case (m, what) =>
        m should include(s"$what has 5 rows - exceeds deltaCap=2.")
      }
      ReasonOps.rdfsDriverCap.withValue(-1)(capMessages(cap)) shouldBe driver
    }
    check(Some(2))
    spark.conf.set("spark.graft.reason.deltaCap", "2")
    try check(None)
    finally spark.conf.unset("spark.graft.reason.deltaCap")
  }

  it should "raise the TBox guard on a local delta or deletion set before any job" in {
    val g = Seq(("A", SubClassOf, "B"), ("x", "a", "A")).toDF("s", "p", "o")
    val closure = ReasonOps.rdfsClosure(g)
    val (delta, deltaJobs) = jobsDuring(intercept[IllegalArgumentException](
      ReasonOps.rdfsDelta(g, g)))
    delta.getMessage should include("delta contains TBox statements")
    deltaJobs shouldBe 0
    val (retract, retractJobs) = jobsDuring(intercept[IllegalArgumentException](
      ReasonOps.rdfsRetract(closure, g, g)))
    retract.getMessage should include("deletions contain TBox statements")
    retractJobs shouldBe 0
  }

  "ReasonOps.rdfsMaintainStream" should "maintain per-graph quad closures across batches" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"))
      .toDF("s", "p", "o")
    val base = Seq(("u", "p", "b", "g1")).toDF("s", "p", "o", "g")
    val m = ReasonOps.rdfsMaintainStream(
      ReasonOps.rdfsClosure(base, Corpus.Quads, Some(tbox)), tbox, Corpus.Quads)
    val src = MemoryStream[(String, String, String, String)]
    val q = m.attach(src.toDF().toDF("s", "p", "o", "g"))
    try {
      src.addData(("c", "p", "d", "g2"))
      q.processAllAvailable()
      src.addData(("e", "p", "f", "g1"))
      q.processAllAvailable()
    } finally q.stop()
    val full = ReasonOps.rdfsClosure(
      (Seq(("u", "p", "b", "g1"), ("c", "p", "d", "g2"),
        ("e", "p", "f", "g1"))).toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox))
    qset(m.current) shouldBe qset(full)
    qset(m.current) should contain(("c", "a", "C", "g2"))
    qset(m.current) should not contain (("c", "a", "C", "g1"))
  }

  "ReasonOps.owlMaintainStream" should "equal the batch closure across micro-batches" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val decls = Seq(("next", "a", ReasonOps.TransitiveProperty),
      ("prev", ReasonOps.InverseOf, "next"))
    val base = decls ++ Seq(("n1", "next", "n2"))
    val m = ReasonOps.owlMaintainStream(
      ReasonOps.owlClosure(base.toDF("s", "p", "o")),
      decls.toDF("s", "p", "o"))
    val src = MemoryStream[(String, String, String)]
    val q = m.attach(src.toDF().toDF("s", "p", "o"))
    try {
      src.addData(("n2", "next", "n3"))
      q.processAllAvailable()
      src.addData(("n3", "next", "n4")) // chains across BATCHES
      q.processAllAvailable()
    } finally q.stop()
    val full = ReasonOps.owlClosure(
      (base ++ Seq(("n2", "next", "n3"), ("n3", "next", "n4")))
        .toDF("s", "p", "o"))
    tset(m.current) shouldBe tset(full)
    tset(m.current) should contain(("n1", "next", "n4"))
    tset(m.current) should contain(("n4", "prev", "n1"))
  }

  it should "maintain per-graph quad closures and fail batches carrying declarations" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val decls = Seq(("p", "a", ReasonOps.TransitiveProperty))
      .toDF("s", "p", "o")
    val base = Seq(("x", "p", "y", "g1"), ("x", "p", "y", "g2"))
    val m = ReasonOps.owlMaintainStream(
      ReasonOps.owlClosure(base.toDF("s", "p", "o", "g"), Corpus.Quads, Some(decls)),
      decls, Corpus.Quads)
    val src = MemoryStream[(String, String, String, String)]
    val q = m.attach(src.toDF().toDF("s", "p", "o", "g"))
    try {
      src.addData(("y", "p", "z", "g1"))
      q.processAllAvailable()
    } finally q.stop()
    val full = ReasonOps.owlClosure(
      (base :+ ("y", "p", "z", "g1")).toDF("s", "p", "o", "g"), Corpus.Quads, Some(decls))
    qset(m.current) shouldBe qset(full)
    qset(m.current) should contain(("x", "p", "z", "g1"))
    qset(m.current) should not contain (("x", "p", "z", "g2"))
    // a declaration arriving ON the stream fails its batch
    val m2 = ReasonOps.owlMaintainStream(m.current, decls, Corpus.Quads)
    val src2 = MemoryStream[(String, String, String, String)]
    val q2 = m2.attach(src2.toDF().toDF("s", "p", "o", "g"))
    try {
      src2.addData(("jump", "a", ReasonOps.TransitiveProperty, "g1"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
  }

  import graft.ops.ReasonOps.{EquivalentClass, EquivalentProperty}

  "OWL equivalence" should "derive the exact closure with equivalences crossing subsumption links" in {
    val g = Seq(
      ("Customer", EquivalentClass, "Client"),
      ("Client", SubClassOf, "Agent"),
      ("nationkey", EquivalentProperty, "inNation"),
      ("inNation", SubPropertyOf, "locatedIn"),
      ("locatedIn", Domain, "Locatable"),
      ("x", "a", "Customer"),
      ("y", "nationkey", "n1")).toDF("s", "p", "o")
    tset(ReasonOps.rdfsClosure(g)) shouldBe Set(
      // base
      ("Customer", EquivalentClass, "Client"),
      ("Client", SubClassOf, "Agent"),
      ("nationkey", EquivalentProperty, "inNation"),
      ("inNation", SubPropertyOf, "locatedIn"),
      ("locatedIn", Domain, "Locatable"),
      ("x", "a", "Customer"),
      ("y", "nationkey", "n1"),
      // equivalence symmetric closure
      ("Client", EquivalentClass, "Customer"),
      ("inNation", EquivalentProperty, "nationkey"),
      // class hierarchy closed THROUGH the equivalence (mutual
      // subsumption pairs + chain crossing into Agent)
      ("Customer", SubClassOf, "Client"),
      ("Client", SubClassOf, "Customer"),
      ("Customer", SubClassOf, "Agent"),
      // property hierarchy closed through the property equivalence
      ("nationkey", SubPropertyOf, "inNation"),
      ("inNation", SubPropertyOf, "nationkey"),
      ("nationkey", SubPropertyOf, "locatedIn"),
      // rdfs7 through the equivalent property
      ("y", "inNation", "n1"),
      ("y", "locatedIn", "n1"),
      // rdfs2 off the EFFECTIVE domain inherited through equivalence
      ("y", "a", "Locatable"),
      // rdfs9 through the equivalence into the subclass chain
      ("x", "a", "Client"),
      ("x", "a", "Agent"))
  }

  it should "terminate on equivalence cycles mixed with subclass cycles" in {
    val g = Seq(
      ("A", EquivalentClass, "B"),
      ("B", EquivalentClass, "C"),
      ("C", SubClassOf, "A"), // closes the loop the subsumption way
      ("x", "a", "A")).toDF("s", "p", "o")
    val got = tset(ReasonOps.rdfsClosure(g))
    // every cross pair of {A,B,C} is mutually subsumed, x types as all
    for (c <- Seq("A", "B", "C")) got should contain(("x", "a", c))
    for (a <- Seq("A", "B", "C"); b <- Seq("A", "B", "C") if a != b)
      got should contain((a, SubClassOf, b))
    // the DECLARED equivalences close symmetric-transitively: A≡B≡C
    // yields every ordered cross pair of {A,B,C}
    got should contain(("A", EquivalentClass, "C"))
    got.count(_._2 == EquivalentClass) shouldBe 6
  }

  it should "inherit the whole maintenance matrix (delta, retract, quads, encoded)" in {
    val tbox = Seq(
      ("Customer", EquivalentClass, "Client"),
      ("Client", SubClassOf, "Agent"),
      ("nationkey", EquivalentProperty, "inNation"),
      ("inNation", SubPropertyOf, "locatedIn"),
      ("locatedIn", Domain, "Locatable")).toDF("s", "p", "o")
    val base = Seq(("x", "a", "Customer"), ("y", "nationkey", "n1"))
    val delta = Seq(("z", "inNation", "n2"), ("w", "a", "Client"))
    val full = ReasonOps.rdfsClosure(
      (base ++ delta).toDF("s", "p", "o").unionAll(tbox))
    // O(Δ) insert
    val closure = ReasonOps.rdfsClosure(
      base.toDF("s", "p", "o").unionAll(tbox)).localCheckpoint(true)
    val inc = ReasonOps.rdfsDelta(tbox, delta.toDF("s", "p", "o"))
    tset(ReasonOps.composeIncrement(closure, inc)) shouldBe tset(full)
    // DRed retract back to the base-only closure
    val maintained = ReasonOps.rdfsRetract(
      full.localCheckpoint(true),
      (base ++ delta).toDF("s", "p", "o").unionAll(tbox),
      delta.toDF("s", "p", "o"))
    tset(maintained) shouldBe tset(closure)
    // per-graph quads: equivalence-driven derivations stay in graph
    val quads = Seq(("x", "a", "Customer", "g1"),
      ("z", "inNation", "n2", "g2")).toDF("s", "p", "o", "g")
    val qc = ReasonOps.rdfsClosure(quads, Corpus.Quads, Some(tbox))
    qset(qc) should contain(("x", "a", "Agent", "g1"))
    qset(qc) should contain(("z", "nationkey", "n2", "g2"))
    qset(qc) should contain(("z", "a", "Locatable", "g2"))
    qset(qc) should not contain (("x", "a", "Agent", "g2"))
    // an equivalence statement ARRIVING AS DELTA is a schema change
    val e = intercept[IllegalArgumentException] {
      ReasonOps.rdfsDelta(tbox,
        Seq(("Vip", EquivalentClass, "Customer")).toDF("s", "p", "o"))
    }
    e.getMessage should include("TBox")
  }

  it should "run encoded with optional equivalence ids" in {
    import graft.dict.Dictionary
    val id: String => Long = Dictionary.termHashLocal
    val strTbox = Seq(
      ("Customer", EquivalentClass, "Client"),
      ("Client", SubClassOf, "Agent"),
      ("nationkey", EquivalentProperty, "inNation"))
    val strAbox = Seq(("x", "a", "Customer"), ("y", "nationkey", "n1"))
    val ids = ReasonOps.RdfsIds(id(SubClassOf), id(SubPropertyOf),
      id(Domain), id(Range), id("a"),
      equivalentClass = Some(id(EquivalentClass)),
      equivalentProperty = Some(id(EquivalentProperty)))
    val enc = (strTbox ++ strAbox).map { case (a, b, c) =>
      (id(a), id(b), id(c)) }.toDF("s", "p", "o")
    val got = ReasonOps.rdfsClosure(enc, Corpus.encoded(ids)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = ReasonOps.rdfsClosure(
      (strTbox ++ strAbox).toDF("s", "p", "o")).collect()
      .map(r => (id(r.getString(0)), id(r.getString(1)), id(r.getString(2))))
      .toSet
    got shouldBe exp
    // WITHOUT the ids, equivalence statements are plain data: no
    // derivation through them fires
    val idsNoEq = ReasonOps.RdfsIds(id(SubClassOf), id(SubPropertyOf),
      id(Domain), id(Range), id("a"))
    val gotNoEq = ReasonOps.rdfsClosure(enc, Corpus.encoded(idsNoEq)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    gotNoEq should not contain ((id("x"), id("a"), id("Agent")))
  }

  private def pset(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  "ReasonOps.sameAsDelta" should "match batch re-canonicalization exactly (corpus AND mapping)" in {
    val base = Seq(
      ("n1", "name", "A"), ("n2", "name", "B"), ("n3", "name", "C"),
      ("n2", "tag", "z"), ("n3", "tag", "z"), // collapses after the merge
      ("x9", "name", "X"), ("n1", "knows", "a2"),
      ("a2", ReasonOps.SameAs, "n2")).toDF("s", "p", "o")
    val (r1, m1) = ReasonOps.sameAsCanonicalize(base)
    val pairs = Seq(("n3", "a2"), ("x9", "x1")).toDF("s", "o")
    val (r2, m2) = ReasonOps.sameAsDelta(r1.localCheckpoint(true), m1, pairs)
    val full = base.unionAll(Seq(
      ("n3", ReasonOps.SameAs, "a2"),
      ("x9", ReasonOps.SameAs, "x1")).toDF("s", "p", "o"))
    val (rb, mb) = ReasonOps.sameAsCanonicalize(full)
    tset(r2) shouldBe tset(rb)
    pset(m2) shouldBe pset(mb)
    // the collapse really happened: one (a2, tag, z) row
    r2.where(col("p") === "tag").count() shouldBe 1L
  }

  it should "be a no-op for pairs inside an existing cluster" in {
    val base = Seq(
      ("n1", "name", "A"), ("n2", "name", "B"),
      ("a2", ReasonOps.SameAs, "n2")).toDF("s", "p", "o")
    val (r1, m1) = ReasonOps.sameAsCanonicalize(base)
    val (r2, m2) = ReasonOps.sameAsDelta(
      r1.localCheckpoint(true), m1, Seq(("a2", "n2")).toDF("s", "o"))
    tset(r2) shouldBe tset(r1)
    pset(m2) shouldBe pset(m1)
  }

  it should "chain across multiple maintenance batches" in {
    val base = Seq(
      ("n1", "name", "A"), ("n2", "name", "B"), ("n3", "name", "C"),
      ("a2", ReasonOps.SameAs, "n2")).toDF("s", "p", "o")
    val (r1, m1) = ReasonOps.sameAsCanonicalize(base)
    val (r2, m2) = ReasonOps.sameAsDelta(r1.localCheckpoint(true),
      m1, Seq(("n3", "n2")).toDF("s", "o"))
    val (r3, m3) = ReasonOps.sameAsDelta(r2.localCheckpoint(true),
      m2.localCheckpoint(true), Seq(("a1", "n3")).toDF("s", "o"))
    val full = base.unionAll(Seq(
      ("n3", ReasonOps.SameAs, "n2"),
      ("a1", ReasonOps.SameAs, "n3")).toDF("s", "p", "o"))
    val (rb, mb) = ReasonOps.sameAsCanonicalize(full)
    tset(r3) shouldBe tset(rb)
    pset(m3) shouldBe pset(mb)
  }

  "ReasonOps.functionalIdentityPairs" should "derive star pairs for functional and inverse-functional collisions" in {
    val g = Seq(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("acct", "a", ReasonOps.FunctionalProperty),
      ("x1", "email", "e1"), ("x2", "email", "e1"), ("x3", "email", "e2"),
      ("y", "acct", "a2"), ("y", "acct", "a1"), ("z", "acct", "a3")
    ).toDF("s", "p", "o")
    pset(ReasonOps.functionalIdentityPairs(g)
      .select(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"))) shouldBe
      Set(("x1", "x2"), ("a1", "a2"))
  }

  "ReasonOps.functionalCanonicalize" should "iterate merge cascades to fixpoint" in {
    val g = Seq(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("acct", "a", ReasonOps.FunctionalProperty),
      // round 1: cust ~ dup via the shared inverse-functional email
      ("cust", "email", "e"), ("dup", "email", "e"),
      // round 2 (visible only AFTER the subject merge): the merged
      // subject holds two values of the functional acct
      ("cust", "acct", "acctA"), ("dup", "acct", "acctB"),
      ("acctA", "bal", "10"), ("acctB", "bal", "10")
    ).toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalCanonicalize(g)
    tset(rw) shouldBe Set(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("acct", "a", ReasonOps.FunctionalProperty),
      ("cust", "email", "e"),
      ("cust", "acct", "acctA"),
      ("acctA", "bal", "10"))
    pset(mp) shouldBe Set(("cust", "cust"), ("dup", "cust"),
      ("acctA", "acctA"), ("acctB", "acctA"))
    // 2 merge rounds + the empty settling round
    ReasonOps.lastFunctionalRounds.get() shouldBe 3
  }

  it should "compose with explicit sameAs statements" in {
    val g = Seq(
      ("acct", "a", ReasonOps.FunctionalProperty),
      ("b", ReasonOps.SameAs, "c"),
      ("b", "acct", "a2"), ("c", "acct", "a1")
    ).toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalCanonicalize(g)
    // b ~ c merge first (explicit identity), which makes the merged
    // subject's two acct values collide
    tset(rw) shouldBe Set(
      ("acct", "a", ReasonOps.FunctionalProperty),
      ("b", "acct", "a1"))
    pset(mp) shouldBe Set(("b", "b"), ("c", "b"),
      ("a1", "a1"), ("a2", "a1"))
  }

  "ReasonOps.functionalDelta" should "match batch re-canonicalization through a cascade" in {
    val base = Seq(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("acct", "a", ReasonOps.FunctionalProperty),
      ("cust", "email", "e"),
      ("cust", "acct", "acctA"), ("acctA", "bal", "10"),
      ("other", "email", "e2")).toDF("s", "p", "o")
    val delta = Seq(
      ("dup", "email", "e"),           // round 1: dup ~ cust
      ("dup", "acct", "acctB"),        // round 2: acctB ~ acctA (post-merge)
      ("acctB", "bal", "10")).toDF("s", "p", "o")
    val (r1, m1) = ReasonOps.functionalCanonicalize(base)
    val (r2, m2) = ReasonOps.functionalDelta(
      r1.localCheckpoint(true), m1.localCheckpoint(true), delta)
    val (rb, mb) = ReasonOps.functionalCanonicalize(base.unionAll(delta))
    tset(r2) shouldBe tset(rb)
    pset(m2) shouldBe pset(mb)
  }

  it should "resolve delta terms through the existing mapping and accept explicit sameAs" in {
    val base = Seq(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("cust", "email", "e"), ("dup", "email", "e"),
      ("cust", "city", "berlin")).toDF("s", "p", "o")
    val (r1, m1) = ReasonOps.functionalCanonicalize(base)
    // delta references the MERGED member `dup` and carries an explicit
    // identity for a third alias
    val delta = Seq(
      ("dup", "city", "koeln"),
      ("alias", ReasonOps.SameAs, "cust"),
      ("alias", "zip", "10117")).toDF("s", "p", "o")
    val (r2, m2) = ReasonOps.functionalDelta(
      r1.localCheckpoint(true), m1.localCheckpoint(true), delta)
    val (rb, mb) = ReasonOps.functionalCanonicalize(base.unionAll(delta))
    tset(r2) shouldBe tset(rb)
    pset(m2) shouldBe pset(mb)
  }

  it should "chain across batches and reject declarations in the delta" in {
    val base = Seq(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("cust", "email", "e")).toDF("s", "p", "o")
    val d1 = Seq(("dup", "email", "e")).toDF("s", "p", "o")
    val d2 = Seq(("dup2", "email", "e")).toDF("s", "p", "o")
    val (r1, m1) = ReasonOps.functionalCanonicalize(base)
    val (r2, m2) = ReasonOps.functionalDelta(
      r1.localCheckpoint(true), m1.localCheckpoint(true), d1)
    val (r3, m3) = ReasonOps.functionalDelta(
      r2.localCheckpoint(true), m2.localCheckpoint(true), d2)
    val (rb, mb) = ReasonOps.functionalCanonicalize(
      base.unionAll(d1).unionAll(d2))
    tset(r3) shouldBe tset(rb)
    pset(m3) shouldBe pset(mb)
    val e = intercept[IllegalArgumentException] {
      ReasonOps.functionalDelta(r3, m3,
        Seq(("ssn", "a", ReasonOps.FunctionalProperty)).toDF("s", "p", "o"))
    }
    e.getMessage should include("re-canonicalization")
  }

  "ReasonOps.erRetract" should "un-merge exactly the groups a deletion touches" in {
    import ReasonOps._
    // two independent merge families (an ifp collision and a composite
    // hasKey collision) plus one untouched ifp group; the deletion
    // removes one ifp edge and one key row — both merges must
    // dissolve, the untouched group must survive the patch intact
    val base = Seq(
      ("email", "a", InverseFunctionalProperty),
      ("ssn", "a", InverseFunctionalProperty),
      ("Person", HasKey, "_:k0"),
      ("_:k0", RdfFirst, "city"), ("_:k0", RdfRest, "_:k1"),
      ("_:k1", RdfFirst, "zip"), ("_:k1", RdfRest, RdfNil),
      ("cust", "email", "e"), ("dup", "email", "e"),
      ("cust", "name", "alice"), ("dup", "phone", "123"),
      ("p1", "a", "Person"), ("p2", "a", "Person"),
      ("p1", "city", "berlin"), ("p1", "zip", "10117"),
      ("p2", "city", "berlin"), ("p2", "zip", "10117"),
      ("p2", "note", "x"),
      ("a1", "ssn", "s7"), ("a2", "ssn", "s7"),
      ("a1", "plan", "gold")).toDF("s", "p", "o")
    val dels = Seq(
      ("dup", "email", "e"),
      ("p2", "zip", "10117")).toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalCanonicalize(base)
    // sanity: both merges landed at build
    pset(mp) should contain allOf (("dup", "cust"), ("p2", "p1"))
    val (rw2, mp2) = ReasonOps.erRetract(base, dels,
      rw.localCheckpoint(true), mp.localCheckpoint(true))
    val post = base.join(dels.toDF("s", "p", "o"),
      Seq("s", "p", "o"), "left_anti")
    val (rb, mb) = ReasonOps.functionalCanonicalize(post)
    tset(rw2) shouldBe tset(rb)
    pset(mp2) shouldBe pset(mb)
    // the un-merged facts came back under their own names; the
    // untouched a1/a2 group stayed merged (a2's row still rewrites
    // to the surviving canon a1)
    tset(rw2) should contain allOf (("dup", "phone", "123"),
      ("p2", "note", "x"), ("a1", "ssn", "s7"))
    tset(rw2) should not contain (("a2", "ssn", "s7"))
    pset(mp2) should contain (("a2", "a1"))
    pset(mp2) should contain noneOf (("dup", "cust"), ("p2", "p1"))
  }

  it should "cascade a dissolved canon into a downstream cardinality un-merge" in {
    import ReasonOps._
    // x≡y via the inverse-functional ssn; the MERGED subject is a Lim
    // member holding both accounts under the bound-one restriction, so
    // a1≡a2 derives DOWNSTREAM. Deleting y's ssn edge splits x/y —
    // y's account row leaves x's value set, so the a1/a2 merge must
    // dissolve too (only x is a Lim member)
    val base = Seq(
      ("ssn", "a", InverseFunctionalProperty),
      ("Lim", OnProperty, "acct"), ("Lim", MaxCardinality, "1"),
      ("x", "ssn", "S"), ("y", "ssn", "S"),
      ("x", "a", "Lim"),
      ("x", "acct", "a1"), ("y", "acct", "a2"),
      ("a1", "owner", "bank1"), ("a2", "owner", "bank2"))
      .toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalCanonicalize(base)
    pset(mp) should contain allOf (("y", "x"), ("a2", "a1"))
    val dels = Seq(("y", "ssn", "S")).toDF("s", "p", "o")
    val (rw2, mp2) = ReasonOps.erRetract(base, dels,
      rw.localCheckpoint(true), mp.localCheckpoint(true))
    val (rb, mb) = ReasonOps.functionalCanonicalize(
      base.join(dels.toDF("s", "p", "o"), Seq("s", "p", "o"), "left_anti"))
    tset(rw2) shouldBe tset(rb)
    pset(mp2) shouldBe pset(mb)
    mp2.isEmpty shouldBe true // every merge dissolved
    tset(rw2) should contain allOf (("y", "acct", "a2"),
      ("a2", "owner", "bank2"))
  }

  it should "retract explicit sameAs evidence and leave replays exact" in {
    import ReasonOps._
    val base = Seq(
      ("alias", SameAs, "cust"),
      ("alias", "zip", "10117"), ("cust", "name", "alice"),
      ("email", "a", InverseFunctionalProperty),
      ("u1", "email", "e"), ("u2", "email", "e")).toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalCanonicalize(base)
    val dels = Seq(("alias", SameAs, "cust")).toDF("s", "p", "o")
    val (rw2, mp2) = ReasonOps.erRetract(base, dels,
      rw.localCheckpoint(true), mp.localCheckpoint(true))
    val (rb, mb) = ReasonOps.functionalCanonicalize(
      base.join(dels.toDF("s", "p", "o"), Seq("s", "p", "o"), "left_anti"))
    tset(rw2) shouldBe tset(rb)
    pset(mp2) shouldBe pset(mb)
    tset(rw2) should contain (("alias", "zip", "10117"))
    // only the alias/cust group was touched — the u1/u2 merge's canon
    // never entered the patch set
    ReasonOps.lastErRetractTouched.get() should be <= 3L
    // deleting a row that dissolves nothing (one of two supports
    // remains conceptually absent here: an untouched fact) leaves the
    // state equal to from-scratch as well
    val dels2 = Seq(("cust", "name", "alice")).toDF("s", "p", "o")
    val (rw3, mp3) = ReasonOps.erRetract(base, dels2,
      rw.localCheckpoint(true), mp.localCheckpoint(true))
    val (rb3, mb3) = ReasonOps.functionalCanonicalize(
      base.join(dels2.toDF("s", "p", "o"), Seq("s", "p", "o"), "left_anti"))
    tset(rw3) shouldBe tset(rb3)
    pset(mp3) shouldBe pset(mb3)
  }

  it should "fail fast on schema deletions and run on encoded ids" in {
    import ReasonOps._
    val base = Seq(
      ("email", "a", InverseFunctionalProperty),
      ("cust", "email", "e"), ("dup", "email", "e")).toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalCanonicalize(base)
    val e = intercept[IllegalArgumentException] {
      ReasonOps.erRetract(base,
        Seq(("email", "a", InverseFunctionalProperty)).toDF("s", "p", "o"),
        rw, mp)
    }
    e.getMessage should include("functionalCanonicalize")
    // encoded twin: ids as in the encoded-ER spec; delete the 101 ssn
    // edge — the 100/101 merge and its downstream 800/801 value merge
    // both dissolve, matching from-scratch
    val ids = ReasonOps.ErIds(typePred = 2L, sameAs = 50L,
      functionalProperty = Some(52L), inverseFunctionalProperty = Some(51L),
      hasKey = Some(53L), listFirst = Some(54L), listRest = Some(55L),
      listNil = Some(56L))
    val eb = Seq(
      (60L, 2L, 51L), (61L, 2L, 52L),
      (100L, 60L, 900L), (101L, 60L, 900L),
      (100L, 61L, 800L), (101L, 61L, 801L),
      (102L, 61L, 801L)).toDF("s", "p", "o")
    val (erw, emp) = ReasonOps.functionalCanonicalize(eb, Corpus.encoded(ids))
    val edels = Seq((101L, 60L, 900L)).toDF("s", "p", "o")
    val (erw2, emp2) = ReasonOps.erRetract(eb, edels,
      erw.localCheckpoint(true), emp.localCheckpoint(true), Corpus.encoded(ids))
    val (erb, emb) = ReasonOps.functionalCanonicalize(
      eb.join(edels.toDF("s", "p", "o"), Seq("s", "p", "o"), "left_anti"),
      Corpus.encoded(ids))
    erw2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet shouldBe
      erb.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    emp2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      emb.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  it should "re-derive only the touched fan-in: Δ-bound telemetry + job pin" in {
    import ReasonOps._
    // one touched ifp group (cust/dup) plus n untouched ifp pairs; the
    // deletion touches only cust/dup, so the mapping re-derivation's
    // fixpoint input must be the ONE surviving cust row — independent
    // of n — while the evidence slice grows with n
    def corpus(n: Int) = (Seq(
        ("email", "a", InverseFunctionalProperty),
        ("cust", "email", "e"), ("dup", "email", "e")) ++
      (0 until n).flatMap(i => Seq(
        (f"u$i%03dx", "email", s"e$i"), (f"u$i%03dy", "email", s"e$i"))))
      .toDF("s", "p", "o")
    val dels = Seq(("dup", "email", "e")).toDF("s", "p", "o")
    def retractJobs(n: Int): Int = {
      val base = corpus(n)
      val (rw, mp) = ReasonOps.functionalCanonicalize(base)
      val rwp = rw.localCheckpoint(true)
      val mpp = mp.localCheckpoint(true)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val (rw2, mp2) = ReasonOps.erRetract(base, dels, rwp, mpp)
        rw2.count(); mp2.count()
      } finally {
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(l)
      }
      jobs.get()
    }
    val j6 = retractJobs(6)
    ReasonOps.lastErRetractSliceRows.get() shouldBe 1L
    ReasonOps.lastErRetractEvidenceRows.get() shouldBe 13L
    ReasonOps.lastErRetractExpansions.get() shouldBe 1L
    val j60 = retractJobs(60)
    // the evidence slice grew ~10x, the fixpoint input did not —
    // untouched groups' mappings are provably never recomputed
    ReasonOps.lastErRetractSliceRows.get() shouldBe 1L
    ReasonOps.lastErRetractEvidenceRows.get() shouldBe 121L
    // and the whole retraction schedules the SAME jobs at both sizes —
    // nothing in the patch re-derives per untouched group
    j60 shouldBe j6
  }

  "encoded streaming maintainers" should "maintain encoded closures batch-for-batch" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.dict.Dictionary
    val id: String => Long = Dictionary.termHashLocal
    val ids = ReasonOps.RdfsIds(id(SubClassOf), id(SubPropertyOf),
      id(Domain), id(Range), id("a"))
    val strTbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"))
    val tbox = strTbox.map { case (a, b, c) => (id(a), id(b), id(c)) }
      .toDF("s", "p", "o")
    val base = Seq((id("u"), id("p"), id("b")))
    val closure0 = ReasonOps.rdfsClosure(
      base.toDF("s", "p", "o").unionAll(tbox), Corpus.encoded(ids))
    val m = ReasonOps.rdfsMaintainStream(closure0, tbox, Corpus.encoded(ids))
    val src = MemoryStream[(Long, Long, Long)]
    val q = m.attach(src.toDF().toDF("s", "p", "o"))
    try {
      src.addData((id("v"), id("p"), id("w")))
      q.processAllAvailable()
      src.addData((id("t"), id("q"), id("r")))
      q.processAllAvailable()
    } finally q.stop()
    val expected = ReasonOps.rdfsClosure(
      (base ++ Seq((id("v"), id("p"), id("w")), (id("t"), id("q"), id("r"))))
        .toDF("s", "p", "o").unionAll(tbox), Corpus.encoded(ids))
    m.current.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet shouldBe
      expected.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
  }

  "ClosureMaintainer restart" should "recover from a persisted artifact + source checkpoint and converge to the batch closure" in {
    import graft.store.GraftStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart")
      .toString
    val srcDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"; val art = s"$tmp/art"
    new java.io.File(srcDir).mkdirs()
    val tbox = Seq(("p", SubPropertyOf, "q"), ("q", Domain, "C"))
      .toDF("s", "p", "o")
    val baseQuads = Seq(("u", "p", "b", "g1")).toDF("s", "p", "o", "g")
    val closure0 = ReasonOps.rdfsClosure(baseQuads, Corpus.Quads, Some(tbox))
    // batch 1 arrives while the first maintainer is attached
    Seq(("v", "p", "w", "g1")).toDF("s", "p", "o", "g")
      .write.parquet(s"$srcDir/b1")
    val schema = baseQuads.schema
    def attachStream(m: graft.ops.ClosureMaintainer) =
      m.attach(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
        checkpointLocation = Some(ckpt))
    val m1 = ReasonOps.rdfsMaintainStream(closure0, tbox, Corpus.Quads)
    val q1 = attachStream(m1)
    try q1.processAllAvailable() finally q1.stop()
    // persist the maintained closure, "crash", and recover: reopen the
    // artifact, rebuild the maintainer, re-attach on the SAME checkpoint
    GraftStore.persistClosure(m1.current, art, Corpus.Quads)
    val recovered = GraftStore.openClosure(spark, art, Corpus.Quads)
    val m2 = ReasonOps.rdfsMaintainStream(recovered, tbox, Corpus.Quads)
    Seq(("t", "q", "r", "g2")).toDF("s", "p", "o", "g")
      .write.parquet(s"$srcDir/b2")
    val q2 = attachStream(m2)
    try q2.processAllAvailable() finally q2.stop()
    val expected = ReasonOps.rdfsClosure(
      baseQuads.unionAll(Seq(("v", "p", "w", "g1"), ("t", "q", "r", "g2"))
        .toDF("s", "p", "o", "g")), Corpus.Quads, Some(tbox))
    qset(m2.current) shouldBe qset(expected)
  }

  "ErMaintainer restart" should "recover from persisted frames + source checkpoint and converge" in {
    val tmp = java.nio.file.Files.createTempDirectory("graft_er_restart")
      .toString
    val srcDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    new java.io.File(srcDir).mkdirs()
    // composite key (city, code): the base holds the cities, batch 1
    // brings e1's code (no collision yet), a crash intervenes, batch 2
    // brings e2's code — the recovered maintainer must complete the
    // collision ACROSS the crash boundary
    val base = keyAxiom("Cust", Seq("city", "code")) ++ Seq(
      ("e1", "a", "Cust"), ("e1", "city", "rome"),
      ("e2", "a", "Cust"), ("e2", "city", "rome"),
      ("e2", "name", "beta"))
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base.toDF("s", "p", "o"))
    val schema = rw0.schema
    def attachStream(m: graft.ops.ErMaintainer) =
      m.attach(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
        checkpointLocation = Some(ckpt))
    Seq(("e1", "code", "9")).toDF("s", "p", "o")
      .write.parquet(s"$srcDir/b1")
    val m1 = ReasonOps.erMaintainStream(rw0, mp0)
    val q1 = attachStream(m1)
    try q1.processAllAvailable() finally q1.stop()
    // persist BOTH frames, "crash", rebuild from the reopened frames,
    // re-attach on the SAME checkpoint: only batch 2 replays
    val (rwP, mpP) = m1.current
    rwP.write.parquet(s"$tmp/rw"); mpP.write.parquet(s"$tmp/mp")
    val m2 = ReasonOps.erMaintainStream(
      spark.read.parquet(s"$tmp/rw"), spark.read.parquet(s"$tmp/mp"))
    Seq(("e2", "code", "9")).toDF("s", "p", "o")
      .write.parquet(s"$srcDir/b2")
    val q2 = attachStream(m2)
    try q2.processAllAvailable() finally q2.stop()
    val (rwF, mpF) = ReasonOps.functionalCanonicalize(
      (base ++ Seq(("e1", "code", "9"), ("e2", "code", "9")))
        .toDF("s", "p", "o"))
    val (rw2, mp2) = m2.current
    tset(rw2) shouldBe tset(rwF)
    pset(mp2) shouldBe pset(mpF)
    tset(rw2) should contain (("e1", "name", "beta")) // cross-crash merge
  }

  "ConsistencyMaintainer" should "surface violations assembling across batches and clear on retract" in {
    import graft.ops.ReasonOps._
    val base = Seq(
      ("Person", DisjointWith, "Company"),
      ("email", "a", FunctionalProperty),
      ("x0", "a", "Person")).toDF("s", "p", "o")
    val rep0 = ReasonOps.consistencyReport(base)
    rep0.isEmpty shouldBe true
    val m = ReasonOps.consistencyMaintainStream(base, rep0)
    // batch 1: half-premises only — nothing violates yet
    m.update(Seq(("x1", "a", "Person"), ("x1", "email", "m1"))
      .toDF("s", "p", "o"))
    m.currentReport.isEmpty shouldBe true
    // batch 2 completes BOTH conflicts across the batch boundary
    m.update(Seq(("x1", "a", "Company"), ("x1", "email", "m2"))
      .toDF("s", "p", "o"))
    vset(m.currentReport) shouldBe Set(
      ("cax-dw", "x1", "Person", "Company"),
      ("functional-conflict", "x1", "email", "m1"),
      ("functional-conflict", "x1", "email", "m2"))
    // batch-for-batch parity with the from-scratch report
    val acc = base.unionAll(Seq(
      ("x1", "a", "Person"), ("x1", "email", "m1"),
      ("x1", "a", "Company"), ("x1", "email", "m2"))
      .toDF("s", "p", "o"))
    vset(m.currentReport) shouldBe vset(ReasonOps.consistencyReport(acc))
    // synchronous retraction patches the report group-scoped
    m.retract(Seq(("x1", "a", "Company"), ("x1", "email", "m2"))
      .toDF("s", "p", "o"))
    m.currentReport.isEmpty shouldBe true
    // and the maintained corpus dropped the rows: re-adding one brings
    // only ITS violation back
    m.update(Seq(("x1", "a", "Company")).toDF("s", "p", "o"))
    vset(m.currentReport) shouldBe Set(
      ("cax-dw", "x1", "Person", "Company"))
    // declarations on the stream fail the batch
    (the[IllegalArgumentException] thrownBy m.update(
      Seq(("A", DisjointWith, "B")).toDF("s", "p", "o")))
      .getMessage should include ("consistencyReport")
  }

  it should "recover from persisted frames + source checkpoint across a crash" in {
    import graft.ops.ReasonOps._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cons_restart")
      .toString
    val srcDir = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    new java.io.File(srcDir).mkdirs()
    val base = Seq(
      ("Person", DisjointWith, "Company"),
      ("x1", "a", "Person")).toDF("s", "p", "o")
    val rep0 = ReasonOps.consistencyReport(base)
    val schema = base.schema
    def attachStream(m: graft.ops.ConsistencyMaintainer) =
      m.attach(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*"),
        checkpointLocation = Some(ckpt))
    Seq(("x2", "a", "Person")).toDF("s", "p", "o")
      .write.parquet(s"$srcDir/b1")
    val m1 = ReasonOps.consistencyMaintainStream(base, rep0)
    val q1 = attachStream(m1)
    try q1.processAllAvailable() finally q1.stop()
    m1.currentReport.isEmpty shouldBe true
    // persist BOTH frames, "crash", rebuild, re-attach on the SAME
    // checkpoint — only batch 2 replays, completing x1's conflict
    val (cP, rP) = m1.current
    cP.write.parquet(s"$tmp/c"); rP.write.parquet(s"$tmp/r")
    val m2 = ReasonOps.consistencyMaintainStream(
      spark.read.parquet(s"$tmp/c"), spark.read.parquet(s"$tmp/r"))
    Seq(("x1", "a", "Company")).toDF("s", "p", "o")
      .write.parquet(s"$srcDir/b2")
    val q2 = attachStream(m2)
    try q2.processAllAvailable() finally q2.stop()
    vset(m2.currentReport) shouldBe Set(
      ("cax-dw", "x1", "Person", "Company"))
    // parity: equal to the from-scratch report on everything seen
    vset(m2.currentReport) shouldBe vset(ReasonOps.consistencyReport(
      base.unionAll(Seq(("x2", "a", "Person"), ("x1", "a", "Company"))
        .toDF("s", "p", "o"))))
  }

  "functionalDelta then erRetract" should "match from-scratch canonicalization" in {
    import graft.ops.ReasonOps._
    // the delta completes e2's (city, code) key tuple, so e2 merges onto
    // e1 and the functional acct property cascades; retracting the same
    // row must un-merge both
    val base = keyAxiom("Cust", Seq("city", "code")) ++ Seq(
      ("acct", "a", FunctionalProperty),
      ("e1", "a", "Cust"), ("e1", "city", "rome"),
      ("e2", "a", "Cust"), ("e2", "city", "rome"),
      ("e1", "code", "9"),
      ("e1", "acct", "a1"), ("e2", "acct", "a2"),
      ("e2", "name", "beta"))
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(
      base.toDF("s", "p", "o"))
    val delta = Seq(("e2", "code", "9")).toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalDelta(
      rw0.localCheckpoint(true), mp0.localCheckpoint(true), delta)
    val (rwF, mpF) = ReasonOps.functionalCanonicalize(
      (base :+ (("e2", "code", "9"))).toDF("s", "p", "o"))
    tset(rw) shouldBe tset(rwF)
    pset(mp) shouldBe pset(mpF)
    tset(rw) should contain (("e1", "name", "beta")) // key merge + cascade
    val orig = (base :+ (("e2", "code", "9"))).toDF("s", "p", "o")
    val dels = Seq(("e2", "code", "9")).toDF("s", "p", "o")
    val (rw2, mp2) = ReasonOps.erRetract(orig, dels,
      rw.localCheckpoint(true), mp.localCheckpoint(true))
    val (rb, mb) = ReasonOps.functionalCanonicalize(
      orig.join(dels, Seq("s", "p", "o"), "left_anti"))
    tset(rw2) shouldBe tset(rb)
    pset(mp2) shouldBe pset(mb)
  }

  "ErMaintainer retract" should "un-merge through the maintained state" in {
    import graft.ops.ReasonOps._
    val base = Seq(
      ("email", "a", InverseFunctionalProperty),
      ("cust", "email", "e"), ("cust", "name", "alice"))
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base.toDF("s", "p", "o"))
    val m = ReasonOps.erMaintainStream(rw0, mp0)
    val b1 = Seq(("dup", "email", "e"), ("dup", "phone", "123"))
    m.update(b1.toDF("s", "p", "o"))
    pset(m.current._2) should contain (("dup", "cust"))
    // retract the merge evidence through the maintainer: state must
    // equal from-scratch canonicalization of the post-delete source
    val original = (base ++ b1).toDF("s", "p", "o")
    m.retract(original, Seq(("dup", "email", "e")).toDF("s", "p", "o"))
    val (rwF, mpF) = ReasonOps.functionalCanonicalize(
      original.join(Seq(("dup", "email", "e")).toDF("s", "p", "o"),
        Seq("s", "p", "o"), "left_anti"))
    tset(m.current._1) shouldBe tset(rwF)
    pset(m.current._2) shouldBe pset(mpF)
    tset(m.current._1) should contain (("dup", "phone", "123"))
    // and the stream keeps composing after the un-merge
    m.update(Seq(("dup2", "email", "e")).toDF("s", "p", "o"))
    pset(m.current._2) should contain (("dup2", "cust"))
  }

  it should "reject deletions absent from the supplied original" in {
    import graft.ops.ReasonOps._
    val base = Seq(
      ("email", "a", InverseFunctionalProperty),
      ("cust", "email", "e"), ("dup", "email", "e")).toDF("s", "p", "o")
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base)
    val m = ReasonOps.erMaintainStream(rw0, mp0)
    // a deletion the original never held means the caller's `original`
    // is stale/divergent — silent corruption without the check
    val ex = intercept[IllegalArgumentException] {
      m.retract(base, Seq(("ghost", "email", "zzz")).toDF("s", "p", "o"))
    }
    ex.getMessage should include("absent from the caller-supplied")
    // the failed retract must not have committed anything
    pset(m.current._2) should contain (("dup", "cust"))
    // the good path still retracts exactly
    m.retract(base, Seq(("dup", "email", "e")).toDF("s", "p", "o"))
    m.current._2.isEmpty shouldBe true
  }

  // ------------------------------------------------------------------
  // owl:propertyChainAxiom (OWL 2 RL prp-spo2)
  // ------------------------------------------------------------------

  import graft.ops.ReasonOps.{PropertyChainAxiom => PCA, RdfFirst, RdfRest, RdfNil}

  /** TBox rows for `head owl:propertyChainAxiom (body...)`. */
  private def chainAxiom(head: String, body: Seq[String]): Seq[(String, String, String)] = {
    val nodes = body.indices.map(i => s"_:$head$i")
    (head, PCA, nodes.head) +: body.indices.flatMap { i =>
      Seq((nodes(i), RdfFirst, body(i)),
        (nodes(i), RdfRest, if (i == body.length - 1) RdfNil else nodes(i + 1)))
    }
  }

  "ReasonOps.owlClosure property chains" should "derive a two-step composition" in {
    val g = (chainAxiom("grand", Seq("par", "par")) ++ Seq(
      ("a", "par", "b"), ("b", "par", "c"), ("c", "par", "d")
    )).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlClosure(g))
    got should contain allOf (("a", "grand", "c"), ("b", "grand", "d"))
    got should not contain ("a", "grand", "d") // length-3, not a chain match
  }

  it should "compose premises that only exist as inverse images" in {
    // reg --natOf--> nat --custOf--> cust, both premises only exist as
    // INVERSES of the asserted directions
    val g = (chainAxiom("regionCust", Seq("natOf", "custOf")) ++ Seq(
      ("natOf", ReasonOps.InverseOf, "inRegion"),
      ("custOf", ReasonOps.InverseOf, "inNation"),
      ("n1", "inRegion", "r1"), ("c1", "inNation", "n1"),
      ("c2", "inNation", "n1")
    )).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlClosure(g))
    got should contain allOf (("r1", "regionCust", "c1"), ("r1", "regionCust", "c2"))
  }

  it should "reach the transitive closure through a self-chain" in {
    // locIn o locIn => locIn IS transitivity, exercised via the chain
    // fixpoint (depth-3 path needs two rounds)
    val g = (chainAxiom("locIn", Seq("locIn", "locIn")) ++ Seq(
      ("c", "locIn", "n"), ("n", "locIn", "r"), ("r", "locIn", "w")
    )).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlClosure(g))
    val viaTrans = tset(ReasonOps.owlClosure(Seq(
      ("locIn", "a", ReasonOps.TransitiveProperty),
      ("c", "locIn", "n"), ("n", "locIn", "r"), ("r", "locIn", "w")
    ).toDF("s", "p", "o")))
    got.filter(_._2 == "locIn") shouldBe viaTrans.filter(_._2 == "locIn")
    got should contain ("c", "locIn", "w")
  }

  it should "feed chain conclusions into a transitive head" in {
    // the chain derives two hop edges; the head is transitive so the
    // hops must then CHAIN
    val g = (chainAxiom("hop", Seq("e1", "e2")) ++ Seq(
      ("hop", "a", ReasonOps.TransitiveProperty),
      ("x", "e1", "m1"), ("m1", "e2", "y"),
      ("y", "e1", "m2"), ("m2", "e2", "z")
    )).toDF("s", "p", "o")
    tset(ReasonOps.owlClosure(g)) should contain ("x", "hop", "z")
  }

  it should "feed one chain's conclusions into another chain" in {
    val g = (chainAxiom("ab", Seq("a1", "a2")) ++
      chainAxiom("abc", Seq("ab", "a3")) ++ Seq(
      ("x", "a1", "m"), ("m", "a2", "y"), ("y", "a3", "z")
    )).toDF("s", "p", "o")
    tset(ReasonOps.owlClosure(g)) should contain ("x", "abc", "z")
  }

  it should "fail loudly on a cyclic or malformed chain list" in {
    val cyc = Seq(
      ("h", PCA, "_:x"), ("_:x", RdfFirst, "p"), ("_:x", RdfRest, "_:x"),
      ("u", "p", "v")).toDF("s", "p", "o")
    the[IllegalArgumentException] thrownBy
      ReasonOps.owlClosure(cyc).count() should have message
      "requirement failed: owl:propertyChainAxiom list for h is cyclic at _:x"
    val broken = Seq(
      ("h", PCA, "_:x"), ("_:x", RdfFirst, "p"),
      ("u", "p", "v")).toDF("s", "p", "o")
    (the[IllegalArgumentException] thrownBy
      ReasonOps.owlClosure(broken).count()).getMessage should include ("rdf:rest")
  }

  it should "close per graph on the quad path" in {
    val tbox = chainAxiom("grand", Seq("par", "par")).toDF("s", "p", "o")
    val q = Seq(
      ("a", "par", "b", "g1"), ("b", "par", "c", "g1"),
      ("a", "par", "b", "g2"), // g2 lacks the second hop
      ("b", "par", "c", "g3")
    ).toDF("s", "p", "o", "g")
    val got = ReasonOps.owlClosure(q, Corpus.Quads, Some(tbox))
      .where(col("p") === "grand").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3))).toSet
    got shouldBe Set(("a", "c", "g1")) // premises never combine across graphs
  }

  it should "run encoded with OwlIds chain vocabulary" in {
    // terms as longs: par=1 grand=2 pca=10 first=11 rest=12 nil=13
    // nodes a=100 b=101 c=102, list nodes 200 201
    val enc = Seq(
      (2L, 10L, 200L), (200L, 11L, 1L), (200L, 12L, 201L),
      (201L, 11L, 1L), (201L, 12L, 13L),
      (100L, 1L, 101L), (101L, 1L, 102L)
    ).toDF("s", "p", "o")
    val ids = ReasonOps.OwlIds(inverseOf = 90L, symmetricProperty = 91L,
      transitiveProperty = 92L, typePred = 93L,
      propertyChainAxiom = Some(10L), listFirst = Some(11L),
      listRest = Some(12L), listNil = Some(13L))
    val got = ReasonOps.owlClosure(enc, Corpus.encoded(ids)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got should contain ((100L, 2L, 102L))
  }

  "ReasonOps.owlDelta property chains" should "match re-materialization" in {
    val tbox = (chainAxiom("grand", Seq("par", "par")) ++
      chainAxiom("locIn", Seq("locIn", "locIn"))).toDF("s", "p", "o")
    val base = chainAxiom("grand", Seq("par", "par")) ++
      chainAxiom("locIn", Seq("locIn", "locIn")) ++ Seq(
      ("n", "locIn", "r"), ("r", "locIn", "w"),
      ("b", "par", "c"))
    // the batch connects into existing paths on both sides AND extends
    // the self-chain two rounds deep (c -> n -> r -> w)
    val delta = Seq(("a", "par", "b"), ("c", "locIn", "n"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
    val inc = ReasonOps.owlDelta(closure, delta.toDF("s", "p", "o"), tbox)
    val got = tset(ReasonOps.composeIncrement(closure, inc))
    val full = ReasonOps.owlClosure((base ++ delta).toDF("s", "p", "o"))
    got shouldBe tset(full)
    got should contain allOf (("a", "grand", "c"), ("c", "locIn", "w"))
  }

  it should "match re-materialization per graph on the quad path" in {
    val tbox = chainAxiom("grand", Seq("par", "par")).toDF("s", "p", "o")
    val base = Seq(("a", "par", "b", "g1"), ("a", "par", "b", "g2"))
    val delta = Seq(("b", "par", "c", "g1")) // completes g1 only
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox))
    val inc = ReasonOps.owlDelta(closure,
      delta.toDF("s", "p", "o", "g"), tbox, Corpus.Quads)
    val got = qset(ReasonOps.composeIncrement(closure, inc))
    got shouldBe qset(ReasonOps.owlClosure(
      (base ++ delta).toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox)))
    got should contain (("a", "grand", "c", "g1"))
    got.map(t => (t._1, t._2, t._3, t._4)).filter(_._2 == "grand")
      .map(_._4) shouldBe Set("g1")
  }

  it should "fail fast on a chain axiom arriving in the delta" in {
    val tbox = chainAxiom("grand", Seq("par", "par")).toDF("s", "p", "o")
    val closure = ReasonOps.owlClosure(
      (chainAxiom("grand", Seq("par", "par")) ++ Seq(("a", "par", "b")))
        .toDF("s", "p", "o"))
    val decl = Seq(("other", PCA, "_:z")).toDF("s", "p", "o")
    (the[IllegalArgumentException] thrownBy
      ReasonOps.owlDelta(closure, decl, tbox).count())
      .getMessage should include ("re-materialization")
  }

  it should "scope the list-cell guard to chain-bearing TBoxes" in {
    // plain rdf:list ABox data (a cell without any declared chain) is
    // NOT schema: the chain-free delta path maintains it incrementally
    val tbox = Seq(("trans", "a", ReasonOps.TransitiveProperty)).toDF("s", "p", "o")
    val base = Seq(("trans", "a", ReasonOps.TransitiveProperty), ("a", "trans", "b"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
    val listDelta = Seq(("_:l0", "rdf:first", "x"),
      ("_:l0", "rdf:rest", "rdf:nil"), ("b", "trans", "c"))
      .toDF("s", "p", "o")
    val got = tset(ReasonOps.composeIncrement(closure,
      ReasonOps.owlDelta(closure, listDelta, tbox)))
    got shouldBe tset(ReasonOps.owlClosure(
      (base ++ Seq(("_:l0", "rdf:first", "x"),
        ("_:l0", "rdf:rest", "rdf:nil"), ("b", "trans", "c")))
        .toDF("s", "p", "o")))
    // under a DECLARED chain the same cells stay schema-guarded (they
    // could extend an axiom body across the batch boundary)
    val ctbox = chainAxiom("grand", Seq("par", "par")).toDF("s", "p", "o")
    val cclosure = ReasonOps.owlClosure(
      (chainAxiom("grand", Seq("par", "par")) ++ Seq(("a", "par", "b")))
        .toDF("s", "p", "o"))
    (the[IllegalArgumentException] thrownBy
      ReasonOps.owlDelta(cclosure,
        Seq(("_:l9", "rdf:first", "par")).toDF("s", "p", "o"), ctbox)
        .count())
      .getMessage should include ("list cells")
  }

  it should "report the re-materialization fallback via telemetry" in {
    // a CYCLIC chain feed needs premise provenance through a recursive
    // layer — retraction re-materializes and reports it (a SELF-chain
    // is transitivity and takes the Δ path since r13; an ACYCLIC
    // cross-chain feed stratifies onto the Δ path since r14)
    val tbox = (chainAxiom("h1", Seq("h2", "pa")) ++
      chainAxiom("h2", Seq("h1", "pb"))).toDF("s", "p", "o")
    val base = chainAxiom("h1", Seq("h2", "pa")) ++
      chainAxiom("h2", Seq("h1", "pb")) ++ Seq(
      ("a", "h2", "b"), ("b", "pa", "c"), ("c", "pb", "d"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
    ReasonOps.owlRetract(closure, base.toDF("s", "p", "o"),
      Seq(("b", "pa", "c")).toDF("s", "p", "o"), tbox).count()
    ReasonOps.lastRetractRematerialized.get() shouldBe true
    // chain-free retraction takes the O(Δ) DRed path
    val tbox2 = Seq(("trans", "a", ReasonOps.TransitiveProperty)).toDF("s", "p", "o")
    val base2 = Seq(("trans", "a", ReasonOps.TransitiveProperty), ("a", "trans", "b"),
      ("b", "trans", "c"))
    val closure2 = ReasonOps.owlClosure(base2.toDF("s", "p", "o"))
    ReasonOps.owlRetract(closure2, base2.toDF("s", "p", "o"),
      Seq(("b", "trans", "c")).toDF("s", "p", "o"), tbox2).count()
    ReasonOps.lastRetractRematerialized.get() shouldBe false
  }

  "ReasonOps.owlRetract single-layer chains" should "retract delta-shaped with alternative-path survivors" in {
    // grand ⊒ par∘par feeds nothing (single-layer): deleting b→c kills
    // grand(b,d) but grand(a,c) SURVIVES through the alternative b2
    // path, and the directly-deleted base head row grand(x,y) with a
    // chain re-derivation must be rescued
    val tbox = chainAxiom("grand", Seq("par", "par")).toDF("s", "p", "o")
    val base = chainAxiom("grand", Seq("par", "par")) ++ Seq(
      ("a", "par", "b"), ("b", "par", "c"), ("c", "par", "d"),
      ("a", "par", "b2"), ("b2", "par", "c"),
      ("x", "par", "m"), ("m", "par", "y"), ("x", "grand", "y"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
    val del = Seq(("b", "par", "c"), ("x", "grand", "y"))
      .toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRetract(closure, base.toDF("s", "p", "o"),
      del, tbox))
    ReasonOps.lastRetractRematerialized.get() shouldBe false // Δ path
    got shouldBe tset(ReasonOps.owlClosure(
      base.filterNot(r => r == (("b", "par", "c")) ||
        r == (("x", "grand", "y"))).toDF("s", "p", "o")))
    got should contain (("a", "grand", "c"))     // alternative path
    got should not contain (("b", "grand", "d")) // only path deleted
    got should contain (("x", "grand", "y"))     // chain-rescued
  }

  it should "combine with transitive DRed and stay per graph on quads" in {
    val tbox = (chainAxiom("cr", Seq("cn", "nr")) ++
      Seq(("locIn", "a", ReasonOps.TransitiveProperty)))
      .toDF("s", "p", "o")
    val base = Seq(
      ("c1", "cn", "n1", "g1"), ("n1", "nr", "r1", "g1"),
      ("c1", "cn", "n1", "g2"), ("n1", "nr", "r1", "g2"),
      ("n1", "locIn", "r1", "g1"), ("r1", "locIn", "w", "g1"))
    val del = Seq(("c1", "cn", "n1", "g1"), ("n1", "locIn", "r1", "g1"))
    val closure = ReasonOps.owlClosure(
      base.toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox))
    val got = qset(ReasonOps.owlRetract(closure,
      base.toDF("s", "p", "o", "g"), del.toDF("s", "p", "o", "g"), tbox, Corpus.Quads))
    ReasonOps.lastRetractRematerialized.get() shouldBe false
    got shouldBe qset(ReasonOps.owlClosure(
      base.filterNot(del.contains).toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox)))
    got should not contain (("c1", "cr", "r1", "g1")) // premise deleted
    got should contain (("c1", "cr", "r1", "g2"))     // other graph intact
    got should not contain (("n1", "locIn", "w", "g1")) // transitive DRed
  }

  it should "retract a SELF-chain (transitivity via chain axiom) on the delta path" in {
    // locIn ∘ locIn ⊑ locIn IS TransitiveProperty(locIn): deleting the
    // middle hop must reroute through the transitive DRed (no
    // re-materialization), kill the broken long paths, and keep the
    // survivor that reaches through the alternative hop
    val tbox = chainAxiom("locIn", Seq("locIn", "locIn"))
      .toDF("s", "p", "o")
    val base = chainAxiom("locIn", Seq("locIn", "locIn")) ++ Seq(
      ("c", "locIn", "n"), ("n", "locIn", "r"), ("r", "locIn", "w"),
      ("c", "locIn", "n2"), ("n2", "locIn", "r"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
    tset(closure) should contain (("c", "locIn", "w"))
    val del = Seq(("n", "locIn", "r")).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRetract(closure,
      base.toDF("s", "p", "o"), del, tbox))
    ReasonOps.lastRetractRematerialized.get() shouldBe false // Δ path
    got shouldBe tset(ReasonOps.owlClosure(
      base.filterNot(_ == (("n", "locIn", "r"))).toDF("s", "p", "o")))
    got should contain (("c", "locIn", "w"))      // via n2 survives
    got should not contain (("n", "locIn", "w"))  // only path deleted
    // BONUS feeding shape now Δ-shaped: a self-chain (= transitivity)
    // whose closure feeds another chain's BODY — the body slices are
    // maintained by the transitive DRed before the chain layer reads
    // them, so the composite retracts without re-materializing
    val tbox2 = (chainAxiom("locIn", Seq("locIn", "locIn")) ++
      chainAxiom("basedIn", Seq("cn", "locIn"))).toDF("s", "p", "o")
    val base2 = chainAxiom("locIn", Seq("locIn", "locIn")) ++
      chainAxiom("basedIn", Seq("cn", "locIn")) ++ Seq(
      ("x", "cn", "c"), ("c", "locIn", "n"), ("n", "locIn", "r"))
    val closure2 = ReasonOps.owlClosure(base2.toDF("s", "p", "o"))
    tset(closure2) should contain (("x", "basedIn", "r"))
    val got2 = tset(ReasonOps.owlRetract(closure2,
      base2.toDF("s", "p", "o"),
      Seq(("n", "locIn", "r")).toDF("s", "p", "o"), tbox2))
    ReasonOps.lastRetractRematerialized.get() shouldBe false
    got2 shouldBe tset(ReasonOps.owlClosure(
      base2.filterNot(_ == (("n", "locIn", "r"))).toDF("s", "p", "o")))
    got2 should not contain (("x", "basedIn", "r"))
  }

  it should "retract CROSS-CHAIN feeds stratum by stratum on the delta path" in {
    // h1 ⊒ pa∘pb feeds h2 ⊒ h1∘pc feeds h3 ⊒ h2∘pe — three strata in
    // topological order. Deleting pb(y,z) kills h1(x,z) (and its h2/h3
    // images through the chain-feed), while the alternative pa/pb path
    // through y2 keeps h1(x2,z)'s images alive — the per-stratum
    // re-derivation must rescue exactly those
    val rules = chainAxiom("h1", Seq("pa", "pb")) ++
      chainAxiom("h2", Seq("h1", "pc")) ++
      chainAxiom("h3", Seq("h2", "pe"))
    val tbox3 = rules.toDF("s", "p", "o")
    val base3 = rules ++ Seq(
      ("x", "pa", "y"), ("y", "pb", "z"), ("z", "pc", "w"),
      ("w", "pe", "v"),
      ("x2", "pa", "y2"), ("y2", "pb", "z"))
    val closure3 = ReasonOps.owlClosure(base3.toDF("s", "p", "o"))
    tset(closure3) should contain allOf (("x", "h2", "w"),
      ("x", "h3", "v"), ("x2", "h3", "v"))
    val got3 = tset(ReasonOps.owlRetract(closure3,
      base3.toDF("s", "p", "o"),
      Seq(("y", "pb", "z")).toDF("s", "p", "o"), tbox3))
    ReasonOps.lastRetractRematerialized.get() shouldBe false // Δ path
    ReasonOps.lastRetractStrata.get() shouldBe 3L
    got3 shouldBe tset(ReasonOps.owlClosure(
      base3.filterNot(_ == (("y", "pb", "z"))).toDF("s", "p", "o")))
    got3 should not contain (("x", "h3", "v")) // fed through deleted pb
    got3 should contain (("x2", "h3", "v"))    // alternative path lives
    // a CYCLIC chain feed (h1's body cites h2, h2's body cites h1)
    // still re-materializes — the documented recursive-layer boundary
    val cyc = chainAxiom("h1", Seq("h2", "pa")) ++
      chainAxiom("h2", Seq("h1", "pb"))
    val tboxC = cyc.toDF("s", "p", "o")
    val baseC = cyc ++ Seq(
      ("a", "h2", "b"), ("b", "pa", "c"), ("c", "pb", "d"))
    val closureC = ReasonOps.owlClosure(baseC.toDF("s", "p", "o"))
    tset(closureC) should contain allOf (("a", "h1", "c"),
      ("a", "h2", "d"))
    val gotC = tset(ReasonOps.owlRetract(closureC,
      baseC.toDF("s", "p", "o"),
      Seq(("b", "pa", "c")).toDF("s", "p", "o"), tboxC))
    ReasonOps.lastRetractRematerialized.get() shouldBe true
    gotC shouldBe tset(ReasonOps.owlClosure(
      baseC.filterNot(_ == (("b", "pa", "c"))).toDF("s", "p", "o")))
  }

  "ReasonOps.owlRetract property chains" should "re-materialize to the exact remaining closure" in {
    val tbox = chainAxiom("grand", Seq("par", "par")).toDF("s", "p", "o")
    val base = chainAxiom("grand", Seq("par", "par")) ++ Seq(
      ("a", "par", "b"), ("b", "par", "c"), ("c", "par", "d"))
    val closure = ReasonOps.owlClosure(base.toDF("s", "p", "o"))
    val del = Seq(("b", "par", "c")).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRetract(closure, base.toDF("s", "p", "o"),
      del, tbox))
    got shouldBe tset(ReasonOps.owlClosure(
      base.filterNot(_ == (("b", "par", "c"))).toDF("s", "p", "o")))
    // the deleted middle hop breaks BOTH compositions
    got.filter(_._2 == "grand") shouldBe empty
  }

  "ReasonOps.owlMaintainStream property chains" should "equal the batch closure across micro-batches" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val decls = chainAxiom("grand", Seq("par", "par")) ++
      chainAxiom("locIn", Seq("locIn", "locIn"))
    val base = decls ++ Seq(("r", "locIn", "w"), ("b", "par", "c"))
    val m = ReasonOps.owlMaintainStream(
      ReasonOps.owlClosure(base.toDF("s", "p", "o")),
      decls.toDF("s", "p", "o"))
    val src = MemoryStream[(String, String, String)]
    val q = m.attach(src.toDF().toDF("s", "p", "o"))
    try {
      src.addData(("a", "par", "b"), ("n", "locIn", "r"))
      q.processAllAvailable()
      src.addData(("c", "locIn", "n")) // composes across BATCHES
      q.processAllAvailable()
    } finally q.stop()
    val full = ReasonOps.owlClosure((base ++ Seq(("a", "par", "b"),
      ("n", "locIn", "r"), ("c", "locIn", "n"))).toDF("s", "p", "o"))
    tset(m.current) shouldBe tset(full)
    tset(m.current) should contain allOf
      (("a", "grand", "c"), ("c", "locIn", "w"))
  }

  "ReasonOps.owlEntailed property chains" should "prune unmentioned chain heads" in {
    val g = (chainAxiom("grand", Seq("par", "par")) ++ Seq(
      ("a", "par", "b"), ("b", "par", "c")
    )).toDF("s", "p", "o")
    // head mentioned: derived
    tset(ReasonOps.owlEntailed(g, patternPreds = Seq("grand"))) should
      contain ("a", "grand", "c")
    // head not mentioned: the chain is skipped (under-derived by contract)
    tset(ReasonOps.owlEntailed(g, patternPreds = Seq("par"))) should
      not contain ("a", "grand", "c")
  }


  // ------------------------------------------------------------------
  // OWL 2 RL restriction classes (owlRlClosure)
  // ------------------------------------------------------------------

  import graft.ops.ReasonOps.{OnProperty, SomeValuesFrom, AllValuesFrom, HasValue, OwlThing}

  "ReasonOps.owlRlClosure" should "type someValuesFrom members and flow them up subClassOf" in {
    val g = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("HasOrder", SubClassOf, "Active"),
      ("c1", "placed", "o1"), ("o1", "a", "Order"),
      ("c2", "placed", "x1") // x1 is NOT an Order
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (("c1", "a", "HasOrder"), ("c1", "a", "Active"))
    got should not contain ("c2", "a", "HasOrder")
  }

  it should "type every edge subject under someValuesFrom owl:Thing" in {
    val g = Seq(
      ("Linked", OnProperty, "rel"),
      ("Linked", SomeValuesFrom, OwlThing),
      ("u", "rel", "v")
    ).toDF("s", "p", "o")
    tset(ReasonOps.owlRlClosure(g)) should contain (("u", "a", "Linked"))
  }

  it should "fire hasValue in BOTH directions, through subclass membership" in {
    val g = Seq(
      ("Gold", OnProperty, "status"),
      ("Gold", HasValue, "gold"),
      ("Vip", SubClassOf, "Gold"), // declared Vip => member of Gold => hv1
      ("a1", "a", "Vip"),
      ("a2", "status", "gold") // hv2: the value types the holder
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (("a1", "status", "gold"), ("a2", "a", "Gold"))
    got should not contain ("a2", "a", "Vip") // no reverse subclass flow
  }

  it should "push allValuesFrom onto every object of a member" in {
    val g = Seq(
      ("Buyer", SubClassOf, "AllPurch"),
      ("AllPurch", OnProperty, "placed"),
      ("AllPurch", AllValuesFrom, "Purchase"),
      ("b1", "a", "Buyer"),
      ("b1", "placed", "o1"), ("b1", "placed", "o2"),
      ("c1", "placed", "o3") // not a Buyer: o3 untyped
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (("o1", "a", "Purchase"), ("o2", "a", "Purchase"))
    got should not contain ("o3", "a", "Purchase")
  }

  it should "iterate nested restrictions to fixpoint" in {
    // round 1: avf types b1's orders Purchase; round 2: svf over the
    // DERIVED Purchase type reaches PurchBuyer
    val g = Seq(
      ("Buyer", SubClassOf, "AllPurch"),
      ("AllPurch", OnProperty, "placed"),
      ("AllPurch", AllValuesFrom, "Purchase"),
      ("PurchBuyer", OnProperty, "placed"),
      ("PurchBuyer", SomeValuesFrom, "Purchase"),
      ("b1", "a", "Buyer"), ("b1", "placed", "o1")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (("o1", "a", "Purchase"), ("b1", "a", "PurchBuyer"))
    ReasonOps.lastRlRounds.get() should be >= 2L
  }

  it should "fail loudly on a restriction without exactly one onProperty" in {
    val g = Seq(
      ("R", SomeValuesFrom, "D"),
      ("x", "p", "y")
    ).toDF("s", "p", "o")
    (the[IllegalArgumentException] thrownBy
      ReasonOps.owlRlClosure(g).count()).getMessage should
      include ("exactly one owl:onProperty")
  }

  it should "run encoded with RlIds vocabulary" in {
    // ids: placed=1 a=2 Order=3 HasOrder=4 sc=5 onProp=10 svf=11 avf=12 hv=13
    val enc = Seq(
      (4L, 10L, 1L), (4L, 11L, 3L),
      (100L, 1L, 200L), (200L, 2L, 3L)
    ).toDF("s", "p", "o")
    val ids = ReasonOps.RlIds(
      rdfs = ReasonOps.RdfsIds(subClassOf = 5L, subPropertyOf = 6L,
        domain = 7L, range = 8L, typePred = 2L),
      onProperty = 10L, someValuesFrom = 11L, allValuesFrom = 12L,
      hasValue = 13L)
    val got = ReasonOps.owlRlClosure(enc, Corpus.encoded(ids)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got should contain ((100L, 2L, 4L))
  }

  it should "confine restriction joins per graph on the quad path" in {
    val tbox = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order")
    ).toDF("s", "p", "o")
    val q = Seq(
      ("c1", "placed", "o1", "g1"), ("o1", "a", "Order", "g1"),
      ("c2", "placed", "o2", "g2"), ("o2", "a", "Order", "g3")
    ).toDF("s", "p", "o", "g")
    val got = qset(ReasonOps.owlRlClosure(q, Corpus.Quads, Some(tbox)))
    got should contain (("c1", "a", "HasOrder", "g1"))
    // c2's premise types o2 in ANOTHER graph: no cross-graph firing
    got.filter(t => t._1 == "c2" && t._2 == "a") shouldBe empty
  }


  "ReasonOps.owlRlDelta" should "match re-materialization across all rule shapes" in {
    val tbox = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("HasOrder", SubClassOf, "Active"),
      ("Buyer", SubClassOf, "AllPurch"),
      ("AllPurch", OnProperty, "placed"),
      ("AllPurch", AllValuesFrom, "Purchase"),
      ("PurchBuyer", OnProperty, "placed"),
      ("PurchBuyer", SomeValuesFrom, "Purchase"),
      ("Gold", OnProperty, "status"),
      ("Gold", HasValue, "gold"),
      ("Vip", SubClassOf, "Gold")).toDF("s", "p", "o")
    val base = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("HasOrder", SubClassOf, "Active"),
      ("Buyer", SubClassOf, "AllPurch"),
      ("AllPurch", OnProperty, "placed"),
      ("AllPurch", AllValuesFrom, "Purchase"),
      ("PurchBuyer", OnProperty, "placed"),
      ("PurchBuyer", SomeValuesFrom, "Purchase"),
      ("Gold", OnProperty, "status"),
      ("Gold", HasValue, "gold"),
      ("Vip", SubClassOf, "Gold"),
      ("c1", "placed", "o1"), ("o1", "a", "Order"),
      ("c2", "placed", "o2"), ("o2", "a", "Order"))
    // the batch brings: Buyer membership (avf fires against EXISTING
    // edges; its Purchase types then satisfy the nested svf in round
    // 2), a new edge under an existing Order type (svf1 edge variant),
    // Vip membership (hv1 through subclass), and a status row (hv2)
    val delta = Seq(
      ("c1", "a", "Buyer"),
      ("c3", "placed", "o1"),
      ("c2", "a", "Vip"),
      ("c4", "status", "gold"))
    val closure = ReasonOps.owlRlClosure(base.toDF("s", "p", "o"))
    val inc = ReasonOps.owlRlDelta(closure, delta.toDF("s", "p", "o"), tbox)
    val got = tset(ReasonOps.composeIncrement(closure, inc))
    got shouldBe tset(ReasonOps.owlRlClosure(
      (base ++ delta).toDF("s", "p", "o")))
    got should contain allOf (
      ("o1", "a", "Purchase"),       // avf: Δ membership x existing edge
      ("c1", "a", "PurchBuyer"),     // nested svf, delta round 2
      ("c3", "a", "HasOrder"),       // svf1: Δ edge x existing type
      ("c3", "a", "PurchBuyer"),     // Δ edge x Δ-derived Purchase type
      ("c2", "status", "gold"),      // hv1 through Vip subclass
      ("c4", "a", "Gold"))           // hv2
  }

  it should "match re-materialization per graph on the quad path" in {
    val tbox = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order")).toDF("s", "p", "o")
    val base = Seq(("o1", "a", "Order", "g1"), ("o1", "a", "Order", "g2"))
    val delta = Seq(("c1", "placed", "o1", "g1")) // fires in g1 only
    val closure = ReasonOps.owlRlClosure(
      base.toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox))
    val inc = ReasonOps.owlRlDelta(closure,
      delta.toDF("s", "p", "o", "g"), tbox, Corpus.Quads)
    val got = qset(ReasonOps.composeIncrement(closure, inc))
    got shouldBe qset(ReasonOps.owlRlClosure(
      (base ++ delta).toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox)))
    got should contain (("c1", "a", "HasOrder", "g1"))
    got.filter(t => t._3 == "HasOrder").map(_._4) shouldBe Set("g1")
  }

  it should "run encoded and fail fast on restriction declarations in the delta" in {
    // ids: placed=1 a=2 Order=3 HasOrder=4 sc=5 onProp=10 svf=11
    val tbox = Seq((4L, 10L, 1L), (4L, 11L, 3L)).toDF("s", "p", "o")
    val base = Seq((4L, 10L, 1L), (4L, 11L, 3L), (200L, 2L, 3L))
    val delta = Seq((100L, 1L, 200L))
    val ids = ReasonOps.RlIds(
      rdfs = ReasonOps.RdfsIds(subClassOf = 5L, subPropertyOf = 6L,
        domain = 7L, range = 8L, typePred = 2L),
      onProperty = 10L, someValuesFrom = 11L, allValuesFrom = 12L,
      hasValue = 13L)
    val closure = ReasonOps.owlRlClosure(
      base.toDF("s", "p", "o"), Corpus.encoded(ids))
    val inc = ReasonOps.owlRlDelta(closure,
      delta.toDF("s", "p", "o"), tbox, Corpus.encoded(ids))
    val got = ReasonOps.composeIncrement(closure, inc).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe ReasonOps.owlRlClosure(
      (base ++ delta).toDF("s", "p", "o"), Corpus.encoded(ids)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got should contain ((100L, 2L, 4L))
    (the[IllegalArgumentException] thrownBy
      ReasonOps.owlRlDelta(closure,
        Seq((9L, 10L, 1L)).toDF("s", "p", "o"), tbox, Corpus.encoded(ids)).count())
      .getMessage should include ("re-materialization")
  }

  "ReasonOps.owlRlMaintainStream" should "equal the batch closure across micro-batches" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tboxRows = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("Gold", OnProperty, "status"),
      ("Gold", HasValue, "gold"))
    val tbox = tboxRows.toDF("s", "p", "o")
    val base = tboxRows ++ Seq(("o1", "a", "Order"))
    val m = ReasonOps.owlRlMaintainStream(
      ReasonOps.owlRlClosure(base.toDF("s", "p", "o")), tbox)
    val src = MemoryStream[(String, String, String)]
    val q = m.attach(src.toDF().toDF("s", "p", "o"))
    try {
      src.addData(("c1", "placed", "o1"))
      q.processAllAvailable()
      src.addData(("c1", "status", "gold")) // second batch, second rule
      q.processAllAvailable()
    } finally q.stop()
    val full = ReasonOps.owlRlClosure((base ++ Seq(
      ("c1", "placed", "o1"), ("c1", "status", "gold")))
      .toDF("s", "p", "o"))
    tset(m.current) shouldBe tset(full)
    tset(m.current) should contain allOf
      (("c1", "a", "HasOrder"), ("c1", "a", "Gold"))
  }


  "ReasonOps.owlFullClosure" should "reach the joint property+class fixpoint" in {
    // class -> property: HQ members get a located edge (hv1) under a
    // TRANSITIVE property, so the next property phase extends it;
    // property -> class: only the transitive closure reaches 'world',
    // so the svf membership needs the property phase first
    val g = Seq(
      ("located", "a", ReasonOps.TransitiveProperty),
      ("world", "a", "Place"),
      ("Reaches", OnProperty, "located"),
      ("Reaches", SomeValuesFrom, "Place"),
      ("HQ", OnProperty, "located"),
      ("HQ", HasValue, "zone"),
      ("zone", "located", "region"), ("region", "located", "world"),
      ("acme", "a", "HQ")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlFullClosure(g))
    // hv1 emitted acme->zone, transitivity extended it to world,
    // svf then typed acme through the EXTENDED edge
    got should contain allOf (
      ("acme", "located", "zone"),
      ("acme", "located", "world"),
      ("acme", "a", "Reaches"),
      ("zone", "a", "Reaches"))
    ReasonOps.lastFullRounds.get() should be >= 3L
  }

  it should "be idempotent and equal the composed closures when families do not feed" in {
    val g = Seq(
      ("next", "a", ReasonOps.TransitiveProperty),
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("n1", "next", "n2"), ("n2", "next", "n3"),
      ("c1", "placed", "o1"), ("o1", "a", "Order")
    ).toDF("s", "p", "o")
    val full = tset(ReasonOps.owlFullClosure(g))
    full shouldBe tset(ReasonOps.owlRlClosure(ReasonOps.owlClosure(g)))
    ReasonOps.lastFullRounds.get() shouldBe 2L // second round confirms
  }

  it should "run per graph on quads and encoded" in {
    val tbox = Seq(
      ("located", "a", ReasonOps.TransitiveProperty),
      ("Reaches", OnProperty, "located"),
      ("Reaches", SomeValuesFrom, "Place")).toDF("s", "p", "o")
    val q = Seq(
      ("world", "a", "Place", "g1"),
      ("a1", "located", "b1", "g1"), ("b1", "located", "world", "g1"),
      ("a2", "located", "b2", "g2"), ("b2", "located", "world", "g2")
      // g2 has no Place typing: no Reaches membership there
    ).toDF("s", "p", "o", "g")
    val got = qset(ReasonOps.owlFullClosure(q, Corpus.Quads, Some(tbox)))
    got should contain allOf (
      ("a1", "located", "world", "g1"),
      ("a1", "a", "Reaches", "g1"),
      ("a2", "located", "world", "g2"))
    got.filter(t => t._3 == "Reaches").map(_._4) shouldBe Set("g1")

    // encoded: located=1 a=2 Place=3 Reaches=4 trans-prop=92 world=300
    val enc = Seq(
      (1L, 2L, 92L), (300L, 2L, 3L), (4L, 10L, 1L), (4L, 11L, 3L),
      (100L, 1L, 200L), (200L, 1L, 300L)
    ).toDF("s", "p", "o")
    val owlIds = ReasonOps.OwlIds(inverseOf = 90L,
      symmetricProperty = 91L, transitiveProperty = 92L, typePred = 2L)
    val rlIds = ReasonOps.RlIds(
      rdfs = ReasonOps.RdfsIds(subClassOf = 5L, subPropertyOf = 6L,
        domain = 7L, range = 8L, typePred = 2L),
      onProperty = 10L, someValuesFrom = 11L, allValuesFrom = 12L,
      hasValue = 13L)
    val gotE = ReasonOps.owlFullClosure(enc, Corpus.encoded((owlIds, rlIds)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    gotE should contain allOf ((100L, 1L, 300L), (100L, 2L, 4L))
  }

  "ReasonOps.owlRlClosure oneOf" should "type the enumerated individuals (cls-oo)" in {
    import graft.ops.ReasonOps.{OneOf => OO}
    val g = (Seq(
      ("Tier", OO, "_:t0"),
      ("_:t0", RdfFirst, "tier:g"), ("_:t0", RdfRest, "_:t1"),
      ("_:t1", RdfFirst, "tier:s"), ("_:t1", RdfRest, RdfNil),
      ("Tier", ReasonOps.SubClassOf, "Level"),
      // an svf whose filler is the enumerated class: the static
      // memberships must feed the restriction premise
      ("HasTier", OnProperty, "grade"),
      ("HasTier", SomeValuesFrom, "Tier"),
      ("x", "grade", "tier:g"))).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (
      ("tier:g", "a", "Tier"), ("tier:s", "a", "Tier"), // cls-oo
      ("tier:g", "a", "Level"),                          // up subClassOf
      ("x", "a", "HasTier"))       // svf through the cls-oo membership
    // delta guard: an owl:oneOf axiom arriving in a batch is schema
    val closure = ReasonOps.owlRlClosure(g)
    (the[IllegalArgumentException] thrownBy
      ReasonOps.owlRlDelta(closure,
        Seq(("Other", OO, "_:z")).toDF("s", "p", "o"), g).count())
      .getMessage should include ("re-materialization")
  }

  "ReasonOps.owlRlEntailed" should "equal the materialized RL closure and stay lazy on acyclic schemas" in {
    val g = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("HasOrder", ReasonOps.SubClassOf, "Active"),
      ("Buyer", ReasonOps.SubClassOf, "AllPurch"),
      ("AllPurch", OnProperty, "placed"),
      ("AllPurch", AllValuesFrom, "Purchase"),
      ("PurchBuyer", OnProperty, "placed"),
      ("PurchBuyer", SomeValuesFrom, "Purchase"),
      ("Gold", OnProperty, "status"),
      ("Gold", HasValue, "gold"),
      ("c1", "placed", "o1"), ("o1", "a", "Order"),
      ("c1", "a", "Buyer"),
      ("c2", "status", "gold")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlEntailed(g))
    // 4 rules × 5 passes outgrow the lazy plan-tree budget: the
    // documented materialized fallback runs (over the full schema)
    ReasonOps.lastRlEntailedPasses.get() shouldBe -1L
    got shouldBe tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (
      ("c1", "a", "Active"),      // svf + subclass
      ("o1", "a", "Purchase"),    // avf through Buyer membership
      ("c1", "a", "PurchBuyer"),  // nested svf (needs the avf feed)
      ("c2", "a", "Gold"))        // hv2
  }

  it should "prune to the observable rules and run the others zero times" in {
    val g = Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("HasOrder", ReasonOps.SubClassOf, "Active"),
      ("Gold", OnProperty, "status"),
      ("Gold", HasValue, "gold"),
      ("Vip", ReasonOps.SubClassOf, "Gold"),
      ("c1", "placed", "o1"), ("o1", "a", "Order"),
      ("c2", "status", "gold"),
      ("c3", "a", "Vip")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlEntailed(g,
      patternConsts = Seq[Any]("Active")))
    // only the svf rule survives pruning (one rule, one pass)
    ReasonOps.lastRlEntailedRules.get() shouldBe 1L
    ReasonOps.lastRlEntailedPasses.get() shouldBe 1L
    // exact for the mentioned constant ...
    got should contain (("c1", "a", "Active"))
    // ... rdfs facts still flow (Vip ⊑ Gold is hierarchy, not a rule)
    got should contain (("c3", "a", "Gold"))
    // ... and the PRUNED hv2 rule ran zero passes: no status-derived
    // Gold membership (the documented under-derivation price)
    got should not contain (("c2", "a", "Gold"))
  }

  it should "fall back to the counted fixpoint on recursive schemas" in {
    // R ⊑ ∀p.R: membership propagates along p-paths — depth is
    // data-dependent, no static pass plan is sound
    val g = Seq(
      ("R", OnProperty, "p"), ("R", AllValuesFrom, "R"),
      ("x0", "a", "R"),
      ("x0", "p", "x1"), ("x1", "p", "x2"), ("x2", "p", "x3")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlEntailed(g))
    ReasonOps.lastRlEntailedPasses.get() shouldBe -1L // materialized
    ReasonOps.lastRlEntailedVerified.get() shouldBe false
    got shouldBe tset(ReasonOps.owlRlClosure(g))
    got should contain (("x3", "a", "R"))
  }

  it should "return a PROVED bounded unrolling when recursive data is shallow" in {
    // same recursive schema (R ⊑ ∀p.R — no static pass plan), but the
    // DATA settles in one hop: the budgeted unrolling runs kv = 1 lazy
    // pass, the one-action under-derivation check proves pass 2 adds
    // nothing, and the lazy composition returns verified-exact instead
    // of the counted materialized fallback
    val g = Seq(
      ("R", OnProperty, "p"), ("R", AllValuesFrom, "R"),
      ("x0", "a", "R"),
      ("x0", "p", "x1"), ("x0", "p", "x2"),
      ("x9", "p", "x0") // non-member source: must derive nothing
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlEntailed(g))
    ReasonOps.lastRlEntailedPasses.get() shouldBe 1L
    ReasonOps.lastRlEntailedVerified.get() shouldBe true
    got shouldBe tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (("x1", "a", "R"), ("x2", "a", "R"))
    got should not contain (("x9", "a", "R"))
  }

  "ReasonOps.owlFullEntailed" should "compose the lazy joint closure and prune unobservable rules" in {
    import ReasonOps._
    // within is transitive; Reachy = ∃within.Hub consumes its CLOSURE
    // (a Reachy member two hops from its Hub needs the squared slice);
    // the hv rule (Gold) and its data are noise the pruning must drop
    val g = Seq(
      ("within", "a", TransitiveProperty),
      ("Reachy", OnProperty, "within"),
      ("Reachy", SomeValuesFrom, "Hub"),
      ("Gold", OnProperty, "badge"), ("Gold", HasValue, "gold"),
      ("a1", "within", "b1"), ("b1", "within", "c1"),
      ("c1", "a", "Hub"),
      ("g1", "a", "Gold"), ("x1", "badge", "gold")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlFullEntailed(g,
      patternPreds = Seq[Any]("within"),
      patternConsts = Seq[Any]("Reachy")))
    // lazy path: one kept rule (the svf), static one-pass plan
    ReasonOps.lastFullEntailedRules.get() shouldBe 1L
    ReasonOps.lastFullEntailedPasses.get() shouldBe 1L
    // exact for the mentioned constants — including the CROSS-FAMILY
    // feed (a1's Hub is reachable only through the transitive closure)
    got should contain allOf (
      ("a1", "within", "c1"),
      ("a1", "a", "Reachy"), ("b1", "a", "Reachy"))
    // parity with the materialized joint closure on the observable part
    val full = tset(ReasonOps.owlFullClosure(g))
    got.filter(r => r._2 == "within" || r._3 == "Reachy") shouldBe
      full.filter(r => r._2 == "within" || r._3 == "Reachy")
    // the pruned hv rule ran ZERO passes: neither its emitted edge nor
    // its typing appears (the documented under-derivation price)
    got should not contain (("g1", "badge", "gold"))
    got should not contain (("x1", "a", "Gold"))
    // property-only pruning: a query touching no class constant keeps
    // no class rule at all (passes == 0), edges still exact
    val edges = tset(ReasonOps.owlFullEntailed(g,
      patternPreds = Seq[Any]("within")))
    ReasonOps.lastFullEntailedPasses.get() shouldBe 0L
    edges.filter(_._2 == "within") shouldBe full.filter(_._2 == "within")
  }

  it should "fall back to the counted joint closure when the class family emits edges" in {
    import ReasonOps._
    // the hv rule EMITS a located-edge that must extend the transitive
    // spine (class -> property feedback) — joint-recursive in general,
    // so mentioning Gold forces the counted owlFullClosure fallback
    val g = Seq(
      ("located", "a", TransitiveProperty),
      ("Gold", OnProperty, "located"), ("Gold", HasValue, "zone"),
      ("Reaches", OnProperty, "located"),
      ("Reaches", SomeValuesFrom, "World"),
      ("zone", "located", "world"), ("world", "a", "World"),
      ("acme", "a", "Gold")
    ).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlFullEntailed(g,
      patternConsts = Seq[Any]("Gold", "Reaches"),
      patternPreds = Seq[Any]("located")))
    ReasonOps.lastFullEntailedPasses.get() shouldBe -1L
    got shouldBe tset(ReasonOps.owlFullClosure(g))
    // the full feedback chain landed: hv emitted acme->zone, the
    // transitive closure extended it to world, the svf typed acme
    got should contain allOf (
      ("acme", "located", "zone"),
      ("acme", "located", "world"),
      ("acme", "a", "Reaches"))
  }

  "ReasonOps.owlFullDelta" should "maintain the joint closure across families" in {
    // base: transitive located spine + svf/hv TBox, but acme's HQ
    // membership has NOT arrived: no hv edge, no Reaches typing yet.
    // Δ = the HQ membership alone — the increment must run
    // class -> property -> class: hv1 emits acme->zone, transitivity
    // extends it through the EXISTING spine to world, svf types acme.
    val tbox = Seq(
      ("located", "a", ReasonOps.TransitiveProperty),
      ("Reaches", OnProperty, "located"),
      ("Reaches", SomeValuesFrom, "Place"),
      ("HQ", OnProperty, "located"),
      ("HQ", HasValue, "zone"))
    val base = tbox ++ Seq(
      ("world", "a", "Place"),
      ("zone", "located", "region"), ("region", "located", "world"))
    val delta = Seq(("acme", "a", "HQ"))
    val tboxDf = tbox.toDF("s", "p", "o")
    val closure = ReasonOps.owlFullClosure(base.toDF("s", "p", "o"))
    val inc = ReasonOps.owlFullDelta(closure, delta.toDF("s", "p", "o"),
      tboxDf)
    val got = tset(ReasonOps.composeIncrement(closure, inc))
    got shouldBe tset(ReasonOps.owlFullClosure(
      (base ++ delta).toDF("s", "p", "o")))
    got should contain allOf (
      ("acme", "located", "zone"),
      ("acme", "located", "world"),
      ("acme", "a", "Reaches"))
    // and the reverse feed: a Δ EDGE of the transitive property reaches
    // world through the property phase, then types through svf
    val delta2 = Seq(("plant", "located", "zone"))
    val inc2 = ReasonOps.owlFullDelta(closure,
      delta2.toDF("s", "p", "o"), tboxDf)
    val got2 = tset(ReasonOps.composeIncrement(closure, inc2))
    got2 shouldBe tset(ReasonOps.owlFullClosure(
      (base ++ delta2).toDF("s", "p", "o")))
    got2 should contain allOf (
      ("plant", "located", "world"), ("plant", "a", "Reaches"))
  }

  it should "maintain per graph on the quad path and fail fast on declarations" in {
    val tbox = Seq(
      ("located", "a", ReasonOps.TransitiveProperty),
      ("Reaches", OnProperty, "located"),
      ("Reaches", SomeValuesFrom, "Place")).toDF("s", "p", "o")
    val base = Seq(
      ("world", "a", "Place", "g1"), ("world", "a", "Place", "g2"),
      ("b1", "located", "world", "g1"), ("b2", "located", "world", "g2"))
    val delta = Seq(("a1", "located", "b1", "g1")) // g1 only
    val closure = ReasonOps.owlFullClosure(
      base.toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox))
    val inc = ReasonOps.owlFullDelta(closure,
      delta.toDF("s", "p", "o", "g"), tbox, Corpus.Quads)
    val got = qset(ReasonOps.composeIncrement(closure, inc))
    got shouldBe qset(ReasonOps.owlFullClosure(
      (base ++ delta).toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox)))
    got should contain allOf (
      ("a1", "located", "world", "g1"), ("a1", "a", "Reaches", "g1"))
    got should not contain (("a1", "a", "Reaches", "g2"))
    // a restriction declaration arriving in the batch fails loudly
    (the[IllegalArgumentException] thrownBy
      ReasonOps.owlFullDelta(closure,
        Seq(("New", OnProperty, "located", "g1"))
          .toDF("s", "p", "o", "g"), tbox, Corpus.Quads).count())
      .getMessage should include ("re-materialization")
  }

  "ReasonOps.owlFullMaintainStream" should "equal the batch joint closure across micro-batches" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tbox = Seq(
      ("located", "a", ReasonOps.TransitiveProperty),
      ("Reaches", OnProperty, "located"),
      ("Reaches", SomeValuesFrom, "Place"),
      ("HQ", OnProperty, "located"),
      ("HQ", HasValue, "zone"))
    val base = tbox ++ Seq(
      ("world", "a", "Place"),
      ("region", "located", "world"))
    val m = ReasonOps.owlFullMaintainStream(
      ReasonOps.owlFullClosure(base.toDF("s", "p", "o")),
      tbox.toDF("s", "p", "o"))
    val src = MemoryStream[(String, String, String)]
    val q = m.attach(src.toDF().toDF("s", "p", "o"))
    val b1 = Seq(("zone", "located", "region"))
    val b2 = Seq(("acme", "a", "HQ")) // hv edge composes with BATCH-1 spine
    try {
      src.addData(b1: _*)
      q.processAllAvailable()
      src.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = tset(m.current)
    got shouldBe tset(ReasonOps.owlFullClosure(
      (base ++ b1 ++ b2).toDF("s", "p", "o")))
    got should contain allOf (
      ("acme", "located", "world"), ("acme", "a", "Reaches"))
  }


  // ------------------------------------------------------------------
  // consistencyReport (OWL RL violation detection)
  // ------------------------------------------------------------------

  import graft.ops.ReasonOps.{DisjointWith, PropertyDisjointWith,
    IrreflexiveProperty, AsymmetricProperty, DifferentFrom}

  private def vset(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3))).toSet

  "ReasonOps.consistencyReport" should "detect every violation family exactly once" in {
    val g = Seq(
      ("Person", DisjointWith, "Company"),
      ("knows", "a", IrreflexiveProperty),
      ("parentOf", "a", AsymmetricProperty),
      ("email", "a", ReasonOps.FunctionalProperty),
      ("hates", PropertyDisjointWith, "loves"),
      // violations
      ("x1", "a", "Person"), ("x1", "a", "Company"),
      ("x2", "knows", "x2"),
      ("x3", "parentOf", "x4"), ("x4", "parentOf", "x3"),
      ("x5", "email", "a@x"), ("x5", "email", "b@x"),
      ("x6", "hates", "x7"), ("x6", "loves", "x7"),
      ("x8", DifferentFrom, "x8"),
      // clean rows
      ("y1", "a", "Person"), ("y2", "knows", "y3"),
      ("y4", "parentOf", "y5"), ("y6", "email", "one@x"),
      ("y7", DifferentFrom, "y8")
    ).toDF("s", "p", "o")
    val got = vset(ReasonOps.consistencyReport(g))
    got shouldBe Set(
      ("cax-dw", "x1", "Person", "Company"),
      ("prp-irp", "x2", "knows", "x2"),
      ("prp-asyp", "x3", "parentOf", "x4"),
      ("prp-asyp", "x4", "parentOf", "x3"),
      ("functional-conflict", "x5", "email", "a@x"),
      ("functional-conflict", "x5", "email", "b@x"),
      ("prp-pdw", "x6", "hates", "x7"),
      ("prp-pdw", "x6", "loves", "x7"),
      ("eq-diff1", "x8", DifferentFrom, "x8"))
  }

  it should "return empty on a consistent relation (the proof shape)" in {
    val g = Seq(
      ("Person", DisjointWith, "Company"),
      ("y1", "a", "Person"), ("y2", "a", "Company")
    ).toDF("s", "p", "o")
    ReasonOps.consistencyReport(g).isEmpty shouldBe true
    // no declarations at all: also empty, same schema
    val plain = Seq(("a", "b", "c")).toDF("s", "p", "o")
    val r = ReasonOps.consistencyReport(plain)
    r.columns.toSeq shouldBe Seq("kind", "s", "p", "o")
    r.isEmpty shouldBe true
  }

  it should "confine checks per graph on quads and run encoded" in {
    val tbox = Seq(("Person", DisjointWith, "Company"))
      .toDF("s", "p", "o")
    val q = Seq(
      ("x1", "a", "Person", "g1"), ("x1", "a", "Company", "g1"),
      ("x2", "a", "Person", "g1"), ("x2", "a", "Company", "g2")
    ).toDF("s", "p", "o", "g")
    val got = ReasonOps.consistencyReport(q, Corpus.Quads, Some(tbox)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(4))).toSet
    got shouldBe Set(("cax-dw", "x1", "g1"))

    // encoded: a=2 dw=20 Person=30 Company=31 fp=21 email=40
    val enc = Seq(
      (30L, 20L, 31L), (40L, 2L, 21L),
      (100L, 2L, 30L), (100L, 2L, 31L),
      (101L, 40L, 500L), (101L, 40L, 501L), (102L, 40L, 502L)
    ).toDF("s", "p", "o")
    val ids = ReasonOps.CheckIds(typePred = 2L,
      disjointWith = Some(20L), functionalProperty = Some(21L))
    val gotE = ReasonOps.consistencyReport(enc, Corpus.encoded(ids)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    gotE shouldBe Set(("cax-dw", 100L),
      ("functional-conflict", 101L))
  }

  it should "detect negative-assertion and n-ary property-disjointness violations" in {
    import graft.ops.ReasonOps._
    def rdfList(owner: String, pred: String, parts: Seq[String]) = {
      val nodes = parts.indices.map(i => s"_:$owner$i")
      (owner, pred, nodes.head) +: parts.indices.flatMap { i =>
        Seq((nodes(i), RdfFirst, parts(i)),
          (nodes(i), RdfRest,
            if (i == parts.length - 1) RdfNil else nodes(i + 1)))
      }
    }
    val g = (Seq(
      // prp-npa: x must NOT know y — but the corpus asserts it
      ("_:n1", SourceIndividual, "x"),
      ("_:n1", AssertionProperty, "knows"),
      ("_:n1", TargetIndividual, "y"),
      // targetValue variant, not violated
      ("_:n2", SourceIndividual, "x"),
      ("_:n2", AssertionProperty, "age"),
      ("_:n2", TargetValue, "99"),
      ("_:adp", "a", AllDisjointProperties),
      ("x", "knows", "y"), ("x", "knows", "z"),
      ("x", "age", "42"),
      // prp-adp: one pair under two of the three disjoint properties
      ("u", "hires", "v"), ("u", "fires", "v")) ++
      rdfList("_:adp", OwlMembers, Seq("hires", "fires", "rates")))
      .toDF("s", "p", "o")
    val got = vset(ReasonOps.consistencyReport(g))
    got shouldBe Set(
      ("prp-npa", "x", "knows", "y"),
      ("prp-adp", "u", "hires", "v"),
      ("prp-adp", "u", "fires", "v"))
    // delta: the batch completes both families against the corpus
    val base = (Seq(
      ("_:n1", SourceIndividual, "x"),
      ("_:n1", AssertionProperty, "knows"),
      ("_:n1", TargetIndividual, "y"),
      ("_:adp", "a", AllDisjointProperties),
      ("u", "hires", "v")) ++
      rdfList("_:adp", OwlMembers, Seq("hires", "fires")))
      .toDF("s", "p", "o")
    val delta = Seq(("x", "knows", "y"), ("u", "fires", "v"))
      .toDF("s", "p", "o")
    vset(ReasonOps.consistencyDelta(base, delta)) shouldBe Set(
      ("prp-npa", "x", "knows", "y"),
      ("prp-adp", "u", "hires", "v"),
      ("prp-adp", "u", "fires", "v"))
  }

  "ReasonOps.consistencyDelta" should "validate a batch at delta cost" in {
    import graft.ops.ReasonOps._
    val tbox = Seq(
      ("Person", DisjointWith, "Company"),
      ("parentCo", "a", AsymmetricProperty),
      ("email", "a", FunctionalProperty))
    val base = tbox ++ Seq(
      ("x1", "a", "Person"), ("x2", "a", "Person"),
      ("x1", "parentCo", "y1"),
      ("x1", "email", "m1"),
      // PRE-EXISTING violation the batch does not touch: must NOT
      // appear in the batch report (already in consistencyReport(base))
      ("z1", "a", "Person"), ("z1", "a", "Company"))
    val delta = Seq(
      ("x1", "a", "Company"),       // completes cax-dw for x1
      ("y1", "parentCo", "x1"),     // completes prp-asyp both ways
      ("x1", "email", "m2"))        // functional group now conflicts
    val got = vset(ReasonOps.consistencyDelta(
      base.toDF("s", "p", "o"), delta.toDF("s", "p", "o")))
    got shouldBe Set(
      ("cax-dw", "x1", "Person", "Company"),
      ("prp-asyp", "x1", "parentCo", "y1"),
      ("prp-asyp", "y1", "parentCo", "x1"),
      ("functional-conflict", "x1", "email", "m1"),
      ("functional-conflict", "x1", "email", "m2"))
    // a replayed batch (rows already present) validates clean
    ReasonOps.consistencyDelta(base.toDF("s", "p", "o"),
      Seq(("x1", "a", "Person")).toDF("s", "p", "o")).isEmpty shouldBe true
    // declarations arriving in the batch fail fast
    (the[IllegalArgumentException] thrownBy ReasonOps.consistencyDelta(
      base.toDF("s", "p", "o"),
      Seq(("A", DisjointWith, "B")).toDF("s", "p", "o")).count())
      .getMessage should include ("consistencyReport")
  }

  it should "catch a cls-maxqc violation completed by a newly-qualified VALUE" in {
    import graft.ops.ReasonOps._
    // the batch never touches the member m directly — it only types a
    // VALUE m already holds into the qualifying class, which makes
    // m's second edge start counting toward the bound; touched must
    // include holders of newly-qualified values or the violation is
    // silently dropped (the documented identity below breaks)
    val base = Seq(
      ("OneCar", OnProperty, "owns"), ("OneCar", OnClass, "Car"),
      ("OneCar", MaxQualifiedCardinality, "1"),
      ("m", "a", "OneCar"),
      ("m", "owns", "v1"), ("m", "owns", "v2"),
      ("v1", "a", "Car")).toDF("s", "p", "o")
    val delta = Seq(("v2", "a", "Car")).toDF("s", "p", "o")
    val got = vset(ReasonOps.consistencyDelta(base, delta))
    got shouldBe Set(
      ("cls-maxqc", "m", "owns", "v1"),
      ("cls-maxqc", "m", "owns", "v2"))
    // identity on a violation-free corpus:
    // consistencyDelta(c, d) == consistencyReport(c ∪ d)
    got shouldBe vset(ReasonOps.consistencyReport(base.unionAll(delta)))
    // and the quad form confines the qualification to its graph: the
    // v2 typing lands in g2, so m's g1 slice stays under the bound
    val baseQ = Seq(
      ("OneCar", OnProperty, "owns", "g1"),
      ("OneCar", OnClass, "Car", "g1"),
      ("OneCar", MaxQualifiedCardinality, "1", "g1"),
      ("m", "a", "OneCar", "g1"),
      ("m", "owns", "v1", "g1"), ("m", "owns", "v2", "g1"),
      ("v1", "a", "Car", "g1")).toDF("s", "p", "o", "g")
    val tbox = Seq(
      ("OneCar", OnProperty, "owns"), ("OneCar", OnClass, "Car"),
      ("OneCar", MaxQualifiedCardinality, "1")).toDF("s", "p", "o")
    ReasonOps.consistencyDelta(baseQ,
      Seq(("v2", "a", "Car", "g2")).toDF("s", "p", "o", "g"),
      Corpus.Quads, Some(tbox)).isEmpty shouldBe true
    ReasonOps.consistencyDelta(baseQ,
        Seq(("v2", "a", "Car", "g1")).toDF("s", "p", "o", "g"), Corpus.Quads, Some(tbox))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(4)))
      .toSet shouldBe Set(("cls-maxqc", "m", "g1"))
  }

  it should "confine batch checks per graph on quads" in {
    import graft.ops.ReasonOps._
    val tbox = Seq(("Person", DisjointWith, "Company"))
      .toDF("s", "p", "o")
    val base = Seq(("x1", "a", "Person", "g1"), ("x1", "a", "Person", "g2"))
    val delta = Seq(("x1", "a", "Company", "g1")) // g1 only
    val got = ReasonOps.consistencyDelta(
        base.toDF("s", "p", "o", "g"), delta.toDF("s", "p", "o", "g"),
        Corpus.Quads, Some(tbox)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(4))).toSet
    got shouldBe Set(("cax-dw", "x1", "g1"))
  }

  "ReasonOps.consistencyRetract" should "clear exactly the violations a deletion touches" in {
    import graft.ops.ReasonOps._
    val tbox = Seq(
      ("Person", DisjointWith, "Company"),
      ("parentCo", "a", AsymmetricProperty),
      ("email", "a", FunctionalProperty),
      ("Lim", OnProperty, "phone"), ("Lim", MaxCardinality, "1"))
    val abox = Seq(
      // cax-dw on two members; the batch deletes one side of x1's only
      ("x1", "a", "Person"), ("x1", "a", "Company"),
      ("z1", "a", "Person"), ("z1", "a", "Company"),
      // prp-asyp pair — the batch deletes the reverse edge
      ("u", "parentCo", "v"), ("v", "parentCo", "u"),
      // functional: x1 holds 3 emails (delete one → STILL conflicts on
      // the surviving two); y1 holds 2 (delete one → clears)
      ("x1", "email", "m1"), ("x1", "email", "m2"), ("x1", "email", "m3"),
      ("y1", "email", "n1"), ("y1", "email", "n2"),
      // cls-maxc: w over the bound-1 phone restriction → clears
      ("w", "a", "Lim"), ("w", "phone", "p1"), ("w", "phone", "p2"))
    val base = (tbox ++ abox).toDF("s", "p", "o")
    val rep = ReasonOps.consistencyReport(base).localCheckpoint(true)
    val dels = Seq(
      ("x1", "a", "Company"),
      ("v", "parentCo", "u"),
      ("x1", "email", "m3"),
      ("y1", "email", "n2"),
      ("w", "phone", "p2")).toDF("s", "p", "o")
    val got = ReasonOps.consistencyRetract(base, rep, dels)
    val expect = ReasonOps.consistencyReport(
      base.join(dels, Seq("s", "p", "o"), "left_anti"))
    vset(got) shouldBe vset(expect)
    // untouched z1 survives; x1's group still conflicts on the two
    // surviving emails; asyp/maxc/y1 cleared
    vset(got) should contain allOf (
      ("cax-dw", "z1", "Person", "Company"),
      ("functional-conflict", "x1", "email", "m1"),
      ("functional-conflict", "x1", "email", "m2"))
    vset(got).exists(_._1 == "prp-asyp") shouldBe false
    vset(got).exists(_._1 == "cls-maxc") shouldBe false
    vset(got).exists(_._2 == "y1") shouldBe false
  }

  it should "clear qualified-cardinality violations when a VALUE's qualifying typing is deleted" in {
    import graft.ops.ReasonOps._
    // the batch never touches the member m — deleting v2's Car typing
    // makes m's second edge stop counting toward the bound
    val base = Seq(
      ("OneCar", OnProperty, "owns"), ("OneCar", OnClass, "Car"),
      ("OneCar", MaxQualifiedCardinality, "1"),
      ("m", "a", "OneCar"),
      ("m", "owns", "v1"), ("m", "owns", "v2"),
      ("v1", "a", "Car"), ("v2", "a", "Car")).toDF("s", "p", "o")
    val rep = ReasonOps.consistencyReport(base).localCheckpoint(true)
    vset(rep) shouldBe Set(
      ("cls-maxqc", "m", "owns", "v1"),
      ("cls-maxqc", "m", "owns", "v2"))
    val dels = Seq(("v2", "a", "Car")).toDF("s", "p", "o")
    val got = ReasonOps.consistencyRetract(base, rep, dels)
    got.isEmpty shouldBe true
    vset(got) shouldBe vset(ReasonOps.consistencyReport(
      base.join(dels, Seq("s", "p", "o"), "left_anti")))
  }

  it should "strip single-premise violations row-for-row, confine to graphs, and guard schema deletions" in {
    import graft.ops.ReasonOps._
    val base = Seq(
      ("knows", "a", IrreflexiveProperty),
      ("x", "knows", "x"), ("y", "knows", "y"),
      ("a1", DifferentFrom, "a1")).toDF("s", "p", "o")
    val rep = ReasonOps.consistencyReport(base).localCheckpoint(true)
    val dels = Seq(("x", "knows", "x"), ("a1", DifferentFrom, "a1"))
      .toDF("s", "p", "o")
    val got = ReasonOps.consistencyRetract(base, rep, dels)
    vset(got) shouldBe Set(("prp-irp", "y", "knows", "y"))
    vset(got) shouldBe vset(ReasonOps.consistencyReport(
      base.join(dels, Seq("s", "p", "o"), "left_anti")))
    // quads: the same conflict in g1 and g2; deleting g1's side clears
    // only g1's violation
    val tbox = Seq(("Person", DisjointWith, "Company")).toDF("s", "p", "o")
    val baseQ = Seq(
      ("x1", "a", "Person", "g1"), ("x1", "a", "Company", "g1"),
      ("x1", "a", "Person", "g2"), ("x1", "a", "Company", "g2"))
      .toDF("s", "p", "o", "g")
    val repQ = ReasonOps.consistencyReport(baseQ, Corpus.Quads, Some(tbox))
      .localCheckpoint(true)
    val gotQ = ReasonOps.consistencyRetract(baseQ,
      repQ, Seq(("x1", "a", "Company", "g1")).toDF("s", "p", "o", "g"),
      Corpus.Quads, Some(tbox))
    gotQ.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(4))).toSet shouldBe Set(("cax-dw", "x1", "g2"))
    // schema deletions fail fast
    (the[IllegalArgumentException] thrownBy ReasonOps.consistencyRetract(
      base, rep,
      Seq(("knows", "a", IrreflexiveProperty)).toDF("s", "p", "o"))
      .count()).getMessage should include ("consistencyReport")
  }

  it should "detect the cardinality, enumeration, complement, and n-ary families" in {
    import graft.ops.ReasonOps._
    def rdfList(owner: String, pred: String, parts: Seq[String]) = {
      val nodes = parts.indices.map(i => s"_:$owner$i")
      (owner, pred, nodes.head) +: parts.indices.flatMap { i =>
        Seq((nodes(i), RdfFirst, parts(i)),
          (nodes(i), RdfRest,
            if (i == parts.length - 1) RdfNil else nodes(i + 1)))
      }
    }
    val tbox = Seq(
      // maxCardinality 1 on phone for Limited members
      ("Lim", OnProperty, "phone"), ("Lim", MaxCardinality, "1"),
      // maxQualifiedCardinality 1 on owns, qualified to Car
      ("OneCar", OnProperty, "owns"), ("OneCar", OnClass, "Car"),
      ("OneCar", MaxQualifiedCardinality, "1"),
      // complement
      ("Person", ComplementOf, "Robot"),
      // AllDisjointClasses (Bronze Silver Gold)
      ("_:adc", "a", AllDisjointClasses),
      // AllDifferent with a duplicated member
      ("_:adf", "a", AllDifferent)) ++
      rdfList("_:adc", OwlMembers, Seq("Bronze", "Silver", "Gold")) ++
      rdfList("_:adf", OwlMembers, Seq("alpha", "beta", "alpha")) ++
      rdfList("Tier", OneOf, Seq("tier:g", "tier:s"))
    val abox = Seq(
      // x1 exceeds maxCardinality (2 phones); x2 within bound
      ("x1", "a", "Lim"), ("x1", "phone", "p1"), ("x1", "phone", "p2"),
      ("x2", "a", "Lim"), ("x2", "phone", "p3"),
      // x3 owns two CARS (violation); x4 owns one car + one boat
      // (boat not typed Car -> within the QUALIFIED bound)
      ("x3", "a", "OneCar"), ("x3", "owns", "c1"), ("x3", "owns", "c2"),
      ("c1", "a", "Car"), ("c2", "a", "Car"),
      ("x4", "a", "OneCar"), ("x4", "owns", "c3"), ("x4", "owns", "b1"),
      ("c3", "a", "Car"),
      // enumeration: listed members fine, badge:x outside it
      ("tier:g", "a", "Tier"), ("badge:x", "a", "Tier"),
      // complement: x5 in both
      ("x5", "a", "Person"), ("x5", "a", "Robot"),
      // n-ary disjointness: x6 in Bronze AND Gold
      ("x6", "a", "Bronze"), ("x6", "a", "Gold"))
    val got = vset(ReasonOps.consistencyReport(
      (tbox ++ abox).toDF("s", "p", "o")))
    got shouldBe Set(
      ("cls-maxc", "x1", "phone", "p1"),
      ("cls-maxc", "x1", "phone", "p2"),
      ("cls-maxqc", "x3", "owns", "c1"),
      ("cls-maxqc", "x3", "owns", "c2"),
      ("cls-oo", "badge:x", "Tier", "Tier"),
      ("cls-com", "x5", "Person", "Robot"),
      ("cax-adc", "x6", "Bronze", "Gold"),
      ("eq-diff2", "alpha", "_:adf", "alpha"))
    // a maxCardinality 0 restriction flags ANY edge; bounds beyond
    // OWL RL's 0/1 fail loudly
    val z = Seq(
      ("NoPhone", OnProperty, "phone"), ("NoPhone", MaxCardinality, "0"),
      ("y", "a", "NoPhone"), ("y", "phone", "p9")).toDF("s", "p", "o")
    vset(ReasonOps.consistencyReport(z)) shouldBe
      Set(("cls-maxc", "y", "phone", "p9"))
    (the[IllegalArgumentException] thrownBy ReasonOps.consistencyReport(
      Seq(("R", OnProperty, "q"), ("R", MaxCardinality, "3"))
        .toDF("s", "p", "o")).count())
      .getMessage should include ("0 or 1")
  }


  // ------------------------------------------------------------------
  // owl:hasKey (prp-key) composite-key entity resolution
  // ------------------------------------------------------------------

  import graft.ops.ReasonOps.{HasKey}

  private def keyAxiom(cls: String, props: Seq[String]): Seq[(String, String, String)] = {
    val nodes = props.indices.map(i => s"_:k$cls$i")
    (cls, HasKey, nodes.head) +: props.indices.flatMap { i =>
      Seq((nodes(i), RdfFirst, props(i)),
        (nodes(i), RdfRest,
          if (i == props.length - 1) RdfNil else nodes(i + 1)))
    }
  }

  "ReasonOps.hasKeyIdentityPairs" should "derive star pairs per full key-tuple collision" in {
    val g = (keyAxiom("Cust", Seq("city", "code")) ++ Seq(
      ("c1", "a", "Cust"), ("c1", "city", "rome"), ("c1", "code", "77"),
      ("c2", "a", "Cust"), ("c2", "city", "rome"), ("c2", "code", "77"),
      ("c3", "a", "Cust"), ("c3", "city", "rome"), ("c3", "code", "78"),
      ("c4", "city", "rome"), ("c4", "code", "77"), // NOT a member
      ("c5", "a", "Cust"), ("c5", "city", "rome") // incomplete tuple
    )).toDF("s", "p", "o")
    val got = ReasonOps.hasKeyIdentityPairs(g).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    got shouldBe Set(("c1", "c2")) // only the full-tuple member pair
  }

  it should "match every combination under multi-valued key properties" in {
    val g = (keyAxiom("Cust", Seq("email")) ++ Seq(
      ("c1", "a", "Cust"), ("c1", "email", "a@x"), ("c1", "email", "b@x"),
      ("c2", "a", "Cust"), ("c2", "email", "b@x"),
      ("c3", "a", "Cust"), ("c3", "email", "c@x")
    )).toDF("s", "p", "o")
    ReasonOps.hasKeyIdentityPairs(g).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("c1", "c2"))
  }

  "ReasonOps.functionalCanonicalize with hasKey" should "cascade a functional merge into a key merge" in {
    import graft.ops.ReasonOps.InverseFunctionalProperty
    // round 1: y1/y2 merge on the inverse-functional ssn; the merged
    // entity now carries BOTH city values... no: key tuple completes —
    // y2 holds the city, y1 holds the code; post-merge the canonical
    // entity has the full (city, code) tuple colliding with z
    val g = (keyAxiom("Cust", Seq("city", "code")) ++ Seq(
      ("ssn", "a", InverseFunctionalProperty),
      ("y1", "ssn", "s-9"), ("y2", "ssn", "s-9"),
      ("y1", "a", "Cust"), ("y2", "a", "Cust"),
      ("y1", "code", "77"), ("y2", "city", "rome"),
      ("z", "a", "Cust"), ("z", "city", "rome"), ("z", "code", "77")
    )).toDF("s", "p", "o")
    val (rw, mapping) = ReasonOps.functionalCanonicalize(g)
    val mp = mapping.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // all three collapse to one canonical entity
    mp("y1") shouldBe mp("y2")
    mp("y2") shouldBe mp("z")
    ReasonOps.lastFunctionalRounds.get() should be >= 2L
    // the rewritten corpus carries ONE canonical (city, code) tuple
    tset(rw).filter(t => t._2 == "code") shouldBe
      Set((mp("z"), "code", "77"))
  }

  it should "maintain hasKey collisions assembling ACROSS batches in functionalDelta" in {
    // base: both customers are members and share the city, but only c1
    // has its code — no collision at the base fixpoint. The delta
    // brings c2's code: the (city, code) tuple completes ACROSS the
    // batch boundary and the incremental path must find the partner
    // (c1) via the first-key value-mates, landing on exactly the
    // re-canonicalization state.
    val base = keyAxiom("Cust", Seq("city", "code")) ++ Seq(
      ("c1", "a", "Cust"), ("c1", "city", "rome"), ("c1", "code", "77"),
      ("c2", "a", "Cust"), ("c2", "city", "rome"),
      ("c1", "name", "alpha"), ("c2", "name", "beta"))
    val delta = Seq(("c2", "code", "77"))
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base.toDF("s", "p", "o"))
    tset(rw0) should contain allOf (("c2", "a", "Cust"), ("c2", "name", "beta"))
    val (rw, mp) = ReasonOps.functionalDelta(rw0, mp0,
      delta.toDF("s", "p", "o"))
    val (rwF, mpF) = ReasonOps.functionalCanonicalize(
      (base ++ delta).toDF("s", "p", "o"))
    tset(rw) shouldBe tset(rwF)
    pset(mp) shouldBe pset(mpF)
    tset(rw) should contain (("c1", "name", "beta")) // c2 folded onto c1
  }

  it should "cascade a hasKey merge into a functional collision in the delta path" in {
    // the delta completes d2's key tuple -> d2 merges onto d1; the
    // merged subject now holds TWO values of the functional acct
    // property, so round 2 must merge the accounts and fold the
    // payload — the cross-rule cascade on the incremental path
    val base = keyAxiom("Cust", Seq("city", "code")) ++ Seq(
      ("acct", "a", ReasonOps.FunctionalProperty),
      ("d1", "a", "Cust"), ("d1", "city", "oslo"), ("d1", "code", "9"),
      ("d2", "a", "Cust"), ("d2", "city", "oslo"),
      ("d1", "acct", "a1"), ("d2", "acct", "a2"),
      ("a1", "bal", "100"), ("a2", "bal", "100"))
    val delta = Seq(("d2", "code", "9"))
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base.toDF("s", "p", "o"))
    val (rw, mp) = ReasonOps.functionalDelta(rw0, mp0,
      delta.toDF("s", "p", "o"))
    val (rwF, mpF) = ReasonOps.functionalCanonicalize(
      (base ++ delta).toDF("s", "p", "o"))
    tset(rw) shouldBe tset(rwF)
    pset(mp) shouldBe pset(mpF)
    tset(rw) should contain (("d1", "acct", "a1"))
    tset(rw) should not contain (("d1", "acct", "a2"))
    ReasonOps.lastFunctionalRounds.get() should be >= 2L
  }

  it should "fail fast on a hasKey axiom (or key-list cell) arriving in the delta" in {
    val base = keyAxiom("Cust", Seq("city")) ++ Seq(
      ("c1", "a", "Cust"), ("c1", "city", "rome"))
    val (rw, mp) = ReasonOps.functionalCanonicalize(base.toDF("s", "p", "o"))
    (the[IllegalArgumentException] thrownBy
      ReasonOps.functionalDelta(rw, mp,
        Seq(("Firm", HasKey, "_:z")).toDF("s", "p", "o"))._1.count())
      .getMessage should include ("owl:hasKey")
    (the[IllegalArgumentException] thrownBy
      ReasonOps.functionalDelta(rw, mp,
        Seq(("_:z", RdfFirst, "vat")).toDF("s", "p", "o"))._1.count())
      .getMessage should include ("list cells")
  }

  "ReasonOps.cardinalityIdentityPairs" should "merge values under max-cardinality-one restrictions" in {
    import graft.ops.ReasonOps._
    val g = Seq(
      ("OneAcct", OnProperty, "acct"), ("OneAcct", MaxCardinality, "1"),
      ("OneCar", OnProperty, "owns"), ("OneCar", OnClass, "Car"),
      ("OneCar", MaxQualifiedCardinality, "1"),
      // cls-maxc2: both accts of a member force equal
      ("x1", "a", "OneAcct"), ("x1", "acct", "a1"), ("x1", "acct", "a2"),
      // NON-member with two accts: no merge
      ("x2", "acct", "b1"), ("x2", "acct", "b2"),
      // cls-maxqc3: only Car-typed values merge — the pet never does
      ("x3", "a", "OneCar"), ("x3", "owns", "c1"), ("x3", "owns", "c2"),
      ("x3", "owns", "pet1"),
      ("c1", "a", "Car"), ("c2", "a", "Car")
    ).toDF("s", "p", "o")
    pset(ReasonOps.cardinalityIdentityPairs(g)) shouldBe
      Set(("a1", "a2"), ("c1", "c2"))
    // bound 0 never merges (violation family, not identity)
    val z = Seq(
      ("NoAcct", OnProperty, "acct"), ("NoAcct", MaxCardinality, "0"),
      ("y", "a", "NoAcct"), ("y", "acct", "a1"), ("y", "acct", "a2")
    ).toDF("s", "p", "o")
    ReasonOps.cardinalityIdentityPairs(z).isEmpty shouldBe true
    // encoded: bounds resolve through literalZero/literalOne ids
    val enc = Seq(
      (50L, 10L, 40L), (50L, 20L, 71L), // OneAcct onProperty acct, maxc "1"
      (100L, 2L, 50L), (100L, 40L, 500L), (100L, 40L, 501L)
    ).toDF("s", "p", "o")
    val ids = ReasonOps.CheckIds(typePred = 2L,
      maxCardinality = Some(20L), onProperty = Some(10L),
      literalZero = Some(70L), literalOne = Some(71L))
    ReasonOps.cardinalityIdentityPairs(enc, Corpus.encoded(ids)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((500L, 501L))
  }

  it should "participate in the functionalCanonicalize fixpoint with an ifp cascade" in {
    import graft.ops.ReasonOps._
    // dup shares c1's inverse-functional email (round-1 merge); the
    // merged subject then holds TWO values of the maxCardinality-1
    // acct — a cardinality collision only VISIBLE after the merge
    // (round-2 cascade), folding the payload onto the canonical value
    val g = Seq(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("OneAcct", OnProperty, "acct"), ("OneAcct", MaxCardinality, "1"),
      ("c1", "a", "OneAcct"), ("dup", "a", "OneAcct"),
      ("c1", "email", "m1"), ("dup", "email", "m1"),
      ("c1", "acct", "a1"), ("dup", "acct", "a2"),
      ("a1", "bal", "100"), ("a2", "bal", "100")
    ).toDF("s", "p", "o")
    val (rw, mp) = ReasonOps.functionalCanonicalize(g)
    tset(rw) should contain (("c1", "acct", "a1"))
    tset(rw) should not contain (("c1", "acct", "a2"))
    tset(rw) should contain (("a1", "bal", "100"))
    pset(mp) should contain allOf (("dup", "c1"), ("a2", "a1"))
    ReasonOps.lastFunctionalRounds.get() should be >= 2L
    // and the O(Δ) twin lands on the same state when the dup's acct
    // arrives as a batch
    val base = g.where(!(col("s") === "dup" && col("p") === "acct"))
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base)
    val (rw2, mp2) = ReasonOps.functionalDelta(rw0, mp0,
      Seq(("dup", "acct", "a2")).toDF("s", "p", "o"))
    tset(rw2) shouldBe tset(rw)
    pset(mp2) shouldBe pset(mp)
  }

  it should "respect qualification in the delta path" in {
    import graft.ops.ReasonOps._
    // maxQualifiedCardinality 1 on owns, qualified to Car: the batch
    // brings a second OWNED value — typed Car for q1 (merge), untyped
    // for q2 (no merge)
    val base = Seq(
      ("OneCar", OnProperty, "owns"), ("OneCar", OnClass, "Car"),
      ("OneCar", MaxQualifiedCardinality, "1"),
      ("q1", "a", "OneCar"), ("q1", "owns", "k1"), ("k1", "a", "Car"),
      ("q2", "a", "OneCar"), ("q2", "owns", "k3"), ("k3", "a", "Car"),
      ("k2", "a", "Car")
    ).toDF("s", "p", "o")
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base)
    val delta = Seq(("q1", "owns", "k2"), ("q2", "owns", "boat"))
      .toDF("s", "p", "o")
    val (rw2, mp2) = ReasonOps.functionalDelta(rw0, mp0, delta)
    val (rwF, mpF) = ReasonOps.functionalCanonicalize(
      base.unionAll(delta))
    tset(rw2) shouldBe tset(rwF)
    pset(mp2) shouldBe pset(mpF)
    pset(mp2) should contain (("k2", "k1"))         // qualified merge
    tset(rw2) should contain (("q2", "owns", "boat")) // untyped intact
    // a cardinality axiom arriving in the batch fails fast
    (the[IllegalArgumentException] thrownBy ReasonOps.functionalDelta(
      rw0, mp0, Seq(("R2", MaxCardinality, "1")).toDF("s", "p", "o"))
      ._1.count())
      .getMessage should include ("cardinality")
  }

  "ReasonOps.erMaintainStream" should "assemble collisions across micro-batches" in {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // base: key class + city edges; the codes arrive over TWO batches,
    // and batch 2 also brings an ifp collision — the maintained state
    // must equal from-scratch canonicalization of everything
    val base = keyAxiom("Cust", Seq("city", "code")) ++ Seq(
      ("email", "a", ReasonOps.InverseFunctionalProperty),
      ("e1", "a", "Cust"), ("e1", "city", "rome"),
      ("e2", "a", "Cust"), ("e2", "city", "rome"),
      ("e1", "email", "m1"), ("e3", "name", "gamma"))
    val (rw0, mp0) = ReasonOps.functionalCanonicalize(base.toDF("s", "p", "o"))
    val m = ReasonOps.erMaintainStream(rw0, mp0)
    val src = MemoryStream[(String, String, String)]
    val q = m.attach(src.toDF().toDF("s", "p", "o"))
    val b1 = Seq(("e1", "code", "9"))
    val b2 = Seq(("e2", "code", "9"), ("e3", "email", "m1"))
    try {
      src.addData(b1: _*)
      q.processAllAvailable()
      src.addData(b2: _*) // completes e2's key AND merges e3 via email
      q.processAllAvailable()
    } finally q.stop()
    val (rw, mp) = m.current
    val (rwF, mpF) = ReasonOps.functionalCanonicalize(
      (base ++ b1 ++ b2).toDF("s", "p", "o"))
    tset(rw) shouldBe tset(rwF)
    pset(mp) shouldBe pset(mpF)
    tset(rw) should contain (("e1", "name", "gamma")) // e3 folded in
  }

  it should "fail loudly on a malformed key list" in {
    val g = Seq(
      ("Cust", HasKey, "_:k"), ("_:k", RdfFirst, "city"),
      ("c1", "a", "Cust")
    ).toDF("s", "p", "o")
    (the[IllegalArgumentException] thrownBy
      ReasonOps.hasKeyIdentityPairs(g).count()).getMessage should
      include ("rdf:rest")
  }


  // ------------------------------------------------------------------
  // owl:intersectionOf / owl:unionOf (cls-int1/int2, cls-uni)
  // ------------------------------------------------------------------

  import graft.ops.ReasonOps.{IntersectionOf, UnionOf}

  private def listOf(owner: String, pred: String, parts: Seq[String]): Seq[(String, String, String)] = {
    val nodes = parts.indices.map(i => s"_:$owner$i")
    (owner, pred, nodes.head) +: parts.indices.flatMap { i =>
      Seq((nodes(i), RdfFirst, parts(i)),
        (nodes(i), RdfRest,
          if (i == parts.length - 1) RdfNil else nodes(i + 1)))
    }
  }

  "ReasonOps.owlRlClosure boolean expressions" should "type intersections both ways and unions one way" in {
    val g = (listOf("GoldBuyer", IntersectionOf, Seq("Gold", "Buyer")) ++
      listOf("Party", UnionOf, Seq("Person", "Company")) ++ Seq(
      ("x1", "a", "Gold"), ("x1", "a", "Buyer"),
      ("x2", "a", "Gold"), // only one conjunct
      ("x3", "a", "GoldBuyer"), // int2: decomposes
      ("u1", "a", "Person"), ("u2", "a", "Company"), ("u3", "a", "Party")
    )).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (
      ("x1", "a", "GoldBuyer"),
      ("x3", "a", "Gold"), ("x3", "a", "Buyer"),
      ("u1", "a", "Party"), ("u2", "a", "Party"))
    got should not contain ("x2", "a", "GoldBuyer")
    // cls-uni is one-way: u3's membership does not pick a disjunct
    got should not contain ("u3", "a", "Person")
  }

  it should "compose boolean expressions with restrictions and subclass flow" in {
    // svf types HasOrder; the intersection of HasOrder and Gold then
    // fires (round 2), and the union class catches it via subclass
    val g = (listOf("GoldOrderer", IntersectionOf, Seq("HasOrder", "Gold")) ++ Seq(
      ("HasOrder", OnProperty, "placed"),
      ("HasOrder", SomeValuesFrom, "Order"),
      ("GoldOrderer", SubClassOf, "Vip"),
      ("c1", "placed", "o1"), ("o1", "a", "Order"),
      ("c1", "a", "Gold"),
      ("c2", "placed", "o1") // not Gold: no intersection
    )).toDF("s", "p", "o")
    val got = tset(ReasonOps.owlRlClosure(g))
    got should contain allOf (
      ("c1", "a", "GoldOrderer"), ("c1", "a", "Vip"))
    got should not contain ("c2", "a", "GoldOrderer")
  }

  "ReasonOps.owlRlDelta boolean expressions" should "match re-materialization across int/uni shapes" in {
    val tbox = (listOf("GoldBuyer", IntersectionOf, Seq("Gold", "Buyer")) ++
      listOf("Party", UnionOf, Seq("Person", "Company")))
      .toDF("s", "p", "o")
    val base = listOf("GoldBuyer", IntersectionOf, Seq("Gold", "Buyer")) ++
      listOf("Party", UnionOf, Seq("Person", "Company")) ++ Seq(
      ("x1", "a", "Gold"), ("u1", "a", "Person"))
    // Δ completes x1's intersection, brings a fresh union member, and
    // an int2 decomposition
    val delta = Seq(("x1", "a", "Buyer"), ("u2", "a", "Company"),
      ("x9", "a", "GoldBuyer"))
    val closure = ReasonOps.owlRlClosure(base.toDF("s", "p", "o"))
    val inc = ReasonOps.owlRlDelta(closure, delta.toDF("s", "p", "o"), tbox)
    val got = tset(ReasonOps.composeIncrement(closure, inc))
    got shouldBe tset(ReasonOps.owlRlClosure(
      (base ++ delta).toDF("s", "p", "o")))
    got should contain allOf (
      ("x1", "a", "GoldBuyer"), ("u2", "a", "Party"),
      ("x9", "a", "Gold"), ("x9", "a", "Buyer"))
  }


  "the encoded-quads reasoning twins" should "match their string twins per graph" in {
    // one fixture exercises owlRlClosureQuadsEncoded (svf),
    // owlRlDeltaQuadsEncoded, owlFullClosureQuadsEncoded (trans+svf),
    // and consistencyReportQuadsEncoded (disjointWith) — ids:
    // a=2 sc=5 sp=6 dom=7 rng=8 onProp=10 svf=11 avf=12 hv=13
    // placed=1 Order=3 HasOrder=4 trans=92 inv=90 symm=91 dw=20 Bad=31
    val rlIds = ReasonOps.RlIds(
      rdfs = ReasonOps.RdfsIds(5L, 6L, 7L, 8L, 2L),
      onProperty = 10L, someValuesFrom = 11L, allValuesFrom = 12L,
      hasValue = 13L)
    val owlIds = ReasonOps.OwlIds(90L, 91L, 92L, 2L)
    val tbox = Seq((4L, 10L, 1L), (4L, 11L, 3L), (1L, 2L, 92L),
      (4L, 20L, 31L)).toDF("s", "p", "o")
    val q = Seq(
      (200L, 2L, 3L, 900L), // o1 a Order in g900
      (100L, 1L, 200L, 900L), // c1 placed o1 in g900
      (100L, 1L, 200L, 901L), // same edge in g901, but no Order typing
      (100L, 2L, 31L, 900L) // c1 a Bad in g900 -> disjoint with HasOrder
    ).toDF("s", "p", "o", "g")
    def qs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

    val rl = qs(ReasonOps.owlRlClosure(q, Corpus.encoded(rlIds, quads = true), Some(tbox)))
    rl should contain ((100L, 2L, 4L, 900L)) // svf fires in g900 only
    rl.filter(t => t._3 == 4L).map(_._4) shouldBe Set(900L)

    // delta parity: the Order typing for g901 arrives as a batch
    val d = Seq((200L, 2L, 3L, 901L)).toDF("s", "p", "o", "g")
    val inc = ReasonOps.owlRlDelta(
      ReasonOps.owlRlClosure(q, Corpus.encoded(rlIds, quads = true), Some(tbox)), d,
      tbox, Corpus.encoded(rlIds, quads = true))
    qs(ReasonOps.composeIncrement(
      ReasonOps.owlRlClosure(q, Corpus.encoded(rlIds, quads = true), Some(tbox)), inc)) shouldBe
      qs(ReasonOps.owlRlClosure(q.unionAll(d), Corpus.encoded(rlIds, quads = true), Some(tbox)))

    // joint fixpoint: placed is transitive; c0 -> c1 -> o1 reaches the
    // Order only through the property phase, then svf types c0
    val q2 = q.unionAll(Seq((99L, 1L, 100L, 900L))
      .toDF("s", "p", "o", "g"))
    qs(ReasonOps.owlFullClosure(q2, Corpus.encoded((owlIds, rlIds), quads = true),
      Some(tbox))) should
      contain ((99L, 2L, 4L, 900L))

    // consistency: HasOrder disjointWith Bad — c1 holds both in g900
    val closure = ReasonOps.owlRlClosure(q, Corpus.encoded(rlIds, quads = true), Some(tbox))
    val checkIds = ReasonOps.CheckIds(typePred = 2L,
      disjointWith = Some(20L))
    val viol = ReasonOps.consistencyReport(closure,
      Corpus.encoded(checkIds, quads = true), Some(tbox)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSet
    viol shouldBe Set(("cax-dw", 100L, 900L))
  }


  "the encoded entity-resolution twins" should "canonicalize, cascade, and maintain on fixed-width ids" in {
    // ids: a=2 sameAs=50 ifp=51 fp=52 hasKey=53 first=54 rest=55 nil=56
    // props: ssn=60 acct=61 city=62 / key list node=300
    // round 1: 100,101 collide on the inverse-functional ssn; round 2:
    // the merged SUBJECT holds acct values 800 and 801, so the
    // functional acct merges the VALUES — and 102's acct row rewrites
    // through the value merge
    val ids = ReasonOps.ErIds(typePred = 2L, sameAs = 50L,
      functionalProperty = Some(52L), inverseFunctionalProperty = Some(51L),
      hasKey = Some(53L), listFirst = Some(54L), listRest = Some(55L),
      listNil = Some(56L))
    val base = Seq(
      (60L, 2L, 51L), (61L, 2L, 52L),
      (100L, 60L, 900L), (101L, 60L, 900L),
      (100L, 61L, 800L), (101L, 61L, 801L),
      (102L, 61L, 801L), (103L, 61L, 802L))
    val (rw, mp) = ReasonOps.functionalCanonicalize(
      base.toDF("s", "p", "o"), Corpus.encoded(ids))
    val m = mp.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    m(101L) shouldBe 100L // long min is the canonical id
    m(801L) shouldBe 800L // the round-2 value merge
    rw.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet should contain ((102L, 61L, 800L))
    ReasonOps.lastFunctionalRounds.get() should be >= 2L

    // O(Δ) twin: a fresh ssn collision folds in incrementally
    val (rw2, mp2) = ReasonOps.functionalDelta(rw, mp,
      Seq((104L, 60L, 900L)).toDF("s", "p", "o"), Corpus.encoded(ids))
    val m2 = mp2.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    m2(104L) shouldBe 100L
    // parity with a from-scratch re-canonicalization
    val (rwAll, _) = ReasonOps.functionalCanonicalize(
      (base :+ (104L, 60L, 900L)).toDF("s", "p", "o"), Corpus.encoded(ids))
    rw2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet shouldBe
      rwAll.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet

    // hasKey on ids: class 70, key (city) — 200/201 share city 700
    val keyed = Seq(
      (70L, 53L, 300L), (300L, 54L, 62L), (300L, 55L, 56L),
      (200L, 2L, 70L), (201L, 2L, 70L), (202L, 2L, 70L),
      (200L, 62L, 700L), (201L, 62L, 700L), (202L, 62L, 701L))
    ReasonOps.hasKeyIdentityPairs(keyed.toDF("s", "p", "o"), Corpus.encoded(ids))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((200L, 201L))
  }

  "ReasonOps.identityMapping" should "give the same mapping on the driver and distributed paths" in {
    // U+FFFD sorts BEFORE U+1F600 in UTF-8 bytes (EF.. < F0..) but AFTER
    // it in UTF-16 (FFFD > D83D): both paths must pick the UTF-8 minimum,
    // Spark's binary string order. The long terms share a 4,000-char
    // prefix, so only their tails decide. A pair (x, x) maps x to itself
    // on both paths.
    val emoji = "a\uD83D\uDE00"
    val repl = "a\uFFFD"
    val pre = "t" * 4000
    val (l1, l2, l3) = (pre + "b", pre + "a", pre + "\uD83D\uDE00")
    val g = Seq(
      (emoji, ReasonOps.SameAs, repl), (repl, ReasonOps.SameAs, "b"),
      (l1, ReasonOps.SameAs, l2), (l3, ReasonOps.SameAs, l1),
      ("x", ReasonOps.SameAs, "x"),
      (emoji, "p", "o"), ("b", "q", emoji), (l3, "p", l1), ("c", "r", "d"))
      .toDF("s", "p", "o")
    def run(): (Set[Seq[Any]], Set[Seq[Any]]) = {
      val (rw, mp) = ReasonOps.sameAsCanonicalize(g)
      (rw.collect().map(_.toSeq).toSet, mp.collect().map(_.toSeq).toSet)
    }
    val (rwDriver, mpDriver) = run()
    val (rwDist, mpDist) = graft.ops.GraphOps.graphDriverCap.withValue(-1)(run())
    mpDist shouldBe mpDriver
    rwDist shouldBe rwDriver
    mpDriver shouldBe Set(Seq(emoji, repl), Seq(repl, repl), Seq("b", repl),
      Seq(l1, l2), Seq(l2, l2), Seq(l3, l2), Seq("x", "x"))
    rwDriver shouldBe Set(Seq(repl, "p", "o"), Seq(repl, "q", repl),
      Seq(l2, "p", l2), Seq("c", "r", "d"))
  }
}
