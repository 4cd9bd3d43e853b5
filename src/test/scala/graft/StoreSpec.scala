package graft

import java.nio.file.{Files, Paths}

import graft.bgp.{Bgp, C, PredStats, TriplePattern, V}
import graft.store.TripleStore
import org.apache.spark.sql.functions._

/** Sources/sinks + storage layout: N-Triples parsing (reference loader
  * S1, `Sparql.scala:78-113`), the two physical unpivot shapes, the
  * predicate-partitioned persisted store, and index-cardinality stats.
  */
class StoreSpec extends SparkSpec {

  "parseNTriples" should "parse IRIs, literals and blank nodes" in {
    val nt =
      """<http://ex/s1> <http://ex/p> <http://ex/o1> .
        |<http://ex/s1> <http://ex/name> "Alice" .
        |_:b0 <http://ex/p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |# a comment line
        |
        |<http://ex/s2> <http://ex/lang> "chat"@fr .
        |""".stripMargin
    val dir = Files.createDirectories(Paths.get("target/tmp-nt"))
    val f = dir.resolve("test.nt")
    Files.writeString(f, nt)
    val df = TripleStore.parseNTriples(spark, f.toString)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    rows shouldBe Set(
      ("http://ex/s1", "http://ex/p", "http://ex/o1"),
      ("http://ex/s1", "http://ex/name", "\"Alice\""),
      ("_:b0", "http://ex/p", "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("http://ex/s2", "http://ex/lang", "\"chat\"@fr"))
  }

  "parseNQuads" should "parse the optional graph label into g (NULL = default)" in {
    val f = Files.createTempFile("graft-nq", ".nq")
    Files.write(f, java.util.Arrays.asList(
      "<http://ex/s1> <http://ex/p> <http://ex/o1> <http://ex/g1> .",
      "<http://ex/s1> <http://ex/p> \"Alice\" .",
      "# comment",
      "<http://ex/s2> <http://ex/p> \"see <http://ex/x>\" <http://ex/g1> .",
      "_:b0 <http://ex/p> \"5\"^^<http://www.w3.org/2001/XMLSchema#integer> _:g ."))
    val df = TripleStore.parseNQuads(spark, f.toString)
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3))).toSet shouldBe Set(
      ("http://ex/s1", "http://ex/p", "http://ex/o1", "http://ex/g1"),
      ("http://ex/s1", "http://ex/p", "\"Alice\"", null),
      ("http://ex/s2", "http://ex/p", "\"see <http://ex/x>\"", "http://ex/g1"),
      ("_:b0", "http://ex/p",
        "\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>", "_:g"))
  }

  "writeNQuads" should "round-trip through parseNQuads" in {
    import spark.implicits._
    val quads = Seq(
      ("http://ex/s1", "http://ex/p", "http://ex/o1", "http://ex/g1"),
      ("http://ex/s1", "http://ex/name", "\"Alice\"", null),
      ("_:b0", "http://ex/p", "\"chat\"@fr", "http://ex/g2"))
      .toDF("s", "p", "o", "g")
    val dir = Files.createTempDirectory("graft-nqout").toString
    TripleStore.writeNQuads(quads, dir)
    TripleStore.parseNQuads(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet shouldBe quads.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
  }

  "writeNTriples" should "round-trip through parseNTriples" in {
    import spark.implicits._
    val triples = Seq(
      ("http://ex/s1", "http://ex/p", "http://ex/o1"),
      ("http://ex/s1", "http://ex/name", "\"Alice\""),
      ("_:b0", "http://ex/p", "\"chat\"@fr"))
      .toDF("s", "p", "o")
    val dir = Files.createTempDirectory("graft-ntout").toString
    TripleStore.writeNTriples(triples, dir)
    val back = TripleStore.parseNTriples(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    back shouldBe triples.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  it should "feed the BGP engine end-to-end" in {
    val nt =
      """<http://ex/a> <http://ex/knows> <http://ex/b> .
        |<http://ex/b> <http://ex/knows> <http://ex/c> .
        |""".stripMargin
    val dir = Files.createDirectories(Paths.get("target/tmp-nt2"))
    Files.writeString(dir.resolve("chain.nt"), nt)
    val triples = TripleStore.parseNTriples(spark, dir.toString)
    val res = Bgp.compile(spark, triples, Seq(
      TriplePattern(V("x"), C("http://ex/knows"), V("y")),
      TriplePattern(V("y"), C("http://ex/knows"), V("z"))))
    res.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq shouldBe
      Seq(("http://ex/a", "http://ex/b", "http://ex/c"))
  }

  "skolemize" should "scope blank-node labels per parse session" in {
    import spark.implicits._
    val t = Seq(("_:b0", "p", "x"), ("y", "p", "_:b0"), ("iri", "p", "lit"))
      .toDF("s", "p", "o")
    val a = TripleStore.skolemize(t, "file1").collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    a should contain(("_:file1:b0", "x"))
    a should contain(("y", "_:file1:b0"))
    a should contain(("iri", "lit")) // non-blanks untouched
    // different scope -> different node identity
    val b = TripleStore.skolemize(t, "file2").collect().map(_.getString(0)).toSet
    b should contain("_:file2:b0")
    b should not contain "_:file1:b0"
  }

  "tableTriples" should "produce identical rows in both physical shapes" in {
    val d = sfDir
    val branch = TripleStore.tableTriples(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val exploded = TripleStore.tableTriples(spark, d, exploded = true).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    exploded shouldBe branch
    branch.size should be > 1000
  }

  "persist" should "write a predicate-partitioned store that prunes scans" in {
    val d = sfDir
    val out = "target/tmp-store"
    TripleStore.persist(TripleStore.tableTriples(spark, d, exploded = true), out)
    val all = spark.read.parquet(out)
    val one = all.where(col("p") === "nationkey")
    // partition pruning: the p filter lands in PartitionFilters (directory
    // pruning), never in the data filters
    val plan = one.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include regex "PartitionFilters: \\[[^\\]]*nationkey"
    // and content round-trips
    one.select("s", "o").count() shouldBe
      TripleStore.tableTriples(spark, d).where(col("p") === "nationkey").count()
  }

  "GraftStore.diff" should "report exactly the added and removed triples" in {
    import spark.implicits._
    val before = graft.store.GraftStore.ingestTriples(spark, Seq(
      ("a:1", "knows", "a:2"), ("a:2", "knows", "a:3"), ("a:1", "label", "\"x\"")
    ).toDF("s", "p", "o"))
    val mid = graft.store.GraftStore.append(spark, before,
      Seq(("a:3", "knows", "a:4")).toDF("s", "p", "o"))
    val after = graft.store.GraftStore.remove(spark, mid,
      Seq(("a:1", "label", "\"x\"")).toDF("s", "p", "o"))
    val d = graft.store.GraftStore.diff(spark, before, after)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    d shouldBe Set(
      ("+", "a:3", "knows", "a:4"),
      ("-", "a:1", "label", "\"x\""))
    // a handle diffed with itself is empty
    graft.store.GraftStore.diff(spark, before, before).count() shouldBe 0L
  }

  it should "execute a LAZY update handle's delta legs once (bounded job count)" in {
    import spark.implicits._
    val before = graft.store.GraftStore.ingestTriples(spark, Seq(
      ("b:1", "knows", "b:2"), ("b:2", "knows", "b:3"), ("b:1", "tag", "\"t\"")
    ).toDF("s", "p", "o"))
    // an update SCRIPT produces a lazily-composed handle (tombstone
    // deletes + probe-and-union inserts) whose legs re-run per action —
    // diff must consume each relation exactly ONCE; a per-action replay
    // shows up as extra jobs
    val after = graft.sparql.Sparql.update(spark, before,
      """INSERT DATA { <b:4> <knows> <b:5> } ;
        |DELETE WHERE { ?s <tag> ?o }""".stripMargin)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val d =
      try graft.store.GraftStore.diff(spark, before, after).collect()
      finally {
        // listener events are async — drain before reading the count
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(l)
      }
    d.map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("+", "b:4"), ("-", "b:1"))
    // one co-group checkpoint + one slim-dict checkpoint + one collect
    // plus AQE sub-jobs — measured 11; a replay of the update chain per
    // consumer pass adds the whole probe-and-union chain again and
    // blows well past this
    jobs.get() should be <= 16
  }

  "GraftStore.append" should "make new triples visible and keep stats exact" in {
    import spark.implicits._
    val base = graft.store.GraftStore.ingestTriples(spark, Seq(
      ("a:1", "knows", "a:2"), ("a:2", "knows", "a:3")
    ).toDF("s", "p", "o"))
    // 2-hop chain before append: exactly one
    Bgp.compile(spark, base.triples, Seq(
      TriplePattern(V("x"), C("knows"), V("y")),
      TriplePattern(V("y"), C("knows"), V("z"))), base.stats, base.totalCnt)
      .count() shouldBe 1L
    // stats-driven single-pattern count shortcut (no job) is exact
    Bgp.count(spark, base.triples,
      Seq(TriplePattern(V("x"), C("knows"), V("y"))), base.stats) shouldBe 2L
    // append one edge and a brand-new predicate (reference performAdd,
    // sparql/.../Sparql.scala:115-127)
    val appended = graft.store.GraftStore.append(spark, base, Seq(
      ("a:3", "knows", "a:4"), ("a:1", "label", "\"one\"")
    ).toDF("s", "p", "o"))
    Bgp.compile(spark, appended.triples, Seq(
      TriplePattern(V("x"), C("knows"), V("y")),
      TriplePattern(V("y"), C("knows"), V("z"))), appended.stats, appended.totalCnt)
      .count() shouldBe 2L
    Bgp.count(spark, appended.triples,
      Seq(TriplePattern(V("x"), C("knows"), V("y"))), appended.stats) shouldBe 3L
    // refreshed dictionary decodes the appended terms on the encoded path
    Bgp.count(spark, appended.triples,
      Seq(TriplePattern(V("x"), C("label"), V("y"))), appended.stats) shouldBe 1L
    appended.totalCnt shouldBe 4L
    // the old handle is untouched (immutable-handle model)
    base.totalCnt shouldBe 2L
  }

  it should "be O(delta): reuse the pinned store relations instead of re-ingesting" in {
    import spark.implicits._
    def rddIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id.toLong
      }.toSet
    val base = graft.store.GraftStore.ingestTriples(spark, Seq(
      ("b:1", "knows", "b:2"), ("b:2", "knows", "b:3")
    ).toDF("s", "p", "o"))
    val appended = graft.store.GraftStore.append(spark, base, Seq(
      ("b:3", "knows", "b:4")
    ).toDF("s", "p", "o"))
    // the appended handle's relations must CONTAIN the base handle's pinned
    // RDDs as union branches — the structural proof that no job re-ingested
    // the stored triples, encoded relation, or dictionary (only the delta
    // was pinned; the reference's performAdd is likewise O(1)/triple,
    // sparql/.../Sparql.scala:115-127)
    rddIds(appended.triples) should contain allElementsOf rddIds(base.triples)
    rddIds(appended.enc) should contain allElementsOf rddIds(base.enc)
    rddIds(appended.dict) should contain allElementsOf rddIds(base.dict)
    // exact count merge without a store re-scan
    appended.stats("knows").cnt shouldBe 3L
    // the encoded path decodes the NEW term through the unioned dictionary
    graft.sparql.Sparql.execute(spark, appended,
      """PREFIX : <>
        |SELECT ?x WHERE { "b:3" :knows ?x }""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("b:4")
    // an all-existing-terms append leaves the dictionary object UNTOUCHED
    val again = graft.store.GraftStore.append(spark, appended, Seq(
      ("b:4", "knows", "b:1")
    ).toDF("s", "p", "o"))
    again.dict should be theSameInstanceAs appended.dict
    again.stats("knows").cnt shouldBe 4L
  }

  "GraftStore.ingestEncoded" should "answer queries from pre-encoded triples" in {
    import spark.implicits._
    import graft.dict.Dictionary
    // arbitrary (non-content-hash) ids, as a programmatic producer would assign
    val dict = Seq((10L, "a:1"), (20L, "knows"), (30L, "a:2"), (40L, "a:3"))
      .toDF("id", "term")
    val enc = Seq((10L, 20L, 30L), (30L, 20L, 40L)).toDF("s", "p", "o")
    val st = graft.store.GraftStore.ingestEncoded(spark, enc, dict)
    st.pureHash shouldBe false
    // string-store path: decoded relation answers BGPs
    Bgp.compile(spark, st.triples, Seq(
      TriplePattern(V("x"), C("knows"), V("y")),
      TriplePattern(V("y"), C("knows"), V("z"))), st.stats, st.totalCnt)
      .collect().map(_.toSeq) shouldBe Array(Seq("a:1", "a:2", "a:3"))
    // encoded path end-to-end through the SPARQL lifecycle: constants
    // resolve via the supplied dictionary, not hashing
    graft.sparql.Sparql.execute(spark, st,
      """PREFIX : <>
        |SELECT ?x WHERE { "a:1" :knows ?x }""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("a:2")
    // dictionary-miss fail-fast: unknown constant -> empty, no job
    graft.sparql.Sparql.execute(spark, st,
      """PREFIX : <>
        |SELECT ?x WHERE { "nope" :knows ?x }""".stripMargin)
      .count() shouldBe 0L
  }

  "GraftStore.persist/open" should "round-trip the full store lifecycle" in {
    val st = graft.store.GraftStore.forDir(spark, sfDir)
    val out = "target/tmp-graft-store"
    graft.store.GraftStore.persist(st, out)
    val reopened = graft.store.GraftStore.open(spark, out)
    reopened.pureHash shouldBe st.pureHash
    reopened.stats shouldBe st.stats
    reopened.totalCnt shouldBe st.totalCnt
    // a chain query answers identically from the reopened store
    val q = Seq(
      TriplePattern(V("c"), C("nationkey"), V("n")),
      TriplePattern(V("n"), C("regionkey"), V("r")),
      TriplePattern(V("r"), C("name"), C("ASIA")))
    val a = Bgp.compile(spark, st.triples, q, st.stats, st.totalCnt)
      .collect().map(_.toSeq).toSet
    val b = Bgp.compile(spark, reopened.triples, q, reopened.stats, reopened.totalCnt)
      .collect().map(_.toSeq).toSet
    b shouldBe a
    a should not be empty
    // the encoded lifecycle works against the reopened store too
    graft.sparql.Sparql.execute(spark, reopened,
      """PREFIX : <>
        |SELECT ?r WHERE { ?r :name "ASIA" }""".stripMargin)
      .collect().map(_.getString(0)).toSeq should not be empty
    // predicate filters prune partitions on the persisted triples layout
    val plan = reopened.triples.where(col("p") === "nationkey")
      .queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[[^\\]]*nationkey"
  }

  it should "persist an appended handle incrementally (delta files only)" in {
    import spark.implicits._
    val out = "target/tmp-graft-store-inc"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val base = graft.store.GraftStore.ingestTriples(spark, Seq(
      ("i:1", "knows", "i:2"), ("i:2", "knows", "i:3")
    ).toDF("s", "p", "o"))
    graft.store.GraftStore.persist(base, out)
    def dataFiles(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      org.apache.commons.io.FileUtils
        .listFiles(new java.io.File(out), Array("parquet"), true).asScala
        .filter(f => Seq("triples", "enc", "dict")
          .exists(t => f.getPath.contains(s"/$t/")))
        .map(f => f.getPath -> f.length()).toMap
    }
    val reopened = graft.store.GraftStore.open(spark, out)
    val before = dataFiles()
    // append one edge with an existing predicate and one brand-new term
    val appended = graft.store.GraftStore.appendLocal(spark, reopened, Seq(
      ("i:3", "knows", "i:4")))
    graft.store.GraftStore.persist(appended, out)
    val after = dataFiles()
    // incremental: every pre-existing data file survives untouched
    // (same path, same size); the delta arrived as NEW files only
    before.foreach { case (p, len) =>
      after.get(p) shouldBe Some(len)
    }
    (after.keySet -- before.keySet) should not be empty
    // the reopened store sees the appended state with exact counts
    val again = graft.store.GraftStore.open(spark, out)
    again.totalCnt shouldBe appended.totalCnt
    again.stats.view.mapValues(_.cnt).toMap shouldBe
      appended.stats.view.mapValues(_.cnt).toMap
    again.triples.count() shouldBe 3L
    graft.sparql.Sparql.execute(spark, again,
      """PREFIX : <>
        |SELECT ?x WHERE { "i:3" :knows ?x }""".stripMargin)
      .collect().map(_.getString(0)).toSeq shouldBe Seq("i:4")
    // a handle whose chain includes a DELETE falls back to full rewrite
    // and still round-trips
    val removed = graft.store.GraftStore.removeLocal(spark, again,
      Seq(("i:1", "knows", "i:2")))
    graft.store.GraftStore.persist(removed, out)
    graft.store.GraftStore.open(spark, out).triples.count() shouldBe 2L
  }

  "predicateStats" should "match exact per-predicate counts and drive ordering" in {
    val d = sfDir
    val triples = TripleStore.tableTriples(spark, d, exploded = true)
    val stats = TripleStore.predicateStats(triples).collect()
      .map(r => r.getString(0) -> PredStats(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val exact = triples.groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stats.view.mapValues(_.cnt).toMap shouldBe exact
    // rare predicate ("name" on region: 5 rows at sf0.001) sorts before a
    // huge one ("orderkey" on lineitem) in the greedy order
    val total = exact.values.sum
    val ordered = Bgp.order(Seq(
      TriplePattern(V("l"), C("orderkey"), V("o")),
      TriplePattern(V("r"), C("name"), C("ASIA")),
      TriplePattern(V("o"), C("custkey"), V("c"))), stats, total)
    ordered.head.p shouldBe C("name")
  }
}
