package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming triple ingest through the BGP machinery: a live stream of
  * (s, p, o) edges filtered by a triple pattern and enriched by a
  * stream-static join against the already-ingested store — the
  * incremental-maintenance shape for a triple store on Spark (the
  * reference is strictly batch, SURVEY §2.6; this is the extension path).
  */
class StreamingBgpSpec extends SparkSpec {
  import spark.implicits._

  lazy val staticTriples = Seq(
    ("nation:1", "regionkey", "region:2"),
    ("nation:3", "regionkey", "region:4")
  ).toDF("s", "p", "o")

  "streaming triples" should "match a pattern and join the static store" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    src.addData(
      ("customer:7", "nationkey", "nation:1"),
      ("customer:8", "nationkey", "nation:3"),
      ("customer:9", "mktsegment", "BUILDING"), // different predicate: no match
      ("customer:10", "nationkey", "nation:99")) // nation missing from store
    val stream = src.toDF().toDF("s", "p", "o")

    // pattern scan { ?c :nationkey ?n } on the stream, then
    // { ?n :regionkey ?r } against the static store (stream-static join)
    val hops = stream.where(col("p") === "nationkey")
      .select(col("s").as("c"), col("o").as("n"))
      .join(staticTriples.where(col("p") === "regionkey")
        .select(col("s").as("n"), col("o").as("r")), Seq("n"))

    val q = hops.writeStream.format("memory").queryName("bgp_stream_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.table("bgp_stream_out")
      .select("c", "n", "r").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    rows shouldBe Set(
      ("customer:7", "nation:1", "region:2"),
      ("customer:8", "nation:3", "region:4"))
  }

  "executeStreamQuads" should "maintain a GRAPH-confined view over arriving quads" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(
      ("a", "q", "2", "g1"),
      ("b", "q", "2", "g2")
    ).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    // a:p in g1 completes with a:q in g1; the g2 arrival must ONLY
    // complete against g2's static rows, and the default-graph quad
    // (null g) never matches a GRAPH block
    src.addData(
      ("a", "p", "1", "g1"),
      ("b", "p", "1", "g2"),
      ("c", "p", "1", null),
      ("a", "p", "1", "g9")) // graph with no static q-edge: no solution
    val stream = src.toDF().toDF("s", "p", "o", "g")
    val out = graft.sparql.Sparql.executeStreamQuads(spark, stream, staticQuads,
      """PREFIX : <>
        |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p "1" . ?s :q "2" } }""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("quad_stream_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("g1", "a"), ("g2", "b"))
  }

  it should "slice one graph up front for a constant target" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(("a", "q", "2", "g1"), ("b", "q", "2", "g2"))
      .toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    src.addData(("a", "p", "1", "g1"), ("b", "p", "1", "g2"))
    val out = graft.sparql.Sparql.executeStreamQuads(spark,
      src.toDF().toDF("s", "p", "o", "g"), staticQuads,
      """PREFIX : <>
        |SELECT ?s WHERE { GRAPH <g1> { ?s :p "1" . ?s :q "2" } }""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_const")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("quad_stream_const").collect()
      .map(_.getString(0)).toSet shouldBe Set("a")
  }

  it should "reject an all-constant pattern in multi-block streaming quads" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(("a", "q", "2", "g1")).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    // the constant-only pattern in the second block could never seed a
    // delta arm: its stream arrival would complete the cross-block join
    // without emission — must reject up front, not swallow
    val e = intercept[IllegalArgumentException] {
      graft.sparql.Sparql.executeStreamQuads(spark,
        src.toDF().toDF("s", "p", "o", "g"), staticQuads,
        """PREFIX : <>
          |SELECT ?s WHERE { GRAPH <g1> { ?s :p "1" }
          |                  GRAPH <g2> { :a :flag "on" } }""".stripMargin)
    }
    e.getMessage should include("all-constant")
  }

  it should "emit batch-equivalent rows for a UNION inside the GRAPH block" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(
      ("a", "q", "2", "g1"),
      ("b", "r", "3", "g1")
    ).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    // each arriving quad completes through EITHER union branch
    src.addData(("a", "p", "1", "g1"), ("b", "p", "1", "g1"),
      ("c", "p", "1", "g1")) // c matches neither branch
    val out = graft.sparql.Sparql.executeStreamQuads(spark,
      src.toDF().toDF("s", "p", "o", "g"), staticQuads,
      """PREFIX : <>
        |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p "1"
        |  { ?s :q "2" } UNION { ?s :r "3" } } }""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_union")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("quad_stream_union").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("g1", "a"), ("g1", "b"))
  }

  it should "enrich from static OPTIONAL patterns, confined per graph" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(
      ("a", "q", "2", "g1"),
      ("b", "q", "2", "g2"),
      ("a", "label", "A", "g1"),
      ("b", "label", "WRONG-GRAPH", "g1") // b's label lives in g1, not g2
    ).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    src.addData(("a", "p", "1", "g1"), ("b", "p", "1", "g2"))
    val out = graft.sparql.Sparql.executeStreamQuads(spark,
      src.toDF().toDF("s", "p", "o", "g"), staticQuads,
      """PREFIX : <>
        |SELECT ?g ?s ?l WHERE { GRAPH ?g { ?s :p "1" . ?s :q "2"
        |  OPTIONAL { ?s :label ?l } } }""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_opt")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("quad_stream_opt").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet shouldBe
      Set(("g1", "a", "A"), ("g2", "b", null)) // unbound, not cross-graph
  }

  it should "subtract static MINUS groups inside the GRAPH block per graph" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(
      ("a", "q", "2", "g1"),
      ("b", "q", "2", "g2"),
      ("a", "blocked", "1", "g1"),
      ("b", "blocked", "1", "g1") // b is blocked in g1 only, not its g2
    ).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    src.addData(("a", "p", "1", "g1"), ("b", "p", "1", "g2"))
    val out = graft.sparql.Sparql.executeStreamQuads(spark,
      src.toDF().toDF("s", "p", "o", "g"), staticQuads,
      """PREFIX : <>
        |SELECT ?g ?s WHERE { GRAPH ?g { ?s :p "1" . ?s :q "2"
        |  MINUS { ?s :blocked "1" } } }""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_minus")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("quad_stream_minus").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("g2", "b")) // a removed in g1; b's block lives in another graph
  }

  it should "join MULTIPLE GRAPH blocks with per-(block, pattern) deltas" in {
    implicit val sqlCtx = spark.sqlContext
    // cross-graph correlation on ?s: block 1 matches in ?g1, block 2 in
    // ?g2 — an arrival into EITHER block completes against the other
    // block's static rows (batch equivalence on arriving quads)
    val staticQuads = Seq(
      ("a", "q", "2", "g1"),   // completes block 1 for the a:p arrival
      ("a", "meta", "m", "gm"), // completes block 2 for both a-arrivals
      ("b", "meta", "m", "gm")
    ).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    src.addData(
      ("a", "p", "1", "g1"),  // block-1 arrival: needs static a:q@g1 + a:meta@gm
      ("b", "p", "1", "g1"),  // no static b:q@g1 -> no solution
      ("a", "x", "9", "g7"))  // matches neither block's patterns
    val out = graft.sparql.Sparql.executeStreamQuads(spark,
      src.toDF().toDF("s", "p", "o", "g"), staticQuads,
      """PREFIX : <>
        |SELECT ?g1 ?g2 ?s WHERE {
        |  GRAPH ?g1 { ?s :p "1" . ?s :q "2" }
        |  GRAPH ?g2 { ?s :meta ?m }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_multi")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("quad_stream_multi").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // batch replay over the SAME quads (arrivals against statics):
    // only 'a' completes both blocks
    got shouldBe Set(("g1", "gm", "a"))
    // a block-2 arrival completes against block 1's statics too: add the
    // stream edge into the meta graph for a subject whose block-1 rows
    // are ALL static
    val src2 = MemoryStream[(String, String, String, String)]
    src2.addData(("c", "meta", "m2", "gm"))
    val static2 = Seq(
      ("c", "p", "1", "g3"), ("c", "q", "2", "g3")
    ).toDF("s", "p", "o", "g")
    val out2 = graft.sparql.Sparql.executeStreamQuads(spark,
      src2.toDF().toDF("s", "p", "o", "g"), static2,
      """PREFIX : <>
        |SELECT ?g1 ?g2 ?s ?m WHERE {
        |  GRAPH ?g1 { ?s :p "1" . ?s :q "2" }
        |  GRAPH ?g2 { ?s :meta ?m }
        |}""".stripMargin)
    val q2 = out2.writeStream.format("memory").queryName("quad_stream_multi2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    spark.table("quad_stream_multi2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet shouldBe Set(("g3", "gm", "c", "m2"))
  }

  it should "treat a statically-satisfied all-constant pattern as a truth check" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(
      ("cfg", "mode", "live", "gcfg"), // satisfies the ground pattern
      ("a", "q", "2", "g1")
    ).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    src.addData(("a", "p", "1", "g1"))
    val out = graft.sparql.Sparql.executeStreamQuads(spark,
      src.toDF().toDF("s", "p", "o", "g"), staticQuads,
      """PREFIX : <>
        |SELECT ?g1 ?s WHERE {
        |  GRAPH ?g1 { ?s :p "1" . ?s :q "2" }
        |  GRAPH <gcfg> { <cfg> :mode "live" }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_ground")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("quad_stream_ground").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("g1", "a"))
    // NOT satisfied statically: only a stream arrival could satisfy it,
    // and arrivals never join later arms' static side - reject
    val e = intercept[IllegalArgumentException] {
      graft.sparql.Sparql.executeStreamQuads(spark,
        src.toDF().toDF("s", "p", "o", "g"), staticQuads,
        """PREFIX : <>
          |SELECT ?g1 ?s WHERE {
          |  GRAPH ?g1 { ?s :p "1" }
          |  GRAPH <gcfg> { <cfg> :mode "offline" }
          |}""".stripMargin)
    }
    e.getMessage should include("silently ignored")
    // under a VARIABLE graph an all-constant pattern still binds ?g, so
    // a stream arrival in a new graph would be swallowed - reject
    val e2 = intercept[IllegalArgumentException] {
      graft.sparql.Sparql.executeStreamQuads(spark,
        src.toDF().toDF("s", "p", "o", "g"), staticQuads,
        """PREFIX : <>
          |SELECT ?g1 ?g2 ?s WHERE {
          |  GRAPH ?g1 { ?s :p "1" }
          |  GRAPH ?g2 { <cfg> :mode "live" }
          |}""".stripMargin)
    }
    e2.getMessage should include("bind a variable")
  }

  it should "apply the ground-pattern truth check on the single-block path too" in {
    implicit val sqlCtx = spark.sqlContext
    val staticQuads = Seq(
      ("cfg", "mode", "live", "g1"),
      ("a", "q", "2", "g1")).toDF("s", "p", "o", "g")
    val src = MemoryStream[(String, String, String, String)]
    src.addData(("a", "p", "1", "g1"))
    val out = graft.sparql.Sparql.executeStreamQuads(spark,
      src.toDF().toDF("s", "p", "o", "g"), staticQuads,
      """PREFIX : <>
        |SELECT ?s WHERE {
        |  GRAPH <g1> { ?s :p "1" . ?s :q "2" . <cfg> :mode "live" }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("quad_stream_ground1")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.table("quad_stream_ground1").collect()
      .map(_.getString(0)).toSet shouldBe Set("a")
    // unsatisfied ground pattern: fail fast, same as the multi path
    val e = intercept[IllegalArgumentException] {
      graft.sparql.Sparql.executeStreamQuads(spark,
        src.toDF().toDF("s", "p", "o", "g"), staticQuads,
        """PREFIX : <>
          |SELECT ?s WHERE {
          |  GRAPH <g1> { ?s :p "1" . <cfg> :mode "offline" }
          |}""".stripMargin)
    }
    e.getMessage should include("silently ignored")
    // variable graph + ground pattern: the ?g binding hazard
    val e2 = intercept[IllegalArgumentException] {
      graft.sparql.Sparql.executeStreamQuads(spark,
        src.toDF().toDF("s", "p", "o", "g"), staticQuads,
        """PREFIX : <>
          |SELECT ?g ?s WHERE {
          |  GRAPH ?g { ?s :p "1" . <cfg> :mode "live" }
          |}""".stripMargin)
    }
    e2.getMessage should include("bind a variable")
  }

  it should "bound UNION expansion by ARM count, not block count" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String, String)]
    val staticQuads = Seq(("a", "q", "2", "g1")).toDF("s", "p", "o", "g")
    // four single-pattern-branch UNION blocks over one base pattern:
    // 2^4 choices x 5 patterns = 80 arms > the 64-arm budget (the old
    // guard rejected on BLOCK count; the cost is the arm count)
    val unions = (1 to 4)
      .map(i => s"{ ?s :u$i ?v$i } UNION { ?s :w$i ?v$i }").mkString("\n")
    val e = intercept[IllegalArgumentException] {
      graft.sparql.Sparql.executeStreamQuads(spark,
        src.toDF().toDF("s", "p", "o", "g"), staticQuads,
        s"""PREFIX : <>
           |SELECT ?s WHERE { GRAPH ?g {
           |  ?s :p "1" .
           |  $unions
           |} }""".stripMargin)
    }
    e.getMessage should include("arm budget")
  }

  it should "keep matching as new micro-batches arrive" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    val stream = src.toDF().toDF("s", "p", "o")
    val hops = stream.where(col("p") === "nationkey")
      .select(col("s").as("c"), col("o").as("n"))
      .join(staticTriples.where(col("p") === "regionkey")
        .select(col("s").as("n"), col("o").as("r")), Seq("n"))
    val q = hops.writeStream.format("memory").queryName("bgp_stream_inc")
      .outputMode("append").start()
    src.addData(("customer:1", "nationkey", "nation:1"))
    q.processAllAvailable()
    spark.table("bgp_stream_inc").count() shouldBe 1
    src.addData(("customer:2", "nationkey", "nation:3"))
    q.processAllAvailable()
    q.stop()
    spark.table("bgp_stream_inc").count() shouldBe 2 // incremental append
  }

  it should "complete solutions from an edge matching a LATER pattern (full IVM)" in {
    implicit val sqlCtx = spark.sqlContext
    import graft.bgp.{Bgp, C, TriplePattern, V}
    // store holds the pattern-1 half of the join...
    val store = Seq(
      ("customer:7", "nationkey", "nation:5"),
      ("nation:5", "regionkey", "region:1") // plus one complete static pair
    ).toDF("s", "p", "o")
    val src = MemoryStream[(String, String, String)]
    val out = Bgp.compileStream(spark, src.toDF().toDF("s", "p", "o"), store,
      Seq(
        TriplePattern(V("c"), C("nationkey"), V("n")),
        TriplePattern(V("n"), C("regionkey"), V("r"))))
    val q = out.writeStream.format("memory").queryName("ivm_out")
      .outputMode("append").start()
    // ...and the arriving edge matches pattern TWO: the delta union must
    // still complete (customer:7, nation:5, region:9); the pre-IVM
    // first-pattern-only compile produced nothing here
    src.addData(("nation:5", "regionkey", "region:9"))
    q.processAllAvailable()
    // a pattern-ONE arrival joins the STATIC regionkey edge as before
    // (region:9 was never appended to the store, so it only ever pairs
    // with pattern-1 bindings already present there)
    src.addData(("customer:8", "nationkey", "nation:5"))
    q.processAllAvailable()
    q.stop()
    spark.table("ivm_out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet shouldBe Set(
      ("customer:7", "nation:5", "region:9"),
      ("customer:8", "nation:5", "region:1"))
  }

  "streaming append" should "maintain store stats through foreachBatch ingest" in {
    implicit val sqlCtx = spark.sqlContext
    import graft.bgp.{Bgp, C, TriplePattern, V}
    val src = MemoryStream[(String, String, String)]
    // live triple ingest: each micro-batch appends to the store handle,
    // refreshing dictionary + stats so the stats-driven count shortcut
    // stays exact between batches (reference performAdd, continuously)
    var handle = graft.store.GraftStore.ingestTriples(spark, staticTriples)
    val q = src.toDF().toDF("s", "p", "o").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) handle = graft.store.GraftStore.append(spark, handle, batch)
      }
      .start()
    def regionkeyCount: Long = Bgp.count(spark, handle.triples,
      Seq(TriplePattern(V("n"), C("regionkey"), V("r"))), handle.stats)
    regionkeyCount shouldBe 2L
    src.addData(("nation:9", "regionkey", "region:9"))
    q.processAllAvailable()
    regionkeyCount shouldBe 3L
    src.addData(("nation:10", "regionkey", "region:9"), ("x:1", "label", "\"x\""))
    q.processAllAvailable()
    q.stop()
    regionkeyCount shouldBe 4L
    handle.stats("label").cnt shouldBe 1L
  }

  "Sparql.executeStream" should "enrich solutions with a static OPTIONAL group" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), staticTriples,
      """PREFIX : <>
        |SELECT ?c ?n ?r WHERE {
        |  ?c :nationkey ?n .
        |  OPTIONAL { ?n :regionkey ?r }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("sparql_stream_opt")
      .outputMode("append").start()
    src.addData(
      ("customer:7", "nationkey", "nation:1"),   // region:2 in the store
      ("customer:8", "nationkey", "nation:99"))  // no region -> null
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sparql_stream_opt").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    rows shouldBe Set(
      ("customer:7", "nation:1", Some("region:2")),
      ("customer:8", "nation:99", None))
  }

  it should "run a continuous BGP query over arriving edges" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), staticTriples,
      """PREFIX : <>
        |SELECT ?c ?r WHERE {
        |  ?c :nationkey ?n .
        |  ?n :regionkey ?r .
        |  FILTER (?r != "region:4")
        |}""".stripMargin)
    out.isStreaming shouldBe true
    val q = out.writeStream.format("memory").queryName("sparql_stream_out")
      .outputMode("append").start()
    src.addData(
      ("customer:1", "nationkey", "nation:1"),  // -> region:2, kept
      ("customer:2", "nationkey", "nation:3"),  // -> region:4, filtered
      ("customer:3", "mktsegment", "BUILDING")) // wrong predicate
    q.processAllAvailable()
    src.addData(("customer:4", "nationkey", "nation:1")) // second batch
    q.processAllAvailable()
    q.stop()
    spark.table("sparql_stream_out").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("customer:1", "region:2"), ("customer:4", "region:2"))
  }

  it should "emit batch-equivalent rows for a two-branch UNION" in {
    // Δ(T ⋈ (A ∪ B)) = Δ(T ⋈ A) ∪ Δ(T ⋈ B): each arm is its own
    // per-pattern delta over the combined pattern set, so a new edge
    // matching either branch (or the outer pattern) emits its solutions
    implicit val sqlCtx = spark.sqlContext
    val static2 = Seq(
      ("nation:3", "regionkey", "region:4"),
      ("nation:3", "altregion", "region:8"),
      ("customer:0", "nationkey", "nation:1")).toDF("s", "p", "o")
    val query =
      """PREFIX : <>
        |SELECT ?c ?r WHERE {
        |  ?c :nationkey ?n .
        |  { ?n :regionkey ?r } UNION { ?n :altregion ?r }
        |}""".stripMargin
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2, query)
    val q = out.writeStream.format("memory").queryName("sparql_stream_union")
      .outputMode("append").start()
    // one streamed edge matches BOTH branches' outer pattern...
    src.addData(("customer:1", "nationkey", "nation:3"))
    q.processAllAvailable()
    // ...and one matches only the second branch's pattern
    src.addData(("nation:1", "altregion", "region:9"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sparql_stream_union").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // every batch solution here uses >= 1 streamed edge, so the stream
    // must emit exactly the batch answer over static ∪ streamed
    val batch = graft.sparql.Sparql.execute(spark,
        graft.sparql.Sparql.Dataset.Triples(static2.union(Seq(
          ("customer:1", "nationkey", "nation:3"),
          ("nation:1", "altregion", "region:9")).toDF("s", "p", "o"))), query)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    got shouldBe batch
    batch shouldBe Set(("customer:1", "region:4"),
      ("customer:1", "region:8"), ("customer:0", "region:9"))
  }

  it should "emit batch-equivalent rows for TWO UNION blocks (4 delta arms)" in {
    // two UNION blocks are independent join factors: the delta
    // distributes over each, so the stream compiles the 2x2 product of
    // branch choices and unions the four arms
    implicit val sqlCtx = spark.sqlContext
    val static2 = Seq(
      ("nation:3", "regionkey", "region:4"),
      ("nation:3", "altregion", "region:8"),
      ("region:4", "name", "ASIA"),
      ("region:8", "alias", "EMEA"),
      ("region:9", "alias", "APAC"),
      ("customer:0", "nationkey", "nation:1")).toDF("s", "p", "o")
    val query =
      """PREFIX : <>
        |SELECT ?c ?r ?nm WHERE {
        |  ?c :nationkey ?n .
        |  { ?n :regionkey ?r } UNION { ?n :altregion ?r }
        |  { ?r :name ?nm } UNION { ?r :alias ?nm }
        |}""".stripMargin
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2, query)
    val q = out.writeStream.format("memory").queryName("sparql_stream_union2")
      .outputMode("append").start()
    // a streamed customer edge reaches solutions through BOTH first-block
    // branches, each continuing through a different second-block branch
    src.addData(("customer:1", "nationkey", "nation:3"))
    q.processAllAvailable()
    // a streamed alt edge for nation:1 completes the static customer:0
    // chain through the (altregion, alias) arm
    src.addData(("nation:1", "altregion", "region:9"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sparql_stream_union2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // every batch solution here uses exactly one streamed edge (the
    // delta contract), so the stream must emit the full batch answer
    val batch = graft.sparql.Sparql.execute(spark,
        graft.sparql.Sparql.Dataset.Triples(static2.union(Seq(
          ("customer:1", "nationkey", "nation:3"),
          ("nation:1", "altregion", "region:9")).toDF("s", "p", "o"))), query)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    got shouldBe batch
    batch shouldBe Set(
      ("customer:1", "region:4", "ASIA"),
      ("customer:1", "region:8", "EMEA"),
      ("customer:0", "region:9", "APAC"))
  }

  it should "subtract static MINUS groups from arriving solutions" in {
    implicit val sqlCtx = spark.sqlContext
    val static2 = Seq(
      ("nation:1", "regionkey", "region:2"),
      ("nation:3", "regionkey", "region:4"),
      ("nation:3", "landlocked", "true")).toDF("s", "p", "o")
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2,
      """PREFIX : <>
        |SELECT ?c ?n WHERE {
        |  ?c :nationkey ?n .
        |  MINUS { ?n :landlocked "true" }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("sparql_stream_minus")
      .outputMode("append").start()
    src.addData(
      ("customer:7", "nationkey", "nation:1"),  // survives
      ("customer:8", "nationkey", "nation:3"))  // subtracted (landlocked)
    q.processAllAvailable()
    q.stop()
    spark.table("sparql_stream_minus").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("customer:7", "nation:1"))
  }

  it should "constrain and extend arriving solutions with VALUES" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), staticTriples,
      """PREFIX : <>
        |SELECT ?c ?n ?tag WHERE {
        |  ?c :nationkey ?n .
        |  VALUES ?n { "nation:1" }
        |  VALUES ?tag { "t1" "t2" }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("sparql_stream_values")
      .outputMode("append").start()
    src.addData(
      ("customer:7", "nationkey", "nation:1"),  // kept, extended x2
      ("customer:8", "nationkey", "nation:9"))  // filtered by VALUES ?n
    q.processAllAvailable()
    q.stop()
    spark.table("sparql_stream_values").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet shouldBe
      Set(("customer:7", "nation:1", "t1"), ("customer:7", "nation:1", "t2"))
  }

  it should "join arriving edges through a static property path" in {
    // the path relation reads the STATIC store only (bounded → the
    // inner join is append-safe); stream edges do not extend traversals
    implicit val sqlCtx = spark.sqlContext
    val static2 = Seq(
      ("cat:a", "broader", "cat:b"),
      ("cat:b", "broader", "cat:c")).toDF("s", "p", "o")
    val query =
      """PREFIX : <>
        |SELECT ?d ?root WHERE {
        |  ?d :inCategory ?c .
        |  ?c :broader+ ?root .
        |}""".stripMargin
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2, query)
    val q = out.writeStream.format("memory").queryName("sparql_stream_path")
      .outputMode("append").start()
    src.addData(
      ("doc:1", "inCategory", "cat:a"),   // a -> b, a -> c
      ("doc:2", "inCategory", "cat:c"))   // no outgoing broader edge
    q.processAllAvailable()
    src.addData(("doc:3", "inCategory", "cat:b")) // second batch: b -> c
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sparql_stream_path").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    got shouldBe Set(
      ("doc:1", "cat:b"), ("doc:1", "cat:c"), ("doc:3", "cat:c"))
  }

  it should "enrich arriving edges with a static aggregate subquery" in {
    // the subquery evaluates against the STATIC store only — a bounded
    // relation, joined in append-safely on its shared variable
    implicit val sqlCtx = spark.sqlContext
    val static2 = Seq(
      ("nation:1", "memberOf", "region:2"),
      ("nation:3", "memberOf", "region:2"),
      ("nation:5", "memberOf", "region:4")).toDF("s", "p", "o")
    val query =
      """PREFIX : <>
        |SELECT ?c ?r ?n WHERE {
        |  ?c :locatedIn ?r .
        |  { SELECT ?r (COUNT(?m) AS ?n) WHERE { ?m :memberOf ?r } GROUP BY ?r }
        |}""".stripMargin
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2, query)
    val q = out.writeStream.format("memory").queryName("sparql_stream_subq")
      .outputMode("append").start()
    src.addData(
      ("customer:7", "locatedIn", "region:2"),
      ("customer:8", "locatedIn", "region:4"),
      ("customer:9", "locatedIn", "region:9")) // no members -> dropped
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sparql_stream_subq").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    got shouldBe Set(
      ("customer:7", "region:2", 2L), ("customer:8", "region:4", 1L))
  }

  it should "apply a filter over path-bound vars after the static join" in {
    implicit val sqlCtx = spark.sqlContext
    val static2 = Seq(
      ("cat:a", "broader", "cat:b"),
      ("cat:b", "broader", "cat:c")).toDF("s", "p", "o")
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2,
      """PREFIX : <>
        |SELECT ?d ?root WHERE {
        |  ?d :inCategory ?c .
        |  ?c :broader+ ?root .
        |  FILTER (?root != "cat:b")
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("sparql_stream_pathf")
      .outputMode("append").start()
    src.addData(("doc:1", "inCategory", "cat:a"))
    q.processAllAvailable()
    q.stop()
    spark.table("sparql_stream_pathf").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("doc:1", "cat:c"))
  }

  it should "apply FILTER [NOT] EXISTS against the static store" in {
    implicit val sqlCtx = spark.sqlContext
    val static2 = Seq(
      ("nation:1", "regionkey", "region:2"),
      ("nation:3", "landlocked", "true")).toDF("s", "p", "o")
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2,
      """PREFIX : <>
        |SELECT ?c ?n WHERE {
        |  ?c :nationkey ?n .
        |  FILTER EXISTS { ?n :regionkey ?r }
        |  FILTER NOT EXISTS { ?n :landlocked "true" }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("sparql_stream_exists")
      .outputMode("append").start()
    src.addData(
      ("customer:7", "nationkey", "nation:1"),  // has region, not landlocked
      ("customer:8", "nationkey", "nation:3"),  // landlocked -> dropped
      ("customer:9", "nationkey", "nation:9"))  // no region -> dropped
    q.processAllAvailable()
    q.stop()
    spark.table("sparql_stream_exists").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("customer:7", "nation:1"))
  }

  it should "flatten plain nested groups into the per-pattern delta" in {
    // the nested group's triple must still bind to ARRIVING edges (it
    // gets its own per-pattern delta arm), not just the static store —
    // the flattening proof; one new edge per solution, per the
    // stream-static contract
    implicit val sqlCtx = spark.sqlContext
    val static2 = staticTriples
      .union(Seq(("customer:2", "nationkey", "nation:9")).toDF("s", "p", "o"))
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("s", "p", "o"), static2,
      """PREFIX : <>
        |SELECT ?c ?r WHERE {
        |  ?c :nationkey ?n .
        |  { ?n :regionkey ?r . FILTER (?r != "region:4") }
        |}""".stripMargin)
    val q = out.writeStream.format("memory").queryName("sparql_stream_subgrp")
      .outputMode("append").start()
    // outer pattern's edge arrives; nested pattern matches from static
    src.addData(("customer:1", "nationkey", "nation:1"))
    q.processAllAvailable()
    // the NESTED pattern's edge arrives; outer matches from static
    src.addData(("nation:9", "regionkey", "region:8"))
    q.processAllAvailable()
    q.stop()
    spark.table("sparql_stream_subgrp").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet shouldBe
      Set(("customer:1", "region:2"), ("customer:2", "region:8"))
  }

  "Sparql.constructStream" should
    "maintain a derived graph from arriving solutions" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    val out = graft.sparql.Sparql.constructStream(spark,
      src.toDF().toDF("s", "p", "o"), staticTriples,
      """PREFIX : <>
        |CONSTRUCT { ?c :inRegion ?r . ?r :hasMember ?c }
        |WHERE { ?c :nationkey ?n . ?n :regionkey ?r }""".stripMargin)
    out.isStreaming shouldBe true
    val q = out.writeStream.format("memory").queryName("sparql_stream_constr")
      .outputMode("append").start()
    src.addData(
      ("customer:7", "nationkey", "nation:1"),
      ("customer:8", "nationkey", "nation:99")) // no region -> no derived
    q.processAllAvailable()
    q.stop()
    spark.table("sparql_stream_constr").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet shouldBe
      Set(("customer:7", "inRegion", "region:2"),
        ("region:2", "hasMember", "customer:7"))
  }

  it should "deduplicate SELECT DISTINCT within the watermark horizon" in {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val src = MemoryStream[(Timestamp, String, String, String)]
    val out = graft.sparql.Sparql.executeStream(spark,
      src.toDF().toDF("ts", "s", "p", "o"), staticTriples,
      """PREFIX : <>
        |SELECT DISTINCT ?r WHERE {
        |  ?c :nationkey ?n .
        |  ?n :regionkey ?r .
        |}""".stripMargin,
      watermark = Some("10 minutes"))
    out.isStreaming shouldBe true
    val q = out.writeStream.format("memory").queryName("sparql_stream_distinct")
      .outputMode("append").start()
    // three customers, two distinct regions — duplicates inside the horizon
    src.addData(
      (ts("2024-01-01 00:01:00"), "customer:7", "nationkey", "nation:1"),
      (ts("2024-01-01 00:02:00"), "customer:8", "nationkey", "nation:1"),
      (ts("2024-01-01 00:03:00"), "customer:9", "nationkey", "nation:3"))
    q.processAllAvailable()
    src.addData(
      (ts("2024-01-01 00:04:00"), "customer:10", "nationkey", "nation:1"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sparql_stream_distinct").collect()
      .map(_.getString(0)).toSeq
    rows.sorted shouldBe Seq("region:2", "region:4")
  }

  it should "reject DISTINCT without a watermark" in {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, String, String)]
    an[IllegalArgumentException] should be thrownBy
      graft.sparql.Sparql.executeStream(spark,
        src.toDF().toDF("s", "p", "o"), staticTriples,
        "PREFIX : <>\nSELECT DISTINCT ?c WHERE { ?c :nationkey ?n }")
  }

  "Sparql.executeStreamWindowed" should
    "emit finalized windowed GROUP BY counts under the watermark" in {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val src = MemoryStream[(Timestamp, String, String, String)]
    val out = graft.sparql.Sparql.executeStreamWindowed(spark,
      src.toDF().toDF("ts", "s", "p", "o"), staticTriples,
      """PREFIX : <>
        |SELECT ?r (COUNT(?c) AS ?cnt) WHERE {
        |  ?c :nationkey ?n .
        |  ?n :regionkey ?r .
        |} GROUP BY ?r""".stripMargin,
      windowLen = "10 minutes", watermark = "0 seconds")
    out.isStreaming shouldBe true
    val q = out.writeStream.format("memory").queryName("sparql_stream_win")
      .outputMode("append").start()
    // window [00:00, 00:10): two customers land in region:2, one in region:4
    src.addData(
      (ts("2024-01-01 00:01:00"), "customer:7", "nationkey", "nation:1"),
      (ts("2024-01-01 00:02:00"), "customer:8", "nationkey", "nation:1"),
      (ts("2024-01-01 00:03:00"), "customer:9", "nationkey", "nation:3"))
    q.processAllAvailable()
    // nothing emitted yet: the watermark (00:03) has not passed 00:10
    spark.table("sparql_stream_win").count() shouldBe 0L
    // later events advance the watermark past the first window's end...
    src.addData((ts("2024-01-01 00:25:00"), "customer:10", "nationkey", "nation:1"))
    q.processAllAvailable()
    src.addData((ts("2024-01-01 00:26:00"), "customer:11", "nationkey", "nation:3"))
    q.processAllAvailable()
    q.stop()
    // ...so the first window's groups emit exactly once, finalized
    val rows = spark.table("sparql_stream_win").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    rows shouldBe Set(
      ("2024-01-01 00:00:00", "2024-01-01 00:10:00", "region:2", 2L),
      ("2024-01-01 00:00:00", "2024-01-01 00:10:00", "region:4", 1L))
  }

  it should "reject DISTINCT aggregates with the module's own error" in {
    // Structured Streaming disallows distinct aggregates on streaming
    // aggregations — fail at compile with a clear message, not with an
    // engine AnalysisException when the stream starts
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val src = MemoryStream[(Timestamp, String, String, String)]
    val ex = the[IllegalArgumentException] thrownBy
      graft.sparql.Sparql.executeStreamWindowed(spark,
        src.toDF().toDF("ts", "s", "p", "o"), staticTriples,
        """PREFIX : <>
          |SELECT (COUNT(DISTINCT ?c) AS ?cnt) WHERE { ?c :nationkey ?n }""".stripMargin,
        windowLen = "10 minutes", watermark = "0 seconds")
    ex.getMessage should include("DISTINCT")
  }

  it should "apply HAVING to the finalized windowed groups" in {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val src = MemoryStream[(Timestamp, String, String, String)]
    val out = graft.sparql.Sparql.executeStreamWindowed(spark,
      src.toDF().toDF("ts", "s", "p", "o"), staticTriples,
      """PREFIX : <>
        |SELECT ?r (COUNT(?c) AS ?cnt) WHERE {
        |  ?c :nationkey ?n .
        |  ?n :regionkey ?r .
        |} GROUP BY ?r HAVING (COUNT(?c) > 1)""".stripMargin,
      windowLen = "10 minutes", watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sparql_stream_having")
      .outputMode("append").start()
    src.addData(
      (ts("2024-01-01 00:01:00"), "customer:7", "nationkey", "nation:1"),
      (ts("2024-01-01 00:02:00"), "customer:8", "nationkey", "nation:1"),
      (ts("2024-01-01 00:03:00"), "customer:9", "nationkey", "nation:3"))
    q.processAllAvailable()
    src.addData((ts("2024-01-01 00:25:00"), "customer:10", "nationkey", "nation:1"))
    q.processAllAvailable()
    q.stop()
    // region:4's singleton group is filtered by HAVING; region:2 survives
    val rows = spark.table("sparql_stream_having").collect()
      .map(r => (r.getString(2), r.getLong(3))).toSet
    rows shouldBe Set(("region:2", 2L))
  }

  it should "aggregate over UNION delta arms and static-OPTIONAL enrichment" in {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val statics = Seq(
      ("nation:1", "regionkey", "region:2"),
      ("nation:3", "regionkey", "region:4"),
      ("region:2", "rname", "\"EU\"") // region:4 has no rname -> null group
    ).toDF("s", "p", "o")
    val src = MemoryStream[(Timestamp, String, String, String)]
    // customers arrive via EITHER predicate (UNION); rname enriches from
    // the static store (OPTIONAL) and groups the windowed count
    val out = graft.sparql.Sparql.executeStreamWindowed(spark,
      src.toDF().toDF("ts", "s", "p", "o"), statics,
      """PREFIX : <>
        |SELECT ?r ?rn (COUNT(?c) AS ?cnt) WHERE {
        |  { ?c :nationkey ?n } UNION { ?c :natkey2 ?n }
        |  ?n :regionkey ?r .
        |  OPTIONAL { ?r :rname ?rn }
        |} GROUP BY ?r ?rn""".stripMargin,
      windowLen = "10 minutes", watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sparql_stream_wua")
      .outputMode("append").start()
    src.addData(
      (ts("2024-01-01 00:01:00"), "customer:7", "nationkey", "nation:1"),
      (ts("2024-01-01 00:02:00"), "customer:8", "natkey2", "nation:1"),
      (ts("2024-01-01 00:03:00"), "customer:9", "natkey2", "nation:3"))
    q.processAllAvailable()
    src.addData((ts("2024-01-01 00:25:00"), "customer:10", "nationkey", "nation:1"))
    q.processAllAvailable()
    q.stop()
    // both UNION arrivals for nation:1 count in one (region, rname) group;
    // nation:3's region enriches to a null rname
    val rows = spark.table("sparql_stream_wua").collect()
      .map(r => (r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3), r.getLong(4))).toSet
    rows shouldBe Set(
      ("region:2", "\"EU\"", 2L),
      ("region:4", null, 1L))
  }

  it should "support sliding windows (each solution in len/slide of them)" in {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val src = MemoryStream[(Timestamp, String, String, String)]
    val out = graft.sparql.Sparql.executeStreamWindowed(spark,
      src.toDF().toDF("ts", "s", "p", "o"), staticTriples,
      """PREFIX : <>
        |SELECT ?r (COUNT(?c) AS ?cnt) WHERE {
        |  ?c :nationkey ?n . ?n :regionkey ?r .
        |} GROUP BY ?r""".stripMargin,
      windowLen = "10 minutes", watermark = "0 seconds",
      slide = Some("5 minutes"))
    val q = out.writeStream.format("memory").queryName("sparql_stream_slide")
      .outputMode("append").start()
    src.addData((ts("2024-01-01 00:06:00"), "customer:7", "nationkey", "nation:1"))
    q.processAllAvailable()
    src.addData((ts("2024-01-01 00:40:00"), "customer:8", "nationkey", "nation:1"))
    q.processAllAvailable()
    q.stop()
    // the 00:06 solution lands in BOTH overlapping windows
    val rows = spark.table("sparql_stream_slide").collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3))).toSet
    rows shouldBe Set(
      ("2024-01-01 00:00:00", "region:2", 1L),
      ("2024-01-01 00:05:00", "region:2", 1L))
  }
}
