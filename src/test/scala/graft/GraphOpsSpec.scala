package graft

import graft.ops.GraphOps
import org.apache.spark.sql.functions._

/** Random-walk sampling over an edge relation: structural validity (every
  * transition is an edge), per-(start, walk) determinism, dead-end
  * truncation, and hash-uniformity sanity over a branching node.
  */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  // a -> {b, c}; b -> d; c is a DEAD END; d -> a (cycle back)
  lazy val edges = Seq(
    ("a", "b"), ("a", "c"), ("b", "d"), ("d", "a")
  ).toDF("s", "o")

  "GraphOps.randomWalks" should "emit step 0 and only valid transitions" in {
    val walks = GraphOps.randomWalks(edges, Seq("a").toDF("n"),
      steps = 3, walksPerStart = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // every walk starts at its start node
    walks.filter(_._3 == 0L).map(w => (w._1, w._4)).distinct shouldBe Array(("a", "a"))
    walks.filter(_._3 == 0L).length shouldBe 8
    // every consecutive (step k -> k+1) pair is a real edge
    val edgeSet = Set("a" -> "b", "a" -> "c", "b" -> "d", "d" -> "a")
    walks.groupBy(w => (w._1, w._2)).values.foreach { walk =>
      walk.sortBy(_._3).sliding(2).foreach {
        case Array(x, y) =>
          y._3 shouldBe x._3 + 1
          edgeSet should contain(x._4 -> y._4)
        case _ =>
      }
    }
  }

  it should "be deterministic and truncate at dead ends" in {
    def run() = GraphOps.randomWalks(edges, Seq("a").toDF("n"),
      steps = 4, walksPerStart = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).sorted
    val first = run()
    run() shouldBe first // content-hash choices: bit-identical reruns
    // a walk reaching c STOPS there (c has no outgoing edges) — whether it
    // got there directly (a->c) or around the cycle (a->b->d->a->c)
    val byWalk = first.groupBy(w => (w._1, w._2)).values
    val truncated = byWalk.filter(_.exists(_._4 == "c"))
    truncated.foreach { walk =>
      val cStep = walk.find(_._4 == "c").get._3
      walk.map(_._3).max shouldBe cStep
    }
    truncated should not be empty // 8 walks over repeated fair coins: ~certain
    // walks never reaching c run the full 4 steps
    byWalk.filter(w => !w.exists(_._4 == "c"))
      .foreach(walk => walk.map(_._3).max shouldBe 4L)
  }

  it should "choose both branches of a fork across walks" in {
    val walks = GraphOps.randomWalks(edges, Seq("a").toDF("n"),
      steps = 1, walksPerStart = 16).collect()
      .map(r => r.getString(3)).filter(_ != "a")
    walks.toSet shouldBe Set("b", "c") // 16 hashed coins hit both sides
  }

  "minLabelPropagation" should "converge to component minima within the diameter" in {
    // two components: {a,b,c} path and {x,y} pair (undirected edges)
    val g = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("x", "y"), ("y", "x")).toDF("s", "o")
    val labs = bothPaths(GraphOps.minLabelPropagation(GraphOps.rankedAdjacency(g), 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    labs shouldBe Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x")
    // with ONE round, c only sees b's initial label
    val one = bothPaths(GraphOps.minLabelPropagation(GraphOps.rankedAdjacency(g), 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    one("c") shouldBe "b"
  }

  /** `run` at the default cap (the driver algorithms at these sizes)
    * and under `graphDriverCap.withValue(-1)` (the distributed plans):
    * both must give the same result, which is returned. */
  private def bothPaths[T](run: => T): T = {
    val onDriver = run
    GraphOps.graphDriverCap.withValue(-1)(run) shouldBe onDriver
    onDriver
  }

  /** PageRank's (node → rank) on both paths, bit for bit. */
  private def pageRankBothPaths(adj: org.apache.spark.sql.DataFrame,
                                iterations: Int): Map[String, Double] =
    bothPaths(GraphOps.pageRank(adj, iterations).collect()
      .map(r => r.getString(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap)
      .map { case (k, v) => k -> java.lang.Double.longBitsToDouble(v) }

  /** Node → minimum member of its component, by a plain union-find. */
  private def bruteComponents[A](pairs: Seq[(A, A)])(implicit ord: Ordering[A]): Map[A, A] = {
    val parent = scala.collection.mutable.Map[A, A]()
    def find(x: A): A = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** `connectedComponents` of string edges on the driver union-find and,
    * through the cap seam, on the rank-encoded distributed fixpoint —
    * both must give the same map, which is returned. */
  private def stringComponentsBothPaths(edges: org.apache.spark.sql.DataFrame): Map[String, String] = {
    bothPaths(GraphOps.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
  }

  "connectedComponents" should "converge past any fixed round bound on a long chain" in {
    // a 40-node path: diameter 39, far beyond what bounded-round label
    // propagation covers — the distributed fixpoint must still converge
    // inside the op's default round guard
    val chain = (0 until 39).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("s", "o")
    val cc = stringComponentsBothPaths(chain)
    cc.size shouldBe 40
    cc.values.toSet shouldBe Set("n00")
  }

  it should "match brute-force components on a messy seeded random graph" in {
    // sparse deterministic graph over 60 nodes -> several components of
    // varied diameter; feed duplicate, reversed, and self-loop edges
    val n = 60
    val pairs = for {
      i <- 0 until n; j <- i + 1 until n
      if ((i * 37 + j * 11 + (i * j) % 13) % 41) == 0
    } yield (f"n$i%02d", f"n$j%02d")
    val messy = pairs ++ pairs.map(_.swap) ++ pairs.take(7) ++
      Seq(("n03", "n03"))
    val got = stringComponentsBothPaths(messy.toDF("s", "o"))
    val comp = bruteComponents(pairs)
    comp.values.toSet.size should be > 3 // fixture has several components
    got shouldBe comp
  }

  it should "agree with the GraphX Pregel clusters on the pair-graph shape" in {
    // GraphX's own connected components, an independent implementation
    import org.apache.spark.graphx.{Edge, Graph}
    val raw = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L))
    val viaGraphx = Graph.fromEdges(
        spark.sparkContext.parallelize(raw.map { case (a, b) => Edge(a, b, 1) }), 0)
      .connectedComponents().vertices.collect().toMap
    val pairs = raw.toDF("doc_a", "doc_b")
    val viaClusters = graft.ops.DedupOps.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCc = GraphOps.graphDriverCap.withValue(-1)(
      GraphOps.connectedComponents(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    viaClusters shouldBe viaGraphx
    viaCc shouldBe viaGraphx
  }

  it should "give the same components when every round ships its delta shuffled" in {
    // long ids on the distributed fixpoint (the cap seam at -1): the
    // default run moves each round's changed labels as a broadcast (the
    // set stays under CcBroadcastDelta); a delta cap of -1 sends every
    // round through the shuffled delta join instead. Inputs: a 300-node
    // ascending chain plus a detached 3-cycle; the same chain in
    // scrambled and in seeded random id order — ids that do not grow
    // along the chain, which min-label relaxation alone walks one hop
    // per round (root hooking keeps them to a handful)
    val ids = (0 until 300).map(i => 10000L + i)
    val scrambled = (0 until 300).map(i => (i * 7919L) % 1009 + 10000L)
    val shuffled = new scala.util.Random(20261019L).shuffle((0 until 300).map(_ + 20000L))
    val graphs = Seq(
      ids.zip(ids.tail) ++ Seq((1L, 2L), (2L, 3L), (3L, 1L)),
      scrambled.zip(scrambled.tail),
      shuffled.zip(shuffled.tail))
    graphs.foreach { pairs =>
      val edges = pairs.toDF("s", "o")
      def comps(): Map[Long, Long] = {
        val cc = GraphOps.connectedComponents(edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        GraphOps.lastCcRounds.get() should (be >= 1L and be <= 16L)
        cc
      }
      val (viaBroadcast, viaShuffle) = GraphOps.graphDriverCap.withValue(-1)(
        (comps(), GraphOps.ccBroadcastDelta.withValue(-1L)(comps())))
      val expected = bruteComponents(pairs)
      viaBroadcast shouldBe expected
      viaShuffle shouldBe expected
      // the driver union-find (the default at this size) agrees
      GraphOps.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
      GraphOps.lastCcRounds.get() shouldBe 0L
    }
    bruteComponents(graphs.head).values.toSet shouldBe Set(ids.min, 1L)
  }

  "orderRanks" should "assign order-preserving ranks, so min(rank) ≡ min(node)" in {
    val nodes = Seq("m", "a", "z", "k", "a").toDF("node")
    val rk = GraphOps.orderRanks(nodes).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rk.size shouldBe 4 // distinct
    rk.toSeq.sortBy(_._2).map(_._1) shouldBe Seq("a", "k", "m", "z")
    // ranks need not be dense — only strictly increasing in node order
    Seq("a", "k", "m", "z").map(rk).sliding(2).foreach {
      case Seq(lo, hi) => lo should be < hi
      case _           => ()
    }
  }

  it should "accept encoded long node ids, not just strings" in {
    // the doc recommends orderRanks for encoded-id iteration — node
    // column typed long must work (generic Row.get, no getString cast)
    val nodes = Seq(42L, 7L, 99L, 7L).toDF("node")
    val rk = GraphOps.orderRanks(nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rk.keySet shouldBe Set(7L, 42L, 99L)
    rk(7L) should be < rk(42L)
    rk(42L) should be < rk(99L)
  }

  it should "make rank-encoded label propagation decode to the string result" in {
    // the iterate-on-longs discipline (SparkEntry.labelPropQ): translate
    // the adjacency through order-preserving ranks, iterate, decode —
    // must equal the direct string iteration exactly
    val g = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("x", "y"), ("y", "x")).toDF("s", "o")
    val direct = GraphOps.minLabelPropagation(GraphOps.rankedAdjacency(g), 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ranks = GraphOps.orderRanks(g.select("s"))
    val o2 = ranks.select(col("node").as("o"), col("rk").as("ork"))
    val gRk = g.join(ranks, g("s") === ranks("node")).join(o2, Seq("o"))
      .select(col("rk").as("s"), col("ork").as("o"))
    val labs = GraphOps.minLabelPropagation(GraphOps.rankedAdjacency(gRk), 3)
    val byNode = ranks.select(col("rk").as("node"), col("node").as("nodeName"))
    val byLab = ranks.select(col("rk").as("lab"), col("node").as("labName"))
    val decoded = labs.join(byNode, Seq("node")).join(byLab, Seq("lab"))
      .collect().map(r => r.getAs[String]("nodeName") -> r.getAs[String]("labName")).toMap
    decoded shouldBe direct
  }

  "pageRank" should "be stationary on a symmetric pair and rank hubs above leaves" in {
    // undirected pair: uniform 1/2 is the fixpoint at any damping
    val pair = Seq(("a", "b"), ("b", "a")).toDF("s", "o")
    val pr = pageRankBothPaths(GraphOps.rankedAdjacency(pair), iterations = 3)
    pr("a") shouldBe 0.5 +- 1e-9
    pr("b") shouldBe 0.5 +- 1e-9
    // undirected star: the center out-ranks the leaves, mass sums to ~1
    val star = Seq(("c", "x"), ("c", "y"), ("x", "c"), ("y", "c"))
      .toDF("s", "o")
    val ps = pageRankBothPaths(GraphOps.rankedAdjacency(star), iterations = 3)
    ps("c") should be > ps("x")
    ps("x") shouldBe ps("y")
    (ps("c") + ps("x") + ps("y")) shouldBe 1.0 +- 1e-6
  }

  it should "run identically under the RELIABLE checkpoint strategy" in {
    // the cluster-durability path: loop intermediates become reliable
    // checkpoints (files under the checkpoint dir that survive executor
    // loss), forced on here since local masters auto-select local ones.
    // The distributed plan (the cap seam at -1) is the one that pins;
    // the driver path at the default cap must give the same bits
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.pins.reliable", "true")
    try {
      val pair = Seq(("a", "b"), ("b", "a")).toDF("s", "o")
      val pr = GraphOps.graphDriverCap.withValue(-1)(
        GraphOps.pageRank(GraphOps.rankedAdjacency(pair), iterations = 3))
      val got = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      got("a") shouldBe 0.5 +- 1e-9
      got("b") shouldBe 0.5 +- 1e-9
      pageRankBothPaths(GraphOps.rankedAdjacency(pair), iterations = 3) shouldBe got
      // the sealed result really is a reliable checkpoint, not a local one
      Pins.isPinned(pr) shouldBe true
      import org.apache.spark.sql.execution.LogicalRDD
      pr.queryExecution.analyzed.asInstanceOf[LogicalRDD]
        .rdd.getCheckpointFile should not be empty
    } finally {
      spark.conf.set("spark.graft.pins.reliable", "false")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  "triangleCounts" should "match brute-force enumeration on a seeded random graph" in {
    // deterministic pseudo-random graph over 24 nodes: edge (i, j) iff
    // md5-ish hash parity — dense enough for many triangles, skewed
    // degrees, self-contained
    val n = 24
    val pairs = for {
      i <- 0 until n; j <- i + 1 until n
      if ((i * 31 + j * 17 + (i * j) % 7) % 3) == 0
    } yield (f"n$i%02d", f"n$j%02d")
    // feed DUPLICATED and reversed edges: the op must canonicalize
    val messy = pairs ++ pairs.map(_.swap) ++ pairs.take(5)
    val got = GraphOps.triangleCounts(messy.toDF("s", "o"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // brute force: every closed 3-subset
    val es = pairs.toSet
    def adj(a: String, b: String) =
      es.contains((a, b)) || es.contains((b, a))
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val triPerNode = scala.collection.mutable.Map[String, Long]()
      .withDefaultValue(0L)
    for {
      a <- nodes; b <- nodes if a < b && adj(a, b)
      c <- nodes if b < c && adj(b, c) && adj(a, c)
    } { triPerNode(a) += 1; triPerNode(b) += 1; triPerNode(c) += 1 }
    val total = triPerNode.values.sum / 3
    total should be > 10L // the fixture actually has triangles
    got.keySet shouldBe nodes.toSet
    nodes.foreach(v => got(v) shouldBe triPerNode(v))
  }

  it should "count zero on a triangle-free graph and 1-per-node on a triangle" in {
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("s", "o")
    GraphOps.triangleCounts(path).collect()
      .map(r => r.getLong(1)).toSet shouldBe Set(0L)
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("s", "o")
    GraphOps.triangleCounts(tri).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 1L, "b" -> 1L, "c" -> 1L)
  }

  "bfsDistances" should "compute exact hop distances and stop at the round bound" in {
    // chain a-b-c-d-e plus a shortcut a-d: dist(d)=1 via the shortcut
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "d"))
    val und = chain ++ chain.map(_.swap)
    val adj = GraphOps.rankedAdjacency(und.toDF("s", "o"))
    val d2 = bothPaths(GraphOps.bfsDistances(adj, Seq("a").toDF("n"), rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    d2 shouldBe Map("a" -> 0L, "b" -> 1L, "d" -> 1L, "c" -> 2L, "e" -> 2L)
    // bound 1: only the immediate neighborhood
    val d1 = bothPaths(GraphOps.bfsDistances(adj, Seq("a").toDF("n"), rounds = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    d1 shouldBe Map("a" -> 0L, "b" -> 1L, "d" -> 1L)
  }

  it should "take the minimum over a multi-source seed set and exit early" in {
    // two components; seeds in both; rounds beyond the diameter exit
    // early on the empty frontier instead of running all 10
    val comp = Seq(("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"))
    val adj = GraphOps.rankedAdjacency(comp.toDF("s", "o"))
    val d = bothPaths(GraphOps.bfsDistances(adj, Seq("a", "y").toDF("n"), rounds = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    d shouldBe Map("a" -> 0L, "b" -> 1L, "y" -> 0L, "x" -> 1L)
  }

  "GraphOps.shortestPaths" should "relax weighted paths past cheaper multi-hop routes" in {
    // the 2-hop route 1->3->2 (1+2=3) beats the direct edge (10); a
    // frontier that settles node 2 on first touch returns 10
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L))
    val got = bothPaths(GraphOps.shortestPaths(e.toDF("a", "b", "w"),
        Seq(1L).toDF("n"), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    got shouldBe Map(1L -> 0.0, 3L -> 1.0, 2L -> 3.0)
    GraphOps.lastShortestPathsDrained.get() shouldBe true
    // rounds bound caps hop depth (not weight): 1 round misses the
    // improvement through 3 — present rows are OVERESTIMATES and the
    // drained telemetry says so
    val g1 = bothPaths(GraphOps.shortestPaths(e.toDF("a", "b", "w"),
        Seq(1L).toDF("n"), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    g1 shouldBe Map(1L -> 0.0, 2L -> 10.0, 3L -> 1.0)
    GraphOps.lastShortestPathsDrained.get() shouldBe false
    GraphOps.lastShortestPathsRounds.get() shouldBe 1L
    // multi-source takes the minimum; unreachable nodes stay absent
    val e2 = Seq((1L, 2L, 5L), (9L, 2L, 1L), (7L, 8L, 1L))
    val ms = bothPaths(GraphOps.shortestPaths(e2.toDF("a", "b", "w"),
        Seq(1L, 9L).toDF("n"), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    ms shouldBe Map(1L -> 0.0, 9L -> 0.0, 2L -> 1.0)
  }

  it should "keep fractional weights exact and reject negative weights loudly" in {
    // fractional weights must not truncate: 0.5 + 0.25 = 0.75 beats
    // the direct 1.0 edge (a long cast would read both as 0 resp. 1)
    val e = Seq((1L, 2L, 1.0), (1L, 3L, 0.5), (3L, 2L, 0.25))
    val got = bothPaths(GraphOps.shortestPaths(e.toDF("a", "b", "w"),
        Seq(1L).toDF("n"), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    got shouldBe Map(1L -> 0.0, 3L -> 0.5, 2L -> 0.75)
    // negative weights break frontier relaxation — loud, not silent
    val neg = Seq((1L, 2L, 1.0), (2L, 3L, -0.5))
    val msg = bothPaths(intercept[IllegalArgumentException] {
      GraphOps.shortestPaths(neg.toDF("a", "b", "w"),
        Seq(1L).toDF("n"), rounds = 5)
    }.getMessage)
    msg should include("non-negative")
    msg should include("-0.5")
  }

  it should "report the same undrained telemetry on both paths at rounds = 1" in {
    // 1 -> 3 -> 2 beats 1 -> 2 only after two hops: one round leaves an
    // overestimate for 2 and a frontier that has not drained
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L)).toDF("a", "b", "w")
    def run() = {
      val rows = GraphOps.shortestPaths(e, Seq(1L).toDF("n"), rounds = 1)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      (rows, GraphOps.lastShortestPathsRounds.get(),
        GraphOps.lastShortestPathsDrained.get())
    }
    bothPaths(run()) shouldBe ((Map(1L -> 0.0, 2L -> 10.0, 3L -> 1.0), 1L, false))
    // rounds = 0 runs no round and never drains
    bothPaths {
      GraphOps.shortestPaths(e, Seq(1L).toDF("n"), rounds = 0).collect().length
      (GraphOps.lastShortestPathsRounds.get(), GraphOps.lastShortestPathsDrained.get())
    } shouldBe ((0L, false))
  }

  "GraphOps.stronglyConnectedComponents" should "peel a deep chain-of-cycles condensation" in {
    // 10 directed 4-rings bridged one-way ring(g) -> ring(g+1): a
    // 10-level condensation DAG — each peeling pass must determine at
    // least the min-anchored layer, never merge across the one-way
    // bridges, and label every member with its ring minimum
    val edges = (0 until 10).flatMap { g =>
      val base = g * 4 + 1L
      (0 until 4).map(i =>
        (base + i, if (i == 3) base else base + i + 1))
    } ++ (0 until 9).map(g => (g * 4 + 1L, g * 4 + 5L))
    val got = bothPaths(GraphOps.stronglyConnectedComponents(spark,
      edges.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    got.filter(_._1 <= 4L) shouldBe
      Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
    got.groupBy(_._2).keySet shouldBe
      (0 until 10).map(g => g * 4 + 1L).toSet
  }

  it should "bound rounds on a 50-layer adversarial condensation" in {
    // 50 chained 4-rings: min-anchored peeling alone pays ~one pass
    // per layer with diameter-long propagation (O(layers²) rounds);
    // the pair partition must split every ring into its own class
    // after pass one, and the adaptive reach-doubling must keep the
    // first pass's propagation logarithmic in the 200-hop depth. The
    // peeling is the distributed plan (the cap seam at -1); the driver's
    // Tarjan at the default cap must agree
    val edges = (0 until 50).flatMap { g =>
      val base = g * 4 + 1L
      (0 until 4).map(i =>
        (base + i, if (i == 3) base else base + i + 1))
    } ++ (0 until 49).map(g => (g * 4 + 1L, g * 4 + 5L))
    def run() = GraphOps.stronglyConnectedComponents(spark,
      edges.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = GraphOps.graphDriverCap.withValue(-1)(run())
    val rounds = GraphOps.lastSccRounds.get()
    run() shouldBe got
    GraphOps.lastSccRounds.get() shouldBe 0L
    got.groupBy(_._2).keySet shouldBe
      (0 until 50).map(g => g * 4 + 1L).toSet
    got.filter(_._2 == 197L) shouldBe
      Set((197L, 197L), (198L, 197L), (199L, 197L), (200L, 197L))
    // log-bounded, not layer-bounded: far under the default maxRounds
    // a 50-pass peel would blow through
    rounds should be < 80L
  }

  it should "budget reach doubling and degrade loudly to plain rounds" in {
    // 24-node directed path (i+1 -> i): forward propagation needs one
    // round per hop, so the round-8 reach-doubling fires — with the
    // budget factor pinned to 1 every composed candidate exceeds the
    // budget, the pass degrades to plain rounds (telemetered), and the
    // result stays exact (a path is all singleton SCCs); the peeling is
    // the distributed plan (the cap seam at -1)
    GraphOps.sccEdgeBudgetFactor.withValue(1)(GraphOps.graphDriverCap.withValue(-1) {
      val edges = (1 until 24).map(i => (i.toLong + 1, i.toLong))
      val got = GraphOps.stronglyConnectedComponents(spark,
        edges.toDF("a", "b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got shouldBe (1L to 24L).map(i => (i, i)).toSet
      GraphOps.lastSccEdgeBudgetTrips.get() should be >= 1L
      // degraded means hop-bounded rounds, not log-bounded
      GraphOps.lastSccRounds.get() should be >= 20L
      // the rejected composition was counted and recorded, and it never
      // replaced the working edge set (which stayed at the input size)
      GraphOps.lastSccEdges.get() should be > 23L
    })
    // under the default factor a shallow graph never trips the budget
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    GraphOps.graphDriverCap.withValue(-1)(
      GraphOps.stronglyConnectedComponents(spark, dag.toDF("a", "b")).collect())
    GraphOps.lastSccEdgeBudgetTrips.get() shouldBe 0L
  }

  it should "keep directed semantics: a DAG is all singletons" in {
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 3L))
    val got = bothPaths(GraphOps.stronglyConnectedComponents(spark,
      dag.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    got shouldBe Set((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
    // and a 2-cycle hanging off the DAG merges exactly itself
    val mixed = dag ++ Seq((3L, 5L), (5L, 6L), (6L, 5L))
    val got2 = bothPaths(GraphOps.stronglyConnectedComponents(spark,
      mixed.toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    got2 should contain allOf ((5L, 5L), (6L, 5L))
    got2.filter(t => t._1 <= 4L).map(_._2) shouldBe Set(1L, 2L, 3L, 4L)
  }

  /** Vertex → minimum vertex of its SCC, by brute force: u and v share
    * a component iff each reaches the other. */
  private def bruteScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val succ = edges.groupBy(_._1).map { case (a, es) => a -> es.map(_._2) }
    def reach(v: Long): Set[Long] = {
      val seen = scala.collection.mutable.Set(v)
      var frontier = List(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(succ.getOrElse(_, Nil)).filter(seen.add)
      }
      seen.toSet
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val r = verts.map(v => v -> reach(v)).toMap
    verts.map(v => v -> verts.filter(u => r(v)(u) && r(u)(v)).min).toMap
  }

  it should "hand a remainder within the cap to the driver after a distributed pass" in {
    // 10 chained 4-rings plus a seeded sprinkle of extra edges, with
    // duplicates and a self-loop: 49 + 12 + 3 input rows, over a cap of
    // 50, so pass 1 peels on the cluster; its remainder (every ring but
    // the first, with only intra-ring edges left) fits the cap, and
    // Tarjan on the driver finishes it
    val rings = (0 until 10).flatMap { g =>
      val base = g * 4 + 1L
      (0 until 4).map(i => (base + i, if (i == 3) base else base + i + 1))
    } ++ (0 until 9).map(g => (g * 4 + 1L, g * 4 + 5L))
    val rnd = new scala.util.Random(20261019L)
    val extra = Seq.fill(12) {
      val a = 1L + rnd.nextInt(40); (a, math.min(40L, a + 1 + rnd.nextInt(6)))
    }
    val edges = rings ++ extra ++ rings.take(2) :+ ((7L, 7L))
    def run() = GraphOps.stronglyConnectedComponents(spark, edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val handedOff = GraphOps.graphDriverCap.withValue(50)(run())
    GraphOps.lastSccRounds.get() should be > 0L
    val expected = bruteScc(edges)
    expected.values.toSet.size should be > 1
    handedOff shouldBe expected
    GraphOps.graphDriverCap.withValue(-1)(run()) shouldBe expected
    run() shouldBe expected
  }

  "GraphOps reachability" should "match a brute-force BFS on both plans, grouped and seeded" in {
    // (s, o, g) edges: targets reachable by a path of length >= 1 inside
    // one group (a null g is a group of its own; g = "*" merges them all)
    def brute(edges: Seq[(String, String, String)], from: String, g: String): Set[String] = {
      val succ = edges.filter(e => g == "*" || e._3 == g).groupBy(_._1)
        .map { case (k, es) => k -> es.map(_._2) }
      val seen = scala.collection.mutable.Set.empty[String]
      var frontier = succ.getOrElse(from, Nil).filter(seen.add)
      while (frontier.nonEmpty)
        frontier = frontier.flatMap(succ.getOrElse(_, Nil)).filter(seen.add)
      seen.toSet
    }
    val groups = Seq("g1", "g2", null)
    Seq(20261020L, 7L).foreach { seed =>
      // per group a random graph over 12 nodes (cycles and self-loops
      // arise), plus a fixed 2-cycle, a self-loop and duplicate edges
      val rnd = new scala.util.Random(seed)
      def node() = s"n${rnd.nextInt(12)}"
      val base = groups.flatMap(g => Seq.fill(18)((node(), node(), g))) ++
        Seq(("n1", "n1", "g1"), ("n2", "n3", "g2"), ("n3", "n2", "g2"))
      val edges = base ++ base.take(9)
      val df = edges.toDF("s", "o", "g")
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getString(0), r.getString(1),
          if (r.length > 2) r.getString(2) else "*")).toSet
      val sources = edges.map(e => (e._1, e._3)).distinct
      val expectedGrouped =
        sources.flatMap { case (a, g) => brute(edges, a, g).map((a, _, g)) }.toSet
      val expectedAll = sources.map(_._1).distinct
        .flatMap(a => brute(edges, a, "*").map((a, _, "*"))).toSet
      expectedGrouped.exists(t => t._1 == t._2) shouldBe true // cycles give self pairs
      val runs = GraphOps.fixpointRuns.get()
      bothPaths(rows(GraphOps.transitiveClosure(df, Seq("g"), maxRounds = 60))) shouldBe
        expectedGrouped
      GraphOps.lastFixpointRounds.get() should be > 0L // the forced doubling ran last
      bothPaths(rows(GraphOps.transitiveClosure(df.select("s", "o"), maxRounds = 60))) shouldBe
        expectedAll
      val seeds = Seq("n0", "n1", "n2", "absent")
      val seedDf = seeds.toDF("n")
      bothPaths(rows(GraphOps.reachableFrom(df, seedDf, Seq("g")))) shouldBe
        (for (a <- seeds; g <- groups; b <- brute(edges, a, g)) yield (a, b, g)).toSet
      bothPaths(rows(GraphOps.reachableFrom(df.select("s", "o"), seedDf))) shouldBe
        seeds.flatMap(a => brute(edges, a, "*").map((a, _, "*"))).toSet
      GraphOps.fixpointRuns.get() shouldBe runs + 8 // every call counts, on both plans
      GraphOps.reachableFrom(df, seedDf, Seq("g")).collect()
      GraphOps.lastFixpointRounds.get() shouldBe 0L // the driver BFS served it
    }
  }
}
