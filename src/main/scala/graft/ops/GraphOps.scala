package graft.ops

import graft.dict.Dictionary
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.DriverRows
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StructField,
  StructType}

/** Graph sampling over the edge relation — the operator family behind
  * DeepWalk/node2vec-style embedding training data. The reference carried
  * a (commented-out) `randomWalk` vestige
  * (`core/src/main/scala/com/graphula/Graphula.scala:509-658`); this is
  * the working Spark-first version.
  *
  * Scale shape: the ranked adjacency (per-source neighbor ranks + degree)
  * is built ONCE (one window pass) and each walk step is one equi-join of
  * the walker frontier against it — `steps` joins total, no driver-side
  * row movement, walker count = |starts| × walksPerStart regardless of
  * graph size.
  */
object GraphOps {

  /** Round count of the most recent [[connectedComponents]] fixpoint
    * (0 when the driver union-find served the call) — scale-evidence
    * telemetry (tools.ScaleProbe records it at two SFs to confirm the
    * round count stays flat under 10× data).
    */
  private[graft] val lastCcRounds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Fixed-iteration PageRank over a ranked adjacency (use an UNDIRECTED
    * adjacency and every node has out-degree ≥ 1, so no dangling-mass
    * term is needed). Per iteration every node sends `r/deg` along each
    * out-edge; contributions accumulate in integer PICO units
    * (`floor(r/deg · 1e12 + 0.5)` as long — the engine-neutral half-up
    * discipline, since BigDecimal HALF_UP and a float-multiply `round()`
    * diverge on decimal half-boundaries), so the sum is
    * order-independent and the whole recursion replays bit-identically
    * in a SQL oracle — the engine-portable determinism discipline used
    * across this codebase (centroids, surprisal, walks). A node's next
    * rank is `base + d · csum/1e12`; the output rounds it to 1e-9.
    *
    * The plan follows the measured input ([[gated]]): an adjacency of
    * at most [[GraphDriverCap]] rows is collected once and iterated on
    * the driver (the same integer sums, so the same bits); a larger one
    * runs one join (ranks → edges) and one aggregate (contributions →
    * targets) per iteration, with the edges scanned once per iteration
    * and the rank join shuffling on the source key. Iterations are
    * explicit (fixed-point analytics), not convergence-driven — the
    * common production setup. Reads the `s`, `o`, `rk`, `deg` columns.
    */
  def pageRank(rankedAdj: DataFrame, iterations: Int,
               damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "need iterations >= 1")
    gated(rankedAdj.select("s", "o", "rk", "deg"), graft.Pins.isMaterialized(rankedAdj))(
      pageRankOnDriver(rankedAdj.sparkSession, _, rankedAdj.schema, iterations, damping))(
      pageRankRounds(_, iterations, damping))
  }

  /** [[pageRank]]'s distributed rounds over an adjacency that is already
    * materialized (or a projection of one). */
  private def pageRankRounds(adj: DataFrame, iterations: Int,
                             damping: Double): DataFrame = {
    val pins = new graft.Pins
    // one row per source is already marked in the ranked adjacency
    // (rk = 1) — a filter off the cache, NOT a distinct (which paid a
    // full |E| exchange + a checkpoint job per call)
    val nodes = adj.where(col("rk") === 1).select(col("s").as("node"))
    val n = nodes.count()
    val base = (1.0 - damping) / n
    var rank = nodes.withColumn("r", lit(1.0 / n))
    for (k <- 1 to iterations) {
      // one join + one aggregate per round, nothing else: on an
      // UNDIRECTED degree>=1 adjacency every node also RECEIVES at least
      // one contribution, so the aggregate's key set is already the full
      // node set and no per-round nodes re-join is needed.
      // Rounds CHAIN LAZILY: `rank` is referenced exactly once per round,
      // so lineage is linear and ONE job at seal executes the whole
      // chain — and the aggregate's hash(o) output partitioning is
      // still visible to the next round's join (a per-round checkpoint
      // was a LogicalRDD that FORGOT it, forcing one rank exchange per
      // round). A pin every 8 rounds bounds plan depth for deep loops.
      val contrib = adj.join(rank, adj("s") === rank("node"))
        .select(col("o"),
          floor((col("r") / col("deg")) * 1e12 + 0.5).cast("long").as("c"))
      val next = contrib.groupBy(col("o")).agg(sum(col("c")).as("csum"))
        .select(col("o").as("node"),
          (lit(base) + lit(damping) *
            (col("csum").cast("double") / 1e12)).as("r"))
      rank = if (k % 8 == 0 && k < iterations) pins.pin(next) else next
    }
    pins.seal(rank.select(col("node"),
      (floor(col("r") * 1e9 + 0.5) / 1e9).as("rank")))
  }

  /** [[pageRankRounds]] on collected (s, o, rk, deg) rows, as the SQL
    * evaluates it: the rk = 1 rows (counted with multiplicity) are the
    * start set, a node's rank exists after a round only if some edge
    * reached it, and every double operation runs in the plan's order.
    * None (the distributed plan takes the input) for null ends or
    * degrees, a zero degree, ends of two types, or an rk/deg type the
    * driver does not read. */
  private def pageRankOnDriver(spark: SparkSession, rows: Array[InternalRow],
                               schema: StructType, iterations: Int,
                               damping: Double): Option[DataFrame] = {
    val Seq(dt, ot, rkT, degT) = Seq("s", "o", "rk", "deg").map(schema(_).dataType)
    val integral = Set[DataType](IntegerType, LongType)
    if (dt != ot || !integral(rkT) || !(integral(degT) || degT == DoubleType) ||
        hasNull(rows, 0, 1, 3))
      return None
    val deg = rows.map(_.get(3, degT).asInstanceOf[Number].doubleValue)
    if (deg.exists(_ == 0.0)) return None
    val (nodes, Seq(s, o)) = denseIds(rows, dt, 0, 1)
    // a node's rank rows: only the start set can repeat a node
    var mult = new Array[Long](nodes.length)
    rows.indices.foreach(i => if (rkIsOne(rows(i), rkT)) mult(s(i)) += 1)
    val n = mult.sum
    val base = (1.0 - damping) / n
    var rank = Array.fill(nodes.length)(1.0 / n)
    for (_ <- 1 to iterations) {
      val csum = new Array[Long](nodes.length)
      val got = new Array[Long](nodes.length)
      rows.indices.foreach { i =>
        val v = s(i)
        if (mult(v) > 0) {
          csum(o(i)) += math.floor((rank(v) / deg(i)) * 1e12 + 0.5).toLong * mult(v)
          got(o(i)) = 1
        }
      }
      rank = csum.map(c => base + damping * (c.toDouble / 1e12))
      mult = got
    }
    Some(DriverRows.frame(spark,
      StructType(Seq(StructField("node", dt, nullable = false),
        StructField("rank", DoubleType, nullable = false))),
      nodes.indices.filter(mult(_) > 0).map(v =>
        InternalRow(nodes(v), math.floor(rank(v) * 1e9 + 0.5).toLong.toDouble / 1e9))))
  }

  /** Fixed-iteration MIN-LABEL propagation: after `iterations` rounds
    * every node's label is the smallest node id within graph distance
    * `iterations` — the bounded-round connected-components/blocking
    * primitive (duplicate blocks, community seeds). Pure order
    * comparisons — no floats — so a SQL oracle replays it exactly on any
    * term type. The rk = 1 rows' sources start labelled with themselves;
    * each synchronous round a node takes the minimum (Spark's ordering
    * of the node type) of its label and its in-neighbors' labels.
    *
    * The plan follows the measured input ([[gated]]): an adjacency of at
    * most [[GraphDriverCap]] rows runs its rounds on the driver; a
    * larger one runs one join + one min-aggregate per round over the
    * pinned adjacency, labels re-pinned per round and sealed at the end.
    */
  def minLabelPropagation(rankedAdj: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "need iterations >= 1")
    gated(rankedAdj.select("s", "o", "rk"), graft.Pins.isMaterialized(rankedAdj))(
      labelPropOnDriver(rankedAdj.sparkSession, _, rankedAdj.schema, iterations))(
      labelPropRounds(_, iterations))
  }

  /** [[minLabelPropagation]]'s distributed rounds over an adjacency that
    * is already materialized (or a projection of one). */
  private def labelPropRounds(adj: DataFrame, iterations: Int): DataFrame = {
    val pins = new graft.Pins
    // init: one row per source is already marked in the ranked adjacency
    // (rk = 1) — a filter off the cache, NOT a distinct (full exchange)
    var labels = adj.where(col("rk") === 1)
      .select(col("s").as("node"), col("s").as("lab"))
    // labels feed TWO legs per round (neighbor join + self union), so
    // each round MUST materialize eagerly — an unmaterialized chain
    // doubles per round, and a lazy persist duplicates each round's
    // compute when both legs race to fill the cache inside one job
    // (measured slower than the eager pin).
    for (_ <- 1 to iterations) {
      val fromNeighbors = adj.join(labels, adj("s") === labels("node"))
        .select(adj("o").as("node"), col("lab"))
      labels = pins.pin(
        fromNeighbors.unionAll(labels)
          .groupBy("node").agg(min(col("lab")).as("lab")))
    }
    pins.seal(labels)
  }

  /** [[labelPropRounds]] on collected (s, o, rk) rows; None (the
    * distributed plan takes the input) for null ends, ends of two types
    * or a non-integral rk. */
  private def labelPropOnDriver(spark: SparkSession, rows: Array[InternalRow],
                                schema: StructType, iterations: Int): Option[DataFrame] = {
    val Seq(dt, ot, rkT) = Seq("s", "o", "rk").map(schema(_).dataType)
    if (dt != ot || !Set[DataType](IntegerType, LongType)(rkT) || hasNull(rows, 0, 1))
      return None
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val (nodes, Seq(s, o)) = denseIds(rows, dt, 0, 1)
    // each node's label as a dense id, -1 while it has none
    var labels = Array.fill(nodes.length)(-1)
    rows.indices.foreach(i => if (rkIsOne(rows(i), rkT)) labels(s(i)) = s(i))
    for (_ <- 1 to iterations) {
      val next = labels.clone()
      rows.indices.foreach { i =>
        val l = labels(s(i))
        if (l >= 0 && (next(o(i)) < 0 || ord.lt(nodes(l), nodes(next(o(i)))))) next(o(i)) = l
      }
      labels = next
    }
    Some(DriverRows.frame(spark,
      StructType(Seq("node", "lab").map(StructField(_, dt, nullable = false))),
      nodes.indices.filter(labels(_) >= 0).map(v => InternalRow(nodes(v), nodes(labels(v))))))
  }

  /** Dense ids for the node values (of type `dt`) in columns `cols` of
    * collected rows: the distinct values, and per column each row's id
    * into them. */
  private def denseIds(rows: Array[InternalRow], dt: DataType,
                       cols: Int*): (Array[Any], Seq[Array[Int]]) = {
    val id = new java.util.HashMap[Any, Integer]()
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    val perCol = cols.map(c => rows.map { r =>
      val v = r.get(c, dt)
      val i = id.putIfAbsent(v, values.length)
      if (i == null) { values += v; values.length - 1 } else i.intValue
    })
    (values.toArray, perCol)
  }

  /** Ranked adjacency of an edge relation: per-source neighbor ranks and
    * out-degrees — the walk engine's index, built with one window pass.
    * An ingest-time artifact at pipeline scale (every walk batch over the
    * same graph reuses it; see `GraftStore.rankedAdjacency`).
    */
  def rankedAdjacency(edges: DataFrame): DataFrame =
    edges.select(col("s"), col("o")).distinct()
      .withColumn("rk", row_number().over(Window.partitionBy("s").orderBy("o")))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("s")))

  /** ORDER-PRESERVING node ranks: (node, rk) with rk strictly ascending
    * in node order, so `min(rk)` picks the same representative as
    * `min(node)` — the label-prop/connected-components iteration can run
    * on fixed-width longs and decode once at the top, like the SPARQL
    * encoded path. Assignment is one range-partitioned global sort with
    * per-partition indices folded into the partition id — no
    * single-partition window, no second pass. Ranks are NOT dense;
    * consumers only ever compare them and decode at the top.
    */
  def orderRanks(nodes: DataFrame): DataFrame = {
    val c = nodes.columns.head
    val sorted = nodes.select(col(c).as("node")).distinct().orderBy("node")
    // monotonically_increasing_id over the GLOBALLY SORTED relation:
    // (partitionId << 33) + rowIndexInPartition, and the range exchange
    // orders partitions ascending, so the id is strictly increasing in
    // node order — the only property consumers need (min(rk) picks the
    // same representative as min(node); every rank decodes at the top).
    // Ranks are order-preserving, NOT dense. This stays one declarative
    // pass: the old zipWithIndex path paid an extra count job, an
    // RDD round-trip, and per-row boxing.
    sorted.withColumn("rk", monotonically_increasing_id())
  }

  /** Deterministic seeded uniform random walks: `walksPerStart` walks of
    * up to `steps` steps from every start node. The step choice is a
    * CONTENT HASH — `md5(seed|start|walk|step|node)` taken modulo the
    * node's out-degree against the per-neighbor rank — so results are
    * reproducible across engines (DuckDB replays the identical recursion
    * with its own md5; no engine-private PRNG). Walks truncate at
    * dead-end nodes (no outgoing edges).
    *
    * Output: one row per visited position — (start, w, step, node),
    * step 0 = the start node itself.
    */
  def randomWalks(edges: DataFrame, starts: DataFrame, steps: Int,
                  walksPerStart: Int = 1, seed: String = "42"): DataFrame =
    randomWalksRanked(rankedAdjacency(edges), starts, steps, walksPerStart, seed)

  /** Walks over a prebuilt (and ideally pinned) ranked adjacency. */
  def randomWalksRanked(rankedAdj: DataFrame, starts: DataFrame, steps: Int,
                        walksPerStart: Int = 1, seed: String = "42"): DataFrame = {
    require(steps >= 0 && walksPerStart >= 1, "need steps >= 0, walks >= 1")
    val pins = new graft.Pins
    // a cached/checkpointed adjacency is used as-is; a lazy one is pinned
    // for the loop and freed at seal
    val ranked =
      if (graft.Pins.isMaterialized(rankedAdj)) rankedAdj else pins.pin(rankedAdj)
    // each step's frontier is pinned: tiny (|starts| × walksPerStart rows),
    // and without it union branch k would recompute every prior join —
    // `steps` scans of the adjacency instead of O(steps²)
    var walkers = pins.pin(
      starts.select(col(starts.columns.head).as("start")).distinct()
        .select(col("start"),
          explode(sequence(lit(0L), lit(walksPerStart - 1L))).as("w"))
        .select(col("start"), col("w"), lit(0L).as("step"),
          col("start").as("node")))
    var out = walkers
    for (k <- 1 to steps) {
      val choice: Column =
        conv(substring(md5(concat_ws("|",
          lit(seed), col("start"), col("w").cast("string"),
          lit(k.toString), col("node"))), 1, 8), 16, 10).cast("long")
      walkers = pins.pin(walkers.join(ranked, col("node") === col("s"))
        .where(col("rk") === pmod(choice, col("deg")) + 1)
        .select(col("start"), col("w"), lit(k.toLong).as("step"),
          col("o").as("node")))
      out = out.unionAll(walkers)
    }
    pins.seal(out)
  }

  /** Canonical edge sets of at most this many rows (2^22 ≈ 64 MB of
    * long pairs) are broadcast into [[triangleCounts]]' closing join. */
  val TriangleBroadcastEdges: Long = 1L << 22

  /** Exact per-node triangle counts via the degree-ordered wedge join
    * ("compact-forward"): every undirected edge is directed from its
    * lower-(degree, id) endpoint to the higher one, wedges form only at
    * each edge's LOW endpoint, and a wedge closes by one equi-join
    * against the canonical edge set. Wedge fan-out per node is bounded
    * by O(√|E|) regardless of degree skew — the hub that breaks the
    * naive neighbor self-join (a 10⁶-degree node would contribute 10¹²
    * wedges) contributes none here, because hubs sort HIGH in the
    * ordering and high endpoints never originate wedges. Three shuffles
    * total (degree agg, wedge join, closing join); no iteration.
    *
    * Input: any (s, o) edge relation — direction, duplicates, and
    * self-loops are ignored. Output: (node, tri) for every node with at
    * least one edge, tri = number of distinct triangles through it.
    * Pure order comparisons and integer counts, so a SQL oracle replays
    * it exactly on either strings or encoded longs.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val pins = new graft.Pins
    // canonical undirected edge set (a < b), the relation every later
    // stage joins against — pinned once (lazy pin + count = one job;
    // the count also gates the closing-join broadcast below)
    val (cano, nCano) = pins.pinCounted(
      edges.select(least(col("s"), col("o")).as("a"),
          greatest(col("s"), col("o")).as("b"))
        .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
        .distinct())
    // the closing join's probe side: the wedge stream is the LARGEST
    // relation in the op (Σ C(deg,2) rows) — when the canonical edge
    // set fits TriangleBroadcastEdges rows, broadcasting it turns the
    // closing join into a broadcast hash join and the wedge stream is
    // never shuffled. Past the cap (cluster-scale graphs) the
    // shuffled join stands.
    val canoProbe =
      if (nCano <= TriangleBroadcastEdges) broadcast(cano) else cano
    val deg = cano.select(col("a").as("node"))
      .unionAll(cano.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = cano
      .join(deg.select(col("node").as("a"), col("deg").as("dega")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("degb")), Seq("b"))
    val aIsLow = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    val directed = pins.pin(withDeg.select(
      when(aIsLow, col("a")).otherwise(col("b")).as("lo"),
      when(aIsLow, col("b")).otherwise(col("a")).as("hi")))
    // wedges at the low endpoint; v1 < v2 picks each unordered pair once
    val wedges = directed.select(col("lo"), col("hi").as("v1"))
      .join(directed.select(col("lo"), col("hi").as("v2")), Seq("lo"))
      .where(col("v1") < col("v2"))
    // a wedge (lo; v1 < v2) closes iff {v1, v2} is a canonical edge
    val tri = wedges.join(canoProbe,
      wedges("v1") === canoProbe("a") && wedges("v2") === canoProbe("b"))
      .select(col("lo"), col("v1"), col("v2"))
    val perNode = tri
      .select(explode(array(col("lo"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    pins.seal(deg.select(col("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("tri"), lit(0L)).as("tri")))
  }

  /** Connected components to CONVERGENCE: every node gets the smallest
    * node id in its component. `minLabelPropagation` bounds the radius
    * (labels travel `iterations` hops); this runs until a fixpoint, so it
    * is correct on ANY diameter — the requirement when the component
    * structure is unknown (dedup pair graphs, the identity graphs of
    * entity resolution). It is the one connected-components operator:
    * [[graft.ops.DedupOps.clusters]] and [[ReasonOps.identityMapping]]
    * rename its columns.
    *
    * The physical path follows the measured input ([[gated]]), not a
    * setting:
    *   - at most [[GraphDriverCap]] (2^20) edges: a union-find (union by
    *     min) labels the collected edges on the driver, and the result is
    *     a local relation;
    *   - long ids over the cap: the RDD fixpoint of [[ccRounds]];
    *   - any other node type over the cap: the same fixpoint over
    *     [[orderRanks]] (order-preserving, so the min rank is the rank of
    *     the min node), decoded once at the end.
    * "Smallest" is Spark's ordering of the node type on every path
    * (binary UTF-8 for strings), so the paths agree row for row.
    *
    * Input: the first two columns of `edges` (the second is cast to the
    * first's type); direction and duplicates are ignored, and an edge
    * with a null end is dropped. A self-loop (x, x) makes x a node like
    * any other edge does: x is present, labelled with its component's
    * minimum (x itself when the loop is its only edge). Nodes with no
    * edge are absent. Output: (node, component), both of the node type.
    * `maxRounds` bounds the fixpoint loudly.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val Seq(c0, c1) = edges.columns.take(2).toSeq
    val dt = edges.schema(c0).dataType
    val base = edges.select(col(c0).as("s"), col(c1).cast(dt).as("o"))
      .where(col("s").isNotNull && col("o").isNotNull)
    gated(base, graft.Pins.isMaterialized(edges)) { rows =>
      lastCcRounds.set(0)
      Some(unionFind(edges.sparkSession, rows, dt))
    } {
      case in if dt == LongType => ccRounds(in, maxRounds)
      case in =>
        val ranks = graft.Pins.checkpoint(
          orderRanks(in.select(col("s")).unionAll(in.select(col("o")))))
        val cc = ccRounds(in
            .join(ranks.toDF("s", "srk"), "s").join(ranks.toDF("o", "ork"), "o")
            .select("srk", "ork"), maxRounds)
        val decoded = graft.Pins.checkpoint(cc
          .join(ranks.toDF("n", "node"), "node")
          .join(ranks.toDF("c", "component"), "component")
          .select(col("n").as("node"), col("c").as("component")))
        Seq(ranks, cc).foreach(graft.Pins.unpin)
        decoded
    }
  }

  /** Graph inputs of at most this many rows (2^20 edges) run on the
    * driver: each graph fixpoint here ([[connectedComponents]],
    * [[stronglyConnectedComponents]], [[bfsDistances]],
    * [[shortestPaths]], [[pageRank]], [[minLabelPropagation]],
    * [[transitiveClosure]]) collects them in one bounded job and runs a
    * sequential algorithm over the rows — at that size a fixpoint's
    * rounds are pure scheduling latency, and one thread beats any
    * dataflow plan. [[reachableFrom]] probes instead of collecting, and
    * reads the cap as a bound on its driver rows. */
  val GraphDriverCap: Int = 1 << 20

  /** The cap the graph fixpoints read: [[GraphDriverCap]], lowered by a
    * spec or probe (`graphDriverCap.withValue(-1) {...}`) to run small
    * graphs through the distributed plans (the reachability probes
    * included). */
  private[graft] val graphDriverCap =
    new scala.util.DynamicVariable[Int](GraphDriverCap)

  /** The rows of `df` when it holds at most [[graphDriverCap]] of them
    * (one bounded-collect job, none for a local relation), else None. */
  private def driverRows(df: DataFrame): Option[Array[InternalRow]] =
    Dictionary.rowsWithin(df, graphDriverCap.value)

  /** The size gate of every graph fixpoint ([[Dictionary.gated]] under
    * [[graphDriverCap]]): `onDriver` over the collected rows, else
    * `distributed` over the (lazily pinned) input. */
  private def gated[T](input: DataFrame, materialized: Boolean)(
      onDriver: Array[InternalRow] => Option[T])(distributed: DataFrame => T): T =
    Dictionary.gated(input, materialized, graphDriverCap.value)(onDriver)(distributed)

  /** Driver union-find over collected (s, o) rows, union by min under
    * Spark's ordering of `dt`, so every root stays its component's
    * minimum. */
  private def unionFind(spark: SparkSession, edges: Array[InternalRow],
                        dt: DataType): DataFrame = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) {
        val nx = parent.get(c); parent.put(c, r); c = nx
      }
      r
    }
    edges.foreach { row =>
      val a = InternalRow.copyValue(row.get(0, dt))
      val b = InternalRow.copyValue(row.get(1, dt))
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    DriverRows.frame(spark,
      StructType(Seq("node", "component").map(StructField(_, dt, nullable = false))),
      parent.keySet.asScala.toSeq.map(k => InternalRow(k, find(k))))
  }

  /** Changed-label sets of at most this many rows travel to the next
    * CC round as a broadcast (see [[ccRounds]]). */
  val CcBroadcastDelta: Long = 1L << 20

  /** The delta cap [[ccRounds]] reads: [[CcBroadcastDelta]], lowered
    * by a spec (`ccBroadcastDelta.withValue(-1) { ... }`) to run every
    * round through the shuffled delta join. */
  private[graft] val ccBroadcastDelta =
    new scala.util.DynamicVariable[Long](CcBroadcastDelta)

  /** The distributed fixpoint of [[connectedComponents]] over (s, o)
    * long ids, with the rounds run at the RDD layer: a Catalyst loop
    * re-analyzes and re-plans its round shapes every round, while an RDD
    * loop compiles its closures once. Adjacency and labels share one
    * HashPartitioner, so the relax join is NARROW every round — the |E|
    * adjacency is shuffled once at setup, and each round moves only the
    * (neighbor, label) messages.
    *
    * A round is min-label relaxation with ROOT HOOKING, then (from round
    * 2 on) a pointer jump, converged when no label changed:
    *   - relax: lab(v) ← min(lab(v), msg(v)), msg(v) the least label a
    *     neighbor sent;
    *   - hook (FastSV, Zhang, Azad & Hu, SIAM ACDA 2020): the same
    *     message also lowers the label of v's round-start label,
    *     lab(lab(v)) ← min(lab(lab(v)), msg(v)) — one reduceByKey and a
    *     narrow left-outer join inside the round's job;
    *   - jump: lab(v) ← lab(lab(v)) (Shiloach-Vishkin shortcut).
    * Relax and jump alone halve label trees only where ids grow along
    * the paths; elsewhere labels crawl one hop per round, O(diameter):
    * a 300-id chain took 231 rounds in scrambled id order and 88 in a
    * random one. A hook moves a whole label tree under the smaller label
    * at once and the jump flattens it: both chains take 8 rounds, a
    * 5,000-id random-order chain 12, while ascending ids (9) and
    * TPC-H-shaped order trees (2) keep their counts
    * (`plans/one_cc/cc_rounds.tsv`, local[4]).
    *
    * Labels are node ids of the same component and only decrease, and
    * every label change is re-sent (below), so the fixpoint gives each
    * component its minimum id. Output (node, component), checkpointed.
    */
  private def ccRounds(base: DataFrame, maxRounds: Int): DataFrame = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = base.sparkSession
    // The session's shuffle width: at sf0.1 it measured within 5% of
    // 8 partitions — the fixpoint cost is per-round JOB latency, not
    // per-task overhead.
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val minOf = (a: Long, b: Long) => math.min(a, b)
    // symmetrize, place by source, dedup WITHIN partitions (an exact
    // distinct would shuffle by the pair and then again by the key;
    // duplicates cannot change a min, only message volume)
    val und = base.rdd.map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (s, o) => Iterator((s, o), (o, s)) }
      .partitionBy(part)
      .mapPartitions({ it =>
        val seen = new java.util.HashSet[(Long, Long)]()
        it.filter(seen.add)
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val toRelease = scala.collection.mutable.ListBuffer[RDD[_]](und)
    // init with the first relaxation folded in: lab0(v) = min(v, nbrs)
    // — reduceByKey over the co-partitioned adjacency is map-side only
    var labels = und
      .mapPartitions({ it =>
        it.map { case (s, o) => (s, math.min(s, o)) }
      }, preservesPartitioning = true)
      .reduceByKey(part, minOf)
      .persist(StorageLevel.MEMORY_AND_DISK)
    toRelease += labels
    var round = 0
    var done = false
    // DELTA MESSAGING: a node re-sends its label only in the round after
    // it changed. Sound because min is monotone and idempotent — an
    // unchanged neighbor's label was already folded into v's label the
    // round it last changed, and labels only decrease — so dropping its
    // repeat message cannot change any min. Round 1 sends from
    // everything (init); the delta is taken against the labels at ROUND
    // START, so relax-, hook- and jump-changes all re-send. Message
    // volume per round tracks the still-moving frontier instead of |E|.
    var changedSrc: RDD[(Long, Long)] = labels
    // sparse-round delta transport: once the changed set fits
    // ccBroadcastDelta rows (2^20), ship it as a broadcast sorted-array
    // map and derive messages with a probe-only scan of the cached
    // adjacency — the cogroup join otherwise hash-builds over EVERY
    // adjacency row each round, which dominates the sparse confirm
    // rounds. The gate is on the DELTA's size, never the graph's.
    val bCap = ccBroadcastDelta.value
    var changedArr: Option[(Array[Long], Array[Long])] = None
    def deltaOf(newL: RDD[(Long, Long)], oldL: RDD[(Long, Long)]) =
      newL.join(oldL).filter { case (_, (nl, ol)) => nl != ol }
        .mapValues(_._1)
    def setChanged(delta: RDD[(Long, Long)], n: Long): Unit =
      if (n <= bCap) {
        val rows = delta.collect().sortBy(_._1)
        changedArr = Some((rows.map(_._1), rows.map(_._2)))
        changedSrc = null
      } else { changedArr = None; changedSrc = delta }
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"connectedComponents did not converge in $maxRounds rounds")
      // relax: ONE shuffle of the (changed-neighbor, label) messages
      // onto `part`, then a NARROW left-outer join against the
      // co-partitioned labels
      val rawMsgs = changedArr match {
        case Some((ks, vs)) =>
          val b = spark.sparkContext.broadcast((ks, vs))
          und.mapPartitions { it =>
            val (bk, bv) = b.value
            it.flatMap { case (s, o) =>
              val i = java.util.Arrays.binarySearch(bk, s)
              if (i >= 0) Iterator((o, bv(i))) else Iterator.empty
            }
          }
        case None =>
          und.join(changedSrc).map { case (_, (nbr, lab)) => (nbr, lab) }
      }
      val msgs = rawMsgs.reduceByKey(part, minOf)
      val received = labels.leftOuterJoin(msgs, part)
      // hook: (round-start label, better message) onto `part`
      val hooks = received
        .flatMap { case (_, (old, m)) => m.filter(_ < old).map(old -> _) }
        .reduceByKey(part, minOf)
      val relax = received
        .mapValues { case (old, m) => m.fold(old)(math.min(old, _)) }
        .leftOuterJoin(hooks, part)
        .mapValues { case (l, h) => h.fold(l)(math.min(l, _)) }
        .persist(StorageLevel.MEMORY_AND_DISK)
      toRelease += relax
      // delta vs round-start labels: narrow co-partitioned join whose
      // count doubles as the materializing action AND the convergence
      // probe AND the broadcast-gate size
      val relaxDelta = deltaOf(relax, labels)
      val nChanged = relaxDelta.count()
      if (nChanged == 0) {
        labels = relax
        done = true
      } else if (round == 1) {
        // skip the jump while label trees are still depth<=2 (the common
        // shallow-graph case converges in 2-3 relaxes and never needs
        // one)
        setChanged(relaxDelta, nChanged)
        labels = relax
      } else {
        // jump: lab(v) <- lab(lab(v)); labels are node ids, so the
        // inner join always hits
        val jumped = relax.map { case (v, l) => (l, v) }
          .join(relax, part)
          .map { case (_, (v, l2)) => (v, l2) }
          .partitionBy(part)
          .persist(StorageLevel.MEMORY_AND_DISK)
        toRelease += jumped
        jumped.count()
        // re-send everything that moved this round, jump included
        val jd = deltaOf(jumped, labels)
        setChanged(jd, jd.count())
        labels = jumped
      }
    }
    lastCcRounds.set(round)
    // seal: the result frame owns its blocks (Pins discipline), every
    // loop intermediate is released immediately
    val schema = StructType(Seq("node", "component")
      .map(StructField(_, LongType, nullable = false)))
    val out = graft.Pins.checkpoint(spark.createDataFrame(
      labels.map { case (v, l) => org.apache.spark.sql.Row(v, l) }, schema))
    toRelease.foreach(_.unpersist(blocking = false))
    out
  }

  /** Minimum hop distance from a seed set, bounded at `rounds` hops: a
    * layered BFS in which each round expands only the nodes first
    * discovered in the previous round, exiting early once a frontier is
    * empty.
    *
    * The plan follows the measured input ([[gated]]): an adjacency of at
    * most [[GraphDriverCap]] rows, with at most as many sources (a local
    * sources frame costs no job), runs the layers on the driver.
    * Otherwise it is the DELTA-FRONTIER BFS: one equi-join of the
    * frontier against the pinned adjacency + one anti-join against the
    * settled set per round, so total work is O(Σ|frontier_k| · d̄) —
    * edges incident to settled nodes are never rescanned, unlike the
    * min-aggregate relaxation (label-prop shape) which re-expands the
    * whole reached set every round — with one bounded count per round.
    *
    * Output: (node, dist) for every node within `rounds` hops of any
    * seed; unreachable nodes are absent. Deterministic — BFS layers are
    * set-valued, no tie-breaking — so a SQL oracle replays it exactly.
    * Reads the `s`, `o` columns and the first column of `sources`.
    */
  def bfsDistances(rankedAdj: DataFrame, sources: DataFrame,
                   rounds: Int): DataFrame = {
    require(rounds >= 0, "need rounds >= 0")
    val src = sources.select(col(sources.columns.head).as("node"))
    val spark = rankedAdj.sparkSession
    gated(rankedAdj.select("s", "o"), graft.Pins.isMaterialized(rankedAdj)) { rows =>
      val dt = src.schema.head.dataType
      if (!sameNodeType(rankedAdj.schema, "s", "o", dt) || hasNull(rows, 0, 1)) None
      else driverRows(src).filterNot(hasNull(_, 0)).map { seeds =>
        val succ = successors(rows, dt)
        val dist = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        seeds.foreach(r => dist(r.get(0, dt)) = 0L)
        var frontier = dist.keys.toVector
        var k = 1
        while (k <= rounds && frontier.nonEmpty) {
          val found = scala.collection.mutable.LinkedHashSet.empty[Any]
          frontier.foreach(v => succ.get(v).foreach(_.foreach { e =>
            val w = e.get(1, dt)
            if (!dist.contains(w)) found += w
          }))
          found.foreach(dist(_) = k.toLong)
          frontier = found.toVector
          k += 1
        }
        DriverRows.frame(spark,
          StructType(Seq(StructField("node", dt, nullable = false),
            StructField("dist", LongType, nullable = false))),
          dist.iterator.map { case (v, d) => InternalRow(v, d) }.toSeq)
      }
    }(bfsRounds(_, src, rounds))
  }

  /** [[bfsDistances]]' distributed rounds over an adjacency that is
    * already materialized (or a projection of one). */
  private def bfsRounds(adj: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    val pins = new graft.Pins
    var dist = pins.pin(sources.distinct().withColumn("dist", lit(0L)))
    var frontier = dist.select(col("node"))
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      // pinCounted folds the exhaustion probe into the materializing
      // job (the separate isEmpty paid one extra job per round)
      val (discovered, n) = pins.pinCounted(
        adj.join(frontier, adj("s") === frontier("node"))
          .select(adj("o").as("node")).distinct()
          .join(dist.select(col("node")), Seq("node"), "left_anti")
          .withColumn("dist", lit(k.toLong)))
      if (n == 0) exhausted = true
      else {
        // dist stays a LAZY union of the checkpointed layers — each
        // round's anti-join and the seal scan ≤ rounds narrow pinned
        // legs; re-checkpointing the union paid a job per round
        dist = dist.unionAll(discovered)
        frontier = discovered.select(col("node"))
      }
      k += 1
    }
    pins.seal(dist)
  }

  /** Count of reachability calls ([[transitiveClosure]] and
    * [[reachableFrom]]) — lets specs assert that a lazily entailed
    * relation restricted to non-transitive predicates runs none. */
  private[graft] val fixpointRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Rounds of the most recent reachability call's distributed plan
    * (doubling or frontier rounds; 0 when the driver BFS served it) —
    * scale-evidence telemetry: rounds track graph DIAMETER, not row
    * count. */
  private[graft] val lastFixpointRounds = new java.util.concurrent.atomic.AtomicLong(0)

  /** All-pairs reachability: every (a, b, groups…) joined by a path of
    * length ≥ 1 inside one group — the SPARQL `p+` relation, the OWL
    * transitive properties, the OWL delta bridge. The first two columns
    * of `edges` are the ends (the output keeps their names); `groupCols`
    * partition the graph (a named-graph column: paths never leave a
    * group), compared null-safe, so a null group is one group. A pair
    * (x, x) is kept when x lies on a cycle, as SPARQL `+` requires;
    * callers wanting the irreflexive closure filter a ≠ b, which loses
    * nothing (a path between two different nodes can always be made
    * simple). A null end is kept as an end but never extends a path.
    *
    * The plan follows the measured input ([[gated]]): at most
    * [[GraphDriverCap]] edges are collected once and every source runs
    * the driver BFS ([[reach]]), while the output stays within as many
    * pairs; past either cap the pairs close by iterated squaring
    * ([[doubling]]), `maxRounds` bounding it loudly (diameter d closes
    * in ⌈log2 d⌉ rounds). Output distinct.
    */
  def transitiveClosure(edges: DataFrame, groupCols: Seq[String] = Nil,
                        maxRounds: Int): DataFrame = {
    fixpointRuns.incrementAndGet()
    val Seq(c0, c1) = edges.columns.take(2).toSeq
    val in = edges.select(col(c0) +: col(c1) +: groupCols.map(col): _*)
    gated(in, graft.Pins.isMaterialized(edges)) { rows =>
      val dts = in.schema.map(_.dataType)
      if (dts(0) != dts(1)) None
      else {
        val succ = new java.util.HashMap[Any, List[(Any, Seq[Any])]]()
        val origins = new java.util.LinkedHashSet[(Any, Seq[Any])]()
        rows.foreach { r =>
          val Seq(s, o) = Seq(0, 1).map(r.get(_, dts(0)))
          val gs = groupCols.indices.map(i => r.get(i + 2, dts(i + 2)))
          succ.put(s, (o, gs) :: succ.getOrDefault(s, Nil))
          origins.add((s, gs))
        }
        import scala.jdk.CollectionConverters._
        reach(origins.asScala.toIndexedSeq, graphDriverCap.value)(
          _ => Some((v: Any) => succ.getOrDefault(v, Nil))).map { pairs =>
          lastFixpointRounds.set(0)
          DriverRows.frame(in.sparkSession, in.schema,
            pairs.map { case (a, b, gs) => InternalRow.fromSeq(a +: b +: gs) })
        }
      }
    }(doubling(_, groupCols, maxRounds))
  }

  /** Seeded reachability: the (seed, b, groups…) pairs of
    * [[transitiveClosure]] whose first end is a value of `seeds`' first
    * column, without closing the rest of the graph — graphula/TripleRush
    * expands from the bound side, and so does this. A seed takes the
    * group of its first edge, so with `groupCols` it yields its pairs in
    * every group it has an edge in.
    *
    * Plans, by measured size: at most 64 distinct seeds run the driver
    * BFS ([[reach]]) with one bounded probe of the LAZY edge plan per
    * round (an `isin` over the frontier's nodes, so bound filters stay
    * pushed into the scan and a small reach over a large predicate
    * stays cheap), while the frontier holds at most 1,024 nodes, the
    * rounds stay under 500 and the probes collect at most 100,000 rows
    * in all (fewer under a lowered [[graphDriverCap]]). Past any of
    * these the broadcast-frontier rounds take it ([[frontierRounds]]).
    * Output distinct.
    */
  def reachableFrom(edges: DataFrame, seeds: DataFrame,
                    groupCols: Seq[String] = Nil): DataFrame = {
    fixpointRuns.incrementAndGet()
    val Seq(c0, c1) = edges.columns.take(2).toSeq
    val in = edges.select(col(c0) +: col(c1) +: groupCols.map(col): _*)
    val seed = seeds.select(col(seeds.columns.head).as(c0)).distinct()
    var rowBudget = math.min(100000, graphDriverCap.value)
    var rounds = 0
    val onDriver = for {
      seedRows <- if (rowBudget < 0) None else Dictionary.collectBounded(seed, 64)
      pairs <- reach(seedRows.toIndexedSeq.map(r => (r.get(0), null: Seq[Any])),
          graphDriverCap.value) { nodes =>
        rounds += 1
        if (rounds > 500 || nodes.size > 1024) None
        else if (nodes.isEmpty) Some((_: Any) => Nil)
        else Dictionary.collectBounded(
            in.where(col(c0).isin(nodes: _*)).distinct(), rowBudget).map { rows =>
          rowBudget -= rows.length
          val byNode = rows.toSeq.groupBy(_.get(0))
          (v: Any) => byNode.getOrElse(v, Nil).map(r => (r.get(1), r.toSeq.drop(2)))
        }
      }
    } yield {
      lastFixpointRounds.set(0)
      import scala.jdk.CollectionConverters._
      in.sparkSession.createDataFrame(pairs.map { case (a, b, gs) =>
        org.apache.spark.sql.Row.fromSeq(a +: b +: gs) }.asJava, in.schema)
    }
    onDriver.getOrElse(frontierRounds(in, seed, groupCols))
  }

  /** Reachability pairs of driver-held edges (a schema hierarchy): every
    * (a, b) joined by a path of length ≥ 1, self pairs of cycles
    * included ([[reach]] with no budget). */
  private[graft] def reachPairs(edges: Seq[(Any, Any)]): Seq[(Any, Any)] = {
    val succ = edges.groupBy(_._1).map { case (a, es) => a -> es.map(e => (e._2, Nil)) }
    reach(succ.keys.toIndexedSeq.map(a => (a, Nil)), Long.MaxValue)(
      _ => Some((v: Any) => succ.getOrElse(v, Nil))).get.map { case (a, b, _) => (a, b) }
  }

  /** The driver BFS of every reachability plan: level-synchronous and
    * multi-origin, a state being (origin, node, group values). An origin
    * is a (node, groups) key; a null groups means any group (a seed takes
    * the group of its first edge). `out(nodes)` gives the next level's
    * out-edges, (o, groups) per non-null frontier node — from collected
    * rows, or from one bounded probe per round — and None gives up; so
    * does reaching more than `budget` states. A null node is reached but
    * never expanded (a join never matches null), and a state back at its
    * origin is not expanded again (level 0 did). Returns (origin node,
    * node, groups) per reached state. */
  private def reach(origins: IndexedSeq[(Any, Seq[Any])], budget: Long)(
      out: Seq[Any] => Option[Any => Iterable[(Any, Seq[Any])]])
      : Option[Seq[(Any, Any, Seq[Any])]] = {
    val reached = new java.util.LinkedHashSet[(Int, Any, Seq[Any])]()
    var frontier: Seq[(Int, Any, Seq[Any])] =
      origins.indices.map(i => (i, origins(i)._1, origins(i)._2))
    var level0 = true
    while (frontier.nonEmpty) {
      val nodes = frontier.iterator.map(_._2).filter(_ != null).toSeq.distinct
      val adj = out(nodes).getOrElse(return None)
      val next = scala.collection.mutable.ArrayBuffer.empty[(Int, Any, Seq[Any])]
      frontier.foreach { case (i, v, gs) =>
        if (v != null || level0) adj(v).foreach { case (w, wg) =>
          if (gs == null || gs == wg) {
            val st = (i, w, wg)
            if (reached.add(st)) {
              if (reached.size > budget) return None
              if (w != origins(i)._1) next += st
            }
          }
        }
      }
      frontier = next.toSeq
      level0 = false
    }
    import scala.jdk.CollectionConverters._
    Some(reached.asScala.toSeq.map { case (i, w, wg) => (origins(i)._1, w, wg) })
  }

  /** [[transitiveClosure]]'s distributed plan over distinct-able (a, b,
    * groups…) edges: iterated squaring, paths ∪ paths∘paths per round,
    * converged when the count stops growing (the union only adds). A
    * LAZY checkpoint + count is ONE job per round. */
  private def doubling(in: DataFrame, groupCols: Seq[String],
                       maxRounds: Int): DataFrame = {
    val Seq(a, b) = in.columns.take(2).toSeq
    var paths = graft.Pins.checkpointLazy(in.distinct())
    var n = paths.count()
    var round = 0
    var done = n == 0
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"transitiveClosure did not converge in $maxRounds doubling rounds")
      val cond = groupCols.foldLeft(col(s"x.$b") === col(s"y.$a")) {
        (c, g) => c && (col(s"x.$g") <=> col(s"y.$g"))
      }
      val step0 = paths.as("x").join(paths.as("y"), cond)
        .select(col(s"x.$a").as(a) +: col(s"y.$b").as(b) +:
          groupCols.map(g => col(s"x.$g").as(g)): _*)
      // grouped mode strips the join's constraints before the union:
      // Spark 4.1's Union constraint rewrite trips over the null-safe
      // self-join condition's dropped y-side attributes ("key not
      // found" in UnionBase.rewriteConstraints). localCheckpoint is NOT
      // enough (LogicalRDD retains origin constraints); an RDD
      // round-trip produces a constraint-free leaf.
      val step =
        if (groupCols.isEmpty) step0
        else in.sparkSession.createDataFrame(step0.rdd, step0.schema)
      val next = graft.Pins.checkpointLazy(step.unionByName(paths).distinct())
      val m = next.count()
      // the squared set supersedes the previous round's checkpoint
      graft.Pins.unpin(paths)
      done = m == n
      paths = next; n = m
    }
    lastFixpointRounds.set(round)
    paths
  }

  /** [[reachableFrom]]'s distributed plan: each round hash-joins the
    * pinned edges against the BROADCAST frontier of (seed, node,
    * groups…) states — sound because the frontier is bounded by the
    * reachable set, the premise of seeding at all — and only states
    * never expanded before re-enter it, which ends it on cycles. The
    * seeds' first step joins on the node alone (a seed takes every
    * group), later steps on node and groups null-safe. One job per
    * round: the step's lazy pin fills inside the fresh states' count. */
  private def frontierRounds(in: DataFrame, seeds: DataFrame,
                             groupCols: Seq[String]): DataFrame = {
    val pins = new graft.Pins
    val Seq(a, b) = in.columns.take(2).toSeq
    // unique names on both sides of every join: the frontier's states
    // (__a seed, __b node, __g* groups), the edges' (__n, __o, __h*)
    val gs = groupCols.indices
    val e = pins.pin(in).toDF(Seq("__n", "__o") ++ gs.map(i => s"__h$i"): _*)
    def states(df: DataFrame) = df.toDF(Seq("__a", "__b") ++ gs.map(i => s"__g$i"): _*)
    var frontier = seeds.select(col(a).as("__a"), col(a).as("__b"))
    val steps = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var expanded: Option[DataFrame] = None
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      val groupEq = if (rounds == 1) Nil else gs.map(i => col(s"__g$i") <=> col(s"__h$i"))
      val step = pins.track(graft.Pins.checkpointLazy(
        broadcast(frontier).join(e, ((col("__b") === col("__n")) +: groupEq).reduce(_ && _))
          .select(col("__a").as(a) +: col("__o").as(b) +:
            gs.map(i => col(s"__h$i").as(groupCols(i))): _*).distinct()))
      steps += step
      // a seed's own node was expanded in every group by the first step
      val cand = step.where(!(col(a) <=> col(b)))
      val (fresh, n) = pins.pinCounted(expanded.fold(cand) { x =>
        cand.join(states(x),
          ((col(a) <=> col("__a")) +: (col(b) <=> col("__b")) +:
            gs.map(i => col(groupCols(i)) <=> col(s"__g$i"))).reduce(_ && _),
          "left_anti")
      })
      if (n == 0) done = true
      else {
        expanded = Some(expanded.fold(fresh)(_.unionAll(fresh)))
        frontier = states(fresh)
      }
    }
    lastFixpointRounds.set(rounds)
    pins.seal(steps.reduce(_.unionAll(_)).distinct())
  }

  /** Do columns `a` and `b` of `schema` both hold `dt`? The driver
    * paths read node values of one type; any other input takes the
    * distributed plan, whose joins coerce. */
  private def sameNodeType(schema: StructType, a: String, b: String,
                           dt: DataType): Boolean =
    schema(a).dataType == dt && schema(b).dataType == dt

  /** `rk = 1` on a collected (s, o, rk, …) row with an integral rk. */
  private def rkIsOne(r: InternalRow, rkT: DataType): Boolean =
    !r.isNullAt(2) && r.get(2, rkT).asInstanceOf[Number].longValue == 1L

  /** Does any row hold a null in one of `cols`? */
  private def hasNull(rows: Array[InternalRow], cols: Int*): Boolean =
    rows.exists(r => cols.exists(r.isNullAt))

  /** Out-neighbors per node of collected (s, o, …) rows of node type
    * `dt`, in row order. */
  private def successors(rows: Array[InternalRow], dt: DataType)
      : scala.collection.mutable.HashMap[Any, scala.collection.mutable.ArrayBuffer[InternalRow]] = {
    val succ = scala.collection.mutable.HashMap
      .empty[Any, scala.collection.mutable.ArrayBuffer[InternalRow]]
    rows.foreach(r => succ.getOrElseUpdate(r.get(0, dt),
      scala.collection.mutable.ArrayBuffer.empty[InternalRow]) += r)
    succ
  }

  /** Round count of the most recent [[shortestPaths]] call (relaxation
    * rounds actually executed) and whether its frontier DRAINED before
    * the `rounds` bound: an undrained frontier leaves OVERESTIMATED —
    * not just missing — distances for nodes whose cheapest route has
    * more hops than `rounds`, so callers who can't bound path depth
    * must check [[lastShortestPathsDrained]] after the call. */
  private[graft] val lastShortestPathsRounds =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val lastShortestPathsDrained =
    new java.util.concurrent.atomic.AtomicBoolean(true)

  /** Weighted single-source(-set) shortest paths — the weighted
    * sibling of [[bfsDistances]]: non-negative edge weights (ENFORCED
    * loudly — a negative weight breaks frontier relaxation silently),
    * synchronous frontier relaxation (each round extends only the nodes
    * whose distance just improved, so settled regions never re-join),
    * exact on any DAG or graph once the frontier drains (Bellman-Ford
    * convergence; rounds track the HOP COUNT of the weighted-shortest
    * paths, so bound `rounds` by the expected path depth like the BFS
    * contract). If the bound hits before the frontier drains, PRESENT
    * rows may carry overestimates — check
    * [[lastShortestPathsDrained]]. `edges` = (src, dst, weight) with
    * any numeric weight (computed in double, so fractional weights are
    * exact, not truncated); `sources` = one node column, all at
    * distance 0. Returns (node, dist: double) for every reached
    * node — the same deterministic set-valued shape as BFS, so a SQL
    * oracle replays it.
    *
    * The plan follows the measured input ([[gated]]): at most
    * [[GraphDriverCap]] edges and as many sources run the same rounds
    * on the driver (same overestimates, same telemetry); larger inputs
    * run one join + aggregate per round over the pinned edges.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
                    rounds: Int): DataFrame = {
    require(rounds >= 0, "need rounds >= 0")
    val Seq(ca, cb, cw) = edges.columns.take(3).toSeq
    val src = sources.select(col(sources.columns.head).as("node"))
    val spark = edges.sparkSession
    gated(edges.select(col(ca).as("a"), col(cb).as("b"), col(cw).cast("double").as("w")),
        graft.Pins.isMaterialized(edges)) { rows =>
      requireNonNegative(rows.iterator.filterNot(_.isNullAt(2)).map(_.getDouble(2))
        .reduceOption((x, y) => if (dlt(y, x)) y else x))
      val dt = src.schema.head.dataType
      if (!sameNodeType(edges.schema, ca, cb, dt) || hasNull(rows, 0, 1, 2)) None
      else driverRows(src).filterNot(hasNull(_, 0)).map { seeds =>
        val succ = successors(rows, dt)
        val dist = scala.collection.mutable.HashMap.empty[Any, Double]
        seeds.foreach(r => dist(r.get(0, dt)) = 0.0)
        var frontier = dist.toVector
        var k = 1
        var drained = false
        while (k <= rounds && !drained) {
          val cand = scala.collection.mutable.LinkedHashMap.empty[Any, Double]
          frontier.foreach { case (v, dv) =>
            succ.get(v).foreach(_.foreach { e =>
              val (w, cd) = (e.get(1, dt), dv + e.getDouble(2))
              if (cand.get(w).forall(dlt(cd, _))) cand(w) = cd
            })
          }
          val improved = cand.filter { case (w, cd) => dist.get(w).forall(dlt(cd, _)) }
          if (improved.isEmpty) drained = true
          else { dist ++= improved; frontier = improved.toVector }
          k += 1
        }
        lastShortestPathsRounds.set(k - 1L)
        lastShortestPathsDrained.set(drained)
        DriverRows.frame(spark,
          StructType(Seq(StructField("node", dt, nullable = false),
            StructField("dist", DoubleType, nullable = false))),
          dist.iterator.map { case (v, d) => InternalRow(v, d) }.toSeq)
      }
    }(shortestPathRounds(_, src, rounds))
  }

  /** Spark's `<` on doubles: NaN above every number, -0.0 = 0.0. */
  private def dlt(x: Double, y: Double): Boolean =
    org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(x, y) < 0

  /** [[shortestPaths]]' weight contract on the least weight (None: no
    * non-null weight). */
  private def requireNonNegative(minW: Option[Double]): Unit =
    require(minW.forall(_ >= 0.0),
      "shortestPaths requires non-negative edge weights (found " +
        minW.get.toString + ")")

  /** [[shortestPaths]]' distributed rounds over (a, b, w: double) edges
    * that are already materialized (or a projection of them). */
  private def shortestPathRounds(e: DataFrame, sources: DataFrame,
                                 rounds: Int): DataFrame = {
    val pins = new graft.Pins
    // one one-row aggregate job over the edges: the non-negativity
    // contract is load-bearing (frontier relaxation assumes settled
    // regions never improve), so violate it loudly
    val minW = e.agg(min(col("w"))).collect()(0)
    requireNonNegative(if (minW.isNullAt(0)) None else Some(minW.getDouble(0)))
    var dist = pins.pin(sources.distinct().withColumn("dist", lit(0.0)))
    var frontier = dist
    var k = 1
    var drained = false
    while (k <= rounds && !drained) {
      val cand = e.join(frontier, e("a") === frontier("node"))
        .select(e("b").as("node"), (col("dist") + col("w")).as("cd"))
        .groupBy("node").agg(min(col("cd")).as("cd"))
      // improved = strictly better than (or absent from) the settled
      // set; pinCounted folds the drain probe into the materializing
      // job (the separate isEmpty paid one extra job per round)
      val (improved, nImp) = pins.pinCounted(
        cand.join(dist.toDF("node", "old"), Seq("node"), "left")
          .where(col("old").isNull || col("cd") < col("old"))
          .select(col("node"), col("cd").as("dist")))
      if (nImp == 0) drained = true
      else {
        dist = pins.pin(
          dist.join(improved.select(col("node")), Seq("node"), "left_anti")
            .unionAll(improved))
        frontier = improved
      }
      k += 1
    }
    lastShortestPathsRounds.set(k - 1L)
    lastShortestPathsDrained.set(drained)
    pins.seal(dist)
  }

  /** Round count of the most recent [[stronglyConnectedComponents]]
    * call (total min-label propagation rounds across its distributed
    * peeling passes; 0 when the whole input ran on the driver) —
    * scale-evidence telemetry: rounds track SCC diameters plus
    * min-anchored DAG layering, not row count. */
  private[graft] val lastSccRounds =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Largest edge-relation size the most recent
    * [[stronglyConnectedComponents]] call worked with (input edges or
    * any ACCEPTED reach-doubled composition) — scale-evidence
    * telemetry for the composed-edge growth bound. */
  private[graft] val lastSccEdges =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** How many times the most recent [[stronglyConnectedComponents]]
    * call REJECTED a reach-doubling because the composed set exceeded
    * the edge budget (each rejection degrades that peeling pass to
    * plain rounds, loudly). */
  private[graft] val lastSccEdgeBudgetTrips =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** SCC reach doubling keeps a composed edge set only while it holds
    * at most this many times the input's edges (see
    * [[stronglyConnectedComponents]]). */
  val SccEdgeBudgetFactor: Long = 8

  /** The budget factor SCC reads: [[SccEdgeBudgetFactor]], lowered by a
    * spec (`sccEdgeBudgetFactor.withValue(1) { ... }`) to trip the
    * budget on a small graph. */
  private[graft] val sccEdgeBudgetFactor =
    new scala.util.DynamicVariable[Long](SccEdgeBudgetFactor)

  /** Strongly connected components of a DIRECTED edge relation — the
    * directed sibling of [[connectedComponents]], completing the graph
    * family (PageRank, label propagation, walks, triangles, BFS, CC).
    * Each vertex maps to its component's MINIMUM vertex id. Input: the
    * first two columns cast to long; an edge with a null end is
    * dropped, duplicates are ignored, and a self-loop (x, x) makes x a
    * vertex (its own component unless a cycle joins it to others).
    *
    * The plan follows the measured input ([[gated]]): at most
    * [[GraphDriverCap]] edges are collected once and split by an
    * iterative Tarjan on the driver. A larger input runs
    * DataFrame-native min-label forward/backward INTERSECTION PEELING
    * (the FW-BW family): per pass, every vertex propagates the minimum
    * label it can reach FORWARD and the minimum that reaches it
    * BACKWARD (two keyed-join fixpoints whose convergence is a
    * one-row label-sum aggregate — labels only decrease, so an
    * unchanged sum IS the fixpoint, no row-diff job); a vertex with
    * `minFwd == minBwd == m` both reaches m and is reached by m, so it
    * belongs to SCC(m) — and the global-minimum vertex's whole SCC is
    * always determined, so each pass peels at least one min-anchored
    * layer off the condensation DAG and the loop terminates.
    * Determined vertices drop, and so does every CROSS-CLASS edge: two
    * vertices of one SCC share their whole (minFwd, minBwd) label
    * PAIR, so the undetermined remainder partitions by pair and only
    * intra-class edges can be intra-SCC — a k-layer chain-of-SCCs
    * condensation splits into its k independent classes after ONE pass
    * and finishes on the next, instead of peeling k min-anchored
    * layers. Since peeling keeps every intra-SCC edge, the remainder's
    * SCCs are the input's: once the remainder's edges and vertices both
    * fit the cap, it is collected (one job) and Tarjan finishes it.
    * Deep propagation inside a pass adaptively DOUBLES the
    * remainder's reach (every 8 rounds the edge set unions its own
    * composition — reachability, and therefore every label and SCC,
    * is unchanged while label travel distance doubles), so rounds
    * track log(diameter) on adversarially deep graphs. The composed
    * set can grow toward the remainder's transitive closure on dense
    * deep graphs, so every doubling is BUDGETED: the candidate is
    * counted and accepted only while it stays within
    * [[SccEdgeBudgetFactor]] (8) times the input edge count — past
    * that the pass degrades LOUDLY to plain rounds (stderr +
    * [[lastSccEdgeBudgetTrips]], sizes in [[lastSccEdges]]), still
    * exact and still bounded by `maxRounds`. The passes are
    * shuffle-shaped (keyed equi-joins) under the caller's session
    * settings, fwd and bwd on two driver threads.
    */
  def stronglyConnectedComponents(spark: org.apache.spark.sql.SparkSession,
                                  edges: DataFrame,
                                  maxRounds: Int = 256): DataFrame = {
    val Seq(ca, cb) = edges.columns.take(2).toSeq
    lastSccEdgeBudgetTrips.set(0)
    lastSccRounds.set(0)
    // no distinct before the collect: it would add a shuffle (and its
    // AQE jobs) ahead of the one job, and duplicates do not change
    // Tarjan's components
    gated(edges.select(col(ca).cast("long").as("a"), col(cb).cast("long").as("b"))
        .where(col("a").isNotNull && col("b").isNotNull),
        graft.Pins.isMaterialized(edges)) { rows =>
      lastSccEdges.set(rows.length)
      Some(tarjan(spark, Iterator.empty, rows.iterator.map(r => (r.getLong(0), r.getLong(1)))))
    }(sccPeeling(spark, _, maxRounds))
  }

  /** [[stronglyConnectedComponents]]' distributed peeling over (a, b)
    * long edges without nulls. */
  private def sccPeeling(spark: SparkSession, base: DataFrame,
                         maxRounds: Int): DataFrame = {
    val pins = new graft.Pins
    var remE = pins.pin(base.distinct())
    var remN = pins.pin(remE.select(col("a").as("node"))
      .unionAll(remE.select(col("b").as("node"))).distinct())
    val e0 = remE.count()
    val budgetFactor = sccEdgeBudgetFactor.value
    val edgeBudget = math.max(e0, 1L) * math.max(budgetFactor, 1L)
    lastSccEdges.set(e0)
    // total propagation rounds across all passes — atomic because the
    // fwd/bwd fixpoints of one pass run on parallel driver threads
    val rounds = new java.util.concurrent.atomic.AtomicLong(0)
    // min-label propagation to fixpoint over a (src, dst) view: each
    // round lab(v) = min(lab(v), min lab(w) over v -> w); converged
    // when the one-row label sum stops decreasing
    def labSum(lab: DataFrame): java.math.BigDecimal =
      lab.agg(sum(col("lab").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
    // LAZY checkpoint + labSum = ONE job per round (the sum action
    // materializes the checkpoint; the old eager pin + separate sum
    // paid the per-job floor twice per propagation round)
    def pinSummed(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val c = pins.track(graft.Pins.checkpointLazy(df))
      (c, labSum(c))
    }
    def minReach(eIn: DataFrame, nodes: DataFrame): DataFrame = {
      var e = eIn
      var (lab, s) = pinSummed(
        nodes.select(col("node"), col("node").as("lab")))
      var localRound = 0
      var doubleStop = false
      var done = false
      while (!done) {
        val totalRounds = rounds.incrementAndGet()
        localRound += 1
        require(totalRounds <= maxRounds,
          s"SCC propagation exceeded $maxRounds rounds - the " +
            "condensation DAG is adversarially deep; raise maxRounds" +
            (if (lastSccEdgeBudgetTrips.get() > 0)
               " (reach doubling hit the composed-edge budget " +
                 s"${lastSccEdgeBudgetTrips.get()} time(s))"
             else "")
        )
        // deep propagation: double the reach so labels travel 2^k hops
        // (E ∪ E∘E preserves reachability exactly). Budgeted: a dense
        // deep remainder can push the composition toward its transitive
        // closure, so the candidate is counted and REJECTED past the
        // edge budget — the pass then degrades loudly to plain rounds.
        if (localRound % 8 == 0 && !doubleStop) {
          val (e2, n2) = pins.pinCounted(e.unionAll(
              e.toDF("a", "m").join(e.toDF("m", "b"), "m")
                .select("a", "b"))
            .distinct())
          if (n2 > edgeBudget) {
            doubleStop = true
            lastSccEdgeBudgetTrips.incrementAndGet()
            lastSccEdges.updateAndGet(m => math.max(m, n2))
            System.err.println(
              s"[graft] SCC reach doubling rejected: composed edge set " +
                s"$n2 exceeds budget $edgeBudget (= input $e0 x factor " +
                s"$budgetFactor); degrading this pass to plain rounds")
          } else {
            e = e2
            lastSccEdges.updateAndGet(m => math.max(m, n2))
          }
        }
        val (next, s2) = pinSummed(
          lab.unionAll(e.join(lab, e("b") === lab("node"))
              .select(e("a").as("node"), col("lab")))
            .groupBy("node").agg(min(col("lab")).as("lab")))
        done = s2.compareTo(s) == 0
        lab = next; s = s2
      }
      lab
    }
    val parts = scala.collection.mutable.ListBuffer[DataFrame]()
    var remaining = remN.count()
    var curE = e0
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    while (remaining > 0) {
      val cap = graphDriverCap.value
      if (math.max(curE, remaining) <= cap) {
        // hand-off: the remainder fits the gate, so one job brings its
        // edges and vertices (b = null) to the driver's Tarjan
        val rows = Dictionary.collectRows(remE.unionAll(
            remN.select(col("node").as("a"), lit(null).cast("long").as("b"))),
          (curE + remaining).toInt).get
        parts += tarjan(spark,
          rows.iterator.filter(_.isNullAt(1)).map(_.getLong(0)),
          rows.iterator.filterNot(_.isNullAt(1)).map(r => (r.getLong(0), r.getLong(1))))
        remaining = 0
      } else {
        // one peeling pass. fwd and bwd are INDEPENDENT fixpoints over
        // the same remainder (guide §2.6 overlap independent jobs): bwd
        // runs on a second driver thread so each propagation round's
        // scheduling floor is paid once per PAIR of rounds, and the tail
        // tasks of one fixpoint back-fill cores the other leaves idle.
        val bwdF = Future(minReach(
          remE.select(col("b").as("a"), col("a").as("b")), remN))
        val fwd = minReach(remE, remN)
        val bwd = Await.result(bwdF, Duration.Inf)
        val both = pins.pin(fwd.join(bwd.toDF("node", "lab2"), "node"))
        parts += both.where(col("lab") === col("lab2"))
          .select(col("node"), col("lab").as("scc"))
        // lazy pin + count = one job (the count materializes it)
        val (remN2, nRem) = pins.pinCounted(
          both.where(col("lab") =!= col("lab2")).select(col("node")))
        remN = remN2
        remaining = nRem
        // pair partition: an intra-SCC edge has identical (fwd, bwd)
        // pairs at both ends, and determined classes are exactly those
        // with fwd == bwd — keeping unequal-pair-matched edges drops
        // both the determined classes' edges and every cross-class one
        if (remaining > 0) {
          val pr = both.select(col("node"), col("lab").as("f"),
            col("lab2").as("b2"))
          val (remE2, nE2) = pins.pinCounted(remE
            .join(pr.toDF("a", "fa", "ba"), "a")
            .join(pr.toDF("b", "fb", "bb"), "b")
            .where(col("fa") === col("fb") && col("ba") === col("bb") &&
              col("fa") =!= col("ba"))
            .select("a", "b"))
          remE = remE2
          curE = nE2
        }
      }
    }
    lastSccRounds.set(rounds.get())
    if (parts.isEmpty)
      pins.seal(remN.select(col("node"), col("node").as("scc")))
    else pins.seal(parts.reduce(_.unionAll(_)))
  }

  /** Tarjan's strongly connected components on the driver, iterative
    * (no recursion depth limit): every vertex of `nodes` or `edges`
    * maps to the minimum id of its component. A local (node, scc)
    * relation. */
  private def tarjan(spark: SparkSession, nodes: Iterator[Long],
                     edges: Iterator[(Long, Long)]): DataFrame = {
    val id = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def idOf(v: Long): Int = id.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    nodes.foreach(idOf)
    val src = scala.collection.mutable.ArrayBuilder.make[Int]
    val dst = scala.collection.mutable.ArrayBuilder.make[Int]
    edges.foreach { case (a, b) => src += idOf(a); dst += idOf(b) }
    val (from, to, n) = (src.result(), dst.result(), ids.length)
    // successors in CSR form
    val start = new Array[Int](n + 1)
    from.foreach(v => start(v + 1) += 1)
    for (v <- 0 until n) start(v + 1) += start(v)
    val succ = new Array[Int](from.length)
    val fill = start.clone()
    from.indices.foreach { i => succ(fill(from(i))) = to(i); fill(from(i)) += 1 }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n); var sp = 0
    val call = new Array[Int](n); val next = new Array[Int](n); var cp = 0
    val comp = new Array[Long](n)
    var counter = 0
    def visit(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      call(cp) = v; next(cp) = start(v); cp += 1
    }
    for (root <- 0 until n if index(root) < 0) {
      visit(root)
      while (cp > 0) {
        val v = call(cp - 1)
        if (next(cp - 1) < start(v + 1)) {
          val w = succ(next(cp - 1)); next(cp - 1) += 1
          if (index(w) < 0) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          cp -= 1
          if (cp > 0) low(call(cp - 1)) = math.min(low(call(cp - 1)), low(v))
          if (low(v) == index(v)) {
            var m = Long.MaxValue; var i = sp
            do { i -= 1; m = math.min(m, ids(stack(i))) } while (stack(i) != v)
            while (sp > i) { sp -= 1; onStack(stack(sp)) = false; comp(stack(sp)) = m }
          }
        }
      }
    }
    DriverRows.frame(spark,
      StructType(Seq("node", "scc").map(StructField(_, LongType, nullable = false))),
      (0 until n).map(v => InternalRow(ids(v), comp(v))))
  }
}
