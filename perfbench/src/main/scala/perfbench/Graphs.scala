package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.GraphOps

/** Graph fixpoints on seeded subgraphs of the entity adjacency, built
  * from the generated tables: PageRank, connected components, strongly
  * connected components and BFS. `small` is a few customers' order trees;
  * `medium` adds the parts and suppliers their lines touch, which joins
  * the trees into longer paths; `full` is every entity edge. Node ids are
  * dense and assigned in entity-name order. Answers are checked against
  * driver-side union-find, Tarjan, BFS and power iteration.
  */
final class Graphs(data: Gen.Data, seed: Long) {
  import Graphs._

  /** A prepared input: the undirected edge list, its ranked adjacency,
    * the directed edge set SCC runs on (one direction per pair, plus both
    * directions for a seeded fifth of the pairs, which closes cycles) and
    * the BFS sources.
    */
  final class Graph(val undirected: Seq[(Long, Long)], val directed: Seq[(Long, Long)],
                    val adj: DataFrame, val directedDf: DataFrame, val sources: Seq[Long])

  private val rnd = new SplittableRandom(seed * 31 + 4)
  private val graphs = mutable.LinkedHashMap.empty[String, Graph]
  val Rounds = 3
  val BfsDepth = 4

  /** One round's graph ops: (op, input). */
  val plan: Vector[(String, String)] = Vector("pagerank" -> "small", "cc" -> "small",
    "scc" -> "small", "bfs" -> "medium", "pagerank" -> "full")
  val kinds: Set[String] = plan.map(_._1).toSet

  /** Undirected entity edges touching `customers` seeded customers (all,
    * if `customers` is 0): customer-order and order-line, plus line-part
    * and line-supplier when `withParts`, plus the nation/region edges on
    * the full graph.
    */
  private def edges(customers: Int, withParts: Boolean): Seq[(String, String)] = {
    val all = customers == 0
    val cs = if (all) Set.empty[Long]
      else Sample.distinct(rnd, data.customerRows.map(_.c_custkey), customers).toSet
    val os = data.orderRows.filter(o => all || cs(o.o_custkey))
    val keys = os.map(_.o_orderkey).toSet
    val ls = data.lineRows.filter(l => keys(l.l_orderkey))
    def line(l: Gen.Lineitem) = s"lineitem:${l.l_orderkey}-${l.l_linenumber}"
    os.map(o => s"order:${o.o_orderkey}" -> s"customer:${o.o_custkey}") ++
      ls.map(l => line(l) -> s"order:${l.l_orderkey}") ++
      (if (withParts) ls.flatMap(l => Seq(line(l) -> s"part:${l.l_partkey}",
        line(l) -> s"supplier:${l.l_suppkey}")) else Nil) ++
      (if (all) data.customerRows.map(c => s"customer:${c.c_custkey}" -> s"nation:${c.c_nationkey}") ++
        data.supplierRows.map(s => s"supplier:${s.s_suppkey}" -> s"nation:${s.s_nationkey}") ++
        data.nations.map(n => s"nation:${n.n_nationkey}" -> s"region:${n.n_regionkey}")
       else Nil)
  }

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    val back = rnd.nextLong()
    def graph(named: Seq[(String, String)]): Graph = {
      val id = (named.map(_._1) ++ named.map(_._2)).distinct.sorted.zipWithIndex
        .map { case (n, i) => n -> (i + 1L) }.toMap
      val und = named.flatMap { case (a, b) => Seq(id(a) -> id(b), id(b) -> id(a)) }.distinct
      val dir = und.filter { case (a, b) =>
        a < b || java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.productHash(
          (math.min(a, b), math.max(a, b), back)), 5) == 0 }
      val adj = GraphOps.rankedAdjacency(und.toDF("s", "o")).localCheckpoint(true)
      new Graph(und, dir, adj, dir.toDF("s", "o").localCheckpoint(true),
        Sample.distinct(rnd, id.values.toVector.sorted, 3))
    }
    graphs("small") = graph(edges(8, withParts = false))
    graphs("medium") = graph(edges(40, withParts = true))
    graphs("full") = graph(edges(0, withParts = true))
  }

  def op(spark: SparkSession, i: Int): Op = {
    val (kind, name) = plan(i)
    val g = graphs(name)
    val run: Tracer => Any = kind match {
      case "pagerank" => tr => tr.span("graph.pagerank")(GraphOps.pageRank(g.adj, Rounds).collect())
      case "cc" => tr => tr.span("graph.cc")(
        GraphOps.connectedComponents(g.adj.select("s", "o")).collect())
      case "scc" => tr => tr.span("graph.scc")(
        GraphOps.stronglyConnectedComponents(spark, g.directedDf).collect())
      case "bfs" => tr => tr.span("graph.bfs") {
        import spark.implicits._
        GraphOps.bfsDistances(g.adj, g.sources.toDF("node"), BfsDepth).collect()
      }
    }
    val evidence: Any => Any = kind match {
      case "pagerank" => r => r.asInstanceOf[Array[org.apache.spark.sql.Row]]
        .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      case _ => Calls.evidence
    }
    new Op(kind, write = false, s"$kind|$name", run, evidence)
  }

  def verify(done: Seq[Done]): Map[Long, String] = {
    val want = mutable.HashMap.empty[String, Any]
    def expected(key: String): Any = want.getOrElseUpdate(key, {
      val Array(kind, name) = key.split('|')
      val g = graphs(name)
      def pairs(xs: Seq[(Long, Long)]) = Digest.of(xs.map { case (a, b) => Seq(a, b) })
      kind match {
        case "pagerank" => pageRank(g.undirected, Rounds)
        case "cc"       => pairs(components(g.undirected))
        case "scc"      => pairs(scc(g.directed))
        case "bfs"      => pairs(bfs(g.undirected, g.sources, BfsDepth))
      }
    })
    done.flatMap { d =>
      val ok = (expected(d.op.key), d.out.toOption.get) match {
        case (e: Map[_, _], g: Map[_, _]) =>
          val em = e.asInstanceOf[Map[Long, Double]]
          val gm = g.asInstanceOf[Map[Long, Double]]
          em.keySet == gm.keySet && em.forall { case (n, r) => math.abs(gm(n) - r) < 1e-6 }
        case (e, g) => e == g
      }
      if (ok) None else Some(d.id -> s"${d.op.key}: answer differs from the driver-side oracle")
    }.toMap
  }
}

/** Driver-side oracles, written from the definitions. */
object Graphs {
  /** PageRank by power iteration over an undirected adjacency (every node
    * has out-degree >= 1), rounded to 1e-9 like the program's output.
    */
  def pageRank(edges: Seq[(Long, Long)], rounds: Int, d: Double = 0.85): Map[Long, Double] = {
    val out = edges.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val n = out.size
    var r = out.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to rounds) {
      val acc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      out.foreach { case (s, os) => os.foreach(o => acc(o) += r(s) / os.size) }
      r = out.keys.map(v => v -> ((1 - d) / n + d * acc(v))).toMap
    }
    r.map { case (v, x) => v -> math.floor(x * 1e9 + 0.5) / 1e9 }
  }

  /** Component of each node = its smallest reachable node (undirected). */
  def components(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(v => v -> find(v))
  }

  /** Strongly connected components (Tarjan, iterative); each node maps to
    * the smallest node of its component.
    */
  def scc(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val es = edges.distinct
    val succ = es.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toArray }
    val verts = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val index = mutable.HashMap.empty[Long, Int]
    val low = mutable.HashMap.empty[Long, Int]
    val onStack = mutable.HashSet.empty[Long]
    val stack = mutable.Stack.empty[Long]
    val comp = mutable.HashMap.empty[Long, Long]
    var next = 0
    verts.foreach { root =>
      if (!index.contains(root)) {
        val work = mutable.Stack.empty[(Long, Int)]
        work.push((root, 0))
        while (work.nonEmpty) {
          val (v, i) = work.pop()
          if (i == 0) {
            index(v) = next; low(v) = next; next += 1
            stack.push(v); onStack += v
          }
          val ns = succ.getOrElse(v, Array.empty[Long])
          if (i > 0) { val w = ns(i - 1); if (onStack(w)) low(v) = math.min(low(v), low(w)) }
          var j = i
          var descended = false
          while (j < ns.length && !descended) {
            val w = ns(j)
            if (!index.contains(w)) {
              work.push((v, j + 1)); work.push((w, 0)); descended = true
            } else {
              if (onStack(w)) low(v) = math.min(low(v), index(w))
              j += 1
            }
          }
          if (!descended && low(v) == index(v)) {
            val members = mutable.ListBuffer.empty[Long]
            var w = -1L
            while (w != v) { w = stack.pop(); onStack -= w; members += w }
            val m = members.min
            members.foreach(x => comp(x) = m)
          }
        }
      }
    }
    comp.toSeq
  }

  /** Hop distance from the sources, up to `depth` hops. */
  def bfs(edges: Seq[(Long, Long)], sources: Seq[Long], depth: Int): Seq[(Long, Long)] = {
    val succ = edges.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
    val dist = mutable.LinkedHashMap.empty[Long, Long]
    sources.foreach(s => dist(s) = 0L)
    var frontier = sources.distinct
    for (k <- 1 to depth) {
      frontier = frontier.flatMap(v => succ.getOrElse(v, Nil)).distinct.filterNot(dist.contains)
      frontier.foreach(v => dist(v) = k.toLong)
    }
    dist.toSeq
  }
}
