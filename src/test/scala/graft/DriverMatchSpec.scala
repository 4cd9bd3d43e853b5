package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.bgp.{Bgp, C, Term, TriplePattern, V}
import graft.dict.Dictionary
import graft.store.{GraftStore, StoreHandle}

/** `Bgp.compile` over a store handle whose predicates are all held
  * matches on the driver; its bag (and schema) must equal the Catalyst
  * plan's (forced with `StoreHandle.useSlices`) and, on a duplicate-free
  * graph, the brute-force matcher's set, on both the string and the
  * encoded relation.
  */
class DriverMatchSpec extends SparkSpec {
  import spark.implicits._

  private type T = (String, String, String)

  private val nodes = Seq("1", "2", "3", "4", "5", "m1", "m2")
  private val graph: Seq[T] = {
    val r = new Random(7)
    Seq.fill(60)((nodes(r.nextInt(nodes.size)), s"p${1 + r.nextInt(3)}",
      nodes(r.nextInt(nodes.size)))).distinct
  }
  // above the cap: patterns over it keep the Catalyst plan
  private val big: Seq[T] =
    (0 until Dictionary.LocalCap + 10).map(i => (s"n$i", "big", s"m${i % 7}"))
  // two held predicates whose cross product passes the cap
  private val wide: Seq[T] = (0 until 300).flatMap(i =>
    Seq((s"a$i", "q1", s"b$i"), (s"c$i", "q2", s"d$i")))
  // a bag: one triple twice
  private val dups: Seq[T] = Seq(("x1", "d1", "y1"), ("x1", "d1", "y1"),
    ("x1", "d1", "y2"), ("y1", "d2", "y1"), ("y1", "d2", "z1"), ("y2", "d2", "z1"))

  private lazy val st: StoreHandle = GraftStore.ingestTriples(spark,
    (graph ++ wide ++ dups).toDF("s", "p", "o")
      .unionAll(spark.range(Dictionary.LocalCap + 10).selectExpr(
        "concat('n', id) AS s", "'big' AS p", "concat('m', id % 7) AS o")))
  private lazy val ids: Map[String, Long] = Dictionary.lookup(st.dict,
    (graph ++ wide ++ dups).flatMap(t => Seq(t._1, t._2, t._3)).distinct ++
      (0 until 20).map(i => s"n$i") :+ "big")
  private lazy val names: Map[Long, String] = ids.map(_.swap)
  // an encoded constant that no term has
  private val Absent = Long.MinValue + 7

  /** `bgp` (string terms) compiled over the string or encoded relation. */
  private def compile(bgp: Seq[TriplePattern], enc: Boolean): DataFrame = {
    def term(t: Term): Term = t match {
      case C(v) if enc => C(ids.getOrElse(v.toString, Absent))
      case _ => t
    }
    if (enc) Bgp.compile(spark, st.enc,
      bgp.map(tp => TriplePattern(term(tp.s), term(tp.p), term(tp.o))),
      st.encStats, st.totalCnt)
    else Bgp.compile(spark, st.triples, bgp, st.stats, st.totalCnt)
  }

  /** Did the driver matcher answer: a bare local relation, not a plan. */
  private def matched(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** The result as a multiset of string rows. */
  private def bag(df: DataFrame): Map[Seq[String], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case l: Long => names(l)
      case v => v.toString
    }).groupBy(identity).view.mapValues(_.size).toMap

  /** Driver match vs Catalyst plan on both relations; returns the bag. */
  private def parity(bgp: Seq[TriplePattern], driver: Boolean): Map[Seq[String], Int] = {
    val bags = Seq(false, true).map { enc =>
      withClue(s"enc=$enc $bgp\n") {
        val fast = compile(bgp, enc)
        val plan = StoreHandle.useSlices.withValue(false)(compile(bgp, enc))
        matched(fast) shouldBe driver
        fast.schema shouldBe plan.schema
        val got = bag(fast)
        got shouldBe bag(plan)
        got
      }
    }
    bags(1) shouldBe bags(0)
    bags(0)
  }

  private def brute(bgp: Seq[TriplePattern]): Map[Seq[String], Int] = {
    val vars = bgp.flatMap(_.vars).distinct
    val preds = bgp.collect { case TriplePattern(_, C(p), _) => p.toString }.toSet
    val scope = (graph ++ wide ++ (if (preds("big")) big else Nil)).toSet
      .filter(t => bgp.exists(_.p.isInstanceOf[V]) || preds(t._2))
    BgpPropertySpec.brute(scope, bgp).toSeq.map(b => vars.map(b) -> 1).toMap
  }

  private def tp(s: String, p: String, o: String): TriplePattern = {
    def t(x: String): Term = if (x.startsWith("?")) V(x.tail) else C(x)
    TriplePattern(t(s), t(p), t(o))
  }

  private val present = graph.head
  private val fixed: Seq[Seq[TriplePattern]] = Seq(
    Seq(tp("?a", "p1", "?a")),
    Seq(tp("?a", "p1", "?b"), tp("?b", "p2", "?b")),
    Seq(tp("?a", "p1", "?b"), tp(present._1, present._2, present._3)),
    Seq(tp(present._1, present._2, present._3), tp("?a", "p2", "?b")),
    Seq(tp(present._1, present._2, present._3)),
    Seq(tp("1", "p1", "zz")),
    Seq(tp("?a", "p2", "?b"), tp("1", "p3", "zz")),
    Seq(tp("zz", "p1", "3"), tp("?a", "p2", "?b")),
    Seq(tp("?a", "p1", "?b"), tp("?c", "p3", "m1")),
    Seq(tp("?a", "p1", "?b"), tp("?b", "p2", "?c"), tp("?a", "p3", "?c")),
    Seq(tp("?a", "p1", "zz")),
    Seq(tp("?a", "q1", "?b"), tp("?a", "p1", "?c")),
    Seq(tp("n3", "big", "?a"), tp("?b", "p1", "?a")))

  private def randomBgp(r: Random): Seq[TriplePattern] = {
    val vars = Seq("a", "b", "c")
    def node(): Term =
      if (r.nextInt(10) < 6) V(vars(r.nextInt(3)))
      else if (r.nextInt(10) == 0) C("zz")
      else C(nodes(r.nextInt(nodes.size)))
    Seq.fill(1 + r.nextInt(3)) {
      r.nextInt(20) match {
        case 0 => TriplePattern(C(s"n${r.nextInt(20)}"), C("big"), node())
        case 1 => TriplePattern(C(nodes(r.nextInt(nodes.size))), V("p"), node())
        case _ => TriplePattern(node(), C(s"p${1 + r.nextInt(3)}"), node())
      }
    }
  }

  "The driver matcher" should "equal the Catalyst plan and the brute-force matcher" in {
    val r = new Random(11)
    (fixed ++ Seq.fill(24)(randomBgp(r))).foreach { bgp =>
      val driver = bgp.forall(p => p.p.isInstanceOf[C] && p.p != C("big"))
      withClue(s"$bgp\n")(parity(bgp, driver) shouldBe brute(bgp))
    }
  }

  it should "keep a bag's multiplicities as the joins and semi-joins do" in {
    Seq(
      Seq(tp("?x", "d1", "?y")),
      Seq(tp("?x", "d1", "?y"), tp("?y", "d2", "?z")),
      Seq(tp("?x", "d1", "?y"), tp("?y", "d2", "?y")),
      Seq(tp("?x", "d1", "?y"), tp("?x", "d1", "?y")),
      Seq(tp("x1", "d1", "y1"), tp("?y", "d2", "?z")),
      Seq(tp("?y", "d2", "?z"), tp("x1", "d1", "y1")),
      Seq(tp("x1", "d1", "y1"))
    ).foreach(bgp => parity(bgp, driver = true) should not be empty)
  }

  it should "fall back to the Catalyst plan past the binding cap" in {
    val bgp = Seq(tp("?a", "q1", "?b"), tp("?c", "q2", "?d"))
    Seq(false, true).foreach { enc =>
      val df = compile(bgp, enc)
      matched(df) shouldBe false
      df.count() shouldBe 90000L
      matched(compile(bgp.take(1), enc)) shouldBe true
    }
  }
}
