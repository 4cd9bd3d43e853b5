package graft

import graft.bgp.{Bgp, C, Term, TriplePattern, V}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property test in the reference's style (its IndexSpec verifies the
  * 8-pattern index against brute-force grouping over arbitrary triples,
  * `core/src/test/scala/com/graphula/index/IndexSpec.scala:66-192`): the
  * Spark BGP compiler must agree with an in-memory brute-force matcher on
  * random graphs and random patterns.
  */
class BgpPropertySpec extends SparkSpec {
  import spark.implicits._

  private val idGen = Gen.chooseNum(1, 6).map(_.toString)
  private val tripleGen = for { s <- idGen; p <- Gen.chooseNum(1, 3).map("p" + _); o <- idGen } yield (s, p, o)
  private val varPool = Seq("a", "b", "c")
  private def termGen(constGen: Gen[String]): Gen[Term] = Gen.frequency(
    3 -> Gen.oneOf(varPool).map(V(_)),
    2 -> constGen.map(C(_)))
  private val patternGen = for {
    s <- termGen(idGen)
    p <- termGen(Gen.chooseNum(1, 3).map("p" + _))
    o <- termGen(idGen)
  } yield TriplePattern(s, p, o)

  "Bgp.compile" should "agree with a brute-force matcher on random graphs" in {
    (1 to 8).foreach { round =>
      val seed = Seed(1000L + round)
      val triples = Gen.listOfN(30, tripleGen)
        .apply(Gen.Parameters.default, seed).get.toSet
      val patterns0 = Gen.listOfN(3, patternGen)
        .apply(Gen.Parameters.default, seed.next).get
      // ensure at least one variable overall (all-constant BGPs are
      // existence checks, covered in BgpSpec)
      val patterns =
        if (patterns0.flatMap(_.vars).isEmpty)
          patterns0.updated(0, patterns0.head.copy(s = V("a")))
        else patterns0
      val vars = patterns.flatMap(_.vars).distinct

      val df = Bgp.compile(spark, triples.toSeq.toDF("s", "p", "o"), patterns)
      val got = df.collect()
        .map(r => vars.zipWithIndex.map { case (v, i) => v -> r.getString(i) }.toMap)
        .toSet
      val want = BgpPropertySpec.brute(triples, patterns).map(_.filter(kv => vars.contains(kv._1)))
      withClue(s"round $round patterns=$patterns\n") {
        got shouldBe want
      }
    }
  }
}

object BgpPropertySpec {
  /** Brute-force matcher: fold patterns over the binding set. */
  def brute(triples: Set[(String, String, String)],
            patterns: Seq[TriplePattern]): Set[Map[String, String]] = {
    def unify(t: Term, v: String, b: Map[String, String]): Option[Map[String, String]] =
      t match {
        case C(c) => if (c.toString == v) Some(b) else None
        case V(n) => b.get(n) match {
          case Some(x) => if (x == v) Some(b) else None
          case None => Some(b + (n -> v))
        }
      }
    patterns.foldLeft(Set(Map.empty[String, String])) { (acc, tp) =>
      acc.flatMap { b0 =>
        triples.flatMap { case (s, p, o) =>
          for {
            b1 <- unify(tp.s, s, b0)
            b2 <- unify(tp.p, p, b1)
            b3 <- unify(tp.o, o, b2)
          } yield b3
        }
      }
    }
  }
}
