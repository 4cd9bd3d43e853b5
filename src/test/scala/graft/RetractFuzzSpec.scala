package graft

import graft.ops.ReasonOps
import graft.ops.ReasonOps.Corpus
import graft.ops.ReasonOps.{DisjointWith, FunctionalProperty,
  InverseFunctionalProperty, SameAs}

/** Seeded random-interleave RETRACT fuzz — the QuadParityFuzzSpec
  * discipline applied to the delete side of the two streaming
  * maintainers: for every seed, a random interleave of insert and
  * retract batches folds through [[graft.ops.ErMaintainer]] /
  * [[graft.ops.ConsistencyMaintainer]], and the maintained state must
  * equal the from-scratch computation over the FINAL corpus — on the
  * string and the encoded currency alternately (one generator in long
  * id space, a vocabulary map for the string twin, so both currencies
  * replay identical structures).
  *
  * Generator invariants mirror the operator contracts: declarations
  * live only in the base (deltas and deletions of declarations fail
  * fast by design), retract batches sample only rows present in the
  * accumulated original (the [[graft.ops.ErMaintainer.retract]]
  * contract check), and batch/retract sizes stay Δ-shaped.
  */
class RetractFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def aset3(df: org.apache.spark.sql.DataFrame): Set[(Any, Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
  private def aset2(df: org.apache.spark.sql.DataFrame): Set[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSet

  // shared long-id vocabulary; the string twin maps through l2s
  private val TY = 2L; private val SAME = 50L; private val IFP_ID = 51L
  private val FP_ID = 52L; private val DW_ID = 40L
  private val EMAIL = 60L; private val NAME = 70L
  private val PERSON = 200L; private val COMPANY = 201L
  private def l2s(x: Long): String = x match {
    case TY      => "a"
    case SAME    => SameAs
    case IFP_ID  => InverseFunctionalProperty
    case FP_ID   => FunctionalProperty
    case DW_ID   => DisjointWith
    case EMAIL   => "email"
    case NAME    => "name"
    case PERSON  => "Person"
    case COMPANY => "Company"
    case e       => s"t$e"
  }
  private def mk(encoded: Boolean, rows: Iterable[(Long, Long, Long)])
      : org.apache.spark.sql.DataFrame =
    if (encoded) rows.toSeq.toDF("s", "p", "o")
    else rows.toSeq.map { case (s, p, o) => (l2s(s), l2s(p), l2s(o)) }
      .toDF("s", "p", "o")

  private val erIds = ReasonOps.ErIds(typePred = TY, sameAs = SAME,
    inverseFunctionalProperty = Some(IFP_ID))
  private val chkIds = ReasonOps.CheckIds(typePred = TY,
    disjointWith = Some(DW_ID), functionalProperty = Some(FP_ID))

  private def runErCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val encoded = seed % 2 == 1
    def ent(): Long = 100L + rnd.nextInt(6)
    def randRow(): (Long, Long, Long) = rnd.nextInt(4) match {
      case 0 | 1 => (ent(), EMAIL, 900L + rnd.nextInt(3))
      case 2     => (ent(), NAME, 800L + rnd.nextInt(3))
      case _ =>
        val a = ent(); var b = ent()
        while (b == a) b = ent()
        (a, SAME, b)
    }
    val decl = (EMAIL, TY, IFP_ID)
    val original = scala.collection.mutable.LinkedHashSet(decl)
    (0 until 4).foreach(_ => original += randRow())
    val baseDf = mk(encoded, original)
    val (rw0, mp0) =
      if (encoded) ReasonOps.functionalCanonicalize(baseDf, Corpus.encoded(erIds))
      else ReasonOps.functionalCanonicalize(baseDf)
    val m =
      if (encoded) ReasonOps.erMaintainStream(rw0, mp0, Corpus.encoded(erIds))
      else ReasonOps.erMaintainStream(rw0, mp0)
    (0 until 4).foreach { _ =>
      val deletable = original.toSeq.filter(_ != decl)
      if (rnd.nextInt(100) < 55 || deletable.isEmpty) {
        val batch = (0 to rnd.nextInt(2)).map(_ => randRow())
        m.update(mk(encoded, batch))
        original ++= batch
      } else {
        val k = 1 + rnd.nextInt(math.min(2, deletable.size))
        val dels = rnd.shuffle(deletable).take(k)
        m.retract(mk(encoded, original), mk(encoded, dels))
        original --= dels
      }
    }
    val finalDf = mk(encoded, original)
    val (rwF, mpF) =
      if (encoded) ReasonOps.functionalCanonicalize(finalDf, Corpus.encoded(erIds))
      else ReasonOps.functionalCanonicalize(finalDf)
    withClue(s"seed=$seed encoded=$encoded corpus=${original.toSeq}: ") {
      aset3(m.current._1) shouldBe aset3(rwF)
      aset2(m.current._2) shouldBe aset2(mpF)
    }
  }

  private def runConsistencyCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val encoded = seed % 2 == 1
    def ent(): Long = 100L + rnd.nextInt(5)
    def randRow(): (Long, Long, Long) = rnd.nextInt(4) match {
      case 0 => (ent(), TY, PERSON)
      case 1 => (ent(), TY, COMPANY)
      case _ => (ent(), EMAIL, 900L + rnd.nextInt(3))
    }
    val decls = Seq((PERSON, DW_ID, COMPANY), (EMAIL, TY, FP_ID))
    val original = scala.collection.mutable.LinkedHashSet(decls: _*)
    (0 until 3).foreach(_ => original += randRow())
    val baseDf = mk(encoded, original)
    val rep0 =
      if (encoded) ReasonOps.consistencyReport(baseDf, Corpus.encoded(chkIds))
      else ReasonOps.consistencyReport(baseDf)
    val m =
      if (encoded)
        ReasonOps.consistencyMaintainStream(baseDf, rep0, Corpus.encoded(chkIds))
      else ReasonOps.consistencyMaintainStream(baseDf, rep0)
    (0 until 4).foreach { _ =>
      val deletable = original.toSeq.filterNot(decls.contains)
      if (rnd.nextInt(100) < 55 || deletable.isEmpty) {
        val batch = (0 to rnd.nextInt(2)).map(_ => randRow())
        m.update(mk(encoded, batch))
        original ++= batch
      } else {
        val k = 1 + rnd.nextInt(math.min(2, deletable.size))
        val dels = rnd.shuffle(deletable).take(k)
        m.retract(mk(encoded, dels))
        original --= dels
      }
    }
    val finalDf = mk(encoded, original)
    val repF =
      if (encoded) ReasonOps.consistencyReport(finalDf, Corpus.encoded(chkIds))
      else ReasonOps.consistencyReport(finalDf)
    withClue(s"seed=$seed encoded=$encoded corpus=${original.toSeq}: ") {
      aset3(m.current._1) shouldBe aset3(finalDf)
      m.currentReport.collect().map(r =>
        (r.get(0), r.get(1), r.get(2), r.get(3))).toSet shouldBe
        repF.collect().map(r =>
          (r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    }
  }

  "ErMaintainer under a seeded insert/retract interleave" should
      "equal from-scratch canonicalization on every final corpus" in {
    (0 until 25).foreach(runErCase)
  }

  "ConsistencyMaintainer under a seeded insert/retract interleave" should
      "equal the from-scratch report on every final corpus" in {
    (0 until 25).foreach(runConsistencyCase)
  }
}
