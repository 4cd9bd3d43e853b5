package graft

import graft.ops.ReasonOps
import graft.ops.ReasonOps._
import org.apache.spark.sql.DataFrame

/** Every reasoning op family over every corpus cell it supports, on one
  * small fixture with a TBox: encoded output decodes to exactly the
  * string output, quad output with g = null equals the triple output,
  * and delta / retract results equal the from-scratch ones. Ids are
  * assigned in term order, so min-member choices agree across cells.
  */
class CorpusMatrixSpec extends SparkSpec {
  import spark.implicits._

  private type T = (String, String, String)

  private val ty = "a"
  private val tbox: Seq[T] = Seq(
    ("worksFor", SubPropertyOf, "employedBy"),
    ("employedBy", Domain, "Person"),
    ("employedBy", Range, "Org"),
    ("Person", SubClassOf, "Agent"),
    ("partOf", ty, TransitiveProperty),
    ("hasPart", InverseOf, "partOf"),
    ("knows", ty, SymmetricProperty),
    ("R", OnProperty, "worksFor"),
    ("R", SomeValuesFrom, "Org"),
    ("Agent", DisjointWith, "Place"))
  private val abox: Seq[T] = Seq(
    ("ann", "worksFor", "acme"), ("bob", "worksFor", "acme"),
    ("x1", "partOf", "x2"), ("x2", "partOf", "x3"), ("x3", "partOf", "x4"),
    ("ann", "knows", "bob"), ("dan", ty, "Agent"), ("dan", ty, "Place"))
  private val base = tbox ++ abox
  private val ins: Seq[T] = Seq(("cat", "worksFor", "acme"),
    ("x4", "partOf", "x5"), ("eve", ty, "Agent"), ("eve", ty, "Place"))
  private val dels: Seq[T] = Seq(("x2", "partOf", "x3"),
    ("bob", "worksFor", "acme"), ("dan", ty, "Place"))

  private val er: Seq[T] = Seq(
    ("ssn", ty, FunctionalProperty),
    ("p1", "ssn", "n1"), ("p1", "ssn", "n2"), ("n1", "name", "N"),
    ("Cust", HasKey, "l1"), ("l1", RdfFirst, "email"), ("l1", RdfRest, RdfNil),
    ("c1", ty, "Cust"), ("c2", ty, "Cust"),
    ("c1", "email", "e"), ("c2", "email", "e"),
    ("Rc", MaxCardinality, "1"), ("Rc", OnProperty, "phone"),
    ("c3", ty, "Rc"), ("c3", "phone", "ph1"), ("c3", "phone", "ph2"),
    ("u1", SameAs, "u2"), ("u2", "name", "U"), ("u1", "knows", "u3"))
  private val erIns: Seq[T] = Seq(("p2", "ssn", "n2"), ("c4", ty, "Cust"),
    ("c4", "email", "e"))
  private val erDels: Seq[T] = Seq(("p1", "ssn", "n2"), ("c2", "email", "e"))

  private val terms: IndexedSeq[String] =
    ((base ++ ins ++ er ++ erIns).flatMap(t => Seq(t._1, t._2, t._3)) ++
      Seq(AllValuesFrom, HasValue)).distinct.sorted.toIndexedSeq
  private val id: Map[String, Long] = terms.zipWithIndex.map {
    case (t, i) => t -> (i + 1).toLong }.toMap
  private def oid(t: String): Option[Long] = Some(id(t))

  private val rdfsIds = RdfsIds(id(SubClassOf), id(SubPropertyOf), id(Domain),
    id(Range), id(ty))
  private val owlIds = OwlIds(id(InverseOf), id(SymmetricProperty),
    id(TransitiveProperty), id(ty))
  private val rlIds = RlIds(rdfsIds, id(OnProperty), id(SomeValuesFrom),
    id(AllValuesFrom), id(HasValue))
  private val checkIds = CheckIds(id(ty), disjointWith = oid(DisjointWith),
    maxCardinality = oid(MaxCardinality), onProperty = oid(OnProperty),
    literalOne = oid("1"))
  private val erIds = ErIds(id(ty), id(SameAs),
    functionalProperty = oid(FunctionalProperty), hasKey = oid(HasKey),
    listFirst = oid(RdfFirst), listRest = oid(RdfRest), listNil = oid(RdfNil),
    maxCardinality = oid(MaxCardinality), onProperty = oid(OnProperty),
    literalOne = oid("1"))

  /** One cell: how its input relations are built and read back. */
  private final class Cell[I](val corpus: Corpus[I]) {
    private val enc = corpus.terms.isInstanceOf[Corpus.Encoded[_]]
    def df(rows: Seq[T]): DataFrame = (enc, corpus.quads) match {
      case (false, false) => rows.toDF("s", "p", "o")
      case (false, true) =>
        rows.map { case (s, p, o) => (s, p, o, null: String) }
          .toDF("s", "p", "o", "g")
      case (true, false) =>
        rows.map { case (s, p, o) => (id(s), id(p), id(o)) }.toDF("s", "p", "o")
      case (true, true) =>
        rows.map { case (s, p, o) => (id(s), id(p), id(o), None: Option[Long]) }
          .toDF("s", "p", "o", "g")
    }
    /** Rows decoded to strings, the null graph column dropped (outputs
      * with a graph column: `graph`). */
    def rows(out: DataFrame, graph: Boolean = true): Set[Seq[Any]] =
      out.collect().map { r =>
        val vs = if (corpus.quads && graph) {
          r.isNullAt(r.length - 1) shouldBe true
          r.toSeq.init
        } else r.toSeq
        vs.map { case l: Long => terms((l - 1).toInt); case v => v }
      }.toSet
    /** A pattern constant in this cell's term space. */
    def term(t: String): Any = if (enc) id(t) else t
    def tbox(rows: Seq[T]): Option[DataFrame] =
      if (corpus.quads) Some(df(rows)) else None
  }

  private def cells[I](ids: I, quads: Boolean = true): Seq[Cell[I]] =
    Seq[Corpus[I]](Corpus.Triples, Corpus.encoded(ids)).map(new Cell(_)) ++
      (if (quads) Seq[Corpus[I]](Corpus.Quads, Corpus.encoded(ids, quads = true))
        .map(new Cell(_)) else Nil)

  /** Runs `op` on every cell; each must decode to the string-triple
    * result, which is returned. */
  private def agree[I](cs: Seq[Cell[I]], graph: Boolean = true)(
      op: Cell[I] => DataFrame): Set[Seq[Any]] = {
    val want = cs.head.rows(op(cs.head), graph)
    cs.tail.foreach(c =>
      withClue(s"${c.corpus}: ")(c.rows(op(c), graph) shouldBe want))
    want
  }

  private def minus(a: Seq[T], b: Seq[T]): Seq[T] = a.filterNot(b.contains)

  /** The two cells that between them take every branch (string and
    * encoded terms, triple and quad layout) — delta/retract identities
    * run there, cell agreement runs on all four. */
  private def ends[I](cs: Seq[Cell[I]]): Seq[Cell[I]] = Seq(cs.head, cs.last)

  /** Per cell: `closure(base)` agrees across cells, and `check` gets
    * the cell with its base closure. */
  private def family[I](cs: Seq[Cell[I]])(closure: (Cell[I], Seq[T]) => DataFrame)(
      check: (Cell[I], DataFrame) => Unit): Set[Seq[Any]] = {
    val bases = cs.map(c => c -> closure(c, base))
    val want = cs.head.rows(bases.head._2)
    bases.foreach { case (c, b) =>
      withClue(s"${c.corpus}: ")(c.rows(b) shouldBe want)
      if (c == cs.head || c == cs.last) check(c, b)
    }
    want
  }

  "The RDFS family" should "agree on every corpus cell, and delta/retract equal from-scratch" in {
    val cs = cells(rdfsIds)
    agree(cs)(c => ReasonOps.rdfsEntailed(c.df(base), c.corpus, c.tbox(base)))
    agree(cs)(c => ReasonOps.rdfsDeltaStream(c.df(base), c.df(ins), c.corpus))
    def closure(c: Cell[RdfsIds], rows: Seq[T]) =
      ReasonOps.rdfsClosure(c.df(rows), c.corpus, c.tbox(base))
    family(cs)(closure) { (c, b) =>
      val full = c.rows(closure(c, base ++ ins))
      withClue(s"${c.corpus} delta: ")(c.rows(ReasonOps.composeIncrement(b,
        ReasonOps.rdfsDelta(c.df(base), c.df(ins), c.corpus))) shouldBe full)
      withClue(s"${c.corpus} retract: ")(c.rows(ReasonOps.rdfsRetract(b,
        c.df(base), c.df(dels), c.corpus, c.tbox(base))) shouldBe
        c.rows(closure(c, minus(base, dels))))
      val m = ReasonOps.rdfsMaintainStream(b, c.df(base), c.corpus)
      m.update(c.df(ins))
      withClue(s"${c.corpus} stream: ")(c.rows(m.current) shouldBe full)
    }.size should be > base.size
  }

  "The RDFS maintenance entries" should "return the same row bags on the driver path and the plan on every corpus cell" in {
    // a delta with duplicate rows and with rows the base closure holds
    val insDup = ins ++ ins.take(2) ++ Seq(("ann", "worksFor", "acme"))
    // (acme a Org) survives (bob worksFor acme)'s deletion through
    // (ann worksFor acme)'s range, a premise only the slab holds
    val dels2 = dels :+ (("ann", "knows", "bob"))
    def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def bothPaths(what: String)(op: => DataFrame): DataFrame = {
      val driver = op
      val plan = ReasonOps.rdfsDriverCap.withValue(-1)(op)
      withClue(s"$what: ")(bag(driver) shouldBe bag(plan))
      driver
    }
    cells(rdfsIds).foreach { c =>
      withClue(s"${c.corpus}: ") {
        val closure = ReasonOps.rdfsClosure(c.df(base), c.corpus, c.tbox(base))
          .localCheckpoint(true)
        val inc = bothPaths("rdfsDelta")(
          ReasonOps.rdfsDelta(c.df(base), c.df(insDup), c.corpus))
        graft.dict.Dictionary.isLocal(inc) shouldBe true
        // incrementNovel over a local and over a materialized increment;
        // duplicate increment rows stay duplicated
        val raw = c.df(insDup ++ insDup.take(1)).localCheckpoint(true)
        Seq(inc, raw).foreach { i =>
          graft.dict.Dictionary.isLocal(bothPaths("incrementNovel")(
            ReasonOps.incrementNovel(closure, i))) shouldBe true
        }
        val kept = bothPaths("rdfsRetract")(ReasonOps.rdfsRetract(closure,
          c.df(base), c.df(dels2), c.corpus, c.tbox(base)))
        c.rows(kept) shouldBe c.rows(ReasonOps.rdfsClosure(c.df(minus(base, dels2)),
          c.corpus, c.tbox(base)))
        c.rows(kept) should contain(Seq("acme", ty, "Org"))
        c.rows(kept) should not contain Seq("bob", ty, "Person")
        // a delta row with a null object takes the plan
        val nullO = c.df(ins).union(c.df(ins.take(1))
          .withColumn("o", org.apache.spark.sql.functions.lit(null).cast(
            c.df(ins).schema("o").dataType)))
        graft.dict.Dictionary.isLocal(bothPaths("rdfsDelta, null object")(
          ReasonOps.rdfsDelta(c.df(base), nullO, c.corpus))) shouldBe false
      }
    }
  }

  "The OWL property family" should "agree on every corpus cell, and delta/retract equal from-scratch" in {
    val cs = cells(owlIds)
    agree(cs)(c => ReasonOps.owlEntailed(c.df(base), c.corpus, c.tbox(base),
      patternPreds = Seq(c.term("knows"))))
    def closure(c: Cell[OwlIds], rows: Seq[T]) =
      ReasonOps.owlClosure(c.df(rows), c.corpus, c.tbox(base))
    val closed = family(cs)(closure) { (c, b) =>
      withClue(s"${c.corpus} delta: ")(c.rows(ReasonOps.composeIncrement(b,
        ReasonOps.owlDelta(b, c.df(ins), c.df(base), c.corpus))) shouldBe
        c.rows(closure(c, base ++ ins)))
      withClue(s"${c.corpus} retract: ")(c.rows(ReasonOps.owlRetract(b,
        c.df(base), c.df(dels), c.df(base), c.corpus)) shouldBe
        c.rows(closure(c, minus(base, dels))))
    }
    closed should contain(Seq("x1", "partOf", "x4"))
    closed should contain(Seq("bob", "knows", "ann"))
  }

  "The OWL RL and joint families" should "agree on every corpus cell, and delta equals from-scratch" in {
    val rl = cells(rlIds)
    agree(rl)(c => ReasonOps.owlRlEntailed(c.df(base), c.corpus, c.tbox(base),
      patternConsts = Seq(c.term("R"))))
    def rlClosure(c: Cell[RlIds], rows: Seq[T]) =
      ReasonOps.owlRlClosure(c.df(rows), c.corpus, c.tbox(base))
    family(rl)(rlClosure) { (c, b) =>
      withClue(s"${c.corpus} delta: ")(c.rows(ReasonOps.composeIncrement(b,
        ReasonOps.owlRlDelta(b, c.df(ins), c.df(base), c.corpus))) shouldBe
        c.rows(rlClosure(c, base ++ ins)))
    } should contain(Seq("ann", ty, "R"))
    val full = cells((owlIds, rlIds))
    agree(ends(full))(c => ReasonOps.owlFullEntailed(c.df(base), c.corpus,
      c.tbox(base), patternPreds = Seq(c.term("knows")),
      patternConsts = Seq(c.term("R"))))
    def fullClosure(c: Cell[(OwlIds, RlIds)], rows: Seq[T]) =
      ReasonOps.owlFullClosure(c.df(rows), c.corpus, c.tbox(base))
    family(full)(fullClosure) { (c, b) =>
      withClue(s"${c.corpus} delta: ")(c.rows(ReasonOps.composeIncrement(b,
        ReasonOps.owlFullDelta(b, c.df(ins), c.df(base), c.corpus))) shouldBe
        c.rows(fullClosure(c, base ++ ins)))
    }
  }

  "Pattern constants" should "be in the corpus's term space" in {
    val enc = cells(rlIds, quads = false).last
    val err = intercept[IllegalArgumentException](ReasonOps.owlRlEntailed(
      enc.df(base), enc.corpus, patternConsts = Seq("R")))
    err.getMessage should include("patternConsts constant R")
    val str = cells(rlIds, quads = false).head
    val want = str.rows(ReasonOps.owlRlEntailed(str.df(base), str.corpus,
      patternConsts = Seq("R")))
    want should contain allOf (Seq("ann", ty, "R"), Seq("bob", ty, "R"))
    enc.rows(ReasonOps.owlRlEntailed(enc.df(base), enc.corpus,
      patternConsts = Seq(id("R")))) shouldBe want
    an[IllegalArgumentException] should be thrownBy ReasonOps.owlEntailed(
      enc.df(base), Corpus.encoded(owlIds), patternPreds = Seq("knows"))
    an[IllegalArgumentException] should be thrownBy ReasonOps.owlFullEntailed(
      str.df(base), patternConsts = Seq(id("R")))
  }

  "The consistency family" should "agree on every corpus cell, and delta/retract equal from-scratch" in {
    val cs = cells(checkIds)
    def rep(c: Cell[CheckIds], rows: Seq[T]) =
      ReasonOps.consistencyReport(c.df(rows), c.corpus, c.tbox(base))
    family(cs)(rep) { (c, r) =>
      withClue(s"${c.corpus} delta: ")(c.rows(r) ++
        c.rows(ReasonOps.consistencyDelta(c.df(base), c.df(ins), c.corpus,
          c.tbox(base))) shouldBe c.rows(rep(c, base ++ ins)))
      withClue(s"${c.corpus} retract: ")(c.rows(ReasonOps.consistencyRetract(
        c.df(base), r, c.df(dels), c.corpus, c.tbox(base))) shouldBe
        c.rows(rep(c, minus(base, dels))))
    }.map(_.head) should contain("cax-dw")
  }

  "The identity and entity-resolution families" should "agree on string and encoded triples" in {
    val check = cells(checkIds, quads = false)
    agree(check)(c => ReasonOps.cardinalityIdentityPairs(c.df(er), c.corpus)) shouldBe
      Set(Seq("ph1", "ph2"))
    val cs = cells(erIds, quads = false)
    agree(cs)(c => ReasonOps.functionalIdentityPairs(c.df(er), c.corpus)) shouldBe
      Set(Seq("n1", "n2"))
    agree(cs)(c => ReasonOps.hasKeyIdentityPairs(c.df(er), c.corpus)) shouldBe
      Set(Seq("c1", "c2"))
    def both(c: Cell[ErIds], out: (DataFrame, DataFrame)) =
      (c.rows(out._1), c.rows(out._2))
    val outs = cs.map { c =>
      def canon(rows: Seq[T]) =
        both(c, ReasonOps.functionalCanonicalize(c.df(rows), c.corpus))
      val (rw, mp) = ReasonOps.functionalCanonicalize(c.df(er), c.corpus)
      val grown = canon(er ++ erIns)
      withClue(s"${c.corpus} delta: ")(both(c, ReasonOps.functionalDelta(rw, mp,
        c.df(erIns), c.corpus)) shouldBe grown)
      withClue(s"${c.corpus} retract: ")(both(c, ReasonOps.erRetract(c.df(er),
        c.df(erDels), rw, mp, c.corpus)) shouldBe canon(minus(er, erDels)))
      if (c == cs.head) {
        val m = ReasonOps.erMaintainStream(rw, mp, c.corpus)
        m.update(c.df(erIns))
        withClue(s"${c.corpus} stream: ")(both(c, m.current) shouldBe grown)
      }
      both(c, (rw, mp))
    }
    outs.last shouldBe outs.head
    an[IllegalArgumentException] should be thrownBy
      ReasonOps.functionalCanonicalize(cells(erIds)(2).df(er), Corpus.Quads)
  }

  "The sameAs family" should "agree on every corpus cell" in {
    val cs = cells[Any](id(SameAs))
    agree(cs)(c => ReasonOps.sameAsCanonicalize(c.df(er), c.corpus)._1) should
      contain(Seq("u1", "name", "U"))
    agree(cs, graph = false)(c =>
      ReasonOps.sameAsCanonicalize(c.df(er), c.corpus)._2) shouldBe
      Set(Seq("u1", "u1"), Seq("u2", "u1"))
  }
}
