package graft.ops

import graft.dict.Dictionary
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.{DriverRows, ScopedConf}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** RDFS forward-chaining materialization (the rho-df core: rdfs2/3 domain
  * and range, rdfs5/7 sub-property, rdfs9/11 sub-class), Spark-first.
  *
  * The reference has no inference surface at all (it delegates query
  * processing to Jena and never registers a reasoner — `Sparql.scala`
  * builds plain `QueryEngineMain` plans), but RDFS closure is table
  * stakes for an RDF analytics engine and the standard pre-processing
  * step for LUBM-class workloads, so the engine provides it as an
  * extension with the scale shape that survives 100 TB:
  *
  *   - the TBox (all `rdfs:subClassOf` / `rdfs:subPropertyOf` /
  *     `rdfs:domain` / `rdfs:range` statements) is SCHEMA-sized — it is
  *     collected once (capped, fail-fast) and transitively closed on the
  *     driver in memory, so the quadratic-ish closure never touches the
  *     cluster;
  *   - every ABox rule is then exactly ONE broadcast hash join against a
  *     driver-built derivation table (no fixpoint over the data): with
  *     the property hierarchy pre-closed, sub-property expansion (rdfs7)
  *     is a single pass, domain/range typing (rdfs2/3) fires off the
  *     EFFECTIVE maps (dom*(p) = union of declared domains over p and
  *     all its super-properties, so inherited domains need no second
  *     round), and sub-class expansion (rdfs9) runs once over all type
  *     assertions, base and derived;
  *   - the only wide operator is the final `distinct` that dedups the
  *     union of base and derived triples — one shuffle of the output.
  *
  * Maintenance discipline (the O(Δ) thesis end-to-end):
  *   - [[rdfsDelta]] derives an increment from inserted triples alone;
  *   - [[incrementNovel]] / [[composeIncrement]] fold that increment into
  *     an existing closure WITHOUT re-shuffling the closure (two
  *     broadcast joins, |Δ|-sized output);
  *   - [[rdfsRetract]] maintains a closure through DELETEs with
  *     delete–rederive (DRed): over-delete the consequences of the
  *     removed triples, re-derive survivors from the |Δ|-fan-in slab of
  *     the remaining base, subtract — the closure itself only streams
  *     through one broadcast anti-join.
  *
  * Vocabulary renderings: the string-path entry points recognize BOTH
  * the prefixed short forms (`rdfs:subClassOf`, type predicate `a` — the
  * table-store convention the driver gates use) and the full W3C IRIs
  * that the engine's own Turtle/TriG/RDF-XML/JSON-LD loaders emit, in
  * the same pass. Emitted closure statements (rdfs5/11 pairs, derived
  * type assertions) use the rendering the collected TBox itself uses —
  * full IRIs as soon as any schema statement arrives IRI-rendered, the
  * short forms otherwise — so loader-ingested graphs and table-store
  * graphs both round-trip without configuration. Encoded paths take the
  * vocabulary as explicit ids ([[RdfsIds]]/[[OwlIds]]) and are exact.
  *
  * Deliberately out of scope (documented, standard for rho-df engines):
  * TBox statements ABOUT the type predicate itself (a super-property of
  * `rdf:type`, or a domain/range declared on it) and the RDFS axiomatic
  * triples (rdfs4a/4b `rdfs:Resource` typing, container-membership
  * properties) — both explode output size without analytic value.
  *
  * THE MAINTENANCE MATRIX: one entry per cell, and every entry takes a
  * [[Corpus]] — triples or named-graph quads, string or encoded terms:
  * {{{
  * materialize     rdfsClosure / owlClosure / owlRlClosure / owlFullClosure
  * insert (O(Δ))   rdfsDelta / owlDelta / owlRlDelta / owlFullDelta
  * delete (DRed)   rdfsRetract / owlRetract
  * lazy entailment rdfsEntailed / owlEntailed / owlRlEntailed / owlFullEntailed
  * streaming       rdfsDeltaStream (stateless), rdfs/owl/owlRl/owlFullMaintainStream
  * compose         incrementNovel / composeIncrement   (graph-aware, null-safe)
  * persist         GraftStore.persistClosure(corpus, append) / openClosure(corpus)
  * identity        sameAsCanonicalize (materialize) / sameAsDelta (O(Δ) merge)
  * }}}
  * The RDFS rows (and through them every maintenance cell) also handle
  * `owl:equivalentClass` / `owl:equivalentProperty`: equivalences fold
  * into the driver-closed hierarchies as bidirectional subsumption (see
  * [[EquivalentClass]]), so no extra rule pass exists anywhere in the
  * matrix.
  * Every Δ-derived broadcast passes a `deltaCap` guard (fail-fast with a
  * re-materialization pointer; `spark.graft.reason.deltaCap` overrides
  * session-wide), and the owlRetract frontier falls back to
  * re-materialization instead of failing on overflow/non-convergence.
  */
object ReasonOps {

  val SubClassOf    = "rdfs:subClassOf"
  val SubPropertyOf = "rdfs:subPropertyOf"
  val Domain        = "rdfs:domain"
  val Range         = "rdfs:range"

  /** The OWL equivalence vocabulary (short table-store renderings) —
    * handled by the SCHEMA machinery, not the property-rule closure:
    * `owl:equivalentClass`/`owl:equivalentProperty` are single-premise
    * bidirectional subsumption (a ≡ b ⊨ a ⊑ b ∧ b ⊑ a), so the driver
    * folds their symmetric closure into the closed class/property
    * hierarchies and every rho-df rule — and with it the ENTIRE
    * maintenance matrix (delta, DRed retract, quads, encoded, lazy,
    * streaming) — fires through equivalences with no new passes. The
    * closure additionally emits the equivalence statements' own
    * symmetric-transitive closure (a ≡ b ≡ c ⊨ a ≡ c, both directions).
    * Scope note (documented, standard): equivalences ENTAILED by
    * subsumption cycles (a ⊑ b, b ⊑ a declared separately) are NOT
    * re-emitted as `owl:equivalentClass` statements — the subsumption
    * consequences themselves are complete either way.
    */
  val EquivalentClass    = "owl:equivalentClass"
  val EquivalentProperty = "owl:equivalentProperty"

  /** The full-IRI renderings the engine's RDF loaders produce. */
  val SubClassOfIri    = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
  val SubPropertyOfIri = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
  val DomainIri        = "http://www.w3.org/2000/01/rdf-schema#domain"
  val RangeIri         = "http://www.w3.org/2000/01/rdf-schema#range"
  val TypeIri          = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val EquivalentClassIri    = "http://www.w3.org/2002/07/owl#equivalentClass"
  val EquivalentPropertyIri = "http://www.w3.org/2002/07/owl#equivalentProperty"

  /** What a reasoning op reads and writes. The LAYOUT: `quads = false`
    * is an (s, p, o) triple relation, `true` an (s, p, o, g) quad
    * relation whose default graph is g = null. The TERMS: strings with
    * a type predicate ([[Corpus.Strings]], both vocabulary renderings
    * matched), or dictionary ids with the op family's id record
    * ([[Corpus.Encoded]]: [[RdfsIds]], [[OwlIds]], [[RlIds]],
    * `(OwlIds, RlIds)` for the joint family, [[CheckIds]], [[ErIds]],
    * or the sameAs id). Every op has ONE entry taking a corpus; the
    * default is string triples typed with `a`.
    */
  final case class Corpus[+I](quads: Boolean = false,
                              terms: Corpus.Terms[I] = Corpus.Strings()) {
    /** The family vocabulary: from the type predicate on string terms,
      * from the id record on encoded ones. */
    private[ops] def vocab[V](strings: String => V, encoded: I => V): V =
      terms match {
        case Corpus.Strings(typePred) => strings(typePred)
        case Corpus.Encoded(ids) => encoded(ids)
      }

    /** Fails unless each of `consts` (named `what`) is a term of this
      * corpus: a `Long` dictionary id on encoded terms, a string on
      * string ones. A constant of the other kind matches no term, so
      * the rules it prunes would silently under-derive. */
    private[ops] def requireTerms(what: String, consts: Seq[Any]): Unit = {
      val encoded = terms.isInstanceOf[Corpus.Encoded[_]]
      consts.foreach(c => require(
        if (encoded) c.isInstanceOf[Long] else c.isInstanceOf[String],
        s"$what constant $c is not a " +
          (if (encoded) "Long dictionary id of an encoded" else "string term of a string") +
          " corpus"))
    }

    /** The same layout and term kind over another family's ids. */
    private[ops] def map[J](f: I => J): Corpus[J] =
      Corpus(quads, terms match {
        case s: Corpus.Strings => s
        case Corpus.Encoded(ids) => Corpus.Encoded(f(ids))
      })

    /** `op` named for this corpus in a re-materialization pointer. */
    private[ops] def remat(op: String): String = {
      val encoded = terms.isInstanceOf[Corpus.Encoded[_]]
      if (!quads && !encoded) op
      else s"$op, ${if (encoded) "encoded " else ""}" +
        (if (quads) "quads" else "triples")
    }
  }

  object Corpus {
    sealed trait Terms[+I]
    final case class Strings(typePred: String = "a") extends Terms[Nothing]
    final case class Encoded[+I](ids: I) extends Terms[I]

    val Triples: Corpus[Nothing] = Corpus()
    val Quads: Corpus[Nothing] = Corpus(quads = true)
    def encoded[I](ids: I, quads: Boolean = false): Corpus[I] =
      Corpus(quads, Encoded(ids))
  }

  /** The first three (triples) or four (quads) columns as s, p, o[, g]. */
  private def normRel(df: DataFrame, quads: Boolean): DataFrame =
    if (quads) normQuads(df) else normTriples(df)

  /** The relation a corpus's schema statements are read from: the
    * given `tboxSource`, else the data itself (every graph of a quad
    * corpus). */
  private def schemaRel(data: DataFrame,
                        tboxSource: Option[DataFrame]): DataFrame =
    normTriples(tboxSource.getOrElse(data))

  /** The RDFS vocabulary as ENCODED ids (see [[rdfsClosure]]).
    * The OWL equivalence ids are optional — `None` simply means the
    * encoded TBox carries no equivalence axioms to match.
    */
  final case class RdfsIds(subClassOf: Long, subPropertyOf: Long,
                           domain: Long, range: Long, typePred: Long,
                           equivalentClass: Option[Long] = None,
                           equivalentProperty: Option[Long] = None)

  /** The OWL property-chain vocabulary (OWL 2 RL rule prp-spo2):
    * `p owl:propertyChainAxiom (p1 … pn)` declares that the COMPOSITION
    * of p1 … pn entails p. The axiom's object is an rdf:list, so the
    * TBox collection also gathers `rdf:first`/`rdf:rest` rows and walks
    * the lists on the driver (capped, loud failure on malformed or
    * cyclic lists). String paths match both renderings below.
    */
  val PropertyChainAxiom    = "owl:propertyChainAxiom"
  val PropertyChainAxiomIri = "http://www.w3.org/2002/07/owl#propertyChainAxiom"
  val RdfFirst    = "rdf:first"
  val RdfFirstIri = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
  val RdfRest     = "rdf:rest"
  val RdfRestIri  = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
  val RdfNil      = "rdf:nil"
  val RdfNilIri   = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"

  /** The OWL property vocabulary as ENCODED ids (see
    * [[owlClosure]]). The chain-vocabulary ids are optional —
    * `None` simply means the encoded TBox carries no chain axioms to
    * match (the same contract as [[RdfsIds]]' equivalence ids).
    */
  final case class OwlIds(inverseOf: Long, symmetricProperty: Long,
                          transitiveProperty: Long, typePred: Long,
                          propertyChainAxiom: Option[Long] = None,
                          listFirst: Option[Long] = None,
                          listRest: Option[Long] = None,
                          listNil: Option[Long] = None)

  /** The chain-axiom vocabulary renderings matched in a TBox — string
    * paths match short + IRI forms, encoded paths the exact ids (empty
    * sets when the ids are absent: no chain axioms can match). */
  private final case class ChainVoc(pca: Set[Any], first: Set[Any],
                                    rest: Set[Any], nil: Set[Any]) {
    def declPreds: Seq[Any] = (pca ++ first ++ rest).toSeq
  }

  private val StringChainVoc = ChainVoc(
    Set[Any](PropertyChainAxiom, PropertyChainAxiomIri),
    Set[Any](RdfFirst, RdfFirstIri),
    Set[Any](RdfRest, RdfRestIri),
    Set[Any](RdfNil, RdfNilIri))

  private def encChainVoc(ids: OwlIds): ChainVoc = ChainVoc(
    ids.propertyChainAxiom.toSet[Any], ids.listFirst.toSet[Any],
    ids.listRest.toSet[Any], ids.listNil.toSet[Any])

  /** The four TBox roles plus the type predicate, each as the SET of
    * renderings matched in premises and ONE canonical emission form.
    * String paths match both the short and IRI renderings; encoded
    * paths are singleton/exact.
    */
  private final case class Voc(sc: Set[Any], sp: Set[Any], dom: Set[Any],
                               rng: Set[Any], ty: Set[Any],
                               ec: Set[Any], ep: Set[Any],
                               emitSc: Any, emitSp: Any, emitTy: Any,
                               emitEc: Any, emitEp: Any) {
    def tboxPreds: Seq[Any] = (sc ++ sp ++ dom ++ rng ++ ec ++ ep).toSeq
  }

  /** Dual-rendering string vocabulary; emission resolves to the IRI
    * forms iff the COLLECTED TBox uses them (see [[resolveEmit]]).
    * An explicitly-passed non-default type predicate is honored exactly.
    */
  private def stringVoc(typePred: String): Voc = {
    val ty: Set[Any] =
      if (typePred == "a") Set("a", TypeIri) else Set(typePred)
    Voc(Set(SubClassOf, SubClassOfIri), Set(SubPropertyOf, SubPropertyOfIri),
      Set(Domain, DomainIri), Set(Range, RangeIri), ty,
      Set(EquivalentClass, EquivalentClassIri),
      Set(EquivalentProperty, EquivalentPropertyIri),
      SubClassOf, SubPropertyOf, typePred,
      EquivalentClass, EquivalentProperty)
  }

  private def encVoc(ids: RdfsIds): Voc =
    Voc(Set(ids.subClassOf), Set(ids.subPropertyOf), Set(ids.domain),
      Set(ids.range), Set(ids.typePred),
      ids.equivalentClass.toSet, ids.equivalentProperty.toSet,
      ids.subClassOf, ids.subPropertyOf, ids.typePred,
      // emission ids: when the equivalence id is absent, no equivalence
      // statement can be collected, so the emission form is never read
      ids.equivalentClass.getOrElse(0L), ids.equivalentProperty.getOrElse(0L))

  /** Pick the emission rendering off the collected TBox: any IRI-form
    * schema statement flips emission to the IRI constants (type too,
    * when the type predicate was the dual-matched default — an
    * IRI-schema'd graph types with `rdf:type`, not `"a"`). A TBox that
    * MIXES renderings fails fast: whichever emission form were chosen,
    * the closure would hold the same logical fact under two renderings
    * that never dedup, and queries filtering on the other rendering
    * would silently miss derived facts — canonicalize the schema to one
    * rendering before reasoning instead.
    */
  private def resolveEmit(voc: Voc, tbox: Array[(Any, Any, Any)]): Voc = {
    val iriForms: Set[Any] =
      Set(SubClassOfIri, SubPropertyOfIri, DomainIri, RangeIri,
        EquivalentClassIri, EquivalentPropertyIri)
    val shortForms: Set[Any] =
      Set(SubClassOf, SubPropertyOf, Domain, Range,
        EquivalentClass, EquivalentProperty)
    if (voc.sc.size > 1) {
      val hasIri = tbox.exists(t => iriForms.contains(t._2))
      val hasShort = tbox.exists(t => shortForms.contains(t._2))
      require(!(hasIri && hasShort),
        "TBox mixes short-form (rdfs:subClassOf) and full-IRI " +
          "(rdf-schema#subClassOf) renderings - the closure would emit " +
          "the same fact under two forms that never dedup; canonicalize " +
          "the schema to ONE rendering before reasoning")
      if (hasIri)
        voc.copy(emitSc = SubClassOfIri, emitSp = SubPropertyOfIri,
          emitTy = if (voc.ty.contains(TypeIri)) TypeIri else voc.emitTy,
          emitEc = EquivalentClassIri, emitEp = EquivalentPropertyIri)
      else voc
    } else voc
  }

  /** Default row cap for maintenance deltas and every Δ-derived set the
    * maintenance ops BROADCAST (over-deletes, premise slabs, bridge
    * sets, frontier probes). The maintenance contract is "Δ is small";
    * the cap makes a violation fail FAST with a re-materialization
    * pointer instead of letting an explicit `broadcast()` hint — which
    * AQE will not demote — OOM the driver. 2M rows of three ~30-byte
    * terms is ~200 MB broadcast-side, comfortably inside a large-cluster
    * driver; raise it only with the driver memory to match — per call
    * via the `deltaCap` parameter, or per session via
    * `spark.graft.reason.deltaCap` (an EXPLICIT parameter always wins,
    * including `Some(DefaultDeltaCap)`; `None` defers to the conf).
    */
  val DefaultDeltaCap: Long = 1L << 21

  /** The effective maintenance-broadcast cap: an explicit `deltaCap`
    * parameter (`Some(n)`, any value — the built-in default included)
    * always wins; `None` defers to the `spark.graft.reason.deltaCap`
    * session conf, and to [[DefaultDeltaCap]] when that is unset too.
    */
  private def effectiveDeltaCap(spark: SparkSession, cap: Option[Long]): Long =
    cap.getOrElse(
      spark.conf.get("spark.graft.reason.deltaCap",
        DefaultDeltaCap.toString).toLong)

  /** Pin `df` (lazy checkpoint + count = ONE job, the [[graft.Pins]]
    * discipline) and fail fast when it exceeds the maintenance-broadcast
    * cap. Every Δ-derived frame the maintenance ops broadcast passes
    * through here, so the cap bounds ALL of them. On ANY failure —
    * including the cap violation itself — the lazily-checkpointed frame
    * is unpinned before rethrowing, so the guard path never leaks the
    * oversized frame it exists to keep out of memory.
    */
  private def pinCapped(df: DataFrame, cap: Option[Long], what: String,
                        remat: String): DataFrame =
    pinCappedN(df, cap, what, remat)._1

  /** [[pinCappedN]] whose materializing job ALSO counts the rows
    * matching `cond` and fails with `msg` when any exist — the
    * fail-fast TBox/declaration guards fold into the pin's one job
    * instead of scheduling a separate filter-isEmpty probe per call.
    */
  private def pinCappedGuard(df: DataFrame, cap: Option[Long], what: String,
                             remat: String, cond: org.apache.spark.sql.Column,
                             msg: => String): (DataFrame, Long) =
    pinCappedN(df, cap, what, remat, Some((cond, () => msg)))

  /** [[pinCapped]] that also RETURNS the row count its cap check already
    * paid for, so callers probe emptiness/novelty from the returned long
    * instead of scheduling a separate isEmpty job per probe — the
    * maintenance gates' job floor is probes × scheduling latency, and
    * every one of these was a whole extra job. An EMPTY result (n == 0)
    * comes back as an empty LocalRelation built driver-side with zero
    * further jobs.
    *
    * The materializing count (or guard aggregate) runs with AQE off, in
    * a clone of the session ([[ScopedConf]]): a pinned frame is
    * ≤ deltaCap rows by contract and its plan is broadcast joins + one
    * explicit repartition — AQE has nothing to re-optimize there, but
    * it executes every query stage as its OWN job, doubling-plus the
    * scheduling floor of the maintenance gates' many tiny pins
    * (measured on q_owl_full_delta / q_owl_haskey_delta: −18% wall from
    * this alone at sf0.1·local[32]). The lazy checkpoint itself, and
    * with it the frame the caller gets back, stays in the caller's
    * session, so corpus-sized actions over the pin keep AQE.
    */
  private def pinCappedN(df: DataFrame, cap: Option[Long], what: String,
                         remat: String,
                         guard: Option[(org.apache.spark.sql.Column,
                           () => String)] = None): (DataFrame, Long) = {
    val eff = effectiveDeltaCap(df.sparkSession, cap)
    // A LocalRelation (rows a driver path returned, a prior pin's empty
    // result, or a composition PropagateEmptyRelation folded away) pins
    // job-free: its rows are counted and capped on the driver, and its
    // broadcasts start no job (`DriverRows`). It comes back as a FRESH
    // LocalRelation over the same rows, not df itself: df's analyzed
    // tree may carry constraints that trip Spark 4.1's Union rewrite
    // downstream (the same bug incrementNovelRaw's round-trip guards
    // against). Pinning non-empty locals instead was measured 2-3x
    // slower while every broadcast of a local relation still cost a
    // job; keeping them local now starts no gate more jobs (sf0.01,
    // local[4]: q_owl_haskey_delta 108 -> 94, q_owl_functional_delta
    // 72 -> 60, q_sameas_delta 32 -> 22; q_owl_full_delta 160 and
    // q_owl_rl_delta 57 unchanged) at the same warm wall within run
    // noise (plans/driver_reason/pin_local.tsv).
    if (guard.isEmpty) df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        requireCap(l.data.length, eff, what, remat)
        return (DriverRows.frame(df.sparkSession, df.schema, l.data), l.data.length)
      case _ => ()
    }
    // Materialize the probe NARROW (DeltaPartitions): a Δ-derived
    // frame is ≤ deltaCap rows by the contract enforced right below —
    // broadcastable at ANY corpus scale — but a broadcast-join output
    // inherits the STREAMED side's partitioning, i.e. the corpus scan's
    // width. Left that wide, every downstream use (broadcast-exchange
    // collect per distinct use-plan, novelty counts, convergence
    // probes) schedules one near-empty task per corpus partition. The
    // explicit round-robin exchange moves only Δ rows once and keeps
    // the corpus-scan stage at full width (coalesce would collapse the
    // scan itself).
    val c = graft.Pins.checkpointLazy(df.repartition(DeltaPartitions))
    try {
      // the guard's violation count rides the same materializing job as
      // the row count (one agg instead of count + filter-isEmpty probe)
      val n = ScopedConf.withConf(df.sparkSession,
          "spark.sql.adaptive.enabled" -> "false") { s =>
        val cs = s.in(c)
        guard match {
          case None => cs.count()
          case Some((cond, msg)) =>
            val row = cs.agg(
              count(lit(1)), count(when(cond, lit(1)))).collect()(0)
            require(row.getLong(1) == 0, msg())
            row.getLong(0)
        }
      }
      requireCap(n, eff, what, remat)
      if (n == 0) {
        // the count just proved the frame empty — build the empty
        // LocalRelation driver-side (no collect job) and release the
        // pin; PropagateEmptyRelation folds away everything it feeds
        graft.Pins.unpin(c)
        return (df.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          df.schema), 0L)
      }
      (c, n)
    } catch {
      case t: Throwable =>
        try graft.Pins.unpin(c) catch { case _: Throwable => () }
        throw t
    }
  }

  /** The `deltaCap` contract on a Δ-derived set of `n` rows, `what`
    * named in the failure with its re-materialization pointer. */
  private def requireCap(n: Long, eff: Long, what: String, remat: String): Unit =
    require(n <= eff,
      s"$what has $n rows - exceeds deltaCap=$eff. Maintenance " +
        s"broadcasts are delta-sized by contract; a change set this " +
        s"large is faster and safer to re-materialize ($remat). Raise " +
        "deltaCap (explicit parameter, or spark.graft.reason.deltaCap " +
        "session-wide) only if the driver can hold the broadcast.")

  /** Partitions a maintenance pin is materialized into (see
    * [[pinCappedN]]). One is right at any scale: the frame is
    * broadcast-bound by contract.
    */
  private val DeltaPartitions = 1

  /** Collapse a plan built PURELY over driver-local relations back to
    * one LocalRelation (one small execution, here). Catalyst only
    * folds Project/Filter over locals; a Union/Aggregate/Join of
    * locals stays a distributed plan whose every downstream broadcast
    * or action schedules jobs — re-localizing pays that execution once
    * and makes all downstream uses job-free. A plan with any
    * distributed leaf is returned unchanged (the large-delta fallback
    * keeps the broadcast machinery). */
  private def relocal(df: DataFrame): DataFrame = {
    val allLocal = df.queryExecution.optimizedPlan.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }
    if (!allLocal) df
    else {
      import scala.jdk.CollectionConverters._
      df.sparkSession.createDataFrame(
        new java.util.ArrayList(df.collect().toSeq.asJava), df.schema)
    }
  }

  /** Proper transitive closure of a (small, driver-side) edge list:
    * every (a, b) with a path a -> ... -> b of length >= 1 and a != b
    * ([[GraphOps.reachPairs]] without the self pairs of cycles, which
    * carry no information for expansion), ordered by source, then
    * target rendering.
    */
  private[graft] def transitive(edges: Seq[(String, String)]): Seq[(String, String)] =
    closeTbox(edges).map { case (a, b) =>
      (a.asInstanceOf[String], b.asInstanceOf[String]) }

  private def closeTbox(edges: Seq[(Any, Any)]): Seq[(Any, Any)] =
    GraphOps.reachPairs(edges).filter { case (a, b) => a != b }
      .sortBy { case (a, b) => (a.toString, b.toString) }

  /** The RDFS closure of `data`: string terms in the store term
    * convention (the corpus's type predicate is the store's rdf:type
    * predicate — the driver-testdata stores use plain "a", and the
    * default also matches loader-emitted full `rdf:type` IRIs) or
    * encoded ids with [[RdfsIds]]. Returns base UNION inferred,
    * deduplicated, including the closed TBox statements themselves
    * (rdfs5/rdfs11: transitive `subPropertyOf` / `subClassOf` pairs).
    *
    * On ENCODED terms the rule passes never touch a string. The ids are
    * DRIVER-COMPUTABLE on a pure-hash store (`Dictionary.termHashLocal`
    * of the store's term forms — no job, no dictionary probe); on a
    * collision-repaired store resolve them once with
    * `Dictionary.lookup`. Output ids all pre-exist in the dictionary
    * (closure only recombines existing terms), so the one decode at the
    * top is the ordinary slim-dict join.
    *
    * On a QUAD corpus (§13-aware reasoning) the TBox is GLOBAL
    * (`tboxSource`: the default graph or a dedicated schema relation;
    * without one, the statements of every graph), and every ABox rule
    * runs with the graph column CARRIED: the rules are single-premise,
    * so each inferred quad lands in its premise's graph and graphs never
    * leak into each other. The closed TBox statements themselves land
    * in the DEFAULT graph (g = null).
    */
  def rdfsClosure(data: DataFrame, corpus: Corpus[RdfsIds] = Corpus.Triples,
                  tboxSource: Option[DataFrame] = None,
                  tboxCap: Int = 1 << 20,
                  pinInput: Boolean = true): DataFrame = {
    // The derivation reads the input ~6x (TBox probe + one pass per rule
    // + the final union); pin it once when it fits executor storage.
    // At full-corpus scale pass pinInput=false - columnar re-scans of
    // the source (no shuffle, filters pushed) beat caching 100 TB.
    val t0 = normRel(data, corpus.quads)
    val t = if (pinInput) t0.localCheckpoint(true) else t0
    val voc = rdfsVoc(corpus)
    val tbox = collectTbox(schemaRel(t, tboxSource),
      col("p").isin(voc.tboxPreds: _*), tboxCap)()
    val derived = rdfsDerive(tbox, t, resolveEmit(voc, tbox),
      includeTboxClosure = true, corpus.quads)
    (t +: derived).reduce(_.unionAll(_)).distinct()
  }

  private def rdfsVoc(corpus: Corpus[RdfsIds]): Voc =
    corpus.vocab(stringVoc, encVoc)

  /** QUERY-TIME RDFS entailment: the closure as a LAZY relation —
    * nothing is materialized, pinned, or shuffled up front. Query
    * engines (SPARQL, SQL) evaluate patterns against this relation and
    * Catalyst specializes each pattern scan through the closed TBox
    * maps: a constant-class type pattern's object filter pushes INTO
    * the broadcast subclass-pair table (leaving exactly the subclass
    * set — the classic query rewrite), a constant-predicate pattern's
    * filter pushes into the sub-property pairs and all the way to the
    * base parquet scan, and rule legs whose emitted predicate
    * contradicts the filter constant-fold to empty. The standard
    * alternative when the corpus is too large to re-materialize; each
    * pattern pays a narrow distinct over its own slice instead of a
    * full-closure refresh. On quads, pattern constants push through the
    * TBox maps AND the graph column.
    */
  def rdfsEntailed(data: DataFrame, corpus: Corpus[RdfsIds] = Corpus.Triples,
                   tboxSource: Option[DataFrame] = None,
                   tboxCap: Int = 1 << 20): DataFrame =
    rdfsClosure(data, corpus, tboxSource, tboxCap, pinInput = false)

  /** INCREMENTAL RDFS maintenance, the O(|delta|) twin of [[rdfsClosure]]
    * matching the store's O(delta) append discipline: with the TBox
    * driver-closed, every rho-df ABox rule is SINGLE-premise (each
    * derivation depends on exactly one ABox triple plus schema maps), so
    *
    *   rdfsClosure(base UNION delta) ==
    *     rdfsClosure(base) UNION rdfsDelta(tboxSource, delta)
    *
    * as long as delta carries no TBox statements — schema changes alter
    * the maps every pass used, so they require re-materialization, and
    * the op FAIL-FASTS if delta contains a TBox predicate (either
    * rendering, or the TBox ids) rather than silently under-deriving.
    * `tboxSource` is any relation holding the (unchanged) schema
    * statements — typically the base graph or the already-materialized
    * closure. Returns the increment (delta plus its derivations,
    * deduped); fold it into the existing closure with
    * [[composeIncrement]] — NOT a full-union distinct.
    *
    * On a quad corpus each inserted quad's derivations land in ITS
    * graph, so the identity holds per graph (composed with
    * [[composeIncrement]], graph column included in the novelty key —
    * null-safe, so default-graph rows dedup correctly); the TBox stays
    * GLOBAL and unchanged.
    *
    * A delta of at most [[rdfsDriverCap]] rows whose terms are non-null
    * and of one type (string or long) is collected once (one bounded
    * job, none for a local relation) and derived on the driver
    * ([[rdfsDeriveRows]]): the TBox guard and the `deltaCap` check run
    * on the collected rows, and the increment comes back as a local
    * relation, so its broadcasts start no job. Any other delta takes
    * the plan: a capped pin of the delta, one broadcast join per rule.
    */
  def rdfsDelta(tboxSource: DataFrame, delta: DataFrame,
                corpus: Corpus[RdfsIds] = Corpus.Triples,
                tboxCap: Int = 1 << 20,
                deltaCap: Option[Long] = None): DataFrame = {
    val voc = rdfsVoc(corpus)
    val remat = corpus.remat("rdfsClosure")
    val tboxMsg = "delta contains TBox statements - schema changes require " +
      s"re-materialization ($remat), not incremental maintenance"
    def tbox() = collectTbox(normTriples(tboxSource),
      col("p").isin(voc.tboxPreds: _*), tboxCap)()
    val input = normRel(delta, corpus.quads)
    gatedRows(input) { rows0 =>
      termRows(input.schema, rows0).map { rows =>
        requireNoTbox(rows, voc, tboxMsg)
        requireCap(rows.length, effectiveDeltaCap(input.sparkSession, deltaCap),
          "rdfsDelta increment", remat)
        val tb = tbox()
        val v = resolveEmit(voc, tb)
        termFrame(input, (rows ++ rdfsDeriveRows(rdfsMaps(tb, v), v, rows)).distinct)
      }
    } { in =>
      val (d, _) = pinCappedGuard(in, deltaCap, "rdfsDelta increment", remat,
        col("p").isin(voc.tboxPreds: _*), tboxMsg)
      val tb = tbox()
      val derived = rdfsDerive(tb, d, resolveEmit(voc, tb),
        includeTboxClosure = false, corpus.quads)
      (d +: derived).reduce(_.unionAll(_)).distinct()
    }
  }

  /** The rows of `increment` NOT already present in `existing`, computed
    * WITHOUT shuffling `existing`: the increment broadcasts as a
    * semi-probe over one narrow scan of the existing relation (the hits
    * are at most |Δ| rows), and the increment anti-joins against the
    * broadcast hits. Null-safe on every column, so quad relations with a
    * null default-graph column dedup correctly. `existing` may be the
    * deduplicated closure OR its raw (pre-distinct) legs — duplicate
    * hits are harmless to the existence check, and the legs variant
    * avoids materializing the closure twice in one plan.
    *
    * This is the composition half of the O(Δ) maintenance contract: the
    * naive `(closure ∪ increment).distinct()` re-shuffles the FULL
    * closure per maintenance batch — the exact cost the incremental
    * derivation exists to avoid. Here the only work proportional to the
    * closure is one columnar scan. PlanSpec asserts the plan carries no
    * shuffle exchange.
    *
    * An increment of string and long columns with at most
    * [[rdfsDriverCap]] rows is collected once (no job when it is already
    * a local relation) and its `deltaCap` checked on the driver; the
    * existence probe is ONE job (the semi-join above, its broadcast of
    * the local increment job-free), and the anti-join runs on the
    * driver, so the novel rows come back as a local relation. A larger
    * increment keeps the plan ([[incrementNovelRaw]]), and so does a
    * `pinHits = false` caller whose increment is not local: there the
    * eager probe would add a job the caller's one action already pays.
    */
  def incrementNovel(existing: DataFrame, increment: DataFrame,
                     deltaCap: Option[Long] = None,
                     pinHits: Boolean = true): DataFrame = {
    def plan(inc: DataFrame): DataFrame = {
      val raw = incrementNovelRaw(existing, inc, deltaCap, pinHits)
      // constraint-stripping boundary on the Δ-sized output: the
      // null-safe anti-join's constraints reference the dropped probe
      // attributes, and Spark 4.1's Union constraint rewrite throws
      // "key not found" when the novel rows later feed a union (the
      // normal composition). When both anti-join sides collapsed to
      // driver-local relations, strip by collecting to ONE
      // LocalRelation — constraint-free like the RDD round-trip, but
      // every downstream action and broadcast of the composed closure's
      // novelty leg stays job-free (an RDD-backed plan re-executes per
      // read). Distributed inputs keep the RDD round-trip; the
      // broadcast-only shape below the boundary is unchanged (PlanSpec
      // asserts it on the raw plan).
      val local = relocal(raw)
      if (local ne raw) local
      else existing.sparkSession.createDataFrame(raw.rdd, raw.schema)
    }
    val keyed = increment.schema.forall(f =>
      f.dataType == StringType || f.dataType == LongType)
    if (!keyed || (!pinHits && !Dictionary.isLocal(increment))) plan(increment)
    else gatedRows(increment)(rows =>
      novelRows(existing, increment.schema, rows, deltaCap))(plan)
  }

  /** [[incrementNovel]]'s driver path over the collected increment
    * `rows`: None when the existence hits outgrow [[rdfsDriverCap]]. */
  private def novelRows(existing: DataFrame, schema: StructType,
                        rows: Array[InternalRow],
                        deltaCap: Option[Long]): Option[DataFrame] = {
    val spark = existing.sparkSession
    val eff = effectiveDeltaCap(spark, deltaCap)
    requireCap(rows.length, eff, "incrementNovel increment", "the full closure")
    val cols = schema.fieldNames.toSeq
    def key(r: InternalRow): Vector[Any] =
      Vector.tabulate(cols.length)(i => r.get(i, schema(i).dataType))
    val inc = DriverRows.frame(spark, schema, rows.toSeq)
    if (rows.isEmpty) return Some(inc)
    val probe = inc.toDF(cols.map("__i_" + _): _*)
    val condE = cols.map(c => col(c) <=> col("__i_" + c)).reduce(_ && _)
    capRows(existing.select(cols.map(col): _*)
        .join(broadcast(probe), condE, "left_semi")).map { hits =>
      requireCap(hits.length, eff, "incrementNovel existence hits",
        "the full closure")
      val seen = hits.iterator.map(key).toSet
      DriverRows.frame(spark, schema, rows.filterNot(r => seen(key(r))).toSeq)
    }
  }

  /** The novelty anti-join itself, pre the constraint-stripping
    * boundary — exposed for plan assertions.
    *
    * `pinHits = false` skips the existence-hit pin: the hit set then
    * stays a LAZY broadcast subplan, and the one corpus existence scan
    * runs inside the CALLER's materializing action instead of a
    * separate pin job (count + checkpoint + downstream broadcast
    * collect — 2-3 driver-floor jobs per call). Correct only when the
    * caller materializes the novelty output exactly once — a pinCappedN
    * wrapper or a single-action gate — otherwise every re-read re-scans
    * the corpus (the reason the pin exists; lazy-composition callers
    * keep the default). The broadcast stays Δ-bounded either way:
    * |hits| <= |inc| and the increment pin enforces the cap.
    */
  private[graft] def incrementNovelRaw(existing: DataFrame,
                                       increment: DataFrame,
                                       deltaCap: Option[Long] = None,
                                       pinHits: Boolean = true)
      : DataFrame = {
    val cols = increment.columns.toSeq
    val ex = existing.select(cols.map(col): _*)
    // An increment that is already an EMPTY LocalRelation (a prior
    // pin's empty result) passes through without a re-pin job: nothing
    // to materialize, constraint-free leaf, and PropagateEmptyRelation
    // folds the joins below away. Everything else — including pinned
    // LogicalRDDs, which RETAIN their origin constraints and trip
    // Spark 4.1's Union constraint rewrite ("key not found") when the
    // novelty output later feeds a union — takes the original path:
    // round-trip BEFORE the pin (Dataset.localCheckpoint builds its
    // LogicalRDD via fromDataset, whose constraint rewrite throws on a
    // derivation increment's nested union constraints;
    // createDataFrame(rdd, schema) skips that path), then the capped
    // pin — BOTH broadcasts below (the increment probe and the hit
    // set, |hits| <= |inc|) are bounded by it.
    val alreadyMat = increment.queryExecution.analyzed match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    val inc =
      if (alreadyMat) increment
      else pinCapped(increment.sparkSession
          .createDataFrame(increment.rdd, increment.schema),
        deltaCap, "incrementNovel increment", "the full closure")
    val probe = inc.toDF(cols.map("__i_" + _): _*)
    val condE = cols.map(c => col(c) <=> col("__i_" + c)).reduce(_ && _)
    // the hit set is Δ-bounded (|hits| <= |inc|) but CORPUS-derived:
    // left lazy, its broadcast re-executes the existence scan in every
    // downstream action reading the composed closure — pinCapped pays
    // that scan exactly once
    val hitsRaw = ex.join(broadcast(probe), condE, "left_semi")
      .toDF(cols.map("__h_" + _): _*)
    val hits =
      if (pinHits) pinCapped(hitsRaw, deltaCap,
        "incrementNovel existence hits", "the full closure")
      else hitsRaw
    val condH = cols.map(c => col(c) <=> col("__h_" + c)).reduce(_ && _)
    inc.join(broadcast(hits), condH, "left_anti")
  }

  /** Fold a derived increment into an existing closure: the closure plus
    * the increment's novel rows ([[incrementNovel]]) — set-equal to
    * `(closure ∪ increment).distinct()` when `closure` is itself
    * duplicate-free, with no shuffle of the closure.
    */
  def composeIncrement(closure: DataFrame, increment: DataFrame): DataFrame =
    closure.unionAll(
      incrementNovel(closure, increment).select(closure.columns.map(col): _*))

  /** DRed-style (delete–rederive) retraction: maintain a materialized
    * RDFS closure through base-triple DELETEs without re-materializing.
    * `base` is the PRE-delete base graph (schema statements included),
    * `deletions` the removed base triples — TBox deletions fail fast
    * (schema changes re-materialize, the same contract as [[rdfsDelta]]).
    *
    * Single-premise rho-df makes DRed one bounded pass:
    *
    *   1. over-delete O = deletions ∪ derive(deletions) — every
    *      consequence the removed triples could have contributed
    *      (|Δ|-sized);
    *   2. every surviving derivation's base premise shares a subject or
    *      object with some over-deleted row's SUBJECT, so the candidate
    *      premise slab is the remaining base semi-joined (broadcast)
    *      against O's subject keys — fan-in-of-Δ sized, never the corpus;
    *   3. survivors = O ∩ (slab ∪ derive(slab)); the removal set
    *      R = O − survivors is what actually leaves the closure;
    *   4. the closure streams through ONE broadcast anti-join against R
    *      — it is never shuffled, the same discipline as
    *      [[incrementNovel]].
    *
    * Where the steps run: a deletion set of at most [[rdfsDriverCap]]
    * rows whose terms are non-null and of one type (string or long, the
    * base's too) is collected once (one bounded job, none for a local
    * relation); its TBox guard and `deltaCap`, step 1 and the
    * over-delete's `deltaCap` run on the driver ([[rdfsDeriveRows]]).
    * Step 2's slab is ONE bounded job (the semi-joins' broadcasts of the
    * local key set start none); when it holds at most [[rdfsDriverCap]]
    * rows, step 3 runs on the driver too and R is a local relation, so
    * step 4 stays lazy with a job-free broadcast. A larger slab is
    * pinned and re-derived by the plan. Any other deletion set takes the
    * plan for every step: capped pins of the deletions, the over-delete
    * and the slab, one broadcast join per rule.
    *
    * On a quad corpus single-premise rules never cross graphs, so the
    * over-delete, the premise slab, and the survivor re-derivation all
    * key on (term, graph): a deletion in one graph cannot kill — or
    * resurrect — a derivation in another. The graph column rides every
    * key null-safely (derivations in the default graph carry g = null).
    * The TBox comes from `tboxSource` when given (the quad contract: a
    * GLOBAL schema relation) and from `base` otherwise.
    *
    * Returns the maintained closure, set-equal to
    * `rdfsClosure(base − deletions)`.
    */
  def rdfsRetract(closure: DataFrame, base: DataFrame, deletions: DataFrame,
                  corpus: Corpus[RdfsIds] = Corpus.Triples,
                  tboxSource: Option[DataFrame] = None,
                  tboxCap: Int = 1 << 20,
                  deltaCap: Option[Long] = None): DataFrame = {
    val hasGraph = corpus.quads
    val voc0 = rdfsVoc(corpus)
    val rematName = corpus.remat("rdfsClosure")
    val width = if (hasGraph) 4 else 3
    val names = Seq("s", "p", "o", "g").take(width)
    def norm(df: DataFrame): DataFrame =
      df.select(df.columns.take(width).toSeq.zip(names)
        .map { case (c, n) => col(c).as(n) }: _*)
    // quad keys are (term, graph) — g null-safe for the default graph
    def eqCond(cols: Seq[String], pfx: String) =
      cols.map(c => if (c == "g") col(c) <=> col(pfx + c)
                    else col(c) === col(pfx + c)).reduce(_ && _)
    def anti(a: DataFrame, b: DataFrame): DataFrame = {
      val probe = b.toDF(names.map("__x_" + _): _*)
      a.join(broadcast(probe), eqCond(names, "__x_"), "left_anti")
    }
    def derive(df: DataFrame, tbox: Array[(Any, Any, Any)], voc: Voc) =
      rdfsDerive(tbox, df, voc, includeTboxClosure = false, hasGraph)
    val tboxMsg = "deletions contain TBox statements - schema changes " +
      s"require re-materialization ($rematName), not incremental retraction"
    val b = norm(base)
    def tboxOf(): (Array[(Any, Any, Any)], Voc) = {
      val tbox = collectTbox(tboxSource.map { ts =>
          val Seq(xs, xp, xo) = ts.columns.take(3).toSeq
          ts.select(col(xs).as("s"), col(xp).as("p"), col(xo).as("o"))
        }.getOrElse(b.select("s", "p", "o")),
        col("p").isin(voc0.tboxPreds: _*), tboxCap)()
      (tbox, resolveEmit(voc0, tbox))
    }
    // 2. candidate premise slab: remaining base rows sharing a subject
    //    or object with an over-deleted SUBJECT — in the SAME graph on
    //    the quad path (single-premise rules only ever move a
    //    consequence's subject to its premise's subject or object
    //    position, and never across graphs) — broadcast semi-joins,
    //    narrow scans
    val keyCols = if (hasGraph) Seq("s", "g") else Seq("s")
    def slabOf(keys: DataFrame, del: DataFrame): DataFrame = {
      def semiOn(pos: String): DataFrame = {
        val cond = (col(pos) === col("__k_s")) +:
          (if (hasGraph) Seq(col("g") <=> col("__k_g")) else Nil)
        b.join(broadcast(keys), cond.reduce(_ && _), "left_semi")
      }
      anti(semiOn("s").unionAll(semiOn("o")), del)
    }
    val slabWhat = "premise slab (fan-in of the over-delete)"
    // 3. survivors re-derive from the pinned slab; R = over-deleted
    //    minus them
    def planRemoval(over: DataFrame, del: DataFrame,
                    tbox: Array[(Any, Any, Any)], voc: Voc): DataFrame = {
      val keys = over.select(keyCols.map(c => col(c).as("__k_" + c)): _*)
        .distinct()
      val slab = pinCapped(slabOf(keys, del), deltaCap, slabWhat, rematName)
      anti(over, (slab +: derive(slab, tbox, voc)).reduce(_.unionAll(_)))
    }
    val delIn = norm(deletions)
    val removal = gatedRows(delIn) { rows0 =>
      termRows(delIn.schema, rows0)
        .filter(_ => b.schema.forall(_.dataType == delIn.schema.head.dataType))
        .map { del =>
          requireNoTbox(del, voc0, tboxMsg)
          val eff = effectiveDeltaCap(delIn.sparkSession, deltaCap)
          requireCap(del.length, eff, "retraction set", rematName)
          val (tbox, voc) = tboxOf()
          val maps = rdfsMaps(tbox, voc)
          // 1. over-delete, on the driver
          val over = (del ++ rdfsDeriveRows(maps, voc, del)).distinct
          requireCap(over.length, eff, "over-delete set", rematName)
          val overF = termFrame(delIn, over)
          val delF = termFrame(delIn, del)
          val keyPos = keyCols.map(delIn.schema.fieldIndex)
          val keys = termFrame(delIn.select(keyCols.map(c => col(c).as("__k_" + c)): _*),
            over.map(r => keyPos.map(r).toVector).distinct)
          capRows(slabOf(keys, delF)) match {
            case Some(slabRows) =>
              requireCap(slabRows.length, eff, slabWhat, rematName)
              val slab = slabRows.toSeq.map(r =>
                Vector.tabulate(width)(i => r.get(i, b.schema(i).dataType)))
              val survivors = (slab ++ rdfsDeriveRows(maps, voc, slab)).toSet
              termFrame(delIn, over.filterNot(survivors))
            case None => planRemoval(overF, delF, tbox, voc)
          }
        }
    } { in =>
      val (del, _) = pinCappedGuard(in, deltaCap, "retraction set", rematName,
        col("p").isin(voc0.tboxPreds: _*), tboxMsg)
      val (tbox, voc) = tboxOf()
      // 1. over-delete: the deleted rows and every direct consequence
      val over = pinCapped(
        (del +: derive(del, tbox, voc)).reduce(_.unionAll(_)).distinct(),
        deltaCap, "over-delete set", rematName)
      planRemoval(over, del, tbox, voc)
    }
    // 4. the closure streams through one broadcast anti-join — no shuffle
    anti(norm(closure), removal)
  }

  /** STREAMING RDFS materialization: [[rdfsDelta]] over a live triple
    * or quad stream. Every rho-df rule is a broadcast join against a
    * driver-built table, so the whole derivation is stateless and
    * append-safe — each micro-batch emits exactly its own increment
    * (single-premise rules never need cross-batch state; on quads each
    * arriving quad's derivations land in ITS graph). No dedup is
    * applied (distinct on a stream is stateful); increments may repeat
    * what an earlier batch or the base closure already holds — dedup at
    * the sink or with a watermarked dropDuplicates downstream. TBox
    * statements ARRIVING ON THE STREAM fail the batch at runtime
    * (raise_error) — schema changes re-materialize, same contract as
    * the batch delta path.
    */
  def rdfsDeltaStream(tboxSource: DataFrame, stream: DataFrame,
                      corpus: Corpus[RdfsIds] = Corpus.Triples,
                      tboxCap: Int = 1 << 20): DataFrame = {
    val voc0 = rdfsVoc(corpus)
    val guard = when(col("p").isin(voc0.tboxPreds: _*),
      raise_error(concat(lit("TBox statement on the stream ("),
        col("p").cast("string"),
        lit(") - schema changes require re-materialization"))))
      .otherwise(col("p"))
    val d = normRel(stream, corpus.quads).select(
      Seq(col("s"), guard.as("p"), col("o")) ++
        (if (corpus.quads) Seq(col("g")) else Nil): _*)
    val tbox = collectTbox(normTriples(tboxSource),
      col("p").isin(voc0.tboxPreds: _*), tboxCap)()
    val derived = rdfsDerive(tbox, d, resolveEmit(voc0, tbox),
      includeTboxClosure = false, corpus.quads)
    (d +: derived).reduce(_.unionAll(_))
  }

  /** Collect + cap the schema statements (driver-sized by contract) —
    * generic over the term type (string terms or encoded long ids): the
    * first three columns of the rows of `t` matching `cond`, failing with
    * `overCap` past `tboxCap` of them. One
    * bounded-collect job over every partition ([[Dictionary.collectBounded]]),
    * none for a local relation; a `limit` collect would scan the
    * partitions in up to three growing jobs.
    */
  private def collectTbox(t: DataFrame, cond: Column, tboxCap: Int)(
      overCap: String = s"TBox exceeds $tboxCap statements - not schema-shaped; " +
        "raise tboxCap only if the ontology is genuinely this large")
      : Array[(Any, Any, Any)] = {
    val tbox = Dictionary.collectBounded(t.where(cond), tboxCap)
    require(tbox.isDefined, overCap)
    tbox.get.map(r => (r.get(0), r.get(1), r.get(2)))
  }

  private final case class RdfsMaps(spPairs: Seq[(Any, Any)],
                                    scPairs: Seq[(Any, Any)],
                                    domEff: Seq[(Any, Any)],
                                    rngEff: Seq[(Any, Any)],
                                    ecPairs: Seq[(Any, Any)],
                                    epPairs: Seq[(Any, Any)])

  /** The driver-side schema maps every rule pass consumes: closed
    * property/class hierarchies and EFFECTIVE domain/range (declared
    * unions over {p} ∪ sp*(p), so inherited declarations fire in one
    * pass). OWL equivalence axioms fold in here — each
    * `owl:equivalentClass`/`owl:equivalentProperty` statement
    * symmetrizes into a bidirectional subsumption edge BEFORE the
    * transitive closure, so subsumption chains cross equivalences
    * (A ⊑ B, B ≡ C, C ⊑ D ⊨ A ⊑ D), domain/range inherit through
    * equivalent properties, and every downstream rule pass (and with it
    * the whole delta/retract/lazy/streaming maintenance matrix) fires
    * through equivalences with no new machinery. The closed equivalence
    * relations themselves (`ecPairs`/`epPairs`: symmetric-transitive,
    * irreflexive) are kept for emission.
    */
  private def rdfsMaps(tbox: Array[(Any, Any, Any)], voc: Voc): RdfsMaps = {
    def sym(preds: Set[Any]): Seq[(Any, Any)] =
      tbox.collect { case (s, p, o) if preds.contains(p) => (s, o) }
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.toSeq
    val ecSym = sym(voc.ec)
    val epSym = sym(voc.ep)
    val spPairs = closeTbox(tbox.collect {
      case (s, p, o) if voc.sp.contains(p) => (s, o) }.toSeq ++ epSym)
    val scPairs = closeTbox(tbox.collect {
      case (s, p, o) if voc.sc.contains(p) => (s, o) }.toSeq ++ ecSym)
    val spMap = spPairs.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
    def effective(decl: Seq[(Any, Any)]): Seq[(Any, Any)] = {
      val byProp = decl.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
      val props = (byProp.keySet ++ spMap.keySet).toSeq.sortBy(_.toString)
      props.flatMap { p =>
        val classes = (Seq(p) ++ spMap.getOrElse(p, Nil))
          .flatMap(qq => byProp.getOrElse(qq, Nil)).distinct.sortBy(_.toString)
        classes.map((p, _))
      }
    }
    RdfsMaps(spPairs, scPairs,
      effective(tbox.collect { case (s, p, o) if voc.dom.contains(p) => (s, o) }),
      effective(tbox.collect { case (s, p, o) if voc.rng.contains(p) => (s, o) }),
      closeTbox(ecSym), closeTbox(epSym))
  }

  private def pairDfAny(spark: SparkSession, pairs: Seq[(Any, Any)],
                        a: String, b: String,
                        dt: org.apache.spark.sql.types.DataType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      new java.util.ArrayList(
        pairs.map(x => org.apache.spark.sql.Row(x._1, x._2)).asJava),
      org.apache.spark.sql.types.StructType(Seq(a, b).map(
        org.apache.spark.sql.types.StructField(_, dt, nullable = false))))
  }

  /** The rho-df rule passes over an ABox relation `t` given a collected
    * TBox: one broadcast join per rule, sub-class expansion over base
    * AND derived types. Shared by the full, delta, streaming, retract,
    * and ENCODED paths — generic over the term type, so the same code
    * runs on string terms and on long ids (the derivation tables take
    * `t`'s column type). With `hasGraph` the graph column is CARRIED
    * through every rule (single-premise, so derivations land in their
    * premise's graph; stream-safe: broadcast joins and unions of
    * append-only frames, no stateful op).
    */
  private def rdfsDerive(tbox: Array[(Any, Any, Any)], t: DataFrame,
                         voc: Voc, includeTboxClosure: Boolean,
                         hasGraph: Boolean): Seq[DataFrame] = {
    val spark = t.sparkSession
    val dt = t.schema.fields.head.dataType
    val maps = rdfsMaps(tbox, voc)
    val g = if (hasGraph) Seq(col("g")) else Nil
    def pairDf(pairs: Seq[(Any, Any)], a: String, b: String): DataFrame =
      pairDfAny(spark, pairs, a, b, dt)

    val derived = scala.collection.mutable.ListBuffer[DataFrame]()
    // Each rule pre-filters its scan by the DRIVER-KNOWN predicate keys
    // of its map: the static isin pushes into the source scans — and on
    // an unpivot/union source whose legs carry constant predicates,
    // whole non-matching legs constant-fold away, which is what makes
    // the LAZY entailment relation (rdfsEntailed) read only the slices
    // a query pattern actually needs.
    def keyed(pairs: Seq[(Any, Any)]): DataFrame =
      t.where(col("p").isin(pairs.map(_._1).distinct: _*))
    // rdfs7: (s p o), p sp* q  =>  (s q o)
    if (maps.spPairs.nonEmpty)
      derived += keyed(maps.spPairs)
        .join(broadcast(pairDf(maps.spPairs, "p", "q")), "p")
        .select(Seq(col("s"), col("q").as("p"), col("o")) ++ g: _*)
    // rdfs2: (s p o), dom*(p) contains C  =>  (s type C)
    if (maps.domEff.nonEmpty)
      derived += keyed(maps.domEff)
        .join(broadcast(pairDf(maps.domEff, "p", "c")), "p")
        .select(Seq(col("s"), lit(voc.emitTy).as("p"), col("c").as("o")) ++
          g: _*)
    // rdfs3: (s p o), rng*(p) contains C  =>  (o type C)
    if (maps.rngEff.nonEmpty)
      derived += keyed(maps.rngEff)
        .join(broadcast(pairDf(maps.rngEff, "p", "c")), "p")
        .select(Seq(col("o").as("s"), lit(voc.emitTy).as("p"),
          col("c").as("o")) ++ g: _*)
    // rdfs9: (s type C), C sc* D  =>  (s type D) - over base AND derived
    // type assertions (domain/range-produced types expand too).
    if (maps.scPairs.nonEmpty) {
      val allTypes = (t +: derived.toSeq)
        .map(_.where(col("p").isin(voc.ty.toSeq: _*))
          .select(Seq(col("s"), col("o")) ++ g: _*))
        .reduce(_.unionAll(_))
      derived += allTypes.join(broadcast(pairDf(maps.scPairs, "o", "d")), "o")
        .select(Seq(col("s"), lit(voc.emitTy).as("p"), col("d").as("o")) ++
          g: _*)
    }
    // rdfs5 / rdfs11 + the closed equivalence relations: the closed
    // hierarchy statements themselves (equivalences emit BOTH their
    // symmetric-transitive closure and, via sc/spPairs, their mutual
    // subsumption pairs), in the default graph on quads.
    val noGraph = if (hasGraph) Seq(null) else Nil
    val tboxClosed =
      (maps.spPairs.map { case (a, b) => Seq(a, voc.emitSp, b) } ++
        maps.scPairs.map { case (a, b) => Seq(a, voc.emitSc, b) } ++
        maps.ecPairs.map { case (a, b) => Seq(a, voc.emitEc, b) } ++
        maps.epPairs.map { case (a, b) => Seq(a, voc.emitEp, b) })
        .map(_ ++ noGraph)
    if (includeTboxClosure && tboxClosed.nonEmpty) {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{StructField, StructType}
      derived += spark.createDataFrame(
        new java.util.ArrayList(
          tboxClosed.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava),
        StructType(Seq("s", "p", "o").map(StructField(_, dt, nullable = false)) ++
          (if (hasGraph) Seq(StructField("g", dt, nullable = true)) else Nil)))
    }
    derived.toSeq
  }

  /** Maintenance inputs of at most this many rows are maintained on the
    * driver ([[rdfsDelta]], [[incrementNovel]], [[rdfsRetract]]): the
    * decode cap, [[Dictionary.LocalCap]]. A spec or probe lowers it
    * (`rdfsDriverCap.withValue(-1) {...}`) to run small inputs through
    * the plans. */
  private[graft] val rdfsDriverCap =
    new scala.util.DynamicVariable[Int](Dictionary.LocalCap)

  /** `df`'s rows when it holds at most [[rdfsDriverCap]] of them (one
    * bounded job, none for a local relation), else None. */
  private def capRows(df: DataFrame): Option[Array[InternalRow]] =
    Dictionary.rowsWithin(df, rdfsDriverCap.value)

  /** The size gate of the RDFS maintenance entries ([[Dictionary.gated]]
    * under [[rdfsDriverCap]]): `onDriver` over the collected rows, else
    * `plan` over the (lazily pinned) input; the plan pins what it keeps. */
  private def gatedRows[T](input: DataFrame)(
      onDriver: Array[InternalRow] => Option[T])(plan: DataFrame => T): T =
    Dictionary.gated(input, graft.Pins.isMaterialized(input),
      rdfsDriverCap.value)(onDriver)(plan)

  /** Collected (s, p, o[, g]) rows as Catalyst term values, when the
    * driver rule evaluator reads them: every column of one type, string
    * or long, and no null s, p or o. */
  private def termRows(schema: StructType, rows: Array[InternalRow])
      : Option[IndexedSeq[Vector[Any]]] = {
    val dt = schema.head.dataType
    val oneType = (dt == StringType || dt == LongType) &&
      schema.forall(_.dataType == dt)
    if (!oneType || rows.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      None
    else Some(rows.toIndexedSeq.map(r =>
      Vector.tabulate(schema.length)(i => r.get(i, dt))))
  }

  /** A local relation over driver-held term rows, laid out as `like`. */
  private def termFrame(like: DataFrame, rows: Seq[Vector[Any]]): DataFrame =
    DriverRows.frame(like.sparkSession, like.schema,
      rows.map(r => new GenericInternalRow(r.toArray[Any])))

  /** The TBox guard of the maintenance entries on driver-held rows. */
  private def requireNoTbox(rows: Seq[Vector[Any]], voc: Voc, msg: String): Unit = {
    val preds = voc.tboxPreds.map(CatalystTypeConverters.convertToCatalyst).toSet
    require(!rows.exists(r => preds(r(1))), msg)
  }

  /** [[rdfsDerive]]'s rules on the driver, over rows of Catalyst term
    * values (s, p, o[, g]): rdfs7, rdfs2 and rdfs3 per row off the same
    * [[rdfsMaps]], then rdfs9 over the type assertions among the rows
    * and those derivations, each derivation in its premise's graph.
    * Returns the bag the plan's rule legs return (callers dedup); the
    * closed TBox statements are not emitted. */
  private def rdfsDeriveRows(maps: RdfsMaps, voc: Voc,
                             rows: Seq[Vector[Any]]): Seq[Vector[Any]] = {
    def term(x: Any): Any = CatalystTypeConverters.convertToCatalyst(x)
    def index(pairs: Seq[(Any, Any)]): Map[Any, Seq[Any]] =
      pairs.groupBy(pr => term(pr._1)).map { case (k, ps) => k -> ps.map(pr => term(pr._2)) }
    val sp = index(maps.spPairs)
    val dom = index(maps.domEff)
    val rng = index(maps.rngEff)
    val sc = index(maps.scPairs)
    val ty = voc.ty.map(term)
    val emitTy = term(voc.emitTy)
    val out = scala.collection.mutable.ArrayBuffer.empty[Vector[Any]]
    rows.foreach { r =>
      val g = r.drop(3)
      sp.getOrElse(r(1), Nil).foreach(q => out += Vector(r(0), q, r(2)) ++ g)
      dom.getOrElse(r(1), Nil).foreach(c => out += Vector(r(0), emitTy, c) ++ g)
      rng.getOrElse(r(1), Nil).foreach(c => out += Vector(r(2), emitTy, c) ++ g)
    }
    (rows ++ out).filter(r => ty(r(1))).foreach(r =>
      sc.getOrElse(r(2), Nil).foreach(d => out += Vector(r(0), emitTy, d) ++ r.drop(3)))
    out.toSeq
  }



  val InverseOf          = "http://www.w3.org/2002/07/owl#inverseOf"
  val SymmetricProperty  = "http://www.w3.org/2002/07/owl#SymmetricProperty"
  val TransitiveProperty = "http://www.w3.org/2002/07/owl#TransitiveProperty"
  val SameAs             = "http://www.w3.org/2002/07/owl#sameAs"
  val FunctionalProperty = "http://www.w3.org/2002/07/owl#FunctionalProperty"
  val InverseFunctionalProperty =
    "http://www.w3.org/2002/07/owl#InverseFunctionalProperty"

  /** Round count of the most recent [[owlRetract]] survivor-frontier
    * convergence (max across the retraction's transitive properties) —
    * the DRed twin of [[GraphOps.lastFixpointRounds]] for the scale
    * probe. */
  private[graft] val lastFrontierRounds = new java.util.concurrent.atomic.AtomicLong(0)

  /** OWL property-rule materialization (the horn subset RDFS lacks):
    * `owl:inverseOf` (both directions), `owl:SymmetricProperty`,
    * `owl:TransitiveProperty`, and `owl:propertyChainAxiom` —
    * declarations are schema-sized and close on the driver (inverseOf
    * is made symmetric; a property inverse to a symmetric one is
    * itself symmetric-closed through the derived pass; chain axioms'
    * rdf:lists walk on the driver), inverse/symmetric derivation is
    * one broadcast join, each declared transitive property closes
    * ([[GraphOps.transitiveClosure]]: a driver BFS under the graph size
    * gate, iterated squaring past it) over ITS edge set only (after
    * inverse/symmetric derivation, so inverse edges participate in
    * chains), and property
    * chains iterate with the other rules to fixpoint
    * ([[owlCloseCore]]'s chain loop — a self-chain `p∘p ⊑ p` IS
    * transitivity and stays logarithmic). owl:sameAs is deliberately
    * separate ([[sameAsCanonicalize]]): identity sets are DATA-sized
    * and must never reach the driver.
    *
    * On a quad corpus the declarations are GLOBAL (`tboxSource`) and
    * the rules CARRY the graph column — inverse/symmetric are
    * single-premise (graph-preserving by construction), and each
    * transitive property closes PER GRAPH: the graph column groups the
    * closure, so chains never cross graphs. Encoded terms run the rules
    * and the closure entirely on fixed-width ids.
    */
  def owlClosure(data: DataFrame, corpus: Corpus[OwlIds] = Corpus.Triples,
                 tboxSource: Option[DataFrame] = None,
                 tboxCap: Int = 1 << 20): DataFrame = {
    val rel0 = normRel(data, corpus.quads)
    // the quad closure pins its input; the triple closure re-reads it
    val rel = if (corpus.quads) rel0.localCheckpoint(true) else rel0
    val (inv, sym, trans, chains) =
      owlDecls(tboxSource.getOrElse(rel), owlVoc(corpus), tboxCap)
    owlCloseCore(rel, inv, sym, trans, corpus.quads, chains)
  }

  /** The OWL property vocabulary of a corpus: the OWL IRIs (type
    * predicate as given) on string terms, the [[OwlIds]] on encoded
    * ones. */
  private final case class OwlVoc(inverseOf: Any, symmetricProperty: Any,
                                  transitiveProperty: Any, typePred: Any,
                                  chains: ChainVoc)

  private def owlVoc(corpus: Corpus[OwlIds]): OwlVoc = corpus.vocab(
    typePred => OwlVoc(InverseOf, SymmetricProperty, TransitiveProperty,
      typePred, StringChainVoc),
    ids => OwlVoc(ids.inverseOf, ids.symmetricProperty,
      ids.transitiveProperty, ids.typePred, encChainVoc(ids)))

  /** The OWL property declarations of a relation, driver-collected and
    * capped: symmetrized inverseOf pairs, symmetric-property terms,
    * transitive-property terms, and property-chain axioms (head →
    * ordered body, the `chainVoc`-matched `owl:propertyChainAxiom`
    * statements with their rdf:lists walked on the driver). Corpora
    * whose ABox carries heavy UNRELATED rdf:list data share the cap
    * with the declarations — raise `tboxCap` or pre-filter; the walk
    * itself only touches nodes reachable from a chain axiom.
    */
  private def owlDecls(rel: DataFrame, voc: OwlVoc, tboxCap: Int)
      : (Seq[(Any, Any)], Seq[Any], Seq[Any], Seq[(Any, Seq[Any])]) = {
    val OwlVoc(inverseOf, symmetricProperty, transitiveProperty, typePred,
      chainVoc) = voc
    val Seq(cs, cp, co) = rel.columns.take(3).toSeq
    val chainPreds = chainVoc.declPreds
    val chainCond =
      if (chainPreds.isEmpty) lit(false) else col("p").isin(chainPreds: _*)
    val tbox = collectTbox(rel.select(col(cs).as("s"), col(cp).as("p"), col(co).as("o")),
      col("p") === inverseOf ||
        (col("p") === typePred &&
          col("o").isin(symmetricProperty, transitiveProperty)) ||
        chainCond, tboxCap)(
      s"OWL property declarations exceed $tboxCap — not schema-shaped")
    val inv = tbox.collect { case (a, p, b) if p == inverseOf => (a, b) }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.toSeq
    val sym = tbox.collect {
      case (p, _, o) if o == symmetricProperty => p
    }.distinct.toSeq
    val trans = tbox.collect {
      case (p, _, o) if o == transitiveProperty => p
    }.distinct.sortBy(_.toString).toSeq
    val chains = walkRdfLists(tbox, chainVoc.pca, chainVoc.first,
      chainVoc.rest, chainVoc.nil, "owl:propertyChainAxiom")
    (inv, sym, trans, chains)
  }

  /** Walk driver-collected rdf:lists: every (owner, axiomPred,
    * listNode) row among `rows` resolves to (owner, ordered members) —
    * loud failure on cyclic, empty, or malformed lists. Shared by the
    * chain-axiom and hasKey collectors. */
  private def walkRdfLists(rows: Array[(Any, Any, Any)], axiom: Set[Any],
                           first: Set[Any], rest: Set[Any], nil: Set[Any],
                           what: String): Seq[(Any, Seq[Any])] = {
    val firsts = rows.collect {
      case (n, p, v) if first(p) => (n, v) }.groupBy(_._1)
    val rests = rows.collect {
      case (n, p, v) if rest(p) => (n, v) }.groupBy(_._1)
    def cell(m: Map[Any, Array[(Any, Any)]], node: Any, role: String,
             owner: Any): Any = {
      val vs = m.getOrElse(node, Array.empty[(Any, Any)]).map(_._2).distinct
      require(vs.length == 1, s"$what for $owner: rdf " +
        s"list node $node has ${vs.length} $role values (malformed list)")
      vs.head
    }
    rows.collect { case (h, p, l) if axiom(p) => (h, l) }
      .distinct.toSeq.map { case (h, l) =>
        val buf = scala.collection.mutable.ListBuffer[Any]()
        val seen = scala.collection.mutable.Set[Any]()
        var node = l
        while (!nil(node)) {
          require(seen.add(node), s"$what list for $h is cyclic at $node")
          buf += cell(firsts, node, "rdf:first", h)
          node = cell(rests, node, "rdf:rest", h)
        }
        require(buf.nonEmpty,
          s"$what for $h names an empty chain (rdf:nil object)")
        (h, buf.toSeq)
      }.sortBy(_._1.toString)
  }

  /** One inverse + symmetric derivation pass over a triple or quad
    * relation (both rules are single-premise, so the graph column — when
    * present — is carried untouched: derivations land in their premise's
    * graph).
    */
  private def owlInvSym(rel: DataFrame, inv: Seq[(Any, Any)], sym: Seq[Any],
                        hasGraph: Boolean): Seq[DataFrame] = {
    val spark = rel.sparkSession
    val dt = rel.schema.fields.head.dataType
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    val buf = scala.collection.mutable.ListBuffer[DataFrame]()
    if (inv.nonEmpty)
      buf += rel.join(broadcast(pairDfAny(spark, inv, "p", "q2", dt)), "p")
        .select(Seq(col("o").as("s"), col("q2").as("p"),
          col("s").as("o")) ++ gsel: _*)
    if (sym.nonEmpty)
      buf += rel.where(col("p").isin(sym: _*))
        .select(Seq(col("o").as("s"), col("p"), col("s").as("o")) ++ gsel: _*)
    buf.toSeq
  }

  /** The OWL property-rule passes over a relation given collected
    * declarations — shared by the triple/quad/encoded closures, the
    * lazy entailment relation, and the retraction fallback:
    *
    *   - pass 1: inverse/symmetric over the input, so derived edges
    *     join chains;
    *   - each declared transitive property closes over ITS edge set
    *     ([[GraphOps.transitiveClosure]], a ≠ b kept; PER GRAPH on the
    *     quad path: the graph column groups it, chains never cross
    *     graphs);
    *   - pass 2: inverse/symmetric of the closure-derived edges. This
    *     is the fixpoint for the declared rules:
    *     closure(inverse(S)) = inverse(closure(S)), so a transitive q
    *     already subsumes its pass-2 rows, and a non-transitive q gains
    *     exactly inverse(closure(p)) — nothing feeds back.
    */
  private def owlCloseBody(rel: DataFrame, inv: Seq[(Any, Any)],
                           sym: Seq[Any], trans: Seq[Any],
                           hasGraph: Boolean): DataFrame = {
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    val pass1 = owlInvSym(rel, inv, sym, hasGraph)
    val withInv = (rel +: pass1).reduce(_.unionAll(_))
    val closed = trans.map { pp =>
      val edges = withInv.where(col("p") === pp)
        .select(Seq(col("s"), col("o")) ++ gsel: _*)
      GraphOps.transitiveClosure(edges, if (hasGraph) Seq("g") else Nil, maxRounds = 16)
        .where(col("s") =!= col("o"))
        .select(Seq(col("s"), lit(pp).as("p"), col("o")) ++ gsel: _*)
    }
    val pass2 = closed.flatMap(c => owlInvSym(c, inv, sym, hasGraph))
    (Seq(withInv) ++ closed ++ pass2).reduce(_.unionAll(_)).distinct()
  }

  /** Round count of the most recent property-chain fixpoint convergence
    * (0 when no chain axiom fired) — scale-evidence telemetry: rounds
    * track chain-FEED depth (how often one chain's conclusions enable
    * another match), not row count, and a self-feeding chain
    * (`p ∘ p ⊑ p`) doubles its reach per round, so rounds stay
    * logarithmic in path length. */
  private[graft] val lastChainRounds =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** One full chain-derivation pass (OWL 2 RL prp-spo2): for each axiom
    * `head ⊒ p1 ∘ … ∘ pn`, the n property slices of `rel` join along
    * the composition (keyed equi-joins — the slices SHUFFLE on the
    * chain key, the scale-correct shape for materialization; on the
    * quad path every hop also keys on the graph column, so compositions
    * never cross graphs).
    */
  private def deriveChains(rel: DataFrame, chains: Seq[(Any, Seq[Any])],
                           hasGraph: Boolean): DataFrame = {
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    chains.map { case (head, body) =>
      var cur = rel.where(col("p") === body.head)
        .select(Seq(col("s").as("__c0"), col("o").as("__cc")) ++ gsel: _*)
      body.tail.foreach { pi =>
        val nxt = rel.where(col("p") === pi)
          .select(Seq(col("s").as("__ns"), col("o").as("__no")) ++
            (if (hasGraph) Seq(col("g").as("__ng")) else Nil): _*)
        cur = cur.join(nxt,
            (Seq(col("__cc") === col("__ns")) ++
              (if (hasGraph) Seq(col("g") <=> col("__ng")) else Nil))
              .reduce(_ && _))
          .select(Seq(col("__c0"), col("__no").as("__cc")) ++ gsel: _*)
      }
      cur.select(Seq(col("__c0").as("s"), lit(head).as("p"),
        col("__cc").as("o")) ++ gsel: _*)
    }.reduce(_.unionAll(_))
  }

  /** The transitive properties a chain conclusion can reach: the chain
    * heads themselves plus properties whose INVERSE is a head (pass 1
    * lands the conclusions' inverse images there) — only these need
    * re-squaring inside the chain fixpoint; every other transitive
    * slice is unchanged and already closed. */
  private def chainFeedable(trans: Seq[Any], inv: Seq[(Any, Any)],
                            chains: Seq[(Any, Seq[Any])]): Seq[Any] = {
    val heads = chains.map(_._1).toSet
    trans.filter(p => heads.contains(p) ||
      inv.exists { case (a, b) => a == p && heads.contains(b) })
  }

  /** The chain axioms a pattern-predicate set can observe: heads
    * mentioned directly, plus heads whose inverse is mentioned — the
    * [[transNeeded]] analog; unlisted chains are skipped (under-derived
    * for their heads only), the same documented contract as pruned
    * transitive slices. */
  private def chainsNeeded(chains: Seq[(Any, Seq[Any])],
                           inv: Seq[(Any, Any)], patternPreds: Seq[Any])
      : Seq[(Any, Seq[Any])] =
    if (patternPreds.isEmpty) chains
    else chains.filter { case (h, _) => patternPreds.contains(h) ||
      inv.exists { case (a, b) => a == h && patternPreds.contains(b) } }

  /** [[owlCloseBody]] plus the property-chain fixpoint: chain
    * conclusions can feed inverse/symmetric/transitive rules AND other
    * chains (a self-chain `p ∘ p ⊑ p` IS transitivity), so the closure
    * iterates derive-chains → re-close until the row count converges.
    * Each round re-squares ONLY the [[chainFeedable]] transitive slices
    * (the others are untouched and already closed — re-running their
    * [[GraphOps.transitiveClosure]] from a closed set would converge in
    * one round but still pay the slice self-join). Materialization-shaped
    * on purpose: round-1 chain conclusions are output-sized, so the
    * loop shuffles (distinct) rather than broadcasting — the O(Δ)
    * broadcast discipline belongs to [[owlDeltaCore]]'s seminaive twin.
    */
  private def owlCloseCore(rel: DataFrame, inv: Seq[(Any, Any)],
                           sym: Seq[Any], trans: Seq[Any],
                           hasGraph: Boolean,
                           chains: Seq[(Any, Seq[Any])] = Nil,
                           maxRounds: Int = 16): DataFrame = {
    val base = owlCloseBody(rel, inv, sym, trans, hasGraph)
    if (chains.isEmpty) { lastChainRounds.set(0); return base }
    val transFeed = chainFeedable(trans, inv, chains)
    var closure = graft.Pins.checkpointLazy(base)
    var n = closure.count()
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"property-chain fixpoint did not converge in $maxRounds rounds")
      val derived = deriveChains(closure, chains, hasGraph)
      val next = graft.Pins.checkpointLazy(
        owlCloseBody(closure.unionAll(derived), inv, sym, transFeed,
          hasGraph))
      val m = next.count()
      done = m == n
      closure = next; n = m
    }
    lastChainRounds.set(round)
    closure
  }

  /** QUERY-TIME OWL entailment: the property-rule closure as a LAZY
    * relation, the [[rdfsEntailed]] analog — nothing is pinned up front,
    * and the inverse/symmetric legs are pure broadcast-join rewrites
    * Catalyst specializes per pattern (a constant-predicate filter
    * pushes into the inverse pair table and down to the base scan, and
    * non-matching legs constant-fold away). Transitive properties still
    * DERIVE (a fixpoint cannot be expressed lazily), but only the
    * slices a query can touch: `patternPreds` — the predicate constants
    * the caller's patterns mention — prunes the squaring rounds to the
    * declared transitive properties among them (plus those whose
    * INVERSE is mentioned: pass 2 exposes inverse(closure(p)) under the
    * inverse predicate). With `patternPreds` given, the relation is
    * exact FOR THOSE predicates (and for every non-transitive one);
    * unlisted transitive slices are under-derived — the price of
    * skipping their fixpoints. Empty `patternPreds` (the default)
    * closes everything and is exact everywhere.
    *
    * CHAIN-AXIOM CAVEAT (documented): when [[chainsNeeded]] leaves any
    * `owl:propertyChainAxiom` observable, the chain fixpoint cannot be
    * expressed lazily (its convergence is count-driven), so
    * construction runs the closure EAGERLY — the returned relation is
    * then materialization-shaped, not query-time-lazy. Pass
    * `patternPreds` that avoid every chain head (and head-inverse) to
    * keep the lazy contract, or materialize with [[owlClosure]] + an
    * artifact when chain heads are genuinely queried.
    *
    * On quads the pattern constants prune the property slices AND the
    * graph column; only the observable transitive properties square,
    * per graph.
    */
  def owlEntailed(data: DataFrame, corpus: Corpus[OwlIds] = Corpus.Triples,
                  tboxSource: Option[DataFrame] = None,
                  tboxCap: Int = 1 << 20,
                  patternPreds: Seq[Any] = Nil): DataFrame = {
    corpus.requireTerms("patternPreds", patternPreds)
    val rel = normRel(data, corpus.quads)
    val (inv, sym, trans, chains) =
      owlDecls(tboxSource.getOrElse(rel), owlVoc(corpus), tboxCap)
    owlCloseCore(rel, inv, sym, transNeeded(trans, inv, patternPreds),
      corpus.quads, chainsNeeded(chains, inv, patternPreds))
  }

  /** The transitive properties a pattern-predicate set can observe:
    * the mentioned ones, plus those whose inverse is mentioned. */
  private def transNeeded(trans: Seq[Any], inv: Seq[(Any, Any)],
                          patternPreds: Seq[Any]): Seq[Any] =
    if (patternPreds.isEmpty) trans
    else trans.filter(p => patternPreds.contains(p) ||
      inv.exists { case (a, b) => a == p && patternPreds.contains(b) })

  /** INCREMENTAL OWL maintenance, the O(|Δ|) twin of [[owlClosure]]:
    * given the EXISTING materialized closure and a batch of new edges,
    * derive exactly the increment — without re-squaring the world.
    * Property DECLARATIONS in the delta fail fast (schema change →
    * re-materialize), the same contract as [[rdfsDelta]].
    *
    *   - inverse/symmetric rules are single-premise: one broadcast pass
    *     over the delta;
    *   - for each declared transitive property, any NEW path through
    *     the updated edge set decomposes into alternating existing-path
    *     segments and new edges: with E the (already transitively
    *     closed) existing paths and D the new edges, every new path is
    *     a chain of "bridges" B = D ∪ E⋈D (an optional existing prefix
    *     ending in a new edge), optionally followed by one existing
    *     suffix. So the increment is B⁺ ∪ B⁺⋈E where B⁺ is the iterated
    *     -squaring closure of the |Δ|·fan-in-sized bridge set — E is
    *     only ever SCANNED against a broadcast probe, never shuffled
    *     and never re-squared;
    *   - a final inverse/symmetric pass covers the inverses of the new
    *     closed chains (the same pass-2 fixpoint as [[owlClosure]]);
    *   - `owl:propertyChainAxiom` conclusions derive SEMINAIVELY
    *     ([[deriveChainsDelta]]): per body position the newest step
    *     broadcasts against the streamed closure slices, and each
    *     round's novel conclusions re-close through the same O(Δ)
    *     machinery until dry — the closure never re-shuffles.
    *
    * On a quad corpus inverse/symmetric stay single-premise (graph
    * carried), and each transitive property's bridge set composes
    * WITHIN a graph — the bridge joins and the bridge-set squaring all
    * key on the graph column, so new chains never cross graphs and the
    * per-graph existing path set is only ever scanned against broadcast
    * probes.
    *
    * Returns the increment (deduped); fold it into the closure with
    * [[composeIncrement]]. Identity:
    * `owlClosure(base ∪ Δ) == composeIncrement(owlClosure(base), owlDelta(owlClosure(base), Δ, decls))`.
    */
  def owlDelta(closure: DataFrame, delta: DataFrame, tboxSource: DataFrame,
               corpus: Corpus[OwlIds] = Corpus.Triples,
               tboxCap: Int = 1 << 20,
               deltaCap: Option[Long] = None): DataFrame =
    owlDeltaCore(closure, delta, tboxSource, owlVoc(corpus), tboxCap,
      deltaCap, corpus.quads, corpus.remat("owlClosure"))

  /** The declaration filter the property-family maintenance guards
    * share: inverse/symmetric/transitive declarations and chain-axiom
    * rows always match; the rdf:first/rdf:rest list-cell predicates
    * match only under `chainsDeclared` (a cell can then extend an
    * existing axiom's body across the batch boundary — without any
    * declared chain there is no body to extend, and list cells are
    * ordinary ABox data). */
  private def owlDeltaDeclCond(voc: OwlVoc, chainsDeclared: Boolean)
      : org.apache.spark.sql.Column = {
    val OwlVoc(inverseOf, symmetricProperty, transitiveProperty, typePred,
      chainVoc) = voc
    val axiomPreds = chainVoc.pca.toSeq
    val listPreds = (chainVoc.first ++ chainVoc.rest).toSeq
    val axiomCond = if (axiomPreds.isEmpty) lit(false)
      else col("p").isin(axiomPreds: _*)
    val listCond = if (!chainsDeclared || listPreds.isEmpty) lit(false)
      else col("p").isin(listPreds: _*)
    col("p") === inverseOf ||
      (col("p") === typePred &&
        col("o").isin(symmetricProperty, transitiveProperty)) ||
      axiomCond || listCond
  }

  private def owlDeltaCore(closure: DataFrame, delta: DataFrame,
                           tboxSource: DataFrame, voc: OwlVoc, tboxCap: Int,
                           deltaCap: Option[Long], hasGraph: Boolean,
                           remat: String,
                           maxRounds: Int = 16): DataFrame = {
    val width = if (hasGraph) 4 else 3
    val names = Seq("s", "p", "o", "g").take(width)
    def norm(df: DataFrame): DataFrame =
      df.select(df.columns.take(width).toSeq.zip(names)
        .map { case (c, n) => col(c).as(n) }: _*)
    val (inv, sym, trans, chains) = owlDecls(tboxSource, voc, tboxCap)
    // schema guard: chain-axiom rows always reject; rdf:first/rdf:rest
    // CELLS reject only when the TBox actually carries chain axioms (a
    // list cell could then extend an existing axiom's body) — ordinary
    // rdf:list ABox data in a chain-free corpus maintains incrementally.
    // The guard rides the pin's materializing job (pinCappedGuard).
    val (d0, _) = pinCappedGuard(norm(delta), deltaCap,
      "owlDelta increment", remat,
      owlDeltaDeclCond(voc, chains.nonEmpty),
      "delta contains OWL property declarations (or, under declared " +
        "owl:propertyChainAxiom schemas, rdf:first/rdf:rest list cells " +
        "that could extend an axiom body) - schema changes require " +
        s"re-materialization ($remat), not incremental maintenance")
    val e = norm(closure)
    val inc0 = pinCapped(
      owlDeltaStep(e, d0, inv, sym, trans, hasGraph, deltaCap, remat),
      deltaCap, "owlDelta increment (closed)", remat)
    if (chains.isEmpty) { lastChainRounds.set(0); return inc0 }
    // chain outer loop, seminaive: every chain conclusion not yet
    // derived has at least one premise in the newest step, so each
    // round derives [[deriveChainsDelta]] over (Δ-broadcast × streamed
    // closure slices), keeps the novel rows, and re-closes them under
    // inverse/symmetric/transitive through the SAME O(Δ) step — the
    // closure itself never re-shuffles and every frame is capped.
    var updated = e.unionAll(inc0)
    var dcur = inc0
    var total = inc0
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds, "owlDelta property-chain loop did not " +
        s"converge in $maxRounds rounds — re-materialize ($remat)")
      val chainNew = deriveChainsDelta(updated, dcur, chains, hasGraph,
        deltaCap, remat)
      val (novel, nNovel) = pinCappedN(
        incrementNovel(updated, chainNew.distinct(), deltaCap,
          pinHits = false),
        deltaCap, "owlDelta chain conclusions", remat)
      if (nNovel == 0) done = true
      else {
        val step = pinCapped(
          novel.unionAll(
            owlDeltaStep(updated, novel, inv, sym, trans, hasGraph,
              deltaCap, remat)).distinct(),
          deltaCap, "owlDelta chain step", remat)
        updated = updated.unionAll(step)
        total = total.unionAll(step)
        dcur = step
      }
    }
    lastChainRounds.set(round)
    total.distinct()
  }

  /** Seminaive chain derivation for the delta path: for each axiom and
    * each body position j, the newest-step slice at position j
    * BROADCASTS and extends right then left through the accumulated
    * relation's streamed property slices — every conclusion with ≥1
    * premise in `dcur` is derived, the closure never shuffles, and the
    * accumulated probe stays Δ·fan-in-sized. The FIRST probe of each
    * variant is a filtered slice of the (already caller-pinned) `dcur`
    * and inherits its cap for free; every SUBSEQUENT probe is a
    * Δ × closure join result whose size grows with chain fan-out, so
    * it re-enters [[pinCapped]] before re-broadcasting — the same
    * discipline as [[owlDeltaStep]]'s dEdges/bridge/bPlus frames (and
    * zero extra jobs for the common 2-element chain bodies, whose one
    * extension result is never re-broadcast).
    */
  private def deriveChainsDelta(all: DataFrame, dcur: DataFrame,
                                chains: Seq[(Any, Seq[Any])],
                                hasGraph: Boolean, deltaCap: Option[Long],
                                remat: String): DataFrame = {
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    val probeNames =
      Seq("__pa", "__pb") ++ (if (hasGraph) Seq("__pg") else Nil)
    def gEqP = if (hasGraph) Seq(col("g") <=> col("__pg")) else Nil
    val variants = for {
      (head, body) <- chains
      j <- body.indices
    } yield {
      var acc = dcur.where(col("p") === body(j))
        .select(Seq(col("s").as("__ca"), col("o").as("__cb")) ++ gsel: _*)
      var joined = false
      def probeOf(a: DataFrame): DataFrame = {
        val capped = if (joined)
          pinCapped(a, deltaCap, "owlDelta chain hop probe", remat)
        else a
        capped.toDF(probeNames: _*)
      }
      for (i <- j + 1 until body.length) {
        val probe = probeOf(acc)
        acc = all.where(col("p") === body(i))
          .join(broadcast(probe),
            (Seq(col("s") === col("__pb")) ++ gEqP).reduce(_ && _))
          .select(Seq(col("__pa").as("__ca"),
            col("o").as("__cb")) ++ gsel: _*)
        joined = true
      }
      for (i <- (j - 1) to 0 by -1) {
        val probe = probeOf(acc)
        acc = all.where(col("p") === body(i))
          .join(broadcast(probe),
            (Seq(col("o") === col("__pa")) ++ gEqP).reduce(_ && _))
          .select(Seq(col("s").as("__ca"),
            col("__pb").as("__cb")) ++ gsel: _*)
        joined = true
      }
      acc.select(Seq(col("__ca").as("s"), lit(head).as("p"),
        col("__cb").as("o")) ++ gsel: _*)
    }
    variants.reduce(_.unionAll(_))
  }

  /** One O(Δ) inverse/symmetric/transitive increment over an existing
    * CLOSED relation `e` and a normalized, pinned delta `d0` — the body
    * shared by [[owlDeltaCore]]'s direct path and its per-round chain
    * steps. Returns the closed increment (deduped; includes `d0`). */
  private def owlDeltaStep(e: DataFrame, d0: DataFrame,
                           inv: Seq[(Any, Any)], sym: Seq[Any],
                           trans: Seq[Any], hasGraph: Boolean,
                           deltaCap: Option[Long], remat: String)
      : DataFrame = {
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    // graph-confined composition: paths only extend within a graph
    def gEq(pfx: String) =
      if (hasGraph) Seq(col("g") <=> col(pfx + "g")) else Nil
    // pass 1 over the delta only — single-premise rules need no context
    val d1 = pinCapped(
      (d0 +: owlInvSym(d0, inv, sym, hasGraph)).reduce(_.unionAll(_))
        .distinct(),
      deltaCap, "owlDelta inverse/symmetric pass", remat)
    // per transitive property: bridge set B = D ∪ (E ⋈ D), close B
    // (|Δ|-sized, per graph when hasGraph), then one existing
    // suffix — E only streams against broadcast probes
    val newClosed = trans.map { pp =>
      val dEdges = pinCapped(
        d1.where(col("p") === pp)
          .select(Seq(col("s").as("a"), col("o").as("b")) ++ gsel: _*)
          .where(col("a") =!= col("b")).distinct(),
        deltaCap, "owlDelta new-edge set", remat)
      val ePaths = e.where(col("p") === pp)
        .select(Seq(col("s").as("a"), col("o").as("b")) ++ gsel: _*)
      val dProbe = dEdges.toDF(
        Seq("__d_a", "__d_b") ++ (if (hasGraph) Seq("__d_g") else Nil): _*)
      val bridge = dEdges.unionAll(
          ePaths.join(broadcast(dProbe),
            (Seq(col("b") === col("__d_a")) ++ gEq("__d_")).reduce(_ && _))
            .select(Seq(col("a"), col("__d_b").as("b")) ++ gsel: _*))
        .where(col("a") =!= col("b")).distinct()
      val bPlus = pinCapped(
        GraphOps.transitiveClosure(bridge, if (hasGraph) Seq("g") else Nil, maxRounds = 16)
          .where(col("a") =!= col("b")),
        deltaCap, "owlDelta closed bridge set", remat)
      val bProbe = bPlus.toDF(
        Seq("__b_a", "__b_b") ++ (if (hasGraph) Seq("__b_g") else Nil): _*)
      val withSuffix = bPlus.unionAll(
          e.where(col("p") === pp)
            .join(broadcast(bProbe),
              (Seq(col("s") === col("__b_b")) ++ gEq("__b_")).reduce(_ && _))
            .select(Seq(col("__b_a").as("a"), col("o").as("b")) ++ gsel: _*))
        .where(col("a") =!= col("b")).distinct()
      withSuffix.select(Seq(col("a").as("s"), lit(pp).as("p"),
        col("b").as("o")) ++ gsel: _*)
    }
    // pass 2: inverses/symmetric of the new closed chains
    val pass2 = newClosed.flatMap(c => owlInvSym(c, inv, sym, hasGraph))
    (Seq(d1) ++ newClosed ++ pass2).reduce(_.unionAll(_)).distinct()
  }

  /** DRed-style retraction for OWL property-rule closures, completing
    * the maintenance matrix ([[rdfsRetract]] × [[owlDelta]]): maintain a
    * materialized closure through base-edge DELETEs without re-squaring.
    * Declarations in the deletions fail fast (schema change →
    * re-materialize), the same contract as [[owlDelta]].
    *
    *   1. over-delete: the deleted edges, their inverse/symmetric images
    *      (single-premise), and — per transitive property — every closed
    *      path THROUGH a deleted edge: O_p = (E·d)·E computed with two
    *      broadcast joins against the existing path set E (E streams,
    *      never shuffles), plus the inverse images of those paths;
    *   2. re-derive survivors inside the over-deleted scope: a pair
    *      survives iff it reaches over G' = certain ∪ B, where `certain`
    *      is E minus the over-deletion (pairs whose derivations cannot
    *      have used a deleted edge — sound shortcuts) and B the
    *      remaining base edges (with inverse/symmetric images). The
    *      frontier starts at the over-deleted SOURCES and expands by
    *      composition until fixpoint — each round one streamed scan of
    *      `certain`/B against the broadcast frontier, and the round
    *      count is bounded by how often a rerouted path must leave the
    *      certain region (≈ deleted-edge count, not graph diameter);
    *   3. removal = over-deletion − survivors (inverse/symmetric rows
    *      survive through their underlying direction); the closure
    *      streams through ONE broadcast anti-join.
    *
    * CHAIN AXIOMS: a SELF-chain `p ∘ p ⊑ p` is exactly
    * TransitiveProperty(p) and retracts through the Δ-shaped
    * path-reroute DRed like any declared transitive property;
    * ACYCLIC chain layers — including a head FEEDING another chain's
    * body — retract Δ-shaped through one over-delete + re-derive pass
    * PER STRATUM of the head → body feed graph, processed in
    * topological order (transitive bodies included — the
    * property-rule removal maintains them first; a lower stratum's
    * net removal becomes the removed-premise set of the strata it
    * feeds). The REMAINING feeding shapes — a cyclic chain-feed
    * (beyond the self-chain ≡ transitivity case), or a head paired
    * with inverse/symmetric rules — would need per-conclusion premise
    * provenance through a recursive layer, so this op falls back to
    * RE-MATERIALIZING the remaining base ([[owlClosure]] of
    * `base − deletions`) — always correct, but O(closure) per deletion
    * batch rather than O(Δ). Callers maintaining such corpora under
    * heavy deletes should batch deletions accordingly;
    * [[lastRetractRematerialized]] reports which path ran and
    * [[lastRetractStrata]] how many chain strata the Δ path walked.
    *
    * On a quad corpus the over-delete path joins, the survivor
    * frontier, and every removal probe key on the graph column
    * (null-safe for the default graph), so a deletion in one graph never
    * disturbs another's chains.
    *
    * Returns the maintained closure, set-equal to
    * `owlClosure(base − deletions)`.
    */
  def owlRetract(closure: DataFrame, base: DataFrame, deletions: DataFrame,
                 tboxSource: DataFrame,
                 corpus: Corpus[OwlIds] = Corpus.Triples,
                 tboxCap: Int = 1 << 20, maxRounds: Int = 16,
                 deltaCap: Option[Long] = None): DataFrame =
    owlRetractCore(closure, base, deletions, tboxSource, owlVoc(corpus),
      tboxCap, maxRounds, deltaCap, corpus.quads,
      corpus.remat("owlClosure"))

  /** Whether the most recent [[owlRetract]] (any variant) took the
    * documented re-materialization fallback (chain axioms declared, or
    * frontier non-convergence) instead of the O(Δ) DRed path —
    * telemetry for callers watching maintenance cost. */
  private[graft] val lastRetractRematerialized =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Chain-strata count the most recent [[owlRetract]] Δ path walked
    * (0 = no chain layer; 1 = the r13 single-layer shape; ≥2 = a
    * cross-chain feed maintained incrementally) — scale-evidence
    * telemetry: strata track the feed graph's depth, not data size. */
  private[graft] val lastRetractStrata =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Control-flow escape for the survivor frontier: thrown (stackless)
    * when the fixpoint exceeds `maxRounds`, caught by the core to FALL
    * BACK to re-materializing the remaining base — always correct, just
    * not incremental — instead of failing a legitimate retraction.
    */
  private object RetractNonConvergence
    extends Exception(null, null, false, false)

  private def owlRetractCore(closure: DataFrame, base: DataFrame,
                             deletions: DataFrame, tboxSource: DataFrame,
                             voc: OwlVoc, tboxCap: Int, maxRounds: Int,
                             deltaCap: Option[Long], hasGraph: Boolean,
                             remat: String): DataFrame = {
    val width = if (hasGraph) 4 else 3
    val names = Seq("s", "p", "o", "g").take(width)
    val abNames = Seq("a", "b") ++ (if (hasGraph) Seq("g") else Nil)
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    def norm(df: DataFrame): DataFrame =
      df.select(df.columns.take(width).toSeq.zip(names)
        .map { case (c, n) => col(c).as(n) }: _*)
    def gEq(pfx: String) =
      if (hasGraph) Seq(col("g") <=> col(pfx + "g")) else Nil
    def rowAnti(a: DataFrame, b: DataFrame): DataFrame = {
      val probe = b.toDF(names.map("__x_" + _): _*)
      a.join(broadcast(probe),
        (Seq(col("s") === col("__x_s"), col("p") === col("__x_p"),
          col("o") === col("__x_o")) ++ gEq("__x_")).reduce(_ && _),
        "left_anti")
    }
    val (inv, sym, trans, chains) = owlDecls(tboxSource, voc, tboxCap)
    // same conditional list-cell scope as owlDeltaCore's guard, riding
    // the pin's materializing job (pinCappedGuard)
    val (del, _) = pinCappedGuard(norm(deletions), deltaCap,
      "retraction set", remat, owlDeltaDeclCond(voc, chains.nonEmpty),
      "deletions contain OWL property declarations (or, under declared " +
        "owl:propertyChainAxiom schemas, rdf:first/rdf:rest list cells) " +
        s"- schema changes require re-materialization ($remat), not " +
        "incremental retraction")
    val e = norm(closure)
    val baseRem = rowAnti(norm(base), del)
    // A SELF-CHAIN `p ∘ p ⊑ p` IS TransitiveProperty(p) (prp-spo2 with
    // the head as its own two-element body): folding those heads into
    // the transitive set is EXACT (identical fixpoint) and routes
    // their deletes through the Δ-shaped per-property path-reroute
    // DRed below — the most common "feeding chain" (transitivity
    // declared via a chain axiom) no longer re-materializes.
    val (selfChains, chainRules) = chains.partition {
      case (h, body) => body == Seq(h, h) }
    val transAll = (trans ++ selfChains.map(_._1)).distinct
    // Remaining chain axioms and DRed: STRATIFIED chains — each head
    // must feed no PROPERTY rule (not transitive/symmetric/
    // inverse-paired: those layers run before the chain layer and
    // would consume chain conclusions), and the head → body feed
    // graph must be ACYCLIC. Then one over-delete + re-derive pass
    // per stratum, walked in topological order, is exact: a stratum's
    // conclusions are premises only of LATER strata, so by the time a
    // stratum runs the removed-row set of every predicate it reads is
    // final (over-delete the compositions through a removed premise,
    // then re-derive candidates over the maintained body slices —
    // per-position broadcast joins, the deriveChainsDelta shape;
    // TRANSITIVE body slices are fine — the property-rule removal
    // maintains them first). The r13 single-layer shape is the
    // 1-stratum special case. CYCLIC feeds (beyond the self-chain ≡
    // transitivity fold above) or property-paired heads would need
    // per-conclusion premise provenance through a recursive layer —
    // deliberately re-materialize the remaining base instead: always
    // correct, the same sound fallback as frontier non-convergence
    // below, DOCUMENTED in the public scaladoc
    // (+ lastRetractRematerialized telemetry).
    val chainHeadSet = chainRules.map(_._1).toSet
    val headsOk = chainRules.forall { case (h, _) =>
      !transAll.contains(h) && !sym.contains(h) &&
        !inv.exists(pr => pr._1 == h || pr._2 == h) }
    // topological ranks over the head → head feed graph (h1 feeds h2
    // iff h1 appears in body(h2)); a cycle — including a non-self
    // head in its own body — yields None
    val strata: Option[Seq[Seq[(Any, Seq[Any])]]] =
      if (!headsOk) None
      else {
        val rulesByHead = chainRules.groupBy(_._1)
        val rank = scala.collection.mutable.Map[Any, Int]()
        val visiting = scala.collection.mutable.Set[Any]()
        var cyclic = false
        def rankOf(h: Any): Int = rank.getOrElse(h, {
          if (visiting(h)) { cyclic = true; 0 }
          else {
            visiting += h
            val deps = rulesByHead(h).flatMap(_._2)
              .filter(chainHeadSet).distinct
            val r = if (deps.isEmpty) 0 else 1 + deps.map(rankOf).max
            visiting -= h
            rank(h) = r
            r
          }
        })
        chainRules.foreach { case (h, _) => rankOf(h) }
        if (cyclic) None
        else Some(chainRules.groupBy(r => rank(r._1)).toSeq
          .sortBy(_._1).map(_._2))
      }
    lastRetractRematerialized.set(chainRules.nonEmpty && strata.isEmpty)
    lastRetractStrata.set(
      if (chainRules.isEmpty) 0L
      else strata.map(_.size.toLong).getOrElse(0L))
    if (chainRules.nonEmpty && strata.isEmpty)
      return owlCloseCore(baseRem, inv, sym, transAll, hasGraph,
        chainRules)
    // the frontier-size fallback check below must honor the same
    // session conf the pinCapped broadcasts do
    val effCap = effectiveDeltaCap(deletions.sparkSession, deltaCap)
    lastFrontierRounds.set(0) // per-retraction telemetry (max over props)
    try {
      // 1. over-delete: deleted edges + single-premise images ...
      val dDirect = pinCapped(
        (del +: owlInvSym(del, inv, sym, hasGraph)).reduce(_.unionAll(_))
          .distinct(),
        deltaCap, "over-delete direct images", remat)
      // ... + per transitive property, all paths through a deleted edge
      // (within the edge's graph on the quad path)
      val oPs: Seq[(Any, DataFrame)] = transAll.map { pp =>
        val dp = dDirect.where(col("p") === pp)
          .select(Seq(col("s").as("a"), col("o").as("b")) ++ gsel: _*)
        val ep = e.where(col("p") === pp)
          .select(Seq(col("s").as("a"), col("o").as("b")) ++ gsel: _*)
        val dProbe = dp.toDF(abNames.map("__d_" + _): _*)
        val lPre = pinCapped(dp.unionAll(
            ep.join(broadcast(dProbe),
              (Seq(col("b") === col("__d_a")) ++ gEq("__d_")).reduce(_ && _))
              .select(Seq(col("a"), col("__d_b").as("b")) ++ gsel: _*))
          .distinct(), deltaCap, "paths into a deleted edge", remat)
        val lProbe = lPre.toDF(abNames.map("__l_" + _): _*)
        val op = pinCapped(lPre.unionAll(
            ep.join(broadcast(lProbe),
              (Seq(col("a") === col("__l_b")) ++ gEq("__l_")).reduce(_ && _))
              .select(Seq(col("__l_a").as("a"), col("b")) ++ gsel: _*))
          .where(col("a") =!= col("b")).distinct(),
          deltaCap, "paths through a deleted edge", remat)
        (pp, op)
      }
      def opRows(pp: Any, op: DataFrame): DataFrame =
        op.select(Seq(col("a").as("s"), lit(pp).as("p"),
          col("b").as("o")) ++ gsel: _*)
      val oAll = pinCapped((dDirect +:
          (oPs.map { case (pp, op) => opRows(pp, op) } ++
            oPs.flatMap { case (pp, op) =>
              owlInvSym(opRows(pp, op), inv, sym, hasGraph) }))
          .reduce(_.unionAll(_)).distinct(),
        deltaCap, "over-delete set", remat)
      // 2. survivors: frontier reachability per transitive property over
      //    certain pairs + remaining base edges, sources = over-deleted.
      //    The frontier SQUARES each round (f extends by f as well as by
      //    one more certain/base segment), so round count is LOGARITHMIC
      //    in the longest rerouted path — the transitiveClosure shape —
      //    instead of linear in how often a reroute leaves the certain
      //    region. Non-convergence inside maxRounds falls back to
      //    re-materialization (always correct) rather than failing.
      val fPs: Seq[(Any, DataFrame)] = oPs.map { case (pp, op) =>
        val oProbe = op.toDF(abNames.map("__o_" + _): _*)
        val certain = e.where(col("p") === pp)
          .select(Seq(col("s").as("a"), col("o").as("b")) ++ gsel: _*)
          .join(broadcast(oProbe),
            (Seq(col("a") === col("__o_a"), col("b") === col("__o_b")) ++
              gEq("__o_")).reduce(_ && _), "left_anti")
        val bNew = (baseRem.where(col("p") === pp)
            .select(Seq(col("s"), col("o")) ++ gsel: _*) +:
          owlInvSym(baseRem, inv, sym, hasGraph).map(
            _.where(col("p") === pp)
              .select(Seq(col("s"), col("o")) ++ gsel: _*)))
          .reduce(_.unionAll(_)).toDF(abNames: _*)
        val srcs = op.select(Seq(col("a").as("__src")) ++
          (if (hasGraph) Seq(col("g").as("__src_g")) else Nil): _*)
          .distinct()
        def fromSrcs(rel: DataFrame): DataFrame =
          rel.join(broadcast(srcs),
            (Seq(col("a") === col("__src")) ++
              (if (hasGraph) Seq(col("g") <=> col("__src_g")) else Nil))
              .reduce(_ && _), "left_semi")
        var f = graft.Pins.checkpointLazy(
          fromSrcs(certain).unionAll(fromSrcs(bNew))
            .where(col("a") =!= col("b")).distinct())
        var n = f.count()
        var round = 0
        var done = n == 0
        while (!done) {
          round += 1
          // the frontier is BROADCAST each round — an oversized one
          // (dense reachability from the over-deleted sources) is the
          // same driver hazard as an oversized delta: fall back
          if (round > maxRounds || n > effCap) throw RetractNonConvergence
          val fProbe = f.toDF(abNames.map("__f_" + _): _*)
          def extend(rel: DataFrame): DataFrame =
            rel.join(broadcast(fProbe),
              (Seq(col("a") === col("__f_b")) ++ gEq("__f_"))
                .reduce(_ && _))
              .select(Seq(col("__f_a").as("a"), col("b")) ++ gsel: _*)
          // squaring (f extends by f) makes rounds logarithmic in the
          // longest reroute, but costs one extra broadcast-join leg per
          // round — skip it while reroutes are still shallow (the
          // common 1-2 segment case converges without it; from round 3
          // the halving dominates), the same shallow-case economy as
          // connectedComponents' skipped first jump
          val sq = if (round >= 3) Seq(extend(f)) else Nil
          val next = graft.Pins.checkpointLazy(
            (Seq(f, extend(certain), extend(bNew)) ++ sq)
              .reduce(_.unionAll(_))
              .where(col("a") =!= col("b")).distinct())
          val m = next.count()
          done = m == n
          f = next; n = m
        }
        lastFrontierRounds.set(math.max(lastFrontierRounds.get(), round))
        (pp, f)
      }
      // 3. removal = over-deletion minus everything re-derivable:
      //    remaining base + its single-premise images + per-p surviving
      //    reach pairs + their images — evaluated as one streamed semi
      //    against the broadcast over-deletion, then the closure
      //    anti-joins the removal (never shuffling)
      val validLegs: Seq[DataFrame] =
        (baseRem +: owlInvSym(baseRem, inv, sym, hasGraph)) ++
          fPs.flatMap { case (pp, f) =>
            val rows = opRows(pp,
              f.select(Seq(col("a"), col("b")) ++ gsel: _*))
            rows +: owlInvSym(rows, inv, sym, hasGraph)
          }
      val oProbe = oAll.toDF(names.map("__q_" + _): _*)
      val hits = pinCapped(validLegs.reduce(_.unionAll(_))
          .join(broadcast(oProbe),
            (Seq(col("s") === col("__q_s"), col("p") === col("__q_p"),
              col("o") === col("__q_o")) ++ gEq("__q_")).reduce(_ && _),
            "left_semi")
          .distinct(),
        deltaCap, "re-derivable over-delete survivors", remat)
      val removalP = rowAnti(oAll, hits)
      if (chainRules.isEmpty) rowAnti(e, removalP)
      else {
        // ---- stratified chain DRed layers ----
        // a stratum's conclusions are premises only of LATER strata
        // (the feed graph is acyclic here — cyclic shapes
        // re-materialized above), so ONE pass per stratum in
        // topological order is exact: over-delete every composition
        // with a premise among the ACCUMULATED removed rows, keep the
        // candidates that re-derive over the maintained slices (or
        // survive as base assertions), fold the stratum's net removal
        // into the accumulator, continue; every probe broadcasts, the
        // closure streams
        var removalAcc = pinCapped(removalP, deltaCap,
          "property-rule removal set", remat)
        val probeNames = Seq("__pa", "__pc", "__pb") ++
          (if (hasGraph) Seq("__pg") else Nil)
        def gEqC = if (hasGraph) Seq(col("g") <=> col("__pg")) else Nil
        strata.get.foreach { stratum =>
          val sBody = stratum.flatMap(_._2).distinct
          val sHeads = stratum.map(_._1).distinct
          val bodyCond = if (sBody.isEmpty) lit(false)
            else col("p").isin(sBody: _*)
          val headCond = col("p").isin(sHeads: _*)
          val rp = removalAcc
          val touch = pinCapped(rp.where(bodyCond), deltaCap,
            "removed chain premises", remat)
          val oC = deriveChainsDelta(e, touch, stratum, hasGraph,
            deltaCap, remat)
          // candidates: over-deleted conclusions, plus already-removed
          // head rows (a deleted base head edge may be chain-derivable)
          val cands = pinCapped(
            oC.unionAll(rp.where(headCond)).distinct(),
            deltaCap, "over-deleted chain conclusions", remat)
          def mSlice(pi: Any): DataFrame =
            rowAnti(e.where(col("p") === pi), rp)
          val surLegs = stratum.map { case (h, body) =>
            var acc = cands.where(col("p") === h)
              .select(Seq(col("s").as("__pa"), col("s").as("__pc"),
                col("o").as("__pb")) ++
                (if (hasGraph) Seq(col("g").as("__pg")) else Nil): _*)
            var joined = false
            body.foreach { pi =>
              val probe = (if (joined)
                  pinCapped(acc, deltaCap, "chain re-derivation probe",
                    remat)
                else acc).toDF(probeNames: _*)
              acc = mSlice(pi)
                .join(broadcast(probe),
                  (Seq(col("s") === col("__pc")) ++ gEqC).reduce(_ && _))
                .select(Seq(col("__pa"), col("o").as("__pc"),
                  col("__pb")) ++
                  (if (hasGraph) Seq(col("__pg")) else Nil): _*)
                .toDF(probeNames: _*)
              joined = true
            }
            acc.where(col("__pc") === col("__pb"))
              .select(Seq(col("__pa").as("s"), lit(h).as("p"),
                col("__pb").as("o")) ++
                (if (hasGraph) Seq(col("__pg").as("g")) else Nil): _*)
          }
          val candProbe = cands.toDF(names.map("__x_" + _): _*)
          val baseSur = baseRem.where(headCond)
            .join(broadcast(candProbe),
              (Seq(col("s") === col("__x_s"), col("p") === col("__x_p"),
                col("o") === col("__x_o")) ++ gEq("__x_")).reduce(_ && _),
              "left_semi")
          val survivorsC = pinCapped(
            (surLegs :+ baseSur).reduce(_.unionAll(_)).distinct(),
            deltaCap, "re-derivable chain conclusions", remat)
          // fold: drop re-derived rows from the accumulator (a removed
          // head row that re-derives must not stay removed) and add
          // the stratum's genuinely-lost conclusions
          removalAcc = pinCapped(
            rowAnti(rp, survivorsC)
              .unionAll(rowAnti(cands, survivorsC)).distinct(),
            deltaCap, "combined removal candidates", remat)
        }
        rowAnti(e, removalAcc)
      }
    } catch {
      case RetractNonConvergence =>
        // adversarial reroute structure (survivor paths crossing more
        // than 2^maxRounds segments): re-close the remaining base —
        // always correct, one full materialization instead of a failure
        lastRetractRematerialized.set(true)
        owlCloseCore(baseRem, inv, sym, transAll, hasGraph, chainRules)
    }
  }

  // ------------------------------------------------------------------
  // OWL 2 RL restriction classes: owl:hasValue (cls-hv1/hv2),
  // owl:someValuesFrom (cls-svf1/svf2), owl:allValuesFrom (cls-avf)
  // ------------------------------------------------------------------

  val OnProperty        = "owl:onProperty"
  val OnPropertyIri     = "http://www.w3.org/2002/07/owl#onProperty"
  val SomeValuesFrom    = "owl:someValuesFrom"
  val SomeValuesFromIri = "http://www.w3.org/2002/07/owl#someValuesFrom"
  val AllValuesFrom     = "owl:allValuesFrom"
  val AllValuesFromIri  = "http://www.w3.org/2002/07/owl#allValuesFrom"
  val HasValue          = "owl:hasValue"
  val HasValueIri       = "http://www.w3.org/2002/07/owl#hasValue"
  val OwlThing          = "owl:Thing"
  val OwlThingIri       = "http://www.w3.org/2002/07/owl#Thing"

  /** The restriction vocabulary as ENCODED ids; `rdfs` carries the
    * subclass/type machinery the restriction fixpoint interleaves
    * with. `owlThing` is optional (enables cls-svf2); the boolean
    * class expressions need their axiom AND rdf-list ids. */
  final case class RlIds(rdfs: RdfsIds, onProperty: Long,
                         someValuesFrom: Long, allValuesFrom: Long,
                         hasValue: Long, owlThing: Option[Long] = None,
                         intersectionOf: Option[Long] = None,
                         unionOf: Option[Long] = None,
                         oneOf: Option[Long] = None,
                         listFirst: Option[Long] = None,
                         listRest: Option[Long] = None,
                         listNil: Option[Long] = None)

  private final case class RlVoc(on: Set[Any], svf: Set[Any],
                                 avf: Set[Any], hv: Set[Any],
                                 thing: Set[Any], ty: Set[Any],
                                 emitTy: Any,
                                 int: Set[Any], uni: Set[Any],
                                 oneOf: Set[Any],
                                 first: Set[Any], rest: Set[Any],
                                 nil: Set[Any]) {
    def declPreds: Seq[Any] = (on ++ svf ++ avf ++ hv).toSeq
  }

  private def stringRlVoc(typePred: String): RlVoc = {
    val ty: Set[Any] =
      if (typePred == "a") Set("a", TypeIri) else Set(typePred)
    RlVoc(Set(OnProperty, OnPropertyIri),
      Set(SomeValuesFrom, SomeValuesFromIri),
      Set(AllValuesFrom, AllValuesFromIri),
      Set(HasValue, HasValueIri),
      Set(OwlThing, OwlThingIri), ty, typePred,
      Set(IntersectionOf, IntersectionOfIri),
      Set(UnionOf, UnionOfIri),
      Set(OneOf, OneOfIri),
      Set(RdfFirst, RdfFirstIri), Set(RdfRest, RdfRestIri),
      Set(RdfNil, RdfNilIri))
  }

  private def encRlVoc(ids: RlIds): RlVoc =
    RlVoc(Set(ids.onProperty), Set(ids.someValuesFrom),
      Set(ids.allValuesFrom), Set(ids.hasValue),
      ids.owlThing.toSet[Any], Set(ids.rdfs.typePred), ids.rdfs.typePred,
      ids.intersectionOf.toSet[Any], ids.unionOf.toSet[Any],
      ids.oneOf.toSet[Any],
      ids.listFirst.toSet[Any], ids.listRest.toSet[Any],
      ids.listNil.toSet[Any])

  /** The boolean class-expression vocabulary (OWL 2 RL rules cls-int1,
    * cls-int2, cls-uni): `C owl:intersectionOf (C1 … Cn)` /
    * `C owl:unionOf (C1 … Cn)` — conjunct/disjunct lists walked like
    * the chain axioms'. */
  val IntersectionOf    = "owl:intersectionOf"
  val IntersectionOfIri = "http://www.w3.org/2002/07/owl#intersectionOf"
  val UnionOf           = "owl:unionOf"
  val UnionOfIri        = "http://www.w3.org/2002/07/owl#unionOf"

  private final case class Restriction(r: Any, p: Any, kind: Int,
                                       filler: Any)
  private val SvfKind = 0
  private val AvfKind = 1
  private val HvKind  = 2

  /** The collected class-rule schema: property restrictions, the
    * boolean class expressions, and the enumerated classes
    * (`owl:oneOf` — cls-oo types the listed individuals). */
  private final case class RlSchema(restr: Seq[Restriction],
                                    inters: Seq[(Any, Seq[Any])],
                                    unions: Seq[(Any, Seq[Any])],
                                    oneOfs: Seq[(Any, Seq[Any])] = Nil) {
    def isEmpty: Boolean =
      restr.isEmpty && inters.isEmpty && unions.isEmpty && oneOfs.isEmpty
  }

  /** Driver-collected, capped class-rule schema: each `someValuesFrom`
    * / `allValuesFrom` / `hasValue` statement pairs with its node's
    * single `owl:onProperty` (anything else fails loudly — an OWL RL
    * restriction has exactly one), and the boolean class expressions'
    * conjunct/disjunct rdf:lists walk on the driver. */
  private def collectRlSchema(rel: DataFrame, voc: RlVoc,
                              tboxCap: Int): RlSchema = {
    val Seq(cs, cp, co) = rel.columns.take(3).toSeq
    val allPreds =
      (voc.declPreds ++ voc.int ++ voc.uni ++ voc.oneOf ++
        voc.first ++ voc.rest).distinct
    val rows = collectTbox(rel.select(col(cs).as("s"), col(cp).as("p"), col(co).as("o")),
      col("p").isin(allPreds: _*), tboxCap)(
      s"OWL restriction declarations exceed $tboxCap — not schema-shaped")
    val on = rows.filter(r => voc.on(r._2)).groupBy(_._1)
    def mk(kindSet: Set[Any], kind: Int): Seq[Restriction] =
      rows.filter(r => kindSet(r._2)).toSeq.map { case (r, _, filler) =>
        val ps = on.getOrElse(r, Array.empty[(Any, Any, Any)])
          .map(_._3).distinct
        require(ps.length == 1, s"owl:Restriction $r needs exactly one " +
          s"owl:onProperty (found ${ps.length})")
        Restriction(r, ps.head, kind, filler)
      }
    RlSchema(
      (mk(voc.svf, SvfKind) ++ mk(voc.avf, AvfKind) ++ mk(voc.hv, HvKind))
        .distinct.sortBy(_.r.toString),
      walkRdfLists(rows, voc.int, voc.first, voc.rest, voc.nil,
        "owl:intersectionOf"),
      walkRdfLists(rows, voc.uni, voc.first, voc.rest, voc.nil,
        "owl:unionOf"),
      walkRdfLists(rows, voc.oneOf, voc.first, voc.rest, voc.nil,
        "owl:oneOf"))
  }

  /** One restriction-rule pass over a relation: per declaration the
    * ABox rule fires as a keyed semi-join (svf1: the p-slice against
    * the filler's type set; avf: the p-slice against the restriction's
    * member set) or a map-side projection (hv1/hv2, svf2) — all
    * equi-joins AQE sizes freely; on the quad path every join and every
    * emission carries the graph column. */
  private def restrictionDerive(rel: DataFrame, schema: RlSchema,
                                voc: RlVoc, hasGraph: Boolean): DataFrame = {
    val restr = schema.restr
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    def gJoin(pfx: String) =
      if (hasGraph) Seq(col("g") <=> col(pfx + "g")) else Nil
    val types = rel.where(col("p").isin(voc.ty.toSeq: _*))
    def typed(x: org.apache.spark.sql.Column, r: Any) =
      Seq(x, lit(voc.emitTy).as("p"), lit(r).as("o")) ++ gsel
    val legs = restr.flatMap {
      case Restriction(r, p, SvfKind, v) if voc.thing(v) =>
        // cls-svf2: x p y ⊨ x a R
        Seq(rel.where(col("p") === p).select(typed(col("s"), r): _*))
      case Restriction(r, p, SvfKind, v) =>
        // cls-svf1: x p y, y a v ⊨ x a R
        val ys = types.where(col("o") === v).select(
          col("s").as("__y") +:
            (if (hasGraph) Seq(col("g").as("__yg")) else Nil): _*)
        Seq(rel.where(col("p") === p)
          .join(ys, (Seq(col("o") === col("__y")) ++ gJoin("__y"))
            .reduce(_ && _), "left_semi")
          .select(typed(col("s"), r): _*))
      case Restriction(r, p, AvfKind, v) =>
        // cls-avf: x a R, x p y ⊨ y a v
        val xs = types.where(col("o") === r).select(
          col("s").as("__x") +:
            (if (hasGraph) Seq(col("g").as("__xg")) else Nil): _*)
        Seq(rel.where(col("p") === p)
          .join(xs, (Seq(col("s") === col("__x")) ++ gJoin("__x"))
            .reduce(_ && _), "left_semi")
          .select(Seq(col("o").as("s"), lit(voc.emitTy).as("p"),
            lit(v).as("o")) ++ gsel: _*))
      case Restriction(r, p, HvKind, v) =>
        // cls-hv1: x a R ⊨ x p v ; cls-hv2: x p v ⊨ x a R
        Seq(
          types.where(col("o") === r)
            .select(Seq(col("s"), lit(p).as("p"), lit(v).as("o")) ++
              gsel: _*),
          rel.where(col("p") === p && col("o") === v)
            .select(typed(col("s"), r): _*))
      case other => throw new IllegalStateException(other.toString)
    }
    // cls-int1/int2: intersection members both ways (int1 = one keyed
    // semi-join per extra conjunct); cls-uni: any disjunct types the
    // union class
    val intLegs = schema.inters.flatMap { case (c, parts) =>
      val all = parts.tail.foldLeft(
          types.where(col("o") === parts.head)
            .select(col("s") +: gsel: _*)) { (acc, ci) =>
        val probe = types.where(col("o") === ci).select(
          col("s").as("__is") +:
            (if (hasGraph) Seq(col("g").as("__ig")) else Nil): _*)
        acc.join(probe, (Seq(col("s") === col("__is")) ++ gJoin("__i"))
          .reduce(_ && _), "left_semi")
      }
      all.select(typed(col("s"), c): _*) +:
        parts.map(ci => types.where(col("o") === c)
          .select(typed(col("s"), ci): _*))
    }
    val uniLegs = schema.unions.map { case (c, parts) =>
      types.where(col("o").isin(parts: _*))
        .select(typed(col("s"), c): _*)
    }
    // cls-oo: the enumerated individuals ARE members — schema-sized
    // literal rows (no scan; on the quad path they land in the default
    // graph, the closed-TBox convention)
    val ooLegs = schema.oneOfs.flatMap { case (c, elems) =>
      elems.map { e =>
        rel.sparkSession.range(1).select(
          Seq(lit(e).as("s"), lit(voc.emitTy).as("p"), lit(c).as("o")) ++
            (if (hasGraph)
              Seq(lit(null).cast(rel.schema.fields(3).dataType).as("g"))
            else Nil): _*)
      }
    }
    (legs ++ intLegs ++ uniLegs ++ ooLegs).reduce(_.unionAll(_))
  }

  /** Round count of the most recent restriction fixpoint (0 when no
    * restriction fired) — rounds track restriction NESTING depth (a
    * derived type enabling the next svf/avf premise), not row count. */
  private[graft] val lastRlRounds =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def owlRlCore(t: DataFrame, voc: RlVoc,
                        schema: RlSchema,
                        rdfsClose: DataFrame => DataFrame,
                        rdfsExpand: DataFrame => Seq[DataFrame],
                        hasGraph: Boolean, maxRounds: Int): DataFrame = {
    var closure = graft.Pins.checkpointLazy(rdfsClose(t))
    var n = closure.count()
    if (schema.isEmpty) { lastRlRounds.set(0); return closure }
    // per round: one restriction pass over the accumulated closure and
    // the rho-df expansion of ITS conclusions only (one-pass complete
    // over the closed schema maps — re-closing the full relation would
    // re-pay ~6 full scans per round), then one distinct-union +
    // count, the transitiveClosure convergence shape. Conclusions are
    // output-sized in materialization, so nothing broadcasts here; the
    // O(Δ) broadcast discipline belongs to [[owlRlDeltaCore]].
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"owl:Restriction fixpoint did not converge in $maxRounds rounds")
      // pin the restriction conclusions EAGERLY: the rho-df expansion
      // scans them once per rule leg, and those legs run as CONCURRENT
      // union branches of the convergence job — a lazy pin races its
      // own first materialization across branches and recomputes the
      // restriction semi-joins per leg
      val derived =
        restrictionDerive(closure, schema, voc, hasGraph).distinct()
          .localCheckpoint(true)
      val next = graft.Pins.checkpointLazy(
        (Seq(closure, derived) ++ rdfsExpand(derived))
          .reduce(_.unionAll(_)).distinct())
      val m = next.count()
      done = m == n
      closure = next; n = m
    }
    lastRlRounds.set(round)
    closure
  }

  /** OWL 2 RL restriction-class closure: RDFS (rho-df + equivalences)
    * interleaved to fixpoint with the restriction rules —
    * `owl:someValuesFrom` (cls-svf1, and cls-svf2 for `owl:Thing`),
    * `owl:allValuesFrom` (cls-avf), `owl:hasValue` (cls-hv1/hv2),
    * the boolean class expressions (cls-int1/int2, cls-uni), and
    * `owl:oneOf` (cls-oo: the enumerated individuals type into the
    * class as schema-sized literal rows; the CLOSED-enumeration
    * validation direction is [[consistencyReport]]'s `cls-oo`
    * family) —
    * so restriction-derived types flow up `rdfs:subClassOf`, subclass
    * members reach their restriction superclasses' hv/avf rules, and a
    * derived type can enable the NEXT restriction's premise (rounds
    * track nesting depth, [[lastRlRounds]]). Restriction declarations
    * are driver-collected and capped; each restriction node needs
    * exactly one `owl:onProperty`.
    *
    * Scope (documented): the PROPERTY vocabulary (inverse/symmetric/
    * transitive/chains) is [[owlClosure]]'s domain — compose the two
    * closures when a corpus uses both (run [[owlClosure]] first, feed
    * its output here; a corpus whose restriction conclusions feed
    * property rules needs an outer iteration the caller owns).
    * Insert maintenance has an O(Δ) twin ([[owlRlDelta]] and the
    * streaming [[owlRlMaintainStream]]); DRed retraction does not —
    * retract by re-running this closure over the remaining base.
    * Emission uses `typePred` as passed; corpora rendered with full
    * `rdf:type` IRIs should pass the IRI.
    *
    * On a quad corpus the restriction declarations are GLOBAL
    * (`tboxSource`) and rules fire per graph — every restriction join
    * keys on the graph column, so a premise in one graph never types a
    * subject in another.
    */
  def owlRlClosure(data: DataFrame, corpus: Corpus[RlIds] = Corpus.Triples,
                   tboxSource: Option[DataFrame] = None,
                   tboxCap: Int = 1 << 20, maxRounds: Int = 16)
      : DataFrame = {
    val rl = rlSetup(data, corpus, tboxSource, tboxCap)
    owlRlCore(rl.rel, rl.voc, rl.schema,
      df => rdfsClosure(df, rl.rdfs, tboxSource, tboxCap),
      rl.expand, corpus.quads, maxRounds)
  }

  /** What every class-family entry collects first, in this order: the
    * restriction schema (from `tboxSource`, else the data), then the
    * RDFS TBox and its emission vocabulary. `rdfs` is the corpus over
    * the RDFS ids; `expand` is the one-pass rho-df expansion of
    * derived rows. */
  private final case class RlSetup(rel: DataFrame, voc: RlVoc,
                                   schema: RlSchema, rdfs: Corpus[RdfsIds],
                                   tbox: Array[(Any, Any, Any)],
                                   rdfsVoc: Voc) {
    def expand(df: DataFrame): Seq[DataFrame] =
      rdfsDerive(tbox, df, rdfsVoc, includeTboxClosure = false, rdfs.quads)
  }

  private def rlSetup(data: DataFrame, corpus: Corpus[RlIds],
                      tboxSource: Option[DataFrame], tboxCap: Int): RlSetup = {
    val rel = normRel(data, corpus.quads)
    val voc = rlVoc(corpus)
    val schema = collectRlSchema(tboxSource.getOrElse(rel), voc, tboxCap)
    val rdfs = corpus.map(_.rdfs)
    val voc0 = rdfsVoc(rdfs)
    val tbox = collectTbox(schemaRel(rel, tboxSource),
      col("p").isin(voc0.tboxPreds: _*), tboxCap)()
    RlSetup(rel, voc, schema, rdfs, tbox, resolveEmit(voc0, tbox))
  }

  private def rlVoc(corpus: Corpus[RlIds]): RlVoc =
    corpus.vocab(stringRlVoc, encRlVoc)

  /** One rule of the RL class family abstracted for driver-side
    * dependency analysis: reach-expanded conclusion classes/properties
    * (`tc`/`ep`), premise constants (`tp`/`eprem`), the intra-node
    * saturation cost in passes, and whether the node can feed ITSELF
    * across subjects (`selfUnsafe` — the statically-detectable
    * recursion that makes derivation depth data-dependent). */
  private final case class RlRuleNode(tc: Set[Any], ep: Set[Any],
                                      tp: Set[Any], eprem: Set[Any],
                                      cost: Int, selfUnsafe: Boolean,
                                      restr: Option[Restriction],
                                      inter: Option[(Any, Seq[Any])],
                                      union: Option[(Any, Seq[Any])],
                                      oneOf: Option[(Any, Seq[Any])] = None)

  /** Observable-rule pruning for the LAZY RL entailment: keep exactly
    * the rules whose (rdfs-reach-expanded) conclusions a query
    * mentioning `patternConsts` can observe, closed under rule-feeding
    * (a rule whose conclusions enable a kept rule's premise is kept
    * too) — the [[chainsNeeded]] analog for restriction heads, computed
    * entirely on the driver over the schema-sized rule set. Returns the
    * pruned schema plus `Some(passBound)` when the kept rules'
    * dependency graph is ACYCLIC across nodes and free of cross-subject
    * self-recursion — then `passBound` static derive passes reach the
    * fixpoint (sum of per-node saturation costs: hasValue and
    * intersection nodes saturate in 2, the rest in 1; all SAME-subject
    * self-feeds saturate and are benign) — or `None` when a recursive
    * schema (e.g. `R ⊑ ∀p.R`) makes depth data-dependent and only a
    * count-driven fixpoint is sound.
    */
  private def pruneRlSchema(schema: RlSchema, maps: RdfsMaps, voc: RlVoc,
                            patternConsts: Seq[Any])
      : (RlSchema, Option[Int]) = {
    val scUp = maps.scPairs.groupBy(_._1)
      .map { case (k, v) => (k, v.map(_._2)) }
    val spUp = maps.spPairs.groupBy(_._1)
      .map { case (k, v) => (k, v.map(_._2)) }
    def tReach(c: Any): Set[Any] = scUp.getOrElse(c, Nil).toSet + c
    def eReach(p: Any): Set[Any] = spUp.getOrElse(p, Nil).toSet + p
    val domBy = maps.domEff.groupBy(_._1)
    val rngBy = maps.rngEff.groupBy(_._1)
    def edgeTypes(p: Any): Set[Any] =
      (domBy.getOrElse(p, Nil).map(_._2) ++
        rngBy.getOrElse(p, Nil).map(_._2)).flatMap(tReach).toSet
    val nodes: Seq[RlRuleNode] =
      schema.restr.map {
        case rs @ Restriction(r, p, SvfKind, v) =>
          val tp: Set[Any] = if (voc.thing(v)) Set.empty else Set(v)
          val tc = tReach(r)
          RlRuleNode(tc, Set.empty, tp, Set(p), 1,
            (tc intersect tp).nonEmpty, Some(rs), None, None)
        case rs @ Restriction(r, p, AvfKind, v) =>
          val tc = tReach(v)
          RlRuleNode(tc, Set.empty, Set(r), Set(p), 1,
            tc.contains(r), Some(rs), None, None)
        case rs @ Restriction(r, p, HvKind, _) =>
          // hv1/hv2 feed each other on the SAME subject — saturating,
          // never cross-subject, so the pair is one cost-2 node with no
          // self-recursion hazard
          RlRuleNode(tReach(r) ++ edgeTypes(p), eReach(p), Set(r), Set(p),
            2, selfUnsafe = false, Some(rs), None, None)
        case other => throw new IllegalStateException(other.toString)
      } ++ schema.inters.map { case in @ (c, parts) =>
        RlRuleNode(tReach(c) ++ parts.flatMap(tReach),
          Set.empty, parts.toSet + c, Set.empty, 2,
          selfUnsafe = false, None, Some(in), None)
      } ++ schema.unions.map { case un @ (c, parts) =>
        RlRuleNode(tReach(c), Set.empty, parts.toSet, Set.empty, 1,
          selfUnsafe = false, None, None, Some(un))
      } ++ schema.oneOfs.map { case oo @ (c, _) =>
        // static emissions: no premises, conclusion types reach up
        RlRuleNode(tReach(c), Set.empty, Set.empty, Set.empty, 1,
          selfUnsafe = false, None, None, None, Some(oo))
      }
    val consts = patternConsts.toSet
    def observable(n: RlRuleNode): Boolean =
      consts.isEmpty || ((n.tc ++ n.ep) intersect consts).nonEmpty
    def enables(a: RlRuleNode, b: RlRuleNode): Boolean =
      (a.tc intersect b.tp).nonEmpty || (a.ep intersect b.eprem).nonEmpty
    // needed = observable ∪ (feeds a needed rule), driver fixpoint
    val needed = scala.collection.mutable.Set[Int]()
    nodes.indices.filter(i => observable(nodes(i))).foreach(needed += _)
    var grew = true
    while (grew) {
      grew = false
      for (i <- nodes.indices if !needed(i);
           j <- needed.toSeq if enables(nodes(i), nodes(j))) {
        needed += i; grew = true
      }
    }
    val kept = needed.toSeq.sorted.map(nodes)
    val pruned = RlSchema(kept.flatMap(_.restr),
      kept.flatMap(_.inter), kept.flatMap(_.union),
      kept.flatMap(_.oneOf))
    // pass bound: sound only without cross-subject self-recursion and
    // without inter-node cycles (DFS cycle check on the kept subgraph)
    val bound: Option[Int] =
      if (kept.exists(_.selfUnsafe)) None
      else {
        val idx = kept.indices
        val adj = idx.map(i => idx.filter(j => j != i &&
          enables(kept(i), kept(j))))
        val state = Array.fill(kept.size)(0) // 0 new, 1 in-stack, 2 done
        var cyclic = false
        def dfs(i: Int): Unit = {
          state(i) = 1
          adj(i).foreach { j =>
            if (state(j) == 1) cyclic = true
            else if (state(j) == 0) dfs(j)
          }
          state(i) = 2
        }
        idx.foreach(i => if (state(i) == 0) dfs(i))
        if (cyclic) None else Some(kept.map(_.cost).sum)
      }
    (pruned, bound)
  }

  /** Rule count of the most recent [[owlRlEntailed]] pruning (the kept
    * schema size) and its pass plan: `lastRlEntailedPasses` holds the
    * static lazy pass count, or -1 when a recursive schema forced the
    * count-driven materialized fallback. */
  private[graft] val lastRlEntailedRules =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val lastRlEntailedPasses =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Whether the most recent [[owlRlEntailed]] RECURSIVE-schema call
    * returned a bounded unrolling whose exactness was PROVED by the
    * one-action under-derivation check (vs the counted materialized
    * fallback, passes == -1). */
  private[graft] val lastRlEntailedVerified =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private def owlRlEntailedCore(t: DataFrame, voc: RlVoc,
                                schema: RlSchema, maps: RdfsMaps,
                                lazyBase: DataFrame,
                                rdfsExpand: DataFrame => Seq[DataFrame],
                                rdfsClose: DataFrame => DataFrame,
                                hasGraph: Boolean,
                                patternConsts: Seq[Any],
                                maxPasses: Int): DataFrame = {
    val (pruned, bound) = pruneRlSchema(schema, maps, voc, patternConsts)
    lastRlEntailedVerified.set(false)
    lastRlEntailedRules.set(pruned.restr.size + pruned.inters.size +
      pruned.unions.size + pruned.oneOfs.size)
    if (pruned.isEmpty) { lastRlEntailedPasses.set(0); return lazyBase }
    // logical plans are TREES (no subplan sharing): each lazy pass
    // re-references the accumulated relation once per rule leg plus the
    // rdfs expansion legs, so BOTH the analyzed tree and the RUNTIME
    // cost grow as multiplier^passes — without pinning, every leaf
    // re-executes the base relation. Keep the lazy composition only
    // while that re-execution count stays below ~64 base scans (the
    // pruned-query case it exists for: one rule, one pass ≈ 7 scans);
    // beyond it the count-driven fixpoint materializes ONCE and wins
    // (measured: a 2-rule 3-pass lazy plan re-scanned the base ~729×,
    // 40 s vs ~3 s materialized at sf0.1)
    val accReads = pruned.restr.size * 2 +
      pruned.inters.map(_._2.size + 1).sum + pruned.unions.size
    val multiplier = math.max(2, accReads + 5)
    def planOk(k: Int): Boolean =
      k <= maxPasses && math.pow(multiplier.toDouble, k.toDouble) <= 64.0
    bound match {
      case Some(k) if planOk(k) =>
        lastRlEntailedPasses.set(k)
        var acc = lazyBase
        for (_ <- 1 to k) {
          val derived =
            restrictionDerive(acc, pruned, voc, hasGraph).distinct()
          acc = (Seq(acc, derived) ++ rdfsExpand(derived))
            .reduce(_.unionAll(_))
        }
        acc.distinct()
      case _ =>
        // recursive restriction dependencies (depth is data-dependent)
        // or a pass plan beyond the tree budget. Before materializing,
        // try a BOUNDED UNROLLING WITH AN UNDER-DERIVATION PROOF: the
        // structural bound is data-independent, but shallow DATA (the
        // common `R ⊑ ∀p.R` case — membership frontiers settle in a
        // hop or two) converges inside the same lazy-plan budget. Take
        // the largest kv whose VERIFICATION plan (one extra derive +
        // anti over the unrolled composition ≈ one more pass) stays
        // inside the ~64-base-scan budget and pay ONE action proving
        // pass kv+1 derives nothing new; on proof the kv-pass lazy
        // composition is EXACT and returns as-is (per-use pattern
        // pruning preserved); on refutation fall back to the counted
        // fixpoint — one wasted check, bounded by the same budget.
        // Deeper unrolls are a recorded negative: past the budget, a
        // tree-shaped plan re-executes the base multiplier^k times,
        // while the counted fixpoint scans PINNED rounds — the
        // fixpoint always wins there (the r9 measurement: ~729 base
        // scans, 40 s lazy vs ~3 s materialized at sf0.1).
        val kv = (1 to maxPasses).filter(k => planOk(k + 1)).lastOption
          .getOrElse(0)
        val verified: Option[DataFrame] =
          if (kv < 1) None
          else {
            var acc = lazyBase
            for (_ <- 1 to kv) {
              val derived =
                restrictionDerive(acc, pruned, voc, hasGraph).distinct()
              acc = (Seq(acc, derived) ++ rdfsExpand(derived))
                .reduce(_.unionAll(_))
            }
            val accD = acc.distinct()
            val dNext =
              restrictionDerive(accD, pruned, voc, hasGraph).distinct()
            val nextLegs = (Seq(dNext) ++ rdfsExpand(dNext))
              .reduce(_.unionAll(_))
            val cs = accD.columns.toSeq
            val probe = accD.toDF(cs.map("__v_" + _): _*)
            val novel = nextLegs.join(probe,
              cs.map(c => col(c) <=> col("__v_" + c)).reduce(_ && _),
              "left_anti")
            if (novel.isEmpty) {
              lastRlEntailedPasses.set(kv)
              lastRlEntailedVerified.set(true)
              Some(accD)
            } else None
          }
        verified.getOrElse {
          lastRlEntailedPasses.set(-1)
          owlRlCore(t, voc, pruned, rdfsClose, rdfsExpand, hasGraph, 16)
        }
    }
  }

  /** QUERY-TIME OWL RL entailment: the restriction-class closure as a
    * LAZY relation, the [[rdfsEntailed]] / [[owlEntailed]] analog for
    * the class family. `patternConsts` — the class and property
    * constants the caller's patterns mention — prunes the restriction
    * and boolean-class rules to those whose conclusions the query can
    * observe (closed under rule feeding, [[pruneRlSchema]]); on
    * non-recursive schemas the pruned rules compose as a FIXED number
    * of lazy derive passes (no counts, no pinning — Catalyst
    * specializes each pattern scan, and pruned-away rules appear in no
    * plan), which is exact FOR THE MENTIONED constants; unmentioned
    * restriction heads are under-derived, the same documented price as
    * [[owlEntailed]]'s unlisted transitive slices. Empty
    * `patternConsts` keeps every rule and is exact everywhere (still
    * lazy when the schema is non-recursive and small). RECURSIVE
    * schemas (e.g. `R ⊑ ∀p.R`, where derivation depth is
    * data-dependent) first try a budgeted unrolling with an
    * UNDER-DERIVATION PROOF: kv lazy passes (the largest whose
    * verification plan stays inside the budget) plus ONE action
    * proving pass kv+1 derives nothing new — shallow data returns the
    * verified-exact lazy composition ([[lastRlEntailedVerified]]);
    * deeper data falls back to the count-driven materialized fixpoint
    * over the pruned schema. So do pass plans whose RE-EXECUTION cost
    * would outgrow one materialization (logical plans share no
    * subtrees, so k unpinned passes over r rule legs re-execute the
    * base ~(r+5)^k times — beyond ~64 base scans the counted fixpoint,
    * which scans PINNED rounds, always wins; the r9 measurement:
    * ~729 base scans, 40 s lazy vs ~3 s materialized at sf0.1).
    * Fallbacks report via [[lastRlEntailedPasses]] == -1.
    */
  def owlRlEntailed(data: DataFrame, corpus: Corpus[RlIds] = Corpus.Triples,
                    tboxSource: Option[DataFrame] = None,
                    tboxCap: Int = 1 << 20,
                    patternConsts: Seq[Any] = Nil,
                    maxPasses: Int = 12): DataFrame = {
    corpus.requireTerms("patternConsts", patternConsts)
    val rl = rlSetup(data, corpus, tboxSource, tboxCap)
    owlRlEntailedCore(rl.rel, rl.voc, rl.schema, rdfsMaps(rl.tbox, rl.rdfsVoc),
      rdfsEntailed(rl.rel, rl.rdfs, tboxSource, tboxCap),
      rl.expand,
      df => rdfsClosure(df, rl.rdfs, tboxSource, tboxCap),
      corpus.quads, patternConsts, maxPasses)
  }

  /** Kept-rule count and pass plan of the most recent
    * [[owlFullEntailed]] call ([[lastFullEntailedPasses]] == -1 means
    * the counted materialized fallback ran). */
  private[graft] val lastFullEntailedRules =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val lastFullEntailedPasses =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def owlFullEntailedCore(
      rlVoc: RlVoc, schema: RlSchema, maps: RdfsMaps,
      inv: Seq[(Any, Any)], sym: Seq[Any], trans: Seq[Any],
      chains: Seq[(Any, Seq[Any])],
      rdfsLazy: DataFrame => DataFrame,
      rdfsExpand: DataFrame => Seq[DataFrame],
      base: DataFrame, hasGraph: Boolean,
      patternPreds: Seq[Any], patternConsts: Seq[Any],
      maxPasses: Int, fallback: () => DataFrame): DataFrame = {
    val rlConsts = (patternConsts ++ patternPreds).distinct
    val (pruned, bound) = pruneRlSchema(schema, maps, rlVoc, rlConsts)
    lastFullEntailedRules.set(pruned.restr.size + pruned.inters.size +
      pruned.unions.size + pruned.oneOfs.size)
    // the property family must be exact for every edge premise a kept
    // class rule consumes, not just the query's own predicates
    val keptOnProps = pruned.restr.map(_.p).distinct
    val propNeeded = (patternPreds ++ keptOnProps).distinct
    val transKept = transNeeded(trans, inv, propNeeded)
    val chainsKept = chainsNeeded(chains, inv, propNeeded)
    if (pruned.isEmpty) {
      // no observable class rule: the joint relation is the property
      // family sandwiched in lazy rdfs (sp-expansion feeds the
      // transitive slices, derived edges get their rdfs types) —
      // observable chains run their fixpoint eagerly at construction,
      // the documented owlEntailed contract
      lastFullEntailedPasses.set(0)
      return rdfsLazy(owlCloseCore(rdfsLazy(base), inv, sym, transKept,
        hasGraph, chainsKept))
    }
    val hvKept = pruned.restr.exists(_.kind == HvKind)
    val accReads = pruned.restr.size * 2 +
      pruned.inters.map(_._2.size + 1).sum + pruned.unions.size
    // the joint base carries two lazy rdfs layers plus the property
    // legs, so the re-execution budget charges those leaves too
    val multiplier = math.max(2, accReads + inv.size + sym.size + 11)
    def planOk(k: Int): Boolean =
      k <= maxPasses && math.pow(multiplier.toDouble, k.toDouble) <= 64.0
    // LAZY soundness: the class family must emit NO edges back into the
    // property family (a kept hasValue rule emits p-edges that could
    // extend a transitive/chain fixpoint or re-enter another rule via
    // an inverse image — joint-recursive in general), no chain axiom
    // may be observable from the needed predicates, and the class pass
    // plan must be static (acyclic schema) and within the budget.
    // Anything else takes the counted [[owlFullClosure]] fallback —
    // exact everywhere, materialization-shaped.
    val lazyOk = !hvKept && chainsKept.isEmpty && bound.exists(planOk)
    if (!lazyOk) { lastFullEntailedPasses.set(-1); return fallback() }
    val k = bound.get
    lastFullEntailedPasses.set(k)
    val propBase = owlCloseCore(rdfsLazy(base), inv, sym, transKept,
      hasGraph, Nil)
    var acc = rdfsLazy(propBase)
    for (_ <- 1 to k) {
      val derived =
        restrictionDerive(acc, pruned, rlVoc, hasGraph).distinct()
      acc = (Seq(acc, derived) ++ rdfsExpand(derived))
        .reduce(_.unionAll(_))
    }
    acc.distinct()
  }

  /** QUERY-TIME entailment over the JOINT property+class closure — the
    * lazy twin of [[owlFullClosure]], composing [[owlEntailed]]'s
    * property rewrites with [[owlRlEntailed]]'s pruned class passes
    * over a shared base: `patternPreds` / `patternConsts` name the
    * predicates and class/property constants the caller's patterns
    * mention, the class schema prunes to the rules those can observe
    * (closed under rule feeding), and the property family closes
    * exactly the edge premises the kept rules consume (their
    * transitive slices square even when unmentioned). Exact FOR the
    * mentioned constants on schemas where the class family emits no
    * edges (no kept `hasValue` rule), no chain axiom is observable,
    * and the pass plan is static within the re-execution budget;
    * everything else — hv emission (joint-recursive in general),
    * recursive restriction dependencies, oversized plans — falls back
    * to the counted [[owlFullClosure]] ([[lastFullEntailedPasses]] ==
    * -1), exact everywhere. Unmentioned constants are under-derived,
    * the same documented price as both parents. */
  def owlFullEntailed(data: DataFrame,
                      corpus: Corpus[(OwlIds, RlIds)] = Corpus.Triples,
                      tboxSource: Option[DataFrame] = None,
                      tboxCap: Int = 1 << 20,
                      patternPreds: Seq[Any] = Nil,
                      patternConsts: Seq[Any] = Nil,
                      maxPasses: Int = 12): DataFrame = {
    corpus.requireTerms("patternPreds", patternPreds)
    corpus.requireTerms("patternConsts", patternConsts)
    val rl = rlSetup(data, corpus.map(_._2), tboxSource, tboxCap)
    val (inv, sym, trans, chains) = owlDecls(tboxSource.getOrElse(rl.rel),
      owlVoc(corpus.map(_._1)), tboxCap)
    owlFullEntailedCore(rl.voc, rl.schema, rdfsMaps(rl.tbox, rl.rdfsVoc),
      inv, sym, trans, chains,
      df => rdfsEntailed(df, rl.rdfs, tboxSource, tboxCap),
      rl.expand, rl.rel, corpus.quads, patternPreds, patternConsts,
      maxPasses, () => owlFullClosure(rl.rel, corpus, tboxSource, tboxCap))
  }

  /** One seminaive restriction pass for the delta path: per
    * declaration, BOTH premise positions get a variant with the
    * newest-step slice broadcast and the accumulated relation's slices
    * streamed — so every conclusion with ≥1 premise in `dcur` derives
    * and the closure never shuffles (conclusions with both premises
    * new appear from both variants and dedup downstream). */
  private def restrictionDeriveDelta(all: DataFrame, dcur: DataFrame,
                                     schema: RlSchema, voc: RlVoc,
                                     hasGraph: Boolean): DataFrame = {
    val restr = schema.restr
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    def probeNames(n: Int) = (1 to n).map(i => s"__d$i") ++
      (if (hasGraph) Seq("__dg") else Nil)
    def gJoin = if (hasGraph) Seq(col("g") <=> col("__dg")) else Nil
    val tyCond = col("p").isin(voc.ty.toSeq: _*)
    val types = all.where(tyCond)
    val dTypes = dcur.where(tyCond)
    def typed(x: org.apache.spark.sql.Column, r: Any, g: Seq[org.apache.spark.sql.Column]) =
      Seq(x, lit(voc.emitTy).as("p"), lit(r).as("o")) ++ g
    val legs = restr.flatMap {
      case Restriction(r, p, SvfKind, v) if voc.thing(v) =>
        Seq(dcur.where(col("p") === p).select(typed(col("s"), r, gsel): _*))
      case Restriction(r, p, SvfKind, v) =>
        // Δ edge ⋈ accumulated filler types (x from Δ, broadcast both
        // roles: the Δ slice is the probe, the type scan streams)
        val dP = dcur.where(col("p") === p)
          .select(Seq(col("s"), col("o")) ++ gsel: _*)
          .toDF(probeNames(2): _*)
        val a = types.where(col("o") === v)
          .join(broadcast(dP),
            (Seq(col("s") === col("__d2")) ++ gJoin).reduce(_ && _))
          .select(typed(col("__d1").as("s"), r,
            if (hasGraph) Seq(col("__dg").as("g")) else Nil): _*)
        // accumulated edge ⋈ Δ filler types (y newly typed)
        val dT = dTypes.where(col("o") === v)
          .select(col("s") +: gsel: _*).toDF(probeNames(1): _*)
        val b = all.where(col("p") === p)
          .join(broadcast(dT),
            (Seq(col("o") === col("__d1")) ++ gJoin).reduce(_ && _))
          .select(typed(col("s"), r, gsel): _*)
        Seq(a, b)
      case Restriction(r, p, AvfKind, v) =>
        // Δ membership ⋈ accumulated edges
        val dM = dTypes.where(col("o") === r)
          .select(col("s") +: gsel: _*).toDF(probeNames(1): _*)
        val a = all.where(col("p") === p)
          .join(broadcast(dM),
            (Seq(col("s") === col("__d1")) ++ gJoin).reduce(_ && _))
          .select(Seq(col("o").as("s"), lit(voc.emitTy).as("p"),
            lit(v).as("o")) ++ gsel: _*)
        // accumulated membership ⋈ Δ edges
        val dP = dcur.where(col("p") === p)
          .select(Seq(col("s"), col("o")) ++ gsel: _*)
          .toDF(probeNames(2): _*)
        val b = types.where(col("o") === r)
          .join(broadcast(dP),
            (Seq(col("s") === col("__d1")) ++ gJoin).reduce(_ && _))
          .select(Seq(col("__d2").as("s"), lit(voc.emitTy).as("p"),
            lit(v).as("o")) ++
            (if (hasGraph) Seq(col("__dg").as("g")) else Nil): _*)
        Seq(a, b)
      case Restriction(r, p, HvKind, v) =>
        Seq(
          dTypes.where(col("o") === r)
            .select(Seq(col("s"), lit(p).as("p"), lit(v).as("o")) ++
              gsel: _*),
          dcur.where(col("p") === p && col("o") === v)
            .select(typed(col("s"), r, gsel): _*))
      case other => throw new IllegalStateException(other.toString)
    }
    // cls-int1 seminaive: the Δ membership at each conjunct position
    // broadcasts and the other conjuncts' accumulated type slices
    // stream; cls-int2/cls-uni are map-side on the Δ
    val intLegs = schema.inters.flatMap { case (c, parts) =>
      val a = parts.indices.map { j =>
        var acc = dTypes.where(col("o") === parts(j))
          .select(col("s").as("__ca") +: gsel: _*)
        for (i <- parts.indices if i != j) {
          val probe = acc.toDF(probeNames(1): _*)
          acc = types.where(col("o") === parts(i))
            .join(broadcast(probe),
              (Seq(col("s") === col("__d1")) ++ gJoin).reduce(_ && _))
            .select(col("__d1").as("__ca") +:
              (if (hasGraph) Seq(col("__dg").as("g")) else Nil): _*)
        }
        acc.select(typed(col("__ca").as("s"), c, gsel): _*)
      }
      val b = parts.map(ci => dTypes.where(col("o") === c)
        .select(typed(col("s"), ci, gsel): _*))
      a ++ b
    }
    val uniLegs = schema.unions.map { case (c, parts) =>
      dTypes.where(col("o").isin(parts: _*))
        .select(typed(col("s"), c, gsel): _*)
    }
    (legs ++ intLegs ++ uniLegs).reduce(_.unionAll(_))
  }

  private def owlRlDeltaCore(closure: DataFrame, delta: DataFrame,
                             voc: RlVoc, schema: RlSchema,
                             rdfsDeltaFn: DataFrame => DataFrame,
                             hasGraph: Boolean, deltaCap: Option[Long],
                             maxRounds: Int, remat: String): DataFrame = {
    val width = if (hasGraph) 4 else 3
    val names = Seq("s", "p", "o", "g").take(width)
    def norm(df: DataFrame): DataFrame =
      df.select(df.columns.take(width).toSeq.zip(names)
        .map { case (c, n) => col(c).as(n) }: _*)
    val d0 = pinCapped(norm(delta), deltaCap, "owlRlDelta increment", remat)
    // restriction/intersection/union axiom rows always reject; the
    // rdf:first/rdf:rest list-cell predicates reject only when the TBox
    // actually carries boolean class expressions (a cell could then
    // extend an existing conjunct/disjunct list) — plain rdf:list ABox
    // data in a boolean-free corpus maintains incrementally
    val listDeclared = schema.inters.nonEmpty ||
      schema.unions.nonEmpty || schema.oneOfs.nonEmpty
    val declPreds =
      ((voc.declPreds ++ voc.int ++ voc.uni ++ voc.oneOf) ++
        (if (listDeclared) (voc.first ++ voc.rest).toSeq else Nil))
        .distinct
    require(declPreds.isEmpty ||
      d0.where(col("p").isin(declPreds: _*)).isEmpty,
      "delta contains owl:Restriction/boolean-class declarations (or, " +
        "under declared intersectionOf/unionOf schemas, rdf:first/" +
        "rdf:rest list cells that could extend a conjunct list) - " +
        s"schema changes require re-materialization ($remat), not " +
        "incremental maintenance")
    val e = norm(closure)
    // seed: the rdfs increment of the batch (single-premise rules; its
    // own declaration guard fails fast on rdfs TBox rows in the delta)
    val inc0 = pinCapped(norm(rdfsDeltaFn(d0)).distinct(), deltaCap,
      "owlRlDelta rdfs seed", remat)
    if (schema.isEmpty) { lastRlRounds.set(0); return inc0 }
    var updated = e.unionAll(inc0)
    var dcur = inc0
    var total = inc0
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds, "owlRlDelta restriction loop did not " +
        s"converge in $maxRounds rounds — re-materialize ($remat)")
      val rnew = restrictionDeriveDelta(updated, dcur, schema, voc,
        hasGraph)
      val (novel, nNovel) = pinCappedN(
        incrementNovel(updated, rnew.distinct(), deltaCap,
          pinHits = false),
        deltaCap, "owlRlDelta restriction conclusions", remat)
      if (nNovel == 0) done = true
      else {
        val step = pinCapped(
          novel.unionAll(norm(rdfsDeltaFn(novel))).distinct(),
          deltaCap, "owlRlDelta restriction step", remat)
        updated = updated.unionAll(step)
        total = total.unionAll(step)
        dcur = step
      }
    }
    lastRlRounds.set(round)
    total.distinct()
  }

  /** INCREMENTAL OWL RL maintenance, the O(|Δ|) twin of
    * [[owlRlClosure]]: the batch seeds through [[rdfsDelta]]
    * (single-premise rho-df + equivalences), then the restriction
    * rules fire seminaively — per declaration BOTH premise positions
    * get a broadcast-Δ variant against the streamed closure slices —
    * and each round's novel conclusions re-flow through [[rdfsDelta]]
    * (subclass expansion of restriction-derived types) until dry.
    * Restriction declarations in the delta fail fast; every frame is
    * `pinCapped`; the closure is only ever scanned. Identity:
    * `owlRlClosure(base ∪ Δ) == composeIncrement(owlRlClosure(base), owlRlDelta(closure, Δ, tbox))`.
    */
  def owlRlDelta(closure: DataFrame, delta: DataFrame,
                 tboxSource: DataFrame,
                 corpus: Corpus[RlIds] = Corpus.Triples,
                 tboxCap: Int = 1 << 20, deltaCap: Option[Long] = None,
                 maxRounds: Int = 16): DataFrame = {
    val voc = rlVoc(corpus)
    val schema = collectRlSchema(tboxSource, voc, tboxCap)
    owlRlDeltaCore(closure, delta, voc, schema,
      d => rdfsDelta(tboxSource, d, corpus.map(_.rdfs), tboxCap, deltaCap),
      corpus.quads, deltaCap, maxRounds, corpus.remat("owlRlClosure"))
  }

  // ------------------------------------------------------------------
  // Consistency checking: the OWL RL violation-detection rules as a
  // data-quality REPORT (cax-dw, prp-irp, prp-asyp, prp-pdw, eq-diff1,
  // and a functional-conflict report)
  // ------------------------------------------------------------------

  val DisjointWith         = "owl:disjointWith"
  val DisjointWithIri      = "http://www.w3.org/2002/07/owl#disjointWith"
  val PropertyDisjointWith = "owl:propertyDisjointWith"
  val PropertyDisjointWithIri =
    "http://www.w3.org/2002/07/owl#propertyDisjointWith"
  val IrreflexiveProperty  = "owl:IrreflexiveProperty"
  val IrreflexivePropertyIri =
    "http://www.w3.org/2002/07/owl#IrreflexiveProperty"
  val AsymmetricProperty   = "owl:AsymmetricProperty"
  val AsymmetricPropertyIri =
    "http://www.w3.org/2002/07/owl#AsymmetricProperty"
  val DifferentFrom        = "owl:differentFrom"
  val DifferentFromIri     = "http://www.w3.org/2002/07/owl#differentFrom"
  val MaxCardinality       = "owl:maxCardinality"
  val MaxCardinalityIri    = "http://www.w3.org/2002/07/owl#maxCardinality"
  val MaxQualifiedCardinality = "owl:maxQualifiedCardinality"
  val MaxQualifiedCardinalityIri =
    "http://www.w3.org/2002/07/owl#maxQualifiedCardinality"
  val OnClass              = "owl:onClass"
  val OnClassIri           = "http://www.w3.org/2002/07/owl#onClass"
  val OneOf                = "owl:oneOf"
  val OneOfIri             = "http://www.w3.org/2002/07/owl#oneOf"
  val ComplementOf         = "owl:complementOf"
  val ComplementOfIri      = "http://www.w3.org/2002/07/owl#complementOf"
  val AllDisjointClasses   = "owl:AllDisjointClasses"
  val AllDisjointClassesIri =
    "http://www.w3.org/2002/07/owl#AllDisjointClasses"
  val AllDifferent         = "owl:AllDifferent"
  val AllDifferentIri      = "http://www.w3.org/2002/07/owl#AllDifferent"
  val OwlMembers           = "owl:members"
  val OwlMembersIri        = "http://www.w3.org/2002/07/owl#members"
  val DistinctMembers      = "owl:distinctMembers"
  val DistinctMembersIri   =
    "http://www.w3.org/2002/07/owl#distinctMembers"
  val AllDisjointProperties = "owl:AllDisjointProperties"
  val AllDisjointPropertiesIri =
    "http://www.w3.org/2002/07/owl#AllDisjointProperties"
  val SourceIndividual     = "owl:sourceIndividual"
  val SourceIndividualIri  =
    "http://www.w3.org/2002/07/owl#sourceIndividual"
  val AssertionProperty    = "owl:assertionProperty"
  val AssertionPropertyIri =
    "http://www.w3.org/2002/07/owl#assertionProperty"
  val TargetIndividual     = "owl:targetIndividual"
  val TargetIndividualIri  =
    "http://www.w3.org/2002/07/owl#targetIndividual"
  val TargetValue          = "owl:targetValue"
  val TargetValueIri       = "http://www.w3.org/2002/07/owl#targetValue"

  /** The consistency vocabulary as ENCODED ids; absent ids (`None`)
    * simply match no declarations of that kind. `typePred` keys the
    * class-membership and property-characteristic lookups;
    * `functionalProperty` enables the conflict REPORT (the merge
    * path is [[functionalCanonicalize]]). The cardinality families
    * need `literalZero`/`literalOne` — the dictionary ids of the "0" /
    * "1" literals — because OWL 2 RL restricts max(Qualified)Cardinality
    * to those two values and an encoded literal id cannot be parsed. */
  final case class CheckIds(typePred: Long,
                            disjointWith: Option[Long] = None,
                            propertyDisjointWith: Option[Long] = None,
                            irreflexiveProperty: Option[Long] = None,
                            asymmetricProperty: Option[Long] = None,
                            differentFrom: Option[Long] = None,
                            functionalProperty: Option[Long] = None,
                            maxCardinality: Option[Long] = None,
                            maxQualifiedCardinality: Option[Long] = None,
                            onProperty: Option[Long] = None,
                            onClass: Option[Long] = None,
                            oneOf: Option[Long] = None,
                            complementOf: Option[Long] = None,
                            allDisjointClasses: Option[Long] = None,
                            allDifferent: Option[Long] = None,
                            members: Option[Long] = None,
                            distinctMembers: Option[Long] = None,
                            listFirst: Option[Long] = None,
                            listRest: Option[Long] = None,
                            listNil: Option[Long] = None,
                            literalZero: Option[Long] = None,
                            literalOne: Option[Long] = None,
                            allDisjointProperties: Option[Long] = None,
                            sourceIndividual: Option[Long] = None,
                            assertionProperty: Option[Long] = None,
                            targetIndividual: Option[Long] = None,
                            targetValue: Option[Long] = None)

  private final case class CheckVoc(ty: Set[Any], dw: Set[Any],
                                    pdw: Set[Any], irr: Set[Any],
                                    asy: Set[Any], diff: Set[Any],
                                    fp: Set[Any],
                                    maxc: Set[Any], maxqc: Set[Any],
                                    onp: Set[Any], onc: Set[Any],
                                    oneOf: Set[Any], comp: Set[Any],
                                    adcCls: Set[Any], adiffCls: Set[Any],
                                    members: Set[Any], dmembers: Set[Any],
                                    first: Set[Any], rest: Set[Any],
                                    nil: Set[Any],
                                    zero: Set[Any], one: Set[Any],
                                    adpCls: Set[Any] = Set.empty,
                                    npaSrc: Set[Any] = Set.empty,
                                    npaProp: Set[Any] = Set.empty,
                                    npaTgt: Set[Any] = Set.empty,
                                    npaVal: Set[Any] = Set.empty)

  private def stringCheckVoc(typePred: String): CheckVoc = {
    val ty: Set[Any] =
      if (typePred == "a") Set("a", TypeIri) else Set(typePred)
    CheckVoc(ty,
      Set(DisjointWith, DisjointWithIri),
      Set(PropertyDisjointWith, PropertyDisjointWithIri),
      Set(IrreflexiveProperty, IrreflexivePropertyIri),
      Set(AsymmetricProperty, AsymmetricPropertyIri),
      Set(DifferentFrom, DifferentFromIri),
      Set(FunctionalProperty),
      Set(MaxCardinality, MaxCardinalityIri),
      Set(MaxQualifiedCardinality, MaxQualifiedCardinalityIri),
      Set(OnProperty, OnPropertyIri), Set(OnClass, OnClassIri),
      Set(OneOf, OneOfIri), Set(ComplementOf, ComplementOfIri),
      Set(AllDisjointClasses, AllDisjointClassesIri),
      Set(AllDifferent, AllDifferentIri),
      Set(OwlMembers, OwlMembersIri),
      Set(DistinctMembers, DistinctMembersIri),
      Set(RdfFirst, RdfFirstIri), Set(RdfRest, RdfRestIri),
      Set(RdfNil, RdfNilIri),
      Set.empty, Set.empty,
      Set(AllDisjointProperties, AllDisjointPropertiesIri),
      Set(SourceIndividual, SourceIndividualIri),
      Set(AssertionProperty, AssertionPropertyIri),
      Set(TargetIndividual, TargetIndividualIri),
      Set(TargetValue, TargetValueIri))
  }

  private def encCheckVoc(ids: CheckIds): CheckVoc =
    CheckVoc(Set(ids.typePred), ids.disjointWith.toSet[Any],
      ids.propertyDisjointWith.toSet[Any],
      ids.irreflexiveProperty.toSet[Any],
      ids.asymmetricProperty.toSet[Any], ids.differentFrom.toSet[Any],
      ids.functionalProperty.toSet[Any],
      ids.maxCardinality.toSet[Any],
      ids.maxQualifiedCardinality.toSet[Any],
      ids.onProperty.toSet[Any], ids.onClass.toSet[Any],
      ids.oneOf.toSet[Any], ids.complementOf.toSet[Any],
      ids.allDisjointClasses.toSet[Any], ids.allDifferent.toSet[Any],
      ids.members.toSet[Any], ids.distinctMembers.toSet[Any],
      ids.listFirst.toSet[Any], ids.listRest.toSet[Any],
      ids.listNil.toSet[Any],
      ids.literalZero.toSet[Any], ids.literalOne.toSet[Any],
      ids.allDisjointProperties.toSet[Any],
      ids.sourceIndividual.toSet[Any],
      ids.assertionProperty.toSet[Any],
      ids.targetIndividual.toSet[Any],
      ids.targetValue.toSet[Any])

  /** Parse an OWL RL cardinality bound: RL restricts
    * max(Qualified)Cardinality to 0 or 1. String literals accept
    * optional quoting and a datatype suffix; encoded ids resolve
    * through the `literalZero`/`literalOne` vocabulary. Anything else
    * fails loudly. */
  private def parseCardinality(o: Any, voc: CheckVoc): Int =
    if (voc.zero(o)) 0
    else if (voc.one(o)) 1
    else o match {
      case s: String =>
        val digits = s.stripPrefix("\"").takeWhile(_.isDigit)
        require(digits == "0" || digits == "1",
          s"OWL RL max cardinality must be 0 or 1 (got $s)")
        digits.toInt
      case other => throw new IllegalArgumentException(
        "encoded cardinality literal " + other + " needs literalZero/" +
          "literalOne in CheckIds (OWL RL bounds are 0 or 1)")
    }

  /** OWL RL consistency REPORT: every constraint violation in the
    * relation, one row per offending fact —
    *
    *   - `cax-dw` (`owl:disjointWith`, symmetrized): a subject typed
    *     into BOTH classes of a disjointness axiom; reported once per
    *     (subject, axiom) under the FIRST class's rendering;
    *   - `prp-pdw` (`owl:propertyDisjointWith`, symmetrized): one
    *     (s, o) pair asserted under both properties;
    *   - `prp-irp` (`owl:IrreflexiveProperty`): a self-edge;
    *   - `prp-asyp` (`owl:AsymmetricProperty`): an edge whose reverse
    *     also holds (both directions report);
    *   - `eq-diff1` (`owl:differentFrom`): a reflexive differentFrom —
    *     the shape an upstream [[sameAsCanonicalize]] merge produces
    *     when the corpus asserted the merged terms distinct;
    *   - `functional-conflict` (`owl:FunctionalProperty`): a subject
    *     with ≥2 distinct objects under a functional property — the
    *     REPORT twin of [[functionalCanonicalize]]'s merge (merging is
    *     right for entity resolution; literal-valued conflicts are
    *     data-quality findings);
    *   - `cls-maxc` (`owl:maxCardinality` on a restriction, bound
    *     0 or 1 per OWL RL): a member with more distinct values of
    *     the restriction's `owl:onProperty` than the bound — every
    *     offending edge reports;
    *   - `cls-maxqc` (`owl:maxQualifiedCardinality` + `owl:onClass`):
    *     the qualified twin — only values typed into the qualifying
    *     class count toward the bound;
    *   - `cls-oo` (`owl:oneOf`): a member of an enumerated class
    *     outside its enumeration (closed-enumeration reading);
    *   - `cls-com` (`owl:complementOf`): membership in a class AND its
    *     declared complement;
    *   - `cax-adc` (`owl:AllDisjointClasses` / `owl:members`):
    *     pairwise disjointness over the walked member list;
    *   - `eq-diff2` (`owl:AllDifferent` / `owl:members` or
    *     `owl:distinctMembers`): a difference list naming one term
    *     twice — the n-ary post-merge contradiction.
    *
    * Returns columns `(kind, s, p, o)` (`g` carried on the quad path —
    * every check keys on the graph column, so a violation needs both
    * premises in ONE graph; declarations come from the global
    * `tboxSource`, else from the data). Run it on the CLOSURE to validate
    * entailed facts too — on the base to validate only assertions.
    * Declarations driver-collect capped; an empty result is the
    * consistency proof.
    */
  def consistencyReport(data: DataFrame,
                        corpus: Corpus[CheckIds] = Corpus.Triples,
                        tboxSource: Option[DataFrame] = None,
                        tboxCap: Int = 1 << 20): DataFrame = {
    val rel = normRel(data, corpus.quads)
    consistencyCoreDecls(rel, tboxSource.getOrElse(rel), checkVoc(corpus),
      corpus.quads, tboxCap)
  }

  private def checkVoc(corpus: Corpus[CheckIds]): CheckVoc =
    corpus.vocab(stringCheckVoc, encCheckVoc)

  /** The collected `owl:NegativePropertyAssertion` nodes as (source,
    * property, target) triples (targetIndividual OR targetValue) —
    * loud failure on incomplete reifications. Collected as capped
    * schema; corpus-scale negative-assertion SETS would need a
    * join-based variant (documented boundary). */
  private def npaTriplesOf(decls: Array[(Any, Any, Any)], voc: CheckVoc)
      : Seq[(Any, Any, Any)] = {
    if (voc.npaSrc.isEmpty) return Nil
    val src = decls.collect {
      case (n, p, v) if voc.npaSrc(p) => (n, v) }.groupBy(_._1)
    val prp = decls.collect {
      case (n, p, v) if voc.npaProp(p) => (n, v) }.groupBy(_._1)
    val tgt = decls.collect {
      case (n, p, v) if voc.npaTgt(p) || voc.npaVal(p) => (n, v) }
      .groupBy(_._1)
    def one(m: Map[Any, Array[(Any, Any)]], n: Any, what: String): Any = {
      val vs = m.getOrElse(n, Array.empty[(Any, Any)]).map(_._2).distinct
      require(vs.length == 1,
        s"owl:NegativePropertyAssertion $n needs exactly one $what " +
          s"(found ${vs.length})")
      vs.head
    }
    (src.keySet ++ prp.keySet ++ tgt.keySet).toSeq.sortBy(_.toString)
      .map { n =>
        (one(src, n, "owl:sourceIndividual"),
          one(prp, n, "owl:assertionProperty"),
          one(tgt, n, "owl:targetIndividual/owl:targetValue"))
      }.distinct
  }

  /** Parse the collected max(Qualified)Cardinality restrictions:
    * (restriction, onProperty, bound) and (restriction, onProperty,
    * onClass, bound) — shared by [[consistencyReport]]'s violation
    * legs and [[cardinalityIdentityPairs]]' merge direction. */
  private def cardRestrOf(decls: Array[(Any, Any, Any)], voc: CheckVoc)
      : (Seq[(Any, Any, Int)], Seq[(Any, Any, Any, Int)]) = {
    val onpOf = decls.collect {
      case (r, p, o) if voc.onp(p) => (r, o) }.groupBy(_._1)
    val oncOf = decls.collect {
      case (r, p, o) if voc.onc(p) => (r, o) }.groupBy(_._1)
    def oneProp(r: Any, m: Map[Any, Array[(Any, Any)]], what: String): Any = {
      val vs = m.getOrElse(r, Array.empty[(Any, Any)]).map(_._2).distinct
      require(vs.length == 1,
        s"cardinality restriction $r needs exactly one $what " +
          s"(found ${vs.length})")
      vs.head
    }
    (decls.collect {
      case (r, p, n) if voc.maxc(p) =>
        (r, oneProp(r, onpOf, "owl:onProperty"), parseCardinality(n, voc))
    }.distinct.toSeq.sortBy(_._1.toString),
      decls.collect {
        case (r, p, n) if voc.maxqc(p) =>
          (r, oneProp(r, onpOf, "owl:onProperty"),
            oneProp(r, oncOf, "owl:onClass"), parseCardinality(n, voc))
      }.distinct.toSeq.sortBy(_._1.toString))
  }

  /** The identity pairs IMPLIED by max-cardinality-ONE restrictions —
    * the merge direction of the cardinality vocabulary (OWL 2 RL
    * cls-maxc2 and cls-maxqc3/4):
    *
    *   x ∈ R, R ⊑ ≤1 p, (x p y₁) ∧ (x p y₂)  ⊨  y₁ sameAs y₂
    *   (qualified: only values typed the `owl:onClass` class count)
    *
    * — the restriction-scoped sibling of [[functionalIdentityPairs]]
    * (a FunctionalProperty is the member-unrestricted case). Bound-0
    * restrictions never merge (any edge is a violation —
    * [[consistencyReport]]'s `cls-maxc`/`cls-maxqc` families report
    * them). Per restriction: one keyed semi-join restricts the
    * property slice to members (and, qualified, the values to the
    * class), then the group-min star — never all-pairs within a
    * group. Returns (a, b) pairs with a = the group min; feed them to
    * [[identityMapping]] / [[sameAsCanonicalize]]. On encoded terms
    * the bounds resolve through `literalZero`/`literalOne` in
    * [[CheckIds]].
    */
  def cardinalityIdentityPairs(data: DataFrame,
                               corpus: Corpus[CheckIds] = Corpus.Triples,
                               tboxCap: Int = 1 << 20): DataFrame = {
    requireTriples(corpus, "cardinalityIdentityPairs")
    cardinalityIdentityPairsCore(data, checkVoc(corpus), tboxCap)
  }

  /** Identity pairs and entity resolution are defined over triples. */
  private def requireTriples(corpus: Corpus[Any], op: String): Unit =
    require(!corpus.quads, s"$op takes a triple corpus")

  private def cardinalityIdentityPairsCore(triples: DataFrame,
                                           voc: CheckVoc, tboxCap: Int)
      : DataFrame = {
    val Seq(cs, cp, co) = triples.columns.take(3).toSeq
    val t = triples.select(col(cs).as("s"), col(cp).as("p"),
      col(co).as("o"))
    val declPreds: Seq[Any] =
      (voc.maxc ++ voc.maxqc ++ voc.onp ++ voc.onc).toSeq
    if ((voc.maxc ++ voc.maxqc).isEmpty)
      return t.select(col("s").as("a"), col("o").as("b")).limit(0)
    val decls = collectTbox(t, col("p").isin(declPreds: _*), tboxCap)()
    val (maxc, maxqc) = cardRestrOf(decls, voc)
    val legs = cardStarLegs(t,
      t.where(col("p").isin(voc.ty.toSeq: _*)), maxc, maxqc)
    legs.reduceOption(_.unionAll(_)).map(_.distinct())
      .getOrElse(t.select(col("s").as("a"), col("o").as("b")).limit(0))
  }

  /** The per-restriction star-pair legs over a relation (shared by
    * [[cardinalityIdentityPairs]] and the ER fixpoint's cardinality
    * participation): members' values under the restricted property
    * (qualified: typed values only), grouped per member, star edges to
    * the group minimum when the bound-1 restriction is exceeded. */
  private def cardStarLegs(t: DataFrame, types: DataFrame,
                           maxc: Seq[(Any, Any, Int)],
                           maxqc: Seq[(Any, Any, Any, Int)])
      : Seq[DataFrame] = {
    def leg(r: Any, pp: Any, qual: Option[Any]): DataFrame = {
      val mem = types.where(col("o") === r).select(col("s").as("__m"))
      val slice0 = t.where(col("p") === pp)
        .join(mem, col("s") === col("__m"), "left_semi")
      val slice = qual.fold(slice0) { c =>
        slice0.join(types.where(col("o") === c)
            .select(col("s").as("__v")),
          col("o") === col("__v"), "left_semi")
      }
      val mins = slice.groupBy("s")
        .agg(min(col("o")).as("__cv"),
          countDistinct(col("o")).as("__cnt"))
        .where(col("__cnt") > 1)
        .select(col("s"), col("__cv"))
      slice.join(mins, Seq("s"))
        .where(col("o") =!= col("__cv"))
        .select(col("__cv").as("a"), col("o").as("b"))
    }
    maxc.collect { case (r, pp, 1) => leg(r, pp, None) } ++
      maxqc.collect { case (r, pp, c, 1) => leg(r, pp, Some(c)) }
  }

  /** Collect the bound-one cardinality restrictions in the ER
    * vocabulary's currency (empty when the vocabulary has no
    * cardinality ids — zero extra jobs for plain fp/ifp/hasKey
    * corpora). */
  private def erCardDecls(t: DataFrame, voc: ErVoc, tboxCap: Int)
      : (Seq[(Any, Any, Int)], Seq[(Any, Any, Any, Int)]) = {
    if ((voc.maxc ++ voc.maxqc).isEmpty) return (Nil, Nil)
    val preds = (voc.maxc ++ voc.maxqc ++ voc.onp ++ voc.onc).toSeq
    cardRestrOf(collectTbox(t, col("p").isin(preds: _*), tboxCap)(), voc.cardView)
  }

  /** INCREMENTAL consistency checking — the O(Δ) twin of
    * [[consistencyReport]] for BATCH VALIDATION: every violation row of
    * `corpus ∪ Δ` whose violation GROUP the batch touches, computed
    * with Δ-broadcasts against the streamed corpus (the corpus is
    * never shuffled). Single-premise families (`prp-irp`, `eq-diff1`,
    * `cls-oo`) return exactly the batch's own offending rows;
    * two-premise families (`cax-dw`, `cax-adc`, `cls-com`, `prp-pdw`,
    * `prp-asyp`) return BOTH sides of a conflict the batch completes
    * (a reviewer needs the pre-existing partner row too); the grouped
    * families (`functional-conflict`, `cls-maxc`, `cls-maxqc`) return
    * the whole over-bound group the batch extends. Violations among
    * rows the batch does not touch never appear — validate the batch
    * BEFORE folding it in, at Δ cost. Declarations arriving in the
    * delta fail fast (schema change → re-run [[consistencyReport]]);
    * rows already present in the corpus are ignored (a replayed batch
    * validates clean). On a violation-free corpus,
    * `consistencyDelta(corpus, Δ) == consistencyReport(corpus ∪ Δ)`.
    */
  def consistencyDelta(data: DataFrame, delta: DataFrame,
                       corpus: Corpus[CheckIds] = Corpus.Triples,
                       tboxSource: Option[DataFrame] = None,
                       tboxCap: Int = 1 << 20,
                       deltaCap: Option[Long] = None): DataFrame = {
    val rel = normRel(data, corpus.quads)
    consistencyDeltaCore(rel, delta, tboxSource.getOrElse(rel),
      checkVoc(corpus), corpus.quads, tboxCap, deltaCap)
  }

  private def consistencyDeltaCore(corpus: DataFrame, delta: DataFrame,
                                   declSource: DataFrame, voc: CheckVoc,
                                   hasGraph: Boolean, tboxCap: Int,
                                   deltaCap: Option[Long]): DataFrame = {
    val width = if (hasGraph) 4 else 3
    val names = Seq("s", "p", "o", "g").take(width)
    def norm(df: DataFrame): DataFrame =
      df.select(df.columns.take(width).toSeq.zip(names)
        .map { case (c2, n) => col(c2).as(n) }: _*)
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    def gEq(pfx: String) =
      if (hasGraph) Seq(col("g") <=> col(pfx + "g")) else Nil
    // schema guard: any consistency-vocabulary declaration (or list
    // cell — the n-ary axioms are list-backed) in the batch fails
    // fast. owl:differentFrom rows are individual-level DATA (the
    // eq-diff1 premise), not schema — they validate, never guard.
    val schemaPreds: Seq[Any] =
      (voc.dw ++ voc.pdw ++ voc.maxc ++ voc.maxqc ++
        voc.onp ++ voc.onc ++ voc.oneOf ++ voc.comp ++ voc.members ++
        voc.dmembers ++ voc.first ++ voc.rest ++ voc.npaSrc ++
        voc.npaProp ++ voc.npaTgt ++ voc.npaVal).toSeq
    val charObjs: Seq[Any] =
      (voc.irr ++ voc.asy ++ voc.fp ++ voc.adcCls ++ voc.adiffCls ++
        voc.adpCls).toSeq
    def declCondOf(preds: Seq[Any]) =
      (if (preds.isEmpty) lit(false)
       else col("p").isin(preds: _*)) ||
        (if (charObjs.isEmpty) lit(false)
         else col("p").isin(voc.ty.toSeq: _*) &&
           col("o").isin(charObjs: _*))
    // novel batch rows only (replayed rows validate clean); the guard
    // rides the pin's materializing job (pinCappedGuard)
    val (dn, _) = pinCappedGuard(incrementNovel(corpus, norm(delta),
      deltaCap, pinHits = false),
      deltaCap, "consistency batch", "consistencyReport",
      declCondOf(schemaPreds),
      "batch contains consistency-vocabulary declarations - schema " +
        "changes require a full consistencyReport, not incremental " +
        "validation")
    val decls = collectTbox(declSource
      .select(col(declSource.columns.head).as("s"),
        col(declSource.columns(1)).as("p"),
        col(declSource.columns(2)).as("o")), declCondOf(schemaPreds), tboxCap)(
      s"consistency declarations exceed $tboxCap — not schema-shaped")
    val dwPairs = decls.collect {
      case (a, p, b) if voc.dw(p) => ("cax-dw", a, b) }.distinct.toSeq
    val adcNodes = decls.collect {
      case (n, _, o) if voc.adcCls(o) => n }.toSet
    val adcPairs = walkRdfLists(decls, voc.members, voc.first, voc.rest,
        voc.nil, "owl:members")
      .filter(l => adcNodes(l._1))
      .flatMap { case (_, cs2) =>
        for (i <- cs2.indices; j <- i + 1 until cs2.length)
          yield ("cax-adc", cs2(i), cs2(j))
      }.distinct
    val compPairs = decls.collect {
      case (a, p, b) if voc.comp(p) => ("cls-com", a, b) }.distinct.toSeq
    val pdwPairs = decls.collect {
      case (a, p, b) if voc.pdw(p) => (a, b) }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.toSeq
    val adpNodes = decls.collect {
      case (n, _, o) if voc.adpCls(o) => n }.toSet
    val adpPairs = walkRdfLists(decls, voc.members, voc.first, voc.rest,
        voc.nil, "owl:members")
      .filter(l => adpNodes(l._1))
      .flatMap { case (_, ps) =>
        for (i <- ps.indices; j <- ps.indices if i != j)
          yield (ps(i), ps(j))
      }.distinct
    val npaTriples = npaTriplesOf(decls, voc)
    val irrProps = decls.collect {
      case (p, _, o) if voc.irr(o) => p }.distinct.toSeq
    val asyProps = decls.collect {
      case (p, _, o) if voc.asy(o) => p }.distinct.toSeq
    val fpProps = decls.collect {
      case (p, _, o) if voc.fp(o) => p }.distinct.toSeq
    val diffPreds = voc.diff.toSeq
    val (maxcRestr, maxqcRestr) = cardRestrOf(decls, voc)
    val oneOfLists = walkRdfLists(decls, voc.oneOf, voc.first, voc.rest,
      voc.nil, "owl:oneOf")
    val tyCond = col("p").isin(voc.ty.toSeq: _*)
    val all = corpus.unionAll(dn)
    val allTypes = all.where(tyCond)
    val dTypes = dn.where(tyCond)
    def out(kind: String, s: org.apache.spark.sql.Column,
            p: org.apache.spark.sql.Column, o: org.apache.spark.sql.Column,
            g: Seq[org.apache.spark.sql.Column]): Seq[org.apache.spark.sql.Column] =
      Seq(lit(kind).as("kind"), s.as("s"), p.as("p"), o.as("o")) ++ g
    val legs = scala.collection.mutable.ListBuffer[DataFrame]()
    // two-premise CLASS families: the Δ membership on either side
    // completes the conflict — corpus streams, Δ broadcasts
    (dwPairs ++ adcPairs ++ compPairs).foreach { case (kind, c1, c2) =>
      def side(dCls: Any, aCls: Any): DataFrame = {
        val probe = dTypes.where(col("o") === dCls)
          .select(col("s").as("__d") +:
            (if (hasGraph) Seq(col("g").as("__dg")) else Nil): _*)
        allTypes.where(col("o") === aCls)
          .join(broadcast(probe),
            (Seq(col("s") === col("__d")) ++ gEq("__d")).reduce(_ && _),
            "left_semi")
          .select(out(kind, col("s"), lit(c1), lit(c2), gsel): _*)
      }
      legs += side(c1, c2); legs += side(c2, c1)
    }
    // prp-pdw / prp-adp (symmetrized orientations): the Δ edge in
    // either slot makes the p1-direction row a violation
    def pdwDeltaLegs(kind: String, p1: Any, p2: Any): Seq[DataFrame] = {
      def side(dp: Any, ap: Any): DataFrame = {
        val probe = dn.where(col("p") === dp)
          .select(Seq(col("s").as("__ds"), col("o").as("__do")) ++
            (if (hasGraph) Seq(col("g").as("__dg")) else Nil): _*)
        all.where(col("p") === ap)
          .join(broadcast(probe),
            (Seq(col("s") === col("__ds"), col("o") === col("__do")) ++
              gEq("__d")).reduce(_ && _), "left_semi")
          .select(out(kind, col("s"), lit(p1), col("o"), gsel): _*)
      }
      Seq(side(p2, p1), side(p1, p2))
    }
    pdwPairs.foreach { case (p1, p2) =>
      legs ++= pdwDeltaLegs("prp-pdw", p1, p2) }
    adpPairs.foreach { case (p1, p2) =>
      legs ++= pdwDeltaLegs("prp-adp", p1, p2) }
    // prp-npa: single-premise against the static collected
    // reifications — the batch's own matching rows report
    if (npaTriples.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val dt = dn.schema.fields.head.dataType
      val npaDf = dn.sparkSession.createDataFrame(
        new java.util.ArrayList(npaTriples.map(t3 =>
          org.apache.spark.sql.Row(t3._1, t3._2, t3._3)).asJava),
        org.apache.spark.sql.types.StructType(
          Seq("__ns", "__np", "__no").map(
            org.apache.spark.sql.types.StructField(_, dt,
              nullable = false))))
      legs += dn.join(broadcast(npaDf),
          col("s") === col("__ns") && col("p") === col("__np") &&
            col("o") === col("__no"), "left_semi")
        .select(out("prp-npa", col("s"), col("p"), col("o"), gsel): _*)
    }
    // prp-irp / eq-diff1: single-premise — the batch's own rows
    if (irrProps.nonEmpty)
      legs += dn.where(col("p").isin(irrProps: _*) &&
          col("s") === col("o"))
        .select(out("prp-irp", col("s"), col("p"), col("o"), gsel): _*)
    if (diffPreds.nonEmpty)
      legs += dn.where(col("p").isin(diffPreds: _*) &&
          col("s") === col("o"))
        .select(out("eq-diff1", col("s"), col("p"), col("o"), gsel): _*)
    // prp-asyp: a Δ edge whose reverse exists — BOTH direction rows of
    // the completed pair report
    asyProps.foreach { pp =>
      val probe = dn.where(col("p") === pp)
        .select(Seq(col("o").as("__rs"), col("s").as("__ro")) ++
          (if (hasGraph) Seq(col("g").as("__rg")) else Nil): _*)
      val fwd = all.where(col("p") === pp)
        .join(broadcast(probe),
          (Seq(col("s") === col("__rs"), col("o") === col("__ro")) ++
            gEq("__r")).reduce(_ && _), "left_semi")
      legs += fwd
        .select(out("prp-asyp", col("s"), col("p"), col("o"), gsel): _*)
      legs += fwd
        .select(out("prp-asyp", col("o"), col("p"), col("s"), gsel): _*)
    }
    // grouped families: the batch's touched keys fetch their WHOLE
    // group (broadcast semi), then the over-bound groups report fully
    if (fpProps.nonEmpty) {
      val touched = dn.where(col("p").isin(fpProps: _*))
        .select(Seq(col("s").as("__ts"), col("p").as("__tp")) ++
          (if (hasGraph) Seq(col("g").as("__tg")) else Nil): _*)
        .distinct()
      val slice = all.where(col("p").isin(fpProps: _*))
        .join(broadcast(touched),
          (Seq(col("s") === col("__ts"), col("p") === col("__tp")) ++
            gEq("__t")).reduce(_ && _), "left_semi")
      val keys = Seq(col("s"), col("p")) ++ gsel
      val multi = slice.groupBy(keys: _*)
        .agg(countDistinct(col("o")).as("__n"))
        .where(col("__n") >= 2)
        .select(Seq(col("s").as("__fs"), col("p").as("__fp")) ++
          (if (hasGraph) Seq(col("g").as("__fg")) else Nil): _*)
      legs += slice.join(broadcast(multi),
          (Seq(col("s") === col("__fs"), col("p") === col("__fp")) ++
            gEq("__f")).reduce(_ && _), "left_semi")
        .select(out("functional-conflict", col("s"), col("p"), col("o"),
          gsel): _*)
    }
    // cls-maxc / cls-maxqc: Δ-touched members (new edge, new
    // membership, or — qualified case — a held VALUE the batch newly
    // types into the qualifying class, which makes existing edges
    // start counting toward the bound) re-checked over their full
    // slice
    def cardDeltaLeg(kind: String, r: Any, pp: Any, bound: Int,
                     qual: Option[Any]): DataFrame = {
      val newQualHolders = qual.fold(
        dn.limit(0).select(col("s") +: gsel: _*)) { c2 =>
        val dq = dTypes.where(col("o") === c2)
          .select(col("s").as("__q") +:
            (if (hasGraph) Seq(col("g").as("__qg")) else Nil): _*)
          .distinct()
        all.where(col("p") === pp)
          .join(broadcast(dq),
            (Seq(col("o") === col("__q")) ++ gEq("__q")).reduce(_ && _),
            "left_semi")
          .select(col("s") +: gsel: _*)
      }
      val touched = dn.where(col("p") === pp)
        .select(col("s") +: gsel: _*)
        .unionAll(dTypes.where(col("o") === r)
          .select(col("s") +: gsel: _*))
        .unionAll(newQualHolders)
        .distinct()
        .select(col("s").as("__t") +:
          (if (hasGraph) Seq(col("g").as("__tg")) else Nil): _*)
      val mem = allTypes.where(col("o") === r)
        .join(broadcast(touched),
          (Seq(col("s") === col("__t")) ++ gEq("__t")).reduce(_ && _),
          "left_semi")
        .select(col("s").as("__m") +:
          (if (hasGraph) Seq(col("g").as("__mg")) else Nil): _*)
      val slice0 = all.where(col("p") === pp)
        .join(broadcast(mem),
          (Seq(col("s") === col("__m")) ++ gEq("__m")).reduce(_ && _),
          "left_semi")
      val slice = qual.fold(slice0) { c2 =>
        val vt = allTypes.where(col("o") === c2).select(
          col("s").as("__v") +:
            (if (hasGraph) Seq(col("g").as("__vg")) else Nil): _*)
        slice0.join(vt, (Seq(col("o") === col("__v")) ++ gEq("__v"))
          .reduce(_ && _), "left_semi")
      }
      val keys = col("s") +: gsel
      val over = slice.groupBy(keys: _*)
        .agg(countDistinct(col("o")).as("__n"))
        .where(col("__n") > bound)
        .select(col("s").as("__os") +:
          (if (hasGraph) Seq(col("g").as("__og")) else Nil): _*)
      slice.join(broadcast(over),
          (Seq(col("s") === col("__os")) ++ gEq("__o")).reduce(_ && _),
          "left_semi")
        .select(out(kind, col("s"), col("p"), col("o"), gsel): _*)
    }
    maxcRestr.foreach { case (r, pp, n) =>
      legs += cardDeltaLeg("cls-maxc", r, pp, n, None) }
    maxqcRestr.foreach { case (r, pp, c2, n) =>
      legs += cardDeltaLeg("cls-maxqc", r, pp, n, Some(c2)) }
    // cls-oo: a batch membership outside the enumeration
    oneOfLists.foreach { case (c2, elems) =>
      legs += dTypes.where(col("o") === c2 && !col("s").isin(elems: _*))
        .select(out("cls-oo", col("s"), lit(c2), lit(c2), gsel): _*)
    }
    val empty = dn.where(lit(false))
      .select(out("", col("s"), col("p"), col("o"), gsel): _*)
    (empty +: legs.toSeq).reduce(_.unionAll(_)).distinct()
  }

  /** DELETE-SIDE incremental consistency maintenance — the retraction
    * twin of [[consistencyDelta]], closing the validation lifecycle: a
    * batch of row DELETIONS against a corpus whose maintained
    * violation report is `report == consistencyReport(corpus)` returns
    * the report of the post-delete corpus at Δ cost. Every violation
    * family is premise-POSITIVE (a violation needs its premise rows
    * present), so deletions only CLEAR violations, never create them —
    * the maintained report is patched group-scoped: per family, the
    * rows whose violation GROUP the deletion touches are stripped
    * (broadcast anti-joins on Δ-derived keys — the report streams) and
    * exactly those groups re-validate over the post-delete corpus
    * (broadcast semi-joins — the corpus streams, never shuffles).
    * Grouped families (`functional-conflict`, `cls-maxc`,
    * `cls-maxqc`) re-check the whole touched group: a group that stays
    * over-bound keeps its surviving rows, one that drops under the
    * bound clears entirely; the qualified-cardinality leg also touches
    * holders of a VALUE whose qualifying-class typing the batch
    * deletes (existing edges stop counting toward the bound).
    * Single-premise families (`prp-npa`, `prp-irp`, `eq-diff1`,
    * `cls-oo`) strip exactly the deleted rows' violations.
    * Declarations in the deletion batch fail fast (schema change →
    * re-run [[consistencyReport]]); `eq-diff2` rows are schema-derived
    * and therefore untouched by data deletions. Identity:
    * `consistencyRetract(c, consistencyReport(c), Δ⁻) ==
    *  consistencyReport(c ∖ Δ⁻)`.
    */
  def consistencyRetract(data: DataFrame, report: DataFrame,
                         deletions: DataFrame,
                         corpus: Corpus[CheckIds] = Corpus.Triples,
                         tboxSource: Option[DataFrame] = None,
                         tboxCap: Int = 1 << 20,
                         deltaCap: Option[Long] = None): DataFrame = {
    val rel = normRel(data, corpus.quads)
    consistencyRetractCore(rel, report, deletions, tboxSource.getOrElse(rel),
      checkVoc(corpus), corpus.quads, tboxCap, deltaCap)
  }

  private def normTriples(df: DataFrame): DataFrame = {
    val Seq(a, b, c) = df.columns.take(3).toSeq
    df.select(col(a).as("s"), col(b).as("p"), col(c).as("o"))
  }
  private def normQuads(df: DataFrame): DataFrame = {
    val Seq(a, b, c, g) = df.columns.take(4).toSeq
    df.select(col(a).as("s"), col(b).as("p"), col(c).as("o"),
      col(g).as("g"))
  }
  /** `corpus` minus the `dels` rows (broadcast anti-join); the graph
    * key is null-safe, so default-graph quads (g = null) match. */
  private def antiRows(corpus: DataFrame, dels: DataFrame,
                       width: Int): DataFrame = {
    val names = Seq("s", "p", "o", "g").take(width)
    corpus.join(broadcast(dels.select(
        names.map(n => col(n).as("__x" + n)): _*)),
      names.map(n => if (n == "g") col(n) <=> col("__x" + n)
                     else col(n) === col("__x" + n)).reduce(_ && _),
      "left_anti")
  }

  /** STREAMING consistency validation: a [[ConsistencyMaintainer]]
    * folding each micro-batch of new rows through [[consistencyDelta]]
    * and composing the novel violations onto the maintained report —
    * violations whose premises assemble ACROSS batches surface on the
    * batch that completes them, and after b1..bn the report equals
    * `consistencyReport(corpus ∪ b1 ∪ … ∪ bn)`. `report` must be the
    * report of `corpus` (freshly computed or a reopened artifact).
    * Deletions go through the maintainer's synchronous `retract`
    * ([[consistencyRetract]]). */
  def consistencyMaintainStream(data: DataFrame, report: DataFrame,
                                corpus: Corpus[CheckIds] = Corpus.Triples,
                                tboxSource: Option[DataFrame] = None,
                                tboxCap: Int = 1 << 20,
                                deltaCap: Option[Long] = None)
      : ConsistencyMaintainer = {
    def norm(df: DataFrame): DataFrame = normRel(df, corpus.quads)
    new ConsistencyMaintainer(norm(data), report,
      (c, r, b) => {
        val viol = consistencyDelta(c, b, corpus, tboxSource, tboxCap,
          deltaCap)
        (c.unionAll(incrementNovel(c, norm(b), deltaCap)),
          r.unionAll(incrementNovel(r, viol, deltaCap)))
      },
      (c, r, d) => {
        val r2 = consistencyRetract(c, r, d, corpus, tboxSource, tboxCap,
          deltaCap)
        (antiRows(c, norm(d), if (corpus.quads) 4 else 3), r2)
      })
  }

  private def consistencyRetractCore(corpus: DataFrame, report: DataFrame,
                                     deletions: DataFrame,
                                     declSource: DataFrame, voc: CheckVoc,
                                     hasGraph: Boolean, tboxCap: Int,
                                     deltaCap: Option[Long]): DataFrame = {
    val width = if (hasGraph) 4 else 3
    val names = Seq("s", "p", "o", "g").take(width)
    def norm(df: DataFrame): DataFrame =
      df.select(df.columns.take(width).toSeq.zip(names)
        .map { case (c2, n) => col(c2).as(n) }: _*)
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    def gEq(pfx: String) =
      if (hasGraph) Seq(col("g") <=> col(pfx + "g")) else Nil
    def gg(pfx: String) =
      if (hasGraph) Seq(col("g").as(pfx + "g")) else Nil
    val t = norm(corpus)
    // schema guard — identical vocabulary condition to the insert path
    val schemaPreds: Seq[Any] =
      (voc.dw ++ voc.pdw ++ voc.maxc ++ voc.maxqc ++
        voc.onp ++ voc.onc ++ voc.oneOf ++ voc.comp ++ voc.members ++
        voc.dmembers ++ voc.first ++ voc.rest ++ voc.npaSrc ++
        voc.npaProp ++ voc.npaTgt ++ voc.npaVal).toSeq
    val charObjs: Seq[Any] =
      (voc.irr ++ voc.asy ++ voc.fp ++ voc.adcCls ++ voc.adiffCls ++
        voc.adpCls).toSeq
    val declCond =
      (if (schemaPreds.isEmpty) lit(false)
       else col("p").isin(schemaPreds: _*)) ||
        (if (charObjs.isEmpty) lit(false)
         else col("p").isin(voc.ty.toSeq: _*) &&
           col("o").isin(charObjs: _*))
    // the guard rides the pin's materializing job (pinCappedGuard)
    val (dd, _) = pinCappedGuard(norm(deletions).distinct(), deltaCap,
      "consistency retraction batch", "consistencyReport", declCond,
      "retraction batch deletes consistency-vocabulary declarations - " +
        "schema changes require a full consistencyReport, not " +
        "incremental maintenance")
    val decls = collectTbox(declSource
      .select(col(declSource.columns.head).as("s"),
        col(declSource.columns(1)).as("p"),
        col(declSource.columns(2)).as("o")), declCond, tboxCap)(
      s"consistency declarations exceed $tboxCap — not schema-shaped")
    val dwPairs = decls.collect {
      case (a, p, b) if voc.dw(p) => ("cax-dw", a, b) }.distinct.toSeq
    val adcNodes = decls.collect {
      case (n, _, o) if voc.adcCls(o) => n }.toSet
    val adcPairs = walkRdfLists(decls, voc.members, voc.first, voc.rest,
        voc.nil, "owl:members")
      .filter(l => adcNodes(l._1))
      .flatMap { case (_, cs2) =>
        for (i <- cs2.indices; j <- i + 1 until cs2.length)
          yield ("cax-adc", cs2(i), cs2(j))
      }.distinct
    val compPairs = decls.collect {
      case (a, p, b) if voc.comp(p) => ("cls-com", a, b) }.distinct.toSeq
    val pdwPairs = decls.collect {
      case (a, p, b) if voc.pdw(p) => (a, b) }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.toSeq
    val adpNodes = decls.collect {
      case (n, _, o) if voc.adpCls(o) => n }.toSet
    val adpPairs = walkRdfLists(decls, voc.members, voc.first, voc.rest,
        voc.nil, "owl:members")
      .filter(l => adpNodes(l._1))
      .flatMap { case (_, ps) =>
        for (i <- ps.indices; j <- ps.indices if i != j)
          yield (ps(i), ps(j))
      }.distinct
    val irrProps = decls.collect {
      case (p, _, o) if voc.irr(o) => p }.distinct.toSeq
    val asyProps = decls.collect {
      case (p, _, o) if voc.asy(o) => p }.distinct.toSeq
    val fpProps = decls.collect {
      case (p, _, o) if voc.fp(o) => p }.distinct.toSeq
    val (maxcRestr, maxqcRestr) = cardRestrOf(decls, voc)
    val oneOfLists = walkRdfLists(decls, voc.oneOf, voc.first, voc.rest,
      voc.nil, "owl:oneOf")
    val tyCond = col("p").isin(voc.ty.toSeq: _*)
    // post-delete corpus (the deletion broadcast-antis; the corpus
    // only ever streams through per-family scoped legs)
    val t2 = antiRows(t, dd, width)
    val types2 = t2.where(tyCond)
    val dTypes = dd.where(tyCond)
    val rnames = Seq("kind", "s", "p", "o", "g").take(width + 1)
    var kept = report.select(report.columns.take(width + 1).toSeq
      .zip(rnames).map { case (c2, n) => col(c2).as(n) }: _*)
    def out(kind: String, s: org.apache.spark.sql.Column,
            p: org.apache.spark.sql.Column, o: org.apache.spark.sql.Column,
            g: Seq[org.apache.spark.sql.Column]): Seq[org.apache.spark.sql.Column] =
      Seq(lit(kind).as("kind"), s.as("s"), p.as("p"), o.as("o")) ++ g
    val adds = scala.collection.mutable.ListBuffer[DataFrame]()
    // two-premise class families: strip touched members' rows of the
    // pair, re-add those still in both classes post-delete
    (dwPairs ++ adcPairs ++ compPairs).foreach { case (kind, c1, c2) =>
      val tm = dTypes.where(col("o") === c1 || col("o") === c2)
        .select(col("s").as("__t") +: gg("__t"): _*).distinct()
      kept = kept.join(broadcast(tm),
        (Seq(col("kind") === kind, col("s") === col("__t"),
          col("p") === lit(c1), col("o") === lit(c2)) ++ gEq("__t"))
          .reduce(_ && _), "left_anti")
      val m2 = types2.where(col("o") === c2)
        .select(col("s").as("__m") +: gg("__m"): _*)
      adds += types2.where(col("o") === c1)
        .join(broadcast(tm),
          (Seq(col("s") === col("__t")) ++ gEq("__t")).reduce(_ && _),
          "left_semi")
        .join(m2,
          (Seq(col("s") === col("__m")) ++ gEq("__m")).reduce(_ && _),
          "left_semi")
        .select(out(kind, col("s"), lit(c1), lit(c2), gsel): _*)
    }
    // prp-pdw / prp-adp: strip the touched (s, o) pairs' p1-direction
    // rows, re-add pairs still under both properties
    def pdwRetract(kind: String, p1: Any, p2: Any): Unit = {
      val probe = dd.where(col("p") === p1 || col("p") === p2)
        .select(Seq(col("s").as("__ds"), col("o").as("__do")) ++
          gg("__d"): _*).distinct()
      kept = kept.join(broadcast(probe),
        (Seq(col("kind") === kind, col("p") === lit(p1),
          col("s") === col("__ds"), col("o") === col("__do")) ++
          gEq("__d")).reduce(_ && _), "left_anti")
      val e2 = t2.where(col("p") === p2)
        .select(Seq(col("s").as("__2s"), col("o").as("__2o")) ++
          gg("__2"): _*)
      adds += t2.where(col("p") === p1)
        .join(broadcast(probe),
          (Seq(col("s") === col("__ds"), col("o") === col("__do")) ++
            gEq("__d")).reduce(_ && _), "left_semi")
        .join(e2,
          (Seq(col("s") === col("__2s"), col("o") === col("__2o")) ++
            gEq("__2")).reduce(_ && _), "left_semi")
        .select(out(kind, col("s"), lit(p1), col("o"), gsel): _*)
    }
    pdwPairs.foreach { case (p1, p2) => pdwRetract("prp-pdw", p1, p2) }
    adpPairs.foreach { case (p1, p2) => pdwRetract("prp-adp", p1, p2) }
    // single-premise families: the deleted rows' own violations strip;
    // nothing re-derives (surviving rows were never touched)
    kept = kept.join(broadcast(dd.select(
        Seq(col("s").as("__rs"), col("p").as("__rp"),
          col("o").as("__ro")) ++ gg("__r"): _*)),
      (Seq(col("kind").isin("prp-npa", "prp-irp", "eq-diff1"),
        col("s") === col("__rs"), col("p") === col("__rp"),
        col("o") === col("__ro")) ++ gEq("__r")).reduce(_ && _),
      "left_anti")
    // prp-asyp: both orientations of a deleted edge's pair strip; a
    // pair whose reverse survives re-adds its remaining direction(s)
    asyProps.foreach { pp =>
      val pr0 = dd.where(col("p") === pp)
      val probe = pr0.select(Seq(col("s").as("__as"),
          col("o").as("__ao")) ++ gg("__a"): _*)
        .unionAll(pr0.select(Seq(col("o").as("__as"),
          col("s").as("__ao")) ++ gg("__a"): _*))
        .distinct()
      kept = kept.join(broadcast(probe),
        (Seq(col("kind") === "prp-asyp", col("p") === lit(pp),
          col("s") === col("__as"), col("o") === col("__ao")) ++
          gEq("__a")).reduce(_ && _), "left_anti")
      val rev = t2.where(col("p") === pp)
        .select(Seq(col("o").as("__vs"), col("s").as("__vo")) ++
          gg("__v"): _*)
      adds += t2.where(col("p") === pp)
        .join(broadcast(probe),
          (Seq(col("s") === col("__as"), col("o") === col("__ao")) ++
            gEq("__a")).reduce(_ && _), "left_semi")
        .join(rev,
          (Seq(col("s") === col("__vs"), col("o") === col("__vo")) ++
            gEq("__v")).reduce(_ && _), "left_semi")
        .select(out("prp-asyp", col("s"), col("p"), col("o"), gsel): _*)
    }
    // functional-conflict: the deleted rows' (s, p) groups re-check —
    // still-conflicting groups keep their surviving rows
    if (fpProps.nonEmpty) {
      val keysP = dd.where(col("p").isin(fpProps: _*))
        .select(Seq(col("s").as("__ks"), col("p").as("__kp")) ++
          gg("__k"): _*).distinct()
      kept = kept.join(broadcast(keysP),
        (Seq(col("kind") === "functional-conflict",
          col("s") === col("__ks"), col("p") === col("__kp")) ++
          gEq("__k")).reduce(_ && _), "left_anti")
      val slice = t2.where(col("p").isin(fpProps: _*))
        .join(broadcast(keysP),
          (Seq(col("s") === col("__ks"), col("p") === col("__kp")) ++
            gEq("__k")).reduce(_ && _), "left_semi")
      val gcols = Seq(col("s"), col("p")) ++ gsel
      val multi = slice.groupBy(gcols: _*)
        .agg(countDistinct(col("o")).as("__n"))
        .where(col("__n") >= 2)
        .select(Seq(col("s").as("__fs"), col("p").as("__fp")) ++
          gg("__f"): _*)
      adds += slice.join(broadcast(multi),
          (Seq(col("s") === col("__fs"), col("p") === col("__fp")) ++
            gEq("__f")).reduce(_ && _), "left_semi")
        .select(out("functional-conflict", col("s"), col("p"), col("o"),
          gsel): _*)
    }
    // cls-maxc / cls-maxqc: touched members (deleted edge, deleted
    // membership, or — qualified — holders of a value whose qualifying
    // typing was deleted) re-check against the bound; restrictions
    // sharing (kind, property) scope together because their report
    // rows are indistinguishable
    def cardRetract(kind: String, pp: Any,
                    rs: Seq[(Any, Option[Any], Int)]): Unit = {
      val tms = rs.map { case (r, qual, _) =>
        val direct = dd.where(col("p") === pp)
          .select(col("s") +: gsel: _*)
          .unionAll(dTypes.where(col("o") === r)
            .select(col("s") +: gsel: _*))
        qual.fold(direct) { c2 =>
          val dq = dTypes.where(col("o") === c2)
            .select(col("s").as("__q") +: gg("__q"): _*).distinct()
          // holders fetched from the ORIGINAL corpus: a holder whose
          // own edge was deleted in the same batch still re-checks
          direct.unionAll(t.where(col("p") === pp)
            .join(broadcast(dq),
              (Seq(col("o") === col("__q")) ++ gEq("__q")).reduce(_ && _),
              "left_semi")
            .select(col("s") +: gsel: _*))
        }
      }
      val tm = tms.reduce(_.unionAll(_)).distinct()
        .select(col("s").as("__t") +: gg("__t"): _*)
      kept = kept.join(broadcast(tm),
        (Seq(col("kind") === kind, col("p") === lit(pp),
          col("s") === col("__t")) ++ gEq("__t")).reduce(_ && _),
        "left_anti")
      rs.foreach { case (r, qual, bound) =>
        val mem = types2.where(col("o") === r)
          .join(broadcast(tm),
            (Seq(col("s") === col("__t")) ++ gEq("__t")).reduce(_ && _),
            "left_semi")
          .select(col("s").as("__m") +: gg("__m"): _*)
        val slice0 = t2.where(col("p") === pp)
          .join(broadcast(mem),
            (Seq(col("s") === col("__m")) ++ gEq("__m")).reduce(_ && _),
            "left_semi")
        val slice = qual.fold(slice0) { c2 =>
          val vt = types2.where(col("o") === c2)
            .select(col("s").as("__v") +: gg("__v"): _*)
          slice0.join(vt,
            (Seq(col("o") === col("__v")) ++ gEq("__v")).reduce(_ && _),
            "left_semi")
        }
        val over = slice.groupBy(col("s") +: gsel: _*)
          .agg(countDistinct(col("o")).as("__n"))
          .where(col("__n") > bound)
          .select(col("s").as("__os") +: gg("__o"): _*)
        adds += slice.join(broadcast(over),
            (Seq(col("s") === col("__os")) ++ gEq("__o")).reduce(_ && _),
            "left_semi")
          .select(out(kind, col("s"), col("p"), col("o"), gsel): _*)
      }
    }
    maxcRestr.groupBy(_._2).toSeq.sortBy(_._1.toString).foreach {
      case (pp, rs) =>
        cardRetract("cls-maxc", pp,
          rs.map(x => (x._1, Option.empty[Any], x._3))) }
    maxqcRestr.groupBy(_._2).toSeq.sortBy(_._1.toString).foreach {
      case (pp, rs) =>
        cardRetract("cls-maxqc", pp,
          rs.map(x => (x._1, Option[Any](x._3), x._4))) }
    // cls-oo: a deleted membership clears its violation; members the
    // batch does not touch keep theirs
    oneOfLists.foreach { case (c2, _) =>
      val tm = dTypes.where(col("o") === c2)
        .select(col("s").as("__t") +: gg("__t"): _*).distinct()
      kept = kept.join(broadcast(tm),
        (Seq(col("kind") === "cls-oo", col("p") === lit(c2),
          col("s") === col("__t")) ++ gEq("__t")).reduce(_ && _),
        "left_anti")
    }
    (kept +: adds.toSeq).reduce(_.unionAll(_)).distinct()
  }

  private def consistencyCoreDecls(rel: DataFrame, declSource: DataFrame,
                                   voc: CheckVoc, hasGraph: Boolean,
                                   tboxCap: Int): DataFrame = {
    val gsel = if (hasGraph) Seq(col("g")) else Nil
    def gEq(pfx: String) =
      if (hasGraph) Seq(col("g") <=> col(pfx + "g")) else Nil
    val Seq(ds, dp, dob) = declSource.columns.take(3).toSeq
    val declPreds: Seq[Any] =
      (voc.dw ++ voc.pdw ++ voc.diff ++ voc.maxc ++ voc.maxqc ++
        voc.onp ++ voc.onc ++ voc.oneOf ++ voc.comp ++ voc.members ++
        voc.dmembers ++ voc.first ++ voc.rest ++ voc.npaSrc ++
        voc.npaProp ++ voc.npaTgt ++ voc.npaVal).toSeq
    val charObjs: Seq[Any] =
      (voc.irr ++ voc.asy ++ voc.fp ++ voc.adcCls ++ voc.adiffCls ++
        voc.adpCls).toSeq
    val declCond =
      if (declPreds.isEmpty) lit(false)
      else col("p").isin(declPreds: _*)
    val charCond =
      if (charObjs.isEmpty) lit(false)
      else col("p").isin(voc.ty.toSeq: _*) && col("o").isin(charObjs: _*)
    val decls = collectTbox(
      declSource.select(col(ds).as("s"), col(dp).as("p"), col(dob).as("o")),
      declCond || charCond, tboxCap)(
      s"consistency declarations exceed $tboxCap — not schema-shaped")
    // cax-dw keeps the DECLARED orientation only — the report row
    // names both classes, so the mirrored leg would just duplicate it;
    // prp-pdw symmetrizes because each orientation reports a DIFFERENT
    // offending edge
    val dwPairs = decls.collect {
      case (a, p, b) if voc.dw(p) => (a, b) }.distinct.toSeq
    val pdwPairs = decls.collect {
      case (a, p, b) if voc.pdw(p) => (a, b) }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.toSeq
    val irrProps = decls.collect {
      case (p, _, o) if voc.irr(o) => p }.distinct.toSeq
    val asyProps = decls.collect {
      case (p, _, o) if voc.asy(o) => p }.distinct.toSeq
    val fpProps = decls.collect {
      case (p, _, o) if voc.fp(o) => p }.distinct.toSeq
    val diffPreds = voc.diff.toSeq
    // cardinality restrictions: each node pairs its onProperty with the
    // parsed bound; maxQualifiedCardinality additionally needs onClass
    val (maxcRestr, maxqcRestr) = cardRestrOf(decls, voc)
    // enumerations, complements, and the n-ary disjointness/difference
    // axioms (lists walked on the driver, like the chain collector)
    val oneOfLists = walkRdfLists(decls, voc.oneOf, voc.first, voc.rest,
      voc.nil, "owl:oneOf")
    val compPairs = decls.collect {
      case (a, p, b) if voc.comp(p) => (a, b) }.distinct.toSeq
    val adcNodes = decls.collect {
      case (n, _, o) if voc.adcCls(o) => n }.toSet
    val adiffNodes = decls.collect {
      case (n, _, o) if voc.adiffCls(o) => n }.toSet
    val memberLists = walkRdfLists(decls, voc.members, voc.first,
      voc.rest, voc.nil, "owl:members")
    val adcPairs = memberLists.filter(l => adcNodes(l._1))
      .flatMap { case (_, cs) =>
        for (i <- cs.indices; j <- i + 1 until cs.length)
          yield (cs(i), cs(j))
      }.distinct
    val adiffLists = memberLists.filter(l => adiffNodes(l._1)) ++
      walkRdfLists(decls, voc.dmembers, voc.first, voc.rest, voc.nil,
        "owl:distinctMembers").filter(l => adiffNodes(l._1))
    // prp-adp: AllDisjointProperties expands to pairwise
    // propertyDisjointWith (symmetrized — each orientation reports its
    // own offending edge); prp-npa: the reified negative assertions
    val adpNodes = decls.collect {
      case (n, _, o) if voc.adpCls(o) => n }.toSet
    val adpPairs = memberLists.filter(l => adpNodes(l._1))
      .flatMap { case (_, ps) =>
        for (i <- ps.indices; j <- ps.indices if i != j)
          yield (ps(i), ps(j))
      }.distinct
    val npaTriples = npaTriplesOf(decls, voc)
    val tyCond = col("p").isin(voc.ty.toSeq: _*)
    val types = rel.where(tyCond)
    def out(kind: String, s: org.apache.spark.sql.Column,
            p: org.apache.spark.sql.Column, o: org.apache.spark.sql.Column,
            g: Seq[org.apache.spark.sql.Column]): Seq[org.apache.spark.sql.Column] =
      Seq(lit(kind).as("kind"), s.as("s"), p.as("p"), o.as("o")) ++ g
    val legs = scala.collection.mutable.ListBuffer[DataFrame]()
    // cax-dw: membership in both classes of a disjointness axiom
    dwPairs.foreach { case (c1, c2) =>
      val m2 = types.where(col("o") === c2).select(
        col("s").as("__m") +:
          (if (hasGraph) Seq(col("g").as("__mg")) else Nil): _*)
      legs += types.where(col("o") === c1)
        .join(m2, (Seq(col("s") === col("__m")) ++ gEq("__m"))
          .reduce(_ && _), "left_semi")
        .select(out("cax-dw", col("s"), lit(c1), lit(c2), gsel): _*)
    }
    // prp-pdw: one (s, o) pair under both properties; prp-adp is the
    // n-ary expansion with its own kind
    def pdwLeg(kind: String, p1: Any, p2: Any): DataFrame = {
      val e2 = rel.where(col("p") === p2).select(
        Seq(col("s").as("__2s"), col("o").as("__2o")) ++
          (if (hasGraph) Seq(col("g").as("__2g")) else Nil): _*)
      rel.where(col("p") === p1)
        .join(e2, (Seq(col("s") === col("__2s"),
          col("o") === col("__2o")) ++ gEq("__2")).reduce(_ && _),
          "left_semi")
        .select(out(kind, col("s"), lit(p1), col("o"), gsel): _*)
    }
    pdwPairs.foreach { case (p1, p2) =>
      legs += pdwLeg("prp-pdw", p1, p2) }
    adpPairs.foreach { case (p1, p2) =>
      legs += pdwLeg("prp-adp", p1, p2) }
    // prp-npa1/npa2: an asserted triple a negative assertion forbids —
    // the collected reifications broadcast as a literal (s, p, o)
    // probe; any matching row (in any graph) reports
    if (npaTriples.nonEmpty) {
      import scala.jdk.CollectionConverters._
      val dt = rel.schema.fields.head.dataType
      val npaDf = rel.sparkSession.createDataFrame(
        new java.util.ArrayList(npaTriples.map(t3 =>
          org.apache.spark.sql.Row(t3._1, t3._2, t3._3)).asJava),
        org.apache.spark.sql.types.StructType(
          Seq("__ns", "__np", "__no").map(
            org.apache.spark.sql.types.StructField(_, dt,
              nullable = false))))
      legs += rel.join(broadcast(npaDf),
          col("s") === col("__ns") && col("p") === col("__np") &&
            col("o") === col("__no"), "left_semi")
        .select(out("prp-npa", col("s"), col("p"), col("o"), gsel): _*)
    }
    // prp-irp: self-edges under an irreflexive property
    if (irrProps.nonEmpty)
      legs += rel.where(col("p").isin(irrProps: _*) &&
          col("s") === col("o"))
        .select(out("prp-irp", col("s"), col("p"), col("o"), gsel): _*)
    // prp-asyp: both directions under an asymmetric property
    asyProps.foreach { pp =>
      val rev = rel.where(col("p") === pp).select(
        Seq(col("o").as("__rs"), col("s").as("__ro")) ++
          (if (hasGraph) Seq(col("g").as("__rg")) else Nil): _*)
      legs += rel.where(col("p") === pp)
        .join(rev, (Seq(col("s") === col("__rs"),
          col("o") === col("__ro")) ++ gEq("__r")).reduce(_ && _),
          "left_semi")
        .select(out("prp-asyp", col("s"), col("p"), col("o"), gsel): _*)
    }
    // eq-diff1: a reflexive differentFrom (post-merge contradiction)
    if (diffPreds.nonEmpty)
      legs += rel.where(col("p").isin(diffPreds: _*) &&
          col("s") === col("o"))
        .select(out("eq-diff1", col("s"), col("p"), col("o"), gsel): _*)
    // functional-conflict: ≥2 distinct objects under a functional
    // property — every offending edge reports
    if (fpProps.nonEmpty) {
      val slice = rel.where(col("p").isin(fpProps: _*))
      val keys = Seq(col("s"), col("p")) ++ gsel
      val multi = slice.groupBy(keys: _*)
        .agg(countDistinct(col("o")).as("__n"))
        .where(col("__n") >= 2)
        .select((Seq(col("s").as("__fs"), col("p").as("__fp")) ++
          (if (hasGraph) Seq(col("g").as("__fg")) else Nil)): _*)
      legs += slice.join(multi,
          (Seq(col("s") === col("__fs"), col("p") === col("__fp")) ++
            gEq("__f")).reduce(_ && _), "left_semi")
        .select(out("functional-conflict", col("s"), col("p"), col("o"),
          gsel): _*)
    }
    // cls-maxc / cls-maxqc: a member of the restriction with MORE than
    // the declared bound of distinct values (qualified: values typed
    // owl:onClass) — every offending edge reports, the
    // functional-conflict shape generalized to bound n and membership
    def cardLeg(kind: String, r: Any, pp: Any, bound: Int,
                qual: Option[Any]): DataFrame = {
      val mem = types.where(col("o") === r).select(
        col("s").as("__c") +:
          (if (hasGraph) Seq(col("g").as("__cg")) else Nil): _*)
      val slice0 = rel.where(col("p") === pp)
        .join(mem, (Seq(col("s") === col("__c")) ++ gEq("__c"))
          .reduce(_ && _), "left_semi")
      val slice = qual.fold(slice0) { c =>
        val vt = types.where(col("o") === c).select(
          col("s").as("__v") +:
            (if (hasGraph) Seq(col("g").as("__vg")) else Nil): _*)
        slice0.join(vt, (Seq(col("o") === col("__v")) ++ gEq("__v"))
          .reduce(_ && _), "left_semi")
      }
      val keys = col("s") +: gsel
      val over = slice.groupBy(keys: _*)
        .agg(countDistinct(col("o")).as("__n"))
        .where(col("__n") > bound)
        .select(col("s").as("__os") +:
          (if (hasGraph) Seq(col("g").as("__og")) else Nil): _*)
      slice.join(over, (Seq(col("s") === col("__os")) ++ gEq("__o"))
          .reduce(_ && _), "left_semi")
        .select(out(kind, col("s"), col("p"), col("o"), gsel): _*)
    }
    maxcRestr.foreach { case (r, pp, n) =>
      legs += cardLeg("cls-maxc", r, pp, n, None) }
    maxqcRestr.foreach { case (r, pp, c, n) =>
      legs += cardLeg("cls-maxqc", r, pp, n, Some(c)) }
    // cls-oo: a member of an enumerated class outside its enumeration
    // (the closed-enumeration reading — cls-oo's derivation direction
    // types the listed individuals; a validator reports the rest)
    oneOfLists.foreach { case (c, elems) =>
      legs += types.where(col("o") === c && !col("s").isin(elems: _*))
        .select(out("cls-oo", col("s"), lit(c), lit(c), gsel): _*)
    }
    // cls-com: membership in a class AND its declared complement
    compPairs.foreach { case (c1, c2) =>
      val m2 = types.where(col("o") === c2).select(
        col("s").as("__m") +:
          (if (hasGraph) Seq(col("g").as("__mg")) else Nil): _*)
      legs += types.where(col("o") === c1)
        .join(m2, (Seq(col("s") === col("__m")) ++ gEq("__m"))
          .reduce(_ && _), "left_semi")
        .select(out("cls-com", col("s"), lit(c1), lit(c2), gsel): _*)
    }
    // cax-adc: owl:AllDisjointClasses expands to pairwise cax-dw over
    // its walked owl:members list
    adcPairs.foreach { case (c1, c2) =>
      val m2 = types.where(col("o") === c2).select(
        col("s").as("__m") +:
          (if (hasGraph) Seq(col("g").as("__mg")) else Nil): _*)
      legs += types.where(col("o") === c1)
        .join(m2, (Seq(col("s") === col("__m")) ++ gEq("__m"))
          .reduce(_ && _), "left_semi")
        .select(out("cax-adc", col("s"), lit(c1), lit(c2), gsel): _*)
    }
    // eq-diff2: an owl:AllDifferent member list naming one term twice —
    // the post-merge contradiction an upstream canonicalization
    // surfaces (the n-ary eq-diff1). Lists are driver-collected, so
    // duplicates are driver-computed literal rows (default graph on the
    // quad path: the axiom is global schema).
    val adiffDups = adiffLists.flatMap { case (node, ms) =>
      ms.groupBy(identity).collect {
        case (t, occ) if occ.size > 1 => (node, t) }
    }.distinct.sortBy(_.toString())
    adiffDups.foreach { case (node, t) =>
      legs += rel.sparkSession.range(1).select(
        Seq(lit("eq-diff2").as("kind"), lit(t).as("s"),
          lit(node).as("p"), lit(t).as("o")) ++
          (if (hasGraph)
            Seq(lit(null).cast(rel.schema.fields(3).dataType).as("g"))
          else Nil): _*)
    }
    // empty seed in the relation's own currency (keeps the union typed
    // when no declaration of any kind is present)
    val empty = rel.where(lit(false))
      .select(out("", col("s"), col("p"), col("o"), gsel): _*)
    (empty +: legs.toSeq).reduce(_.unionAll(_)).distinct()
  }

  /** Round count of the most recent [[owlFullClosure]] joint fixpoint
    * (property phase + class phase per round; the final no-change
    * round counts) — rounds track how often one family's conclusions
    * feed the other, not row count. */
  private[graft] val lastFullRounds =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def owlFullCore(t0: DataFrame,
                          propClose: DataFrame => DataFrame,
                          classClose: DataFrame => DataFrame,
                          maxRounds: Int): DataFrame = {
    var closure = t0
    var n = -1L
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds, "owlFullClosure joint fixpoint did " +
        s"not converge in $maxRounds rounds")
      val next = graft.Pins.checkpointLazy(classClose(propClose(closure)))
      val m = next.count()
      done = m == n
      closure = next; n = m
    }
    lastFullRounds.set(round)
    closure
  }

  /** The COMPLETE OWL-style closure: the property family
    * ([[owlClosure]] — inverse/symmetric/transitive/property chains)
    * and the class family ([[owlRlClosure]] — rho-df, equivalences,
    * restrictions) iterated to a JOINT fixpoint, so a restriction
    * conclusion can feed a property rule (a hasValue-emitted edge of a
    * transitive property) and a property conclusion can feed a class
    * rule (a chain- or closure-derived edge satisfying a
    * someValuesFrom premise) with no caller-owned outer loop. Each
    * family's closure is idempotent and monotone, so alternating them
    * until the row count stabilizes IS the least fixpoint; rounds
    * track cross-family feeding depth ([[lastFullRounds]]) — 2 for
    * corpora where the families never feed each other (the second
    * round just confirms). Insert maintenance has an O(Δ) twin that
    * alternates the family deltas until dry ([[owlFullDelta]], plus
    * the streaming [[owlFullMaintainStream]]); retraction re-runs this
    * closure over the remaining base. Encoded terms take the property
    * vocabulary as [[OwlIds]] and the class vocabulary as [[RlIds]];
    * on quads both families run per graph with the global
    * `tboxSource`.
    */
  def owlFullClosure(data: DataFrame,
                     corpus: Corpus[(OwlIds, RlIds)] = Corpus.Triples,
                     tboxSource: Option[DataFrame] = None,
                     tboxCap: Int = 1 << 20, maxRounds: Int = 8)
      : DataFrame =
    owlFullCore(normRel(data, corpus.quads),
      df => owlClosure(df, corpus.map(_._1), tboxSource, tboxCap),
      df => owlRlClosure(df, corpus.map(_._2), tboxSource, tboxCap),
      maxRounds)

  /** INCREMENTAL maintenance of the JOINT property+class closure — the
    * O(Δ) twin of [[owlFullClosure]], closing the maintenance matrix's
    * last cell: fold a batch of new edges into a jointly-closed corpus
    * without re-running either family's full fixpoint.
    *
    * The batch alternates the two PROVEN family deltas over one
    * increment until dry, which is [[owlFullClosure]]'s own least-
    * fixpoint argument applied to increments:
    *
    *   - the PROPERTY phase runs [[owlDelta]] against the property-
    *     closed accumulator (novel rows only, via [[incrementNovel]]);
    *     its conclusions become pending input for the class family;
    *   - the CLASS phase runs [[owlRlDelta]] against the RL-closed
    *     accumulator; its novel conclusions feed back to the property
    *     family (a hasValue-emitted edge extending a transitive chain,
    *     a chain-derived edge satisfying a someValuesFrom premise);
    *   - TWO accumulators, one per family: after a property phase the
    *     property accumulator is exactly propertyClosure(previous ∪
    *     pending) — the precondition the next [[owlDelta]] call needs —
    *     and symmetrically for the class side; the corpus-sized frames
    *     only ever stream against Δ-broadcasts (each family's own
    *     discipline), every pending/novel frame is `pinCapped`, and
    *     rounds track cross-family feeding depth ([[lastFullRounds]]),
    *     not rows.
    *
    * Declarations in the delta fail fast through each family's own
    * guard (schema change → re-materialize with [[owlFullClosure]]).
    * Returns the increment (deduped); fold with [[composeIncrement]].
    * Identity: `owlFullClosure(base ∪ Δ) ==
    * composeIncrement(owlFullClosure(base), owlFullDelta(closure, Δ, tbox))`.
    */
  def owlFullDelta(closure: DataFrame, delta: DataFrame,
                   tboxSource: DataFrame,
                   corpus: Corpus[(OwlIds, RlIds)] = Corpus.Triples,
                   tboxCap: Int = 1 << 20, deltaCap: Option[Long] = None,
                   maxRounds: Int = 8): DataFrame = {
    val owl = corpus.map(_._1)
    owlFullDeltaCore(closure, delta, corpus.quads,
      (acc, d) => owlDelta(acc, d, tboxSource, owl, tboxCap, deltaCap),
      (acc, d) => owlRlDelta(acc, d, tboxSource, corpus.map(_._2), tboxCap,
        deltaCap),
      propRelevantCond(tboxSource, owlVoc(owl), tboxCap),
      deltaCap, maxRounds, corpus.remat("owlFullClosure"))
  }

  /** The property-family RELEVANCE filter for [[owlFullDeltaCore]]'s
    * short-circuit: a row can matter to the property delta iff its
    * predicate is a declared transitive/symmetric property, a member of
    * an inverse pair, a chain body/head predicate — or it is itself a
    * property DECLARATION (which must still route into [[owlDelta]] so
    * its fail-fast guard fires). Rows outside this set (the common
    * type-only feeds from the class family) make the property phase a
    * pure identity, which the core then skips — saving the full family
    * call's job floor per round. Collected ONCE per maintenance call.
    */
  private def propRelevantCond(tboxSource: DataFrame, voc: OwlVoc,
                               tboxCap: Int): org.apache.spark.sql.Column = {
    val (inv, sym, trans, chains) = owlDecls(tboxSource, voc, tboxCap)
    val rulePreds = (trans ++ sym ++ inv.flatMap(p => Seq(p._1, p._2)) ++
      chains.flatMap(_._2) ++ chains.map(_._1)).distinct
    val ruleCond = if (rulePreds.isEmpty) lit(false)
      else col("p").isin(rulePreds: _*)
    ruleCond || owlDeltaDeclCond(voc, chains.nonEmpty)
  }

  private def owlFullDeltaCore(closure: DataFrame, delta: DataFrame,
                               hasGraph: Boolean,
                               propDelta: (DataFrame, DataFrame) => DataFrame,
                               classDelta: (DataFrame, DataFrame) => DataFrame,
                               propRelevant: org.apache.spark.sql.Column,
                               deltaCap: Option[Long], maxRounds: Int,
                               remat: String): DataFrame = {
    val width = if (hasGraph) 4 else 3
    val names = Seq("s", "p", "o", "g").take(width)
    def norm(df: DataFrame): DataFrame =
      df.select(df.columns.take(width).toSeq.zip(names)
        .map { case (c, n) => col(c).as(n) }: _*)
    val d0 = pinCapped(norm(delta).distinct(), deltaCap,
      "owlFullDelta increment", remat)
    // two family-closed accumulators over the SAME joint closure: the
    // joint fixpoint is closed under both families, so each starts
    // valid for its family's delta precondition
    var accP = norm(closure)
    var accC = norm(closure)
    var dP: Option[DataFrame] = Some(d0) // pending property-family input
    var dC: Option[DataFrame] = Some(d0) // pending class-family input
    val novels = scala.collection.mutable.ListBuffer[DataFrame]()
    var round = 0
    while (dP.nonEmpty || dC.nonEmpty) {
      round += 1
      require(round <= maxRounds, "owlFullDelta joint fixpoint did not " +
        s"converge in $maxRounds rounds — re-materialize ($remat)")
      dP.foreach { d =>
        // RELEVANCE SHORT-CIRCUIT: a pending input with no
        // property-rule-relevant row (the common type-only feed from
        // the class family) makes the property delta a pure identity —
        // its novelty is just the input's, at one probe job instead of
        // the full family call's floor
        val inc =
          if (d.where(propRelevant).isEmpty) d
          else propDelta(accP, d)
        // pinCappedN's count doubles as the novelty probe — no isEmpty job
        val (novelP, nP) = pinCappedN(
          incrementNovel(accP, inc, deltaCap, pinHits = false),
          deltaCap, "owlFullDelta property-phase novelty", remat)
        if (nP > 0) {
          accP = accP.unionAll(novelP)
          novels += novelP
          // the class family has not processed these conclusions yet
          // (no extra pin: the class delta pins its own input)
          dC = Some(dC.fold[DataFrame](novelP)(p =>
            p.unionAll(novelP).distinct()))
        }
        dP = None
      }
      dC.foreach { d =>
        val (novelC, nC) = pinCappedN(incrementNovel(accC,
          classDelta(accC, d), deltaCap, pinHits = false),
          deltaCap, "owlFullDelta class-phase novelty", remat)
        if (nC > 0) {
          accC = accC.unionAll(novelC)
          novels += novelC
          val (fp, nFp) = pinCappedN(
            incrementNovel(accP, novelC, deltaCap, pinHits = false),
            deltaCap, "owlFullDelta pending property input", remat)
          if (nFp > 0) dP = Some(fp)
        }
        dC = None
      }
    }
    lastFullRounds.set(round)
    if (novels.isEmpty) d0.where(lit(false))
    else novels.reduce(_.unionAll(_)).distinct()
  }

  /** STREAMING joint property+class maintenance: a [[ClosureMaintainer]]
    * folding each micro-batch into a materialized [[owlFullClosure]]
    * via [[owlFullDelta]] — cross-family conclusions (chain edges
    * satisfying restriction premises and vice versa) compose across
    * batches exactly as the batch op proves. */
  def owlFullMaintainStream(initialClosure: DataFrame,
                            tboxSource: DataFrame,
                            corpus: Corpus[(OwlIds, RlIds)] = Corpus.Triples,
                            tboxCap: Int = 1 << 20,
                            deltaCap: Option[Long] = None)
      : ClosureMaintainer =
    new ClosureMaintainer(initialClosure,
      (c, b) => owlFullDelta(c, b, tboxSource, corpus, tboxCap, deltaCap),
      deltaCap)

  /** STREAMING OWL RL maintenance: a [[ClosureMaintainer]] folding
    * each micro-batch into a materialized restriction closure via
    * [[owlRlDelta]] + [[incrementNovel]] — the restriction analog of
    * [[owlMaintainStream]] (two-premise rules: batch edges compose
    * with existing types and vice versa, so the delta runs under
    * `foreachBatch`). */
  def owlRlMaintainStream(initialClosure: DataFrame,
                          tboxSource: DataFrame,
                          corpus: Corpus[RlIds] = Corpus.Triples,
                          tboxCap: Int = 1 << 20,
                          deltaCap: Option[Long] = None)
      : ClosureMaintainer =
    new ClosureMaintainer(initialClosure,
      (c, b) => owlRlDelta(c, b, tboxSource, corpus, tboxCap, deltaCap),
      deltaCap)

  /** STREAMING OWL maintenance: a [[ClosureMaintainer]] folding each
    * micro-batch of new edges into a materialized closure via
    * [[owlDelta]] + [[incrementNovel]]. The transitive rules are
    * MULTI-premise (in-batch edges chain with each other and with
    * existing paths), so unlike the stateless RDFS stream this runs the
    * batch delta under `foreachBatch` — the Spark-idiomatic home for a
    * per-batch driver fixpoint; the bridge-set squaring, the deltaCap
    * guards, and the declarations fail-fast (schema change on the
    * stream fails the batch, same contract as [[rdfsDeltaStream]]) all
    * apply unchanged. `initialClosure` is the materialized base closure
    * (e.g. a [[graft.store.GraftStore.reasonArtifact]]).
    */
  def owlMaintainStream(initialClosure: DataFrame, tboxSource: DataFrame,
                        corpus: Corpus[OwlIds] = Corpus.Triples,
                        tboxCap: Int = 1 << 20,
                        deltaCap: Option[Long] = None): ClosureMaintainer =
    new ClosureMaintainer(initialClosure,
      (c, b) => owlDelta(c, b, tboxSource, corpus, tboxCap, deltaCap),
      deltaCap)

  /** STREAMING RDFS maintenance as a STATEFUL closure (the
    * [[owlMaintainStream]] shape for rho-df): [[rdfsDeltaStream]] is the
    * stateless per-batch increment emitter — right when a sink dedups —
    * but a consumer that wants the MAINTAINED closure queryable between
    * batches folds increments here instead: each micro-batch runs
    * [[rdfsDelta]] (TBox-in-batch fail-fast included) + broadcast
    * novelty composition into one pinned state frame. Single-premise
    * rules make batches compose exactly regardless of chaining. On the
    * ENCODED currency (the production wiring) the stream carries id
    * rows and the maintained closure stays id-typed end to end; recover
    * after a restart by constructing from a persisted artifact
    * ([[graft.store.GraftStore.openClosure]]) and attaching with a
    * `checkpointLocation` so the source replays from its committed
    * offsets (see [[ClosureMaintainer.attach]]).
    */
  def rdfsMaintainStream(initialClosure: DataFrame, tboxSource: DataFrame,
                         corpus: Corpus[RdfsIds] = Corpus.Triples,
                         tboxCap: Int = 1 << 20,
                         deltaCap: Option[Long] = None): ClosureMaintainer =
    new ClosureMaintainer(initialClosure,
      (_, b) => rdfsDelta(tboxSource, b, corpus, tboxCap, deltaCap),
      deltaCap)

  /** owl:sameAs smushing, the entity-resolution canonicalization: the
    * sameAs statements form an undirected identity graph whose
    * connected components come from [[identityMapping]] (a driver
    * union-find for small identity graphs, the distributed fixpoint for
    * data-sized ones), each cluster takes its minimum member as the
    * canonical term, and every subject/object rewrites through the
    * mapping with two joins. Returns (rewritten triples with the
    * sameAs statements dropped, the member → canonical mapping for
    * provenance). The mapping join is plan-hinted broadcast only by
    * Spark's own size estimate — no assumption that identities are
    * small. The sameAs predicate is the OWL IRI on string terms and the
    * corpus's id on encoded ones (`Corpus.encoded(sameAsId)`).
    *
    * On a quad corpus the identity graph is GLOBAL (sameAs statements
    * from every graph merge into one mapping — two aliases asserted
    * identical in a provenance graph canonicalize the whole dataset),
    * while the rewritten facts keep their graphs.
    */
  def sameAsCanonicalize(data: DataFrame,
                         corpus: Corpus[Any] = Corpus.Triples)
      : (DataFrame, DataFrame) = {
    val sameAsPred = corpus.vocab(_ => SameAs, identity)
    val t = normRel(data, corpus.quads)
    val mapping = identityMapping(
      t.where(col("p") === sameAsPred).select("s", "o"))
    (applyMapping(t.where(col("p") =!= sameAsPred), mapping, corpus),
      mapping)
  }

  /** The member → canonical mapping of an identity-pair relation
    * (canonical = each connected component's minimum member; one row
    * per identity-graph node, roots included; a term whose only pair is
    * (x, x) maps to itself): [[GraphOps.connectedComponents]] under the
    * member/canon names. Small (Δ-sized) pair sets, up to
    * [[GraphOps.GraphDriverCap]] edges, take its driver union-find,
    * identity graphs of corpus-scale entity resolution its
    * distributed fixpoint; both pick the minimum in Spark's ordering of
    * the term type (UTF-8 bytes for strings).
    */
  def identityMapping(pairs: DataFrame): DataFrame =
    GraphOps.connectedComponents(pairs).toDF("member", "canon")

  /** Rewrite a relation's subjects and objects through a
    * member → canonical mapping (two left joins + coalesce, deduped).
    * The mapping join broadcasts only by Spark's own size estimate —
    * identity sets are data-sized by contract. On quads the graph
    * column is CARRIED (identity is global, facts stay in their
    * graphs): a merge that makes two quads identical within one graph
    * dedups, while the same fact in different graphs stays distinct.
    */
  def applyMapping(t: DataFrame, mapping: DataFrame,
                   corpus: Corpus[Any] = Corpus.Triples): DataFrame = {
    val g = if (corpus.quads) Seq(col("g")) else Nil
    t.join(mapping.withColumnRenamed("member", "s"), Seq("s"), "left")
      .select(Seq(coalesce(col("canon"), col("s")).as("s"), col("p"),
        col("o")) ++ g: _*)
      .join(mapping.withColumnRenamed("member", "o")
        .withColumnRenamed("canon", "canon2"), Seq("o"), "left")
      .select(Seq(col("s"), col("p"),
        coalesce(col("canon2"), col("o")).as("o")) ++ g: _*)
      .distinct()
  }

  /** INCREMENTAL owl:sameAs maintenance — the O(Δ) twin of
    * [[sameAsCanonicalize]], completing the maintenance matrix's sameAs
    * column: fold a batch of NEW identity pairs (the daily output of
    * entity resolution) into an already-canonicalized corpus WITHOUT
    * re-running connected components over the full identity graph or
    * rewriting the corpus.
    *
    *   1. the new pairs' endpoints resolve through the existing
    *      member → canonical mapping (Δ probes BROADCAST; the
    *      data-sized mapping only streams), giving merge edges in
    *      canonical space — an edge between two terms of one existing
    *      cluster collapses to a self-loop and drops out;
    *   2. connected components run over the Δ-sized merge-edge set
    *      alone (rank-encoded, distributed — same discipline as the
    *      batch path, never driver-collected); each merged group's new
    *      canonical is its minimum member, which — because every
    *      existing canonical IS its cluster's minimum — equals the
    *      global minimum over all merged clusters' members;
    *   3. the RELABEL map (old canonical or newly-mapped term → new
    *      canonical, Δ-sized) broadcasts: the mapping streams through
    *      one broadcast join to re-point re-labeled canons and gains
    *      the newly-mapped terms' rows; the corpus splits into the
    *      UNTOUCHED rows (two broadcast anti probes — never shuffled)
    *      and the Δ-fan-in-sized touched slice, which rewrites,
    *      dedups, and folds back via [[incrementNovel]] (rows that
    *      collapse onto existing rows drop, so the result stays
    *      duplicate-free — set-equal to re-canonicalizing from
    *      scratch).
    *
    * `rewritten`/`mapping` are [[sameAsCanonicalize]]'s outputs (or a
    * previous [[sameAsDelta]]'s); `newPairs` is a two-column relation
    * of identity pairs. Every Δ-derived broadcast passes the
    * [[DefaultDeltaCap]] guard. Returns the maintained
    * (rewritten, mapping) pair. Identity:
    * `sameAsDelta(sameAsCanonicalize(t)..., d) ==
    *  sameAsCanonicalize(t ∪ sameAs(d))` (set-equality on both frames).
    */
  def sameAsDelta(rewritten: DataFrame, mapping: DataFrame,
                  newPairs: DataFrame,
                  deltaCap: Option[Long] = None): (DataFrame, DataFrame) = {
    val (rw, mp, _) = sameAsDeltaCore(rewritten, mapping, newPairs, deltaCap)
    (rw, mp)
  }

  /** [[sameAsDelta]] plus the pinned Δ-sized RELABEL map (old canonical
    * or newly-mapped term → new canonical) — [[functionalDelta]] needs
    * it to find the groups a merge may have given new collisions.
    */
  private def sameAsDeltaCore(rewritten: DataFrame, mapping: DataFrame,
                              newPairs: DataFrame,
                              deltaCap: Option[Long])
      : (DataFrame, DataFrame, DataFrame) = {
    val Seq(ca, cb) = newPairs.columns.take(2).toSeq
    val np = pinCapped(
      newPairs.select(col(ca).as("s"), col(cb).as("o"))
        .where(col("s") =!= col("o")).distinct(),
      deltaCap, "sameAs delta pairs", "sameAsCanonicalize")
    val mCols = mapping.columns.take(2).toSeq
    val m = mapping.select(col(mCols.head).as("member"),
      col(mCols(1)).as("canon"))
    // 1. endpoints → current canonical space (mapping streams, Δ probes
    //    broadcast)
    val endpoints = np.select(col("s").as("term"))
      .unionAll(np.select(col("o").as("term"))).distinct()
    val resolved = pinCapped(
      m.join(broadcast(endpoints), col("member") === col("term"))
        .select(col("member"), col("canon")),
      deltaCap, "resolved sameAs endpoints", "sameAsCanonicalize")
    val edges = np
      .join(broadcast(resolved.toDF("__m_s", "__c_s")),
        col("s") === col("__m_s"), "left")
      .join(broadcast(resolved.toDF("__m_o", "__c_o")),
        col("o") === col("__m_o"), "left")
      .select(coalesce(col("__c_s"), col("s")).as("s"),
        coalesce(col("__c_o"), col("o")).as("o"))
      .where(col("s") =!= col("o"))
    // 2. Δ-sized identity resolution in canonical space
    //    ([[identityMapping]]: driver union-find under the cap,
    //    distributed CC above it); the merged cluster's new canonical =
    //    its minimum member, because every old canon is its own
    //    cluster's minimum
    val ccMembers = pinCapped(
      identityMapping(edges).toDF("member", "canonNew"),
      deltaCap, "merged-cluster member map", "sameAsCanonicalize")
    val relabel = pinCapped(
      ccMembers.where(col("member") =!= col("canonNew"))
        .select(col("member").as("oldc"), col("canonNew")),
      deltaCap, "canonical relabel map", "sameAsCanonicalize")
    // 3a. maintained mapping: existing rows re-point through the
    //     broadcast relabel; newly-mapped terms (Δ-CC nodes absent from
    //     the mapping) append — including the merged roots' self-rows,
    //     matching the batch path's convention
    val m2 = m
      .join(broadcast(relabel.toDF("__rc", "__rn")),
        col("canon") === col("__rc"), "left")
      .select(col("member"), coalesce(col("__rn"), col("canon")).as("canon"))
    val memberHits = pinCapped(
      m.join(broadcast(ccMembers.select(col("member").as("__pm"))),
          col("member") === col("__pm"), "left_semi")
        .select(col("member").as("__hm")).distinct(),
      deltaCap, "already-mapped merge members", "sameAsCanonicalize")
    val newRows = ccMembers
      .join(broadcast(memberHits), col("member") === col("__hm"), "left_anti")
      .select(col("member"), col("canonNew").as("canon"))
    val mapping2 = m2.unionAll(newRows)
    // 3b. maintained corpus: untouched rows stream through two broadcast
    //     anti probes (the corpus is NEVER shuffled); the touched slice
    //     (Δ fan-in) rewrites + dedups, and only its genuinely novel
    //     rows fold back
    val rCols = rewritten.columns.take(3).toSeq
    val r = rewritten.select(col(rCols.head).as("s"), col(rCols(1)).as("p"),
      col(rCols(2)).as("o"))
    // oldc is unique by construction (one ccMembers row per merge node),
    // so no distinct — a distinct here would put a Δ-sized shuffle into
    // every downstream corpus plan
    val tKeys = relabel.select(col("oldc").as("__t"))
    val sHit = r.join(broadcast(tKeys), col("s") === col("__t"), "left_semi")
    val sMiss = r.join(broadcast(tKeys), col("s") === col("__t"), "left_anti")
    val oHit = sMiss.join(broadcast(tKeys), col("o") === col("__t"),
      "left_semi")
    val untouched = sMiss.join(broadcast(tKeys), col("o") === col("__t"),
      "left_anti")
    val touched = pinCapped(sHit.unionAll(oHit), deltaCap,
      "re-labeled corpus slice (fan-in of the merged canons)",
      "sameAsCanonicalize")
    val rew = touched
      .join(broadcast(relabel.toDF("__r_s", "__n_s")),
        col("s") === col("__r_s"), "left")
      .join(broadcast(relabel.toDF("__r_o", "__n_o")),
        col("o") === col("__r_o"), "left")
      .select(coalesce(col("__n_s"), col("s")).as("s"), col("p"),
        coalesce(col("__n_o"), col("o")).as("o"))
      .distinct()
    val rewritten2 = untouched.unionAll(
      incrementNovel(untouched, rew, deltaCap))
    (rewritten2, mapping2, relabel)
  }

  /** The identity pairs IMPLIED by `owl:FunctionalProperty` /
    * `owl:InverseFunctionalProperty` declarations — the classic
    * entity-resolution rules:
    *
    *   p functional ∧ (x p y₁) ∧ (x p y₂)  ⊨  y₁ sameAs y₂
    *   p inverse-functional ∧ (x₁ p y) ∧ (x₂ p y)  ⊨  x₁ sameAs x₂
    *
    * Declarations are schema-sized (collected, capped); each declared
    * property derives with ONE aggregation of its own slice — the
    * group's members pair as a STAR to the group minimum (min-aggregate
    * + one join back on the group key, never an all-pairs join within a
    * group), which is connectivity-equivalent to all pairs for the CC
    * that consumes them. Returns (a, b) pairs with a = the group min.
    */
  def functionalIdentityPairs(data: DataFrame,
                              corpus: Corpus[ErIds] = Corpus.Triples,
                              tboxCap: Int = 1 << 20): DataFrame =
    functionalIdentityPairsCore(data, erVoc(corpus, "functionalIdentityPairs"),
      tboxCap)

  private def erVoc(corpus: Corpus[ErIds], op: String): ErVoc = {
    requireTriples(corpus, op)
    corpus.vocab(stringErVoc, encErVoc)
  }

  private def functionalIdentityPairsCore(triples: DataFrame, voc: ErVoc,
                                          tboxCap: Int): DataFrame = {
    val Seq(cs, cp, co) = triples.columns.take(3).toSeq
    val t = triples.select(col(cs).as("s"), col(cp).as("p"), col(co).as("o"))
    val (fps, ifps) = functionalDecls(t, voc, tboxCap)
    starPairsAll(t, fps, ifps)
  }

  /** The composite-key vocabulary (OWL 2 rule prp-key):
    * `C owl:hasKey (p1 … pn)` — two members of C agreeing on EVERY key
    * property are the same individual. The axiom's object is an
    * rdf:list, walked like [[PropertyChainAxiom]]'s. */
  val HasKey    = "owl:hasKey"
  val HasKeyIri = "http://www.w3.org/2002/07/owl#hasKey"

  /** Collect + cap the `owl:hasKey` axioms: (class, ordered key
    * properties), lists driver-walked. */
  private def hasKeyDecls(t: DataFrame, voc: ErVoc, tboxCap: Int)
      : Seq[(Any, Seq[Any])] = {
    val preds = (voc.hk ++ voc.first ++ voc.rest).toSeq
    if (voc.hk.isEmpty) return Nil
    val rows = collectTbox(t, col("p").isin(preds: _*), tboxCap)(
      s"owl:hasKey declarations exceed $tboxCap - not schema-shaped")
    walkRdfLists(rows, voc.hk, voc.first, voc.rest, voc.nil,
      "owl:hasKey")
  }

  /** The identity pairs IMPLIED by `owl:hasKey` axioms (prp-key): per
    * axiom, the class members join their key-property slices (one
    * keyed equi-join per key position), the full key tuples group, and
    * every multi-member tuple emits star edges to its minimum — the
    * composite-key twin of [[functionalIdentityPairs]], never
    * all-pairs within a group. Members with several values under one
    * key property match on EVERY combination (join semantics = the
    * OWL rule's). Feed the pairs to [[identityMapping]] /
    * [[sameAsCanonicalize]], or use [[functionalCanonicalize]], which
    * folds key collisions into its merge-cascade fixpoint.
    */
  def hasKeyIdentityPairs(data: DataFrame,
                          corpus: Corpus[ErIds] = Corpus.Triples,
                          tboxCap: Int = 1 << 20): DataFrame =
    hasKeyIdentityPairsCore(data, erVoc(corpus, "hasKeyIdentityPairs"),
      tboxCap)

  private def hasKeyIdentityPairsCore(triples: DataFrame, voc: ErVoc,
                                      tboxCap: Int): DataFrame = {
    val Seq(cs, cp, co) = triples.columns.take(3).toSeq
    val t = triples.select(col(cs).as("s"), col(cp).as("p"), col(co).as("o"))
    hasKeyStarPairs(t, hasKeyDecls(t, voc, tboxCap), voc)
  }

  /** The Δ-scoped hasKey derivation for [[functionalDelta]]: star pairs
    * over exactly the key-tuple groups a batch can have changed.
    * `touched` (one column, Δ-fan-in sized, broadcast everywhere) names
    * the entities whose key tuples may differ from the fixpoint state —
    * delta-row subjects in round 1, merge-affected entities in later
    * rounds. Because a key collision needs agreement on EVERY position,
    * any NEW collision involves a touched entity and a partner sharing
    * its first key value — so the candidate set is (touched ∪ the
    * first-position value-mates of touched), fetched with broadcast
    * semi-joins per key position while the corpus only streams; the
    * complete candidate tuples then group and star exactly like the
    * batch path ([[hasKeyStarPairs]]), on a Δ-fan-in-sized slice.
    */
  private def hasKeyDeltaPairs(rw: DataFrame, keys: Seq[(Any, Seq[Any])],
                               voc: ErVoc, touched: DataFrame,
                               deltaCap: Option[Long]): DataFrame = {
    val ty: Seq[Any] = voc.ty
    val remat = "functionalCanonicalize"
    // THREE corpus scans per round TOTAL — all axioms batched (the
    // per-axiom, per-position fetch paid ~6-8 jobs per axiom): first
    // the touched entities' first-key values, then their value-mates
    // (a necessary condition for any new full-tuple collision), then
    // the candidates' complete evidence slab (memberships + every key
    // position). Tuple assembly, grouping, and the star derivation all
    // run over the Δ-fan-in-sized slab.
    val p0s = keys.map(_._2.head).distinct
    val allKeyProps = keys.flatMap(_._2).distinct
    val keyClasses = keys.map(_._1).distinct
    val v0sAll = pinCapped(
      rw.where(col("p").isin(p0s: _*))
        .join(broadcast(touched.toDF("__t")), col("s") === col("__t"),
          "left_semi")
        .select(col("p").as("__pp"), col("o").as("__pv")).distinct(),
      deltaCap, "touched first-key values", remat)
    val candAll = pinCapped(
      rw.where(col("p").isin(p0s: _*))
        .join(broadcast(v0sAll), col("p") === col("__pp") &&
          col("o") === col("__pv"), "left_semi")
        .select(col("p").as("__cp"), col("s").as("__cs")).distinct(),
      deltaCap, "hasKey candidate entities (fan-in of the delta)",
      remat)
    val candUnion = relocal(candAll.select(col("__cs").as("__t"))
      .unionAll(touched.toDF("__t")).distinct())
    val memberCond =
      if (keyClasses.isEmpty) lit(false)
      else col("p").isin(ty: _*) && col("o").isin(keyClasses: _*)
    val slab = pinCapped(
      rw.where(col("p").isin(allKeyProps: _*) || memberCond)
        .join(broadcast(candUnion), col("s") === col("__t"),
          "left_semi"),
      deltaCap, "hasKey candidate evidence slab", remat)
    // Both pins came back EMPTY (pinCappedN returns driver-local
    // relations only then): no candidate carries key evidence, so no
    // tuple can collide — return the empty pair relation job-free
    // instead of planning the assembly below over empty inputs.
    def isBareLocal(df: DataFrame): Boolean =
      df.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    if (isBareLocal(slab) && isBareLocal(candAll)) {
      val dt = slab.schema.fields.head.dataType
      return rw.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq("a", "b").map(
          org.apache.spark.sql.types.StructField(_, dt,
            nullable = false))))
    }
    val legs = keys.map { case (cls, props) =>
      val cand = candAll.where(col("__cp") === props.head)
        .select(col("__cs").as("__t"))
        .unionAll(touched.toDF("__t"))
      var acc: DataFrame = slab
        .where(col("p").isin(ty: _*) && col("o") === cls)
        .join(broadcast(cand), col("s") === col("__t"), "left_semi")
        .select(col("s").as("__x"))
      props.zipWithIndex.foreach { case (pi, i) =>
        val slice = slab.where(col("p") === pi)
          .select(col("s").as("__xs"), col("o").as(s"__v$i"))
        acc = slice.join(broadcast(acc), col("__xs") === col("__x"))
          .drop("__xs")
      }
      // pinned on this (distributed) path: the tuple set is read by
      // the grouping, the star join-back, AND every downstream
      // consumer of the derived pairs — unpinned it would re-execute
      // the whole assembly per read
      val tuples = pinCapped(acc.distinct(), deltaCap,
        "hasKey candidate tuples", remat)
      val vcols = props.indices.map(i => col(s"__v$i"))
      val mins = tuples.groupBy(vcols: _*)
        .agg(min(col("__x")).as("__cv"), count(lit(1)).as("__cnt"))
        .where(col("__cnt") > 1)
        .select(vcols :+ col("__cv"): _*)
      tuples.join(mins, props.indices.map(i => s"__v$i").toSeq)
        .where(col("__x") =!= col("__cv"))
        .select(col("__cv").as("a"), col("__x").as("b"))
    }
    legs.reduce(_.unionAll(_))
  }

  private def hasKeyStarPairs(t: DataFrame, keys: Seq[(Any, Seq[Any])],
                              voc: ErVoc): DataFrame = {
    val ty: Seq[Any] = voc.ty
    val legs = keys.map { case (cls, props) =>
      var acc = t.where(col("p").isin(ty: _*) && col("o") === cls)
        .select(col("s").as("__x"))
      props.zipWithIndex.foreach { case (pi, i) =>
        val slice = t.where(col("p") === pi)
          .select(col("s").as("__xs"), col("o").as(s"__v$i"))
        acc = acc.join(slice, col("__x") === col("__xs")).drop("__xs")
      }
      val tuples = acc.distinct()
      val vcols = props.indices.map(i => col(s"__v$i"))
      val mins = tuples.groupBy(vcols: _*)
        .agg(min(col("__x")).as("__cv"), count(lit(1)).as("__cnt"))
        .where(col("__cnt") > 1)
        .select(vcols :+ col("__cv"): _*)
      tuples.join(mins, props.indices.map(i => s"__v$i").toSeq)
        .where(col("__x") =!= col("__cv"))
        .select(col("__cv").as("a"), col("__x").as("b"))
    }
    legs.reduceOption(_.unionAll(_)).map(_.distinct())
      .getOrElse(t.select(col("s").as("a"), col("o").as("b")).limit(0))
  }

  /** The entity-resolution vocabulary as ENCODED ids — the production
    * currency for [[functionalCanonicalize]] and friends.
    * Optional ids simply match no declarations of their kind; the
    * list ids enable `owl:hasKey`. */
  final case class ErIds(typePred: Long, sameAs: Long,
                         functionalProperty: Option[Long] = None,
                         inverseFunctionalProperty: Option[Long] = None,
                         hasKey: Option[Long] = None,
                         listFirst: Option[Long] = None,
                         listRest: Option[Long] = None,
                         listNil: Option[Long] = None,
                         maxCardinality: Option[Long] = None,
                         maxQualifiedCardinality: Option[Long] = None,
                         onProperty: Option[Long] = None,
                         onClass: Option[Long] = None,
                         literalZero: Option[Long] = None,
                         literalOne: Option[Long] = None)

  private final case class ErVoc(ty: Seq[Any], sameAs: Any,
                                 fp: Set[Any], ifp: Set[Any],
                                 hk: Set[Any], first: Set[Any],
                                 rest: Set[Any], nil: Set[Any],
                                 maxc: Set[Any] = Set.empty,
                                 maxqc: Set[Any] = Set.empty,
                                 onp: Set[Any] = Set.empty,
                                 onc: Set[Any] = Set.empty,
                                 zero: Set[Any] = Set.empty,
                                 one: Set[Any] = Set.empty) {
    /** The [[CheckVoc]] view over the cardinality slice — the shared
      * collector ([[cardRestrOf]]/[[parseCardinality]]) reads it. */
    def cardView: CheckVoc = CheckVoc(ty.toSet, Set.empty, Set.empty,
      Set.empty, Set.empty, Set.empty, Set.empty, maxc, maxqc, onp, onc,
      Set.empty, Set.empty, Set.empty, Set.empty, Set.empty, Set.empty,
      first, rest, nil, zero, one)
  }

  private def stringErVoc(typePred: String): ErVoc =
    ErVoc(if (typePred == "a") Seq("a", TypeIri) else Seq(typePred),
      SameAs, Set[Any](FunctionalProperty),
      Set[Any](InverseFunctionalProperty),
      Set[Any](HasKey, HasKeyIri), Set[Any](RdfFirst, RdfFirstIri),
      Set[Any](RdfRest, RdfRestIri), Set[Any](RdfNil, RdfNilIri),
      Set[Any](MaxCardinality, MaxCardinalityIri),
      Set[Any](MaxQualifiedCardinality, MaxQualifiedCardinalityIri),
      Set[Any](OnProperty, OnPropertyIri), Set[Any](OnClass, OnClassIri))

  private def encErVoc(ids: ErIds): ErVoc =
    ErVoc(Seq(ids.typePred), ids.sameAs,
      ids.functionalProperty.toSet[Any],
      ids.inverseFunctionalProperty.toSet[Any], ids.hasKey.toSet[Any],
      ids.listFirst.toSet[Any], ids.listRest.toSet[Any],
      ids.listNil.toSet[Any],
      ids.maxCardinality.toSet[Any],
      ids.maxQualifiedCardinality.toSet[Any],
      ids.onProperty.toSet[Any], ids.onClass.toSet[Any],
      ids.literalZero.toSet[Any], ids.literalOne.toSet[Any])

  /** Collect + cap the functional / inverse-functional property
    * declarations (schema-sized by contract). */
  private def functionalDecls(t: DataFrame, voc: ErVoc, tboxCap: Int)
      : (Seq[Any], Seq[Any]) = {
    val charObjs = (voc.fp ++ voc.ifp).toSeq
    if (charObjs.isEmpty) return (Nil, Nil)
    val declRows = collectTbox(t,
      col("p").isin(voc.ty: _*) && col("o").isin(charObjs: _*), tboxCap)(
      s"functional-property declarations exceed $tboxCap - not schema-shaped")
    (declRows.collect { case (s, _, o) if voc.fp(o) => s }.distinct.toSeq,
      declRows.collect { case (s, _, o) if voc.ifp(o) => s }.distinct.toSeq)
  }

  /** ALL the ER vocabulary's declarations in ONE collect job — the
    * fp/ifp characteristics, the hasKey axioms (lists walked), and the
    * bound-one cardinality restrictions. The per-family collectors
    * ([[functionalDecls]]/[[hasKeyDecls]]/[[erCardDecls]]) each pay a
    * corpus-scan job; every ER entry point needs all three, so the
    * combined scan saves two jobs per call. */
  private def erDecls(t: DataFrame, voc: ErVoc, tboxCap: Int)
      : (Seq[Any], Seq[Any], Seq[(Any, Seq[Any])],
         Seq[(Any, Any, Int)], Seq[(Any, Any, Any, Int)]) = {
    val charObjs = (voc.fp ++ voc.ifp).toSeq
    val listPreds = (voc.hk ++ voc.first ++ voc.rest).toSeq
    val cardPreds = (voc.maxc ++ voc.maxqc ++ voc.onp ++ voc.onc).toSeq
    val conds = Seq(
      if (charObjs.nonEmpty)
        Some(col("p").isin(voc.ty: _*) && col("o").isin(charObjs: _*))
      else None,
      if (voc.hk.nonEmpty) Some(col("p").isin(listPreds: _*)) else None,
      if ((voc.maxc ++ voc.maxqc).nonEmpty)
        Some(col("p").isin(cardPreds: _*))
      else None).flatten
    if (conds.isEmpty) return (Nil, Nil, Nil, Nil, Nil)
    val rows = collectTbox(t, conds.reduce(_ || _), tboxCap)(
      s"ER declarations exceed $tboxCap - not schema-shaped")
    val tyP = voc.ty.toSet
    val fps = rows.collect {
      case (s, p, o) if tyP(p) && voc.fp(o) => s }.distinct.toSeq
    val ifps = rows.collect {
      case (s, p, o) if tyP(p) && voc.ifp(o) => s }.distinct.toSeq
    val keys =
      if (voc.hk.isEmpty) Nil
      else walkRdfLists(rows, voc.hk, voc.first, voc.rest, voc.nil,
        "owl:hasKey")
    val (maxcR, maxqcR) =
      if ((voc.maxc ++ voc.maxqc).isEmpty) (Nil, Nil)
      else cardRestrOf(rows.filter { case (_, p, _) =>
        cardPreds.contains(p) }, voc.cardView)
    (fps, ifps, keys, maxcR, maxqcR)
  }

  /** The star-pair derivation over a relation given collected
    * declarations (see [[functionalIdentityPairs]]). */
  private def starPairsAll(t: DataFrame, fps: Seq[Any], ifps: Seq[Any])
      : DataFrame = {
    def starPairs(props: Seq[Any], keyCol: String, valCol: String)
        : Option[DataFrame] =
      if (props.isEmpty) None
      else Some {
        // one shuffle of the declared properties' slice on (p, key):
        // min per group, then the slice joins back — each multi-member
        // group emits |group|-1 star edges to its minimum
        val rows = t.where(col("p").isin(props: _*))
          .select(col("p"), col(keyCol).as("k"), col(valCol).as("v"))
        val mins = rows.groupBy("p", "k")
          .agg(min("v").as("cv"), count(lit(1)).as("cnt"))
          .where(col("cnt") > 1)
          .select(col("p"), col("k"), col("cv"))
        rows.join(mins, Seq("p", "k"))
          .where(col("v") =!= col("cv"))
          .select(col("cv").as("a"), col("v").as("b"))
      }
    (starPairs(fps, "s", "o").toSeq ++ starPairs(ifps, "o", "s").toSeq)
      .reduceOption(_.unionAll(_))
      .map(_.distinct())
      .getOrElse(t.select(col("s").as("a"), col("o").as("b")).limit(0))
  }

  /** Entity canonicalization under functional-property semantics,
    * iterated to FIXPOINT: merging two entities can create new
    * functional collisions (the merged subject now holds both values of
    * a functional property; the merged object now keys two subjects of
    * an inverse-functional one), so each round derives
    * [[functionalIdentityPairs]] over the current canonical corpus and
    * re-canonicalizes over the ACCUMULATED pair set until no new pair
    * appears. Rounds track identity-CASCADE depth (how many merges must
    * land before the last collision becomes visible) — not corpus size;
    * real ER graphs settle in 1–3. Explicit `owl:sameAs` statements in
    * the corpus participate (they canonicalize in round 1, exactly the
    * [[sameAsCanonicalize]] + functional composition OWL requires).
    * Returns the final (rewritten corpus, member → canonical mapping) —
    * ONE CC over the accumulated pairs, so the mapping needs no
    * cross-round composition. `owl:hasKey` axioms participate
    * (prp-key, [[hasKeyIdentityPairs]]): composite-key collisions
    * derive each round over the canonicalized slice, so a merge that
    * completes another entity's key tuple cascades exactly like a
    * functional collision. Bound-one max-cardinality restrictions
    * participate too (cls-maxc2/maxqc3, [[cardinalityIdentityPairs]]'
    * rule over the slice): a subject merge that unions two members'
    * value sets cascades into a cardinality merge the same way.
    *
    * On encoded terms (vocabulary as [[ErIds]]) the collision groups,
    * the CC (long min = canonical id), and the corpus rewrite all run
    * on fixed-width ids.
    */
  def functionalCanonicalize(data: DataFrame,
                             corpus: Corpus[ErIds] = Corpus.Triples,
                             tboxCap: Int = 1 << 20, maxRounds: Int = 8)
      : (DataFrame, DataFrame) =
    functionalCanonicalizeCore(data, erVoc(corpus, "functionalCanonicalize"),
      tboxCap, maxRounds)

  /** The identity-evidence filter of an ER vocabulary given collected
    * declarations: declared-property rows plus key/restriction/
    * qualifying class memberships — collisions can't appear anywhere
    * else. None when the corpus declares nothing (empty slice). */
  private def erEvidenceCond(fps: Seq[Any], ifps: Seq[Any],
                             keys: Seq[(Any, Seq[Any])],
                             maxcR: Seq[(Any, Any, Int)],
                             maxqcR: Seq[(Any, Any, Any, Int)],
                             voc: ErVoc)
      : Option[org.apache.spark.sql.Column] = {
    val keyProps = keys.flatMap(_._2).distinct
    val keyClasses = keys.map(_._1).distinct
    val cardProps = (maxcR.map(_._2) ++ maxqcR.map(_._2)).distinct
    val memberClasses = (keyClasses ++ maxcR.map(_._1) ++
      maxqcR.map(_._1) ++ maxqcR.map(_._3)).distinct
    val hasCard = maxcR.nonEmpty || maxqcR.nonEmpty
    val declPreds = (fps ++ ifps ++ keyProps ++ cardProps).distinct
    if (declPreds.isEmpty && keys.isEmpty && !hasCard) None
    else {
      val keyMemberCond =
        if (memberClasses.isEmpty) lit(false)
        else col("p").isin(voc.ty: _*) && col("o").isin(memberClasses: _*)
      Some((if (declPreds.isEmpty) lit(false)
        else col("p").isin(declPreds: _*)) || keyMemberCond)
    }
  }

  /** The merge-cascade fixpoint over an identity-evidence slice:
    * derive star pairs (fp/ifp, hasKey, bound-one cardinality) over the
    * canonicalized slice, accumulate, re-derive the mapping from ALL
    * pairs (CC unions chains across rounds, so the final mapping needs
    * no cross-round composition), repeat until no new pair. Shared by
    * [[functionalCanonicalize]] (build) and [[erRetract]] (delete-side
    * re-resolution over the post-delete slice).
    */
  private def erFixpointMapping(slice: DataFrame, sp0: DataFrame,
                                fps: Seq[Any], ifps: Seq[Any],
                                keys: Seq[(Any, Seq[Any])],
                                maxcR: Seq[(Any, Any, Int)],
                                maxqcR: Seq[(Any, Any, Any, Int)],
                                voc: ErVoc, maxRounds: Int): DataFrame = {
    val hasCard = maxcR.nonEmpty || maxqcR.nonEmpty
    val tySeq: Seq[Any] = voc.ty
    // explicit identities participate from round 0; when there are none
    // (the common pure-ER corpus) skip their CC entirely
    var all: Option[DataFrame] =
      if (sp0.isEmpty) None
      else Some(graft.Pins.checkpointLazy(sp0.distinct()))
    def emptyMapping: DataFrame =
      slice.select(col("s").as("member"), col("s").as("canon")).limit(0)
    // the per-round canonicalized slice is read by EVERY family's
    // derivation legs (fp/ifp star, hasKey tuple assembly, cardinality
    // groups — each 2+ passes), so it pins per round: one
    // materialization instead of re-executing the rewrite joins per leg
    var mapping = all.map(identityMapping).getOrElse(emptyMapping)
    var curSlice = all.fold(slice)(_ =>
      graft.Pins.checkpointLazy(applyMapping(slice, mapping)))
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"functional canonicalization did not settle in $maxRounds rounds")
      val fpPairs = starPairsAll(curSlice, fps, ifps)
      val withKeys =
        if (keys.isEmpty) fpPairs
        else fpPairs.unionAll(hasKeyStarPairs(curSlice, keys, voc))
      val withCard =
        if (!hasCard) withKeys
        else (withKeys +: cardStarLegs(curSlice,
            curSlice.where(col("p").isin(tySeq: _*)), maxcR, maxqcR))
          .reduce(_.unionAll(_))
      val pairs = graft.Pins.checkpointLazy(
        if (keys.isEmpty && !hasCard) withCard else withCard.distinct())
      if (pairs.isEmpty) done = true
      else {
        // accumulate and re-derive the mapping from ALL pairs: CC
        // unions chains across rounds, so the final mapping needs no
        // cross-round composition
        all = Some(all.fold(pairs)(a =>
          graft.Pins.checkpointLazy(a.unionAll(pairs).distinct())))
        mapping = identityMapping(all.get)
        curSlice = graft.Pins.checkpointLazy(applyMapping(slice, mapping))
      }
    }
    lastFunctionalRounds.set(round)
    mapping
  }

  private def functionalCanonicalizeCore(triples: DataFrame, voc: ErVoc,
                                         tboxCap: Int, maxRounds: Int)
      : (DataFrame, DataFrame) = {
    val Seq(cs, cp, co) = triples.columns.take(3).toSeq
    val t = triples.select(col(cs).as("s"), col(cp).as("p"), col(co).as("o"))
      .localCheckpoint(true)
    val (fps, ifps, keys, maxcR, maxqcR) = erDecls(t, voc, tboxCap)
    // the fixpoint only ever touches the DECLARED properties' slice
    // (plus the key/restriction/qualifying classes' membership rows) —
    // collisions can't appear anywhere else — so each round
    // re-canonicalizes the slice, never the corpus; the full corpus is
    // rewritten exactly ONCE at the end through the final mapping
    val slice = erEvidenceCond(fps, ifps, keys, maxcR, maxqcR, voc)
      .fold(t.limit(0))(c => t.where(c))
      .localCheckpoint(true)
    val sp0 = t.where(col("p") === voc.sameAs)
      .select(col("s").as("a"), col("o").as("b"))
    val mapping = erFixpointMapping(slice, sp0, fps, ifps, keys, maxcR,
      maxqcR, voc, maxRounds)
    (applyMapping(t.where(col("p") =!= voc.sameAs), mapping), mapping)
  }

  /** Round count of the most recent [[functionalCanonicalize]] /
    * [[functionalDelta]] fixpoint (identity-cascade depth + 1) —
    * scale-evidence telemetry. */
  private[graft] val lastFunctionalRounds =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** INCREMENTAL functional-property entity resolution — the O(Δ) twin
    * of [[functionalCanonicalize]], completing the identity column of
    * the maintenance matrix: fold a batch of NEW triples (optionally
    * carrying explicit `owl:sameAs` rows) into an
    * already-canonicalized corpus without re-deriving collisions
    * corpus-wide or re-running CC over the full identity graph.
    *
    * The precondition is that (rewritten, mapping) is a
    * [[functionalCanonicalize]] fixpoint: no group anywhere holds an
    * unresolved collision. New collisions can then appear ONLY in
    *   - groups that RECEIVE delta rows (round 1: the delta's own
    *     (property, key) groups, fetched complete with one broadcast
    *     semi-join per key shape — Δ-fan-in sized), and
    *   - groups whose KEY was just merged (later rounds: an fp group
    *     keyed by a merged subject unions two value sets; an ifp group
    *     keyed by a merged object unions two subject sets) — rows
    *     keyed by the round's new canons, again broadcast semis.
    * Each round derives star pairs over the touched slice alone and
    * folds them through [[sameAsDelta]]'s broadcast machinery, so the
    * corpus only ever streams — never shuffles — and rounds track
    * cascade depth exactly as in the batch op.
    *
    * `owl:hasKey` axioms maintain incrementally too
    * ([[hasKeyDeltaPairs]]): a key collision assembling ACROSS batches
    * (one batch brings the city edge, the next the code edge) is found
    * by completing exactly the key-tuple groups the delta touches —
    * per axiom, the touched entities plus their first-key value-mates
    * fetch their full tuples via broadcast semi-joins per key
    * position, and the Δ-fan-in-sized candidate slice groups and
    * stars like the batch path; later rounds re-touch entities whose
    * subject or key VALUE a merge just relabeled. Declarations
    * arriving in the delta still fail fast (a new functional or
    * hasKey axiom changes semantics corpus-wide → re-canonicalize;
    * list cells under existing hasKey axioms could extend a key
    * list). Identity:
    * `functionalDelta(functionalCanonicalize(t)..., Δ) ==
    *  functionalCanonicalize(t ∪ Δ)` (set-equality on both frames).
    */
  def functionalDelta(rewritten: DataFrame, mapping: DataFrame,
                      newTriples: DataFrame,
                      corpus: Corpus[ErIds] = Corpus.Triples,
                      tboxCap: Int = 1 << 20, maxRounds: Int = 8,
                      deltaCap: Option[Long] = None)
      : (DataFrame, DataFrame) =
    functionalDeltaCore(rewritten, mapping, newTriples,
      erVoc(corpus, "functionalDelta"), tboxCap, maxRounds, deltaCap)

  /** STREAMING entity resolution: an [[ErMaintainer]] folding each
    * micro-batch of new triples into a maintained (rewritten corpus,
    * member → canonical mapping) pair via [[functionalDelta]] — the ER
    * analog of [[owlMaintainStream]]. Functional/inverse-functional
    * collisions AND composite-key tuples assemble ACROSS batches
    * (one batch brings the city edge, the next the code edge — the
    * [[hasKeyDeltaPairs]] fan-in finds the partner), and batches
    * compose exactly: after b1..bn the state equals
    * `functionalCanonicalize(base ∪ b1 ∪ … ∪ bn)`. Declarations
    * arriving on the stream fail the batch (schema change →
    * re-canonicalize), the [[rdfsDeltaStream]] contract.
    */
  def erMaintainStream(rewritten: DataFrame, mapping: DataFrame,
                       corpus: Corpus[ErIds] = Corpus.Triples,
                       tboxCap: Int = 1 << 20,
                       deltaCap: Option[Long] = None): ErMaintainer =
    new ErMaintainer(rewritten, mapping,
      (r, m, b) => functionalDelta(r, m, b, corpus, tboxCap,
        deltaCap = deltaCap),
      (orig, dels, r, m) => erRetract(orig, dels, r, m, corpus, tboxCap,
        deltaCap = deltaCap))

  /** Touched-group count of the most recent [[erRetract]] (old canons
    * whose merge groups the deletion dissolved or whose rows the patch
    * rebuilt) — scale-evidence telemetry: the corpus-side patch cost
    * tracks this, not corpus size. */
  private[graft] val lastErRetractTouched =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Row count of the most recent [[erRetract]] POST-DELETE identity-
    * evidence slice (the frame the r13 implementation ran the full
    * fixpoint over) — the comparison anchor for
    * [[lastErRetractSliceRows]]. */
  private[graft] val lastErRetractEvidenceRows =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Row count of the sub-slice the most recent [[erRetract]] mapping
    * re-derivation actually ran its fixpoint over (the touched-group
    * fan-in, final expansion iteration) — scale-evidence telemetry:
    * the re-derivation cost tracks THIS, not the evidence slice. */
  private[graft] val lastErRetractSliceRows =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Expansion-iteration count of the most recent [[erRetract]]
    * touched-group closure (cross-group cascade depth + 1). */
  private[graft] val lastErRetractExpansions =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Entity-resolution RETRACTION (un-merge) — the delete-side twin of
    * [[functionalDelta]], closing the identity family's lifecycle:
    * remove a batch of source rows (a retracted `owl:sameAs` edge, a
    * corrected key value, an erased record) from a corpus whose
    * maintained state is a [[functionalCanonicalize]] fixpoint, and
    * return the state the from-scratch canonicalization of the
    * post-delete corpus would produce — WITHOUT re-rewriting the
    * corpus.
    *
    * Deletion is MONOTONE for identity: every ER rule (fp/ifp star,
    * prp-key, bound-one cardinality, explicit sameAs) derives
    * identities from rows positively, so removing rows can only remove
    * derivable identities — the new merge groups REFINE the old ones
    * (groups split, never grow or jump members across groups). That
    * property makes a group-scoped patch exact:
    *   1. re-derive the member → canonical mapping ONLY for the
    *      TOUCHED groups, over their evidence FAN-IN — not the whole
    *      identity-evidence slice. Seed the touched set with the old
    *      canons of the deleted rows' endpoints; extract the
    *      post-delete evidence rows naming a touched group's member
    *      (broadcast semis — the pinned slice streams) plus the
    *      membership rows of those rows' pivot subjects (the
    *      cardinality families group by subject); pre-canonicalize
    *      every endpoint OUTSIDE the touched membership through the
    *      (unchanged) old mapping; run the same [[erFixpointMapping]]
    *      the build runs — over the fan-in-sized sub-slice. If the
    *      re-derivation CHANGES any member's canon, every group
    *      holding an evidence-neighbor of a changed member joins the
    *      touched set and the closure re-runs (cross-group cascade: a
    *      split pivot group regroups the stars hanging off it; a
    *      split value group breaks the key tuples citing it) — to a
    *      fixpoint, normally 1 iteration
    *      ([[lastErRetractExpansions]]). Exactness: merges only ever
    *      hold within one old group (refinement), endpoints outside
    *      the touched membership keep their old canons by
    *      construction of the closure, and a pre-canonicalized
    *      boundary pair can never re-merge (it would have merged
    *      pre-delete). The fixpoint input is the touched fan-in
    *      ([[lastErRetractSliceRows]] vs the whole slice's
    *      [[lastErRetractEvidenceRows]]), so an untouched group's
    *      mapping is provably never recomputed;
    *   2. graft: the new mapping is the old mapping minus the touched
    *      membership's rows (one streaming anti) plus the re-derived
    *      rows. The touched old canons for the corpus patch are those
    *      of members whose canonical id changed, plus those of the
    *      deleted rows' endpoints (their image rows must re-derive
    *      support even when no group splits);
    *   3. patch the maintained corpus: drop every row naming a
    *      touched canon (two broadcast anti-joins — the corpus
    *      streams), and rebuild exactly the post-delete source rows
    *      naming a touched group's member through the new mapping.
    *      Rows naming only untouched canons are INVARIANT (their
    *      endpoints' mappings are unchanged by the refinement
    *      property), so the 100 TB side pays only the touched-group
    *      fan-in ([[lastErRetractTouched]]).
    * The un-merge CASCADES exactly: a dissolved canon that had been
    * feeding a downstream collision (e.g. a subject split that
    * separates two account values previously unioned under one
    * max-cardinality-1 holder) splits that downstream merge too,
    * because the re-derived fixpoint never sees the dissolved
    * evidence. `original` is the pre-canonicalization SOURCE corpus
    * (the caller's durable input, including its sameAs rows and the
    * rows being deleted) — the rewrite is not invertible, so deletions
    * are defined against source rows. Deleting ER-vocabulary
    * DECLARATIONS (a functional/hasKey/cardinality axiom or key-list
    * cell) fails fast: schema changes invalidate merges corpus-wide →
    * re-run [[functionalCanonicalize]]. Identity:
    * `erRetract(orig, Δ⁻, functionalCanonicalize(orig)...) ==
    *  functionalCanonicalize(orig ∖ Δ⁻)` (set-equality on both
    * frames). Both sides are Δ-group-scoped: the corpus patch pays
    * the touched fan-in, and the mapping re-derivation's fixpoint
    * input is the touched fan-in too (the r13 slice-sized fixpoint
    * refinement, closed without build-side provenance storage — the
    * touched closure derives the same bound at retract time, so the
    * 100 TB build path carries nothing extra). The evidence slice
    * still pays ONE streaming materialization pass to host the
    * fan-in probes — no shuffle, no fixpoint over it. The graft step
    * relies on the documented precondition that `mapping` IS the
    * maintained fixpoint of `original` (a divergent mapping is the
    * caller's broken contract; [[ErMaintainer.retract]] sanity-checks
    * it).
    */
  def erRetract(original: DataFrame, deletions: DataFrame,
                rewritten: DataFrame, mapping: DataFrame,
                corpus: Corpus[ErIds] = Corpus.Triples,
                tboxCap: Int = 1 << 20,
                maxRounds: Int = 8, deltaCap: Option[Long] = None)
      : (DataFrame, DataFrame) =
    erRetractCore(original, deletions, rewritten, mapping,
      erVoc(corpus, "erRetract"), tboxCap, maxRounds, deltaCap)

  private def erRetractCore(original: DataFrame, deletions: DataFrame,
                            rewritten: DataFrame, mapping: DataFrame,
                            voc: ErVoc, tboxCap: Int, maxRounds: Int,
                            deltaCap: Option[Long])
      : (DataFrame, DataFrame) = {
    val remat = "functionalCanonicalize"
    val Seq(cs, cp, co) = original.columns.take(3).toSeq
    val t = original.select(col(cs).as("s"), col(cp).as("p"),
      col(co).as("o"))
    val Seq(es, ep, eo) = deletions.columns.take(3).toSeq
    // schema guard: deleting a declaration changes merge semantics
    // corpus-wide — no group-scoped patch is sound
    val charObjs = (voc.fp ++ voc.ifp).toSeq
    val schemaPreds = (voc.hk ++ voc.first ++ voc.rest ++ voc.maxc ++
      voc.maxqc ++ voc.onp ++ voc.onc).toSeq
    val declCond =
      (if (schemaPreds.isEmpty) lit(false)
       else col("p").isin(schemaPreds: _*)) ||
        (if (charObjs.isEmpty) lit(false)
         else col("p").isin(voc.ty: _*) && col("o").isin(charObjs: _*))
    // the guard rides the pin's materializing job (pinCappedGuard)
    val (dd, _) = pinCappedGuard(
      deletions.select(col(es).as("s"), col(ep).as("p"),
        col(eo).as("o")).distinct(),
      deltaCap, "ER retraction batch", remat, declCond,
      "retraction batch deletes ER-vocabulary declarations (a " +
        "functional/hasKey/cardinality axiom or key-list cell) - " +
        "schema changes invalidate merges corpus-wide; re-run " +
        s"$remat on the post-delete corpus")
    // declarations are unchanged by the guard, so collect from the
    // original corpus (one combined scan)
    val (fps, ifps, keys, maxcR, maxqcR) = erDecls(t, voc, tboxCap)
    def antiDd(df: DataFrame): DataFrame =
      df.join(broadcast(dd.toDF("__xs", "__xp", "__xo")),
        col("s") === col("__xs") && col("p") === col("__xp") &&
          col("o") === col("__xo"), "left_anti")
    // post-delete evidence slice + explicit identities, pinned ONCE
    // (one streaming pass each; every touched-fan-in probe below
    // streams through the pinned blocks — the fixpoint never reads
    // the slice whole)
    val slice2 = erEvidenceCond(fps, ifps, keys, maxcR, maxqcR, voc)
      .fold(t.limit(0))(c => antiDd(t.where(c)))
      .localCheckpoint(true)
    lastErRetractEvidenceRows.set(slice2.count())
    val sp02 = antiDd(t.where(col("p") === voc.sameAs))
      .select(col("s").as("a"), col("o").as("b"))
      .localCheckpoint(true)
    val mcols = mapping.columns.take(2).toSeq
    val mOld = mapping.select(col(mcols(0)).as("member"),
      col(mcols(1)).as("c_old"))
    val tySeq: Seq[Any] = voc.ty
    // touched-group closure seed: old canons of the deleted rows'
    // endpoints (unmapped endpoints seed as their own groups; the old
    // mapping only ever STREAMS through broadcast semis)
    // lazy over the pinned dd (tiny): re-execution is cheaper than the
    // pin job, and the cap is already enforced on dd itself
    val ddEnds = dd.select(col("s").as("member"))
      .unionAll(dd.select(col("o").as("member"))).distinct()
    val mDd = mOld.join(broadcast(ddEnds.toDF("__de")),
      col("member") === col("__de"), "left_semi")
    val seed0 = pinCapped(
      ddEnds.join(broadcast(mDd), Seq("member"), "left")
        .select(coalesce(col("c_old"), col("member")).as("c")).distinct(),
      deltaCap, "retraction seed canons", remat)
    var touched = seed0
    var grpRows: DataFrame = null
    var membersT: DataFrame = null
    var mTT: DataFrame = null
    var diffT: DataFrame = null
    var expansion = 0
    var done = false
    while (!done) {
      expansion += 1
      require(expansion <= maxRounds,
        s"ER retraction touched-group closure did not settle in " +
          s"$maxRounds expansions - raise maxRounds")
      // full membership of the touched groups under the OLD grouping
      // (the mapping carries root rows, so canons are covered)
      grpRows = pinCapped(
        mOld.join(broadcast(touched.toDF("__c")),
          col("c_old") === col("__c"), "left_semi"),
        deltaCap, "retraction-touched mapping rows", remat)
      membersT = pinCapped(
        grpRows.select(col("member"))
          .unionAll(touched.toDF("member")).distinct(),
        deltaCap, "retraction-touched members", remat)
      // touched fan-in: evidence rows naming a touched member, plus
      // the cardinality-restriction membership rows of those rows'
      // pivot subjects (maxc/maxqc group by subject — the counting
      // needs the pivot's class membership even when the pivot itself
      // is untouched; fp/ifp/hasKey rows all name a touched member
      // directly, since a pivot star's merge side stays within one
      // old group by refinement)
      val cardClasses = (maxcR.map(_._1) ++ maxqcR.map(_._1)).distinct
      val tyRows =
        if (cardClasses.isEmpty) slice2.limit(0)
        else {
          val pivotSubs = pinCapped(
            slice2.join(broadcast(membersT.toDF("__m0")),
                col("o") === col("__m0"), "left_semi")
              .select(col("s").as("__ps")).distinct(),
            deltaCap, "retraction pivot subjects", remat)
          slice2.where(col("p").isin(tySeq: _*) &&
              col("o").isin(cardClasses: _*))
            .join(broadcast(pivotSubs), col("s") === col("__ps"),
              "left_semi")
        }
      val subP = graft.Pins.checkpointLazy(
        slice2.join(broadcast(membersT.toDF("__m1")),
            col("s") === col("__m1"), "left_semi")
          .unionAll(slice2.join(broadcast(membersT.toDF("__m2")),
            col("o") === col("__m2"), "left_semi"))
          .unionAll(tyRows).distinct())
      // boundary pre-canonicalization: endpoints OUTSIDE the touched
      // membership keep their (unchanged) old canons — rewrite them up
      // front so the restricted fixpoint groups pivot stars and key
      // tuples exactly as the global one would
      // lazy over the pinned subP (broadcast exactly once below; the
      // cap is enforced on mBound, which bounds this set's useful part)
      val subEnds = subP.select(col("s").as("member"))
        .unionAll(subP.select(col("o").as("member"))).distinct()
        .join(broadcast(membersT.toDF("__m3")),
          col("member") === col("__m3"), "left_anti")
      val mBound = pinCapped(
        mOld.join(broadcast(subEnds.toDF("__be")),
            col("member") === col("__be"), "left_semi")
          .select(col("member"), col("c_old").as("canon")),
        deltaCap, "retraction boundary mapping", remat)
      val sub2 = graft.Pins.checkpointLazy(
        applyMapping(subP, broadcast(mBound)))
      lastErRetractSliceRows.set(sub2.count())
      val sp0T = sp02.join(broadcast(membersT.toDF("__m4")),
          col("a") === col("__m4"), "left_semi")
        .unionAll(sp02.join(broadcast(membersT.toDF("__m5")),
          col("b") === col("__m5"), "left_semi"))
      val mT = erFixpointMapping(sub2, sp0T, fps, ifps, keys, maxcR,
        maxqcR, voc, maxRounds)
      mTT = mT.join(broadcast(membersT.toDF("__m6")),
        col("member") === col("__m6"), "left_semi")
      // changed members (absent member = identity): any canon change
      // means the group split — its evidence neighbors' groups must
      // join the closure (a split pivot regroups the stars hanging
      // off it; a split value breaks the key tuples citing it)
      diffT = grpRows
        .join(mTT.select(col("member"), col("canon").as("c_new")),
          Seq("member"), "full_outer")
        .where(!(coalesce(col("c_old"), col("member")) <=>
          coalesce(col("c_new"), col("member"))))
      val changed = pinCapped(diffT.select(col("member")),
        deltaCap, "retraction changed members", remat)
      val neighEnds = pinCapped(
        slice2.join(broadcast(changed.toDF("__ch1")),
            col("s") === col("__ch1"), "left_semi")
          .select(col("o").as("member"))
          .unionAll(slice2.join(broadcast(changed.toDF("__ch2")),
            col("o") === col("__ch2"), "left_semi")
            .select(col("s").as("member")))
          .distinct(),
        deltaCap, "retraction neighbor endpoints", remat)
      val mNeigh = mOld.join(broadcast(neighEnds.toDF("__ne")),
        col("member") === col("__ne"), "left_semi")
      // only MERGE groups (neighbors with mapping rows) can react to a
      // change — an unmapped neighbor is a singleton pre-delete, and
      // deletion-monotone refinement means it can never merge
      // post-delete, so re-resolving it is provably a no-op (skipping
      // singletons is what lets the common split settle in ONE
      // expansion instead of dragging inert value nodes into a second)
      val newTouched = neighEnds
        .join(broadcast(mNeigh), Seq("member"))
        .select(col("c_old").as("c")).distinct()
        .join(broadcast(touched.toDF("__t2")), col("c") === col("__t2"),
          "left_anti")
      if (newTouched.isEmpty) done = true
      else touched = pinCapped(
        touched.unionAll(newTouched).distinct(),
        deltaCap, "retraction-touched canons", remat)
    }
    lastErRetractExpansions.set(expansion)
    // graft: the new mapping is the old one minus the touched
    // membership's rows (one streaming anti over the mapping) plus
    // the re-derived rows — untouched groups' mappings are carried,
    // never recomputed
    val m2 = mOld
      .join(broadcast(membersT.toDF("__mk")),
        col("member") === col("__mk"), "left_anti")
      .select(col("member"), col("c_old").as("canon"))
      .unionAll(mTT.select(col("member"), col("canon")))
    // groups whose maintained rows must rebuild: split groups plus the
    // deleted rows' endpoint groups (their image rows must re-derive
    // support even when no group splits)
    val patchOld = pinCapped(
      diffT.select(coalesce(col("c_old"), col("member")).as("c"))
        .unionAll(seed0).distinct(),
      deltaCap, "retraction-touched canons", remat)
    lastErRetractTouched.set(patchOld.count())
    val membersP = pinCapped(
      grpRows.join(broadcast(patchOld.toDF("__pc")),
          col("c_old") === col("__pc"), "left_semi")
        .select(col("member"))
        .unionAll(patchOld.toDF("member"))
        .distinct(),
      deltaCap, "retraction-touched members", remat)
    // patch: drop every maintained row naming a touched canon (the
    // corpus streams through two broadcast antis), rebuild from the
    // post-delete source rows naming a touched member (the mapping
    // join AQE-broadcasts the small rebuild side, so the mapping pays
    // one streaming pass, no shuffle)
    val Seq(rs, rp, ro) = rewritten.columns.take(3).toSeq
    val rw = rewritten.select(col(rs).as("s"), col(rp).as("p"),
      col(ro).as("o"))
    val kept = rw
      .join(broadcast(patchOld.toDF("__c1")), col("s") === col("__c1"),
        "left_anti")
      .join(broadcast(patchOld.toDF("__c2")), col("o") === col("__c2"),
        "left_anti")
    val touchedRows = antiDd(
      t.join(broadcast(membersP.toDF("__m1")), col("s") === col("__m1"),
          "left_semi")
        .unionAll(t.join(broadcast(membersP.toDF("__m2")),
          col("o") === col("__m2"), "left_semi")))
    val replacement =
      applyMapping(touchedRows.where(col("p") =!= voc.sameAs), m2)
    (kept.unionAll(replacement), m2)
  }

  /** The Δ-scoped cardinality derivation for [[functionalDelta]]:
    * star pairs over exactly the restriction groups whose MEMBER the
    * batch touches. A cardinality group is keyed by the member
    * subject (unlike hasKey, no cross-subject partner discovery is
    * needed), so the touched members' full value slices fetch via one
    * broadcast semi per restriction and the Δ-fan-in-sized slice
    * groups and stars like [[cardStarLegs]]. */
  private def cardDeltaPairs(rw: DataFrame,
                             maxc: Seq[(Any, Any, Int)],
                             maxqc: Seq[(Any, Any, Any, Int)],
                             voc: ErVoc, touched: DataFrame,
                             deltaCap: Option[Long]): DataFrame = {
    val remat = "functionalCanonicalize"
    val ty: Seq[Any] = voc.ty
    val types = rw.where(col("p").isin(ty: _*))
    def leg(r: Any, pp: Any, qual: Option[Any]): DataFrame = {
      val mem = pinCapped(types.where(col("o") === r)
          .join(broadcast(touched.toDF("__t")),
            col("s") === col("__t"), "left_semi")
          .select(col("s").as("__m")).distinct(),
        deltaCap, "touched cardinality members", remat)
      val slice1 = pinCapped(rw.where(col("p") === pp)
          .join(broadcast(mem), col("s") === col("__m"), "left_semi")
          .select(col("s"), col("o")),
        deltaCap, "touched cardinality slice", remat)
      val slice = qual.fold(slice1) { c =>
        // qualified: only typed values count — the small slice
        // broadcasts, the corpus type scan streams
        types.where(col("o") === c).select(col("s").as("__v"))
          .join(broadcast(slice1.toDF("__ss", "__so")),
            col("__v") === col("__so"))
          .select(col("__ss").as("s"), col("__so").as("o"))
      }
      val mins = slice.groupBy("s")
        .agg(min(col("o")).as("__cv"),
          countDistinct(col("o")).as("__cnt"))
        .where(col("__cnt") > 1)
        .select(col("s"), col("__cv"))
      slice.join(mins, Seq("s"))
        .where(col("o") =!= col("__cv"))
        .select(col("__cv").as("a"), col("o").as("b"))
    }
    val legs = maxc.collect { case (r, pp, 1) => leg(r, pp, None) } ++
      maxqc.collect { case (r, pp, c, 1) => leg(r, pp, Some(c)) }
    legs.reduceOption(_.unionAll(_)).map(_.distinct())
      .getOrElse(rw.select(col("s").as("a"), col("o").as("b")).limit(0))
  }

  private def functionalDeltaCore(rewritten: DataFrame, mapping: DataFrame,
                                  newTriples: DataFrame, voc: ErVoc,
                                  tboxCap: Int, maxRounds: Int,
                                  deltaCap: Option[Long])
      : (DataFrame, DataFrame) = {
    val Seq(cs, cp, co) = newTriples.columns.take(3).toSeq
    val d0 = pinCapped(
      newTriples.select(col(cs).as("s"), col(cp).as("p"), col(co).as("o"))
        .distinct(),
      deltaCap, "functional delta", "functionalCanonicalize")
    val rCols = rewritten.columns.take(3).toSeq
    val r = rewritten.select(col(rCols.head).as("s"), col(rCols(1)).as("p"),
      col(rCols(2)).as("o"))
    val mCols = mapping.columns.take(2).toSeq
    var mp = mapping.select(col(mCols.head).as("member"),
      col(mCols(1)).as("canon"))
    // declarations ride the canonicalized corpus (one combined scan);
    // NEW ones fail fast
    val (fps, ifps, keys, maxcR, maxqcR) = erDecls(r, voc, tboxCap)
    val ty: Seq[Any] = voc.ty
    val charObjs = (voc.fp ++ voc.ifp).toSeq
    require(charObjs.isEmpty || d0.where(col("p").isin(ty: _*) &&
        col("o").isin(charObjs: _*)).isEmpty,
      "delta contains functional-property declarations - schema changes " +
        "require re-canonicalization (functionalCanonicalize), not " +
        "incremental maintenance")
    // composite keys maintain incrementally (Δ-fan-in key-group
    // completion, [[hasKeyDeltaPairs]]); only SCHEMA arriving in the
    // delta fails fast — a new hasKey axiom changes semantics
    // corpus-wide, and under existing axioms rdf:first/rdf:rest cells
    // could extend a key list across the batch boundary
    require(voc.hk.isEmpty ||
        d0.where(col("p").isin(voc.hk.toSeq: _*)).isEmpty,
      "delta contains owl:hasKey declarations - schema changes require " +
        "re-canonicalization (functionalCanonicalize), not incremental " +
        "maintenance")
    require(keys.isEmpty ||
        d0.where(col("p").isin((voc.first ++ voc.rest).toSeq: _*)).isEmpty,
      "delta contains rdf:first/rdf:rest list cells under declared " +
        "owl:hasKey axioms - a cell could extend a key list; " +
        "re-canonicalize (functionalCanonicalize) instead")
    val cardDeclPreds = (voc.maxc ++ voc.maxqc ++ voc.onp ++ voc.onc).toSeq
    require(cardDeclPreds.isEmpty ||
        d0.where(col("p").isin(cardDeclPreds: _*)).isEmpty,
      "delta contains cardinality-restriction declarations - schema " +
        "changes require re-canonicalization (functionalCanonicalize), " +
        "not incremental maintenance")
    val hasCard = maxcR.nonEmpty || maxqcR.nonEmpty
    val cardProps = (maxcR.map(_._2) ++ maxqcR.map(_._2)).distinct
    val cardClasses = (maxcR.map(_._1) ++ maxqcR.map(_._1)).distinct
    val qualClasses = maxqcR.map(_._3).distinct
    val maxqcProps = maxqcR.map(_._2).distinct
    val keyProps = keys.flatMap(_._2).distinct
    val keyClasses = keys.map(_._1).distinct
    // resolve every delta term through the existing mapping (Δ probes
    // broadcast; the data-sized mapping only streams)
    val dSame0 = d0.where(col("p") === voc.sameAs)
    val dRest = d0.where(col("p") =!= voc.sameAs)
    val terms = dRest.select(col("s").as("term"))
      .unionAll(dRest.select(col("o").as("term")))
      .unionAll(dSame0.select(col("s").as("term")))
      .unionAll(dSame0.select(col("o").as("term"))).distinct()
    val resolved = pinCapped(
      mp.join(broadcast(terms), col("member") === col("term"))
        .select(col("member"), col("canon")),
      deltaCap, "resolved delta terms", "functionalCanonicalize")
    def resolve(df: DataFrame): DataFrame = df
      .join(broadcast(resolved.toDF("__m_s", "__c_s")),
        col("s") === col("__m_s"), "left")
      .join(broadcast(resolved.toDF("__m_o", "__c_o")),
        col("o") === col("__m_o"), "left")
      .select(coalesce(col("__c_s"), col("s")).as("s"), col("p"),
        coalesce(col("__c_o"), col("o")).as("o"))
    val dRows = pinCapped(resolve(dRest).distinct(), deltaCap,
      "canonicalized delta rows", "functionalCanonicalize")
    // the corpus gains the delta's novel rows (broadcast novelty)
    var rw = r.unionAll(incrementNovel(r, dRows, deltaCap))
    // explicit identities seed round 1 alongside the derived pairs
    var seed: Option[DataFrame] = {
      val sp = resolve(dSame0)
        .select(col("s").as("a"), col("o").as("b"))
        .where(col("a") =!= col("b"))
      if (sp.isEmpty) None else Some(sp)
    }
    // round 1's touched groups: the delta rows' own keys
    var touchedKeysF: DataFrame = dRows.where(col("p").isin(fps: _*))
      .select(col("p").as("__kp"), col("s").as("__kk")).distinct()
    var touchedKeysI: DataFrame = dRows.where(col("p").isin(ifps: _*))
      .select(col("p").as("__kp"), col("o").as("__kk")).distinct()
    // round 1's hasKey-touched entities: delta subjects carrying a key
    // property or a key-class membership
    val keyMemberCond =
      if (keyClasses.isEmpty) lit(false)
      else col("p").isin(ty: _*) && col("o").isin(keyClasses: _*)
    var touchedHk: DataFrame =
      if (keys.isEmpty) dRows.limit(0).select(col("s"))
      else dRows.where(col("p").isin(keyProps: _*) || keyMemberCond)
        .select(col("s")).distinct()
    // round 1's cardinality-touched members: delta subjects with a
    // restricted-property row or a restriction-class membership, plus
    // holders of a value the delta newly types into a QUALIFYING class
    // (the value now counts toward the bound)
    val cardMemberCond =
      if (cardClasses.isEmpty) lit(false)
      else col("p").isin(ty: _*) && col("o").isin(cardClasses: _*)
    var touchedCard: DataFrame =
      if (!hasCard) dRows.limit(0).select(col("s"))
      else {
        val direct = dRows.where(
          (if (cardProps.isEmpty) lit(false)
           else col("p").isin(cardProps: _*)) || cardMemberCond)
          .select(col("s"))
        val newQualVals =
          if (qualClasses.isEmpty) dRows.limit(0).select(col("s"))
          else rw.where(col("p").isin(maxqcProps: _*))
            .join(broadcast(dRows.where(col("p").isin(ty: _*) &&
                col("o").isin(qualClasses: _*))
              .select(col("s").as("__nv")).distinct()),
              col("o") === col("__nv"), "left_semi")
            .select(col("s"))
        direct.unionAll(newQualVals).distinct()
      }
    var round = 0
    var done = false
    while (!done) {
      round += 1
      require(round <= maxRounds,
        s"functional delta did not settle in $maxRounds rounds")
      // no declared fp/ifp → no star slice: skip its pin entirely (a
      // pinned EMPTY frame still pays the per-job scheduling floor
      // every round)
      val derived0 =
        if (fps.isEmpty && ifps.isEmpty)
          rw.select(col("s").as("a"), col("o").as("b")).limit(0)
        else {
          val sliceF =
            if (fps.isEmpty) rw.limit(0)
            else rw.join(broadcast(touchedKeysF),
              col("p") === col("__kp") && col("s") === col("__kk"),
              "left_semi")
          val sliceI =
            if (ifps.isEmpty) rw.limit(0)
            else rw.join(broadcast(touchedKeysI),
              col("p") === col("__kp") && col("o") === col("__kk"),
              "left_semi")
          val slice = pinCapped(sliceF.unionAll(sliceI), deltaCap,
            "touched collision groups (fan-in of the delta)",
            "functionalCanonicalize")
          starPairsAll(slice, fps, ifps)
        }
      val derived1 =
        if (keys.isEmpty) derived0
        else derived0.unionAll(
          hasKeyDeltaPairs(rw, keys, voc, touchedHk, deltaCap))
      val derived =
        if (!hasCard) derived1
        else derived1.unionAll(
          cardDeltaPairs(rw, maxcR, maxqcR, voc, touchedCard, deltaCap))
      // one execution here (re-localized when every input is a
      // driver-local Δ-frame) instead of one per consumer below
      val pairs = relocal(
        seed.fold(derived)(sp => derived.unionAll(sp).distinct()))
      seed = None
      if (pairs.isEmpty) done = true
      else {
        val (rw2, mp2, relabel) = sameAsDeltaCore(rw, mp, pairs, deltaCap)
        rw = rw2; mp = mp2
        // next round: groups whose KEY just merged
        val newCanons = relabel.select(col("canonNew").as("__nc")).distinct()
        touchedKeysF = rw.where(col("p").isin(fps: _*))
          .join(broadcast(newCanons), col("s") === col("__nc"), "left_semi")
          .select(col("p").as("__kp"), col("s").as("__kk")).distinct()
        touchedKeysI = rw.where(col("p").isin(ifps: _*))
          .join(broadcast(newCanons), col("o") === col("__nc"), "left_semi")
          .select(col("p").as("__kp"), col("o").as("__kk")).distinct()
        // hasKey: a merged SUBJECT gains key values; a merged key VALUE
        // makes previously-distinct tuples agree — both reachable from
        // the new canons over the rewritten corpus
        touchedHk =
          if (keys.isEmpty) touchedHk
          else pinCapped(
            newCanons.select(col("__nc").as("s"))
              .unionAll(rw.where(col("p").isin(keyProps: _*))
                .join(broadcast(newCanons), col("o") === col("__nc"),
                  "left_semi")
                .select(col("s")))
              .distinct(),
            deltaCap, "merge-touched hasKey entities",
            "functionalCanonicalize")
        // cardinality: a merged MEMBER unions value sets; a merged
        // VALUE relabels rows whose subject must re-check the bound
        touchedCard =
          if (!hasCard) touchedCard
          else pinCapped(
            newCanons.select(col("__nc").as("s"))
              .unionAll(rw.where(col("p").isin(cardProps: _*))
                .join(broadcast(newCanons), col("o") === col("__nc"),
                  "left_semi")
                .select(col("s")))
              .distinct(),
            deltaCap, "merge-touched cardinality members",
            "functionalCanonicalize")
      }
    }
    lastFunctionalRounds.set(round)
    (rw, mp)
  }
}

/** Streaming entity-resolution state: folds micro-batches of new
  * triples into a MAINTAINED (rewritten corpus, member → canonical
  * mapping) pair — built by [[ReasonOps.erMaintainStream]]. The same
  * reader-safety and restart contracts as [[ClosureMaintainer]]
  * (frames retire one generation late, [[MaintainedState]]; recover by
  * persisting both frames
  * and re-attaching with a `checkpointLocation` — [[ReasonOps.functionalDelta]]
  * updates are idempotent on a state that already holds a batch).
  *
  * The STREAM itself is insert-only: sending a "tombstone" batch
  * through [[update]] would be silently wrong (the delta function
  * treats every row as an assertion). Retracting identity evidence —
  * an erased record, a corrected key — goes through the synchronous
  * [[retract]] ([[ReasonOps.erRetract]]'s group-scoped un-merge),
  * which needs the caller's durable pre-canonicalization SOURCE
  * corpus: the maintainer holds only the rewritten state.
  */
final class ErMaintainer private[ops] (
    rw0: org.apache.spark.sql.DataFrame,
    mp0: org.apache.spark.sql.DataFrame,
    deltaFn: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
              org.apache.spark.sql.DataFrame)
      => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
    retractFn: (org.apache.spark.sql.DataFrame,
                org.apache.spark.sql.DataFrame,
                org.apache.spark.sql.DataFrame,
                org.apache.spark.sql.DataFrame)
      => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) {
  import org.apache.spark.sql.DataFrame
  private val state = new MaintainedState(Seq(rw0, mp0))

  /** The latest maintained (rewritten corpus, mapping) pair (pinned;
    * valid at least until two batch commits later). */
  def current: (DataFrame, DataFrame) = { val Seq(rw, mp) = state.frames; (rw, mp) }

  private def commit(next: (DataFrame, DataFrame)): Unit =
    state.commit(Seq(next._1, next._2))

  /** Fold one batch of new triples into the state (synchronized — the
    * streaming engine serializes foreachBatch calls, but direct
    * callers may race). */
  def update(batch: DataFrame): Unit = synchronized {
    if (!batch.isEmpty) { val (rw, mp) = current; commit(deltaFn(rw, mp, batch)) }
  }

  /** Retract a batch of SOURCE rows through
    * [[ReasonOps.erRetract]]'s group-scoped un-merge (over the
    * maintainer's own corpus kind). Synchronous by
    * design (deletions are an operator decision, not append-stream
    * data), and it needs the caller's durable pre-canonicalization
    * corpus — the maintainer holds only the rewritten state. The
    * caller must pass the ORIGINAL corpus as of this state (base ∪
    * every batch folded so far); after the call the maintained state
    * equals from-scratch canonicalization of `original ∖ deletions`.
    * The contract is CHECKED cheaply before patching: every deleted
    * row must exist in `original` (one streaming pass of the corpus
    * through a broadcast semi — a stale or divergent original would
    * otherwise produce a silently wrong maintained state). */
  def retract(original: DataFrame, deletions: DataFrame): Unit =
    synchronized {
      if (!deletions.isEmpty) {
        import org.apache.spark.sql.functions.{broadcast, col}
        val Seq(os, op, oo) = original.columns.take(3).toSeq
        val o3 = original.select(col(os).as("s"), col(op).as("p"),
          col(oo).as("o"))
        val Seq(ds, dp, dob) = deletions.columns.take(3).toSeq
        val d3 = deletions.select(col(ds).as("s"), col(dp).as("p"),
          col(dob).as("o")).distinct().localCheckpoint(true)
        val need = d3.count()
        val have = o3
          .join(broadcast(d3.toDF("__s", "__p", "__o")),
            col("s") === col("__s") && col("p") === col("__p") &&
              col("o") === col("__o"), "left_semi")
          .distinct().count()
        require(have == need,
          s"ErMaintainer.retract: ${need - have} of $need deleted " +
            "rows are absent from the caller-supplied original " +
            "corpus - `original` must equal base + every folded " +
            "batch (a stale or divergent original silently corrupts " +
            "the maintained state)")
        val (rw, mp) = current
        commit(retractFn(original, deletions, rw, mp))
      }
    }

  /** Attach to a streaming triple relation: one [[update]] per
    * micro-batch (pass `checkpointLocation` on restart-surviving
    * streams, the [[ClosureMaintainer.attach]] contract). */
  def attach(stream: org.apache.spark.sql.DataFrame,
             checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MaintainedState.attach(stream, checkpointLocation)(update)
}

/** Streaming consistency state: maintains a (corpus, violation report)
  * pair under micro-batches of new rows — built by
  * [[ReasonOps.consistencyMaintainStream]] (any corpus). Inserts
  * are MONOTONE for violations (every family is premise-positive, so
  * new rows can only ADD violations): each batch validates at Δ cost
  * through [[ReasonOps.consistencyDelta]] and the novel violations
  * compose onto the report with [[ReasonOps.incrementNovel]] — the
  * corpus and the report only ever stream, never shuffle. After
  * batches b1..bn, `currentReport == consistencyReport(base ∪ b1 ∪ …
  * ∪ bn)`, including violations whose premises ASSEMBLE across
  * batches. Deletions go through the synchronous [[retract]]
  * (the [[ReasonOps.consistencyRetract]] group-scoped patch) — a
  * tombstone batch on the insert stream would be silently wrong.
  * Declarations arriving in any batch fail fast (schema change →
  * re-run [[ReasonOps.consistencyReport]]). Same reader-safety /
  * restart contracts as [[ClosureMaintainer]] (retirement one
  * generation late; recover by persisting both frames and
  * re-attaching with a
  * `checkpointLocation` — replayed batches are no-ops through the
  * novelty compositions).
  */
final class ConsistencyMaintainer private[ops] (
    corpus0: org.apache.spark.sql.DataFrame,
    report0: org.apache.spark.sql.DataFrame,
    foldFn: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
             org.apache.spark.sql.DataFrame)
      => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
    retractFn: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                org.apache.spark.sql.DataFrame)
      => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) {
  import org.apache.spark.sql.DataFrame
  private val state = new MaintainedState(Seq(corpus0, report0))

  /** The latest maintained (corpus, report) pair (pinned; valid at
    * least until two batch commits later). */
  def current: (DataFrame, DataFrame) = { val Seq(c, r) = state.frames; (c, r) }

  /** The latest maintained violation report. */
  def currentReport: DataFrame = current._2

  private def commit(next: (DataFrame, DataFrame)): Unit =
    state.commit(Seq(next._1, next._2))

  /** Validate and fold one batch of new rows into the state
    * (synchronized — the streaming engine serializes foreachBatch
    * calls, but direct callers may race). */
  def update(batch: DataFrame): Unit = synchronized {
    if (!batch.isEmpty) {
      val (c, r) = current
      commit(foldFn(c, r, batch))
    }
  }

  /** Retract a batch of rows: the report patches group-scoped
    * ([[ReasonOps.consistencyRetract]]) and the corpus drops the rows
    * (broadcast anti). Synchronous by design — deletions come from an
    * operator decision, not the append stream. */
  def retract(deletions: DataFrame): Unit = synchronized {
    if (!deletions.isEmpty) {
      val (c, r) = current
      commit(retractFn(c, r, deletions))
    }
  }

  /** Attach to a streaming relation: one [[update]] per micro-batch
    * (pass `checkpointLocation` on restart-surviving streams, the
    * [[ClosureMaintainer.attach]] contract). */
  def attach(stream: org.apache.spark.sql.DataFrame,
             checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MaintainedState.attach(stream, checkpointLocation)(update)
}

/** Streaming closure state: folds micro-batches of new edges into a
  * MATERIALIZED closure with a batch O(Δ) delta function — built by
  * [[ReasonOps.rdfsMaintainStream]], [[ReasonOps.owlMaintainStream]],
  * [[ReasonOps.owlRlMaintainStream]] or [[ReasonOps.owlFullMaintainStream]]
  * (any corpus). Each batch arrives as a
  * STATIC frame (`foreachBatch`), so the whole batch maintenance
  * machinery — bridge-set fixpoints, deltaCap guards, declaration
  * fail-fasts — applies unchanged, and batches compose exactly: after
  * batches b1..bn, `current == closure(base ∪ b1 ∪ … ∪ bn)`.
  *
  * State storage and reader safety ([[MaintainedState]]): a frame
  * returned by [[current]] stays VALID until two subsequent batch
  * commits — each update retires superseded closures one GENERATION
  * late (the superseded frame is released only when the next update
  * supersedes its successor), so a reader that grabbed `current` and is
  * still executing while one batch lands never has its checkpoint
  * blocks unpersisted under it. Storage is bounded at two closure
  * frames plus the in-flight batch's Δ-sized intermediates (those
  * release via ContextCleaner after a driver GC — on a long-running
  * stream keep `spark.cleaner.periodicGC.interval` modest). Readers
  * that must hold a snapshot across many batches should checkpoint
  * their own copy.
  *
  * Restart: the maintained closure lives in session memory — a driver
  * restart loses it. The durable recover path is persist-open-replay:
  * checkpoint the SOURCE by attaching with a `checkpointLocation`
  * ([[attach]]), periodically persist [[current]]
  * ([[graft.store.GraftStore.persistClosure]], with the corpus's
  * layout), and on restart construct the maintainer from the reopened
  * artifact ([[graft.store.GraftStore.openClosure]]) — re-attaching with the same checkpoint replays
  * exactly the batches committed after the persisted generation
  * (updates are idempotent: [[ReasonOps.incrementNovel]] composition
  * makes a replayed batch a no-op on a closure that already holds it).
  */
final class ClosureMaintainer private[ops] (
    initial: org.apache.spark.sql.DataFrame,
    deltaFn: (org.apache.spark.sql.DataFrame,
              org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
    deltaCap: Option[Long] = None) {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col
  private val state = new MaintainedState(Seq(initial))

  /** The latest maintained closure (pinned; valid at least until two
    * batch commits after this call). */
  def current: DataFrame = state.frames.head

  /** Fold one batch of new edges into the closure (synchronized — the
    * streaming engine serializes foreachBatch calls, but direct callers
    * may race). */
  def update(batch: DataFrame): Unit = synchronized {
    if (!batch.isEmpty) {
      val prev = current
      val inc = deltaFn(prev, batch)
      // the composition honors the SAME cap the delta ran under;
      // pinHits=false: the union below materializes ONCE into the new
      // pinned state, so the existence scan runs inside that job
      val fresh = ReasonOps.incrementNovel(prev, inc, deltaCap,
        pinHits = false)
      state.commit(Seq(prev.unionAll(fresh.select(prev.columns.map(col): _*))))
    }
  }

  /** Attach to a streaming relation: one [[update]] per micro-batch.
    * Pass `checkpointLocation` on any stream that must survive a driver
    * restart: the source's committed offsets persist there, so a
    * restarted maintainer (constructed from a persisted closure
    * artifact — see the class doc's recover path) re-attaches and
    * replays exactly the uncommitted tail.
    */
  def attach(stream: DataFrame, checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    MaintainedState.attach(stream, checkpointLocation)(update)
}

/** The state discipline the streaming maintainers ([[ClosureMaintainer]],
  * [[ErMaintainer]], [[ConsistencyMaintainer]]) share. The maintained
  * frames are pinned; a commit pins the next generation and retires the
  * superseded one a GENERATION late: `prev` may still back a reader's
  * in-flight query, so it is released only when the next commit
  * supersedes its successor, and a frame read from [[frames]] stays
  * valid until two commits later.
  */
private[ops] final class MaintainedState(initial: Seq[org.apache.spark.sql.DataFrame]) {
  import org.apache.spark.sql.DataFrame
  @volatile private var framesV: Seq[DataFrame] = initial.map(_.localCheckpoint(true))
  private var retiring: Seq[DataFrame] = Nil

  /** The latest maintained frames. */
  def frames: Seq[DataFrame] = framesV

  /** Pin `next` as the new generation and retire the one before the
    * superseded generation. */
  def commit(next: Seq[DataFrame]): Unit = synchronized {
    val prev = framesV
    // constraint-stripping RDD round-trip before the pins: Spark 4.1's
    // localCheckpoint/Union constraint-rewrite hazard (as in
    // ReasonOps.incrementNovelRaw)
    framesV = next.map(df =>
      df.sparkSession.createDataFrame(df.rdd, df.schema).localCheckpoint(true))
    retiring.foreach(graft.Pins.unpin)
    retiring = prev
  }
}

private[ops] object MaintainedState {
  /** One `update` per micro-batch of `stream` (pass `checkpointLocation`
    * on a stream that must survive a driver restart). */
  def attach(stream: org.apache.spark.sql.DataFrame, checkpointLocation: Option[String])(
      update: org.apache.spark.sql.DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => update(b))
    checkpointLocation.fold(w)(w.option("checkpointLocation", _)).start()
  }
}
