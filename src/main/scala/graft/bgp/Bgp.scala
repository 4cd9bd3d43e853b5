package graft.bgp

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.DriverRows
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dict.Dictionary
import graft.store.{Slices, StoreHandle}

/** Basic-graph-pattern terms. The reference encodes variables as negative
  * longs and constants as positive dictionary ids
  * (`core/src/main/scala/com/graphula/TriplePattern.scala`,
  * `Graphula.scala:32`); here a small ADT does the same job at plan time —
  * runtime rows never carry the distinction because joins realize it.
  */
sealed trait Term
/** Constant — a String term or a Long dictionary id. */
final case class C(value: Any) extends Term
final case class V(name: String) extends Term // variable

final case class TriplePattern(s: Term, p: Term, o: Term) {
  def terms: Seq[(String, Term)] = Seq("s" -> s, "p" -> p, "o" -> o)
  def vars: Seq[String] = terms.collect { case (_, V(n)) => n }
  def consts: Seq[Any] = terms.collect { case (_, C(v)) => v }
}

/** Simple per-predicate statistics used for greedy join ordering — the
  * plan-time analog of the reference's exact index cardinalities
  * (`Index.valueCount`). `cnt` = rows with that predicate; `ndvS`/`ndvO` =
  * approximate distinct subjects/objects under it.
  */
final case class PredStats(cnt: Long, ndvS: Long, ndvO: Long)

/** BGP -> DataFrame compiler.
  *
  * The reference answers a BGP with a recursive index-nested-loop expansion,
  * greedily re-picking the cheapest pattern at every step
  * (`Graphula.scala:120-338`). Spark-first, the same conjunction is a chain
  * of equi-self-joins of the triples relation — one aliased, filtered scan
  * per pattern, join keys = shared variables — and Catalyst + AQE choose the
  * physical join (broadcast vs shuffle) and re-plan at runtime, which is the
  * honest analog of the reference's per-step adaptive reordering.
  *
  * What we keep from the reference's optimizer (SURVEY §4.1), ~50 LoC of
  * plan-build-time logic rather than a Catalyst extension:
  *   - greedy pattern ordering by (estimated cardinality, connectivity);
  *   - zero-cardinality fail-fast -> `emptyDataFrame` before any job runs;
  *   - fully-bound patterns become existence probes (semi-join shaped).
  *
  * Scale notes: over a store handle's own relation (`StoreHandle.enc` or
  * `triples`), a pattern with a constant predicate whose exact count in
  * the handle's stats is at most `Dictionary.LocalCap` reads that
  * predicate's driver-held slice (`StoreHandle.predRows`), the analog of
  * the reference's index lookup: collected once per handle, its filters
  * fold at plan time and its broadcast starts no job. When EVERY
  * pattern reads a slice, no Catalyst plan is built at all: the BGP is
  * matched on the driver the reference's way, binding by binding
  * through per-(predicate, s|o) hash indexes beside the slices, and
  * comes back as a local relation (no job; a caller's decode collects
  * it without one). The matcher falls back to the join plan once a
  * step passes `Dictionary.LocalCap` bindings. Every other pattern scan
  * filters the distributed relation on its bound positions, which
  * Catalyst pushes into the scan (partition pruning on `p` for a
  * p-partitioned store); small scans broadcast by the stats hint below
  * or via AQE.
  */
object Bgp {

  /** One end (`s` or `o`) of a pattern matched on the driver: its
    * column, and a constant's internal value or a variable's slot.
    */
  private final case class End(pos: String, col: Int, const: Option[Any], slot: Int)

  /** Estimated result size of a single pattern given stats — mirrors the
    * reference's cardinality fetch (`Graphula.scala:144-167`): bound
    * positions divide by their distinct count.
    */
  private[graft] def estimate(tp: TriplePattern, stats: Map[String, PredStats],
                       totalCnt: Long): Double = {
    val base: Option[PredStats] = tp.p match {
      case C(p) => Some(stats.getOrElse(p.toString, PredStats(0L, 1L, 1L)))
      case _    => None
    }
    base match {
      case Some(ps) =>
        var card = ps.cnt.toDouble
        if (tp.s.isInstanceOf[C]) card /= math.max(ps.ndvS, 1L)
        if (tp.o.isInstanceOf[C]) card /= math.max(ps.ndvO, 1L)
        card
      case None =>
        var card = totalCnt.toDouble
        if (tp.s.isInstanceOf[C]) card /= 100.0
        if (tp.o.isInstanceOf[C]) card /= 100.0
        card
    }
  }

  /** Greedy order: repeatedly pick the connected pattern with the lowest
    * estimated cardinality, preferring patterns sharing a variable with
    * what's already placed (the reference scores connectivity via variable
    * co-occurrence, `Graphula.scala:169-183`; shared-variable preference is
    * the join-graph equivalent).
    */
  def order(patterns: Seq[TriplePattern], stats: Map[String, PredStats],
            totalCnt: Long): Seq[TriplePattern] =
    orderFrom(patterns, stats, totalCnt, Set.empty)

  /** Greedy order with an initial bound-variable set (used by the
    * incremental/streaming compile, where the stream pattern's variables
    * are already bound before any static pattern joins).
    */
  private def orderFrom(patterns: Seq[TriplePattern], stats: Map[String, PredStats],
                        totalCnt: Long, bound0: Set[String]): Seq[TriplePattern] = {
    val remaining = scala.collection.mutable.ArrayBuffer(patterns: _*)
    val placed = scala.collection.mutable.ArrayBuffer.empty[TriplePattern]
    val bound = scala.collection.mutable.Set.empty[String]
    bound ++= bound0
    while (remaining.nonEmpty) {
      val scored = remaining.map { tp =>
        val connected = (placed.isEmpty && bound.isEmpty) ||
          tp.vars.exists(bound) || tp.vars.isEmpty
        // bound vars act like constants for the estimate
        val eff = estimate(tp, stats, totalCnt) /
          math.max(1.0, tp.vars.count(bound) * 16.0)
        (tp, connected, eff)
      }
      val pick = scored
        .sortBy { case (_, conn, est) => (!conn, est) }
        .head._1
      remaining -= pick
      placed += pick
      bound ++= pick.vars
    }
    placed.toSeq
  }

  /** Compile a BGP over a triples DataFrame with columns (s, p, o).
    * Output: one column per variable, in first-appearance order.
    *
    * Over a store handle's relation whose slices hold every pattern's
    * (constant) predicate, the greedy order is matched on the driver
    * ([[matchHeld]]) into a local relation with the same bag and
    * schema. A variable predicate, a predicate not held, a relation
    * that is not a handle's, `StoreHandle.useSlices` set to false, or a
    * step past `Dictionary.LocalCap` bindings builds the join plan.
    */
  def compile(spark: SparkSession, triples: DataFrame,
              patterns: Seq[TriplePattern],
              stats: Map[String, PredStats] = Map.empty,
              totalCnt: Long = 1000000L): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    val outVars = patterns.flatMap(_.vars).distinct

    // fail-fast: a constant predicate absent from the stats means zero
    // matches (reference: zero-cardinality abort, Graphula.scala:160-162)
    val failed = stats.nonEmpty && patterns.exists { tp =>
      tp.p match {
        case C(p) => !stats.contains(p.toString)
        case _    => false
      }
    }
    if (failed) return emptyResult(spark, triples, outVars)

    val ordered = order(patterns, stats, totalCnt)
    // a constant predicate reads the driver-held slice of a store
    // handle's relation when it has one; one job fills the missing ones
    val slices = StoreHandle.slices(triples)
    slices.foreach(_.fill(patterns.collect { case TriplePattern(_, C(p), _) => p }))
    slices.flatMap(matchHeld(_, triples.sparkSession, ordered, outVars))
      .getOrElse(joinPlan(triples, ordered, outVars, stats, totalCnt))
  }

  /** The Catalyst plan of a BGP in the order given: one pattern scan
    * per pattern, joined on shared variables.
    */
  private def joinPlan(triples: DataFrame, ordered: Seq[TriplePattern],
                       outVars: Seq[String], stats: Map[String, PredStats],
                       totalCnt: Long): DataFrame = {
    var current: DataFrame = null
    var boundVars = Set.empty[String]
    ordered.zipWithIndex.foreach { case (tp, i) =>
      val rows = tp.p match {
        case C(p) => StoreHandle.predRows(triples, Seq(p))
        case _    => triples
      }
      val scan0 = patternScan(rows, tp, i)
      // stats-driven broadcast hint: a pattern whose estimated scan is
      // small joins WITHOUT a shuffle. AQE can only convert to broadcast
      // AFTER the map stage has run; the stats (exact counts + HLL ndv)
      // know at plan time, which also spares the driver a round of
      // adaptive re-planning per stage. ~250k triples ≈ a few MB encoded.
      val scan =
        if (stats.nonEmpty && estimate(tp, stats, totalCnt) <= 250000.0)
          broadcast(scan0)
        else scan0
      if (current == null) {
        current = scan
      } else if (tp.vars.isEmpty) {
        // fully-constant pattern: existence probe — cross join with a
        // 0-or-1-row relation (reference J2, Graphula.scala:238-253)
        current = current.crossJoin(broadcast(scan.limit(1).select(lit(1).as(s"__ex$i")))).drop(s"__ex$i")
      } else {
        val shared = tp.vars.filter(boundVars).distinct
        if (shared.isEmpty) current = current.crossJoin(scan)
        else {
          val newVars = tp.vars.filterNot(boundVars).distinct
          if (newVars.isEmpty) {
            // all vars already bound: pure existence filter -> semi-join
            current = current.join(scan, shared, "left_semi")
          } else {
            current = current.join(scan, shared, "inner")
          }
        }
      }
      boundVars ++= tp.vars
    }
    current.select(outVars.map(col): _*)
  }

  /** The BGP matched on the driver over the held rows of `sl`, as
    * graphula matches it over its index (`Graphula.scala:195-338`):
    * patterns in the order given, each extending every partial binding
    * by the rows a hash-index lookup on a bound position returns.
    * The bag equals [[joinPlan]]'s: a pattern binding a new variable
    * joins, one whose variables are all bound (or that has none) keeps
    * a binding if any row matches — except a first all-constant pattern,
    * which [[joinPlan]] scans as is. The result is a local relation in
    * `session` with [[joinPlan]]'s column names, types and nullability.
    * None when a predicate is not a held constant, a constant is not of
    * its column's type, or a step passes `Dictionary.LocalCap` bindings.
    */
  private def matchHeld(sl: Slices, session: SparkSession,
                        ordered: Seq[TriplePattern],
                        outVars: Seq[String]): Option[DataFrame] = {
    val schema = sl.rel.schema
    val types = schema.fields.map(_.dataType)
    def internal(v: Any, pos: String): Option[Any] = (v, schema(pos).dataType) match {
      case (l: Long, LongType) => Some(l)
      case (t: String, StringType) => Some(UTF8String.fromString(t))
      case _ => None
    }
    val slot = outVars.zipWithIndex.toMap
    // per pattern: its predicate and held rows, and its s and o ends (a
    // constant's internal value, or a variable's slot)
    val steps = ordered.map { tp =>
      val held = tp.p match {
        case C(p) if internal(p, "p").isDefined => sl.rows(p).map(p -> _)
        case _ => None
      }
      held -> Seq("s" -> tp.s, "o" -> tp.o).map {
        case (pos, C(v)) => End(pos, schema.fieldIndex(pos), internal(v, pos), -1)
        case (pos, V(n)) => End(pos, schema.fieldIndex(pos), None, slot(n))
      }
    }
    if (steps.exists { case (held, ends) =>
      held.isEmpty || ends.exists(e => e.slot < 0 && e.const.isEmpty) }) return None
    val fields = new Array[StructField](outVars.size)
    var out = ArrayBuffer(new Array[Any](outVars.size))
    for (((held, ends), i) <- steps.zipWithIndex) {
      // keyed ends must equal a constant or a bound variable; fresh ones
      // bind, and a variable at both ends needs s = o
      val (keyed, fresh) = ends.partition(e => e.slot < 0 || fields(e.slot) != null)
      val twice = fresh.size == 2 && fresh(0).slot == fresh(1).slot
      val binds = if (twice) fresh.take(1) else fresh
      val (p, rows) = held.get
      // a keyed end's index: the rows whose value there equals its key
      val lookup = keyed.headOption.map(e => e -> sl.index(p, e.pos).get)
      def value(r: InternalRow, e: End): Any =
        if (r.isNullAt(e.col)) null else r.get(e.col, types(e.col))
      def key(b: Array[Any], e: End): Any = e.const.getOrElse(b(e.slot))
      def equal(a: Any, b: Any): Boolean = a != null && a == b
      def candidates(b: Array[Any]): Iterator[InternalRow] =
        lookup.fold(rows) { case (e, ix) => ix.getOrElse(key(b, e), Array.empty[InternalRow]) }
          .iterator.filter(r => keyed.forall(e => equal(value(r, e), key(b, e))) &&
            (!twice || equal(value(r, fresh(0)), value(r, fresh(1)))))
      // with no bound variable among its keys, every binding gets the
      // same rows: find them once
      val same = if (keyed.exists(_.slot >= 0)) None else Some(candidates(null).toArray)
      def matching(b: Array[Any]): Iterator[InternalRow] =
        same.fold(candidates(b))(_.iterator)
      if (fresh.isEmpty && i > 0) out = out.filter(b => matching(b).hasNext)
      else {
        val next = ArrayBuffer.empty[Array[Any]]
        out.foreach(b => matching(b).foreach { r =>
          val nb = b.clone()
          binds.foreach(e => nb(e.slot) = value(r, e))
          next += nb
          if (next.size > Dictionary.LocalCap) return None
        })
        binds.foreach(e => fields(e.slot) =
          StructField(outVars(e.slot), types(e.col), schema(e.col).nullable))
        out = next
      }
    }
    Some(DriverRows.frame(session, StructType(fields.toSeq), ArraySeq.unsafeWrapArray(
      out.iterator.map(b => new GenericInternalRow(b): InternalRow).toArray)))
  }

  /** Incremental BGP over a live triple stream — full delta decomposition:
    * an arriving edge may match ANY pattern of the conjunction, so the
    * maintained view is the union of per-pattern deltas
    * Δ(P1⋈…⋈Pn) ⊇ ⋃_i (P1 ⋈ … ⋈ ΔPi ⋈ … ⋈ Pn), each branch binding the
    * arrival to pattern i and extending it to a full solution by
    * stream-static joins against the stored relation (greedy stats order
    * seeded with pattern i's variables) — the standard IVM shape.
    * Solutions needing TWO new edges in one batch are completed once the
    * sink appends arrivals to the store (the foreachBatch ingest path),
    * which is the stream-static contract. Fully-constant patterns don't
    * source a delta branch (an arrival matching one only re-asserts an
    * existence probe answered by the store). Returns a STREAMING DataFrame
    * (append-mode friendly: inner/semi stream-static joins only).
    */
  def compileStream(spark: SparkSession, streamTriples: DataFrame,
                    staticTriples: DataFrame, patterns: Seq[TriplePattern],
                    stats: Map[String, PredStats] = Map.empty,
                    totalCnt: Long = 1000000L,
                    carry: Seq[String] = Seq.empty): DataFrame = {
    require(patterns.nonEmpty, "empty BGP")
    require(streamTriples.isStreaming, "streamTriples must be a streaming DataFrame")
    require(patterns.exists(_.vars.nonEmpty),
      "at least one pattern must bind a variable")
    // `carry`: stream-side metadata columns (e.g. the event-time column a
    // windowed aggregation downstream groups on) propagated through every
    // delta branch — each solution keeps ITS arriving edge's values
    carry.foreach(c => require(streamTriples.columns.contains(c),
      s"carry column '$c' not in the stream"))
    val outVars = patterns.flatMap(_.vars).distinct
    val branches = patterns.indices
      .filter(i => patterns(i).vars.nonEmpty)
      .map { i =>
        val delta = patterns(i)
        var current = patternScan(streamTriples, delta, 0, carry)
        var boundVars = delta.vars.toSet
        val rest = patterns.take(i) ++ patterns.drop(i + 1)
        orderFrom(rest, stats, totalCnt, boundVars).zipWithIndex.foreach {
          case (tp, j) =>
            val scan = patternScan(staticTriples, tp, j + 1)
            val shared = tp.vars.filter(boundVars).distinct
            if (tp.vars.isEmpty)
              current = current.crossJoin(broadcast(scan.limit(1).select(lit(1).as(s"__ex$j")))).drop(s"__ex$j")
            else if (shared.isEmpty) current = current.crossJoin(scan)
            else if (tp.vars.forall(boundVars)) current = current.join(scan, shared, "left_semi")
            else current = current.join(scan, shared, "inner")
            boundVars ++= tp.vars
        }
        current.select((outVars ++ carry).map(col): _*)
      }
    branches.reduce(_.unionAll(_))
  }

  /** One aliased triples scan per pattern: filter bound positions, project
    * variable positions under their variable names, dedup repeated-variable
    * cases (e.g. `?x p ?x` keeps s===o rows).
    */
  private def patternScan(triples: DataFrame, tp: TriplePattern, idx: Int,
                          carry: Seq[String] = Seq.empty): DataFrame = {
    var df = triples
    tp.terms.foreach {
      case (pos, C(v)) => df = df.where(col(pos) === lit(v))
      case _ =>
    }
    // repeated variables within one pattern -> equality filter
    val varPos = tp.terms.collect { case (pos, V(n)) => (pos, n) }
    varPos.groupBy(_._2).values.filter(_.size > 1).foreach { grp =>
      grp.sliding(2).foreach {
        case Seq((p1, _), (p2, _)) => df = df.where(col(p1) === col(p2))
        case _ =>
      }
    }
    val proj = varPos.map(_._2).distinct.map { v =>
      col(varPos.find(_._2 == v).get._1).as(v)
    } ++ carry.map(col)
    if (proj.isEmpty) df.select(lit(1).as(s"__const$idx"))
    else df.select(proj: _*)
  }

  /** Typed empty result: var columns take the store's term type (string
    * relation -> StringType, encoded relation -> LongType), so a fail-fast
    * empty composes with unions/joins against live scans of either store.
    */
  private def emptyResult(spark: SparkSession, triples: DataFrame,
                          vars: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val t = triples.schema("s").dataType
    val schema = StructType(vars.map(v => StructField(v, t)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Count a BGP — the analog of the reference's `count` entry point (J5).
    * The reference short-circuits a terminal single-pattern count to the
    * index cardinality without enumeration (`Graphula.scala:388-390`);
    * here a `(?, p, ?)` count with known stats answers from the stats
    * relation with NO job at all. Everything else runs the join and lets
    * Catalyst collapse count-over-join.
    */
  def count(spark: SparkSession, triples: DataFrame,
            patterns: Seq[TriplePattern],
            stats: Map[String, PredStats] = Map.empty): Long =
    patterns match {
      case Seq(TriplePattern(V(a), C(p), V(b))) if a != b && stats.nonEmpty =>
        stats.get(p.toString).map(_.cnt).getOrElse(0L)
      case _ =>
        compile(spark, triples, patterns, stats).count()
    }
}
