package graft.store

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CleanCheckpoint, DriverRows}
import org.apache.spark.sql.functions._
import graft.bgp.PredStats
import graft.dict.{Dictionary, TermIndex}
import graft.ops.ReasonOps

/** Ingested store handle: the analog of the reference's opened LMDB
  * environment (`Graphula.scala:34-48`). The reference ingests N-Triples
  * once and answers every query from the persisted index; likewise this
  * handle materializes, once per (session, dir):
  *   - the string triple relation (eager local checkpoint),
  *   - the hash-encoded triple relation + its collision certificate,
  *   - the (id, term) dictionary — materialized at INGEST, never a
  *     re-scan of the full triple store. The reference pays O(result)
  *     in-process lookups per query (`LazyBinding.scala:22-28`); so does
  *     this handle's driver-held [[graft.dict.TermIndex]] over a
  *     dictionary of at most `TermIndex.Cap` terms (built on first
  *     decode, one job), and a larger dictionary is probed for the ids
  *     a result holds (one job per decode),
  *   - per-predicate statistics (the `Index.valueCount` analog) for
  *     greedy BGP ordering and zero-cardinality fail-fast.
  * On a cluster these are parquet tables written by an ingest job; here
  * they are checkpointed in-session because the driver gate is
  * self-contained per process. A handle made by an update that keeps
  * the dictionary frame keeps its index; `appendLocal`'s new dictionary
  * gets an index derived from its parent's with no job.
  */
final class StoreHandle(val triples: DataFrame, val enc: DataFrame,
                        val dict: DataFrame, val pureHash: Boolean,
                        val stats: Map[String, PredStats],
                        val encStats: Map[String, PredStats],
                        val totalCnt: Long,
                        sketchesThunk: => DataFrame,
                        index: Option[TermIndex]) {
  /** Per-predicate sketch relation, composed LAZILY: only persist /
    * compact / reopened-append readers force it. Update ops chain the
    * merge thunks instead of paying eager Catalyst analysis of the
    * growing sketch tree on every handle construction (a
    * scale-independent ~0.1 s/op planning tax otherwise).
    */
  lazy val sketches: DataFrame = sketchesThunk

  // both relations draw on one row budget: the handle's driver-held total
  private val sliceRoom = new AtomicLong(StoreHandle.SliceRows)
  private[graft] val encSlices: Slices =
    StoreHandle.attach(new Slices(enc, encStats, sliceRoom))
  private[graft] val tripleSlices: Slices =
    StoreHandle.attach(new Slices(triples, stats, sliceRoom))
  // held here; `dict`'s plan holds it weakly
  private[graft] val dictIndex: TermIndex =
    index.map(TermIndex.attach).getOrElse(TermIndex.of(dict, pureHash))
}

object StoreHandle {
  /** `index`: the dictionary's index when the caller derived it, else
    * the one `dict` carries or a fresh lazy one. */
  def apply(triples: DataFrame, enc: DataFrame, dict: DataFrame,
            pureHash: Boolean, stats: Map[String, PredStats],
            encStats: Map[String, PredStats], totalCnt: Long,
            sketches: => DataFrame, index: Option[TermIndex] = None): StoreHandle =
    new StoreHandle(triples, enc, dict, pureHash, stats, encStats, totalCnt,
      sketches, index)

  /** Most rows one handle holds in its slices, over both relations. */
  private[graft] val SliceRows: Long = 4L * Dictionary.LocalCap

  /** Scan sites read slices only while this is true. Scoped per thread,
    * so a spec can force the distributed scans
    * (`useSlices.withValue(false) { ... }`) without touching the
    * session's conf.
    */
  private[graft] val useSlices = new scala.util.DynamicVariable[Boolean](true)

  // the slice set rides on its relation's analyzed plan, so a scan site
  // that is handed the relation finds it without any registry; weakly,
  // so later handles whose plans contain this one do not keep it alive
  private val SliceTag = TreeNodeTag[WeakReference[Slices]]("graft.slices")

  private def attach(s: Slices): Slices = {
    s.rel.queryExecution.analyzed.setTagValue(SliceTag, new WeakReference(s))
    s
  }

  /** The slices of `rel` if `rel` is a handle's `enc` or `triples` (by
    * plan identity: a frame derived from it has another plan, the same
    * relation re-bound to another session has the same one).
    */
  private[graft] def slices(rel: DataFrame): Option[Slices] =
    if (!useSlices.value) None
    else {
      val plan = rel.queryExecution.analyzed
      plan.getTagValue(SliceTag).flatMap(r => Option(r.get))
        .filter(_.rel.queryExecution.analyzed eq plan)
    }

  /** The rows of `rel` whose predicate is one of `preds`: a driver-held
    * local relation when `rel` is a handle's relation and every one of
    * them is sliced, else `rel` itself. Callers filter on `p` either way.
    */
  private[graft] def predRows(rel: DataFrame, preds: Seq[Any]): DataFrame =
    slices(rel).flatMap(_.frame(preds, rel.sparkSession)).getOrElse(rel)
}

/** Driver-held copies of one handle relation's small predicates: the
  * analog of graphula answering a bound-predicate pattern from its index
  * instead of a scan. A predicate whose exact count in the handle's
  * stats is at most `Dictionary.LocalCap` is collected on first use,
  * once, through `Dictionary.collectRows` (one job for every predicate a
  * call asks for at once), and later scans of it read those rows as a
  * local relation: its filters fold at plan time and its broadcast
  * starts no job (`DriverRows`). The rows held over a handle's two
  * relations are capped at `StoreHandle.SliceRows`; a predicate past
  * the cap or the budget keeps the distributed scan. A handle made by
  * an update starts with no slices.
  *
  * Beside the rows, a held predicate gets a hash index per position
  * (`s` or `o`): its rows by their value there, built on first use,
  * once, on the driver (`Bgp.compile`'s driver matcher looks bindings
  * up in them). An index refers to each held row at most once and
  * holds no row of its own, so a handle's indexes hold at most
  * 2 × `StoreHandle.SliceRows` row references.
  */
private[graft] final class Slices(val rel: DataFrame,
                                  counts: Map[String, PredStats],
                                  room: AtomicLong) {
  // predicate (its stats key) -> its rows; None: it keeps the scan
  private val held = new ConcurrentHashMap[String, Option[Array[InternalRow]]]()
  // (predicate, position) -> the predicate's rows by their value there
  private val indexes = new ConcurrentHashMap[(String, String), Map[Any, Array[InternalRow]]]()
  private val builds = new AtomicInteger()

  /** Jobs run to fill slices so far. */
  private[graft] def buildCount: Int = builds.get

  /** The held rows of predicate `p`, if it is held. */
  def rows(p: Any): Option[Array[InternalRow]] = Option(held.get(p.toString)).flatten

  /** The held rows of `p` by their (non-null, internal) value at `pos`,
    * `s` or `o`, if `p` is held.
    */
  def index(p: Any, pos: String): Option[Map[Any, Array[InternalRow]]] =
    rows(p).map { rs =>
      indexes.computeIfAbsent((p.toString, pos), _ => {
        val i = rel.schema.fieldIndex(pos)
        val t = rel.schema(i).dataType
        rs.filterNot(_.isNullAt(i)).groupBy(_.get(i, t))
      })
    }

  /** Rows of `rel` whose predicate is in `preds` as a local relation in
    * `session` (the session of the frame the caller was handed, e.g. a
    * `ScopedConf` clone), if every one of them is (or now becomes) held.
    */
  def frame(preds: Seq[Any], session: SparkSession): Option[DataFrame] = {
    fill(preds)
    val parts = preds.map(_.toString).distinct.map(rows)
    if (parts.isEmpty || parts.exists(_.isEmpty)) None
    else Some(DriverRows.frame(session, rel.schema,
      if (parts.size == 1) ArraySeq.unsafeWrapArray(parts.head.get)
      else parts.flatMap(_.get)))
  }

  /** Decide, and collect in one job, every predicate of `preds` not yet
    * decided. Builds of one relation are serialized, so threads that
    * race on a fresh handle collect each predicate once.
    */
  def fill(preds: Seq[Any]): Unit =
    if (preds.exists(p => !held.containsKey(p.toString))) synchronized {
      val todo = preds.distinctBy(_.toString).filterNot(p => held.containsKey(p.toString))
      val fits = todo.flatMap(p => counts.get(p.toString).map(_.cnt)
        .filter(n => n <= Dictionary.LocalCap && reserve(n)).map(p -> _))
      todo.filterNot(p => fits.exists(_._1 == p)).foreach(p => held.put(p.toString, None))
      if (fits.nonEmpty) {
        val want = fits.map(_._2).sum
        builds.incrementAndGet()
        val pi = rel.schema.fieldIndex("p")
        val pt = rel.schema(pi).dataType
        Dictionary.collectRows(rel.where(col("p").isin(fits.map(_._1): _*)),
            want.toInt) match {
          case Some(rows) =>
            val byPred = rows.groupBy(r => String.valueOf(r.get(pi, pt)))
            fits.foreach { case (p, _) =>
              held.put(p.toString, Some(byPred.getOrElse(p.toString, Array.empty)))
            }
            room.addAndGet(want - rows.length)
          case None => // the stats undercount: keep the scans
            room.addAndGet(want)
            fits.foreach { case (p, _) => held.put(p.toString, None) }
        }
      }
    }

  private def reserve(n: Long): Boolean = {
    var left = room.get
    while (left >= n && !room.compareAndSet(left, left - n)) left = room.get
    left >= n
  }
}

object GraftStore {
  /** Single-flight lazy holder: TrieMap.getOrElseUpdate may race two
    * constructors, but only the stored winner's `value` is ever forced, so
    * the expensive ingest runs exactly once per key.
    */
  private final class Lazily[T](f: => T) { lazy val value: T = f }

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Lazily[StoreHandle]]

  def forDir(spark: SparkSession, sfDir: String): StoreHandle = {
    evictStopped()
    cache.getOrElseUpdate((spark, sfDir), new Lazily(ingest(spark, sfDir))).value
  }

  /** Drop entries whose session has stopped — their checkpointed RDDs are
    * gone, and a long-lived multi-session process would otherwise leak
    * handles.
    */
  private def evictStopped(): Unit = {
    cache.keys.filter(_._1.sparkContext.isStopped).foreach(cache.remove)
    gramCache.keys.filter(_._1.sparkContext.isStopped).foreach(gramCache.remove)
    pairCache.keys.filter(_._1.sparkContext.isStopped).foreach(pairCache.remove)
    adjCache.keys.filter(_._1.sparkContext.isStopped).foreach(adjCache.remove)
    adjEncCache.keys.filter(_._1.sparkContext.isStopped).foreach(adjEncCache.remove)
    ivfCache.keys.filter(_._1.sparkContext.isStopped).foreach(ivfCache.remove)
    kmeansCache.keys.filter(_._1.sparkContext.isStopped).foreach(kmeansCache.remove)
    bpeCache.keys.filter(_._1.sparkContext.isStopped).foreach(bpeCache.remove)
    ntCache.keys.filter(_._1.sparkContext.isStopped).foreach(ntCache.remove)
    quadCache.keys.filter(_._1.sparkContext.isStopped).foreach(quadCache.remove)
    quadEncCache.keys.filter(_._1.sparkContext.isStopped).foreach(quadEncCache.remove)
    reasonCache.keys.filter(_._1.sparkContext.isStopped).foreach(reasonCache.remove)
  }

  private val reasonCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Lazily[DataFrame]]

  /** A materialized reasoning artifact (e.g. the base closure a
    * maintenance batch composes against), built + pinned once per
    * (session, dir, name) — the in-session analog of the
    * [[persistClosure]] ingest lifecycle: reason once at ingest,
    * maintenance batches OPEN the artifact instead of re-deriving it.
    */
  def reasonArtifact(spark: SparkSession, sfDir: String, name: String)
                    (build: => DataFrame): DataFrame = {
    evictStopped()
    reasonCache.getOrElseUpdate((spark, sfDir, name),
      new Lazily(build.localCheckpoint(true))).value
  }

  private def ingest(spark: SparkSession, sfDir: String): StoreHandle =
    ingestTriples(spark,
      TripleStore.tableTriples(spark, sfDir, exploded = true))

  /** Ingest an arbitrary (s, p, o) triple relation into a queryable handle.
    * One pass builds the collision certificate, the encoded relation, the
    * materialized dictionary, and the stats — the batch analog of the
    * reference's `loadNtriples` (`Sparql.scala:78-113`).
    */
  def ingestTriples(spark: SparkSession, rawTriples: DataFrame): StoreHandle = {
    // NOTE the relation is a BAG: the driver's un-pivoted testdata carries
    // genuine duplicate rows and the oracle counts them, so ingest must
    // not dedupe. UPDATE inserts still honor SPARQL set semantics (an
    // insert of any already-present triple is a no-op) and deletes drop
    // every copy, with stats subtracted by actual matched-row counts.
    // Checkpoint at the session's shuffle width, not the source file
    // count: the store is scanned by every query/probe job, and a scan's
    // task count should track the configured parallelism, not however
    // many parquet chunks the ingest happened to read (coalesce is a
    // narrow no-shuffle merge; it never raises the count).
    val triples = rawTriples.select(col("s"), col("p"), col("o"))
      .coalesce(spark.sessionState.conf.numShufflePartitions)
      .localCheckpoint(true)
    val terms = triples.select(explode(array(col("s"), col("p"), col("o"))).as("term"))
    val pureHash = Dictionary.collisionFree(terms)
    // The dictionary is materialized HERE, at ingest, on both paths: the
    // pure-hash dict is just (hash(term), term) over the distinct term set.
    // Every query-time decode semi-joins this table instead of re-exploding
    // and re-hashing the whole triple store.
    val dict = (
      if (pureHash)
        terms.select(col("term")).where(col("term").isNotNull).distinct()
          .select(Dictionary.termHash(col("term")).as("id"), col("term"))
      else Dictionary.build(terms)
    ).localCheckpoint(true)
    val enc = (
      if (pureHash) Dictionary.encodeByHash(triples, Seq("s", "p", "o"))
      else Seq("s", "p", "o").foldLeft(triples)((df, c) => Dictionary.encode(df, dict, c))
    ).localCheckpoint(true)
    // sketch ndv domain = the store's id space (bijective with terms), so
    // encoded deltas can merge statistics without decoding (see
    // TripleStore.predSketchesHash)
    val sketches = (
      if (pureHash) TripleStore.predSketchesHash(triples)
      else TripleStore.predSketchesEnc(enc, dictPredMap(dict, enc))
    ).localCheckpoint(true)
    val stats = statsOf(sketches)
    // same stats keyed by encoded predicate id (as string), for BGPs over
    // the encoded relation; on the repaired path the ids come from the
    // repaired dictionary, so they stay consistent with `enc`
    val predIds =
      if (pureHash) Dictionary.hashLiterals(spark, stats.keys.toSeq)
      else Dictionary.lookup(dict, stats.keys.toSeq)
    val encStats = stats.flatMap { case (k, v) => predIds.get(k).map(_.toString -> v) }
    StoreHandle(triples, enc, dict, pureHash, stats, encStats,
      stats.values.map(_.cnt).sum, sketches)
  }

  /** The dictionary restricted to predicate ids of `enc` — the small
    * (id, term) relation `TripleStore.predSketchesEnc` broadcasts to
    * re-key id-domain sketches to string predicates. Predicates are the
    * low-cardinality term class (tens, not millions), so the semi-join
    * output is broadcast-sized by construction.
    */
  private def dictPredMap(dict: DataFrame, enc: DataFrame): DataFrame =
    dict.join(enc.select(col("p").as("id")).distinct(), Seq("id"), "left_semi")
      .select(col("id"), col("term"))

  /** Realize the (small) sketch relation into the driver-side stats map:
    * exact counts, HLL-estimated distinct subjects/objects.
    */
  private def statsOf(sketches: DataFrame): Map[String, PredStats] = {
    import org.apache.spark.sql.functions.{col, hll_sketch_estimate}
    sketches.select(col("p"), col("cnt"),
        hll_sketch_estimate(col("hs")).as("ns"),
        hll_sketch_estimate(col("ho")).as("no"))
      .collect()
      .map(r => r.getString(0) -> PredStats(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  private def encStatsOf(spark: SparkSession, dict: DataFrame, pureHash: Boolean,
                         stats: Map[String, PredStats]): Map[String, PredStats] = {
    val predIds =
      if (pureHash) Dictionary.hashLiterals(spark, stats.keys.toSeq)
      else Dictionary.lookup(dict, stats.keys.toSeq)
    stats.flatMap { case (k, v) => predIds.get(k).map(_.toString -> v) }
  }

  /** Build a handle from PRE-ENCODED triples plus their dictionary — the
    * reference's programmatic `addEncodedTriple` ingest path (S3): callers
    * that already hold (id, id, id) edges and an (id, term) mapping skip
    * the string-side encode entirely. The string relation is reconstructed
    * by decoding once (the string-store query path needs it); `pureHash`
    * is conservatively false, so query constants resolve through the
    * supplied dictionary (sound for ARBITRARY id assignments, not just
    * content hashes).
    */
  def ingestEncoded(spark: SparkSession, enc: DataFrame,
                    dict: DataFrame): StoreHandle = {
    val encC = enc.select(col("s").cast("long"), col("p").cast("long"),
      col("o").cast("long"))
      .coalesce(spark.sessionState.conf.numShufflePartitions)
      .localCheckpoint(true)
    val dictC = dict.select(col("id").cast("long"), col("term").cast("string"))
      .localCheckpoint(true)
    val triples = Seq("s", "p", "o")
      .foldLeft(encC)((df, c) => Dictionary.decode(df, dictC, c))
      .localCheckpoint(true)
    val sketches = TripleStore.predSketchesEnc(encC, dictPredMap(dictC, encC))
      .localCheckpoint(true)
    val stats = statsOf(sketches)
    val encStats = encStatsOf(spark, dictC, pureHash = false, stats)
    StoreHandle(triples, encC, dictC, pureHash = false, stats, encStats,
      stats.values.map(_.cnt).sum, sketches)
  }

  /** Incremental insert, O(Δ) per batch — the reference's `performAdd`
    * (`sparql/src/main/scala/com/graphula/sparql/Sparql.scala:115-127`)
    * adds triples to an open store in O(1) LMDB writes per triple; the
    * Spark analog pins ONLY the delta and unions it into the existing
    * pinned relations:
    *   - dictionary: the batch's genuinely-new terms (one columnar scan of
    *     the existing dictionary — no shuffle of it — plays the role of the
    *     reference's point lookups) get content-hash ids;
    *   - certificate: re-checked ONLY for the new ids — internally and
    *     against the claimed-id set (a second dictionary scan). A collision
    *     (cosmically rare) falls back to the full repair ingest;
    *   - encode: the delta encodes through a broadcast slim dictionary
    *     covering exactly the batch's terms;
    *   - statistics: exact counts ADD and HLL sketches UNION
    *     (`TripleStore.mergeSketches`), so the `(?, p, ?)` count shortcut
    *     stays exact without re-scanning the store.
    * No job in the fast path reads the stored triples; lineage grows by
    * one union branch per batch — `persist` flattens it (compaction), the
    * same discipline as any LSM-ish append structure.
    */
  /** The driver-side batch fast path: a batch of at most
    * `Dictionary.LocalCap` rows is handled as driver-side constants (one
    * bounded collect job); anything larger takes the fully distributed
    * path, so scale correctness never depends on this shortcut.
    */
  private def smallBatch(df: DataFrame): Option[Seq[(String, String, String)]] =
    Dictionary.collectBounded(df.select(col("s").cast("string"),
      col("p").cast("string"), col("o").cast("string")), Dictionary.LocalCap)
      .map(_.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))))

  /** `append` for a DRIVER-SIDE batch (ground `INSERT DATA` constants, or
    * any batch within `Dictionary.LocalCap`) on a certified store: dedup, content
    * hashing, and the delta certificate's internal check run driver-side
    * over the tiny batch, so the whole append costs two bounded store
    * probes (the encoded duplicate scan and the dictionary claim scan)
    * plus one sketch aggregate — instead of the distributed path's dozen
    * checkpointed mini-jobs, whose fixed job overhead dominates exactly
    * when the batch is small. Semantics are identical; repaired
    * (non-certified) stores delegate to the distributed path.
    */
  /** `claims`/`probed`: an optional ALREADY-RUN dictionary read (id→term
    * for found ids, full probed id set) the caller shared with its
    * solution decode — terms whose content hash was probed resolve their
    * hash-claim status driver-side; only uncovered terms (rare: e.g. a
    * blank-rendering of an absent id) go to `Dictionary.probeClaims`
    * (the driver-held index, or a dictionary job without one).
    */
  def appendLocal(spark: SparkSession, handle: StoreHandle,
                  rows: Seq[(String, String, String)],
                  claims: Map[Long, String] = Map.empty,
                  probed: Set[Long] = Set.empty): StoreHandle = {
    import spark.implicits._
    if (!handle.pureHash) return append(spark, handle, rows.toDF("s", "p", "o"))
    val rowsD = rows.distinct
    if (rowsD.isEmpty) return handle
    val hmap = Dictionary.hashTerms(spark,
      rowsD.flatMap(t => Seq(t._1, t._2, t._3)).distinct)
    // duplicate probe, stats-skip first: only triples whose predicate
    // already exists can be duplicates
    val cand = rowsD.filter(t => handle.stats.contains(t._2))
    val hitSet: Set[(Long, Long, Long)] =
      if (cand.isEmpty) Set.empty
      else {
        val probe = cand.map(t => (hmap(t._1), hmap(t._2), hmap(t._3)))
          .toDF("s", "p", "o")
        handle.enc
          .join(broadcast(probe), Seq("s", "p", "o"), "left_semi")
          .distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
    appendLocalProbed(spark, handle, rowsD, hmap, hitSet, handle.triples,
      claims, probed)
  }

  /** appendLocal past its encoded duplicate probe: confirm hash hits
    * against the string relation, then build the delta arms. `strRel` is
    * the relation the confirm runs against — callers that probed a
    * PRE-delete snapshot pass that snapshot for consistency.
    */
  private def appendLocalProbed(spark: SparkSession, handle: StoreHandle,
                                rowsD: Seq[(String, String, String)],
                                hmap: Map[String, Long],
                                hitSet: Set[(Long, Long, Long)],
                                strRel: DataFrame,
                                claims: Map[Long, String] = Map.empty,
                                probed: Set[Long] = Set.empty): StoreHandle = {
    import spark.implicits._
    val candDup = rowsD.filter(t =>
      handle.stats.contains(t._2) && hitSet((hmap(t._1), hmap(t._2), hmap(t._3))))
    // hash hits are CANDIDATES only — confirm against the string
    // relation before dropping a row (same discipline as the
    // distributed path: no silent triple loss on a 3x63-bit collision)
    val confirmed: Set[(String, String, String)] =
      if (candDup.isEmpty) Set.empty
      else strRel
        .join(broadcast(candDup.toDF("s", "p", "o")),
          Seq("s", "p", "o"), "left_semi")
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val newRows = rowsD.filterNot(confirmed)
    if (newRows.isEmpty) return handle
    // delta certificate: internal clash driver-side, claim clash from
    // the dictionary (`probeClaims`)
    val terms = newRows.flatMap(t => Seq(t._1, t._2, t._3)).distinct
    val internalClash = terms.groupBy(hmap).exists(_._2.size > 1)
    // claim status from the caller's shared probe where it covers the
    // term's hash; `probeClaims` only for the uncovered remainder
    val (covered, uncovered) = terms.partition(t => probed(hmap(t)))
    val (present, externalClash) =
      if (internalClash) (Set.empty[String], false)
      else {
        val presentK = covered.filter(t => claims.get(hmap(t)).contains(t)).toSet
        val clashK = covered.exists(t => claims.get(hmap(t)).exists(_ != t))
        val (presentP, clashP) =
          if (uncovered.isEmpty) (Set.empty[String], false)
          else Dictionary.probeClaims(spark, handle.dict, uncovered)
        (presentK ++ presentP, clashK || clashP)
      }
    if (internalClash || externalClash)
      return ingestTriples(spark,
        handle.triples.unionAll(newRows.toDF("s", "p", "o")))
    val newOnly = terms.filterNot(present)
    val dictDelta =
      if (newOnly.isEmpty) None
      else Some(newOnly.map(t => (hmap(t), t)).toDF("id", "term"))
    val dict = dictDelta.fold(handle.dict)(handle.dict.unionByName)
    // the new dictionary's index: the parent's plus the delta's pairs,
    // resolved on the driver when first read
    val index =
      if (newOnly.isEmpty) None
      else Some(TermIndex.derived(dict, Seq(handle.dictIndex), newOnly.map(t => (hmap(t), t))))
    val newT = newRows.toDF("s", "p", "o")
    val newEnc = newRows.map(t => (hmap(t._1), hmap(t._2), hmap(t._3)))
      .toDF("s", "p", "o")
    // local-relation arms need no checkpoint (they ARE their lineage); the
    // merged sketch relation stays lazy over the checkpointed base plus
    // tiny local deltas — compact() re-materializes it. `def`: handle
    // construction must not pay the merge's Catalyst analysis (StoreHandle
    // forces it only when a sketch reader appears)
    def sketches = TripleStore.mergeSketches(
      handle.sketches, TripleStore.predSketchesHash(newT))
    // stats update runs entirely driver-side (no statsOf job): exact
    // counts ADD (answer-relevant — the (?,p,?) COUNT shortcut); ndv
    // estimates of already-known predicates keep their pre-batch values
    // (optimizer-only hints, the same accepted-drift class as HLL's
    // no-subtract on delete; compact(resketch) restores exactness), and
    // brand-new predicates get exact driver-side distinct counts.
    val byPred = newRows.groupBy(_._2)
    val stats = handle.stats ++ byPred.map { case (p, rs) =>
      val base = handle.stats.get(p)
      p -> graft.bgp.PredStats(
        base.map(_.cnt).getOrElse(0L) + rs.size,
        base.map(_.ndvS).getOrElse(rs.map(_._1).distinct.size.toLong),
        base.map(_.ndvO).getOrElse(rs.map(_._3).distinct.size.toLong))
    }
    // changed predicates are all batch predicates — their content-hash
    // keys come from the driver-side hash map, so no dictionary job
    val encStats = handle.encStats ++
      byPred.keys.map(p => hmap(p).toString -> stats(p))
    def shield(df: DataFrame): DataFrame =
      CleanCheckpoint.stripOriginConstraints(df)
    logAppend(
      StoreHandle(shield(handle.triples).unionAll(newT),
        shield(handle.enc).unionAll(newEnc),
        dict, handle.pureHash, stats, encStats,
        stats.values.map(_.cnt).sum, sketches, index),
      handle, newT, newEnc, dictDelta)
  }

  /** `remove` for a driver-side batch on a certified store — see
    * `appendLocal`. One store probe (the per-predicate matched-copy count
    * the exact stats require); the surviving relations are the same lazy
    * anti-joins as the distributed path, with the delete set a local
    * relation instead of a checkpointed frame.
    */
  def removeLocal(spark: SparkSession, handle: StoreHandle,
                  rows: Seq[(String, String, String)]): StoreHandle = {
    import spark.implicits._
    if (!handle.pureHash) return remove(spark, handle, rows.toDF("s", "p", "o"))
    // stats skip: only known predicates can match anything
    val rowsD = rows.distinct.filter(t => handle.stats.contains(t._2))
    if (rowsD.isEmpty) return handle
    val hmap = Dictionary.hashTerms(spark,
      rowsD.flatMap(t => Seq(t._1, t._2, t._3)).distinct)
    val delH = rowsD.map(t => (t._2, hmap(t._1), hmap(t._2), hmap(t._3)))
      .toDF("pstr", "s", "p", "o")
    val matched = handle.enc
      .join(broadcast(delH.select(col("s"), col("p"), col("o"))),
        Seq("s", "p", "o"), "left_semi")
      .join(broadcast(delH), Seq("s", "p", "o"))
      .groupBy(col("pstr").as("p")).agg(count(lit(1)).as("gone"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    removeLocalCounted(spark, handle, rowsD, hmap, matched)
  }

  /** `removeLocal` with the per-predicate matched-copy counts already
    * known — e.g. a DELETE WHERE whose solution rows came 1:1 from a
    * store scan, where the counts fall out of the solution collect and
    * the probe job disappears entirely. Repaired stores delegate to the
    * distributed path (which re-probes; the counts are discarded).
    */
  def removeLocalPrecounted(spark: SparkSession, handle: StoreHandle,
                            rows: Seq[(String, String, String)],
                            matched: Map[String, Long]): StoreHandle = {
    import spark.implicits._
    if (!handle.pureHash) return remove(spark, handle, rows.toDF("s", "p", "o"))
    val rowsD = rows.distinct.filter(t => handle.stats.contains(t._2))
    if (rowsD.isEmpty) return handle
    val hmap = Dictionary.hashTerms(spark,
      rowsD.flatMap(t => Seq(t._1, t._2, t._3)).distinct)
    removeLocalCounted(spark, handle, rowsD, hmap,
      matched.filter { case (p, n) => n > 0 && handle.stats.contains(p) })
  }

  /** removeLocal past its matched-copy probe (callers may have computed
    * the counts in a shared scan).
    */
  private def removeLocalCounted(spark: SparkSession, handle: StoreHandle,
                                 rowsD: Seq[(String, String, String)],
                                 hmap: Map[String, Long],
                                 matched: Map[String, Long]): StoreHandle = {
    import spark.implicits._
    if (matched.isEmpty) return handle
    val triples = handle.triples
      .join(rowsD.toDF("s", "p", "o"), Seq("s", "p", "o"), "left_anti")
    val enc = handle.enc
      .join(rowsD.map(t => (hmap(t._1), hmap(t._2), hmap(t._3))).toDF("s", "p", "o"),
        Seq("s", "p", "o"), "left_anti")
    val stats = handle.stats.flatMap { case (p, st) =>
      val left = st.cnt - matched.getOrElse(p, 0L)
      if (left > 0) Some(p -> st.copy(cnt = left)) else None
    }
    // `def`: sketch subtraction composes lazily (see StoreHandle.sketches)
    def sketches = {
      val goneDf = matched.toSeq.toDF("p", "gone")
      handle.sketches.join(broadcast(goneDf), Seq("p"), "left")
        .withColumn("cnt", col("cnt") - coalesce(col("gone"), lit(0L)))
        .where(col("cnt") > 0).drop("gone")
    }
    // changed predicates are exactly matched.keys ⊆ the driver-side hash
    // map — rebuild their encoded-key entries without a dictionary job
    val encStats = matched.keys.foldLeft(handle.encStats) { (m, p) =>
      stats.get(p) match {
        case Some(st) => m.updated(hmap(p).toString, st)
        case None => m - hmap(p).toString
      }
    }
    StoreHandle(triples, enc, handle.dict, handle.pureHash, stats, encStats,
      stats.values.map(_.cnt).sum, sketches)
  }

  /** Apply a DISJOINT ground delete+insert batch (an update script's
    * coalesced `DELETE DATA`/`INSERT DATA` run) with ONE shared store
    * probe: because `dels` and `inss` are disjoint triple sets, an
    * insert's duplicate status is the same before and after the removes,
    * so the delete's matched-copy count and the insert's duplicate probe
    * can read a single pre-batch snapshot of the encoded relation in one
    * scan. Falls back to sequential remove+append on repaired stores.
    */
  def applyGroundBatch(spark: SparkSession, handle: StoreHandle,
                       dels: Seq[(String, String, String)],
                       inss: Seq[(String, String, String)]): StoreHandle = {
    import spark.implicits._
    if (!handle.pureHash) {
      var h = handle
      if (dels.nonEmpty) h = removeLocal(spark, h, dels)
      if (inss.nonEmpty) h = appendLocal(spark, h, inss)
      return h
    }
    val delsD = dels.distinct.filter(t => handle.stats.contains(t._2))
    val inssD = inss.distinct
    val insCand = inssD.filter(t => handle.stats.contains(t._2))
    if (delsD.isEmpty && inssD.isEmpty) return handle
    val hmap = Dictionary.hashTerms(spark,
      (delsD ++ inssD).flatMap(t => Seq(t._1, t._2, t._3)).distinct)
    // one scan, both probes: per-predicate matched-copy counts for the
    // deletes, hit tuples for the insert duplicate check
    val (matched, hitSet): (Map[String, Long], Set[(Long, Long, Long)]) =
      if (delsD.isEmpty && insCand.isEmpty) (Map.empty, Set.empty)
      else {
        val probe = (
          delsD.map(t => ("d", t._2, hmap(t._1), hmap(t._2), hmap(t._3))) ++
            insCand.map(t => ("i", t._2, hmap(t._1), hmap(t._2), hmap(t._3)))
          ).toDF("tag", "pstr", "s", "p", "o")
        // predicate pre-filter: the probe tuples cover few predicates, so
        // a codegen'd `p IN (...)` drops ~all store rows before the join
        // probe (and lets the in-memory scan skip batches by p stats)
        val pids = (delsD ++ insCand).map(t => hmap(t._2)).distinct
        val res = handle.enc.where(col("p").isin(pids: _*))
          .join(broadcast(probe), Seq("s", "p", "o"))
          .groupBy("tag", "pstr", "s", "p", "o")
          .agg(count(lit(1)).as("n")).collect()
        val m = res.filter(_.getString(0) == "d")
          .groupBy(_.getString(1))
          .view.mapValues(_.map(_.getLong(5)).sum).toMap
        val h = res.filter(_.getString(0) == "i")
          .map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).toSet
        (m, h)
      }
    var h = removeLocalCounted(spark, handle, delsD, hmap, matched)
    if (inssD.nonEmpty)
      // the duplicate CONFIRM must read the same pre-batch snapshot the
      // probe did (disjointness makes that equal to the post-remove view)
      h = appendLocalProbed(spark, h, inssD, hmap, hitSet, handle.triples)
    h
  }

  def append(spark: SparkSession, handle: StoreHandle,
             newTriples: DataFrame): StoreHandle = {
    import org.apache.spark.sql.functions.{countDistinct, explode, array, count, lit, broadcast}
    // small batches take the driver-side fast path (bounded collect; a
    // batch over the cap falls through to the distributed machinery below)
    if (handle.pureHash) smallBatch(newTriples) match {
      case Some(rows) => return appendLocal(spark, handle, rows)
      case None =>
    }
    // set semantics (SPARQL Update §3.1.1 / the reference's idempotent
    // LMDB puts): already-present triples drop out of the delta. Three
    // probe tiers, cheapest wins:
    //   1. STATS SKIP — a triple can only be a duplicate if its predicate
    //      already exists; a batch of brand-new predicates (the common
    //      "annotate" pattern) skips the probe without any job.
    //   2. ENCODED probe (pure-hash stores): the certified content hashes
    //      make string equality ⟺ id equality, so the duplicate check
    //      scans the fixed-width encoded relation, not the string store.
    //      (Batch terms aren't certified yet; a false duplicate needs
    //      three aligned 63-bit collisions — the same risk class the
    //      certificate's double-check hash already accepts.)
    //   3. string probe otherwise. All probes broadcast the small batch
    //      and SCAN the store side (never hash-build it), then drop the
    //      found duplicates with a small-small anti-join.
    val newT0 = newTriples.select(col("s"), col("p"), col("o")).distinct()
      .localCheckpoint(true)
    val candPreds = newT0.select(col("p")).distinct().collect()
      .map(_.getString(0)).filter(handle.stats.contains)
    val newT = (
      if (candPreds.isEmpty) newT0
      else if (handle.pureHash) {
        val probe = newT0.where(col("p").isin(candPreds.toIndexedSeq: _*)).select(
          Dictionary.termHash(col("s")).as("s"),
          Dictionary.termHash(col("p")).as("p"),
          Dictionary.termHash(col("o")).as("o"))
        val hits = handle.enc
          .join(broadcast(probe), Seq("s", "p", "o"), "left_semi")
          .distinct().localCheckpoint(true)
        // hash-matched batch rows are CANDIDATE duplicates only: three
        // aligned 63-bit matches could still be a collision, and dropping
        // such a row would silently lose a genuinely new triple (unlike
        // the dictionary certificate there is no repair fallback here).
        // Confirm the tiny candidate set against the string relation —
        // the encoded tier still earns its keep by skipping that scan
        // entirely when no hashes match (the common new-data batch).
        val cand = newT0.as("n").join(broadcast(hits).as("d"),
          Dictionary.termHash(col("n.s")) === col("d.s") &&
            Dictionary.termHash(col("n.p")) === col("d.p") &&
            Dictionary.termHash(col("n.o")) === col("d.o"), "left_semi")
          .select(col("n.s"), col("n.p"), col("n.o")).localCheckpoint(true)
        val out =
          if (cand.isEmpty) newT0
          else {
            val confirmed = handle.triples
              .join(broadcast(cand), Seq("s", "p", "o"), "left_semi").distinct()
            newT0.join(broadcast(confirmed), Seq("s", "p", "o"), "left_anti")
              .localCheckpoint(true)
          }
        graft.Pins.unpin(hits)
        graft.Pins.unpin(cand)
        out
      } else {
        val dups = handle.triples
          .join(broadcast(newT0), Seq("s", "p", "o"), "left_semi")
          .localCheckpoint(true)
        val out = newT0.join(dups, Seq("s", "p", "o"), "left_anti")
          .localCheckpoint(true)
        graft.Pins.unpin(dups)
        out
      })
    if (newT ne newT0) graft.Pins.unpin(newT0)
    // empty-batch early return must still release the batch checkpoint —
    // long-lived sessions would otherwise pin one dead block set per no-op
    // append
    if (newT.isEmpty) { graft.Pins.unpin(newT); return handle }
    val newTerms = newT
      .select(explode(array(col("s"), col("p"), col("o"))).as("term"))
      .where(col("term").isNotNull).distinct().localCheckpoint(true)
    // split batch terms into existing/new and run the delta certificate.
    // Pure-hash store: ONE dictionary scan answers both membership and
    // the external-collision check — a dict row with id == hash(newTerm)
    // is either the term itself (existing) or a genuine hash collision.
    val (existing, newOnly, externalClashDf) =
      if (handle.pureHash) {
        val probe = newTerms
          .select(Dictionary.termHash(col("term")).as("hid"),
            col("term").as("nterm"))
        val hits = handle.dict.join(broadcast(probe), col("id") === col("hid"))
          .select(col("id"), col("term"), col("nterm")).localCheckpoint(true)
        val ex = hits.where(col("term") === col("nterm"))
          .select(col("id"), col("term"))
        val no = probe.join(hits.select(col("nterm")), Seq("nterm"), "left_anti")
          .select(col("hid").as("id"), col("nterm").as("term"))
          .localCheckpoint(true)
        (ex, no, hits.where(col("term") =!= col("nterm")))
      } else {
        // repaired ids are not content-derived: membership and collision
        // need separate scans
        val ex = handle.dict.join(newTerms, Seq("term"), "left_semi")
          .localCheckpoint(true)
        val no = newTerms.join(ex, Seq("term"), "left_anti")
          .select(Dictionary.termHash(col("term")).as("id"), col("term"))
          .localCheckpoint(true)
        val clash = handle.dict.as("d")
          .join(no.as("x"), col("d.id") === col("x.id"))
          .where(col("d.term") =!= col("x.term"))
        (ex, no, clash)
      }
    // certificate restricted to the delta: new ids must not collide with
    // each other nor with any claimed id of a DIFFERENT term
    val internalClash = newOnly.groupBy("id")
      .agg(countDistinct(col("term")).as("n")).where(col("n") > 1)
      .limit(1).count() > 0
    lazy val externalClash = externalClashDf.limit(1).count() > 0
    if (internalClash || externalClash)
      // rare path: full repair ingest over the union (correctness first)
      return ingestTriples(spark, handle.triples.unionAll(newT))
    val dictDelta = if (newOnly.isEmpty) None else Some(newOnly)
    val dict = dictDelta.fold(handle.dict)(handle.dict.unionByName)
    // encode the delta against a broadcast slim dictionary covering
    // exactly the batch's terms (existing ids + freshly assigned ones)
    val slim = org.apache.spark.sql.functions.broadcast(
      existing.unionByName(newOnly))
    val newEnc = Seq("s", "p", "o")
      .foldLeft(newT)((df, c) => Dictionary.encode(df, slim, c))
      .localCheckpoint(true)
    val sketches = TripleStore.mergeSketches(
      handle.sketches,
      if (handle.pureHash) TripleStore.predSketchesHash(newT)
      else TripleStore.predSketchesEnc(newEnc, slim)).localCheckpoint(true)
    // batch-scoped intermediates are superseded once the delta is encoded
    // and sketched: `newTerms` fed the (materialized) existing/newOnly
    // split, `existing` the slim encode dictionary (which the repaired
    // path's sketches read) — free their blocks now rather than leaking
    // one pinned set per append in a long-lived streaming session. (On
    // the pure-hash path `existing` is lazy over the small `hits`
    // checkpoint, which ContextCleaner reaps — unpin is a no-op there.)
    graft.Pins.unpin(newTerms)
    graft.Pins.unpin(existing)
    val stats = statsOf(sketches)
    val encStats = encStatsOf(spark, dict, handle.pureHash, stats)
    // strip origin constraints from checkpointed union arms: a later
    // self-join of the union re-instances one arm's attributes, and
    // Spark 4.1's union constraint rewrite crashes on the stale ids the
    // LogicalRDD's origin-constraint snapshot still carries (see
    // CleanCheckpoint)
    def shield(df: DataFrame): DataFrame =
      CleanCheckpoint.stripOriginConstraints(df)
    logAppend(
      StoreHandle(shield(handle.triples).unionAll(shield(newT)),
        shield(handle.enc).unionAll(shield(newEnc)),
        dict, handle.pureHash, stats, encStats,
        stats.values.map(_.cnt).sum, sketches),
      handle, newT, newEnc, dictDelta)
  }

  /** Batch triple deletion — tombstone-lazy, copy-on-write on compaction
    * (the Delta/Iceberg cost model for immutable storage; the reference
    * instead pays O(1) LMDB point deletes per triple). The surviving
    * relations are LAZY anti-joins against the pinned delete set: a chain
    * of deletes fuses into the next materialization (`compact`/`persist`/
    * the next append's checkpoint) instead of copying the store per
    * batch. The ONE job a delete runs is a semi-join aggregate that
    * counts the matched rows per predicate, so exact counts SUBTRACT and
    * the `(?, p, ?)` count shortcut stays exact. HLL ndv sketches cannot
    * subtract — they are kept and may overestimate after deletion (an
    * optimizer-only input: join ordering degrades gracefully, never
    * correctness; `compact(resketch = true)` restores exactness).
    *
    * The dictionary is APPEND-ONLY (ids of now-orphaned terms stay
    * claimed — the reference convention; decode stays correct, ids stay
    * stable).
    */
  def remove(spark: SparkSession, handle: StoreHandle,
             delTriples: DataFrame): StoreHandle = {
    import org.apache.spark.sql.functions.{broadcast, explode, array, count, lit, sum, coalesce}
    // small delete sets take the driver-side fast path (see appendLocal)
    if (handle.pureHash) smallBatch(delTriples) match {
      case Some(rows) => return removeLocal(spark, handle, rows)
      case None =>
    }
    val delT = delTriples.select(col("s"), col("p"), col("o")).distinct()
      .localCheckpoint(true)
    // the one eager job: matched rows per predicate — counts every COPY
    // of a matched triple (the relation is a bag), so the exact-count
    // subtraction mirrors what the anti-join below removes. AQE
    // broadcasts the small delete set; no store shuffle — a 26-ish-row
    // map-side agg
    val matched = (
      if (handle.pureHash) {
        // certified hashes: existence check scans the fixed-width encoded
        // relation; matched ids map back to string predicates through the
        // (small) hashed delete set itself
        // lazy: trivially derived from the pinned delete set
        val delH = delT.select(col("p").as("pstr"),
          Dictionary.termHash(col("s")).as("s"),
          Dictionary.termHash(col("p")).as("p"),
          Dictionary.termHash(col("o")).as("o"))
        val present = handle.enc.join(
          broadcast(delH.select(col("s"), col("p"), col("o"))),
          Seq("s", "p", "o"), "left_semi")
        present.join(broadcast(delH), Seq("s", "p", "o"))
          .groupBy(col("pstr").as("p")).agg(count(lit(1)).as("gone"))
      }
      else handle.triples.join(delT, Seq("s", "p", "o"), "left_semi")
        .groupBy("p").agg(count(lit(1)).as("gone"))
      ).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (matched.isEmpty) { graft.Pins.unpin(delT); return handle }
    val triples = handle.triples.join(delT, Seq("s", "p", "o"), "left_anti")
    // encode the (small) delete set the same way the store was encoded,
    // then anti-join the encoded relation on fixed-width longs
    val delEnc =
      if (handle.pureHash) Dictionary.encodeByHash(delT, Seq("s", "p", "o"))
      else {
        val delTerms = delT
          .select(explode(array(col("s"), col("p"), col("o"))).as("term"))
          .distinct()
        val slim = broadcast(handle.dict.join(delTerms, Seq("term"), "left_semi"))
        Seq("s", "p", "o").foldLeft(delT)((df, c) => Dictionary.encode(df, slim, c))
      }
    val enc = handle.enc.join(delEnc.select(col("s"), col("p"), col("o")),
      Seq("s", "p", "o"), "left_anti")
    val stats = handle.stats.flatMap { case (p, st) =>
      val left = st.cnt - matched.getOrElse(p, 0L)
      if (left > 0) Some(p -> st.copy(cnt = left)) else None
    }
    // sketches stay mergeable for later appends: counts subtract in the
    // (tiny) sketch relation too, emptied predicates drop out (`def`:
    // composed lazily, see StoreHandle.sketches)
    import spark.implicits._
    def sketches = {
      val goneDf = matched.toSeq.toDF("p", "gone")
      handle.sketches.join(broadcast(goneDf), Seq("p"), "left")
        .withColumn("cnt", col("cnt") - coalesce(col("gone"), lit(0L)))
        .where(col("cnt") > 0).drop("gone")
    }
    val encStats = encStatsOf(spark, handle.dict, handle.pureHash, stats)
    StoreHandle(triples, enc, handle.dict, handle.pureHash, stats, encStats,
      stats.values.map(_.cnt).sum, sketches)
  }

  /** Materialize a handle's (possibly tombstone-lazy) relations into
    * fresh pinned checkpoints — the compaction step after a delete chain.
    * `resketch = true` also rebuilds the ndv sketches exactly from the
    * survivors (one map-side-combined pass).
    */
  def compact(spark: SparkSession, handle: StoreHandle,
              resketch: Boolean = false): StoreHandle = {
    val triples = handle.triples.localCheckpoint(true)
    val enc = handle.enc.localCheckpoint(true)
    val sketches =
      (if (!resketch) handle.sketches
       else if (handle.pureHash) TripleStore.predSketchesHash(triples)
       else TripleStore.predSketchesEnc(enc, dictPredMap(handle.dict, enc)))
        .localCheckpoint(true)
    val stats = statsOf(sketches)
    val encStats = encStatsOf(spark, handle.dict, handle.pureHash, stats)
    StoreHandle(triples, enc, handle.dict, handle.pureHash, stats, encStats,
      stats.values.map(_.cnt).sum, sketches)
  }

  /** An empty store handle (the `CLEAR` target). */
  def empty(spark: SparkSession): StoreHandle = {
    import spark.implicits._
    ingestTriples(spark, Seq.empty[(String, String, String)].toDF("s", "p", "o"))
  }

  /** Append provenance: child handle -> (parent handle, the delta
    * relations that append added). Keys are WEAK — if an intermediate
    * handle is collected, the chain breaks and `persist` falls back to a
    * full rewrite, so correctness never depends on this map. Values hold
    * the parent strongly, keeping a live chain reachable end-to-end.
    */
  private final case class AppendDelta(parent: StoreHandle, deltaT: DataFrame,
                                       deltaEnc: DataFrame,
                                       deltaDict: Option[DataFrame])
  private val appendLog = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[StoreHandle, AppendDelta]())
  /** Handles whose exact relation set is durable at a path (from `open`
    * or a completed `persist`) — the roots incremental persist chains to.
    */
  private val durableAt = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[StoreHandle, String]())

  private def logAppend(child: StoreHandle, parent: StoreHandle,
                        deltaT: DataFrame, deltaEnc: DataFrame,
                        deltaDict: Option[DataFrame]): StoreHandle = {
    appendLog.put(child, AppendDelta(parent, deltaT, deltaEnc, deltaDict))
    child
  }

  private def writeStatsMeta(handle: StoreHandle, path: String): Unit = {
    val spark = handle.triples.sparkSession
    import spark.implicits._
    // persisting the SKETCHES (not just the estimates) keeps later appends
    // against the reopened store O(Δ) too. The relation is per-predicate
    // tiny by design — materialize it DRIVER-SIDE first, because the
    // handle's lazy sketch merge may itself read the stats table this
    // overwrite replaces (write-into-your-own-input).
    val rows = handle.sketches.collect()
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), handle.sketches.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
    Seq(handle.pureHash).toDF("pure_hash")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Persist a handle as the parquet table set a cluster ingest job would
    * write: predicate-partitioned triples (directory pruning for the
    * `(?, p, ?)` access path), the encoded relation, the dictionary, the
    * per-predicate statistics, and a tiny meta table carrying the
    * collision certificate. `open` reconstructs a handle from these
    * WITHOUT recomputing anything — the 100 TB lifecycle (ingest once,
    * query from any later session) instead of the in-session checkpoints
    * the driver gate uses.
    *
    * INCREMENTAL durability: when the handle is an append chain over a
    * store that is already durable at THIS path (it came from `open`, or
    * a previous `persist` here), only the chain's delta rows are written
    * — append-mode parquet adds files, never rewrites existing ones — plus
    * the (tiny) refreshed stats/meta tables. A nightly append to a 100 TB
    * store costs O(Δ) files, not a full-store rewrite. Chains broken by
    * deletes/compaction (anti-join relations) take the full rewrite.
    */
  def persist(handle: StoreHandle, path: String): Unit = {
    @annotation.tailrec
    def chain(h: StoreHandle, acc: List[AppendDelta]): Option[List[AppendDelta]] =
      if (Option(durableAt.get(h)).contains(path)) Some(acc)
      else Option(appendLog.get(h)) match {
        case Some(d) => chain(d.parent, d :: acc)
        case None => None
      }
    chain(handle, Nil) match {
      case Some(deltas) =>
        deltas.foreach { d =>
          TripleStore.persistAppend(d.deltaT, s"$path/triples")
          d.deltaEnc.write.mode("append").parquet(s"$path/enc")
          d.deltaDict.foreach(_.write.mode("append").parquet(s"$path/dict"))
        }
        writeStatsMeta(handle, path)
      case None =>
        // full rewrite, staged then swapped: a handle whose lazy
        // relations READ this path (open + delete chains) must be able
        // to persist back onto it — writing into your own input is
        // otherwise a read-after-delete failure. The stage dir starts
        // with '.' so parquet discovery ignores it if anything scans
        // the store mid-persist.
        val spark = handle.triples.sparkSession
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmp = s"$path/.stage-${java.util.UUID.randomUUID}"
        TripleStore.persist(handle.triples, s"$tmp/triples")
        handle.enc.write.mode("overwrite").parquet(s"$tmp/enc")
        handle.dict.write.mode("overwrite").parquet(s"$tmp/dict")
        writeStatsMeta(handle, tmp)
        Seq("triples", "enc", "dict", "stats", "meta").foreach { t =>
          val dst = new org.apache.hadoop.fs.Path(s"$path/$t")
          fs.delete(dst, true)
          fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/$t"), dst)
        }
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    // this handle's exact state is now durable here: a re-persist is a
    // stats refresh, later appends chain incrementally on top
    durableAt.put(handle, path)
  }

  /** Reopen a persisted store (see `persist`). Reads are lazy DataFrames
    * over the parquet layout; only the (small) stats and meta tables are
    * collected.
    */
  def open(spark: SparkSession, path: String): StoreHandle = {
    // explicit schema pins the partition column `p` to string: a
    // numeric-looking predicate term (legal under the unquoted
    // table-store convention) would otherwise reopen as int via
    // partition-column type inference ("01" -> 1), breaking term
    // equality after a persist/open round-trip
    val tripleSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
    val triples = spark.read.schema(tripleSchema)
      .parquet(s"$path/triples").select("s", "p", "o")
    val enc = spark.read.parquet(s"$path/enc")
    val dict = spark.read.parquet(s"$path/dict")
    val pureHash = spark.read.parquet(s"$path/meta").head().getBoolean(0)
    val sketches = spark.read.parquet(s"$path/stats")
    val stats = statsOf(sketches)
    val encStats = encStatsOf(spark, dict, pureHash, stats)
    val h = StoreHandle(triples, enc, dict, pureHash, stats, encStats,
      stats.values.map(_.cnt).sum, sketches)
    durableAt.put(h, path)
    h
  }

  /** The materialized closure of a corpus as an INGEST ARTIFACT beside
    * the ANN indexes: reason once at ingest (`ReasonOps.rdfsClosure`,
    * `owlClosure`), persist, and let query sessions OPEN it instead of
    * re-deriving. The corpus's layout picks the directory:
    *   - triples: `rdfs_closure`, in the base store's predicate-partitioned
    *     layout, so constant-predicate scans over the closure
    *     directory-prune exactly like base scans;
    *   - quads (`corpus.quads`): `closure_quads`, graph-partitioned
    *     (`TripleStore.persistQuads`: one directory per named graph, the
    *     default graph in the null partition), so a `GRAPH <g>` / FROM
    *     NAMED slice over the closure prunes like a base quad scan.
    * `append = true` folds an O(Δ) increment in, e.g.
    * `persistClosure(ReasonOps.rdfsDelta(tbox, delta), path, append = true)`:
    * it writes only the increment's files (dedup across increments is
    * the documented cost of append-mode maintenance). After a retraction
    * (`rdfsRetract` / `owlRetract`), or when the overlap grows, re-persist
    * the distinct closure.
    */
  def persistClosure(closure: DataFrame, path: String,
                     corpus: ReasonOps.Corpus[Any] = ReasonOps.Corpus.Triples,
                     append: Boolean = false): Unit =
    if (corpus.quads)
      TripleStore.persistQuads(closure, s"$path/closure_quads",
        mode = if (append) "append" else "overwrite")
    else if (append) TripleStore.persistAppend(closure, s"$path/rdfs_closure")
    else TripleStore.persist(closure, s"$path/rdfs_closure")

  /** Reopen the artifact [[persistClosure]] wrote for `corpus`'s layout. */
  def openClosure(spark: SparkSession, path: String,
                  corpus: ReasonOps.Corpus[Any] = ReasonOps.Corpus.Triples)
      : DataFrame =
    if (corpus.quads) TripleStore.openQuads(spark, s"$path/closure_quads")
    else {
      // explicit schema: same partition-column-typing pin as `open`
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("o", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType)))
      spark.read.schema(schema).parquet(s"$path/rdfs_closure")
        .select("s", "p", "o")
    }

  private val gramCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Lazily[DataFrame]]

  /** Shared word-3-gram sets of the documents table, materialized once per
    * (session, dir) — the dedup family's common ingest artifact.
    */
  def docGrams(spark: SparkSession, sfDir: String): DataFrame = {
    evictStopped()
    gramCache.getOrElseUpdate((spark, sfDir),
      new Lazily(graft.ops.DedupOps.gramSets(
        graft.Tables.loadPar(spark, sfDir, "documents")))).value
  }

  private val pairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Double), Lazily[DataFrame]]

  /** Verified near-dup pairs (n-gram Jaccard >= threshold), materialized
    * once per (session, dir, threshold): the pair-mining stage of a dedup
    * pipeline runs once and its output feeds every downstream consumer
    * (clustering, corpus cleaning) — at cluster scale this is the persisted
    * pairs table an ingest job writes.
    */
  def docDupPairs(spark: SparkSession, sfDir: String, threshold: Double): DataFrame = {
    evictStopped()
    // onDegenerate="proceed": the oracle gates replay the exact
    // all-pairs semantics, so the shared pair table keeps the exact
    // path even in the guard's flagged low-threshold regime
    pairCache.getOrElseUpdate((spark, sfDir, threshold),
      new Lazily(graft.ops.DedupOps
        .ngramPairsOver(docGrams(spark, sfDir), threshold,
          onDegenerate = "proceed")
        .localCheckpoint(true))).value
  }

  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), Lazily[(DataFrame, DataFrame)]]

  /** IVF index of the embeddings table — the (centroids, storage-side
    * cell assignment) pair, materialized once per (session, dir, nCent)
    * like `entityAdjacency`: the corpus-side assignment is an INGEST
    * artifact (at cluster scale, the inverted-file table an ingest job
    * writes), so every `ivfSearchWith` call reuses it and recomputes only
    * the query batch's own cells. `nCentroids` ≤ 0 derives the cell count
    * from the corpus size (`VectorOps.clusterCount`, floor 16) so cell
    * population stays ~constant as the corpus grows; the ANN oracles
    * replay the same formula.
    */
  def ivfIndex(spark: SparkSession, sfDir: String,
               nCentroids: Int = 0): (DataFrame, DataFrame) = {
    evictStopped()
    ivfCache.getOrElseUpdate((spark, sfDir, nCentroids), new Lazily({
      val emb = graft.Tables.loadPar(spark, sfDir, "embeddings")
      val nc =
        if (nCentroids > 0) nCentroids
        else graft.ops.VectorOps.clusterCount(emb.count(), floor = 16)
      val cent = graft.ops.VectorOps
        .centroidsOf(emb, col("vec_id") < nc).localCheckpoint(true)
      val cells = graft.ops.VectorOps.ivfAssign(emb, cent, probes = 1)
        .localCheckpoint(true)
      (cent, cells)
    })).value
  }

  private val kmeansCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Int), Lazily[DataFrame]]

  /** Deterministic k-means assignment of the embeddings table
    * (vec_id, embedding, cluster, cos), materialized once per
    * (session, dir, k) — the cluster-index ingest artifact shared by the
    * clustering gate and the semantic-dedup prune (at cluster scale, the
    * assignment table an ingest job writes next to the embeddings;
    * SemDeDup clusters once, then every curation pass reuses the
    * bucketing). `k` ≤ 0 derives the cluster count from the corpus size
    * (`VectorOps.clusterCount`: n / 1024 with a floor of 8) so
    * within-cluster quadratics stay bounded as the corpus grows; the
    * assignment shape auto-switches to broadcast-join at large k
    * (`VectorOps.kmeansAssigned`).
    */
  def kmeansIndex(spark: SparkSession, sfDir: String, k: Int = 0): DataFrame = {
    evictStopped()
    kmeansCache.getOrElseUpdate((spark, sfDir, k), new Lazily({
      val emb = graft.Tables.loadPar(spark, sfDir, "embeddings")
      val kk = if (k > 0) k else graft.ops.VectorOps.clusterCount(emb.count())
      graft.Pins.checkpoint(graft.ops.VectorOps.kmeansAssigned(emb, kk))
    })).value
  }

  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Lazily[(Seq[(Int, Int, Seq[Float])], DataFrame)]]

  /** Product-quantization index of the embeddings table — the (trained
    * codebook, corpus codes) pair, materialized once per (session, dir)
    * like `ivfIndex`: at cluster scale the codes table is the compact
    * ANN index an ingest job writes (m·log₂k bits per vector instead of
    * the float vectors), and every `pqSearch` call reuses it, computing
    * only its own query LUTs.
    */
  def pqIndex(spark: SparkSession, sfDir: String)
      : (Seq[(Int, Int, Seq[Float])], DataFrame) = {
    evictStopped()
    pqCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val emb = graft.Tables.loadPar(spark, sfDir, "embeddings")
      val cb = graft.ops.VectorOps.pqTrain(emb)
      (cb, graft.Pins.checkpoint(graft.ops.VectorOps.pqEncode(emb, cb)))
    })).value
  }

  private val pqResCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Lazily[(Seq[(Int, Int, Seq[Float])], DataFrame)]]

  /** RESIDUAL product-quantization index (codebook trained on
    * x − centroid(cell(x)), codes likewise) — the IVFPQ composition's
    * native artifact pair, materialized once per (session, dir) against
    * the same IVF index `ivfPqSearchResidual` probes with.
    */
  def pqResIndex(spark: SparkSession, sfDir: String)
      : (Seq[(Int, Int, Seq[Float])], DataFrame) = {
    evictStopped()
    pqResCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val emb = graft.Tables.loadPar(spark, sfDir, "embeddings")
      val (cent, cells) = ivfIndex(spark, sfDir)
      val cb = graft.ops.VectorOps.pqTrainResidual(emb, cent, cells)
      (cb, graft.Pins.checkpoint(
        graft.ops.VectorOps.pqEncodeResidual(emb, cent, cells, cb)))
    })).value
  }

  private val binCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Lazily[DataFrame]]

  /** Binary (1-bit-per-dimension) signature table of the embeddings —
    * the smallest ANN tier, materialized once per (session, dir) like
    * `pqIndex`; search passes touch only the 16-byte rows.
    */
  def binaryIndex(spark: SparkSession, sfDir: String): DataFrame = {
    evictStopped()
    binCache.getOrElseUpdate((spark, sfDir), new Lazily({
      graft.Pins.checkpoint(graft.ops.VectorOps.binarySigs(
        graft.Tables.loadPar(spark, sfDir, "embeddings")))
    })).value
  }

  /** Durable ENCODED quad dataset: the certified (ids, dictionary) pair
    * written as parquet — the ingest artifact behind a
    * `Sparql.Dataset.QuadsEncoded` and `Sparql.updateQuadsEnc`, shipped so query
    * sessions skip the encode pass entirely.
    */
  def persistQuadsEnc(spark: SparkSession, sfDir: String,
                      path: String): Unit = {
    val (enc, dict) = quadDatasetEnc(spark, sfDir)
    enc.write.mode("overwrite").parquet(s"$path/quads_enc")
    dict.write.mode("overwrite").parquet(s"$path/quads_dict")
  }

  /** Reopen a persisted encoded quad dataset: (encoded quads, dict). */
  def openQuadsEnc(spark: SparkSession, path: String)
      : (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/quads_enc"),
      spark.read.parquet(s"$path/quads_dict"))

  /** Durable ANN index artifacts: the PQ (codebook, codes) pair, the
    * binary signature table, and the IVF (centroids, cells) pair written
    * as parquet under one directory — what an ingest job ships next to
    * the embeddings so query sessions OPEN indexes instead of
    * re-training/re-encoding the corpus. Codebooks/centroids are tiny
    * driver-side constants; codes/sigs/cells are the corpus-sized (but
    * 30-250× compressed) tables.
    */
  def persistAnnIndexes(spark: SparkSession, sfDir: String,
                        path: String): Unit = {
    import spark.implicits._
    val (cb, codes) = pqIndex(spark, sfDir)
    cb.toDF("sub", "cluster", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/pq_codebook")
    codes.write.mode("overwrite").parquet(s"$path/pq_codes")
    binaryIndex(spark, sfDir).write.mode("overwrite")
      .parquet(s"$path/binary_sigs")
    val (cent, cells) = ivfIndex(spark, sfDir)
    cent.coalesce(1).write.mode("overwrite").parquet(s"$path/ivf_centroids")
    cells.write.mode("overwrite").parquet(s"$path/ivf_cells")
  }

  /** The persisted ANN artifacts, reopened: (pq codebook, pq codes,
    * binary sigs, ivf centroids, ivf cells). Codebook collects driver
    * side (m·k rows) — the same shape `pqSearch` consumes.
    */
  def openAnnIndexes(spark: SparkSession, path: String)
      : (Seq[(Int, Int, Seq[Float])], DataFrame, DataFrame,
         DataFrame, DataFrame) = {
    val cb = spark.read.parquet(s"$path/pq_codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2): Seq[Float]))
      .sortBy(c => (c._1, c._2)).toSeq
    (cb,
      spark.read.parquet(s"$path/pq_codes"),
      spark.read.parquet(s"$path/binary_sigs"),
      spark.read.parquet(s"$path/ivf_centroids"),
      spark.read.parquet(s"$path/ivf_cells"))
  }

  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int), Lazily[(Seq[(Int, String, String, String, Long)], DataFrame)]]

  /** Trained BPE tokenizer of the documents table — (merge table, sealed
    * final vocabulary), materialized once per (session, dir, merges) like
    * `kmeansIndex`: tokenizer training is an ingest-time artifact, and
    * both the merge-table gate and every encode pass reuse it instead of
    * re-running the rounds.
    */
  def bpeModel(spark: SparkSession, sfDir: String, merges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    evictStopped()
    bpeCache.getOrElseUpdate((spark, sfDir, merges), new Lazily(
      graft.ops.TextOps.bpeTrainSealed(
        graft.Tables.loadPar(spark, sfDir, "documents"), merges))).value
  }

  private val adjCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Lazily[DataFrame]]

  private val quadCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Lazily[DataFrame]]

  /** The named-graph quad dataset over the testdata tables: every
    * triple-ized row tagged with its entity table's graph. An ingest
    * artifact like the adjacencies — `Sparql.updateQuads` keeps its op
    * chains NARROW (broadcast probes + unions, no per-op checkpoints),
    * which means the input relation is re-scanned once per
    * self-referencing op (solutions, presence probe, seal); caching it
    * makes each re-scan a memory stream instead of re-running the
    * ten-table unpivot. At cluster scale the same artifact is the
    * persisted (bucketed) quad table the scripts run against.
    */
  def quadDataset(spark: SparkSession, sfDir: String): DataFrame = {
    evictStopped()
    quadCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val q = TripleStore.tableTriples(spark, sfDir).withColumn("g",
        concat(lit("graph:"), substring_index(col("s"), ":", 1)))
      q.persist()
      q.count() // eager: consumers time their own work, not the build
      q
    })).value
  }

  private val quadStatsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String),
      Lazily[(Map[String, graft.bgp.PredStats], Map[String, graft.bgp.PredStats])]]

  /** Per-predicate stats of the quad dataset (count + approx-distinct
    * subjects/objects), keyed BOTH ways: by predicate term (string path)
    * and by the certified encoded id's decimal string (encoded path —
    * `TripleStore.encodeQuads` refuses collisions, so the driver-side
    * hash IS the id). An ingest artifact like the stats of the triple
    * store: it feeds the GRAPH-block pattern ordering (advisory) and
    * Bgp's dataset-absent fail-fast (sound: dataset-wide keys cover
    * every graph).
    */
  def quadStats(spark: SparkSession, sfDir: String)
      : (Map[String, graft.bgp.PredStats], Map[String, graft.bgp.PredStats]) = {
    evictStopped()
    quadStatsCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val q = quadDataset(spark, sfDir)
      val rows = q.groupBy("p").agg(count(lit(1)).as("cnt"),
          approx_count_distinct(col("s")).as("ns"),
          approx_count_distinct(col("o")).as("no"))
        .collect()
      val term = rows.map(r => r.getString(0) ->
        graft.bgp.PredStats(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val byId = term.map { case (k, v) =>
        graft.dict.Dictionary.termHashLocal(k).toString -> v }
      (term, byId)
    })).value
  }

  private val quadEncCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Lazily[(DataFrame, DataFrame)]]

  /** ENCODED quad dataset + dictionary, certified at build
    * (`TripleStore.encodeQuads`), built and cached once per (session,
    * dir): the pair a `Sparql.Dataset.QuadsEncoded` takes, so the four
    * query forms run every named-graph join on fixed-width longs and
    * decode once at the end (`GraftStore.quadStats(...)._2` are its
    * stats).
    */
  def quadDatasetEnc(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    evictStopped()
    quadEncCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val (enc, dict) = TripleStore.encodeQuads(quadDataset(spark, sfDir))
      enc.persist(); enc.count()
      dict.persist(); dict.count()
      (enc, dict)
    })).value
  }

  /** Ranked UNDIRECTED entity adjacency of the store's IRI edges,
    * materialized once per (session, dir) — the walk engine's index, an
    * ingest-time artifact like the gram sets: every walk batch over the
    * same graph reuses it (at cluster scale, a persisted table the ingest
    * job writes next to the triples, BUCKETED by `s`).
    *
    * Materialized as a CACHED frame, not a checkpoint, deliberately: the
    * ranking window leaves the data hash-partitioned by `s`, and an
    * InMemoryRelation PRESERVES that outputPartitioning where a
    * checkpoint's LogicalRDD forgets it — so every iteration of the
    * consumers' per-round join (`... === adj("s")`: PageRank ranks,
    * label-prop labels, walker frontiers) shuffles ONLY its small
    * per-node side while the |E|-sized adjacency streams exchange-free
    * from the cache. On a fixpoint of k rounds that removes k full-edge
    * shuffles — the dominant cost of iterative graph ops at scale.
    */
  def entityAdjacency(spark: SparkSession, sfDir: String): DataFrame = {
    evictStopped()
    adjCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val st = forDir(spark, sfDir)
      val iriEdges = st.triples
        .where(col("o").contains(":") &&
          !col("o").startsWith("\"") && !col("o").startsWith("_:"))
        .select(col("s"), col("o"))
      val adj = graft.ops.GraphOps.rankedAdjacency(
        iriEdges.unionAll(iriEdges.select(col("o").as("s"), col("s").as("o"))))
      adj.persist()
      adj.count() // eager: consumers time their own work, not the build
      adj
    })).value
  }

  /** The entity adjacency on ENCODED node ids (content hashes — sound on
    * certified stores): rank/degree joins move fixed-width longs, and a
    * consumer decodes node ids once at the top through the dictionary —
    * the lazy-decode discipline applied to the graph family. Cached (not
    * checkpointed) to keep the hash-partitioning-by-`s` visible to the
    * per-round joins — see `entityAdjacency`.
    */
  def entityAdjacencyEnc(spark: SparkSession, sfDir: String): DataFrame = {
    evictStopped()
    adjEncCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val st = forDir(spark, sfDir)
      require(st.pureHash, "encoded adjacency needs a certified store")
      val iriEdges = st.triples
        .where(col("o").contains(":") &&
          !col("o").startsWith("\"") && !col("o").startsWith("_:"))
        .select(Dictionary.termHash(col("s")).as("s"),
          Dictionary.termHash(col("o")).as("o"))
      val adj = graft.ops.GraphOps.rankedAdjacency(
        iriEdges.unionAll(iriEdges.select(col("o").as("s"), col("s").as("o"))))
      adj.persist()
      adj.count()
      adj
    })).value
  }

  private val adjEncCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Lazily[DataFrame]]

  /** Triple-level diff of two store handles — one row per changed triple,
    * `change` = "+" (present only in `after`) or "-" (only in `before`).
    * The anti joins run on the ENCODED views (fixed-width ids; at scale
    * both sides shuffle once on the same key), and only the |Δ|-sized
    * difference — not the |store|-sized inputs — decodes through each
    * side's own dictionary. The snapshot-audit primitive for incremental
    * pipelines: what did this update script / ingest batch actually
    * change.
    *
    * LAZY-handle discipline (audited; StoreSpec pins the job bound): a
    * post-update handle's relations are lazy compositions whose delta
    * legs re-run per ACTION, so every multi-pass consumer here seals
    * first — `decodeAll` pins the co-group output before it decodes (one
    * execution of `after.enc`/`before.enc`) and reads the union
    * dictionary at most once (for a small diff no read when both
    * snapshots' driver-held indexes are held, else one probe; one slim
    * semi-join for a large one). Each input relation executes exactly
    * once per diff.
    */
  def diff(spark: SparkSession, before: StoreHandle,
           after: StoreHandle): DataFrame = {
    val keys = Seq("s", "p", "o")
    // ONE pass over each snapshot: a single full-outer co-group yields
    // both directions (vs two anti-joins = two scans of each store's
    // lineage — measured 2x slower when `after` is an unmaterialized
    // update chain). The |delta|-sized survivors then decode once,
    // against the union dictionary so removed-only terms still resolve
    // (along an update chain dictionaries only grow, making the union a
    // near-no-op after dedup).
    val a = after.enc.select(keys.map(col): _*).withColumn("__a", lit(1))
    val b = before.enc.select(keys.map(col): _*).withColumn("__b", lit(1))
    // decodeAll pins the |Δ|-sized survivors, so the snapshot co-group
    // runs ONCE; the union dictionary stays raw — decodeAll probes it
    // for the appearing ids only instead of shuffling |dict|
    val delta = a.join(b, keys, "full_outer")
      .where(col("__a").isNull || col("__b").isNull)
      .withColumn("change", when(col("__b").isNull, lit("+")).otherwise(lit("-")))
      .select(col("change") +: keys.map(col): _*)
    // the union's index reads both snapshots' indexes (no job when held)
    val dict = after.dict.unionByName(before.dict)
    val index = TermIndex.attach(
      TermIndex.derived(dict, Seq(after.dictIndex, before.dictIndex), Nil))
    try Dictionary.decodeAll(delta, dict, keys)
      .select(col("change"), col("s"), col("p"), col("o"))
    finally java.lang.ref.Reference.reachabilityFence(index)
  }

  private val adjRankCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Lazily[(DataFrame, DataFrame)]]

  /** The entity adjacency on dense ORDER-PRESERVING node ranks, plus the
    * (node, rk) dictionary — min-label propagation iterates on
    * fixed-width longs whose `min` picks the SAME representative as the
    * string `min` (rank order ≡ node order), and decodes once at the
    * top. An ingest-time artifact like the other adjacencies (at cluster
    * scale: ranks assigned by the ingest sort, both tables persisted
    * bucketed). Cached, not checkpointed, for the same
    * partitioning-preservation reason as `entityAdjacency`.
    */
  def entityAdjacencyRanked(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame) = {
    evictStopped()
    adjRankCache.getOrElseUpdate((spark, sfDir), new Lazily({
      val adj = entityAdjacency(spark, sfDir)
      val ranks = graft.ops.GraphOps.orderRanks(adj.select(col("s")))
      ranks.persist(); ranks.count()
      val o2 = ranks.select(col("node").as("o"), col("rk").as("ork"))
      val edges = adj.select(col("s"), col("o"))
      val adjRk = graft.ops.GraphOps.rankedAdjacency(
        edges.join(ranks, edges("s") === ranks("node")).join(o2, Seq("o"))
          .select(col("rk").as("s"), col("ork").as("o")))
      adjRk.persist(); adjRk.count()
      (adjRk, ranks)
    })).value
  }

  private val ntCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Lazily[StoreHandle]]

  /** Ingested handle over an N-Triples file (or glob), cached per
    * (session, path) like `forDir` — the reference's `loadNtriples` →
    * query lifecycle for RDF-file corpora (e.g. the LUBM benchmark set).
    */
  def forNTriples(spark: SparkSession, path: String): StoreHandle = {
    evictStopped()
    ntCache.getOrElseUpdate((spark, path),
      new Lazily(ingestTriples(spark,
        TripleStore.parseNTriples(spark, path)))).value
  }

  /** Certified store over Turtle files — the `forNTriples` analog for the
    * format most published RDF ships in (`TripleStore.parseTurtle`:
    * per-FILE parallel parse, per-file blank-node scopes). Cached per
    * (session, path) like every ingest artifact.
    */
  def forTurtle(spark: SparkSession, path: String): StoreHandle = {
    evictStopped()
    ntCache.getOrElseUpdate((spark, "ttl:" + path),
      new Lazily(ingestTriples(spark,
        TripleStore.parseTurtle(spark, path)))).value
  }

  /** Test hook: drop cached handles (e.g. between suites). */
  def invalidate(): Unit = {
    cache.clear(); gramCache.clear(); pairCache.clear()
    adjCache.clear(); adjEncCache.clear(); ivfCache.clear()
    kmeansCache.clear(); bpeCache.clear(); ntCache.clear()
    quadCache.clear(); quadEncCache.clear()
  }
}
