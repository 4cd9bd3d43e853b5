package graft.dict

import java.lang.ref.WeakReference

import scala.collection.immutable.HashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions.col

/** Driver-held `id → term` index of one store dictionary: the analog of
  * graphula decoding a binding in process, one dictionary lookup per
  * variable (`LazyBinding.scala:22-28`). Decode ([[Dictionary.decodeRows]])
  * reads it instead of probing the dictionary in a Spark job, and on a
  * pure-hash (certified) dictionary a term probe ([[Dictionary.lookup]],
  * [[Dictionary.probeClaims]]) hashes the term and compares it with the
  * entry under its id.
  *
  * An index is built on first use, once, with one
  * `Dictionary.collectRows` job over the dictionary; past
  * `StoreHandle.SliceRows` terms it records "not held" and readers keep
  * the probe. A derived index (an update's dictionary: its parent's plus
  * the update's new `(id, term)` pairs, or a union of two dictionaries)
  * is resolved from its parents on the driver, with no job, into a
  * persistent map that shares structure with theirs.
  *
  * The index rides on its dictionary frame's analyzed plan, weakly (the
  * store handle holds it), so a reader handed that frame finds it, as
  * `StoreHandle` hangs its slices on `enc` and `triples`.
  */
final class TermIndex private (private[graft] val dict: DataFrame,
                               private[graft] val pureHash: Boolean,
                               private val parents: Seq[TermIndex],
                               private val delta: Seq[(Long, String)]) {
  // null: not decided yet; None: over the cap, readers keep the probe
  @volatile private var decided: Option[HashMap[Long, String]] = null

  /** The entries, deciding them on first use (single-flight). */
  private[graft] def entries: Option[HashMap[Long, String]] = {
    if (decided == null) synchronized {
      if (decided == null) decided = resolve()
    }
    decided
  }

  private def resolve(): Option[HashMap[Long, String]] =
    if (parents.isEmpty) build()
    else {
      // an update chain nobody read can be long: walk up to the nearest
      // decided ancestor (or a root) instead of recursing
      var deltas = List(delta)
      var up = parents
      while (up.size == 1 && up.head.decided == null && up.head.parents.nonEmpty) {
        deltas ::= up.head.delta
        up = up.head.parents
      }
      val bases = up.map(_.entries)
      if (bases.exists(_.isEmpty)) None
      else Some(deltas.foldLeft(bases.flatten.reduce(_ ++ _))(_ ++ _))
        .filter(_.size <= TermIndex.Cap)
    }

  private def build(): Option[HashMap[Long, String]] =
    Dictionary.collectRows(
        dict.select(col("id").cast("long"), col("term").cast("string")), TermIndex.Cap)
      .map { rows =>
        val b = HashMap.newBuilder[Long, String]
        rows.foreach { r =>
          if (!r.isNullAt(0))
            b += r.getLong(0) -> (if (r.isNullAt(1)) null else r.getUTF8String(1).toString)
        }
        b.result()
      }
}

private[graft] object TermIndex {
  /** Most terms an index holds. */
  val Cap: Int = graft.store.StoreHandle.SliceRows.toInt

  private val Tag = TreeNodeTag[WeakReference[TermIndex]]("graft.termIndex")

  private def tagged(dict: DataFrame): Option[TermIndex] = {
    val plan = dict.queryExecution.analyzed
    plan.getTagValue(Tag).flatMap(r => Option(r.get))
      .filter(_.dict.queryExecution.analyzed eq plan)
  }

  /** Hang `ix` on its dictionary frame. */
  def attach(ix: TermIndex): TermIndex = {
    ix.dict.queryExecution.analyzed.setTagValue(Tag, new WeakReference(ix))
    ix
  }

  /** The index `dict` carries, else a fresh lazy one hung on it (no job
    * here). */
  def of(dict: DataFrame, pureHash: Boolean): TermIndex =
    tagged(dict).filter(_.pureHash == pureHash)
      .getOrElse(attach(new TermIndex(dict, pureHash, Nil, Nil)))

  /** The index of `dict` = the union of `parents`' dictionaries plus the
    * pairs `delta` (ids none of them holds), resolved lazily on the
    * driver.
    */
  def derived(dict: DataFrame, parents: Seq[TermIndex],
              delta: Seq[(Long, String)]): TermIndex =
    new TermIndex(dict, parents.forall(_.pureHash), parents, delta)

  /** The held entries of `dict`'s index, if it carries one within the cap
    * (built here on first use). None under
    * `StoreHandle.useSlices.withValue(false)`, the seam that forces the
    * probes.
    */
  def held(dict: DataFrame): Option[HashMap[Long, String]] =
    if (!graft.store.StoreHandle.useSlices.value) None
    else tagged(dict).flatMap(_.entries)

  /** [[held]] entries of a pure-hash dictionary, where a term's id is its
    * content hash, so a term probe is a hash and one lookup.
    */
  def hashed(dict: DataFrame): Option[HashMap[Long, String]] =
    if (!graft.store.StoreHandle.useSlices.value) None
    else tagged(dict).filter(_.pureHash).flatMap(_.entries)
}
