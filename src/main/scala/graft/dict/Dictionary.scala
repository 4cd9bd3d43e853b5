package graft.dict

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{InSetColumn, SQLExecution}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Distributed string<->id dictionary.
  *
  * Re-expresses the reference's dictionary (graphula
  * `core/src/main/scala/com/graphula/dictionary/Dictionary.scala:34-211`):
  * id = xxhash64(bytes) & Long.MaxValue (forced non-negative), with a
  * collision-escape path for the rare strings whose hashes collide.
  *
  * Spark-first design, built for 100 TB:
  *   - ids are content-derived (`xxhash64`, a codegen'd built-in), so two
  *     independent encode jobs agree on ids without coordination — no global
  *     sequence, no driver bottleneck, encode is embarrassingly parallel.
  *   - THE FAST PATH IS A PURE EXPRESSION: once `collisionFree` certifies the
  *     term universe (one aggregate pass), `encode` is just
  *     `xxhash64(col) & MaxValue` — a projection inside whole-stage codegen,
  *     no join, no shuffle. At 10^10 distinct terms the probability of any
  *     63-bit collision is small but not zero; the certificate makes relying
  *     on it sound instead of hopeful.
  *   - collision repair (rare path) ranks ONLY the colliding hash groups —
  *     never a window over the full dictionary.
  *   - decode touches only the SELECTed output columns — the analog of the
  *     reference's lazy per-variable decode (`LazyBinding.scala:22-28`).
  *     `decodeAll` decodes a result of at most `localDecodeCap` rows on the
  *     driver, as graphula does in process: one bounded collect (none for
  *     a local relation), then each id is looked up in the dictionary's
  *     driver-held [[TermIndex]] (a store dictionary of at most
  *     `TermIndex.Cap` terms; other dictionaries get one probe job), and
  *     the rows come back as a local relation. A larger result falls back
  *     to a distributed decode: one dictionary pass for any number of
  *     output columns, joined back per column.
  */
object Dictionary {

  /** Non-negative xxhash64 of a string column — the id function (D4). */
  def termHash(c: Column): Column =
    xxhash64(c).bitwiseAND(lit(Long.MaxValue))

  /** Expression-based encode (D1 fast path): replace string columns with
    * their content-derived ids in one codegen'd projection. Sound whenever
    * the term universe passed `collisionFree`.
    */
  def encodeByHash(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, termHash(col(c))))

  /** One aggregate pass certifying that no two distinct terms share a hash
    * (the analog of the reference's collision-exception table being empty).
    * `terms` = any single-string-column DataFrame.
    *
    * Screening pass shuffles only small fixed-width check tuples — map-side
    * partial aggregation collapses duplicates before the exchange, and no
    * strings ever cross the wire. The check value pairs the 32-bit murmur3
    * with an INDEPENDENTLY-seeded xxhash64 (the seed literal changes the
    * input stream), so a false negative needs one term pair to collide on
    * the 63-bit id hash AND both check hashes simultaneously: ~2^-159 per
    * pair — below any realistic term universe (at 10^12 distinct terms,
    * ~10^24 pairs, the aggregate false-negative probability is ~2^-79).
    * The certificate is therefore probabilistic but with margin far beyond
    * hardware error rates; a suspect group (>1 distinct check value under
    * one id hash) still triggers the exact string-level re-verification, so
    * positives are always confirmed exactly.
    */
  def collisionFree(terms: DataFrame,
                    hashExpr: Column => Column = termHash): Boolean = {
    val col0 = terms.columns.head
    val t = terms.select(col(col0).cast("string").as("term"))
      .where(col("term").isNotNull)
    val checkHash = struct(hash(col("term")),
      xxhash64(lit(-7046029254386353131L), col("term")))
    val suspects = t
      .groupBy(hashExpr(col("term")).as("h"))
      .agg(countDistinct(checkHash).as("n"))
      .where(col("n") > 1).limit(1).count()
    if (suspects == 0L) return true
    // exact fallback: string-level distinct over the (rare) suspect case
    t.distinct()
      .groupBy(hashExpr(col("term")).as("h"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1).limit(1).count() == 0L
  }

  /** Ids of literal terms without touching any table — driver-side, no
    * job (`termHashLocal` is the same xxhash64 Catalyst computes). Valid
    * under the same collision-free certificate as `encodeByHash`.
    */
  def hashLiterals(spark: SparkSession, terms: Seq[String]): Map[String, Long] =
    terms.iterator.map(t => t -> termHashLocal(t)).toMap

  /** Build a dictionary `(id: Long, term: String)` from a single-string-column
    * DataFrame (D1). Fast path: no collisions -> id = hash, one distinct plus
    * one certifying aggregate. Rare path: deterministic repair over only the
    * colliding groups — collision losers (ordered by term) get `hash + rank`
    * probe ids, re-checked against the claimed-id set so the result is
    * collision-free regardless of hash quality. `hashExpr` is injectable for
    * tests (the reference forces collisions with a `hash % 10`
    * "terribleHasher"; we do the same).
    */
  def build(terms: DataFrame, hashExpr: Column => Column = termHash): DataFrame = {
    val col0 = terms.columns.head
    // Materialize the distinct term set once (eager local checkpoint): the
    // certificate aggregate, any repair rounds, and every downstream
    // encode/decode read the materialized set instead of re-shuffling the
    // raw term stream. At ingest scale this is the dictionary table write.
    val base = terms.select(col(col0).cast("string").as("term"))
      .where(col("term").isNotNull).distinct()
      .withColumn("h", hashExpr(col("term")))
      .localCheckpoint(true)
    val collidedHashes = base.groupBy("h").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("h")
    if (collidedHashes.limit(1).count() == 0L)
      return base.select(col("h").as("id"), col("term"))

    // Rare path: rank within each colliding hash group; rank 1 keeps the
    // hash as id, losers probe. The window runs over ONLY colliding groups.
    val clean = base.join(collidedHashes, Seq("h"), "left_anti")
      .select(col("h").as("id"), col("term"), lit(false).as("escaped"))
    val w = Window.partitionBy("h").orderBy("term")
    val dirty = base.join(collidedHashes, Seq("h"), "left_semi")
      .withColumn("rk", row_number().over(w))
      .withColumn("id", when(col("rk") === 1, col("h"))
        .otherwise(pmod(col("h") + col("rk"), lit(Long.MaxValue))))
      .select(col("id"), col("term"), (col("rk") > 1).as("escaped"))
    var dict = clean.unionAll(dirty)
    // Probe loop: an escape id may itself collide with a claimed id.
    // Each round re-ranks only the still-colliding ids; with a sane hash
    // this loop body never runs (guarded by a cheap count over a tiny set).
    var rounds = 0
    var clashes = clashCount(dict)
    while (clashes > 0 && rounds < 64) {
      val w2 = Window.partitionBy("id").orderBy("term")
      dict = dict
        .withColumn("rk", row_number().over(w2))
        .withColumn("id", when(col("rk") === 1, col("id"))
          .otherwise(pmod(col("id") + lit(1L << (rounds + 20)) + col("rk"), lit(Long.MaxValue))))
        .select(col("id"), col("term"), (col("escaped") || col("rk") > 1).as("escaped"))
      dict = dict.localCheckpoint(true) // cut lineage; loop is bounded + rare
      clashes = clashCount(dict)
      rounds += 1
    }
    dict.select("id", "term")
  }

  private def clashCount(dict: DataFrame): Long =
    dict.groupBy("id").count().where(col("count") > 1).limit(1).count()

  /** Encode: replace string column `c` with its dictionary id via join
    * (D1/D2 general path — needed only when the dictionary carries escaped
    * ids). Inner join: terms absent from the dictionary drop out, which is
    * the analog of the reference's dictionary-miss fail-fast (id 0 -> empty).
    */
  def encode(df: DataFrame, dict: DataFrame, c: String): DataFrame = {
    val d = dict.select(col("term").as(s"__t_$c"), col("id").as(s"__id_$c"))
    df.join(d, df(c) === d(s"__t_$c"), "inner")
      .drop(c, s"__t_$c")
      .withColumnRenamed(s"__id_$c", c)
  }

  /** Decode: replace id column `c` with its term (D3). Ids with no entry
    * render as `_:<id>` — the reference's blank-node convention
    * (`Dictionary.scala:103-118`).
    */
  def decode(df: DataFrame, dict: DataFrame, c: String): DataFrame = {
    val d = dict.select(col("id").as(s"__i_$c"), col("term").as(s"__term_$c"))
    df.join(d, df(c) === d(s"__i_$c"), "left")
      .withColumn(s"__term_$c",
        coalesce(col(s"__term_$c"), concat(lit("_:"), col(c).cast("string"))))
      .drop(c, s"__i_$c")
      .withColumnRenamed(s"__term_$c", c)
  }

  /** Row cap of `decodeAll`'s driver-side decode: the most rows the
    * driver ever receives from one decode. The update-script driver paths
    * (`Sparql.smallModifySols`, `GraftStore.smallBatch`) use the same cap.
    * Scoped per thread, so a spec can force the distributed decode
    * (`localDecodeCap.withValue(0) { ... }`) without touching the
    * session's conf.
    */
  private[graft] val LocalCap = 65536
  private[graft] val localDecodeCap = new scala.util.DynamicVariable[Int](LocalCap)

  /** Decode the id columns `cols` of `df` to their terms, keeping `df`'s
    * column order and every other column as it is. Ids with no entry
    * render as `_:<id>`; null ids stay null. Runs eagerly. `local` adds
    * (id, term) entries over `dict` (a query's constants absent from the
    * store).
    *
    * `df` is pinned once (lazily, through `Pins`, unless it already is a
    * pin or a local relation), and ONE bounded-collect job materializes
    * it ([[collectBounded]]; none for a local relation). A result of at
    * most `localDecodeCap` rows is decoded on the driver by
    * [[decodeRows]] — from `dict`'s driver-held index with no job, else
    * one dictionary probe job — and comes back as a local relation: the
    * caller's collect starts no job. A larger result (or a non-long id
    * column) keeps the distributed decode over the same pin: semi-filter
    * the dictionary down to the ids that appear, pin that slim mapping,
    * broadcast-join it per column.
    */
  def decodeAll(df: DataFrame, dict: DataFrame, cols: Seq[String],
                local: Seq[(Long, String)] = Nil): DataFrame = {
    val pinned =
      if (graft.Pins.isPinned(df) || isLocal(df)) df else graft.Pins.checkpointLazy(df)
    val decodePos = cols.map(df.schema.fieldIndex).toSet
    val rows =
      if (decodePos.forall(i => df.schema(i).dataType == LongType))
        collectBounded(pinned, localDecodeCap.value)
      else None
    rows match {
      case Some(rs) =>
        if (pinned ne df) graft.Pins.unpin(pinned)
        val d = decodeRows(rs.toSeq, df.schema, decodePos, dict, local = local)
        df.sparkSession.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(d.rows).asJava, d.schema)
      case None =>
        val ids = cols.map(c => pinned.select(col(c).cast("long").as("id")))
          .reduce(_.unionAll(_)).distinct()
        // dedup AFTER the semi filter, on the |appearing-ids|-sized slim
        // mapping: callers may pass a union of overlapping dictionaries
        // (snapshot diff decodes removed-only terms through before+after),
        // and deduping the full union first would shuffle |dict| rows to
        // serve a |delta|-sized decode. Overlapping entries are identical
        // (id, term) pairs along an update chain, so the pick is stable.
        val slim = graft.Pins.checkpoint(
          withLocal(dict, local).join(ids, Seq("id"), "left_semi").dropDuplicates("id"))
        cols.foldLeft(pinned)((d, c) => decode(d, broadcast(slim), c))
          .select(df.columns.toSeq.map(col): _*)
    }
  }

  /** Are `df`'s rows already on the driver — a plan the optimizer folds
    * into a local relation (e.g. a driver-side decode's result)?
    */
  private[graft] def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Collected rows with their id columns decoded (see [[decodeRows]]):
    * the rows and schema, plus id → term for every probed id the
    * dictionary (or `local`) holds, and the full probed id set.
    */
  private[graft] final case class DecodedRows(rows: Seq[Row], schema: StructType,
                                              terms: Map[Long, String],
                                              probed: Set[Long])

  /** Driver-side decode of collected rows: the long columns at
    * `decodePos` become their terms (`_:<id>` when absent, null stays
    * null), resolved together with `extraIds` — callers can resolve other
    * ids at the same time. The ids are looked up in `dict`'s driver-held
    * [[TermIndex]] with no job, `local` entries over it; a dictionary
    * without a held index costs ONE probe job over the distinct ids of
    * `dict` ∪ `local`. Every other column keeps its type and value, so
    * expressions over the result (e.g. a CONSTRUCT skolem's row hash)
    * match the distributed decode bit for bit.
    */
  private[graft] def decodeRows(rows: Seq[Row], schema: StructType,
                                decodePos: Set[Int], dict: DataFrame,
                                extraIds: Set[Long] = Set.empty,
                                local: Seq[(Long, String)] = Nil): DecodedRows = {
    val probed = rows.iterator.flatMap(r =>
      decodePos.iterator.filter(i => !r.isNullAt(i)).map(r.getLong)).toSet ++ extraIds
    val terms: Map[Long, String] =
      if (probed.isEmpty) Map.empty
      else TermIndex.held(dict) match {
        case Some(index) =>
          val over = local.toMap
          probed.iterator.flatMap(i => over.get(i).orElse(index.get(i)).map(i -> _)).toMap
        case None =>
          withLocal(dict, local).where(InSetColumn(col("id"), probed.map(i => i: Any)))
            .select("id", "term").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
      }
    val outSchema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (decodePos(i)) StructField(f.name, StringType, f.nullable) else f
    })
    val out = rows.map { r =>
      Row.fromSeq(schema.fields.indices.map { i =>
        if (!decodePos(i)) r.get(i)
        else if (r.isNullAt(i)) null
        else terms.getOrElse(r.getLong(i), "_:" + r.getLong(i))
      })
    }
    DecodedRows(out, outSchema, terms, probed)
  }

  /** `dict` with the (id, term) entries `local` after its own rows. */
  private def withLocal(dict: DataFrame, local: Seq[(Long, String)]): DataFrame =
    if (local.isEmpty) dict
    else {
      import dict.sparkSession.implicits._
      dict.unionByName(local.toDF("id", "term"))
    }

  /** `df`'s rows on the driver if it holds at most `cap` of them, else
    * None — in ONE job over every partition. Each task materializes its
    * partition (a lazy pin is filled here) and ships its rows only if it
    * holds at most ⌈cap / partitions⌉ of them, otherwise only its row
    * count. So the driver never receives more than `cap` rows, and no
    * `spark.sql.limit.*` setting or CollectLimit scale-up job is involved.
    * When a task shipped only its count but the exact total is still
    * within `cap` (skewed partitions), a second job fetches just those
    * partitions. Rows come back in partition order. A plan the optimizer
    * folds into a local relation is collected without a job.
    */
  private[graft] def collectBounded(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    collectRows(df, cap).map(_.map(r => toRow(r).asInstanceOf[Row]))
  }

  /** [[collectBounded]] in Catalyst's internal row form (copies the
    * caller may keep).
    */
  private[graft] def collectRows(df: DataFrame, cap: Int): Option[Array[InternalRow]] = {
    val qe = df.queryExecution
    if (isLocal(df)) return Some(qe.executedPlan.executeCollect()).filter(_.length <= cap)
    val sc = df.sparkSession.sparkContext
    SQLExecution.withNewExecutionId(qe, Some("collectBounded")) {
      val rdd = qe.toRdd
      val n = rdd.getNumPartitions
      // no partitions (e.g. AQE proved the result empty): a job over
      // them would still be posted to listeners
      if (n == 0) return Some(Array.empty[InternalRow])
      val share = (cap.toLong + n - 1) / n
      val first = sc.runJob(rdd, (it: Iterator[InternalRow]) => {
        val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        var seen = 0L
        while (it.hasNext) {
          val r = it.next()
          seen += 1
          if (seen <= share) buf += r.copy()
        }
        if (seen <= share) Right(buf.toArray) else Left(seen)
      })
      val total = first.iterator.map(_.fold(identity, _.length.toLong)).sum
      if (total > cap) None
      else {
        val over = first.indices.filter(i => first(i).isLeft)
        val refetched =
          if (over.isEmpty) Map.empty[Int, Array[InternalRow]]
          else over.zip(sc.runJob(rdd,
            (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, over)).toMap
        Some(first.indices.iterator.flatMap(i =>
          refetched.getOrElse(i, first(i).toOption.get)).toArray)
      }
    }
  }

  /** `df`'s rows when it holds at most `cap` of them ([[collectRows]]:
    * one bounded job, none for a local relation), else None; a negative
    * `cap` (a spec's or probe's forced distributed path) returns None
    * without a job. */
  private[graft] def rowsWithin(df: DataFrame, cap: Int): Option[Array[InternalRow]] =
    if (cap < 0) None else collectRows(df, cap)

  /** The size gate of the driver paths: `onDriver` over the rows of
    * `input` when [[rowsWithin]] `cap` returns them and `onDriver` takes
    * them (None: rows its driver algorithm does not read, e.g. null
    * terms), else `distributed` over `input`. An input that is neither
    * local nor `materialized` (a checkpoint or cached frame) is pinned
    * lazily first, so the collect's one job fills the pin and the
    * distributed plan reads it instead of re-running the input's plan;
    * the pin is dropped on return (both paths materialize or pin what
    * they keep). */
  private[graft] def gated[T](input: DataFrame, materialized: Boolean, cap: Int)(
      onDriver: Array[InternalRow] => Option[T])(distributed: DataFrame => T): T = {
    val in =
      if (materialized || isLocal(input)) input
      else graft.Pins.checkpointLazy(input)
    try rowsWithin(in, cap).flatMap(onDriver).getOrElse(distributed(in))
    finally if (in ne input) graft.Pins.unpin(in)
  }

  /** Driver-side point lookup (D2): ids for a small set of query constants.
    * Returns only the terms present; a missing term means the query can be
    * failed fast (reference: `GraphulaStageGenerator.scala:107-110`). On
    * a pure-hash dictionary with a driver-held [[TermIndex]] each term is
    * hashed and compared with the entry under its id, with no job; any
    * other dictionary is scanned.
    */
  def lookup(dict: DataFrame, terms: Seq[String]): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    TermIndex.hashed(dict) match {
      case Some(index) =>
        terms.iterator.map(t => t -> termHashLocal(t))
          .filter { case (t, id) => index.get(id).contains(t) }.toMap
      case None =>
        dict.where(col("term").isin(terms: _*))
          .select("term", "id").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
  }

  /** One dictionary scan answering, for a small driver-side term set on a
    * CERTIFIED (pure-hash) store, both membership and hash-claim safety:
    * which terms are present, and whether any term's content hash is
    * claimed by a DIFFERENT term — the one case where expression-encoded
    * constants would alias a store term (so callers must fall back to the
    * string path). Returns (present terms, clash?). With a driver-held
    * [[TermIndex]] the scan is one hash and one lookup per term, no job.
    */
  def probeClaims(spark: SparkSession, dict: DataFrame, terms: Seq[String])
      : (Set[String], Boolean) = {
    if (terms.isEmpty) return (Set.empty, false)
    // (probe term, held term) for every term whose hash id is claimed
    val hits: Seq[(String, String)] = TermIndex.hashed(dict) match {
      case Some(index) => terms.flatMap(t => index.get(termHashLocal(t)).map(t -> _))
      case None =>
        import spark.implicits._
        // hash through the same codegen'd expression the store encode uses
        // (driver-side local relation — Catalyst folds it without a job)
        val probe = terms.toDF("pterm")
          .select(termHash(col("pterm")).as("hid"), col("pterm"))
        dict.join(broadcast(probe), col("id") === col("hid"))
          .select(col("pterm"), col("term")).collect()
          .map(r => r.getString(0) -> r.getString(1)).toSeq
    }
    (hits.collect { case (t, held) if t == held => t }.toSet,
      hits.exists { case (t, held) => t != held })
  }

  /** Driver-side twin of `termHash`: the EXACT xxhash64(seed 42) Catalyst
    * evaluates, called through Spark's own hash function so locally
    * computed ids agree with expression-encoded ids bit-for-bit (spec'd
    * in DictionarySpec). Hashing a handful of constants must not cost a
    * Spark action — an update script hashes a few strings per op, and
    * even a local-relation collect pays ~0.1-0.3 s of plan/codegen cycle.
    */
  def termHashLocal(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType, 42L) & Long.MaxValue

  /** Driver-side term→id map for a small term set — `termHashLocal`
    * applied in a plain loop (no job, no plan).
    */
  def hashTerms(spark: SparkSession, terms: Seq[String]): Map[String, Long] =
    terms.iterator.map(t => t -> termHashLocal(t)).toMap
}
