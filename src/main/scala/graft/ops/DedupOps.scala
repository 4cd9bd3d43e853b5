package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for training-data pipelines, built Spark-first:
  * every stage is a declarative DataFrame op (codegen'd HOFs, hash joins,
  * map-side-combined aggregates); nothing touches the driver except the
  * final small pair/cluster sets.
  *
  * Four strategies over the `documents` table:
  *   - exact n-gram Jaccard with an inverted-index blocking join
  *     (recall = 1.0 for any threshold > 0: a qualifying pair shares >= 1
  *     gram, so it appears in some posting list);
  *   - MinHash + LSH banding (64 permutations, 16 bands x 4 rows) with an
  *     exact-Jaccard verification join (the scale path: candidate volume is
  *     ~linear in near-dup density, not quadratic in corpus size);
  *   - 32-bit SimHash fingerprints from per-token polynomial hashes
  *     (identical fold as TextOps.polyHash, so DuckDB can replay it);
  *   - connected components over the verified near-dup pair graph
  *     (`GraphOps.connectedComponents`), assigning each duplicate
  *     document its cluster representative.
  */
object DedupOps {

  /** Exact set Jaccard of two (already-distinct) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** (doc_id, grams) with the word-n-gram set of each document; documents
    * too short to form a gram drop out (they cannot near-dup by n-grams).
    * Materialized eagerly: three downstream joins read it.
    */
  def gramSets(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), TextOps.wordNgrams(col("text"), n).as("grams"))
      .where(size(col("grams")) > 0)
      .localCheckpoint(true)

  /** All-pairs n-gram Jaccard >= threshold via PREFIX-FILTERED blocking
    * (the PPJoin family, Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection"): order each document's grams by ascending
    * document frequency, index only the first |A| - ceil(t*|A|) + 1 grams.
    * Any pair with J >= t MUST share a prefix gram (prefix-filter theorem),
    * so recall stays exactly 1 — but corpus-scale stopword grams ("of the
    * and") have the highest DF, sort LAST, and almost never enter a
    * prefix, so no posting list explodes quadratically. A length filter
    * (t*|A| <= |B| <= |A|/t) prunes the candidate join further. Candidates
    * are then verified with the exact set Jaccard, so the output is
    * identical to the naive all-pairs join.
    *
    * DEGENERACY GUARD (measured, mechanical): on template-heavy corpora
    * at low thresholds the prefix can no longer avoid shared grams —
    * when the prefix length exceeds a document's rare-gram count, dense
    * postings enter every prefix and the candidate join goes
    * near-quadratic (measured: 5,000 docs at t=0.5 → 119,907 candidates
    * for 256 true pairs, and no exact prefix-family filter separates
    * them). Before joining, the PREDICTED candidate volume
    * Σ_gram C(|posting|, 2) over the built prefix is compared against
    * `budgetPerDoc × |docs|` (explicit parameter beats the
    * `spark.graft.dedup.prefixBudgetPerDoc` session conf, default 8):
    * `onDegenerate = "fail"` (default) rejects loudly with a
    * [[minhashPairs]] pointer, `"lsh"` auto-routes to
    * [[minhashPairsOver]] (banded LSH — near-linear candidates, recall
    * < 1 by design), `"proceed"` runs the exact join anyway.
    *
    * NOTE (behavior change vs pre-guard releases): the default
    * `"fail"` makes previously-working exact calls on self-similar
    * corpora at low thresholds throw, and the probe makes the formerly
    * lazy API eager (a count + one aggregate job per call). Callers
    * who want the old lazy, job-free composition back set the session
    * conf `spark.graft.dedup.prefixGuard=off` (or pass
    * `onDegenerate = "proceed"` per call) — both skip the probe
    * entirely and accept the documented low-threshold degeneracy.
    */
  def ngramPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                 budgetPerDoc: Option[Double] = None,
                 onDegenerate: String = "fail"): DataFrame =
    ngramPairsOver(gramSets(docs, n), threshold,
      budgetPerDoc = budgetPerDoc, onDegenerate = onDegenerate)

  /** Same, over a pre-built (shared/cached) gram-set relation; pass a
    * precomputed document-frequency table (an ingest-time corpus
    * statistic, threshold-independent) to skip its aggregation. Carries
    * [[ngramPairs]]'s degeneracy guard.
    */
  def ngramPairsOver(g: DataFrame, threshold: Double,
                     dfTable: Option[DataFrame] = None,
                     budgetPerDoc: Option[Double] = None,
                     onDegenerate: String = "fail"): DataFrame = {
    require(Set("fail", "lsh", "proceed")(onDegenerate),
      s"onDegenerate must be fail|lsh|proceed (got $onDegenerate)")
    val guardOn = g.sparkSession.conf
      .get("spark.graft.dedup.prefixGuard", "on") != "off"
    val prefix = prefixIndex(g, threshold, dfTable)
    if (onDegenerate != "proceed" && guardOn) {
      val perDoc = budgetPerDoc.getOrElse(
        g.sparkSession.conf
          .get("spark.graft.dedup.prefixBudgetPerDoc", "8.0").toDouble)
      val nDocs = g.count()
      val predicted = prefix.groupBy("gram")
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") * (col("n") - 1) / 2), lit(0.0))
          .as("c"))
        .collect()(0).getDouble(0)
      lastPrefixPredicted.set(predicted.toLong)
      if (predicted > perDoc * nDocs) {
        if (onDegenerate == "lsh")
          return minhashPairsOver(g, threshold)
        throw new IllegalArgumentException(
          f"prefix-filter candidate volume predicted at $predicted%.0f " +
            f"pairs for $nDocs docs (budget ${perDoc * nDocs}%.0f): the " +
            "corpus is too self-similar for exact PPJoin at threshold " +
            s"$threshold - use minhashPairs (banded LSH, near-linear " +
            "candidates) for low-threshold sweeps, or pass " +
            "onDegenerate=\"lsh\"/\"proceed\"")
      }
    }
    verifyPairs(prefixCandidatesOver(prefix, threshold), g, threshold)
  }

  /** Predicted prefix-candidate volume of the most recent guarded
    * [[ngramPairsOver]] call — scale-evidence telemetry. */
  private[graft] val lastPrefixPredicted =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-gram document frequency of a gram-set relation. */
  def gramDocFreqOf(g: DataFrame): DataFrame =
    g.select(explode(col("grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))

  /** The materialized DF-ordered prefix index (doc_id, sz, gram, rk). */
  private def prefixIndex(g: DataFrame, threshold: Double,
                          dfTable: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = g.select(col("doc_id"), size(col("grams")).as("sz"),
      explode(col("grams")).as("gram"))
    // global gram order: rarest first (ties by gram for determinism);
    // one map-side-combined aggregate, joined back to the postings
    val df = dfTable.getOrElse(gramDocFreqOf(g))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))
    // materialized: the self-join reads the prefix TWICE (and the
    // degeneracy probe once more), and an unmaterialized subtree (DF
    // aggregate + window) would compute per read
    inv.join(df, Seq("gram"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("doc_id"), col("sz"), col("gram"), col("rk"))
      .localCheckpoint(true)
  }

  /** Candidate pairs from the DF-ordered prefix index (exposed for the
    * skew-bound property test; superset of all qualifying pairs).
    */
  def prefixCandidates(g: DataFrame, threshold: Double,
                       dfTable: Option[DataFrame] = None): DataFrame =
    prefixCandidatesOver(prefixIndex(g, threshold, dfTable), threshold)

  private def prefixCandidatesOver(prefix: DataFrame, threshold: Double)
      : DataFrame = {
    // POSITIONAL filter (PPJoin's second filter) on top of the prefix
    // match: grams sort in ONE global order, so a pair's shared grams
    // beyond its last shared prefix position are at most
    // min(remaining-in-A, remaining-in-B); with c shared prefix grams the
    // overlap can't exceed c + that remainder, and J >= t needs overlap
    // >= ceil(t/(1+t)·(|A|+|B|)). The pair aggregation replaces the
    // plain `.distinct()` — same shuffle, strictly fewer survivors — and
    // every pruned candidate saves moving two gram arrays through the
    // exact-verify join.
    prefix.as("x").join(prefix.as("y"),
        col("x.gram") === col("y.gram") && col("x.doc_id") < col("y.doc_id") &&
          // length filter: J >= t forces t*|A| <= |B| <= |A|/t
          col("y.sz") >= ceil(lit(threshold) * col("x.sz")) &&
          col("x.sz") >= ceil(lit(threshold) * col("y.sz")))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"),
        first(col("x.sz")).as("sza"), first(col("y.sz")).as("szb"),
        max(col("x.rk")).as("lastA"), max(col("y.rk")).as("lastB"))
      .where(col("c") +
          least(col("sza") - col("lastA"), col("szb") - col("lastB")) >=
        ceil(lit(threshold) / (1 + threshold) * (col("sza") + col("szb"))))
      .select(col("doc_a"), col("doc_b"))
  }

  /** MinHash signatures + LSH banding candidates + exact verification.
    * numHashes minhash values per doc (min over grams of a seeded
    * xxhash64), grouped into bands; docs agreeing on any full band become
    * candidates. Deterministic: seeds are the hash indices.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.8,
                   numHashes: Int = 64, bands: Int = 16, n: Int = 3): DataFrame =
    minhashPairsOver(gramSets(docs, n), threshold, numHashes, bands)

  /** Same, over a pre-built (shared/cached) gram-set relation. */
  def minhashPairsOver(g: DataFrame, threshold: Double = 0.8,
                       numHashes: Int = 64, bands: Int = 16): DataFrame =
    verifyPairs(minhashCandidates(g, numHashes, bands), g, threshold)

  /** The LSH banding candidate set alone (pre-verification) — exposed so
    * the scale probe can measure CANDIDATE VOLUME growth across scale
    * factors (the 100 TB risk of banded LSH is a bucket whose population
    * grows superlinearly, which the verified output hides).
    */
  def minhashCandidates(g: DataFrame, numHashes: Int = 64,
                        bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // one aggregate with an array accumulator (vs numHashes separate
    // aggregates): same hashes, ~64x smaller generated code
    val sigs = aggregate(col("grams"),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, gr) => zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), i => xxhash64(i, gr)),
        (a, b) => least(a, b)))
    val buckets = array((0 until bands).map { b =>
      val bandSlice = (0 until rows).map(r => element_at(col("sigs"), b * rows + r + 1))
      xxhash64((lit(b) +: bandSlice): _*)
    }: _*)
    // materialized: the candidate self-join reads the bucketed relation
    // twice, and the signature aggregate (64 hashes per gram) is the
    // expensive part — unmaterialized it would run twice
    val bucketed = g.withColumn("sigs", sigs)
      .select(col("doc_id"), posexplode(buckets).as(Seq("band", "bucket")))
      .localCheckpoint(true)
    bucketed.as("x").join(bucketed.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs (LSH/blocking output is
    * only a candidate set — the verify join makes results exact).
    */
  def verifyPairs(cand: DataFrame, g: DataFrame, threshold: Double): DataFrame =
    cand
      .join(g.select(col("doc_id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
      .join(g.select(col("doc_id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jaccard(col("ga"), col("gb")).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Test-set decontamination: corpus documents sharing at least one word
    * n-gram with any held-out/test document, with the count of distinct
    * shared grams (the pretraining-hygiene overlap check). Inverted-index
    * join on the (distinct) test-gram set — test sets are small relative
    * to the corpus, so the gram set broadcasts and the corpus side
    * streams; candidate volume ∝ actual contamination.
    */
  /** (doc_id, gram) word-n-gram postings of each document (duplicates
    * kept; consumers dedup as needed). Grams via posexplode + window
    * lead instead of the array-HOF construction: Spark's higher-order
    * functions are interpreted (CodegenFallback), and building ~n-word
    * concat windows per token dominated the runtime; lead() chains stay
    * inside whole-stage codegen (measured ~2x on the corpus side).
    */
  def wordGramPostings(side: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(i => lead(col("w"), i).over(w))
    side
      .select(col("doc_id"),
        posexplode(split(TextOps.normalize(col("text")), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"),
        concat_ws(" ", (col("w") +: leads): _*).as("gram"),
        leads.last.isNotNull.as("__full"))
      .where(col("__full"))
      .select(col("doc_id"), col("gram"))
  }

  def decontaminate(docs: DataFrame, testPred: Column, n: Int = 8): DataFrame = {
    val testGrams = wordGramPostings(docs.where(testPred), n)
      .select("gram").distinct()
    wordGramPostings(docs.where(!testPred), n)
      .join(broadcast(testGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** Bloom-pruned test-set decontamination — `decontaminate`'s 100 TB
    * shape. The distinct test grams fold into a driver-built Bloom
    * filter (`Dataset.stat.bloomFilter`: a distributed treeAggregate;
    * the result is a few MB at 1% fpp regardless of corpus size), and
    * the corpus gram stream probes it with the codegen'd
    * `graft_bloom_contains` over xxhash64(gram) — a per-row bit test
    * with NO join and NO broadcast-hash build on the big side. Only the
    * tiny surviving slice (actual contamination + the fpp sliver) pays
    * the exact broadcast join, which removes every false positive — the
    * output is IDENTICAL to `decontaminate`, so the same SQL oracle
    * pins it. Preferable to the postings broadcast when the test set's
    * gram relation is too big to ship as a hash table but fine as a
    * filter (the classic n-gram-decontamination setup: Brown et al.,
    * "Language Models are Few-Shot Learners", App. C use exactly this
    * Bloom-filter construction).
    */
  def decontaminateBloom(docs: DataFrame, testPred: Column, n: Int = 8,
                         fpp: Double = 0.01): DataFrame = {
    // read twice (filter build + exact verify) — materialize once
    val testGrams = wordGramPostings(docs.where(testPred), n)
      .select("gram").distinct().localCheckpoint(true)
    val items = math.max(testGrams.count(), 1L)
    val bf = testGrams.select(xxhash64(col("gram")).as("h"))
      .stat.bloomFilter("h", items, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    wordGramPostings(docs.where(!testPred), n)
      .where(call_function("graft_bloom_contains",
        lit(bos.toByteArray), xxhash64(col("gram"))))
      .join(broadcast(testGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** FUZZY test-set decontamination: train documents whose word-n-gram
    * Jaccard against ANY held-out/test document reaches `threshold` — the
    * near-duplicate leakage check that catches lightly edited or
    * re-wrapped test material, complementing the exact shared-gram probe
    * (`decontaminate`). Blocking is recall-1 by construction: a pair with
    * J >= t > 0 shares at least one gram, and every co-occurrence is
    * enumerated by joining the corpus postings against the BROADCAST
    * distinct test-side posting list (test sets are small by definition;
    * the corpus streams once — same shape as `decontaminate`). Candidates
    * The exact Jaccard falls out of the SAME join: per-doc grams are
    * distinct, so |A∩B| is a map-side-combined COUNT over the postings
    * co-occurrences — no re-join, no pair distinct, no array intersect
    * (the array-verify variant re-walked both gram sets per candidate
    * and was ~10x slower on a small-vocabulary corpus where every doc
    * pair co-occurs). J = inter / (|A| + |B| - inter) over integers is
    * the same rational, hence the same double, as the set formula the
    * oracle uses. Jaccard quantizes to 1e-6 BEFORE the threshold test
    * (engine-neutral boundary behavior). Output: one row per
    * contaminated train doc with its match count and best score.
    */
  def decontaminateFuzzy(docs: DataFrame, testPred: Column,
                         threshold: Double = 0.4, n: Int = 3,
                         gramsPre: Option[DataFrame] = None): DataFrame = {
    val flags = docs.select(col("doc_id"), testPred.as("__t"))
    val g = gramsPre.getOrElse(gramSets(docs, n)).join(flags, Seq("doc_id"))
    val testPost = broadcast(g.where(col("__t"))
      .select(col("doc_id").as("test_id"), size(col("grams")).as("sz_t"),
        explode(col("grams")).as("gram")))
    g.where(!col("__t"))
      .select(col("doc_id"), size(col("grams")).as("sz"),
        explode(col("grams")).as("gram"))
      .join(testPost, Seq("gram"))
      .groupBy("doc_id", "test_id", "sz", "sz_t")
      .agg(count(lit(1)).as("inter"))
      .select(col("doc_id"),
        (floor(col("inter").cast("double")
          / (col("sz") + col("sz_t") - col("inter")) * 1e6 + 0.5) / 1e6)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_test_matches"), max(col("jaccard")).as("max_jaccard"))
  }

  /** Cross-document duplicated span detection (the train-set
    * substring-dedup signal): for each document, how many of its distinct
    * word n-gram windows also occur in at least one OTHER document, and
    * the duplicated fraction. Stride-1 windows via codegen'd lead chains;
    * the gram-frequency aggregate is map-side combined, so cost scales
    * with corpus tokens, not pairs.
    */
  def dupSpans(docs: DataFrame, n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(i => lead(col("w"), i).over(w))
    val grams = docs
      .select(col("doc_id"),
        posexplode(split(TextOps.normalize(col("text")), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"),
        concat_ws(" ", (col("w") +: leads): _*).as("gram"),
        leads.last.isNotNull.as("__full"))
      .where(col("__full"))
      .select(col("doc_id"), col("gram")).distinct()
    // a gram duplicated across docs appears under >= 2 distinct doc_ids
    // (grams are per-doc distinct, so count(1) == count of docs)
    val shared = grams.groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 2).select("gram")
    val totals = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val dups = grams.join(shared, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    totals.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (floor((coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams")) * 1e6 + 0.5) / 1e6)
          .as("dup_ratio"))
  }

  /** Cross-document duplicate-SPAN REMOVAL (the ExactSubstr dedup stage
    * `dupSpans` only reports): every word-n-gram window that occurs
    * anywhere earlier in the corpus — "earlier" = smallest (doc_id, pos),
    * folded to one integer key so both engines order identically — has
    * its covered token POSITIONS dropped from the losing documents, and
    * the surviving tokens re-join in position order. Overlapping dup
    * windows need no interval logic: covered positions union via a
    * distinct. Linear stages only: token explode, lead-chain windows, one
    * gram-keyed first-occurrence aggregate (map-side combined), a bounded
    * ×n position explode, a (doc, pos) anti-join, one per-doc rebuild.
    * Documents emit even when fully consumed (empty `clean_text`).
    */
  def removeDupSpans(docs: DataFrame, n: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(i => lead(col("w"), i).over(w))
    val toks = docs.select(col("doc_id"),
      posexplode(split(TextOps.normalize(col("text")), " ")).as(Seq("pos", "w")))
    val grams = toks
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (col("w") +: leads): _*).as("gram"),
        leads.last.isNotNull.as("__full"))
      .where(col("__full"))
      .select(col("doc_id"), col("pos"), col("gram"),
        // packed (doc_id, pos) orders lexicographically as one long while
        // pos < 1e6 — a million tokens per document, far above any
        // chunked-pipeline doc; docs beyond that should be chunked first
        (col("doc_id") * 1000000L + col("pos")).as("k"))
    val firstK = grams.groupBy("gram").agg(min(col("k")).as("first_k"))
    val covered = grams.join(firstK, Seq("gram"))
      .where(col("k") =!= col("first_k"))
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w"))).as("clean_text"))
    toks.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** 32-bit SimHash over the distinct word tokens of the normalized text.
    * Token hash = TextOps.polyHash (base-31 mod 2^32 fold), so the whole
    * fingerprint is replayable in DuckDB SQL. Bit j of the result is set
    * iff more token hashes have bit j set than clear. The per-bit
    * majority vote runs in the native one-pass expression
    * (graft.functions.SimHash32, registered by GraftExtensions).
    */
  def simhash32(text: Column): Column =
    call_function("graft_simhash",
      transform(array_distinct(split(TextOps.normalize(text), " ")),
        t => TextOps.polyHash(t)))

  /** Declarative reference implementation of the majority vote (32
    * interpreted aggregate HOFs — one array pass per bit); kept as the
    * spec-level oracle for the native expression.
    */
  def simhash32Hof(text: Column): Column = {
    val tokens = array_distinct(split(TextOps.normalize(text), " "))
    val th = transform(tokens, t => TextOps.polyHash(t))
    (0 until 32).map { j =>
      when(aggregate(th, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(lit(1L)) * 2 - 1)) > 0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Hamming distance between two simhash values (for banded simhash
    * lookups compose with the same explode-join shape as minhashPairs).
    */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Connected components over an undirected pair graph (doc_a, doc_b)
    * — each vertex gets the smallest doc_id reachable from it: the
    * cluster assignment step after near-dup pair mining, as
    * [[GraphOps.connectedComponents]] (a driver union-find while the
    * pair graph holds at most 2^20 edges, the distributed fixpoint past
    * that) under the (doc_id, cluster) names.
    */
  def clusters(pairs: DataFrame,
               aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    GraphOps.connectedComponents(
        pairs.select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("o")))
      .toDF("doc_id", "cluster")
}
