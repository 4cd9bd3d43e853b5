package graft

import graft.ops.DedupOps
import org.apache.spark.sql.functions._

/** Near-dup operators on a hand-built corpus with known duplicate
  * structure: 1 and 2 are near-identical (one word changed), 3 shares a
  * tail with 1, 4 is unrelated, 5 duplicates 2 exactly.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy cat tonight"),
    (3L, "something completely different over the lazy dog tonight"),
    (4L, "unrelated words about spark query engines and shuffles"),
    (5L, "the quick brown fox jumps over the lazy cat tonight")
  ).toDF("doc_id", "text")

  "ngramPairs" should "find exact and near duplicates with exact recall" in {
    val pairs = DedupOps.ngramPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((2L, 5L)) // identical -> jaccard 1.0
    pairs should contain((1L, 2L)) // one word changed
    pairs should not contain ((1L, 4L))
    // symmetric closure absent: only a < b emitted
    all(pairs.map { case (a, b) => a < b }) shouldBe true
  }

  it should "assign jaccard 1.0 to identical documents" in {
    val j = DedupOps.ngramPairs(docs, 0.5)
      .where(col("doc_a") === 2 && col("doc_b") === 5)
      .select("jaccard").head().getDouble(0)
    j shouldBe 1.0
  }

  it should "bound candidates on a stopword-dense corpus via prefix filtering" in {
    // 60 docs all sharing a hot 8-word opener (every 3-gram of it has
    // document frequency 60) with unique tails: pairwise Jaccard < 0.5,
    // so the exact result is empty. A naive inverted-index join would
    // generate all 60*59/2 = 1770 pairs per hot gram; the DF-ordered
    // prefix index must keep the hot grams out of (most) prefixes.
    val dense = (1 to 60).map { i =>
      (i.toLong,
        "the quick brown fox jumps over the lazy " +
          s"tail$i word$i item$i thing$i unit$i part$i bit$i piece$i chunk$i")
    }.toDF("doc_id", "text")
    val g = DedupOps.gramSets(dense)
    val nCand = DedupOps.prefixCandidates(g, threshold = 0.5).count()
    nCand should be < 200L // vs 1770 all-pairs from any single hot gram
    DedupOps.ngramPairsOver(g, threshold = 0.5).count() shouldBe 0L
  }

  it should "trip the degeneracy guard at low thresholds on a template-heavy corpus" in {
    // every doc = one 12-word template + a 6-word unique tail: at
    // t=0.5 the prefix (rarest-first) is LONGER than the unique-gram
    // count, so template grams (document frequency = corpus size)
    // enter every prefix and the predicted candidate volume goes
    // quadratic — the guard must reject loudly with the LSH pointer.
    // At t=0.8 the prefix fits inside the unique grams and stays
    // silent. Docs 61/62 are identical (a genuine near-dup pair).
    val template = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu"
    val tdocs = ((1 to 60).map { i =>
      (i.toLong, s"$template u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f")
    } ++ Seq(
      (61L, s"$template same same2 same3 same4 same5 same6"),
      (62L, s"$template same same2 same3 same4 same5 same6")))
      .toDF("doc_id", "text")
    val g = DedupOps.gramSets(tdocs)
    (the[IllegalArgumentException] thrownBy
      DedupOps.ngramPairsOver(g, threshold = 0.5).count())
      .getMessage should include ("minhashPairs")
    DedupOps.lastPrefixPredicted.get() should be > (8L * 62)
    // t=0.8: prefix stays within the unique tail grams -> silent, and
    // the identical pair still comes out of the exact path
    val hi = DedupOps.ngramPairsOver(g, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    hi should contain ((61L, 62L))
    // auto-route: the LSH path runs the degenerate request with
    // bounded candidates and still finds the identical pair
    val routed = DedupOps.ngramPairsOver(g, threshold = 0.5,
        onDegenerate = "lsh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    routed should contain ((61L, 62L))
    // opt-out: the exact join still runs (oracle-parity path)
    val exact = DedupOps.ngramPairsOver(g, threshold = 0.5,
        onDegenerate = "proceed")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact should contain ((61L, 62L))
    // session-conf opt-out: prefixGuard=off restores the pre-guard
    // lazy composition (no probe jobs, no throw) for exact-path callers
    spark.conf.set("spark.graft.dedup.prefixGuard", "off")
    try {
      val off = DedupOps.ngramPairsOver(g, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      off should contain ((61L, 62L))
    } finally spark.conf.unset("spark.graft.dedup.prefixGuard")
  }

  it should "keep exact recall through the prefix filter" in {
    // the qualifying pairs of the small corpus survive candidate pruning
    val g = DedupOps.gramSets(docs)
    val cand = DedupOps.prefixCandidates(g, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    cand should contain((2L, 5L))
    cand should contain((1L, 2L))
  }

  "minhashPairs" should "find the same high-similarity pairs as brute force" in {
    val mh = DedupOps.minhashPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = DedupOps.ngramPairs(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mh shouldBe brute
    mh should contain((2L, 5L))
  }

  "simhash32" should "match the declarative HOF formulation exactly" in {
    // native one-pass expression vs 32 interpreted aggregates, real corpus
    val docs01 = Tables.loadPar(spark, "/root/testdata/sf0.01", "documents")
    val diff = docs01.select(
        DedupOps.simhash32(col("text")).as("a"),
        DedupOps.simhash32Hof(col("text")).as("b"))
      .where(col("a") =!= col("b")).count()
    diff shouldBe 0L
  }

  it should "be permutation-invariant and stable" in {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"), // permutation -> same token set
      (3L, "epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), DedupOps.simhash32(col("text")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m(1L) shouldBe m(2L)
    m(1L) should not be m(3L)
    // 32-bit range
    all(m.values.map(v => v >= 0L && v < (1L << 32))) shouldBe true
  }

  "clusters" should "compute connected components with min-id representative" in {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("doc_a", "doc_b")
    val cc = DedupOps.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc(1L) shouldBe 1L
    cc(2L) shouldBe 1L
    cc(5L) shouldBe 1L
    cc(7L) shouldBe 7L
    cc(9L) shouldBe 7L
  }
}
