package graft

import graft.dict.{Dictionary, TermIndex}
import graft.sparql.Sparql
import graft.store.{GraftStore, StoreHandle}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Mirrors the reference's dictionary tests
  * (core/src/test/scala/com/graphula/dictionary/DictionarySpec.scala):
  * round-trip over arbitrary strings, and collision handling forced with a
  * deliberately terrible hash (reference: hash % 10 "terribleHasher").
  */
class DictionarySpec extends SparkSpec {

  "Dictionary.build" should "assign unique ids and round-trip encode/decode" in {
    import spark.implicits._
    val terms = Seq("a", "b", "c", "hello world", "", "ünïcødé", "42", "-7")
    val dict = Dictionary.build(terms.toDF("t")).cache()
    dict.count() shouldBe terms.distinct.size
    dict.select("id").distinct().count() shouldBe terms.distinct.size

    val df = Seq(("a", "b"), ("c", "hello world")).toDF("x", "y")
    val enc = Dictionary.encode(Dictionary.encode(df, dict, "x"), dict, "y")
    enc.schema("x").dataType.typeName shouldBe "long"
    val dec = Dictionary.decode(Dictionary.decode(enc, dict, "x"), dict, "y")
    dec.select("x", "y").collect().map(r => (r.getString(0), r.getString(1)))
      .toSet shouldBe Set(("a", "b"), ("c", "hello world"))
  }

  it should "repair forced collisions deterministically (terribleHasher)" in {
    import spark.implicits._
    val terms = (1 to 200).map(i => s"term$i")
    // hash mod 10 -> heavy collisions, like the reference's terribleHasher
    val terrible = (c: org.apache.spark.sql.Column) =>
      pmod(xxhash64(c), lit(10L))
    val d1 = Dictionary.build(terms.toDF("t"), terrible).cache()
    d1.count() shouldBe 200
    d1.select("id").distinct().count() shouldBe 200
    // deterministic: a second build yields identical ids
    val d2 = Dictionary.build(terms.toDF("t"), terrible)
    d1.except(d2).count() shouldBe 0
    d2.except(d1).count() shouldBe 0
  }

  it should "round-trip arbitrary string lists (property)" in {
    import spark.implicits._
    val gen = Gen.listOfN(30, Gen.alphaNumStr)
    (1 to 5).foreach { i =>
      val ss = gen.apply(Gen.Parameters.default, Seed(42L + i)).get
      val distinct = ss.distinct
      if (distinct.nonEmpty) {
        val dict = Dictionary.build(distinct.toDF("t"))
        val got = dict.select("term").as[String].collect().toSet
        got shouldBe distinct.toSet
        dict.select("id").distinct().count() shouldBe distinct.size
      }
    }
  }

  "Dictionary.lookup" should "return ids for present terms only" in {
    import spark.implicits._
    val dict = Dictionary.build(Seq("x", "y").toDF("t"))
    val m = Dictionary.lookup(dict, Seq("x", "zzz"))
    m.keySet shouldBe Set("x")
  }

  "Dictionary.termHashLocal" should "agree bit-for-bit with the termHash expression" in {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the driver-side hash must be THE id function — any drift would
    // silently corrupt the certified-store fast paths that mix locally
    // computed and expression-encoded ids
    val terms = Seq("", "x", "region:0", "\"lit\"@en", "nation:12",
      "_:b1", "http://ex/α∂ß", "a" * 1000)
    val viaExpr = terms.toDF("t")
      .select(col("t"), Dictionary.termHash(col("t")).as("id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.foreach(t => Dictionary.termHashLocal(t) shouldBe viaExpr(t))
  }

  "Dictionary.collectBounded" should "return every row in partition order up to the cap, even when skewed" in {
    import spark.implicits._
    // 4 partitions, 7 of the 8 rows in the last one: over its 3-row share
    // but within the cap, so a second job fetches that partition
    val df = spark.sparkContext.parallelize(0 until 4, 4)
      .flatMap(p => if (p == 0) Seq(1L) else if (p == 3) 2L to 8L else Nil)
      .toDF("v")
    Dictionary.collectBounded(df, 10).map(_.map(_.getLong(0)).toSeq) shouldBe
      Some((1L to 8L).toSeq)
    Dictionary.collectBounded(df, 8).map(_.length) shouldBe Some(8)
    Dictionary.collectBounded(df, 7) shouldBe None
    Dictionary.collectBounded(df.where(lit(false)), 0).map(_.length) shouldBe Some(0)
  }

  "Dictionary.decodeAll" should "render ids missing from the dictionary as _:<id> on both paths" in {
    import spark.implicits._
    val dict = Seq((1L, "a"), (2L, "b")).toDF("id", "term")
    val df = Seq((1L, Option(2L), 7.5), (3L, None, 1.0)).toDF("x", "y", "v")
    val expected = Seq(Seq("_:3", null, 1.0), Seq("a", "b", 7.5))
    val local = Dictionary.decodeAll(df, dict, Seq("x", "y"))
    val dist = Dictionary.localDecodeCap.withValue(0)(
      Dictionary.decodeAll(df, dict, Seq("x", "y")))
    for (d <- Seq(local, dist)) {
      d.columns.toSeq shouldBe Seq("x", "y", "v")
      d.collect().map(_.toSeq).toSeq.sortBy(_.head.toString) shouldBe expected
    }
    local.schema shouldBe dist.schema
  }

  // ---- the driver-held term index against the forced dictionary probe ----

  private val people: Seq[(String, String, String)] = Seq(
    ("alice", "knows", "bob"), ("bob", "knows", "carol"), ("carol", "knows", "alice"),
    ("alice", "name", "\"Alice\"@en"), ("bob", "age", "42"), ("dave", "knows", "bob"))

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** `f` read from the held index and under the forced probe: the same. */
  private def heldEqualsProbe[T](f: => T): T = {
    val held = f
    StoreHandle.useSlices.withValue(false)(f) shouldBe held
    held
  }

  /** The index's entries, and the dictionary frame collected. */
  private def indexAndFrame(h: StoreHandle): (Option[Map[Long, String]], Map[Long, String]) =
    (h.dictIndex.entries.map(_.toMap),
      h.dict.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)

  "The driver-held term index" should
      "render absent ids as _:<id> and keep null ids null, as the probe does" in {
    import spark.implicits._
    val st = GraftStore.ingestTriples(spark, people.toDF("s", "p", "o"))
    val alice = Dictionary.termHashLocal("alice")
    val df = Seq[(java.lang.Long, java.lang.Long, Double)](
      (alice, Dictionary.termHashLocal("knows"), 1.0), (7L, null, 2.0), (null, alice, 3.0))
      .toDF("x", "y", "v")
    val got = heldEqualsProbe(rowSet(Dictionary.decodeAll(df, st.dict, Seq("x", "y"))))
    got shouldBe Set(Seq("alice", "knows", 1.0), Seq("_:7", null, 2.0), Seq(null, "alice", 3.0))
    st.dictIndex.entries.map(_.size) shouldBe Some(9)
  }

  it should "decode a zero-length path endpoint absent from the store through the local entries" in {
    import spark.implicits._
    val st = GraftStore.ingestTriples(spark, people.toDF("s", "p", "o"))
    val q = "PREFIX : <>\nSELECT ?x WHERE { <zed> :knows* ?x }"
    heldEqualsProbe(rowSet(Sparql.execute(spark, st, q))) shouldBe Set(Seq("zed"))
    val v = "PREFIX : <>\nSELECT ?x WHERE { VALUES ?x { <alice> <nobody> } }"
    heldEqualsProbe(rowSet(Sparql.execute(spark, st, v))) shouldBe
      Set(Seq("alice"), Seq("nobody"))
  }

  it should "decode a repaired (terribleHasher) store and keep its term probes exact" in {
    import spark.implicits._
    val terrible = (c: org.apache.spark.sql.Column) => pmod(xxhash64(c), lit(10L))
    val triples = people.toDF("s", "p", "o")
    val dict = Dictionary.build(
      triples.select(explode(array(col("s"), col("p"), col("o"))).as("t")), terrible)
    val enc = Seq("s", "p", "o").foldLeft(triples)((d, c) => Dictionary.encode(d, dict, c))
    val st = GraftStore.ingestEncoded(spark, enc, dict)
    st.pureHash shouldBe false
    val q = "PREFIX : <>\nSELECT ?a ?b WHERE { ?a :knows ?b . ?b :knows ?c }"
    heldEqualsProbe(rowSet(Sparql.execute(spark, st, q))) shouldBe
      Set(Seq("alice", "bob"), Seq("bob", "carol"), Seq("carol", "alice"), Seq("dave", "bob"))
    st.dictIndex.entries should not be empty
    val ids = heldEqualsProbe(Dictionary.lookup(st.dict, Seq("alice", "knows", "nobody")))
    ids shouldBe st.dict.where(col("term").isin("alice", "knows")).collect()
      .map(r => r.getString(1) -> r.getLong(0)).toMap
    ids("alice") should not be Dictionary.termHashLocal("alice") // a repaired id
  }

  it should "keep the probe for a dictionary over its cap" in {
    val dict = spark.range(TermIndex.Cap + 1L)
      .select(col("id"), concat(lit("t"), col("id").cast("string")).as("term"))
    val index = TermIndex.attach(TermIndex.of(dict, pureHash = true))
    TermIndex.held(dict) shouldBe None
    index.entries shouldBe None
    import spark.implicits._
    val df = Seq((3L, 1L), (TermIndex.Cap + 5L, 2L)).toDF("x", "n")
    heldEqualsProbe(rowSet(Dictionary.decodeAll(df, dict, Seq("x")))) shouldBe
      Set(Seq("t3", 1L), Seq(s"_:${TermIndex.Cap + 5L}", 2L))
  }

  it should "equal the collected dictionary along a random update chain" in {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def batch(n: Int): Seq[(String, String, String)] = Seq.fill(n)(
      (s"e${rnd.nextInt(30)}", s"p${rnd.nextInt(4)}", s"e${rnd.nextInt(30)}"))
    val pure = GraftStore.ingestTriples(spark, people.toDF("s", "p", "o"))
    val repaired = GraftStore.ingestEncoded(spark, pure.enc, pure.dict)
    for (start <- Seq(pure, repaired)) {
      var h = start
      indexAndFrame(h) match { case (ix, frame) => ix shouldBe Some(frame) }
      (1 to 8).foreach { step =>
        val kind = rnd.nextInt(4)
        h = kind match {
          case 0 => GraftStore.appendLocal(spark, h, batch(3))
          case 1 =>
            val held = h.triples.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
            GraftStore.removeLocal(spark, h, held.take(2).toSeq)
          case 2 => GraftStore.compact(spark, h)
          case _ => GraftStore.append(spark, h, batch(4).toDF("s", "p", "o"))
        }
        withClue(s"${if (start eq pure) "pure-hash" else "repaired"} step $step (kind $kind): ") {
          indexAndFrame(h) match { case (ix, frame) => ix shouldBe Some(frame) }
        }
      }
    }
  }
}
