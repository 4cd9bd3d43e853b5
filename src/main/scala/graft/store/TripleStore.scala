package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Triple-izer + triple storage layout.
  *
  * The reference stores RDF triples under all 8 S/P/O binding patterns in
  * LMDB (`core/src/main/scala/com/graphula/index/Index.scala:62-78`) so any
  * wildcard lookup is an index scan. Spark replaces that physical index with
  * ONE triples relation + declarative filters: Catalyst pushes the bound
  * positions down to the parquet scan, and a predicate-partitioned layout
  * (`partitionBy("p")`) gives partition pruning for the dominant
  * `(?, p, ?)` access path — the analog of the `(0,p,0)` index.
  *
  * `tableTriples` un-pivots the driver's relational testdata into edges
  * (see /root/repo/FIXTURES.md §3) so BGP queries have a DuckDB-SQL oracle:
  * subject = "<table>:<pk>", predicate = column name, object = either a
  * "<reftable>:<fk>" IRI or a stable string rendering of the value. Only
  * stably-stringifiable columns participate (strings, ints, dates) — doubles
  * stay in the relational layer where FILTER semantics are typed (SURVEY
  * §7.4).
  */
object TripleStore {

  /** Un-pivot one table: subject from `pk`, one (p, o) edge per listed
    * column per row. Null objects emit no edge (RDF has no NULL).
    *
    * Two physical shapes for the same rows:
    *   - `exploded = false`: one union branch per edge column. Each pattern
    *     scan's `p = const` filter constant-folds per branch, so Catalyst
    *     prunes non-matching branches at PLAN time — the analog of the
    *     reference picking the right LMDB key pattern. Best for BGP scans.
    *   - `exploded = true`: ONE scan per table, `explode`-ing an array of
    *     (p, o) structs. 6x fewer parquet reads for whole-store passes
    *     (dictionary build, bulk encode) where no predicate prunes anyway.
    */
  private def unpivot(df: DataFrame, subjPrefix: String, pk: Seq[String],
                      edges: Seq[(String, org.apache.spark.sql.Column)],
                      exploded: Boolean = false): DataFrame = {
    val subj = concat(lit(subjPrefix + ":"),
      concat_ws("-", pk.map(c => col(c).cast("string")): _*))
    if (exploded) {
      val pairs = array(edges.map { case (p, oCol) =>
        struct(lit(p).as("p"), oCol.cast("string").as("o"))
      }: _*)
      // repartition first: single-row-group input files are unsplittable,
      // and the concat/explode work below is the expensive part
      df.repartition(df.sparkSession.conf
          .get("spark.sql.shuffle.partitions", "32").toInt)
        .select(subj.as("s"), explode(pairs).as("po"))
        .select(col("s"), col("po.p").as("p"), col("po.o").as("o"))
        .where(col("o").isNotNull)
    } else {
      edges.map { case (p, oCol) =>
        df.select(subj.as("s"), lit(p).as("p"), oCol.cast("string").as("o"))
          .where(col("o").isNotNull)
      }.reduce(_.unionAll(_))
    }
  }

  private def iri(prefix: String, c: String) =
    concat(lit(prefix + ":"), col(c).cast("string"))

  /** The edge schema over the driver testdata. Chain:
    * lineitem -> orders -> customer -> nation -> region, plus part/supplier
    * stars — the same chain/star shapes as the reference's LUBM queries.
    */
  def tableTriples(spark: SparkSession, sfDir: String,
                   exploded: Boolean = false): DataFrame = {
    val t = (n: String) => Tables.load(spark, sfDir, n)
    val parts = Seq(
      unpivot(t("region"), "region", Seq("r_regionkey"), Seq(
        "a" -> lit("Region"),
        "name" -> col("r_name")), exploded),
      unpivot(t("nation"), "nation", Seq("n_nationkey"), Seq(
        "a" -> lit("Nation"),
        "name" -> col("n_name"),
        "regionkey" -> iri("region", "n_regionkey")), exploded),
      unpivot(t("customer"), "customer", Seq("c_custkey"), Seq(
        "a" -> lit("Customer"),
        "name" -> col("c_name"),
        "mktsegment" -> col("c_mktsegment"),
        "nationkey" -> iri("nation", "c_nationkey")), exploded),
      unpivot(t("supplier"), "supplier", Seq("s_suppkey"), Seq(
        "a" -> lit("Supplier"),
        "name" -> col("s_name"),
        "nationkey" -> iri("nation", "s_nationkey")), exploded),
      unpivot(t("part"), "part", Seq("p_partkey"), Seq(
        "a" -> lit("Part"),
        "name" -> col("p_name"),
        "brand" -> col("p_brand"),
        "type" -> col("p_type"),
        "size" -> col("p_size")), exploded),
      unpivot(t("orders"), "order", Seq("o_orderkey"), Seq(
        "a" -> lit("Order"),
        "custkey" -> iri("customer", "o_custkey"),
        "orderstatus" -> col("o_orderstatus"),
        "orderpriority" -> col("o_orderpriority"),
        "orderdate" -> date_format(col("o_orderdate"), "yyyy-MM-dd")), exploded),
      unpivot(t("lineitem"), "lineitem", Seq("l_orderkey", "l_linenumber"), Seq(
        "a" -> lit("Lineitem"),
        "orderkey" -> iri("order", "l_orderkey"),
        "partkey" -> iri("part", "l_partkey"),
        "suppkey" -> iri("supplier", "l_suppkey"),
        "returnflag" -> col("l_returnflag"),
        "linestatus" -> col("l_linestatus")), exploded)
    )
    parts.reduce(_.unionAll(_))
  }

  /** Parse N-Triples text lines into (s, p, o) term strings — the analog of
    * the reference's NxParser-based loader (`Sparql.scala:78-113`), as a
    * distributed `spark.read.text` + regex parse. Handles the LUBM subset:
    * `<iri> <iri> (<iri>|"literal"[@lang|^^<type>]|_:blank) .`
    */
  def parseNTriples(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    val re = "^\\s*(<[^>]*>|_:\\S+)\\s+(<[^>]*>)\\s+(.*?)\\s*\\.\\s*$"
    lines
      .where(length(trim(col("value"))) > 0 && !trim(col("value")).startsWith("#"))
      .select(
        regexp_extract(col("value"), re, 1).as("s_raw"),
        regexp_extract(col("value"), re, 2).as("p_raw"),
        regexp_extract(col("value"), re, 3).as("o_raw"))
      .where(col("s_raw") =!= "")
      .select(cleanTerm(col("s_raw")).as("s"), cleanTerm(col("p_raw")).as("p"),
        cleanTerm(col("o_raw")).as("o"))
  }

  /** Strip <> from IRIs; keep literals (with quotes) and blank nodes as-is —
    * mirrors the reference's string-serialized term convention
    * (`Transformations.scala:17-23`).
    */
  private def cleanTerm(c: org.apache.spark.sql.Column) =
    when(c.startsWith("<") && c.endsWith(">"), regexp_replace(c, "^<|>$", ""))
      .otherwise(c)

  /** Serialize a triple relation back to N-Triples lines (the export
    * sink matching `parseNTriples`): stored terms that carry quotes stay
    * literals, `_:` terms stay blank labels, everything else re-wraps as
    * `<iri>`. One text file per partition — a distributed write, no
    * driver collection; `coalesce` first if a single file is wanted.
    */
  def writeNTriples(triples: DataFrame, path: String): Unit = {
    def render(c: org.apache.spark.sql.Column) =
      when(c.startsWith("\"") || c.startsWith("_:"), c)
        .otherwise(concat(lit("<"), c, lit(">")))
    triples
      .select(concat_ws(" ", render(col("s")), render(col("p")),
        render(col("o")), lit(".")).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Parse Turtle documents into (s, p, o) term strings. Turtle is NOT
    * line-splittable (prefix state, multi-line statements), so the unit
    * of parallelism is the FILE: `wholetext` read (one row per file, one
    * task per file), `Turtle.parse` running executor-side. A sharded
    * corpus — the normal layout at scale — parses with full parallelism;
    * one giant .ttl is the documented anti-pattern (convert to
    * N-Triples, which splits per line). Blank labels skolemize under a
    * 16-hex-digit (63-bit xxhash64 of the file path) per-FILE scope so
    * labels from different files never collide — `skolemize`
    * discipline, applied at parse time. 63 bits keeps the birthday
    * bound safe at sharded-corpus file counts (a 32-bit scope collides
    * with ~50% probability at only ~77k files).
    */
  def parseTurtle(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("f"), col("value"))
      .as[(String, String)]
      .flatMap { case (f, content) =>
        val scope = f"${graft.dict.Dictionary.termHashLocal(f)}%016x"
        Turtle.parse(content, scope)
      }
      .toDF("s", "p", "o")
  }

  /** Parse RDF/XML documents into (s, p, o) — the legacy-interop sibling
    * of `parseTurtle` (W3C RDF 1.1 XML syntax, the default export of
    * many older triple stores). Same per-FILE parallelism (`wholetext`,
    * one StAX parse per file executor-side) and the same 63-bit per-file
    * blank scoping; relative IRIs resolve against each file's own
    * `file:` URI unless the document carries xml:base.
    */
  def parseRdfXml(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("f"), col("value"))
      .as[(String, String)]
      .flatMap { case (f, content) =>
        val scope = f"${graft.dict.Dictionary.termHashLocal(f)}%016x"
        RdfXml.parse(content, scope, baseIri = f)
      }
      .toDF("s", "p", "o")
  }

  /** Parse JSON-LD documents into (s, p, o) — the modern-web-interop
    * sibling of `parseTurtle` (W3C JSON-LD 1.0 core subset; see
    * [[JsonLd]] for the documented boundaries). Same per-FILE
    * parallelism and 63-bit per-file blank scoping as the other
    * document loaders.
    */
  def parseJsonLd(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("f"), col("value"))
      .as[(String, String)]
      .flatMap { case (f, content) =>
        val scope = f"${graft.dict.Dictionary.termHashLocal(f)}%016x"
        JsonLd.parse(content, scope)
      }
      .toDF("s", "p", "o")
  }

  /** Parse JSON-LD documents into (s, p, o, g) quads — the named-graph
    * sibling of `parseJsonLd`, pairing with the TriG/N-Quads loaders:
    * graph objects (§6.13 node-level `@graph`) land their contents in
    * the graph their `@id` names, everything else in the default graph
    * (g = NULL). Same per-FILE parallelism and blank scoping.
    */
  def parseJsonLdQuads(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("f"), col("value"))
      .as[(String, String)]
      .flatMap { case (f, content) =>
        val scope = f"${graft.dict.Dictionary.termHashLocal(f)}%016x"
        JsonLd.parseQuads(content, scope)
          .map(q => (q._1, q._2, q._3, q._4.orNull))
      }
      .toDF("s", "p", "o", "g")
  }

  /** Parse TriG documents into (s, p, o, g) quads — the quad sibling of
    * `parseTurtle` (RDF 1.1 TriG: Turtle statements in the default
    * graph, `[GRAPH] <label> { ... }` blocks in named graphs). Plain
    * Turtle is a TriG subset, so mixed .ttl/.trig globs load together.
    * Same per-FILE parallelism and per-file blank scoping as the Turtle
    * loader; N-Quads remains the splittable bulk format.
    */
  def parseTriG(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("f"), col("value"))
      .as[(String, String)]
      .flatMap { case (f, content) =>
        val scope = f"${graft.dict.Dictionary.termHashLocal(f)}%016x"
        Turtle.parseQuads(content, scope)
      }
      .toDF("s", "p", "o", "g")
  }

  /** Parse N-Quads text lines into (s, p, o, g) term strings — the quad
    * analog of `parseNTriples` (public N-Quads 1.1 grammar): an optional
    * fourth graph-label term before the terminating dot. Lines without
    * one land in the default graph (g = NULL), matching the quad-dataset
    * convention everywhere else (`Sparql.Dataset.Quads`). The non-greedy
    * object group backtracks correctly around literals that contain
    * `<...>` text: the graph group must be followed by the final dot.
    */
  def parseNQuads(spark: SparkSession, path: String): DataFrame = {
    val lines = spark.read.text(path)
    val re = "^\\s*(<[^>]*>|_:\\S+)\\s+(<[^>]*>)\\s+(.*?)" +
      "(?:\\s+(<[^>]*>|_:\\S+))?\\s*\\.\\s*$"
    lines
      .where(length(trim(col("value"))) > 0 && !trim(col("value")).startsWith("#"))
      .select(
        regexp_extract(col("value"), re, 1).as("s_raw"),
        regexp_extract(col("value"), re, 2).as("p_raw"),
        regexp_extract(col("value"), re, 3).as("o_raw"),
        regexp_extract(col("value"), re, 4).as("g_raw"))
      .where(col("s_raw") =!= "")
      .select(cleanTerm(col("s_raw")).as("s"), cleanTerm(col("p_raw")).as("p"),
        cleanTerm(col("o_raw")).as("o"),
        when(col("g_raw") === "", lit(null).cast("string"))
          .otherwise(cleanTerm(col("g_raw"))).as("g"))
  }

  /** Serialize a quad relation to N-Quads lines (the export sink
    * matching `parseNQuads`): default-graph rows (g NULL) render as
    * plain triples, named rows carry the graph label. Distributed text
    * write like `writeNTriples`.
    */
  def writeNQuads(quads: DataFrame, path: String): Unit = {
    def render(c: org.apache.spark.sql.Column) =
      when(c.startsWith("\"") || c.startsWith("_:"), c)
        .otherwise(concat(lit("<"), c, lit(">")))
    quads
      .select(concat_ws(" ", render(col("s")), render(col("p")),
        render(col("o")),
        when(col("g").isNull, lit("."))
          .otherwise(concat(render(col("g")), lit(" .")))).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** Skolemize blank nodes: rewrite `_:label` to `_:<scope>:label` so
    * labels from different files/parse sessions never collide — the
    * distributed analog of the reference's per-parse `BlankNodeNamespace`
    * (`core/src/main/scala/com/graphula/BlankNodeNamespace.scala:5-24`),
    * deterministic instead of counter-allocated so re-ingestion is
    * idempotent and oracle-comparable (SURVEY §7.4).
    */
  def skolemize(triples: DataFrame, scope: String): DataFrame =
    Seq("s", "p", "o").foldLeft(triples) { (df, c) =>
      df.withColumn(c,
        when(col(c).startsWith("_:"),
          concat(lit("_:" + scope + ":"), expr(s"substring($c, 3)")))
          .otherwise(col(c)))
    }

  /** Per-predicate statistics — the plan-time analog of the reference's O(1)
    * exact index cardinalities (`Index.valueCount`, `Index.scala:121-131`).
    * count = pattern (?, p, ?); ndvS/ndvO estimate bound-position
    * selectivity: card(s, p, ?) ~= count / ndvS.
    * At 100 TB this is one pass, persisted alongside the triples table.
    */
  def predicateStats(triples: DataFrame): DataFrame =
    triples.groupBy("p").agg(
      count(lit(1)).as("cnt"),
      approx_count_distinct(col("s")).as("ndv_s"),
      approx_count_distinct(col("o")).as("ndv_o"))

  /** Same statistics as MERGEABLE state: exact counts plus DataSketches
    * HLL buffers for the distinct subject/object estimates. A batch append
    * computes the delta's sketches in O(Δ) and `mergeSketches` unions them
    * with the store's — counts ADD (the count shortcut stays exact) and
    * sketch unions preserve the estimate, so incremental ingest never
    * re-scans the store for statistics (the reference's `performAdd`
    * updates its LMDB cardinalities in place, `Index.scala:121-131`).
    */
  def predSketches(triples: DataFrame): DataFrame =
    triples.groupBy("p").agg(
      count(lit(1)).as("cnt"),
      hll_sketch_agg(col("s")).as("hs"),
      hll_sketch_agg(col("o")).as("ho"))

  /** `predSketches` with the HLL domain switched to the store's ID space
    * (the dictionary is a bijection, so ndv is identical) — computed from
    * the STRING relation by hashing inline, no dictionary join. Valid on
    * certified (pure-hash) stores, where id = content hash. Keeping the
    * sketch domain in id space lets ENCODED deltas (SPARQL Update's
    * modify path) merge their statistics without ever decoding strings.
    */
  def predSketchesHash(triples: DataFrame): DataFrame =
    triples.groupBy("p").agg(
      count(lit(1)).as("cnt"),
      hll_sketch_agg(graft.dict.Dictionary.termHash(col("s"))).as("hs"),
      hll_sketch_agg(graft.dict.Dictionary.termHash(col("o"))).as("ho"))

  /** Id-domain sketches from the ENCODED relation, re-keyed to string
    * predicates through a small broadcast (id, term) map that must cover
    * every predicate id appearing in `enc`.
    */
  def predSketchesEnc(enc: DataFrame, predMap: DataFrame): DataFrame =
    enc.groupBy("p").agg(
        count(lit(1)).as("cnt"),
        hll_sketch_agg(col("s")).as("hs"),
        hll_sketch_agg(col("o")).as("ho"))
      .join(broadcast(predMap.select(col("id").as("p"), col("term"))), Seq("p"))
      .select(col("term").as("p"), col("cnt"), col("hs"), col("ho"))

  def mergeSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b).groupBy("p").agg(
      sum("cnt").as("cnt"),
      hll_union_agg(col("hs")).as("hs"),
      hll_union_agg(col("ho")).as("ho"))

  /** Persist triples predicate-partitioned — partition pruning then serves
    * the `(?, p, ?)` / `(s, p, ?)` / `(?, p, o)` access paths the way the
    * LMDB key patterns did, and min/max row-group stats on s/o serve the
    * rest. Sorting within partitions maximizes parquet stats effectiveness.
    */
  def persist(triples: DataFrame, path: String): Unit =
    triples
      .repartition(col("p"))
      .sortWithinPartitions("s", "o")
      .write.mode("overwrite").partitionBy("p").parquet(path)

  /** Append-only variant of `persist`: writes ONLY the given delta rows
    * as new files under the existing predicate-partitioned layout (append
    * mode never touches existing files) — the incremental-durability step
    * for an appended store.
    */
  def persistAppend(deltaTriples: DataFrame, path: String): Unit =
    deltaTriples
      .repartition(col("p"))
      .sortWithinPartitions("s", "o")
      .write.mode("append").partitionBy("p").parquet(path)

  /** Persist a quad dataset GRAPH-partitioned: each named graph gets its
    * own directory (default-graph rows land in the null partition), so a
    * constant `GRAPH <g>` slice — and every `FROM` / `FROM NAMED`
    * dataset clause — becomes a DIRECTORY-PRUNED scan instead of a full
    * read. The per-graph sort keeps (s, p) runs together for row-group
    * min/max skipping under the graph directory. The quad analog of the
    * p-partitioned triple layout above.
    */
  def persistQuads(quads: DataFrame, path: String,
                   mode: String = "overwrite"): Unit =
    quads
      .repartition(col("g"))
      .sortWithinPartitions("s", "p", "o")
      .write.mode(mode).partitionBy("g").parquet(path)

  /** Reopen a graph-partitioned quad dataset. Spark reads the partition
    * column back as `g` (null for the default-graph directory), so the
    * result plugs straight into `Sparql.Dataset.Quads`. Partition-column
    * TYPE INFERENCE is a trap here: a numeric-looking graph label like
    * "42" or "01" would reopen as an int `g` ("01" → 1), silently
    * breaking `GRAPH <g>` / FROM NAMED string equality after a
    * persist/open round-trip — so the read pins `g` to string via an
    * explicit full schema (partition column included), which disables
    * inference for exactly this read without touching session config.
    */
  def openQuads(spark: SparkSession, path: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("g", org.apache.spark.sql.types.StringType)))
    spark.read.schema(schema).parquet(path).select("s", "p", "o", "g")
  }

  /** Dictionary-encode a quad dataset: (encoded quads, dictionary).
    * Every term — s, p, o, AND the graph label — becomes its xxhash64
    * id (g stays null for default-graph rows); the dictionary is the
    * distinct term set under the same hash. The build CERTIFIES the
    * encoding the way triple ingest does: any id claimed by two
    * distinct terms is a collision and fails fast here, so downstream
    * equality on ids is sound (`Sparql.Dataset.QuadsEncoded`).
    */
  def encodeQuads(quads: DataFrame): (DataFrame, DataFrame) = {
    import graft.dict.Dictionary
    val dict = quads
      .select(explode(array(col("s"), col("p"), col("o"), col("g"))).as("term"))
      .where(col("term").isNotNull).distinct()
      .select(Dictionary.termHash(col("term")).as("id"), col("term"))
    val collisions = dict.groupBy("id")
      .agg(count(lit(1)).as("n")).where(col("n") > 1)
    require(collisions.isEmpty,
      "xxhash64 collision in quad term set — use the string path " +
        "(Sparql.Dataset.Quads) for this dataset")
    val enc = quads.select(
      Dictionary.termHash(col("s")).as("s"),
      Dictionary.termHash(col("p")).as("p"),
      Dictionary.termHash(col("o")).as("o"),
      when(col("g").isNull, lit(null).cast("long"))
        .otherwise(Dictionary.termHash(col("g"))).as("g"))
    (enc, dict)
  }
}
