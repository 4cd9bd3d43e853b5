package graft

import scala.io.Source

import graft.sparql.Sparql
import graft.store.TripleStore

/** Golden-output corpus in the reference's GroundTruthSpec style
  * (`benchmarks/src/test/scala/com/graphula/benchmarks/lubm/GroundTruthSpec.scala:25-168`):
  * SPARQL queries over the sf0.001 store compared against checked-in TSV
  * files (header of variable names, rows sorted; `NO ANSWERS.` if empty).
  */
class GoldenSpec extends SparkSpec {

  lazy val triples = TripleStore.tableTriples(spark, sfDir)

  val queries: Map[String, String] = Map(
    "sparql_chain" ->
      """PREFIX : <>
        |SELECT ?c ?n ?r WHERE {
        |  ?c a "Customer" . ?c :nationkey ?n .
        |  ?n :regionkey ?r . ?r :name "ASIA" .
        |} ORDER BY ?c ?n ?r""".stripMargin,
    "sparql_filter" ->
      """PREFIX : <>
        |SELECT ?p ?sz WHERE { ?p a "Part" . ?p :size ?sz . FILTER (?sz > 25) }
        |ORDER BY ?p""".stripMargin,
    "sparql_union" ->
      """PREFIX : <>
        |SELECT ?x WHERE {
        |  { ?x :mktsegment "BUILDING" } UNION { ?x :mktsegment "MACHINERY" }
        |} ORDER BY ?x""".stripMargin,
    "sparql_topk" ->
      """PREFIX : <>
        |SELECT DISTINCT ?seg WHERE { ?c :mktsegment ?seg } ORDER BY ?seg LIMIT 3""".stripMargin,
    "sparql_optional" ->
      """PREFIX : <>
        |SELECT ?x ?m WHERE {
        |  ?x :name ?nm .
        |  OPTIONAL { ?x :mktsegment ?m }
        |} ORDER BY ?x ?m""".stripMargin,
    "sparql_minus" ->
      """PREFIX : <>
        |SELECT ?c WHERE {
        |  ?c a "Customer" .
        |  MINUS { ?c :mktsegment "BUILDING" }
        |} ORDER BY ?c""".stripMargin,
    "sparql_agg" ->
      """PREFIX : <>
        |SELECT ?nm (COUNT(?c) AS ?cnt) WHERE {
        |  ?c a "Customer" . ?c :nationkey ?n .
        |  ?n :regionkey ?r . ?r :name ?nm .
        |} GROUP BY ?nm ORDER BY ?nm""".stripMargin,
    // trailing VALUES INSIDE a subquery restricts BEFORE the subquery's
    // projection (§18.2.4.4) — ?n filters inside even though the outer
    // group never mentions it
    "sparql_subquery_values" ->
      """PREFIX : <>
        |SELECT ?seg ?n WHERE {
        |  ?c :mktsegment ?seg .
        |  { SELECT ?c ?n WHERE { ?c :nationkey ?n } VALUES ?n { "nation:3" "nation:9" } }
        |} ORDER BY ?seg ?c""".stripMargin,
    // XPath constructor casts inside aggregates + HAVING over the same
    // aggregate expression
    "sparql_cast_agg" ->
      """PREFIX : <>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?brand (SUM(xsd:integer(?sz)) AS ?tot) WHERE {
        |  ?p a "Part" . ?p :brand ?brand . ?p :size ?sz
        |} GROUP BY ?brand HAVING (SUM(xsd:integer(?sz)) > 100)
        |ORDER BY ?brand""".stripMargin,
    "sparql_exists_expr" ->
      """PREFIX : <>
        |SELECT ?c WHERE {
        |  ?c a "Customer" . ?c :nationkey ?n .
        |  FILTER(EXISTS { ?n :regionkey "region:0" } || ?c = "customer:1")
        |} ORDER BY ?c""".stripMargin,
    "sparql_if_exists" ->
      """PREFIX : <>
        |SELECT ?n ?k WHERE {
        |  ?n a "Nation" .
        |  BIND(IF(EXISTS { ?s a "Supplier" . ?s :nationkey ?n },
        |          "has-suppliers", "none") AS ?k)
        |} ORDER BY ?n""".stripMargin,
    "sparql_path" ->
      """PREFIX : <>
        |SELECT ?c ?r WHERE { ?c :nationkey/:regionkey ?r } ORDER BY ?c ?r""".stripMargin,
    "sparql_path_alt" ->
      """PREFIX : <>
        |SELECT ?n ?v WHERE { ?n a "Nation" . ?n :name|:regionkey ?v }
        |ORDER BY ?n ?v""".stripMargin,
    "sparql_path_inv" ->
      """PREFIX : <>
        |SELECT ?r ?n WHERE { ?r ^:regionkey ?n } ORDER BY ?r ?n""".stripMargin,
    "sparql_path_star" ->
      """PREFIX : <>
        |SELECT ?x WHERE { <nation:3> :regionkey* ?x } ORDER BY ?x""".stripMargin,
    "sparql_bind" ->
      """PREFIX : <>
        |SELECT ?p ?label WHERE {
        |  ?p a "Part" . ?p :size ?sz .
        |  BIND(CONCAT("sz-", ?sz) AS ?label)
        |} ORDER BY ?p""".stripMargin,
    "sparql_bound" ->
      """PREFIX : <>
        |SELECT ?x WHERE {
        |  ?x a "Customer" .
        |  OPTIONAL { ?x :mktsegment ?m . FILTER (?m = "BUILDING") }
        |  FILTER (!BOUND(?m))
        |} ORDER BY ?x""".stripMargin,
    "sparql_groupconcat" ->
      """PREFIX : <>
        |SELECT ?r (GROUP_CONCAT(?nm ; SEPARATOR ",") AS ?names) WHERE {
        |  ?n a "Nation" . ?n :regionkey ?r . ?n :name ?nm .
        |} GROUP BY ?r ORDER BY ?r""".stripMargin,
    "sparql_exists" ->
      """PREFIX : <>
        |SELECT ?n WHERE {
        |  ?n a "Nation" .
        |  FILTER EXISTS { ?s a "Supplier" . ?s :nationkey ?n }
        |} ORDER BY ?n""".stripMargin,
    "sparql_subquery" ->
      """PREFIX : <>
        |SELECT ?n ?cnt WHERE {
        |  ?n a "Nation" .
        |  { SELECT ?n (COUNT(?c) AS ?cnt) WHERE { ?c :nationkey ?n } GROUP BY ?n }
        |} ORDER BY ?n""".stripMargin,
    "sparql_in" ->
      """PREFIX : <>
        |SELECT ?p ?sz WHERE {
        |  ?p a "Part" . ?p :size ?sz .
        |  FILTER (?sz IN ("25", "30", "35"))
        |} ORDER BY ?p""".stripMargin,
    "sparql_npath" ->
      """PREFIX : <>
        |SELECT ?n ?v WHERE { ?n a "Nation" . ?n !(:a|:name) ?v }
        |ORDER BY ?n ?v""".stripMargin,
    "sparql_polist" ->
      """PREFIX : <>
        |SELECT ?o ?c WHERE {
        |  ?o a "Order" ; :orderstatus "F" ; :custkey ?c .
        |  ?c :mktsegment "BUILDING" .
        |} ORDER BY ?o ?c""".stripMargin,
    "sparql_opt_cond" ->
      """PREFIX : <>
        |SELECT ?x ?m WHERE {
        |  ?x a "Customer" . ?x :nationkey ?n .
        |  OPTIONAL { ?x :mktsegment ?m . FILTER (?n = "nation:3") }
        |} ORDER BY ?x ?m""".stripMargin,
    "sparql_strfns" ->
      """PREFIX : <>
        |SELECT ?p (SUBSTR(?nm, 1, 4) AS ?head) (STRAFTER(?nm, " ") AS ?noun)
        |WHERE { ?p a "Part" ; :name ?nm } ORDER BY ?p""".stripMargin,
    "sparql_values_undef" ->
      """PREFIX : <>
        |SELECT ?c ?m ?tag WHERE {
        |  ?c :mktsegment ?m .
        |  VALUES (?m ?tag) { ("BUILDING" "b") (UNDEF "any") }
        |} ORDER BY ?c ?tag""".stripMargin,
    "sparql_order_expr" ->
      """PREFIX : <>
        |SELECT ?p ?nm WHERE { ?p a "Part" ; :name ?nm }
        |ORDER BY DESC(STRLEN(?nm)) ?p""".stripMargin,
    "sparql_group_expr" ->
      """PREFIX : <>
        |SELECT ?seg (COUNT(?c) AS ?cnt) WHERE { ?c :mktsegment ?m }
        |GROUP BY (CONCAT("seg-", ?m) AS ?seg) ORDER BY ?seg""".stripMargin,
    // --- adversarial semantics: ARQ algebra vs naive SQL ---
    "sparql_path_zero_absent" ->
      """PREFIX : <>
        |SELECT ?x WHERE { <ghost:1> :regionkey* ?x } ORDER BY ?x""".stripMargin,
    "sparql_opt_nested" ->
      """PREFIX : <>
        |SELECT ?n ?s ?m WHERE {
        |  ?n a "Nation" .
        |  OPTIONAL { ?s :nationkey ?n . ?s a "Supplier" .
        |             OPTIONAL { ?s :mktsegment ?m } }
        |} ORDER BY ?n ?s ?m""".stripMargin,
    "sparql_opt_minus" ->
      """PREFIX : <>
        |SELECT ?c ?m WHERE {
        |  ?c a "Customer" .
        |  OPTIONAL { ?c :mktsegment ?m }
        |  MINUS { ?c :mktsegment "BUILDING" }
        |} ORDER BY ?c ?m""".stripMargin,
    "sparql_union_disjoint" ->
      """PREFIX : <>
        |SELECT ?x ?y WHERE {
        |  { ?x :name "ASIA" } UNION { ?y :mktsegment "BUILDING" }
        |} ORDER BY ?x ?y""".stripMargin,
    "sparql_groupconcat_empty" ->
      """PREFIX : <>
        |SELECT ?n (GROUP_CONCAT(?m ; SEPARATOR ",") AS ?gs) WHERE {
        |  ?n a "Nation" .
        |  OPTIONAL { ?s :nationkey ?n . ?s a "Supplier" . ?s :mktsegment ?m }
        |} GROUP BY ?n ORDER BY ?n""".stripMargin,
    "sparql_subquery_limit" ->
      """PREFIX : <>
        |SELECT ?n ?nm WHERE {
        |  ?n :name ?nm .
        |  { SELECT ?n WHERE { ?n a "Nation" } ORDER BY ?n LIMIT 5 }
        |} ORDER BY ?n ?nm""".stripMargin,
    "sparql_values_multi" ->
      """PREFIX : <>
        |SELECT ?n ?nm WHERE {
        |  ?n :name ?nm .
        |  VALUES (?n ?nm) { (<nation:1> "NATION_1") (<nation:2> "WRONG") }
        |} ORDER BY ?n""".stripMargin,
    "sparql_not_exists_empty" ->
      """PREFIX : <>
        |SELECT ?r WHERE {
        |  ?r a "Region" .
        |  FILTER NOT EXISTS { ?r :ghost ?y }
        |} ORDER BY ?r""".stripMargin,
    "sparql_path_opt" ->
      """PREFIX : <>
        |SELECT ?x WHERE { <nation:3> :regionkey? ?x } ORDER BY ?x""".stripMargin,
    "sparql_desc_offset" ->
      """PREFIX : <>
        |SELECT ?n ?nm WHERE { ?n a "Nation" . ?n :name ?nm }
        |ORDER BY DESC(?nm) LIMIT 5 OFFSET 3""".stripMargin,
    "sparql_filter_bool" ->
      """PREFIX : <>
        |SELECT ?p ?sz WHERE {
        |  ?p a "Part" . ?p :size ?sz . ?p :brand ?b .
        |  FILTER ((?sz > 40 || ?sz < 3) && !(?b = "Brand#3"))
        |} ORDER BY ?p""".stripMargin,
    "sparql_union_optional" ->
      """PREFIX : <>
        |SELECT ?x ?m WHERE {
        |  { ?x a "Customer" . OPTIONAL { ?x :mktsegment ?m } }
        |  UNION { ?x a "Region" }
        |} ORDER BY ?x ?m""".stripMargin,
    "sparql_closure_alt" ->
      """PREFIX : <>
        |SELECT ?x WHERE { <customer:7> (:nationkey|:regionkey)+ ?x }
        |ORDER BY ?x""".stripMargin,
    "sparql_if" ->
      """PREFIX : <>
        |SELECT ?p ?cls WHERE {
        |  ?p a "Part" . ?p :size ?sz .
        |  BIND(IF(?sz > 25, "big", IF(?sz > 10, "mid", "small")) AS ?cls)
        |} ORDER BY ?p""".stripMargin,
    "sparql_time" ->
      """PREFIX : <>
        |SELECT ?r ?h ?m ?sec ?tz ?dur WHERE {
        |  ?r a "Region" .
        |  BIND("2024-03-05T14:45:13.5+05:30" AS ?d)
        |  BIND(HOURS(?d) AS ?h)
        |  BIND(MINUTES(?d) AS ?m)
        |  BIND(SECONDS(?d) AS ?sec)
        |  BIND(TZ(?d) AS ?tz)
        |  BIND(TIMEZONE(?d) AS ?dur)
        |} ORDER BY ?r""".stripMargin,
    "sparql_strdt" ->
      """PREFIX : <>
        |SELECT ?r ?t ?dt ?b WHERE {
        |  ?r a "Region" . ?r :name ?nm .
        |  BIND(STRDT(?nm, "http://www.w3.org/2001/XMLSchema#token") AS ?t)
        |  BIND(DATATYPE(?t) AS ?dt)
        |  BIND(BNODE(?nm) AS ?b)
        |} ORDER BY ?r""".stripMargin,
    "sparql_blank_polist" ->
      """PREFIX : <>
        |SELECT ?o WHERE { [ :name "NATION_3" ; :regionkey ?o ] }
        |ORDER BY ?o""".stripMargin,
    "sparql_npath_inv" ->
      """PREFIX : <>
        |SELECT ?n ?v WHERE { ?n a "Nation" . ?n !(:a|:name|^:nationkey) ?v }
        |ORDER BY ?n ?v""".stripMargin,
    "sparql_agg_distinct" ->
      """PREFIX : <>
        |SELECT (SUM(DISTINCT ?sz) AS ?s) (AVG(DISTINCT ?sz) AS ?a)
        |WHERE { ?p a "Part" ; :size ?sz }""".stripMargin,
    "sparql_values_trailing" ->
      """PREFIX : <>
        |SELECT ?n ?nm WHERE { ?n a "Nation" . ?n :name ?nm }
        |ORDER BY ?n VALUES ?nm { "NATION_3" "NATION_7" "NATION_12" }""".stripMargin,
    "sparql_values_postagg" ->
      """PREFIX : <>
        |SELECT ?seg (COUNT(?c) AS ?cnt) WHERE { ?c :mktsegment ?seg }
        |GROUP BY ?seg ORDER BY ?seg VALUES ?seg { "BUILDING" "MACHINERY" }""".stripMargin,
    // §18.2.4.4 post-aggregation VALUES with an UNDEF wildcard cell: the
    // (UNDEF "w") row matches every group, the bound row only BUILDING —
    // composed on BOTH stores (see the encoded byte-identity case below)
    "sparql_values_postagg_undef" ->
      """PREFIX : <>
        |SELECT ?seg (COUNT(?c) AS ?cnt) ?tag WHERE { ?c :mktsegment ?seg }
        |GROUP BY ?seg ORDER BY ?seg ?tag
        |VALUES (?seg ?tag) { ("BUILDING" "b") (UNDEF "w") }""".stripMargin,
    // a property path INSIDE an existence filter (two features composed)
    "sparql_exists_path" ->
      """PREFIX : <>
        |SELECT ?c WHERE {
        |  ?c a "Customer" .
        |  FILTER EXISTS { ?c :nationkey/:regionkey/:name "ASIA" }
        |} ORDER BY ?c""".stripMargin,
    // nested OPTIONAL with an inner-scope filter: failing the filter
    // nulls ONLY the inner binding, never the outer solution
    "sparql_nested_optional" ->
      """PREFIX : <>
        |SELECT ?s ?n ?r WHERE {
        |  ?s a "Supplier" .
        |  OPTIONAL { ?s :nationkey ?n .
        |             OPTIONAL { ?n :regionkey ?r . FILTER (?r != <region:0>) } }
        |} ORDER BY ?s ?n ?r""".stripMargin,
    "sparql_groupconcat_sep" ->
      """PREFIX : <>
        |SELECT ?r (GROUP_CONCAT(?nm ; SEPARATOR "|") AS ?names) WHERE {
        |  ?n :regionkey ?r . ?n :name ?nm
        |} GROUP BY ?r ORDER BY ?r""".stripMargin,
    // a property path INSIDE a MINUS group
    "sparql_minus_path" ->
      """PREFIX : <>
        |SELECT ?c WHERE {
        |  ?c a "Customer" .
        |  MINUS { ?c :nationkey/:regionkey <region:1> }
        |} ORDER BY ?c""".stripMargin,
    // a UNION inside an existence filter
    "sparql_exists_union" ->
      """PREFIX : <>
        |SELECT ?n WHERE {
        |  ?n a "Nation" .
        |  FILTER EXISTS { { ?n :name "NATION_2" } UNION { ?n :name "NATION_5" } }
        |} ORDER BY ?n""".stripMargin)

  /** UPDATE golden cases: (update script, select over the updated store).
    * The TSVs replay the update algebra in DuckDB SQL (tools/golden.py).
    */
  val updateCases: Map[String, (String, String)] = Map(
    "update_rewrite" -> (
      """PREFIX : <>
        |DELETE { ?n :name ?m } INSERT { ?n :label ?m }
        |WHERE { ?n a "Nation" . ?n :name ?m }""".stripMargin,
      """PREFIX : <>
        |SELECT ?n ?m WHERE { ?n :label ?m } ORDER BY ?n ?m""".stripMargin),
    "update_delete_where" -> (
      """PREFIX : <>
        |DELETE WHERE { ?c :mktsegment "BUILDING" }""".stripMargin,
      """PREFIX : <>
        |SELECT ?c ?m WHERE { ?c a "Customer" . ?c :mktsegment ?m }
        |ORDER BY ?c ?m""".stripMargin),
    "update_insert_data" -> (
      """PREFIX : <>
        |INSERT DATA { <region:9> :a "Region" . <region:9> :name "OCEANIA" }""".stripMargin,
      """PREFIX : <>
        |SELECT ?nm WHERE { ?r a "Region" . ?r :name ?nm } ORDER BY ?nm""".stripMargin))

  private def golden(name: String): Seq[String] = {
    val url = getClass.getResource(s"/golden/$name.tsv")
    require(url != null, s"missing golden file for $name")
    val src = Source.fromURL(url)
    try src.getLines().toList finally src.close()
  }

  private def tsvOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.columns.mkString("\t") +:
      df.collect().toSeq.map(r =>
        (0 until r.length).map(i => if (r.isNullAt(i)) "" else r.get(i).toString)
          .mkString("\t"))

  queries.foreach { case (name, q) =>
    "SPARQL golden corpus" should s"reproduce $name exactly" in {
      val got = tsvOf(Sparql.execute(spark, Sparql.Dataset.Triples(triples), q))
      val want = golden(name)
      if (want == Seq("NO ANSWERS.")) got.length shouldBe 1
      else got shouldBe want
    }
  }

  "SPARQL golden corpus" should "reproduce sparql_service_var exactly" in {
    import org.apache.spark.sql.functions.col
    Sparql.registerEndpoint(spark, "graft://nations",
      triples.where(col("s").startsWith("nation:")))
    Sparql.registerEndpoint(spark, "graft://regions",
      triples.where(col("s").startsWith("region:")))
    try {
      val got = tsvOf(Sparql.execute(spark, Sparql.Dataset.Triples(triples),
        """PREFIX : <>
          |SELECT ?ep ?x ?nm WHERE { SERVICE ?ep { ?x :name ?nm } }
          |ORDER BY ?ep ?x ?nm""".stripMargin))
      got shouldBe golden("sparql_service_var")
    } finally {
      Sparql.unregisterEndpoint(spark, "graft://nations")
      Sparql.unregisterEndpoint(spark, "graft://regions")
    }
  }

  "SPARQL golden corpus" should
    "reproduce sparql_values_postagg_undef on the ENCODED store byte-identically" in {
    val st = graft.store.GraftStore.ingestTriples(spark, triples)
    val got = tsvOf(Sparql.execute(spark, st,
      queries("sparql_values_postagg_undef")))
    got shouldBe golden("sparql_values_postagg_undef")
  }

  updateCases.foreach { case (name, (script, sel)) =>
    "SPARQL UPDATE golden corpus" should s"reproduce $name exactly" in {
      val h0 = graft.store.GraftStore.ingestTriples(spark, triples)
      val h1 = Sparql.update(spark, h0, script)
      val got = tsvOf(Sparql.execute(spark, Sparql.Dataset.Triples(h1.triples, h1.stats), sel))
      got shouldBe golden(name)
    }
  }
}
