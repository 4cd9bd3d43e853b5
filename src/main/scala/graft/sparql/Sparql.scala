package graft.sparql

import graft.bgp.{Bgp, C, PredStats, Term, TriplePattern, V}
import graft.ops.GraphOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.language.implicitConversions

/** SPARQL 1.1 SELECT front-end.
  *
  * The reference delegates everything beyond BGPs to Jena ARQ
  * (`sparql/src/main/scala/com/graphula/sparql/Sparql.scala:41-65`,
  * `GraphulaStageGenerator.scala:28-133`); here the same query surface
  * compiles onto Spark built-ins instead: BGP -> `Bgp.compile` self-join
  * chain, OPTIONAL -> left join, UNION -> unionByName (bag semantics,
  * missing vars null), MINUS -> anti join, FILTER -> `where`,
  * EXISTS/NOT EXISTS -> semi/anti join, property paths -> relational
  * algebra over the edge relation (closures by iterated path doubling),
  * subqueries -> compiled DataFrames joined on shared variables,
  * DISTINCT/ORDER BY/LIMIT -> `distinct`/`orderBy`/`limit` (Catalyst
  * turns sort+limit into top-k).
  *
  * Grammar (SPARQL 1.1 SELECT core + paths + aggregates):
  *   PREFIX pfx: <iri>
  *   SELECT [DISTINCT] (?v | (expr AS ?a) | (FN([DISTINCT] ?v|*) AS ?a))* | *
  *   WHERE {
  *     s path o .         triple patterns; `a` for rdf:type; paths:
  *                        p, p1/p2, p1|p2, ^p, p+, p*, p?, (path)
  *     OPTIONAL { ... }   left join on shared variables
  *     { ... } UNION { ... } | { ... }        group / union
  *     { SELECT ... }     subquery, joined on shared variables
  *     MINUS { ... }      anti join on shared variables
  *     VALUES ?v { ... }  inline data
  *     BIND (expr AS ?v)  computed binding
  *     FILTER (expr) | FILTER [NOT] EXISTS { ... }
  *   } [GROUP BY ?v*] [HAVING (expr)*] [ORDER BY ...] [LIMIT n] [OFFSET n]
  *   [VALUES ...]       trailing ValuesClause (§18.2.4.4): joined after
  *                      aggregation, before projection and modifiers
  *
  * Expressions: + - * / over numeric-cast terms; comparisons; && || !;
  * builtins STR LANG STRLEN UCASE LCASE CONCAT COALESCE, boolean BOUND
  * isIRI/isURI isBlank isLiteral STRSTARTS STRENDS CONTAINS REGEX.
  * Aggregates: COUNT SUM MIN MAX AVG GROUP_CONCAT (SEPARATOR) SAMPLE.
  *
  * Determinism notes (the engine is oracle-checked bit-for-bit):
  * GROUP_CONCAT sorts its inputs (SPARQL leaves order undefined);
  * SAMPLE picks MIN (any value is conformant). Terms are stored as
  * strings, so isIRI/LANG/STR follow the store's serialization: an IRI
  * contains ':' and is neither quoted nor a `_:` blank; LANG extracts a
  * trailing `"..."@tag`; STR strips the quotes off a quoted literal.
  * ORDER BY compares the SERIALIZED term (binary collation) — a
  * deliberate divergence from ARQ's by-value ordering for pure-numeric
  * literals ("10" sorts before "9"), chosen so ordering is identical in
  * every engine that sees the stored strings (the oracle convention);
  * numeric ordering is available by sorting on an expression key
  * (`ORDER BY (?x * 1)` casts through the numeric grammar).
  */
object Sparql {

  // ---------- AST ----------
  /** Projection item: plain variable, aggregate, or computed expression. */
  sealed trait ProjItem
  final case class PVar(name: String) extends ProjItem
  final case class PAgg(fn: String, arg: Option[String], alias: String,
                        distinct: Boolean = false, sep: String = " ") extends ProjItem
  final case class PExpr(e: EExpr, alias: String) extends ProjItem

  /** ORDER BY key: a plain variable, or an arbitrary value expression
    * (SPARQL 1.1 §15.1 OrderCondition — `DESC(COUNT(?x))`,
    * `STRLEN(?name)`, a bracketted expression...). Expression keys (and
    * vars outside the projection) sort on shadow columns computed BEFORE
    * projection, so the algebra position matches ARQ's OrderBy-then-
    * Project.
    */
  sealed trait OrdKey
  final case class OVar(name: String) extends OrdKey
  final case class OExpr(e: EExpr) extends OrdKey

  final case class Query(distinct: Boolean, projection: Seq[ProjItem], group: Group,
                         groupBy: Seq[String], orderBy: Seq[(OrdKey, Boolean)],
                         limit: Option[Int], offset: Option[Int] = None,
                         having: Seq[Expr] = Seq.empty,
                         // trailing ValuesClause (§18.2.4.4): joined AFTER
                         // aggregation, BEFORE projection/modifiers
                         postValues: Option[(Seq[String], Seq[Seq[String]])] = None,
                         // dataset clauses: FROM <g> (merged default
                         // graph) and FROM NAMED <g> (GRAPH-visible set)
                         fromGraphs: Seq[String] = Seq.empty,
                         fromNamed: Seq[String] = Seq.empty)
  final case class Group(triples: Seq[TriplePattern], filters: Seq[Expr],
                         optionals: Seq[Group], unions: Seq[(Group, Group)],
                         minuses: Seq[Group] = Seq.empty,
                         values: Seq[(String, Seq[String])] = Seq.empty,
                         paths: Seq[(Term, Path, Term)] = Seq.empty,
                         binds: Seq[(EExpr, String)] = Seq.empty,
                         subqueries: Seq[Query] = Seq.empty,
                         subgroups: Seq[Group] = Seq.empty,
                         existsFilters: Seq[(Group, Boolean)] = Seq.empty,
                         valuesMulti: Seq[(Seq[String], Seq[Seq[String]])] = Seq.empty,
                         // GRAPH ?g { .. } / GRAPH <iri> { .. } blocks —
                         // matched against the NAMED part of a quad
                         // dataset (Dataset.Quads / QuadsEncoded)
                         graphs: Seq[(Term, Group)] = Seq.empty,
                         // SERVICE [SILENT] <iri> { .. } blocks (§SPARQL
                         // 1.1 Federated Query): evaluated against a
                         // REGISTERED endpoint relation (registerEndpoint)
                         services: Seq[(String, Group, Boolean)] = Seq.empty)

  /** Property-path algebra (SPARQL 1.1 §9; the reference gets these from
    * ARQ). Compiled to (s, o) relations over the edge table.
    */
  sealed trait Path
  final case class PEdge(pred: String) extends Path
  final case class PInv(p: Path) extends Path
  final case class PSeq(l: Path, r: Path) extends Path
  final case class PAlt(l: Path, r: Path) extends Path
  final case class PClosure(p: Path, includeZero: Boolean) extends Path // + / *
  final case class POpt(p: Path) extends Path                           // ?
  final case class PNegSet(preds: Seq[String],                          // !(p1|^p2)
                           invPreds: Seq[String] = Seq.empty) extends Path

  /** Value expressions (BIND, expression projection, operands). */
  sealed trait EExpr
  final case class EVar(name: String) extends EExpr
  final case class ENumL(v: Double) extends EExpr
  final case class EStrL(v: String) extends EExpr
  final case class EBin(l: EExpr, op: String, r: EExpr) extends EExpr
  final case class ECall(fn: String, args: Seq[EExpr]) extends EExpr
  /** IF(cond, then, else) — the condition uses the BOOLEAN grammar. */
  final case class EIf(cond: Expr, t: EExpr, f: EExpr) extends EExpr

  /** Boolean (FILTER/HAVING) expressions. */
  sealed trait Expr
  final case class Cmp(l: EExpr, op: String, r: EExpr) extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class BFn(fn: String, args: Seq[EExpr]) extends Expr
  /** `EXISTS { G }` in EXPRESSION position (inside &&/||/!/IF) — the
    * standalone `FILTER [NOT] EXISTS` stays on the semi/anti-join path.
    * Compiled by materializing a boolean marker column (left join on the
    * shared vars) before expression compilation; [[MarkerE]] is the
    * rewritten reference, never produced by the parser.
    */
  final case class ExistsE(g: Group) extends Expr
  final case class MarkerE(name: String) extends Expr
  /** Encoded-mode rewrites of PURE TERM-EQUALITY predicates (`=`, `IN`,
    * `sameTerm` against string constants / between id vars): the
    * dictionary is a bijection, so term equality ⟺ id equality, and the
    * predicate runs on the raw long column with NO decode join. Never
    * produced by the parser — [[encTermEqRewrite]] emits them.
    */
  final case class IdEq(v: String, ids: Seq[Long]) extends Expr
  final case class IdEqVar(a: String, b: String) extends Expr

  // ---------- Tokenizer ----------
  private sealed trait Tok
  private case class TWord(s: String) extends Tok      // bare word / keyword / `a`
  private case class TVar(s: String) extends Tok       // ?name (name only)
  private case class TIri(s: String) extends Tok       // <...> (stripped)
  private case class TStr(s: String) extends Tok       // "..." (unquoted)
  private case class TNum(s: String) extends Tok
  private case class TPName(prefix: String, local: String) extends Tok // pfx:local
  private case class TSym(s: String) extends Tok

  private val tokenRe =
    """\s*(?:(\?[A-Za-z_][A-Za-z0-9_]*)|(<[^>]*>)|("(?:[^"\\]|\\.)*")|([+-]?\d+(?:\.\d+)?)|([A-Za-z_][A-Za-z0-9_]*)?:([A-Za-z0-9_][A-Za-z0-9_]*)?|([A-Za-z_][A-Za-z0-9_]*)|(&&|\|\||!=|<=|>=|[{}()\[\].!=<>*,/+\-^|;?]))""".r

  private def tokenize(s: String): Vector[Tok] = {
    var i = 0
    val out = Vector.newBuilder[Tok]
    while (i < s.length && !s.substring(i).forall(_.isWhitespace)) {
      // comments: '#' at a token boundary skips to end of line ('#' inside
      // <iri> or "literal" tokens is consumed atomically by the regex)
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i >= s.length) {
        // only trailing whitespace/comment remained
      } else if (s.charAt(i) == '#') {
        val nl = s.indexOf('\n', i)
        i = if (nl < 0) s.length else nl + 1
      } else
      tokenRe.findPrefixMatchOf(s.subSequence(i, s.length)) match {
        case Some(m) if m.end > 0 =>
          if (m.group(1) != null) out += TVar(m.group(1).substring(1))
          else if (m.group(2) != null) out += TIri(m.group(2).stripPrefix("<").stripSuffix(">"))
          else if (m.group(3) != null) out += TStr(unescape(m.group(3)))
          else if (m.group(4) != null) out += TNum(m.group(4))
          else if (m.group(5) != null || m.group(6) != null ||
            (m.matched.trim.contains(":") && m.group(7) == null && m.group(8) == null))
            out += TPName(Option(m.group(5)).getOrElse(""), Option(m.group(6)).getOrElse(""))
          else if (m.group(7) != null) out += TWord(m.group(7))
          else out += TSym(m.group(8))
          i += m.end
        case _ =>
          throw new IllegalArgumentException(s"SPARQL tokenizer stuck at: ${s.substring(i).take(30)}")
      }
    }
    out.result()
  }

  private def unescape(quoted: String): String =
    quoted.substring(1, quoted.length - 1)
      .replace("\\\"", "\"").replace("\\\\", "\\")
      .replace("\\n", "\n").replace("\\t", "\t")

  // ---------- Parser (recursive descent) ----------
  private class P(toks: Vector[Tok]) {
    var pos = 0
    def peek: Option[Tok] = toks.lift(pos)
    def peekAhead(n: Int): Option[Tok] = toks.lift(pos + n)
    def next(): Tok = { val t = toks(pos); pos += 1; t }
    def isKw(t: Tok, kw: String): Boolean = t match {
      case TWord(w) => w.equalsIgnoreCase(kw)
      case _ => false
    }
    def eatKw(kw: String): Unit = {
      if (!peek.exists(isKw(_, kw))) fail(s"expected $kw")
      pos += 1
    }
    def tryKw(kw: String): Boolean =
      if (peek.exists(isKw(_, kw))) { pos += 1; true } else false
    def eatSym(sym: String): Unit = peek match {
      case Some(TSym(s)) if s == sym => pos += 1
      case _ => fail(s"expected '$sym'")
    }
    def trySym(sym: String): Boolean = peek match {
      case Some(TSym(s)) if s == sym => pos += 1; true
      case _ => false
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"SPARQL parse error at token $pos: $msg (found ${peek.getOrElse("EOF")})")
    /** Fresh-internal-variable counter (`__pv` path midpoints, `__bn`
      * anonymous blanks) — QUERY-global, not per-group: nested groups
      * join on their shared columns, so a per-group counter would let an
      * outer `__pv0` collide with an OPTIONAL/subgroup `__pv0` and
      * silently constrain two unrelated midpoints equal.
      */
    var fresh = 0
    /** Prologue prefix map, recorded by parsePrefixes so EXPRESSION
      * parsing (which threads only `p`) can resolve IRI/prefixed-name
      * constants too — `FILTER (?r != <region:0>)`, `?t = :name`.
      */
    var prefixes: Map[String, String] = Map.empty
  }

  private val aggFns =
    Seq("COUNT", "SUM", "MIN", "MAX", "AVG", "GROUP_CONCAT", "SAMPLE")
  private val boolFns =
    Seq("BOUND", "REGEX", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL",
      "ISNUMERIC", "STRSTARTS", "STRENDS", "CONTAINS", "LANGMATCHES",
      "SAMETERM")

  /** The data a query reads, one case per kind of relation:
    *   - [[Dataset.Triples]]: an (s, p, o) relation of term strings.
    *   - [[Dataset.Store]]: a store handle; its dictionary-encoded
    *     triples are queried on long ids and decoded once at the top.
    *   - [[Dataset.Quads]]: an (s, p, o, g) relation of term strings;
    *     rows with a null `g` form the default graph, the others the
    *     named graphs (§13).
    *   - [[Dataset.QuadsEncoded]]: the same on certified xxhash64 ids,
    *     with its dictionary (`GraftStore.quadDatasetEnc`, or
    *     `TripleStore.encodeQuads` directly).
    * Only quads take GRAPH blocks and the FROM / FROM NAMED clauses.
    * `stats` are per-predicate counts, keyed by the predicate term (by
    * the encoded id's decimal string for encoded quads,
    * `GraftStore.quadStats`); they order patterns and never change
    * results.
    */
  sealed trait Dataset
  object Dataset {
    final case class Triples(triples: DataFrame,
                             stats: Map[String, PredStats] = Map.empty) extends Dataset
    final case class Store(handle: graft.store.StoreHandle) extends Dataset
    final case class Quads(quads: DataFrame,
                           stats: Map[String, PredStats] = Map.empty) extends Dataset
    final case class QuadsEncoded(encQuads: DataFrame, dict: DataFrame,
                                  stats: Map[String, PredStats] = Map.empty)
        extends Dataset

    /** A store handle passes wherever a dataset is expected. */
    implicit def fromStore(handle: graft.store.StoreHandle): Dataset =
      Store(handle)
  }

  /** SELECT. On encoded data this is the reference's execution model
    * end to end (`GraphulaStageGenerator.scala:33-131`,
    * `BindingAdapter.scala:21-82`): parse -> encode every
    * pattern-position constant driver-side -> compile the WHOLE algebra
    * (BGP joins, OPTIONAL, UNION, MINUS, property paths, VALUES, EXISTS,
    * subqueries, aggregates) over long keys -> decode lazily, only at
    * operators that inspect term values (FILTER / BIND / aggregate args /
    * ORDER BY) and once at the top for the projected columns. At scale
    * every shuffle in the plan moves fixed-width longs, never strings —
    * the cost model the reference gets from its LMDB ids.
    *
    * Constants absent from the dictionary get query-local ids (negative on
    * a repaired store; content hashes on a certified one), so they match
    * nothing yet still decode back to themselves — preserving e.g. the
    * zero-length-path solution `<absent> p* <absent>`. A var that is BOTH
    * a BIND/alias output (value-typed) and a pattern var (id-typed) is
    * demoted to its term string at every pattern-machinery source
    * (`demoteToTerms`), so the whole plan sees one type for it.
    *
    * The top-level decode runs eagerly, inside this call
    * (`Dictionary.decodeAll`): the encoded result is pinned and collected
    * in one bounded job (none when the BGP matched on the driver); if it
    * holds at most `Dictionary.LocalCap` rows it is decoded on the driver
    * from the store dictionary's driver-held index (no job; a dictionary
    * past the index's cap costs one probe job), and the returned
    * DataFrame is a local relation, so collecting it starts no job. A
    * larger result falls back to the distributed decode over the same
    * pin, and the driver never receives more than the cap. String
    * datasets return the lazy plan.
    */
  def execute(spark: SparkSession, ds: Dataset, queryText: String): DataFrame = {
    val q = parse(queryText)
    // trailing-ValuesClause entries are pattern-position constants too —
    // fold them into the const-encoding walk as a synthetic inline block
    val gConsts = q.postValues.fold(q.group)(pv =>
      q.group.copy(valuesMulti = q.group.valuesMulti :+ pv))
    compileQuery(
      datasetEnv(spark, ds, gConsts, plainVarsOf(q), q.fromGraphs, q.fromNamed),
      q, top = true)
  }

  /** [[execute]] over a store handle, kept because the benchmark in
    * `perfbench/` calls it by this name.
    */
  def executeEncoded(spark: SparkSession, store: graft.store.StoreHandle,
                     queryText: String): DataFrame =
    execute(spark, Dataset.Store(store), queryText)

  /** ASK: does the pattern have at least one solution? The reference
    * throws on ASK (`CustomQueryExecution.scala:175`); here the WHERE
    * group compiles with an early-out limit(1). On encoded data the
    * existence check runs on long keys, with no decode at all.
    */
  def ask(spark: SparkSession, ds: Dataset, queryText: String): Boolean = {
    val p = new P(tokenize(queryText))
    val prefixes = parsePrefixes(p)
    p.eatKw("ASK")
    val (group, env) = parseWhere(spark, ds, p, prefixes)
    compileGroup(env, group).limit(1).count() > 0
  }

  /** The tail ASK and CONSTRUCT share — DatasetClause* WhereClause
    * ValuesClause (§19.8; the WHERE keyword is optional) — and the
    * environment of `ds` for its group.
    */
  private def parseWhere(spark: SparkSession, ds: Dataset, p: P,
                         prefixes: Map[String, String]): (Group, Env) = {
    val (fromGraphs, fromNamed) = parseDatasetClauses(p, prefixes)
    p.tryKw("WHERE")
    val group = withTrailingValues(p, prefixes, parseGroup(p, prefixes))
    (group, datasetEnv(spark, ds, group, plainVarsOfG(group), fromGraphs, fromNamed))
  }

  /** Dataset clauses (§13.2), parsed on every query form and legal over
    * quads only ([[datasetEnv]]): FROM <g> merges graphs into the query's
    * default graph; FROM NAMED <g> restricts the GRAPH-visible set.
    */
  private def parseDatasetClauses(p: P, prefixes: Map[String, String])
      : (Seq[String], Seq[String]) = {
    var fromGraphs = Seq.empty[String]
    var fromNamed = Seq.empty[String]
    while (p.peek.exists(p.isKw(_, "FROM"))) {
      p.pos += 1
      val named = p.tryKw("NAMED")
      parseTerm(p, prefixes) match {
        case C(v) => if (named) fromNamed :+= v.toString
                     else fromGraphs :+= v.toString
        case t => p.fail(s"expected a graph IRI after FROM, got $t")
      }
    }
    (fromGraphs, fromNamed)
  }

  /** The grammar hangs a ValuesClause off EVERY query form (§19.8 Query
    * ::= ... ValuesClause). ASK/CONSTRUCT/DESCRIBE carry no aggregation
    * or modifiers, so the algebra position collapses to a group-level
    * inline-data join — merge it into the parsed group.
    */
  private def withTrailingValues(p: P, prefixes: Map[String, String],
                                 g: Group): Group =
    if (p.tryKw("VALUES"))
      g.copy(valuesMulti = g.valuesMulti :+ parseDataBlock(p, prefixes))
    else g

  /** CONSTRUCT: instantiate a triple-pattern template once per WHERE
    * solution; the result is a deduplicated (s, p, o) graph, and template
    * triples with unbound variables are dropped (SPARQL 1.1 §16.2). The
    * reference throws on CONSTRUCT (`CustomQueryExecution.scala:215`).
    * Over quads the WHERE pattern sees the full §13 dataset, and the
    * result is still one plain graph, not a quad set (§16.2).
    *
    * Template blank nodes (`_:label`) instantiate FRESH per solution: the
    * blank id is skolemized from the label plus a content hash of the
    * solution row (`_:label-<hash>`), so the same solution reuses one
    * blank across the template while different solutions never collide —
    * the reference's `_:` id convention (`Dictionary.scala:232-261`),
    * made deterministic (per DISTINCT solution) so results stay
    * oracle-comparable, like the GROUP_CONCAT sort.
    *
    * On encoded data the WHERE algebra runs on long keys, and
    * `decodeFinal` decodes every solution column that holds ids (all but
    * the value-typed ones) in one pass before the template instantiates
    * from the term strings — so blank skolem ids are IDENTICAL to those
    * of the string datasets for the same solutions. Solutions the driver
    * holds (a decode within its cap) instantiate there
    * ([[instantiateRows]]) into a local relation when the plan's s, p, o
    * are strings; others instantiate in the distributed plan.
    */
  def construct(spark: SparkSession, ds: Dataset, queryText: String): DataFrame = {
    val p = new P(tokenize(queryText))
    val prefixes = parsePrefixes(p)
    val template = parseConstructTemplate(p, prefixes)
    val (group, env) = parseWhere(spark, ds, p, prefixes)
    val sols = decodeFinal(env, compileGroup(env, group))
    val planned = instantiate(template, sols) // lazy: analysis only
    if (!graft.dict.Dictionary.isLocal(sols) ||
        planned.schema.exists(_.dataType != org.apache.spark.sql.types.StringType)) planned
    else {
      val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString _
      org.apache.spark.sql.execution.DriverRows.frame(spark, planned.schema,
        instantiateRows(template, LocalSols(spark, sols.collect().toSeq, sols.schema))
          .map { case (s, p, o) =>
            org.apache.spark.sql.catalyst.InternalRow(utf8(s), utf8(p), utf8(o)) })
    }
  }

  /** `CONSTRUCT { template }`, shared by [[construct]] and
    * [[constructStream]]: the template may hold only triple patterns.
    */
  private def parseConstructTemplate(p: P, prefixes: Map[String, String]): Group = {
    p.eatKw("CONSTRUCT")
    val template = templateAnonBlanks(parseGroup(p, prefixes))
    require(template == emptyGroup.copy(triples = template.triples),
      "CONSTRUCT template must contain only triple patterns")
    template
  }

  private val emptyGroup = Group(Seq.empty, Seq.empty, Seq.empty, Seq.empty)

  /** CONSTRUCT templates: an anonymous `[ ... ]` is a TEMPLATE blank
    * node — fresh per solution (SPARQL 1.1 sec 16.2.1) — so the parser's
    * hidden `__bn` vars rewrite to labeled blank constants and skolemize
    * through the same per-solution row-hash path as explicit `_:b`
    * labels. Distinct anonymous blanks stay distinct (the hidden vars
    * are query-global fresh). Applied ONLY to CONSTRUCT templates:
    * update DELETE templates must keep rejecting blanks.
    */
  private def templateAnonBlanks(template: Group): Group = {
    def fix(t: Term): Term = t match {
      case V(n) if n.startsWith("__bn") => C("_:" + n)
      case other => other
    }
    template.copy(triples = template.triples.map(tp =>
      TriplePattern(fix(tp.s), fix(tp.p), fix(tp.o))))
  }

  /** Template instantiation over decoded solutions: one select per
    * template triple, unbound-variable rows dropped, `_:label` blanks
    * skolemized per solution row, the graph deduplicated.
    */
  private def instantiate(template: Group, sols: DataFrame): DataFrame =
    instantiateBag(template, sols).distinct()

  /** Bag-semantics instantiation (no final distinct) — the streaming
    * CONSTRUCT path, where unbounded exact dedup is impossible in
    * append mode; the ingest sink's append dedup (or a watermarked
    * dropDuplicates) plays the distinct's role there.
    */
  private def instantiateBag(template: Group, sols: DataFrame): DataFrame = {
    val rowHash =
      pmod(xxhash64(sols.columns.toIndexedSeq.map(col): _*), lit(1000000007L))
    def term(t: Term): Column = t match {
      case V(n) => col(n)
      case C(v) if v.toString.startsWith("_:") =>
        concat(lit(v.toString + "-"), rowHash.cast("string"))
      case C(v) => lit(v.toString)
    }
    template.triples
      .map(tp => sols.select(term(tp.s).as("s"), term(tp.p).as("p"), term(tp.o).as("o"))
        .where(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull))
      .reduce(_.unionAll(_))
  }

  /** Continuous CONSTRUCT over a live triple stream: the WHERE clause
    * compiles through `executeStream`'s per-pattern delta (same
    * supported subset and static-side restriction classes), and each
    * arriving solution instantiates the template — a continuously
    * MAINTAINED derived graph. Feeding the output to the foreachBatch
    * ingest path closes the IVM loop (derived triples land in a store as
    * they become derivable). Bag semantics: the batch form's final
    * DISTINCT needs unbounded state, so duplicates may re-emit — dedup
    * at the ingest sink (O(Δ) append already dedups) or with a
    * watermarked dropDuplicates.
    */
  def constructStream(spark: SparkSession, streamTriples: DataFrame,
                      staticTriples: DataFrame, queryText: String,
                      stats: Map[String, PredStats] = Map.empty): DataFrame = {
    val p = new P(tokenize(queryText))
    val prefixes = parsePrefixes(p)
    val template = parseConstructTemplate(p, prefixes)
    p.eatKw("WHERE")
    val group = parseGroup(p, prefixes)
    val q = Query(distinct = false, projection = Seq.empty, group = group,
      groupBy = Seq.empty, orderBy = Seq.empty, limit = None)
    instantiateBag(template,
      executeStreamQuery(spark, streamTriples, staticTriples, q, stats,
        watermark = None, tsCol = "ts"))
  }

  /** DESCRIBE as a concise bounded description (the result shape is
    * implementation-defined by SPARQL 1.1 §16.4; CBD is the common
    * convention): the described resources' OUTGOING triples, their
    * INCOMING edges, and the blank-node closure — any blank object pulled
    * in recursively contributes its own outgoing triples, to fixpoint.
    * Forms: `DESCRIBE <iri>` and `DESCRIBE ?v [WHERE { ... }]`. The
    * reference throws on DESCRIBE (`CustomQueryExecution.scala:239`).
    *
    * Over quads the subjects resolve against the §13 dataset (WHERE may
    * use GRAPH blocks) and the description expands over the UNION of the
    * default graph and the GRAPH-visible named graphs — the most useful
    * bounded description when a resource's triples span graphs. On
    * encoded data the expansion runs on long keys, blanks are recognized
    * by a semi-join against the dictionary's `_:` ids, and the
    * description decodes once at the end.
    */
  def describe(spark: SparkSession, ds: Dataset, queryText: String): DataFrame = {
    val p = new P(tokenize(queryText))
    val prefixes = parsePrefixes(p)
    val (vars, consts, whereG, fromG, fromN) = parseDescribeHeader(p, prefixes)
    val g = whereG.getOrElse(emptyGroup)
    val env = datasetEnv(spark, ds, g, plainVarsOfG(g), fromG, fromN,
      extra = consts)
    import spark.implicits._
    val varSubjects = whereG match {
      case Some(_) =>
        val sols = compileGroup(env, g)
        vars.filter(sols.columns.contains)
          .map(v => sols.select(col(v).as("s")))
      case None => Seq.empty
    }
    val constSubjects =
      if (consts.isEmpty) Seq.empty
      else if (env.enc.isEmpty) Seq(consts.toDF("s"))
      else Seq(consts.map(c => env.cval(c).asInstanceOf[Long]).toDF("s"))
    val subjects = (varSubjects ++ constSubjects)
      .reduce(_.unionAll(_)).distinct()
    val relation = env.quads.fold(env.triples)(named =>
      env.triples.unionByName(named.select("s", "p", "o")))
    env.enc match {
      case None =>
        cbd(relation, subjects, _.where(col("s").startsWith("_:")))
      case Some(e) =>
        val blankIds =
          broadcast(e.dict.where(col("term").startsWith("_:")).select(col("id").as("s")))
        // cbd seals its result, so the decode reads a pinned frame already
        val described = cbd(relation, subjects, _.join(blankIds, Seq("s"), "left_semi"))
        graft.dict.Dictionary.decodeAll(described, e.dict, Seq("s", "p", "o"), e.localDict)
          .select("s", "p", "o")
    }
  }

  private def parseDescribeHeader(p: P, prefixes: Map[String, String])
      : (Seq[String], Seq[String], Option[Group], Seq[String], Seq[String]) = {
    p.eatKw("DESCRIBE")
    var vars = Seq.empty[String]
    var consts = Seq.empty[String]
    var reading = true
    while (reading) p.peek match {
      case Some(TVar(v)) => vars :+= v; p.pos += 1
      case Some(t) if p.isKw(t, "FROM") => reading = false
      case Some(TIri(i)) => consts :+= i; p.pos += 1
      case Some(TPName(pfx, local)) =>
        consts :+= prefixes.getOrElse(pfx,
          throw new IllegalArgumentException(s"undeclared prefix '$pfx:'")) + local
        p.pos += 1
      case _ => reading = false
    }
    require(vars.nonEmpty || consts.nonEmpty, "DESCRIBE needs a resource or variable")
    val (fromGraphs, fromNamed) = parseDatasetClauses(p, prefixes)
    val whereG =
      if (p.tryKw("WHERE")) Some(parseGroup(p, prefixes)) else None
    // trailing ValuesClause: merge into the WHERE group (a bare
    // `DESCRIBE ?v VALUES ?v {...}` gets a VALUES-only group, which
    // compiles to the inline relation itself)
    val withVals =
      if (p.peek.exists(p.isKw(_, "VALUES")))
        Some(withTrailingValues(p, prefixes,
          whereG.getOrElse(emptyGroup)))
      else whereG
    (vars, consts, withVals, fromGraphs, fromNamed)
  }

  /** Concise-bounded-description core over any (s, p, o) relation:
    * outgoing triples of `subjects`, their incoming edges, and the
    * blank-node closure (`isBlankNodes` filters a single-column `s` frame
    * of candidate nodes down to blanks — string prefix test or dictionary
    * semi-join, per store).
    */
  private def cbd(triples: DataFrame, subjectsRaw: DataFrame,
                  isBlankNodes: DataFrame => DataFrame): DataFrame = {
    val pins = new graft.Pins
    val subjects = pins.pin(subjectsRaw)
    val outgoing = triples.join(broadcast(subjects), Seq("s"), "left_semi")
    val incoming = triples.join(
      broadcast(subjects.select(col("s").as("o"))), Seq("o"), "left_semi")
      .select(col("s"), col("p"), col("o"))
    var described = outgoing.unionAll(incoming)
    // blank-node closure: a _:object's own description folds in (bounded
    // frontier loop; blank chains are shallow by construction)
    var expanded = subjects
    def blankObjs(df: DataFrame): DataFrame =
      pins.pin(isBlankNodes(df.select(col("o").as("s")).distinct())
        .join(expanded, Seq("s"), "left_anti"))
    var frontier = blankObjs(described)
    var rounds = 0
    while (!frontier.isEmpty) {
      if (rounds >= 50)
        throw new IllegalStateException(
          s"DESCRIBE blank-node closure did not converge after $rounds rounds")
      val step = pins.pin(triples.join(broadcast(frontier), Seq("s"), "left_semi"))
      described = described.unionAll(step)
      expanded = pins.pin(expanded.unionAll(frontier))
      frontier = blankObjs(step)
      rounds += 1
    }
    // seal: materialize the final description once, then free every
    // per-round checkpoint (see Pins) — a DESCRIBE result is terminal
    pins.seal(described.distinct())
  }

  // ---------- SPARQL 1.1 UPDATE ----------
  // One parser (`parseUpdate`, the `QuadOp` AST) and one prefetch hazard
  // rule (`prefetchableQuadModifies`) serve two executors: the store
  // handle's below, and the quad fold behind updateQuads/updateQuadsEnc.

  /** SPARQL 1.1 Update over a store handle (the reference has only the
    * programmatic add path, `Sparql.scala:115-127`; this is the full
    * declarative surface on top of the same O(Δ) machinery). Supported
    * operations, `;`-separated and applied SEQUENTIALLY — each operation's
    * WHERE sees the previous operation's result, per SPARQL 1.1 Update
    * §3.1:
    *   - `INSERT DATA { ground triples }`      → `GraftStore.append` (O(Δ))
    *   - `DELETE DATA { ground triples }`      → `GraftStore.remove`
    *   - `DELETE WHERE { patterns }`           → matched bindings delete
    *   - `DELETE {t} INSERT {t} WHERE { g }`   → modify (either clause
    *     optional; deletes apply before inserts, §3.1.3)
    *   - `CLEAR [SILENT] [DEFAULT|ALL]`        → empty store
    *   - `LOAD [SILENT] <source>`              → distributed N-Triples
    *     parse (skolemized blanks) + O(Δ) append
    *   - graph management (§3.2) under single-graph semantics:
    *     `DROP` ≡ CLEAR; `CREATE [DEFAULT]` and `COPY/MOVE/ADD DEFAULT
    *     TO DEFAULT` are identities; any NAMED target errors, or is a
    *     no-op under SILENT (the spec's suppressed-failure contract)
    * The script parses with the same parser as the quad-dataset paths and
    * is then read under single-graph semantics ([[singleGraphOps]]):
    * WITH, USING, GRAPH blocks and `LOAD … INTO GRAPH` are rejected — the
    * store is a single graph, like the reference's. Blank nodes are
    * forbidden in DELETE templates/data (§3.1.3); INSERT templates
    * skolemize them per solution like CONSTRUCT.
    *
    * Handles are immutable: the UPDATED handle is returned and the input
    * handle (including any `GraftStore.forDir` cache entry) is untouched.
    * Deletes are TOMBSTONE-LAZY (`GraftStore.remove`): the returned
    * handle's relations fuse the anti-joins into whatever materializes
    * them next, and exact counts subtract eagerly so plan-time stats stay
    * correct between sequenced ops. A handle that will serve many queries
    * should be compacted once (`GraftStore.compact`) — the same
    * batch-then-compact discipline as any copy-on-write table format.
    */
  def update(spark: SparkSession, store: graft.store.StoreHandle,
             updateText: String): graft.store.StoreHandle = {
    // the whole script parses and checks before any op runs, and the
    // executor below can batch runs of ground ops
    val opsV = singleGraphOps(parseUpdate(updateText))

    // EXECUTE, batching each run of consecutive ground data ops into one
    // remove + one append: their triple sets are driver-side constants, so
    // the net effect is last-mention-wins per triple and the intermediate
    // states are unobservable (no WHERE reads them) — the same one-txn
    // batching the reference gets from a single LMDB write txn per load
    // (sparql/.../Sparql.scala:78-113). Cuts the dominant cost of update
    // scripts: per-op store/dictionary probe passes.
    //
    // ASYNC WHERE PREFETCH over read/write-DISJOINT ops: a modify op's
    // WHERE evaluation (the script's dominant jobs — store scan, bounded
    // collect, dictionary probe) depends only on the rows its patterns
    // can match, so when no EARLIER op's writes unify with this op's
    // reads or writes (pattern summaries, the default graph's quads) the
    // WHERE may evaluate against the PRE-SCRIPT store — and all such ops'
    // probe jobs submit CONCURRENTLY, turning the measured per-op
    // scheduling floor from a sum into a max. The HANDLE chain itself
    // still applies strictly in op order.
    withPrefetch(prefetchableQuadModifies(opsV)) { i =>
      val m = opsV(i).asInstanceOf[QModify]
      prepareModifySols(spark, store, m.ins, m.where)
    } { pre =>
      var h = store
      var run = List.empty[QGround]
      def flush(): Unit = if (run.nonEmpty) {
        val last = scala.collection.mutable.LinkedHashMap
          .empty[(String, String, String), Boolean]
        for (g <- run; (s, p, o, _) <- g.quads) last((s, p, o)) = g.insert
        val dels = last.collect { case (t, false) => t }.toSeq
        val inss = last.collect { case (t, true) => t }.toSeq
        // remove-before-append: the sets are disjoint (last-mention-wins),
        // and append's duplicate probe makes re-inserts of surviving
        // triples no-ops — final membership matches the sequential replay.
        // Ground triples are parse-time constants, so the whole batch goes
        // through the fused driver-side path (one shared store probe).
        h = graft.store.GraftStore.applyGroundBatch(spark, h, dels, inss)
        run = Nil
      }
      opsV.zipWithIndex.foreach {
        case (g: QGround, _) => run = run :+ g
        case (QModify(_, del, ins, where), i) =>
          flush(); h = applyModify(spark, h, del, ins, where, pre(i))
        case (_: QClear, _) => flush(); h = graft.store.GraftStore.empty(spark)
        case (QLoad(src, _, _), _) => // O(Δ) append of the parsed source
          flush(); h = graft.store.GraftStore.append(spark, h, loadTriples(spark, src))
        case (op, _) => // singleGraphOps keeps no other op
          throw new IllegalStateException(s"unexpected single-graph op $op")
      }
      flush()
      h
    }
  }

  /** Runs `prep(i)` for every index in `idx` on up to four threads, then
    * `body` with a lookup that waits for index i's result (None when i
    * was not prefetched; a failed prep rethrows its own exception). The
    * pool shuts down when `body` returns.
    */
  private def withPrefetch[A, R](idx: Seq[Int])(prep: Int => A)(
      body: (Int => Option[A]) => R): R = {
    if (idx.isEmpty) return body(_ => None)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(idx.size, 4))
    try {
      val futures = idx.map(i => i -> pool.submit(
        new java.util.concurrent.Callable[A] { def call() = prep(i) })).toMap
      body(i => futures.get(i).map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      })
    } finally pool.shutdown()
  }

  /** A parsed script read under single-graph semantics: the ops the
    * store-handle executor runs — ground data in the default graph,
    * CLEAR DEFAULT/ALL, LOAD without a target, and modifies with no WITH
    * or GRAPH block. Identities (CREATE DEFAULT, COPY/MOVE/ADD DEFAULT TO
    * DEFAULT) drop out; a named target is an error, which the op's SILENT
    * flag turns into a no-op (§3.2). Checks the whole script before any
    * op runs.
    */
  private def singleGraphOps(ops: Vector[QuadOp]): Vector[QuadOp] = {
    def named(silent: Boolean, what: String): Option[QuadOp] =
      if (silent) None
      else throw new IllegalArgumentException(s"$what on a named graph is " +
        "not supported (single-graph store; use Sparql.updateQuads)")
    ops.flatMap {
      case op @ QGround(_, quads) =>
        require(quads.forall(_._4.isEmpty), "GRAPH blocks need the " +
          "quad-dataset path, Sparql.updateQuads (single-graph store)")
        Some(op)
      case op @ QClear(QDefault | QAll, _) => Some(op)
      case QClear(_, silent) => named(silent, "CLEAR/DROP")
      case QCreate(false, _) => None
      case QCreate(true, silent) => named(silent, "CREATE")
      case QMove(_, None, None, _) => None
      case QMove(_, _, _, silent) => named(silent, "COPY/MOVE/ADD")
      case op @ QLoad(_, None, _) => Some(op)
      case QLoad(_, Some(_), silent) => named(silent, "LOAD INTO GRAPH")
      case op @ QModify(withG, del, ins, where) =>
        require(withG.isEmpty &&
          (del.toSeq ++ ins.toSeq :+ where).forall(_.graphs.isEmpty),
          "named graphs (WITH, GRAPH) are not supported (single-graph " +
            "store; use Sparql.updateQuads)")
        Some(op)
    }
  }

  /** Quad-pattern summary for update hazard analysis: a constant per
    * position or None = wildcard (variables, and blank-node template
    * constants — those skolemize per solution); the graph position
    * distinguishes "any graph" (outer None — a GRAPH variable) from the
    * default graph (Some(None)) and a named constant (Some(Some(iri))).
    */
  private final case class Pat4(s: Option[String], p: Option[String],
                                o: Option[String], g: Option[Option[String]])
  private def pat4sUnify(a: Pat4, b: Pat4): Boolean = {
    def ov(x: Option[String], y: Option[String]) =
      x.isEmpty || y.isEmpty || x == y
    def ovg(x: Option[Option[String]], y: Option[Option[String]]) =
      x.isEmpty || y.isEmpty || x == y
    ov(a.s, b.s) && ov(a.p, b.p) && ov(a.o, b.o) && ovg(a.g, b.g)
  }

  /** Indices of modify ops whose WHERE may evaluate against the
    * PRE-SCRIPT data, for every Update executor (a store handle's
    * triples are default-graph quads): every earlier op's writes must be
    * summarizable and unify with none of this op's read or write
    * patterns, and no earlier op may introduce a dictionary term this op
    * probes — its insert-template constants, and the WHERE constants
    * that surface as solution values (path endpoints, VALUES entries) —
    * so the prefetched claim and presence probes stay valid. The first
    * modify op always qualifies.
    */
  private def prefetchableQuadModifies(opsV: Vector[QuadOp]): Seq[Int] = {
    def cOf(t: Term): Option[String] = t match {
      case C(v) if !v.toString.startsWith("_:") => Some(v.toString)
      case _ => None
    }
    def tpPat(tp: TriplePattern, g: Option[Option[String]]): Pat4 =
      Pat4(cOf(tp.s), cOf(tp.p), cOf(tp.o), g)
    def gOf(t: Term): Option[Option[String]] = t match {
      case C(v) => Some(Some(v.toString))
      case _ => None
    }
    def plainInner(g: Group): Boolean =
      g.optionals.isEmpty && g.unions.isEmpty && g.minuses.isEmpty &&
        g.paths.isEmpty && g.subqueries.isEmpty && g.subgroups.isEmpty &&
        g.existsFilters.isEmpty && g.graphs.isEmpty && g.services.isEmpty
    def readPats(withG: Option[String], w: Group): Option[Seq[Pat4]] =
      if (!(w.optionals.isEmpty && w.unions.isEmpty && w.minuses.isEmpty &&
        w.paths.isEmpty && w.subqueries.isEmpty && w.subgroups.isEmpty &&
        w.existsFilters.isEmpty && w.services.isEmpty &&
        w.graphs.forall(x => plainInner(x._2)))) None
      else Some(
        w.triples.map(tpPat(_, Some(withG))) ++
          w.graphs.flatMap { case (gt, inner) =>
            inner.triples.map(tpPat(_, gOf(gt))) })
    def tmplPats(withG: Option[String], t: Group): Seq[Pat4] =
      t.triples.map(tpPat(_, Some(withG))) ++
        t.graphs.flatMap { case (gt, inner) =>
          inner.triples.map(tpPat(_, gOf(gt))) }
    def writes(op: QuadOp): Option[Seq[Pat4]] = op match {
      case QGround(_, rows) => Some(rows.map { case (s, p, o, g) =>
        Pat4(Some(s), Some(p), Some(o), Some(g)) })
      case QModify(withG, del, ins, _) =>
        Some((del.toSeq ++ ins.toSeq).flatMap(tmplPats(withG, _)))
      case QClear(QDefault, _) => Some(Seq(Pat4(None, None, None, Some(None))))
      case QClear(QNamed(i), _) =>
        Some(Seq(Pat4(None, None, None, Some(Some(i)))))
      case QClear(_, _) => Some(Seq(Pat4(None, None, None, None)))
      case QMove(_, from, to, _) if from == to => Some(Seq.empty)
      case QMove(_, from, to, _) => Some(Seq(
        Pat4(None, None, None, Some(from)), Pat4(None, None, None, Some(to))))
      case _: QCreate => Some(Seq.empty)
      case _: QLoad => None
    }
    val out = Seq.newBuilder[Int]
    var priorWrites: Option[Seq[Pat4]] = Some(Seq.empty)
    var priorTerms = Set.empty[String]
    opsV.zipWithIndex.foreach { case (op, i) =>
      op match {
        case QModify(withG, _, _, where) if priorWrites.isDefined =>
          readPats(withG, where) match {
            case Some(reads) =>
              val mine = reads ++ writes(op).get
              val probeTerms = pathEndpointConsts(where) ++
                inlineValueConsts(where) ++ newTerms(op)
              // HASHED disjointness: a fresh term that xxhash64-collides
              // with a DIFFERENT fresh term of an earlier op would share
              // an id under a stale prefetched claim probe where the
              // sequential path raises externalClash — string equality
              // alone misses exactly that case (hash equality subsumes
              // it: equal strings hash equal)
              val h = graft.dict.Dictionary.termHashLocal _
              val clean =
                priorWrites.get.forall(w => !mine.exists(pat4sUnify(w, _))) &&
                  probeTerms.map(h).intersect(priorTerms.map(h)).isEmpty
              if (clean) out += i
            case None => ()
          }
        case _ => ()
      }
      priorWrites = (priorWrites, writes(op)) match {
        case (Some(a), Some(b)) => Some(a ++ b)
        case _ => None
      }
      priorTerms = priorTerms ++ newTerms(op)
    }
    out.result()
  }

  /** Terms an op can introduce: ground INSERT DATA terms, insert-template
    * constants (the WITH graph included) and a COPY/MOVE/ADD target label.
    * All are parse-time constants — solution-derived inserts draw from
    * terms already present. Drives both the prefetch hazard rule and the
    * encoded path's script-wide dictionary pre-probe.
    */
  private def newTerms(op: QuadOp): Set[String] = op match {
    case QGround(true, rows) =>
      rows.flatMap { case (s, p, o, g) => Seq(s, p, o) ++ g.toSeq }.toSet
    case QModify(withG, _, ins, _) =>
      ins.toSeq.flatMap(templateConsts(_, withG)).toSet
    case QMove(_, from, to, _) if from != to => to.toSet
    case _ => Set.empty
  }

  /** Constants an insert template writes (they enter the dictionary). */
  private def templateConsts(t: Group, withG: Option[String]): Seq[String] = {
    def ofTriples(tps: Seq[TriplePattern]): Seq[String] =
      tps.flatMap(tp => Seq(tp.s, tp.p, tp.o).collect { case C(c) => c.toString })
    ofTriples(t.triples) ++ withG.toSeq ++
      t.graphs.flatMap { case (gt, inner) =>
        (gt match { case C(c) => Seq(c.toString); case _ => Seq.empty }) ++
          ofTriples(inner.triples)
      }
  }

  /** A triple-format LOAD source as (s, p, o) strings, parsed
    * distributed. Format by file extension: .ttl routes to the Turtle
    * loader (which skolemizes per FILE already), everything else parses
    * as N-Triples with per-SOURCE skolemization — both idempotent on
    * re-load, no cross-file label capture (the loader's standing
    * convention).
    */
  private def loadTriples(spark: SparkSession, src: String): DataFrame =
    if (src.endsWith(".ttl")) graft.store.TripleStore.parseTurtle(spark, src)
    else graft.store.TripleStore.skolemize(
      graft.store.TripleStore.parseNTriples(spark, src), src)

  /** Blank nodes are forbidden in DELETE data and templates (§3.1.3): in
    * the top-level triples and in every GRAPH block's triples.
    */
  private def requireNoBlanks(g: Group, what: String): Unit =
    require(!(g.triples ++ g.graphs.flatMap(_._2.triples))
      .exists(_.consts.exists(_.toString.startsWith("_:"))),
      s"$what must not contain blank nodes (SPARQL 1.1 Update)")

  /** Data blocks and templates are quad patterns (§3.1): triples, and
    * GRAPH blocks of triples.
    */
  private def requireQuadPattern(g: Group, what: String): Unit = {
    def only(x: Group, graphs: Seq[(Term, Group)]): Boolean =
      x == Group(x.triples, Nil, Nil, Nil, graphs = graphs)
    require(only(g, g.graphs) && g.graphs.forall(x => only(x._2, Nil)),
      s"$what takes only triples and GRAPH blocks of triples")
  }

  /** The WHERE-evaluation half of a modify op: compile against `h`,
    * bounded-collect + driver-side decode. Side-effect-free
    * on the handle, so hazard-free ops prefetch it CONCURRENTLY against
    * the pre-script store (see [[update]]).
    */
  private def prepareModifySols(spark: SparkSession,
                                h: graft.store.StoreHandle,
                                ins: Option[Group], where: Group)
      : Option[(LocalSols, Map[Long, String], Set[Long])] = {
    val env = datasetEnv(spark, Dataset.Store(h), where, plainVarsOfG(where))
    val encSols = compileGroup(env, where)
    // insert-template constant hashes are resolved with the solutions, so
    // the append's hash-claim check needs no second dictionary read
    // (solution-derived terms are claim-safe by construction on a
    // pure-hash store: their id IS their content hash)
    val insConstIds: Set[Long] =
      if (!h.pureHash) Set.empty
      else ins.toSeq.flatMap(_.triples).flatMap(tp => Seq(tp.s, tp.p, tp.o))
        .collect {
          case C(v) if !v.toString.startsWith("_:") =>
            graft.dict.Dictionary.termHashLocal(v.toString)
        }.toSet
    smallModifySols(env, encSols, insConstIds)
  }

  /** DELETE/INSERT WHERE: evaluate the WHERE once against the CURRENT
    * store — over the ENCODED relation (every join below the single
    * decode stage moves fixed-width longs, the same lazy-decode
    * discipline as the SELECT path) — then instantiate both templates
    * from the same pinned decoded solutions (unbound-template rows drop,
    * like CONSTRUCT), delete then insert.
    */
  private def applyModify(spark: SparkSession, h: graft.store.StoreHandle,
                          del: Option[Group], ins: Option[Group],
                          where: Group,
                          pre: Option[Option[(LocalSols, Map[Long, String],
                            Set[Long])]] = None): graft.store.StoreHandle = {
    // Driver fast path: one bounded collect of the ENCODED solutions (the
    // only execution of the WHERE), ids decoded on the driver in one
    // pass, templates instantiated driver-side — feeding the driver-side
    // batch paths with zero intermediate checkpoints. Oversized solution
    // sets fall back to the pinned distributed flow.
    pre.getOrElse(prepareModifySols(spark, h, ins, where)) match {
      case Some((sols, claims, probed)) =>
        var out = h
        del.foreach { t =>
          if (t.triples.nonEmpty) {
            val all = instantiateRowsAll(t, sols)
            // DELETE WHERE shape: the template IS the whole (single
            // pattern + filters only) WHERE group, so each UNDEDUPLICATED
            // solution row is 1:1 with a matching store row — the
            // per-predicate matched-copy counts fall out of the collect
            // and the remove skips its store probe entirely
            val selfDelete = t.triples.size == 1 &&
              t.triples == where.triples && where.optionals.isEmpty &&
              where.unions.isEmpty && where.minuses.isEmpty &&
              where.paths.isEmpty && where.binds.isEmpty &&
              where.subqueries.isEmpty && where.subgroups.isEmpty &&
              where.values.isEmpty && where.valuesMulti.isEmpty &&
              where.existsFilters.isEmpty && where.graphs.isEmpty &&
              where.services.isEmpty
            out =
              if (selfDelete)
                graft.store.GraftStore.removeLocalPrecounted(spark, out,
                  all.distinct,
                  all.groupBy(_._2).view.mapValues(_.size.toLong).toMap)
              else
                graft.store.GraftStore.removeLocal(spark, out, all.distinct)
          }
        }
        ins.foreach { t =>
          if (t.triples.nonEmpty) {
            val rows = instantiateRows(t, sols)
            out = graft.store.GraftStore.appendLocal(spark, out, rows,
              claims, probed)
          }
        }
        out
      case None =>
        // oversized solutions: recompile against the CURRENT handle (a
        // prefetched big-sols result carries no data) and run the
        // pinned distributed flow
        val env = datasetEnv(spark, Dataset.Store(h), where, plainVarsOfG(where))
        val encSols = compileGroup(env, where)
        val pins = new graft.Pins
        val solsRaw = decodeFinal(env, encSols)
        // pin (eager checkpoint) only when BOTH templates read the
        // solutions — a single-consumer op executes the WHERE once anyway
        val both = del.exists(_.triples.nonEmpty) && ins.exists(_.triples.nonEmpty)
        val sols = if (both) pins.pin(solsRaw) else solsRaw
        var out = h
        del.foreach { t =>
          if (t.triples.nonEmpty)
            out = graft.store.GraftStore.remove(spark, out, instantiate(t, sols))
        }
        ins.foreach { t =>
          if (t.triples.nonEmpty)
            out = graft.store.GraftStore.append(spark, out, instantiate(t, sols))
        }
        // remove/append checkpoint/collect their results eagerly, so the
        // solution pin is disposable the moment both have run
        pins.release()
        out
    }
  }

  /** Decoded solutions held DRIVER-SIDE: the rows + schema, with the
    * DataFrame materialized lazily — only the blank-node-skolem template
    * path (which needs the Spark-evaluated row hash) ever builds it;
    * plain templates instantiate straight off the local rows with no
    * further Spark actions.
    */
  private final case class LocalSols(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) {
    lazy val df: DataFrame = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** Bounded collect (at most `Dictionary.LocalCap` rows, the cap of the
    * batch paths in GraftStore) + driver-side decode of an encoded
    * solution relation:
    * id-typed columns become their terms (`Dictionary.decodeRows`: the
    * dictionary's driver-held index, or one probe for ALL columns),
    * everything else — plain-valued vars, internal shadows —
    * keeps its exact type and value, so downstream template evaluation
    * (including the skolem row hash over all columns) is bit-identical to
    * the distributed decodeFinal + instantiate flow.
    *
    * `extraIds` are resolved in the same pass (one read serves both
    * solution decode AND the append path's hash-claim check — see
    * `GraftStore.appendLocal`); the returned (claims, probed) pair is
    * that shared result: id→term for every probed id found in the
    * dictionary, and the full probed id set.
    */
  private def smallModifySols(env: Env, encSols: DataFrame,
                              extraIds: Set[Long] = Set.empty)
      : Option[(LocalSols, Map[Long, String], Set[Long])] = {
    val first = graft.dict.Dictionary.collectBounded(encSols,
        graft.dict.Dictionary.LocalCap) match {
      case Some(rows) => rows
      case None => return None
    }
    val e = env.enc.get
    val schema = encSols.schema
    val decodePos = schema.fields.zipWithIndex.collect {
      case (f, i) if !e.plainVars.contains(f.name) && !f.name.startsWith("__") &&
        f.dataType == org.apache.spark.sql.types.LongType => i
    }.toSet
    val d = graft.dict.Dictionary
      .decodeRows(first.toSeq, schema, decodePos, e.dict, extraIds, e.localDict)
    // claims = STORE-dict membership only: a query-local dict entry (an
    // absent constant's rendering id) must not read as "already claimed",
    // or an insert of that term would skip its dictionary delta
    val localIds = e.localDict.iterator.map(_._1).toSet
    Some((LocalSols(env.spark, d.rows, d.schema), d.terms -- localIds, d.probed))
  }

  /** `instantiate` over a LOCAL solution relation: the same template-term
    * expressions (including the skolem row hash — exact parity with the
    * distributed path), evaluated over local rows, returned as driver-side
    * triples with `instantiate`'s distinct() applied per template block.
    * The string cast matches what the batch ingestion paths apply anyway.
    */
  private def instantiateRows(template: Group,
                              sols: LocalSols): Seq[(String, String, String)] =
    instantiateRowsAll(template, sols).distinct

  /** `instantiateRows` WITHOUT the final dedup — callers that know the
    * solutions scan the store 1:1 (DELETE WHERE) read matched-copy
    * counts off the duplicates.
    *
    * Templates with neither blank-node skolems (whose row hash must be
    * the Spark-evaluated xxhash64 for distributed-path parity) nor
    * non-string solution columns (whose string cast must be Spark's)
    * instantiate in a PLAIN DRIVER LOOP — zero Spark actions; everything
    * else takes the expression path over the materialized local frame.
    */
  private def instantiateRowsAll(template: Group,
                                 sols: LocalSols): Seq[(String, String, String)] = {
    val idx = sols.schema.fieldNames.zipWithIndex.toMap
    val hasBlank = template.triples.exists(tp => Seq(tp.s, tp.p, tp.o).exists {
      case C(v) => v.toString.startsWith("_:")
      case _ => false
    })
    val templateVars = template.triples
      .flatMap(tp => Seq(tp.s, tp.p, tp.o)).collect { case V(n) => n }.toSet
    val allString = templateVars.forall(v => idx.get(v).forall(i =>
      sols.schema.fields(i).dataType ==
        org.apache.spark.sql.types.StringType))
    if (!hasBlank && allString) {
      def term(r: org.apache.spark.sql.Row, t: Term): String = t match {
        case V(n) => idx.get(n) match {
          case Some(i) if !r.isNullAt(i) => r.getString(i)
          case _ => null // unbound template var -> row drops (CONSTRUCT rule)
        }
        case C(v) => v.toString
      }
      for {
        tp <- template.triples
        r <- sols.rows
        s = term(r, tp.s); p = term(r, tp.p); o = term(r, tp.o)
        if s != null && p != null && o != null
      } yield (s, p, o)
    } else {
      val rowHash =
        pmod(xxhash64(sols.schema.fieldNames.toIndexedSeq.map(col): _*),
          lit(1000000007L))
      def term(t: Term): Column = t match {
        case V(n) => col(n)
        case C(v) if v.toString.startsWith("_:") =>
          concat(lit(v.toString + "-"), rowHash.cast("string"))
        case C(v) => lit(v.toString)
      }
      template.triples.flatMap { tp =>
        sols.df.select(term(tp.s).cast("string").as("s"),
            term(tp.p).cast("string").as("p"),
            term(tp.o).cast("string").as("o"))
          .where(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      }
    }
  }

  private def parsePrefixes(p: P): Map[String, String] = {
    var prefixes = Map.empty[String, String]
    while (p.tryKw("PREFIX")) {
      val (pfx, local) = p.next() match {
        case TPName(a, b) => (a, b)
        case t => p.fail(s"expected prefix declaration, got $t")
      }
      if (local.nonEmpty) p.fail("prefix declaration must end with ':'")
      val iri = p.next() match {
        case TIri(i) => i
        case t => p.fail(s"expected <iri>, got $t")
      }
      prefixes += (pfx -> iri)
      p.prefixes += (pfx -> iri)
    }
    prefixes
  }

  def parse(text: String): Query = {
    val p = new P(tokenize(text))
    val prefixes = parsePrefixes(p)
    val q = parseQueryBody(p, prefixes)
    // trailing ValuesClause (§18.2.4.4: `SELECT ... { ... } modifiers
    // VALUES ...` — joined after aggregation, before projection)
    if (p.tryKw("VALUES")) q.copy(postValues = Some(parseDataBlock(p, prefixes)))
    else q
  }

  /** SELECT ... WHERE { ... } + solution modifiers; reused by subqueries. */
  private def parseQueryBody(p: P, prefixes: Map[String, String]): Query = {
    p.eatKw("SELECT")
    // REDUCED permits (but does not require) duplicate elimination; we
    // eliminate, which is conformant and deterministic
    val distinct = p.tryKw("DISTINCT") || p.tryKw("REDUCED")
    var proj = Seq.empty[ProjItem]
    var star = false
    var reading = true
    while (reading) p.peek match {
      case Some(TVar(v)) => proj :+= PVar(v); p.pos += 1
      case Some(TSym("*")) => star = true; p.pos += 1
      case Some(TSym("(")) => // ( FN([DISTINCT] ?v | *) AS ?a ) | ( expr AS ?a )
        p.pos += 1
        def exprItem(): ProjItem = {
          val e = parseEAdd(p)
          p.eatKw("AS")
          val alias = p.next() match {
            case TVar(v) => v
            case t => p.fail(s"expected ?alias, got $t")
          }
          p.eatSym(")")
          PExpr(e, alias)
        }
        val save = p.pos
        proj :+= (p.peek match {
          case Some(TWord(w)) if aggFns.contains(w.toUpperCase) &&
            p.peekAhead(1).contains(TSym("(")) =>
            // try the plain aggregate form first; on failure (e.g. the
            // aggregate is a subexpression: (SUM(?x)/COUNT(?y) AS ?a))
            // backtrack and parse as an expression projection
            try {
              val fn = w.toUpperCase
              p.pos += 1
              p.eatSym("(")
              val dist = p.tryKw("DISTINCT")
              val arg = p.peek match {
                case Some(TVar(v)) => p.pos += 1; Some(v)
                case Some(TSym("*")) => p.pos += 1; None
                case t => p.fail(s"expected ?var or * in aggregate, got $t")
              }
              // GROUP_CONCAT(?v ; SEPARATOR [=] "sep")
              var sep = " "
              if (p.trySym(";")) {
                p.eatKw("SEPARATOR")
                p.trySym("=")
                sep = p.next() match {
                  case TStr(s) => s
                  case t => p.fail(s"expected separator string, got $t")
                }
              }
              p.eatSym(")")
              p.eatKw("AS")
              val alias = p.next() match {
                case TVar(v) => v
                case t => p.fail(s"expected ?alias, got $t")
              }
              p.eatSym(")")
              PAgg(fn, arg, alias, dist, sep)
            } catch {
              case _: IllegalArgumentException =>
                p.pos = save
                exprItem()
            }
          case _ => exprItem()
        })
      case _ => reading = false
    }
    if (!star && proj.isEmpty) p.fail("empty projection")
    val (fromGraphs, fromNamed) = parseDatasetClauses(p, prefixes)
    p.eatKw("WHERE")
    var group = parseGroup(p, prefixes)
    var groupBy = Seq.empty[String]
    if (p.tryKw("GROUP")) {
      p.eatKw("BY")
      // SPARQL 1.1 §19.8 GroupCondition: Var | '(' expr ('AS' ?v)? ')' |
      // BuiltInCall/FunctionCall. Expression keys desugar to a BIND in
      // the group (same compile position; the computed column then keys
      // the aggregation like a plain var); a key with no alias gets an
      // internal name (not projectable, per the spec).
      var gkFresh = 0
      def keyAs(e: EExpr, v: String): Unit = {
        group = group.copy(binds = group.binds :+ (e -> v))
        groupBy :+= v
      }
      val gstops = Set("HAVING", "ORDER", "LIMIT", "OFFSET", "VALUES")
      var more = true
      while (more) p.peek match {
        case Some(TVar(v)) => groupBy :+= v; p.pos += 1
        case Some(TSym("(")) =>
          p.pos += 1
          val e = parseEAdd(p)
          if (p.tryKw("AS")) {
            val v = p.next() match {
              case TVar(x) => x
              case t => p.fail(s"expected ?alias in GROUP BY expression, got $t")
            }
            p.eatSym(")")
            keyAs(e, v)
          } else {
            p.eatSym(")")
            keyAs(e, { gkFresh += 1; s"__gk${gkFresh - 1}" })
          }
        case Some(TWord(w)) if !gstops.contains(w.toUpperCase) &&
            p.peekAhead(1).contains(TSym("(")) =>
          // bare builtin-call key: GROUP BY STRLEN(?x), UCASE(?n), ...
          keyAs(parseEAdd(p), { gkFresh += 1; s"__gk${gkFresh - 1}" })
        case _ => more = false
      }
      if (groupBy.isEmpty) p.fail("empty GROUP BY")
    }
    var having = Seq.empty[Expr]
    while (p.tryKw("HAVING")) {
      p.eatSym("(")
      having :+= parseExpr(p)
      p.eatSym(")")
    }
    var order = Seq.empty[(OrdKey, Boolean)]
    if (p.tryKw("ORDER")) {
      p.eatKw("BY")
      def key(e: EExpr): OrdKey = e match {
        case EVar(v) => OVar(v)
        case x => OExpr(x)
      }
      // VALUES stops the key loop: a trailing ValuesClause's multi-var
      // form (`VALUES (?x ?y) {...}`) would otherwise parse as a
      // function-call key
      val stops = Set("LIMIT", "OFFSET", "VALUES")
      var more = true
      while (more) p.peek match {
        case Some(TVar(v)) => order :+= ((OVar(v): OrdKey) -> true); p.pos += 1
        case Some(t) if p.isKw(t, "ASC") || p.isKw(t, "DESC") =>
          val asc = p.isKw(t, "ASC"); p.pos += 1
          p.eatSym("(")
          val e = parseEAdd(p)
          p.eatSym(")")
          order :+= (key(e) -> asc)
        case Some(TSym("(")) => // bracketted expression key
          p.pos += 1
          val e = parseEAdd(p)
          p.eatSym(")")
          order :+= (key(e) -> true)
        case Some(TWord(w)) if !stops.contains(w.toUpperCase) &&
            p.peekAhead(1).contains(TSym("(")) =>
          // bare function-call key: STRLEN(?x), COUNT(?c), ...
          order :+= (key(parseEAdd(p)) -> true)
        case _ => more = false
      }
    }
    def num(kw: String): Option[Int] =
      if (p.tryKw(kw)) Some(p.next() match {
        case TNum(n) => n.toInt
        case t => p.fail(s"expected number after $kw, got $t")
      }) else None
    // LIMIT/OFFSET accepted in either order, as in SPARQL
    var limit = num("LIMIT")
    val offset = num("OFFSET")
    if (limit.isEmpty) limit = num("LIMIT")
    Query(distinct, proj, group, groupBy, order, limit, offset, having,
      fromGraphs = fromGraphs, fromNamed = fromNamed)
  }

  private def parseGroup(p: P, prefixes: Map[String, String]): Group = {
    p.eatSym("{")
    var triples = Seq.empty[TriplePattern]
    var filters = Seq.empty[Expr]
    var optionals = Seq.empty[Group]
    var unions = Seq.empty[(Group, Group)]
    var minuses = Seq.empty[Group]
    var values = Seq.empty[(String, Seq[String])]
    var paths = Seq.empty[(Term, Path, Term)]
    var binds = Seq.empty[(EExpr, String)]
    var subqueries = Seq.empty[Query]
    var subgroups = Seq.empty[Group]
    var existsFilters = Seq.empty[(Group, Boolean)]
    var graphs = Seq.empty[(Term, Group)]
    var valuesMulti = Seq.empty[(Seq[String], Seq[Seq[String]])]
    var services = Seq.empty[(String, Group, Boolean)]
    while (!p.trySym("}")) {
      p.peek match {
        case Some(t) if p.isKw(t, "OPTIONAL") =>
          p.pos += 1
          optionals :+= parseGroup(p, prefixes)
        // GroupGraphPatternSub permits an optional '.' after each
        // GraphPatternNotTriples member (§19.8 grammar)
        case Some(TSym(".")) => p.pos += 1
        case Some(t) if p.isKw(t, "MINUS") =>
          p.pos += 1
          minuses :+= parseGroup(p, prefixes)
        case Some(t) if p.isKw(t, "GRAPH") =>
          p.pos += 1
          val gterm = parseTerm(p, prefixes) match {
            case v: V => v
            case c: C => c
          }
          graphs :+= (gterm -> parseGroup(p, prefixes))
        case Some(t) if p.isKw(t, "SERVICE") =>
          p.pos += 1
          val silent = p.tryKw("SILENT")
          // a VARIABLE endpoint travels as "?var" (an IRI can never
          // start with '?'): the compiler unions the block over every
          // registered endpoint with the var bound to the endpoint IRI
          val ep = parseTerm(p, prefixes) match {
            case C(iri: String) => iri
            case V(v) => "?" + v
            case x => p.fail(s"SERVICE needs an IRI or variable, got $x")
          }
          services :+= ((ep, parseGroup(p, prefixes), silent))
        case Some(t) if p.isKw(t, "BIND") =>
          p.pos += 1
          p.eatSym("(")
          val e = parseEAdd(p)
          p.eatKw("AS")
          val v = p.next() match {
            case TVar(x) => x
            case x => p.fail(s"expected ?var after AS, got $x")
          }
          p.eatSym(")")
          binds :+= (e -> v)
        case Some(t) if p.isKw(t, "VALUES") =>
          p.pos += 1
          val (vars, rows) = parseDataBlock(p, prefixes)
          // UNDEF rows need the compatibility join — route through the
          // multi-var relation; the all-bound single-var common case stays
          // on the fast single-column equi-join
          if (vars.length == 1 && !rows.exists(_.head == null))
            values :+= (vars.head -> rows.map(_.head))
          else valuesMulti :+= (vars -> rows)
        case Some(t) if p.isKw(t, "FILTER") =>
          p.pos += 1
          if (p.tryKw("EXISTS")) existsFilters :+= (parseGroup(p, prefixes) -> false)
          else if (p.tryKw("NOT")) {
            p.eatKw("EXISTS")
            existsFilters :+= (parseGroup(p, prefixes) -> true)
          } else {
            p.eatSym("(")
            filters :+= parseExpr(p)
            p.eatSym(")")
          }
        case Some(TSym("{")) =>
          if (p.peekAhead(1).exists(p.isKw(_, "SELECT"))) {
            // subquery: { SELECT ... WHERE { ... } modifiers [VALUES ...] }
            p.pos += 1
            var sub = parseQueryBody(p, prefixes)
            // a trailing ValuesClause INSIDE the braces belongs to the
            // subquery (§18.2.4.4: applied before its projection), not to
            // the enclosing group — consuming it as a sibling VALUES would
            // cross-join-extend when the variable isn't projected
            if (p.tryKw("VALUES"))
              sub = sub.copy(postValues = Some(parseDataBlock(p, prefixes)))
            subqueries :+= sub
            p.eatSym("}")
          } else {
            val left = parseGroup(p, prefixes)
            if (p.tryKw("UNION")) {
              val right = parseGroup(p, prefixes)
              unions :+= (left -> right)
            } else subgroups :+= left // plain group graph pattern
          }
        case _ =>
          // triple(s) with predicate-object lists (`;`), object lists
          // (`,`), and `[ po-list ]` blank-node property lists — an
          // anonymous blank in a query pattern is a FRESH non-projectable
          // variable (SPARQL §4.1.4), named `__bn<k>` so the internal-var
          // conventions (no decode, hidden from SELECT *) apply
          def emit(s: Term)(path: Either[Term, Path], o: Term): Unit = path match {
            case Left(predVar) => triples :+= TriplePattern(s, predVar, o)
            case Right(pth) => flattenEdgeSeq(pth) match {
              case Some(edges) =>
                // pure edge sequence -> chained patterns over fresh vars
                // (stays in Bgp.compile: stats-ordered, fail-fast)
                var subject = s
                edges.init.foreach { e =>
                  val mid = V(s"__pv${p.fresh}")
                  p.fresh += 1
                  triples :+= TriplePattern(subject, C(e), mid)
                  subject = mid
                }
                triples :+= TriplePattern(subject, C(edges.last), o)
              case None => paths :+= ((s, pth, o))
            }
          }
          def parsePo(subject: Term): Unit = {
            var morePreds = true
            while (morePreds) {
              val path: Either[Term, Path] = p.peek match {
                case Some(TVar(_)) => Left(parseTerm(p, prefixes))
                case _ => Right(parsePathAlt(p, prefixes))
              }
              var moreObjs = true
              while (moreObjs) {
                emit(subject)(path, parseNode())
                moreObjs = p.trySym(",")
              }
              morePreds = p.trySym(";") &&
                !p.peek.exists(t => t == TSym(".") || t == TSym("}") ||
                  t == TSym("]"))
            }
          }
          def parseNodeB(): (Term, Boolean) = p.peek match {
            case Some(TSym("[")) =>
              p.pos += 1
              val b = V(s"__bn${p.fresh}")
              p.fresh += 1
              if (!p.trySym("]")) { parsePo(b); p.eatSym("]") }
              (b, true)
            case _ => (parseTerm(p, prefixes), false)
          }
          def parseNode(): Term = parseNodeB()._1
          val (s, subjectWasBracket) = parseNodeB()
          // ONLY a subject-position `[ po-list ]` blank may stand alone
          // (`[ :p :o ] .`); any other lone term (`?z .`, `"x" .`) is a
          // syntax error, not a silently-dropped pattern
          if (!p.peek.exists(t => t == TSym(".") || t == TSym("}"))) parsePo(s)
          else if (!subjectWasBracket)
            throw new IllegalArgumentException(
              s"parse error: subject $s has no predicate-object list")
          p.trySym(".") // trailing dot optional before '}'
      }
    }
    Group(triples, filters, optionals, unions, minuses, values, paths,
      binds, subqueries, subgroups, existsFilters, valuesMulti, graphs,
      services)
  }

  /** Some(edge names) iff the path is a pure `|`-alternation of forward
    * edges — the shape that evaluates as a single IN-list scan.
    */
  private def flattenAltEdges(path: Path): Option[Seq[String]] = path match {
    case PEdge(e) => Some(Seq(e))
    case PAlt(l, r) =>
      for (a <- flattenAltEdges(l); b <- flattenAltEdges(r)) yield a ++ b
    case _ => None
  }

  /** Some(edge names) iff the path is a plain `/`-sequence of forward
    * edges — the shape that compiles to ordinary triple patterns.
    */
  private def flattenEdgeSeq(path: Path): Option[Seq[String]] = path match {
    case PEdge(e) => Some(Seq(e))
    case PSeq(l, r) =>
      for (a <- flattenEdgeSeq(l); b <- flattenEdgeSeq(r)) yield a ++ b
    case _ => None
  }

  // path := seq ('|' seq)* ; seq := elt ('/' elt)* ;
  // elt := '^'? (iri | pname | 'a' | '(' path ')') ('+'|'*'|'?')?
  private def parsePathAlt(p: P, prefixes: Map[String, String]): Path = {
    var left = parsePathSeq(p, prefixes)
    while (p.trySym("|")) left = PAlt(left, parsePathSeq(p, prefixes))
    left
  }

  private def parsePathSeq(p: P, prefixes: Map[String, String]): Path = {
    var left = parsePathElt(p, prefixes)
    while (p.trySym("/")) left = PSeq(left, parsePathElt(p, prefixes))
    left
  }

  private def parsePathElt(p: P, prefixes: Map[String, String]): Path = {
    val inv = p.trySym("^")
    def edgeName(): String = parseTerm(p, prefixes) match {
      case C(v) => v.toString
      case V(n) => p.fail(s"variable ?$n not allowed inside a property path")
    }
    val base: Path = p.peek match {
      case Some(TSym("!")) => // negated property set: !p or !(p1|^p2|...)
        p.pos += 1
        var fwd = Seq.empty[String]
        var inv = Seq.empty[String]
        def member(): Unit =
          if (p.trySym("^")) inv :+= edgeName() else fwd :+= edgeName()
        p.peek match {
          case Some(TSym("(")) =>
            p.pos += 1
            member()
            while (p.trySym("|")) member()
            p.eatSym(")")
          case _ => member()
        }
        PNegSet(fwd, inv)
      case Some(TSym("(")) =>
        p.pos += 1
        val x = parsePathAlt(p, prefixes)
        p.eatSym(")")
        x
      case _ => PEdge(edgeName())
    }
    val withMod =
      if (p.trySym("+")) PClosure(base, includeZero = false)
      else if (p.trySym("*")) PClosure(base, includeZero = true)
      else if (p.trySym("?")) POpt(base)
      else if (p.peek.contains(TSym("{"))) parseQuantifier(p, base)
      else base
    if (inv) PInv(withMod) else withMod
  }

  /** ARQ-style bounded path quantifiers `p{n}` / `p{n,m}` / `p{n,}` /
    * `p{,m}` (an Apache Jena extension the reference front-end accepts —
    * dropped from the final SPARQL 1.1 spec). Pure parse-time
    * desugaring onto seq/alt/closure/opt, so both the string and the
    * encoded compile paths get them for free:
    * p{n} → p/…/p (n copies); p{n,m} → alt of the n..m chains;
    * p{0,m} → (p{1,m})?; p{n,} → p{n-1}/p+ (p* when n = 0).
    */
  private def parseQuantifier(p: P, base: Path): Path = {
    p.eatSym("{")
    def bound(): Int = p.next() match {
      case TNum(x) if x.forall(_.isDigit) => x.toInt
      case t => p.fail(s"expected non-negative integer in path quantifier, got $t")
    }
    val lo: Option[Int] = p.peek match {
      case Some(TNum(_)) => Some(bound())
      case _ => None
    }
    val hi: Option[Int] =
      if (p.trySym(",")) p.peek match {
        case Some(TNum(_)) => Some(bound())
        case _ => None // {n,} unbounded
      }
      else lo // {n} exact
    p.eatSym("}")
    if (lo.isEmpty && hi.isEmpty) p.fail("empty path quantifier {}")
    val n = lo.getOrElse(0)
    def chain(k: Int): Path = // k >= 1 exact steps
      (2 to k).foldLeft(base)((acc, _) => PSeq(acc, base))
    hi match {
      case Some(m) =>
        if (m < n || m == 0)
          p.fail(s"unsupported path quantifier {${lo.getOrElse("")},$m}")
        val oneToM = (n.max(1) to m).map(chain).reduce(PAlt(_, _))
        if (n == 0) POpt(oneToM) else oneToM
      case None =>
        if (n == 0) PClosure(base, includeZero = true)
        else if (n == 1) PClosure(base, includeZero = false)
        else PSeq(chain(n - 1), PClosure(base, includeZero = false))
    }
  }

  /** A VALUES DataBlock, either form (§10.2): `?v { c ... }` or
    * `(?v1 ?v2) { (c1 c2) ... }` — normalized to (vars, rows) with UNDEF
    * cells as null. Shared by group-level VALUES and the trailing
    * ValuesClause.
    */
  private def parseDataBlock(p: P, prefixes: Map[String, String])
      : (Seq[String], Seq[Seq[String]]) = p.peek match {
    case Some(TSym("(")) =>
      p.pos += 1
      var vars = Seq.empty[String]
      while (!p.trySym(")")) p.next() match {
        case TVar(x) => vars :+= x
        case x => p.fail(s"expected ?var in VALUES var list, got $x")
      }
      p.eatSym("{")
      var rows = Seq.empty[Seq[String]]
      while (!p.trySym("}")) {
        p.eatSym("(")
        var row = Seq.empty[String]
        while (!p.trySym(")")) row :+= parseValuesCell(p, prefixes)
        if (row.length != vars.length)
          p.fail(s"VALUES row arity ${row.length} != ${vars.length}")
        rows :+= row
      }
      (vars, rows)
    case _ =>
      val v = p.next() match {
        case TVar(x) => x
        case x => p.fail(s"expected ?var after VALUES, got $x")
      }
      p.eatSym("{")
      var vals = Seq.empty[String]
      while (!p.trySym("}")) vals :+= parseValuesCell(p, prefixes)
      (Seq(v), vals.map(Seq(_)))
  }

  /** One inline-data cell: a constant term, or UNDEF → null (the
    * unbound-cell marker, SPARQL 1.1 §10.2.2).
    */
  private def parseValuesCell(p: P, prefixes: Map[String, String]): String =
    p.next() match {
      case TStr(sv) => sv
      case TIri(i) => i
      case TNum(n) => n
      case TWord(w) if w.equalsIgnoreCase("UNDEF") => null
      case TPName("_", local) if !prefixes.contains("_") => "_:" + local
      case TPName(pfx, local) =>
        prefixes.getOrElse(pfx,
          p.fail(s"undeclared prefix '$pfx:'")) + local
      case x => p.fail(s"unexpected VALUES entry $x")
    }

  private def parseTerm(p: P, prefixes: Map[String, String]): graft.bgp.Term =
    p.next() match {
      case TVar(v) => V(v)
      case TStr(s) => C(s)
      case TIri(i) => C(i)
      case TNum(n) => C(n)
      case TPName("_", local) if !prefixes.contains("_") =>
        // blank node: a constant under the store's `_:` serialization; in
        // a CONSTRUCT template it skolemizes fresh per solution
        C("_:" + local)
      case TPName(pfx, local) =>
        val base = prefixes.getOrElse(pfx,
          throw new IllegalArgumentException(s"undeclared prefix '$pfx:'"))
        C(base + local)
      case TWord("a") => C("a") // rdf:type shortcut, stored as predicate "a"
      case t => p.fail(s"unexpected term $t")
    }

  // ---------- Expression parsing ----------
  private def parseExpr(p: P): Expr = {
    var left = parseCond(p)
    var more = true
    while (more) p.peek match {
      case Some(TSym("&&")) => p.pos += 1; left = And(left, parseCond(p))
      case Some(TSym("||")) => p.pos += 1; left = Or(left, parseCond(p))
      case _ => more = false
    }
    left
  }

  private def parseCond(p: P): Expr = p.peek match {
    case Some(TSym("!")) => p.pos += 1; Not(parseCond(p))
    // expression-position EXISTS: a boolean operand like any other
    case Some(t) if p.isKw(t, "EXISTS") &&
      p.peekAhead(1).contains(TSym("{")) =>
      p.pos += 1; ExistsE(parseGroup(p, p.prefixes))
    case Some(t) if p.isKw(t, "NOT") &&
      p.peekAhead(1).exists(p.isKw(_, "EXISTS")) &&
      p.peekAhead(2).contains(TSym("{")) =>
      p.pos += 2; Not(ExistsE(parseGroup(p, p.prefixes)))
    case Some(TSym("(")) => p.pos += 1; val e = parseExpr(p); p.eatSym(")"); e
    case Some(TWord(w)) if boolFns.contains(w.toUpperCase) &&
      p.peekAhead(1).contains(TSym("(")) =>
      p.pos += 1
      BFn(w.toUpperCase, parseArgList(p))
    case _ =>
      val l = parseEAdd(p)
      if (p.tryKw("IN")) BFn("IN", l +: parseArgList(p))
      else if (p.peek.exists(p.isKw(_, "NOT")) &&
        p.peekAhead(1).exists(p.isKw(_, "IN"))) {
        p.pos += 2
        Not(BFn("IN", l +: parseArgList(p)))
      } else {
        val op = p.next() match {
          case TSym(o) if Seq("=", "!=", "<", "<=", ">", ">=").contains(o) => o
          case t => p.fail(s"expected comparison operator, got $t")
        }
        val r = parseEAdd(p)
        Cmp(l, op, r)
      }
  }

  private def parseArgList(p: P): Seq[EExpr] = {
    p.eatSym("(")
    var args = Seq.empty[EExpr]
    if (!p.trySym(")")) {
      args :+= parseEAdd(p)
      while (p.trySym(",")) args :+= parseEAdd(p)
      p.eatSym(")")
    }
    args
  }

  private def parseEAdd(p: P): EExpr = {
    var left = parseEMul(p)
    var more = true
    while (more) p.peek match {
      case Some(TSym("+")) => p.pos += 1; left = EBin(left, "+", parseEMul(p))
      case Some(TSym("-")) => p.pos += 1; left = EBin(left, "-", parseEMul(p))
      case _ => more = false
    }
    left
  }

  private def parseEMul(p: P): EExpr = {
    var left = parseEUnary(p)
    var more = true
    while (more) p.peek match {
      case Some(TSym("*")) => p.pos += 1; left = EBin(left, "*", parseEUnary(p))
      case Some(TSym("/")) => p.pos += 1; left = EBin(left, "/", parseEUnary(p))
      case _ => more = false
    }
    left
  }

  private def parseEUnary(p: P): EExpr = p.peek match {
    case Some(TSym("*")) => p.pos += 1; EVar("*") // COUNT(*) only
    case Some(TVar(v)) => p.pos += 1; EVar(v)
    case Some(TNum(n)) => p.pos += 1; ENumL(n.toDouble)
    case Some(TStr(s)) => p.pos += 1; EStrL(s)
    // IRI / prefixed-name constants denote their term string (terms are
    // stored raw in this model, so `?r != <region:0>` string-compares)
    case Some(TIri(i)) => p.pos += 1; EStrL(i)
    case Some(TPName(pfx, local)) =>
      p.pos += 1
      val expanded =
        if (pfx == "_" && !p.prefixes.contains("_")) "_:" + local
        else p.prefixes.getOrElse(pfx,
          p.fail(s"undeclared prefix '$pfx:'")) + local
      // XPath constructor functions (§17.5): xsd:integer(?x) etc. parse
      // as casts when the expanded IRI sits in the XSD namespace and an
      // argument list follows
      if (expanded.startsWith("http://www.w3.org/2001/XMLSchema#") &&
        p.peek.contains(TSym("("))) {
        val t = expanded.stripPrefix("http://www.w3.org/2001/XMLSchema#")
        ECall("XSD_" + t.toUpperCase, parseArgList(p))
      } else EStrL(expanded)
    case Some(TSym("(")) => p.pos += 1; val e = parseEAdd(p); p.eatSym(")"); e
    case Some(TWord(fn)) if fn.toUpperCase == "IF" &&
      p.peekAhead(1).contains(TSym("(")) =>
      // IF's first operand is a boolean-grammar expression
      p.pos += 1; p.eatSym("(")
      val c = parseExpr(p); p.eatSym(",")
      val t = parseEAdd(p); p.eatSym(",")
      val f = parseEAdd(p); p.eatSym(")")
      EIf(c, t, f)
    case Some(TWord(fn)) if p.peekAhead(1).contains(TSym("(")) =>
      p.pos += 1
      ECall(fn.toUpperCase, parseArgList(p))
    case t => p.fail(s"unexpected expression token $t")
  }

  // ---------- Compiler ----------

  /** Encoded-mode compilation context: the ingest dictionary, the
    * driver-resolved constant->id map (query-local ids for constants absent
    * from the store), the id rows those query-local constants decode
    * through, and the vars that hold computed VALUES rather than ids
    * (BIND targets and aggregate/expression aliases — never decoded).
    */
  private final case class EncEnv(dict: DataFrame, ids: Map[String, Long],
                                  localDict: Seq[(Long, String)],
                                  plainVars: Set[String])

  /** Compilation environment: the relation queried (string terms or
    * dictionary-encoded longs), its stats, and — in encoded mode — the
    * decode context. ONE compiler serves both stores; `enc` only changes
    * where constants are encoded (pattern positions, at plan time) and
    * where values are decoded (lazily, at exactly the operators that
    * inspect term VALUES: FILTER / BIND / aggregate arguments / ORDER BY —
    * the discipline the reference gets from `LazyJenaNode.scala:14-53`).
    */
  private final case class Env(spark: SparkSession, triples: DataFrame,
                               stats: Map[String, PredStats], totalCnt: Long,
                               enc: Option[EncEnv],
                               // NAMED part of a quad dataset (s,p,o,g),
                               // already restricted per FROM NAMED —
                               // present only for a quad Dataset
                               // (datasetEnv) and the quad Update WHERE
                               quads: Option[DataFrame] = None) {
    /** Encode a pattern-position constant (dictionary id in encoded mode). */
    def cval(v: Any): Any = enc match {
      case Some(e) => e.ids.getOrElse(v.toString,
        throw new IllegalStateException(s"constant not pre-encoded: $v"))
      case None => v
    }
    def encTp(tp: TriplePattern): TriplePattern =
      if (enc.isEmpty) tp
      else {
        def t(x: Term): Term = x match {
          case C(v) => C(cval(v))
          case v => v
        }
        TriplePattern(t(tp.s), t(tp.p), t(tp.o))
      }
    /** Decode relation: store dictionary plus query-local constant ids
      * (constants absent from the store — e.g. zero-length path endpoints
      * — must still decode back to themselves).
      */
    lazy val dictAll: DataFrame = {
      val e = enc.get
      if (e.localDict.isEmpty) e.dict
      else {
        import spark.implicits._
        e.dict.unionByName(e.localDict.toDF("id", "term"))
      }
    }
  }

  /** The compilation environment of `ds` for one query group — the one
    * place the four datasets differ before their common compile:
    *   - the relation the patterns scan, and its stats;
    *   - for encoded data, the driver-side encoding of the group's
    *     constants and of `extra` ([[encEnv]]);
    *   - for quads, the §13.2 dataset. With no FROM/FROM NAMED the
    *     default graph is the g-null slice and every named graph is
    *     GRAPH-visible; FROM <g> MERGES the listed graphs into the
    *     default graph, FROM NAMED <g> restricts the GRAPH-visible set,
    *     and a query carrying either clause describes its dataset
    *     exhaustively (an absent FROM with FROM NAMED present means an
    *     empty default graph, and vice versa). Graph ids go through
    *     `cval`, so one slicing serves both term spaces.
    * Triples and a store handle are a single graph and reject FROM and
    * FROM NAMED.
    */
  private def datasetEnv(spark: SparkSession, ds: Dataset,
                         g: Group = emptyGroup, plain: Set[String] = Set.empty,
                         fromGraphs: Seq[String] = Seq.empty,
                         fromNamed: Seq[String] = Seq.empty,
                         extra: Seq[String] = Seq.empty): Env = {
    val explicitDataset = fromGraphs.nonEmpty || fromNamed.nonEmpty
    def quadEnv(whole: Env): Env = {
      def in(graphs: Seq[String]): Column =
        if (graphs.isEmpty) lit(false) else col("g").isin(graphs.map(whole.cval): _*)
      val (default, named) =
        if (explicitDataset) (in(fromGraphs), in(fromNamed))
        else (col("g").isNull, col("g").isNotNull)
      whole.copy(triples = whole.triples.where(default).select("s", "p", "o"),
        quads = Some(whole.triples.where(named)))
    }
    ds match {
      case Dataset.Quads(quads, stats) =>
        quadEnv(Env(spark, quads, stats, 1000000L, None))
      case Dataset.QuadsEncoded(encQuads, dict, stats) =>
        val total = if (stats.nonEmpty) stats.values.map(_.cnt).sum else 1000000L
        quadEnv(Env(spark, encQuads, stats, total, Some(encEnv(spark, dict,
          pureHash = true, g, plain, extra ++ fromGraphs ++ fromNamed))))
      case _ if explicitDataset =>
        throw new IllegalArgumentException(
          "FROM/FROM NAMED need a quad dataset - use Sparql.Dataset.Quads " +
            "or Sparql.Dataset.QuadsEncoded")
      case Dataset.Triples(triples, stats) =>
        Env(spark, triples, stats, 1000000L, None)
      case Dataset.Store(h) =>
        Env(spark, h.enc, h.encStats, h.totalCnt,
          Some(encEnv(spark, h.dict, h.pureHash, g, plain, extra)))
    }
  }

  /** The encoded-mode context for one group over `dict`: every
    * pattern-position constant of `g`, and every `extra` term, resolved
    * to its id driver-side. On a certified (pure-hash) dictionary ids
    * come from hashing alone, and membership is checked only for the
    * constants that can surface in output while absent from it — path
    * endpoints (a zero-length path matches a constant endpoint against
    * itself) and VALUES entries (they bind vars) — usually an empty set;
    * `Dictionary.lookup` answers it from the store dictionary's
    * driver-held index with no job, or probes a dictionary without one.
    * A repaired store resolves every constant through a dictionary scan;
    * absent ones get fresh negative ids.
    */
  private def encEnv(spark: SparkSession, dict: DataFrame, pureHash: Boolean,
                     g: Group, plain: Set[String],
                     extra: Seq[String] = Seq.empty): EncEnv = {
    import graft.dict.Dictionary
    val consts = (groupConsts(g) ++ extra).toSeq.sorted
    val probeSet =
      if (pureHash) (pathEndpointConsts(g) ++ inlineValueConsts(g)).toSeq.sorted
      else consts
    val present = Dictionary.lookup(dict, probeSet)
    val ids: Map[String, Long] =
      if (pureHash) Dictionary.hashLiterals(spark, consts)
      else {
        val fresh = Iterator.from(1)
        consts.map(c => c -> present.getOrElse(c, -fresh.next().toLong)).toMap
      }
    EncEnv(dict, ids, probeSet.filterNot(present.contains).map(c => ids(c) -> c),
      plain)
  }

  /** SPARQL 1.1 Federated Query endpoint registry: `SERVICE <iri>`
    * evaluates against the triple relation registered here under that
    * IRI — federation over co-resident datasets (the lakehouse layout,
    * where every "endpoint" is a table the cluster can scan) instead of
    * per-solution HTTP round-trips, so a federated join is a plain
    * distributed join. Keyed per SparkSession so concurrent sessions
    * and tests don't bleed into each other; entries for stopped
    * sessions are dropped on the next registration.
    */
  private val endpointReg =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def registerEndpoint(spark: SparkSession, iri: String,
                       triples: DataFrame): Unit = {
    val it = endpointReg.keySet.iterator
    while (it.hasNext) { val k = it.next(); if (k._1.sparkContext.isStopped) it.remove() }
    endpointReg.put((spark, iri), triples)
  }

  def unregisterEndpoint(spark: SparkSession, iri: String): Unit =
    endpointReg.remove((spark, iri))

  private def lookupEndpoint(spark: SparkSession, iri: String): Option[DataFrame] =
    Option(endpointReg.get((spark, iri)))

  /** The SERVICE block's solution relation, shared by every compile
    * path. Constant endpoints look up the registry (SILENT miss = the
    * unit solution, None). A VARIABLE endpoint ("?var") unions the
    * block over EVERY endpoint registered in this session — sorted by
    * IRI for determinism — with the var bound to the endpoint IRI (or
    * filtered on it when the block itself binds the var): the
    * bounded-registry reading of SPARQL 1.1 Federated Query §2.4, whose
    * variable-endpoint evaluation is implementation-defined. The
    * registry is bounded, so the union is a bounded plan, never a
    * per-solution endpoint round-trip.
    */
  private def serviceSolutions(spark: SparkSession, ep: String,
                               silent: Boolean,
                               compile: DataFrame => DataFrame)
      : Option[DataFrame] = {
    if (ep.startsWith("?")) {
      val v = ep.substring(1)
      val eps = {
        val b = Seq.newBuilder[(String, DataFrame)]
        val it = endpointReg.entrySet.iterator
        while (it.hasNext) {
          val e = it.next()
          if (e.getKey._1 eq spark) b += ((e.getKey._2, e.getValue))
        }
        b.result().sortBy(_._1)
      }
      val arms = eps.map { case (iri, remote) =>
        val svc = compile(remote)
        if (svc.columns.contains(v)) svc.where(col(v) === iri)
        else svc.withColumn(v, lit(iri))
      }
      arms.reduceOption(_.unionByName(_)).orElse {
        if (silent) None
        else throw new IllegalArgumentException(
          "SERVICE ?" + v + " found no registered endpoints — call " +
            "Sparql.registerEndpoint(spark, iri, triples) first " +
            "(or use SERVICE SILENT)")
      }
    } else lookupEndpoint(spark, ep) match {
      case Some(remote) => Some(compile(remote))
      case None if silent => None
      case None => throw new IllegalArgumentException(
        s"SERVICE endpoint not registered: <$ep> — call " +
          "Sparql.registerEndpoint(spark, iri, triples) first " +
          "(or use SERVICE SILENT)")
    }
  }

  /** Encoded mode: join shadow string columns (`__str_<v>`) for the
    * id-typed vars an expression inspects; returns the decorated frame,
    * the var resolver for expression compilation, and the shadow columns
    * to drop afterwards. String mode: identity. Ids absent from the
    * dictionary render as `_:<id>` blanks, matching final decode.
    */
  private def withDecoded(env: Env, df: DataFrame, vars: Set[String])
      : (DataFrame, String => Column, Seq[String]) = env.enc match {
    case None => (df, col(_), Nil)
    case Some(e) =>
      val need = vars.toSeq.sorted.filter(df.columns.contains)
        .filterNot(e.plainVars.contains).filterNot(_.startsWith("__"))
      val dec = need.foldLeft(df) { (d, v) =>
        val m = env.dictAll
          .select(col("id").as(s"__di_$v"), col("term").as(s"__str_$v"))
        d.join(m, d(v) === m(s"__di_$v"), "left")
          .withColumn(s"__str_$v",
            coalesce(col(s"__str_$v"), concat(lit("_:"), col(v).cast("string"))))
          .drop(s"__di_$v")
      }
      val needSet = need.toSet
      (dec, v => if (needSet(v)) col(s"__str_$v") else col(v),
        need.map(v => s"__str_$v"))
  }

  /** Rewrites [[ExistsE]] nodes in an expression tree into precomputed
    * boolean marker columns on the frame: each `EXISTS { G }` compiles its
    * group and LEFT-joins a distinct one-column flag relation on the
    * shared variables (the same correlated-evaluation shape as the
    * standalone FILTER EXISTS semi-join — per-solution substitution is the
    * join), so the expression grammar treats existence as an ordinary
    * boolean: `FILTER(EXISTS{..} || ?x > 5)`, `BIND(IF(EXISTS{..},..))`.
    * An unbound flag (no match) coalesces to false at the [[MarkerE]].
    */
  private final class ExistsRewriter(env: Env, df0: DataFrame) {
    var df: DataFrame = df0
    var flags: Seq[String] = Seq.empty
    private def flagFor(g: Group): String = {
      var i = flags.size
      while (df.columns.contains(s"__ex$i")) i += 1
      val name = s"__ex$i"
      val in = compileGroup(env, g)
      val shared = df.columns.intersect(in.columns).toSeq
      df =
        if (shared.nonEmpty)
          df.join(in.select(shared.map(col): _*).distinct
            .withColumn(name, lit(true)), shared, "left")
        else df.join(broadcast(in.limit(1).select(lit(true).as(name))),
          lit(true), "left")
      flags :+= name
      name
    }
    def rw(e: Expr): Expr = e match {
      case ExistsE(g) => MarkerE(flagFor(g))
      case And(l, r) => And(rw(l), rw(r))
      case Or(l, r) => Or(rw(l), rw(r))
      case Not(x) => Not(rw(x))
      case Cmp(l, op, r) => Cmp(rwV(l), op, rwV(r))
      case BFn(fn, args) => BFn(fn, args.map(rwV))
      case m: MarkerE => m
      case i: IdEq => i
      case i: IdEqVar => i
    }
    def rwV(e: EExpr): EExpr = e match {
      case EIf(c, t, f) => EIf(rw(c), rwV(t), rwV(f))
      case EBin(l, op, r) => EBin(rwV(l), op, rwV(r))
      case ECall(fn, args) => ECall(fn, args.map(rwV))
      case other => other
    }
  }

  /** Encoded mode: rewrite pure TERM-equality predicates on id-typed vars
    * into id-space predicates. Term equality ⟺ id equality (the
    * dictionary is a bijection; a constant absent from the store hashes
    * to an id that matches nothing — also correct), so `?p IN ("a","b")`,
    * `?x = "c"`, `?x != "c"` and `sameTerm` never need the decode join —
    * at scale that removes a |relation| ⋈ |dict| join per filter.
    * Conservative: only all-string-constant argument lists (a numeric
    * literal switches `=` to VALUE comparison, which is not term
    * equality), only LongType non-plain vars, and never for constants
    * that could collide with the `_:<id>` rendering of dictionary-absent
    * ids.
    */
  private def encTermEqRewrite(env: Env, df: DataFrame, f: Expr): Expr =
    env.enc match {
      case None => f
      case Some(e) =>
        def idTyped(v: String): Boolean =
          df.columns.contains(v) && !e.plainVars.contains(v) &&
            !v.startsWith("__") &&
            df.schema(v).dataType == org.apache.spark.sql.types.LongType
        def constOf(x: EExpr): Option[String] = x match {
          case EStrL(s) if !s.startsWith("_:") => Some(s)
          case _ => None
        }
        def h(s: String): Long = graft.dict.Dictionary.termHashLocal(s)
        def rw(x: Expr): Expr = x match {
          case And(l, r) => And(rw(l), rw(r))
          case Or(l, r) => Or(rw(l), rw(r))
          case Not(y) => Not(rw(y))
          case BFn("IN", EVar(v) +: rest)
              if idTyped(v) && rest.nonEmpty &&
                rest.forall(constOf(_).isDefined) =>
            IdEq(v, rest.map(c => h(constOf(c).get)))
          case BFn("SAMETERM", Seq(EVar(a), EVar(b)))
              if idTyped(a) && idTyped(b) => IdEqVar(a, b)
          case BFn("SAMETERM", Seq(EVar(v), c))
              if idTyped(v) && constOf(c).isDefined =>
            IdEq(v, Seq(h(constOf(c).get)))
          case BFn("SAMETERM", Seq(c, EVar(v)))
              if idTyped(v) && constOf(c).isDefined =>
            IdEq(v, Seq(h(constOf(c).get)))
          case Cmp(EVar(v), "=", c) if idTyped(v) && constOf(c).isDefined =>
            IdEq(v, Seq(h(constOf(c).get)))
          case Cmp(c, "=", EVar(v)) if idTyped(v) && constOf(c).isDefined =>
            IdEq(v, Seq(h(constOf(c).get)))
          case Cmp(EVar(v), "!=", c) if idTyped(v) && constOf(c).isDefined =>
            Not(IdEq(v, Seq(h(constOf(c).get))))
          case Cmp(c, "!=", EVar(v)) if idTyped(v) && constOf(c).isDefined =>
            Not(IdEq(v, Seq(h(constOf(c).get))))
          case other => other
        }
        rw(f)
    }

  private def applyFilter(env: Env, df: DataFrame, f: Expr): DataFrame = {
    val x = new ExistsRewriter(env, df)
    val f2 = encTermEqRewrite(env, x.df, x.rw(f))
    val (d, res, shadows) = withDecoded(env, x.df, exprVars(f2))
    d.where(compileExprWith(f2, res)).drop(shadows: _*).drop(x.flags: _*)
  }

  private def applyBind(env: Env, df0: DataFrame, e0: EExpr, v: String): DataFrame = {
    val x = new ExistsRewriter(env, df0)
    val e = x.rwV(e0)
    val df = x.df
    val (d, res, shadows) = withDecoded(env, df, valVars(e))
    val out =
      if (!df.columns.contains(v)) d.withColumn(v, compileVal(e, res))
      else {
        // BIND onto an already-present var: legal SPARQL only when the
        // other use comes AFTER the BIND (§10.1), i.e. the extended
        // binding JOINS with the later pattern — an equality constraint,
        // not an overwrite. An OPTIONAL-null slot takes the computed
        // value; a BIND error (null) leaves the var unbound, which stays
        // join-compatible with the pattern's value.
        val ev = compileVal(e, res)
        d.withColumn(v, coalesce(col(v), ev)).where(ev.isNull || col(v) === ev)
      }
    out.drop(shadows: _*).drop(x.flags: _*)
  }

  /** Encoded mode: pattern machinery emits id-typed columns; vars that are
    * ALSO value-typed somewhere in the query (BIND targets / aliases —
    * `EncEnv.plainVars`) are decoded to their term strings RIGHT AT THE
    * SOURCE, so joins/filters/aggregates over them compare one consistent
    * type. Ids absent from the dictionary render as `_:<id>` blanks,
    * matching final decode. String mode: identity.
    */
  private def demoteToTerms(env: Env, df: DataFrame): DataFrame = env.enc match {
    case None => df
    case Some(e) =>
      val need = df.columns.filter(e.plainVars.contains)
        .filterNot(_.startsWith("__"))
        .filter(c => df.schema(c).dataType ==
          org.apache.spark.sql.types.LongType)
      need.foldLeft(df) { (d, v) =>
        val m = env.dictAll
          .select(col("id").as(s"__di_$v"), col("term").as(s"__dt_$v"))
        d.join(m, d(v) === m(s"__di_$v"), "left")
          .withColumn(v,
            coalesce(col(s"__dt_$v"), concat(lit("_:"), col(v).cast("string"))))
          .drop(s"__di_$v", s"__dt_$v")
      }
  }

  /** Final lazy decode of the projected id columns (encoded mode) — the
    * single decode at the top of the plan, through `Dictionary.decodeAll`:
    * a result within its cap decodes on the driver (one bounded collect,
    * none for a driver-matched result, then the dictionary's driver-held
    * index), a larger one by the distributed decode.
    */
  private def decodeFinal(env: Env, df: DataFrame): DataFrame = env.enc match {
    case None => df
    case Some(e) =>
      val cols = df.columns.toSeq
        .filterNot(e.plainVars.contains).filterNot(_.startsWith("__"))
      if (cols.isEmpty) df
      else graft.dict.Dictionary.decodeAll(df, e.dict, cols, e.localDict)
  }

  /** A result decoded on the driver is a local relation; on one
    * partition a sort over it needs no range exchange — one job instead
    * of three.
    */
  private def onePartitionIfLocal(df: DataFrame): DataFrame =
    if (graft.dict.Dictionary.isLocal(df)) df.coalesce(1) else df

  // ---- encoded-mode query analysis (driver-side AST walks) ----

  private def pathConsts(p: Path): Set[String] = p match {
    case PEdge(e) => Set(e)
    case PNegSet(ps, ips) => ps.toSet ++ ips
    case PInv(x) => pathConsts(x)
    case PSeq(l, r) => pathConsts(l) ++ pathConsts(r)
    case PAlt(l, r) => pathConsts(l) ++ pathConsts(r)
    case PClosure(x, _) => pathConsts(x)
    case POpt(x) => pathConsts(x)
  }

  /** Groups buried in expression-position EXISTS nodes (FILTER booleans
    * and BIND bodies) — they carry pattern constants the driver must
    * pre-encode exactly like standalone FILTER EXISTS groups.
    */
  private def existsGroupsB(e: Expr): Seq[Group] = e match {
    case ExistsE(g) => Seq(g)
    case And(l, r) => existsGroupsB(l) ++ existsGroupsB(r)
    case Or(l, r) => existsGroupsB(l) ++ existsGroupsB(r)
    case Not(x) => existsGroupsB(x)
    case Cmp(l, _, r) => existsGroupsV(l) ++ existsGroupsV(r)
    case BFn(_, args) => args.flatMap(existsGroupsV)
    case _ => Seq.empty
  }

  private def existsGroupsV(e: EExpr): Seq[Group] = e match {
    case EIf(c, t, f) => existsGroupsB(c) ++ existsGroupsV(t) ++ existsGroupsV(f)
    case EBin(l, _, r) => existsGroupsV(l) ++ existsGroupsV(r)
    case ECall(_, args) => args.flatMap(existsGroupsV)
    case _ => Seq.empty
  }

  private def childGroups(g: Group): Seq[Group] =
    g.optionals ++ g.minuses ++ g.subgroups ++
      g.unions.flatMap { case (l, r) => Seq(l, r) } ++
      g.existsFilters.map(_._1) ++
      g.filters.flatMap(existsGroupsB) ++
      g.binds.flatMap(b => existsGroupsV(b._1)) ++
      g.graphs.map(_._2)

  /** Every pattern-position constant in the query tree (triple terms, path
    * edges and endpoints, VALUES entries) — the set the driver encodes.
    */
  private def groupConsts(g: Group): Set[String] =
    g.graphs.collect { case (C(v), _) => v.toString }.toSet ++
      g.triples.flatMap(_.consts).map(_.toString).toSet ++
      g.paths.flatMap { case (s, p, o) =>
        Seq(s, o).collect { case C(v) => v.toString } ++ pathConsts(p) } ++
      inlineValueConsts(g) ++
      childGroups(g).flatMap(groupConsts) ++
      g.subqueries.flatMap(sq => groupConsts(sq.group))

  /** Inline-data (VALUES) constants, including subquery trailing
    * ValuesClauses. Unlike triple-pattern constants these BIND variables
    * that can SURFACE in projected output, so on a certified store they
    * must land in the local decode dict even though matching needs no
    * probe.
    */
  private def inlineValueConsts(g: Group): Set[String] =
    g.values.flatMap(_._2).toSet ++
      g.valuesMulti.flatMap(_._2.flatten).filter(_ != null) ++
      childGroups(g).flatMap(inlineValueConsts) ++
      g.subqueries.flatMap(sq => inlineValueConsts(sq.group) ++
        sq.postValues.toSeq.flatMap(_._2.flatten).filter(_ != null))

  /** Path ENDPOINT constants only — the one constant position that can
    * SURFACE in output while absent from the store (a zero-length path
    * matches a constant endpoint against itself). Everywhere else an
    * absent constant just matches nothing, so on a certified store the
    * per-query dictionary probe can restrict itself to this set.
    */
  private def pathEndpointConsts(g: Group): Set[String] =
    g.paths.flatMap { case (s, _, o) =>
      Seq(s, o).collect { case C(v) => v.toString } }.toSet ++
      childGroups(g).flatMap(pathEndpointConsts) ++
      g.subqueries.flatMap(sq => pathEndpointConsts(sq.group))

  /** Vars that hold computed values (not dictionary ids) anywhere in the
    * query: BIND targets plus aggregate/expression aliases.
    */
  private def plainVarsOf(q: Query): Set[String] =
    q.projection.collect {
      case PAgg(_, _, a, _, _) => a
      case PExpr(_, a) => a
    }.toSet ++ plainVarsOfG(q.group)

  private def plainVarsOfG(g: Group): Set[String] =
    g.binds.map(_._2).toSet ++ childGroups(g).flatMap(plainVarsOfG) ++
      g.subqueries.flatMap(plainVarsOf) ++ serviceBoundVars(g)

  private def patternVarsOfG(g: Group): Set[String] =
    g.triples.flatMap(_.vars).toSet ++
      g.paths.flatMap { case (s, _, o) => Seq(s, o).collect { case V(n) => n } } ++
      g.values.map(_._1) ++ g.valuesMulti.flatMap(_._1) ++
      childGroups(g).flatMap(patternVarsOfG) ++
      g.subqueries.flatMap(sq => patternVarsOfG(sq.group))

  /** Vars bound inside SERVICE blocks anywhere in the tree. On the
    * encoded path these are VALUE-typed (the endpoint's dictionary is
    * independent of the store's, so its block compiles on the string
    * path and yields term strings) — adding them to `plainVars` makes
    * every pattern-machinery co-occurrence demote to term strings, which
    * is exactly the existing contaminated-var discipline for BIND
    * targets and aliases.
    */
  private def serviceBoundVars(g: Group): Set[String] =
    g.services.flatMap { case (ep, inner, _) =>
      (if (ep.startsWith("?")) Set(ep.substring(1)) else Set.empty[String]) ++
        patternVarsOfG(inner) ++ plainVarsOfG(inner) ++ serviceBoundVars(inner)
    }.toSet ++
      childGroups(g).flatMap(serviceBoundVars) ++
      g.subqueries.flatMap(sq => serviceBoundVars(sq.group))

  /** Continuous SPARQL over a live triple stream (BGP+FILTER subset, the
    * reference is strictly batch — this is the Structured-Streaming
    * extension path): the FULL per-pattern delta — every pattern takes a
    * turn binding to arriving stream edges while the others read the
    * static store, and the per-pattern arms union (`Bgp.compileStream`) —
    * so a new edge matching ANY pattern position produces its solutions.
    * `SELECT DISTINCT` is supported WHEN the caller supplies a
    * `watermark` (and the stream carries the `tsCol` event-time column):
    * it compiles to `dropDuplicatesWithinWatermark` over the projected
    * columns — exact dedup for duplicates arriving within the watermark
    * horizon, bounded state (Structured Streaming's contract; a
    * duplicate older than the horizon re-emits). `OPTIONAL` groups over
    * STATIC patterns enrich each solution via an append-safe
    * stream-static left join (the bounded side needs no watermark
    * state). A `UNION` compiles as the union of per-branch delta
    * decompositions (each arm = outer ++ branch patterns, already
    * append-safe). `MINUS` over STATIC patterns is the batch compiler's
    * anti join against a bounded side; `VALUES` blocks are bounded
    * constant relations (both append-safe). Property paths and
    * subqueries evaluate against the STATIC store only — each compiles
    * to a bounded relation joined in append-safely (stream edges do not
    * extend path traversals and are invisible to subqueries; live-edge
    * closure maintenance would need per-batch semi-naive IVM).
    * Modifiers that need FULL-result state (unbounded DISTINCT / ORDER /
    * LIMIT) are rejected — run those on the sink's output; aggregates
    * belong to `executeStreamWindowed`.
    */
  def executeStream(spark: SparkSession, streamTriples: DataFrame,
                    staticTriples: DataFrame, queryText: String,
                    stats: Map[String, PredStats] = Map.empty,
                    watermark: Option[String] = None,
                    tsCol: String = "ts"): DataFrame =
    executeStreamQuery(spark, streamTriples, staticTriples, parse(queryText),
      stats, watermark, tsCol)

  /** Continuous SPARQL over a live QUAD stream: one GRAPH block
    * (constant or variable target) of triple patterns + FILTER/BIND,
    * maintained incrementally — the per-pattern delta decomposition of
    * `executeStream` with the graph column carried through every arm, so
    * an arriving quad only ever completes solutions INSIDE its own
    * graph (the §13.3 confinement as a streaming join key). The static
    * side is the already-ingested named part of the quad dataset; a
    * constant target slices both sides to that one graph up front.
    * Append-safe: every arm is a standing stream-static join.
    */
  def executeStreamQuads(spark: SparkSession, streamQuads: DataFrame,
                         staticQuads: DataFrame,
                         queryText: String): DataFrame = {
    val q = parse(queryText)
    require(streamQuads.isStreaming, "streamQuads must be a streaming DataFrame")
    require(q.group.triples.isEmpty && q.group.graphs.nonEmpty &&
      q.group.optionals.isEmpty && q.group.unions.isEmpty &&
      q.group.minuses.isEmpty && q.group.paths.isEmpty &&
      q.group.subqueries.isEmpty && q.group.subgroups.isEmpty &&
      q.group.existsFilters.isEmpty && q.group.values.isEmpty &&
      q.group.valuesMulti.isEmpty && q.group.services.isEmpty &&
      !q.distinct && q.orderBy.isEmpty && q.limit.isEmpty &&
      q.having.isEmpty && q.postValues.isEmpty &&
      q.projection.forall(!_.isInstanceOf[PAgg]),
      "executeStreamQuads supports GRAPH blocks (plus " +
        "group-level FILTERs), append mode — no aggregates/modifiers")
    if (q.group.graphs.size > 1)
      return executeStreamQuadsMulti(spark, streamQuads, staticQuads, q)
    val (gterm, inner) = q.group.graphs.head
    require(inner.triples.nonEmpty &&
      inner.paths.isEmpty &&
      inner.subqueries.isEmpty && inner.subgroups.isEmpty &&
      inner.existsFilters.isEmpty && inner.values.isEmpty &&
      inner.valuesMulti.isEmpty && inner.services.isEmpty &&
      inner.graphs.isEmpty,
      "the streaming GRAPH block may contain only triple patterns, " +
        "FILTER, BIND, UNION, static OPTIONAL, and static MINUS")
    // MINUS subtracts against the STATIC named part only (bounded anti
    // join, append-safe) — the executeStream restriction class
    inner.minuses.foreach(m =>
      require(m.triples.nonEmpty && m.optionals.isEmpty && m.unions.isEmpty &&
        m.minuses.isEmpty && m.paths.isEmpty && m.binds.isEmpty &&
        m.subqueries.isEmpty && m.subgroups.isEmpty &&
        m.existsFilters.isEmpty && m.values.isEmpty && m.valuesMulti.isEmpty &&
        m.graphs.isEmpty,
        "streaming MINUS groups may contain only triple patterns and filters"))
    // UNION branches get FULL delta semantics (the combined pattern set
    // per branch choice, like executeStream); arm-budget bounded
    requireArmBudget(
      streamArmCount(inner.triples.size, inner.unions), "executeStreamQuads")
    inner.unions.foreach { case (l, r) => Seq(l, r).foreach(b =>
      require(b.triples.nonEmpty && b.optionals.isEmpty && b.unions.isEmpty &&
        b.minuses.isEmpty && b.paths.isEmpty && b.subqueries.isEmpty &&
        b.subgroups.isEmpty && b.existsFilters.isEmpty && b.values.isEmpty &&
        b.valuesMulti.isEmpty && b.graphs.isEmpty,
        "streaming UNION branches may contain only triple patterns, " +
          "filters, and BINDs")) }
    // OPTIONAL enriches from the STATIC named part only (bounded side,
    // append-safe left join) — the executeStream restriction class
    inner.optionals.foreach(opt =>
      require(opt.triples.nonEmpty && opt.optionals.isEmpty &&
        opt.unions.isEmpty && opt.minuses.isEmpty && opt.paths.isEmpty &&
        opt.binds.isEmpty && opt.subqueries.isEmpty && opt.subgroups.isEmpty &&
        opt.existsFilters.isEmpty && opt.values.isEmpty &&
        opt.valuesMulti.isEmpty && opt.graphs.isEmpty,
        "streaming OPTIONAL groups may contain only triple patterns and filters"))
    val gv = gterm match { case V(n) => n; case _ => "__g" }
    def side(df: DataFrame): DataFrame = gterm match {
      case C(v) => df.where(col("g") === v.toString)
      case _ => df.where(col("g").isNotNull)
    }
    val stream = side(streamQuads)
    val static0 = side(staticQuads)
    // all-constant patterns are static TRUTH CHECKS, never delta arms —
    // the same guard set as the multi-block path: under a variable
    // graph they'd still bind ?g (a new-graph stream arrival would be
    // swallowed), and an unsatisfied ground pattern could only ever be
    // satisfied by a stream arrival (which later arms never see)
    (inner.triples ++
      inner.unions.flatMap { case (l, r) => l.triples ++ r.triples })
      .filter(_.vars.isEmpty).foreach { tp =>
        require(gterm.isInstanceOf[C],
          s"streaming quad blocks under a VARIABLE graph require every " +
            s"pattern to bind a variable ($tp is all-constant - a stream " +
            "arrival in a new graph would be silently ignored)")
        require(!quadScan(static0, tp, "__probe_g").limit(1).isEmpty,
          s"all-constant streaming pattern $tp is not satisfied by the " +
            "static dataset - only a stream arrival could satisfy it, " +
            "and stream quads never join later arms' static side (it " +
            "would be silently ignored); add the quad to the static " +
            "dataset or bind a variable")
      }
    // per-pattern delta arms for ONE combined pattern set
    def deltaArms(patterns: Seq[TriplePattern]): Seq[DataFrame] = {
      val outVars = patterns.flatMap(_.vars).distinct :+ gv
      patterns.indices
        .filter(i => patterns(i).vars.nonEmpty)
        .map { i =>
          var current = quadScan(stream, patterns(i), gv)
          var bound = patterns(i).vars.toSet
          (patterns.take(i) ++ patterns.drop(i + 1)).foreach { tp =>
            val sc = quadScan(static0, tp, gv)
            val shared = (tp.vars.filter(bound) :+ gv).distinct
            current =
              if (tp.vars.forall(bound)) current.join(sc, shared, "left_semi")
              else current.join(sc, shared, "inner")
            bound ++= tp.vars
          }
          current.select(outVars.map(col): _*)
        }
    }
    // cartesian product of branch choices across the UNION blocks; each
    // choice's pattern set gets its own full delta decomposition
    val choices: Seq[Seq[Group]] =
      inner.unions.foldLeft(Seq(Seq.empty[Group])) { case (acc, (l, r)) =>
        acc.flatMap(ch => Seq(ch :+ l, ch :+ r))
      }
    var deferredFilters = Seq.empty[Expr]
    val arms = choices.map { ch =>
      val patterns = inner.triples ++ ch.flatMap(_.triples)
      val armBranches = deltaArms(patterns)
      require(armBranches.nonEmpty, "at least one pattern must bind a variable")
      var d = armBranches.reduce(_.unionAll(_))
      (inner.binds ++ ch.flatMap(_.binds))
        .foreach { case (e, v) => d = d.withColumn(v, compileVal(e)) }
      (inner.filters ++ q.group.filters ++ ch.flatMap(_.filters)).foreach { f =>
        if (exprVars(f).subsetOf(d.columns.toSet)) d = d.where(compileExpr(f))
        else deferredFilters :+= f
      }
      d
    }
    var df = arms.reduce(_.unionByName(_, allowMissingColumns = true))
    // static-side OPTIONAL enrichment, graph-confined via the carried gv
    inner.optionals.foreach { opt =>
      var o: DataFrame = null
      opt.triples.foreach { tp =>
        val sc = quadScan(static0, tp, gv)
        o = if (o == null) sc else {
          val shared = o.columns.intersect(sc.columns).toSeq
          if (shared.isEmpty) o.crossJoin(sc) else o.join(sc, shared)
        }
      }
      opt.filters.foreach(f => o = o.where(compileExpr(f)))
      val shared = df.columns.intersect(o.columns).toSeq
      require(shared.length > 1, // gv is always shared; need a real var too
        "streaming OPTIONAL must share a variable with the stream pattern")
      df = df.join(o, shared, "left")
    }
    // static-side MINUS: graph-confined anti join on the shared vars
    inner.minuses.foreach { m =>
      var sub: DataFrame = null
      m.triples.foreach { tp =>
        val sc = quadScan(static0, tp, gv)
        sub = if (sub == null) sc else {
          val shared = sub.columns.intersect(sc.columns).toSeq
          if (shared.isEmpty) sub.crossJoin(sc) else sub.join(sc, shared)
        }
      }
      m.filters.foreach(f => sub = sub.where(compileExpr(f)))
      val shared = df.columns.intersect(sub.columns).toSeq
      require(shared.length > 1,
        "streaming MINUS must share a variable with the stream pattern")
      df = df.join(sub, shared, "left_anti")
    }
    deferredFilters.foreach(f => df = df.where(compileExpr(f)))
    val proj =
      if (q.projection.isEmpty)
        df.columns.toSeq.filterNot(_.startsWith("__")).map(col)
      else q.projection.map {
        case PVar(v) => col(v)
        case PExpr(e, alias) => compileVal(e).as(alias)
        case a => throw new IllegalArgumentException(s"unsupported $a in stream")
      }
    df.select(proj: _*)
  }

  /** MULTIPLE GRAPH blocks over a live quad stream: the join of the
    * blocks decomposes per (block, pattern) —
    * Δ(B₁ ⋈ … ⋈ Bₙ) = ⋃ᵢ (B₁ˢᵗᵃᵗ ⋈ … ⋈ Δ(Bᵢ) ⋈ … ⋈ Bₙˢᵗᵃᵗ), and Δ(Bᵢ)
    * itself decomposes per pattern like the single-block path: one arm
    * scans the STREAM for pattern j of block i with every other pattern
    * of block i AND every other block entirely static. Each block's
    * matches stay confined to its own active graph by its carried graph
    * column; blocks sharing a graph var join on it (same-graph
    * correlation), distinct vars range independently. Append-safe:
    * every arm is a standing stream-static join. Multi-block groups
    * support triple patterns + FILTER + BIND per block (the
    * UNION/OPTIONAL/MINUS enrichments remain single-block features).
    */
  private def executeStreamQuadsMulti(spark: SparkSession,
                                      streamQuads: DataFrame,
                                      staticQuads: DataFrame,
                                      q: Query): DataFrame = {
    val blocks = q.group.graphs
    blocks.foreach { case (_, b) =>
      require(b.triples.nonEmpty && b.optionals.isEmpty && b.unions.isEmpty &&
        b.minuses.isEmpty && b.paths.isEmpty && b.subqueries.isEmpty &&
        b.subgroups.isEmpty && b.existsFilters.isEmpty && b.values.isEmpty &&
        b.valuesMulti.isEmpty && b.graphs.isEmpty && b.services.isEmpty,
        "multi-block streaming GRAPH groups may contain only triple " +
          "patterns, FILTER, and BIND — UNION/OPTIONAL/MINUS enrichments " +
          "need the single-block form")
    }
    val gvs = blocks.zipWithIndex.map { case ((gt, _), i) =>
      gt match { case V(n) => n; case _ => s"__g$i" } }
    def side(df: DataFrame, gt: Term): DataFrame = gt match {
      case C(v) => df.where(col("g") === v.toString)
      case _ => df.where(col("g").isNotNull)
    }
    /** Join block `i`'s patterns over `base` (all-static compile), with
      * pattern `streamIdx` scanning the stream instead when set.
      */
    def blockRel(i: Int, streamIdx: Int = -1): DataFrame = {
      val (gt, b) = blocks(i)
      val gv = gvs(i)
      val static0 = side(staticQuads, gt)
      var d: DataFrame = null
      var bound = Set.empty[String]
      val order = // stream pattern (if any) seeds the join
        if (streamIdx < 0) b.triples.indices
        else streamIdx +: b.triples.indices.filterNot(_ == streamIdx)
      order.foreach { j =>
        val base = if (j == streamIdx) side(streamQuads, gt) else static0
        val sc = quadScan(base, b.triples(j), gv)
        d =
          if (d == null) sc
          else {
            val shared = (b.triples(j).vars.filter(bound) :+ gv).distinct
            if (j != streamIdx && b.triples(j).vars.forall(bound))
              d.join(sc, shared, "left_semi")
            else d.join(sc, shared, "inner")
          }
        bound ++= b.triples(j).vars
      }
      b.binds.foreach { case (e, v) => d = d.withColumn(v, compileVal(e)) }
      b.filters.foreach { f =>
        require(exprVars(f).subsetOf(d.columns.toSet),
          "multi-block streaming FILTER vars must be bound inside the block")
        d = d.where(compileExpr(f))
      }
      d
    }
    def joinBlocks(parts: Seq[DataFrame]): DataFrame =
      parts.reduce { (l, r) =>
        val shared = l.columns.intersect(r.columns).toSeq
        if (shared.isEmpty) l.crossJoin(r) else l.join(r, shared, "inner")
      }
    // An ALL-CONSTANT pattern cannot seed a delta arm — it is a TRUTH
    // CHECK, not a binder. Under a VARIABLE graph term it still binds
    // ?g, so a stream arrival in a new graph would change results and
    // be silently swallowed by later arms: reject. Under a CONSTANT
    // graph term the pattern is fully ground — if the STATIC side
    // satisfies it, it joins as a bounded static relation (a stream
    // re-arrival of an already-true quad adds nothing); if the static
    // side does NOT, only a stream arrival could ever satisfy it, and
    // arrivals never join the static side of later arms: reject with
    // the fix spelled out.
    for ((gt, b) <- blocks; tp <- b.triples if tp.vars.isEmpty) {
      require(gt.isInstanceOf[C],
        s"streaming quad blocks under a VARIABLE graph require every " +
          s"pattern to bind a variable ($tp is all-constant - a stream " +
          "arrival in a new graph would be silently ignored)")
      require(!quadScan(side(staticQuads, gt), tp, "__probe_g")
          .limit(1).isEmpty,
        s"all-constant streaming pattern $tp is not satisfied by the " +
          "static dataset - only a stream arrival could satisfy it, and " +
          "stream quads never join later arms' static side (it would be " +
          "silently ignored); add the quad to the static dataset or bind " +
          "a variable")
    }
    // ground patterns are static truth checks inside blockRel, never arms
    // — and every arm is a standing join of ALL blocks, so the multi
    // path is bounded by the same arm budget as the UNION expansions
    requireArmBudget(
      blocks.map(_._2.triples.count(_.vars.nonEmpty)).sum,
      "executeStreamQuads (multi-block)")
    val arms = for {
      i <- blocks.indices
      j <- blocks(i)._2.triples.indices
      if blocks(i)._2.triples(j).vars.nonEmpty
    } yield joinBlocks(
      blockRel(i, streamIdx = j) +:
        blocks.indices.filterNot(_ == i).map(k => blockRel(k)))
    require(arms.nonEmpty, "at least one pattern must bind a variable")
    var df = arms.reduce(_.unionByName(_, allowMissingColumns = true))
    q.group.filters.foreach { f =>
      require(exprVars(f).subsetOf(df.columns.toSet),
        "group-level streaming FILTER vars must be bound by the blocks")
      df = df.where(compileExpr(f))
    }
    val proj =
      if (q.projection.isEmpty)
        df.columns.toSeq.filterNot(_.startsWith("__")).map(col)
      else q.projection.map {
        case PVar(v) => col(v)
        case PExpr(e, alias) => compileVal(e).as(alias)
        case a => throw new IllegalArgumentException(s"unsupported $a in stream")
      }
    df.select(proj: _*)
  }

  /** The PRE-MODIFIER streaming solution relation of a group: per-pattern
    * delta arms over the UNION branch choices, binds, filters (deferred
    * past the static joins when they reference enrichment-bound vars),
    * then the bounded static-side enrichments — property paths,
    * subqueries, OPTIONAL, MINUS, FILTER [NOT] EXISTS, VALUES — each an
    * append-safe stream-static join. Shared by `executeStream`
    * (projection/dedup on top) and `executeStreamWindowed` (windowed
    * aggregation on top; `carry` keeps the event-time column flowing
    * through the delta arms).
    */
  private def streamSolutionRel(spark: SparkSession, stream: DataFrame,
                                staticTriples: DataFrame, q: Query,
                                stats: Map[String, PredStats],
                                carry: Seq[String]): DataFrame = {
    // filters referencing vars bound only by a path/subquery/OPTIONAL
    // enrichment can't apply inside the arm — defer them until after the
    // static-side joins (filters are idempotent, so applying a filter in
    // one arm AND again post-join is harmless)
    var deferredFilters = Seq.empty[Expr]
    def arm(branches: Seq[Group]): DataFrame = {
      var d = Bgp.compileStream(spark, stream, staticTriples,
        q.group.triples ++ branches.flatMap(_.triples),
        stats, carry = carry)
      (q.group.binds ++ branches.flatMap(_.binds))
        .foreach { case (e, v) => d = d.withColumn(v, compileVal(e)) }
      (q.group.filters ++ branches.flatMap(_.filters))
        .foreach { f =>
          if (exprVars(f).subsetOf(d.columns.toSet)) d = d.where(compileExpr(f))
          else deferredFilters :+= f
        }
      d
    }
    // cartesian product of branch choices across the group's UNION blocks
    val armChoices: Seq[Seq[Group]] =
      q.group.unions.foldLeft(Seq(Seq.empty[Group])) { case (acc, (l, r)) =>
        acc.flatMap(ch => Seq(ch :+ l, ch :+ r))
      }
    // bag union; branch-only variables are null (unbound) in the other
    // arms' rows, as in the batch compiler
    var df = armChoices.map(arm)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val senv = datasetEnv(spark, Dataset.Triples(staticTriples, stats))
    // property paths read the STATIC store only: the path relation is
    // bounded, so the constrain/extend join is append-safe. Stream edges
    // do NOT extend traversals — a path over live edges would need
    // closure re-computation per batch (semi-naive IVM), out of scope.
    q.group.paths.foreach { case (sTerm, path, oTerm) =>
      val scan = pathScan(senv, sTerm, path, oTerm)
      val shared = df.columns.intersect(scan.columns).toSeq
      df = if (shared.isEmpty) df.crossJoin(scan)
      else df.join(scan, shared, "inner")
    }
    // subqueries evaluate against the STATIC store only — their result
    // relation is bounded, so the join is append-safe (same restriction
    // class as OPTIONAL/MINUS/paths: the inner query does not see
    // stream edges)
    q.group.subqueries.foreach { sq =>
      val sub = compileQuery(senv, sq)
      val shared = df.columns.intersect(sub.columns).toSeq
      df = if (shared.isEmpty) df.crossJoin(sub)
      else df.join(sub, shared, "inner")
    }
    // SERVICE joins the registered endpoint relation — bounded static
    // side by construction (the registry holds co-resident datasets), so
    // the stream-endpoint join is append-safe like a subquery's
    q.group.services.foreach { case (iri, inner, silent) =>
      serviceSolutions(spark, iri, silent,
        remote => compileGroup(datasetEnv(spark, Dataset.Triples(remote)), inner))
        .foreach { svc =>
          val shared = df.columns.intersect(svc.columns).toSeq
          df = if (shared.isEmpty) df.crossJoin(svc)
          else df.join(svc, shared, "inner")
        }
    }
    q.group.optionals.foreach { opt =>
      val o = compileGroup(senv, opt)
      val shared = df.columns.intersect(o.columns).toSeq
      require(shared.nonEmpty,
        "streaming OPTIONAL must share a variable with the stream pattern")
      df = df.join(o, shared, "left")
    }
    // MINUS over the static store: the same anti join as the batch
    // compiler, against a bounded side (no shared vars removes nothing)
    q.group.minuses.foreach { m =>
      val neg = compileGroup(senv, m)
      val shared = df.columns.intersect(neg.columns).toSeq
      if (shared.nonEmpty) df = df.join(neg, shared, "left_anti")
    }
    // FILTER [NOT] EXISTS over the static store: the batch compiler's
    // semi/anti join against a bounded side — append-safe like MINUS
    q.group.existsFilters.foreach { case (inner, negated) =>
      val in = compileGroup(senv, inner)
      val shared = df.columns.intersect(in.columns).toSeq
      df =
        if (shared.nonEmpty)
          df.join(in, shared, if (negated) "left_anti" else "left_semi")
        else {
          val marker = broadcast(in.limit(1).select(lit(1).as("__e")))
          if (negated) df.join(marker, lit(true), "left_anti")
          else df.crossJoin(marker).drop("__e")
        }
    }
    // VALUES: inline constant relations are bounded by construction, so
    // the constrain/extend joins are append-safe — same shapes as batch
    q.group.values.foreach { case (v, vals) =>
      import spark.implicits._
      val vdf = vals.toDF(v)
      df = if (df.columns.contains(v)) df.join(vdf, Seq(v), "inner")
      else df.crossJoin(vdf)
    }
    q.group.valuesMulti.foreach { case (vars, rows) =>
      df = joinInlineData(senv, df, vars, rows)
    }
    deferredFilters.foreach { f =>
      val missing = exprVars(f) -- df.columns.toSet
      require(missing.isEmpty, s"FILTER references unbound vars $missing")
      df = df.where(compileExpr(f))
    }
    df
  }

  /** The per-(branch-choice × pattern) delta-arm count of a streaming
    * group's UNION expansion, and its budget: the expansion is
    * exponential in UNION BLOCKS but the real cost is the ARM count —
    * every arm is a standing stream-static join plan — so the guard
    * bounds arms, not blocks (three 1-pattern-branch blocks cost 8
    * arms × patterns; a 4th block is fine if the total stays small).
    */
  private val StreamArmBudget = 64
  // Arithmetic fold, NOT a materialized 2^|unions| choice expansion:
  // after k blocks the choice total is 2·total + choices·(|l|+|r|)
  // (every prior choice splits in two, each side adding one branch's
  // patterns), with choices doubling — and the fold EXITS as soon as
  // the running total exceeds the budget, so a query with dozens of
  // UNION blocks fails the guard in O(|unions|) driver work instead of
  // OOMing inside it. Saturating Long arithmetic; once past the budget
  // the exact count no longer matters.
  private def streamArmCount(baseTriples: Int,
                             unions: Seq[(Group, Group)]): Long = {
    var choices = 1L
    var total = baseTriples.toLong
    val it = unions.iterator
    while (it.hasNext && total <= StreamArmBudget) {
      val (l, r) = it.next()
      total = 2L * total + choices * (l.triples.size + r.triples.size).toLong
      // clamp the choice multiplier (degenerate all-empty-branch runs
      // would otherwise overflow it before total ever moves); any later
      // non-empty branch still blows past the budget immediately
      choices = math.min(choices * 2L, 1L << 20)
    }
    total
  }
  private def requireArmBudget(arms: Long, where: String): Unit =
    require(arms <= StreamArmBudget,
      s"$where: the UNION expansion needs $arms delta arms - exceeds " +
        s"the arm budget of $StreamArmBudget (every arm is a standing " +
        "stream-static join); reduce UNION branches or patterns per block")

  /** The feature-guard set shared by the plain and windowed stream
    * compilers: MINUS/UNION/OPTIONAL enrichment groups restricted to the
    * append-safe shapes, UNION expansion bounded by the arm budget.
    */
  private def requireStreamGroupShapes(q: Query): Unit = {
    q.group.minuses.foreach(m =>
      require(m.triples.nonEmpty && m.optionals.isEmpty && m.unions.isEmpty &&
        m.minuses.isEmpty && m.paths.isEmpty && m.binds.isEmpty &&
        m.subqueries.isEmpty && m.subgroups.isEmpty &&
        m.existsFilters.isEmpty && m.values.isEmpty && m.valuesMulti.isEmpty,
        "streaming MINUS groups may contain only triple patterns and filters"))
    requireArmBudget(
      streamArmCount(q.group.triples.size, q.group.unions), "executeStream")
    q.group.unions.foreach { case (l, r) => Seq(l, r).foreach(b =>
      require(b.triples.nonEmpty && b.optionals.isEmpty && b.unions.isEmpty &&
        b.minuses.isEmpty && b.paths.isEmpty && b.subqueries.isEmpty &&
        b.subgroups.isEmpty && b.existsFilters.isEmpty && b.values.isEmpty &&
        b.valuesMulti.isEmpty,
        "streaming UNION branches may contain only triple patterns, " +
          "filters, and BINDs")) }
    q.group.optionals.foreach(opt =>
      require(opt.optionals.isEmpty && opt.unions.isEmpty &&
        opt.minuses.isEmpty && opt.paths.isEmpty && opt.binds.isEmpty &&
        opt.subqueries.isEmpty && opt.subgroups.isEmpty &&
        opt.existsFilters.isEmpty && opt.values.isEmpty &&
        opt.valuesMulti.isEmpty,
        "streaming OPTIONAL groups may contain only triple patterns and filters"))
  }

  private def executeStreamQuery(spark: SparkSession, streamTriples: DataFrame,
                    staticTriples: DataFrame, qRaw: Query,
                    stats: Map[String, PredStats],
                    watermark: Option[String],
                    tsCol: String): DataFrame = {
    // `{ A . { B . FILTER f } }` with a PLAIN nested group (triples +
    // filters over its own vars only) is algebraically Join(A, B) with f
    // over B — flatten it into the outer pattern set so the nested
    // triples get FULL per-pattern delta semantics (they can match
    // stream edges, unlike the bounded static-side enrichments). Filters
    // over vars beyond the subgroup's own stay unsupported (hoisting
    // would widen their scope).
    val q = qRaw.copy(group = flattenPlainSubgroups(qRaw.group))
    require(
      q.group.subgroups.isEmpty && q.group.graphs.isEmpty &&
      q.orderBy.isEmpty &&
      q.limit.isEmpty && q.postValues.isEmpty && q.having.isEmpty &&
      q.projection.forall(!_.isInstanceOf[PAgg]),
      "executeStream supports the append-mode BGP+FILTER+BIND+UNION+" +
        "VALUES+SERVICE+static-MINUS/path/subquery/EXISTS subset")
    // UNION: each branch compiles as ITS OWN per-pattern delta over the
    // combined pattern set (outer triples ++ branch triples) and the arms
    // union — Δ(T ⋈ (A ∪ B)) = Δ(T ⋈ A) ∪ Δ(T ⋈ B), each arm already
    // append-safe, so a new edge matching any position of either branch
    // emits exactly its batch-equivalent solutions. MINUS/OPTIONAL
    // enrich from the STATIC store only (bounded sides, append-safe) —
    // the shared guard set spells out the allowed shapes.
    requireStreamGroupShapes(q)
    require(!q.distinct || watermark.nonEmpty,
      "streaming DISTINCT needs a watermark (bounded dedup state); " +
        "pass watermark=Some(\"10 minutes\") and an event-time column")
    val dedup = q.distinct
    val stream =
      if (dedup) streamTriples.withWatermark(tsCol, watermark.get)
      else streamTriples
    val df = streamSolutionRel(spark, stream, staticTriples, q, stats,
      carry = if (dedup) Seq(tsCol) else Nil)
    val proj =
      if (q.projection.isEmpty)
        df.columns.toSeq.filterNot(c => (dedup && c == tsCol) ||
          c.startsWith("__")).map(col)
      else q.projection.map {
        case PVar(v) => col(v)
        case PExpr(e, alias) => compileVal(e).as(alias)
        case a: PAgg => throw new IllegalArgumentException(s"aggregate ${a.fn} in stream")
      }
    if (!dedup) df.select(proj: _*)
    else {
      val keyed = df.select(proj :+ col(tsCol): _*)
      keyed
        .dropDuplicatesWithinWatermark(
          keyed.columns.filterNot(_ == tsCol).toSeq)
        .drop(tsCol)
    }
  }

  /** Continuous SPARQL AGGREGATION over a live triple stream: a
    * `GROUP BY` + aggregate query compiles onto a watermarked tumbling
    * window — the IVM ask `executeStream` rejects, expressed as
    * Structured Streaming's append-mode windowed aggregation. The stream
    * must carry an event-time column (`tsCol`); each BGP solution
    * inherits ITS arriving edge's timestamp through the per-pattern
    * delta (`Bgp.compileStream(carry)`), the watermark bounds state, and
    * a window's groups emit exactly once, finalized, when the watermark
    * passes its end.
    *
    * Output: `window_start`, `window_end` (formatted), the GROUP BY
    * vars, the aggregate aliases. The same BGP+FILTER subset as
    * `executeStream`; DISTINCT/ORDER/LIMIT still belong on the sink.
    * HAVING filters the finalized groups. `slide` switches to sliding
    * windows (a solution lands in len/slide of them); `sessionGap` to
    * per-key session windows (activity bursts merged until a gap).
    */
  def executeStreamWindowed(spark: SparkSession, streamTriples: DataFrame,
                            staticTriples: DataFrame, queryText: String,
                            windowLen: String, watermark: String,
                            tsCol: String = "ts",
                            stats: Map[String, PredStats] = Map.empty,
                            slide: Option[String] = None,
                            sessionGap: Option[String] = None): DataFrame = {
    require(slide.isEmpty || sessionGap.isEmpty,
      "pick sliding OR session windows, not both")
    val q = {
      val q0 = parse(queryText)
      q0.copy(group = flattenPlainSubgroups(q0.group))
    }
    require(q.group.subgroups.isEmpty && q.group.graphs.isEmpty &&
      !q.distinct && q.orderBy.isEmpty &&
      q.limit.isEmpty && q.postValues.isEmpty,
      "executeStreamWindowed supports the append-mode " +
        "BGP+FILTER+BIND+UNION+VALUES+SERVICE+static-OPTIONAL/MINUS/" +
        "path/subquery/EXISTS aggregate subset")
    // the same enrichment shapes as executeStream — UNION delta arms,
    // static-side OPTIONAL/MINUS/paths/subqueries/EXISTS/VALUES — feed
    // the windowed aggregation (each solution keeps its arriving edge's
    // event time through the arm's carry column)
    requireStreamGroupShapes(q)
    val aggs = q.projection.collect { case a: PAgg => a }
    require(aggs.nonEmpty, "no aggregates — use executeStream")
    // Structured Streaming rejects distinct aggregates on streaming
    // aggregations at runtime; fail here with the module's own error
    // instead of surfacing an engine AnalysisException mid-stream.
    aggs.find(_.distinct).foreach { a =>
      throw new IllegalArgumentException(
        s"${a.fn}(DISTINCT) is not supported on streaming aggregations — " +
          "use the batch path or dedup at the sink")
    }
    val df = streamSolutionRel(spark,
      streamTriples.withWatermark(tsCol, watermark), staticTriples, q,
      stats, carry = Seq(tsCol))
    // HAVING: lift its aggregate calls into extra (shadow) agg columns,
    // filter the finalized groups, drop the shadows. Append mode is fine
    // with a post-aggregation filter — windows emit once, already final.
    val havingAggs = scala.collection.mutable.Buffer.empty[(ECall, String)]
    val having = q.having.map(extractAggsB(_, havingAggs))
    val aggCols = aggs.map { a =>
      (a.fn match {
        case "COUNT" => count(a.arg.map(col).getOrElse(lit(1)))
        case "SUM" => sum(col(a.arg.get).cast("double"))
        case "MIN" => min(col(a.arg.get))
        case "MAX" => max(col(a.arg.get))
        case "AVG" => avg(col(a.arg.get).cast("double"))
        case "SAMPLE" => min(col(a.arg.get))
        case other => throw new IllegalArgumentException(
          s"aggregate $other() not supported in streaming mode")
      }).as(a.alias)
    } ++ havingAggs.map { case (c, alias) => compileAggCall(c).as(alias) }
    // tumbling by default; `slide` overlaps windows (each solution lands
    // in len/slide of them); `sessionGap` merges activity bursts per
    // group key instead of fixed boundaries
    val win = sessionGap match {
      case Some(gap) => session_window(col(tsCol), gap)
      case None => slide.fold(window(col(tsCol), windowLen))(s =>
        window(col(tsCol), windowLen, s))
    }
    val keys = win.as("w") +: q.groupBy.map(col)
    var out = df.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
    having.foreach(h => out = out.where(compileExpr(h)))
    out.select(Seq(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("window_end")) ++
        q.groupBy.map(col) ++ aggs.map(a => col(a.alias)): _*)
  }

  /** Rewrite aggregate calls inside projection expressions / HAVING to
    * references of internally-aliased aggregate columns (SPARQL 1.1
    * projection expressions over aggregates, e.g.
    * `(SUM(?x)/COUNT(?y) AS ?avg)` or `HAVING (COUNT(?x) > 5)`).
    */
  private def extractAggs(e: EExpr,
                          acc: scala.collection.mutable.Buffer[(ECall, String)]): EExpr =
    e match {
      case c @ ECall(fn, _) if aggFns.contains(fn) =>
        val alias = s"__agg${acc.size}"
        acc += (c -> alias)
        EVar(alias)
      case EBin(l, op, r) => EBin(extractAggs(l, acc), op, extractAggs(r, acc))
      case ECall(fn, args) => ECall(fn, args.map(extractAggs(_, acc)))
      case EIf(c, t, f) =>
        EIf(extractAggsB(c, acc), extractAggs(t, acc), extractAggs(f, acc))
      case other => other
    }

  private def extractAggsB(e: Expr,
                           acc: scala.collection.mutable.Buffer[(ECall, String)]): Expr =
    e match {
      case Cmp(l, op, r) => Cmp(extractAggs(l, acc), op, extractAggs(r, acc))
      case And(l, r) => And(extractAggsB(l, acc), extractAggsB(r, acc))
      case Or(l, r) => Or(extractAggsB(l, acc), extractAggsB(r, acc))
      case Not(x) => Not(extractAggsB(x, acc))
      case BFn(fn, args) => BFn(fn, args.map(extractAggs(_, acc)))
      // EXISTS in HAVING/projection reaches compileExprWith, which raises
      // the module's clear unsupported-position error
      case other => other
    }

  /** SUM(DISTINCT ?x) in the SPARQL §18.5.1 domain: Distinct removes
    * duplicate RDF TERMS, then Sum adds their numeric values — so
    * distinct lexical forms of one number ("1", "01") contribute
    * separately, the SAME domain COUNT(DISTINCT) dedups. collect_set
    * carries the per-group distinct term set (the exposure GROUP_CONCAT
    * already accepts; grouped-aggregate cardinality, not the relation);
    * non-numeric terms add 0, the engine's ignore-non-numerics cast
    * convention for SUM.
    */
  private def sumDistinctTerms(term: Column): Column =
    aggregate(collect_set(term), lit(0.0),
      (acc, x) => acc + coalesce(x.cast("double"), lit(0.0)))

  /** An aggregate call appearing inside an expression -> Column. `*`
    * parses as the variable "*" (COUNT(*) only).
    */
  private def compileAggCall(c: ECall, resolve: String => Column = col(_)): Column =
    c.fn match {
      case "COUNT" if c.args.isEmpty || c.args == Seq(EVar("*")) => count(lit(1))
      case "COUNT" => count(compileVal(c.args.head, resolve))
      case "SUM" => sum(compileNum(c.args.head, resolve))
      case "AVG" => avg(compileNum(c.args.head, resolve))
      case "MIN" => min(compileVal(c.args.head, resolve))
      case "MAX" => max(compileVal(c.args.head, resolve))
      case "SAMPLE" => min(compileVal(c.args.head, resolve))
      case "GROUP_CONCAT" =>
        concat_ws(" ", array_sort(collect_list(compileVal(c.args.head, resolve))))
      case other => throw new IllegalArgumentException(s"unsupported aggregate $other")
    }

  private def compileQuery(env: Env, qRaw: Query, top: Boolean = false): DataFrame = {
    // lift aggregate calls out of projection expressions and HAVING
    val exprAggs = scala.collection.mutable.Buffer.empty[(ECall, String)]
    val q = qRaw.copy(
      projection = qRaw.projection.map {
        case PExpr(e, alias) => PExpr(extractAggs(e, exprAggs), alias)
        case other => other
      },
      orderBy = qRaw.orderBy.map {
        case (OExpr(e), asc) => (OExpr(extractAggs(e, exprAggs)), asc)
        case other => other
      },
      having = qRaw.having.map(extractAggsB(_, exprAggs)))
    var df = compileGroup(env, q.group)
    val aggs = q.projection.collect { case a: PAgg => a }
    // Sort keys materialize BEFORE projection (ARQ's OrderBy-then-Project
    // algebra position: keys may use non-projected vars and arbitrary
    // expressions) as __sk shadow columns carried through projection and
    // sorted LAST — after the final decode, whose joins would not
    // preserve a pre-existing sort. Under DISTINCT the spec restricts
    // keys to projected vars, so that path sorts post-distinct directly.
    // Sort keys that are all PROJECTED variables survive projection with
    // their values intact, so they sort directly on the (decoded) output
    // columns — same machinery as the DISTINCT path. That skips the __sk
    // shadow decode (a |result| ⋈ |dict| join per key) that general keys
    // (expressions / non-projected vars) still need.
    val projectedVars: Set[String] = q.projection.collect {
      case PVar(v) => v
      case a: PAgg => a.alias
      case PExpr(_, alias) => alias
    }.toSet
    val simpleKeys = q.orderBy.nonEmpty &&
      q.orderBy.forall { case (OVar(v), _) => projectedVars(v); case _ => false }
    val shadowSort = q.orderBy.nonEmpty && !q.distinct && !simpleKeys
    def withSortKeys(d: DataFrame): DataFrame =
      if (!shadowSort) d
      else {
        val needed = q.orderBy.flatMap {
          case (OVar(v), _) => Seq(v)
          case (OExpr(e), _) => valVars(e).toSeq
        }.toSet
        val (dd, res, shadows) = withDecoded(env, d, needed)
        q.orderBy.zipWithIndex.foldLeft(dd) {
          case (acc, ((k, _), i)) =>
            val c = k match {
              case OVar(v) => res(v)
              case OExpr(e) => compileVal(e, res)
            }
            acc.withColumn(s"__sk$i", c)
        }.drop(shadows: _*)
      }
    // projection-expression inputs (and, below, aggregate arguments) are
    // term VALUES -> decode their vars first in encoded mode
    def projected(d: DataFrame): DataFrame = {
      val pvars = q.projection.collect { case PExpr(e, _) => valVars(e) }.flatten.toSet
      val (dp, res, _) = withDecoded(env, d, pvars)
      val keep = d.columns.filter(_.startsWith("__sk")).toSeq
      dp.select(q.projection.map {
        case PVar(v) => col(v)
        case a: PAgg => col(a.alias)
        case PExpr(e, alias) => compileVal(e, res).as(alias)
      } ++ keep.map(col): _*)
    }
    if (aggs.nonEmpty || exprAggs.nonEmpty) {
      // SPARQL aggregates: COUNT counts bound (non-null) solutions;
      // SUM/AVG apply the numeric cast (terms are stored as strings).
      // GROUP_CONCAT sorts its inputs and SAMPLE takes MIN — both
      // conformant (SPARQL leaves them undefined) and deterministic.
      val argVars: Set[String] = (aggs.flatMap(_.arg) ++
        exprAggs.flatMap { case (c, _) => c.args.flatMap(valVars) }).toSet - "*"
      val (dfD, res, _) = withDecoded(env, df, argVars)
      val aggCols = aggs.map { a =>
        (a.fn match {
          case "COUNT" if a.distinct => countDistinct(res(a.arg.get))
          case "COUNT" => count(a.arg.map(res).getOrElse(lit(1)))
          case "SUM" if a.distinct => sumDistinctTerms(res(a.arg.get))
          case "SUM" => sum(res(a.arg.get).cast("double"))
          case "MIN" => min(res(a.arg.get))
          case "MAX" => max(res(a.arg.get))
          case "AVG" if a.distinct =>
            // avg over the distinct TERM set (no avg_distinct builtin):
            // ONE dedup domain — the RDF term — shared by COUNT, SUM and
            // AVG per SPARQL §18.5.1 Distinct (it removes duplicate
            // TERMS, so "1" and "01" are two members summing to 2, not
            // one). The denominator counts the same distinct-numeric-term
            // set the sum ranges over, keeping the engine's
            // ignore-non-numeric cast convention consistent across legs.
            sumDistinctTerms(res(a.arg.get)) /
              countDistinct(when(res(a.arg.get).cast("double").isNotNull,
                res(a.arg.get)))
          case "AVG" => avg(res(a.arg.get).cast("double"))
          case "GROUP_CONCAT" =>
            val items =
              if (a.distinct) collect_set(res(a.arg.get))
              else collect_list(res(a.arg.get))
            concat_ws(a.sep, array_sort(items))
          case "SAMPLE" => min(res(a.arg.get))
        }).as(a.alias)
      } ++ exprAggs.map { case (c, alias) => compileAggCall(c, res).as(alias) }
      df = if (q.groupBy.nonEmpty)
        dfD.groupBy(q.groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      else dfD.agg(aggCols.head, aggCols.tail: _*)
      q.having.foreach(h => df = applyFilter(env, df, h))
      // trailing ValuesClause joins AFTER aggregation (§18.2.4.4 comes
      // after §18.2.4.2/3), before projection and modifiers
      q.postValues.foreach { case (vs, rows) =>
        df = joinInlineData(env, df, vs, rows) }
      df = withSortKeys(df)
      df = projected(df)
    } else {
      q.postValues.foreach { case (vs, rows) =>
        df = joinInlineData(env, df, vs, rows) }
      df = withSortKeys(df)
      df =
        if (q.projection.isEmpty)
          // recompute the star list AFTER the postValues join — a trailing
          // VALUES may introduce variables not bound in the WHERE group
          df.select((df.columns.toSeq.filterNot(_.startsWith("__")) ++
            df.columns.filter(_.startsWith("__sk"))).map(col): _*)
        else projected(df)
    }
    // distinct on ids ≡ distinct on terms (the dictionary is a bijection),
    // so it runs BEFORE decode on fixed-width longs
    if (q.distinct) df = df.distinct()
    val encTop = top && env.enc.isDefined
    if (q.orderBy.nonEmpty && shadowSort) {
      // sort on the pre-projection __sk keys, AFTER the final decode
      // (decode joins would scramble an earlier sort)
      if (encTop) df = onePartitionIfLocal(decodeFinal(env, df))
      df = df.orderBy(q.orderBy.zipWithIndex.map { case ((_, asc), i) =>
        if (asc) col(s"__sk$i").asc else col(s"__sk$i").desc }: _*)
      q.offset.foreach(n => df = df.offset(n))
      q.limit.foreach(n => df = df.limit(n))
      df = df.drop(df.columns.filter(_.startsWith("__sk")).toSeq: _*)
    } else if (q.orderBy.nonEmpty) {
      // DISTINCT path: the spec restricts keys to projected variables
      val keys = q.orderBy.map {
        case (OVar(v), asc) => (v, asc)
        case (OExpr(_), _) => throw new IllegalArgumentException(
          "ORDER BY expressions are not allowed with SELECT DISTINCT " +
            "(SPARQL 1.1 §15.1: DISTINCT order conditions must be " +
            "projected variables); alias the expression in SELECT instead")
      }
      // ORDER BY compares term strings -> decode first. At the top that IS
      // the final decode; in a subquery, sort via dropped shadow columns.
      val (d, res, shadows) =
        if (encTop) (onePartitionIfLocal(decodeFinal(env, df)),
          (v: String) => col(v), Seq.empty[String])
        else withDecoded(env, df, keys.map(_._1).toSet)
      df = d.orderBy(keys.map { case (v, asc) =>
        if (asc) res(v).asc else res(v).desc }: _*).drop(shadows: _*)
      q.offset.foreach(n => df = df.offset(n))
      q.limit.foreach(n => df = df.limit(n))
    } else {
      // no order semantics to preserve -> limit on longs, decode after
      q.offset.foreach(n => df = df.offset(n))
      q.limit.foreach(n => df = df.limit(n))
      if (encTop) df = decodeFinal(env, df)
    }
    df
  }

  /** Hoist PLAIN nested groups — only triple patterns plus filters whose
    * vars all come from those patterns — into their parent:
    * `Join(A, {B, f})` ≡ `Join(A, B) filter f` when f's scope is B's
    * own vars. Used by the streaming compiler so nested plain groups'
    * triples participate in the full per-pattern delta. Non-plain
    * subgroups stay put (and streaming rejects them).
    */
  private def flattenPlainSubgroups(g: Group): Group = {
    val flat = g.subgroups.map(flattenPlainSubgroups)
    val (plain, rest) = flat.partition { sg =>
      val tvars = sg.triples.flatMap(_.vars).toSet
      sg.triples.nonEmpty &&
      sg.optionals.isEmpty && sg.unions.isEmpty && sg.minuses.isEmpty &&
      sg.values.isEmpty && sg.paths.isEmpty && sg.binds.isEmpty &&
      sg.subqueries.isEmpty && sg.subgroups.isEmpty &&
      sg.existsFilters.isEmpty && sg.valuesMulti.isEmpty &&
      sg.graphs.isEmpty && sg.services.isEmpty &&
      sg.filters.forall(f => exprVars(f).subsetOf(tvars))
    }
    g.copy(triples = g.triples ++ plain.flatMap(_.triples),
      filters = g.filters ++ plain.flatMap(_.filters),
      subgroups = rest)
  }

  /** Compile one property-path pattern to its solution relation over
    * `env` (columns = the pattern's variable endpoints; a 1-row `__c`
    * existence probe when both endpoints are constants). A constant
    * endpoint seeds the evaluation — frontier expansion, cost
    * proportional to the reachable set, not the global path relation.
    * Shared by the batch group compiler (joined in like a pattern scan)
    * and the streaming path (where it reads the bounded STATIC store, so
    * the join is append-safe).
    */
  private def pathScan(env: Env, sTerm: Term, path: Path,
                       oTerm: Term): DataFrame = {
    val spark = env.spark
    val extra: Seq[Any] = Seq(sTerm, oTerm).collect { case C(v) => env.cval(v) }
    def seedDf(v: Any): DataFrame =
      spark.range(1).select(lit(env.cval(v)).as("n"))
    var scan = (sTerm, oTerm) match {
      case (C(v), _) => pathRelSeeded(env, path, extra, seedDf(v))
      case (_, C(v)) =>
        // bound object: evaluate the structurally reversed path from o,
        // then swap back
        pathRelSeeded(env, invertPath(path), extra, seedDf(v))
          .select(col("o").as("s"), col("s").as("o"))
      case _ => pathRel(env, path, extra)
    }
    sTerm match { case C(v) => scan = scan.where(col("s") === lit(env.cval(v))); case _ => }
    oTerm match { case C(v) => scan = scan.where(col("o") === lit(env.cval(v))); case _ => }
    if (sTerm.isInstanceOf[V] && sTerm == oTerm)
      scan = scan.where(col("s") === col("o"))
    val proj = Seq(sTerm -> "s", oTerm -> "o")
      .collect { case (V(n), c) => n -> c }.distinct
    if (proj.isEmpty) scan.limit(1).select(lit(1).as("__c"))
    else demoteToTerms(env,
      scan.select(proj.map { case (n, c) => col(c).as(n) }: _*))
  }

  private def compileGroup(env: Env, g: Group): DataFrame = {
    val spark = env.spark
    var df: DataFrame =
      if (g.triples.nonEmpty)
        demoteToTerms(env, Bgp.compile(spark, env.triples,
          g.triples.map(env.encTp), env.stats, env.totalCnt))
      else null
    def joinIn(other: DataFrame): Unit = {
      df =
        if (df == null) other
        else {
          val shared = df.columns.intersect(other.columns).toSeq
          if (shared.isEmpty) df.crossJoin(other) else df.join(other, shared, "inner")
        }
    }
    // nested plain groups and subqueries join on shared variables
    g.subgroups.foreach(sg => joinIn(compileGroup(env, sg)))
    g.subqueries.foreach(sq => joinIn(compileQuery(env, sq)))
    // SERVICE blocks evaluate the inner group (full algebra, recursive)
    // against the REGISTERED endpoint relation, then join on shared vars
    // — federation over co-resident datasets is just another join, with
    // no per-solution endpoint round-trips (the bound-join pathology of
    // HTTP federation). Endpoint dictionaries are independent of the
    // store's, so the block ALWAYS compiles on the string path; under an
    // ENCODED env the bridge is the plainVars discipline — every
    // SERVICE-bound var is registered value-typed (`serviceBoundVars`),
    // so co-occurring pattern vars demote to term strings and the
    // federated join compares one consistent domain.
    g.services.foreach { case (iri, inner, silent) =>
      // SILENT on an unreachable endpoint: the unit solution —
      // join-identity, outer solutions pass through unchanged
      serviceSolutions(env.spark, iri, silent,
        remote => compileGroup(datasetEnv(env.spark, Dataset.Triples(remote)), inner))
        .foreach(joinIn)
    }
    // GRAPH blocks match the NAMED part of the quad dataset
    g.graphs.foreach { case (gterm, inner) =>
      joinIn(compileGraphBlock(env, gterm, inner))
    }
    g.unions.foreach { case (l, r) =>
      joinIn(compileGroup(env, l)
        .unionByName(compileGroup(env, r), allowMissingColumns = true))
    }
    g.optionals.foreach { opt =>
      require(df != null, "OPTIONAL without a preceding pattern group")
      // SPARQL FILTER scope: a filter inside OPTIONAL that references
      // variables bound only OUTSIDE the optional group is part of the
      // LEFT JOIN CONDITION (failing it nulls the optional bindings, it
      // does not eliminate the outer solution). Compile the inner group
      // without such filters first to learn its columns, then partition.
      val probe = compileGroup(env, opt.copy(filters = Seq.empty))
      val innerCols = probe.columns.toSet
      val (localFs, joinFs) = opt.filters.partition(f => exprVars(f).subsetOf(innerCols))
      val o = localFs.foldLeft(probe)((d, f) => applyFilter(env, d, f))
      val shared = df.columns.intersect(o.columns).toSeq
      if (joinFs.isEmpty) {
        df = if (shared.isEmpty) df.crossJoin(o) else df.join(o, shared, "left")
      } else {
        val outerCols = df.columns.toSet
        joinFs.foreach { f =>
          val unknown = exprVars(f) -- innerCols -- outerCols
          require(unknown.isEmpty, s"FILTER references unbound vars $unknown")
        }
        // encoded mode: the join condition inspects term values, so each
        // side decodes ITS filter vars into shadows before the join
        val fvars = joinFs.flatMap(exprVars).toSet
        val (dl, _, shL) = withDecoded(env, df, fvars.filterNot(innerCols))
        val (dr, _, shR) = withDecoded(env, o, fvars.filter(innerCols))
        val l = dl.as("__l")
        val r = dr.as("__r")
        // qualify filter vars: inner-bound -> right side, else left side
        def side(v: String): Column =
          if (innerCols.contains(v)) {
            if (shR.contains(s"__str_$v")) col(s"__r.__str_$v") else col(s"__r.$v")
          } else {
            if (shL.contains(s"__str_$v")) col(s"__l.__str_$v") else col(s"__l.$v")
          }
        val cond = (shared.map(c => col(s"__l.$c") === col(s"__r.$c")) ++
          joinFs.map(f => compileExprWith(f, side))).reduce(_ && _)
        // projecting only the pre-decoration columns drops the shadows
        val proj = df.columns.map(c => col(s"__l.$c").as(c)) ++
          o.columns.filterNot(outerCols).map(c => col(s"__r.$c").as(c))
        df = l.join(r, cond, "left").select(proj.toSeq: _*)
      }
    }
    // property paths beyond plain edge sequences: compile the path algebra
    // to an (s, o) relation, then join it in like a pattern scan. A
    // CONSTANT endpoint seeds the evaluation (frontier expansion, cost
    // proportional to the reachable set) instead of materializing the
    // path's global relation and filtering afterwards — the difference
    // between O(reach) and O(V·avg-reach) for `<c> p+ ?x` at scale.
    g.paths.foreach { case (sTerm, path, oTerm) =>
      joinIn(pathScan(env, sTerm, path, oTerm))
    }
    // MINUS: remove solutions matching the inner group on shared vars
    g.minuses.foreach { m =>
      val neg = compileGroup(env, m)
      require(df != null, "MINUS without a preceding pattern group")
      val shared = df.columns.intersect(neg.columns).toSeq
      // SPARQL MINUS with no shared vars removes nothing
      if (shared.nonEmpty) df = df.join(neg, shared, "left_anti")
    }
    // VALUES: inline binding relation joined in (constrains or extends);
    // entries are pattern-position constants -> encoded to ids
    g.values.foreach { case (v, vals) =>
      import spark.implicits._
      val vdf = demoteToTerms(env, env.enc match {
        case Some(_) => vals.map(x => env.cval(x).asInstanceOf[Long]).toDF(v)
        case None => vals.toDF(v)
      })
      // a group may be ONLY a VALUES block (§10.2): the inline relation
      // seeds the solutions
      df = if (df == null) vdf
      else if (df.columns.contains(v)) df.join(vdf, Seq(v), "inner")
      else df.crossJoin(vdf)
    }
    // multi-variable VALUES: inline relation joined on the shared subset.
    // UNDEF cells (null) are unbound: the row is compatible with ANY
    // solution value there (SPARQL 1.1 §10.2.2) — those relations use a
    // per-row compatibility join (null-is-wildcard condition on a
    // broadcast of the tiny inline table, merged with coalesce); all-bound
    // relations keep the plain equi-join.
    g.valuesMulti.foreach { case (vars, rows) =>
      df = if (df == null) inlineRelation(env, vars, rows)
      else joinInlineData(env, df, vars, rows)
    }
    require(df != null, "empty group pattern")
    // BIND: computed columns, visible to subsequent filters/projection
    g.binds.foreach { case (e, v) => df = applyBind(env, df, e, v) }
    g.filters.foreach(f => df = applyFilter(env, df, f))
    // FILTER [NOT] EXISTS: semi/anti join on shared vars; with no shared
    // vars the inner group's (non)emptiness decides for every row
    g.existsFilters.foreach { case (inner, negated) =>
      val in = compileGroup(env, inner)
      val shared = df.columns.intersect(in.columns).toSeq
      df =
        if (shared.nonEmpty) df.join(in, shared, if (negated) "left_anti" else "left_semi")
        else {
          val marker = broadcast(in.limit(1).select(lit(1).as("__e")))
          if (negated) df.join(marker, lit(true), "left_anti")
          else df.crossJoin(marker).drop("__e")
        }
    }
    df
  }

  /** One quad-pattern scan: constants filter, variables project (repeat
    * occurrences become equality filters), and the graph column rides
    * along under `gcol` so the chained joins keep every pattern of the
    * block inside ONE graph — SPARQL §13.3 GRAPH semantics fall out of
    * the shared-column equi-join like every other variable.
    */
  private def quadScan(base: DataFrame, tp: TriplePattern,
                       gcol: String): DataFrame = {
    val posCols = Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o)
    var d = base
    posCols.foreach {
      case (c, C(v)) => d = d.where(col(c) === v)
      case _ => ()
    }
    var seen = Map.empty[String, String]
    var sel = Seq(col("g").as(gcol))
    posCols.foreach {
      case (c, V(v)) =>
        if (seen.contains(v)) d = d.where(col(c) === col(seen(v)))
        else { seen += v -> c; sel :+= col(c).as(v) }
      case _ => ()
    }
    d.select(sel: _*)
  }

  /** Compile a `GRAPH ?g|<iri> { .. }` block over the named part of the
    * quad dataset (§13.3: evaluate the pattern with the active graph set
    * to the named graph).
    *
    * CONSTANT target: the named slice becomes the active default graph
    * and the inner group recurses through the FULL algebra compiler —
    * OPTIONAL, UNION, MINUS, property paths, subqueries, EXISTS, VALUES
    * and nested GRAPH blocks all work, because nothing about them is
    * graph-specific once the scan relation is the slice.
    *
    * VARIABLE target: each pattern scans the named quads with the graph
    * column CARRIED as the bound variable, so the equi-joins confine a
    * block's matches to one graph without enumerating graphs (the scan
    * relation never depends on the graph count — the scale property).
    * The carried column composes through UNION (per-branch recursion),
    * OPTIONAL / MINUS / FILTER [NOT] EXISTS (left/anti/semi joins whose
    * shared columns include the graph var) and plain subgroups; paths
    * and subqueries under a variable graph would need per-graph closure
    * state and stay rejected with a clear error.
    *
    * Serves both quad datasets: on encoded quads the graph column and
    * every constant are ids (`cval`).
    */
  private def compileGraphBlock(env: Env, gterm: Term,
                                inner: Group): DataFrame = {
    val quads = env.quads.getOrElse(throw new IllegalArgumentException(
      "GRAPH requires a quad dataset — use Sparql.Dataset.Quads or " +
        "Sparql.Dataset.QuadsEncoded"))
    gterm match {
      case C(v) =>
        val slice = quads.where(col("g") === lit(env.cval(v)))
          .select("s", "p", "o")
        // dataset-wide per-predicate stats apply to a graph slice
        // (soundly: a predicate absent from the DATASET is absent from
        // every graph, so Bgp's zero-cardinality fail-fast stays valid;
        // within-slice ordering is an over-estimate, still far better
        // than query order)
        compileGroup(env.copy(triples = slice), inner)
      case V(gv) =>
        // the FULL algebra is supported under a variable target — the
        // restrictions of earlier rounds (paths, subqueries, nested
        // GRAPH) are all compiled through the carried graph column now.
        // Pattern JOIN ORDER is stats-greedy like the triple-side BGP
        // (fewest estimated rows first, preferring shared-variable
        // connectivity) — the ordering runs on the ENCODED patterns, so
        // the stats keys line up on both store paths.
        var df: DataFrame =
          if (inner.triples.isEmpty) null
          else Bgp.order(inner.triples.map(env.encTp), env.stats, env.totalCnt)
            .map { tp =>
              // encoded mode: vars that are ALSO value-typed somewhere
              // (SERVICE-bound, BIND targets, aliases) demote to term
              // strings RIGHT AT THE SOURCE — the same contaminated-var
              // discipline as every other pattern-machinery scan, so
              // joins across the block boundary compare one domain
              val sc = demoteToTerms(env, quadScan(quads, tp, gv))
              // stats-driven broadcast hint, same threshold as Bgp: a
              // small pattern scan joins the block without a shuffle
              if (env.stats.nonEmpty &&
                Bgp.estimate(tp, env.stats, env.totalCnt) <= 250000.0)
                broadcast(sc)
              else sc
            }
            .reduce { (l, r) =>
            val shared = l.columns.intersect(r.columns).toSeq // >= the graph col
            l.join(r, shared, "inner")
          }
        def joinIn(other: DataFrame): Unit = df =
          if (df == null) other
          else df.join(other, df.columns.intersect(other.columns).toSeq, "inner")
        inner.subgroups.foreach(sg => joinIn(compileGraphBlock(env, gterm, sg)))
        // a SUBQUERY under GRAPH ?g evaluates per active graph (§13.3):
        // rewrite it as a regular subquery whose group is this GRAPH
        // block, with the graph var projected and added to any GROUP BY
        // — aggregation, HAVING, and DISTINCT then run per graph through
        // the ONE standard query compiler, no duplicated algebra.
        inner.subqueries.foreach { sq =>
          def hasAgg(e: EExpr): Boolean = e match {
            case ECall(fn, args) => aggFns.contains(fn) || args.exists(hasAgg)
            case EBin(l, _, r) => hasAgg(l) || hasAgg(r)
            case EIf(_, t, f) => hasAgg(t) || hasAgg(f)
            case _ => false
          }
          val aggregating = sq.groupBy.nonEmpty || sq.projection.exists {
            case _: PAgg => true
            case PExpr(e, _) => hasAgg(e)
            case _ => false
          }
          val wrapped = sq.copy(
            group = Group(Seq.empty, Seq.empty, Seq.empty, Seq.empty,
              graphs = Seq((V(gv), sq.group))),
            projection =
              if (sq.projection.isEmpty ||
                sq.projection.exists { case PVar(`gv`) => true; case _ => false })
                sq.projection
              else sq.projection :+ PVar(gv),
            groupBy =
              if (aggregating && !sq.groupBy.contains(gv)) sq.groupBy :+ gv
              else sq.groupBy)
          if (sq.limit.isEmpty && sq.offset.isEmpty)
            joinIn(compileQuery(env, wrapped))
          else {
            // LIMIT/OFFSET under GRAPH ?g slice PER ACTIVE GRAPH (§13.3:
            // the subquery evaluates once per graph): a `row_number`
            // window partitioned by the graph var, ordered by the
            // subquery's keys on decoded TERM strings — ONE shuffle on
            // the graph column, no per-graph enumeration, no global
            // sort. A keyless LIMIT orders by all projected columns for
            // a deterministic slice (SPARQL leaves the choice open).
            val keys: Seq[(String, Boolean)] = sq.orderBy.map {
              case (OVar(v), asc) => (v, asc)
              case (OExpr(_), _) => throw new IllegalArgumentException(
                "ORDER BY expressions with LIMIT under a variable GRAPH " +
                  "target are not supported — alias the expression in " +
                  "the subquery's SELECT and order by the alias")
            }
            val base = compileQuery(env,
              wrapped.copy(orderBy = Seq.empty, limit = None, offset = None))
            val effKeys =
              if (keys.nonEmpty) keys
              else base.columns.filterNot(_ == gv).sorted.map((_, true)).toSeq
            val (d, res, shadows) =
              withDecoded(env, base, effKeys.map(_._1).toSet)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(gv))
              .orderBy(effKeys.map { case (v, asc) =>
                if (asc) res(v).asc else res(v).desc }: _*)
            val lo = sq.offset.getOrElse(0)
            val hi = sq.limit.map(l => lo.toLong + l)
            val ranked = d.withColumn("__pgrn", row_number().over(w))
              .where(col("__pgrn") > lo &&
                hi.map(col("__pgrn") <= _).getOrElse(lit(true)))
              .drop("__pgrn").drop(shadows: _*)
            joinIn(ranked)
          }
        }
        // nested GRAPH re-scopes to ITS target over the dataset's named
        // graphs, independent of the enclosing active graph (§13.3) —
        // plain recursion, joined on shared vars
        inner.graphs.foreach { case (igt, ig) =>
          joinIn(compileGraphBlock(env, igt, ig))
        }
        // SERVICE evaluates against its ENDPOINT regardless of the
        // active graph — same join-in as at group level
        inner.services.foreach { case (iri, ig, silent) =>
          serviceSolutions(env.spark, iri, silent,
            remote => compileGroup(datasetEnv(env.spark, Dataset.Triples(remote)), ig))
            .foreach(joinIn)
        }
        inner.unions.foreach { case (l, r) =>
          joinIn(compileGraphBlock(env, gterm, l)
            .unionByName(compileGraphBlock(env, gterm, r),
              allowMissingColumns = true))
        }
        inner.values.foreach { case (v, vals) =>
          import env.spark.implicits._
          val vdf = demoteToTerms(env, env.enc match {
            case Some(_) => vals.map(x => env.cval(x).asInstanceOf[Long]).toDF(v)
            case None => vals.toDF(v)
          })
          df = if (df == null) vdf
          else if (df.columns.contains(v)) df.join(vdf, Seq(v), "inner")
          else df.crossJoin(vdf)
        }
        inner.valuesMulti.foreach { case (vars, rows) =>
          df = if (df == null) inlineRelation(env, vars, rows)
          else joinInlineData(env, df, vars, rows)
        }
        // property paths carry the graph column like any other scan:
        // sequences join on (mid, g), alternation unions, inverse swaps,
        // and closures run ONE all-graphs doubling fixpoint with g in
        // the join key — the path stays confined to ONE graph and no
        // plan ever enumerates graphs.
        inner.paths.foreach { case (sT, pth, oT) =>
          // a closure with a BOUND endpoint expands a per-graph frontier
          // from the constant — cost proportional to the reachable set
          // in each graph, never the global closure (the quad analog of
          // pathRelSeeded's discipline); zero-length adds (c, c, g) for
          // every graph that mentions c (§9.3), as self-loop edges at c
          // (they reach nothing new)
          def closureFrom(step: DataFrame, c: Any, zero: Boolean): DataFrame =
            GraphOps.reachableFrom(
              if (zero) step.unionAll(quadIdentityRel(quads).where(col("s") === lit(c)))
              else step,
              env.spark.range(1).select(lit(c).as("n")), Seq("g"))
          def swap(df: DataFrame) = df.select(col("o").as("s"), col("s").as("o"), col("g"))
          var rel = (sT, oT, pth) match {
            case (C(v), _, PClosure(x, z)) =>
              closureFrom(quadPathRel(env, quads, x), env.cval(v), z)
            case (_, C(v), PClosure(x, z)) =>
              swap(closureFrom(swap(quadPathRel(env, quads, x)), env.cval(v), z))
            case _ => quadPathRel(env, quads, pth)
          }
          sT match { case C(v) => rel = rel.where(col("s") === lit(env.cval(v))); case _ => }
          oT match { case C(v) => rel = rel.where(col("o") === lit(env.cval(v))); case _ => }
          if (sT.isInstanceOf[V] && sT == oT)
            rel = rel.where(col("s") === col("o"))
          var sel = Seq(col("g").as(gv))
          var seen = Map.empty[String, String]
          Seq("s" -> sT, "o" -> oT).foreach {
            case (c, V(n)) if !seen.contains(n) =>
              seen += n -> c; sel :+= col(c).as(n)
            case _ => ()
          }
          // contaminated endpoint vars demote at the source (see the
          // pattern scans above)
          joinIn(demoteToTerms(env, rel.select(sel: _*)))
        }
        require(df != null, "empty GRAPH block")
        inner.optionals.foreach { opt =>
          val o = compileGraphBlock(env, gterm, opt)
          df = df.join(o, df.columns.intersect(o.columns).toSeq, "left")
        }
        inner.minuses.foreach { m =>
          val o = compileGraphBlock(env, gterm, m)
          val shared = df.columns.intersect(o.columns).toSeq
          if (shared.nonEmpty) df = df.join(o, shared, "left_anti")
        }
        inner.existsFilters.foreach { case (grp, negated) =>
          val o = compileGraphBlock(env, gterm, grp)
          val shared = df.columns.intersect(o.columns).toSeq
          df = df.join(o, shared, if (negated) "left_anti" else "left_semi")
        }
        inner.binds.foreach { case (e, v) => df = applyBind(env, df, e, v) }
        inner.filters.foreach(f => df = applyFilter(env, df, f))
        df
    }
  }

  // ---- SPARQL 1.1 Update: the AST and parser every entry point shares,
  // ---- and the quad executor behind updateQuads/updateQuadsEnc (§3.1
  // ---- data and modify ops + the full §3.2 graph-management set; the
  // ---- single-graph store path reads the same AST, see `update`) ----

  private sealed trait QTarget
  private case object QDefault extends QTarget
  private final case class QNamed(iri: String) extends QTarget
  private case object QAllNamed extends QTarget
  private case object QAll extends QTarget

  /** One parsed Update operation. Graph positions are None for the
    * default graph; `silent` is the op's SILENT flag (§3.2: a failing op
    * has no effect), which only the single-graph store path can need.
    */
  private sealed trait QuadOp
  private final case class QGround(insert: Boolean,
      quads: Seq[(String, String, String, Option[String])]) extends QuadOp
  private final case class QClear(t: QTarget, silent: Boolean) extends QuadOp
  /** CREATE; `named` = the op names a graph. */
  private final case class QCreate(named: Boolean, silent: Boolean)
      extends QuadOp
  /** COPY/MOVE/ADD; `from == to` is an op that changes nothing (§3.2). */
  private final case class QMove(kind: String, from: Option[String],
                                 to: Option[String], silent: Boolean)
      extends QuadOp
  private final case class QModify(withG: Option[String], del: Option[Group],
                                   ins: Option[Group], where: Group) extends QuadOp
  private final case class QLoad(src: String, into: Option[String],
                                 silent: Boolean) extends QuadOp

  /** Parse a whole Update script: `;`-separated ops, with PREFIX decls
    * accumulating across ops (earlier ones stay in scope). The script
    * parses completely before any op runs, so a syntax error anywhere
    * leaves the caller's data untouched.
    */
  private def parseUpdate(updateText: String): Vector[QuadOp] = {
    val p = new P(tokenize(updateText))
    var prefixes = Map.empty[String, String]
    val ops = Vector.newBuilder[QuadOp]
    var more = p.peek.nonEmpty
    while (more) {
      prefixes = prefixes ++ parsePrefixes(p)
      ops += parseQuadUpdateOp(p, prefixes)
      more = p.trySym(";") && p.peek.nonEmpty
    }
    // Trailing tokens mean the request was not what would execute (e.g.
    // a missing ';' between operations would silently drop every later op)
    if (p.peek.nonEmpty)
      p.fail(s"unexpected tokens after update operation: ${p.peek.get}")
    ops.result()
  }

  /** Ground quads of a data block: top-level triples land in the default
    * graph (None), `GRAPH <iri> { .. }` wrappers in that named graph.
    */
  private def groundQuads(g: Group, what: String)
      : Seq[(String, String, String, Option[String])] = {
    def ground(ts: Seq[TriplePattern], gr: Option[String]) = {
      require(ts.forall(_.vars.isEmpty), s"$what requires ground triples")
      ts.map(tp => (tp.s.asInstanceOf[C].value.toString,
        tp.p.asInstanceOf[C].value.toString,
        tp.o.asInstanceOf[C].value.toString, gr))
    }
    requireQuadPattern(g, what)
    ground(g.triples, None) ++ g.graphs.flatMap {
      case (C(iri), inner) => ground(inner.triples, Some(iri.toString))
      case (V(v), _) =>
        throw new IllegalArgumentException(
          s"$what needs a constant GRAPH target, found ?$v")
    }
  }

  private def parseQuadUpdateOp(p: P, prefixes: Map[String, String]): QuadOp = {
    def graphEndpoint(): Option[String] = p.peek match {
      case Some(t) if p.isKw(t, "GRAPH") => p.pos += 1; graphEndpoint()
      case Some(t) if p.isKw(t, "DEFAULT") => p.pos += 1; None
      case _ => parseTerm(p, prefixes) match {
        case C(v) => Some(v.toString)
        case t => p.fail(s"expected DEFAULT or GRAPH <iri>, got $t")
      }
    }
    if (p.tryKw("CLEAR") || p.tryKw("DROP")) {
      // graphs exist exactly while non-empty in a relation-backed
      // dataset, so DROP ≡ CLEAR here (§3.2.2 note)
      val silent = p.tryKw("SILENT")
      val t =
        if (p.tryKw("ALL")) QAll
        else if (p.tryKw("NAMED")) QAllNamed
        // a bare CLEAR/DROP means the default graph
        else if (p.tryKw("DEFAULT") || p.peek.forall(_ == TSym(";"))) QDefault
        else { p.tryKw("GRAPH"); graphEndpoint().map(QNamed(_)).getOrElse(QDefault) }
      return QClear(t, silent)
    }
    if (p.tryKw("LOAD")) {
      // LOAD [SILENT] <src> [INTO GRAPH <g>] — §3.1.4. TriG/N-Quads
      // sources carry their own graph labels (INTO GRAPH then REPLACES
      // them, per the note that a load's target overrides);
      // Turtle/N-Triples land in the target graph, default if absent.
      val silent = p.tryKw("SILENT")
      val src = p.next() match {
        case TIri(i) => i
        case t => p.fail(s"LOAD needs an <iri>/path source, found $t")
      }
      val into =
        if (p.tryKw("INTO")) { p.eatKw("GRAPH"); graphEndpoint() }
        else None
      return QLoad(src, into, silent)
    }
    if (p.tryKw("CREATE")) {
      val silent = p.tryKw("SILENT")
      val kw = p.tryKw("GRAPH") || p.tryKw("NAMED")
      if (!kw) p.tryKw("DEFAULT")
      val iri = p.peek match {
        case Some(TIri(_)) => p.pos += 1; true
        case _ => false
      }
      return QCreate(kw || iri, silent)
    }
    for (kind <- Seq("COPY", "MOVE", "ADD")) if (p.tryKw(kind)) {
      val silent = p.tryKw("SILENT")
      val from = graphEndpoint()
      p.eatKw("TO")
      val to = graphEndpoint()
      return QMove(kind, from, to, silent)
    }
    // quad templates: triples (default or WITH graph) + GRAPH wrappers
    // whose target may be a constant or a WHERE-bound variable
    def quadTemplate(what: String): Group = {
      val g = parseGroup(p, prefixes)
      requireQuadPattern(g, what)
      g
    }
    val withG = if (p.tryKw("WITH")) parseTerm(p, prefixes) match {
      case C(v) => Some(v.toString)
      case t => p.fail(s"WITH needs a graph IRI, got $t")
    } else None
    if (p.tryKw("INSERT")) {
      if (withG.isEmpty && p.tryKw("DATA"))
        return QGround(insert = true,
          groundQuads(parseGroup(p, prefixes), "INSERT DATA"))
      val ins = quadTemplate("INSERT template")
      p.eatKw("WHERE")
      return QModify(withG, None, Some(ins), parseGroup(p, prefixes))
    }
    if (p.tryKw("DELETE")) {
      if (withG.isEmpty && p.tryKw("DATA")) {
        val g = parseGroup(p, prefixes)
        requireNoBlanks(g, "DELETE DATA")
        return QGround(insert = false, groundQuads(g, "DELETE DATA"))
      }
      if (p.tryKw("WHERE")) { // DELETE WHERE: the pattern is the template
        val w = quadTemplate("DELETE WHERE")
        requireNoBlanks(w, "DELETE WHERE")
        return QModify(withG, Some(w), None, w)
      }
      val del = quadTemplate("DELETE template")
      requireNoBlanks(del, "DELETE template")
      val ins =
        if (p.tryKw("INSERT")) Some(quadTemplate("INSERT template")) else None
      p.eatKw("WHERE")
      return QModify(withG, Some(del), ins, parseGroup(p, prefixes))
    }
    p.fail("expected INSERT, DELETE, WITH, LOAD, CLEAR, DROP, CREATE, " +
      "COPY, MOVE or ADD")
  }

  /** Modify solution sets at or under this row count take the broadcast
    * probe-and-union shape in the quad executor ([[runQuadUpdate]]);
    * larger deltas fall back to shuffle joins plus a full checkpoint (the
    * right trade once Δ rivals the store).
    */
  private val UpdateBroadcastMax = 1000000L

  /** Apply a SPARQL 1.1 Update script to a quad dataset and return the
    * updated (s, p, o, g) relation — the string-term entry of the one
    * quad executor ([[runQuadUpdate]]), shared with [[updateQuadsEnc]].
    * Pure DataFrame algebra, lazily composed: ground data ops are
    * null-safe anti-join/union deltas (set semantics), graph management
    * slices and retags the relation. The input is immutable; every op
    * sees the previous op's result (§3.1 sequential semantics), and
    * hazard-free modify ops evaluate their WHERE concurrently against the
    * input (see `prefetchableQuadModifies`). Scale shapes: ground data
    * ops stream the dataset once against the broadcast batch (no dataset
    * shuffle); CLEAR/DROP/COPY/MOVE are predicate filters + a retagged
    * slice; ADD pays a graph-to-graph set difference, inherent to its
    * merge semantics; pattern modifies evaluate their WHERE over the
    * current state and instantiate templates like CONSTRUCT. Only
    * |Δ|-sized intermediates pin, so the plan grows linearly per op and
    * the full dataset never checkpoints in the common case.
    *
    * RESULT OWNERSHIP: the returned relation is LAZY by default — the
    * unchanged base plus the script's pinned |Δ|-sized delta frames
    * applied as broadcast joins/unions, so a small update never
    * rewrites the dataset. The delta pins' ownership TRANSFERS to the
    * returned relation: they stay in executor storage for its life
    * (they are reachable from the plan and must not be released), and
    * each ACTION on the result re-runs the |Δ|-sized composition legs —
    * cheap, but a consumer scanning the result many times should
    * checkpoint it once.
    */
  def updateQuads(spark: SparkSession, quads: DataFrame,
                  updateText: String): DataFrame =
    runQuadUpdate(quads, parseUpdate(updateText), new StringTerms(spark))

  /** ENCODED named-graph Update — the [[updateQuads]] surface and executor
    * on dictionary ids: every op's joins (ground probes, template deltas,
    * graph slicing, the modify WHERE) move fixed-width longs for s/p/o
    * AND g, completing the encoded quad lifecycle (ingest →
    * [[execute]] over `Dataset.QuadsEncoded` → update). Returns the (updated encoded
    * dataset, updated dictionary).
    *
    * Dictionary maintenance ([[EncodedTerms]]): new terms — ground INSERT
    * DATA rows, insert-template constants, retarget graph labels, LOAD
    * payloads — take their certified xxhash64 id and EXTEND the
    * dictionary; a new term whose id collides with a different existing
    * term fails fast, like the index build (`TripleStore.encodeQuads`).
    * Deleted terms stay in the dictionary (ids are content hashes —
    * idempotent, and a stale entry is harmless). Pattern-modify templates
    * must draw from id-typed WHERE vars (pattern/GRAPH positions);
    * value-typed (BIND-computed) template vars reject with a pointer to
    * the string path — re-entering term space mid-script would force a
    * per-op dictionary round trip.
    *
    * RESULT OWNERSHIP: lazy by default with pin ownership transferred to
    * the returned relation — see [[updateQuads]].
    */
  def updateQuadsEnc(spark: SparkSession, encQuads: DataFrame, dict: DataFrame,
                     updateText: String): (DataFrame, DataFrame) = {
    val terms = new EncodedTerms(spark, dict)
    val out = runQuadUpdate(encQuads, parseUpdate(updateText), terms)
    (out, terms.dictNow.get)
  }

  /** The term space of a quad dataset — the one decision the quad Update
    * executor ([[runQuadUpdate]]) leaves open: how a constant becomes a
    * column value (and so the type of the default graph's null `g`), the
    * dictionary a WHERE compiles against (none: string terms), and the
    * dictionary bookkeeping only an encoded dataset has. The no-op
    * defaults are the string space's.
    */
  private sealed abstract class QuadTerms(val spark: SparkSession) {
    /** Type of the s/p/o/g columns. */
    def colType: org.apache.spark.sql.types.DataType
    /** A constant as a column value. */
    def value(term: String): Any
    /** The dictionary as it stands; a WHERE prefetch binds the pre-script
      * one. */
    def dictNow: Option[DataFrame] = None
    /** Once, before the first op runs. */
    def begin(ops: Seq[QuadOp]): Unit = ()
    /** Constants an op is about to write. */
    def extend(terms: Seq[String]): Unit = ()
    /** A LOAD payload of (s, p, o, g) strings in this term space. */
    def loaded(quads: DataFrame): DataFrame = quads
    /** A modify op's solutions, before its templates instantiate. */
    def checkTemplates(sols: DataFrame, templates: Seq[Group]): Unit = ()
  }

  private final class StringTerms(spark: SparkSession)
      extends QuadTerms(spark) {
    def colType = org.apache.spark.sql.types.StringType
    def value(term: String): Any = term
  }

  /** Dictionary-encoded quads: a constant is its xxhash64 id, and the
    * terms a script writes extend the dictionary — certified against the
    * existing terms by ONE script-wide pre-probe where possible.
    */
  private final class EncodedTerms(spark: SparkSession, dict0: DataFrame)
      extends QuadTerms(spark) {
    import graft.dict.Dictionary
    import spark.implicits._
    private var d = dict0
    // what `begin`'s pre-probe covered: its constants, and those of them
    // the dictionary holds (grows as fresh ones are added)
    private var scriptConsts = Set.empty[String]
    private val knownPresent = scala.collection.mutable.Set.empty[String]
    def colType = org.apache.spark.sql.types.LongType
    def value(term: String): Any = Dictionary.termHashLocal(term)
    override def dictNow: Option[DataFrame] = Some(d)

    // SCRIPT-WIDE constant pre-probe: every term any op can introduce is
    // a parse-time constant (`newTerms`), so ONE dictionary job answers
    // presence + hash-claim safety for the whole script and the per-op
    // extension becomes a driver-side set update. A LOAD op disables the
    // shortcut: loaded terms enter the dictionary mid-script, and a later
    // constant could clash with one of them — the per-op probe sees
    // that, a start-of-script probe cannot.
    override def begin(ops: Seq[QuadOp]): Unit = {
      val hasLoad = ops.exists { case _: QLoad => true; case _ => false }
      scriptConsts = if (hasLoad) Set.empty else ops.flatMap(newTerms).toSet
      if (scriptConsts.nonEmpty) {
        val (present, clash) =
          Dictionary.probeClaims(spark, d, scriptConsts.toSeq.sorted)
        require(!clash,
          "xxhash64 collision between a new term and an existing one — " +
            "use the string path (Sparql.updateQuads) for this batch")
        // the pre-probe certifies fresh-vs-EXISTING claims; two fresh
        // terms in ONE script colliding with each other would each pass
        // that check and silently share an id (the old per-op path saw
        // the first claim land before probing the second) — require the
        // fresh set's ids to be claim-free among themselves too
        val freshDup = scriptConsts.toSeq.filterNot(present)
          .groupBy(Dictionary.termHashLocal).values.find(_.distinct.size > 1)
        require(freshDup.isEmpty,
          "xxhash64 collision between two new terms in one script " +
            s"(${freshDup.toSeq.flatten.distinct.mkString(", ")}) — " +
            "use the string path (Sparql.updateQuads) for this batch")
        knownPresent ++= present
      }
    }

    /** Driver-side dictionary extension for a bounded constant set. */
    override def extend(terms: Seq[String]): Unit = {
      val uniq = terms.distinct
      val (covered, uncovered) = uniq.partition(scriptConsts.contains)
      val freshCovered = covered.filterNot(knownPresent)
      if (freshCovered.nonEmpty) {
        // claim-safety came from the script-wide pre-probe; no job here
        d = d.unionByName(freshCovered
          .map(t => (Dictionary.termHashLocal(t), t)).toDF("id", "term"))
        knownPresent ++= freshCovered
      }
      if (uncovered.nonEmpty) {
        val present = Dictionary.lookup(d, uncovered)
        val fresh = uncovered.filterNot(present.contains)
          .map(t => (Dictionary.termHashLocal(t), t))
        if (fresh.nonEmpty) {
          val clash = d.where(col("id").isin(fresh.map(_._1): _*)).limit(1)
          require(clash.isEmpty,
            "xxhash64 collision between a new term and an existing one — " +
              "use the string path (Sparql.updateQuads) for this batch")
          d = d.unionByName(fresh.toDF("id", "term"))
        }
      }
    }

    /** Distributed extension for the unbounded LOAD payload, then its
      * encode. The fresh dictionary rows checkpoint UNTRACKED — the
      * dictionary result must outlive the executor's pin release.
      */
    override def loaded(quads: DataFrame): DataFrame = {
      val terms = quads.select(
        explode(array(col("s"), col("p"), col("o"), col("g"))).as("term"))
      val cand = terms.select(col("term").cast("string").as("term"))
        .where(col("term").isNotNull).distinct()
        .select(Dictionary.termHash(col("term")).as("id"), col("term"))
      val clash = cand.join(d.select(col("id"), col("term").as("__t2")),
          Seq("id")).where(col("term") =!= col("__t2")).limit(1)
      require(clash.isEmpty,
        "xxhash64 collision between a loaded term and an existing one — " +
          "use the string path (Sparql.updateQuads) for this source")
      val fresh = graft.Pins.checkpoint(cand.join(d, Seq("id"), "left_anti"))
      d = d.unionByName(fresh)
      quads.select(
        Dictionary.termHash(col("s")).as("s"),
        Dictionary.termHash(col("p")).as("p"),
        Dictionary.termHash(col("o")).as("o"),
        when(col("g").isNull, lit(null).cast("long"))
          .otherwise(Dictionary.termHash(col("g"))).as("g"))
    }

    /** Templates must instantiate from ID-typed columns. */
    override def checkTemplates(sols: DataFrame, templates: Seq[Group]): Unit =
      templates.flatMap { t =>
        t.triples.flatMap(_.vars) ++
          t.graphs.flatMap { case (gt, inner) =>
            (gt match { case V(v) => Seq(v); case _ => Seq.empty }) ++
              inner.triples.flatMap(_.vars)
          }
      }.distinct.foreach { v =>
        require(sols.schema(v).dataType ==
          org.apache.spark.sql.types.LongType,
          s"template var ?$v is value-typed (BIND/expression) — the " +
            "encoded path instantiates from pattern positions only; " +
            "use Sparql.updateQuads for this script")
      }
  }

  /** The quad Update executor behind [[updateQuads]] and
    * [[updateQuadsEnc]]: folds the ops over the dataset in order, with
    * the WHERE of every hazard-free modify op prefetched concurrently
    * against the input. `terms` supplies the term space.
    */
  private def runQuadUpdate(quads: DataFrame, opsV: Vector[QuadOp],
                            terms: QuadTerms): DataFrame = {
    val spark = terms.spark
    def v(t: String): Column = lit(terms.value(t))
    val nullG = lit(null).cast(terms.colType)
    terms.begin(opsV)
    def slice(g: Option[String])(q: DataFrame): DataFrame = g match {
      case None => q.where(col("g").isNull)
      case Some(i) => q.where(col("g") === v(i))
    }
    def quadsDF(rows: Seq[(String, String, String, Option[String])]) = {
      import org.apache.spark.sql.types.{StructField, StructType}
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (s, pr, o, g) =>
          org.apache.spark.sql.Row(terms.value(s), terms.value(pr),
            terms.value(o), g.map(terms.value).orNull)
        }: _*),
        StructType(Seq("s", "p", "o", "g").map(StructField(_, terms.colType))))
    }
    // the renamed right side + null-safe (default-graph-aware) join
    // condition every quad set op shares
    def renamed(b: DataFrame): DataFrame =
      b.select(col("s").as("__s2"), col("p").as("__p2"),
        col("o").as("__o2"), col("g").as("__g2"))
    val quadCond =
      col("s") === col("__s2") && col("p") === col("__p2") &&
        col("o") === col("__o2") && col("g") <=> col("__g2")
    // anti join; the broadcast hint goes on the right side only when it
    // is a bounded (ground / materialized-Δ) batch — unbounded set
    // differences leave the strategy to Catalyst/AQE
    def minus(a: DataFrame, b: DataFrame, smallRight: Boolean): DataFrame = {
      val r0 = renamed(b)
      a.join(if (smallRight) broadcast(r0) else r0, quadCond, "left_anti")
    }
    // fresh attribute ids for a union branch: without per-op checkpoints
    // both branches of a self-referencing union share lineage (and expr
    // ids), which trips UnionBase.rewriteConstraints ("key not found")
    // during constraint propagation — an explicit alias projection
    // decouples the branch's output attributes
    def realias(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)
    def unionQ(a: DataFrame, b: DataFrame): DataFrame =
      a.unionByName(realias(b))
    // pins materialize |Δ|-sized intermediates and cut their lineage.
    // The invariant this buys: the BIG quad relation only ever appears
    // ONCE in any op's un-truncated output lineage (as the streaming side
    // of filters, broadcast anti joins and unions), so chained scripts
    // grow the plan LINEARLY and never checkpoint the full dataset per
    // op — the |store|-sized writes that dominated the three-modify gate.
    val pins = new graft.Pins
    /** Template instantiation from a pinned solution relation (shared
      * by the apply step and the concurrent delta prefetch). Unbound
      * template rows drop, like CONSTRUCT.
      */
    def instTmpl(sols: DataFrame, withG: Option[String], t: Group): DataFrame = {
      def termCol(x: Term): Column = x match {
        case V(n) => col(n)
        case C(c) => v(c.toString)
      }
      val parts =
        (t.triples.map(tp =>
          (tp, Left(withG): Either[Option[String], String])) ++
          t.graphs.flatMap { case (gt, inner) =>
            val tgt: Either[Option[String], String] = gt match {
              case C(c) => Left(Some(c.toString))
              case V(n) => Right(n)
            }
            inner.triples.map(tp => (tp, tgt))
          }).map { case (tp, tgt) =>
          val gcol = tgt match {
            case Left(g) => g.map(v).getOrElse(nullG)
            case Right(n) => col(n)
          }
          val df0 = sols.select(termCol(tp.s).as("s"),
              termCol(tp.p).as("p"), termCol(tp.o).as("o"), gcol.as("g"))
            .where(col("s").isNotNull && col("p").isNotNull &&
              col("o").isNotNull)
          tgt match {
            case Right(_) => df0.where(col("g").isNotNull)
            case _ => df0
          }
        }
      require(parts.nonEmpty, "empty modify template")
      parts.reduce(_.unionByName(_)).dropDuplicates("s", "p", "o", "g")
    }
    /** The read half of a modify op against an explicit relation +
      * dictionary SNAPSHOT — hazard-free ops prefetch it CONCURRENTLY
      * against the pre-script dataset (see the fold below), so the apply
      * step runs NO jobs of its own. WITH <g> (else the true default
      * graph) is the default slice; named graphs stay GRAPH-visible. ONE
      * job pins the solutions AND counts them (lazy checkpoint
      * materialized by the count — the pin-then-count sequence paid the
      * per-job scheduling floor twice); both templates instantiate from
      * that one relation (§3.1.3 — delete and insert see the SAME
      * bindings), and its size picks the shape. For the broadcastable
      * shape with an insert template, the already-present probe of the
      * insert delta (after the deletes) is pinned here too.
      */
    def prepModify(q: DataFrame, dict: Option[DataFrame], m: QModify)
        : (DataFrame, Long, Option[DataFrame]) = {
      val enc = dict.map(encEnv(spark, _, pureHash = true, m.where,
        plainVarsOfG(m.where), m.withG.toSeq))
      val env = Env(spark, slice(m.withG)(q).select("s", "p", "o"), Map.empty,
        1000000L, enc, quads = Some(q.where(col("g").isNotNull)))
      val (sols, cnt) = pins.pinCounted(compileGroup(env, m.where))
      val present =
        if (cnt <= UpdateBroadcastMax && m.ins.size == 1) {
          val afterDel = m.del.foldLeft(q)((qq, t) =>
            minus(qq, instTmpl(sols, m.withG, t), smallRight = true))
          val add = instTmpl(sols, m.withG, m.ins.get)
          Some(pins.pin(
            afterDel.join(broadcast(renamed(add)), quadCond, "left_semi")))
        } else None
      (sols, cnt, present)
    }
    def applyOp(q: DataFrame, op: QuadOp,
                prep: Option[(DataFrame, Long, Option[DataFrame])])
        : DataFrame = op match {
      case _: QCreate => q // an empty graph is indistinguishable from an absent one
      case QGround(true, rows) =>
        terms.extend(rows.flatMap { case (s, pr, o, g) =>
          Seq(s, pr, o) ++ g.toSeq })
        // set semantics, probe-the-big-side shape: the dataset streams
        // once against the BROADCAST ground batch to find already-present
        // quads (a bounded, pinned semi-join result), then the tiny
        // difference unions in — the dataset itself never shuffles, and
        // its lineage is referenced once (the pin truncates `present`)
        val add = quadsDF(rows).dropDuplicates("s", "p", "o", "g")
        val present =
          pins.pin(q.join(broadcast(renamed(add)), quadCond, "left_semi"))
        unionQ(q, minus(add, present, smallRight = true))
      case QGround(false, rows) =>
        // encoded: ids of absent terms match nothing — no dictionary work
        minus(q, quadsDF(rows), smallRight = true)
      case QClear(QDefault, _) => q.where(col("g").isNotNull)
      case QClear(QNamed(i), _) => q.where(col("g").isNull || col("g") =!= v(i))
      case QClear(QAllNamed, _) => q.where(col("g").isNull)
      case QClear(QAll, _) => q.where(lit(false))
      case m @ QModify(withG, del, ins, _) =>
        val (sols, solsCnt, present) =
          prep.getOrElse(prepModify(q, terms.dictNow, m))
        terms.checkTemplates(sols, del.toSeq ++ ins.toSeq)
        ins.foreach(t => terms.extend(templateConsts(t, withG)))
        val small = solsCnt <= UpdateBroadcastMax
        def inst(t: Group): DataFrame = instTmpl(sols, withG, t)
        var q2 = q
        // common case (Δ fits a broadcast): the dataset STREAMS through
        // a broadcast anti join per delete template and one broadcast
        // semi probe per insert template — zero dataset shuffles, zero
        // full checkpoints, linear plan growth (see pins). Big-Δ
        // fallback: shuffle joins + one full checkpoint after the op.
        del.foreach(t => q2 = minus(q2, inst(t), smallRight = small))
        ins.foreach { t =>
          // add is a NARROW map of the pinned solutions — no pin of its
          // own (the broadcast build and the final seal each recompute it
          // from sols for the cost of a small shuffle, cheaper than
          // another eager-checkpoint job here)
          val add = inst(t)
          q2 = unionQ(q2, present match {
            case Some(pr) => minus(add, pr, smallRight = true)
            case None => minus(add, q2, smallRight = false)
          })
        }
        if (small) q2 else pins.pin(q2)
      case QMove(_, from, to, _) if from == to => q // a self-move is a no-op
      case QMove(kind, from, to, _) =>
        terms.extend(to.toSeq)
        // the target slice can be dropped up front in every form
        val fromLit = from.map(v).getOrElse(nullG)
        val toLit = to.map(v).getOrElse(nullG)
        def without(g: Option[String]) = g
          .map(i => col("g").isNull || col("g") =!= v(i))
          .getOrElse(col("g").isNotNull)
        kind match {
          case "COPY" =>
            // overwrite target with source in ONE narrow pass: drop the
            // target slice, then explode source rows into (original,
            // retagged copy) — the dataset is referenced once, no join
            q.where(without(to)).withColumn("g",
              explode(when(col("g") <=> fromLit, array(col("g"), toLit))
                .otherwise(array(col("g")))))
          case "MOVE" =>
            // drop target, retag source: one filter + one projection
            q.where(without(to)).withColumn("g",
              when(col("g") <=> fromLit, toLit).otherwise(col("g")))
          case "ADD" =>
            // merge under set semantics: the inherent graph-to-graph
            // difference joins ONLY the two graph slices (Catalyst/AQE
            // pick the strategy); the |new|-sized result pins so the
            // dataset's lineage is referenced once downstream
            val moved = slice(from)(q).withColumn("g", toLit)
            val fresh = pins.pin(minus(moved, slice(to)(q), smallRight = false))
            unionQ(q, fresh)
        }
      case QLoad(src, into, _) =>
        // parse by extension: quad formats carry their own labels
        // (INTO GRAPH then replaces them); triple formats land in the
        // target graph, default when absent. Set semantics: only rows
        // not already present union in (|Δ|-sized pin).
        val parsed: DataFrame =
          if (src.endsWith(".trig"))
            graft.store.TripleStore.parseTriG(spark, src)
          else if (src.endsWith(".nq"))
            graft.store.TripleStore.parseNQuads(spark, src)
          else loadTriples(spark, src).withColumn("g", lit(null).cast("string"))
        val target = (into match {
          case Some(g) => parsed.withColumn("g", lit(g))
          case None => parsed
        }).dropDuplicates("s", "p", "o", "g")
        val fresh = pins.pin(minus(terms.loaded(target), q, smallRight = false))
        unionQ(q, fresh)
    }
    // ASYNC WHERE PREFETCH over read/write-DISJOINT ops (the store-handle
    // path's discipline, see `update`): hazard-free modify ops evaluate
    // their WHERE against the PRE-SCRIPT dataset + dictionary snapshot,
    // all probe jobs in flight concurrently; the relation fold stays
    // strictly ordered.
    val d0 = terms.dictNow
    // The result is the LAZY composition: the unchanged base relation
    // plus |Δ|-sized PINNED deltas applied as broadcast joins/unions —
    // the store's own tombstone-lazy update discipline. At corpus scale
    // a small update must never rewrite the store; the returned
    // relation keeps its delta pins alive (ownership transfers to it).
    withPrefetch(prefetchableQuadModifies(opsV)) { i =>
      prepModify(quads, d0, opsV(i).asInstanceOf[QModify])
    } { pre =>
      opsV.zipWithIndex.foldLeft(quads) { case (q, (op, i)) =>
        applyOp(q, op, pre(i))
      }
    }
  }

  /** Join an inline DataBlock relation into a solution frame: all-bound
    * blocks take a plain equi-join on the shared vars; blocks with UNDEF
    * cells use a per-row compatibility join (null-is-wildcard condition
    * on a broadcast of the tiny inline table, merged with coalesce).
    * Entries are pattern-position constants — encoded to ids in encoded
    * mode, with contaminated (value-typed) vars demoted to term strings
    * like every other pattern-machinery source.
    */
  /** The inline DataBlock as its own relation (entries encoded per env,
    * contaminated vars demoted) — the seed when a group is ONLY a VALUES
    * block, and the right side of `joinInlineData` otherwise.
    */
  private def inlineRelation(env: Env, vars: Seq[String],
                             rows: Seq[Seq[String]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = env.spark
    val tpe = if (env.enc.isDefined) LongType else StringType
    val schema = StructType(vars.map(StructField(_, tpe)))
    demoteToTerms(env, spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row.fromSeq(r.map(x =>
          if (x == null) null else env.cval(x)))), 1), schema))
  }

  private def joinInlineData(env: Env, dfIn: DataFrame, vars: Seq[String],
                             rows: Seq[Seq[String]]): DataFrame = {
    val vdf = inlineRelation(env, vars, rows)
    val shared = dfIn.columns.intersect(vars).toSeq
    val hasUndef = rows.exists(_.contains(null))
    if (!hasUndef)
      if (shared.isEmpty) dfIn.crossJoin(vdf) else dfIn.join(vdf, shared, "inner")
    else {
      val right = broadcast(
        vdf.select(vars.map(v => col(v).as(s"__vm_$v")): _*))
      val joined =
        if (shared.isEmpty) dfIn.crossJoin(right)
        else {
          val cond = shared
            .map(v => col(s"__vm_$v").isNull || col(v).isNull ||
              col(v) === col(s"__vm_$v"))
            .reduce(_ && _)
          dfIn.join(right, cond, "inner")
        }
      val outCols =
        dfIn.columns.toSeq.map { c =>
          if (shared.contains(c))
            coalesce(col(c), col(s"__vm_$c")).as(c)
          else col(c)
        } ++
          vars.filterNot(dfIn.columns.contains)
            .map(v => col(s"__vm_$v").as(v))
      joined.select(outCols: _*)
    }
  }

  // ---------- Property-path relations ----------

  /** All graph nodes (subjects and objects) plus any query constants —
    * the domain of zero-length path matches (SPARQL 1.1 §9.3: a
    * zero-length path matches every graph term, and a constant endpoint
    * matches itself even when absent from the graph, as ARQ does).
    */
  private def identityRel(env: Env, extra: Seq[Any]): DataFrame = {
    val base = env.triples.select(col("s").as("n"))
      .unionAll(env.triples.select(col("o").as("n")))
    val withExtra =
      if (extra.isEmpty) base
      else {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{StructField, StructType}
        val schema = StructType(Seq(
          StructField("n", base.schema("n").dataType, nullable = true)))
        base.unionAll(env.spark.createDataFrame(
          env.spark.sparkContext.parallelize(extra.map(Row(_)), 1), schema))
      }
    withExtra.distinct().select(col("n").as("s"), col("n").as("o"))
  }

  /** Path over a QUAD relation → (s, o, g): the per-graph path algebra
    * for `GRAPH ?var` blocks. Sequences join on (mid, g) so a multi-hop
    * path never crosses graphs; alternation unions (bag semantics, like
    * `pathRel`); inverse swaps endpoints within the graph; closures run
    * [[GraphOps.transitiveClosure]] grouped by g (the driver BFS under
    * the graph size gate, iterated squaring past it).
    */
  private def quadPathRel(env: Env, quads: DataFrame, p: Path): DataFrame = p match {
    case PEdge(e) =>
      quads.where(col("p") === lit(env.cval(e)))
        .select(col("s"), col("o"), col("g"))
    case PNegSet(preds, invPreds) =>
      val parts = Seq(
        if (preds.nonEmpty || invPreds.isEmpty)
          Some(quads.where(!col("p").isin(preds.map(env.cval): _*))
            .select(col("s"), col("o"), col("g")))
        else None,
        if (invPreds.nonEmpty)
          Some(quads.where(!col("p").isin(invPreds.map(env.cval): _*))
            .select(col("o").as("s"), col("s").as("o"), col("g")))
        else None).flatten
      parts.reduce(_.unionAll(_))
    case PInv(x) =>
      quadPathRel(env, quads, x)
        .select(col("o").as("s"), col("s").as("o"), col("g"))
    case PSeq(l, r) =>
      val lf = quadPathRel(env, quads, l)
        .select(col("s"), col("o").as("__m"), col("g"))
      val rf = quadPathRel(env, quads, r)
        .select(col("s").as("__m"), col("o"), col("g"))
      lf.join(rf, Seq("__m", "g")).select(col("s"), col("o"), col("g"))
    case PAlt(l, r) =>
      quadPathRel(env, quads, l).unionAll(quadPathRel(env, quads, r))
    case PClosure(x, includeZero) =>
      // ONE closure grouped by g closes EVERY graph's relation at once —
      // no per-graph enumeration; a graph only pays for its own
      // reachable pairs. Zero-length matches all terms OF THAT graph
      // (§9.3).
      val c = GraphOps.transitiveClosure(quadPathRel(env, quads, x), Seq("g"),
        maxRounds = 60)
      if (includeZero) c.unionAll(quadIdentityRel(quads)).distinct() else c
    case POpt(x) =>
      quadPathRel(env, quads, x).unionAll(quadIdentityRel(quads)).distinct()
  }

  /** Per-graph zero-length relation: (n, n, g) for every term mentioned
    * in graph g — the §9.3 zero-length-path domain, per active graph.
    */
  private def quadIdentityRel(quads: DataFrame): DataFrame =
    quads.select(col("s").as("n"), col("g"))
      .unionAll(quads.select(col("o").as("n"), col("g")))
      .distinct()
      .select(col("n").as("s"), col("n").as("o"), col("g"))

  /** Compile a path to an (s, o) relation. Non-closure operators keep bag
    * semantics (SPARQL path evaluation); closures and zero-length matches
    * are set-semantic, realized with `distinct`.
    */
  private def pathRel(env: Env, path: Path, extra: Seq[Any]): DataFrame =
    path match {
      case PEdge(e) =>
        graft.store.StoreHandle.predRows(env.triples, Seq(env.cval(e)))
          .where(col("p") === lit(env.cval(e))).select(col("s"), col("o"))
      case PNegSet(preds, invPreds) =>
        // §9.1: the forward component matches edges whose predicate is
        // outside the FORWARD members; the reverse component (present
        // only when the set has ^-members) matches reversed edges whose
        // predicate is outside the INVERSE members
        val parts = Seq(
          if (preds.nonEmpty || invPreds.isEmpty)
            Some(env.triples.where(!col("p").isin(preds.map(env.cval): _*))
              .select(col("s"), col("o")))
          else None,
          if (invPreds.nonEmpty)
            Some(env.triples.where(!col("p").isin(invPreds.map(env.cval): _*))
              .select(col("o").as("s"), col("s").as("o")))
          else None).flatten
        parts.reduce(_.unionAll(_))
      case PInv(x) =>
        pathRel(env, x, extra).select(col("o").as("s"), col("s").as("o"))
      case PSeq(l, r) =>
        val lf = pathRel(env, l, extra).withColumnRenamed("o", "__m")
        val rf = pathRel(env, r, extra).withColumnRenamed("s", "__m")
        lf.join(rf, "__m").select(col("s"), col("o"))
      case PAlt(l, r) =>
        // a pure alternation of forward edges is ONE scan with an IN-list
        // predicate (pushed down), not one scan per branch; a repeated
        // edge (`:p|:p`) must keep per-branch multiplicity -> fall through
        flattenAltEdges(path) match {
          case Some(preds) if preds.distinct == preds =>
            val ps = preds.map(env.cval)
            graft.store.StoreHandle.predRows(env.triples, ps).where(col("p").isin(ps: _*))
              .select(col("s"), col("o"))
          case _ =>
            pathRel(env, l, extra).unionAll(pathRel(env, r, extra))
        }
      case PClosure(x, includeZero) =>
        val c = GraphOps.transitiveClosure(pathRel(env, x, extra), maxRounds = 60)
        if (includeZero) c.unionAll(identityRel(env, extra)).distinct() else c
      case POpt(x) =>
        pathRel(env, x, extra).unionAll(identityRel(env, extra)).distinct()
    }

  /** Structural inverse of a path expression: `^` pushed through the
    * algebra, so a bound-OBJECT endpoint evaluates as a bound-subject
    * traversal of the reversed path (reverse of a sequence is the
    * sequence of reverses, reversed; closures/alternatives/optionals
    * invert pointwise).
    */
  private def invertPath(p: Path): Path = p match {
    case PInv(x) => x
    case PSeq(l, r) => PSeq(invertPath(r), invertPath(l))
    case PAlt(l, r) => PAlt(invertPath(l), invertPath(r))
    case PClosure(x, z) => PClosure(invertPath(x), z)
    case POpt(x) => POpt(invertPath(x))
    case leaf => PInv(leaf)
  }

  /** Path evaluation seeded by a start-node set (single column `n`):
    * returns the path's (s, o) pairs whose s is in the seed set, WITHOUT
    * materializing the global path relation. The payoff is in closures:
    * `<c> p+ ?x` expands a frontier from c ([[GraphOps.reachableFrom]]:
    * each round probes the edge relation with the (small) frontier), so
    * total cost is proportional to the REACHABLE set, not to the
    * predicate's full transitive closure. This mirrors the reference's adaptive
    * cheapest-first expansion, which naturally explores from the bound
    * side (`core/src/main/scala/com/graphula/Graphula.scala:120-190,220-224`).
    */
  private def pathRelSeeded(env: Env, path: Path, extra: Seq[Any],
                            seeds: DataFrame): DataFrame = path match {
    case PEdge(_) | PNegSet(_, _) | PInv(PEdge(_)) | PInv(PNegSet(_, _)) =>
      // leaf scan (or reversed leaf scan) restricted to seed subjects; the
      // seed side is a handful of rows -> AQE broadcasts it
      val leaf = path match {
        case PInv(x) => pathRel(env, x, extra)
          .select(col("o").as("s"), col("s").as("o"))
        case x => pathRel(env, x, extra)
      }
      leaf.join(broadcast(seeds.withColumnRenamed("n", "s")), Seq("s"))
    case PInv(x) => pathRelSeeded(env, invertPath(x), extra, seeds)
    case PSeq(l, r) =>
      // evaluate left seeded, then right seeded from the left's endpoints
      val lp = pathRelSeeded(env, l, extra, seeds)
      val mids = lp.select(col("o").as("n")).distinct()
      val rp = pathRelSeeded(env, r, extra, mids)
      lp.withColumnRenamed("o", "__m")
        .join(rp.withColumnRenamed("s", "__m"), "__m")
        .select(col("s"), col("o"))
    case PAlt(l, r) =>
      pathRelSeeded(env, l, extra, seeds)
        .unionAll(pathRelSeeded(env, r, extra, seeds))
    case POpt(x) =>
      // zero-length matches pair each seed with itself (even when absent
      // from the graph, as ARQ does for constant endpoints)
      pathRelSeeded(env, x, extra, seeds)
        .unionAll(seeds.select(col("n").as("s"), col("n").as("o")))
        .distinct()
    case PClosure(x, includeZero) =>
      // frontier expansion from the seeds over the LAZY inner relation
      // (GraphOps.reachableFrom: a driver BFS probing it once per round
      // while the reach is small, the broadcast frontier past that).
      // Zero-length matches pair each seed with itself, even when absent
      // from the graph (§9.3, as ARQ does): a self-loop edge at every
      // seed adds exactly those pairs and reaches nothing new
      val edges = pathRel(env, x, extra)
      GraphOps.reachableFrom(
        if (includeZero) edges.unionAll(seeds.select(col("n").as("s"), col("n").as("o")))
        else edges,
        seeds)
  }

  // ---------- Expression compilation ----------

  /** Unwrap a serialized literal: `"v"...` -> v, anything else unchanged
    * (terms are stored as strings; plain store terms carry no quotes).
    */
  private def strOf(c: Column): Column =
    when(c.startsWith("\""),
      regexp_extract(c, "^\"((?:[^\"\\\\]|\\\\.)*)\"", 1)).otherwise(c)

  private def isIriCol(c: Column): Column =
    !c.startsWith("\"") && !c.startsWith("_:") && c.contains(":")

  /** Variables referenced by a value / boolean expression (FILTER scope
    * analysis for OPTIONAL join conditions).
    */
  private def valVars(e: EExpr): Set[String] = e match {
    case EVar(n) => Set(n)
    case EBin(l, _, r) => valVars(l) ++ valVars(r)
    case ECall(_, args) => args.flatMap(valVars).toSet
    case EIf(c, t, f) => exprVars(c) ++ valVars(t) ++ valVars(f)
    case _ => Set.empty
  }

  private def exprVars(e: Expr): Set[String] = e match {
    case Cmp(l, _, r) => valVars(l) ++ valVars(r)
    case And(l, r) => exprVars(l) ++ exprVars(r)
    case Or(l, r) => exprVars(l) ++ exprVars(r)
    case Not(x) => exprVars(x)
    case BFn(_, args) => args.flatMap(valVars).toSet
    // EXISTS correlates by join on raw (id-typed) columns — it never
    // inspects term values, so it contributes no decode requirements;
    // markers are boolean columns, likewise decode-free
    case ExistsE(_) => Set.empty
    case MarkerE(_) => Set.empty
    // id-space predicates run on the raw long columns — decode-free
    case IdEq(_, _) => Set.empty
    case IdEqVar(_, _) => Set.empty
  }

  private def compileVal(e: EExpr, resolve: String => Column = col(_)): Column = e match {
    case EVar(v) => resolve(v)
    case ENumL(v) => lit(v)
    case EStrL(s) => lit(s)
    case EIf(c, t, f) =>
      when(compileExprWith(c, resolve), compileVal(t, resolve))
        .otherwise(compileVal(f, resolve))
    case EBin(l, op, r) =>
      val (lc, rc) = (compileNum(l, resolve), compileNum(r, resolve))
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
      }
    case ECall(fn, args) =>
      def a0 = compileVal(args.head, resolve)
      fn match {
        case "STR" => strOf(a0)
        // XPath constructor casts (§17.5): invalid lexical forms -> NULL
        // (type error), numeric->integer truncates toward zero (XPath
        // fn:integer semantics; Spark's double->long cast truncates)
        case "XSD_STRING" => strOf(a0)
        case "XSD_INTEGER" | "XSD_LONG" | "XSD_INT" =>
          strOf(a0).try_cast("double").try_cast("long")
        case "XSD_DECIMAL" | "XSD_DOUBLE" | "XSD_FLOAT" =>
          strOf(a0).try_cast("double")
        case "XSD_BOOLEAN" =>
          when(strOf(a0).isin("true", "1"), lit(true))
            .when(strOf(a0).isin("false", "0"), lit(false))
        case "XSD_DATETIME" =>
          // normalized to the session zone (UTC everywhere in this
          // engine), ISO lexical out
          date_format(to_timestamp(strOf(a0)), "yyyy-MM-dd'T'HH:mm:ss")
        case "LANG" =>
          regexp_extract(a0, "^\"(?:[^\"\\\\]|\\\\.)*\"@([A-Za-z][A-Za-z0-9-]*)$", 1)
        case "STRLEN" => length(strOf(a0))
        case "UCASE" => upper(strOf(a0))
        case "LCASE" => lower(strOf(a0))
        case "CONCAT" => concat(args.map(x => compileVal(x, resolve).cast("string")): _*)
        case "COALESCE" => coalesce(args.map(compileVal(_, resolve)): _*)
        case "SUBSTR" =>
          // SPARQL SUBSTR is 1-based, length optional
          val start = compileNum(args(1), resolve).cast("int")
          args.lift(2) match {
            case Some(len) => strOf(a0).substr(start, compileNum(len, resolve).cast("int"))
            case None => strOf(a0).substr(start, length(strOf(a0)))
          }
        case "REPLACE" =>
          (args(1), args(2)) match {
            case (EStrL(pat), EStrL(rep)) => regexp_replace(strOf(a0), pat, rep)
            case _ => throw new IllegalArgumentException(
              "REPLACE pattern/replacement must be string literals")
          }
        case "STRBEFORE" =>
          val d = strOf(compileVal(args(1), resolve))
          when(strOf(a0).contains(d),
            call_function("substring_index", strOf(a0), d, lit(1)))
            .otherwise(lit(""))
        case "STRAFTER" =>
          val d = strOf(compileVal(args(1), resolve))
          when(strOf(a0).contains(d),
            expr_substr_after(strOf(a0), d)).otherwise(lit(""))
        case "ABS" => abs(compileNum(args.head, resolve))
        case "CEIL" => ceil(compileNum(args.head, resolve))
        case "FLOOR" => floor(compileNum(args.head, resolve))
        case "ROUND" => round(compileNum(args.head, resolve), 0)
        // date/time accessors over ISO-formatted date(time) strings.
        // (NOW/UUID/STRUUID/RAND — and argless BNODE — are DELIBERATELY
        // not implemented: they are non-deterministic, and every result
        // in this engine must replay bit-identically against an
        // independent oracle. The reference inherits them from its query
        // library; a port would use BIND-supplied timestamps/ids.)
        case "YEAR" => substring(strOf(a0), 1, 4).cast("int")
        case "MONTH" => substring(strOf(a0), 6, 2).cast("int")
        case "DAY" => substring(strOf(a0), 9, 2).cast("int")
        case "HOURS" =>
          regexp_extract(strOf(a0), "T(\\d{2})", 1).cast("int")
        case "MINUTES" =>
          regexp_extract(strOf(a0), "T\\d{2}:(\\d{2})", 1).cast("int")
        case "SECONDS" => // xsd:decimal — keeps the fractional part
          regexp_extract(strOf(a0), "T\\d{2}:\\d{2}:(\\d{2}(?:\\.\\d+)?)", 1)
            .cast("double")
        case "TZ" => // "Z", "+05:30", ... or "" when absent
          regexp_extract(strOf(a0), "(Z|[+-]\\d{2}:\\d{2})$", 1)
        case "TIMEZONE" => // xsd:dayTimeDuration serialization of the offset
          val tzS = regexp_extract(strOf(a0), "(Z|[+-]\\d{2}:\\d{2})$", 1)
          val h = substring(tzS, 2, 2).cast("int")
          val m = substring(tzS, 5, 2).cast("int")
          when(tzS === "Z", lit("PT0S"))
            .when(tzS === "", lit(null))
            .otherwise(concat(
              when(tzS.startsWith("-"), lit("-")).otherwise(lit("")),
              lit("PT"),
              when(h > 0, concat(h.cast("string"), lit("H"))).otherwise(lit("")),
              when(m > 0, concat(m.cast("string"), lit("M"))).otherwise(lit("")),
              when(h === 0 && m === 0, lit("0S")).otherwise(lit(""))))
        // term constructors / inspectors (SPARQL 1.1 §17.4)
        case "IRI" | "URI" => strOf(a0) // string-serialized term model
        case "STRLANG" =>
          concat(lit("\""), strOf(a0), lit("\"@"), strOf(compileVal(args(1), resolve)))
        case "STRDT" => // typed literal: "lex"^^<dt> (IRIs serialize bare)
          concat(lit("\""), strOf(a0), lit("\"^^"),
            strOf(compileVal(args(1), resolve)))
        case "BNODE" =>
          // content-derived blank node (md5 — replayable in any engine).
          // The ARGLESS form (fresh node per solution) is excluded with
          // the other non-deterministic builtins; see the note at the
          // date/time accessors.
          if (args.isEmpty) throw new IllegalArgumentException(
            "BNODE() without argument is non-deterministic and not supported; " +
              "use BNODE(str)")
          else concat(lit("_:b"), substring(md5(strOf(a0).cast("binary")), 1, 16))
        case "DATATYPE" =>
          val langRe = "^\"(?:[^\"\\\\]|\\\\.)*\"@[A-Za-z][A-Za-z0-9-]*$"
          val dtRe = "^\"(?:[^\"\\\\]|\\\\.)*\"\\^\\^(.+)$"
          when(a0.rlike(dtRe), regexp_extract(a0, dtRe, 1))
            .when(a0.rlike(langRe),
              lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
            .when(a0.startsWith("\"") ||
              (!a0.startsWith("_:") && !a0.contains(":")),
              lit("http://www.w3.org/2001/XMLSchema#string"))
            .otherwise(lit(null))
        case "ENCODE_FOR_URI" =>
          // url_encode is x-www-form-urlencoded; patch the three spots it
          // diverges from RFC 3986 percent-encoding (space, ~, *)
          regexp_replace(regexp_replace(regexp_replace(
            url_encode(strOf(a0)),
            "\\+", "%20"), "%7E", "~"), "\\*", "%2A")
        case "MD5" => md5(strOf(a0).cast("binary"))
        case "SHA1" => sha1(strOf(a0).cast("binary"))
        case "SHA256" => sha2(strOf(a0).cast("binary"), 256)
        case "SHA384" => sha2(strOf(a0).cast("binary"), 384)
        case "SHA512" => sha2(strOf(a0).cast("binary"), 512)
        case other =>
          throw new IllegalArgumentException(s"unsupported function $other()")
      }
  }

  /** Suffix after the FIRST occurrence of the delimiter (SPARQL STRAFTER;
    * `substring_index(s, d, -1)` would cut at the LAST occurrence).
    */
  private def expr_substr_after(s: Column, d: Column): Column =
    s.substr(call_function("locate", d, s) + length(d), length(s))

  private def compileNum(e: EExpr, resolve: String => Column = col(_)): Column = e match {
    case ENumL(v) => lit(v)
    case other => compileVal(other, resolve).cast("double")
  }

  private def compileExpr(e: Expr): Column = compileExprWith(e, col(_))

  private def compileExprWith(e: Expr, resolve: String => Column): Column = e match {
    case And(l, r) => compileExprWith(l, resolve) && compileExprWith(r, resolve)
    case Or(l, r) => compileExprWith(l, resolve) || compileExprWith(r, resolve)
    case Not(x) => !compileExprWith(x, resolve)
    case MarkerE(n) => coalesce(col(n), lit(false))
    // raw id columns deliberately (NOT resolve: a sibling predicate may
    // have decoded the same var to its __str shadow)
    case IdEq(v, ids) => col(v).isin(ids: _*)
    case IdEqVar(a, b) => col(a) === col(b)
    case ExistsE(_) => throw new IllegalArgumentException(
      "EXISTS is supported in FILTER and BIND expressions (materialized " +
        "positions), not here — bind it to a variable first")
    case BFn(fn, args) =>
      def a0 = compileVal(args.head, resolve)
      fn match {
        case "BOUND" => args.head match {
          case EVar(v) => resolve(v).isNotNull
          case _ => throw new IllegalArgumentException("BOUND expects a variable")
        }
        case "REGEX" =>
          val pat = args(1) match {
            case EStrL(s) => s
            case _ => throw new IllegalArgumentException("REGEX pattern must be a string literal")
          }
          val flagged = args.lift(2) match {
            case Some(EStrL(f)) if f.contains("i") => "(?i)" + pat
            case _ => pat
          }
          compileVal(args.head, resolve).rlike(flagged)
        case "IN" =>
          args.tail.map(x => a0 === compileVal(x, resolve)).reduce(_ || _)
        case "ISIRI" | "ISURI" => isIriCol(a0)
        case "ISBLANK" => a0.startsWith("_:")
        case "ISLITERAL" => !a0.startsWith("_:") && (a0.startsWith("\"") || !a0.contains(":"))
        case "ISNUMERIC" =>
          // bare numeric serialization (the store renders numbers unquoted)
          a0.rlike("^[+-]?(\\d+(\\.\\d+)?|\\.\\d+)$")
        case "STRSTARTS" => strOf(a0).startsWith(strOf(compileVal(args(1), resolve)))
        case "STRENDS" => strOf(a0).endsWith(strOf(compileVal(args(1), resolve)))
        case "CONTAINS" => strOf(a0).contains(strOf(compileVal(args(1), resolve)))
        case "LANGMATCHES" =>
          // basic language-range match: "*" matches any non-empty tag,
          // otherwise case-insensitive tag-or-prefix ("en" matches en-GB)
          val range = compileVal(args(1), resolve)
          val tag = lower(a0)
          when(range === "*", tag =!= "")
            .otherwise(tag === lower(range) || tag.startsWith(concat(lower(range), lit("-"))))
        case "SAMETERM" => a0 === compileVal(args(1), resolve)
        case other => throw new IllegalArgumentException(s"unsupported filter function $other()")
      }
    case Cmp(l, op, r) =>
      // numeric literal or arithmetic on either side -> numeric comparison
      // (terms are stored as strings; the reference's decode-time type
      // heuristic, Transformations.scala:27-75, becomes an explicit cast)
      def numericish(x: EExpr): Boolean = x match {
        case _: ENumL | _: EBin => true
        case _ => false
      }
      val numeric = Seq(l, r).exists(numericish)
      def operand(o: EExpr): Column = o match {
        case EVar(v) if numeric => resolve(v).cast("double")
        case other => compileVal(other, resolve)
      }
      val (lc, rc) = (operand(l), operand(r))
      op match {
        case "=" => lc === rc
        case "!=" => lc =!= rc
        case "<" => lc < rc
        case "<=" => lc <= rc
        case ">" => lc > rc
        case ">=" => lc >= rc
      }
  }
}
