package graft.algebra

import org.apache.spark.sql.Column

import graft.model.Term

/**
 * SPARQL algebra — the Spark-native equivalent of Jena's `Op` tree
 * (reference: 44 classes under
 * jena-arq/src/main/java/org/apache/jena/sparql/algebra/op/, executed by
 * jena-arq/.../sparql/engine/main/OpExecutor.java:64; inventory in
 * SURVEY.md §2). This ADT is the IR the compiler (`Compiler.scala`) lowers
 * to DataFrame operations; Catalyst then does physical planning, so the
 * reference's optimizer passes that Catalyst subsumes (filter placement,
 * TopN fusion, join strategy — SURVEY.md §4.1) never appear here.
 *
 * A solution set ("binding table", reference
 * jena-arq/.../sparql/engine/binding/Binding.java:45) is a DataFrame with
 * one 4-field term struct column `(kind, lex, dt, lang)` per visible
 * variable; an unbound variable is a NULL struct (SPARQL "absent mapping"
 * compiled to SQL NULL with explicit compatible-binding join conditions —
 * SURVEY.md §2.3 caveat).
 */
sealed trait TermPat
/** Concrete term — a constant in the pattern. */
final case class TConst(t: Term) extends TermPat
/** Named variable — becomes a solution column. */
final case class TVar(name: String) extends TermPat
/** Wildcard that binds nothing (Node.ANY, Node.java:57). */
case object TAny extends TermPat

object TermPat {
  def iri(s: String): TermPat = TConst(Term.iri(s))
  def v(name: String): TermPat = TVar(name)
}

/** One triple pattern of a BGP (Graph.find shape, Graph.java:123–129). */
final case class TriplePattern(s: TermPat, p: TermPat, o: TermPat) {
  def vars: Seq[String] =
    Seq(s, p, o).collect { case TVar(n) => n }.distinct
}

/**
 * Property-path algebra (reference AST: jena-arq/.../sparql/path/P_*.java,
 * 19 classes; evaluated by the ALP visited-set BFS,
 * jena-arq/.../sparql/path/eval/PathEngine.java:96–129). Closure paths are
 * evaluated as semi-naive iterative DataFrame joins (SURVEY.md §2.8).
 */
sealed trait Path
final case class PLink(iri: String) extends Path              // P_Link
final case class PInverse(p: Path) extends Path               // P_Inverse  ^p
final case class PSeq(a: Path, b: Path) extends Path          // P_Seq      p1/p2
final case class PAlt(a: Path, b: Path) extends Path          // P_Alt      p1|p2
final case class POneOrMore(p: Path) extends Path             // P_OneOrMore  p+
final case class PZeroOrMore(p: Path) extends Path            // P_ZeroOrMore p*
final case class PZeroOrOne(p: Path) extends Path             // P_ZeroOrOne  p?
/** !(:p1|...|:pn) — any forward predicate not in the set (P_NegPropSet). */
/** `!(p1|…|^q1|…)` — P_NegPropSet with forward AND inverse members
 * (reference: jena-arq/.../sparql/path/P_NegPropSet.java): matches x→y if
 * some triple (x,p,y) has p ∉ fwd, OR some triple (y,p,x) has p ∉ inv
 * (each direction only contributes when its member list is present). */
final case class PNegPropSet(iris: Seq[String],
                             invIris: Seq[String] = Nil) extends Path
/** p{n,m} fixed/bounded repetition (P_FixedLength / P_Mod). */
final case class PFixedLength(p: Path, n: Int) extends Path
/** p{n,m} / p{n,} modifier (P_Mod.java:35): between `min` and `max`
 * repetitions; `max = -1` means unbounded ({n,}). Like the other
 * arbitrary-length paths, results are distinct pairs. */
final case class PMod(p: Path, min: Int, max: Int) extends Path
/** ARQ extension P_Distinct (`P_Distinct.java`): force set semantics on
 * the sub-path — one (src, dst) pair regardless of how many derivations
 * exist. Algebra-level only, like the reference (no query-text syntax in
 * either system's grammar). */
final case class PDistinct(p: Path) extends Path
/** ARQ extension P_Multi (`P_Multi.java`): evaluate the sub-path with
 * duplicates preserved (the reference swaps in PathEngineN,
 * `PathEvaluator.java:150`). Non-closure sub-paths here already carry bag
 * cardinality, so this is a pass-through; closure sub-paths (`+`/`*`)
 * stay set-valued — a documented divergence from PathEngineN's per-path
 * enumeration, which the reference itself labels experimental. */
final case class PMulti(p: Path) extends Path
/** ARQ extension P_Shortest (`P_Shortest.java`): unimplemented in the
 * reference too — its evaluator throws ARQNotImplemented
 * (`PathEvaluator.java:158`); evaluation here throws the same way. */
final case class PShortest(p: Path) extends Path

/** Column expression over a solution row: given a resolver from variable
 * name to its term-struct Column, produce the Spark Column. Used where an
 * expression must be evaluated against columns that do not yet exist as a
 * plain DataFrame (e.g. inside a left-join condition, OpExecutor.java:233). */
trait RowExpr extends Serializable {
  def apply(v: String => Column): Column
}
object RowExpr {
  def apply(f: (String => Column) => Column): RowExpr = new RowExpr {
    def apply(v: String => Column): Column = f(v)
  }
}

final case class SortKey(v: String, ascending: Boolean = true)

sealed trait Op

// ---- scans (§2.1)
/** Basic graph pattern: conjunction of triple patterns joined on shared
 * variables (OpBGP, OpExecutor.java:127 → StageGeneratorGeneric). */
final case class Bgp(patterns: Seq[TriplePattern]) extends Op
/** Single property-path pattern (OpPath, OpExecutor.java:183). */
final case class PathPattern(s: TermPat, path: Path, o: TermPat) extends Op
/** GRAPH ?g { BGP } / GRAPH <iri> { BGP } over a quad table — the quad
 * scan + OpGraph pair (OpQuadPattern OpExecutor.java:163; OpGraph
 * OpExecutor.java:139–157): the graph slot joins/filters exactly like the
 * s/p/o slots, with a variable graph becoming a shared join column. */
final case class QuadBgp(g: TermPat, patterns: Seq[TriplePattern]) extends Op
/** GRAPH <iri> { any group } — the general OpGraph for a CONSTANT graph
 * name: the body (which may hold FILTER/OPTIONAL/UNION/paths…) evaluates
 * against the named graph's triples re-scoped as a plain triple table.
 * A VARIABLE graph over a non-BGP body stays out of the subset (the g
 * binding would have to thread through every inner operator). */
final case class GraphScope(g: Term, input: Op) extends Op
/** GRAPH ?var { any body } — the general OpGraph for a VARIABLE graph
 * name over bodies the QuadBgp rewrite cannot express faithfully
 * (property paths, subqueries/aggregates, MINUS, graph-independent
 * bodies): SPARQL 18.5 eval — union over the dataset's named graphs g of
 * Join(eval(D[g], body), {var→g}). The var is NOT visible inside the body
 * (W3C graph-variable-scope); a body that itself binds the name joins at
 * the boundary. The compiler enumerates the DISTINCT named-graph names
 * driver-side — bounded by the dataset's graph count, which is small in
 * practice (a 100 TB corpus has few named graphs, not few rows); the
 * per-graph bodies then evaluate distributed. */
final case class GraphVarEnum(v: String, body: Op) extends Op

/** SERVICE clause (OpService, jena-arq/.../algebra/op/OpService.java):
 * full syntax (sparql11 syntax-fed) + execution against endpoints wired
 * through [[ServiceRegistry]] — any GraphSource can serve as an
 * endpoint (loopback federation over other stores/sessions). HTTP
 * transport itself stays out of scope in this zero-egress build
 * (SURVEY §7.4); a deployment registers a source wrapping its client.
 * SILENT ⇒ unknown/failing endpoint evaluates to the unit table. */
final case class Service(silent: Boolean, target: TermPat, body: Op,
                         bodyText: Option[String] = None) extends Op

// ---- projections / filters / binds (§2.2)
final case class Project(vars: Seq[String], input: Op) extends Op
/** EBV filter; expression evaluation errors compile to NULL ⇒ row dropped
 * (QueryIterFilterExpr.java:52–63 semantics for free via SQL NULL). */
final case class Filter(cond: RowExpr, input: Op) extends Op
/** BIND/LET — add a computed term column; eval error ⇒ NULL = unbound, row
 * kept (QueryIterAssign.java:67–69). `expr` must yield a term struct. */
final case class Extend(v: String, expr: RowExpr, input: Op) extends Op
/** VALUES — inline constant solution table (OpTable, OpExecutor.java:335). */
final case class Table(vars: Seq[String], rows: Seq[Map[String, Term]]) extends Op

// ---- joins (§2.3)
final case class Join(l: Op, r: Op) extends Op
/** OPTIONAL — SPARQL left join with optional embedded condition evaluated
 * over the merged row (OpLeftJoin, OpExecutor.java:233). */
final case class LeftJoin(l: Op, r: Op, cond: Option[RowExpr] = None) extends Op
/** EXISTS { } — keep left rows with ≥1 compatible right row
 * (OpSemiJoin, QueryIterHalfJoin.java:32). */
final case class SemiJoin(l: Op, r: Op) extends Op
/** NOT EXISTS { } (OpAntiJoin, QueryIterHalfJoin.java:38). */
final case class AntiJoin(l: Op, r: Op) extends Op
/** MINUS — removes left rows compatible with some right row sharing ≥1
 * *bound* variable; disjoint-domain rows survive (differs from AntiJoin!
 * OpExecutor.java:267–277, QueryIterMinus.java:35). */
final case class Minus(l: Op, r: Op) extends Op
/** Expression-level EXISTS (E_Exists/E_NotExists INSIDE a constraint, e.g.
 * `FILTER(?a = ?b || NOT EXISTS {…})`): extends every input row with a
 * BOUND boolean term `v` = whether `r` has a compatible match — usable at
 * any polarity/position, unlike the Semi/AntiJoin rewrite which is sound
 * only for whole-FILTER [NOT] EXISTS. */
final case class ExistsFlag(v: String, r: Op, input: Op) extends Op
/** Drop helper columns (e.g. spent EXISTS flags) preserving the remaining
 * vars' boundness — a Project complement. */
final case class DropVars(vars: Seq[String], input: Op) extends Op
/** LATERAL — per-left-row evaluation of the RHS with the left's bindings
 * substituted in (OpLateral, OpExecutor.java:240). Set-at-a-time, the RHS
 * compiles once for all distinct left bindings, keyed by the binding
 * (Compiler.LeftBindings), and the left rows join back on that key. */
final case class Lateral(l: Op, r: Op) extends Op
/** UNFOLD — explode an ArrayType column (a materialized CDT list, e.g.
 * from SparqlAggregates.foldList) into one row per element
 * (OpUnfold, QueryIterUnfold.java; Spark mapping `posexplode`). Binds
 * `outVar` to the element and optionally `idxVar` to its 1-based index. */
final case class Unfold(listVar: String, outVar: String,
                        idxVar: Option[String], input: Op) extends Op

// ---- aggregation (§2.4); HAVING = Filter above a Group (SURVEY.md §3.A)
/** groupBy keys + named aggregate expressions. Each aggregate Column must
 * produce a term struct (use TermCols.intAgg/decAgg/strAgg wrappers). */
final case class Group(keys: Seq[String], aggs: Seq[(String, RowExpr)], input: Op) extends Op

// ---- sort / slice / dedup (§2.6)
/** ORDER BY with the SPARQL total order across term kinds:
 * unbound < blank < IRI < literal < triple term (NodeCmp.java:54). */
final case class Order(keys: Seq[SortKey], input: Op) extends Op
final case class Slice(offset: Long, limit: Long, input: Op) extends Op
final case class Distinct(input: Op) extends Op
/** REDUCED permits-but-does-not-require dedup; full dedup is a legal
 * implementation (QueryIterReduced semantics). */
final case class Reduced(input: Op) extends Op

// ---- set ops (§2.7)
/** Bag union; differing variable sets allowed (missing vars → unbound). */
final case class Union(l: Op, r: Op) extends Op

/** GRAPH with an EMPTY body — enumerates / tests the dataset's NAMED
 * graph names (OpDatasetNames, OpExecutor.java:327): `GRAPH ?g {}` binds
 * ?g to each named graph, `GRAPH <g> {}` is an existence gate. */
final case class DatasetNames(g: TermPat) extends Op

/** FROM / FROM NAMED dataset description (OpDatasetNames neighborhood;
 * reference resolves these in DatasetDescription → DynamicDatasets):
 * the input quad table is re-scoped so the default graph is exactly the
 * union of `defaults` and the visible named graphs are exactly `named`. */
final case class DatasetClause(defaults: Seq[String], named: Seq[String],
                               input: Op) extends Op

// ---- trivial structural ops (OpLabel / OpNull — algebra/op/OpLabel.java,
//      OpNull.java; OpList is an identity wrapper and needs no node)
/** Annotation wrapper — compiles to its input (OpLabel semantics). */
final case class Label(label: String, input: Op) extends Op
/** The empty solution set: zero rows, no variables (OpNull). */
case object Null extends Op

// ---- extension escape hatch (OpExt, OpExecutor.java:347)
final case class ExtOp(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                       certainVars: Seq[String], input: Op) extends Op

/** ExtOp variant for property functions that also read the GRAPH
 * (container membership, rdf:first/rest collection traversal — the
 * OpPropFunc shapes of pfunction/library): `f(solutions, triples)`. */
final case class GraphOp(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame,
                         certainVars: Seq[String], input: Op) extends Op
