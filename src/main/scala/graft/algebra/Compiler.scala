package graft.algebra

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Term
import graft.ops.Graphs
import graft.store.TripleStore

/**
 * Algebra → DataFrame compiler — the Spark-native `OpExecutor`
 * (reference: jena-arq/.../sparql/engine/main/OpExecutor.java:64, 495 LoC,
 * dispatching to 54 pull-based QueryIterator classes). Instead of a Volcano
 * iterator tree we emit one declarative DataFrame per algebra node and let
 * Catalyst plan it: filter/projection pushdown, TopN fusion, join strategy
 * selection and AQE replace the reference's OptimizerStd passes
 * (SURVEY.md §4.1 — "most reference rewrites are subsumed by Catalyst").
 *
 * Variable boundness is tracked per node like the reference's OpVars
 * (algebra/OpVars.java:47–90): `certain` vars are bound in every solution,
 * `maybe` vars can be NULL (after OPTIONAL / UNION / BIND). Shared-var join
 * keys compile to exact equi-conditions when both sides are certain —
 * a hashable Catalyst equi-join — and to SPARQL compatible-binding
 * conditions (`l <=> r OR l IS NULL OR r IS NULL`) only when a side may be
 * unbound (SURVEY.md §2.3 caveat). That keeps the common case (BGP chains)
 * on the broadcast/shuffled-hash fast path at 100 TB scale.
 */
object Compiler {

  /** A compiled solution set: DataFrame with one term-struct column per
   * variable + boundness metadata. */
  final case class Compiled(df: DataFrame, certain: Set[String], maybe: Set[String]) {
    def vars: Set[String] = certain ++ maybe
  }

  /** Where triple patterns scan from. `DfGraph` is the in-memory shape (a
   * DataFrame with term-struct columns s, p, o); the snapshot faces read a
   * materialized TripleStore snapshot, where each pattern picks its layout
   * by shape and pushes flat-column equality filters into the parquet
   * scan — the FastTripleStore index-selection rule
   * (mem/store/fast/FastTripleStore.java:36–85) wired into the compiler
   * instead of a union re-scan. Layout names, schemas and the flat term
   * columns all come from TripleStore ([[storeScan]]). */
  sealed trait GraphSource {
    def df: DataFrame
    def spark: SparkSession = df.sparkSession
  }
  final case class DfGraph(df: DataFrame) extends GraphSource

  /** A term-struct SPO/POS/OSP snapshot (TripleStore.materialize). */
  final case class SnapshotGraph(override val spark: SparkSession, dir: String)
      extends GraphSource {
    /** Struct view over the SPO layout — the fallback for operators that
     * need the whole graph (paths beyond links, DESCRIBE, …). */
    lazy val df: DataFrame = TripleStore.unflatten(
      TripleStore.read(spark, dir, TripleStore.termLayout("spo")), TripleStore.TripleSlots)
  }

  /**
   * Id-encoded snapshot (TripleStore.materializeEncoded output — the TDB2
   * NodeTable analog, jena-tdb2/.../nodetable/NodeTable.java): narrow
   * (s_id, p_id, o_id) LONG fact layouts plus a terms dictionary. A BGP
   * compiles to id-equi-joins over ~24-byte rows — the shuffle moves ids,
   * not lexical forms — and the dictionary joins back in ONCE per variable
   * at the BGP boundary (the columnar "decode at projection edges" of
   * SURVEY.md §1.6). Pattern constants are translated to ids by a
   * driver-side dictionary probe, bounded by the query's constant count.
   */
  final case class EncodedSnapshotGraph(override val spark: SparkSession, dir: String)
      extends GraphSource {
    /** Struct view (decoded) — fallback for operators beyond BGPs. */
    lazy val df: DataFrame =
      TripleStore.decodeEncoded(spark, dir).select("s", "p", "o")

    private[algebra] def terms: DataFrame = TripleStore.read(spark, dir, TripleStore.TermsLayout)

    /** Narrow (s_id, p_id, o_id) scan of a layout. */
    private[algebra] def idLayout(order: String): DataFrame =
      TripleStore.read(spark, dir, TripleStore.idLayout(order)).select("s_id", "p_id", "o_id")

    /** Driver-side constant→id probe (one scan for all constants of the
     * BGP; a term missing from the dictionary matches nothing). */
    private[algebra] def idsOf(cs: Seq[Term]): Map[Term, Long] = {
      if (cs.isEmpty) return Map.empty
      val cond = cs.map(t => col("kind") === t.kind && col("lex") === t.lex &&
        col("dt") === t.dt && col("lang") === t.lang).reduce(_ || _)
      terms.filter(cond).select("id", "kind", "lex", "dt", "lang").collect()
        .map(r => Term(r.getByte(1), r.getString(2), r.getString(3), r.getString(4)) ->
          r.getLong(0)).toMap
    }

    def scanBgp(patterns: Seq[TriplePattern]): Compiled = {
      val consts = patterns.flatMap(tp => Seq(tp.s, tp.p, tp.o))
        .collect { case TConst(t) => t }.distinct
      val ids = idsOf(consts)
      val missingConst = consts.exists(t => !ids.contains(t))
      val idCodec = SlotCodec(x => Seq(s"${x}_id"),
        t => Seq(ids.getOrElse(t, Long.MinValue)), x => col(s"${x}_id"))
      val scans = patterns.zipWithIndex.map { case (tp, k) =>
        val slots = slotsOf(tp)
        val d = TripleStore.read(spark, dir, TripleStore.idLayout(layoutOrder(slots)))
        // a constant outside the dictionary matches nothing
        val c = patternScan(if (missingConst) d.limit(0) else d, slots, idCodec)
        if (c.vars.isEmpty) c.df.limit(1).toDF(s"__u$k") else c.df
      }
      val joined = scans.reduceLeft { (l, r) =>
        val shared = l.columns.toSet.intersect(r.columns.toSet)
          .filterNot(_.startsWith("__u")).toSeq.sorted
        if (shared.nonEmpty) l.join(r, shared, "inner") else l.crossJoin(r)
      }
      val vars = joined.columns.filterNot(_.startsWith("__u")).toSeq
      // decode: one dictionary join per variable, id → term struct
      val decoded = vars.foldLeft(joined.select(vars.map(col): _*)) { (d, v) =>
        val dict = terms.select(col("id").as(s"__tid_$v"),
          struct(col("kind"), col("lex"), col("dt"), col("lang")).as(s"__t_$v"))
        d.join(dict, col(v) === col(s"__tid_$v"))
      }
      val out = vars.map(v => col(s"__t_$v").as(v))
      Compiled(
        if (out.isEmpty) joined.select(lit(1).as("__unit")).limit(1)
        else decoded.select(out: _*),
        vars.toSet, Set.empty)
    }
  }

  /** Materialized QUAD snapshot (GSPO/GPOS/GOSP layouts): GRAPH patterns
   * pick the layout by s/p/o shape — every quad layout leads with g_lex,
   * so a bound graph prunes file ranges on all of them. */
  final case class QuadSnapshotGraph(override val spark: SparkSession, dir: String)
      extends GraphSource {
    /** (s,p,o,g) struct view over GSPO — fallback for generic operators. */
    lazy val df: DataFrame = TripleStore.unflatten(
      TripleStore.read(spark, dir, TripleStore.quadLayout("spo")), Seq("s", "p", "o", "g"))
  }

  /** How a frame holds a term slot: its columns, the values a constant
   * term takes in them, and the term read back. */
  private[algebra] final case class SlotCodec(cols: String => Seq[String],
                                              values: Term => Seq[Any],
                                              term: String => Column)

  /** Term-struct columns named after the slot (in-memory graphs). */
  private val structCodec = SlotCodec(x => Seq(x), t => Seq(TermCols.const(t)), col)

  /** TripleStore's flat x_kind/x_lex/x_dt/x_lang columns. */
  private val flatCodec = SlotCodec(TripleStore.flatCols,
    t => Seq(t.kind, t.lex, t.dt, t.lang), TripleStore.term)

  private[algebra] def slotsOf(tp: TriplePattern): Seq[(String, TermPat)] =
    Seq(("s", tp.s), ("p", tp.p), ("o", tp.o))

  /** The layout order a pattern reads: by its bound s/p/o slots. */
  private def layoutOrder(slots: Seq[(String, TermPat)]): String =
    TripleStore.order(x => slots.exists { case (c, p) => c == x && p.isInstanceOf[TConst] })

  /** One triple or quad pattern over `d` (Graph.find, the 8 MatchPattern
   * shapes — PatternClassifier.java:51): each constant slot becomes an
   * equality on the slot's columns (pushed into a parquet scan), a
   * repeated variable an equality between its slots, and each variable
   * comes out as one term column. */
  private[algebra] def patternScan(d0: DataFrame, slots: Seq[(String, TermPat)],
                                   codec: SlotCodec): Compiled = {
    def eqs(cs: Seq[String], vs: Seq[Any]): Column =
      cs.zip(vs).map { case (c, v) => col(c) === v }.reduce(_ && _)
    var d = d0
    slots.foreach {
      case (c, TConst(t)) => d = d.where(eqs(codec.cols(c), codec.values(t)))
      case _ =>
    }
    val byVar = slots.collect { case (c, TVar(n)) => (n, c) }.groupBy(_._1)
    byVar.values.foreach(_.map(_._2).sliding(2).foreach {
      case Seq(a, b) => d = d.where(eqs(codec.cols(a), codec.cols(b).map(col)))
      case _ =>
    })
    val out = byVar.map { case (n, occ) => codec.term(occ.head._2).as(n) }.toSeq
    Compiled(if (out.isEmpty) d.select(lit(1).as("__unit")) else d.select(out: _*),
      byVar.keySet, Set.empty)
  }

  /** The graph name's lexical form in a quad layout row. */
  private def storedGraphLex: Column = TermCols.lex(TripleStore.term("g"))

  /** One pattern over a snapshot's term-struct (`quads = false`, slots
   * s, p, o) or quad (slots g, s, p, o) layouts — the one read path of
   * both snapshot faces: the layout by shape, read with its schema, then
   * [[patternScan]] over the flat columns after the optional `where`. */
  private[algebra] def storeScan(spark: SparkSession, dir: String, quads: Boolean,
                                 slots: Seq[(String, TermPat)],
                                 where: Option[Column] = None): Compiled = {
    val order = layoutOrder(slots)
    val d = TripleStore.read(spark, dir,
      if (quads) TripleStore.quadLayout(order) else TripleStore.termLayout(order))
    patternScan(where.fold(d)(d.where), slots, flatCodec)
  }

  /** The graph being queried: a DataFrame with term-struct columns s, p, o
   * (the `Dataset[Triple]` shape of SURVEY.md §1.7). */
  def compile(op: Op, triples: DataFrame): DataFrame =
    comp(op, DfGraph(triples)).df

  /** Compile against any graph source (e.g. a store snapshot). */
  def compile(op: Op, g: GraphSource): DataFrame = comp(op, g).df

  /** Reserved default-graph name (reference: Quad.java:40). A quad table
   * is any graph DataFrame that also has a `g` term-struct column; a plain
   * BGP over it sees only the default graph. */
  val DefaultGraph = "urn:x-arq:DefaultGraph"

  private def hasGraphCol(g: DataFrame): Boolean = g.columns.contains("g")

  /** The ACTIVE (default) graph's triples of a frame that may be a quad
   * table: default-graph rows only, empty-graph marker rows dropped;
   * triple tables pass through. ONE definition shared by BGP scans and
   * PathEval so the two can never diverge. */
  private[algebra] def defaultGraphTriples(df: DataFrame): DataFrame =
    if (hasGraphCol(df))
      df.filter((TermCols.lex(col("g")) === DefaultGraph || col("g").isNull) &&
        col("s").isNotNull)
    else df

  /** Compile `op` in the scope `g`. ONE compiler serves an active graph
   * (any plain [[GraphSource]]) and the two [[KeyedScope]]s, which the
   * reference evaluates with the same executor per graph or per row
   * (OpExecutor.java:139–157 re-scopes the active graph for GRAPH ?g;
   * QueryIterLateral substitutes each left row into a LATERAL's right
   * side):
   *  - [[NamedGraphs]], every named graph at once — the body of a
   *    single-plan GRAPH ?var, keyed by the graph;
   *  - [[LeftBindings]], every distinct left binding of a LATERAL at once
   *    — its right side, keyed by the binding.
   * Every result in a keyed scope carries the scope's hidden certain key
   * columns ([[scopeKeys]]; nested scopes add theirs), so the shared-var
   * join machinery scopes joins, OPTIONAL, EXISTS and Union to one key by
   * itself, each operand compiled on its own. The key branches are
   * shared: Project keeps the keys and DropVars never drops them; Group
   * keys on them and pads keyless aggregates over the scope's names;
   * Slice ranks within each key; MINUS keys on them without counting them
   * as shared variables. Per graph, a BGP scans the named quads with the
   * graph slot bound to [[AGV]], a path walks in [[PathEval.PerGraph]],
   * and VALUES and Null cross the graph names. Per left binding, a leaf
   * (and any node the scope has no branch for) compiles in the enclosing
   * scope and is then correlated with the left bindings
   * ([[correlate]]); expressions read a substituted variable the subtree
   * does not bind from the binding ([[resolve]]). */
  private[algebra] def comp(op: Op, g: GraphSource): Compiled = op match {
    case _ if !inScope(op, g) => g match {
      case s: LeftBindings => correlate(s, comp(op, s.outer))
      case _ => throw new IllegalStateException(
        s"$op is not graph-local — graphVarSinglePlan admits no such GRAPH ?var body")
    }

    case Bgp(patterns) =>
      require(patterns.nonEmpty, "empty BGP")
      g match {
        case NamedGraphs(dataset) => comp(QuadBgp(TVar(AGV), patterns), dataset)
        case sg: SnapshotGraph =>
          patterns.map(tp => storeScan(sg.spark, sg.dir, quads = false, slotsOf(tp)))
            .reduceLeft(join(_, _, "inner"))
        case esg: EncodedSnapshotGraph => esg.scanBgp(patterns)
        case qsg: QuadSnapshotGraph =>
          // un-GRAPHed BGP over a quad store = default graph only
          patterns.map(tp => storeScan(qsg.spark, qsg.dir, quads = true, slotsOf(tp),
            Some(storedGraphLex === DefaultGraph))).reduceLeft(join(_, _, "inner"))
        case _ =>
          // on a quad table, an un-GRAPHed BGP matches the default graph
          // only; s-NULL marker rows (empty-graph existence markers) are
          // not triples
          val base = defaultGraphTriples(g.df)
          patterns.map(tp => patternScan(base, slotsOf(tp), structCodec))
            .reduceLeft(join(_, _, "inner"))
      }

    case QuadBgp(gp, patterns) =>
      require(patterns.nonEmpty, "empty QuadBgp")
      g match {
        case qsg: QuadSnapshotGraph =>
          // GRAPH never matches the default graph
          patterns.map(tp => storeScan(qsg.spark, qsg.dir, quads = true,
            ("g", gp) +: slotsOf(tp), Some(storedGraphLex =!= DefaultGraph)))
            .reduceLeft(join(_, _, "inner"))
        case _ =>
          require(hasGraphCol(g.df), "QuadBgp needs a quad table (g column)")
          // GRAPH never matches the default graph (SPARQL dataset
          // semantics); empty-graph marker rows are not triples
          val named = g.df.filter(TermCols.lex(col("g")) =!= DefaultGraph &&
            col("g").isNotNull && col("s").isNotNull)
          patterns.map(tp => patternScan(named, ("g", gp) +: slotsOf(tp), structCodec))
            .reduceLeft(join(_, _, "inner"))
      }

    case pp: PathPattern => pathIn(g, pp, None)

    case Project(vars, in) =>
      // a sub-SELECT substitutes only the variables it projects
      val c = comp(in, narrow(g, vars.toSet))
      val keep = vars ++ scopeKeys(g)
      // projecting a var the pattern never binds is legal SPARQL — it is
      // simply unbound in every row (ARQ ValueTesting, pfunc ASK shapes)
      Compiled(c.df.select(keep.map(v =>
          if (c.vars(v)) col(v) else lit(null).cast(TermCols.schema).as(v)): _*),
        c.certain.intersect(keep.toSet),
        vars.toSet -- c.certain)

    case Filter(cond, in) =>
      val c = comp(in, g)
      // SQL NULL-filter drops the row = SPARQL eval-error semantics
      Compiled(c.df.filter(cond(v => resolve(c, v, g))), c.certain, c.maybe)

    case Extend(name, expr, in) =>
      val c = comp(in, g)
      require(!c.vars.contains(name) && leftValue(g, name).isEmpty, s"Extend onto bound var $name")
      Compiled(c.df.withColumn(name, expr(v => resolve(c, v, g))),
        c.certain, c.maybe + name)

    case Table(vars, rows) =>
      val vt = valuesTable(g.spark, vars, rows)
      g match {
        // VALUES is graph-independent: per graph it yields the table once
        // PER named graph — the tiny table broadcasts over the distributed
        // name frame (never a driver enumeration)
        case ng: NamedGraphs =>
          Compiled(ng.names.crossJoin(broadcast(vt.df)), vt.certain + AGV, vt.maybe)
        case _ => vt
      }

    // Join family: when one side is a closure-bearing path pattern whose
    // endpoint variable the OTHER side binds certainly, evaluate the path
    // SEEDED from that side's values (the ALP bound-endpoint analog,
    // PathEngineSPARQL.java:36 — the reference streams left bindings into
    // the path iterator). Restricting the path's pairs to src/dst values
    // the join partner actually produces cannot change the join result
    // (inner: dropped pairs never match; left/semi: dropped RIGHT rows
    // were incompatible on a certain shared var) but turns a global-
    // closure materialization into a cone walk.
    case Join(l, r) =>
      (l, r) match {
        case (_, pp: PathPattern) if seedablePath(pp) =>
          val cl = comp(l, g)
          join(cl, pathIn(g, pp, Some(cl)), "inner")
        case (pp: PathPattern, _) if seedablePath(pp) =>
          val cr = comp(r, g)
          join(pathIn(g, pp, Some(cr)), cr, "inner")
        case _ => join(comp(l, g), comp(r, g), "inner")
      }

    case LeftJoin(l, r, cond) =>
      r match {
        case pp: PathPattern if seedablePath(pp) =>
          val cl = comp(l, g)
          leftJoin(cl, pathIn(g, pp, Some(cl)), cond, leftValue(g, _))
        case _ => leftJoin(comp(l, g), comp(r, g), cond, leftValue(g, _))
      }

    case SemiJoin(l, r) =>
      r match {
        case pp: PathPattern if seedablePath(pp) =>
          val cl = comp(l, g)
          halfJoin(cl, pathIn(g, pp, Some(cl)), "left_semi")
        case _ => halfJoin(comp(l, g), comp(r, g), "left_semi")
      }

    case AntiJoin(l, r) => halfJoin(comp(l, g), comp(r, g), "left_anti")

    case Minus(l, r) => minusJoin(comp(l, g), comp(r, g), scopeKeys(g), leftValue(g, _))

    case ExistsFlag(v, r, in) =>
      // expression-level EXISTS: flag each left row that has a compatible
      // right row (in a keyed scope, the keys are certain shared vars)
      val l = comp(in, g)
      val rc = comp(r, g)
      val rr = renamedRight(rc)
      val shared = l.vars.intersect(rc.vars).toSeq.sorted
      val mv = maybeShared(l, rc, shared)
      val lid = tagged(l.df)
      val matched =
        if (mv.size <= MaxDecomposedVars)
          compatMatches(lid, rr, l.certain, rc.certain,
            shared.filterNot(mv.contains), mv)
        else {
          val cond = shared.map { sv =>
            (col(sv) <=> col(RP + sv)) || col(sv).isNull || col(RP + sv).isNull
          }.foldLeft(lit(true))(_ && _)
          lid.join(rr, cond, "inner")
        }
      val ids = matched.select(col(LID)).distinct().withColumn("__exm", lit(true))
      val df = lid.join(ids, Seq(LID), "left_outer")
        .withColumn(v, TermCols.boolTerm(coalesce(col("__exm"), lit(false))))
        .drop(LID, "__exm")
      Compiled(df, l.certain + v, l.maybe)

    case DropVars(vs0, in) =>
      val c = comp(in, g)
      val vs = vs0.filterNot(scopeKeys(g).contains)
      Compiled(c.df.drop(vs.filter(c.vars.contains): _*),
        c.certain -- vs, c.maybe -- vs)

    case GraphVarEnum(gv, body) =>
      // SPARQL 18.5: Union over g of Join(eval(D[g], P), {(var, g)}).
      // SINGLE-PLAN compile (the scale path): when the body is built from
      // graph-local operators, evaluate it ONCE over the named-quads frame
      // with the active graph threaded as a hidden certain column — every
      // scan binds it, every join/OPTIONAL/EXISTS keys on it (per-graph
      // scoping for free), aggregates group by it. No driver-side graph
      // enumeration, no N-way plan union: at one-named-graph-per-document
      // scale (the north star's 10^12 files) this is the only shape that
      // survives. The var is NOT visible inside the body (W3C
      // graph-variable-scope); a body that itself binds the var joins at
      // the boundary.
      if (graphVarSinglePlan(body)) compGraphVar(gv, body, g)
      else {
        // fallback: driver-side enumeration, one GraphScope plan per
        // graph, unioned — kept ONLY for bodies the single-plan compile
        // cannot express (nested GRAPH / FROM / sub-SLICE / LATERAL /
        // SERVICE), under a loud graph-count cap.
        val cap = g.spark.conf.getOption("graft.graphVarEnumMax")
          .map(_.toInt).getOrElse(1000)
        val terms = namedGraphTerms(g, cap)
        // zero named graphs: the union over graphs is EMPTY regardless of
        // the body (SPARQL 18.5) — compile one branch against a
        // never-matching name for the SCHEMA, then force zero rows (a
        // graph-independent body like VALUES would otherwise still emit
        // rows bound to the sentinel)
        val names = if (terms.isEmpty)
          Seq(Term.iri("urn:graft:no-such-graph")) else terms
        val out = names.map { t =>
          val c = comp(GraphScope(t, body), g)
          val const = TermCols.const(t)
          val df =
            if (c.vars(gv))
              c.df.filter(col(gv).isNull || col(gv) === const)
                .withColumn(gv, coalesce(col(gv), const))
            else c.df.withColumn(gv, const)
          Compiled(df, c.certain + gv, c.maybe - gv)
        }.reduceLeft(unionPad)
        if (terms.isEmpty) Compiled(out.df.limit(0), out.certain, out.maybe)
        else out
      }

    case Lateral(l, r) =>
      // the right side depends on the left binding μ only, not on the row
      // that carries it: compile it once per distinct μ, in the scope
      // keyed by μ (a struct of the left variables), then join the left
      // rows back on that key. A variable μ binds agrees on both sides
      // wherever the right side binds it, so the join is an equi-join on
      // the keys, taking each shared variable from whichever side binds it.
      val cl = comp(l, g)
      val ks = scopeKeys(g)
      val key = s"__lat${ks.size}"
      val lv = (cl.vars -- ks).toSeq.sorted
      val keyed = Compiled(cl.df.withColumn(key, struct(lv.map(col): _*)), cl.certain + key, cl.maybe)
      val names = keyed.df.select((ks :+ key).map(col): _*).distinct()
      val cr = comp(r, LeftBindings(g, key, names, lv.toSet, cl.certain))
      val on = (ks :+ key).map(k => col(k) === col(RP + k)).reduce(_ && _)
      val df = keyed.df.join(renamedRight(cr), on)
        .select(mergedSelect(keyed, cr, keyed.vars.intersect(cr.vars).toSeq.sorted): _*)
      Compiled(df.drop(key), cl.certain ++ cr.certain - key,
        (cl.maybe ++ cr.maybe) -- cl.certain -- cr.certain)

    case Unfold(listVar, outVar, idxVar, in) =>
      val c = comp(in, g)
      require(c.vars.contains(listVar), s"Unfold of unknown var $listVar")
      val isArray = c.df.schema(listVar).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]
      val exploded =
        if (isArray) idxVar match {
          case Some(iv) =>
            c.df.select(col("*"), posexplode_outer(col(listVar)).as(Seq("__i", outVar)))
              .withColumn(iv, TermCols.intTerm(col("__i") + 1)).drop("__i")
          case None =>
            c.df.select(col("*"), explode_outer(col(listVar)).as(outVar))
        } else {
          // cdt:List / cdt:Map LITERAL (SPARQL-CDTs UNFOLD): one row per
          // element (v, 1-based idx) or map entry (key, value); a non-CDT
          // or malformed operand contributes no rows (plain explode)
          val pairs = c.df.select(col("*"),
            explode(graft.cdt.CdtFunctions.unfoldUdf(col(listVar))).as("__u"))
          val withV1 = pairs.withColumn(outVar, col("__u._1"))
          (idxVar match {
            case Some(iv) => withV1.withColumn(iv, col("__u._2"))
            case None => withV1
          }).drop("__u")
        }
      Compiled(exploded.drop(listVar), c.certain - listVar,
        c.maybe - listVar ++ Set(outVar) ++ idxVar.toSet)

    case Union(l, r) => unionPad(comp(l, g), comp(r, g))

    case Group(groupKeys, aggs, in) =>
      val c = comp(in, g)
      // in a keyed scope, the scope's keys are always keys
      val keys = groupKeys ++ scopeKeys(g)
      val keyCols = keys.map(k => if (c.vars(k)) col(k) else resolve(c, k, g).as(k))
      if (aggs.isEmpty) {
        // GROUP BY with no aggregates in scope — one row per group, keys
        // only (SELECT ?s { … } GROUP BY ?s ≡ projected distinct)
        Compiled(c.df.select(keyCols: _*).dropDuplicates(),
          c.certain.intersect(keys.toSet), keys.toSet -- c.certain)
      } else {
        // "*" resolves to the whole visible row — COUNT(DISTINCT *)
        // (AggCountDistinct over bindings, not a single var)
        def res(v: String): Column =
          if (v == "*") struct(c.df.columns.map(col): _*) else resolve(c, v, g)
        val aggCols = aggs.map { case (name, e) => e(res).as(name) }
        val out =
          if (keys.isEmpty) c.df.agg(aggCols.head, aggCols.tail: _*)
          else c.df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
        val df = g match {
          // a keyless aggregate yields EXACTLY ONE row per key, also for
          // keys whose body result is empty (COUNT() = 0 over the empty
          // group; W3C aggregates "singleton" case)
          case s: KeyedScope if groupKeys.isEmpty =>
            padEmptyGroups(out, s.names, scopeKeys(g), c.df, aggCols)
          case _ => out
        }
        Compiled(df, c.certain.intersect(keys.toSet),
          aggs.map(_._1).toSet ++ c.maybe.intersect(keys.toSet))
      }

    case Order(keys, in) =>
      val c = comp(in, g)
      Compiled(c.df.orderBy(orderCols(c, keys, g): _*), c.certain, c.maybe)

    // In a keyed scope, Slice commutes with per-row shapes (projection
    // keeps rows 1:1), so push it inside before looking for the ORDER BY:
    // the parser emits sub-selects as Slice(Project(Order(...))), and
    // without this rewrite the ordered per-key LIMIT would rest on an
    // UNSPECIFIED physical-ordering accident.
    case Slice(offset, limit, Project(vs, in)) if scopeKeys(g).nonEmpty =>
      comp(Project(vs, Slice(offset, limit, in)), g)
    case Slice(offset, limit, Label(_, in)) if scopeKeys(g).nonEmpty =>
      comp(Slice(offset, limit, in), g)

    case Slice(offset, limit, in) =>
      require(offset <= Int.MaxValue, s"OFFSET $offset exceeds supported range")
      require(limit == Long.MaxValue || limit <= Int.MaxValue,
        s"LIMIT $limit exceeds supported range")
      scopeKeys(g) match {
        case ks if ks.nonEmpty =>
          // per-key LIMIT/OFFSET (a sub-SELECT inside GRAPH ?var, or a
          // LATERAL's per-left-row LIMIT): a rank window partitioned by the
          // keys. Ordered by the inner ORDER BY's keys when present
          // (deterministic); otherwise by an arbitrary stable id (any n
          // rows per key, the same freedom per-key evaluation has).
          val (sortCols, inner) = in match {
            case Order(keys, i2) =>
              val c0 = comp(i2, g)
              (orderCols(c0, keys, g), c0)
            case _ => (Seq.empty[Column], comp(in, g))
          }
          // the UNORDERED branch picks "any n rows per key" — a specified
          // freedom, but monotonically_increasing_id is partition-order-
          // dependent, so under a task retry (or between two consumers of
          // this plan) the chosen rows could differ. localCheckpoint pins
          // the assignment exactly like tagged() pins LID rows — retry-
          // stable for one materialization's cost on this rare branch only.
          val (order, df) =
            if (sortCols.nonEmpty) (sortCols, inner.df)
            else (Seq(col("__gslid")),
              inner.df.withColumn("__gslid", monotonically_increasing_id())
                .localCheckpoint(true))
          Compiled(rankSlice(df, ks, order, offset, limit).drop("__gslid"),
            inner.certain, inner.maybe)
        case _ =>
          val c = comp(in, g)
          // Spark's native Offset keeps the preceding Sort's order — only
          // deterministic after Order, same caveat as QueryIterSlice.java.
          // limit == Long.MaxValue means OFFSET-without-LIMIT (parser
          // contract) — no limit node at all (Long.MaxValue.toInt is -1).
          val off = if (offset <= 0) c.df else c.df.offset(offset.toInt)
          val df = if (limit == Long.MaxValue) off else off.limit(limit.toInt)
          Compiled(df, c.certain, c.maybe)
      }

    case Distinct(in) =>
      val c = comp(in, g); Compiled(c.df.dropDuplicates(), c.certain, c.maybe)

    case Reduced(in) =>
      val c = comp(in, g); Compiled(c.df.dropDuplicates(), c.certain, c.maybe)

    case GraphScope(gname, in) =>
      val scoped: GraphSource = g match {
        case qsg: QuadSnapshotGraph if !usesDataset(in) =>
          DfGraph(storeScan(qsg.spark, qsg.dir, quads = true, ("g", TConst(gname)) +:
            slotsOf(TriplePattern(TVar("s"), TVar("p"), TVar("o")))).df)
        case _ if !usesDataset(in) =>
          require(hasGraphCol(g.df), "GRAPH needs a quad table (g column)")
          DfGraph(g.df
            .filter(col("g") === TermCols.const(gname) &&
              TermCols.lex(col("g")) =!= DefaultGraph &&
              col("s").isNotNull) // drop empty-graph marker rows
            .select("s", "p", "o"))
        case _ =>
          // the body re-accesses the DATASET (nested GRAPH, dataset
          // names, FROM): GRAPH only changes the ACTIVE graph — SPARQL
          // 18.5 eval(D(D[iri]), P) keeps the named-graph part visible,
          // so re-scope to a QUAD table: default := the named graph's
          // triples, named part unchanged
          require(hasGraphCol(g.df), "GRAPH needs a quad table (g column)")
          val glex = TermCols.lex(col("g"))
          val defaultPart = g.df.filter(col("g") === TermCols.const(gname) &&
              glex =!= DefaultGraph && col("s").isNotNull)
            .withColumn("g", TermCols.const(graft.model.Term.defaultGraph))
          val namedPart = g.df.filter(glex =!= DefaultGraph && col("g").isNotNull)
          DfGraph(defaultPart.union(namedPart))
      }
      comp(in, scoped)

    case Label(_, in) => comp(in, g)

    case Service(silent, target, body, bodyText) =>
      // Federated evaluation against a REGISTERED endpoint: either a
      // local GraphSource (the zero-egress stand-in) or an HTTP
      // ServiceTransport (the pluggable seam — reference:
      // sparql/exec/http/QueryExecHTTP.java). Either way the endpoint's
      // result set hash-joins with the outer bindings set-at-a-time.
      // SILENT ⇒ a failing/unknown endpoint yields the unit table
      // (SPARQL 1.1 Fed §4: "the SERVICE statement is considered to have
      // a result of a single solution mapping with no bindings").
      def unit = Compiled(
        g.spark.range(1).select(lit(1).as("__unit")), Set.empty, Set.empty)
      def evalAgainst(src: GraphSource): Compiled =
        if (!silent) comp(body, src)
        else
          try {
            val c = comp(body, src)
            c.df.queryExecution.analyzed // force analysis errors eagerly
            c
          } catch { case scala.util.control.NonFatal(_) => unit }
      def evalTransport(iri: String, t: ServiceRegistry.ServiceTransport): Compiled = {
        def run: Compiled = {
          val q = bodyText.getOrElse(throw new IllegalStateException(
            "SERVICE over an HTTP transport needs the body's source text " +
              "(algebra-built Service nodes carry none — parse the query " +
              "from text, or register a GraphSource endpoint instead)"))
          val (ct, payload) = t.execute(iri, q)
          val df = ServiceRegistry.parseResults(g.spark, ct, payload)
          // wire results carry no boundness metadata: every var is maybe
          Compiled(df, Set.empty, df.columns.toSet)
        }
        if (!silent) run
        else try run catch { case scala.util.control.NonFatal(_) => unit }
      }
      target match {
        case TConst(t) =>
          (ServiceRegistry.lookup(t.lex), ServiceRegistry.lookupTransport(t.lex)) match {
            case (Some(src), _) => evalAgainst(src)
            case (None, Some(tr)) => evalTransport(t.lex, tr)
            case (None, None) if silent => unit
            case (None, None) => throw new IllegalArgumentException(
              s"SERVICE endpoint <${t.lex}> is not registered — wire it " +
                "via graft.algebra.ServiceRegistry.register / registerTransport")
          }
        case TVar(v) =>
          // variable target: union over the registered endpoints, the
          // variable bound to each endpoint's IRI per branch (the
          // set-at-a-time twin of the reference's per-binding dispatch —
          // the outer join then restricts to whatever the query bound).
          // one branch per endpoint IRI: a GraphSource registration wins
          // over a transport for the same IRI (mirroring the TConst
          // lookup order) — without the dedup an endpoint registered both
          // ways would contribute its solutions twice
          val graphIris = ServiceRegistry.all.map(_._1).toSet
          val eps = ServiceRegistry.all.map { case (iri, src) =>
            () => (iri, evalAgainst(src))
          } ++ ServiceRegistry.allTransports.collect {
            case (iri, tr) if !graphIris(iri) =>
              () => (iri, evalTransport(iri, tr))
          }
          if (eps.isEmpty) {
            if (silent) unit
            else throw new IllegalArgumentException(
              s"SERVICE ?$v: no endpoints registered")
          } else
            eps.map { thunk =>
              val (iri, c) = thunk()
              Compiled(c.df.withColumn(v, TermCols.const(Term.iri(iri))),
                c.certain + v, c.maybe - v)
            }.reduce(unionPad)
      }

    case Null =>
      Compiled(g.spark.range(0).select(scopeKeys(g).map(k =>
          lit(null).cast(TermCols.schema).as(k)) :+ lit(1).as("__unit"): _*),
        scopeKeys(g).toSet, Set.empty)

    case DatasetNames(gp) =>
      // named graph names only (never the default graph) — OpDatasetNames
      val names: DataFrame = (g match {
        case qsg: QuadSnapshotGraph =>
          qsg.df.select(col("g"))
        case _ =>
          require(hasGraphCol(g.df), "GRAPH needs a quad table (g column)")
          g.df.select(col("g"))
      }).filter(TermCols.lex(col("g")) =!= DefaultGraph && col("g").isNotNull)
        .distinct()
      gp match {
        case TVar(v) => Compiled(names.select(col("g").as(v)), Set(v), Set.empty)
        case TConst(t) =>
          Compiled(names.filter(col("g") === TermCols.const(t))
            .select(lit(1).as("__unit")).limit(1), Set.empty, Set.empty)
        case TAny =>
          Compiled(names.select(lit(1).as("__unit")).limit(1), Set.empty, Set.empty)
      }

    case DatasetClause(defaults, named, in) =>
      require(hasGraphCol(g.df), "FROM / FROM NAMED need a quad table (g column)")
      val glex = TermCols.lex(col("g"))
      // the dataset is EXACTLY what the clauses describe (SPARQL 13.2):
      // graphs named in FROM merge into the default graph; FROM NAMED
      // graphs stay named; everything else disappears
      val defaultPart0 = g.df.filter(glex.isin(defaults: _*))
        .withColumn("g", TermCols.const(graft.model.Term.defaultGraph))
      // the FROM default graph is the set-UNION of the listed graphs — a
      // triple present in two of them matches ONCE (the reference's
      // GraphUnionRead.find wraps Iter.distinct, GraphUnionRead.java:119);
      // a single source graph is already a set, so skip the exchange then.
      // CONTRACT (matching the reference, where Graph.add dedupes on
      // insert): a quad table is duplicate-free per (g, s, p, o) — every
      // producer in this repo (TripleStore.materializeQuads, Update's
      // dataset ops, the riot readers via dropDuplicates) maintains it.
      // A caller feeding a non-set frame would see bag semantics here in
      // the single-graph case only, exactly as a corrupted store would
      // in the reference; we do not pay a per-query full-data exchange
      // to defend against it.
      val defaultPart =
        if (defaults.lengthCompare(1) > 0)
          defaultPart0.dropDuplicates("s", "p", "o")
        else defaultPart0
      val namedPart = g.df.filter(glex.isin(named: _*) && glex =!= DefaultGraph)
      comp(in, DfGraph(defaultPart.union(namedPart)))

    case ExtOp(f, certainVars, in) =>
      val c = comp(in, g)
      val df = f(c.df)
      val vars = df.columns.toSet
      Compiled(df, certainVars.toSet.intersect(vars), vars -- certainVars)

    case GraphOp(f, certainVars, in) =>
      val c = comp(in, g)
      val df = f(c.df, g.df)
      val vars = df.columns.toSet
      Compiled(df, c.certain.intersect(vars) ++ certainVars.toSet.intersect(vars),
        (vars -- c.certain) -- certainVars)
  }

  /** Resolve a variable to its column; unknown vars are NULL (unbound).
   * In a LATERAL right side, a substituted variable falls back to the
   * left binding's value where the row leaves it unbound. */
  private def resolve(c: Compiled, v: String, g: GraphSource): Column = {
    val left = leftValue(g, v)
    if (c.certain(v)) col(v)
    else if (c.vars(v)) left.fold(col(v))(coalesce(col(v), _))
    else left.getOrElse(lit(null).cast(TermCols.schema))
  }

  /** Sort columns of ORDER BY keys over a compiled input. */
  private def orderCols(c: Compiled, keys: Seq[SortKey], g: GraphSource): Seq[Column] =
    keys.map { k =>
      val sk = TermCols.sortKey(resolve(c, k.v, g))
      if (k.ascending) sk.asc else sk.desc
    }

  /** Rows offset+1 … offset+limit of each `part` partition of `df` in
   * `order` (limit Long.MaxValue: no upper bound) — a row_number window. */
  private def rankSlice(df: DataFrame, part: Seq[String], order: Seq[Column],
                        offset: Long, limit: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(part.map(col): _*).orderBy(order: _*)
    val keep =
      if (limit == Long.MaxValue) col("__rn") > offset
      else col("__rn") > offset && col("__rn") <= offset + limit
    df.withColumn("__rn", row_number().over(w)).where(keep).drop("__rn")
  }

  /** `grouped` plus, for each `parts` row whose `keys` no group has, the
   * aggregates `aggCols` over the EMPTY input: a keyless aggregate yields
   * one row per partition (COUNT = 0 …) even where the partition's input
   * is empty. */
  private def padEmptyGroups(grouped: DataFrame, parts: DataFrame, keys: Seq[String],
                             input: DataFrame, aggCols: Seq[Column]): DataFrame = {
    val zero = input.where(lit(false)).agg(aggCols.head, aggCols.tail: _*)
    val missing = parts
      .join(grouped.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .crossJoin(zero)
    grouped.unionByName(missing.select(grouped.columns.map(col): _*))
  }

  /** Distinct NAMED graph names of the dataset (driver-side; bounded by
   * `cap` — the collect FAILS LOUDLY past it rather than OOM the driver).
   * Sorted for deterministic union order. */
  private def namedGraphTerms(g: GraphSource, cap: Int = Int.MaxValue): Seq[Term] = {
    val rows = namedGraphNamesDf(g).limit(math.min(cap.toLong + 1, Int.MaxValue).toInt)
      .collect()
    if (rows.length > cap) throw new IllegalStateException(
      s"GRAPH ?var enumeration fallback over > $cap named graphs — this " +
        "body shape compiles per-graph on the driver and cannot scale to " +
        "many graphs. Simplify the GRAPH body to the single-plan subset " +
        "(BGP/path/join/optional/filter/union/group) or raise " +
        "spark.conf graft.graphVarEnumMax explicitly.")
    rows.map { r =>
      val x = r.getStruct(0)
      graft.model.Term(x.getByte(0), x.getString(1), x.getString(2), x.getString(3))
    }.toSeq.sortBy(t => (t.kind, t.lex))
  }

  // ---- keyed scopes: single-plan GRAPH ?var and LATERAL ---------------

  /** Hidden active-graph column of every result compiled under
   * [[NamedGraphs]] — certain in every sub-result, never visible to the
   * query (guarded in [[graphVarSinglePlan]]). */
  private val AGV = "__activeg"

  /** A scope [[comp]] evaluates once per value of a hidden key column,
   * all values at once: every result compiled in it carries the key,
   * certain. Scopes nest; `outer` is the enclosing one. */
  private[algebra] sealed trait KeyedScope extends GraphSource {
    def outer: GraphSource
    /** The key column this scope adds. */
    def key: String
    /** One row per key value, with every column of [[scopeKeys]]. */
    def names: DataFrame
    override def spark: SparkSession = outer.spark
  }

  /** Every named graph of `outer` at once: the scope a single-plan GRAPH
   * ?var body compiles in, keyed by [[AGV]]. `df` is the named quads
   * (g, s, p, o). */
  private[algebra] final case class NamedGraphs(outer: GraphSource) extends KeyedScope {
    lazy val df: DataFrame = namedQuadsDf(outer)
    def key: String = AGV
    def names: DataFrame = namedGraphNamesDf(outer).select(col("g").as(AGV))
  }

  /** Every distinct left binding μ of a LATERAL at once: the scope its
   * right side compiles in, keyed by `key`, a struct of the left
   * variables (an unbound one is a null field, equal to itself in joins,
   * groupings and windows). `subst` are the variables μ substitutes into
   * the right side; `certain` the left's certain ones. */
  private[algebra] final case class LeftBindings(outer: GraphSource, key: String, names: DataFrame,
                                                 subst: Set[String], certain: Set[String])
      extends KeyedScope {
    def df: DataFrame = outer.df
  }

  /** The hidden key columns a scope adds to every result, outermost first. */
  private def scopeKeys(g: GraphSource): Seq[String] = g match {
    case s: KeyedScope => scopeKeys(s.outer) :+ s.key
    case _ => Nil
  }

  /** Does `op` compile by its own case in scope `g`? Not a node that is
   * not graph-local; per left binding, not a leaf either — those compile
   * in the enclosing scope and are correlated. */
  private def inScope(op: Op, g: GraphSource): Boolean = g match {
    case _: NamedGraphs => graphLocal(op)
    case _: LeftBindings => graphLocal(op) && (op match {
      case Bgp(_) | PathPattern(_, _, _) | Table(_, _) | Null => false
      case _ => true
    })
    case _ => true
  }

  /** A result compiled in `s.outer`, correlated with the left bindings: a
   * compatible join with `s.names` on the enclosing keys and on the
   * substituted variables it binds, so a binding that leaves one unbound
   * takes every value. */
  private def correlate(s: LeftBindings, c: Compiled): Compiled = {
    val vs = c.vars.intersect(s.subst).toSeq.sorted
    val ks = scopeKeys(s)
    join(Compiled(s.names.select(ks.map(col) ++ vs.map(v => col(s.key).getField(v).as(v)): _*),
      ks.toSet ++ vs.filter(s.certain), vs.filterNot(s.certain).toSet), c, "inner")
  }

  /** The value the enclosing LATERAL left bindings give `v`, when they
   * substitute it (NULL on rows whose binding leaves it unbound). */
  private def leftValue(g: GraphSource, v: String): Option[Column] = g match {
    case s: LeftBindings =>
      (Option.when(s.subst(v))(col(s.key).getField(v)) ++ leftValue(s.outer, v))
        .reduceOption(coalesce(_, _))
    case _ => None
  }

  /** `g` inside a sub-SELECT projecting `vs`: only those stay substituted;
   * its other variables are fresh. */
  private def narrow(g: GraphSource, vs: Set[String]): GraphSource = g match {
    case s: LeftBindings => s.copy(outer = narrow(s.outer, vs), subst = s.subst.intersect(vs))
    case _ => g
  }

  /** A path pattern in scope `g`: walked within each graph under
   * [[NamedGraphs]], in the active graph otherwise, and correlated with
   * the left bindings under [[LeftBindings]]. */
  private def pathIn(g: GraphSource, pp: PathPattern, partner: Option[Compiled]): Compiled =
    g match {
      case s: LeftBindings => correlate(s, pathIn(s.outer, pp, partner))
      case ng: NamedGraphs => compPath(PathEval.PerGraph(ng.df), pp, partner)
      case _ => compPath(PathEval.Terms(g), pp, partner)
    }

  /** The dataset's NAMED quads as a (g, s, p, o) term-struct frame.
   * Empty-graph marker rows (s NULL) are KEPT — name enumeration needs
   * them; triple-level consumers filter s.isNotNull / on p. */
  private[algebra] def namedQuadsDf(g: GraphSource): DataFrame = {
    val base = g match {
      case qsg: QuadSnapshotGraph => qsg.df
      case _ =>
        require(hasGraphCol(g.df), "GRAPH needs a quad table (g column)")
        g.df
    }
    base.filter(TermCols.lex(col("g")) =!= DefaultGraph && col("g").isNotNull)
      .select(col("g"), col("s"), col("p"), col("o"))
  }

  /** Distinct named-graph names as a DISTRIBUTED frame (column `g`). */
  private def namedGraphNamesDf(g: GraphSource): DataFrame =
    namedQuadsDf(g).select(col("g")).distinct()

  /** Does this node compile under [[NamedGraphs]]? True only for the
   * graph-local operators: scans bind the hidden graph column, binary ops
   * key on it, per-row ops ignore it, grouping and Slice partition by it,
   * a LATERAL right side keys on it next to its own key. Excluded (→ enumeration
   * fallback): dataset re-access (nested GRAPH / QuadBgp / FROM /
   * DatasetNames / SERVICE) and the escape hatches (ExtOp/GraphOp see raw
   * frames). */
  private def graphLocal(op: Op): Boolean = op match {
    case Bgp(_) | PathPattern(_, _, _) | Table(_, _) | Null | Join(_, _) |
         Lateral(_, _) | LeftJoin(_, _, _) | Union(_, _) | SemiJoin(_, _) |
         AntiJoin(_, _) | Minus(_, _) | ExistsFlag(_, _, _) | Filter(_, _) |
         Extend(_, _, _) | Project(_, _) | DropVars(_, _) | Distinct(_) |
         Reduced(_) | Group(_, _, _) | Order(_, _) | Slice(_, _, _) |
         Unfold(_, _, _, _) | Label(_, _) => true
    case _ => false
  }

  /** Is `body` expressible by the single-plan GRAPH ?var compile? Every
   * node [[graphLocal]], and the hidden column not a query variable. */
  private def graphVarSinglePlan(body: Op): Boolean = {
    def local(o: Op): Boolean = graphLocal(o) && children(o).forall(local)
    local(body) && !opVisibleVars(body).contains(AGV)
  }

  /** GRAPH ?var as ONE plan: compile the body under [[NamedGraphs]]
   * (active graph = hidden certain column), then surface the column as
   * the graph variable — joining when the body itself binds the var
   * (SPARQL 18.5 boundary restriction, same as the enumeration fallback). */
  private def compGraphVar(gv: String, body: Op, g: GraphSource): Compiled = {
    val c = comp(body, NamedGraphs(g))
    if (c.vars(gv)) {
      val df = c.df.filter(col(gv).isNull || col(gv) === col(AGV))
        .withColumn(gv, coalesce(col(gv), col(AGV))).drop(AGV)
      Compiled(df, (c.certain - AGV) + gv, c.maybe - gv)
    } else
      Compiled(c.df.withColumnRenamed(AGV, gv), (c.certain - AGV) + gv, c.maybe)
  }

  /** SPARQL bag union with unbound padding for one-sided vars. */
  private def unionPad(cl: Compiled, cr: Compiled): Compiled = {
    val all = (cl.vars ++ cr.vars).toSeq.sorted
    def pad(c: Compiled) = c.df.select(
      all.map(v => if (c.vars(v)) col(v) else lit(null).cast(TermCols.schema).as(v)): _*)
    Compiled(pad(cl).union(pad(cr)),
      cl.certain.intersect(cr.certain),
      (cl.vars ++ cr.vars) -- cl.certain.intersect(cr.certain))
  }

  /** Can seeding ever apply to this path pattern in a join context? —
   * closure-bearing path with at least one variable endpoint (constant
   * endpoints are already seeded by [[compPath]] itself). */
  private def seedablePath(pp: PathPattern): Boolean =
    PathEval.containsClosure(pp.path) &&
      (pp.s.isInstanceOf[TVar] || pp.o.isInstanceOf[TVar])

  /** Compile one path pattern in a [[PathEval.Space]]: the active graph's
   * terms, or every named graph at once for the single-plan GRAPH ?var
   * (the graph key binds as [[AGV]]). For closure-bearing paths with a
   * bound endpoint — a CONSTANT subject/object, or (when `partner` carries
   * the join partner's compilation) a variable endpoint the partner binds
   * certainly — evaluation is SEEDED: the closure frontier starts from the
   * bound node set and walks only the reachable cone (the ALP algorithm,
   * PathEngine.java:49–122), instead of materializing the global closure
   * and post-filtering. Constants go first, the subject before the object;
   * a bound object seeds the inverse walk. Non-closure paths keep the
   * global plan: Catalyst pushes endpoint filters through scan/join chains
   * by itself; only the iterative loop (a localCheckpoint pushdown
   * barrier) needs help. */
  private def compPath(sp: PathEval.Space, pp: PathPattern,
                       partner: Option[Compiled]): Compiled = {
    val PathPattern(s, path, o) = pp
    def const(p: TermPat) = p match {
      case TConst(t) => Some(Left(t))
      case _ => None
    }
    // a join-bound seed frame is (keys…, n): per graph, the partner's
    // [[AGV]] keeps each seed in its own graph
    def bound(p: TermPat) = p match {
      case TVar(v) => partner.filter(_.certain(v)).map(c =>
        Right(c.df.select(sp.keys.map(_ => col(AGV)) :+ col(v).as("n"): _*)))
      case _ => None
    }
    val seeds: Option[(Either[Term, DataFrame], Boolean)] =
      if (!PathEval.containsClosure(path)) None
      else const(s).map(_ -> false).orElse(const(o).map(_ -> true))
        .orElse(bound(s).map(_ -> false)).orElse(bound(o).map(_ -> true))
    var pairs = seeds match {
      case None => PathEval.eval(sp, path, None)
      case Some((sd, false)) => PathEval.seeded(sp, path, sd)
      case Some((sd, true)) =>
        PathEval.swap(sp, PathEval.seeded(sp, PathEval.inverse(path), sd))
    }
    // A zero-length-matching path with a CONSTANT endpoint matches that
    // constant against itself even when the term is absent from the
    // graph ({ ?s :p* :o } on the empty graph binds ?s = :o — SPARQL
    // 18.4 ZeroLengthPath over the evaluation's term universe; the W3C
    // empty-dataset cases pin this). Per graph, it matches in EVERY
    // named graph.
    if (PathEval.allowsZero(path)) {
      val consts = Seq(s, o).collect { case TConst(t) => t }.distinct
      consts.foreach { t =>
        pairs = pairs.union(sp.constSeeds(t).select(
          sp.keys.map(col) :+ col("n").as("src") :+ col("n").as("dst"): _*))
      }
      if (consts.nonEmpty) pairs = pairs.distinct()
    }
    bindPair(pairs, sp.keys.map(col(_).as(AGV)), s, o)
  }

  /** Bind a (keys…, src, dst) pair table against the s/o slots of a path
   * pattern; `keys` are the key columns to keep (the per-graph [[AGV]]). */
  private def bindPair(pairs: DataFrame, keys: Seq[Column],
                       s: TermPat, o: TermPat): Compiled = {
    var df = pairs
    s match {
      case TConst(t) => df = df.filter(col("src") === TermCols.const(t))
      case _ =>
    }
    o match {
      case TConst(t) => df = df.filter(col("dst") === TermCols.const(t))
      case _ =>
    }
    // bag semantics here; arbitrary-length paths are already distinct at
    // the pairs level (the ALP visited-set contract), fixed-shape paths
    // keep duplicates like their BGP flattening would.
    val kv = if (keys.isEmpty) Set.empty[String] else Set(AGV)
    def bind(cv: (String, String)*) = Compiled(
      df.select(keys ++ cv.map { case (c, v) => col(c).as(v) }: _*),
      kv ++ cv.map(_._2), Set.empty)
    (s, o) match {
      case (TVar(a), TVar(b)) if a == b =>
        df = df.filter(col("src") === col("dst")); bind("src" -> a)
      case (TVar(a), TVar(b)) => bind("src" -> a, "dst" -> b)
      case (TVar(a), _) => bind("src" -> a)
      case (_, TVar(b)) => bind("dst" -> b)
      // both const: an existence gate — per graph, one row where the pair holds
      case _ if keys.nonEmpty => Compiled(df.select(keys: _*).distinct(), kv, Set.empty)
      case _ => Compiled(df.select(lit(1).as("__unit")).limit(1), Set.empty, Set.empty)
    }
  }

  // ---- join machinery (SURVEY.md §2.3)

  private val RP = "__r__" // right-side disambiguation prefix
  private val LID = "__lid" // per-left-row tag for decomposed outer/semi joins

  /** Tag each left row with a unique id AND pin the assignment with an
   * eager localCheckpoint: the tagged frame is consumed by several plan
   * branches (each compatMatches case + the anti-join/window recovery),
   * and `monotonically_increasing_id` is partition-order-dependent — a
   * task retry or AQE re-plan between the two consumers could otherwise
   * assign DIFFERENT ids to the same row, silently corrupting
   * OPTIONAL/EXISTS/MINUS results. Checkpointing materializes one id
   * assignment that every consumer shares (same device as
   * transitiveClosure's per-round checkpoint). */
  private def tagged(ldf: DataFrame): DataFrame =
    ldf.withColumn(LID, monotonically_increasing_id()).localCheckpoint(true)

  private def renamedRight(r: Compiled): DataFrame =
    r.df.columns.foldLeft(r.df)((d, c) => d.withColumnRenamed(c, RP + c))

  /** Per-shared-var join condition: exact equi when both certain, SPARQL
   * compatible-binding otherwise. */
  private def sharedCond(l: Compiled, r: Compiled): (Seq[String], Column) = {
    val shared = (l.vars.intersect(r.vars)).toSeq.sorted
    val conds = shared.map { v =>
      if (l.certain(v) && r.certain(v)) col(v) === col(RP + v)
      else (col(v) <=> col(RP + v)) || col(v).isNull || col(RP + v).isNull
    }
    (shared, conds.foldLeft(lit(true))(_ && _))
  }

  private def mergedSelect(l: Compiled, r: Compiled, shared: Seq[String]): Seq[Column] = {
    val lOnly = (l.vars -- shared).toSeq.sorted.map(col)
    val rOnly = (r.vars -- shared).toSeq.sorted.map(v => col(RP + v).as(v))
    val merged = shared.map(v => coalesce(col(v), col(RP + v)).as(v))
    lOnly ++ rOnly ++ merged
  }

  /** Shared vars where at least one side may be unbound — the ones whose
   * compatible-binding condition is NOT a plain equality. */
  private def maybeShared(l: Compiled, r: Compiled, shared: Seq[String]): Seq[String] =
    shared.filterNot(v => l.certain(v) && r.certain(v))

  /** Max number of maybe-bound shared vars the union-of-equi-joins
   * decomposition expands (≤3^n branches); beyond it we fall back to the
   * OR-condition (nested-loop) join — a shape no realistic OPTIONAL/UNION
   * query produces. */
  private val MaxDecomposedVars = 2

  /**
   * All compatible (left row, right row) matches as a UNION OF EQUI-JOINS.
   *
   * The naive compile of SPARQL compatibility over a maybe-bound shared
   * var — `l <=> r OR l IS NULL OR r IS NULL` — is a non-equi condition
   * Catalyst can only plan as BroadcastNestedLoopJoin: O(|L|·|R|) at
   * scale. Instead, partition the match space by the vars' null-pattern
   * (per var: 0 = both bound & equal, 1 = left unbound, 2 = left bound /
   * right unbound — disjoint and complete), giving ≤3^n branches that are
   * each a hashable equi-join on (certain keys + the case's both-bound
   * vars). Branches impossible for a certain side are skipped. Unbound-
   * pattern branches join on the certain keys only — inherent, since an
   * unbound var is compatible with everything — but scan only the
   * (typically small) unbound-row slices.
   */
  private def compatMatches(ldf: DataFrame, rdf: DataFrame,
                            lCertain: Set[String], rCertain: Set[String],
                            certainKeys: Seq[String], maybeVars: Seq[String],
                            requireBothBound: Boolean = false,
                            extraKeys: Seq[String] = Nil): DataFrame = {
    val cases0 = maybeVars.foldLeft(Seq(Seq.empty[Int])) { (acc, v) =>
      val ks = Seq(0) ++ (if (!lCertain(v)) Seq(1) else Nil) ++
        (if (!rCertain(v)) Seq(2) else Nil)
      acc.flatMap(c => ks.map(k => c :+ k))
    }
    // MINUS-only restriction: compatibility must hold on ≥1 BOTH-bound
    // shared var (OpExecutor.java:274). Certain keys are always both-bound;
    // when there are none, branches whose every maybe var is unbound on a
    // side (no case-0) cannot witness the requirement — skip them.
    val cases =
      if (requireBothBound && certainKeys.isEmpty) cases0.filter(_.contains(0))
      else cases0
    cases.map { c =>
      var lf = ldf
      var rf = rdf
      // extraKeys (per-graph scoping) join like certain keys but are NOT
      // ≥1-both-bound witnesses — the requireBothBound filter above reads
      // certainKeys only
      var keys = extraKeys ++ certainKeys
      maybeVars.zip(c).foreach { case (v, k) => k match {
        case 0 =>
          lf = lf.filter(col(v).isNotNull); rf = rf.filter(col(RP + v).isNotNull)
          keys = keys :+ v
        case 1 => lf = lf.filter(col(v).isNull)
        case 2 => lf = lf.filter(col(v).isNotNull); rf = rf.filter(col(RP + v).isNull)
      }}
      // a branch with NO equi keys is the unbound-slice × full-side case
      // (an unbound var is compatible with everything). Bounded by the
      // null-slice size, but Catalyst would plan it as BNLJ with a
      // size-estimated broadcast choice that can pick the FULL side; hint
      // the (typically tiny) null-slice side explicitly so the full side
      // streams (VERDICT r2, "What's wrong" #3).
      val cond = keys.map(v => col(v) === col(RP + v)).foldLeft(lit(true))(_ && _)
      if (keys.isEmpty) {
        if (c.contains(1)) broadcast(lf).join(rf, cond, "inner")
        else lf.join(broadcast(rf), cond, "inner")
      } else lf.join(rf, cond, "inner")
    }.reduce(_ union _)
  }

  private def join(l: Compiled, r: Compiled, how: String): Compiled = {
    // note: a side with no vars (fully-concrete pattern) still contributes
    // its cardinality (0 or 1 rows — set semantics) via the cross product,
    // i.e. it acts as an existence gate; mergedSelect drops its __unit col.
    val rr = renamedRight(r)
    val (shared, cond) = sharedCond(l, r)
    val mv = maybeShared(l, r, shared)
    val joined =
      if (mv.nonEmpty && mv.size <= MaxDecomposedVars)
        compatMatches(l.df, rr, l.certain, r.certain,
          shared.filterNot(mv.contains), mv)
      else l.df.join(rr, cond, how)
    Compiled(joined.select(mergedSelect(l, r, shared): _*),
      l.certain ++ r.certain, (l.maybe ++ r.maybe) -- (l.certain ++ r.certain))
  }

  /** OPTIONAL; `left` gives a variable's LATERAL left-binding value. */
  private def leftJoin(l: Compiled, r: Compiled, extra: Option[RowExpr],
                       left: String => Option[Column]): Compiled = {
    val rr = renamedRight(r)
    val (shared, compat) = sharedCond(l, r)
    // the embedded condition sees the MERGED row (filter scope of OPTIONAL)
    def mergedResolve(v: String): Column = {
      val own =
        if (shared.contains(v)) Some(coalesce(col(v), col(RP + v)))
        else if (l.vars(v)) Some(col(v))
        else if (r.vars(v)) Some(col(RP + v))
        else None
      (own ++ left(v)).reduceOption(coalesce(_, _)).getOrElse(lit(null).cast(TermCols.schema))
    }
    val mv = maybeShared(l, r, shared)
    val joined =
      if (mv.nonEmpty && mv.size <= MaxDecomposedVars) {
        // decomposed left join: tag left rows, compute all compatible
        // matches via equi-joins, then recover the unmatched left rows by
        // an (equi) anti-join on the tag — no nested-loop anywhere
        val lid = tagged(l.df)
        val matches0 = compatMatches(lid, rr, l.certain, r.certain,
          shared.filterNot(mv.contains), mv)
        val matches = extra match {
          case Some(e) => matches0.filter(e(mergedResolve))
          case None => matches0
        }
        val padded = rr.schema.fields.foldLeft(
          lid.join(matches.select(col(LID)).distinct(), Seq(LID), "left_anti")) {
            (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))
          }
        matches.unionByName(padded).drop(LID)
      } else {
        val cond = extra.map(e => compat && e(mergedResolve)).getOrElse(compat)
        l.df.join(rr, cond, "left_outer")
      }
    Compiled(joined.select(mergedSelect(l, r, shared): _*),
      l.certain, l.maybe ++ (r.vars -- l.certain))
  }

  /** Does the body re-access the DATASET (named graphs / dataset names /
   * FROM) rather than only the active graph? Decides whether GraphScope
   * must keep the quad columns when re-scoping (a generic Product walk so
   * new Op nodes are covered by default). SERVICE bodies evaluate against
   * their own endpoint's dataset, so a hit inside one over-triggers
   * harmlessly (the quad columns are merely kept). */
  private def usesDataset(op: Op): Boolean = op match {
    case QuadBgp(_, _) | GraphScope(_, _) | GraphVarEnum(_, _) |
         DatasetNames(_) | DatasetClause(_, _, _) => true
    case _ => children(op).exists(usesDataset)
  }

  /** The child ops of a node, found by walking ANY nested structure
   * (tuples, Options, collections) so an Op child of a future algebra
   * node is found no matter how it is stored — a missed child would
   * silently under-scope GraphScope or admit a non-graph-local body. */
  private def children(op: Op): Iterator[Op] = {
    def walk(x: Any): Iterator[Op] = x match {
      case o: Op => Iterator.single(o)
      case q: Product => q.productIterator.flatMap(walk)
      case it: Iterable[_] => it.iterator.flatMap(walk)
      case _ => Iterator.empty
    }
    op match {
      case p: Product => p.productIterator.flatMap(walk)
      case _ => Iterator.empty
    }
  }

  /** Pattern/visible variables of a subtree — [[graphVarSinglePlan]]'s
   * guard that the hidden graph column is no query variable. */
  private def opVisibleVars(op: Op): Set[String] = {
    def pv(ps: Seq[TermPat]): Set[String] = ps.collect { case TVar(n) => n }.toSet
    op match {
      case Bgp(ps) => pv(ps.flatMap(tp => Seq(tp.s, tp.p, tp.o)))
      case PathPattern(s0, _, o0) => pv(Seq(s0, o0))
      case QuadBgp(gp, ps) => pv(Seq(gp) ++ ps.flatMap(tp => Seq(tp.s, tp.p, tp.o)))
      case GraphScope(_, in) => opVisibleVars(in)
      case GraphVarEnum(v, in) => opVisibleVars(in) + v
      case Project(vs, _) => vs.toSet
      case Filter(_, in) => opVisibleVars(in)
      case Extend(v, _, in) => opVisibleVars(in) + v
      case Table(vs, _) => vs.toSet
      case Join(a, b) => opVisibleVars(a) ++ opVisibleVars(b)
      case LeftJoin(a, b, _) => opVisibleVars(a) ++ opVisibleVars(b)
      case SemiJoin(a, _) => opVisibleVars(a)
      case AntiJoin(a, _) => opVisibleVars(a)
      case Minus(a, _) => opVisibleVars(a)
      case ExistsFlag(v, _, in) => opVisibleVars(in) + v
      case DropVars(vs, in) => opVisibleVars(in) -- vs
      case Lateral(a, b) => opVisibleVars(a) ++ opVisibleVars(b)
      case Unfold(_, ov, iv, in) => opVisibleVars(in) + ov ++ iv
      case Group(keys, aggs, _) => keys.toSet ++ aggs.map(_._1)
      case Order(_, in) => opVisibleVars(in)
      case Slice(_, _, in) => opVisibleVars(in)
      case Distinct(in) => opVisibleVars(in)
      case Reduced(in) => opVisibleVars(in)
      case Union(a, b) => opVisibleVars(a) ++ opVisibleVars(b)
      case DatasetNames(gp) => pv(Seq(gp))
      case DatasetClause(_, _, in) => opVisibleVars(in)
      case Label(_, in) => opVisibleVars(in)
      case ExtOp(_, vs, in) => opVisibleVars(in) ++ vs
      case GraphOp(_, vs, in) => opVisibleVars(in) ++ vs
      case _ => Set.empty
    }
  }

  private def halfJoin(l: Compiled, r: Compiled, how: String): Compiled = {
    val rr = renamedRight(r)
    val (shared, cond) = sharedCond(l, r)
    val mv = maybeShared(l, r, shared)
    val df =
      if (mv.nonEmpty && mv.size <= MaxDecomposedVars) {
        // decomposed EXISTS / NOT EXISTS: matched left-row ids from the
        // union of equi-joins, then an equi semi/anti join on the tag
        val lid = tagged(l.df)
        val matchedIds = compatMatches(lid, rr, l.certain, r.certain,
          shared.filterNot(mv.contains), mv).select(col(LID)).distinct()
        lid.join(matchedIds, Seq(LID), how).drop(LID)
      } else l.df.join(rr, cond, how)
    Compiled(df, l.certain, l.maybe)
  }

  /** MINUS: remove left rows having a compatible right row with ≥1 shared
   * variable bound on BOTH sides; with no shared vars nothing is removed
   * (OpExecutor.java:267–277).
   *
   * Plan shapes, best-first (VERDICT r2 "What's wrong" #1): when every
   * shared var is certain on both sides the condition collapses to plain
   * equality and ≥1-both-bound holds trivially — a hashable equi
   * `left_anti`. With few maybe-bound shared vars, reuse the halfJoin
   * LID decomposition (union of equi-joins restricted to branches that
   * witness a both-bound var). Only the >MaxDecomposedVars tail — a shape
   * no realistic query produces — falls back to the OR-condition
   * nested-loop join.
   *
   * The scope's `keys` scope the anti-join to one key but are NOT shared
   * vars: the ≥1-both-bound rule applies to the DATA vars only, so two
   * patterns sharing no query variable still remove nothing. A variable
   * the LATERAL left binding substitutes (`left`) is a constant in both
   * operands, so it is no shared variable on rows whose binding binds it:
   * it is unbound there for the anti-join, and restored after. */
  private def minusJoin(l: Compiled, r: Compiled, keys: Seq[String],
                        left: String => Option[Column]): Compiled = {
    val shared = (l.vars.intersect(r.vars) -- keys).toSeq.sorted
    if (shared.isEmpty) return l
    val subst = shared.flatMap(v => left(v).map(v -> _))
    if (subst.nonEmpty) {
      val vs = subst.map(_._1)
      def unbind(c: Compiled) = Compiled(subst.foldLeft(c.df) { case (d, (v, mu)) =>
        d.withColumn(v, when(mu.isNull, col(v))) }, c.certain -- vs, c.maybe ++ vs)
      val m = minusJoin(unbind(l), unbind(r), keys, _ => None)
      return Compiled(subst.foldLeft(m.df) { case (d, (v, mu)) =>
        d.withColumn(v, coalesce(col(v), mu)) }, l.certain, l.maybe)
    }
    val rr = renamedRight(r)
    val mv = maybeShared(l, r, shared)
    if (mv.isEmpty) {
      val cond = (shared ++ keys).map(v => col(v) === col(RP + v)).reduce(_ && _)
      Compiled(l.df.join(rr, cond, "left_anti"), l.certain, l.maybe)
    } else if (mv.size <= MaxDecomposedVars) {
      val lid = tagged(l.df)
      val certainKeys = shared.filterNot(mv.contains)
      val matchedIds = compatMatches(lid, rr, l.certain, r.certain,
        certainKeys, mv, requireBothBound = true, extraKeys = keys)
        .select(col(LID)).distinct()
      Compiled(lid.join(matchedIds, Seq(LID), "left_anti").drop(LID),
        l.certain, l.maybe)
    } else {
      val compat = shared.map { v =>
        (col(v) <=> col(RP + v)) || col(v).isNull || col(RP + v).isNull
      }.reduce(_ && _)
      val anyBothBound = shared.map { v =>
        col(v).isNotNull && col(RP + v).isNotNull
      }.reduce(_ || _)
      val keyEq = keys.map(k => col(k) === col(RP + k))
      Compiled(l.df.join(rr, keyEq.foldLeft(compat && anyBothBound)(_ && _), "left_anti"),
        l.certain, l.maybe)
    }
  }

  private def valuesTable(spark: SparkSession, vars: Seq[String],
                          rows: Seq[Map[String, Term]]): Compiled = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    val schema = StructType(vars.map(v =>
      org.apache.spark.sql.types.StructField(v, TermCols.schema, nullable = true)))
    val data = rows.map(m => Row(vars.map(v =>
      m.get(v).map(t => Row(t.kind, t.lex, t.dt, t.lang)).orNull): _*))
    // LocalRelation (not an RDD): VALUES data is query-literal-sized, and
    // a local relation lets Catalyst fold/broadcast it — and lets the
    // property-function bind recognize the 1-row unit table statically
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](data.asJava), schema)
    val certain = vars.filter(v => rows.forall(_.contains(v))).toSet
    Compiled(df, certain, vars.toSet -- certain)
  }
}

/**
 * Property-path evaluation — the set-at-a-time replacement for the
 * reference's per-binding ALP BFS (PathEngine.java:96–129). ONE recursion
 * over [[Path]], [[eval]], serves three spaces; a [[Space]] supplies only
 * its key columns, its leaf scans and its zero-length node set:
 *  - [[Terms]]: term structs over a GraphSource's ACTIVE graph;
 *  - [[Ids]]: LONG ids over an id-encoded snapshot's layouts — closure
 *    joins move 16-byte rows, and the dictionary joins in exactly once per
 *    endpoint, at the projection edge;
 *  - [[PerGraph]]: term structs within each named graph of a (g, s, p, o)
 *    frame, for the single-plan GRAPH ?var — every join and closure keys
 *    on g, so a walk never crosses graphs.
 * GLOBAL evaluation (no seeds) yields every (src, dst) pair. SEEDED
 * evaluation — a bound endpoint, the ALP analog (PathEngine.java:49–122
 * seeds a BFS at the bound node) — yields the pairs whose src is a seed
 * and walks only the seeds' cones: the same frontier-delta loop as the
 * global closure (graft.ops.Graphs), started from the seeds' out-edges
 * instead of every edge. Closure rounds are lineage-truncated by
 * localCheckpoint — the property the north rule's CC pass also relies on.
 */
object PathEval {

  import Compiler.{EncodedSnapshotGraph, GraphSource, SnapshotGraph}

  /** Can `path` match with zero steps? (Drives the constant-endpoint
   * zero-length augmentation in the PathPattern compile.) */
  def allowsZero(p: Path): Boolean = p match {
    case PZeroOrMore(_) | PZeroOrOne(_) => true
    case PMod(_, min, _) => min == 0
    case PAlt(a, b) => allowsZero(a) || allowsZero(b)
    case PSeq(a, b) => allowsZero(a) && allowsZero(b)
    case PInverse(q) => allowsZero(q)
    case PDistinct(q) => allowsZero(q)
    case PMulti(q) => allowsZero(q)
    case _ => false
  }

  /** Structural inverse: a path `r` with pairs(r) = swap(pairs(p)),
   * inversion pushed to the leaves (PathFactory.pathInverse / the ARQ
   * inverse transform) — lets a bound OBJECT seed a forward walk. */
  def inverse(p: Path): Path = p match {
    case PLink(i) => PInverse(PLink(i))
    case PInverse(q) => q
    case PSeq(a, b) => PSeq(inverse(b), inverse(a))
    case PAlt(a, b) => PAlt(inverse(a), inverse(b))
    // NPS(fwd) ∪ ^NPS(inv) swapped = ^NPS(fwd) ∪ NPS(inv)
    case PNegPropSet(fwd, inv) => PNegPropSet(inv, fwd)
    case POneOrMore(q) => POneOrMore(inverse(q))
    case PZeroOrMore(q) => PZeroOrMore(inverse(q))
    case PZeroOrOne(q) => PZeroOrOne(inverse(q))
    case PFixedLength(q, n) => PFixedLength(inverse(q), n)
    case PMod(q, mn, mx) => PMod(inverse(q), mn, mx)
    case PDistinct(q) => PDistinct(inverse(q))
    case PMulti(q) => PMulti(inverse(q))
    case PShortest(q) => PShortest(inverse(q))
  }

  /** Does evaluating `p` run an iterative closure loop? Those are the
   * shapes where a bound endpoint can't reach the loop through Catalyst
   * filter pushdown (each round's localCheckpoint is a pushdown barrier),
   * so seeding must happen at evaluation time. Everything else — scans,
   * join chains, unions — gets endpoint constants pushed into the leaf
   * scans by the optimizer already. */
  def containsClosure(p: Path): Boolean = p match {
    case POneOrMore(_) | PZeroOrMore(_) => true
    case PMod(q, _, max) => max < 0 || containsClosure(q)
    case PSeq(a, b) => containsClosure(a) || containsClosure(b)
    case PAlt(a, b) => containsClosure(a) || containsClosure(b)
    case PInverse(q) => containsClosure(q)
    case PDistinct(q) => containsClosure(q)
    case PMulti(q) => containsClosure(q)
    case PZeroOrOne(q) => containsClosure(q)
    case PFixedLength(q, _) => containsClosure(q)
    case _ => false
  }

  /** Where a path walks. Every pair frame of a space is (keys…, src, dst);
   * a seed frame is (keys…, n). */
  sealed trait Space {
    def spark: SparkSession
    def keys: Seq[String]
    /** (keys…, src, dst) of one predicate's edges. */
    def link(iri: String): DataFrame
    /** Edges whose predicate is an IRI not in `excluded`, optionally
     * reversed. */
    def negSet(excluded: Seq[String], reversed: Boolean): DataFrame
    /** (keys…, n, n) for every subject/object node: the zero-length set. */
    def nodes: DataFrame
    /** The seed frame of a constant endpoint. */
    def constSeeds(t: Term): DataFrame
  }

  /** Term structs over the ACTIVE graph: paths evaluate in the active
   * graph exactly like BGPs, so on a quad table only default-graph rows
   * (and no empty-graph marker rows) participate — without this filter a
   * top-level path would traverse NAMED-graph edges (caught by the quad
   * differential gate). Over a store snapshot a link scans the POS layout
   * with the predicate pushed down (the hot case — every closure's
   * per-round probe). Over an ID-ENCODED snapshot every id-expressible
   * subtree of a global walk evaluates in [[Ids]] ([[eval]]). */
  final case class Terms(g: GraphSource) extends Space {
    def spark: SparkSession = g.spark
    def keys: Seq[String] = Nil
    private def active: DataFrame = Compiler.defaultGraphTriples(g.df)
    def link(iri: String): DataFrame = g match {
      case sg: SnapshotGraph =>
        Compiler.storeScan(sg.spark, sg.dir, quads = false,
          Compiler.slotsOf(TriplePattern(TVar("src"), TConst(Term.iri(iri)), TVar("dst")))).df
      case _ =>
        active.filter(TermCols.isIri(col("p")) && TermCols.lex(col("p")) === iri)
          .select(col("s").as("src"), col("o").as("dst"))
    }
    def negSet(excluded: Seq[String], reversed: Boolean): DataFrame = {
      val base = active.filter(TermCols.isIri(col("p")) &&
        !TermCols.lex(col("p")).isin(excluded: _*))
      if (reversed) base.select(col("o").as("src"), col("s").as("dst"))
      else base.select(col("s").as("src"), col("o").as("dst"))
    }
    def nodes: DataFrame = {
      val n = active.select(col("s").as("n")).union(active.select(col("o").as("n")))
        .filter(col("n").isNotNull).distinct()
      n.select(col("n").as("src"), col("n").as("dst"))
    }
    def constSeeds(t: Term): DataFrame = spark.range(1).select(TermCols.const(t).as("n"))
  }

  /** LONG ids over an id-encoded snapshot's layouts. A negated property
   * set needs per-predicate KIND checks (a dictionary join per scan), so
   * it is not id-expressible and keeps the [[Terms]] face. */
  final case class Ids(esg: EncodedSnapshotGraph) extends Space {
    def spark: SparkSession = esg.spark
    def keys: Seq[String] = Nil
    def link(iri: String): DataFrame = {
      val scan = esg.idLayout("pos")
      (esg.idsOf(Seq(Term.iri(iri))).values.headOption match {
        case Some(pid) => scan.where(col("p_id") === pid)
        case None => scan.limit(0)
      }).select(col("s_id").as("src"), col("o_id").as("dst"))
    }
    def negSet(excluded: Seq[String], reversed: Boolean): DataFrame =
      throw new IllegalStateException("a negated property set is not id-expressible")
    def nodes: DataFrame = {
      val spo = esg.idLayout("spo")
      spo.select(col("s_id").as("n")).union(spo.select(col("o_id").as("n")))
        .distinct().select(col("n").as("src"), col("n").as("dst"))
    }
    /** One driver dictionary probe; a term not in the dictionary seeds
     * nothing. */
    def constSeeds(t: Term): DataFrame = esg.idsOf(Seq(t)).get(t) match {
      case Some(id) => spark.range(1).select(lit(id).as("n"))
      case None => spark.range(0).select(col("id").as("n"))
    }
    /** Term-struct seeds to ids: one dictionary join. */
    def encode(seeds: DataFrame): DataFrame =
      seeds.toDF("n").distinct().join(esg.terms,
          col("n.kind") === col("kind") && col("n.lex") === col("lex") &&
            col("n.dt") === col("dt") && col("n.lang") === col("lang"))
        .select(col("id").as("n"))
  }

  /** Term structs within each named graph of `nq`, a (g, s, p, o) frame of
   * named quads (marker rows tolerated: every scan filters on p or s).
   * One plan for ALL graphs — the shape that survives one-graph-per-
   * document scale, where per-graph plan enumeration cannot. */
  final case class PerGraph(nq: DataFrame) extends Space {
    def spark: SparkSession = nq.sparkSession
    def keys: Seq[String] = Seq("g")
    def link(iri: String): DataFrame =
      nq.filter(TermCols.isIri(col("p")) && TermCols.lex(col("p")) === iri)
        .select(col("g"), col("s").as("src"), col("o").as("dst"))
    def negSet(excluded: Seq[String], reversed: Boolean): DataFrame = {
      val base = nq.filter(TermCols.isIri(col("p")) &&
        !TermCols.lex(col("p")).isin(excluded: _*))
      if (reversed) base.select(col("g"), col("o").as("src"), col("s").as("dst"))
      else base.select(col("g"), col("s").as("src"), col("o").as("dst"))
    }
    def nodes: DataFrame = {
      val t = nq.filter(col("s").isNotNull)
      val n = t.select(col("g"), col("s").as("n")).union(t.select(col("g"), col("o").as("n")))
        .filter(col("n").isNotNull).distinct()
      n.select(col("g"), col("n").as("src"), col("n").as("dst"))
    }
    /** The constant in EVERY named graph. */
    def constSeeds(t: Term): DataFrame =
      nq.select(col("g")).distinct().select(col("g"), TermCols.const(t).as("n"))
  }

  /** Paths [[Ids]] covers: all but negated property sets (and PShortest,
   * which raises either way). */
  private def idExpressible(p: Path): Boolean = p match {
    case PLink(_) => true
    case PInverse(q) => idExpressible(q)
    case PSeq(a, b) => idExpressible(a) && idExpressible(b)
    case PAlt(a, b) => idExpressible(a) && idExpressible(b)
    case POneOrMore(q) => idExpressible(q)
    case PZeroOrMore(q) => idExpressible(q)
    case PZeroOrOne(q) => idExpressible(q)
    case PFixedLength(q, _) => idExpressible(q)
    case PMod(q, _, _) => idExpressible(q)
    case PDistinct(q) => idExpressible(q)
    case PMulti(q) => idExpressible(q)
    case _ => false
  }

  /** The (keys…, src, dst) pairs connected by `path` in `sp`: all of them
   * (`seeds` None), or those whose (keys…, src) is in the seed frame. On an
   * encoded snapshot's [[Terms]] face an id-expressible global subtree
   * hands off to [[Ids]], decoding at the edge — also beside a negated
   * property set and inside a seeded walk. Bag semantics per shape: the
   * arbitrary-length forms are sets (the ALP visited-set contract), the
   * fixed shapes keep duplicates like their BGP flattening would. */
  def eval(sp: Space, path: Path, seeds0: Option[DataFrame]): DataFrame = sp match {
    case Terms(esg: EncodedSnapshotGraph) if seeds0.isEmpty && idExpressible(path) =>
      decodeIdPairs(esg, eval(Ids(esg), path, None))
    case _ =>
      val seeds = seeds0.map(_.toDF(sp.keys.map("__s" + _) :+ "n": _*).distinct())
      def nodes = seeds.fold(sp.nodes)(restrict(sp, sp.nodes, _))
      def same(p: Path) = eval(sp, p, seeds)
      // a seeded walk's next step starts where `d` ends
      def from(d: DataFrame, p: Path) = eval(sp, p, seeds.map(_ => reseed(sp, d)))
      path match {
        // leaves: a single scan; a seeded one restricts src by a semi-join
        // against the (small, broadcastable) seed frame, and Catalyst keeps
        // the predicate pushdown of the underlying scan
        case PLink(_) | PNegPropSet(_, _) | PInverse(PLink(_)) if seeds.nonEmpty =>
          restrict(sp, eval(sp, path, None), seeds.get)
        case PLink(iri) => sp.link(iri)
        case PNegPropSet(fwd, inv) =>
          // SPARQL 1.1 §9.1 NPS translation: !(p…|^q…) =
          //   NPS(fwd)  ∪  ^NPS(inv) — each direction present only when its
          // member list is (P_NegPropSet.java fwd/bwd split)
          (fwd.nonEmpty, inv.nonEmpty) match {
            case (_, false) => sp.negSet(fwd, reversed = false)
            case (false, true) => sp.negSet(inv, reversed = true)
            case (true, true) =>
              sp.negSet(fwd, reversed = false).union(sp.negSet(inv, reversed = true))
          }
        // a seeded inverse walks the structural inverse forward
        case PInverse(q) if seeds.nonEmpty => same(inverse(q))
        case PInverse(q) => swap(sp, eval(sp, q, None))
        case PAlt(a, b) => same(a).union(same(b)) // bag union (SPARQL alt)
        case PSeq(a, b) =>
          // bag semantics — one pair per intermediate node, matching the
          // reference's TransformPathFlatten rewrite of p1/p2 into a BGP
          val l = same(a)
          compose(sp, l, from(l, b))
        // the closure's inner pairs stay global: they ARE the edge relation
        // the cone walks
        case POneOrMore(q) => closure(sp, eval(sp, q, None), seeds)
        case PZeroOrMore(q) =>
          closure(sp, eval(sp, q, None), seeds).union(nodes).distinct()
        case PZeroOrOne(q) => same(q).union(nodes).distinct()
        case PFixedLength(q, n) =>
          require(n >= 1, "PFixedLength n must be >= 1")
          // global: one step relation, re-joined; seeded: each step walks
          // on from the previous step's ends
          val first = same(q)
          (2 to n).foldLeft(first)((acc, _) =>
            compose(sp, acc, if (seeds.isEmpty) first else from(acc, q)))
        case PMod(q, min, max) =>
          require(min >= 0 && (max < 0 || max >= min), s"bad path mod {$min,$max}")
          if (max < 0) {
            // p{n,} = p{n} then p* — the closure handles the unbounded tail
            val head = if (min == 0) nodes else same(PFixedLength(q, min))
            compose(sp, head, from(head, PZeroOrMore(q))).distinct()
          } else {
            // bounded: union of the fixed lengths, distinct pairs (the ALP
            // visited-set contract applies to mod paths in the reference)
            val parts = (math.max(min, 1) to max).map(k => same(PFixedLength(q, k)))
            val fixed = if (parts.isEmpty) nodes else parts.reduce(_ union _)
            (if (min == 0) fixed.union(nodes) else fixed).distinct()
          }
        // ARQ algebra-level extensions (PathEvaluator.java:142-160):
        case PDistinct(q) => same(q).distinct()
        case PMulti(q) => same(q) // bag pass-through; see PMulti scaladoc
        case PShortest(q) =>
          // the reference throws ARQNotImplemented here (PathEvaluator.java:158)
          throw new UnsupportedOperationException(
            s"P_Shortest is not implemented (matching the reference): $q")
      }
  }

  /** Pairs of `path` whose src is a bound endpoint: a constant (Left), or
   * the values a join partner binds (Right: a seed frame, one term column
   * under [[Terms]]). On an encoded snapshot an id-expressible walk runs
   * in id space: the seeds encode by one driver dictionary probe or one
   * dictionary join, and the pairs decode at the edge. */
  def seeded(sp: Space, path: Path, seeds: Either[Term, DataFrame]): DataFrame = sp match {
    case Terms(esg: EncodedSnapshotGraph) if idExpressible(path) =>
      val ids = Ids(esg)
      decodeIdPairs(esg, eval(ids, path, Some(seeds.fold(ids.constSeeds, ids.encode))))
    case _ => eval(sp, path, Some(seeds.fold(sp.constSeeds, identity)))
  }

  /** (keys…, dst as src, src as dst). */
  private[algebra] def swap(sp: Space, d: DataFrame): DataFrame =
    d.select(sp.keys.map(col) :+ col("dst").as("src") :+ col("src").as("dst"): _*)

  /** Keep the pairs whose (keys…, src) is a seed. */
  private def restrict(sp: Space, d: DataFrame, seeds: DataFrame): DataFrame =
    d.join(seeds, (sp.keys.map(k => col(k) === col("__s" + k)) :+
      (col("src") === col("n"))).reduce(_ && _), "left_semi")

  /** The ends of `d` as a seed frame. */
  private def reseed(sp: Space, d: DataFrame): DataFrame =
    d.select(sp.keys.map(col) :+ col("dst").as("n"): _*)

  /** l.dst = r.src within the same keys: one pair per intermediate node. */
  private def compose(sp: Space, l: DataFrame, r: DataFrame): DataFrame =
    l.select(sp.keys.map(col) :+ col("src") :+ col("dst").as("__m"): _*)
      .join(r.select(sp.keys.map(k => col(k).as(s"__${k}2")) :+
          col("src").as("__m2") :+ col("dst"): _*),
        (sp.keys.map(k => col(k) === col(s"__${k}2")) :+
          (col("__m") === col("__m2"))).reduce(_ && _))
      .select(sp.keys.map(col) :+ col("src") :+ col("dst"): _*)

  /** Transitive closure of `edges` — global, or from the seeds only. With
   * keys, each node packs as struct(keys…, n), so frontier joins only
   * extend a walk within its own key (graph). Select by NAME first: the
   * loops rename positionally and scan output order is not guaranteed. */
  private def closure(sp: Space, edges: DataFrame, seeds: Option[DataFrame]): DataFrame =
    if (sp.keys.isEmpty) {
      val e = edges.select(col("src"), col("dst"))
      seeds.fold(Graphs.transitiveClosure(e))(Graphs.reachableFrom(e, _))
    } else {
      def pack(ks: Seq[String], n: String) =
        struct(sp.keys.zip(ks).map { case (k, c) => col(c).as(k) } :+ col(n).as("n"): _*)
      val packed = edges.select(pack(sp.keys, "src").as("src"), pack(sp.keys, "dst").as("dst"))
      seeds.fold(Graphs.transitiveClosure(packed))(s =>
          Graphs.reachableFrom(packed, s.select(pack(sp.keys.map("__s" + _), "n").as("n"))))
        .select(sp.keys.map(k => col(s"src.$k").as(k)) :+
          col("src.n").as("src") :+ col("dst.n").as("dst"): _*)
    }

  /** Decode an id-pair frame to term structs: ONE dictionary join per
   * endpoint, at the projection edge (SURVEY §1.6). */
  private def decodeIdPairs(esg: EncodedSnapshotGraph, idPairs: DataFrame): DataFrame = {
    def dict(tag: String) = esg.terms.select(col("id").as(s"__id_$tag"),
      struct(col("kind"), col("lex"), col("dt"), col("lang")).as(tag))
    idPairs
      .join(dict("__src_t"), col("src") === col("__id___src_t"))
      .join(dict("__dst_t"), col("dst") === col("__id___dst_t"))
      .select(col("__src_t").as("src"), col("__dst_t").as("dst"))
  }
}
