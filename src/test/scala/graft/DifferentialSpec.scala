package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.algebra._
import graft.algebra.{TermCols => TC}
import graft.model.{Term, Triple}

/**
 * Dual-engine DIFFERENTIAL testing — the reference's own correctness
 * architecture (SURVEY §4.2/§5.6): a deliberately naive, materializing
 * evaluator exists purely as an oracle for the optimized engine
 * (jena-arq/.../sparql/engine/ref/QueryEngineRef.java:43,
 * EvaluatorSimple.java:50; manifest-ref-arq.ttl runs the same queries on
 * both engines and diffs). Here: `RefEval` implements SPARQL algebra
 * semantics directly over in-memory `Seq[Triple]` + `Map[String,Term]`
 * bindings (per-operator definitions from the SPARQL 1.1 spec §18.5), and
 * a fixed-seed generator produces random Op trees over the JOIN FAMILY —
 * Join/LeftJoin/Minus/Semi/Anti/Union/Filter/Extend/VALUES/Distinct/
 * Project/Group — where compatible-binding semantics bugs live (maybe-
 * bound shared variables, unbound-vs-NULL, error propagation). Each tree
 * is evaluated by the DataFrame compiler and by RefEval and compared as
 * solution MULTISETS (bag semantics).
 *
 * Expressions are generated as PAIRS (a compiler RowExpr and its local
 * semantics) because RowExpr is opaque Catalyst-column code; the catalog
 * pins the dual meaning of each operator including SPARQL error handling
 * (error = None locally, NULL column-side; Kleene AND/OR matches SQL
 * three-valued logic, QueryIterFilterExpr.java:52 drop-on-error).
 *
 * Fixed seed (offline cache has no scalatest-scalacheck bridge, like
 * NormalizeSpec); override iterations with -Dgraft.diff.n=N.
 */
class DifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val EX = "http://example/"
  private def iri(s: String) = Term.iri(EX + s)
  private def int(n: Int) = Term.lit(n.toString, Term.XSD_INTEGER)

  // ------------------------------------------------------------ RefEval

  /** A solution: var → term; absent key = unbound (Binding.java:45). */
  type Sol = Map[String, Term]

  /** Dataset under evaluation: `triples` is the ACTIVE (default) graph;
   * `quads` the named-graph part (empty in triple mode). */
  final case class GData(triples: Seq[Triple], quads: Seq[graft.model.Quad])

  object RefEval {
    /** SPARQL §18.3 compatibility: agree on every shared bound var. */
    def compatible(a: Sol, b: Sol): Boolean =
      a.keySet.intersect(b.keySet).forall(k => a(k) == b(k))

    def matchPattern(g: Seq[Triple], tp: TriplePattern, sol: Sol): Seq[Sol] = {
      def slot(p: TermPat, actual: Term, acc: Sol): Option[Sol] = p match {
        case TAny => Some(acc)
        case TConst(t) => if (t == actual) Some(acc) else None
        case TVar(n) => acc.get(n) match {
          case Some(bound) => if (bound == actual) Some(acc) else None
          case None => Some(acc + (n -> actual))
        }
      }
      g.flatMap { t =>
        slot(tp.s, t.s, sol).flatMap(a => slot(tp.p, t.p, a))
          .flatMap(a => slot(tp.o, t.o, a)).toSeq
      }
    }

    /** Distinct reachability pairs (≥1 step) — Graphs.transitiveClosure. */
    def tc(rel: Seq[(Term, Term)]): Seq[(Term, Term)] = {
      val adj = rel.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      adj.keys.toSeq.flatMap { src =>
        val seen = scala.collection.mutable.Set[Term]()
        var frontier = adj.getOrElse(src, Set.empty)
        while (frontier.nonEmpty) {
          val next = frontier.filterNot(seen)
          seen ++= next
          frontier = next.flatMap(n => adj.getOrElse(n, Set.empty))
        }
        seen.toSeq.map(src -> _)
      }
    }

    /** All subject/object terms as identity pairs (zero-length node set). */
    def allNodes(g: Seq[Triple]): Seq[(Term, Term)] =
      (g.map(_.s) ++ g.map(_.o)).distinct.map(t => (t, t))

    /** Mirror of PathEval.pairs — BAG for link/inv/seq/alt/negset, SET
     * for the closure forms (visited-set ALP contract). */
    def pathRel(g: Seq[Triple], p: Path): Seq[(Term, Term)] = p match {
      case PLink(iri) =>
        g.filter(t => t.p.kind == Term.KIND_IRI && t.p.lex == iri).map(t => (t.s, t.o))
      case PNegPropSet(fwd, inv) =>
        def dir(excl: Seq[String], rev: Boolean) =
          g.filter(t => t.p.kind == Term.KIND_IRI && !excl.contains(t.p.lex))
            .map(t => if (rev) (t.o, t.s) else (t.s, t.o))
        (fwd.nonEmpty, inv.nonEmpty) match {
          case (_, false) => dir(fwd, rev = false)
          case (false, true) => dir(inv, rev = true)
          case (true, true) => dir(fwd, rev = false) ++ dir(inv, rev = true)
        }
      case PInverse(q) => pathRel(g, q).map(_.swap)
      case PAlt(a, b) => pathRel(g, a) ++ pathRel(g, b)
      case PSeq(a, b) =>
        val (la, lb) = (pathRel(g, a), pathRel(g, b))
        for ((x1, m) <- la; (m2, y) <- lb if m == m2) yield (x1, y)
      case POneOrMore(q) => tc(pathRel(g, q))
      case PZeroOrMore(q) => (tc(pathRel(g, q)) ++ allNodes(g)).distinct
      case PZeroOrOne(q) => (pathRel(g, q) ++ allNodes(g)).distinct
      case PFixedLength(q, n) => fixed(pathRel(g, q), n)
      case PMod(q, min, max) =>
        // SET semantics like the other closure forms: p{n,} = p{n}/p*,
        // p{n,m} = the union of the fixed lengths n..m (p{0} = identity)
        val r = pathRel(g, q)
        val zero = if (min == 0) allNodes(g) else Nil
        if (max < 0) {
          val star = (tc(r) ++ allNodes(g)).distinct
          val head = if (min == 0) allNodes(g) else fixed(r, min)
          (for ((x1, m) <- head; (m2, y) <- star if m == m2) yield (x1, y)).distinct
        } else
          ((math.max(min, 1) to max).flatMap(fixed(r, _)) ++ zero).distinct
      case PDistinct(q) => pathRel(g, q).distinct
      case other => sys.error(s"RefEval: unsupported path $other")
    }

    /** p{n}: n-fold bag composition of a pair relation. */
    def fixed(r: Seq[(Term, Term)], n: Int): Seq[(Term, Term)] =
      (2 to n).foldLeft(r)((acc, _) =>
        for ((x1, m) <- acc; (m2, y) <- r if m == m2) yield (x1, y))

    /** 4-slot unification for QuadBgp: the graph slot joins exactly like
     * s/p/o (Compiler extraSlots); GRAPH never matches the default graph. */
    def matchQuad(qs: Seq[graft.model.Quad], gp: TermPat, tp: TriplePattern,
                  sol: Sol): Seq[Sol] = {
      def slot(p: TermPat, actual: Term, acc: Sol): Option[Sol] = p match {
        case TAny => Some(acc)
        case TConst(t) => if (t == actual) Some(acc) else None
        case TVar(n) => acc.get(n) match {
          case Some(b) => if (b == actual) Some(acc) else None
          case None => Some(acc + (n -> actual))
        }
      }
      qs.filter(q => q.g != Term.defaultGraph).flatMap { q =>
        slot(gp, q.g, sol).flatMap(a => slot(tp.s, q.s, a))
          .flatMap(a => slot(tp.p, q.p, a)).flatMap(a => slot(tp.o, q.o, a)).toSeq
      }
    }

    def eval(op: Op, g: GData, x: DExprs): Seq[Sol] = op match {
      case Bgp(pats) =>
        pats.foldLeft(Seq[Sol](Map.empty)) { (sols, tp) =>
          sols.flatMap(s => matchPattern(g.triples, tp, s))
        }
      case QuadBgp(gp, pats) =>
        pats.foldLeft(Seq[Sol](Map.empty)) { (sols, tp) =>
          sols.flatMap(s => matchQuad(g.quads, gp, tp, s))
        }
      case DatasetNames(gp) =>
        val names = g.quads.map(_.g).filter(_ != Term.defaultGraph).distinct
        gp match {
          // GRAPH <g> {} / GRAPH [] {} are existence gates: one unit row
          case TAny => if (names.nonEmpty) Seq(Map.empty: Sol) else Nil
          case TConst(t) =>
            if (names.contains(t)) Seq(Map.empty: Sol) else Nil
          case TVar(v) => names.map(n => Map(v -> n): Sol)
        }
      case GraphScope(gn, body) =>
        // GRAPH changes the ACTIVE graph only — the dataset's named part
        // stays visible to nested GRAPH/dataset operators (SPARQL 18.5
        // eval(D(D[iri]), P))
        val scoped = g.quads.filter(_.g == gn).map(q => Triple(q.s, q.p, q.o))
        eval(body, GData(scoped, g.quads), x)
      case GraphVarEnum(v, body) =>
        // §18.5: union over named graphs gn of Join(eval(D[gn], body), {v→gn});
        // v is NOT visible inside body — a body binding the name joins here
        val names = g.quads.map(_.g).filter(_ != Term.defaultGraph).distinct
        names.flatMap { gn =>
          val scoped = g.quads.filter(_.g == gn).map(q => Triple(q.s, q.p, q.o))
          eval(body, GData(scoped, g.quads), x).flatMap { m =>
            if (m.get(v).forall(_ == gn)) Some(m + (v -> gn)) else None
          }
        }
      case Lateral(l, r) =>
        // the right side is evaluated once per left row μ, with μ
        // substituted in (OpLateral / QueryIterLateral)
        eval(l, g, x).flatMap(m1 => evalSub(r, m1, g, x).map(m1 ++ _))
      case DatasetClause(defaults, named, body) =>
        // FROM re-scope: default graph = set-UNION of the listed graphs
        // (GraphUnionRead dedup), named graphs = exactly the listed names
        val defT = g.quads.filter(q => defaults.contains(q.g.lex))
          .map(q => Triple(q.s, q.p, q.o)).distinct
        val namedQ = g.quads.filter(q =>
          named.contains(q.g.lex) && q.g != Term.defaultGraph)
        eval(body, GData(defT, namedQ), x)
      case PathPattern(sp, path, op2) =>
        var prs = pathRel(g.triples, path)
        // constant-endpoint zero-length augmentation (Compiler PathPattern:
        // SPARQL 18.4 ZeroLengthPath matches a constant against itself even
        // off-graph), mirrored incl. the consts-only distinct
        if (PathEval.allowsZero(path)) {
          val consts = Seq(sp, op2).collect { case TConst(t) => t }.distinct
          prs = prs ++ consts.map(t => (t, t))
          if (consts.nonEmpty) prs = prs.distinct
        }
        def slot(p: TermPat, actual: Term, acc: Sol): Option[Sol] = p match {
          case TAny => Some(acc)
          case TConst(t) => if (t == actual) Some(acc) else None
          case TVar(n) => acc.get(n) match {
            case Some(b) => if (b == actual) Some(acc) else None
            case None => Some(acc + (n -> actual))
          }
        }
        prs.flatMap { case (s, o) =>
          slot(sp, s, Map.empty: Sol).flatMap(a => slot(op2, o, a)).toSeq
        }
      case Join(l, r) =>
        val (ls, rs) = (eval(l, g, x), eval(r, g, x))
        for (a <- ls; b <- rs if compatible(a, b)) yield a ++ b
      case Union(l, r) => eval(l, g, x) ++ eval(r, g, x)
      case LeftJoin(l, r, cond) =>
        // §18.5 LeftJoin(Ω1,Ω2,expr) = Filter(expr, Join) ∪ Diff: μ1 alone
        // when no compatible μ2 makes expr true (false OR error both fail)
        val (ls, rs) = (eval(l, g, x), eval(r, g, x))
        val condTrue = (m: Sol) =>
          cond.forall(c => x.evalBool(c, m).contains(true))
        ls.flatMap { a =>
          val matches = rs.filter(b => compatible(a, b))
            .map(b => a ++ b).filter(condTrue)
          if (matches.nonEmpty) matches else Seq(a)
        }
      case Minus(l, r) =>
        // remove μ1 compatible with some μ2 SHARING ≥1 bound var
        // (OpExecutor.java:267–277, QueryIterMinus.java:35)
        val (ls, rs) = (eval(l, g, x), eval(r, g, x))
        ls.filter(a => !rs.exists(b =>
          compatible(a, b) && a.keySet.intersect(b.keySet).nonEmpty))
      case SemiJoin(l, r) =>
        val (ls, rs) = (eval(l, g, x), eval(r, g, x))
        ls.filter(a => rs.exists(b => compatible(a, b)))
      case AntiJoin(l, r) =>
        val (ls, rs) = (eval(l, g, x), eval(r, g, x))
        ls.filter(a => !rs.exists(b => compatible(a, b)))
      case ExistsFlag(v, r, input) =>
        val rs = eval(r, g, x)
        eval(input, g, x).map(a =>
          a + (v -> Term.lit(rs.exists(b => compatible(a, b)).toString,
            Term.XSD + "boolean")))
      case Filter(c, input) =>
        eval(input, g, x).filter(m => x.evalBool(c, m).contains(true))
      case Extend(v, e, input) =>
        // eval error ⇒ var stays unbound, row kept (QueryIterAssign.java:67)
        eval(input, g, x).map(m => x.evalTerm(e, m) match {
          case Some(t) => m + (v -> t)
          case None => m
        })
      case Project(vars, input) =>
        eval(input, g, x).map(_.filter(kv => vars.contains(kv._1)))
      case DropVars(vars, input) =>
        eval(input, g, x).map(_.filter(kv => !vars.contains(kv._1)))
      case Distinct(input) => eval(input, g, x).distinct
      case Table(_, rows) => rows
      case Group(keys, aggs, input) =>
        val sols = eval(input, g, x)
        val groups: Seq[(Sol, Seq[Sol])] =
          if (keys.isEmpty) Seq((Map.empty: Sol) -> sols)
          else sols.groupBy(m => keys.flatMap(k => m.get(k).map(k -> _)).toMap)
            .toSeq
        groups.map { case (key, members) =>
          key ++ aggs.flatMap { case (name, agg) =>
            x.evalAgg(agg, members).map(name -> _)
          }
        }
      case other => sys.error(s"RefEval: unsupported op $other")
    }

    /** `op` with the LATERAL left row `mu` substituted: mu's variables are
     * constants, so no solution binds them, and expressions read them from
     * mu (a solution's own binding wins, which only an EXISTS flag named
     * like a left variable uses). A sub-SELECT substitutes only the
     * variables it projects; its other variables are fresh. */
    def evalSub(op: Op, mu: Sol, g: GData, x: DExprs): Seq[Sol] = {
      def sub(o: Op): Seq[Sol] = evalSub(o, mu, g, x)
      def scope(m: Sol): Sol = mu ++ m
      def holds(c: RowExpr, m: Sol): Boolean = x.evalBool(c, scope(m)).contains(true)
      def sorted(keys: Seq[SortKey], ms: Seq[Sol]): Seq[Sol] =
        ms.sorted(new Ordering[Sol] {
          def compare(a: Sol, b: Sol): Int = keys.iterator.map { k =>
            val c = keyOrd.compare(localKey(scope(a).get(k.v)), localKey(scope(b).get(k.v)))
            if (k.ascending) c else -c
          }.find(_ != 0).getOrElse(0)
        })
      op match {
        case Join(a, b) =>
          val (ls, rs) = (sub(a), sub(b))
          for (p <- ls; q <- rs if compatible(p, q)) yield p ++ q
        case Union(a, b) => sub(a) ++ sub(b)
        case LeftJoin(a, b, cond) =>
          val (ls, rs) = (sub(a), sub(b))
          ls.flatMap { p =>
            val ms = rs.filter(compatible(p, _)).map(p ++ _)
              .filter(m => cond.forall(holds(_, m)))
            if (ms.nonEmpty) ms else Seq(p)
          }
        case Minus(a, b) =>
          val (ls, rs) = (sub(a), sub(b))
          ls.filter(p => !rs.exists(q => compatible(p, q) && p.keySet.intersect(q.keySet).nonEmpty))
        case SemiJoin(a, b) =>
          val rs = sub(b); sub(a).filter(p => rs.exists(compatible(p, _)))
        case AntiJoin(a, b) =>
          val rs = sub(b); sub(a).filter(p => !rs.exists(compatible(p, _)))
        case ExistsFlag(v, r, in) =>
          val rs = sub(r)
          sub(in).map(p => p + (v -> Term.lit(rs.exists(compatible(p, _)).toString,
            Term.XSD + "boolean")))
        case Filter(c, in) => sub(in).filter(holds(c, _))
        case Extend(v, e, in) =>
          sub(in).map(m => x.evalTerm(e, scope(m)).fold(m)(t => m + (v -> t)))
        case Project(vs, in) =>
          evalSub(in, mu.filter(kv => vs.contains(kv._1)), g, x)
            .map(_.filter(kv => vs.contains(kv._1)))
        case DropVars(vs, in) => sub(in).map(_ -- vs)
        case Distinct(in) => sub(in).distinct
        case Reduced(in) => sub(in).distinct
        case Order(_, in) => sub(in)
        case Label(_, in) => sub(in)
        case Slice(off, lim, Project(vs, in)) => sub(Project(vs, Slice(off, lim, in)))
        case Slice(off, lim, Order(keys, in)) =>
          sorted(keys, sub(in))
            .slice(off.toInt, if (lim == Long.MaxValue) Int.MaxValue else (off + lim).toInt)
        // a cut of UNORDERED rows is implementation-arbitrary
        case Slice(_, _, _) => sys.error("lateral oracle: Slice without an Order")
        case Group(keys, aggs, in) =>
          val ms = sub(in)
          val groups: Seq[(Sol, Seq[Sol])] =
            if (keys.isEmpty) Seq((Map.empty: Sol) -> ms)
            else ms.groupBy(m => keys.flatMap(k => m.get(k).map(k -> _)).toMap).toSeq
          groups.map { case (key, members) =>
            key ++ aggs.flatMap { case (n, a) => x.evalAgg(a, members.map(scope)).map(n -> _) }
          }
        case Lateral(a, b) =>
          sub(a).flatMap(m2 => evalSub(b, mu ++ m2, g, x).map(m2 ++ _))
        case leaf =>
          eval(leaf, g, x).filter(compatible(mu, _)).map(_ -- mu.keySet)
      }
    }
  }

  // ---------------------------------------------- dual expression catalog

  /** Registry pairing each generated RowExpr with its local semantics —
   * RowExprs are opaque closures, so the generator records both faces
   * under one id and `DExprs` dispatches the local one. */
  final class DExprs {
    sealed trait LocalF
    final case class LBool(f: Sol => Option[Boolean]) extends LocalF
    final case class LTerm(f: Sol => Option[Term]) extends LocalF
    final case class LAgg(f: Seq[Sol] => Option[Term]) extends LocalF
    private val locals = scala.collection.mutable.Map[RowExpr, LocalF]()
    private val shows = scala.collection.mutable.Map[RowExpr, String]()

    def bool(show: String, re: RowExpr, f: Sol => Option[Boolean]): RowExpr = {
      locals(re) = LBool(f); shows(re) = show; re
    }
    def term(show: String, re: RowExpr, f: Sol => Option[Term]): RowExpr = {
      locals(re) = LTerm(f); shows(re) = show; re
    }
    def agg(show: String, re: RowExpr, f: Seq[Sol] => Option[Term]): RowExpr = {
      locals(re) = LAgg(f); shows(re) = show; re
    }
    def evalBool(re: RowExpr, m: Sol): Option[Boolean] =
      locals(re) match { case LBool(f) => f(m); case _ => sys.error("not a bool expr") }
    def evalTerm(re: RowExpr, m: Sol): Option[Term] =
      locals(re) match { case LTerm(f) => f(m); case _ => sys.error("not a term expr") }
    def evalAgg(re: RowExpr, ms: Seq[Sol]): Option[Term] =
      locals(re) match { case LAgg(f) => f(ms); case _ => sys.error("not an agg expr") }
    def show(re: RowExpr): String = shows.getOrElse(re, "?")
  }

  // --------------------------------------------------------- generator

  private val varPool = Vector("a", "b", "c", "d")

  private def genTerm(rnd: Random): Term = rnd.nextInt(4) match {
    case 0 => iri("s" + rnd.nextInt(5))
    case 1 => iri("o" + rnd.nextInt(3))
    case 2 => Term.string("x" + rnd.nextInt(3)) // non-numeric: arithmetic errors
    case _ => int(1 + rnd.nextInt(5))
  }

  private def genGraph(rnd: Random): Seq[Triple] =
    (0 until (20 + rnd.nextInt(15))).map { _ =>
      Triple(iri("s" + rnd.nextInt(5)), iri("p" + rnd.nextInt(3)), genTerm(rnd))
    }.distinct

  private def genPattern(rnd: Random): TriplePattern = {
    def s = if (rnd.nextInt(10) < 6) TVar(varPool(rnd.nextInt(varPool.size)))
            else TConst(iri("s" + rnd.nextInt(5)))
    def p = if (rnd.nextInt(10) < 2) TVar(varPool(rnd.nextInt(varPool.size)))
            else TConst(iri("p" + rnd.nextInt(3)))
    def o = if (rnd.nextInt(10) < 6) TVar(varPool(rnd.nextInt(varPool.size)))
            else TConst(genTerm(rnd))
    TriplePattern(s, p, o)
  }

  private def genPath(rnd: Random, depth: Int): Path = {
    def link() = PLink(EX + "p" + rnd.nextInt(3))
    if (depth <= 0) {
      if (rnd.nextInt(5) == 0) {
        // negated property set: random forward/inverse member mix, never
        // both-empty (no !() syntax exists)
        val fwd = (0 until 3).filter(_ => rnd.nextBoolean()).map(i => EX + "p" + i)
        val inv = (0 until 3).filter(_ => rnd.nextBoolean()).map(i => EX + "p" + i)
        if (fwd.isEmpty && inv.isEmpty) PNegPropSet(Seq(EX + "p0"), Nil)
        else PNegPropSet(fwd, inv)
      } else link()
    } else rnd.nextInt(10) match {
      case 0 => PInverse(genPath(rnd, depth - 1))
      case 1 => PSeq(genPath(rnd, depth - 1), genPath(rnd, depth - 1))
      case 2 => PAlt(genPath(rnd, depth - 1), genPath(rnd, depth - 1))
      case 3 => POneOrMore(genPath(rnd, depth - 1))
      case 4 => PZeroOrMore(genPath(rnd, depth - 1))
      case 5 => PZeroOrOne(genPath(rnd, depth - 1))
      case 6 => PFixedLength(genPath(rnd, depth - 1), 2 + rnd.nextInt(2))
      case 7 =>
        // p{n,}, p{n,m} and p{0,0}
        val min = rnd.nextInt(3)
        val max = if (rnd.nextBoolean()) -1 else min + rnd.nextInt(3)
        PMod(genPath(rnd, depth - 1), min, max)
      // DISTINCT(path) has no SPARQL surface syntax
      case 8 if !textMode => PDistinct(genPath(rnd, depth - 1))
      case _ => genPath(rnd, 0)
    }
  }

  private def showPath(p: Path): String = p match {
    case PLink(i) => i.stripPrefix(EX)
    case PInverse(q) => s"^(${showPath(q)})"
    case PSeq(a, b) => s"(${showPath(a)}/${showPath(b)})"
    case PAlt(a, b) => s"(${showPath(a)}|${showPath(b)})"
    case POneOrMore(q) => s"(${showPath(q)})+"
    case PZeroOrMore(q) => s"(${showPath(q)})*"
    case PZeroOrOne(q) => s"(${showPath(q)})?"
    case PFixedLength(q, n) => s"(${showPath(q)}){$n}"
    case PMod(q, min, max) => s"(${showPath(q)}){$min,${if (max < 0) "" else max}}"
    case PDistinct(q) => s"DISTINCT(${showPath(q)})"
    case PNegPropSet(f, i) =>
      s"!(${(f.map(_.stripPrefix(EX)) ++ i.map("^" + _.stripPrefix(EX))).mkString("|")})"
    case other => other.toString
  }

  /** Kleene three-valued AND/OR — SQL NULL logic ≡ SPARQL error logic. */
  private def k3And(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
    (a, b) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true)) => Some(true)
      case _ => None
    }
  private def k3Or(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
    (a, b) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false)) => Some(false)
      case _ => None
    }

  private def localNum(t: Term): Option[Double] =
    if (t.kind == Term.KIND_LIT && (t.dt == Term.XSD_INTEGER ||
        t.dt == Term.XSD_DECIMAL || t.dt == Term.XSD_DOUBLE))
      t.lex.toDoubleOption
    else None

  /** Local mirror of TermCols.sortKey (SPARQL total order) over this
   * spec's term universe (IRIs, strings, canonical integers). */
  private def localKey(t: Option[Term]): (Int, Int, Double, String, String, String) =
    t match {
      case None => (0, 1, 0.0, "", "", "")
      case Some(x) =>
        val kr = x.kind match {
          case Term.KIND_BNODE => 1
          case Term.KIND_IRI => 2
          case Term.KIND_TRIPLE_TERM => 4
          case _ => 3
        }
        val num = localNum(x)
        (kr, if (num.isDefined) 0 else 1, num.getOrElse(0.0), x.lex, x.dt, x.lang)
    }
  private val keyOrd =
    implicitly[Ordering[(Int, Int, Double, String, String, String)]]

  private def genCond(rnd: Random, vars: Seq[String], x: DExprs, depth: Int = 0): RowExpr = {
    def vr() = vars(rnd.nextInt(vars.size))
    if (vars.isEmpty)
      return x.bool("true", RowExpr(_ => org.apache.spark.sql.functions.lit(true)),
        _ => Some(true))
    rnd.nextInt(if (depth < 1) 7 else 5) match {
      case 0 =>
        val v0 = vr()
        x.bool(s"BOUND(?$v0)", RowExpr(r => r(v0).isNotNull),
          m => Some(m.contains(v0)))
      case 1 =>
        val (v0, t) = (vr(), genTerm(rnd))
        x.bool(s"sameTerm(?$v0, ${rTerm(t)})", RowExpr(r => r(v0) === TC.const(t)),
          m => m.get(v0).map(_ == t))
      case 2 =>
        val (v0, k) = (vr(), 1 + rnd.nextInt(5))
        x.bool(s"(?$v0 < $k)", RowExpr(r => TC.numValue(r(v0)) < k),
          m => m.get(v0).flatMap(localNum).map(_ < k))
      case 3 =>
        val (v0, v1) = (vr(), vr())
        x.bool(s"sameTerm(?$v0, ?$v1)", RowExpr(r => r(v0) === r(v1)),
          m => for (a <- m.get(v0); b <- m.get(v1)) yield a == b)
      case 4 =>
        val v0 = vr()
        x.bool(s"isIRI(?$v0)", RowExpr(r => TC.isIri(r(v0))),
          m => m.get(v0).map(_.kind == Term.KIND_IRI))
      case 5 =>
        val (c1, c2) = (genCond(rnd, vars, x, depth + 1), genCond(rnd, vars, x, depth + 1))
        x.bool(s"(${x.show(c1)} && ${x.show(c2)})",
          RowExpr(r => c1(r) && c2(r)),
          m => k3And(x.evalBool(c1, m), x.evalBool(c2, m)))
      case _ =>
        val (c1, c2) = (genCond(rnd, vars, x, depth + 1), genCond(rnd, vars, x, depth + 1))
        x.bool(s"(${x.show(c1)} || ${x.show(c2)})",
          RowExpr(r => c1(r) || c2(r)),
          m => k3Or(x.evalBool(c1, m), x.evalBool(c2, m)))
    }
  }

  private def genTermExpr(rnd: Random, vars: Seq[String], x: DExprs,
                          depth: Int = 0): RowExpr = {
    import org.apache.spark.sql.functions.{when, lit}
    def vr() = vars(rnd.nextInt(vars.size))
    rnd.nextInt(if (vars.isEmpty) 1 else if (depth < 1) 6 else 3) match {
      case 0 =>
        val t = genTerm(rnd)
        x.term(rTerm(t), RowExpr(_ => TC.const(t)), _ => Some(t))
      case 1 =>
        val v0 = vr()
        x.term(s"?$v0", RowExpr(r => r(v0)), m => m.get(v0))
      case 2 =>
        // num(v)+1 as xsd:integer; non-numeric/unbound ⇒ error ⇒ unbound
        val v0 = vr()
        x.term(s"(?$v0 + 1)",
          RowExpr { r =>
            val n = TC.numValue(r(v0))
            when(n.isNotNull, TC.intTerm(n + 1))
          },
          m => m.get(v0).flatMap(localNum).map(d => int((d + 1).toLong.toInt)))
      case 3 =>
        // STR(?v): the lexical form as a simple literal (E_Str)
        val v0 = vr()
        x.term(s"STR(?$v0)",
          RowExpr(r => graft.functions.SparqlFunctions.str(r(v0))),
          m => m.get(v0).map(t => Term.string(t.lex)))
      case 4 =>
        // COALESCE: first argument that does NOT error (E_Coalesce)
        val (e1, e2) = (genTermExpr(rnd, vars, x, depth + 1),
          genTermExpr(rnd, vars, x, depth + 1))
        x.term(s"COALESCE(${x.show(e1)}, ${x.show(e2)})",
          RowExpr(r => graft.functions.SparqlFunctions.coalesceFn(e1(r), e2(r))),
          m => x.evalTerm(e1, m).orElse(x.evalTerm(e2, m)))
      case _ =>
        // IF: an erroring condition errors the whole IF (E_If; the same
        // guarded shape the Parser emits)
        val c = genCond(rnd, vars, x, 1)
        val (e1, e2) = (genTermExpr(rnd, vars, x, depth + 1),
          genTermExpr(rnd, vars, x, depth + 1))
        x.term(s"IF(${x.show(c)}, ${x.show(e1)}, ${x.show(e2)})",
          RowExpr { r =>
            val cc = c(r)
            when(cc.isNull, lit(null).cast(TC.schema))
              .otherwise(graft.functions.SparqlFunctions.ifFn(cc, e1(r), e2(r)))
          },
          m => x.evalBool(c, m) match {
            case None => None
            case Some(true) => x.evalTerm(e1, m)
            case Some(false) => x.evalTerm(e2, m)
          })
    }
  }

  /** Quad mode (set by the dataset differential test, read by leaf()):
   * adds QuadBgp / DatasetNames / GraphScope / GraphVarEnum leaves. Tests
   * in a funsuite run sequentially, so a field flag is safe. */
  private var quadMode = false
  /** Text mode additionally suppresses DatasetClause leaves (FROM is
   * query-level syntax, not renderable inside a group). */
  private var textMode = false

  private def genGraphName(rnd: Random): Term = iri("g" + (1 + rnd.nextInt(2)))

  /** Returns (op, visibleVars). Depth-bounded; expressions only reference
   * visible vars (the Parser's scope tracking guarantees the same). */
  private def genOp(rnd: Random, x: DExprs, depth: Int): (Op, Seq[String]) = {
    def quadLeaf(): (Op, Seq[String]) = rnd.nextInt(5) match {
      case 4 if !textMode =>
        // FROM / FROM NAMED re-scope over a shallow quad-mode body;
        // overlapping FROM graphs exercise the set-union dedup
        val all = Seq(EX + "g1", EX + "g2")
        val defaults = all.filter(_ => rnd.nextBoolean())
        val named = all.filter(_ => rnd.nextBoolean())
        val (body, vs) = genOp(rnd, x, 1)
        (DatasetClause(defaults, named, body), vs)
      case 0 =>
        val gp = if (rnd.nextBoolean()) TVar(varPool(rnd.nextInt(varPool.size)))
                 else TConst(genGraphName(rnd))
        val pats = (0 until 1 + rnd.nextInt(2)).map(_ => genPattern(rnd))
        (QuadBgp(gp, pats),
          (pats.flatMap(_.vars) ++ Seq(gp).collect { case TVar(n) => n }).distinct)
      case 1 =>
        val gp = if (rnd.nextBoolean()) TVar(varPool(rnd.nextInt(varPool.size)))
                 else TConst(genGraphName(rnd))
        (DatasetNames(gp), Seq(gp).collect { case TVar(n) => n })
      case 2 =>
        // body may itself contain GRAPH/dataset leaves: nested GRAPH
        // keeps the dataset's named part visible (quad-preserving
        // GraphScope re-scope)
        val (body, vs) = genOp(rnd, x, if (rnd.nextBoolean()) 1 else 0)
        (GraphScope(genGraphName(rnd), body), vs)
      case _ =>
        val v = varPool(rnd.nextInt(varPool.size))
        val pats = (0 until 1 + rnd.nextInt(2)).map(_ => genPattern(rnd))
        (GraphVarEnum(v, Bgp(pats)), (pats.flatMap(_.vars) :+ v).distinct)
    }
    def leaf(): (Op, Seq[String]) =
      if (quadMode && rnd.nextInt(10) < 5) quadLeaf()
      else rnd.nextInt(7) match {
      case 0 => // VALUES with occasional unbound cells
        val vs = rnd.shuffle(varPool).take(1 + rnd.nextInt(2)).sorted
        val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
          vs.flatMap(v => if (rnd.nextInt(4) == 0) None
                          else Some(v -> genTerm(rnd))).toMap
        }
        (Table(vs, rows), vs)
      case 1 => // property path: var/const endpoint mix
        def end() = if (rnd.nextInt(10) < 6) TVar(varPool(rnd.nextInt(varPool.size)))
                    else TConst(genTerm(rnd))
        val (s, o) = (end(), end())
        val pp = PathPattern(s, genPath(rnd, 1 + rnd.nextInt(2)), o)
        (pp, Seq(s, o).collect { case TVar(n) => n }.distinct)
      case _ =>
        val pats = (0 until 1 + rnd.nextInt(2)).map(_ => genPattern(rnd))
        (Bgp(pats), pats.flatMap(_.vars).distinct)
    }
    if (depth <= 0) leaf()
    else rnd.nextInt(12) match {
      case 0 => leaf()
      case 1 =>
        val (l, lv) = genOp(rnd, x, depth - 1)
        val (r, rv) = genOp(rnd, x, depth - 1)
        (Join(l, r), (lv ++ rv).distinct)
      case 2 =>
        val (l, lv) = genOp(rnd, x, depth - 1)
        val (r, rv) = genOp(rnd, x, depth - 1)
        (Union(l, r), (lv ++ rv).distinct)
      case 3 =>
        val (l, lv) = genOp(rnd, x, depth - 1)
        val (r, rv) = genOp(rnd, x, depth - 1)
        val cond = if (rnd.nextBoolean()) Some(genCond(rnd, (lv ++ rv).distinct, x))
                   else None
        (LeftJoin(l, r, cond), (lv ++ rv).distinct)
      case 4 =>
        val (l, lv) = genOp(rnd, x, depth - 1)
        val (r, _) = genOp(rnd, x, depth - 1)
        (Minus(l, r), lv)
      case 5 =>
        val (l, lv) = genOp(rnd, x, depth - 1)
        val (r, _) = genOp(rnd, x, depth - 1)
        (if (rnd.nextBoolean()) SemiJoin(l, r) else AntiJoin(l, r), lv)
      case 6 =>
        val (in, vs) = genOp(rnd, x, depth - 1)
        (Filter(genCond(rnd, vs, x), in), vs)
      case 7 =>
        val (in, vs) = genOp(rnd, x, depth - 1)
        val fresh = varPool.find(!vs.contains(_))
        fresh match {
          case Some(v) => (Extend(v, genTermExpr(rnd, vs, x), in), vs :+ v)
          case None => (in, vs)
        }
      case 8 =>
        val (in, vs) = genOp(rnd, x, depth - 1)
        (Distinct(in), vs)
      case 9 =>
        val (in, vs) = genOp(rnd, x, depth - 1)
        if (vs.isEmpty) (in, vs)
        else {
          val keep = rnd.shuffle(vs).take(1 + rnd.nextInt(vs.size))
          (Project(keep, in), keep)
        }
      case 10 =>
        // GROUP BY one key + one aggregate: unbound keys group together
        val (in, vs) = genOp(rnd, x, depth - 1)
        if (vs.size < 2) (in, vs)
        else {
          val key = vs(rnd.nextInt(vs.size))
          val cv = vs(rnd.nextInt(vs.size))
          // agg var must be FRESH (SPARQL forbids reusing an in-scope var
          // as the AS target — nested Groups put "n" in scope)
          val n = (Iterator.single("n") ++ Iterator.from(2).map("n" + _))
            .find(c => !vs.contains(c)).get
          def bound(ms: Seq[Sol]) = ms.flatMap(_.get(cv))
          val a = rnd.nextInt(5) match {
            case 0 => x.agg(s"COUNT(?$cv)",
              RowExpr(r => TC.intTerm(org.apache.spark.sql.functions.count(r(cv)))),
              ms => Some(int(ms.count(_.contains(cv)))))
            case 1 => x.agg(s"COUNT(DISTINCT ?$cv)",
              RowExpr(r => TC.intTerm(org.apache.spark.sql.functions.count_distinct(r(cv)))),
              ms => Some(int(bound(ms).distinct.size)))
            case 2 => x.agg(s"SUM(?$cv)",
              RowExpr(r => SparqlAggregates.sumAgg(r(cv))),
              // poisoned by any bound non-numeric; empty sum = integer 0;
              // integer-only universe keeps the promoted rank at integer
              ms => if (bound(ms).exists(t => localNum(t).isEmpty)) None
                    else Some(int(bound(ms).flatMap(localNum).sum.toLong.toInt)))
            case 3 => x.agg(s"MIN(?$cv)",
              RowExpr(r => SparqlAggregates.minAgg(r(cv))),
              ms => bound(ms).sortBy(t => localKey(Some(t)))(keyOrd).headOption)
            case _ => x.agg(s"MAX(?$cv)",
              RowExpr(r => SparqlAggregates.maxAgg(r(cv))),
              ms => bound(ms).sortBy(t => localKey(Some(t)))(keyOrd).lastOption)
          }
          (Group(Seq(key), Seq(n -> a), in), Seq(key, n))
        }
      case _ =>
        val (in, vs) = genOp(rnd, x, depth - 1)
        val (r, _) = genOp(rnd, x, depth - 1)
        val fresh = varPool.find(!vs.contains(_))
        fresh match {
          case Some(v) =>
            // spend the flag in a filter, then drop it — the common
            // expression-level EXISTS compilation shape
            val f = x.bool(s"flag($v)",
              RowExpr(rr => TC.lex(rr(v)) === "true"),
              m => m.get(v).map(_.lex == "true"))
            (DropVars(Seq(v), Filter(f, ExistsFlag(v, r, in))), vs)
          case None => (in, vs)
        }
    }
  }

  private def showOp(op: Op, x: DExprs): String = op match {
    case Bgp(ps) => "BGP(" + ps.map(p => s"${sl(p.s)} ${sl(p.p)} ${sl(p.o)}").mkString(" . ") + ")"
    case PathPattern(s, p, o) => s"Path(${sl(s)} ${showPath(p)} ${sl(o)})"
    case Join(l, r) => s"Join(${showOp(l, x)}, ${showOp(r, x)})"
    case Union(l, r) => s"Union(${showOp(l, x)}, ${showOp(r, x)})"
    case LeftJoin(l, r, c) =>
      s"LeftJoin(${showOp(l, x)}, ${showOp(r, x)}, ${c.map(x.show).getOrElse("-")})"
    case Minus(l, r) => s"Minus(${showOp(l, x)}, ${showOp(r, x)})"
    case SemiJoin(l, r) => s"Semi(${showOp(l, x)}, ${showOp(r, x)})"
    case AntiJoin(l, r) => s"Anti(${showOp(l, x)}, ${showOp(r, x)})"
    case ExistsFlag(v, r, in) => s"ExistsFlag($v, ${showOp(r, x)}, ${showOp(in, x)})"
    case Filter(c, in) => s"Filter(${x.show(c)}, ${showOp(in, x)})"
    case Extend(v, e, in) => s"Extend($v := ${x.show(e)}, ${showOp(in, x)})"
    case Project(vs, in) => s"Project(${vs.mkString(",")}, ${showOp(in, x)})"
    case DropVars(vs, in) => s"Drop(${vs.mkString(",")}, ${showOp(in, x)})"
    case Distinct(in) => s"Distinct(${showOp(in, x)})"
    case Group(ks, as, in) =>
      s"Group(${ks.mkString(",")}, ${as.map(a => a._1 + "=" + x.show(a._2)).mkString(",")}, ${showOp(in, x)})"
    case Table(vs, rows) => s"VALUES(${vs.mkString(",")} × ${rows.size})"
    case QuadBgp(gp, ps) =>
      s"QuadBGP(${sl(gp)}, " + ps.map(p => s"${sl(p.s)} ${sl(p.p)} ${sl(p.o)}").mkString(" . ") + ")"
    case DatasetNames(gp) => s"DatasetNames(${sl(gp)})"
    case GraphScope(gn, in) => s"Graph(${gn.lex.stripPrefix(EX)}, ${showOp(in, x)})"
    case DatasetClause(d, n, in) =>
      s"From(${d.map(_.stripPrefix(EX)).mkString(",")}; named=${n.map(_.stripPrefix(EX)).mkString(",")}, ${showOp(in, x)})"
    case GraphVarEnum(v, in) => s"GraphVar(?$v, ${showOp(in, x)})"
    case Lateral(l, r) => s"Lateral(${showOp(l, x)}, ${showOp(r, x)})"
    case Slice(o, n, in) => s"Slice($o, $n, ${showOp(in, x)})"
    case Order(ks, in) => s"Order(${ks.map(_.v).mkString(",")}, ${showOp(in, x)})"
    case other => other.toString
  }
  private def sl(p: TermPat): String = p match {
    case TVar(n) => "?" + n
    case TConst(t) => t.lex.stripPrefix(EX)
    case TAny => "ANY"
  }

  // ------------------------------------------------ SPARQL text renderer

  private def rTerm(t: Term): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r")
    t.kind match {
      case Term.KIND_IRI => s"<${t.lex}>"
      case _ if t.dt == Term.XSD_INTEGER => t.lex
      case _ if t.dt == Term.XSD_STRING => "\"" + esc(t.lex) + "\""
      case _ => "\"" + esc(t.lex) + "\"^^<" + t.dt + ">"
    }
  }
  private def rPat(p: TermPat): String = p match {
    case TVar(n) => s"?$n"
    case TConst(t) => rTerm(t)
    case TAny => sys.error("TAny has no surface syntax")
  }
  private def rPath(p: Path): String = p match {
    case PLink(i) => s"<$i>"
    case PInverse(q) => s"^(${rPath(q)})"
    case PSeq(a, b) => s"(${rPath(a)}/${rPath(b)})"
    case PAlt(a, b) => s"(${rPath(a)}|${rPath(b)})"
    case POneOrMore(q) => s"(${rPath(q)})+"
    case PZeroOrMore(q) => s"(${rPath(q)})*"
    case PZeroOrOne(q) => s"(${rPath(q)})?"
    case PFixedLength(q, n) => s"(${rPath(q)}){$n}"
    case PMod(q, min, max) => s"(${rPath(q)}){$min,${if (max < 0) "" else max}}"
    case PNegPropSet(f, i) =>
      s"!(${(f.map(x => s"<$x>") ++ i.map(x => s"^<$x>")).mkString("|")})"
    case other => sys.error(s"no syntax for $other")
  }

  /** Render a generated op as a SPARQL group-graph-pattern body. None for
   * shapes with no group-level surface syntax (DatasetClause mid-tree).
   * The expression catalog's `show` strings are valid SPARQL. */
  private def render(op: Op, x: DExprs): Option[String] = op match {
    case Bgp(ps) =>
      Some(ps.map(p => s"${rPat(p.s)} ${rPat(p.p)} ${rPat(p.o)} .").mkString(" "))
    case PathPattern(s, p, o) => Some(s"${rPat(s)} ${rPath(p)} ${rPat(o)} .")
    case QuadBgp(gp, ps) =>
      Some(s"GRAPH ${rPat(gp)} { " +
        ps.map(p => s"${rPat(p.s)} ${rPat(p.p)} ${rPat(p.o)} .").mkString(" ") + " }")
    case DatasetNames(gp) => Some(s"GRAPH ${rPat(gp)} { }")
    case GraphScope(gn, in) => render(in, x).map(b => s"GRAPH ${rTerm(gn)} { $b }")
    case GraphVarEnum(v, in) => render(in, x).map(b => s"GRAPH ?$v { $b }")
    case Join(l, r) =>
      for { a <- render(l, x); b <- render(r, x) } yield s"{ $a } { $b }"
    case Union(l, r) =>
      for { a <- render(l, x); b <- render(r, x) } yield s"{ $a } UNION { $b }"
    // OPTIONAL and MINUS are group-accumulation elements (they apply to
    // everything accumulated so far in their group) — wrap in their own
    // group so a parent's siblings stay outside the left operand
    case LeftJoin(l, r, cond) =>
      for { a <- render(l, x); b <- render(r, x) } yield
        s"{ { $a } OPTIONAL { $b ${cond.map(c => s"FILTER(${x.show(c)})").getOrElse("")} } }"
    case Minus(l, r) =>
      for { a <- render(l, x); b <- render(r, x) } yield s"{ { $a } MINUS { $b } }"
    // the EXISTS-ish renders wrap themselves in an EXTRA group: a SPARQL
    // filter applies to the WHOLE group it appears in, AFTER any sibling
    // BIND/patterns a parent may concatenate — without the wrapping, a
    // parent's BIND would enter the filter's scope and diverge from the
    // algebra (caught by the text differential)
    case SemiJoin(l, r) =>
      for { a <- render(l, x); b <- render(r, x) } yield
        s"{ { $a } FILTER EXISTS { $b } }"
    case AntiJoin(l, r) =>
      for { a <- render(l, x); b <- render(r, x) } yield
        s"{ { $a } FILTER NOT EXISTS { $b } }"
    case DropVars(Seq(v), Filter(_, ExistsFlag(v2, r, in))) if v == v2 =>
      // the generator's expression-level-EXISTS composite ≡ FILTER EXISTS
      for { a <- render(in, x); b <- render(r, x) } yield
        s"{ { $a } FILTER EXISTS { $b } }"
    case Filter(c, in) => render(in, x).map(b => s"{ $b FILTER(${x.show(c)}) }")
    case Extend(v, e, in) =>
      render(in, x).map(b => s"{ $b BIND(${x.show(e)} AS ?$v) }")
    case Distinct(in) =>
      render(in, x).map(b => s"{ SELECT DISTINCT * WHERE { $b } }")
    case Project(vs, in) =>
      render(in, x).map(b =>
        s"{ SELECT ${vs.map("?" + _).mkString(" ")} WHERE { $b } }")
    case Group(Seq(k), Seq((n, a)), in) =>
      render(in, x).map(b =>
        s"{ SELECT ?$k (${x.show(a)} AS ?$n) WHERE { $b } GROUP BY ?$k }")
    case Table(vs, rows) =>
      Some(s"VALUES (${vs.map("?" + _).mkString(" ")}) { " +
        rows.map(r => "(" + vs.map(v => r.get(v).map(rTerm).getOrElse("UNDEF"))
          .mkString(" ") + ")").mkString(" ") + " }")
    case _ => None
  }

  // --------------------------------------------------------- comparison

  private def collectSols(df: DataFrame): Seq[Sol] = {
    val vars = df.schema.fields.zipWithIndex.collect {
      case (f, idx) if f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]
        && !f.name.startsWith("__") => // compiler-internal helper columns
        (f.name, idx)
    }.toSeq
    df.collect().toSeq.map { r =>
      vars.flatMap { case (v, idx) =>
        val x = r.getAs[Row](idx)
        if (x == null) None
        else Some(v -> Term(x.getByte(0), x.getString(1), x.getString(2), x.getString(3)))
      }.toMap
    }
  }

  private def bag(sols: Seq[Sol]): Map[String, Int] =
    sols.map(m => m.toSeq.sortBy(_._1)
        .map { case (k, t) => s"$k=${t.kind}:${t.lex}:${t.dt}:${t.lang}" }
        .mkString("|"))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  // --------------------------------------------------------------- test

  private val iterations =
    sys.props.get("graft.diff.n").map(_.toInt).getOrElse(60)

  test(s"differential: compiler ≡ naive evaluator on $iterations random plans") {
    val failures = Seq.newBuilder[String]
    var checked = 0
    (0 until iterations).foreach { i =>
      val rnd = new Random(0xD1FF + i)
      val x = new DExprs
      val g = genGraph(rnd)
      val (op, _) = genOp(rnd, x, depth = 2 + i % 3)
      val gdf = spark.createDataset(g)(
        org.apache.spark.sql.Encoders.product[Triple]).toDF()
      val expected = bag(RefEval.eval(op, GData(g, Nil), x))
      var crashed = false
      val actual =
        try bag(collectSols(Compiler.compile(op, gdf)))
        catch {
          case e: Exception =>
            failures += s"[$i] COMPILE FAILED: ${e.getMessage}\n  ${showOp(op, x)}"
            crashed = true
            Map.empty[String, Int]
        }
      checked += 1
      if (!crashed)
        if (actual != expected) {
          val missing = expected.toSeq.filterNot(kv => actual.get(kv._1).contains(kv._2))
          val extra = actual.toSeq.filterNot(kv => expected.get(kv._1).contains(kv._2))
          failures += s"[$i] MISMATCH ${showOp(op, x)}\n  expected-but-not-actual: " +
            s"${missing.take(4)}\n  actual-but-not-expected: ${extra.take(4)}"
        }
    }
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size}/$checked differential failures:\n" +
      fs.take(6).mkString("\n"))
  }

  /** Store-path differential: 30 random plans over one fixed dataset,
   * compiled against a MATERIALIZED store face built from it, must agree
   * with the naive evaluator. `face` gets the dataset as a quad frame
   * (default-graph rows + named quads) plus a fresh snapshot dir. Exercises
   * every pattern shape against the layout-choosing store scan. */
  private def storeDifferential(seed: Int, quads: Boolean)(
      face: (DataFrame, String) => Compiler.GraphSource): Unit = {
    import graft.model.Quad
    val failures = Seq.newBuilder[String]
    val rnd0 = new Random(seed)
    val defG = genGraph(rnd0)
    val named =
      if (!quads) Nil
      else (0 until 15 + rnd0.nextInt(10)).map { _ =>
        Quad(iri("s" + rnd0.nextInt(5)), iri("p" + rnd0.nextInt(3)),
          genTerm(rnd0), genGraphName(rnd0))
      }.distinct
    val qdf = spark.createDataset(
      defG.map(t => Quad(t.s, t.p, t.o, Term.defaultGraph)) ++ named)(
      org.apache.spark.sql.Encoders.product[Quad]).toDF()
    val sg = face(qdf, java.nio.file.Files.createTempDirectory("graft_diff_store").toString)
    quadMode = quads
    try (0 until 30).foreach { i =>
      val rnd = new Random(seed + 1 + i)
      val x = new DExprs
      val (op, _) = genOp(rnd, x, depth = 2 + i % 2)
      val expected = bag(RefEval.eval(op, GData(defG, named), x))
      try {
        val actual = bag(collectSols(Compiler.compile(op, sg)))
        if (actual != expected) {
          val missing = expected.toSeq.filterNot(kv => actual.get(kv._1).contains(kv._2))
          val extra = actual.toSeq.filterNot(kv => expected.get(kv._1).contains(kv._2))
          failures += s"[$i] MISMATCH ${showOp(op, x)}\n  expected-but-not-actual: " +
            s"${missing.take(4)}\n  actual-but-not-expected: ${extra.take(4)}"
        }
      } catch {
        case e: Exception =>
          failures += s"[$i] COMPILE FAILED: ${e.getMessage}\n  ${showOp(op, x)}"
      }
    } finally quadMode = false
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size} store-differential failures:\n" +
      fs.take(6).mkString("\n"))
  }

  /** The triple faces materialize the default graph with the pipeline's
   * repo/lang columns. */
  private def tripleFrame(qdf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    qdf.select("s", "p", "o").withColumn("repo", lit("r0")).withColumn("lang", lit("x"))
  }

  /** SnapshotGraph: term-struct SPO/POS/OSP layouts with pushed flat-column
   * filters. */
  test("differential: SnapshotGraph store read path on 30 random plans") {
    storeDifferential(0x570E, quads = false) { (qdf, dir) =>
      graft.store.TripleStore.materialize(tripleFrame(qdf), dir, parent = None, partitions = 2)
      Compiler.SnapshotGraph(spark, dir)
    }
  }

  /** EncodedSnapshotGraph: narrow id equi-joins with decode at projection
   * edges (the TDB2 NodeTable analog). */
  test("differential: EncodedSnapshotGraph id store on 30 random plans") {
    storeDifferential(0xE6C0, quads = false) { (qdf, dir) =>
      graft.store.TripleStore.materializeEncoded(tripleFrame(qdf), dir,
        parent = None, partitions = 2)
      Compiler.EncodedSnapshotGraph(spark, dir)
    }
  }

  /** QuadSnapshotGraph: the dataset-semantics plans (QuadBgp, GRAPH,
   * GRAPH ?var, dataset names) over GSPO/GPOS/GOSP layouts. */
  test("differential: QuadSnapshotGraph quad store on 30 random dataset plans") {
    storeDifferential(0x9A5E, quads = true) { (qdf, dir) =>
      graft.store.TripleStore.materializeQuads(qdf, dir, parent = None, partitions = 2)
      Compiler.QuadSnapshotGraph(spark, dir)
    }
  }

  /** Dataset (quad) differential: random plans over a dataset with a
   * default graph + two named graphs — QuadBgp (graph slot joins like
   * s/p/o, never the default graph), DatasetNames, GRAPH <const>,
   * GRAPH ?var (per-graph enumeration with the boundary join), and the
   * default-graph scoping of plain BGPs and property paths. */
  test("differential: dataset semantics on 40 random quad plans") {
    import graft.model.Quad
    val failures = Seq.newBuilder[String]
    quadMode = true
    try (0 until 40).foreach { i =>
      val rnd = new Random(0x9AAD + i)
      val x = new DExprs
      val defG = genGraph(rnd)
      val named = (0 until 15 + rnd.nextInt(10)).map { _ =>
        Quad(iri("s" + rnd.nextInt(5)), iri("p" + rnd.nextInt(3)),
          genTerm(rnd), genGraphName(rnd))
      }.distinct
      val allQuads = defG.map(t => Quad(t.s, t.p, t.o, Term.defaultGraph)) ++ named
      val qdf = spark.createDataset(allQuads)(
        org.apache.spark.sql.Encoders.product[Quad]).toDF()
      val (op, _) = genOp(rnd, x, depth = 2 + i % 2)
      val expected = bag(RefEval.eval(op, GData(defG, named), x))
      try {
        val actual = bag(collectSols(Compiler.compile(op, qdf)))
        if (actual != expected) {
          val missing = expected.toSeq.filterNot(kv => actual.get(kv._1).contains(kv._2))
          val extra = actual.toSeq.filterNot(kv => expected.get(kv._1).contains(kv._2))
          failures += s"[$i] MISMATCH ${showOp(op, x)}\n  expected-but-not-actual: " +
            s"${missing.take(4)}\n  actual-but-not-expected: ${extra.take(4)}"
        }
      } catch {
        case e: Exception =>
          failures += s"[$i] COMPILE FAILED: ${e.getMessage}\n  ${showOp(op, x)}"
      }
    } finally quadMode = false
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size} quad-differential failures:\n" +
      fs.take(6).mkString("\n"))
  }

  /** Bodies in the GRAPH ?var single-plan gate; -Dgraft.diff.n overrides. */
  private val graphVarIters =
    sys.props.get("graft.diff.n").map(_.toInt).getOrElse(40)

  /** One gate case: (default graph, named quads, op, exprs). */
  private def graphVarCase(i: Int): (Seq[Triple], Seq[graft.model.Quad], Op, DExprs) = {
    import graft.model.Quad
    val rnd = new Random(0x51A6 + i)
    val x = new DExprs
    val defG = genGraph(rnd)
    val named = (0 until 80 + rnd.nextInt(20)).map { _ =>
      val o = if (rnd.nextInt(2) == 0) iri("s" + rnd.nextInt(5)) else genTerm(rnd)
      Quad(iri("s" + rnd.nextInt(5)), iri("p" + rnd.nextInt(3)), o, genGraphName(rnd))
    }.distinct
    def leaf(): Op = genOp(rnd, x, 0)._1
    def v(): String = varPool(rnd.nextInt(varPool.size))
    // a closure path with an endpoint a BGP binds certainly: the Join /
    // OPTIONAL / EXISTS partner's values seed the per-graph walk
    def seededJoin(): Op = {
      val (e, other) = (v(), v())
      val bgp = Bgp(Seq(TriplePattern(TVar(other), TConst(iri("p" + rnd.nextInt(3))),
        TVar(e))))
      val path = rnd.nextInt(3) match {
        case 0 => POneOrMore(genPath(rnd, 0))
        case 1 => PZeroOrMore(genPath(rnd, 0))
        case _ => POneOrMore(genPath(rnd, 1))
      }
      val w = varPool.filterNot(_ == e)(rnd.nextInt(varPool.size - 1))
      val pp = if (rnd.nextBoolean()) PathPattern(TVar(e), path, TVar(w))
               else PathPattern(TVar(w), path, TVar(e))
      rnd.nextInt(4) match {
        case 0 => Join(bgp, pp)
        case 1 => Join(pp, bgp)
        case 2 => LeftJoin(bgp, pp, None)
        case _ => SemiJoin(bgp, pp)
      }
    }
    def body(depth: Int): Op = rnd.nextInt(8) match {
      // LATERAL threads the hidden graph column through the correlated
      // RHS; per-row-sensitive (Distinct) and plain RHSs both exercised
      case 0 if depth > 0 => Lateral(body(depth - 1), rnd.nextInt(3) match {
        case 0 => Distinct(leaf())
        case 1 => Join(leaf(), leaf())
        case _ => leaf()
      })
      case 1 => seededJoin()
      case 2 =>
        // keyless aggregate: one row per named graph, empty ones too
        val (in, vs) = genOp(rnd, x, depth)
        val cv = if (vs.isEmpty) "a" else vs(rnd.nextInt(vs.size))
        val n = (Iterator.single("n") ++ Iterator.from(2).map("n" + _))
          .find(c => !vs.contains(c)).get
        Group(Nil, Seq(n -> x.agg(s"COUNT(?$cv)",
          RowExpr(r => TC.intTerm(org.apache.spark.sql.functions.count(r(cv)))),
          ms => Some(int(ms.count(_.contains(cv)))))), in)
      case _ => genOp(rnd, x, depth)._1
    }
    // mostly a graph var the body cannot bind; sometimes a pool var, so
    // the boundary join with a body-bound name runs too
    val op = GraphVarEnum(if (rnd.nextInt(4) == 0) v() else "g", body(1 + rnd.nextInt(2)))
    (defG, named, op, x)
  }

  /** GRAPH ?var single-plan differential: rich GRAPH-LOCAL bodies — the
   * [[genOp]] family (BGPs, paths, VALUES, the join family, EXISTS flags,
   * FILTER, BIND, projection, grouping, DISTINCT) plus LATERAL, keyless
   * aggregates and closure paths joined to a BGP (the join-bound seeded
   * per-graph walk) — compiled through the one-g-keyed-plan path (the
   * enumeration fallback is CAPPED AT ZERO, so only compGraphVar can
   * serve) against RefEval's per-graph enumeration semantics. Half the
   * named quads' objects come from the subject pool, so chains connect
   * within a graph: a gate comparing empty bags would pass a graph-
   * threading bug unseen, and the test asserts at least half the bodies
   * have a non-empty expected bag. */
  test(s"differential: GRAPH ?var single-plan on $graphVarIters rich graph-local bodies") {
    import graft.model.Quad
    val failures = Seq.newBuilder[String]
    var nonEmpty = 0
    spark.conf.set("graft.graphVarEnumMax", "0") // enumeration cannot serve
    try (0 until graphVarIters).foreach { i =>
      val (defG, named, op, x) = graphVarCase(i)
      val qdf = spark.createDataset(
        defG.map(t => Quad(t.s, t.p, t.o, Term.defaultGraph)) ++ named)(
        org.apache.spark.sql.Encoders.product[Quad]).toDF()
      val expected = bag(RefEval.eval(op, GData(defG, named), x))
      if (expected.nonEmpty) nonEmpty += 1
      try {
        val actual = bag(collectSols(Compiler.compile(op, qdf)))
        if (actual != expected) {
          val missing = expected.toSeq.filterNot(kv => actual.get(kv._1).contains(kv._2))
          val extra = actual.toSeq.filterNot(kv => expected.get(kv._1).contains(kv._2))
          failures += s"[$i] MISMATCH ${showOp(op, x)}\n  expected-but-not-actual: " +
            s"${missing.take(4)}\n  actual-but-not-expected: ${extra.take(4)}"
        }
      } catch {
        case e: Exception =>
          failures += s"[$i] COMPILE FAILED: ${e.getMessage}\n  ${showOp(op, x)}"
      }
    } finally spark.conf.unset("graft.graphVarEnumMax")
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size} GRAPH-?var-single-plan failures:\n" +
      fs.take(6).mkString("\n"))
    assert(nonEmpty * 2 >= graphVarIters,
      s"only $nonEmpty/$graphVarIters bodies have a non-empty expected bag")
  }

  /** The random bodies above draw a LATERAL Join RHS too rarely with
   * non-empty operands to pin its graph threading; this fixed case does:
   * each named graph and the default graph bind ?w differently, so a Join
   * operand compiled outside the active graph shows as extra rows. */
  test("differential: GRAPH ?var LATERAL with a Join RHS stays in the active graph") {
    import graft.model.Quad
    val named = Seq(Quad(iri("s0"), iri("p0"), iri("o1"), iri("g1")),
      Quad(iri("s1"), iri("p0"), iri("o1"), iri("g1")),
      Quad(iri("s0"), iri("p0"), iri("o2"), iri("g2")))
    val defG = Seq(Triple(iri("s0"), iri("p0"), iri("o0")),
      Triple(iri("s1"), iri("p0"), iri("o2")))
    val qdf = spark.createDataset(
      defG.map(t => Quad(t.s, t.p, t.o, Term.defaultGraph)) ++ named)(
      org.apache.spark.sql.Encoders.product[Quad]).toDF()
    def tp(o: String) = Bgp(Seq(TriplePattern(TVar("a"), TConst(iri("p0")), TVar(o))))
    val op = GraphVarEnum("g", Lateral(tp("b"), Join(tp("c"), tp("d"))))
    spark.conf.set("graft.graphVarEnumMax", "0") // single-plan only
    try {
      val expected = bag(RefEval.eval(op, GData(defG, named), new DExprs))
      assert(expected.values.sum == 3)
      assert(bag(collectSols(Compiler.compile(op, qdf))) == expected)
    } finally spark.conf.unset("graft.graphVarEnumMax")
  }

  /** A LATERAL MINUS RHS whose operands share no query variable removes
   * nothing, per graph too: the hidden graph column scopes the anti-join
   * but is not a shared variable. g1 holds a p1 triple, so a MINUS keyed
   * on the graph alone would empty g1. */
  test("differential: GRAPH ?var LATERAL with a MINUS RHS removes nothing without shared vars") {
    import graft.model.Quad
    val named = Seq(Quad(iri("s0"), iri("p0"), iri("o1"), iri("g1")),
      Quad(iri("s1"), iri("p1"), iri("o2"), iri("g1")),
      Quad(iri("s0"), iri("p0"), iri("o2"), iri("g2")))
    val qdf = spark.createDataset(named)(
      org.apache.spark.sql.Encoders.product[Quad]).toDF()
    def tp(s: String, p: String, o: String) =
      Bgp(Seq(TriplePattern(TVar(s), TConst(iri(p)), TVar(o))))
    val op = GraphVarEnum("g",
      Lateral(tp("a", "p0", "b"), Minus(tp("a", "p0", "c"), tp("x", "p1", "y"))))
    spark.conf.set("graft.graphVarEnumMax", "0") // single-plan only
    try {
      val expected = bag(RefEval.eval(op, GData(Nil, named), new DExprs))
      assert(expected.values.sum == 2)
      assert(bag(collectSols(Compiler.compile(op, qdf))) == expected)
    } finally spark.conf.unset("graft.graphVarEnumMax")
  }

  private def tr(s: String, p: String, o: String) = Triple(iri(s), iri(p), iri(o))
  private def tpat(s: String, p: String, o: String) =
    Bgp(Seq(TriplePattern(TVar(s), TConst(iri(p)), TVar(o))))

  /** A fixed case over a triple graph: RefEval gives `rows` solutions
   * (when given) and the compiler the same bag. */
  private def checkFixed(g: Seq[Triple], op: Op, x: DExprs = new DExprs,
                         rows: Option[Int] = Some(1)): Unit = {
    val expected = bag(RefEval.eval(op, GData(g, Nil), x))
    rows.foreach(n => assert(expected.values.sum == n, showOp(op, x)))
    val gdf = spark.createDataset(g)(org.apache.spark.sql.Encoders.product[Triple]).toDF()
    assert(bag(collectSols(Compiler.compile(op, gdf))) == expected, showOp(op, x))
  }

  /** LATERAL substitutes the left row into both MINUS operands, and only
   * the left row: a variable the row leaves unbound, one a join partner
   * inside the RHS binds, or one a sub-SELECT does not project stays a
   * MINUS variable. Each case gives 1 row. */
  test("differential: LATERAL MINUS whose right side mentions a left-side variable") {
    // after ?x := a, { a :r ?w2 } shares no variable with { ?z :q ?w }:
    // nothing is removed (an anti-join on ?x removes the row)
    checkFixed(Seq(tr("a", "p", "b"), tr("c", "q", "d"), tr("a", "r", "e")),
      Lateral(tpat("x", "p", "y"), Minus(tpat("z", "q", "w"), tpat("x", "r", "w2"))))
    // s1 has no :k, so ?x stays shared and MINUS removes both of s1's rows;
    // for s2, ?x := x2 is substituted and nothing is removed
    checkFixed(Seq(tr("s1", "p", "o1"), tr("s2", "p", "o2"), tr("s2", "k", "x2"),
        tr("x1", "r", "w1"), tr("x1", "t", "w3"), tr("x2", "r", "w4"), tr("x2", "t", "w5")),
      Lateral(LeftJoin(tpat("s", "p", "o"), tpat("s", "k", "x"), None),
        Minus(tpat("x", "r", "w"), tpat("x", "t", "w2"))))
    // ?v, bound by the join partner, is shared by both MINUS operands:
    // (v1, a1) goes, (v2, a2) stays
    checkFixed(Seq(tr("s1", "p", "o1"), tr("s1", "q", "v1"), tr("s1", "q", "v2"),
        tr("v1", "r", "a1"), tr("v2", "r", "a2"), tr("v1", "t", "b1")),
      Lateral(tpat("s", "p", "o"),
        Distinct(Join(tpat("s", "q", "v"), Minus(tpat("v", "r", "a"), tpat("v", "t", "b"))))))
    // after ?s := s1, { s1 :r ?a } and { s1 :t ?v } share no variable,
    // although the join partner binds ?v: nothing is removed
    checkFixed(Seq(tr("s1", "p", "o1"), tr("s1", "q", "v1"), tr("s1", "r", "a1"), tr("s1", "t", "v1")),
      Lateral(tpat("s", "p", "o"),
        Join(tpat("s", "q", "v"), Minus(tpat("s", "r", "a"), tpat("s", "t", "v")))))
    // the Join partner's ?w is not substituted into the MINUS either:
    // after ?s := s1, { s1 :r ?a } and { ?z :t ?w } share no variable
    checkFixed(Seq(tr("s1", "p", "o1"), tr("s1", "q", "w1"), tr("s1", "r", "a1"), tr("z1", "t", "w1")),
      Lateral(tpat("s", "p", "o"),
        Join(tpat("s", "q", "w"), Minus(tpat("s", "r", "a"), tpat("z", "t", "w")))))
    // a correlated sub-SELECT that does not project ?o: its MINUS right
    // side's ?o is fresh, so x1 :r w1 removes s1's row; s2's row stays
    checkFixed(Seq(tr("s1", "p", "o1"), tr("s1", "q", "w1"), tr("x1", "r", "w1"),
        tr("s2", "p", "o2"), tr("s2", "q", "w2")),
      Lateral(tpat("s", "p", "o"),
        Project(Seq("s", "w"), Distinct(Minus(tpat("s", "q", "w"), tpat("o", "r", "w"))))))
  }

  /** LATERAL right sides the random gate does not draw: a sub-SELECT
   * hiding a variable named like a left one, left bindings with an
   * unbound variable, a nested LATERAL, and a Group after a DropVars of
   * a left variable. */
  test("differential: LATERAL sub-SELECT scope, unbound left variables, nesting, Group after DropVars") {
    // lateral-5 "different scope": the hidden inner ?o is not the left's
    // ?o, so the first ?v in order is v1 (via x :r v1), not v2 (o1 :r v2)
    val g5 = Seq(tr("s1", "p", "o1"), tr("s1", "q", "v1"), tr("s1", "q", "v2"),
      tr("x", "r", "v1"), tr("o1", "r", "v2"))
    val op5 = Lateral(tpat("s", "p", "o"), Slice(0, 1, Project(Seq("s", "v"),
      Order(Seq(SortKey("v")), Join(tpat("s", "q", "v"), tpat("o", "r", "v"))))))
    val x5 = new DExprs
    checkFixed(g5, op5, x5)
    assert(RefEval.eval(op5, GData(g5, Nil), x5).flatMap(_.get("v")) == Seq(iri("v1")))
    // left rows whose binding leaves ?k unbound, each twice: the key's
    // null field equals itself in the names, the windows, the groups and
    // the join back, so every left row gets its right side
    val xk = new DExprs
    val cntY = xk.agg("COUNT(?y)",
      RowExpr(rr => TC.intTerm(org.apache.spark.sql.functions.count(rr("y")))),
      ms => Some(int(ms.count(_.contains("y")))))
    checkFixed(Seq(tr("a", "p", "b"), tr("c", "p", "d"), tr("a", "r", "x1"), tr("a", "r", "x2"),
        tr("c", "r", "x3")),
      Lateral(Union(LeftJoin(tpat("u", "p", "w"), tpat("w", "q", "k"), None), tpat("u", "p", "w")),
        Join(Slice(0, 1, Order(Seq(SortKey("z")), tpat("u", "r", "z"))),
          Group(Nil, Seq("n" -> cntY), tpat("u", "r", "y")))),
      xk, Some(4))
    // a LATERAL nested in a right side: its own right side reads ?o from
    // the outer left binding, which its left side does not bind
    val xn = new DExprs
    val same = xn.bool("sameTerm(?a, ?o)", RowExpr(rr => rr("a") === rr("o")),
      m => for (a <- m.get("a"); o <- m.get("o")) yield a == o)
    checkFixed(Seq(tr("s1", "p", "o1"), tr("s1", "q", "v1"), tr("s1", "q", "v2"),
        tr("v1", "r", "o1"), tr("v1", "r", "a2"), tr("v2", "r", "a3"),
        tr("s2", "p", "o2"), tr("s2", "q", "v3"), tr("v3", "r", "o2")),
      Lateral(tpat("s", "p", "o"), Lateral(tpat("s", "q", "v"),
        Slice(0, 1, Order(Seq(SortKey("a")), Filter(same, tpat("v", "r", "a")))))),
      xn, Some(2))
    // the random LATERAL gate's seed 76 before this gate was widened: the
    // right side's Group keys on ?c after a DropVars removed the left's ?a
    val x = new DExprs
    def flag(v: String) = x.bool(s"flag($v)",
      RowExpr(rr => TC.lex(rr(v)) === "true"), m => m.get(v).map(_.lex == "true"))
    def exists(v: String, r: Op, in: Op) = DropVars(Seq(v), Filter(flag(v), ExistsFlag(v, r, in)))
    val cnt = x.agg("COUNT(?c)",
      RowExpr(rr => TC.intTerm(org.apache.spark.sql.functions.count(rr("c")))),
      ms => Some(int(ms.count(_.contains("c")))))
    checkFixed(genGraph(new Random(0x1A7E + 76)), Lateral(
      exists("b", PathPattern(TConst(iri("s2")), PZeroOrMore(PLink(EX + "p0")), TConst(int(1))),
        Bgp(Seq(TriplePattern(TVar("c"), TVar("a"), TVar("a"))))),
      Group(Seq("c"), Seq("n" -> cnt),
        exists("a", PathPattern(TVar("a"), PFixedLength(PLink(EX + "p0"), 3), TVar("c")),
          Bgp(Seq(TriplePattern(TVar("b"), TVar("c"), TConst(int(4)))))))), x, None)
  }

  /** A closure path joined to a BGP inside GRAPH ?var walks SEEDED from
   * the BGP's values, each seed within its own graph: g1's walk from s1
   * must stop at s2, although g2 continues s2 → s3. The 30-cycle in g2
   * makes a global per-graph closure take 30 rounds, so the round count
   * shows the walk was seeded. */
  test("differential: GRAPH ?var join-bound seeds walk within their own graph") {
    import graft.model.Quad
    def q(s: String, p: String, o: String, g: String) =
      Quad(iri(s), iri(p), iri(o), iri(g))
    val named = Seq(q("s0", "q", "s1", "g1"), q("s1", "p", "s2", "g1"),
      q("s4", "q", "s2", "g2"), q("s2", "p", "s3", "g2")) ++
      (0 until 30).map(k => q(s"c$k", "p", s"c${(k + 1) % 30}", "g2"))
    val qdf = spark.createDataset(named)(
      org.apache.spark.sql.Encoders.product[Quad]).toDF()
    val op = GraphVarEnum("g", Join(
      Bgp(Seq(TriplePattern(TVar("x"), TConst(iri("q")), TVar("y")))),
      PathPattern(TVar("y"), POneOrMore(PLink(EX + "p")), TVar("z"))))
    spark.conf.set("graft.graphVarEnumMax", "0") // single-plan only
    try {
      val expected = bag(RefEval.eval(op, GData(Nil, named), new DExprs))
      assert(expected.values.sum == 2)
      assert(bag(collectSols(Compiler.compile(op, qdf))) == expected)
      assert(graft.ops.Graphs.lastClosureRounds <= 4,
        s"per-graph closure ran ${graft.ops.Graphs.lastClosureRounds} rounds — not seeded")
    } finally spark.conf.unset("graft.graphVarEnumMax")
  }

  /** SPARQL TEXT differential: render each random plan as query text,
   * run it through the full Parser → Compiler path, and compare to the
   * naive evaluation of the ORIGINAL algebra — exercising the parser's
   * group building, OPTIONAL/FILTER folding, EXISTS rewrite, GRAPH
   * compilation, subqueries (projection/DISTINCT/GROUP BY) and VALUES on
   * structures the fixed W3C cases never enumerate. */
  test("differential: text round-trip — Parser+Compiler ≡ naive evaluator on random plans") {
    import graft.model.Quad
    val failures = Seq.newBuilder[String]
    var rendered = 0
    val textIters = sys.props.get("graft.diff.n").map(_.toInt / 2 + 25).getOrElse(50)
    quadMode = true; textMode = true
    try (0 until textIters).foreach { i =>
      val rnd = new Random(0x7E87 + i)
      val x = new DExprs
      val defG = genGraph(rnd)
      val named = (0 until 15 + rnd.nextInt(10)).map { _ =>
        Quad(iri("s" + rnd.nextInt(5)), iri("p" + rnd.nextInt(3)),
          genTerm(rnd), genGraphName(rnd))
      }.distinct
      val allQuads = defG.map(t => Quad(t.s, t.p, t.o, Term.defaultGraph)) ++ named
      val qdf = spark.createDataset(allQuads)(
        org.apache.spark.sql.Encoders.product[Quad]).toDF()
      val (op, _) = genOp(rnd, x, depth = 2 + i % 2)
      render(op, x).foreach { body =>
        rendered += 1
        val q = s"SELECT * WHERE { $body }"
        val expected = bag(RefEval.eval(op, GData(defG, named), x))
        try {
          val parsed = graft.sparql.Parser.parse(q)
          val actual = bag(collectSols(Compiler.compile(parsed, qdf)))
          if (actual != expected) {
            val missing = expected.toSeq.filterNot(kv => actual.get(kv._1).contains(kv._2))
            val extra = actual.toSeq.filterNot(kv => expected.get(kv._1).contains(kv._2))
            failures += s"[$i] MISMATCH $q\n  expected-but-not-actual: " +
              s"${missing.take(4)}\n  actual-but-not-expected: ${extra.take(4)}"
          }
        } catch {
          case e: Exception =>
            failures += s"[$i] PARSE/COMPILE FAILED: ${e.getMessage}\n  $q"
        }
      }
    } finally { quadMode = false; textMode = false }
    val fs = failures.result()
    assert(rendered * 10 >= textIters * 6, s"only $rendered/$textIters plans rendered to text")
    assert(fs.isEmpty, s"${fs.size}/$rendered text-differential failures:\n" +
      fs.take(6).mkString("\n"))
  }

  /** Plans in the random LATERAL gate; -Dgraft.diff.n overrides. */
  private val lateralIters =
    sys.props.get("graft.diff.n").map(_.toInt).getOrElse(30)

  /** LATERAL differential against RefEval's substitution evaluator: a
   * random right side (any [[genOp]] shape, nested groups included) under
   * a per-left-row Slice over a fully-keyed Order (every rbody var is an
   * ASC sort key, so rows tying on all keys within one left row are
   * identical and the cut is deterministic), a Distinct, a keyed or
   * keyless Group, or nothing. On top, one plan in six gets a MINUS right
   * side that mentions a left variable, one in six a Join with a MINUS
   * under it, and one in six is the dense `{?u :p ?w OPTIONAL {?w :q ?k}}
   * LATERAL {?k :r ?z MINUS {?k :s ?o}}`, whose ?k the left row may leave
   * unbound. */
  test(s"differential: LATERAL with per-left-row LIMIT/DISTINCT on $lateralIters random plans") {
    val failures = Seq.newBuilder[String]
    (0 until lateralIters).foreach { i =>
      val rnd = new Random(0x1A7E + i)
      val x = new DExprs
      val g = genGraph(rnd)
      val (l0, lv0) = genOp(rnd, x, depth = 1)
      val (rb, rvs) = genOp(rnd, x, depth = 1)
      def count(cv: String) = x.agg(s"COUNT(?$cv)",
        RowExpr(rr => TC.intTerm(org.apache.spark.sql.functions.count(rr(cv)))),
        ms => Some(int(ms.count(_.contains(cv)))))
      val n = (Iterator.single("n") ++ Iterator.from(2).map("n" + _))
        .find(c => !rvs.contains(c) && !lv0.contains(c)).get
      val r0 = rnd.nextInt(5) match {
        case 0 if rvs.nonEmpty =>
          Slice(rnd.nextInt(2), 1 + rnd.nextInt(2),
            Order(rvs.sorted.map(v => SortKey(v, ascending = true)), rb))
        case 1 => Distinct(rb)
        case 2 if rvs.nonEmpty =>
          Group(Seq(rvs(rnd.nextInt(rvs.size))), Seq(n -> count(rvs(rnd.nextInt(rvs.size)))), rb)
        case 3 if rvs.nonEmpty => Group(Nil, Seq(n -> count(rvs(rnd.nextInt(rvs.size)))), rb)
        case _ => rb
      }
      def pat(u: String, v: String) = {
        val (s, o) = if (rnd.nextBoolean()) (u, v) else (v, u)
        Bgp(Seq(TriplePattern(TVar(s), TConst(iri("p" + rnd.nextInt(3))), TVar(o))))
      }
      def anyVar(vs: Seq[String]) = {
        val pool = vs ++ Seq("m0", "m1")
        pool(rnd.nextInt(pool.size))
      }
      val (l, lv, r) = rnd.nextInt(6) match {
        case 0 if lv0.nonEmpty =>
          (l0, lv0, Minus(r0, pat(lv0(rnd.nextInt(lv0.size)), anyVar(rvs))))
        case 1 if lv0.nonEmpty =>
          // a MINUS under a right-side Join: only the left row is
          // substituted into it, never the Join partner's bindings
          (l0, lv0, Join(r0, Minus(pat(lv0(rnd.nextInt(lv0.size)), anyVar(rvs)),
            pat(anyVar(rvs), anyVar(lv0)))))
        case 2 =>
          val vs = rnd.shuffle(varPool)
          val (u, w, k, z) = (vs(0), vs(1), vs(2), vs(3))
          (LeftJoin(pat(u, w), pat(w, k), None), Seq(u, w, k),
            Minus(pat(k, z), pat(k, if (rnd.nextBoolean()) z else "m0")))
        case _ => (l0, lv0, r0)
      }
      // a BIND or an aggregate in the RHS onto a var the left binds is a
      // SPARQL scope error (the compiler rejects the BIND) — skip those
      def assigned(o: Op): Set[String] = o match {
        case Extend(v, _, in) => assigned(in) + v
        case Group(_, aggs, in) => assigned(in) ++ aggs.map(_._1)
        case p: Product => p.productIterator.flatMap {
          case oo: Op => assigned(oo)
          case _ => Set.empty[String]
        }.toSet
        case _ => Set.empty
      }
      if (assigned(r).intersect(lv.toSet).isEmpty) {
        val op = Lateral(l, r)
        val gdf = spark.createDataset(g)(
          org.apache.spark.sql.Encoders.product[Triple]).toDF()
        val expected = bag(RefEval.eval(op, GData(g, Nil), x))
        try {
          val actual = bag(collectSols(Compiler.compile(op, gdf)))
          if (actual != expected) {
            val missing = expected.toSeq.filterNot(kv => actual.get(kv._1).contains(kv._2))
            val extra = actual.toSeq.filterNot(kv => expected.get(kv._1).contains(kv._2))
            failures += s"[$i] MISMATCH Lateral(${showOp(l, x)}, ${showOp(r, x)})\n" +
              s"  expected-but-not-actual: ${missing.take(4)}\n" +
              s"  actual-but-not-expected: ${extra.take(4)}"
          }
        } catch {
          case e: Exception =>
            failures += s"[$i] COMPILE FAILED: ${e.getMessage}\n  " +
              s"Lateral(${showOp(l, x)}, ${showOp(r, x)})"
        }
      }
    }
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size} lateral-differential failures:\n" +
      fs.take(6).mkString("\n"))
  }

  /** SPARQL Update differential: random `DELETE {…} INSERT {…} WHERE {…}`
   * requests (templates over the body's vars incl. maybe-bound ones,
   * constants, var predicates) against `Update.run`, compared with the
   * spec evaluation: WHERE once over the ORIGINAL graph, instantiate
   * templates per solution (unbound-var and ill-formed instantiations
   * dropped — literal subjects, non-IRI predicates), apply deletes then
   * inserts, set semantics (UpdateEngineWorker.java:342,370). */
  test("differential: SPARQL Update on 25 random requests") {
    val failures = Seq.newBuilder[String]
    var executed = 0
    textMode = true
    try (0 until 25).foreach { i =>
      val rnd = new Random(0x0bd8 + i)
      val x = new DExprs
      val g = genGraph(rnd)
      val (body, vs) = genOp(rnd, x, depth = 1 + i % 2)
      render(body, x).foreach { bodyText =>
        def tpl(): TriplePattern = {
          def s = if (vs.nonEmpty && rnd.nextBoolean()) TVar(vs(rnd.nextInt(vs.size)))
                  else TConst(iri("s" + rnd.nextInt(5)))
          def p = if (vs.nonEmpty && rnd.nextInt(4) == 0) TVar(vs(rnd.nextInt(vs.size)))
                  else TConst(iri("p" + rnd.nextInt(3)))
          def o = if (vs.nonEmpty && rnd.nextBoolean()) TVar(vs(rnd.nextInt(vs.size)))
                  else TConst(genTerm(rnd))
          TriplePattern(s, p, o)
        }
        val delT = Seq.fill(rnd.nextInt(2) + (if (rnd.nextBoolean()) 1 else 0))(tpl())
        val insT = Seq.fill(if (delT.isEmpty) 1 + rnd.nextInt(2) else rnd.nextInt(2))(tpl())
        def tplText(ts: Seq[TriplePattern]) =
          ts.map(t => s"${rPat(t.s)} ${rPat(t.p)} ${rPat(t.o)} .").mkString(" ")
        val q = (if (delT.nonEmpty) s"DELETE { ${tplText(delT)} } " else "") +
          (if (insT.nonEmpty) s"INSERT { ${tplText(insT)} } " else "") +
          s"WHERE { $bodyText }"
        // local spec evaluation
        val sols = RefEval.eval(body, GData(g, Nil), x)
        def ground(p: TermPat, m: Sol): Option[Term] = p match {
          case TConst(t) => Some(t)
          case TVar(v) => m.get(v)
          case TAny => None
        }
        def inst(ts: Seq[TriplePattern]): Set[Triple] =
          sols.flatMap(m => ts.flatMap { t =>
            for {
              s <- ground(t.s, m); p <- ground(t.p, m); o <- ground(t.o, m)
              if s.kind != Term.KIND_LIT && p.kind == Term.KIND_IRI
            } yield Triple(s, p, o)
          }).toSet
        val expected = (g.toSet -- inst(delT)) ++ inst(insT)
        try {
          val gdf = spark.createDataset(g)(
            org.apache.spark.sql.Encoders.product[Triple]).toDF()
          val out = graft.sparql.Update.run(gdf, q)
          val actual = out.collect().map { r =>
            def t(idx: Int) = {
              val c = r.getAs[Row](idx)
              Term(c.getByte(0), c.getString(1), c.getString(2), c.getString(3))
            }
            Triple(t(out.columns.indexOf("s")), t(out.columns.indexOf("p")),
              t(out.columns.indexOf("o")))
          }.toSet
          executed += 1
          if (actual != expected)
            failures += s"[$i] MISMATCH $q\n  missing: ${(expected -- actual).take(3)}" +
              s"\n  extra: ${(actual -- expected).take(3)}"
        } catch {
          case e: Exception =>
            failures += s"[$i] UPDATE FAILED: ${e.getMessage}\n  $q"
        }
      }
    } finally textMode = false
    val fs = failures.result()
    assert(executed >= 15, s"only $executed/25 requests executed")
    assert(fs.isEmpty, s"${fs.size}/$executed update-differential failures:\n" +
      fs.take(6).mkString("\n"))
  }

  /** ORDER BY differential: the compiled output must (a) be bag-equal to
   * the unordered oracle and (b) arrive SORTED per the local mirror of
   * the SPARQL total order (rows tying on every sort key may come in any
   * relative order — sortedness, not sequence equality, is the spec). */
  test("differential: ORDER BY respects the SPARQL total order on 30 random plans") {
    val failures = Seq.newBuilder[String]
    (0 until 30).foreach { i =>
      val rnd = new Random(0x04DE4 + i)
      val x = new DExprs
      val g = genGraph(rnd)
      val (op, vs0) = genOp(rnd, x, depth = 2)
      val vs = vs0.distinct
      if (vs.nonEmpty) {
        val keys = rnd.shuffle(vs).take(1 + rnd.nextInt(math.min(2, vs.size)))
          .map(v => SortKey(v, ascending = rnd.nextBoolean()))
        val gdf = spark.createDataset(g)(
          org.apache.spark.sql.Encoders.product[Triple]).toDF()
        val ordered = Order(keys, op)
        val expected = bag(RefEval.eval(op, GData(g, Nil), x))
        try {
          val rows = collectSols(Compiler.compile(ordered, gdf))
          if (bag(rows) != expected)
            failures += s"[$i] ORDER changed the bag: ${showOp(op, x)}"
          // adjacent-pair sortedness under the chained (asc/desc) comparator
          def cmp(a: Sol, b: Sol): Int =
            keys.iterator.map { k =>
              val c = keyOrd.compare(localKey(a.get(k.v)), localKey(b.get(k.v)))
              if (k.ascending) c else -c
            }.find(_ != 0).getOrElse(0)
          rows.sliding(2).zipWithIndex.foreach {
            case (Seq(a, b), j) =>
              if (cmp(a, b) > 0)
                failures += s"[$i] row $j out of order under " +
                  s"${keys.map(k => (if (k.ascending) "" else "-") + k.v).mkString(",")}: " +
                  showOp(op, x)
            case _ => ()
          }
        } catch {
          case e: Exception =>
            failures += s"[$i] COMPILE FAILED: ${e.getMessage}\n  ${showOp(op, x)}"
        }
      }
    }
    val fs = failures.result()
    assert(fs.isEmpty, s"${fs.size} order-differential failures:\n" +
      fs.take(6).mkString("\n"))
  }

  // ------------------------------------------------ fixpoint faces
  // Rules.closure and ConnectedComponents.runAdaptive each pick a driver
  // face or a distributed face from one budget (Fixpoint.BudgetKey); the
  // gate runs both faces on the same seeded inputs (budget 0 pins the
  // distributed one) and needs the two to give equal sets.

  /** Seeded cases per fixpoint gate; -Dgraft.diff.n overrides (n / 5). */
  private val fixpointCases =
    sys.props.get("graft.diff.n").map(_.toInt / 5).getOrElse(12)

  /** One seeded rule case in its own namespace: a random graph (self-loops
   * and literal objects included) and 1–3 rule templates over its
   * predicates — transitive, symmetric, a subClassOf chain and a
   * notEqual guard. Every IRI is case-local, so a batch of
   * cases closes as one program with no derivation crossing cases. */
  private def ruleCase(i: Int): (Seq[Triple], Seq[String]) = {
    val rnd = new Random(7000 + i)
    def node(k: Int) = iri(s"c$i/n$k")
    def pred(name: String) = s"<${EX}c$i/$name>"
    val preds = Seq("p", "q", "type", "sub")
    val graph = Seq.fill(6 + rnd.nextInt(10)) {
      val o =
        if (rnd.nextInt(6) == 0) Term.lit(s"v${rnd.nextInt(3)}", Term.XSD_STRING)
        else node(rnd.nextInt(6))
      Triple(node(rnd.nextInt(6)), iri(s"c$i/" + preds(rnd.nextInt(4))), o)
    }.distinct
    def pq() = pred(preds(rnd.nextInt(2)))
    val (tp, sub) = (pred("type"), pred("sub"))
    val templates = Seq[() => String](
      () => { val r = pq(); s"[(?a $r ?b), (?b $r ?c) -> (?a $r ?c)]" },
      () => { val r = pq(); s"[(?a $r ?b) -> (?b $r ?a)]" },
      () => s"[(?x $tp ?c), (?c $sub ?d) -> (?x $tp ?d)] " +
        s"[(?a $sub ?b), (?b $sub ?c) -> (?a $sub ?c)]",
      () => s"[(?a ${pq()} ?b), notEqual(?a, ?b) -> (?b ${pq()} ?a)]")
    val chosen = rnd.shuffle(templates.indices.toList).take(1 + rnd.nextInt(3))
    (graph, chosen.map(templates(_)()))
  }

  test(s"differential: Rules.closure driver face ≡ distributed face on $fixpointCases seeded programs") {
    import spark.implicits._
    var derived = 0
    (0 until fixpointCases).grouped(12).foreach { batch =>
      val cases = batch.map(ruleCase)
      val data = cases.flatMap(_._1)
      val rules = graft.reason.Rules.parse(cases.flatMap(_._2).mkString("\n"))
      val df = spark.createDataset(data).toDF()
      def close() = graft.reason.Rules.closure(df, rules).as[Triple].collect().toSet
      val driver = close()
      val dist = TestSpark.withFixpointBudget(0)(close())
      assert(driver == dist, s"cases ${batch.head}..${batch.last}: " +
        s"driver-only=${(driver -- dist).take(4).map(_.toNTriples)} " +
        s"distributed-only=${(dist -- driver).take(4).map(_.toNTriples)}")
      derived += (driver -- data).size
    }
    assert(derived > 0, "the seeded programs derived nothing")
  }

  /** One seeded CC case: a random edge list in its own namespace, with
   * self-loops (some nodes ONLY self-looped) and node names whose UTF-8
   * byte order differs from Java's UTF-16 order. */
  private def ccCase(i: Int): Seq[(String, String)] = {
    val rnd = new Random(9000 + i)
    val nodes = 2 + rnd.nextInt(12)
    val marks = Vector("a", "Z", "\u00e9", "\uFF21", "\uD83D\uDE00")
    def node(k: Int) = s"c$i/" + marks(k % marks.size) + k
    Seq.fill(1 + rnd.nextInt(2 * nodes)) {
      val a = rnd.nextInt(nodes)
      (node(a), node(if (rnd.nextInt(5) == 0) a else rnd.nextInt(nodes)))
    }
  }

  test(s"differential: ConnectedComponents.runAdaptive driver face ≡ distributed face on ${fixpointCases * 5} random graphs") {
    import spark.implicits._
    val edges = (0 until fixpointCases * 5).flatMap(ccCase).toDF("src", "dst")
    def cc() = graft.canon.ConnectedComponents.runAdaptive(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val driver = cc()
    val dist = TestSpark.withFixpointBudget(0)(cc())
    assert(driver == dist, s"driver-only=${(driver -- dist).take(6)} " +
      s"distributed-only=${(dist -- driver).take(6)}")
    assert(driver.exists { case (n, c) => n != c })
  }
}
