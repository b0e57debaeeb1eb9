package graft.reason

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.{Term, Triple}
import Rules.{Atom, Guard, LpRule, RConst, RTerm, RVar, Rule, RuleSet}

/**
 * Magic-sets rewrite: goal-directed evaluation on the ONE-HUGE-KG face.
 *
 * [[Lp.Engine]] answers goals tuple-at-a-time per document — right for
 * billions of small KGs, wrong for one 100 TB triple table. The
 * reference has the same split: LPBRuleEngine backward-chains per
 * query, while its forward engines materialize. The set-at-a-time
 * answer to goal-directed inference is the classic magic-sets
 * transformation (Bancilhon/Maier/Sagiv/Ullman, PODS'86): compile
 * (backward rules, goal) into a FORWARD rule set whose magic predicates
 * restrict derivation to the goal's dependency cone, then run the
 * existing semi-naive engines ([[Rules.closure]] — DataFrame equi-join
 * deltas with anti-join dedup — or [[Rules.closureLocal]]). The whole
 * pipeline stays in Catalyst: magic guards become ordinary equi-joins
 * against small magic-fact deltas.
 *
 * Subset: Datalog backward rules with CONSTANT predicates, single
 * heads, range-restricted (head vars bound by the body), pure value
 * guards (notEqual/equal/notLiteral/isLiteral). Adornments are binary
 * (subject-bound × object-bound); magic facts are encoded as ordinary
 * triples `(s|marker, <magic-iri>, o|marker)` so the unmodified rule
 * engines execute the transformed program.
 */
object Magic {

  private val M = "urn:graft:magic:"

  private def predIri(a: Atom, rule: String): String = a.p match {
    case RConst(t) if t.isIri => t.lex
    case _ => throw new IllegalArgumentException(
      s"rule '$rule': magic compilation requires constant predicates")
  }

  private def varsIn(t: RTerm): Set[String] = t match {
    case RVar(v) => Set(v)
    case _ => Set.empty
  }

  private def isBound(t: RTerm, bound: Set[String]): Boolean = t match {
    case RConst(_) => true
    case RVar(v) => bound(v)
  }

  private def magicTerm(p: String, sb: Boolean, ob: Boolean): Term =
    Term.iri(M + (if (sb) "b" else "f") + (if (ob) "b" else "f") +
      ":" + p)

  /** The magic guard/head atom for predicate `p` under adornment
   * (sb, ob): bound slots carry the rule's own argument terms, free
   * slots the marker (= the magic IRI itself). */
  private def magicAtom(p: String, sb: Boolean, ob: Boolean,
      s: RTerm, o: RTerm): Atom = {
    val m = RConst(magicTerm(p, sb, ob))
    Atom(if (sb) s else m, m, if (ob) o else m)
  }

  /**
   * Compile backward rules + a goal into a forward [[RuleSet]] (rules +
   * the magic seed axiom). Running any Rules closure over
   * `data ∪ seed` derives exactly the goal-relevant facts; the answers
   * are the closure triples matching the goal pattern.
   */
  def compile(rules: Seq[LpRule],
      goal: (Option[Term], Term, Option[Term])): RuleSet = {
    rules.foreach { r =>
      require(r.backward && r.headRules.isEmpty,
        s"rule '${r.name}': magic compilation takes plain backward rules")
      val bodyVars = r.bodyAtoms.flatMap(a =>
        varsIn(a.s) ++ varsIn(a.p) ++ varsIn(a.o)).toSet
      val headVars = r.headTriples.flatMap(a =>
        varsIn(a.s) ++ varsIn(a.p) ++ varsIn(a.o))
      headVars.find(!bodyVars.contains(_)).foreach(v =>
        throw new IllegalArgumentException(
          s"rule '${r.name}': head var ?$v is goal-bound — magic " +
            "compilation requires range-restricted rules"))
      r.bodyGuards.foreach(g => require(
        Set("notEqual", "equal", "notLiteral", "isLiteral").contains(g.fn),
        s"rule '${r.name}': guard ${g.fn} is goal-state-dependent and " +
          "has no forward reading"))
      // guard vars must be body-bound: the LP engine silently fails such
      // a guard, but the forward engines would crash resolving the var —
      // reject loudly instead of diverging between the faces
      r.bodyGuards.flatMap(_.args.flatMap(varsIn)).find(!bodyVars.contains(_))
        .foreach(v => throw new IllegalArgumentException(
          s"rule '${r.name}': guard var ?$v is not bound by any body atom"))
      (r.headTriples ++ r.bodyAtoms).foreach(predIri(_, r.name))
    }
    val byHead: Map[String, Seq[LpRule]] =
      rules.groupBy(r => predIri(r.headTriples.head, r.name))

    val out = mutable.Buffer[Rule]()
    val axioms = mutable.Buffer[Triple]()
    val done = mutable.Set[(String, Boolean, Boolean)]()
    val queue = mutable.Queue[(String, Boolean, Boolean)]()

    val goalPred = goal._2.lex
    val (gsb, gob) = (goal._1.isDefined, goal._3.isDefined)
    if (byHead.contains(goalPred)) {
      queue += ((goalPred, gsb, gob))
      if (gsb || gob) {
        val m = magicTerm(goalPred, gsb, gob)
        axioms += Triple(goal._1.getOrElse(m), m, goal._3.getOrElse(m))
      }
    }

    while (queue.nonEmpty) {
      val key @ (p, sb, ob) = queue.dequeue()
      if (!done(key)) {
        done += key
        byHead(p).foreach { r =>
          val head = r.headTriples.head
          var bound: Set[String] = Set.empty
          if (sb) bound ++= varsIn(head.s)
          if (ob) bound ++= varsIn(head.o)
          val remaining = mutable.Buffer[Atom]() ++= r.bodyAtoms
          val newBody = mutable.Buffer[Atom]()
          if (sb || ob) newBody += magicAtom(p, sb, ob, head.s, head.o)
          var magicCount = 0
          while (remaining.nonEmpty) {
            // SIP: prefer the next atom that touches an already-bound var
            val idx = remaining.indexWhere(a =>
              (varsIn(a.s) ++ varsIn(a.o)).exists(bound)) match {
              case -1 => 0
              case j => j
            }
            val a = remaining.remove(idx)
            val q = predIri(a, r.name)
            val (aSb, aOb) = (isBound(a.s, bound), isBound(a.o, bound))
            if (byHead.contains(q)) {
              if (aSb || aOb) {
                // magic propagation: the bindings available before this
                // subgoal seed its magic set — guards already decidable
                // on the prefix come along to keep the cone tight
                magicCount += 1
                val prefixVars = bound ++
                  newBody.flatMap(x => varsIn(x.s) ++ varsIn(x.o))
                val gds = r.bodyGuards.filter(_.args.forall(
                  t => varsIn(t).forall(prefixVars)))
                val mHead = magicAtom(q, aSb, aOb, a.s, a.o)
                if (newBody.isEmpty) {
                  // empty prefix ⇒ the magic fact is GROUND (a bound slot
                  // with no bound vars must be a constant). The engines
                  // fire rules per body atom, so an empty-body rule would
                  // never fire — seed the fact as an axiom instead. Any
                  // surviving guards are var-free: decide them here.
                  def g(t: RTerm): Term = t match {
                    case RConst(k) => k
                    case RVar(v) => throw new IllegalStateException(
                      s"internal: var ?$v in a ground magic head")
                  }
                  val ok = gds.forall { gd =>
                    val eq = gd.args(0) == gd.args(1)
                    gd.fn match {
                      case "notEqual" => !eq
                      case "equal" => eq
                      case "isLiteral" => g(gd.args(0)).isLiteral
                      case "notLiteral" => !g(gd.args(0)).isLiteral
                    }
                  }
                  if (ok) axioms += Triple(g(mHead.s), g(mHead.p), g(mHead.o))
                } else out += Rule(s"magic_${r.name}_$magicCount",
                  newBody.toSeq, gds, Seq(mHead))
                queue += ((q, aSb, aOb))
              } else queue += ((q, false, false))
            }
            newBody += a
            bound ++= varsIn(a.s) ++ varsIn(a.p) ++ varsIn(a.o)
          }
          out += Rule(s"${r.name}_${if (sb) "b" else "f"}${if (ob) "b" else "f"}",
            newBody.toSeq, r.bodyGuards, Seq(head))
        }
      }
    }
    RuleSet(axioms.toSeq, out.toSeq)
  }

  /** Goal-directed answers over one huge KG: magic-compile, run the
   * semi-naive DataFrame closure, keep the triples matching the goal.
   * The term-struct schema (s, p, o) matches [[Rules.closure]].
   * NOTE: takes bare rules — a rule FILE's ground axioms are data, not
   * rules; use the [[Rules.LpRuleSet]] overload (or union `rs.axioms`
   * into `triples` yourself) or they are silently absent. */
  def answer(triples: DataFrame, rules: Seq[LpRule],
      goal: (Option[Term], Term, Option[Term])): DataFrame = {
    val rs = compile(rules, goal)
    val closed =
      if (rs.rules.isEmpty) triples.select("s", "p", "o").dropDuplicates()
      else Rules.closure(triples, rs)
    def eq(c: String, t: Term) =
      col(s"$c.kind") === t.kind && col(s"$c.lex") === t.lex &&
        col(s"$c.dt") === t.dt && col(s"$c.lang") === t.lang
    var res = closed.filter(eq("p", goal._2))
    goal._1.foreach(t => res = res.filter(eq("s", t)))
    goal._3.foreach(t => res = res.filter(eq("o", t)))
    res
  }

  /** Pure sibling for document-scale graphs and specs. Bare rules — see
   * the axiom note on [[answer]]. */
  def answerLocal(data: Seq[Triple], rules: Seq[LpRule],
      goal: (Option[Term], Term, Option[Term])): Set[Triple] = {
    val rs = compile(rules, goal)
    val closed = Rules.closureLocal(data, rs)
    closed.filter(t => t.p == goal._2 &&
      goal._1.forall(_ == t.s) && goal._3.forall(_ == t.o))
  }

  /** [[answer]] over a full parsed rule SET: the set's ground axioms are
   * seeded into the data (the same facts [[Lp.hybrid]] sees), so the two
   * faces agree on rule files that carry `-> (…)` axioms. */
  def answer(triples: DataFrame, rs: Rules.LpRuleSet,
      goal: (Option[Term], Term, Option[Term])): DataFrame = {
    val withAx =
      if (rs.axioms.isEmpty) triples
      else {
        import org.apache.spark.sql.Encoders
        val spark = triples.sparkSession
        triples.select("s", "p", "o").unionAll(
          spark.createDataset(rs.axioms)(Encoders.product[Triple]).toDF())
      }
    answer(withAx, rs.rules, goal)
  }

  /** [[answerLocal]] over a full parsed rule SET (axioms seeded). */
  def answerLocal(data: Seq[Triple], rs: Rules.LpRuleSet,
      goal: (Option[Term], Term, Option[Term])): Set[Triple] =
    answerLocal(data ++ rs.axioms, rs.rules, goal)
}
