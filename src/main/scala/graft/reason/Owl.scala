package graft.reason

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{Term, Triple}
import graft.reason.Rules.{Atom, Guard, RConst, RTerm, RVar, Rule, RuleSet}

/**
 * OWL "micro" reasoner — the Spark-native analog of the reference's
 * OWLMicroReasoner (jena-core/.../reasoner/rulesys/OWLMicroReasoner.java
 * over etc/owl-fb-micro.rules): OWL-Lite-ish inference WITHOUT individual
 * equality (owl:sameAs) reasoning and without bNode-introducing
 * someValuesFrom entailments.
 *
 * Architecture (deliberately different from the reference's hybrid
 * forward/backward engine):
 *
 *  - the GENERIC rule program (resource graft/owl-micro-forward.rules)
 *    is pure-forward and runs unchanged on both rule-engine faces
 *    ([[Rules.closureLocal]] per-document, [[Rules.closure]] DataFrame
 *    semi-naive for one huge KG);
 *  - the functor/list machinery the reference encodes as rule terms
 *    (some(?P,?D), listMapAsSubject, OWLRuleTranslationHook.java) is a
 *    driver-side SCHEMA COMPILE ([[compileHook]]): a pure function of the
 *    saturated graph that emits ground axioms (restriction equality,
 *    cardinality arithmetic, intersection/union subclass links,
 *    owl:distinctMembers pairs, owl:Nothing detection) and ground
 *    RECOGNITION rules (intersection membership, min/hasValue/allRec
 *    recognition), iterated with the closure to a joint fixpoint.
 *
 * At 100 TB this is the standard stratification of distributed RDFS/OWL
 * materialization (WebPIE, Urbani et al., ISWC 2010): the TBox is
 * schema-sized, compiled once on the driver, and the ABox closure runs
 * set-at-a-time with the compiled program. The documented assumption is
 * that schema facts are DECLARED (or derivable from declared schema), not
 * conjured by instance-level joins through undeclared meta-classes; the
 * local face has no such restriction (it feeds the whole document to the
 * hook).
 *
 * One deliberate completeness extension above micro, noted in the rules
 * file: the main allValuesFrom entailment ([all1] of owl-fb-mini.rules).
 * Positive entailments are a superset of micro's, so every micro
 * entailment still holds; OwlSpec gates both the MICRO-flagged W3C WG
 * manifests and the mini-level allValuesFrom case.
 */
object Owl {

  private val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  private val RDFS = "http://www.w3.org/2000/01/rdf-schema#"
  private val OWL = "http://www.w3.org/2002/07/owl#"
  private val XSD = Term.XSD

  private val tType = Term.iri(RDF + "type")
  private val tFirst = Term.iri(RDF + "first")
  private val tRest = Term.iri(RDF + "rest")
  private val tNil = Term.iri(RDF + "nil")
  private val tSubClassOf = Term.iri(RDFS + "subClassOf")
  private val tSubPropertyOf = Term.iri(RDFS + "subPropertyOf")
  private val tDomain = Term.iri(RDFS + "domain")
  private val tRange = Term.iri(RDFS + "range")
  private val tDatatypeClass = Term.iri(RDFS + "Datatype")
  private val tLiteralClass = Term.iri(RDFS + "Literal")
  private val tEquivClass = Term.iri(OWL + "equivalentClass")
  private val tOnProperty = Term.iri(OWL + "onProperty")
  private val tSomeValues = Term.iri(OWL + "someValuesFrom")
  private val tAllValues = Term.iri(OWL + "allValuesFrom")
  private val tHasValue = Term.iri(OWL + "hasValue")
  private val tMinCard = Term.iri(OWL + "minCardinality")
  private val tMaxCard = Term.iri(OWL + "maxCardinality")
  private val tCard = Term.iri(OWL + "cardinality")
  private val tIntersection = Term.iri(OWL + "intersectionOf")
  private val tUnion = Term.iri(OWL + "unionOf")
  private val tDistinctMembers = Term.iri(OWL + "distinctMembers")
  private val tDifferentFrom = Term.iri(OWL + "differentFrom")
  private val tDisjointWith = Term.iri(OWL + "disjointWith")
  private val tSameAs = Term.iri(OWL + "sameAs")
  private val tFunctional = Term.iri(OWL + "FunctionalProperty")
  private val tDatatypeProp = Term.iri(OWL + "DatatypeProperty")
  private val tObjectProp = Term.iri(OWL + "ObjectProperty")
  private val tThing = Term.iri(OWL + "Thing")
  private val tNothing = Term.iri(OWL + "Nothing")

  /** The generic forward program (axioms + rules). */
  lazy val microGeneric: RuleSet = {
    val in = getClass.getResourceAsStream("/graft/owl-micro-forward.rules")
    require(in != null, "resource graft/owl-micro-forward.rules missing")
    try Rules.parse(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  // ---- restriction keys (the reference's functor terms) -----------------

  private sealed trait RKey
  private final case class SomeK(p: Term, d: Term) extends RKey
  private final case class AllK(p: Term, d: Term) extends RKey
  private final case class HasValueK(p: Term, v: Term) extends RKey
  private final case class MinK(p: Term, n: BigInt) extends RKey
  private final case class MaxK(p: Term, n: BigInt) extends RKey
  private final case class CardK(p: Term, n: BigInt) extends RKey

  /** Cardinality literal → value ("2"^^xsd:nonNegativeInteger, xsd:int,
   * plain "2" …). Negative / non-numeric forms yield None (ignored, like
   * the reference's Functor arg check). */
  private def cardValue(t: Term): Option[BigInt] =
    if (!t.isLiteral) None
    else {
      val lx = t.lex.trim
      if (lx.nonEmpty && lx.forall(_.isDigit)) Some(BigInt(lx)) else None
    }

  /** rdf:first/rdf:rest chain → members; malformed/cyclic lists yield the
   * readable prefix (the reference's list builtins behave the same: they
   * simply stop matching). */
  private def listMembers(head: Term, first: Map[Term, Seq[Term]],
      rest: Map[Term, Seq[Term]]): Seq[Term] = {
    val out = mutable.Buffer[Term]()
    val seen = mutable.Set[Term]()
    var cur = head
    while (cur != tNil && !seen.contains(cur)) {
      seen += cur
      first.getOrElse(cur, Nil).headOption match {
        case Some(m) => out += m
        case None => return out.toSeq
      }
      cur = rest.getOrElse(cur, Nil).headOption.getOrElse(tNil)
    }
    out.toSeq
  }

  /** [[listMembers]] but LOUD on malformed/cyclic structure — used for
   * owl:intersectionOf, where a silent prefix would compile an UNSOUND
   * recognition rule (C = M1 ∧ M2 read as C = M1). The reference's
   * translation hook throws ReasonerException on illegal list structure
   * (OWLRuleTranslationHook.translateIntersectionList). */
  private def listMembersStrict(head: Term, first: Map[Term, Seq[Term]],
      rest: Map[Term, Seq[Term]], ctx: String): Seq[Term] = {
    val out = mutable.Buffer[Term]()
    val seen = mutable.Set[Term]()
    var cur = head
    while (cur != tNil) {
      if (!seen.add(cur)) throw new IllegalArgumentException(
        s"Illegal list structure in $ctx: cycle at ${cur.lex}")
      out += first.getOrElse(cur, Nil).headOption.getOrElse(
        throw new IllegalArgumentException(
          s"Illegal list structure in $ctx: missing rdf:first at ${cur.lex}"))
      cur = rest.getOrElse(cur, Nil).headOption.getOrElse(
        throw new IllegalArgumentException(
          s"Illegal list structure in $ctx: missing rdf:rest at ${cur.lex}"))
    }
    out.toSeq
  }

  /** Stable ground-rule helper. */
  private def rule(name: String, body: Seq[Atom], heads: Seq[Atom],
      guards: Seq[Guard] = Nil): Rule = Rule(name, body, guards, heads)
  private def v(n: String): RVar = RVar(n)
  private def c(t: Term): RConst = RConst(t)

  /**
   * The schema translation hook (OWLRuleTranslationHook.java analog, plus
   * the functor rules of owl-fb-micro.rules restated over explicit keys):
   * pure function of a saturated graph, returns (extra ground axioms,
   * extra ground rules). Iterated to fixpoint by [[compileProgram]].
   */
  private[reason] def compileHook(closure: Set[Triple]): (Set[Triple], Seq[Rule]) = {
    val byP = closure.groupBy(_.p)
    def pairs(p: Term): Seq[(Term, Term)] =
      byP.getOrElse(p, Set.empty).toSeq.map(t => (t.s, t.o))
    def mm(p: Term): Map[Term, Seq[Term]] =
      pairs(p).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

    val onProp = mm(tOnProperty)
    val someV = mm(tSomeValues)
    val allV = mm(tAllValues)
    val hasV = mm(tHasValue)
    val minC = mm(tMinCard)
    val maxC = mm(tMaxCard)
    val cardC = mm(tCard)
    val first = mm(tFirst)
    val rest = mm(tRest)
    val subClass = pairs(tSubClassOf).toSet
    val domains = pairs(tDomain)
    val ranges = pairs(tRange)
    val disjoint = pairs(tDisjointWith)
    val functional = byP.getOrElse(tType, Set.empty)
      .filter(_.o == tFunctional).map(_.s)
    // datatype classes: drive the someRec2b datatype variant (a literal
    // can never carry an (x rdf:type D) triple — recognition must test
    // the literal's datatype instead)
    val datatypeCls = byP.getOrElse(tType, Set.empty)
      .filter(_.o == tDatatypeClass).map(_.s) + tLiteralClass

    // syntactic keys per restriction node (restriction1..5, hasValueRec:
    // one key per (onProperty, constraint) pair)
    val nodeKeys = mutable.Map[Term, mutable.Set[RKey]]()
    def addNodeKey(n: Term, k: RKey): Unit =
      nodeKeys.getOrElseUpdate(n, mutable.Set()) += k
    onProp.foreach { case (r, ps) =>
      ps.foreach { p =>
        someV.getOrElse(r, Nil).foreach(d => addNodeKey(r, SomeK(p, d)))
        allV.getOrElse(r, Nil).foreach(d => addNodeKey(r, AllK(p, d)))
        hasV.getOrElse(r, Nil).foreach(x => addNodeKey(r, HasValueK(p, x)))
        minC.getOrElse(r, Nil).flatMap(cardValue).foreach(n => addNodeKey(r, MinK(p, n)))
        maxC.getOrElse(r, Nil).flatMap(cardValue).foreach(n => addNodeKey(r, MaxK(p, n)))
        cardC.getOrElse(r, Nil).flatMap(cardValue).foreach { n =>
          // [restriction5] card => the card, min and max keys
          addNodeKey(r, CardK(p, n)); addNodeKey(r, MinK(p, n)); addNodeKey(r, MaxK(p, n))
        }
      }
    }

    // abstract key facts: KEq = class ≡ key, KSub = class ⊑ key.
    // Per-class indexes mirror the sets so close() propagates keys down
    // the subclass relation via O(1) lookups instead of rescanning the
    // whole fact set per subclass pair — a saturated TBox can hold 10⁵+
    // subclass pairs, and the scan form is O(rounds × |subClass| ×
    // (|kEq|+|kSub|)) driver time.
    val kEq = mutable.Set[(Term, RKey)]()
    val kSub = mutable.Set[(Term, RKey)]()
    val eqByCls = mutable.Map[Term, mutable.Set[RKey]]()
    val subByCls = mutable.Map[Term, mutable.Set[RKey]]()
    val rangesByP: Map[Term, Seq[Term]] =
      ranges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    nodeKeys.foreach { case (n, ks) =>
      ks.foreach { k =>
        kEq += ((n, k)); eqByCls.getOrElseUpdate(n, mutable.Set()) += k
      }
    }
    // every class reachable below a keyed node inherits the ⊑ fact
    def close(): Unit = {
      var changed = true
      def addSub(f: (Term, RKey)): Unit =
        if (kSub.add(f)) {
          subByCls.getOrElseUpdate(f._1, mutable.Set()) += f._2
          changed = true
        }
      def addEq(f: (Term, RKey)): Unit = {
        if (kEq.add(f)) {
          eqByCls.getOrElseUpdate(f._1, mutable.Set()) += f._2
          changed = true
        }
        addSub(f)
      }
      while (changed) {
        changed = false
        kEq.toSeq.foreach(addSub)
        // ⊑ propagates down the subclass relation into keyed nodes
        subClass.foreach { case (cc, dd) =>
          eqByCls.get(dd).foreach(_.toSeq.foreach(k => addSub((cc, k))))
          subByCls.get(dd).foreach(_.toSeq.foreach(k => addSub((cc, k))))
        }
        // [restriction-inter-CFP] C ≡ card(P,1) ∧ P functional → C ≡ min(P,1)
        kEq.toSeq.foreach {
          case (cc, CardK(p, n)) if n == BigInt(1) && functional(p) =>
            addEq((cc, MinK(p, n)))
          case _ => ()
        }
        // [restriction6] C ≡ min(P,X) ∧ C ≡ max(P,X) → C ≡ card(P,X)
        kEq.toSeq.foreach {
          case (cc, MinK(p, n)) if kEq(cc -> MaxK(p, n)) => addEq((cc, CardK(p, n)))
          case _ => ()
        }
        kSub.toSeq.foreach {
          case (cc, MinK(p, n)) if kSub(cc -> MaxK(p, n)) => addSub((cc, CardK(p, n)))
          case _ => ()
        }
        // [restriction-inter-MnS] P range D ∧ C ⊑ min(P,1) → C ⊑ some(P,D)
        kSub.toSeq.foreach {
          case (cc, MinK(p, n)) if n == BigInt(1) =>
            rangesByP.getOrElse(p, Nil).foreach(d => addSub((cc, SomeK(p, d))))
          case _ => ()
        }
        // [allRec1] C ⊑ max(P,1) ∧ C ⊑ some(P,D) → C ⊑ all(P,D)
        kSub.toSeq.foreach {
          case (cc, SomeK(p, d)) if kSub(cc -> MaxK(p, BigInt(1))) =>
            addSub((cc, AllK(p, d)))
          case _ => ()
        }
        // [allRec2] P functional ∧ C ⊑ some(P,C) → C ⊑ all(P,C)
        kSub.toSeq.foreach {
          case (cc, SomeK(p, d)) if d == cc && functional(p) => addSub((cc, AllK(p, d)))
          case _ => ()
        }
      }
    }
    close()

    val axioms = mutable.Set[Triple]()
    val rules = mutable.Buffer[Rule]()
    def ax(s: Term, p: Term, o: Term): Unit = axioms += Triple(s, p, o)

    // materialize abstract facts onto syntactically-keyed nodes
    val byKey: Map[RKey, Seq[Term]] =
      nodeKeys.toSeq.flatMap { case (n, ks) => ks.toSeq.map(_ -> n) }
        .groupBy(_._1).map { case (k, ns) => k -> ns.map(_._2) }
    kSub.foreach { case (cc, k) =>
      byKey.getOrElse(k, Nil).foreach(r => if (r != cc) ax(cc, tSubClassOf, r))
    }
    kEq.foreach { case (cc, k) =>
      byKey.getOrElse(k, Nil).foreach { r =>
        if (r != cc) { ax(cc, tSubClassOf, r); ax(r, tSubClassOf, cc) }
      }
    }

    var gid = 0
    def nextId(): Int = { gid += 1; gid }
    // recognition rules from abstract keys (gid is per-hook-run but the
    // construction order is deterministic: sorted key sets)
    def sortedEq: Seq[(Term, RKey)] = kEq.toSeq.sortBy(_.toString)
    def sortedSub: Seq[(Term, RKey)] = kSub.toSeq.sortBy(_.toString)

    sortedEq.foreach {
      // [minRec] C ≡ min(P,1), P ≠ rdf:type: (?x P ?y) → (?x type C)
      case (cc, MinK(p, n)) if n == BigInt(1) && p != tType =>
        rules += rule(s"minRec${nextId()}",
          Seq(Atom(v("x"), c(p), v("y"))), Seq(Atom(v("x"), c(tType), c(cc))))
      // [someRec2 / someRec2b over derived equivalence]: class targets
      // join through (a rdf:type D); DATATYPE targets test the literal's
      // datatype via the isDType guard (the engine drops literal-subject
      // triples, so the type-join variant could never fire for them)
      case (cc, SomeK(p, d)) if datatypeCls(d) =>
        rules += rule(s"someRecD${nextId()}",
          Seq(Atom(v("x"), c(p), v("a"))),
          Seq(Atom(v("x"), c(tType), c(cc))),
          guards = Seq(Guard("isDType", Seq(v("a"), c(d)))))
      case (cc, SomeK(p, d)) =>
        rules += rule(s"someRec${nextId()}",
          Seq(Atom(v("x"), c(p), v("a")), Atom(v("a"), c(tType), c(d))),
          Seq(Atom(v("x"), c(tType), c(cc))))
      // [hasValueIF over derived equivalence]
      case (cc, HasValueK(p, value)) =>
        rules += rule(s"hasValueRec${nextId()}",
          Seq(Atom(v("x"), c(p), c(value))), Seq(Atom(v("x"), c(tType), c(cc))))
        rules += rule(s"hasValueEnt${nextId()}",
          Seq(Atom(v("x"), c(tType), c(cc))), Seq(Atom(v("x"), c(p), c(value))))
      // [allRec4/5] C ≡ all(P,D) ∧ (P functional ∨ C ⊑ max(P,1)):
      // (?x P ?y),(?y type D) → (?x type C)
      case (cc, AllK(p, d)) if functional(p) || kSub(cc -> MaxK(p, BigInt(1))) =>
        rules += rule(s"allRec${nextId()}",
          Seq(Atom(v("x"), c(p), v("y")), Atom(v("y"), c(tType), c(d))),
          Seq(Atom(v("x"), c(tType), c(cc))))
      case _ => ()
    }
    sortedSub.foreach {
      // [all1, mini] C ⊑ all(P,D): (?x type C),(?x P ?y) → (?y type D)
      case (cc, AllK(p, d)) =>
        rules += rule(s"allEnt${nextId()}",
          Seq(Atom(v("x"), c(tType), c(cc)), Atom(v("x"), c(p), v("y"))),
          Seq(Atom(v("y"), c(tType), c(d))))
      // [maxRec] C ≡ max(P,1) ∧ P functional → Thing ⊑ C (≡ suffices here:
      // kEq ⊆ kSub and the reference keys on the equivalence)
      case (cc, MaxK(p, n)) if n == BigInt(1) && functional(p) && kEq(cc -> MaxK(p, n)) =>
        ax(tThing, tSubClassOf, cc)
      case _ => ()
    }
    // [nothing1] C ⊑ min(P,n) ∧ C ⊑ max(P,x) ∧ x < n → C ≡ Nothing
    sortedSub.foreach {
      case (cc, MinK(p, n)) =>
        kSub.foreach {
          case (`cc`, MaxK(`p`, x)) if x < n =>
            ax(cc, tEquivClass, tNothing); ax(cc, tSubClassOf, tNothing)
          case _ => ()
        }
      case _ => ()
    }
    // [restriction-inter-RA-T] P range C ∧ D ≡ all(P,C) → Thing ⊑ D
    sortedEq.foreach {
      case (dd, AllK(p, cc)) if ranges.contains((p, cc)) => ax(tThing, tSubClassOf, dd)
      case _ => ()
    }
    // [maxRec2 / cardRec1] C ≡ max(P,0) (or card(P,0)) ∧ P domain D ∧
    // E disjointWith D → E ≡ C
    sortedEq.foreach {
      case (cc, MaxK(p, n)) if n == BigInt(0) =>
        domains.filter(_._1 == p).foreach { case (_, d) =>
          disjoint.filter(_._2 == d).foreach { case (e, _) =>
            ax(e, tSubClassOf, cc); ax(cc, tSubClassOf, e)
          }
        }
      case _ => ()
    }

    // [intersectionOf1 + translation hook] C ∩ [M1..Mk] — STRICT list
    // read: a silent prefix would compile the unsound rule C = M1
    mm(tIntersection).foreach { case (cc, heads) =>
      heads.foreach { l =>
        val ms = listMembersStrict(l, first, rest, "owl:intersectionOf")
        ms.foreach(m => ax(cc, tSubClassOf, m))
        if (ms.nonEmpty) {
          val body = ms.distinct.map(m => Atom(v("x"), c(tType), c(m)))
          rules += rule(s"intersectRec${nextId()}", body,
            Seq(Atom(v("x"), c(tType), c(cc))))
        }
      }
    }
    // [unionOf1] C ∪ [M1..Mk]: each Mi ⊑ C
    mm(tUnion).foreach { case (cc, heads) =>
      heads.foreach(l => listMembers(l, first, rest).foreach(m => ax(m, tSubClassOf, cc)))
    }
    // [distinct2] owl:distinctMembers → pairwise differentFrom; guard on
    // MEMBER inequality, not index inequality — a list repeating a member
    // must not assert x differentFrom x (the reference guards with
    // !sameValueAs, AssertDisjointPairs.java)
    mm(tDistinctMembers).foreach { case (_, heads) =>
      heads.foreach { l =>
        val ms = listMembers(l, first, rest)
        for (i <- ms.indices; j <- ms.indices if i != j && ms(i) != ms(j))
          ax(ms(i), tDifferentFrom, ms(j))
      }
    }

    (axioms.toSet, rules.toSeq.distinct)
  }

  /**
   * Joint fixpoint of closure and schema compile over `seed`:
   * returns (saturated closure of seed, ground rules). The hook's rule
   * names embed a per-run counter, so rules are compared structurally
   * (body+heads) when testing convergence.
   */
  private def compileProgram(seed: Seq[Triple], maxHookRounds: Int = 25)
      : (Set[Triple], Seq[Rule]) = {
    var extraAx = Set.empty[Triple]
    var ground = Vector.empty[Rule]
    def sig(r: Rule): (Seq[Atom], Seq[Atom]) = (r.body, r.heads)
    var sigs = Set.empty[(Seq[Atom], Seq[Atom])]
    var round = 0
    while (round < maxHookRounds) {
      round += 1
      val closure = Rules.closureLocal(seed ++ extraAx,
        RuleSet(microGeneric.axioms, microGeneric.rules ++ ground))
      val (ax2, rules2) = compileHook(closure)
      val newAx = ax2 -- closure
      val newRules = rules2.filterNot(r => sigs.contains(sig(r)))
      if (newAx.isEmpty && newRules.isEmpty) return (closure, ground)
      extraAx ++= ax2
      ground ++= newRules
      sigs ++= newRules.map(sig)
    }
    throw new IllegalStateException(
      s"OWL schema compile did not converge within $maxHookRounds hook rounds")
  }

  /** OWL-micro closure of a document-sized graph (pure, driver/executor
   * local). The whole document feeds the schema hook, so instance-derived
   * schema is fully supported on this face. */
  def closureLocal(data: Seq[Triple]): Set[Triple] = compileProgram(data)._1

  /** Is `a` a SCHEMA atom — one whose matching triples are complete in the
   * driver-side saturated schema closure under the documented TBox
   * assumption (constant predicate in the schema vocabulary, or rdf:type
   * into a constant OWL/RDFS meta-class)? */
  private def isSchemaAtom(a: Atom): Boolean = a.p match {
    case RConst(p) if p.isIri =>
      schemaPreds(p.lex) || (p == tType && (a.o match {
        case RConst(o) => schemaTypeObjects(o.lex)
        case _ => false
      }))
    case _ => false
  }

  /**
   * WebPIE-style partial evaluation of the rule program against the
   * SATURATED schema closure (Urbani et al., ISWC 2010 — TBox joins are
   * resolved once, driver-side; only ABox joins run distributed):
   *
   *  - A rule is specialized iff it has ≥1 schema atom AND (a head
   *    predicate is a variable OR the body has ≥3 atoms). Its schema
   *    atoms are enumerated against the schema closure, the bindings
   *    substituted into the residual atoms/guards/heads, and
   *    fully-ground guards decided driver-side.
   *  - The 5 variable-head-predicate rules (rdfs6, symmetricProperty1,
   *    inverseOf2, transitiveProperty1, hasValueEnt) all bind their head
   *    predicate from a schema atom, so the specialized program has an
   *    all-constant head-predicate set — which re-enables the engine's
   *    STATIC delta-predicate dispatch ([[Rules.closure]]) that a single
   *    variable head predicate disables program-wide.
   *  - The 3–4-atom restriction joins (someRec, allEnt, hasValueRec,
   *    eqSome/eqAll/eqHasValue) shrink to 1–2 instance atoms or vanish.
   *  - A rule whose body is ALL schema atoms derives only facts already
   *    saturated into the closure — dropped, but ONLY when none of its
   *    body predicates can be re-derived distributed (i.e. none appears
   *    among the surviving program's head predicates); otherwise it is
   *    kept generic for exact cross-face parity (e.g. rules consuming
   *    rdf:type meta-facts that rdf1and4 keeps deriving distributed).
   *  - Everything else (constant-head 1–2-atom rules, the hook's already
   *    ground rules, the rdf1and4/rdfs5b/… meta family) passes through
   *    unchanged — the meta family MUST keep running distributed so
   *    instance-derived predicate facts match the local face exactly.
   */
  private[reason] def specialize(rules: Seq[Rule], schema: Set[Triple]): Seq[Rule] = {
    val byP: Map[Term, Seq[Triple]] = schema.toSeq.groupBy(_.p)
    def cands(a: Atom): Seq[Triple] = a.p match {
      case RConst(p) => byP.getOrElse(p, Nil)
      case _ => schema.toSeq
    }
    def unify(pat: RTerm, v: Term, b: Map[String, Term]): Option[Map[String, Term]] =
      pat match {
        case RConst(c) => if (c == v) Some(b) else None
        case RVar(n) => b.get(n) match {
          case Some(x) => if (x == v) Some(b) else None
          case None => Some(b + (n -> v))
        }
      }
    def matchAtom(a: Atom, t: Triple, b: Map[String, Term]): Option[Map[String, Term]] =
      unify(a.s, t.s, b).flatMap(unify(a.p, t.p, _)).flatMap(unify(a.o, t.o, _))
    def bindings(atoms: Seq[Atom]): Seq[Map[String, Term]] =
      atoms.foldLeft(Seq(Map.empty[String, Term])) { (bs, a) =>
        bs.flatMap(b => cands(a).flatMap(t => matchAtom(a, t, b)))
      }
    def sub(b: Map[String, Term])(t: RTerm): RTerm = t match {
      case RVar(n) => b.get(n).map(RConst(_): RTerm).getOrElse(t)
      case c => c
    }

    val (toSpec, keep) = rules.partition { r =>
      r.body.exists(isSchemaAtom) &&
        (r.heads.exists(_.p.isInstanceOf[RVar]) || r.body.size >= 3)
    }
    val out = mutable.Buffer[Rule]() ++= keep
    val allSchema = mutable.Buffer[Rule]() // empty-residual candidates
    toSpec.foreach { r =>
      val (schemaAtoms, instAtoms) = r.body.partition(isSchemaAtom)
      if (instAtoms.isEmpty) allSchema += r
      else {
        var gid = 0
        bindings(schemaAtoms).foreach { b =>
          val s = sub(b) _
          val gs = r.guards.map(g => Guard(g.fn, g.args.map(s)))
          // only notEqual/equal are decidable here; other builtins
          // (isDType) stay open for the engines even when ground
          val (groundG, openG) = gs.partition(g =>
            (g.fn == "notEqual" || g.fn == "equal") &&
              g.args.forall(_.isInstanceOf[RConst]))
          val ok = groundG.forall { g =>
            val eq = g.args(0) == g.args(1)
            if (g.fn == "notEqual") !eq else eq
          }
          if (ok) {
            gid += 1
            out += Rule(s"${r.name}#g$gid",
              instAtoms.map(a => Atom(s(a.s), s(a.p), s(a.o))), openG,
              r.heads.map(h => Atom(s(h.s), s(h.p), s(h.o))))
          }
        }
      }
    }
    // an all-schema-body rule may be dropped only if nothing distributed
    // can re-derive one of its body facts
    val survivorHeadPreds: Set[String] = out.flatMap(_.heads).collect {
      case Atom(_, RConst(p), _) => p.lex
    }.toSet
    val anyVarHead = out.exists(_.heads.exists(_.p.isInstanceOf[RVar]))
    allSchema.foreach { r =>
      val reDerivable = anyVarHead || r.body.exists(a => a.p match {
        case RConst(p) => survivorHeadPreds(p.lex)
        case _ => true
      })
      if (reDerivable) out += r // keep generic — parity over speed
    }
    out.toSeq.distinctBy(r => (r.body, r.guards, r.heads))
  }

  /** Vocabulary predicates whose triples constitute the schema slice. */
  private[reason] val schemaPreds: Set[String] = Set(
    tSubClassOf, tSubPropertyOf, tDomain, tRange, tEquivClass,
    Term.iri(OWL + "equivalentProperty"), Term.iri(OWL + "inverseOf"),
    tSameAs, tDisjointWith, tDifferentFrom, tOnProperty, tSomeValues,
    tAllValues, tHasValue, tMinCard, tMaxCard, tCard, tIntersection, tUnion,
    Term.iri(OWL + "oneOf"), Term.iri(OWL + "complementOf"), tDistinctMembers,
    tFirst, tRest).map(_.lex)

  /** Objects of rdf:type triples that mark a subject as schema-relevant. */
  private[reason] val schemaTypeObjects: Set[String] = Set(
    Term.iri(OWL + "Class"), Term.iri(OWL + "Restriction"), tObjectProp,
    tDatatypeProp, tFunctional, Term.iri(OWL + "InverseFunctionalProperty"),
    Term.iri(OWL + "SymmetricProperty"), Term.iri(OWL + "TransitiveProperty"),
    Term.iri(OWL + "AnnotationProperty"), Term.iri(OWL + "AllDifferent"),
    tDatatypeClass, Term.iri(RDFS + "ContainerMembershipProperty"),
    Term.iri(RDF + "Property"), Term.iri(RDFS + "Class"),
    Term.iri(RDF + "List")).map(_.lex)

  /**
   * OWL-micro closure of one huge KG (term-struct columns s, p, o).
   *
   * The schema slice (vocabulary-predicate triples plus rdf:type triples
   * into the OWL/RDFS meta-classes) is collected to the driver — it is
   * schema-sized by definition and guarded by `schemaCap` (loud failure,
   * never silent truncation) — compiled through the same hook fixpoint as
   * the local face, and the resulting program runs on the semi-naive
   * DataFrame engine.
   *
   * `expandDifferentFrom = false` (default) drops the [distinct1]
   * disjointness→differentFrom expansion: it is |C|×|D| per disjoint
   * class pair — the reference keeps that rule backward (on-demand) for
   * exactly this reason, and on the batch face the validation checks
   * consume disjointness directly.
   */
  /** The driver-side compile shared by [[closure]] and [[validate]]:
   * saturated schema closure, hook-compiled ground rules, and the
   * distinct data-predicate set. */
  private final case class CompiledSchema(schemaClosure: Set[Triple],
      ground: Seq[Rule], dataPreds: Option[Set[String]],
      dataTypeObjs: Option[Set[String]])

  /** Cap on the distinct data-predicate collect: the predicate seeding
   * and exact round-1 dispatch are OPTIMIZATIONS, so past the cap they
   * are skipped (generic dispatch, rdf1and4 derives the Property facts
   * distributed) instead of pulling an unbounded vocabulary — e.g.
   * rdf:_1…rdf:_n container predicates scale with DATA, not schema. */
  private val predVocabCap = 1000000

  private def compileSchema(df: DataFrame, schemaCap: Int): CompiledSchema = {
    import org.apache.spark.sql.Encoders
    val isSchema =
      col("p.lex").isin(schemaPreds.toSeq: _*) ||
        (col("p.lex") === tType.lex && col("o.lex").isin(schemaTypeObjects.toSeq: _*))
    val schemaRows = df.select("s", "p", "o").where(isSchema)
      .limit(schemaCap + 1)
      .as(Encoders.product[Triple]).collect()
    require(schemaRows.length <= schemaCap,
      s"schema slice exceeds $schemaCap triples — not a schema-sized TBox; " +
        "raise schemaCap explicitly if this is intended")
    // distinct data predicates (one narrow column-pruned scan, bounded by
    // the vocabulary): rdf1and4 would derive (p type rdf:Property) for
    // every one of them distributed, and the meta-echo family (rdfs5b →
    // equivalentProperty2 → …) would then spend 2–3 extra fixpoint rounds
    // on reflexive noise. Seeding the facts into the driver compile
    // pre-saturates that whole family into the riding axioms.
    val predRows = df
      .select(col("p.lex")).where(col("p.kind") === Term.KIND_IRI)
      .distinct().limit(predVocabCap + 1)
      .collect().map(_.getString(0))
    val dataPreds: Option[Set[String]] =
      if (predRows.length > predVocabCap) None else Some(predRows.toSet)
    val predFacts = dataPreds.map(dp => (dp -- schemaPreds).toSeq.sorted
      .map(p => Triple(Term.iri(p), tType, Term.iri(RDF + "Property"))))
      .getOrElse(Nil)
    // the data's rdf:type-object vocabulary (one more narrow scan,
    // class-vocabulary-bounded) seeds round 1's (rdf:type, class)
    // dispatch; wider than the cap → predicate-only dispatch, still exact
    val dataTypeObjs: Option[Set[String]] = {
      val objs = df.select(col("o.lex")).where(col("p.lex") === tType.lex)
        .distinct().limit(Rules.dispatchTypeObjCap + 1)
        .collect().map(_.getString(0))
      if (objs.length > Rules.dispatchTypeObjCap) None else Some(objs.toSet)
    }
    val (schemaClosure, ground) = compileProgram(schemaRows.toSeq ++ predFacts)
    CompiledSchema(schemaClosure, ground, dataPreds, dataTypeObjs)
  }

  private def closureWith(df: DataFrame, cs: CompiledSchema,
      expandDifferentFrom: Boolean): DataFrame = {
    val rules0 = microGeneric.rules ++ cs.ground
    val rules1 =
      if (expandDifferentFrom) rules0 else rules0.filterNot(_.name == "distinct1")
    // partial-evaluate TBox joins away (WebPIE-style; see [[specialize]]):
    // constant head predicates restore the engine's delta dispatch, and
    // the restriction joins run with 1–2 instance atoms instead of 3–4.
    // (Measured and rejected: folding the subclass closure into rdf:type
    // heads — it widens every chain's union without cutting rounds when a
    // recognition rule still gates the last derivation level.)
    val rules = specialize(rules1, cs.schemaClosure)
    // the saturated schema closure rides as axioms; the surviving generic
    // rules re-derive instance-level meta facts (rdf1and4 …) distributed.
    // Round 1's dispatch gets the EXACT base predicate set — known for
    // free from dataPreds + the riding axioms.
    // the riding schema closure is a hook fixpoint → round 1's delta is
    // the data slice only, with ITS exact dispatch keys (not the base's)
    Rules.closure(df, RuleSet(cs.schemaClosure.toSeq, rules),
      basePreds = cs.dataPreds, baseTypeObjs = cs.dataTypeObjs,
      axiomsSaturated = true)
  }

  def closure(df: DataFrame, expandDifferentFrom: Boolean = false,
      schemaCap: Int = 2000000): DataFrame =
    closureWith(df, compileSchema(df, schemaCap), expandDifferentFrom)

  // ---- validation (ValidityReport analog) --------------------------------

  /** One validity report row (reference: reasoner/ValidityReport.java). */
  final case class OwlViolation(severity: String, focus: Term,
      message: String, culprit: Term)

  private val primitiveBase: Map[String, String] = {
    val dec = XSD + "decimal"
    Map(
      XSD + "byte" -> dec, XSD + "short" -> dec, XSD + "int" -> dec,
      XSD + "long" -> dec, XSD + "integer" -> dec,
      XSD + "unsignedByte" -> dec, XSD + "unsignedShort" -> dec,
      XSD + "unsignedInt" -> dec, XSD + "unsignedLong" -> dec,
      XSD + "nonNegativeInteger" -> dec, XSD + "nonPositiveInteger" -> dec,
      XSD + "positiveInteger" -> dec, XSD + "negativeInteger" -> dec,
      dec -> dec)
  }

  /** Is literal `v` an acceptable member of datatype `d`'s value space
   * (lenient lexical check — numeric ladder folded to xsd:decimal)? */
  private def dtypeOk(value: Term, d: Term): Boolean = {
    if (!value.isLiteral) return false
    if (d == tLiteralClass) return true
    val vd = if (value.dt.isEmpty) Term.XSD_STRING else value.dt
    if (vd == d.lex) return true
    (primitiveBase.get(vd), primitiveBase.get(d.lex)) match {
      case (Some(a), Some(b)) => a == b
      case _ => false
    }
  }

  /** Canonical VALUE key for a literal — numeric-ladder literals compare
   * numerically ("1"^^xsd:int ≡ "01"^^xsd:integer ≡ 1), everything else
   * by (effective datatype, lang, lexical form): the sameValueAs
   * discipline the reference's countLiteralValues applies, so validation
   * never calls value-equal literals "provably distinct". */
  private def litValueKey(t: Term): AnyRef = {
    val eff = if (t.dt.isEmpty) Term.XSD_STRING else t.dt
    if (Rules.xsdDecimalLadder(eff))
      scala.util.Try(BigDecimal(t.lex.trim)).toOption
        .map(_.underlying.stripTrailingZeros.toPlainString)
        .getOrElse((eff, t.lang, t.lex))
    else (eff, t.lang, t.lex)
  }

  /** Are two terms PROVABLY distinct under micro semantics (explicit
   * owl:differentFrom, or literals with different values)? */
  private def provablyDiff(different: Set[(Term, Term)])(a: Term, b: Term): Boolean =
    different((a, b)) || different((b, a)) ||
      (a.isLiteral && b.isLiteral && litValueKey(a) != litValueKey(b))

  /**
   * Validity report over a document-sized graph: OWL-micro's validation
   * rule block (owl-fb-micro.rules [validation*]) restated as direct
   * checks over the closure, plus the max-cardinality count check the
   * reference reserves for mini/full — counting only PROVABLY-distinct
   * values (explicit owl:differentFrom, or literals with different
   * VALUES — "1" vs "01"^^xsd:int is one value), since micro does no
   * equality reasoning.
   */
  def validateLocal(data: Seq[Triple]): Seq[OwlViolation] = {
    val closure = closureLocal(data)
    val out = mutable.Buffer[OwlViolation]()
    def err(f: Term, m: String, culprit: Term = null): Unit =
      out += OwlViolation("error", f, m, Option(culprit).getOrElse(f))
    def warn(f: Term, m: String, culprit: Term = null): Unit =
      out += OwlViolation("warn", f, m, Option(culprit).getOrElse(f))

    val byP = closure.groupBy(_.p)
    def pairs(p: Term): Seq[(Term, Term)] =
      byP.getOrElse(p, Set.empty).toSeq.map(t => (t.s, t.o))
    val types = pairs(tType).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val disjoint = pairs(tDisjointWith)
    val subClass = pairs(tSubClassOf).toSet
    val different = pairs(tDifferentFrom).toSet
    val sameAs = pairs(tSameAs).toSet
    val ranges = pairs(tRange)
    val domains = pairs(tDomain)
    val diff = provablyDiff(different) _
    val equivNothing = pairs(tEquivClass).filter(_._2 == tNothing).map(_._1) ++
      pairs(tEquivClass).filter(_._1 == tNothing).map(_._2)
    def instOf(cls: Term): Seq[Term] =
      types.collect { case (x, ts) if ts(cls) => x }.toSeq
    def stmts(p: Term): Seq[(Term, Term)] = pairs(p)

    // [validationIndiv2] individual in two disjoint classes
    disjoint.foreach { case (cx, cy) =>
      instOf(cx).foreach { i =>
        if (types.getOrElse(i, Set.empty)(cy) && !i.isLiteral)
          err(i, s"individual a member of disjoint classes", cy)
      }
    }
    // [validationIndiv3] member of Nothing
    instOf(tNothing).foreach(i => err(i, "individual a member of owl:Nothing"))
    // [validationIndiv] differentFrom ∧ sameAs
    different.foreach { case (x, y) =>
      if (sameAs((x, y))) err(x, "individuals both sameAs and differentFrom", y)
    }
    // [validationDTP] object value for a DatatypeProperty
    instOf(tDatatypeProp).foreach { p =>
      stmts(p).foreach { case (x, value) =>
        if (!value.isLiteral && !value.isBNode)
          err(x, s"object value for datatype property ${p.lex}", value)
      }
    }
    // [validationOP] literal value for an ObjectProperty
    instOf(tObjectProp).foreach { p =>
      stmts(p).foreach { case (x, value) =>
        if (value.isLiteral) warn(x, s"literal value for object property ${p.lex}", value)
      }
    }
    // [validationDTRange] literal value incompatible with a datatype range
    ranges.foreach { case (p, r) =>
      val isDt = types.getOrElse(r, Set.empty)(tDatatypeClass) || r == tLiteralClass
      if (isDt && !schemaPreds(p.lex) && p != tType)
        stmts(p).foreach { case (x, value) =>
          if (!value.isBNode && !dtypeOk(value, r))
            err(x, s"value incompatible with datatype range of ${p.lex}", value)
        }
    }
    // [validationAllFrom] literal value incompatible with all(P, datatype)
    pairs(tOnProperty).foreach { case (r, p) =>
      pairs(tAllValues).filter(_._1 == r).map(_._2).foreach { d =>
        val isDt = types.getOrElse(d, Set.empty)(tDatatypeClass) || d == tLiteralClass
        if (isDt) instOf(r).foreach { x =>
          stmts(p).filter(_._1 == x).foreach { case (_, value) =>
            if (!value.isBNode && !dtypeOk(value, d))
              err(x, s"value incompatible with allValuesFrom datatype on ${p.lex}", value)
          }
        }
      }
      // max-cardinality count check over provably-distinct values
      val maxes = (pairs(tMaxCard) ++ pairs(tCard)).filter(_._1 == r)
        .flatMap(x => cardValue(x._2))
      maxes.foreach { n =>
        instOf(r).foreach { x =>
          val vals = stmts(p).filter(_._1 == x).map(_._2).distinct
          // largest pairwise-provably-distinct subset (vals are few;
          // guarded exact search)
          def maxClique(rem: List[Term], cur: List[Term]): Int = rem match {
            case Nil => cur.size
            case h :: t =>
              val withH = if (cur.forall(diff(h, _)))
                maxClique(t, h :: cur) else 0
              math.max(withH, maxClique(t, cur))
          }
          // above the exact-search bound, the count of distinct literal
          // VALUES is still a sound lower bound on the provably-distinct
          // clique (distinct-value literals are pairwise provably
          // different) — no silent validation cliff past the bound. 18
          // caps the exact branch-2 search at ~2^18 ≈ 262k calls per
          // (instance, restriction); 24 would allow 2^24 ≈ 17M — a
          // driver stall multiplied across instances
          val k =
            if (vals.size > 18)
              vals.filter(_.isLiteral).map(litValueKey).distinct.size
            else maxClique(vals.toList, Nil)
          if (BigInt(k) > n)
            err(x, s"too many provably-distinct values for max-$n property ${p.lex}", p)
        }
      }
      // [validationDomainMax0] C ⊑ max(P,0) ∧ P domain C → schema-level
      // inconsistency: no individual can ever carry P
      if (maxes.contains(BigInt(0))) {
        val below = subClass.collect { case (cc2, rr) if rr == r => cc2 } + r
        domains.foreach { case (p2, cdom) =>
          if (p2 == p && below(cdom))
            err(p, "inconsistent property definition: domain has a " +
              "max-0 restriction for the property", cdom)
        }
      }
    }
    // [validationOneOf] x ∈ C, C owl:oneOf [..], x not an enumerated
    // individual → possible violation (warn — aliasing may explain it)
    val firstM = pairs(tFirst).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val restM = pairs(tRest).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    pairs(Term.iri(OWL + "oneOf")).foreach { case (cc, l) =>
      val ms = listMembers(l, firstM, restM).toSet
      instOf(cc).foreach { x =>
        if (!x.isBNode && !ms(x))
          warn(x, "possible oneOf violation: deduced member of an " +
            "enumerated class but not one of the enumerations", cc)
      }
    }
    // [validationIndiv via functional]: functional property with provably
    // distinct values (mini/full completeness, documented)
    instOf(tFunctional).foreach { p =>
      stmts(p).groupBy(_._1).foreach { case (x, vs) =>
        val values = vs.map(_._2).distinct
        val clash = values.combinations(2).exists { case Seq(a, b) => diff(a, b) }
        if (clash) err(x, s"functional property ${p.lex} with distinct values", p)
      }
    }
    // [validationDisjoint] X disjointWith Y ∧ X ⊑ Y
    disjoint.foreach { case (x, y) =>
      if (subClass((x, y)))
        warn(x, "class related by both subclass and disjointWith", y)
    }
    // [validationDisjoint2] C ⊑ X ∧ C ⊑ Y ∧ X disjointWith Y, C ≠ Nothing
    disjoint.foreach { case (x, y) =>
      subClass.foreach { case (cc, sup) =>
        if (sup == x && cc != tNothing && cc != x && subClass((cc, y)))
          warn(cc, "subclass of two disjoint classes", x)
      }
    }
    // [validationNothing] C ≡ Nothing, C ≠ Nothing
    equivNothing.distinct.foreach { cc =>
      if (cc != tNothing)
        warn(cc, "class cannot be instantiated (equivalent to owl:Nothing)")
    }
    // [validationRangeNothing]
    ranges.foreach { case (p, r) =>
      if (r == tNothing) warn(p, "property cannot be instantiated (range owl:Nothing)")
    }
    out.toSeq.distinct
  }

  /** Is the graph consistent (no error-severity reports)? */
  def isValidLocal(data: Seq[Triple]): Boolean =
    !validateLocal(data).exists(_.severity == "error")

  /**
   * Instance-level OWL validation over one huge KG: the error checks that
   * scale with the ABox (disjointness membership, Nothing membership,
   * datatype-property object values, datatype-range clashes) as
   * DataFrame joins against the driver-compiled schema. Schema-level
   * warnings are driver-sized and come from [[validateLocal]] on the
   * schema slice.
   */
  def validate(df: DataFrame, schemaCap: Int = 2000000): DataFrame = {
    import org.apache.spark.sql.Encoders
    val spark = df.sparkSession
    import spark.implicits._
    // ONE schema compile (predicate-seeded, cap-respecting) drives both
    // the closure run and the driver-sized check tables — recompiling
    // separately here once produced a weaker schema than the closure's
    val cs = compileSchema(df, schemaCap)
    val schemaClosure = cs.schemaClosure
    val closed = closureWith(df, cs, expandDifferentFrom = false)
      .localCheckpoint(true)
    val types = closed.where(col("p.lex") === tType.lex)
      .select(col("s").as("inst"), col("o").as("cls"))

    // disjoint pairs / datatype props / datatype ranges are schema-sized:
    // ship them as broadcast literal frames
    val disjointPairs = schemaClosure.toSeq
      .filter(_.p == tDisjointWith).map(t => (t.s, t.o))
    val dtProps = schemaClosure.toSeq
      .filter(t => t.p == tType && t.o == tDatatypeProp).map(_.s.lex).distinct
    val dtRanges = schemaClosure.toSeq.filter(t => t.p == tRange &&
        (t.o == tLiteralClass ||
          schemaClosure.contains(Triple(t.o, tType, tDatatypeClass))))
      .map(t => (t.s.lex, t.o.lex)).distinct

    val nothingV = types.where(col("cls.lex") === tNothing.lex)
      .select(lit("error").as("severity"), col("inst").as("focus"),
        lit("individual a member of owl:Nothing").as("message"))

    val disjDf = spark.createDataset(disjointPairs)(
      Encoders.tuple(Encoders.product[Term], Encoders.product[Term]))
      .toDF("c1", "c2")
    // literal-subject type rows are skipped, mirroring validateLocal's
    // !i.isLiteral guard in the disjointness check (face parity)
    val disjV = types.where(col("inst.kind") =!= Term.KIND_LIT)
      .join(broadcast(disjDf), col("cls") === col("c1"))
      .select(col("inst"), col("c2"))
      .join(types.select(col("inst").as("i2"), col("cls").as("k2")),
        col("inst") === col("i2") && col("c2") === col("k2"), "left_semi")
      .select(lit("error").as("severity"), col("inst").as("focus"),
        lit("individual a member of disjoint classes").as("message"))

    val emptyV = nothingV.limit(0)
    // over the CLOSURE, not the raw input: a value copied onto a datatype
    // property through a subPropertyOf chain must be flagged too (parity
    // with validateLocal)
    val dtpV =
      if (dtProps.isEmpty) emptyV
      else closed.where(col("p.lex").isin(dtProps: _*) &&
          col("o.kind") =!= Term.KIND_LIT && col("o.kind") =!= Term.KIND_BNODE)
        .select(lit("error").as("severity"), col("s").as("focus"),
          lit("object value for a datatype property").as("message"))

    // [validationDTRange] — literal (or IRI) value incompatible with a
    // datatype range. Acceptable-datatype sets are computed driver-side
    // per property (numeric ladder folded to xsd:decimal, exactly
    // [[dtypeOk]]; rdfs:Literal = any literal → null set) and shipped as
    // one broadcast lookup; multiple ranges intersect (a value must
    // satisfy every declared datatype range, as the local face errs per
    // failing range). Runs over the CLOSURE so values copied through
    // subPropertyOf chains are checked too, mirroring validateLocal.
    def acceptSet(d: String): Option[Set[String]] =
      if (d == tLiteralClass.lex) None
      else if (primitiveBase.contains(d)) Some(primitiveBase.keySet)
      else Some(Set(d))
    val accRows: Seq[(String, Seq[String])] = dtRanges
      .filterNot { case (p, _) => schemaPreds(p) || p == tType.lex }
      .groupBy(_._1).toSeq.map { case (p, rs) =>
        val acc = rs.map(r => acceptSet(r._2)).reduce[Option[Set[String]]] {
          case (None, b) => b
          case (a, None) => a
          case (Some(a), Some(b)) => Some(a intersect b)
        }
        (p, acc.map(_.toSeq.sorted).orNull)
      }
    val dtrV =
      if (accRows.isEmpty) emptyV
      else {
        val accDf = accRows.toDF("rp", "acc")
        val effDt = when(col("o.dt") === "", lit(Term.XSD_STRING))
          .otherwise(col("o.dt"))
        closed.join(broadcast(accDf), col("p.lex") === col("rp"))
          .where(col("o.kind") =!= Term.KIND_BNODE &&
            (col("o.kind") =!= Term.KIND_LIT ||
              (col("acc").isNotNull && !array_contains(col("acc"), effDt))))
          .select(lit("error").as("severity"), col("s").as("focus"),
            lit("value incompatible with a datatype range").as("message"))
      }

    nothingV.unionByName(disjV).unionByName(dtpV).unionByName(dtrV)
      .dropDuplicates("severity", "focus", "message")
  }

  // ---- owl:sameAs canonicalization (opt-in) -------------------------------

  private val SameAsLex = "http://www.w3.org/2002/07/owl#sameAs"

  /**
   * owl:sameAs individual-equality canonicalization — the WebPIE-style
   * pass OWLMicro deliberately excludes (the reference's OWLMicro rule
   * set omits sameAs substitution for the same scalability reason,
   * jena-core/.../reasoner/rulesys/etc/owl-fb-micro.rules), offered here
   * as an EXPLICIT opt-in because large-KG users ask for it.
   *
   * sameAs edges (IRI/bnode endpoints; sameAs between literals is
   * ignored) form components via the existing connected-components
   * machinery; every subject and object is rewritten to its component's
   * canonical member — the minimum term with IRIs ordered before bnodes,
   * so a component containing any IRI canonicalizes to an IRI. The
   * original sameAs triples are dropped; `keepMapping` appends one
   * (canonical, owl:sameAs, member) triple per non-canonical member so
   * original identifiers stay reachable.
   *
   * Scale shape: the component map is sameAs-sized (≪ corpus); the
   * rewrite is two equi-joins on an 8+lex-byte key (AQE broadcasts small
   * maps), then one set-dedup — the standard sameAs-canonicalization
   * plan at 100 TB. Predicate positions are NOT rewritten (sameAs over
   * properties is owl:equivalentProperty's job, handled by the rule
   * engine).
   */
  def canonicalize(triples: DataFrame, keepMapping: Boolean = false): DataFrame = {
    // node key: kind digit + lex — IRIs (kind 0) sort before bnodes
    // (kind 1), so min-key canonicalization prefers IRIs; dt/lang are
    // empty for both kinds, so the key is lossless and decodable
    def key(c: org.apache.spark.sql.Column) =
      concat(graft.algebra.TermCols.kind(c).cast("string"), lit("|"),
        graft.algebra.TermCols.lex(c))
    def decodeKey(k: org.apache.spark.sql.Column) =
      graft.algebra.TermCols.mk(substring(k, 1, 1).cast("byte"),
        substring(k, 3, Int.MaxValue), lit(""), lit(""))
    val isSameAs = graft.algebra.TermCols.isIri(col("p")) &&
      graft.algebra.TermCols.lex(col("p")) === SameAsLex
    val nodeOk = (c: String) =>
      col(s"$c.kind").isin(Term.KIND_IRI.toInt, Term.KIND_BNODE.toInt)
    val edges = triples.filter(isSameAs && nodeOk("s") && nodeOk("o"))
      .select(key(col("s")).as("src"), key(col("o")).as("dst"))
    val comp = graft.canon.ConnectedComponents.runAdaptive(edges)
      .where(col("node") =!= col("component")) // identity rewrites are no-ops
      .localCheckpoint(true)
    val rest = triples.filter(!isSameAs).select("s", "p", "o")
    def rewrite(df: DataFrame, slot: String): DataFrame = {
      val m = comp.select(col("node").as(s"__n_$slot"),
        col("component").as(s"__c_$slot"))
      df.join(m, key(col(slot)) === col(s"__n_$slot"), "left_outer")
        .withColumn(slot, when(col(s"__c_$slot").isNotNull,
          decodeKey(col(s"__c_$slot"))).otherwise(col(slot)))
        .drop(s"__n_$slot", s"__c_$slot")
    }
    val rewritten = rewrite(rewrite(rest, "s"), "o")
      .dropDuplicates("s", "p", "o")
    if (!keepMapping) rewritten
    else rewritten.unionByName(comp.select(
      decodeKey(col("component")).as("s"),
      graft.algebra.TermCols.const(Term.iri(SameAsLex)).as("p"),
      decodeKey(col("node")).as("o"))).dropDuplicates("s", "p", "o")
  }
}
