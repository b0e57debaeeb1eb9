package graft.reason

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{Term, Triple}
import graft.ops.Fixpoint

/**
 * Generic forward-chaining rule engine — the Spark-native answer to the
 * reference's GenericRuleReasoner forward machinery (rule language:
 * jena-core/.../reasoner/rulesys/Rule.java parser; forward engines
 * FRuleEngine.java / RETEEngine.java). A RETE network is the wrong shape
 * for a columnar engine: what RETE buys (incremental alpha/beta memories)
 * Spark gets from SEMI-NAIVE DELTA ITERATION — each round joins only the
 * newly-derived triples against the accumulated closure, so work is
 * proportional to the delta exactly like a RETE token propagation, but
 * set-at-a-time and shuffle-partitioned.
 *
 * Two faces, mirroring shacl.{Validator, DfShacl}:
 *  - [[closureLocal]]: pure per-graph engine for document-sized KGs
 *    (usable inside mapPartitions; gated on the reference's own RDFS
 *    reasoner manifest fixtures).
 *  - [[closure]]: DataFrame semi-naive evaluation for one huge KG — each
 *    rule compiles to equi-join chains over (delta, full) frames with the
 *    delta rotated through every body position.
 *
 * Language subset: forward rules `[name: body -> head]` with triple
 * patterns, the guard builtins notEqual/equal, and ground axioms
 * `-> (s p o)`. Backward rules (`<-`), functors, and the imperative
 * builtins (makeTemp, remove, …) are rejected loudly — they assume a
 * tuple-at-a-time engine and are out of scope (SURVEY §2.12).
 */
object Rules {

  // ---- rule AST ------------------------------------------------------

  sealed trait RTerm
  final case class RVar(name: String) extends RTerm
  final case class RConst(t: Term) extends RTerm

  final case class Atom(s: RTerm, p: RTerm, o: RTerm)
  /** Guard builtin over body bindings: notEqual/equal (the text-rule
   * subset) plus isDType(value, datatype) — emitted only by the OWL
   * schema compile for datatype someValuesFrom recognition (the
   * reference's someRec2b, rulesys/builtins/IsDType.java). */
  final case class Guard(fn: String, args: Seq[RTerm])

  /** XSD numeric subtype hierarchy (child → parent), the decimal branch
   * (XML Schema Part 2 §3.3). Drives [[dtypeAccepted]]; the flat key set
   * [[xsdDecimalLadder]] also marks which datatypes share the decimal
   * VALUE space (used by the OWL validator's value-equality folding). */
  private val xsdParent: Map[String, String] = {
    def x(n: String) = Term.XSD + n
    Map(
      x("integer") -> x("decimal"),
      x("long") -> x("integer"), x("int") -> x("long"),
      x("short") -> x("int"), x("byte") -> x("short"),
      x("nonPositiveInteger") -> x("integer"),
      x("negativeInteger") -> x("nonPositiveInteger"),
      x("nonNegativeInteger") -> x("integer"),
      x("positiveInteger") -> x("nonNegativeInteger"),
      x("unsignedLong") -> x("nonNegativeInteger"),
      x("unsignedInt") -> x("unsignedLong"),
      x("unsignedShort") -> x("unsignedInt"),
      x("unsignedByte") -> x("unsignedShort"))
  }

  /** The numeric datatypes sharing the xsd:decimal value space. */
  private[reason] val xsdDecimalLadder: Set[String] =
    xsdParent.keySet + (Term.XSD + "decimal")

  private lazy val xsdDescendants: Map[String, Set[String]] = {
    def anc(t: String): Set[String] =
      xsdParent.get(t).map(p => anc(p) + p).getOrElse(Set.empty)
    xsdDecimalLadder.iterator
      .map(d => d -> xsdDecimalLadder.filter(t => t == d || anc(t)(d)))
      .toMap
  }

  /** Datatypes whose literals satisfy isDType(_, d); None = any literal
   * (rdfs:Literal). Membership is by DECLARED SUBTYPE only — "5"^^xsd:int
   * IS an xsd:integer, but "5.5"^^xsd:decimal is NOT (decimal ⊄ integer;
   * the symmetric fold would be unsound). Cross-branch value promotion
   * (a decimal-typed whole number as xsd:integer) is not recognized —
   * documented divergence from the reference's per-value isValidLiteral,
   * incomplete but never unsound for classification. */
  private[reason] def dtypeAccepted(dLex: String): Option[Set[String]] =
    if (dLex == "http://www.w3.org/2000/01/rdf-schema#Literal") None
    else Some(xsdDescendants.getOrElse(dLex, Set(dLex)))
  final case class Rule(name: String, body: Seq[Atom], guards: Seq[Guard],
      heads: Seq[Atom])

  final case class RuleSet(axioms: Seq[Triple], rules: Seq[Rule])

  // ---- full rule language (FB-hybrid — consumed by reason.Lp) ---------

  /** Rule in the FULL Jena-rule-language subset (reference grammar:
   * jena-core/.../reasoner/rulesys/Rule.java:640–780): body items kept in
   * SOURCE ORDER (bound/unbound guards are position-sensitive under a
   * backward engine), triple-pattern heads, nested backward-rule heads
   * (the FB-hybrid "rule-generating rule" form, e.g. etc/
   * rdfs-fb-lp-expt.rules `[rdfs6: … -> [(?a ?q ?b) <- (?a ?p ?b)]]`),
   * and a direction flag (`body -> heads` vs `head <- body`). */
  final case class LpRule(name: String, body: Seq[Either[Atom, Guard]],
      headTriples: Seq[Atom], headRules: Seq[LpRule], backward: Boolean) {
    def bodyAtoms: Seq[Atom] = body.collect { case Left(a) => a }
    def bodyGuards: Seq[Guard] = body.collect { case Right(g) => g }
  }

  /** Full-language rule file: ground axioms, rules (both directions),
   * and `-> table(p).` goal-table directives (parsed for fidelity; the
   * Lp engine tables every goal, so they carry no extra semantics). */
  final case class LpRuleSet(axioms: Seq[Triple], rules: Seq[LpRule],
      tabled: Seq[Term])

  // ---- parser (Jena rule text) ----------------------------------------

  private val defaultPrefixes = Map(
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "owl" -> "http://www.w3.org/2002/07/owl#",
    "xsd" -> "http://www.w3.org/2001/XMLSchema#")

  private val guardFns = Set("notEqual", "equal")
  /** Extra pure builtins accepted in full (hybrid) mode. */
  private val guardFnsFull =
    guardFns ++ Set("bound", "unbound", "notLiteral", "isLiteral")

  /** Parse Jena rule-file text (comments, @prefix, axioms, [name: …]) —
   * forward subset only: backward rules, nested rule heads, and
   * builtins beyond notEqual/equal are rejected loudly, preserving the
   * contract of the forward faces ([[closureLocal]]/[[closure]]). */
  def parse(text: String): RuleSet = {
    val full = parseImpl(text, full = false)
    RuleSet(full.axioms, full.rules.map(r =>
      Rule(r.name, r.bodyAtoms, r.bodyGuards, r.headTriples)))
  }

  /** Parse the full FB-hybrid language (forward + backward + nested rule
   * heads + table directives) — consumed by [[graft.reason.Lp]]. */
  def parseFull(text: String): LpRuleSet = parseImpl(text, full = true)

  private def parseImpl(text: String, full: Boolean): LpRuleSet = {
    val prefixes = mutable.Map[String, String]() ++= defaultPrefixes
    val axioms = mutable.Buffer[Triple]()
    val rules = mutable.Buffer[LpRule]()
    val tabled = mutable.Buffer[Term]()

    // comments (# and // to end of line) are consumed by the tokenizer —
    // NOT pre-stripped, since both '#' and '//' legally occur inside
    // <IRI> tokens (which indexOf('>') scans atomically)
    val clean = text

    var pos = 0
    def ws(): Unit = {
      var moved = true
      while (moved) {
        moved = false
        while (pos < clean.length && clean(pos).isWhitespace) { pos += 1; moved = true }
        if (pos < clean.length &&
            (clean(pos) == '#' || clean.startsWith("//", pos))) {
          while (pos < clean.length && clean(pos) != '\n') pos += 1
          moved = true
        }
      }
    }
    def peek: Char = if (pos < clean.length) clean(pos) else '\u0000'
    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"rule parse: $msg at …${clean.slice(pos, pos + 40)}…")
    def eat(c: Char): Unit = { ws(); if (peek != c) fail(s"expected '$c'"); pos += 1 }
    def tryEat(s: String): Boolean = {
      ws()
      if (clean.startsWith(s, pos)) { pos += s.length; true } else false
    }
    def ident(): String = {
      ws()
      val start = pos
      while (pos < clean.length &&
        (clean(pos).isLetterOrDigit || "_-.".contains(clean(pos)))) pos += 1
      if (pos == start) fail("expected identifier")
      clean.substring(start, pos)
    }
    def term(): RTerm = {
      ws()
      peek match {
        case '?' =>
          pos += 1
          val n = ident()
          // '__' prefixes the engines' marker columns (__m/__as/…): a
          // user var named __x would be dropped from DataFrame join keys
          // and silently cross-join instead of unifying
          if (n.startsWith("__")) fail(
            s"variable name ?$n is reserved (names starting with __ " +
              "collide with engine marker columns)")
          RVar(n)
        case '<' =>
          pos += 1
          val end = clean.indexOf('>', pos)
          if (end < 0) fail("unterminated IRI")
          val iri = clean.substring(pos, end); pos = end + 1
          RConst(Term.iri(iri))
        case '\'' | '"' =>
          val q = peek; pos += 1
          val sb = new StringBuilder
          while (peek != q && pos < clean.length) {
            if (peek == '\\') {
              // decode escapes like the reference's rule tokenizer (and
              // the N-Triples data the rules match against) — appending
              // the raw char would read 'a\nb' as "anb"
              pos += 1
              if (pos >= clean.length) fail("dangling \\ in literal")
              clean(pos) match {
                case 'n' => sb.append('\n'); pos += 1
                case 't' => sb.append('\t'); pos += 1
                case 'r' => sb.append('\r'); pos += 1
                case 'b' => sb.append('\b'); pos += 1
                case 'f' => sb.append('\f'); pos += 1
                case 'u' =>
                  if (pos + 4 >= clean.length) fail("truncated \\u escape")
                  val hex = clean.substring(pos + 1, pos + 5)
                  val cp = try Integer.parseInt(hex, 16)
                    catch { case _: NumberFormatException =>
                      fail(s"bad \\u escape '\\u$hex'") }
                  sb.append(cp.toChar); pos += 5
                case c => sb.append(c); pos += 1 // \\, \', \" and friends
              }
            }
            else { sb.append(peek); pos += 1 }
          }
          eat(q)
          if (tryEat("^^")) {
            val dt = term() match {
              case RConst(t) => t.lex
              case _ => fail("datatype must be an IRI")
            }
            RConst(Term.lit(sb.toString, dt))
          } else RConst(Term.string(sb.toString))
        case c if c.isDigit || c == '-' || c == '+' =>
          val start = pos
          pos += 1
          while (pos < clean.length && (clean(pos).isDigit || clean(pos) == '.')) pos += 1
          val lex = clean.substring(start, pos)
          RConst(Term.lit(lex,
            if (lex.contains('.')) Term.XSD_DECIMAL else Term.XSD_INTEGER))
        case _ =>
          val pre = ident()
          // `pre:local` is a prefixed name; a bare word is a relative
          // URI, as the reference's rule parser reads it (the reasoner
          // unit tests write nodes as plain `p`, `a`, …)
          if (peek == ':') {
            pos += 1
            val local = ident()
            val ns = prefixes.getOrElse(pre, fail(s"unknown prefix '$pre'"))
            RConst(Term.iri(ns + local))
          } else if (peek == '(') fail(
            s"functor term '$pre(…)' is not supported — functors are a " +
              "tuple-at-a-time construct (SURVEY §2.12); supported term " +
              "forms: ?var, <iri>, pre:local, bare word, literal. " +
              "Supported guard builtins: " + guardFnsFull.toSeq.sorted.mkString("/"))
          else RConst(Term.iri(pre))
      }
    }
    def atomOrGuard(): Either[Atom, Guard] = {
      ws()
      if (peek == '(') {
        pos += 1
        val s = term(); val p = term(); val o = term()
        eat(')')
        Left(Atom(s, p, o))
      } else {
        val fn = ident()
        val allowed =
          if (full) guardFnsFull ++ Set("table", "tableAll") else guardFns
        if (!allowed.contains(fn)) fail(
          if (full)
            s"builtin '$fn' is not supported (hybrid subset: " +
              s"${(guardFnsFull ++ Set("table", "tableAll")).toSeq.sorted.mkString("/")})"
          else s"builtin '$fn' is not supported (forward subset: ${guardFns.mkString("/")})")
        eat('(')
        val args = mutable.Buffer[RTerm]()
        ws()
        if (peek != ')') {
          args += term()
          while (tryEat(",")) args += term()
          // Jena also allows space-separated args
          ws()
          while (peek != ')') { args += term(); ws() }
        }
        eat(')')
        // arity check at PARSE time: a mis-arity guard would otherwise
        // surface as an IndexOutOfBounds deep inside evaluation, with no
        // rule context (bound/unbound/table take any count)
        val arity: Map[String, Int] = Map("notEqual" -> 2, "equal" -> 2,
          "lessThan" -> 2, "notLiteral" -> 1, "isLiteral" -> 1)
        arity.get(fn).foreach(n => if (args.size != n)
          fail(s"builtin '$fn' takes $n argument(s), got ${args.size}"))
        Right(Guard(fn, args.toSeq))
      }
    }
    def ground(a: Atom): Triple = (a.s, a.p, a.o) match {
      case (RConst(s), RConst(p), RConst(o)) => Triple(s, p, o)
      case _ => fail("axiom must be ground")
    }

    var ruleCount = 0

    def varsOf(items: Seq[Either[Atom, Guard]]): Set[String] =
      items.collect { case Left(a) => a }.flatMap(a => Seq(a.s, a.p, a.o))
        .collect { case RVar(v) => v }.toSet

    /** FORWARD heads must be bound by the body (no makeSkolem/makeTemp);
     * a NESTED rule's head may also use vars bound by its enclosing
     * forward body (the FB instantiation closes over them). BACKWARD
     * rule heads are exempt: the GOAL may bind the remaining vars at
     * call time (TestBasicLP testBaseRules7/testTabled7 rely on this);
     * derivations whose head vars stay unbound are dropped by the
     * engine (the reference would emit a generalized triple there — a
     * documented divergence with no effect on ground queries). */
    def checkHeadVars(r: LpRule, outer: Set[String]): Unit = {
      val bound = varsOf(r.body) ++ outer
      val headVars = r.headTriples.flatMap(a => Seq(a.s, a.p, a.o)).collect {
        case RVar(v) => v }
      if (!r.backward) {
        headVars.find(!bound.contains(_)).foreach(v => fail(
          s"rule '${r.name}': head variable ?$v is not bound by the body"))
        // value-guard args must be body-bound in FORWARD rules — the
        // engines would crash resolving the var mid-derivation. Backward
        // rules are exempt: bound/unbound guards exist to TEST boundness
        // and value guards fail silently on unbound args (Lp semantics).
        r.body.collect { case Right(g) => g }
          .flatMap(_.args).collect { case RVar(v) => v }
          .find(!bound.contains(_)).foreach(v => fail(
            s"rule '${r.name}': guard variable ?$v is not bound by the body"))
      }
      r.headRules.foreach(checkHeadVars(_, bound))
    }

    /** One rule, after its '[' (bracketed) or at a bare-rule start. */
    def parseRule(bracketed: Boolean): LpRule = {
      ruleCount += 1
      // optional label:  name:
      val save = pos
      val name =
        try {
          val n = ident()
          ws()
          if (peek == ':') { pos += 1; n }
          else { pos = save; s"rule$ruleCount" }
        } catch { case _: IllegalArgumentException =>
          pos = save; s"rule$ruleCount" }
      val lhs = mutable.Buffer[Either[Atom, Guard]]()
      ws()
      while (!clean.startsWith("->", pos) && !clean.startsWith("<-", pos)) {
        lhs += atomOrGuard()
        tryEat(",")
        ws()
      }
      val backward = tryEat("<-")
      if (backward && !full) fail(
        s"backward rule '$name' — this is the FORWARD-only parser " +
          "(Rules.parse); backward/hybrid rules run through " +
          "Rules.parseFull + the goal-directed engine (graft.reason.Lp)")
      if (!backward) { eat('-'); eat('>') }
      def atEnd(): Boolean = {
        ws()
        if (bracketed) peek == ']'
        else pos >= clean.length || peek == '.' || peek == '[' || peek == '@'
      }
      val r =
        if (backward) {
          // backward syntax: head <- ordered body
          val heads = lhs.map {
            case Left(a) => a
            case Right(_) =>
              fail(s"rule '$name': backward rule head must be a triple pattern")
          }
          if (heads.size != 1) fail(
            s"rule '$name': a backward rule must have exactly one head pattern")
          val body = mutable.Buffer[Either[Atom, Guard]]()
          while (!atEnd()) {
            body += atomOrGuard()
            tryEat(",")
          }
          if (bracketed) eat(']') else tryEat(".")
          LpRule(name, body.toSeq, Seq(heads.head), Nil, backward = true)
        } else {
          val headTriples = mutable.Buffer[Atom]()
          val headRules = mutable.Buffer[LpRule]()
          while (!atEnd()) {
            ws()
            if (peek == '[') {
              if (!full) fail(
                "nested rule heads are not supported (forward subset, §2.12)")
              pos += 1
              headRules += parseRule(bracketed = true)
            } else atomOrGuard() match {
              case Left(a) => headTriples += a
              // Jena also writes table directives as bracketed axiom
              // rules: [-> table(p)]
              case Right(Guard("table", args)) if full =>
                args.foreach {
                  case RConst(t) => tabled += t
                  case RVar(v) => fail(s"table(?$v): argument must be a constant")
                }
              case Right(Guard("tableAll", _)) if full => ()
              case Right(_) => fail("builtins in rule heads are not supported")
            }
            tryEat(",")
          }
          if (bracketed) eat(']') else tryEat(".")
          LpRule(name, lhs.toSeq, headTriples.toSeq, headRules.toSeq,
            backward = false)
        }
      r
    }

    def addRule(r: LpRule): Unit =
      if (!r.backward && r.body.isEmpty && r.headRules.isEmpty)
        r.headTriples.foreach(a => axioms += ground(a))
      else { checkHeadVars(r, Set.empty); rules += r }

    ws()
    while (pos < clean.length) {
      if (tryEat("@prefix")) {
        val pre = ident(); eat(':')
        ws(); eat('<')
        val end = clean.indexOf('>', pos)
        if (end < 0) fail("unterminated IRI in @prefix")
        prefixes(pre) = clean.substring(pos, end); pos = end + 1
        tryEat(".")
      } else if (tryEat("@include")) {
        fail("@include is not supported — inline the included file")
      } else if (tryEat("->")) {
        // axiom: -> (s p o) [, (s p o)…] .   (full mode also accepts the
        // goal-table directives -> table(p). / -> tableAll().)
        var more = true
        while (more) {
          atomOrGuard() match {
            case Left(a) => axioms += ground(a)
            case Right(Guard("table", args)) if full =>
              args.foreach {
                case RConst(t) => tabled += t
                case RVar(v) => fail(s"table(?$v): argument must be a constant")
              }
            case Right(Guard("tableAll", _)) if full =>
              () // universal tabling is the Lp engine's default
            case Right(_) => fail("axiom cannot be a builtin")
          }
          more = tryEat(",")
        }
        tryEat(".")
      } else if (tryEat("[")) {
        addRule(parseRule(bracketed = true))
      } else if (full && peek == '(') {
        // bare (unbracketed) rule, '.'-terminated — TestBackchainer-style
        addRule(parseRule(bracketed = false))
      } else fail("expected @prefix, '->' axiom, or '[' rule")
      ws()
    }
    LpRuleSet(axioms.toSeq, rules.toSeq, tabled.toSeq)
  }

  // ---- local engine (document-sized graphs) ---------------------------

  /** Thrown by [[closureLocal]] when `maxFacts` is exceeded — the
   * adaptive path in [[closure]] catches it and falls back to the
   * distributed loop (a small BASE does not bound the CLOSURE: a 50k-edge
   * chain closes transitively to ~10⁹ pairs). */
  final class LocalFixpointOverflow(val facts: Long)
    extends RuntimeException(s"local fixpoint exceeded $facts facts")

  /** Join index for the local engine: hash lookups on every bound-slot
   * combination, so an n-atom body evaluates like a chain of hash joins
   * instead of |slice|×|slice| scans (the difference between ms and
   * minutes once a base reaches 10⁴ facts — the adaptive path in
   * [[closure]] hands such bases to this engine). */
  private final class TripleIndex(init: Iterable[Triple]) {
    val byP = mutable.Map[Term, mutable.Buffer[Triple]]()
    val byS = mutable.Map[Term, mutable.Buffer[Triple]]()
    val byO = mutable.Map[Term, mutable.Buffer[Triple]]()
    val byPS = mutable.Map[(Term, Term), mutable.Buffer[Triple]]()
    val byPO = mutable.Map[(Term, Term), mutable.Buffer[Triple]]()
    val allTs = mutable.Buffer[Triple]()
    init.foreach(add)
    def add(t: Triple): Unit = {
      allTs += t
      byP.getOrElseUpdate(t.p, mutable.Buffer()) += t
      byS.getOrElseUpdate(t.s, mutable.Buffer()) += t
      byO.getOrElseUpdate(t.o, mutable.Buffer()) += t
      byPS.getOrElseUpdate((t.p, t.s), mutable.Buffer()) += t
      byPO.getOrElseUpdate((t.p, t.o), mutable.Buffer()) += t
    }
    /** Narrowest slice for the given bound slots — a superset of the
     * matches; the caller still unifies each candidate. Returns the LIVE
     * bucket (no copy — lookup is the inner loop of [[closureLocal]]'s
     * expand recursion); buckets are only mutated between rounds, never
     * while a round iterates them. */
    def lookup(s: Option[Term], p: Option[Term], o: Option[Term])
        : collection.Seq[Triple] =
      ((s, p, o) match {
        case (Some(sv), Some(pv), _) => byPS.get((pv, sv))
        case (_, Some(pv), Some(ov)) => byPO.get((pv, ov))
        case (_, Some(pv), _) => byP.get(pv)
        case (Some(sv), _, _) => byS.get(sv)
        case (_, _, Some(ov)) => byO.get(ov)
        case _ => Some(allTs)
      }).getOrElse(Nil)
  }

  /** Forward closure of a small graph, pure — semi-naive over the hash
   * indexes above. Deterministic; safe inside mapPartitions. The
   * `maxFacts` cap is enforced INSIDE the derivation loop (at head-emit
   * time), not just at round boundaries — a single fan-out round over a
   * ~100k base can otherwise materialize billions of driver-side facts
   * before any boundary check runs. */

  def closureLocal(data: Seq[Triple], rs: RuleSet, maxIter: Int = 10000,
      maxFacts: Long = Long.MaxValue): Set[Triple] = {
    val all = mutable.Set[Triple]() ++= data ++= rs.axioms
    var delta: Set[Triple] = all.toSet
    val fullIdx = new TripleIndex(all)

    def boundTerm(t: RTerm, b: Map[String, Term]): Option[Term] = t match {
      case RConst(c) => Some(c)
      case RVar(n) => b.get(n)
    }
    def candidates(a: Atom, source: String, deltaIdx: TripleIndex,
        b: Map[String, Term]): collection.Seq[Triple] =
      (if (source == "delta") deltaIdx else fullIdx)
        .lookup(boundTerm(a.s, b), boundTerm(a.p, b), boundTerm(a.o, b))

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

    def guardOk(g: Guard, b: Map[String, Term]): Boolean = {
      def resolve(t: RTerm): Term = t match {
        case RConst(c) => c
        case RVar(n) => b(n)
      }
      g.fn match {
        case "notEqual" => resolve(g.args(0)) != resolve(g.args(1))
        case "equal" => resolve(g.args(0)) == resolve(g.args(1))
        case "isDType" =>
          val value = resolve(g.args(0))
          val d = resolve(g.args(1))
          value.isLiteral && {
            val eff = if (value.dt.isEmpty) Term.XSD_STRING else value.dt
            dtypeAccepted(d.lex).forall(_.contains(eff))
          }
        case "isLiteral" => resolve(g.args(0)).isLiteral
        case "notLiteral" => !resolve(g.args(0)).isLiteral
        case other => throw new IllegalArgumentException(s"builtin $other")
      }
    }
    def subst(t: RTerm, b: Map[String, Term]): Term = t match {
      case RConst(c) => c
      case RVar(n) => b(n)
    }

    var iter = 0
    while (delta.nonEmpty) {
      iter += 1
      if (iter > maxIter) throw new IllegalStateException(
        s"rule closure did not reach a fixpoint within $maxIter rounds")
      val deltaIdx = new TripleIndex(delta)
      val derived = mutable.Set[Triple]()
      rs.rules.foreach { r =>
        // semi-naive: at least one body atom must match the delta —
        // rotate the delta through each position i
        r.body.indices.foreach { i =>
          def expand(j: Int, b: Map[String, Term]): Unit =
            if (j == r.body.size) {
              if (r.guards.forall(guardOk(_, b)))
                r.heads.foreach { h =>
                  val t = Triple(subst(h.s, b), subst(h.p, b), subst(h.o, b))
                  // a derivation with a literal subject/predicate is not a
                  // legal RDF triple — dropped, matching the reference
                  if (!t.s.isLiteral && !t.p.isLiteral) {
                    derived += t
                    // in-round cap: one fan-out rule can blow past any
                    // round-boundary check before the round ends
                    if (all.size.toLong + derived.size > maxFacts)
                      throw new LocalFixpointOverflow(maxFacts)
                  }
                }
            } else {
              val src = if (j == i) "delta" else "full"
              candidates(r.body(j), src, deltaIdx, b).foreach { t =>
                matchAtom(r.body(j), t, b).foreach(expand(j + 1, _))
              }
            }
          expand(0, Map.empty)
        }
      }
      val fresh = derived.toSet -- all
      fresh.foreach { t => all += t; fullIdx.add(t) }
      if (all.size > maxFacts) throw new LocalFixpointOverflow(maxFacts)
      delta = fresh
    }
    all.toSet
  }

  /** The curated pure-forward RDFS "full" closure rule set (resource
   * graft/rdfs-full-forward.rules — the reference full config's visible
   * axioms + the W3C closure rules, backward forms restated forward).
   * Gated on the reference's own RDFS reasoner manifest (RulesSpec). */
  lazy val rdfsFullForward: RuleSet = {
    val in = getClass.getResourceAsStream("/graft/rdfs-full-forward.rules")
    require(in != null, "resource graft/rdfs-full-forward.rules missing")
    try parse(new String(in.readAllBytes(), "UTF-8")) finally in.close()
  }

  /** The reference's RDFSCMPPreprocessHook analog (rulesys/impl/
   * RDFSCMPPreprocessHook.java): rdf:_nnn container-membership predicates
   * appearing in the data are axiomatized as
   * rdfs:ContainerMembershipProperty instances so rdfs10 can fire. */
  def rdfsCmpAxioms(data: Iterable[Triple]): Seq[Triple] = {
    val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    data.iterator.map(_.p).filter { p =>
        val suffix = p.lex.drop(RDF.length + 1)
        // rdf:_1, rdf:_2, … — bare rdf:_ (empty suffix) is NOT a
        // container-membership property (forall is vacuously true)
        p.isIri && p.lex.startsWith(RDF + "_") &&
          suffix.nonEmpty && suffix.forall(_.isDigit)
      }
      .toSeq.distinct
      .map(p => Triple(p, Term.iri(RDF + "type"),
        Term.iri(RDFS + "ContainerMembershipProperty")))
  }

  // ---- DataFrame engine (one huge KG) ----------------------------------

  /** Semi-naive forward closure over a triple DataFrame (term-struct
   * columns s, p, o). Each rule × delta-position compiles to an equi-join
   * chain (constants as pushed filters, shared vars as join keys); heads
   * project back to triples; the per-round delta is the anti-join of the
   * derivations against the accumulated closure — the same discipline
   * (and the same lineage-checkpoint cadence) as Graphs.transitiveClosure.
   * Like every fixpoint it plans in [[Fixpoint.loopSession]]:
   * the input lifts in, the loop (axioms included) runs there, and the
   * flat result lifts back — the caller's session conf is never touched.
   * A base whose 8× fits the driver budget (`graft.fixpoint.driverRows`,
   * [[Fixpoint.BudgetKey]]) closes on the driver instead; see
   * `closure0`.
   *  @param basePreds when the caller knows the exact predicate set of
   *  ROUND 1's delta — `triples` + `rs.axioms`, or `triples` alone under
   *  `axiomsSaturated` (Owl computes it anyway for its meta-fact
   *  seeding) — round 1's dispatch uses it instead of running unbounded:
   *  chains whose delta-side atom names an absent predicate are never
   *  planned.
   *  @param baseTypeObjs likewise the exact rdf:type-object lexical set
   *  of the base, for round 1's (rdf:type, class) dispatch.
   *  @param axiomsSaturated when the caller GUARANTEES `rs.axioms` is
   *  already closed under `rs.rules` (Owl rides its hook-saturated schema
   *  closure as axioms), round 1's delta is the data slice only: a
   *  derivation from axiom facts alone is already an axiom, and every
   *  mixed derivation has a data fact in some position the delta rotation
   *  covers. Chains only the axioms could feed are then never planned. */
  def closure(triples: DataFrame, rs: RuleSet, maxIter: Int = 1000,
      basePreds: Option[Set[String]] = None,
      baseTypeObjs: Option[Set[String]] = None,
      axiomsSaturated: Boolean = false): DataFrame = {
    val spark = triples.sparkSession
    val iso = Fixpoint.loopSession(spark)
    Fixpoint.lift(spark, closure0(Fixpoint.lift(iso, triples), rs, maxIter,
      basePreds.map(ps => Dispatch(ps, baseTypeObjs)), axiomsSaturated))
  }

  // ---- per-round dispatch -------------------------------------------------

  /** One round's delta summary for chain dispatch: the distinct
   * predicates, and — when the class vocabulary is small enough to
   * collect ([[dispatchTypeObjCap]]) — the distinct lexical objects of
   * its rdf:type facts. The latter is the set-at-a-time analog of a RETE
   * alpha memory keyed on (rdf:type, class): a chain whose delta-side
   * atom is `(?x rdf:type <C>)` for a class absent from the delta
   * derives nothing and is never planned. Over-approximate by design
   * (keys are lexical forms; None = match everything). */
  private[graft] final case class Dispatch(preds: Set[String],
      typeObjs: Option[Set[String]])

  private val rdfTypeLex = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  /** Above this many distinct (predicate, type-object) rows the per-round
   * collect falls back to predicate-only dispatch — the pruning is an
   * optimization, never a correctness gate. */
  private[reason] val dispatchTypeObjCap = 20000

  /** Cap on the predicate-only dispatch fallback collect — past it the
   * round runs with Dispatch = None (plan every chain) rather than pull
   * a data-sized predicate vocabulary to the driver. */
  private[reason] val dispatchPredCap = 1000000

  // ---- ground-constant rule families ------------------------------------

  /** One batched family: guard-free rules sharing a TEMPLATE (identical
   * atoms/heads/variables modulo subject/object constants) plus the
   * constant tuples distinguishing the members. Constant slots appear in
   * the template as variables named `gk#<j>` — '#' cannot occur in a
   * rule-file variable, so slots never collide with user variables. */
  private[reason] final case class Family(template: Rule,
      tuples: Seq[Seq[Term]])

  /** Row carrier for a family's constant table ([[Family.tuples]]). */
  private[reason] final case class KTuple(ks: Seq[Term])

  /** Replace every subject/object constant with an ordered slot var AND
   * canonicalize variable names by first occurrence — so rules identical
   * modulo renaming (the schema compile emits such duplicates, e.g. a
   * hook-ground rule next to its specialize()d twin) share one template.
   * PREDICATE constants stay literal: they drive the delta dispatch and
   * keep the scan-side predicate filters pushed. */
  private def slotted(r: Rule): (Rule, Seq[Term]) = {
    val consts = mutable.Buffer[Term]()
    val vmap = mutable.LinkedHashMap[String, String]()
    def ren(v: String): String = vmap.getOrElseUpdate(v, s"v#${vmap.size}")
    def slot(t: RTerm): RTerm = t match {
      case RConst(k) => consts += k; RVar(s"gk#${consts.size - 1}")
      case RVar(v) => RVar(ren(v))
    }
    def pvar(t: RTerm): RTerm = t match {
      case RVar(v) => RVar(ren(v))
      case c => c
    }
    def slotAtom(a: Atom): Atom = Atom(slot(a.s), pvar(a.p), slot(a.o))
    val body = r.body.map(slotAtom)
    val heads = r.heads.map(slotAtom)
    (Rule("family", body, Nil, heads), consts.toSeq)
  }

  /**
   * WebPIE-style rules-as-relations batching (Urbani et al., ISWC 2010 —
   * there the RDFS/OWL schema triples ARE the join relation; here any
   * ground-constant rule family becomes one): guard-free rules that
   * differ only in subject/object constants — the shape the OWL schema
   * compile emits by the dozen (subclass links, recognition rules,
   * intersection membership) — are evaluated as ONE join chain against a
   * literal table of their constant tuples instead of one chain each.
   * A fixpoint round's chain count then scales with the number of rule
   * SHAPES, not rules: 20 hook-ground chains collapse to ~3, and the
   * constant tables are TBox-sized by construction (broadcast). Exact
   * by distributivity of join over the union of constant tuples.
   */
  private[reason] def familize(rules: Seq[Rule]): (Seq[Family], Seq[Rule]) = {
    val singles = mutable.Buffer[Rule]()
    val grouped = mutable.LinkedHashMap[Rule, mutable.Buffer[Seq[Term]]]()
    rules.foreach { r =>
      val groupable = r.guards.isEmpty && (r.body ++ r.heads).exists(a =>
        a.s.isInstanceOf[RConst] || a.o.isInstanceOf[RConst])
      if (!groupable) singles += r
      else {
        val (tpl, ks) = slotted(r)
        grouped.getOrElseUpdate(tpl, mutable.Buffer()) += ks
      }
    }
    val fams = mutable.Buffer[Family]()
    grouped.foreach { case (tpl, tuples0) =>
      val tuples = tuples0.distinct
      if (tuples.size >= 2) fams += Family(tpl, tuples.toSeq)
      else {
        // singleton family — restore the original constant-filtered rule
        // (renaming-duplicates collapse here: n copies → 1 tuple → 1 rule)
        val ks = tuples.head
        def unslot(t: RTerm): RTerm = t match {
          case RVar(v) if v.startsWith("gk#") => RConst(ks(v.drop(3).toInt))
          case x => x
        }
        def unslotAtom(a: Atom): Atom = Atom(unslot(a.s), a.p, unslot(a.o))
        singles += Rule(tpl.name, tpl.body.map(unslotAtom), Nil,
          tpl.heads.map(unslotAtom))
      }
    }
    (fams.toSeq, singles.toSeq)
  }

  /** One full derivation round over (full, delta) — every rule × every
   * delta position, deduped and RDF-validity filtered. Package-visible so
   * PlanSpec can audit the join shapes (the fixpoint result itself is a
   * checkpointed union whose executed plan no longer shows them). */
  /** Chain-level delta dispatch predicate (the set-at-a-time analog of
   * the reference's clause index): can a rule×position chain whose
   * delta-side atom is `a` match a delta described by `dispatch`? */
  private def chainCanMatch(a: Atom, dispatch: Option[Dispatch]): Boolean =
    dispatch match {
      case Some(d) => a.p match {
        case RConst(k) if k.isIri =>
          d.preds.contains(k.lex) && ((k.lex, a.o, d.typeObjs) match {
            case (`rdfTypeLex`, RConst(o), Some(objs)) => objs.contains(o.lex)
            case _ => true
          })
        case _ => true
      }
      case None => true
    }

  private[graft] def deriveOnce(rs: RuleSet, full: DataFrame,
      delta: DataFrame, dispatch: Option[Dispatch] = None,
      compiled: Option[(Seq[Family], Seq[Rule])] = None): DataFrame = {
    def constCol(t: Term): Column = struct(
      lit(t.kind).cast("tinyint").as("kind"), lit(t.lex).as("lex"),
      lit(t.dt).as("dt"), lit(t.lang).as("lang"))

    /** One body-atom frame: columns renamed to the atom's variables,
     * constants filtered out. */
    def atomFrame(src: DataFrame, a: Atom, tag: Int): DataFrame = {
      var df = src
      def slot(c: String, t: RTerm): Option[(String, String)] = t match {
        case RConst(k) => df = df.filter(col(c) === constCol(k)); None
        case RVar(v) => Some((c, v))
      }
      val keeps = Seq(slot("s", a.s), slot("p", a.p), slot("o", a.o)).flatten
      // one atom may repeat a var — (?x ?p ?x): keep first, filter equal
      val byVar = keeps.groupBy(_._2)
      val sel = byVar.map { case (v, cs) => col(cs.head._1).as(v) }.toSeq
      byVar.values.filter(_.size > 1).foreach { cs =>
        cs.tail.foreach(c => df = df.filter(col(cs.head._1) === col(c._1)))
      }
      if (sel.isEmpty) df.select(lit(1).as(s"__m$tag")).limit(1)
      else df.select(sel: _*)
    }

    def guardCol(g: Guard): Column = {
      def c(t: RTerm): Column = t match {
        case RConst(k) => constCol(k)
        case RVar(v) => col(v)
      }
      g.fn match {
        case "notEqual" => !(c(g.args(0)) === c(g.args(1)))
        case "equal" => c(g.args(0)) === c(g.args(1))
        case "isDType" =>
          val d = g.args(1) match {
            case RConst(k) => k
            case _ => throw new IllegalArgumentException(
              "isDType needs a constant datatype argument")
          }
          val vc = c(g.args(0))
          val isLit = vc.getField("kind") === Term.KIND_LIT
          dtypeAccepted(d.lex) match {
            case None => isLit
            case Some(acc) =>
              val eff = when(vc.getField("dt") === "", lit(Term.XSD_STRING))
                .otherwise(vc.getField("dt"))
              isLit && eff.isin(acc.toSeq.sorted: _*)
          }
        case "isLiteral" => c(g.args(0)).getField("kind") === Term.KIND_LIT
        case "notLiteral" => c(g.args(0)).getField("kind") =!= Term.KIND_LIT
        case other => throw new IllegalArgumentException(s"builtin $other")
      }
    }

    /** Join chain for one rule with the delta in position i. */
    def ruleDerivations(r: Rule, full: DataFrame, delta: DataFrame,
        i: Int): DataFrame = {
      val joined = r.body.zipWithIndex.map { case (a, j) =>
        atomFrame(if (j == i) delta else full, a, j)
      }.reduceLeft { (l, rF) =>
        val shared = l.columns.toSet.intersect(rF.columns.toSet)
          .filterNot(_.startsWith("__")).toSeq
        if (shared.isEmpty) l.crossJoin(rF) else l.join(rF, shared)
      }
      val guarded = r.guards.foldLeft(joined)((d, g) => d.filter(guardCol(g)))
      r.heads.map { h =>
        def proj(t: RTerm): Column = t match {
          case RConst(k) => constCol(k)
          case RVar(v) => col(v)
        }
        guarded.select(proj(h.s).as("s"), proj(h.p).as("p"), proj(h.o).as("o"))
      }.reduce(_ unionAll _)
    }

    /** Join chain for one FAMILY with the delta in position i: the body
     * frames in source order with the (broadcast) constant-tuple table
     * inserted right after the first slotted atom — so the slot join
     * filters early — or appended when only the heads carry slots. */
    def familyDerivations(f: Family, i: Int): DataFrame = {
      val spark = full.sparkSession
      import spark.implicits._
      val n = f.tuples.head.size
      val kt = broadcast(spark.createDataset(f.tuples.map(KTuple))
        .select((0 until n).map(j => col("ks")(j).as(s"gk#$j")): _*))
      def hasSlot(a: Atom): Boolean = Seq(a.s, a.o).exists {
        case RVar(v) => v.startsWith("gk#")
        case _ => false
      }
      val bodyFrames = f.template.body.zipWithIndex.map { case (a, j) =>
        atomFrame(if (j == i) delta else full, a, j)
      }
      val at = f.template.body.indexWhere(hasSlot)
      val frames =
        if (at < 0) bodyFrames :+ kt
        else bodyFrames.patch(at + 1, Seq(kt), 0)
      val joined = frames.reduceLeft { (l, rF) =>
        val shared = l.columns.toSet.intersect(rF.columns.toSet)
          .filterNot(_.startsWith("__")).toSeq
        if (shared.isEmpty) l.crossJoin(rF) else l.join(rF, shared)
      }
      f.template.heads.map { h =>
        def proj(t: RTerm): Column = t match {
          case RConst(k) => constCol(k)
          case RVar(v) => col(v)
        }
        joined.select(proj(h.s).as("s"), proj(h.p).as("p"), proj(h.o).as("o"))
      }.reduce(_ unionAll _)
    }

    // Delta dispatch (the set-at-a-time analog of the reference's clause
    // index, LPBRuleEngine/RETEEngine keyed on predicate): a rule×position
    // chain whose delta-side atom names a constant predicate — or a
    // constant rdf:type OBJECT — absent from THIS round's delta derives
    // nothing; skip it before Spark ever plans it. With p rules of b
    // atoms, a round plans only the chains the delta can feed.
    def deltaCanMatch(a: Atom): Boolean = chainCanMatch(a, dispatch)
    // the family split is rule-set-determined: the fixpoint loop passes
    // it in precomputed instead of re-canonicalizing every round
    val (families, singles) = compiled.getOrElse(familize(rs.rules))
    val chains = singles.flatMap(r =>
      r.body.indices.filter(i => deltaCanMatch(r.body(i)))
        .map(i => ruleDerivations(r, full, delta, i))) ++
      families.flatMap(f =>
        f.template.body.indices.filter(i => deltaCanMatch(f.template.body(i)))
          .map(i => familyDerivations(f, i)))
    if (chains.isEmpty) full.select("s", "p", "o").limit(0)
    else chains.reduce(_ unionAll _)
      // illegal RDF triples (literal subject/predicate) are dropped,
      // matching the reference and the local engine
      .filter(col("s.kind") =!= Term.KIND_LIT &&
        col("p.kind") =!= Term.KIND_LIT)
      .dropDuplicates("s", "p", "o")
  }

  /** [[closure]]'s loop, run inside the loop session: the driver face when
   * `Fixpoint.local(8 × base)` holds (facts capped at the budget), else
   * the distributed semi-naive rounds. */
  private def closure0(triples: DataFrame, rs: RuleSet, maxIter: Int,
      baseDispatch: Option[Dispatch],
      axiomsSaturated: Boolean): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._

    val axiomDf =
      if (rs.axioms.isEmpty) None
      else Some(spark.createDataset(rs.axioms).toDF())
    val base = axiomDf.map(triples.select("s", "p", "o").unionAll(_))
      .getOrElse(triples.select("s", "p", "o"))
      .dropDuplicates("s", "p", "o").localCheckpoint(true)

    // ---- adaptive local fixpoint ------------------------------------
    // Each distributed round costs a fixed ~0.5–1 s of latency (plan +
    // checkpoint + dispatch-collect) regardless of data size, so for
    // KB-scale bases (TBoxes, per-document graphs, goal cones) the whole
    // closure is cheaper tuple-at-a-time on the driver — the same
    // economics as a broadcast-join threshold, and the in-memory mode is
    // exactly how the reference's rule engines run (rulesys/FBRuleInfGraph).
    // The driver budget (Fixpoint.BudgetKey) admits a base when 8× it
    // fits: a closure legitimately outgrows its base (a chain's
    // transitive pairs), so the base alone never bounds it. The budget
    // is also the fact cap, checked per derivation — a closure that
    // blows up past it (transitive n²) falls back to the distributed
    // loop below. The base is already checkpointed, so the count is one
    // cheap job.
    if (Fixpoint.local(spark, 8 * base.count())) {
      val data = base.as[Triple].collect().toSeq
      try {
        val closed = closureLocal(data, RuleSet(Nil, rs.rules), maxIter,
          maxFacts = Fixpoint.budget(spark))
        return spark.createDataset(closed.toSeq).toDF()
      } catch { case o: LocalFixpointOverflow =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"local fixpoint overflowed ${o.facts} facts on a " +
          s"${data.size}-fact base — falling back to the distributed loop")
      }
    }

    // ---- fused dispatch: ONE Spark job per round ---------------------
    // From round 1 on the delta is all DERIVED facts, so when every rule
    // head has a CONSTANT predicate (and every rdf:type head a constant
    // class) the per-round dispatch vocabulary is bounded by the PROGRAM
    // (≤ #heads) — tiny. Then the distinct (predicate, type-object) set
    // can ride the checkpoint materialization as an observed collect_set
    // aggregate, fusing the dispatch-collect with the checkpoint: one
    // job per round instead of two. Programs with variable-predicate or
    // variable-class heads have DATA-bounded vocabularies and keep the
    // two-job path, whose executor-side distinct+limit caps what reaches
    // the driver (an observed collect_set has no such cap).
    val fusedDispatchOk = rs.rules.forall(_.heads.forall {
      case Atom(_, RConst(p), o) =>
        p.lex != rdfTypeLex || o.isInstanceOf[RConst]
      case _ => false
    })
    // family canonicalization is per-rule-set work: do it once, not once
    // per round (it re-walks every rule AST)
    val compiledFams = familize(rs.rules)
    var all = base
    var flat = true // whether `all` is currently a single checkpointed plan
    // round 1's delta: the whole base, or — when the axioms are already
    // a fixpoint — the data slice only (a cheap broadcast anti-join over
    // the cached base; see the `axiomsSaturated` contract)
    var delta = axiomDf match {
      case Some(ax) if axiomsSaturated =>
        val axR = ax.select(col("s").as("__as"), col("p").as("__ap"),
          col("o").as("__ao"))
        base.join(broadcast(axR),
          col("s") === col("__as") && col("p") === col("__ap") &&
            col("o") === col("__ao"), "left_anti")
      case _ => base
    }
    var dispatch: Option[Dispatch] = baseDispatch
    var deltaEmpty = delta.isEmpty
    var iter = 0
    while (!deltaEmpty) {
      iter += 1
      if (iter > maxIter) throw new IllegalStateException(
        s"rule closure did not reach a fixpoint within $maxIter rounds")
      // (An explicit broadcast hint on small deltas was measured a wash
      // here — AQE already converts the tiny-delta joins at runtime; the
      // structural lever is ground-rule family batching in deriveOnce.)
      val derived = deriveOnce(rs, all, delta, dispatch, Some(compiledFams))
      val allR = all.select(col("s").as("__as"), col("p").as("__ap"),
        col("o").as("__ao"))
      val freshPlan = derived.join(allR,
        col("s") === col("__as") && col("p") === col("__ap") &&
          col("o") === col("__ao"), "left_anti")
      // fused path: the dispatch pairs ride the checkpoint job as an
      // observed aggregate; getOrEmpty never blocks, so if the metric
      // does not surface (defensive) the two-job collect below runs
      val (fresh, fusedPairs) =
        if (fusedDispatchOk) {
          val obs = org.apache.spark.sql.Observation(s"rules_round_$iter")
          val observed = freshPlan.observe(obs,
            collect_set(struct(col("p.lex").as("p"),
              when(col("p.lex") === rdfTypeLex, col("o.lex")).as("tobj")))
              .as("pairs"))
          val cp = observed.localCheckpoint(true)
          // get() blocks until the observed action's execution event —
          // normally already fired here (the checkpoint IS the action);
          // the bounded wait + fallback guard against an event that never
          // surfaces. A dedicated single-use daemon thread (not the
          // global pool) runs the blocking get, and shutdownNow interrupts
          // it on timeout — no thread can be left parked forever.
          val metric: Option[Seq[(String, Option[String])]] = {
            val ex = java.util.concurrent.Executors.newSingleThreadExecutor(
              (r: Runnable) => { val t = new Thread(r, "rules-obs"); t.setDaemon(true); t })
            try {
              val fut = ex.submit(new java.util.concurrent.Callable[
                Map[String, Any]] { def call(): Map[String, Any] = obs.get })
              val m = fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
              m.get("pairs").map(_.asInstanceOf[Seq[org.apache.spark.sql.Row]]
                .map(r => (r.getString(0), Option(r.getString(1)))))
            } catch {
              case _: java.util.concurrent.TimeoutException => None
              case _: java.util.concurrent.ExecutionException => None
              case e: InterruptedException =>
                Thread.currentThread().interrupt(); None
            } finally ex.shutdownNow()
          }
          (cp, metric)
        } else (freshPlan.localCheckpoint(true), None)
      // two-job fallback: one vocabulary-bounded collect — the distinct
      // (predicate, rdf:type-object) set doubles as the emptiness check
      // and the exact-dispatch key set
      val pairs = fusedPairs.getOrElse {
        fresh.select(col("p.lex").as("p"),
            when(col("p.lex") === rdfTypeLex, col("o.lex")).as("tobj"))
          .distinct().limit(dispatchTypeObjCap + 1)
          .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
      }
      deltaEmpty = pairs.isEmpty
      dispatch =
        if (pairs.length > dispatchTypeObjCap) {
          // class vocabulary too wide to collect — predicate-only
          // dispatch, itself capped: a delta can also have a DATA-sized
          // predicate vocabulary (rdf:_nnn …), and dispatch is an
          // optimization, never a correctness gate — past the cap, match
          // everything instead of collecting unbounded driver state
          val preds = fresh.select(col("p.lex")).distinct()
            .limit(dispatchPredCap + 1).collect().map(_.getString(0))
          if (preds.length > dispatchPredCap) None
          else Some(Dispatch(preds.toSet, None))
        } else Some(Dispatch(pairs.map(_._1).toSet,
          Some(pairs.flatMap(_._2).toSet)))
      if (!deltaEmpty) {
        // `fresh` is already checkpointed — appending it lazily costs one
        // extra scan per consumer, while re-checkpointing `all` would copy
        // the WHOLE accumulated closure every round (O(rounds × total)
        // memory traffic). Flatten every 8 rounds so deep closures keep a
        // bounded plan width without the per-round full copy.
        all = all.unionAll(fresh)
        if (iter % 8 == 0) { all = all.localCheckpoint(true); flat = true }
        else flat = false
        delta = fresh
      }
    }
    // the RETURNED frame must be a single LogicalRDD: it lifts back to the
    // caller's session, whose constraint propagation trips over
    // checkpointed-union plans ("key not found: attr")
    if (flat) all else all.localCheckpoint(true)
  }
}
