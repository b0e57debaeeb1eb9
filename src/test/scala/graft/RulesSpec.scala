package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Iso, Term, Triple}
import graft.reason.Rules
import graft.riot.{NTriples, RdfXmlLite}

/** Generic forward rule engine, gated on the reference's own RDFS
 * reasoner fixtures (jena-core/testing/reasoners/rdfs/manifest.rdf — the
 * suite TestRDFSReasoners runs with the FULL config; runner semantics
 * from ReasonerTester.java: per query pattern with var: wildcards,
 * collect the matching closure triples and compare isomorphically with
 * the expected graph). The rule set is the reference's own
 * etc/rdfs.rules, parsed by our Jena-rule-syntax parser. */
class RulesSpec extends AnyFunSuite {

  private val ROOT = "/root/reference/jena-core/testing/reasoners"
  private val RULES =
    "/root/reference/jena-core/src/main/resources/etc/rdfs.rules"
  private val QT = "http://www.hpl.hp.com/semweb/2003/query_tester#"
  private val VAR = "var:"

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  private def loadRdf(rel: String): Seq[Triple] =
    RdfXmlLite.parse(read(s"$ROOT/$rel"), s"file://$ROOT/$rel")

  /** Our curated pure-forward "full" set (axioms match the reference's
   * full config; backward forms restated forward — see the resource). */
  private lazy val ruleSet: Rules.RuleSet = Rules.rdfsFullForward

  test("rule parser: the reference's etc/rdfs.rules parses structurally") {
    val rs = Rules.parse(read(RULES))
    assert(rs.axioms.size > 30, s"axioms: ${rs.axioms.size}")
    assert(rs.rules.size == 11, s"rules: ${rs.rules.map(_.name)}")
    assert(rs.rules.exists(r => r.name == "rdfs9" && r.body.size == 2 &&
      r.heads.size == 1))
    assert(rs.rules.exists(r => r.name == "rdf1and4" && r.heads.size == 3))
    assert(ruleSet.rules.exists(_.guards.nonEmpty)) // notEqual in rdfs6
  }

  test("rule parser rejects backward rules and unbound head vars") {
    intercept[IllegalArgumentException](
      Rules.parse("[r: (?a eg:p ?b) <- (?a eg:q ?b)]"))
    intercept[IllegalArgumentException](
      Rules.parse("@prefix eg: <http://eg/>. [r: (?a eg:p ?b) -> (?a eg:q ?c)]"))
  }

  /** ReasonerTester protocol (per query pattern with var: wildcards,
   * collect matching closure triples, compare isomorphically). */
  private def runReasonerManifest(manifestRel: String, rs: Rules.RuleSet,
      minTests: Int): Int = {
    val manifest = loadRdf(manifestRel)
    val bySubj = manifest.groupBy(_.s)
    def prop(s: Term, p: String): Seq[String] =
      bySubj.getOrElse(s, Nil).filter(_.p.lex == QT + p).map(_.o.lex)
    val tests = manifest.collect {
      case Triple(s, p, o)
        if p.lex.endsWith("#type") && o.lex == QT + "Test" => s
    }.distinct
    assert(tests.size >= minTests, s"found only ${tests.size} tests")

    val failures = mutable.Buffer[String]()
    tests.foreach { t =>
      val desc = prop(t, "description").headOption.getOrElse(t.lex)
      try {
        val data = (prop(t, "tbox") ++ prop(t, "data")).flatMap(loadRdf)
        val withCmp = data ++ Rules.rdfsCmpAxioms(data)
        val closure = Rules.closureLocal(withCmp, rs)
        val queries = NTriples.parseDocument(read(
          s"$ROOT/${prop(t, "query").head}"))
        val got = queries.flatMap { q =>
          def ok(pat: Term, v: Term): Boolean =
            (pat.isIri && pat.lex.startsWith(VAR)) || pat == v
          closure.filter(c => ok(q.s, c.s) && ok(q.p, c.p) && ok(q.o, c.o))
        }.distinct
        // RDF graphs are sets — the RDF/XML may assert a triple twice
        val want = loadRdf(prop(t, "result").head).distinct
        if (!Iso.isomorphic(got, want)) {
          val gotSet = got.map(_.toNTriples).toSet
          val wantSet = want.map(_.toNTriples).toSet
          failures += s"$desc:\n  missing: ${(wantSet -- gotSet).take(4)}" +
            s"\n  extra: ${(gotSet -- wantSet).take(4)}"
        }
      } catch {
        case e: Exception => failures += s"$desc: EXCEPTION ${e.getMessage}"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size}/${tests.size} reasoner cases failing:\n" +
        failures.mkString("\n"))
    tests.size
  }

  test("reference RDFS reasoner manifest (full closure)") {
    val n = runReasonerManifest("rdfs/manifest.rdf", ruleSet, minTests = 20)
    info(s"$n RDFS reasoner manifest cases green")
  }

  /** The TransitiveReasoner as a rule set: transitive + participation-
   * reflexive closure of subClassOf/subPropertyOf, plus the meta level —
   * predicates declared (possibly transitively) subPropertyOf of the two
   * lattice predicates fold their statements in (reference:
   * reasoner/transitiveReasoner/TransitiveEngine.java; the meta handling
   * is its caveat-documented subPropertyOf folding). */
  test("reference transitive reasoner manifest") {
    val rs = Rules.parse("""
      [sp-t: (?a rdfs:subPropertyOf ?b), (?b rdfs:subPropertyOf ?c) -> (?a rdfs:subPropertyOf ?c)]
      [sp-r: (?a rdfs:subPropertyOf ?b) -> (?a rdfs:subPropertyOf ?a), (?b rdfs:subPropertyOf ?b)]
      [sc-t: (?a rdfs:subClassOf ?b), (?b rdfs:subClassOf ?c) -> (?a rdfs:subClassOf ?c)]
      [sc-r: (?a rdfs:subClassOf ?b) -> (?a rdfs:subClassOf ?a), (?b rdfs:subClassOf ?b)]
      [meta-sp: (?P rdfs:subPropertyOf rdfs:subPropertyOf), (?a ?P ?b), notEqual(?P, rdfs:subPropertyOf) -> (?a rdfs:subPropertyOf ?b)]
      [meta-sc: (?P rdfs:subPropertyOf rdfs:subClassOf), (?a ?P ?b), notEqual(?P, rdfs:subClassOf) -> (?a rdfs:subClassOf ?b)]""")
    val n = runReasonerManifest("transitive/manifest.rdf", rs, minTests = 10)
    info(s"$n transitive reasoner manifest cases green")
  }

  test("DataFrame closure matches the local engine") {
    val spark = TestSpark.spark
    import spark.implicits._
    val data = loadRdf("rdfs/tbox1.rdf") ++ loadRdf("rdfs/data2.rdf")
    val withCmp = data ++ Rules.rdfsCmpAxioms(data)
    val want = Rules.closureLocal(withCmp, ruleSet)
    // budget 0 pins the DISTRIBUTED loop — the default driver budget
    // would route this document-sized base to the local engine and the
    // cross-face comparison would be trivial
    val got = TestSpark.withFixpointBudget(0)(Rules.closure(
      spark.createDataset(withCmp).toDF(), ruleSet).as[Triple].collect().toSet)
    assert(got == want,
      s"missing=${(want -- got).take(4)} extra=${(got -- want).take(4)}")
    info(s"${got.size} closure triples agree across both faces")
  }

  test("adaptive local fixpoint: driver path matches, overflow falls back") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rules = Rules.parse(
      "@prefix eg: <http://eg/>. " +
        "[tr: (?a eg:next ?b), (?b eg:next ?c) -> (?a eg:next ?c)]")
    // a 60-edge chain closes transitively to 1,830 pairs
    val chain = (0 until 60).map(i => Triple(Term.iri(s"http://eg/n$i"),
      Term.iri("http://eg/next"), Term.iri(s"http://eg/n${i + 1}")))
    val base = spark.createDataset(chain).toDF()
    val want = Rules.closureLocal(chain, rules)
    assert(want.size == 61 * 60 / 2)
    // default budget (1M): the 60-fact base takes the DRIVER path
    val local = Rules.closure(base, rules).as[Triple].collect().toSet
    assert(local == want)
    // budget 800 admits bases up to 100 facts but caps facts at 800 —
    // the overflow must fall back to the distributed loop, same answer
    val fellBack = TestSpark.withFixpointBudget(800)(
      Rules.closure(base, rules).as[Triple].collect().toSet)
    assert(fellBack == want)
    // and the local engine alone respects an explicit cap loudly
    intercept[Rules.LocalFixpointOverflow](
      Rules.closureLocal(chain, rules, maxFacts = 800))
  }

  test("rule-text literal escapes decode; reserved/unbound vars rejected at parse") {
    // \n in a quoted literal is a NEWLINE, not the letter n — the rule
    // must match data carrying a real newline
    val rs = Rules.parse(
      "[m: (?x <urn:p> 'a\\nb') -> (?x <urn:type> <urn:Matched>)]")
    val data = Seq(Triple(Term.iri("urn:s"), Term.iri("urn:p"),
      Term.lit("a\nb", Term.XSD_STRING)))
    val closed = Rules.closureLocal(data, rs)
    assert(closed.contains(
      Triple(Term.iri("urn:s"), Term.iri("urn:type"), Term.iri("urn:Matched"))))
    // ?__x collides with engine marker columns → reserved at parse (the
    // DataFrame face would silently cross-join instead of unifying)
    val e1 = intercept[IllegalArgumentException](Rules.parse(
      "[r: (?__a <urn:p> ?b) -> (?b <urn:q> ?__a)]"))
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    // a forward guard var unbound by the body crashes mid-derivation —
    // rejected at parse with the rule named
    val e2 = intercept[IllegalArgumentException](Rules.parse(
      "[r: (?a <urn:p> ?b), notEqual(?a, ?c) -> (?a <urn:q> ?b)]"))
    assert(e2.getMessage.contains("guard variable"), e2.getMessage)
    // mis-arity guards are a parse error, not an IndexOutOfBounds later
    val e3 = intercept[IllegalArgumentException](Rules.parse(
      "[r: (?a <urn:p> ?b), notEqual(?a) -> (?a <urn:q> ?b)]"))
    assert(e3.getMessage.contains("argument"), e3.getMessage)
    // bare rdf:_ (no ordinal) is not a container-membership property
    val rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val cmp = Rules.rdfsCmpAxioms(Seq(
      Triple(Term.iri("urn:s"), Term.iri(rdf + "_"), Term.iri("urn:o")),
      Triple(Term.iri("urn:s"), Term.iri(rdf + "_3"), Term.iri("urn:o"))))
    assert(cmp.map(_.s.lex) == Seq(rdf + "_3"), cmp.toString)
  }

  test("local fixpoint cap trips INSIDE a fan-out round, not just at its end") {
    // one rule, one round, quadratic fan-out: every (in, out) hub pair
    // derives a fact — 50×50 = 2,500 candidate facts from a 100-fact
    // base. A round-boundary-only cap would materialize all 2,500 on the
    // driver before noticing; the in-round check must abort the round
    // part-way (this is the driver-OOM guard for ~100k-fact bases whose
    // single round fans out to billions).
    val rules = Rules.parse(
      "@prefix eg: <http://eg/>. " +
        "[fan: (?a eg:in eg:hub), (eg:hub eg:out ?b) -> (?a eg:pair ?b)]")
    val star = (0 until 50).flatMap { i =>
      Seq(Triple(Term.iri(s"http://eg/s$i"), Term.iri("http://eg/in"),
            Term.iri("http://eg/hub")),
          Triple(Term.iri("http://eg/hub"), Term.iri("http://eg/out"),
            Term.iri(s"http://eg/d$i")))
    }
    intercept[Rules.LocalFixpointOverflow](
      Rules.closureLocal(star, rules, maxFacts = 300))
    // sanity: uncapped, the same input closes to base + 2,500 pairs
    assert(Rules.closureLocal(star, rules).size == star.size + 2500)
  }
}
