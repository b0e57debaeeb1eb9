package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Iso, Term, Triple}
import graft.reason.Owl
import graft.riot.RdfXmlLite

/**
 * OWL-micro reasoner, gated on the reference's OWN test surface:
 *
 *  1. the W3C WebOnt WG entailment manifests that OWLUnitTest.java flags
 *     for the MICRO reasoner (jena-core/src/test/java/.../rulesys/test/
 *     OWLUnitTest.java testDefs; runner semantics from OWLWGTester.java:
 *     closure over the premise documents, then
 *     WGReasonerTester.testConclusions = subgraph-inferred with bnodes
 *     as existentials; NegativeEntailmentTest inverts);
 *  2. the OWL consistency fixtures (testing/reasoners/owl,
 *     OWLConsistencyTest.java: CLEAN / WARNINGS / INCONSISTENT);
 *  3. a DataFrame-face parity check (Owl.closure == Owl.closureLocal on
 *     the same premises).
 */
class OwlSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val WG = "/root/reference/jena-core/testing/wg"
  private val OWLDIR = "/root/reference/jena-core/testing/reasoners/owl"
  private val WGBASE = "http://www.w3.org/2002/03owlt/"
  private val RTEST = "http://www.w3.org/2000/10/rdf-tests/rdfcore/testSchema#"
  private val OTEST = "http://www.w3.org/2002/03owlt/testOntology#"
  private val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** Load a WG document by its test IRI (base = the IRI, file = IRI
   * relative to the WG dir + ".rdf" — OWLWGTester.loadFile's scheme). */
  private def loadWg(iri: String): Seq[Triple] = {
    require(iri.startsWith(WGBASE), s"not a WG doc IRI: $iri")
    val rel = iri.drop(WGBASE.length)
    RdfXmlLite.parse(read(s"$WG/$rel.rdf"), iri)
  }

  private final case class WgTest(name: String, positive: Boolean,
      premises: Seq[String], conclusions: String)

  /** Parse one WG manifest into its entailment tests (the only kinds
   * OWLWGTester runs; Inconsistency-typed entries are covered by the
   * consistency block below). */
  private def wgTests(manifestRel: String): Seq[WgTest] = {
    val iri = WGBASE + manifestRel
    val m = loadWg(iri)
    val bySubj = m.groupBy(_.s)
    def objs(s: Term, p: String): Seq[Term] =
      bySubj.getOrElse(s, Nil).filter(_.p.lex == p).map(_.o)
    m.filter(t => t.p.lex == RDF + "type" &&
        (t.o.lex == OTEST + "PositiveEntailmentTest" ||
          t.o.lex == OTEST + "NegativeEntailmentTest"))
      .map { t =>
        WgTest(t.s.lex, t.o.lex == OTEST + "PositiveEntailmentTest",
          objs(t.s, RTEST + "premiseDocument").map(_.lex),
          objs(t.s, RTEST + "conclusionDocument").map(_.lex).head)
      }.distinct
  }

  /** The OWLUnitTest testDefs rows carrying the MICRO flag, deduplicated
   * (the suite lists SymmetricProperty/inverseOf/TransitiveProperty
   * twice). */
  private val microManifests = Seq(
    "localtests/ManifestSubclass001",
    "equivalentClass/Manifest001", "equivalentClass/Manifest002",
    "equivalentClass/Manifest003", "equivalentClass/Manifest005",
    "localtests/ManifestRestriction001",
    "intersectionOf/Manifest001",
    "localtests/Manifest001", "localtests/Manifest002",
    "unionOf/Manifest001",
    "SymmetricProperty/Manifest001", "inverseOf/Manifest001",
    "TransitiveProperty/Manifest001", "localtests/Manifest005",
    "FunctionalProperty/Manifest003", "InverseFunctionalProperty/Manifest003",
    "rdf-charmod-uris/Manifest",
    "I4.6/Manifest003",
    "I5.5/Manifest001", "I5.5/Manifest002", "I5.5/Manifest003",
    "I5.5/Manifest004",
    "equivalentProperty/Manifest001", "equivalentProperty/Manifest002",
    "equivalentProperty/Manifest003", "equivalentProperty/Manifest006",
    "I5.24/Manifest001", "I5.24/Manifest002-mod", "I5.24/Manifest003-mod",
    "differentFrom/Manifest001",
    "disjointWith/Manifest001", "disjointWith/Manifest002",
    "AllDifferent/Manifest001",
    "allValuesFrom/Manifest002", "someValuesFrom/Manifest002",
    "FunctionalProperty/Manifest005-mod",
    "localtests/ManifestHv1", "localtests/ManifestHv2",
    "localtests/Manifest003", "localtests/Manifest007",
    "localtests/Manifest008")

  private def runWg(manifestRel: String): Seq[String] = {
    wgTests(manifestRel).flatMap { t =>
      try {
        val premises = t.premises.flatMap(loadWg)
        val conclusions = loadWg(t.conclusions)
        val closure = Owl.closureLocal(premises).toSeq
        val inferred = Iso.subgraphInferred(conclusions, closure)
        if (inferred == t.positive) None
        else Some(s"${t.name}: expected " +
          (if (t.positive) "entailed" else "NOT entailed") +
          s"; missing=${conclusions.filterNot(closure.toSet).take(4).map(_.toNTriples)}")
      } catch {
        case e: Exception => Some(s"${t.name}: EXCEPTION ${e.getMessage}")
      }
    }
  }

  test("W3C WebOnt WG manifests — the reference's MICRO test set") {
    val failures = mutable.Buffer[String]()
    var n = 0
    microManifests.foreach { rel =>
      val tests = wgTests(rel)
      n += tests.size
      failures ++= runWg(rel).map(f => s"$rel :: $f")
    }
    info(s"$n WG entailment tests across ${microManifests.size} manifests")
    assert(n >= 35, s"expected at least 35 runnable entailment tests, found $n")
    assert(failures.isEmpty,
      s"${failures.size} WG failures:\n" + failures.mkString("\n"))
  }

  test("allValuesFrom main entailment (mini-level completeness extension)") {
    val failures = runWg("allValuesFrom/Manifest001")
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // ---- consistency fixtures ------------------------------------------------

  private def loadOwlFixture(name: String): Seq[Triple] =
    RdfXmlLite.parse(read(s"$OWLDIR/$name"),
      "http://jena.hpl.hp.com/testing/reasoners/owl")

  private def classify(abox: String): String = {
    val data = loadOwlFixture("tbox.owl") ++ loadOwlFixture(abox)
    val report = Owl.validateLocal(data)
    if (report.exists(_.severity == "error")) "INCONSISTENT"
    else if (report.nonEmpty) "WARNINGS"
    else "CLEAN"
  }

  test("OWL consistency fixtures — the reference's MICRO classifications") {
    // OWLUnitTest rows with the MICRO flag
    assert(classify("consistentData.rdf") === "CLEAN")
    assert(classify("inconsistent1.rdf") === "INCONSISTENT") // disjoint classes
    assert(classify("inconsistent2.rdf") === "INCONSISTENT") // type violation
    assert(classify("inconsistent5.rdf") === "INCONSISTENT") // allValuesFrom Literal clash
    assert(classify("emptyClass1.rdf") === "WARNINGS") // intersection of disjoints
    assert(classify("emptyClass2.rdf") === "WARNINGS") // equivalent to Nothing
    assert(classify("emptyClass3.rdf") === "WARNINGS") // disjoint with Thing
  }

  test("OWL consistency fixtures — mini-level completeness extensions") {
    // the reference flags these only under mini/full (they need some
    // distinct-values counting); our validator counts PROVABLY-distinct
    // values (explicit differentFrom / distinct literals), which covers
    // them without equality reasoning — documented extension
    assert(classify("inconsistent3.rdf") === "INCONSISTENT") // count violation
    assert(classify("inconsistent6.rdf") === "INCONSISTENT") // functional, distinct literals
  }

  // ---- DataFrame-face parity ------------------------------------------------

  test("DataFrame validate face flags the instance-level errors") {
    import org.apache.spark.sql.Encoders
    val data = loadOwlFixture("tbox.owl") ++ loadOwlFixture("inconsistent1.rdf")
    val df = spark.createDataset(data)(Encoders.product[Triple]).toDF()
    val reports = Owl.validate(df).collect()
    assert(reports.exists(r => r.getString(0) == "error" &&
      r.getString(2).contains("disjoint")),
      s"expected a disjointness error, got ${reports.mkString("; ")}")
    // inconsistent2: object value for a DatatypeProperty AND a non-int
    // literal under intp's xsd:int range — both instance-level checks fire
    val d2 = loadOwlFixture("tbox.owl") ++ loadOwlFixture("inconsistent2.rdf")
    val df2 = spark.createDataset(d2)(Encoders.product[Triple]).toDF()
    val r2 = Owl.validate(df2).collect()
    assert(r2.exists(r => r.getString(2).contains("datatype property")),
      s"expected an object-value error, got ${r2.mkString("; ")}")
    assert(r2.exists(r => r.getString(2).contains("datatype range")),
      s"expected a range-clash error, got ${r2.mkString("; ")}")
    // the clean fixture yields no instance-level errors
    val clean = loadOwlFixture("tbox.owl") ++ loadOwlFixture("consistentData.rdf")
    val cleanDf = spark.createDataset(clean)(Encoders.product[Triple]).toDF()
    assert(Owl.validate(cleanDf).isEmpty)
  }

  test("DataFrame validate flags violations on INFERRED triples") {
    import org.apache.spark.sql.Encoders
    // q ⊑ p, p a DatatypeProperty with range xsd:int; the data uses only
    // q — the violations exist solely on the rdfs6-derived p-triples
    val EX = "http://example.org/"
    val RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    val OWLNS = "http://www.w3.org/2002/07/owl#"
    val XSD = Term.XSD
    def T(s: String, p: String, o: Term) = Triple(Term.iri(s), Term.iri(p), o)
    val data = Seq(
      T(EX + "q", RDFS + "subPropertyOf", Term.iri(EX + "p")),
      T(EX + "p", RDF + "type", Term.iri(OWLNS + "DatatypeProperty")),
      T(EX + "p", RDFS + "range", Term.iri(XSD + "int")),
      T(EX + "x", EX + "q", Term.iri(EX + "notALiteral")),
      T(EX + "y", EX + "q", Term.lit("fool", XSD + "string")))
    // local face agrees these are errors
    val local = Owl.validateLocal(data)
    assert(local.count(_.severity == "error") >= 2, local.mkString("; "))
    val df = spark.createDataset(data)(Encoders.product[Triple]).toDF()
    val r = Owl.validate(df).collect()
    assert(r.exists(v => v.getString(2).contains("datatype property")),
      s"inferred object-value error missing: ${r.mkString("; ")}")
    assert(r.exists(v => v.getString(2).contains("datatype range")),
      s"inferred range-clash error missing: ${r.mkString("; ")}")
  }

  test("DataFrame closure face matches the local face on WG premises") {
    import org.apache.spark.sql.Encoders
    // one manifest per specialized rule family (Owl.specialize): inverse,
    // symmetric, transitive, subPropertyOf (I5.24), hasValue both
    // directions (Hv1/Hv2), someValuesFrom recognition, intersection
    val rels = Seq("intersectionOf/Manifest001", "TransitiveProperty/Manifest001",
      "localtests/ManifestHv1", "localtests/ManifestHv2",
      "inverseOf/Manifest001", "SymmetricProperty/Manifest001",
      "I5.24/Manifest001", "someValuesFrom/Manifest002")
    rels.foreach { rel =>
      val t = wgTests(rel).head
      val premises = t.premises.flatMap(loadWg)
      val local = Owl.closureLocal(premises)
      val df = spark.createDataset(premises)(Encoders.product[Triple]).toDF()
      // budget 0 pins the distributed loop (cross-face)
      val dist = TestSpark.withFixpointBudget(0)(
        Owl.closure(df, expandDifferentFrom = true)
          .as(Encoders.product[Triple]).collect().toSet)
      assert(dist === local, s"$rel: DataFrame closure diverges from local " +
        s"(missing=${(local -- dist).take(3).map(_.toNTriples)}, " +
        s"extra=${(dist -- local).take(3).map(_.toNTriples)})")
    }
  }

  // ---- review-fix pins (round 3) -------------------------------------------

  private val OWLNS = "http://www.w3.org/2002/07/owl#"
  private def eg(n: String) = Term.iri("http://eg/" + n)
  private def tpe = Term.iri(RDF + "type")

  test("someValuesFrom over a DATATYPE recognizes literal members (someRec2b)") {
    val data = Seq(
      Triple(eg("R"), Term.iri(OWLNS + "onProperty"), eg("p")),
      Triple(eg("R"), Term.iri(OWLNS + "someValuesFrom"),
        Term.iri(Term.XSD + "integer")),
      // xsd:int ⊑ xsd:integer (declared subtype) — recognized
      Triple(eg("x"), eg("p"), Term.lit("5", Term.XSD + "int")),
      Triple(eg("y"), eg("p"), Term.lit("hello", Term.XSD_STRING)),
      // xsd:decimal ⊄ xsd:integer — a decimal-typed value must NOT be
      // classified (the symmetric ladder fold would wrongly accept 5.5)
      Triple(eg("z"), eg("p"), Term.lit("5.5", Term.XSD_DECIMAL)))
    val closed = Owl.closureLocal(data)
    assert(closed.contains(Triple(eg("x"), tpe, eg("R"))))
    assert(!closed.contains(Triple(eg("y"), tpe, eg("R"))))
    assert(!closed.contains(Triple(eg("z"), tpe, eg("R"))),
      "decimal-typed literal classified into an integer restriction")
    // distributed-face parity (the isDType guard compiles to a column)
    import org.apache.spark.sql.Encoders
    val df = spark.createDataset(data)(Encoders.product[Triple]).toDF()
    val dist = Owl.closure(df).as(Encoders.product[Triple]).collect().toSet
    assert(dist == closed)
  }

  test("max-cardinality validation counts literal VALUES, not lexical forms") {
    val base = Seq(
      Triple(eg("R"), Term.iri(OWLNS + "onProperty"), eg("p")),
      Triple(eg("R"), Term.iri(OWLNS + "maxCardinality"),
        Term.lit("1", Term.XSD + "nonNegativeInteger")),
      Triple(eg("x"), tpe, eg("R")),
      // "1"^^int and "01"^^integer denote ONE value — no violation
      Triple(eg("x"), eg("p"), Term.lit("1", Term.XSD + "int")),
      Triple(eg("x"), eg("p"), Term.lit("01", Term.XSD_INTEGER)))
    assert(Owl.isValidLocal(base), Owl.validateLocal(base).toString)
    // a genuinely different value trips the max-1 check
    val bad = base :+ Triple(eg("x"), eg("p"), Term.lit("2", Term.XSD + "int"))
    assert(!Owl.isValidLocal(bad))
  }

  test("distinctMembers with a repeated member never asserts self-difference") {
    def li(n: String) = eg("l" + n)
    val data = Seq(
      Triple(eg("d"), Term.iri(OWLNS + "distinctMembers"), li("1")),
      Triple(li("1"), Term.iri(RDF + "first"), eg("a")),
      Triple(li("1"), Term.iri(RDF + "rest"), li("2")),
      Triple(li("2"), Term.iri(RDF + "first"), eg("b")),
      Triple(li("2"), Term.iri(RDF + "rest"), li("3")),
      Triple(li("3"), Term.iri(RDF + "first"), eg("a")), // duplicate member
      Triple(li("3"), Term.iri(RDF + "rest"), Term.iri(RDF + "nil")))
    val closed = Owl.closureLocal(data)
    val diffP = Term.iri(OWLNS + "differentFrom")
    assert(closed.contains(Triple(eg("a"), diffP, eg("b"))))
    assert(!closed.contains(Triple(eg("a"), diffP, eg("a"))),
      "repeated list member asserted x differentFrom x")
    // a differentFrom a would also make ANY sameAs-free graph invalid
    assert(Owl.isValidLocal(data))
  }

  test("malformed owl:intersectionOf fails loudly instead of compiling a prefix") {
    val data = Seq(
      Triple(eg("C"), Term.iri(OWLNS + "intersectionOf"), eg("L1")),
      Triple(eg("L1"), Term.iri(RDF + "first"), eg("M1")),
      Triple(eg("L1"), Term.iri(RDF + "rest"), eg("L2")))
      // L2 has neither rdf:first nor rdf:rest — the silent-prefix read
      // would compile the UNSOUND rule C = M1
    val e = intercept[IllegalArgumentException](Owl.closureLocal(data))
    assert(e.getMessage.contains("intersectionOf"), e.getMessage)
  }

  test("validationDomainMax0 errs and oneOf non-membership warns") {
    val dm0 = Seq(
      Triple(eg("R"), Term.iri(OWLNS + "onProperty"), eg("p")),
      Triple(eg("R"), Term.iri(OWLNS + "maxCardinality"),
        Term.lit("0", Term.XSD + "nonNegativeInteger")),
      Triple(eg("p"), Term.iri(RDFS_ + "domain"), eg("R")))
    assert(Owl.validateLocal(dm0).exists(v =>
      v.severity == "error" && v.message.contains("inconsistent property")))
    val oneOf = Seq(
      Triple(eg("C"), Term.iri(OWLNS + "oneOf"), eg("L1")),
      Triple(eg("L1"), Term.iri(RDF + "first"), eg("a")),
      Triple(eg("L1"), Term.iri(RDF + "rest"), Term.iri(RDF + "nil")),
      Triple(eg("z"), tpe, eg("C"))) // z is not in the enumeration
    val rep = Owl.validateLocal(oneOf)
    assert(rep.exists(v => v.severity == "warn" && v.message.contains("oneOf")),
      rep.toString)
  }

  private val RDFS_ = "http://www.w3.org/2000/01/rdf-schema#"

  test("owl:sameAs canonicalization: WG fixture, chain collapse, mapping, LP parity") {
    import org.apache.spark.sql.Encoders
    val sameAs = Term.iri(OWLNS + "sameAs")
    def canonSet(ts: Seq[Triple], keepMapping: Boolean = false): Set[Triple] =
      Owl.canonicalize(
          spark.createDataset(ts)(Encoders.product[Triple]).toDF(), keepMapping)
        .as(Encoders.product[Triple]).collect().toSet
    // (1) the reference's WebOnt sameAs entailment fixture (the family
    // MICRO skips): premises ⊨ conclusions under sameAs substitution ⇔
    // canonicalizing (premises ∪ conclusions) adds NOTHING beyond
    // canonicalized premises
    val prem = loadWg(WGBASE + "sameAs/premises001")
    val conc = loadWg(WGBASE + "sameAs/conclusions001")
    assert(canonSet(prem ++ conc) == canonSet(prem),
      "WG sameAs/001 conclusions must be absorbed by canonicalized premises")
    // (2) chain collapse, IRI preferred, facts from every member merge
    val chain = Seq(
      Triple(eg("a"), sameAs, eg("b")),
      Triple(eg("c"), sameAs, eg("b")), // undirected: {a,b,c} one component
      Triple(eg("a"), eg("p"), Term.string("va")),
      Triple(eg("c"), eg("p"), Term.string("vc")),
      Triple(eg("z"), eg("p"), eg("c")))
    val canon = canonSet(chain)
    assert(canon == Set(
      Triple(eg("a"), eg("p"), Term.string("va")),
      Triple(eg("a"), eg("p"), Term.string("vc")),
      Triple(eg("z"), eg("p"), eg("a"))), s"chain collapse wrong: $canon")
    // a bnode member loses to any IRI member
    val withB = Seq(Triple(Term.bnode("x"), sameAs, eg("m")),
      Triple(Term.bnode("x"), eg("q"), Term.string("v")))
    assert(canonSet(withB) == Set(Triple(eg("m"), eg("q"), Term.string("v"))))
    // (3) keepMapping emits (canonical, sameAs, member) for non-canonical
    val mapped = canonSet(chain, keepMapping = true)
    assert(mapped.contains(Triple(eg("a"), sameAs, eg("b"))) &&
      mapped.contains(Triple(eg("a"), sameAs, eg("c"))))
    // (4) parity with the LP engine: a goal THROUGH a sameAs chain via
    // backward substitution rules answers exactly the canonicalized facts
    // (modulo the canonical rewrite of the goal subject)
    val lpRules = """
      @prefix eg: <http://eg/> .
      [saSym: (?a owl:sameAs ?b) <- (?b owl:sameAs ?a)]
      [saTrans: (?a owl:sameAs ?c) <- (?a owl:sameAs ?b), (?b owl:sameAs ?c)]
      [saSubst: (?x eg:p ?v) <- (?x owl:sameAs ?y), (?y eg:p ?v)]
    """
    val engine = graft.reason.Lp.hybrid(chain, graft.reason.Rules.parseFull(lpRules))
    val viaLp = engine.find(Some(eg("c")), Some(eg("p")), None)
      .map(_.o).filter(_.isLiteral)
    val viaCanon = canon.collect {
      case Triple(s, p, o) if s == eg("a") && p == eg("p") => o }
    assert(viaLp == viaCanon,
      s"LP goal through sameAs chain ($viaLp) != canonicalized facts ($viaCanon)")
  }
}
