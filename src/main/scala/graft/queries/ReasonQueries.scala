package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.algebra.TermCols
import graft.model.Term
import graft.reason.Rules

/**
 * Oracle-gated forward-rule inference: customer/nation/region encode a
 * three-level class hierarchy (customer rdf:type nation-class,
 * nation-class rdfs:subClassOf region-class, region-class
 * rdfs:subClassOf urn:g:World), the DataFrame rule engine runs the
 * rdfs8 + rdfs9 subset to fixpoint, and the DuckDB oracle restates the
 * derived rdf:type closure relationally — so the semi-naive delta
 * iteration (join chains, anti-join dedup, fixpoint detection) is
 * checked end-to-end by the driver gate.
 */
object ReasonQueries {

  private val NS = "urn:g:"
  private val RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  private val SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

  def v2_rules(s: SparkSession, d: String): DataFrame = {
    val customer = Tables.customer(s, d)
    val nation = Tables.nation(s, d)
    def iriCol(prefix: String, c: Column) =
      TermCols.iriTerm(concat(lit(NS + prefix), c.cast("string")))
    def t(sC: Column, p: String, oC: Column) =
      struct(sC.as("s"), TermCols.const(Term.iri(p)).as("p"), oC.as("o")).as("x")
    val triples = customer
      .select(t(iriCol("c:", col("c_custkey")), RDF_TYPE,
        iriCol("n:", col("c_nationkey"))))
      .union(nation.select(t(iriCol("n:", col("n_nationkey")), SUBCLASS,
        iriCol("r:", col("n_regionkey")))))
      .union(nation.select(t(iriCol("r:", col("n_regionkey")), SUBCLASS,
        TermCols.const(Term.iri(NS + "World")))).distinct())
      .select(col("x.s").as("s"), col("x.p").as("p"), col("x.o").as("o"))

    val rules = Rules.parse(
      """[rdfs8: (?a rdfs:subClassOf ?b), (?b rdfs:subClassOf ?c) -> (?a rdfs:subClassOf ?c)]
         [rdfs9: (?x rdfs:subClassOf ?y), (?a rdf:type ?x) -> (?a rdf:type ?y)]""")
    Rules.closure(triples, rules)
      .filter(col("p.lex") === RDF_TYPE)
      .select(col("s.lex").as("inst"), col("o.lex").as("cls"))
  }

  /**
   * Oracle-gated GOAL-DIRECTED inference (graft.reason.Lp — the
   * reference's LPBRuleEngine/FBRuleReasoner analog): each nation
   * becomes a small document-KG (its customers' rdf:type triples plus
   * the nation→region→World rdfs:subClassOf spine), the BACKWARD rule
   * set is broadcast, and every document answers only the goal
   * `?x rdf:type urn:g:World` inside mapPartitions — the engine walks
   * the subclass chain goal-first instead of materializing the closure,
   * the property that matters when the goal is selective over billions
   * of per-document KGs. The DuckDB oracle restates the reachability
   * relationally.
   */
  def v5_lp_goal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
      .as[(Long, Long)]
    // nation→region spine: 25 rows — broadcast into the doc builder
    val natMap = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_regionkey").cast("long"))
      .as[(Long, Long)].collect().toMap
    val bcNat = s.sparkContext.broadcast(natMap)
    val docs = cust.groupByKey(_._2).mapGroups { (nk, it) =>
      val rk = bcNat.value(nk)
      val spine = Seq(
        graft.model.Triple(Term.iri(s"${NS}n:$nk"), Term.iri(SUBCLASS),
          Term.iri(s"${NS}r:$rk")),
        graft.model.Triple(Term.iri(s"${NS}r:$rk"), Term.iri(SUBCLASS),
          Term.iri(NS + "World")))
      val members = it.map { case (ck, _) =>
        graft.model.Triple(Term.iri(s"${NS}c:$ck"), Term.iri(RDF_TYPE),
          Term.iri(s"${NS}n:$nk"))
      }.toSeq
      (nk, members ++ spine)
    }
    val backwardRules =
      """[rdfs8b: (?a rdfs:subClassOf ?c) <- (?a rdfs:subClassOf ?b), (?b rdfs:subClassOf ?c)]
         [rdfs9b: (?a rdf:type ?y) <- (?x rdfs:subClassOf ?y), (?a rdf:type ?x)]"""
    graft.reason.Lp.answerPerDoc(docs, backwardRules,
      (None, Some(Term.iri(RDF_TYPE)), Some(Term.iri(NS + "World"))))
      .flatMap { case (nk, ts) => ts.map(t => (nk, t.s.lex)) }
      .toDF("nation_key", "inst")
  }

  /**
   * Oracle-gated MAGIC-SETS inference (graft.reason.Magic): the same
   * goal as v5 (`?x rdf:type urn:g:World`) answered over ONE huge KG —
   * the backward rule set is magic-compiled into a forward program
   * whose semi-naive DataFrame closure derives only the goal's
   * dependency cone, so goal-directed queries run set-at-a-time through
   * Catalyst instead of tuple-at-a-time per document. Same relational
   * oracle as v5 modulo the per-document grouping.
   */
  def v6_magic_goal(s: SparkSession, d: String): DataFrame = {
    val customer = Tables.customer(s, d)
    val nation = Tables.nation(s, d)
    def iriCol(prefix: String, c: Column) =
      TermCols.iriTerm(concat(lit(NS + prefix), c.cast("string")))
    def t(sC: Column, p: String, oC: Column) =
      struct(sC.as("s"), TermCols.const(Term.iri(p)).as("p"), oC.as("o")).as("x")
    val triples = customer
      .select(t(iriCol("c:", col("c_custkey")), RDF_TYPE,
        iriCol("n:", col("c_nationkey"))))
      .union(nation.select(t(iriCol("n:", col("n_nationkey")), SUBCLASS,
        iriCol("r:", col("n_regionkey")))))
      .union(nation.select(t(iriCol("r:", col("n_regionkey")), SUBCLASS,
        TermCols.const(Term.iri(NS + "World")))).distinct())
      .select(col("x.s").as("s"), col("x.p").as("p"), col("x.o").as("o"))
    val rules = Rules.parseFull(
      """[rdfs8b: (?a rdfs:subClassOf ?c) <- (?a rdfs:subClassOf ?b), (?b rdfs:subClassOf ?c)]
         [rdfs9b: (?a rdf:type ?y) <- (?x rdfs:subClassOf ?y), (?a rdf:type ?x)]""")
    graft.reason.Magic.answer(triples, rules.rules,
      (None, Term.iri(RDF_TYPE), Some(Term.iri(NS + "World"))))
      .select(col("s.lex").as("inst"))
  }

  /**
   * Oracle-gated OWL-micro closure (graft.reason.Owl — the reference's
   * OWLMicroReasoner analog): customers link to nations through an
   * object property, and a small ontology drives FIVE distinct OWL
   * inference shapes end-to-end through the driver-side schema compile +
   * distributed semi-naive closure:
   *   - rdfs:domain            → every customer is a g:Agent
   *   - rdfs:range             → every referenced nation is a g:Place
   *   - owl:someValuesFrom     → recognition types customers g:HasPlace
   *   - rdfs:subClassOf        → …and therefore g:Connected
   *   - owl:intersectionOf     → the hook-compiled ground rule types
   *                              (Agent ∧ HasPlace) as g:PlacedAgent
   * The DuckDB oracle restates each consequence relationally.
   */
  def v7_owl_micro(s: SparkSession, d: String): DataFrame = {
    val interesting = Seq("Agent", "Place", "HasPlace", "Connected",
      "PlacedAgent").map(NS + _)
    graft.reason.Owl.closure(v7Triples(s, d))
      .filter(col("p.lex") === RDF_TYPE &&
        col("o.lex").isin(interesting: _*) &&
        (col("s.lex").startsWith(NS + "c:") || col("s.lex").startsWith(NS + "n:")))
      .select(col("s.lex").as("inst"), col("o.lex").as("cls"))
  }

  /** v7's ABox+TBox input frame. */
  private def v7Triples(s: SparkSession, d: String): DataFrame = {
    val customer = Tables.customer(s, d)
    def iriCol(prefix: String, c: Column) =
      TermCols.iriTerm(concat(lit(NS + prefix), c.cast("string")))
    def t(sC: Column, p: String, oC: Column) =
      struct(sC.as("s"), TermCols.const(Term.iri(p)).as("p"), oC.as("o")).as("x")
    val data = customer
      .select(t(iriCol("c:", col("c_custkey")), NS + "inNation",
        iriCol("n:", col("c_nationkey"))))
      .select(col("x.s").as("s"), col("x.p").as("p"), col("x.o").as("o"))
    // the ontology (TBox): 11 triples, built inline
    def T(s0: String, p0: String, o0: String) = graft.model.Triple(
      Term.iri(s0), Term.iri(p0), Term.iri(o0))
    val RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val OWLNS = "http://www.w3.org/2002/07/owl#"
    val tbox = Seq(
      T(NS + "inNation", "http://www.w3.org/2000/01/rdf-schema#domain", NS + "Agent"),
      T(NS + "inNation", "http://www.w3.org/2000/01/rdf-schema#range", NS + "Place"),
      T(NS + "HasPlace", OWLNS + "onProperty", NS + "inNation"),
      T(NS + "HasPlace", OWLNS + "someValuesFrom", NS + "Place"),
      T(NS + "HasPlace", SUBCLASS, NS + "Connected"),
      T(NS + "PlacedAgent", OWLNS + "intersectionOf", NS + "l1"),
      T(NS + "l1", RDFNS + "first", NS + "Agent"),
      T(NS + "l1", RDFNS + "rest", NS + "l2"),
      T(NS + "l2", RDFNS + "first", NS + "HasPlace"),
      T(NS + "l2", RDFNS + "rest", RDFNS + "nil"))
    import s.implicits._
    data.unionAll(s.createDataset(tbox).toDF())
  }

  /** owl:sameAs canonicalization end-to-end (Owl.canonicalize, the
   * opt-in WebPIE-style pass): every third customer gets a 3-member
   * alias chain c:<k> → b:<k> → a:<k> (two directed sameAs edges, so
   * the component only closes through the CC transitivity), with facts
   * attached to DIFFERENT members — the segment on the c-alias, the
   * nation on the b-alias. After canonicalization both facts sit on the
   * min member a:<k>, the sameAs triples are gone, and untouched
   * control entities (x:<k>) pass through unchanged. The oracle
   * restates the rewrite relationally. */
  def v8_sameas_canon(s: SparkSession, d: String): DataFrame = {
    val customer = Tables.customer(s, d)
    val sameAs = Term.iri("http://www.w3.org/2002/07/owl#sameAs")
    def node(pfx: String) =
      TermCols.iriTerm(concat(lit(NS + pfx + ":"), col("c_custkey").cast("string")))
    val sel = customer.where(col("c_custkey") % 3 === 0)
    val rest = customer.where(col("c_custkey") % 3 =!= 0)
    val g = sel.select(node("c").as("s"), TermCols.const(sameAs).as("p"),
        node("b").as("o"))
      .unionAll(sel.select(node("b").as("s"), TermCols.const(sameAs).as("p"),
        node("a").as("o")))
      .unionAll(sel.select(node("c").as("s"),
        TermCols.const(Term.iri(NS + "seg")).as("p"),
        TermCols.strTerm(col("c_mktsegment")).as("o")))
      .unionAll(sel.select(node("b").as("s"),
        TermCols.const(Term.iri(NS + "nat")).as("p"),
        TermCols.strTerm(col("c_nationkey").cast("string")).as("o")))
      .unionAll(rest.select(node("x").as("s"),
        TermCols.const(Term.iri(NS + "seg")).as("p"),
        TermCols.strTerm(col("c_mktsegment")).as("o")))
    graft.reason.Owl.canonicalize(g)
      .select(TermCols.lex(col("s")).as("s"), TermCols.lex(col("p")).as("p"),
        TermCols.lex(col("o")).as("o"))
  }

  val oracle: Map[String, String] = Map(
    "v8_sameas_canon" -> s"""
      SELECT '${NS}a:' || c_custkey AS s, '${NS}seg' AS p, c_mktsegment AS o
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT '${NS}a:' || c_custkey, '${NS}nat', CAST(c_nationkey AS VARCHAR)
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT '${NS}x:' || c_custkey, '${NS}seg', c_mktsegment
      FROM customer WHERE c_custkey % 3 <> 0
      """,
    "v7_owl_micro" -> s"""
      WITH c AS (SELECT '${NS}c:' || c_custkey AS i,
                        '${NS}n:' || c_nationkey AS n FROM customer)
      SELECT i AS inst, '${NS}Agent' AS cls FROM c
      UNION ALL SELECT i, '${NS}HasPlace' FROM c
      UNION ALL SELECT i, '${NS}Connected' FROM c
      UNION ALL SELECT i, '${NS}PlacedAgent' FROM c
      UNION ALL SELECT DISTINCT n, '${NS}Place' FROM c
      """,
    "v6_magic_goal" -> s"""
      SELECT '${NS}c:' || c_custkey AS inst FROM customer
      """,
    "v5_lp_goal" -> s"""
      SELECT c_nationkey AS nation_key, '${NS}c:' || c_custkey AS inst
      FROM customer
      """,
    "v2_rules" -> s"""
      SELECT '${NS}c:' || c_custkey AS inst, '${NS}n:' || c_nationkey AS cls
      FROM customer
      UNION ALL
      SELECT '${NS}c:' || c_custkey, '${NS}r:' || n_regionkey
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      UNION ALL
      SELECT '${NS}c:' || c_custkey, '${NS}World' FROM customer
      """)
}
