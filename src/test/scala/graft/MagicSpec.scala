package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{Term, Triple}
import graft.reason.{Lp, Magic, Rules}

/** Magic-sets rewrite: the goal-directed DataFrame face must agree with
 * the tuple-at-a-time LP engine on every goal, and must derive a
 * strictly smaller closure than the unrestricted forward program when
 * the goal is selective (the whole point of the transformation). */
class MagicSpec extends AnyFunSuite {

  private val T = Term.iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
  private val sC = Term.iri("http://www.w3.org/2000/01/rdf-schema#subClassOf")
  private def n(x: String) = Term.iri(x)

  private val rdfsBackward = Rules.parseFull(
    """[rdfs8b: (?a rdfs:subClassOf ?c) <- (?a rdfs:subClassOf ?b), (?b rdfs:subClassOf ?c)]
       [rdfs9b: (?a rdf:type ?y) <- (?x rdfs:subClassOf ?y), notEqual(?x, ?y), (?a rdf:type ?x)]""")

  /** Deterministic pseudo-random class DAG + instances (no RNG — seeds
   * via arithmetic), same discipline as the corpus fixtures. */
  private def graph(classes: Int, insts: Int): Seq[Triple] = {
    val sub = (1 until classes).flatMap { i =>
      val parents = Seq(i / 2) ++ (if (i % 3 == 0) Seq(i / 3) else Nil)
      parents.filter(_ < i).distinct.map(p =>
        Triple(n(s"c$i"), sC, n(s"c$p")))
    }
    val ty = (0 until insts).map(i =>
      Triple(n(s"i$i"), T, n(s"c${1 + i % (classes - 1)}")))
    sub ++ ty
  }

  test("magic answers equal the LP engine on every goal shape") {
    val data = graph(12, 9)
    val lp = Lp.hybrid(data, rdfsBackward)
    val goals = Seq(
      (None, T, Some(n("c0"))),             // ?x type c0   (fb)
      (Some(n("i3")), T, None),             // i3 type ?y   (bf)
      (None, T, None),                      // ?x type ?y   (ff)
      (Some(n("c6")), sC, None),            // c6 subClassOf ?y
      (None, sC, Some(n("c1"))),            // ?x subClassOf c1
      (Some(n("i1")), T, Some(n("c0"))))    // ground ask   (bb)
    goals.foreach { g =>
      val got = Magic.answerLocal(data, rdfsBackward.rules, g)
      val want = lp.find(g._1, Some(g._2), g._3)
      assert(got == want, s"goal $g")
    }
  }

  test("the magic cone is strictly smaller than the full closure") {
    // two disjoint class towers; the goal touches only tower A — the
    // magic program must not derive tower B's closure
    val a = (1 to 30).map(i => Triple(n(s"a$i"), sC, n(s"a${i - 1}")))
    val b = (1 to 30).map(i => Triple(n(s"b$i"), sC, n(s"b${i - 1}")))
    val ty = Seq(Triple(n("x"), T, n("a30")), Triple(n("y"), T, n("b30")))
    val data = a ++ b ++ ty
    val goal = (Some(n("x")), T, None)
    val got = Magic.answerLocal(data, rdfsBackward.rules, goal)
    assert(got == (0 to 30).map(i => Triple(n("x"), T, n(s"a$i"))).toSet)
    val magicClosure = Rules.closureLocal(data,
      Magic.compile(rdfsBackward.rules, goal))
    val derived = magicClosure -- data
    // the sharp property: nothing about tower B is ever derived — the
    // magic cone covers tower A only (within A it is as wide as the LP
    // engine's own tabled subgoals, i.e. quadratic in A's spine)
    assert(!derived.exists(t =>
      t.s.lex.startsWith("b") || t.o.lex.startsWith("b")),
      "magic program derived tower-B facts")
    val fullForward = Rules.parse(
      """[rdfs8: (?a rdfs:subClassOf ?b), (?b rdfs:subClassOf ?c) -> (?a rdfs:subClassOf ?c)]
         [rdfs9: (?x rdfs:subClassOf ?y), (?a rdf:type ?x) -> (?a rdf:type ?y)]""")
    val fullSize = Rules.closureLocal(data, fullForward).size
    info(s"magic closure ${magicClosure.size} facts vs full closure $fullSize")
    assert(magicClosure.size < fullSize,
      s"magic closure not goal-directed: ${magicClosure.size} vs $fullSize")
  }

  test("guards ride into the transformed program") {
    // rdfs9b carries notEqual(?x,?y): a reflexive subclass loop must not
    // poison the transformed program or duplicate answers
    val data = Seq(
      Triple(n("c1"), sC, n("c1")), Triple(n("c1"), sC, n("c0")),
      Triple(n("i"), T, n("c1")))
    val goal = (Some(n("i")), T, None)
    val got = Magic.answerLocal(data, rdfsBackward.rules, goal)
    val want = Lp.hybrid(data, rdfsBackward).find(Some(n("i")), Some(T), None)
    assert(got == want)
  }

  test("non-derived goal predicates answer straight from the data") {
    val data = graph(6, 4)
    val goal = (None, Term.iri("urn:absent"), None)
    assert(Magic.answerLocal(data, rdfsBackward.rules, goal).isEmpty)
  }

  test("ff goal with a constant-argument IDB subgoal: ground magic fact seeds as an axiom") {
    // r1's ff adornment pushes no magic atom; its first body atom is an
    // IDB subgoal with a CONSTANT subject, so the magic rule's body is
    // EMPTY — the fact must be seeded as an axiom (an empty-body rule
    // never fires in the forward engines), or answers silently vanish
    val rules = Rules.parseFull(
      """[r1: (?x <urn:p> ?y) <- (<urn:a> <urn:q> ?x), (?x <urn:e> ?y)]
         [r2: (?s <urn:q> ?o) <- (?s <urn:base> ?o)]""")
    val data = Seq(
      Triple(n("urn:a"), n("urn:base"), n("urn:m")),
      Triple(n("urn:m"), n("urn:e"), n("urn:z")))
    val goal = (None, n("urn:p"), None)
    val got = Magic.answerLocal(data, rules.rules, goal)
    val want = Lp.hybrid(data, rules).find(None, Some(n("urn:p")), None)
    assert(want == Set(Triple(n("urn:m"), n("urn:p"), n("urn:z"))))
    assert(got == want, s"magic face lost the empty-body magic seed: $got")
  }

  test("isLiteral/notLiteral guards run on both forward faces (doc-promised subset)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rules = Rules.parseFull(
      """[r: (?s <urn:named> ?o) <- (?s <urn:v> ?o), notLiteral(?o)]""")
    val data = Seq(
      Triple(n("urn:x"), n("urn:v"), n("urn:iri-obj")),
      Triple(n("urn:x"), n("urn:v"), Term.lit("5", Term.XSD_INTEGER)))
    val goal = (None, n("urn:named"), None)
    val want = Set(Triple(n("urn:x"), n("urn:named"), n("urn:iri-obj")))
    assert(Magic.answerLocal(data, rules.rules, goal) == want)
    val df = spark.createDataset(data).toDF()
    val got = TestSpark.withFixpointBudget(0)(
      Magic.answer(df, rules.rules, goal).as[Triple].collect().toSet)
    assert(got == want)
  }

  test("rule-set overloads seed the file's ground axioms into the data") {
    val rules = Rules.parseFull(
      """-> (<urn:a> <urn:base> <urn:b>).
         [r: (?s <urn:q> ?o) <- (?s <urn:base> ?o)]""")
    val goal = (None, n("urn:q"), None)
    // bare-rules call misses the axiom-derived answer; the set overload
    // must match Lp.hybrid (which always seeds rs.axioms)
    val want = Lp.hybrid(Nil, rules).find(None, Some(n("urn:q")), None)
    assert(want.nonEmpty)
    assert(Magic.answerLocal(Nil, rules, goal) == want)
  }

  test("unbound guard vars are rejected at compile, not crashed at run") {
    val rules = Rules.parseFull(
      """[r: (?x <urn:p> ?y) <- (?x <urn:q> ?y), notEqual(?x, ?z)]""")
    val e = intercept[IllegalArgumentException](
      Magic.answerLocal(Nil, rules.rules, (None, n("urn:p"), None)))
    assert(e.getMessage.contains("guard var"), e.getMessage)
  }

  test("DataFrame face: magic answer over one big KG matches the local face") {
    val spark = TestSpark.spark
    import spark.implicits._
    val data = graph(10, 40)
    val df = spark.createDataset(data).toDF()
    val goal = (None, T, Some(n("c0")))
    // budget 0 pins the distributed loop so the cross-face comparison
    // stays meaningful under the adaptive driver budget
    val got = TestSpark.withFixpointBudget(0)(
      Magic.answer(df, rdfsBackward.rules, goal).as[Triple].collect().toSet)
    val want = Magic.answerLocal(data, rdfsBackward.rules, goal)
    assert(got == want && got.nonEmpty)
  }
}
