package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algebra._
import graft.model.{Term, Triple}
import graft.ops.Graphs

/**
 * Bound-endpoint (seeded / ALP-analog) property-path evaluation
 * (reference: jena-arq/.../path/eval/PathEngine.java:49–122 — BFS seeded
 * at the bound node; PathEngineSPARQL.java:36). Three gates:
 *
 *  1. TRACE: a constant-root `+` query over a graph with a large far
 *     component finishes in cone-depth closure rounds and materializes
 *     only the cone's pairs — never the global closure.
 *  2. EQUIVALENCE: for every closure-bearing path shape, on the struct,
 *     id-encoded and per-graph (GRAPH ?var) faces, the seeded result
 *     equals the global pairs restricted to the endpoint — const-subject,
 *     const-object, and join-bound variants.
 *  3. ENCODED: the id-space seeded walk (EncodedSnapshotGraph) matches
 *     the struct-space result.
 */
class SeededPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val EX = "http://example/"
  private def i(s: String) = Term.iri(EX + s)
  private def v(n: String) = TVar(n)
  private def c(t: Term) = TConst(t)
  private val P = EX + "p"

  /** root→a1→a2→a3 cone PLUS a disjoint 40-cycle (diameter 40, closure
   * 1600 pairs) — the "big far component" a seeded walk must never touch. */
  private lazy val coneAndCycle: DataFrame = {
    val cone = Seq(
      Triple(i("root"), i("p"), i("a1")),
      Triple(i("a1"), i("p"), i("a2")),
      Triple(i("a2"), i("p"), i("a3")))
    val cycle = (0 until 40).map(k =>
      Triple(i(s"c$k"), i("p"), i(s"c${(k + 1) % 40}")))
    spark.createDataset(cone ++ cycle).toDF()
  }

  /** A denser random-ish graph for the equivalence sweep: 60 nodes, edges
   * n_k -p-> n_{(k*7+3)%60} and n_k -q-> n_{(k*13+5)%60} for k % 3 != 0. */
  private lazy val randomEdges: Seq[Triple] = (0 until 60).flatMap { k =>
    val base = Seq(Triple(i(s"n$k"), i("p"), i(s"n${(k * 7 + 3) % 60}")))
    if (k % 3 != 0) base :+ Triple(i(s"n$k"), i("q"), i(s"n${(k * 13 + 5) % 60}"))
    else base
  }
  private lazy val randomGraph: DataFrame = spark.createDataset(randomEdges).toDF()

  /** [[randomGraph]] as an id-encoded store snapshot. */
  private lazy val randomEncoded: Compiler.EncodedSnapshotGraph = {
    val dir = java.nio.file.Files.createTempDirectory("graft_seeded_enc")
      .toString + "/snap"
    graft.store.TripleStore.materializeEncoded(
      randomGraph.withColumn("repo", lit("r0")).withColumn("lang", lit("x")),
      dir, None, partitions = 2)
    Compiler.EncodedSnapshotGraph(spark, dir)
  }

  /** [[randomEdges]] spread over two named graphs, every third edge in
   * both, as a (g, s, p, o) frame: a walk that crossed graphs would reach
   * pairs that neither graph holds alone. */
  private lazy val randomQuads: DataFrame = {
    import graft.model.Quad
    val qs = randomEdges.zipWithIndex.flatMap { case (t, k) =>
      val home = Quad(t.s, t.p, t.o, i(s"g${k % 2}"))
      if (k % 3 == 0) Seq(home, home.copy(g = i(s"g${(k + 1) % 2}"))) else Seq(home)
    }
    spark.createDataset(qs).toDF().select("g", "s", "p", "o")
  }

  private def lexSet(df: DataFrame, col0: String): Set[String] =
    df.select(col(col0).getField("lex")).collect().map(_.getString(0)).toSet

  /** (graph, src, dst) lexical forms of a pair frame; graph "" without g. */
  private def pairSet(df: DataFrame): Set[(String, String, String)] = {
    val g = if (df.columns.contains("g")) col("g").getField("lex") else lit("")
    df.select(g, col("src").getField("lex"), col("dst").getField("lex"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  private def swapped(df: DataFrame): DataFrame =
    df.select(df.columns.filter(_ == "g").map(col) ++
      Seq(col("dst").as("src"), col("src").as("dst")): _*)

  test("trace: constant-root p+ walks the cone, not the global closure") {
    val out = Compiler.compile(
      PathPattern(c(i("root")), POneOrMore(PLink(P)), v("x")), coneAndCycle)
    assert(lexSet(out, "x") == Set(EX + "a1", EX + "a2", EX + "a3"))
    // the seeded loop stops after cone-depth rounds (3 hops + the empty
    // delta round), far under the cycle's diameter
    assert(Graphs.lastClosureRounds <= 4,
      s"seeded closure ran ${Graphs.lastClosureRounds} rounds — global closure?")

    // and the GLOBAL closure of the same edge set genuinely needs many
    // more rounds (so the assert above is discriminating)
    val edges = Compiler.compile(
      PathPattern(v("s"), PLink(P), v("o")), coneAndCycle)
      .select(col("s").as("src"), col("o").as("dst"))
    val full = Graphs.transitiveClosure(edges)
    assert(Graphs.lastClosureRounds > 10)
    assert(full.count() > 1600) // 40-cycle all-pairs + cone pairs
  }

  test("trace: constant-OBJECT p+ seeds the inverse walk") {
    val out = Compiler.compile(
      PathPattern(v("x"), POneOrMore(PLink(P)), c(i("a3"))), coneAndCycle)
    assert(lexSet(out, "x") == Set(EX + "root", EX + "a1", EX + "a2"))
    assert(Graphs.lastClosureRounds <= 4)
  }

  test("trace: join-bound endpoint seeds from the partner's values") {
    // left binds ?x = root via a q-edge; the path side walks p+ from it
    val g2 = coneAndCycle.union(
      spark.createDataset(Seq(Triple(i("anchor"), i("q"), i("root")))).toDF())
    val op = Join(
      Bgp(Seq(TriplePattern(c(i("anchor")), c(i("q")), v("x")))),
      PathPattern(v("x"), POneOrMore(PLink(P)), v("y")))
    val out = Compiler.compile(op, g2)
    assert(lexSet(out, "y") == Set(EX + "a1", EX + "a2", EX + "a3"))
    assert(Graphs.lastClosureRounds <= 4)
  }

  /** The path evaluator's three spaces over the same edges, each with the
   * seed frame of a set of terms. */
  private def faces: Seq[(String, PathEval.Space, Seq[Term] => DataFrame)] = {
    def terms(ts: Seq[Term]): DataFrame = ts.map(t => spark.range(1)
      .select(TermCols.const(t).as("n"))).reduce(_ union _)
    // per-graph seeds: (g, n) for every named graph and seed term
    def perGraph(ts: Seq[Term]): DataFrame =
      randomQuads.select(col("g")).distinct().crossJoin(terms(ts))
    Seq(
      ("struct", PathEval.Terms(Compiler.DfGraph(randomGraph)), terms),
      ("encoded", PathEval.Terms(randomEncoded), terms),
      ("per-graph", PathEval.PerGraph(randomQuads), perGraph))
  }

  test("equivalence: seeded == global-filtered for every closure shape") {
    val Q = EX + "q"
    val shapes: Seq[Path] = Seq(
      POneOrMore(PLink(P)),
      PZeroOrMore(PLink(P)),
      PSeq(PLink(Q), POneOrMore(PLink(P))),
      PSeq(POneOrMore(PLink(P)), PLink(Q)),
      PAlt(POneOrMore(PLink(P)), PLink(Q)),
      PMod(PLink(P), 2, -1),
      PMod(PAlt(PLink(P), PLink(Q)), 0, -1),
      PInverse(POneOrMore(PLink(P))),
      PDistinct(PSeq(POneOrMore(PLink(P)), PZeroOrOne(PLink(Q)))),
      // nested closure: the inner closure's checkpointed output unions
      // with a scan and feeds the OUTER closure's input materialization —
      // the UnionBase.rewriteConstraints hazard shape (materializeGuarded)
      POneOrMore(PAlt(POneOrMore(PLink(P)), PLink(Q))),
      PFixedLength(POneOrMore(PLink(Q)), 2),
      PMod(PLink(Q), 1, 3),
      PMulti(PZeroOrMore(PLink(Q))),
      // a negated property set is not id-expressible: on the encoded
      // snapshot the closure beside it still evaluates in id space
      PSeq(PNegPropSet(Seq(P), Nil), PZeroOrMore(PLink(Q))))
    val roots = Seq("n0", "n7", "n31")
    for ((face, sp, frame) <- faces; path <- shapes) {
      val global = pairSet(PathEval.eval(sp, path, None))
      for (r <- roots) {
        // const subject
        val gotS = PathEval.seeded(sp, path, Left(i(r)))
        assert(pairSet(gotS) == global.filter(_._2 == EX + r),
          s"$face: src-seeded $path from $r")
        // const object (seed the inverse, swap)
        val gotO = swapped(PathEval.seeded(sp, PathEval.inverse(path), Left(i(r))))
        assert(pairSet(gotO) == global.filter(_._3 == EX + r),
          s"$face: dst-seeded $path into $r")
      }
      // a join-bound seed frame
      val rootLex = roots.map(EX + _).toSet
      assert(pairSet(PathEval.seeded(sp, path, Right(frame(roots.map(i))))) ==
        global.filter(t => rootLex(t._2)), s"$face: frame-seeded $path")
    }
  }

  test("equivalence: seeded compile == global compile for a join") {
    // ?s q ?x . ?x p+ ?y — compare the (seeded) Join compile against the
    // manually joined global evaluation
    val op = Join(
      Bgp(Seq(TriplePattern(v("s"), c(i("q")), v("x")))),
      PathPattern(v("x"), POneOrMore(PLink(P)), v("y")))
    val got = Compiler.compile(op, randomGraph)
      .select(col("x").getField("lex").as("x"), col("y").getField("lex").as("y"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

    val qEdges = Compiler.compile(
      PathPattern(v("s"), PLink(EX + "q"), v("o")), randomGraph)
    val closure = PathEval.eval(PathEval.Terms(Compiler.DfGraph(randomGraph)),
      POneOrMore(PLink(P)), None)
    val exp = qEdges.select(col("o").as("xv"))
      .join(closure, col("xv") === col("src"))
      .select(col("xv").getField("lex").as("x"), col("dst").getField("lex").as("y"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == exp)
  }

  test("closure loops never touch the caller session's conf (isolated session)") {
    val cpKey = "spark.sql.constraintPropagation.enabled"
    spark.conf.set(cpKey, "true")
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        observed.add(spark.conf.get(cpKey, "true")); Thread.sleep(5)
      }
    })
    sampler.start()
    try {
      val edges = Compiler.compile(
        PathPattern(v("s"), PLink(P), v("o")), coneAndCycle)
        .select(col("s").as("src"), col("o").as("dst"))
      val full = Graphs.transitiveClosure(edges)
      assert(full.count() > 0)
      val cone = Graphs.reachableFrom(edges,
        spark.range(1).select(TermCols.const(i("root")).as("n")))
      assert(cone.count() == 3)
    } finally { sampling = false; sampler.join(); spark.conf.unset(cpKey) }
    // the main session's conf must read "true" at EVERY sample — the
    // loop's constraint-propagation toggle lives in its isolated session
    // (the bounded materializeGuarded window is serialized but restores
    // before any result is visible; tolerate zero "false" observations)
    assert(observed.size() > 0)
    assert(!observed.contains("false"),
      s"caller conf flipped during closure: ${observed.size()} samples")
  }

  test("closure rounds broadcast the small frontier against the edge relation") {
    import spark.implicits._
    // representative round shape: a big edge relation, a tiny frontier —
    // the join must come out broadcast (shuffle-free round), which is the
    // structural reason seeded cone walks stay cheap at cluster scale
    val e = (0 until 50000).map(k => (k.toLong, (k * 7 + 3) % 50000L))
      .toDF("src", "dst").localCheckpoint(true)
    val frontier = Seq((1L, 10L), (2L, 17L), (3L, 24L))
      .toDF("src", "dst").localCheckpoint(true)
    val next = frontier.alias("f")
      .join(e.alias("e"), col("f.dst") === col("e.src"))
      .select(col("f.src").as("src"), col("e.dst").as("dst"))
    next.collect()
    val plan = next.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "frontier probe should broadcast:\n" + plan)
  }

  test("zero-length const endpoint absent from graph still self-matches") {
    // { ?s :p* :nowhere } binds ?s = :nowhere (SPARQL 18.4 ZeroLengthPath)
    val out = Compiler.compile(
      PathPattern(v("s"), PZeroOrMore(PLink(P)), c(i("nowhere"))), coneAndCycle)
    assert(lexSet(out, "s") == Set(EX + "nowhere"))
    val out2 = Compiler.compile(
      PathPattern(c(i("nowhere")), PZeroOrMore(PLink(P)), v("o")), coneAndCycle)
    assert(lexSet(out2, "o") == Set(EX + "nowhere"))
  }

  test("GRAPH ?var: constant-root closure seeds per-graph cones") {
    import graft.model.Quad
    val EXq = EX
    def q(s: String, o: String, gn: String) = Quad(
      i(s), i("p"), i(o), i(gn))
    // g1: root→a→b plus a 30-cycle; g2: root→x only
    val quads =
      Seq(q("root", "a", "g1"), q("a", "b", "g1"), q("root", "x", "g2")) ++
        (0 until 30).map(k => q(s"c$k", s"c${(k + 1) % 30}", "g1"))
    val gdf = spark.createDataset(quads).toDF()
    spark.conf.set("graft.graphVarEnumMax", "0") // single-plan only
    try {
      val out = Compiler.compile(GraphVarEnum("gr",
        PathPattern(c(i("root")), POneOrMore(PLink(EXq + "p")), v("y"))), gdf)
      val rows = out.select(col("gr").getField("lex"), col("y").getField("lex"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows == Set(
        (EXq + "g1", EXq + "a"), (EXq + "g1", EXq + "b"), (EXq + "g2", EXq + "x")))
      // the seeded per-graph walk stops at cone depth, not cycle diameter
      assert(Graphs.lastClosureRounds <= 4,
        s"per-graph seeded closure ran ${Graphs.lastClosureRounds} rounds")
    } finally spark.conf.unset("graft.graphVarEnumMax")
  }

  test("encoded snapshot: id-space seeded walk matches struct result") {
    val esg = randomEncoded
    val out = Compiler.compile(
      PathPattern(c(i("n0")), POneOrMore(PLink(P)), v("x")), esg)
    val expected = Compiler.compile(
      PathPattern(c(i("n0")), POneOrMore(PLink(P)), v("x")),
      Compiler.DfGraph(randomGraph))
    assert(lexSet(out, "x") == lexSet(expected, "x"))
    assert(lexSet(out, "x").nonEmpty)
  }
}
