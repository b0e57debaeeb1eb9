package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algebra._
import graft.model.{Term, Triple}

/**
 * Physical-plan shape tests — "explain the plan and iterate until it's the
 * plan you'd want" made executable. Each assertion pins a plan property
 * that matters at 100 TB: top-k fusion, scan-level filter pushdown, column
 * pruning, broadcast vs shuffle join selection, partial aggregation.
 */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val EX = "http://example/"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private lazy val tripleDir: String = {
    val dir = Files.createTempDirectory("plan_triples").toString
    val ts = (1 to 2000).map(k => Triple(
      Term.iri(EX + "s" + k), Term.iri(EX + "p" + (k % 7)),
      Term.lit(k.toString, Term.XSD_INTEGER)))
    graft.store.TripleStore.flatten(
      spark.createDataset(ts).toDF()
        .withColumn("repo", lit("r0")).withColumn("lang", lit("x")),
      graft.store.TripleStore.TripleSlots, Seq("repo", "lang"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("ORDER BY + LIMIT fuses into TakeOrderedAndProject (OpTopN analog)") {
    val g = spark.createDataset((1 to 100).map(k =>
      Triple(Term.iri(EX + k), Term.iri(EX + "p"), Term.lit(k.toString, Term.XSD_INTEGER)))).toDF()
    val op = Slice(0, 5, Order(Seq(SortKey("o")),
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "p")), TVar("o"))))))
    val df = Compiler.compile(op, g)
    assert(plan(df).contains("TakeOrderedAndProject"),
      "top-k must fuse (no global sort):\n" + plan(df))
  }

  test("triple-pattern constants reach the parquet scan as pushed filters") {
    val df = spark.read.parquet(tripleDir).where(col("p_lex") === (EX + "p3"))
      .select("s_lex", "o_lex")
    val p = plan(df)
    assert(p.contains("EqualTo(p_lex,http://example/p3)") && p.contains("PushedFilters"),
      "predicate must be pushed to parquet:\n" + p)
    // column pruning: the 2-column projection + filter col only — no dt/lang
    val schema = "ReadSchema: struct<s_lex:string,p_lex:string,o_lex:string>"
    assert(p.contains(schema), "column pruning must reach the scan:\n" + p)
  }

  test("BGP self-join keeps hash-join strategy (no cartesian, no BNLJ)") {
    val g = spark.createDataset((1 to 500).map(k => Triple(
      Term.iri(EX + "s" + k), Term.iri(EX + (if (k % 2 == 0) "a" else "b")),
      Term.iri(EX + "s" + (k + 1))))).toDF()
    val op = Bgp(Seq(
      TriplePattern(TVar("x"), TConst(Term.iri(EX + "a")), TVar("y")),
      TriplePattern(TVar("y"), TConst(Term.iri(EX + "b")), TVar("z"))))
    val p = plan(Compiler.compile(op, g))
    assert(p.contains("Join") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      "certain-certain shared vars must compile to an equi-join:\n" + p)
  }

  test("group compiles to partial + final hash aggregation (map-side combine)") {
    val g = spark.createDataset((1 to 300).map(k => Triple(
      Term.iri(EX + "s" + (k % 10)), Term.iri(EX + "p"),
      Term.lit(k.toString, Term.XSD_INTEGER)))).toDF()
    val op = Group(Seq("s"), Seq("n" -> RowExpr(_ => TermCols.intTerm(count(lit(1))))),
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "p")), TVar("o")))))
    val p = plan(Compiler.compile(op, g))
    assert(p.contains("HashAggregate"), "hash aggregation expected:\n" + p)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "partial+final split expected:\n" + p)
  }

  test("maybe-bound shared var decomposes to equi-joins (no BNLJ)") {
    val g = spark.createDataset((1 to 200).map(k => Triple(
      Term.iri(EX + "s" + k),
      Term.iri(EX + (if (k % 2 == 0) "email" else "name")),
      Term.string("v" + k)))).toDF()
    // OPTIONAL over UNION: ?e is maybe-bound on the right (absent in the
    // second branch), ?s certain on both — the round-1 plan degenerated to
    // BroadcastNestedLoopJoin on the `<=> OR IS NULL` condition
    val left = Bgp(Seq(
      TriplePattern(TVar("s"), TConst(Term.iri(EX + "name")), TVar("n")),
      TriplePattern(TVar("s"), TConst(Term.iri(EX + "email")), TVar("e"))))
    val right = Union(
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "email")), TVar("e")))),
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "name")), TVar("a")))))
    val pLeft = plan(Compiler.compile(LeftJoin(left, right), g))
    assert(!pLeft.contains("BroadcastNestedLoopJoin") && !pLeft.contains("CartesianProduct"),
      "decomposed OPTIONAL must stay on equi-joins:\n" + pLeft)
    val pInner = plan(Compiler.compile(Join(left, right), g))
    assert(!pInner.contains("BroadcastNestedLoopJoin") && !pInner.contains("CartesianProduct"),
      "decomposed join must stay on equi-joins:\n" + pInner)
  }

  test("snapshot-backed BGP picks the layout by pattern shape with pushed filters") {
    // scan-node metadata (PushedFilters list) truncates at 100 chars by
    // default — widen so the assertion can see the p_lex equality
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val snapDir = Files.createTempDirectory("plan_snap").toString
    val ts = (1 to 500).map(k => Triple(
      Term.iri(EX + "s" + k), Term.iri(EX + "p" + (k % 5)),
      Term.lit(k.toString, Term.XSD_INTEGER)))
    graft.store.TripleStore.materialize(
      spark.createDataset(ts).toDF()
        .withColumn("repo", lit("r0")).withColumn("lang", lit("x")),
      snapDir, None, partitions = 2)
    val sg = Compiler.SnapshotGraph(spark, snapDir)
    // ?s <p3> ?o — predicate bound ⇒ POS layout, p_lex filter pushed
    val op = Bgp(Seq(TriplePattern(TVar("x"), TConst(Term.iri(EX + "p3")), TVar("y"))))
    val df = Compiler.compile(op, sg)
    val p = plan(df)
    assert(p.contains("/pos"), "predicate-bound pattern must scan POS:\n" + p)
    // PushedFilters prints truncated; the EqualTo on p_kind is visible and
    // the p_lex equality shows in the scan's data filters — together they
    // prove the constant reached the layout scan
    assert(p.contains("PushedFilters: [IsNotNull(p_kind)")
      && p.contains("EqualTo(p_kind,0)") && p.contains("= http://example/p3"),
      "constant must be pushed into the layout scan:\n" + p)
    assert(df.count() == 100)
    // <s7> ?p ?o — subject bound ⇒ SPO layout
    val p2 = plan(Compiler.compile(
      Bgp(Seq(TriplePattern(TConst(Term.iri(EX + "s7")), TVar("p"), TVar("o")))), sg))
    assert(p2.contains("/spo") && p2.contains("= http://example/s7"),
      "subject-bound pattern must scan SPO:\n" + p2)
    // a path link over the snapshot probes POS too (the closure itself
    // checkpoints, so inspect the base pair scan)
    val p3 = plan(PathEval.eval(PathEval.Terms(sg), PLink(EX + "p3"), None))
    assert(p3.contains("/pos"), "path link base scan must use POS:\n" + p3)
  }

  /** Spark jobs launched while `body` runs, counted by a listener between
   * two marker jobs: listener events arrive in order, so once the closing
   * marker's start is seen every job of `body` has been counted, and an
   * earlier test's late events fall before the opening marker. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def awaitMarker(name: String): Int = {
      var n = 0
      var d = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (d != name) {
        assert(d != null, s"marker job $name never reached the listener")
        n += 1
        d = starts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      n
    }
    sc.addSparkListener(listener)
    try {
      marker("jobsDuring-open")
      awaitMarker("jobsDuring-open")
      body
      marker("jobsDuring-close")
      awaitMarker("jobsDuring-close")
    } finally sc.removeSparkListener(listener)
  }

  test("compiling against a store snapshot launches no schema-inference job") {
    import graft.model.Quad
    val ts = (1 to 200).map(k => Triple(
      Term.iri(EX + "s" + (k % 50)), Term.iri(EX + "p" + (k % 3)),
      Term.iri(EX + "s" + ((k + 1) % 50)))).distinct
    val frame = spark.createDataset(ts).toDF()
      .withColumn("repo", lit("r0")).withColumn("lang", lit("x"))
    val bgp = Bgp(Seq(
      TriplePattern(TVar("x"), TConst(Term.iri(EX + "p1")), TVar("y")),
      TriplePattern(TVar("y"), TVar("q"), TVar("z"))))
    val snap = Files.createTempDirectory("plan_jobs_snap").toString
    graft.store.TripleStore.materialize(frame, snap, None, partitions = 2)
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = Compiler.compile(bgp, Compiler.SnapshotGraph(spark, snap)) } == 0,
      "a 2-pattern BGP on SnapshotGraph must compile without a Spark job")
    assert(df.count() == Compiler.compile(bgp, spark.createDataset(ts).toDF()).count())

    val qdir = Files.createTempDirectory("plan_jobs_qsnap").toString
    graft.store.TripleStore.materializeQuads(
      spark.createDataset(ts.map(t => Quad(t.s, t.p, t.o, Term.iri(EX + "g")))).toDF(),
      qdir, None, partitions = 2)
    assert(jobsDuring {
      Compiler.compile(QuadBgp(TVar("g"), bgp.patterns), Compiler.QuadSnapshotGraph(spark, qdir))
    } == 0, "a QuadBgp on QuadSnapshotGraph must compile without a Spark job")

    val edir = Files.createTempDirectory("plan_jobs_enc").toString + "/snap"
    graft.store.TripleStore.materializeEncoded(frame, edir, None, partitions = 2)
    assert(jobsDuring {
      Compiler.compile(bgp, Compiler.EncodedSnapshotGraph(spark, edir))
    } == 1, "on EncodedSnapshotGraph the only compile job is the idsOf dictionary probe")
  }

  /** A LATERAL right side compiles once per distinct left binding, keyed
   * by it: no per-row tag is materialized while compiling. */
  test("compiling a LATERAL with a per-left-row ORDER+LIMIT launches no Spark job") {
    val g = spark.createDataset(Seq(
      Triple(Term.iri(EX + "alice"), Term.iri(EX + "name"), Term.string("Alice")),
      Triple(Term.iri(EX + "alice"), Term.iri(EX + "email"), Term.string("a1@x")),
      Triple(Term.iri(EX + "alice"), Term.iri(EX + "email"), Term.string("a2@x")))).toDF()
    val lat = Lateral(
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "name")), TVar("n")))),
      Slice(0, 1, Order(Seq(SortKey("e")),
        Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "email")), TVar("e")))))))
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = Compiler.compile(lat, g) } == 0)
    assert(df.count() == 1)
  }

  test("quad-snapshot GRAPH patterns pick the quad layout with graph pruning") {
    import graft.model.Quad
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val dir = Files.createTempDirectory("plan_qsnap").toString
    val quads = (1 to 300).map(k => Quad(
      Term.iri(EX + "s" + k), Term.iri(EX + "p" + (k % 3)),
      Term.lit(k.toString, Term.XSD_INTEGER),
      if (k % 5 == 0) Term.defaultGraph else Term.iri(EX + "g" + (k % 2))))
    graft.store.TripleStore.materializeQuads(
      spark.createDataset(quads).toDF(), dir, None, partitions = 2)
    val qsg = Compiler.QuadSnapshotGraph(spark, dir)
    // GRAPH ?gr { ?s <p1> ?o } — predicate bound ⇒ GPOS; default graph excluded
    val df = Compiler.compile(QuadBgp(TVar("gr"),
      Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "p1")), TVar("o")))), qsg)
    val p = plan(df)
    assert(p.contains("/gpos"), "predicate-bound GRAPH pattern must scan GPOS:\n" + p)
    assert(p.contains("= http://example/p1"), "pushed predicate filter expected:\n" + p)
    assert(df.count() == quads.count(q =>
      q.p.lex == EX + "p1" && q.g.lex != Term.DEFAULT_GRAPH))
    // plain BGP over the quad store sees the default graph only
    val dflt = Compiler.compile(
      Bgp(Seq(TriplePattern(TVar("s"), TVar("p"), TVar("o")))), qsg)
    assert(dflt.count() == quads.count(_.g.lex == Term.DEFAULT_GRAPH))
  }

  test("GRAPH ?var compiles to ONE g-keyed plan — no driver enumeration, no N-way union") {
    import graft.model.Quad
    // two named graphs with p-chains that MUST NOT connect across graphs:
    // g1: a->b->c, g2: c->d (so a cross-graph leak would derive (a, d))
    def q(s: String, o: String, g: String) = Quad(
      Term.iri(EX + s), Term.iri(EX + "p"), Term.iri(EX + o), Term.iri(EX + g))
    val quads = Seq(q("a", "b", "g1"), q("b", "c", "g1"), q("c", "d", "g2"))
    val gdf = spark.createDataset(quads).toDF()
    // cap 0: the enumeration fallback would throw — only the single-plan
    // compile can satisfy this test
    spark.conf.set("graft.graphVarEnumMax", "0")
    try {
      val closure = Compiler.compile(GraphVarEnum("g",
        PathPattern(TVar("x"), POneOrMore(PLink(EX + "p")), TVar("y"))), gdf)
      val rows = closure.select(col("g.lex"), col("x.lex"), col("y.lex"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows == Set(
        (EX + "g1", EX + "a", EX + "b"), (EX + "g1", EX + "a", EX + "c"),
        (EX + "g1", EX + "b", EX + "c"), (EX + "g2", EX + "c", EX + "d")),
        s"per-graph closure mismatch: $rows")
      // a BGP+OPTIONAL+FILTER body also stays on the single plan
      val opt = Compiler.compile(GraphVarEnum("g", LeftJoin(
        Bgp(Seq(TriplePattern(TVar("x"), TConst(Term.iri(EX + "p")), TVar("y")))),
        Bgp(Seq(TriplePattern(TVar("y"), TConst(Term.iri(EX + "p")), TVar("z")))),
        None)), gdf)
      assert(opt.count() == 3) // (a,b,+c in g1), (b,c,null in g1), (c,d,null in g2)
      // per-graph scoping: b->c (g1) must NOT join c->d (g2)
      assert(opt.filter(col("z").isNotNull).count() == 1)
      // per-graph LIMIT: a sub-SELECT with ORDER BY + LIMIT inside
      // GRAPH ?g slices WITHIN each graph (rank window over the hidden
      // graph column), still one plan
      val lim = graft.sparql.Sparql.select(
        s"""SELECT ?g ?y WHERE { GRAPH ?g {
              SELECT ?y WHERE { ?x <${EX}p> ?y } ORDER BY ?y LIMIT 1 } }""",
        gdf)
      val rows2 = lim.select(col("g.lex"), col("y.lex"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(rows2 == Set((EX + "g1", EX + "b"), (EX + "g2", EX + "d")),
        s"per-graph LIMIT wrong: $rows2")
      // LATERAL inside GRAPH ?var stays on the single plan (r5): the
      // correlated RHS re-binds the hidden graph column, so per-left-row
      // evaluation never crosses graphs — b->c (g1) must not see c->d (g2)
      val lat = Compiler.compile(GraphVarEnum("g", Lateral(
        Bgp(Seq(TriplePattern(TVar("x"), TConst(Term.iri(EX + "p")), TVar("y")))),
        Distinct(Bgp(Seq(TriplePattern(TVar("y"), TConst(Term.iri(EX + "p")), TVar("z"))))))),
        gdf)
      val rows3 = lat.select(col("g.lex"), col("x.lex"), col("z.lex"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(rows3 == Set((EX + "g1", EX + "a", EX + "c")),
        s"LATERAL-in-GRAPH?var leak: $rows3")
    } finally spark.conf.unset("graft.graphVarEnumMax")
    // zero named graphs: GRAPH ?g over ANY body — including a
    // graph-independent VALUES — is the EMPTY union (SPARQL 18.5), on
    // both the single-plan path and the enumeration fallback (a nested
    // GRAPH is not graph-local, so that body can only enumerate)
    val defaultOnly = spark.createDataset(Seq(graft.model.Quad(
      Term.iri(EX + "s"), Term.iri(EX + "p"), Term.iri(EX + "o"),
      Term.defaultGraph))).toDF()
    val valsBody = Table(Seq("x"), Seq(Map("x" -> Term.iri(EX + "a"))))
    assert(Compiler.compile(GraphVarEnum("g", valsBody), defaultOnly).count() == 0)
    val nestedBody = LeftJoin(valsBody, GraphScope(Term.iri(EX + "a"),
      Bgp(Seq(TriplePattern(TVar("x"), TConst(Term.iri(EX + "p")), TVar("y"))))))
    assert(Compiler.compile(GraphVarEnum("g", nestedBody), defaultOnly).count() == 0)
  }

  test("MINUS with all-certain shared vars plans as an equi anti-join (no BNLJ)") {
    val g = spark.createDataset((1 to 400).map(k => Triple(
      Term.iri(EX + "s" + k),
      Term.iri(EX + (if (k % 2 == 0) "a" else "b")),
      Term.iri(EX + "o" + (k % 50))))).toDF()
    // both sides bind ?s and ?o with certainty — the compatibility
    // condition collapses to plain equality (VERDICT r2 "What's wrong" #1:
    // this used to plan as BroadcastNestedLoopJoin)
    val op = Minus(
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "a")), TVar("o")))),
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "b")), TVar("o")))))
    val p = plan(Compiler.compile(op, g))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "certain-var MINUS must be a hashable equi anti-join:\n" + p)
    assert(p.contains("LeftAnti"), "anti-join expected:\n" + p)
  }

  test("MINUS with a maybe-bound shared var decomposes to equi-joins (no BNLJ)") {
    val g = spark.createDataset((1 to 200).map(k => Triple(
      Term.iri(EX + "s" + k),
      Term.iri(EX + (if (k % 2 == 0) "email" else "name")),
      Term.string("v" + k)))).toDF()
    val left = LeftJoin(
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "name")), TVar("n")))),
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "email")), TVar("e")))))
    val right = Bgp(Seq(TriplePattern(TVar("x"), TConst(Term.iri(EX + "email")), TVar("e"))))
    val p = plan(Compiler.compile(Minus(left, right), g))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "maybe-var MINUS must ride the LID decomposition:\n" + p)
  }

  test("zero-key compat branch broadcasts the unbound slice, not the full side") {
    val g = spark.createDataset((1 to 200).map(k => Triple(
      Term.iri(EX + "s" + k),
      Term.iri(EX + (if (k % 2 == 0) "email" else "name")),
      Term.string("v" + k)))).toDF()
    // join shares ONLY the maybe-bound ?e → the left-unbound branch has no
    // equi keys; the null slice must carry the broadcast hint
    val left = LeftJoin(
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "name")), TVar("n")))),
      Bgp(Seq(TriplePattern(TVar("s"), TConst(Term.iri(EX + "email")), TVar("e")))))
    val right = Bgp(Seq(TriplePattern(TVar("x"), TConst(Term.iri(EX + "email")), TVar("e"))))
    val df = Compiler.compile(Join(left, right), g)
    val p = plan(df)
    // the only nested-loop in the plan is the inherent unbound-slice ×
    // full-side branch, and its build side is the (hinted) null slice —
    // never the full right side
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"),
      "unbound-slice branch must broadcast the slice side:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin BuildRight"),
      "the full side must stream, not broadcast:\n" + p)
    // and correctness: unbound-?e rows are compatible with every right row
    assert(df.count() > 0)
  }

  test("d7 simhash banding plans as equi-join (no BNLJ, unlike d6's baseline)") {
    val df = graft.queries.OpsQueries.d7_simhash_lsh(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "banded simhash candidates must come from an equi-join:\n" + p)
  }

  test("s3 IVF candidates come from the cell equi-join (no BNLJ, no cartesian)") {
    val df = graft.queries.OpsQueries.s3_ann_ivf(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "IVF candidates must come from the coarse-cell equi-join:\n" + p)
    assert(df.count() > 0)
  }

  test("encoded snapshot: BGP joins on long ids with pushed id filters") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val dir = Files.createTempDirectory("plan_enc").toString + "/snap"
    val ts = (1 to 600).map(k => Triple(
      Term.iri(EX + "s" + (k % 200)), Term.iri(EX + "p" + (k % 4)),
      Term.iri(EX + "s" + ((k + 1) % 200))))
    graft.store.TripleStore.materializeEncoded(
      spark.createDataset(ts).toDF()
        .withColumn("repo", lit("r0")).withColumn("lang", lit("x")),
      dir, None, partitions = 2)
    val esg = Compiler.EncodedSnapshotGraph(spark, dir)
    val op = Bgp(Seq(
      TriplePattern(TVar("x"), TConst(Term.iri(EX + "p1")), TVar("y")),
      TriplePattern(TVar("y"), TConst(Term.iri(EX + "p2")), TVar("z"))))
    val df = Compiler.compile(op, esg)
    val p = plan(df)
    // the pattern constants reached the narrow layout scans as ID filters
    assert(p.contains("/pos"), "predicate-bound patterns must scan the id POS layout:\n" + p)
    assert(p.contains("EqualTo(p_id,"), "constant must be pushed as an id filter:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "BGP chain must stay on id equi-joins:\n" + p)
    // identical results to the term-struct evaluation of the same BGP
    val reference = Compiler.compile(op, spark.createDataset(ts).toDF())
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("x.lex"), col("y.lex"), col("z.lex"))
        .collect().map(_.toSeq).toSet
    assert(rows(df) == rows(reference), "encoded and struct evaluations must agree")
    assert(df.count() > 0)
    // a constant missing from the dictionary matches nothing (no error)
    val none = Compiler.compile(
      Bgp(Seq(TriplePattern(TVar("x"), TConst(Term.iri(EX + "nope")), TVar("y")))), esg)
    assert(none.count() == 0)
  }

  test("encoded snapshot: property paths run on LONG id columns, decode at the edge") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val dir = Files.createTempDirectory("plan_encp").toString + "/snap"
    // chain s0 -p-> s1 -p-> … so p+ has a real closure
    val ts = (0 until 50).map(k => Triple(
      Term.iri(EX + "s" + k), Term.iri(EX + "p"), Term.iri(EX + "s" + (k + 1))))
    graft.store.TripleStore.materializeEncoded(
      spark.createDataset(ts).toDF()
        .withColumn("repo", lit("r0")).withColumn("lang", lit("x")),
      dir, None, partitions = 2)
    val esg = Compiler.EncodedSnapshotGraph(spark, dir)
    // the id-space pair frame: only LONG columns, POS scan with the
    // predicate pushed as an ID filter — no struct decode inside the walk
    val idPairs =
      PathEval.eval(PathEval.Ids(esg), PSeq(PLink(EX + "p"), PLink(EX + "p")), None)
    assert(idPairs.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType),
      "id-space path frame must be all LONG columns")
    val ip = plan(idPairs)
    assert(ip.contains("/pos") && ip.contains("EqualTo(p_id,"),
      "path link scan must hit the POS id layout with a pushed id filter:\n" + ip)
    assert(!ip.contains("kind") && !ip.contains("lex"),
      "no dictionary decode inside the id-space walk:\n" + ip)
    // full compile: closure answers match the struct-view evaluation
    val op = PathPattern(TVar("x"), POneOrMore(PLink(EX + "p")), TVar("y"))
    val enc = Compiler.compile(op, esg)
    val ref = Compiler.compile(op, spark.createDataset(ts).toDF())
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("x.lex"), col("y.lex")).collect().map(_.toSeq).toSet
    assert(rows(enc) == rows(ref) && enc.count() == 50 * 51 / 2)
  }

  test("linker broadcast path broadcasts the dictionary") {
    import graft.fixtures.{CorpusGen, DictRow}
    val corpus = spark.createDataset(CorpusGen.generate(42, 5, 4))
    val cands = graft.extract.Extractor.extract(corpus)
    val dict = spark.createDataset(CorpusGen.dictionary(100))
    val linked = graft.link.Linker.exact(cands, dict)
    val p = plan(linked.toDF())
    assert(p.contains("BroadcastHashJoin"),
      "small dictionary must broadcast (no shuffle of mentions):\n" + p)
  }

  test("decontam joins the benchmark 8-gram set by broadcast (no shuffle, no BNLJ)") {
    val df = graft.queries.OpsQueries.t6_decontam(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "the (small) benchmark gram set must broadcast to the corpus side:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "decontamination must stay an equi-join:\n" + p)
  }

  test("DfShacl validation stays on subject equi-joins (no BNLJ)") {
    val df = graft.queries.ShaclQueries.v1_shacl(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "every SHACL constraint must key on the subject:\n" + p)
    assert(p.contains("LeftAnti"),
      "sh:class must plan as an anti-join against the instance set:\n" + p)
    // NOTE the sh:minCount-on-phone branch plans with NO join at all:
    // `phone` never occurs in the encoding's union branches, so Catalyst
    // constant-folds the predicate scan to an empty relation and
    // PropagateEmptyRelation collapses the zero-preserving left join to a
    // plain projection of the focus set — exactly what a 100 TB plan
    // should do when a constraint's predicate is absent from the data.
    // The LeftOuter shape itself is asserted below on data that HAS the
    // predicate.
    import graft.shacl.{DfShacl, SH}
    val ts = (1 to 30).map(k => Triple(Term.iri(EX + "d" + k),
      Term.iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"),
      Term.iri(EX + "Doc"))) ++ (1 to 20).map(k => Triple(
      Term.iri(EX + "d" + k), Term.iri(EX + "tag"), Term.string("t" + k)))
    val shapes = Seq(
      Triple(Term.iri(EX + "S"), SH.sh("targetClass"), Term.iri(EX + "Doc")),
      Triple(Term.iri(EX + "S"), SH.sh("property"), Term.iri(EX + "S-p1")),
      Triple(Term.iri(EX + "S-p1"), SH.sh("path"), Term.iri(EX + "tag")),
      Triple(Term.iri(EX + "S-p1"), SH.sh("minCount"),
        Term.lit("1", Term.XSD + "integer")))
    val p2 = plan(DfShacl.validate(spark.createDataset(ts).toDF(), shapes))
    assert(p2.contains("LeftOuter"),
      "minCount must keep zero-value focus nodes via a left join:\n" + p2)
    assert(!p2.contains("BroadcastNestedLoopJoin") && !p2.contains("CartesianProduct"))
  }

  test("rule-engine derivation round is equi-join + anti-join (no BNLJ)") {
    import graft.reason.Rules
    val ts = (1 to 50).map(k => Triple(
      Term.iri(EX + "c" + k), Term.iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type"),
      Term.iri(EX + "K" + (k % 5)))) ++ (0 until 5).map(k => Triple(
      Term.iri(EX + "K" + k),
      Term.iri("http://www.w3.org/2000/01/rdf-schema#subClassOf"),
      Term.iri(EX + "Top")))
    val rules = Rules.parse(
      "[rdfs9: (?x rdfs:subClassOf ?y), (?a rdf:type ?x) -> (?a rdf:type ?y)]")
    val base = spark.createDataset(ts).toDF()
    // audit ONE derivation round (the fixpoint result is a checkpointed
    // union whose executed plan no longer shows the per-round joins)
    val p = plan(Rules.deriveOnce(rules, base, base))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "rule bodies with shared vars must plan as equi-joins:\n" + p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      "the shared-var join must be a hash/merge equi-join:\n" + p)
    val df = TestSpark.withFixpointBudget(0)(Rules.closure(base, rules))
    assert(df.count() == 105) // 55 base + 50 derived (c_k type Top)
  }

  test("distributed rule closure: a pinned Spark job count over a 13-round chain") {
    import graft.reason.Rules
    // a 12-link chain under a linear closure program: round k derives the
    // k-link paths, so the loop takes 13 rounds. Every rule head has a
    // constant predicate, so each round's dispatch set rides the
    // checkpoint job as an observed aggregate; if that Observation stops
    // surfacing (say, in the loop session) every round falls back to a
    // second collect job and the count grows by one per round.
    val chain = (0 until 12).map(k => Triple(Term.iri(EX + "n" + k),
      Term.iri(EX + "link"), Term.iri(EX + "n" + (k + 1))))
    val rules = Rules.parse(
      s"[r1: (?a <${EX}link> ?b) -> (?a <${EX}next> ?b)] " +
        s"[r2: (?a <${EX}next> ?b), (?b <${EX}link> ?c) -> (?a <${EX}next> ?c)]")
    val base = spark.createDataset(chain).toDF()
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      df = TestSpark.withFixpointBudget(0)(Rules.closure(base, rules))
    }
    assert(df.count() == 12 + 12 * 13 / 2)
    assert(jobs == 89, s"distributed 13-round rule closure launched $jobs jobs")
  }

  test("whole-suite sweep: nested-loop joins ONLY in the declared brute baselines") {
    // d2/d6/e1/s1 are deliberately-brute, id-bounded oracle anchors for
    // their LSH scale siblings (d4/d7/s2/s3) — every OTHER query in the
    // driver contract must plan without BNLJ/CartesianProduct. Guards
    // against a scale-path query silently degrading to a product plan.
    val allowed = Set("d2_dedup_ngram", "d6_simhash_pairs",
      "e1_embed_pairs", "s1_ann_topk")
    val sf = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = fn(spark, sf).queryExecution.executedPlan.toString
        val bad = p.contains("BroadcastNestedLoopJoin") ||
          p.contains("CartesianProduct")
        if (bad && !allowed(name)) Some(name)
        else if (!bad && allowed(name)) Some(s"$name (expected brute plan!)")
        else None
    }
    assert(offenders.isEmpty, s"plan-shape regressions: $offenders")
  }
}
