package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.algebra._
import graft.model.{Term, Triple}

/**
 * SPARQL-algebra semantics tests, shaped like the reference's manifest
 * golden cases (jena-arq/testing/ARQ/EngineMain) — small data, exact
 * expected solution sets, exercising the semantics corners SURVEY.md §7.3
 * ranks hard: OPTIONAL/MINUS compatible bindings, term total order, path
 * closure, eval-error-drops-row filters.
 */
class AlgebraSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val EX = "http://example/"
  private def i(s: String) = Term.iri(EX + s)
  private def tp(s: TermPat, p: TermPat, o: TermPat) = TriplePattern(s, p, o)
  private def v(n: String) = TVar(n)
  private def c(t: Term) = TConst(t)

  // the SPARQL-spec MINUS/NOT-EXISTS example graph + a small path chain
  private lazy val g: DataFrame = {
    val ts = Seq(
      Triple(i("alice"), i("name"), Term.string("Alice")),
      Triple(i("alice"), i("email"), Term.string("alice@example")),
      Triple(i("bob"), i("name"), Term.string("Bob")),
      Triple(i("carol"), i("name"), Term.string("Carol")),
      Triple(i("carol"), i("email"), Term.string("carol@example")),
      // numbers & mixed kinds for ORDER BY
      Triple(i("alice"), i("age"), Term.lit("30", Term.XSD_INTEGER)),
      Triple(i("bob"), i("age"), Term.lit("9", Term.XSD_INTEGER)),
      Triple(i("carol"), i("age"), Term.lit("27.5", Term.XSD_DECIMAL)),
      Triple(Term.bnode("b1"), i("age"), Term.lit("1", Term.XSD_INTEGER)),
      // path chain a -p-> b -p-> c -p-> d, plus a -q-> d
      Triple(i("a"), i("p"), i("b")),
      Triple(i("b"), i("p"), i("c")),
      Triple(i("c"), i("p"), i("d")),
      Triple(i("a"), i("q"), i("d")))
    spark.createDataset(ts).toDF()
  }

  private def lexSet(df: DataFrame, col0: String): Set[String] =
    df.select(col(col0).getField("lex")).collect().map(_.getString(0)).toSet

  test("BGP: self-join on shared var") {
    val op = Bgp(Seq(
      tp(v("s"), c(i("name")), v("n")),
      tp(v("s"), c(i("email")), v("e"))))
    val out = Compiler.compile(op, g)
    assert(lexSet(out, "s") == Set(EX + "alice", EX + "carol"))
  }

  test("BGP: fully-concrete pattern acts as existence gate") {
    val yes = Bgp(Seq(
      tp(c(i("alice")), c(i("name")), c(Term.string("Alice"))),
      tp(v("s"), c(i("email")), v("e"))))
    assert(Compiler.compile(yes, g).count() == 2)
    val no = Bgp(Seq(
      tp(c(i("alice")), c(i("name")), c(Term.string("Nobody"))),
      tp(v("s"), c(i("email")), v("e"))))
    assert(Compiler.compile(no, g).count() == 0)
  }

  test("OPTIONAL: unmatched left rows survive with unbound var") {
    val op = LeftJoin(
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))),
      Bgp(Seq(tp(v("s"), c(i("email")), v("e")))))
    val rows = Compiler.compile(op, g).collect()
    assert(rows.length == 3)
    val bob = rows.find(r => r.getAs[org.apache.spark.sql.Row]("n").getString(1) == "Bob").get
    assert(bob.getAs[org.apache.spark.sql.Row]("e") == null)
  }

  test("OPTIONAL with embedded condition: failed condition leaves var unbound") {
    // OPTIONAL { ?s :email ?e FILTER(?e = "alice@example") }
    val cond = RowExpr(r => TermCols.lex(r("e")) === "alice@example")
    val op = LeftJoin(
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))),
      Bgp(Seq(tp(v("s"), c(i("email")), v("e")))), Some(cond))
    val rows = Compiler.compile(op, g).collect()
    assert(rows.length == 3)
    val bound = rows.filter(_.getAs[org.apache.spark.sql.Row]("e") != null)
    assert(bound.length == 1)
    assert(bound.head.getAs[org.apache.spark.sql.Row]("e").getString(1) == "alice@example")
  }

  test("MINUS vs NOT EXISTS: disjoint domains differ (SPARQL spec corner)") {
    val left = Bgp(Seq(tp(v("s"), c(i("name")), v("n"))))
    val rightDisjoint = Bgp(Seq(tp(v("x"), c(i("email")), v("e"))))
    // MINUS with no shared vars removes nothing
    assert(Compiler.compile(Minus(left, rightDisjoint), g).count() == 3)
    // NOT EXISTS (uncorrelated) removes everything — emails exist
    assert(Compiler.compile(AntiJoin(left, rightDisjoint), g).count() == 0)
    // correlated MINUS removes the rows that join
    val rightShared = Bgp(Seq(tp(v("s"), c(i("email")), v("e"))))
    assert(lexSet(Compiler.compile(Minus(left, rightShared), g), "s") == Set(EX + "bob"))
  }

  test("MINUS with a maybe-bound shared var: unbound rows survive (decomposed plan)") {
    // left: everyone with a name, OPTIONAL email → ?e maybe-bound
    // right: all emails, sharing ONLY ?e → MINUS needs the ≥1-both-bound
    // witness; bob's unbound ?e can never witness, so bob survives even
    // though his row is "compatible" with every right row
    val left = LeftJoin(
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))),
      Bgp(Seq(tp(v("s"), c(i("email")), v("e")))))
    val right = Bgp(Seq(tp(v("x"), c(i("email")), v("e"))))
    val out = Compiler.compile(Minus(left, right), g)
    assert(lexSet(out, "s") == Set(EX + "bob"))
  }

  test("SemiJoin (EXISTS)") {
    val op = SemiJoin(
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))),
      Bgp(Seq(tp(v("s"), c(i("email")), v("e")))))
    assert(lexSet(Compiler.compile(op, g), "s") == Set(EX + "alice", EX + "carol"))
  }

  test("UNION pads differing vars with unbound; certainty downgraded") {
    val op = Union(
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))),
      Bgp(Seq(tp(v("s"), c(i("email")), v("e")))))
    val out = Compiler.compile(op, g)
    assert(out.count() == 5)
    assert(out.filter(col("e").isNull).count() == 3)
  }

  test("compatible-binding join: unbound side matches anything") {
    // L = {(x=a,y=1),(x=b)}  R = {(y=1,z=p),(y=2,z=q)}
    val L = Table(Seq("x", "y"), Seq(
      Map("x" -> i("a"), "y" -> Term.lit("1", Term.XSD_INTEGER)),
      Map("x" -> i("b"))))
    val R = Table(Seq("y", "z"), Seq(
      Map("y" -> Term.lit("1", Term.XSD_INTEGER), "z" -> i("p")),
      Map("y" -> Term.lit("2", Term.XSD_INTEGER), "z" -> i("q"))))
    val rows = Compiler.compile(Join(L, R), g).collect()
    // (a,1) joins only y=1; (b, unbound y) is compatible with BOTH rows
    assert(rows.length == 3)
    val bRows = rows.filter(_.getAs[org.apache.spark.sql.Row]("x").getString(1) == EX + "b")
    assert(bRows.map(_.getAs[org.apache.spark.sql.Row]("y").getString(1)).toSet == Set("1", "2"))
  }

  test("ORDER BY: SPARQL total order — bnode < IRI < literal, numeric by value") {
    val op = Order(Seq(SortKey("s")),
      Bgp(Seq(tp(v("s"), c(i("age")), v("a")))))
    val kinds = Compiler.compile(op, g)
      .select(col("s").getField("kind")).collect().map(_.getByte(0)).toSeq
    assert(kinds == Seq(Term.KIND_BNODE, Term.KIND_IRI, Term.KIND_IRI, Term.KIND_IRI))

    val byAge = Order(Seq(SortKey("a")), Bgp(Seq(tp(v("s"), c(i("age")), v("a")))))
    val ages = Compiler.compile(byAge, g)
      .select(col("a").getField("lex")).collect().map(_.getString(0)).toSeq
    assert(ages == Seq("1", "9", "27.5", "30")) // value order, not lexicographic
  }

  test("filter: EBV + eval error drops row") {
    // FILTER(?a > 10) — ?a numeric; non-numeric/unbound → NULL → dropped
    val op = Filter(RowExpr(r => TermCols.numValue(r("a")) > 10),
      Bgp(Seq(tp(v("s"), c(i("age")), v("a")))))
    assert(Compiler.compile(op, g).count() == 2) // 30 and 27.5
    // comparing a *name* string numerically → NULL → all dropped
    val bad = Filter(RowExpr(r => TermCols.numValue(r("n")) > 0),
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))))
    assert(Compiler.compile(bad, g).count() == 0)
  }

  test("EBV: langString is an eval error (W3C sparql12 suite, not XSDFuncOp)") {
    // The reference contradicts itself here: XSDFuncOp
    // .effectiveBooleanValue:302 applies the non-empty-string rule to
    // rdf:langString, but its vendored W3C sparql12 expression suite
    // (not-not.srx) expects `!!"a"@en` to ERROR, leaving ?ebv unbound.
    // We pin the W3C-suite behavior — it is the manifest gate's oracle.
    def ebvOf(t: Term): Option[Boolean] = {
      val r = spark.range(1).select(TermCols.ebv(TermCols.const(t)).as("b"))
        .collect()(0)
      if (r.isNullAt(0)) None else Some(r.getBoolean(0))
    }
    assert(ebvOf(Term.langLit("chat", "fr")) == None) // error, per not-not.srx
    assert(ebvOf(Term.string("")) == Some(false))
    assert(ebvOf(Term.string("x")) == Some(true))
    assert(ebvOf(Term.lit("x", EX + "unknownDt")) == None) // eval error
    assert(ebvOf(Term.lit("junk", Term.XSD_BOOLEAN)) == None) // ill-formed
  }

  test("extend + project + distinct + slice") {
    val op = Slice(1, 2,
      Order(Seq(SortKey("d")),
        Distinct(Project(Seq("d"),
          Extend("d", RowExpr(r => TermCols.strTerm(upper(TermCols.lex(r("n"))))),
            Bgp(Seq(tp(v("s"), c(i("name")), v("n")))))))))
    val out = Compiler.compile(op, g).collect().map(_.getAs[org.apache.spark.sql.Row]("d").getString(1))
    assert(out.toSeq == Seq("BOB", "CAROL"))
  }

  test("group: count + min per key, HAVING as post-filter") {
    val op = Filter(RowExpr(r => TermCols.numValue(r("cnt")) >= 2),
      Group(Seq("s"),
        Seq("cnt" -> RowExpr(_ => TermCols.intTerm(count(lit(1))))),
        Bgp(Seq(tp(v("s"), v("p"), v("o"))))))
    val out = Compiler.compile(op, g)
    assert(lexSet(out, "s") == Set(EX + "alice", EX + "carol", EX + "bob", EX + "a"))
  }

  test("property paths: p+ / p* / p? / seq / alt / inverse") {
    def pathOf(path: Path, from: String): Set[String] =
      lexSet(Compiler.compile(PathPattern(c(i(from)), path, v("x")), g), "x")

    assert(pathOf(POneOrMore(PLink(EX + "p")), "a") ==
      Set(EX + "b", EX + "c", EX + "d"))
    assert(pathOf(PZeroOrMore(PLink(EX + "p")), "a") ==
      Set(EX + "a", EX + "b", EX + "c", EX + "d"))
    assert(pathOf(PSeq(PLink(EX + "p"), PLink(EX + "p")), "a") == Set(EX + "c"))
    assert(pathOf(PAlt(PLink(EX + "p"), PLink(EX + "q")), "a") ==
      Set(EX + "b", EX + "d"))
    assert(pathOf(PFixedLength(PLink(EX + "p"), 3), "a") == Set(EX + "d"))
    // inverse: ?x such that d ^p x  ⇔  x p d
    assert(pathOf(PInverse(PLink(EX + "p")), "d") == Set(EX + "c"))
    // zero-or-one
    assert(pathOf(PZeroOrOne(PLink(EX + "p")), "a") == Set(EX + "a", EX + "b"))
  }

  test("ARQ path extensions: PDistinct collapses duplicates, PMulti keeps them, PShortest raises") {
    // (p/p) | (q/^q ... ) — build a path with two derivations of the same
    // pair: a -p-> b via alt arms that both land on b
    val dup = PAlt(PLink(EX + "p"), PLink(EX + "p"))
    val multi = Compiler.compile(
      PathPattern(c(i("a")), PMulti(dup), v("x")), g)
    assert(multi.count() == 2) // bag semantics: one row per alt arm
    val dist = Compiler.compile(
      PathPattern(c(i("a")), PDistinct(dup), v("x")), g)
    assert(dist.count() == 1)
    assert(lexSet(dist, "x") == Set(EX + "b"))
    // P_Shortest: the reference's evaluator throws ARQNotImplemented
    // (PathEvaluator.java:158); ours raises the same way
    intercept[UnsupportedOperationException] {
      Compiler.compile(
        PathPattern(c(i("a")), PShortest(PLink(EX + "p")), v("x")), g)
        .count()
    }
  }

  test("quads: GRAPH var binds graph names; GRAPH iri filters; BGP = default graph") {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    // quad table: default graph has alice, g1 has bob, g2 has carol
    val quads = g.withColumn("g",
      when(TermCols.lex(col("o")) === "Bob",
        TermCols.const(Term.iri(EX + "g1")))
        .when(TermCols.lex(col("o")) === "Carol", TermCols.const(Term.iri(EX + "g2")))
        .otherwise(TermCols.const(Term.iri("urn:x-arq:DefaultGraph"))))

    // GRAPH ?gr { ?s :name ?n } — two named graphs bind
    val byVar = Compiler.compile(
      QuadBgp(v("gr"), Seq(tp(v("s"), c(i("name")), v("n")))), quads)
    assert(lexSet(byVar, "gr") == Set(EX + "g1", EX + "g2"))
    // GRAPH <g1> { ... } filters to bob
    val byConst = Compiler.compile(
      QuadBgp(c(Term.iri(EX + "g1")), Seq(tp(v("s"), c(i("name")), v("n")))), quads)
    assert(lexSet(byConst, "n") == Set("Bob"))
    // plain BGP on the quad table sees only the default graph
    val dflt = Compiler.compile(Bgp(Seq(tp(v("s"), c(i("name")), v("n")))), quads)
    assert(lexSet(dflt, "n") == Set("Alice"))
  }

  test("FOLD → UNFOLD roundtrip; lateral; strSplit property function") {
    import org.apache.spark.sql.functions.col
    // fold ages into a CDT list per run, then unfold back
    val folded = Group(Seq(),
      Seq("ages" -> RowExpr(r => SparqlAggregates.foldList(r("a")))),
      Bgp(Seq(tp(v("s"), c(i("age")), v("a")))))
    val op = Unfold("ages", "age", Some("idx"), folded)
    val out = Compiler.compile(op, g)
    assert(out.count() == 4)
    assert(lexSet(out, "age") == Set("1", "9", "27.5", "30"))
    assert(lexSet(out, "idx") == Set("1", "2", "3", "4"))

    // LATERAL compiles to the correlated join
    val lat = Lateral(
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))),
      Bgp(Seq(tp(v("s"), c(i("email")), v("e")))))
    assert(Compiler.compile(lat, g).count() == 2)

    // apf:strSplit generator
    val sols = Compiler.compile(Bgp(Seq(tp(v("s"), c(i("email")), v("e")))), g)
    val split = PropFuncs.strSplit(sols, "e", "@", "part")
    assert(split.count() == 4) // 2 emails × 2 parts
    assert(lexSet(split, "part").contains("example"))
  }

  test("text:query property function: keyword OR/AND, phrase, score, limit") {
    import graft.sparql.Sparql
    val g2 = spark.createDataset(Seq(
      Triple(i("d1"), i("title"), Term.string("The quick brown fox")),
      Triple(i("d2"), i("title"), Term.string("A lazy brown dog")),
      Triple(i("d3"), i("title"), Term.string("Quick quick dog")),
      Triple(i("d3"), i("body"), Term.string("nothing here")),
      Triple(i("d4"), i("size"), Term.lit("7", Term.XSD_INTEGER)))).toDF()
    def q(body: String) =
      s"""PREFIX text: <http://jena.apache.org/text#>
          PREFIX ex: <http://example/>
          SELECT * WHERE { $body }"""
    // OR semantics (Lucene default operator): quick OR brown
    val or = Sparql.select(q("""?s text:query "quick brown" ."""), g2)
    assert(lexSet(or, "s") == Set(EX + "d1", EX + "d2", EX + "d3"))
    // AND: all terms must match the same literal
    val and = Sparql.select(q("""?s text:query "quick AND brown" ."""), g2)
    assert(lexSet(and, "s") == Set(EX + "d1"))
    // phrase subset: substring on the analyzed literal
    val ph = Sparql.select(q("""?s text:query "\"brown dog\"" ."""), g2)
    assert(lexSet(ph, "s") == Set(EX + "d2"))
    // predicate-scoped + score var: d3 matches quick+dog in title (2),
    // d2 only dog (1); body literals excluded by the ex:title scope
    val sc = Sparql.select(
      q("""?s text:query (ex:title "quick dog" ?score) ."""), g2)
    val scores = sc.collect().map(r => (
      r.getStruct(r.fieldIndex("s")).getString(1),
      r.getStruct(r.fieldIndex("score")).getString(1))).toSet
    assert(scores == Set((EX + "d1", "1"), (EX + "d2", "1"), (EX + "d3", "2")))
    // limit: global top-N by score (deterministic tiebreak)
    val lim = Sparql.select(q("""?s text:query ("quick dog" 1) ."""), g2)
    assert(lexSet(lim, "s") == Set(EX + "d3"))
    // bound subject: equi-join against the hits, no enumeration
    val bound = Sparql.select(q(
      """?s ex:size 7 . ?s text:query "anything" ."""), g2)
    assert(bound.count() == 0)
    val bound2 = Sparql.select(q(
      """?s ex:body ?b . ?s text:query "nothing" ."""), g2)
    assert(lexSet(bound2, "s") == Set(EX + "d3"))
  }

  test("text:query fuzzy terms and NOT operator (Lucene query-parser surface)") {
    import graft.sparql.Sparql
    import graft.text.TextIndex
    val g2 = spark.createDataset(Seq(
      Triple(i("d1"), i("title"), Term.string("The quick brown fox")),
      Triple(i("d2"), i("title"), Term.string("A lazy brown dog")),
      Triple(i("d3"), i("title"), Term.string("Quick quick dog")),
      Triple(i("d4"), i("title"), Term.string("brick houses")))).toDF()
    def q(body: String) =
      s"""PREFIX text: <http://jena.apache.org/text#>
          SELECT * WHERE { $body }"""
    // fuzzy: quock~1 matches "quick" (edit distance 1) — a hit exact
    // match misses entirely
    assert(Sparql.select(q("""?s text:query "quock" ."""), g2).count() == 0)
    val fz = Sparql.select(q("""?s text:query "quock~1" ."""), g2)
    assert(lexSet(fz, "s") == Set(EX + "d1", EX + "d3"))
    // default maxEdits 2: quack~ matches quick (2 edits) and brick? no —
    // quack→brick is 3 edits; quack→quick is 2
    val fz2 = Sparql.select(q("""?s text:query "quack~" ."""), g2)
    assert(lexSet(fz2, "s") == Set(EX + "d1", EX + "d3"))
    // fuzzy slot scores 1 even when multiple vocabulary tokens match
    val pqd = TextIndex.parseQuery("brwn~1")
    assert(pqd.fuzzy == Seq(("brwn", 1)))
    val fsc = TextIndex.search(g2, None, "brwn~1", None)
    assert(fsc.collect().forall(_.getLong(2) == 1L))
    // NOT via '-': brown but not dog
    val not = Sparql.select(q("""?s text:query "brown -dog" ."""), g2)
    assert(lexSet(not, "s") == Set(EX + "d1"))
    // NOT keyword form
    val not2 = Sparql.select(q("""?s text:query "brown NOT fox" ."""), g2)
    assert(lexSet(not2, "s") == Set(EX + "d2"))
    // negated phrase
    val np = Sparql.select(q("""?s text:query "quick -\"brown fox\"" ."""), g2)
    assert(lexSet(np, "s") == Set(EX + "d3"))
    // AND + fuzzy + NOT composed
    val mix = Sparql.select(q("""?s text:query "quock~1 AND dog -lazy" ."""), g2)
    assert(lexSet(mix, "s") == Set(EX + "d3"))
    // wildcard: prefix br* reaches brown AND brick
    val wc = Sparql.select(q("""?s text:query "br*" ."""), g2)
    assert(lexSet(wc, "s") == Set(EX + "d1", EX + "d2", EX + "d4"))
    // single-char wildcard
    val wc2 = Sparql.select(q("""?s text:query "qu?ck" ."""), g2)
    assert(lexSet(wc2, "s") == Set(EX + "d1", EX + "d3"))
    // a wildcard pattern is ONE slot: multi-token match still scores 1
    val wsc = graft.text.TextIndex.search(g2, None, "br*", None)
    assert(wsc.collect().forall(_.getLong(2) == 1L))
    // negated wildcard: brown docs without any d* token
    val nw = Sparql.select(q("""?s text:query "brown -d*" ."""), g2)
    assert(lexSet(nw, "s") == Set(EX + "d1"))
    // AND with an unmatched wildcard = empty (the slot can never fill)
    val uw = Sparql.select(q("""?s text:query "brown AND zz*" ."""), g2)
    assert(uw.count() == 0)
  }

  test("materialized postings layout: bucket-pruned search matches in-memory") {
    import graft.text.TextIndex
    val g2 = spark.createDataset(Seq(
      Triple(i("d1"), i("title"), Term.string("The quick brown fox")),
      Triple(i("d2"), i("title"), Term.string("A lazy brown dog")),
      Triple(i("d3"), i("title"), Term.string("Quick quick dog")),
      Triple(i("d4"), i("title"), Term.string("brick houses")))).toDF()
    val dir = java.nio.file.Files.createTempDirectory("graft_textidx").toString + "/idx"
    assert(!TextIndex.isCommitted(dir))
    val n = TextIndex.materializePostings(g2, dir, buckets = 8, partitions = 2)
    assert(TextIndex.isCommitted(dir))
    assert(n > 0)
    def both(q: String): (Set[(String, String, Long)], Set[(String, String, Long)]) = {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getStruct(0).getString(1),
          r.getStruct(1).getString(1), r.getLong(2))).toSet
      (rows(TextIndex.search(g2, None, q, None)),
        rows(TextIndex.searchIndexed(spark, dir, q, None)))
    }
    // exact OR / AND / phrase / fuzzy / NOT all agree with the in-memory face
    for (q <- Seq("quick brown", "quick AND dog", "\"brown dog\"",
                  "quock~1", "brown -dog", "quick -\"brown fox\"")) {
      val (mem, idx) = both(q)
      assert(mem == idx, s"indexed face diverged on <$q>")
      assert(mem.nonEmpty, s"degenerate case <$q>")
    }
    // the exact-term probe prunes on the bucket partition column
    val probe = TextIndex.searchIndexed(spark, dir, "quick", None)
    probe.collect()
    val planStr = probe.queryExecution.executedPlan.toString
    assert(planStr.contains("bucket"), "bucket pruning filter missing:\n" + planStr)

    // ---- n-gram phrase field: same results, pruned candidates ----
    val dir2 = java.nio.file.Files.createTempDirectory("graft_textidx_ng")
      .toString + "/idx"
    TextIndex.materializePostings(g2, dir2, buckets = 8, partitions = 1,
      ngrams = true)
    for (q <- Seq("\"brown dog\"", "\"quick brown\" dog", "lazy -\"brown fox\"",
                  "\"quick AND brown\"")) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getStruct(0).getString(1),
          r.getStruct(1).getString(1), r.getLong(2))).toSet
      assert(rows(TextIndex.searchIndexed(spark, dir2, q, None)) ==
        rows(TextIndex.search(g2, None, q, None)),
        s"ngram face diverged on <$q>")
    }
    // streamed appends keep the gram field current
    val extra = spark.createDataset(Seq(
      Triple(i("d9"), i("title"), Term.string("another brown dog here")))).toDF()
    TextIndex.appendPostingsBatch(extra, dir2)
    val ph = TextIndex.searchIndexed(spark, dir2, "\"brown dog\"", None)
      .collect().map(_.getStruct(0).getString(1)).toSet
    assert(ph == Set(EX + "d2", EX + "d9"))
    // a sub-trigram phrase falls back to the full literal scan (still exact)
    val short = TextIndex.searchIndexed(spark, dir2, "\"og\"", None)
      .collect().map(_.getStruct(0).getString(1)).toSet
    assert(short == Set(EX + "d2", EX + "d3", EX + "d9"))
  }

  test("text search faces agree on literals that tokenize to nothing") {
    import graft.text.TextIndex
    val g = spark.createDataset(Seq(
      Triple(i("d1"), i("title"), Term.string("!!!")),
      Triple(i("d2"), i("title"), Term.string("...")),
      Triple(i("d3"), i("title"), Term.string("wow!!")),
      Triple(i("d4"), i("title"), Term.string("")))).toDF()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getStruct(0).getString(1),
        r.getStruct(1).getString(1), r.getLong(2))).toSet
    val plain = java.nio.file.Files.createTempDirectory("graft_textidx_punct")
      .toString + "/idx"
    TextIndex.materializePostings(g, plain, buckets = 4, partitions = 1)
    val grams = java.nio.file.Files.createTempDirectory("graft_textidx_punct_ng")
      .toString + "/idx"
    TextIndex.materializePostings(g, grams, buckets = 4, partitions = 1, ngrams = true)
    for (q <- Seq("\"!!\"", "\"..\"", "\"!!!\"", "wow \"..\"")) {
      val mem = rows(TextIndex.search(g, None, q, None))
      assert(mem.nonEmpty, s"degenerate case <$q>")
      assert(rows(TextIndex.searchIndexed(spark, plain, q, None)) == mem,
        s"indexed face diverged on <$q>")
      assert(rows(TextIndex.searchIndexed(spark, grams, q, None)) == mem,
        s"n-gram face diverged on <$q>")
    }
    assert(rows(TextIndex.search(g, None, "\"!!\"", None)).map(_._1) ==
      Set(EX + "d1", EX + "d3"))
  }

  test("VALUES table joined to a BGP") {
    val vals = Table(Seq("s"), Seq(Map("s" -> i("alice")), Map("s" -> i("bob"))))
    val op = Join(vals, Bgp(Seq(tp(v("s"), c(i("name")), v("n")))))
    assert(lexSet(Compiler.compile(op, g), "n") == Set("Alice", "Bob"))
  }

  test("container property functions; Label/Null structural ops") {
    val RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    val g2 = spark.createDataset(Seq(
      Triple(i("box"), Term.iri(RDF + "type"), Term.iri(RDF + "Bag")),
      Triple(i("box"), Term.iri(RDF + "_1"), Term.string("x")),
      Triple(i("box"), Term.iri(RDF + "_2"), Term.string("y")),
      Triple(i("list"), Term.iri(RDF + "type"), Term.iri(RDF + "Seq")),
      Triple(i("list"), Term.iri(RDF + "_1"), Term.string("z")))).toDF()
    val conts = Compiler.compile(
      Bgp(Seq(tp(v("c"), c(Term.iri(RDF + "type")), v("t")))), g2)
    val members = PropFuncs.containerMember(conts, g2, "c", "m")
    assert(lexSet(members, "m") == Set("x", "y", "z"))
    val bagOnly = PropFuncs.containerOfType(
      conts.select("c").distinct(), g2, "Bag", "c", "m")
    assert(lexSet(bagOnly, "m") == Set("x", "y"))
    // Label is transparent; Null is the empty solution set
    val labeled = Compiler.compile(
      Label("note", Bgp(Seq(tp(v("s"), c(Term.iri(RDF + "_1")), v("o"))))), g2)
    assert(labeled.count() == 2)
    assert(Compiler.compile(Null, g2).count() == 0)
  }

  test("closure: chain longer than 30 hops reaches the true fixpoint") {
    val n = 40
    val chain = spark.createDataset((1 until n).map(k =>
      Triple(i("c" + k), i("next"), i("c" + (k + 1))))).toDF()
    val op = PathPattern(v("x"), POneOrMore(PLink(EX + "next")), v("y"))
    // every (i, j) pair with i < j is reachable — n(n-1)/2, which a silent
    // 30-round truncation would undercount
    assert(Compiler.compile(op, chain).count() == n.toLong * (n - 1) / 2)
  }

  test("LATERAL with per-left-row ORDER+LIMIT keeps k rows per left row") {
    val g2 = spark.createDataset(Seq(
      Triple(i("alice"), i("name"), Term.string("Alice")),
      Triple(i("carol"), i("name"), Term.string("Carol")),
      Triple(i("alice"), i("email"), Term.string("a1@x")),
      Triple(i("alice"), i("email"), Term.string("a2@x")),
      Triple(i("carol"), i("email"), Term.string("c1@x")))).toDF()
    val lat = Lateral(
      Bgp(Seq(tp(v("s"), c(i("name")), v("n")))),
      Slice(0, 1, Order(Seq(SortKey("e")),
        Bgp(Seq(tp(v("s"), c(i("email")), v("e")))))))
    val out = Compiler.compile(lat, g2)
    // a (wrong) global LIMIT 1 would return a single row
    assert(out.count() == 2)
    assert(lexSet(out, "e") == Set("a1@x", "c1@x"))
  }

  test("OFFSET without LIMIT") {
    val op = Slice(2, Long.MaxValue, Order(Seq(SortKey("n")),
      Bgp(Seq(tp(v("s"), c(i("name")), v("n"))))))
    assert(lexSet(Compiler.compile(op, g), "n") == Set("Carol"))
  }

  test("decomposed compatible joins: inner/left/semi/anti with a maybe-bound shared var") {
    // ?s is bound in one union branch, unbound in the other — the shape
    // whose OR-condition would otherwise become a nested-loop join
    val r = Union(
      Bgp(Seq(tp(v("s"), c(i("email")), v("e")))),
      Bgp(Seq(tp(v("z"), c(i("q")), v("d")))))
    val l = Bgp(Seq(tp(v("s"), c(i("name")), v("n"))))
    // rights: (alice,email), (carol,email), (s-unbound q-row compatible
    // with every left row) → alice 2, bob 1, carol 2
    assert(Compiler.compile(Join(l, r), g).count() == 5)
    assert(Compiler.compile(LeftJoin(l, r), g).count() == 5)
    assert(Compiler.compile(SemiJoin(l, r), g).count() == 3)
    assert(Compiler.compile(AntiJoin(l, r), g).count() == 0)
  }
}
