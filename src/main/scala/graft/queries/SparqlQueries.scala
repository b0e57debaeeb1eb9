package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.algebra._
import graft.model.Term

/**
 * Oracle-gated SPARQL-algebra queries: the driver test tables are encoded
 * as a triple table (dictionary-style IRIs), the algebra `Compiler` runs a
 * SPARQL Op tree over it, and the DuckDB oracle states the equivalent
 * relational query over the original tables — so the whole algebra →
 * DataFrame lowering (SURVEY.md §2.2/2.3/2.6/2.8) is checked end-to-end by
 * the driver's correctness gate, not only by unit specs.
 */
object SparqlQueries {

  private val NS = "urn:g:"
  val pName: String = NS + "name"
  val pInNation: String = NS + "inNation"
  val pInRegion: String = NS + "inRegion"
  val pSegment: String = NS + "segment"
  val pAcctBal: String = NS + "acctbal"

  private def iriCol(prefix: String, c: org.apache.spark.sql.Column) =
    TermCols.iriTerm(concat(lit(NS + prefix), c.cast("string")))
  private def strCol(c: org.apache.spark.sql.Column) = TermCols.strTerm(c)

  /** The triple encoding of region/nation/customer — built per query (no
   * caching; Catalyst prunes the unused branches of the union). */
  def triples(s: SparkSession, d: String): DataFrame = {
    val nation = Tables.nation(s, d)
    val region = Tables.region(s, d)
    val customer = Tables.customer(s, d)
    def t(sC: org.apache.spark.sql.Column, p: String, oC: org.apache.spark.sql.Column) =
      struct(sC.as("s"), TermCols.const(Term.iri(p)).as("p"), oC.as("o"))
    nation.select(t(iriCol("n:", col("n_nationkey")), pName, strCol(col("n_name"))).as("x"))
      .union(nation.select(t(iriCol("n:", col("n_nationkey")), pInRegion,
        iriCol("r:", col("n_regionkey"))).as("x")))
      .union(region.select(t(iriCol("r:", col("r_regionkey")), pName,
        strCol(col("r_name"))).as("x")))
      .union(customer.select(t(iriCol("c:", col("c_custkey")), pInNation,
        iriCol("n:", col("c_nationkey"))).as("x")))
      .union(customer.select(t(iriCol("c:", col("c_custkey")), pSegment,
        strCol(col("c_mktsegment"))).as("x")))
      .union(customer.select(t(iriCol("c:", col("c_custkey")), pAcctBal,
        TermCols.decTerm(col("c_acctbal"))).as("x")))
      .select(col("x.s").as("s"), col("x.p").as("p"), col("x.o").as("o"))
  }

  private def v(n: String) = TVar(n)
  private def p(iri: String) = TConst(Term.iri(iri))
  private def tp(s: TermPat, pr: TermPat, o: TermPat) = TriplePattern(s, pr, o)

  /** BGP 2-hop chain: customer → nation → name (self-equi-join twice). */
  def r16_bgp(s: SparkSession, d: String): DataFrame = {
    val op = Project(Seq("c", "nname"), Bgp(Seq(
      tp(v("c"), p(pInNation), v("n")),
      tp(v("n"), p(pName), v("nname")))))
    val out = Compiler.compile(op, triples(s, d))
    out.select(TermCols.lex(col("c")).as("c"),
      TermCols.lex(col("nname")).as("nname"))
  }

  /** r16's BGP evaluated against an ID-ENCODED store snapshot
   * (Compiler.EncodedSnapshotGraph over TripleStore.materializeEncoded):
   * the chain joins run on narrow LONG id columns and the dictionary
   * joins back in per projected variable — identical results to the
   * term-struct path, verified by the same DuckDB oracle as r16. The
   * snapshot is committed once per input dir and reused (resume-by-
   * manifest, like every store stage). */
  def r25_encoded_bgp(s: SparkSession, d: String): DataFrame = {
    // snapshot dir keyed by a CONTENT digest of the input — the full
    // canonical path plus the source parquet files' (name, size, mtime)
    // listing — so changed or swapped inputs can never silently reuse a
    // stale snapshot (and two dirs can never collide the way a 32-bit
    // hashCode could)
    val snap = s"/tmp/graft_encsnap_${graft.store.TripleStore.inputDigest(d)}"
    if (!graft.store.TripleStore.isCommitted(snap))
      graft.store.TripleStore.materializeEncoded(
        triples(s, d).withColumn("repo", lit("r0")).withColumn("lang", lit("x")),
        snap, None, partitions = 8)
    val op = Project(Seq("c", "nname"), Bgp(Seq(
      tp(v("c"), p(pInNation), v("n")),
      tp(v("n"), p(pName), v("nname")))))
    val out = Compiler.compile(op, Compiler.EncodedSnapshotGraph(s, snap))
    out.select(TermCols.lex(col("c")).as("c"),
      TermCols.lex(col("nname")).as("nname"))
  }

  /** r24's `{1,2}` alt-path evaluated against the ID-ENCODED snapshot:
   * PathEval.eval in the Ids space runs the per-hop scans, the alt union and the
   * fixed-length joins entirely on LONG id columns (16-byte rows through
   * every shuffle), decoding via the dictionary exactly once per
   * endpoint at the projection edge — the TDB2 "ids until the result
   * boundary" property extended from BGPs (r25) to property paths.
   * Same DuckDB oracle as r24. */
  def r27_encoded_path(s: SparkSession, d: String): DataFrame = {
    val snap = s"/tmp/graft_encsnap_${graft.store.TripleStore.inputDigest(d)}"
    if (!graft.store.TripleStore.isCommitted(snap))
      graft.store.TripleStore.materializeEncoded(
        triples(s, d).withColumn("repo", lit("r0")).withColumn("lang", lit("x")),
        snap, None, partitions = 8)
    val op = PathPattern(v("src"),
      PMod(PAlt(PLink(NS + "inNation"), PLink(NS + "inRegion")), 1, 2),
      v("dst"))
    Compiler.compile(op, Compiler.EncodedSnapshotGraph(s, snap))
      .select(TermCols.lex(col("src")).as("src"),
        TermCols.lex(col("dst")).as("dst"))
  }

  /** Constant-root reachability — the SEEDED (ALP-analog) path evaluator
   * end-to-end (PathEngine.java:49–122: BFS from the bound node). The
   * dependency graph is 80 disjoint 50-cycles (4 000 nodes) plus a
   * 10-node root chain: `<r0> g:dep+ ?x` must walk ONLY the 9-node chain
   * cone — the global closure of this graph is 200 000 pairs over 50
   * frontier rounds, the seeded walk is 9 pairs over 10 broadcast-probe
   * rounds. The DuckDB oracle states the same seeded recursion. */
  def r28_seeded_path(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d).select(col("user_id"))
    val blk = (col("user_id") % 4000)
    val cyc = u.select(
      concat(lit("c"), blk.cast("string")).as("sn"),
      concat(lit("c"), (blk - (blk % 50) + ((blk % 50 + 1) % 50)).cast("string")).as("dn"))
    val chain = u.where(col("user_id") % 10 < 9).select(
      concat(lit("r"), (col("user_id") % 10).cast("string")).as("sn"),
      concat(lit("r"), (col("user_id") % 10 + 1).cast("string")).as("dn"))
    val g = cyc.union(chain).distinct().select(
      TermCols.iriTerm(concat(lit(NS + "d:"), col("sn"))).as("s"),
      TermCols.const(Term.iri(NS + "dep")).as("p"),
      TermCols.iriTerm(concat(lit(NS + "d:"), col("dn"))).as("o"))
    val op = PathPattern(p(NS + "d:r0"), POneOrMore(PLink(NS + "dep")), v("x"))
    Compiler.compile(op, g).select(TermCols.lex(col("x")).as("x"))
  }

  /** Timezone arithmetic end-to-end through the TEXT parser (ADJUST =
   * E_AdjustToTimezone + HOURS over the adjusted local clock): events'
   * UTC timestamps become zoned xsd:dateTime literals, ADJUST converts
   * each instant to the +05:30 wall clock, HOURS reads the local hour. */
  def r26_tz_adjust(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.events(s, d)
    val g = ev.select(
      TermCols.iriTerm(concat(lit(NS + "e:"), col("event_id").cast("string"))).as("s"),
      TermCols.const(Term.iri(NS + "ts")).as("p"),
      TermCols.mk(lit(Term.KIND_LIT),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        lit(Term.XSD_DATETIME), lit("")).as("o"))
    val q = """
      PREFIX g: <urn:g:>
      PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
      SELECT ?h (COUNT(*) AS ?n) WHERE {
        ?e g:ts ?t .
        BIND(HOURS(ADJUST(?t, "PT5H30M"^^xsd:dayTimeDuration)) AS ?h)
      } GROUP BY ?h"""
    val out = Compiler.compile(graft.sparql.Parser.parse(q), g)
    out.select(TermCols.lex(col("h")).cast("long").as("h"),
      TermCols.lex(col("n")).cast("long").as("n"))
  }

  /** OPTIONAL + GROUP: nations with their customer count, zero included
   * (compatible-binding left join, then count(bound var)). */
  def r17_optional_group(s: SparkSession, d: String): DataFrame = {
    val op = Group(Seq("nname"),
      Seq("n_cust" -> RowExpr(r => TermCols.intTerm(count(r("c"))))),
      LeftJoin(
        // the inRegion pattern restricts ?n to nations (regions have
        // :name triples too — the oracle speaks only about nations)
        Bgp(Seq(tp(v("n"), p(pName), v("nname")), tp(v("n"), p(pInRegion), v("rr")))),
        Bgp(Seq(tp(v("c"), p(pInNation), v("n"))))))
    val out = Compiler.compile(op, triples(s, d))
    out.select(TermCols.lex(col("nname")).as("nname"),
      TermCols.lex(col("n_cust")).cast("long").as("n_cust"))
  }

  /** MINUS with a shared variable + numeric FILTER on the removed side:
   * nations with no high-balance BUILDING customer. */
  def r18_minus(s: SparkSession, d: String): DataFrame = {
    val op = Minus(
      Bgp(Seq(tp(v("n"), p(pName), v("nname")), tp(v("n"), p(pInRegion), v("rr")))),
      Filter(RowExpr(r => TermCols.numValue(r("bal")) > 9000),
        Bgp(Seq(
          tp(v("c"), p(pInNation), v("n")),
          tp(v("c"), p(pSegment), TConst(Term.string("BUILDING"))),
          tp(v("c"), p(pAcctBal), v("bal"))))))
    val out = Compiler.compile(op, triples(s, d))
    out.select(TermCols.lex(col("nname")).as("nname"))
  }

  /** Property path: customer -inNation/inRegion-> region (PSeq lowering to
   * a join), then region name. */
  def r19_path_seq(s: SparkSession, d: String): DataFrame = {
    val op = Group(Seq("rname"),
      Seq("n_cust" -> RowExpr(r => TermCols.intTerm(count(r("c"))))),
      Join(
        PathPattern(v("c"), PSeq(PLink(pInNation), PLink(pInRegion)), v("r")),
        Bgp(Seq(tp(v("r"), p(pName), v("rname"))))))
    val out = Compiler.compile(op, triples(s, d))
    out.select(TermCols.lex(col("rname")).as("rname"),
      TermCols.lex(col("n_cust")).cast("long").as("n_cust"))
  }

  /** ORDER BY the SPARQL total order + DISTINCT + SLICE over a UNION of
   * nation and region names. */
  def r20_union_order_slice(s: SparkSession, d: String): DataFrame = {
    val op = Slice(2, 8,
      Order(Seq(SortKey("name")),
        Distinct(Project(Seq("name"), Union(
          // nation names: subjects that HAVE an inRegion edge
          Bgp(Seq(tp(v("n"), p(pName), v("name")), tp(v("n"), p(pInRegion), v("r")))),
          // region names: objects of some inRegion edge
          Bgp(Seq(tp(v("rg"), p(pName), v("name")), tp(v("x"), p(pInRegion), v("rg")))))))))
    val out = Compiler.compile(op, triples(s, d))
    out.select(TermCols.lex(col("name")).as("name"))
  }

  /** FILTER + EXISTS: segments that have a customer in nation 0..4's
   * region — semi-join keeps the left side only. */
  def r21_exists_filter(s: SparkSession, d: String): DataFrame = {
    val op = Distinct(Project(Seq("seg"),
      SemiJoin(
        Bgp(Seq(tp(v("c"), p(pSegment), v("seg")))),
        Filter(RowExpr(r => TermCols.lex(r("nname")).isin("NATION_3", "NATION_7", "NATION_11")),
          Bgp(Seq(
            tp(v("c"), p(pInNation), v("n")),
            tp(v("n"), p(pName), v("nname"))))))))
    val out = Compiler.compile(op, triples(s, d))
    out.select(TermCols.lex(col("seg")).as("seg"))
  }

  /** Full text path: SPARQL string → Parser → algebra → Compiler →
   * DataFrame (the reference lifecycle §3.A end to end). */
  def r22_sparql_text(s: SparkSession, d: String): DataFrame = {
    val q = s"""
      PREFIX g: <$NS>
      SELECT ?nname (COUNT(?c) AS ?n_cust) WHERE {
        ?c g:inNation ?n .
        ?c g:segment ?seg .
        ?n g:name ?nname .
        FILTER(?seg = "BUILDING" || ?seg = "MACHINERY")
      }
      GROUP BY ?nname
      HAVING(?n_cust >= 1)
      ORDER BY ?nname"""
    val out = Compiler.compile(graft.sparql.Parser.parse(q), triples(s, d))
    out.select(TermCols.lex(col("nname")).as("nname"),
      TermCols.lex(col("n_cust")).cast("long").as("n_cust"))
  }

  /** `{n,m}` path modifier (P_Mod) through the FULL text stack: the
   * 1..2-hop closure over inNation|inRegion reaches nations (1 hop from
   * customers), regions (1 hop from nations) and regions again (2 hops
   * from customers); distinct pairs per the ALP contract. */
  def r24_path_mod(s: SparkSession, d: String): DataFrame = {
    val q = s"""PREFIX g: <$NS>
      SELECT ?src ?dst WHERE { ?src (g:inNation|g:inRegion){1,2} ?dst }"""
    Compiler.compile(graft.sparql.Parser.parse(q), triples(s, d))
      .select(TermCols.lex(col("src")).as("src"),
        TermCols.lex(col("dst")).as("dst"))
  }

  /** Quad encoding: customer segment triples live in one named graph per
   * nation (urn:g:ng:<nationkey>); nation names in the default graph. */
  def quadTable(s: SparkSession, d: String): DataFrame = {
    val customer = Tables.customer(s, d)
    val nation = Tables.nation(s, d)
    val named = customer.select(
      iriCol("c:", col("c_custkey")).as("s"),
      TermCols.const(Term.iri(pSegment)).as("p"),
      strCol(col("c_mktsegment")).as("o"),
      iriCol("ng:", col("c_nationkey")).as("g"))
    val dflt = nation.select(
      iriCol("n:", col("n_nationkey")).as("s"),
      TermCols.const(Term.iri(pName)).as("p"),
      strCol(col("n_name")).as("o"),
      TermCols.const(Term.defaultGraph).as("g"))
    named.union(dflt)
  }

  /** GRAPH ?g { pattern } over the quad table: per-graph aggregation plus
   * the default-graph isolation check (a plain BGP must see only the
   * default graph) folded into one result. */
  def r23_graph_quads(s: SparkSession, d: String): DataFrame = {
    val q = quadTable(s, d)
    val perGraph = Compiler.compile(
      Group(Seq("gr"),
        Seq("n" -> RowExpr(r => TermCols.intTerm(count(lit(1))))),
        QuadBgp(v("gr"), Seq(tp(v("c"), p(pSegment), v("seg"))))), q)
      .select(TermCols.lex(col("gr")).as("g"),
        TermCols.lex(col("n")).cast("long").as("n"))
    val dflt = Compiler.compile(
      Group(Nil,
        Seq("n" -> RowExpr(r => TermCols.intTerm(count(lit(1))))),
        Bgp(Seq(tp(v("x"), p(pName), v("nm"))))), q)
      .select(lit("default").as("g"), TermCols.lex(col("n")).cast("long").as("n"))
    perGraph.union(dflt)
  }

  /** SPARQL Update end-to-end: INSERT DATA + DELETE/INSERT WHERE over the
   * triple encoding, then aggregate the post-state — the oracle states the
   * equivalent relational rewrite. */
  def u1_update(s: SparkSession, d: String): DataFrame = {
    val g = triples(s, d)
    val g2 = graft.sparql.Update.run(g, s"""
      PREFIX g: <$NS>
      INSERT DATA { <urn:g:c:marker> g:segment "MARKER" } ;
      DELETE { ?c g:segment "BUILDING" }
      INSERT { ?c g:segment "RETAIL-X" }
      WHERE { ?c g:segment "BUILDING" }""")
    val op = Group(Seq("seg"),
      Seq("n" -> RowExpr(r => TermCols.intTerm(count(lit(1))))),
      Bgp(Seq(tp(v("c"), p(pSegment), v("seg")))))
    Compiler.compile(op, g2)
      .select(TermCols.lex(col("seg")).as("seg"),
        TermCols.lex(col("n")).cast("long").as("n"))
  }

  val oracle: Map[String, String] = Map(
    "r28_seeded_path" ->
      """WITH RECURSIVE e AS (
           SELECT DISTINCT
             'urn:g:d:c' || CAST(user_id % 4000 AS VARCHAR) AS src,
             'urn:g:d:c' || CAST((user_id % 4000) - ((user_id % 4000) % 50)
               + (((user_id % 4000) % 50 + 1) % 50) AS VARCHAR) AS dst
           FROM events
           UNION
           SELECT DISTINCT
             'urn:g:d:r' || CAST(user_id % 10 AS VARCHAR),
             'urn:g:d:r' || CAST(user_id % 10 + 1 AS VARCHAR)
           FROM events WHERE user_id % 10 < 9),
         reach(x) AS (
           SELECT e.dst AS x FROM e WHERE e.src = 'urn:g:d:r0'
           UNION
           SELECT e2.dst FROM reach r JOIN e e2 ON r.x = e2.src)
         SELECT x FROM reach""",
    "r24_path_mod" ->
      """SELECT 'urn:g:c:' || c_custkey AS src, 'urn:g:n:' || c_nationkey AS dst
         FROM customer
         UNION
         SELECT 'urn:g:n:' || n_nationkey, 'urn:g:r:' || n_regionkey FROM nation
         UNION
         SELECT 'urn:g:c:' || c_custkey, 'urn:g:r:' || n_regionkey
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "r27_encoded_path" ->
      """SELECT 'urn:g:c:' || c_custkey AS src, 'urn:g:n:' || c_nationkey AS dst
         FROM customer
         UNION
         SELECT 'urn:g:n:' || n_nationkey, 'urn:g:r:' || n_regionkey FROM nation
         UNION
         SELECT 'urn:g:c:' || c_custkey, 'urn:g:r:' || n_regionkey
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "r23_graph_quads" ->
      """SELECT 'urn:g:ng:' || c_nationkey AS g, count(*) AS n
         FROM customer GROUP BY 1
         UNION ALL
         SELECT 'default' AS g, count(*) AS n FROM nation""",
    "u1_update" ->
      """SELECT seg, count(*) AS n FROM (
           SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'RETAIL-X'
                       ELSE c_mktsegment END AS seg FROM customer
           UNION ALL SELECT 'MARKER' AS seg)
         GROUP BY 1""",
    "r22_sparql_text" ->
      """SELECT n_name AS nname, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
         GROUP BY 1 HAVING count(*) >= 1""",
    "r16_bgp" ->
      """SELECT 'urn:g:c:' || c_custkey AS c, n_name AS nname
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "r25_encoded_bgp" ->
      """SELECT 'urn:g:c:' || c_custkey AS c, n_name AS nname
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "r26_tz_adjust" ->
      """SELECT CAST(hour(ts + INTERVAL 5 HOUR + INTERVAL 30 MINUTE) AS BIGINT) AS h,
         count(*) AS n
         FROM events GROUP BY 1""",
    "r17_optional_group" ->
      """SELECT n_name AS nname, count(c_custkey) AS n_cust
         FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
         GROUP BY 1""",
    "r18_minus" ->
      """SELECT n_name AS nname FROM nation
         WHERE NOT EXISTS (SELECT 1 FROM customer
           WHERE c_nationkey = n_nationkey AND c_mktsegment = 'BUILDING'
             AND c_acctbal > 9000)""",
    "r19_path_seq" ->
      """SELECT r_name AS rname, count(*) AS n_cust
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1""",
    "r20_union_order_slice" ->
      """SELECT name FROM (
           SELECT DISTINCT name FROM (
             SELECT n_name AS name FROM nation
             UNION ALL SELECT r_name AS name FROM region)
           ORDER BY name LIMIT 8 OFFSET 2)""",
    "r21_exists_filter" ->
      """SELECT DISTINCT c_mktsegment AS seg
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')""")
}
