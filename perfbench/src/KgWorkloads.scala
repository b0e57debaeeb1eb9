package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.algebra.Compiler
import graft.canon.ConnectedComponents
import graft.extract.Extractor
import graft.fixtures.CorpusGen
import graft.link.Linker
import graft.model.Term
import graft.pipeline.Pipeline
import graft.sparql.Parser
import graft.store.TripleStore

/** `kg_build` and `kg_lookup`: the KG-construction pipeline and SPARQL
 * lookups over the snapshot it writes. */
object KgWorkloads {
  /** Corpus shapes (repos x files per repo). Both stay below the
   * 100k-entity switch in `Pipeline.runFused`, so both link by broadcast. */
  val BuildShape = (500, 40)
  val LookupShape = (600, 40)
  val LookupsPerPass = 49

  private val TermCols = Seq("s", "p", "o").flatMap(t =>
    Seq("kind", "lex", "dt", "lang").map(f => s"${t}_$f"))

  private def term(r: Row, i: Int): String =
    if (r.isNullAt(i + 1)) "UNDEF"
    else Term(r.getByte(i), r.getString(i + 1), r.getString(i + 2), r.getString(i + 3)).toNTriples

  /** Sizes of the parquet files of a snapshot's layouts. */
  def fileSizes(dir: String, layouts: Seq[String] = Seq("spo", "pos", "osp")): Seq[Long] =
    layouts.map(l => Paths.get(dir, l)).filter(Files.isDirectory(_))
      .flatMap(d => Files.list(d).iterator().asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size)

  /** Rows as tab-joined strings, sorted, so answers compare as multisets. */
  private def canonRows(rows: Seq[Seq[String]]): Seq[String] = rows.map(_.mkString("\t")).sorted

  /** Digest of the snapshot's term columns (repo/lang on duplicate triples
   * are an arbitrary pick, so they are left out). */
  def snapshotDigest(spark: SparkSession, dir: String): (Long, String) =
    Digest(spark.read.parquet(s"$dir/snapshot/spo").select(TermCols.map(col): _*))

  def golden(seed: Long, shape: (Int, Int)): Set[String] =
    CorpusGen.goldenTriples(CorpusGen.generate(seed, shape._1, shape._2))

  /** P/R of the snapshot against `CorpusGen.goldenTriples`, plus the
   * per-row sha256 invariant. */
  def checkBuild(ctx: Ctx, dir: String, shape: (Int, Int), n: Long,
                 gold: Set[String]): Option[String] = {
    val spark = ctx.spark
    val got = spark.read.parquet(s"$dir/snapshot/spo").select(TermCols.map(col): _*)
      .collect().map(r => s"${term(r, 0)} ${term(r, 4)} ${term(r, 8)} .").toSet
    val hit = got.count(gold.contains).toDouble
    val (precision, recall) = (hit / math.max(1, got.size), hit / math.max(1, gold.size))
    val shaBad = Extractor.shaViolations(
      CorpusGen.generateDistributed(spark, ctx.seed, shape._1, shape._2)).count()
    ctx.rec.add("check", "precision" -> precision, "recall" -> recall,
      "sha_violations" -> shaBad, "triples" -> n, "golden" -> gold.size)
    if (precision >= 0.95 && recall >= 0.95 && shaBad == 0 && n == got.size) None
    else Some(f"P=$precision%.4f R=$recall%.4f sha_violations=$shaBad triples=$n distinct=${got.size}")
  }

  def build(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (r, f) = BuildShape
    def dir(k: Int) = s"${ctx.runDir}/kg/$k"
    // warm pass: one cold run at the working size, checked in full
    val (n0, warmS) = Time(Pipeline.runFused(spark, r, f, dir(0), ctx.seed))
    ctx.setup("warm_pass", warmS)
    val (_, expected) = snapshotDigest(spark, dir(0))
    val gold = golden(ctx.seed, BuildShape)
    val bad = checkBuild(ctx, dir(0), BuildShape, n0, gold)
    ctx.rec.add("store", "bytes_per_triple" -> fileSizes(s"${dir(0)}/snapshot").sum.toDouble / n0)
    ctx.op(0, "runFused", 0, warmS, n0, expected, bad)
    deleteTree(dir(0))
    ctx.sampleHeap()

    ctx.passes(warmup = 1, minTimed = 3) { k =>
      val (n, s) = Time(Pipeline.runFused(spark, r, f, dir(k), ctx.seed))
      val (_, d) = snapshotDigest(spark, dir(k))
      ctx.op(k, "runFused", 0, s, n, d,
        if (d == expected && n == n0) None else Some(s"snapshot digest $d, expected $expected"))
      deleteTree(dir(k))
    }
    ctx.trace.foreach { tr =>
      tracedBuild(ctx, tr, dir(99), expected)
      // store-read and sparql layers: lookups over the traced pass's snapshot
      // (no warm-up pass of their own, to keep the traced run short)
      val graph = Compiler.SnapshotGraph(spark, s"${dir(99)}/snapshot")
      tracedLookups(ctx, tr, graph, lookups(ctx.seed, new GoldenIndex(gold)))
      deleteTree(dir(99))
    }
  }

  /** A small checked pass, for the build's class-data archive. */
  def train(ctx: Ctx): Unit = {
    val shape = (40, 10)
    val dir = s"${ctx.runDir}/kg/train"
    val n = Pipeline.runFused(ctx.spark, shape._1, shape._2, dir, ctx.seed)
    snapshotDigest(ctx.spark, dir)
    checkBuild(ctx, dir, shape, n, golden(ctx.seed, shape))
    deleteTree(dir)
  }

  /** The traced pass: each layer function called in `runFused`'s order,
   * with a count at each boundary so every layer's work lands in its span. */
  private def tracedBuild(ctx: Ctx, tr: Trace, out: String, expected: String): Unit = {
    val spark = ctx.spark
    val (r, f) = BuildShape
    val cg0 = Trace.codegenNs
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val n = tr.span("pass") {
      val corpus = tr.span("fixtures") {
        val c = CorpusGen.generateDistributed(spark, ctx.seed, r, f).persist()
        m("fixtures.rows") = c.count().toDouble
        c
      }
      val cands = tr.span("extract") {
        val c = Extractor.extract(corpus, repartition = false).persist()
        val row = c.agg(count(lit(1)), sum(when(col("surface") =!= "", 1).otherwise(0))).head()
        m("extract.rows_out") = row.getLong(0).toDouble
        m("extract.mentions") = row.getLong(1).toDouble
        c
      }
      val linked = tr.span("link") {
        val nEnt = CorpusGen.nEntities(r, f)
        val dict = CorpusGen.dictionaryDistributed(spark, nEnt)
        val l = (if (nEnt <= 100000) Linker.exact(cands, dict, uniqueSurfaces = true)
          else Linker.exactSalted(cands, dict, spark.sparkContext.defaultParallelism,
            uniqueSurfaces = true)).persist(StorageLevel.MEMORY_AND_DISK)
        m("link.rows_out") = l.count().toDouble
        l
      }
      val rewritten = tr.span("canon") {
        val edges = linked.where(col("p.lex") === CorpusGen.OWL_SAMEAS)
          .select(col("s.lex").as("src"), col("o.lex").as("dst"))
        m("canon.edges") = edges.count().toDouble
        val mapping = ConnectedComponents.runAdaptive(edges)
        val rw = ConnectedComponents.rewrite(linked.toDF(), mapping).persist()
        rw.count()
        rw
      }
      tr.span("store.write") {
        TripleStore.materialize(rewritten, s"$out/snapshot", parent = None,
          partitions = spark.sparkContext.defaultParallelism)
      }
    }
    val cg = Trace.codegenNs - cg0
    val (_, d) = snapshotDigest(spark, out)
    ctx.op(-1, "layers", 0, 0, n, d,
      if (d == expected) None else Some(s"snapshot digest $d, expected $expected"))
    tr.drain()
    val written = fileSizes(s"$out/snapshot", Seq("spo", "pos", "osp", "lineage"))
    def sp(name: String) = tr.named(name).head
    val mentions = m("extract.mentions")
    val passthru = m("extract.rows_out") - mentions
    val pass = sp("pass")
    ctx.rec.add("layers", "metrics" -> (m.toSeq ++ Seq(
      "fixtures.s" -> sp("fixtures").seconds,
      "extract.s" -> sp("extract").seconds,
      "link.s" -> sp("link").seconds,
      "link.hit_ratio" -> (if (mentions > 0) (m("link.rows_out") - passthru) / mentions else 0.0),
      "link.shuffle_bytes" -> tr.tasksIn(sp("link")).map(_.shuffleWrite).sum.toDouble,
      "link.task_skew" -> tr.taskSkew(sp("link")),
      "canon.s" -> sp("canon").seconds,
      "canon.jobs" -> tr.jobsIn(sp("canon")).toDouble,
      "store.write_s" -> sp("store.write").seconds,
      "store.bytes_written" -> written.sum.toDouble,
      "store.files" -> written.size.toDouble,
      "store.jobs" -> tr.jobsIn(sp("store.write")).toDouble,
      "store.bytes_per_triple" -> fileSizes(s"$out/snapshot").sum.toDouble / n,
      "spark.exec_s" -> pass.seconds,
      "trace.pass_s" -> pass.seconds) ++
      tr.sparkMetrics(pass, ctx.cores, cg)).toMap)
  }

  // ------------------------------------------------------------ lookups

  final case class Lookup(shape: String, sparql: String, vars: Seq[String],
                          expected: Seq[String])

  private val Code = "http://example.org/code#"
  private val Prefix = s"PREFIX code: <$Code>\n"
  private val XsdInteger = "http://www.w3.org/2001/XMLSchema#integer"

  /** Golden triples indexed for answering the lookup shapes directly. */
  final class GoldenIndex(lines: Set[String]) {
    private val Nt = "^(\\S+) (\\S+) (.+) \\.$".r
    val triples: Seq[(String, String, String)] = lines.toSeq.collect { case Nt(s, p, o) => (s, p, o) }
    private val bySP = triples.groupMap(t => (t._1, t._2))(_._3)
    private val byPO = triples.groupMap(t => (t._2, t._3))(_._1)
    private val byS = triples.groupMap(_._1)(t => (t._2, t._3))
    private val byP = triples.groupMap(_._2)(_._3)
    def sp(s: String, p: String): Seq[String] = bySP.getOrElse((s, p), Nil)
    def po(p: String, o: String): Seq[String] = byPO.getOrElse((p, o), Nil)
    def s(s: String): Seq[(String, String)] = byS.getOrElse(s, Nil)
    def p(p: String): Seq[String] = byP.getOrElse(p, Nil)
  }

  private def iri(s: String) = s"<$s>"
  private def intLex(nt: String): Long = nt.drop(1).takeWhile(_ != '"').toLong

  /** Seeded bindings over seven query shapes; hot entities and big repos
   * are mixed with uniform picks. */
  def lookups(seed: Long, g: GoldenIndex): Seq[Lookup] = {
    val rnd = new Random(seed)
    val hasFile = iri(Code + "hasFile")
    val imports = iri(Code + "imports")
    val inLang = iri(Code + "inLang")
    val size = iri(Code + "size")
    val repos = g.triples.filter(_._2 == hasFile).map(_._1).distinct.sorted
    val files = g.triples.filter(_._2 == hasFile).map(_._3).distinct.sorted
    val ents = g.triples.filter(_._2 == imports).map(_._3).distinct.sorted
    val hotEnt = iri(CorpusGen.entityIri(0))
    val bigRepos = repos.filter(r => g.sp(r, hasFile).size >= 20)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def ent(i: Int) = if (i % 3 == 0) hotEnt else pick(ents)
    def repo(i: Int) = if (i % 2 == 0) pick(bigRepos) else pick(repos)
    val perShape = LookupsPerPass / 7
    (0 until perShape).flatMap { i =>
      val f = pick(files); val e = ent(i); val r = repo(i)
      val k = 1000 + rnd.nextInt(8000)
      val gp = if (i % 2 == 0) inLang else iri(Code + "license")
      Seq(
        Lookup("bound_s", s"SELECT ?p ?o WHERE { $f ?p ?o }", Seq("p", "o"),
          canonRows(g.s(f).map { case (p, o) => Seq(p, o) })),
        Lookup("bound_o", s"SELECT ?f WHERE { ?f code:imports $e }", Seq("f"),
          canonRows(g.po(imports, e).map(Seq(_)))),
        Lookup("join", s"SELECT ?f ?l WHERE { ?f code:imports $e . ?f code:inLang ?l }",
          Seq("f", "l"), canonRows(for (x <- g.po(imports, e); l <- g.sp(x, inLang)) yield Seq(x, l))),
        Lookup("chain2", s"SELECT ?f ?e WHERE { $r code:hasFile ?f . ?f code:imports ?e }",
          Seq("f", "e"), canonRows(for (x <- g.sp(r, hasFile); y <- g.sp(x, imports)) yield Seq(x, y))),
        Lookup("optional",
          s"SELECT ?f ?e WHERE { $r code:hasFile ?f OPTIONAL { ?f code:imports ?e FILTER(?e = $hotEnt) } }",
          Seq("f", "e"), canonRows(g.sp(r, hasFile).map(x =>
            Seq(x, if (g.sp(x, imports).contains(hotEnt)) hotEnt else "UNDEF")))),
        Lookup("filter",
          s"SELECT ?f ?z WHERE { $r code:hasFile ?f . ?f code:size ?z FILTER(?z > $k) }",
          Seq("f", "z"), canonRows(for (x <- g.sp(r, hasFile); z <- g.sp(x, size) if intLex(z) > k)
            yield Seq(x, z))),
        Lookup("group", s"SELECT ?o (COUNT(?s) AS ?n) WHERE { ?s $gp ?o } GROUP BY ?o",
          Seq("o", "n"), canonRows(g.p(gp).groupBy(identity).toSeq.map { case (o, xs) =>
            Seq(o, "\"" + xs.size + "\"^^<" + XsdInteger + ">") })))
    }.map(l => l.copy(sparql = Prefix + l.sparql))
  }

  /** One lookup: parse, compile against the snapshot, collect; the answer
   * is compared with the golden one outside the timed calls. */
  def lookupOp(ctx: Ctx, graph: Compiler.SnapshotGraph, pass: Int, i: Int, l: Lookup,
               tr: Option[Trace]): Unit = {
    def sp[T](n: String)(b: => T): T = tr.fold(b)(_.span(n)(b))
    try sp(l.shape) {
      val (op, parseS) = Time(sp("parse")(Parser.parse(l.sparql)))
      val (df, compileS) = Time(sp("compile")(Compiler.compile(op, graph)))
      val (rows, execS) = Time(sp("exec")(df.select(l.vars.map(col): _*).collect()))
      val got = canonRows(rows.toSeq.map(r => l.vars.indices.map { j =>
        if (r.isNullAt(j)) "UNDEF"
        else {
          val t = r.getStruct(j)
          Term(t.getAs[Byte]("kind"), t.getAs[String]("lex"), t.getAs[String]("dt"),
            t.getAs[String]("lang")).toNTriples
        }
      }))
      ctx.op(pass, s"${l.shape}#$i", parseS + compileS, execS, rows.length.toLong, "",
        if (got == l.expected) None
        else Some(s"${got.size} rows, expected ${l.expected.size}: ${l.sparql}"))
    } catch {
      case e: Throwable => ctx.op(pass, s"${l.shape}#$i", 0, 0, 0, "", Some(e.toString))
    }
  }

  /** A traced pass of lookups and the store-read / sparql layer metrics. */
  private def tracedLookups(ctx: Ctx, tr: Trace, graph: Compiler.SnapshotGraph,
                            qs: Seq[Lookup]): Unit = {
    tr.span("lookups")(qs.zipWithIndex.foreach { case (l, i) =>
      lookupOp(ctx, graph, -1, i, l, Some(tr)) })
    tr.drain()
    val execs = tr.named("exec")
    val tasks = execs.flatMap(tr.tasksIn)
    val results = qs.map(_.expected.size).sum.toDouble
    val rowsRead = tasks.map(_.inRecords).sum.toDouble
    ctx.rec.add("layers", "metrics" -> Map(
      "sparql.parse_s" -> tr.named("parse").map(_.seconds).sum,
      "sparql.compile_s" -> tr.named("compile").map(_.seconds).sum,
      "store.bytes_read" -> tasks.map(_.inBytes).sum.toDouble,
      "store.rows_read" -> rowsRead,
      "store.rows_read_per_result" -> (if (results > 0) rowsRead / results else 0.0)))
  }

  /** Standalone lookup workload (not in BENCHMARK.json: see README). */
  def lookup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val kg = s"${ctx.runDir}/kg"
    val (n, kgS) = Time(Pipeline.runFused(spark, LookupShape._1, LookupShape._2, kg, ctx.seed))
    ctx.setup("kg_build", kgS)
    val graph = Compiler.SnapshotGraph(spark, s"$kg/snapshot")
    val qs = lookups(ctx.seed, new GoldenIndex(golden(ctx.seed, LookupShape)))
    val (_, warmS) = Time(qs.zipWithIndex.foreach { case (l, i) => lookupOp(ctx, graph, 0, i, l, None) })
    ctx.setup("warm_pass", warmS)
    ctx.sampleHeap()
    ctx.passes(warmup = 0, minTimed = 2)(k => qs.zipWithIndex.foreach { case (l, i) => lookupOp(ctx, graph, k, i, l, None) })
    ctx.trace.foreach { tr =>
      val cg0 = Trace.codegenNs
      tracedLookups(ctx, tr, graph, qs)
      val pass = tr.named("lookups").head
      ctx.rec.add("layers", "metrics" -> (Seq(
        "store.bytes_per_triple" -> fileSizes(s"$kg/snapshot").sum.toDouble / n,
        "build.s" -> (tr.named("parse") ++ tr.named("compile")).map(_.seconds).sum,
        "build.jobs" -> tr.named("compile").map(tr.jobsIn(_).toDouble).sum,
        "spark.exec_s" -> tr.named("exec").map(_.seconds).sum,
        "trace.pass_s" -> pass.seconds) ++
        tr.sparkMetrics(pass, ctx.cores, Trace.codegenNs - cg0)).toMap)
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete(_: Path))
      finally st.close()
    }
  }
}
