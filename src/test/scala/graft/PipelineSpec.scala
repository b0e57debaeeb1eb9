package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.Extractor
import graft.fixtures.CorpusGen
import graft.model.Term
import graft.pipeline.Pipeline

/** End-to-end golden test (FIXTURES.md §2, BASELINE.md): pipeline output
 * triples vs the by-construction golden set, P/R ≥ 0.95 (exact match
 * expected on fixtures); sha256 invariant; resumability. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ntOf(r: Row, prefix: String): String =
    Term(r.getAs[Byte](s"${prefix}_kind"), r.getAs[String](s"${prefix}_lex"),
      r.getAs[String](s"${prefix}_dt"), r.getAs[String](s"${prefix}_lang")).toNTriples

  test("pipeline end-to-end: P/R >= 0.95 vs golden triples, then exact") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val (nRepos, filesPerRepo) = (20, 6)
    Pipeline.run(spark, nRepos, filesPerRepo, out)

    val got = spark.read.parquet(s"$out/stages/materialize/spo")
      .collect()
      .map(r => s"${ntOf(r, "s")} ${ntOf(r, "p")} ${ntOf(r, "o")} .")
      .toSet
    val golden = CorpusGen.goldenTriples(CorpusGen.generate(42, nRepos, filesPerRepo))

    val tp = (got & golden).size.toDouble
    val precision = tp / got.size
    val recall = tp / golden.size
    info(f"P=$precision%.4f R=$recall%.4f got=${got.size} golden=${golden.size}")
    assert(precision >= 0.95 && recall >= 0.95,
      s"missing=${(golden -- got).take(5)} extra=${(got -- golden).take(5)}")
    // fixtures are fully deterministic — expect exact equality, not just 0.95
    assert(got == golden)

    // the SHACL quality gate ran as a stage and found a clean KG
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/stages/validate/manifest.json")),
      "validate stage must commit a manifest")
    assert(spark.read.parquet(s"$out/stages/validate/violations").count() == 0)
  }

  test("SHACL quality gate fails loudly on a corrupted KG") {
    import spark.implicits._
    val clean = spark.createDataset(
      CorpusGen.generate(42, 5, 3).flatMap(Extractor.extractRow))
      .filter(col("o").isNotNull)
      .select(col("s"), col("p"), col("o"))
    // corrupt the per-row invariant: break every sha256 lexical form, so
    // the File shape's hex pattern fires on each file node
    val bad = clean.withColumn("o",
      when(col("p.lex") === CorpusGen.P_SHA256,
        struct(col("o.kind").as("kind"), lit("not-a-sha").as("lex"),
          col("o.dt").as("dt"), col("o.lang").as("lang")))
        .otherwise(col("o")))
    val viol = graft.shacl.DfShacl.validate(bad, Pipeline.qualityShapes)
    assert(viol.count() > 0)
    assert(viol.select("component").distinct().collect().map(_.getString(0))
      .forall(_.endsWith("PatternConstraintComponent")))
  }

  test("sha256 invariant: Spark sha2 == JVM digest on every row") {
    import spark.implicits._
    val corpus = spark.createDataset(CorpusGen.generate(42, 10, 5))
    assert(Extractor.shaViolations(corpus).count() == 0)
  }

  test("resume: second run skips all committed stages") {
    val out = Files.createTempDirectory("graft_resume").toString
    val first = Pipeline.run(spark, 5, 3, out)
    assert(first.forall(!_.skipped))
    val second = Pipeline.run(spark, 5, 3, out)
    assert(second.forall(_.skipped))
  }

  test("resume: a stage without committed manifest re-runs") {
    val out = Files.createTempDirectory("graft_resume2").toString
    Pipeline.run(spark, 5, 3, out)
    // simulate a crash between writing canon output and committing it
    val manifest = java.nio.file.Paths.get(s"$out/stages/canon/manifest.json")
    Files.delete(manifest)
    val rerun = Pipeline.run(spark, 5, 3, out)
    assert(rerun.find(_.name == "canon").exists(!_.skipped))
    assert(rerun.find(_.name == "ingest").exists(_.skipped))
  }

  test("fused run + id-encoded store: decoded triples equal the staged store") {
    val outStaged = Files.createTempDirectory("graft_staged").toString
    val outFused = Files.createTempDirectory("graft_fused").toString
    Pipeline.run(spark, 20, 6, outStaged)
    Pipeline.runFused(spark, 20, 6, outFused)
    val staged = spark.read.parquet(s"$outStaged/stages/materialize/spo")
      .collect()
      .map(r => s"${ntOf(r, "s")} ${ntOf(r, "p")} ${ntOf(r, "o")} .").toSet
    // fused writes the plain layout; exercise the id-encoded store + decode
    // separately on the staged canon output
    val outEnc = Files.createTempDirectory("graft_enc").toString
    val canon = spark.read.parquet(s"$outStaged/stages/canon/triples")
    val n = graft.store.TripleStore.materializeEncoded(canon, outEnc, parent = None,
      partitions = 4)
    val fusedPlain = spark.read.parquet(s"$outFused/snapshot/spo")
      .collect()
      .map(r => s"${ntOf(r, "s")} ${ntOf(r, "p")} ${ntOf(r, "o")} .").toSet
    assert(fusedPlain == staged)
    val decoded = graft.store.TripleStore
      .decodeEncoded(spark, outEnc)
      .collect()
      .map { r =>
        def nt(a: String) = {
          val t = r.getAs[Row](a)
          Term(t.getAs[Byte]("kind"), t.getAs[String]("lex"),
            t.getAs[String]("dt"), t.getAs[String]("lang")).toNTriples
        }
        s"${nt("s")} ${nt("p")} ${nt("o")} ."
      }.toSet
    assert(n.toInt == decoded.size)
    assert(decoded == staged)
  }

  test("adaptive CC: local union-find equals distributed star contraction") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ => (s"n${rnd.nextInt(120)}", s"n${rnd.nextInt(120)}"))
      .toDF("src", "dst")
    def cc() = graft.canon.ConnectedComponents.runAdaptive(edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val local = cc()
    val dist = TestSpark.withFixpointBudget(0)(cc())
    assert(local == dist)
  }

  test("salted linking produces identical triples to broadcast linking") {
    val outA = Files.createTempDirectory("graft_bc").toString
    val outB = Files.createTempDirectory("graft_salt").toString
    Pipeline.run(spark, 10, 4, outA, saltFactor = 0)
    Pipeline.run(spark, 10, 4, outB, saltFactor = 8)
    def nts(dir: String) = spark.read.parquet(s"$dir/stages/materialize/spo")
      .collect().map(r => s"${ntOf(r, "s")} ${ntOf(r, "p")} ${ntOf(r, "o")} .").toSet
    assert(nts(outA) == nts(outB))
  }

  test("inputDigest: distinct inputs and changed inputs get distinct snapshot keys") {
    import graft.store.TripleStore
    val a = Files.createTempDirectory("graft_diga")
    val b = Files.createTempDirectory("graft_digb")
    Files.write(a.resolve("x.parquet"), Array[Byte](1, 2, 3))
    Files.write(b.resolve("x.parquet"), Array[Byte](1, 2, 3))
    // same file listing, different dirs → different keys (path is hashed)
    assert(TripleStore.inputDigest(a.toString) != TripleStore.inputDigest(b.toString))
    // stable across calls
    assert(TripleStore.inputDigest(a.toString) == TripleStore.inputDigest(a.toString))
    // a changed input (new file) changes the key — no stale-snapshot reuse
    val before = TripleStore.inputDigest(a.toString)
    Files.write(a.resolve("y.parquet"), Array[Byte](9))
    assert(TripleStore.inputDigest(a.toString) != before)
  }

  /** Duplicate triples that differ in repo/lang: the snapshot keeps the
   * same survivor whatever the input's partition order, so the SPO
   * layout's repo/lang and the lineage counts are reproducible. */
  test("snapshot dedup keeps the same duplicate under any partition order") {
    import graft.model.Triple
    import graft.store.TripleStore
    def iri(x: String) = Term.iri("http://example/" + x)
    val rows = (0 until 40).flatMap { k =>
      val t = Triple(iri("s" + k % 7), iri("p" + k % 3), iri("o" + k))
      Seq((t, "r" + k % 5, "java"), (t, "r" + (k + 2) % 5, "scala"), (t, "r9", "java"))
    }
    def frame(rs: Seq[(Triple, String, String)], parts: Int) =
      spark.createDataFrame(rs.map { case (t, r, l) => (t.s, t.p, t.o, r, l) })
        .toDF("s", "p", "o", "repo", "lang").repartition(parts)
    def snapshot(rs: Seq[(Triple, String, String)], parts: Int) = {
      val dir = Files.createTempDirectory("graft_dedup").toString
      TripleStore.materialize(frame(rs, parts), dir, parent = None, partitions = 3)
      def sorted(sub: String) = spark.read.parquet(s"$dir/$sub").collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
      (sorted("spo"), sorted("lineage"))
    }
    val a = snapshot(rows, 1)
    val b = snapshot(rows.reverse, 4)
    assert(a._1.size == 40)
    assert(a == b)
  }
}
