package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.extract.{Candidate, Extractor}
import graft.fixtures.{CorpusGen, CorpusRow, DictRow}
import graft.link.Linker
import graft.store.TripleStore

/**
 * The end-to-end KG-construction DAG (north star):
 *
 *   ingest (corpus, partitioned by repo+lang)
 *     → extract+normalize (pure per-row; mapPartitions)
 *     → link (broadcast or salted dictionary join)
 *     → canon (sameAs edges → large-star/small-star CC → rewrite)
 *     → materialize (dedup + SPO/POS/OSP sorted parquet + lineage + manifest)
 *
 * Every stage writes an immutable `stages/<name>` output plus a committed
 * manifest; on restart, committed stages are skipped and the DAG resumes
 * from the first uncommitted one (checkpointed stage manifests per the
 * north rule). spark-submit entry: `graft.pipeline.Pipeline <nRepos>
 * <filesPerRepo> <outDir> [--salted F]`.
 */
object Pipeline {

  final case class StageResult(name: String, rows: Long, skipped: Boolean, wallMs: Long)

  /** The canon stage both runs share: the sameAs edges close under
   * [[ConnectedComponents.runAdaptive]] (driver or distributed face, from
   * the one `graft.fixpoint.driverRows` budget) and every s/o IRI is
   * rewritten to its component representative. */
  private def canonStage(linked: DataFrame): DataFrame = {
    val edges = linked
      .where(col("p.lex") === CorpusGen.OWL_SAMEAS)
      .select(col("s.lex").as("src"), col("o.lex").as("dst"))
    ConnectedComponents.rewrite(linked, ConnectedComponents.runAdaptive(edges))
  }

  /**
   * Fused single-pass run: generate → extract → link → canon → materialize
   * with NO intermediate stage materialization — only the CC edge list (it
   * is iterated) and the final snapshot hit storage. This is the
   * throughput configuration: at 100 TB you checkpoint at a few chosen
   * boundaries, not after every operator; `run` (staged) and `runFused`
   * are the two ends of that knob, sharing all stage logic.
   */
  def runFused(spark: SparkSession, nRepos: Int, filesPerRepo: Int, outDir: String,
               seed: Long = 42): Long = {
    import spark.implicits._
    val corpus = CorpusGen.generateDistributed(spark, seed, nRepos, filesPerRepo)
    // generation already yields repo-range partitions — skip the re-shuffle
    val cands = Extractor.extract(corpus, repartition = false)
    val nEntities = CorpusGen.nEntities(nRepos, filesPerRepo)
    val dict = CorpusGen.dictionaryDistributed(spark, nEntities)
    // join-strategy selection (north rule): broadcast while the dictionary
    // is genuinely small; above ~100k entities the broadcast build is a
    // serial driver cost (and at 10^12-file scale an impossibility), so
    // switch to the salted shuffled join
    val linked0 =
      // CorpusGen dictionaries have one row per surface (entityRows emits
      // distinct variants) — declare it to skip the best-candidate window
      if (nEntities <= 100000) Linker.exact(cands, dict, uniqueSurfaces = true)
      else Linker.exactSalted(cands, dict, spark.sparkContext.defaultParallelism,
        uniqueSurfaces = true)
    // linked is consumed twice (edge extraction + final materialize):
    // persist at this boundary instead of recomputing the whole
    // gen→extract→link lineage a second time
    val linked = linked0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rewritten = canonStage(linked.toDF())
      // plain term-struct store: measured faster than materializeEncoded
      // on this corpus (terms are mostly unique, so the 3n-row dictionary
      // shuffle costs more than the narrow id rows save — see BASELINE.md)
      TripleStore.materialize(rewritten, s"$outDir/snapshot",
        parent = None, partitions = spark.sparkContext.defaultParallelism)
    } finally linked.unpersist()
  }

  def run(spark: SparkSession, nRepos: Int, filesPerRepo: Int, outDir: String,
          saltFactor: Int = 0, seed: Long = 42): Seq[StageResult] = {
    import spark.implicits._
    val results = Seq.newBuilder[StageResult]
    val input = s"seed=$seed nRepos=$nRepos filesPerRepo=$filesPerRepo"

    def stage(name: String)(body: String => Long): StageResult = {
      val dir = s"$outDir/stages/$name"
      val t0 = System.nanoTime()
      val r =
        if (TripleStore.isCommitted(dir)) {
          // resume = same stage AND same inputs: a committed manifest for
          // different params is STALE output, not progress — skipping it
          // would silently report the old corpus as this run's result
          val m = TripleStore.readManifest(Paths.get(dir, "manifest.json"))
          require(m.get("input").forall(_ == input),
            s"stage $name at $dir was committed for input " +
              s"'${m.getOrElse("input", "?")}' but this run is '$input' — " +
              s"stale output; delete $outDir/stages to rebuild")
          StageResult(name, m.get("rows").map(_.toLong).getOrElse(-1L),
            skipped = true, 0)
        } else {
          val rows = body(dir)
          // MERGE with whatever manifest the body itself committed (the
          // materialize stage's TripleStore.materialize writes the
          // snapshot manifest to this same path — clobbering it would
          // lose the layouts/parent/n_triples record)
          val existing = TripleStore.readManifest(Paths.get(dir, "manifest.json"))
          TripleStore.writeManifest(Paths.get(dir, "manifest.json"),
            existing ++ Map(
              "stage" -> name, "rows" -> rows.toString, "input" -> input))
          StageResult(name, rows, skipped = false, (System.nanoTime() - t0) / 1000000)
        }
      results += r; r
    }

    // ---- ingest: synthesize (or in production: read Iceberg) and partition
    stage("ingest") { dir =>
      val corpus = CorpusGen.generateDistributed(spark, seed, nRepos, filesPerRepo)
      corpus.repartition(col("repo"), col("lang"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/corpus")
      spark.read.parquet(s"$dir/corpus").count()
    }
    val corpus = spark.read.parquet(s"$outDir/stages/ingest/corpus").as[CorpusRow]

    // ---- extract + normalize (one fused narrow stage). The ingest stage
    // already clustered the corpus files by (repo, lang) — re-shuffling
    // every content byte again would double the pipeline's most expensive
    // exchange for nothing (Extractor's repartition knob exists for this)
    stage("extract") { dir =>
      val cands = Extractor.extract(corpus, repartition = false)
      cands.write.mode(SaveMode.Overwrite).parquet(s"$dir/candidates")
      spark.read.parquet(s"$dir/candidates").count()
    }
    val cands = spark.read.parquet(s"$outDir/stages/extract/candidates").as[Candidate]

    // ---- link
    stage("link") { dir =>
      val dict = CorpusGen.dictionaryDistributed(spark,
        CorpusGen.nEntities(nRepos, filesPerRepo))
      val linked =
        if (saltFactor > 1) Linker.exactSalted(cands, dict, saltFactor, uniqueSurfaces = true)
        else Linker.exact(cands, dict, uniqueSurfaces = true)
      linked.write.mode(SaveMode.Overwrite).parquet(s"$dir/linked")
      spark.read.parquet(s"$dir/linked").count()
    }
    val linked = spark.read.parquet(s"$outDir/stages/link/linked")

    // ---- canon: CC over sameAs edges, rewrite subjects/objects
    stage("canon") { dir =>
      canonStage(linked).write.mode(SaveMode.Overwrite).parquet(s"$dir/triples")
      spark.read.parquet(s"$dir/triples").count()
    }
    val canon = spark.read.parquet(s"$outDir/stages/canon/triples")

    // ---- materialize: dedup + SPO/POS/OSP + lineage + snapshot manifest
    stage("materialize") { dir =>
      TripleStore.materialize(canon, dir, parent = None)
    }

    // ---- validate: SHACL quality gate over the canonical triples
    // (DfShacl — the DataFrame face — so the gate scales with the KG:
    // pruned p-scans + subject equi-joins, no driver-side data). A dirty
    // run persists the violations for triage and then FAILS the stage;
    // kept out of the fused path so the throughput benchmark measures
    // construction alone.
    stage("validate") { dir =>
      val violations = graft.shacl.DfShacl.validate(
        canon.select("s", "p", "o"), qualityShapes)
      violations.write.mode(SaveMode.Overwrite).parquet(s"$dir/violations")
      val n = spark.read.parquet(s"$dir/violations").count()
      require(n == 0,
        s"KG quality gate: $n SHACL violations — triage at $dir/violations")
      n
    }

    results.result()
  }

  /** The KG's structural contract as a SHACL shapes graph: every file
   * node carries exactly one well-formed sha256 (the pipeline's per-row
   * invariant, asserted here END-TO-END on the materialized output) and
   * a language tag; repo/defines links must be IRIs. */
  private[graft] def qualityShapes: Seq[graft.model.Triple] = {
    import graft.model.{Term, Triple}
    import graft.shacl.SH
    import graft.fixtures.CorpusGen._
    def sh(l: String) = SH.sh(l)
    def iri(s: String) = Term.iri(s)
    def int(n: Int) = Term.lit(n.toString, SH.XSD + "integer")
    val file = iri(KG + "shape/File")
    val repo = iri(KG + "shape/Repo")
    def ps(parent: Term, n: Int, path: String)(cs: (Term, Term)*): Seq[Triple] = {
      val p = iri(parent.lex + s"-p$n")
      Triple(parent, sh("property"), p) +:
        (Triple(p, sh("path"), iri(path)) +: cs.map(c => Triple(p, c._1, c._2)))
    }
    Seq(
      Triple(file, SH.rdfType, sh("NodeShape")),
      Triple(file, sh("targetSubjectsOf"), iri(P_SHA256)),
      Triple(repo, SH.rdfType, sh("NodeShape")),
      Triple(repo, sh("targetSubjectsOf"), iri(P_HASFILE))) ++
      ps(file, 1, P_SHA256)(
        sh("minCount") -> int(1), sh("maxCount") -> int(1),
        sh("datatype") -> iri(Term.XSD_STRING),
        sh("pattern") -> Term.string("^[0-9a-f]{64}$")) ++
      ps(file, 2, P_INLANG)(
        sh("minCount") -> int(1), sh("nodeKind") -> sh("Literal")) ++
      ps(file, 3, P_DEFINES)(sh("nodeKind") -> sh("IRI")) ++
      ps(repo, 1, P_HASFILE)(
        sh("minCount") -> int(1), sh("nodeKind") -> sh("IRI"))
  }

  def main(args: Array[String]): Unit = {
    val nRepos = if (args.length > 0) args(0).toInt else 50
    val filesPerRepo = if (args.length > 1) args(1).toInt else 20
    val outDir = if (args.length > 2) args(2) else "/tmp/graft_pipeline"
    require(!outDir.startsWith("--"),
      s"outDir '$outDir' looks like a flag — pass positional args as " +
        "<nRepos> <filesPerRepo> <outDir> [--salted F]")
    val saltFactor = args.sliding(2).collectFirst {
      case Array("--salted", f) => f.toInt }.getOrElse(0)
    val spark = graft.LocalSession.build(graft.LocalSession.envCores)
    val t0 = System.nanoTime()
    val rs = run(spark, nRepos, filesPerRepo, outDir, saltFactor)
    val wall = (System.nanoTime() - t0) / 1e9
    rs.foreach(r => println(
      f"[pipeline] ${r.name}%-12s rows=${r.rows}%9d skipped=${r.skipped} ${r.wallMs} ms"))
    val triples = rs.find(_.name == "materialize").map(_.rows).getOrElse(-1L)
    println(f"[pipeline] total wall=$wall%.2f s, triples=$triples, throughput=${triples / wall}%.0f triples/s")
    spark.stop()
  }
}
