package graft.fixtures

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.model.Term
import graft.normalize.{BNodes, Iri, Literals}

/** One input row — exactly the shape mandated by BASELINE.json `input_hint`:
 * an Iceberg-style table of source-code repositories. */
final case class CorpusRow(repo: String, path: String, commit: String,
                           lang: String, content: String)

/** Entity-linking dictionary row (FIXTURES.md §3). */
final case class DictRow(iri: String, surface: String, weight: Double)

/**
 * Deterministic synthetic source-code corpus with plantable mentions
 * (FIXTURES.md §1–4). Everything — rows, dictionary, sameAs alias groups and
 * the expected golden triples — is computed from the seed by construction,
 * so golden P/R tests need no external data.
 *
 * The planted-line grammar (one fact per line, grep-able):
 *   def <Name>         → (file, code:defines, kg:def/<Name>)
 *   import <surface>   → (file, code:imports, <linked entity IRI>)
 *   sameas <eA> <eB>   → (kg:entity/eA, owl:sameAs, kg:entity/eB)  (CC edge)
 *   license <id>       → (file, code:license, "<id>")
 *   size <digits>      → (file, code:size, "<canon int>"^^xsd:integer)
 *   ref <relative-iri> → (file, code:ref, <resolved against file IRI>)
 *   note <label>       → (file, code:note, _:<document-scoped bnode>)
 * plus structural triples (repo, code:hasFile, file), (file, code:inLang,
 * "<lang>"), (file, code:sha256, "<hex>").
 *
 * This is the distributed twin of the fixture corpora the reference tests
 * with (jena-core/testing/regression + jena-arq/testing/ARQ manifests) —
 * same idea, synthesized instead of checked in.
 */
object CorpusGen {
  val KG = "http://example.org/kg/"
  val CODE = "http://example.org/code#"
  val OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

  val P_HASFILE: String = CODE + "hasFile"
  val P_INLANG: String = CODE + "inLang"
  val P_SHA256: String = CODE + "sha256"
  val P_DEFINES: String = CODE + "defines"
  val P_IMPORTS: String = CODE + "imports"
  val P_LICENSE: String = CODE + "license"
  val P_SIZE: String = CODE + "size"
  val P_REF: String = CODE + "ref"
  val P_NOTE: String = CODE + "note"

  private val langs = Array("java", "scala", "py", "ttl", "md")
  private val licenses = Array("MIT", "Apache-2.0", "GPL-3.0")

  def repoIri(repo: String): String = KG + "repo/" + repo
  def fileIri(repo: String, path: String, commit: String): String =
    KG + "file/" + repo + "/" + path + "@" + commit
  def entityIri(e: Int): String = KG + f"entity/E$e%06d"
  def defIri(name: String): String = KG + "def/" + name

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** Deterministic per-(seed,repo) 40-hex commit id. */
  def commitOf(seed: Long, repo: String): String =
    (sha256Hex(s"$seed|$repo") * 2).substring(0, 40)

  /** Entities 3e,3e+1,3e+2 are co-referent (one alias group); expected
   * canonical = the min IRI of the group (deterministic tie-break). */
  def canonicalEntity(e: Int): Int = e - (e % 3)

  /** Dictionary: every entity has its id surface plus up to 2 alias
   * surfaces (case/noise variants), all exact-matchable. 1% of surfaces are
   * "hot" (shared prefix mention used very often) to exercise skew. */
  def dictionary(nEntities: Int): Seq[DictRow] =
    (0 until nEntities).flatMap(entityRows)

  /** Distributed dictionary for bench-scale runs — generated on executors
   * so the rows never ride the task closure (a 300k-entity dictionary is
   * ~7 MB of task payload if built driver-side). */
  def dictionaryDistributed(spark: org.apache.spark.sql.SparkSession,
                            nEntities: Int,
                            partitions: Int = 16): org.apache.spark.sql.Dataset[DictRow] = {
    import spark.implicits._
    spark.range(0, nEntities, 1, partitions).flatMap(e => entityRows(e.toInt))
  }

  private def entityRows(e: Int): Seq[DictRow] = {
    val iri = entityIri(e)
    val base = f"E$e%06d"
    val variants = Seq(base, base.toLowerCase, base + "_v2").take(1 + e % 3)
    variants.zipWithIndex.map { case (s, i) => DictRow(iri, s, 1.0 - 0.1 * i) }
  }

  /** Zipf-ish repo sizing: repo r gets files proportional to 1/(1+r%7). */
  def generate(seed: Long, nRepos: Int, filesPerRepo: Int): Seq[CorpusRow] =
    (0 until nRepos).flatMap(repoRows(seed, _, nRepos, filesPerRepo))

  /** Distributed generation for bench-scale corpora: one task per repo
   * range, no driver-side materialization — the generator itself must obey
   * the partitioning discipline it exists to exercise. */
  def generateDistributed(spark: org.apache.spark.sql.SparkSession, seed: Long,
                          nRepos: Int, filesPerRepo: Int,
                          partitions: Int = 64): org.apache.spark.sql.Dataset[CorpusRow] = {
    import spark.implicits._
    spark.range(0, nRepos, 1, partitions)
      .flatMap(r => repoRows(seed, r.toInt, nRepos, filesPerRepo))
  }

  /** Entity-dictionary size for a corpus shape — THE shared formula: the
   * generator plants mentions in [0, nEntities) and the pipeline sizes
   * its dictionary with the same expression; if they diverge, planted
   * surfaces fall outside the dictionary and the linker silently drops
   * them. */
  def nEntities(nRepos: Int, filesPerRepo: Int): Int =
    math.max(9, nRepos * filesPerRepo / 4)

  /** All rows of one repo — pure, deterministic in (seed, r). */
  def repoRows(seed: Long, r: Int, nRepos: Int, filesPerRepo: Int): Seq[CorpusRow] = {
    val rows = Seq.newBuilder[CorpusRow]
    val nEntities = CorpusGen.nEntities(nRepos, filesPerRepo)
    locally {
      val repo = f"org${r % 13}%04d/repo$r%04d"
      val commit = commitOf(seed, repo)
      val nFiles = math.max(1, filesPerRepo / (1 + r % 7))
      for (f <- 0 until nFiles) {
        val lang = langs((r + f) % langs.length)
        val path = f"src/F$f%04d.$lang"
        val mix = (r * 31 + f * 7 + seed).toInt.abs
        val sb = new StringBuilder
        sb.append(s"// synthetic $repo/$path\n")
        sb.append(s"def Ent_${r}_$f\n")
        // imports: 1–3 mentions; every 11th file hammers a hot surface (skew)
        val nImports = 1 + mix % 3
        for (i <- 0 until nImports) {
          val e = if (f % 11 == 0) 0 else (mix + i * 131) % nEntities
          val base = f"E$e%06d"
          val surface = (mix + i) % 3 match {
            case 0 => base
            case 1 => base.toLowerCase
            case 2 => if (e % 3 == 2) base + "_v2" else base
          }
          sb.append(s"import $surface\n")
        }
        // sameAs edges appear in 1 of 5 files: link group member to its base
        if (mix % 5 == 0) {
          val e = mix % nEntities
          val c = canonicalEntity(e)
          if (c != e) sb.append(f"sameas E$e%06d E$c%06d\n")
        }
        sb.append(s"license ${licenses(mix % licenses.length)}\n")
        sb.append(f"size +0${(mix % 9000) + 100}%d\n") // leading +0 → canon exercise
        sb.append(s"ref ../lib/util_${mix % 50}.h\n")
        sb.append(s"note b${mix % 4}\n")
        for (k <- 0 until (mix % 6)) sb.append(s"// filler ${k * mix}\n")
        rows += CorpusRow(repo, path, commit, lang, sb.toString)
      }
    }
    rows.result()
  }

  /** The golden triple set for a generated corpus — computed by construction
   * (the "Jena-semantics reference output" of FIXTURES.md §2): canonical
   * N-Triples strings after normalization + linking + canonicalization. */
  def goldenTriples(corpus: Seq[CorpusRow]): Set[String] = {
    // surface→IRI is injective by construction; mirror dictionary() membership
    val upper = "^E(\\d{6})$".r
    val lower = "^e(\\d{6})$".r
    val v2 = "^E(\\d{6})_v2$".r
    def surfaceToIri(s: String): Option[String] = s match {
      case upper(d) => Some(entityIri(d.toInt))
      case lower(d) => val e = d.toInt; if (e % 3 >= 1) Some(entityIri(e)) else None
      case v2(d)    => val e = d.toInt; if (e % 3 == 2) Some(entityIri(e)) else None
      case _        => None
    }

    def nt(s: Term, p: Term, o: Term): String =
      s.toNTriples + " " + p.toNTriples + " " + o.toNTriples + " ."
    def iri(s: String) = Term.iri(s)

    // sameAs edges drive the expected component map
    val edges = corpus.flatMap(_.content.linesIterator.collect {
      case l if l.startsWith("sameas ") =>
        val Array(_, a, b) = l.split(" "); (KG + "entity/" + a, KG + "entity/" + b)
    })
    val canonMap = graft.canon.ConnectedComponents.unionFind(edges)
    def canon(x: String): String = canonMap.getOrElse(x, x)

    val out = Set.newBuilder[String]
    for (row <- corpus) {
      val fIri = fileIri(row.repo, row.path, row.commit)
      val f = iri(fIri)
      out += nt(iri(repoIri(row.repo)), iri(P_HASFILE), f)
      out += nt(f, iri(P_INLANG), Term.string(row.lang))
      out += nt(f, iri(P_SHA256), Term.string(sha256Hex(row.content)))
      for (line <- row.content.linesIterator) {
        val parts = line.split(" ")
        parts(0) match {
          case "def" => out += nt(f, iri(P_DEFINES), iri(defIri(parts(1))))
          case "import" =>
            surfaceToIri(parts(1)).foreach { e =>
              out += nt(f, iri(P_IMPORTS), iri(canon(e)))
            }
          case "sameas" =>
            out += nt(iri(canon(KG + "entity/" + parts(1))), iri(OWL_SAMEAS),
              iri(canon(KG + "entity/" + parts(2))))
          case "license" => out += nt(f, iri(P_LICENSE), Term.string(parts(1)))
          case "size" =>
            out += nt(f, iri(P_SIZE),
              Term.lit(Literals.canonInteger(parts(1)), Term.XSD_INTEGER))
          case "ref" => out += nt(f, iri(P_REF), iri(Iri.resolve(fIri, parts(1))))
          case "note" =>
            val scope = s"${row.repo}/${row.path}@${row.commit}"
            out += nt(f, iri(P_NOTE), Term.bnode(BNodes.label(scope, parts(1))))
          case _ => ()
        }
      }
    }
    out.result()
  }
}
