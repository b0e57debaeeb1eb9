package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Triple-table materialization — the columnar analog of TDB2's storage
 * layout: three index permutations SPO / POS / OSP
 * (reference: jena-db/.../dboe/sys/Names.java:43–47, wired in
 * jena-tdb2/.../params/StoreParamsConst.java:78–84), realized as
 * range-partitioned, sorted Parquet so Catalyst's min/max stats give the
 * same "pick the index for the pattern shape" behavior as Jena's three
 * hash maps (mem/store/fast/FastTripleStore.java:36–85).
 *
 * Dedup before write = Graph set semantics ("add does nothing if the triple
 * is already present", mem/store/TripleStore.java:43–47).
 *
 * Snapshots are Iceberg-style without the Iceberg runtime (not on the
 * offline classpath): each commit is an immutable directory
 * `snapshots/<id>/` with the three table dirs, a `lineage/` metrics table,
 * and a `manifest.json` written atomically (temp file + move). Resume =
 * "does a committed manifest for this stage+input exist" — idempotent
 * stages re-run only what is missing (north rule resumability).
 */
object TripleStore {

  /** Await a batch of concurrent layout writes such that (a) a failure is
   * raised only after EVERY sibling finished — Future.sequence fails
   * fast while stragglers keep writing into the snapshot dir, racing any
   * retry of the same uncommitted snapshot — and (b) sibling failures
   * surface as suppressed exceptions instead of vanishing. */
  private def awaitAll(writes: Seq[scala.concurrent.Future[_]]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val settled = Future.sequence(
      writes.map(_.map(scala.util.Success(_): scala.util.Try[Any])
        .recover { case e => scala.util.Failure(e) }))
    val failures = Await.result(settled, Duration.Inf)
      .collect { case scala.util.Failure(e) => e }
    if (failures.nonEmpty) {
      failures.tail.foreach(failures.head.addSuppressed)
      throw failures.head
    }
  }

  // ------------------------------------------------------------ layouts
  // The snapshot format, owned here and nowhere else: every term slot is
  // stored flat as four columns x_kind/x_lex/x_dt/x_lang (the fields of
  // TermCols.schema), so constants push down to parquet as plain column
  // equalities; every layout is read back with its schema given.

  /** The term slots of a triple row and of a quad row. */
  val TripleSlots: Seq[String] = Seq("s", "p", "o")
  val QuadSlots: Seq[String] = Seq("g", "s", "p", "o")

  /** Pipeline partition columns; they ride only the primary layout. */
  private val Extras = Seq("repo", "lang")

  private val termFields = graft.algebra.TermCols.schema.fields.toSeq

  /** The flat columns of one term slot. */
  def flatCols(slot: String): Seq[String] = termFields.map(f => s"${slot}_${f.name}")

  /** The term struct of one slot of a flat frame. */
  def term(slot: String): Column =
    struct(termFields.map(f => col(s"${slot}_${f.name}").as(f.name)): _*)

  /** Term-struct columns `slots` → their flat columns, then `extras`. */
  def flatten(df: DataFrame, slots: Seq[String], extras: Seq[String] = Nil): DataFrame =
    df.select(slots.flatMap(x => termFields.map(f =>
      col(s"$x.${f.name}").as(s"${x}_${f.name}"))) ++ extras.map(col): _*)

  /** Flat columns → one term-struct column per slot. */
  def unflatten(df: DataFrame, slots: Seq[String]): DataFrame =
    df.select(slots.map(x => term(x).as(x)): _*)

  /** One layout directory of a snapshot and the schema it was written with. */
  final case class Layout(name: String, schema: StructType)

  private def flatSchema(slots: Seq[String], extras: Seq[String]): StructType =
    StructType(slots.flatMap(x => termFields.map(f => StructField(s"${x}_${f.name}", f.dataType))) ++
      extras.map(StructField(_, StringType)))

  /** The sort order a pattern reads: the one whose leading slot is bound
   * — the FastTripleStore index-selection rule, columnar edition
   * (mem/pattern/PatternClassifier.java:51). A quad layout leads with the
   * graph, so the same s/p/o rule picks within it. */
  def order(bound: String => Boolean): String =
    Seq("spo", "pos", "osp").find(o => bound(o.take(1))).getOrElse("spo")

  /** Term-struct triple layouts spo/pos/osp. */
  def termLayout(order: String): Layout =
    Layout(order, flatSchema(TripleSlots, if (order == "spo") Extras else Nil))

  /** Quad layouts gspo/gpos/gosp. */
  def quadLayout(order: String): Layout = Layout("g" + order, flatSchema(QuadSlots, Nil))

  /** Id-encoded fact layouts: (s_id, p_id, o_id) LONG rows. */
  def idLayout(order: String): Layout = Layout(order, StructType(
    TripleSlots.map(x => StructField(s"${x}_id", LongType)) ++
      (if (order == "spo") Extras.map(StructField(_, StringType)) else Nil)))

  /** The id-encoded snapshot's dictionary: id → term fields. */
  val TermsLayout: Layout =
    Layout("terms", StructType(StructField("id", LongType) +:
      termFields.map(f => StructField(f.name, f.dataType))))

  /** Read one layout of a snapshot. The schema is given, so opening a
   * layout launches no schema-inference job. */
  def read(spark: SparkSession, snapshotDir: String, layout: Layout): DataFrame =
    spark.read.schema(layout.schema).parquet(s"$snapshotDir/${layout.name}")

  // ------------------------------------------------------------- writers

  /**
   * Dedup (set semantics) + the three sorted layouts + lineage + manifest.
   *
   * Shuffle plan (the load-bearing decision at 100 TB): dedup rides the
   * SPO range shuffle instead of paying its own hash shuffle — under range
   * partitioning by (s,p,o) identical triples land in the same partition,
   * and after an in-partition sort on the full term key duplicates are
   * adjacent, so a narrow `mapPartitions` sweep removes them. POS/OSP and
   * the lineage table are then derived from the COMMITTED SPO files
   * (columnar re-read — what a production job does anyway instead of
   * holding the full set in executor memory). Net: 3 full-data shuffles
   * instead of 4, and no multi-GB cache competing with sort memory.
   */
  def materialize(triples: DataFrame, snapshotDir: String,
                  parent: Option[String], partitions: Int = 32): Long =
    writeSorted(flatten(triples, TripleSlots, Extras), snapshotDir, parent, partitions,
      quads = false)

  // Named-graph layouts GSPO / GPOS / GOSP — the TDB2 primary quad
  // indexes (dboe/sys/Names.java:43–47 primaryIndexQuads).

  /** Quad-store materialization: dedup + GSPO/GPOS/GOSP sorted layouts +
   * per-graph lineage + manifest. */
  def materializeQuads(quads: DataFrame, snapshotDir: String,
                       parent: Option[String], partitions: Int = 32): Long =
    writeSorted(flatten(quads, QuadSlots), snapshotDir, parent, partitions, quads = true)

  /** The one term-layout writer behind [[materialize]] and
   * [[materializeQuads]]: dedup sweep into the primary layout, the two
   * secondary orders and the lineage table from its committed files, then
   * the manifest. */
  private def writeSorted(flat: DataFrame, snapshotDir: String, parent: Option[String],
                          partitions: Int, quads: Boolean): Long = {
    val spark = flat.sparkSession
    val t0 = System.nanoTime()
    val layout: String => Layout = if (quads) quadLayout else termLayout
    val slots = if (quads) QuadSlots else TripleSlots
    val termKey = slots.flatMap(flatCols)
    // range keys: the graph (quads), then the order's s/p/o lexical forms
    def lexKeys(order: String): Seq[Column] =
      (slots.dropRight(3) ++ order.map(_.toString)).map(x => col(s"${x}_lex"))
    val keyIdx = termKey.map(flat.schema.fieldIndex)
    flat
      .repartitionByRange(partitions, lexKeys("spo"): _*)
      .sortWithinPartitions(flat.columns.map(col): _*)
      .mapPartitions { rows =>
        // adjacent-duplicate elimination on the term key. Duplicates may
        // differ in repo/lang; the sort breaks term-key ties on them, so
        // the survivor (the least extras) does not depend on the input's
        // partition order
        var prev: Seq[Any] = null
        rows.filter { r =>
          val key = keyIdx.map(r.get)
          val keep = prev == null || key != prev
          prev = key
          keep
        }
      }(org.apache.spark.sql.Encoders.row(flat.schema))
      .write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/${layout("spo").name}")

    val primary = read(spark, snapshotDir, layout("spo"))
    val total = primary.count()

    // the secondary orders carry the term columns only: the query read
    // path never touches repo/lang on them, so the two derived range
    // shuffles move ~15% fewer bytes per row (BASELINE.md per-stage split)
    def sortedWrite(order: String): Unit =
      primary.select(termKey.map(col): _*)
        .repartitionByRange(partitions, lexKeys(order): _*)
        .sortWithinPartitions(lexKeys(order): _*)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$snapshotDir/${layout(order).name}")

    // per-partition lineage + metrics rows (north rule): counts by the
    // pipeline's partition key (repo, lang), or per graph
    val (noun, lineageBy) = if (quads) ("quads", Seq("g_lex")) else ("triples", Extras)
    // secondary orders + lineage are independent reads of the committed
    // primary files — concurrent jobs overlap their shuffles and commits
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    awaitAll(Seq(
      Future(sortedWrite("pos")),
      Future(sortedWrite("osp")),
      Future {
        primary.groupBy(lineageBy.map(col): _*)
          .agg(count(lit(1)).as(s"n_$noun"),
            countDistinct(col("s_lex")).as("n_subjects"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/lineage")
      }))

    writeManifest(Paths.get(snapshotDir, "manifest.json"), Map(
      "snapshot" -> Paths.get(snapshotDir).getFileName.toString,
      "parent" -> parent.getOrElse(""),
      "layouts" -> Seq("spo", "pos", "osp").map(layout(_).name).mkString(","),
      s"n_$noun" -> total.toString,
      "wall_ms" -> ((System.nanoTime() - t0) / 1000000).toString))
    total
  }

  /**
   * Dictionary-encoded materialization — the TDB2 NodeTable analog
   * (jena-tdb2/.../store/nodetable/NodeTable.java; SURVEY.md §1.6 "terms
   * are dictionary-encoded to fixed-width NodeIds"). Term ids are
   * CONTENT-DERIVED (xxhash64 of the 4 struct fields), so no sequential-id
   * coordination point exists — any executor can compute any term's id
   * locally, exactly like the seeded bnode labels. Layouts become narrow
   * (s_id, p_id, o_id) long rows: range shuffles move ~20 bytes/triple
   * instead of hundreds, which is the difference between memory-bandwidth-
   * bound and CPU-bound at high parallelism (measured in BASELINE.md).
   *
   * Output: `terms/` dictionary (id → term struct fields) + sorted
   * `spo/pos/osp` id-fact tables + `lineage/` + manifest.
   */
  def materializeEncoded(triples: DataFrame, snapshotDir: String,
                         parent: Option[String], partitions: Int = 32): Long = {
    val t0 = System.nanoTime()
    val flat = flatten(triples, TripleSlots, Extras)

    def tid(p: String): Column =
      xxhash64(col(s"${p}_kind"), col(s"${p}_lex"), col(s"${p}_dt"), col(s"${p}_lang"))

    val facts = flat
      .withColumn("s_id", tid("s")).withColumn("p_id", tid("p")).withColumn("o_id", tid("o"))
      .select((idLayout("spo").schema.fieldNames.toSeq ++ TripleSlots.flatMap(flatCols))
        .map(col): _*)
      .dropDuplicates("s_id", "p_id", "o_id")
      .cache()
    val total = facts.count()

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // repo/lang ride only the primary SPO layout (decodeEncoded's default);
    // the id-BGP read path (Compiler.scanBgp) projects the three id columns
    def idWrite(order: String): Unit = {
      val keys = order.map(x => col(s"${x}_id"))
      facts.select(idLayout(order).schema.fieldNames.toSeq.map(col): _*)
        .repartitionByRange(partitions, keys: _*)
        .sortWithinPartitions(keys: _*)
        .write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/$order")
    }

    // reuse the already-materialized id columns (re-hashing would cost 3
    // extra full-data xxhash passes on the bandwidth-bound stage)
    def slot(p: String) = facts.select(col(s"${p}_id").as("id") +:
      termFields.map(f => col(s"${p}_${f.name}").as(f.name)): _*)

    val writes = Seq(
      Future(idWrite("spo")),
      Future(idWrite("pos")),
      Future(idWrite("osp")),
      Future {
        val dict = slot("s").union(slot("p")).union(slot("o"))
          .dropDuplicates("kind", "lex", "dt", "lang")
          .repartitionByRange(math.max(1, partitions / 4), col("id"))
          .sortWithinPartitions("id")
          .persist()
        // collision guard: content-derived ids are only sound while every
        // distinct term gets a distinct id. One vocabulary-sized count
        // pair; on a collision the snapshot would silently decode WRONG
        // terms and merge distinct triples — fail before committing.
        val nTerms = dict.count()
        val nIds = dict.select("id").distinct().count()
        if (nTerms != nIds) {
          dict.unpersist()
          throw new IllegalStateException(
            s"xxhash64 term-id collision: $nTerms distinct terms map to " +
              s"$nIds ids — the encoded layout cannot represent this " +
              "vocabulary; use the term-struct materialize instead")
        }
        dict.write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/${TermsLayout.name}")
        dict.unpersist()
      },
      Future {
        facts.groupBy("repo", "lang")
          .agg(count(lit(1)).as("n_triples"), countDistinct(col("s_id")).as("n_subjects"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$snapshotDir/lineage")
      })
    awaitAll(writes)
    facts.unpersist()

    writeManifest(Paths.get(snapshotDir, "manifest.json"), Map(
      "snapshot" -> Paths.get(snapshotDir).getFileName.toString,
      "parent" -> parent.getOrElse(""),
      "layouts" -> "spo,pos,osp,terms(encoded)",
      "encoding" -> "xxhash64-termid",
      "n_triples" -> total.toString,
      "wall_ms" -> ((System.nanoTime() - t0) / 1000000).toString))
    total
  }

  /** Decode an id-encoded layout back to term-struct triples (three
   * dictionary joins — AQE broadcasts the dictionary when it fits). */
  def decodeEncoded(spark: SparkSession, snapshotDir: String,
                    layout: String = "spo"): DataFrame = {
    val facts = read(spark, snapshotDir, idLayout(layout))
    val terms = read(spark, snapshotDir, TermsLayout)
    def term(alias: String) = terms.select(col("id").as(s"${alias}_tid"),
      struct(col("kind"), col("lex"), col("dt"), col("lang")).as(alias))
    // repo/lang ride only the primary spo layout; pos/osp decode to the
    // bare term triple
    val extras =
      if (facts.columns.contains("repo")) Seq(col("repo"), col("lang")) else Nil
    facts
      .join(term("s"), col("s_id") === col("s_tid"))
      .join(term("p"), col("p_id") === col("p_tid"))
      .join(term("o"), col("o_id") === col("o_tid"))
      .select(Seq(col("s"), col("p"), col("o")) ++ extras: _*)
  }

  /** Atomic manifest commit: write temp, then move into place. A snapshot
   * without manifest.json is by definition uncommitted → safely re-runnable. */
  def writeManifest(path: Path, fields: Map[String, String]): Unit = {
    Files.createDirectories(path.getParent)
    def q(s: String) = "\"" + s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x" // other control chars
      case c => c.toString
    } + "\""
    val json = fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def isCommitted(snapshotDir: String): Boolean =
    Files.exists(Paths.get(snapshotDir, "manifest.json"))

  /** Content digest of an input directory for snapshot-dir keying: the
   * canonical path plus every parquet file's (relative name, size,
   * mtime), sha-256'd. Two different inputs cannot collide, and a
   * changed input (new files, rewritten files) changes the digest — the
   * stale-reuse hazard a bare path hashCode had. */
  def inputDigest(dir: String): String = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    val entries =
      if (!Files.exists(root)) Seq.empty
      else {
        val st = Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
            .map(p => s"${root.relativize(p)}|${Files.size(p)}|" +
              s"${Files.getLastModifiedTime(p).toMillis}")
            .toSeq.sorted
        } finally st.close()
      }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(root.toString.getBytes("UTF-8"))
    entries.foreach(e => md.update(('\n' + e).getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Read back a [[writeManifest]] document (flat string→string JSON).
   * Missing file → empty map. */
  def readManifest(path: Path): Map[String, String] = {
    if (!Files.exists(path)) return Map.empty
    def unesc(s: String): String = {
      val b = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case 'n' => b.append('\n'); i += 2
            case 'r' => b.append('\r'); i += 2
            case 't' => b.append('\t'); i += 2
            case 'u' if i + 5 < s.length =>
              b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case c => b.append(c); i += 2
          }
        } else { b.append(s.charAt(i)); i += 1 }
      }
      b.toString
    }
    """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      .findAllMatchIn(Files.readString(path))
      .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap
  }
}
