package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.algebra.TermCols
import graft.model.Term

/**
 * Analyzed text-index analog of the reference's jena-text module
 * (jena-text/src/main/java/org/apache/jena/query/text/TextQueryPF.java:65,
 * TextIndexLucene.java:60): token postings over the graph's string
 * literals plus a `text:query`-shaped keyword lookup.
 *
 * Spark-first shape: instead of a Lucene sidecar index, the analyzed
 * postings are a (s, p, o, token) DataFrame — at 100 TB this is a
 * materialized, token-bucketed store layout beside SPO/POS/OSP (the moral
 * twin of the inverted index; build it once with [[postings]] and write it
 * partitioned by token prefix). A keyword query filters the postings on
 * its few query tokens — a pushable `isin` over the token column, so a
 * token-partitioned layout prunes everything else — then aggregates
 * matched-term counts per (subject, literal): one narrow shuffle keyed by
 * subject. Phrase terms (quoted) post-filter the candidate literals by
 * substring; a phrase-only query is a full literal scan, exactly as it
 * would be on Lucene without an n-gram field (documented).
 *
 * Scoring deviation (documented): Lucene's TF-IDF/BM25 float is replaced
 * by the matched-distinct-term count (terms + phrases), a deterministic,
 * cluster-stable integer — Lucene's own scores depend on index layout and
 * segment merges, so no oracle could pin them.
 */
object TextIndex {

  /** StandardAnalyzer stand-in: lowercase, Unicode letter/digit runs. */
  val TokenPattern = "[\\p{L}\\p{Nd}]+"

  /** Analyzed distinct tokens of a string column. Backslashes are doubled
   * for the SQL string-literal parser (expr() unescapes once). */
  def analyzeTokensExpr(colName: String): String = {
    val sqlPattern = TokenPattern.replace("\\", "\\\\")
    s"array_distinct(regexp_extract_all(lower($colName), '$sqlPattern', 0))"
  }

  /** Token postings over the graph's literal objects: one row per
   * (s, p, o-literal, distinct analyzed token). `predicates` restricts to
   * the configured indexed properties (jena-text entity-map analog);
   * empty = index every literal. A literal with no token (punctuation
   * only, empty) keeps one row with a NULL token, so the postings' (s, o)
   * set is every scoped literal: the one literal universe of both search
   * faces. */
  def postings(graph: DataFrame, predicates: Seq[String] = Nil): DataFrame =
    scopedLiterals(graph, predicates)
      .select(col("s"), col("p"), col("o"),
        explode_outer(expr(analyzeTokensExpr("o.lex"))).as("token"))

  private def scopedLiterals(graph: DataFrame, predicates: Seq[String]): DataFrame = {
    val base = graph.filter(TermCols.kind(col("o")) === Term.KIND_LIT)
    if (predicates.isEmpty) base
    else base.filter(TermCols.isIri(col("p")) &&
      TermCols.lex(col("p")).isin(predicates: _*))
  }

  /** Parsed keyword query: bare terms, quoted phrases, FUZZY terms
   * (`term~` / `term~1` / `term~2` — Lucene FuzzyQuery, default
   * maxEdits 2), WILDCARD terms (`term*` / `te?m` — Lucene
   * WildcardQuery/PrefixQuery, expanded against the token vocabulary),
   * NEGATED terms/phrases/wildcards (`-term`, `-"..."`, or a `NOT`
   * keyword — Lucene's prohibit operator), and whether an explicit AND
   * appeared (Lucene's default operator is OR). Reference query-parser
   * surface: TextIndexLucene.java:60 (QueryParser syntax). */
  final case class ParsedQuery(terms: Seq[String], phrases: Seq[String],
                               fuzzy: Seq[(String, Int)] = Nil,
                               notTerms: Seq[String] = Nil,
                               notPhrases: Seq[String] = Nil,
                               conj: Boolean = false,
                               wild: Seq[String] = Nil,
                               notWild: Seq[String] = Nil) {
    require(terms.nonEmpty || phrases.nonEmpty || fuzzy.nonEmpty ||
      wild.nonEmpty,
      "text query needs at least one positive term or phrase")
  }

  /** Anchored token regex for a wildcard term (`*` = any run, `?` = one
   * character — Lucene WildcardQuery). */
  private[text] def wildcardRegex(w: String): String =
    "^" + w.flatMap {
      case '*' => "[\\p{L}\\p{Nd}]*"
      case '?' => "[\\p{L}\\p{Nd}]"
      case c => java.util.regex.Pattern.quote(c.toString)
    } + "$"

  def parseQuery(q: String): ParsedQuery = {
    // units: optionally-negated phrase, or optionally-negated word with an
    // optional trailing fuzzy marker
    val unitRe = """(-?)"([^"]*)"|(-?)([^\s"]+)""".r
    var terms = Vector[String]()
    var phrases = Vector[String]()
    var fuzzy = Vector[(String, Int)]()
    var notTerms = Vector[String]()
    var notPhrases = Vector[String]()
    var wild = Vector[String]()
    var notWild = Vector[String]()
    var conj = false
    var pendingNot = false
    def analyze(w: String): Seq[String] =
      w.toLowerCase.split(s"[^\\p{L}\\p{Nd}]+").toSeq.filter(_.nonEmpty)
    // wildcard analysis keeps * and ? (WildcardQuery); a pattern with no
    // concrete character at all ("*") is dropped like Lucene's
    // disallowed match-all term
    def analyzeWild(w: String): Option[String] = {
      val kept = w.toLowerCase.filter(c =>
        c == '*' || c == '?' || Character.isLetterOrDigit(c))
      if (kept.exists(Character.isLetterOrDigit)) Some(kept) else None
    }
    unitRe.findAllMatchIn(q).foreach { m =>
      if (m.group(2) != null) { // phrase
        val neg = m.group(1) == "-" || pendingNot
        pendingNot = false
        val p = m.group(2).toLowerCase
        if (p.nonEmpty) {
          if (neg) notPhrases :+= p else phrases :+= p
        }
      } else {
        val neg0 = m.group(3) == "-"
        val w0 = m.group(4)
        if (w0 == "AND") conj = true
        else if (w0 == "OR") ()
        else if (w0 == "NOT") pendingNot = true
        else {
          val neg = neg0 || pendingNot
          pendingNot = false
          val fuzzyRe = """(.+?)~(\d?)$""".r
          w0 match {
            case fuzzyRe(base, d) if !neg =>
              val dist = if (d.isEmpty) 2 else d.toInt
              analyze(base).foreach(t => fuzzy :+= (t, math.min(dist, 2)))
            case fuzzyRe(base, _) => // negated fuzzy degrades to exact NOT
              notTerms ++= analyze(base)
            case w if w.contains("*") || w.contains("?") =>
              analyzeWild(w).foreach(p =>
                if (neg) notWild :+= p else wild :+= p)
            case w =>
              if (neg) notTerms ++= analyze(w) else terms ++= analyze(w)
          }
        }
      }
    }
    ParsedQuery(terms.distinct, phrases.distinct, fuzzy.distinct,
      notTerms.distinct, notPhrases.distinct, conj,
      wild.distinct, notWild.distinct)
  }

  /**
   * Keyword search: (s, o, score) rows, one per matching (subject,
   * literal). OR semantics by default (any term/phrase), AND when the
   * query contains an explicit `AND` (all terms AND all phrases). `limit`
   * keeps the global top-N by score (the index-level limit of
   * TextQueryPF), deterministically tie-broken by subject/literal.
   */
  def search(graph: DataFrame, pred: Option[String], q: String,
             limit: Option[Int]): DataFrame = {
    val preds = pred.toSeq
    val post = postings(graph, preds)
    searchCore(graph.sparkSession, parseQuery(q),
      tokens => post.filter(col("token").isin(tokens: _*)), post,
      Some(scopedLiterals(graph, preds).select(col("s"), col("o")).distinct()), limit)
  }

  /** Search over pluggable postings sources — shared by the in-memory
   * face ([[search]]) and the materialized-layout face
   * ([[searchIndexed]]). `postFor(tokens)`: (s, o, token) rows whose
   * token ∈ tokens (the store face bucket-prunes here); `post`: every
   * postings row, whose tokens are the dictionary (fuzzy expansion —
   * Lucene's term-dict automaton walk analog, full-dictionary by nature)
   * and whose (s, o) pairs are the scoped literals a phrase widens to,
   * unless `phraseCands` gives them without the analyzer (the in-memory
   * face: the same scoped literals) or prunes them (the n-gram store
   * face). */
  private def searchCore(spark: org.apache.spark.sql.SparkSession,
                         pq: ParsedQuery,
                         postFor: Seq[String] => DataFrame,
                         post: DataFrame,
                         phraseCands: => Option[DataFrame],
                         limit: Option[Int]): DataFrame = {
    import spark.implicits._
    def vocab() = post.select(col("token")).where(col("token").isNotNull).distinct()
    def lits() = phraseCands.getOrElse(post.select(col("s"), col("o")).distinct())
    // SLOT TABLE: each positive query term is a slot; a fuzzy term's slot
    // is filled by every vocabulary token within its edit distance —
    // expansions COLLECT to the driver (bounded: an edit-≤2 neighborhood
    // of one token), so the postings probe runs on a concrete token list
    // the store face can bucket-prune with. Scoring counts SLOTS, so a
    // fuzzy term matching three vocabulary tokens still scores 1 — same
    // as Lucene's one-query-term semantics.
    val exactSlots = pq.terms.zipWithIndex
    lazy val v = vocab() // shared by fuzzy / wildcard / NOT-wildcard walks
    val fuzzySlots: Seq[(String, Int)] =
      pq.fuzzy.zipWithIndex.flatMap { case ((t, d), j) =>
        v.filter(length(col("token")).between(t.length - d, t.length + d))
          .filter(levenshtein(col("token"), lit(t)) <= d)
          .select(col("token")).collect()
          .map(r => (r.getString(0), pq.terms.size + j))
      }
    // wildcard terms (Lucene WildcardQuery): expand against the
    // vocabulary by anchored regex; each pattern is ONE slot
    val wildSlots: Seq[(String, Int)] =
      pq.wild.zipWithIndex.flatMap { case (w, j) =>
        v.filter(col("token").rlike(wildcardRegex(w)))
          .select(col("token")).collect()
          .map(r => (r.getString(0), pq.terms.size + pq.fuzzy.size + j))
      }
    val slots = exactSlots ++ fuzzySlots ++ wildSlots
    val slotTable = if (slots.isEmpty) None else Some(slots.toDF("token", "__slot"))
    val nPosSlots = pq.terms.size + pq.fuzzy.size + pq.wild.size
    // term hits: candidate rows from the postings, pruned to the concrete
    // token list BEFORE any shuffle, joined to the (tiny, broadcast)
    // slot table; __tc = matched slots
    val termHits = slotTable.map(st =>
      postFor(slots.map(_._1).distinct)
        .join(broadcast(st), "token")
        .groupBy(col("s"), col("o"))
        .agg(count_distinct(col("__slot")).as("__tc")))
    // candidate set: term hits suffice when every phrase-match must also
    // term-match (AND with ≥1 term) or there are no phrases; otherwise a
    // phrase can match literals with NO term hit, so widen to the scoped
    // literal scan (what phrase search costs without an n-gram field)
    val based: DataFrame = termHits match {
      case Some(th) if pq.phrases.isEmpty || pq.conj => th
      case Some(th) =>
        // FULL outer: `lits` may be a PRUNED phrase-candidate set (the
        // n-gram store face) rather than every scoped literal, so term
        // hits outside it must survive with __pc-only scoring still 0
        lits().join(th, Seq("s", "o"), "full_outer")
          .withColumn("__tc", coalesce(col("__tc"), lit(0L)))
      case None =>
        lits().withColumn("__tc", lit(0L))
    }
    val pc: Column =
      if (pq.phrases.isEmpty) lit(0L)
      else pq.phrases.map(p =>
        when(lower(TermCols.lex(col("o"))).contains(p), 1L).otherwise(0L))
        .reduce(_ + _)
    val scored0 = based.withColumn("__pc", pc)
      .filter(
        if (pq.conj) col("__tc") === nPosSlots && col("__pc") === pq.phrases.size
        else (col("__tc") + col("__pc")) > 0)
      .select(col("s"), col("o"), (col("__tc") + col("__pc")).as("score"))
    // NOT operator (Lucene prohibit): drop candidates whose literal
    // contains any excluded token (postings anti-join — same isin pruning
    // as the positive probe) or excluded phrase (post-filter)
    val notTokens = (pq.notTerms ++ pq.notWild.flatMap(w =>
      v.filter(col("token").rlike(wildcardRegex(w)))
        .select(col("token")).collect().map(_.getString(0)))).distinct
    val scored1 =
      if (notTokens.isEmpty) scored0
      else scored0.join(
        postFor(notTokens).select(col("s"), col("o")).distinct(),
        Seq("s", "o"), "left_anti")
    val scored = pq.notPhrases.foldLeft(scored1)((d, p) =>
      d.filter(!lower(TermCols.lex(col("o"))).contains(p)))
    limit match {
      case Some(n) =>
        scored.orderBy(col("score").desc, TermCols.lex(col("s")),
          TermCols.lex(col("o"))).limit(n)
      case None => scored
    }
  }

  // ---- materialized postings layout (the persisted-index analog) --------

  /** Number of token hash buckets in a materialized postings layout. */
  val DefaultBuckets = 64

  private def tokenBucket(token: Column, buckets: Int): Column =
    pmod(xxhash64(token), lit(buckets)).cast("int")

  /**
   * Materialize the analyzed postings as a TOKEN-BUCKETED store layout
   * beside SPO/POS/OSP — the Spark-first twin of jena-text's persisted
   * Lucene sidecar (TextIndexLucene.java): rows (s, p, o term structs +
   * token), written `partitionBy(bucket)` with an in-partition sort on
   * token. A keyword query then touches ONLY its terms' bucket
   * directories (partition pruning) and, inside them, only the row
   * groups whose token min/max straddle the terms (parquet predicate
   * pushdown on the sorted column) — at 100 TB a 3-term query reads
   * 3/64ths of the index directory tree, not the corpus. Commit protocol
   * matches TripleStore (atomic manifest; resume = isCommitted). */
  /** Character trigrams (incl. spaces/punctuation) of a string column —
   * the n-gram-field analog: a literal contains phrase P as a substring
   * ONLY IF its trigram set covers P's trigrams, so grams prune phrase
   * candidates without changing the exact contains() verdict. */
  private def charTrigramsExpr(colName: String): String =
    s"""array_distinct(filter(transform(
          sequence(1, greatest(length(lower($colName)) - 2, 0)),
          i -> substring(lower($colName), i, 3)), g -> length(g) = 3))"""

  /** Driver-side twin of [[charTrigramsExpr]] for the query phrase. */
  private[text] def charTrigrams(s: String): Seq[String] =
    if (s.length < 3) Nil
    else (0 to s.length - 3).map(i => s.substring(i, i + 3)).distinct

  def materializePostings(graph: DataFrame, dir: String,
                          predicates: Seq[String] = Nil,
                          buckets: Int = DefaultBuckets,
                          partitions: Int = 32,
                          ngrams: Boolean = false): Long = {
    val spark = graph.sparkSession
    postings(graph, predicates)
      .withColumn("bucket", tokenBucket(col("token"), buckets))
      .repartitionByRange(partitions, col("bucket"), col("token"))
      .sortWithinPartitions(col("bucket"), col("token"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(s"$dir/postings")
    if (ngrams) {
      // opt-in phrase-pruning field: one row per (literal, distinct char
      // trigram) — the Lucene n-gram side-field cost, paid at index time
      // so phrase queries stop scanning every literal
      scopedLiterals(graph, predicates)
        .select(col("s"), col("o"),
          explode(expr(charTrigramsExpr("o.lex"))).as("gram"))
        .withColumn("bucket", tokenBucket(col("gram"), buckets))
        .repartitionByRange(partitions, col("bucket"), col("gram"))
        .sortWithinPartitions(col("bucket"), col("gram"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(s"$dir/ngrams")
    }
    val n = spark.read.parquet(s"$dir/postings").count()
    graft.store.TripleStore.writeManifest(
      java.nio.file.Paths.get(dir, "manifest.json"), Map(
        "layout" -> "text-postings",
        "buckets" -> buckets.toString,
        "predicates" -> predicates.mkString(","),
        "ngrams" -> ngrams.toString,
        "n_postings" -> n.toString))
    n
  }

  def isCommitted(dir: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "manifest.json"))

  /** Append one micro-batch of triples into a COMMITTED postings layout —
   * incremental indexing, the jena-text TextDocProducer/StreamRDF analog.
   * Checkpoint-recovery re-delivery may duplicate postings ROWS, but
   * never RESULTS: scoring counts distinct slots per (s, o), candidate
   * and NOT sets are distinct — storage-level duplication is
   * semantically idempotent (compaction = re-materialize). */
  def appendPostingsBatch(batch: DataFrame, dir: String,
                          predicates: Seq[String] = Nil): Unit = {
    val manifest = graft.store.TripleStore.readManifest(
      java.nio.file.Paths.get(dir, "manifest.json"))
    val buckets = manifest.getOrElse("buckets", DefaultBuckets.toString).toInt
    postings(batch, predicates)
      .withColumn("bucket", tokenBucket(col("token"), buckets))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("bucket")
      .parquet(s"$dir/postings")
    // a layout with the n-gram phrase field must keep it current too —
    // otherwise streamed documents would silently miss pruned phrase
    // queries (candidates come FROM this field)
    if (manifest.get("ngrams").contains("true"))
      scopedLiterals(batch, predicates)
        .select(col("s"), col("o"),
          explode(expr(charTrigramsExpr("o.lex"))).as("gram"))
        .withColumn("bucket", tokenBucket(col("gram"), buckets))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("bucket")
        .parquet(s"$dir/ngrams")
  }

  /** Streaming maintenance of a postings layout: every micro-batch of the
   * triple stream appends its analyzed postings (resumable via the
   * checkpoint — §2.11's manifest discipline, streaming face). Caller
   * picks the trigger and starts the returned writer. */
  def maintainPostingsStream(triples: DataFrame, dir: String,
                             checkpoint: String,
                             predicates: Seq[String] = Nil):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    triples.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch((b: DataFrame, _: Long) =>
        appendPostingsBatch(b, dir, predicates))

  /** Keyword search over a committed postings layout: same semantics and
   * scoring as [[search]], with the postings probes pruned to the query
   * tokens' BUCKET directories before the token filter. */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                    q: String, limit: Option[Int]): DataFrame = {
    val manifest = graft.store.TripleStore.readManifest(
      java.nio.file.Paths.get(dir, "manifest.json"))
    val buckets = manifest.getOrElse("buckets", DefaultBuckets.toString).toInt
    val hasNgrams = manifest.get("ngrams").contains("true")
    val post = spark.read.parquet(s"$dir/postings")
    // bucket ids computed by the SAME Spark expression that wrote the
    // layout, evaluated on a local frame of the query values (no
    // driver-side hash reimplementation to drift) → partition pruning;
    // the value isin → row-group pruning within the pruned directories
    def bucketsOf(values: Seq[String]): Seq[Int] = {
      import spark.implicits._
      values.toDF("v").select(tokenBucket(col("v"), buckets).as("b"))
        .collect().map(_.getInt(0)).distinct.toSeq
    }
    val pq = parseQuery(q)
    // phrase candidates from the n-gram field when it exists: a literal
    // can contain a phrase only if it carries ALL the phrase's trigrams —
    // probe the gram postings (bucket-pruned) instead of scanning every
    // literal; the exact contains() verdict is unchanged downstream.
    // Phrases shorter than one trigram keep the full scan.
    def phraseCandidates: Option[DataFrame] =
      if (!hasNgrams || pq.phrases.isEmpty ||
          pq.phrases.exists(_.length < 3)) None
      else Some(pq.phrases.map { p =>
        val grams = charTrigrams(p)
        spark.read.parquet(s"$dir/ngrams")
          .filter(col("bucket").isin(bucketsOf(grams): _*))
          .filter(col("gram").isin(grams: _*))
          .groupBy(col("s"), col("o"))
          .agg(count_distinct(col("gram")).as("__gc"))
          .filter(col("__gc") === grams.size)
          .select(col("s"), col("o"))
      }.reduce(_ union _).distinct())
    searchCore(spark, pq,
      tokens => post
        .filter(col("bucket").isin(bucketsOf(tokens): _*))
        .filter(col("token").isin(tokens: _*))
        .select(col("s"), col("p"), col("o"), col("token")),
      post, phraseCandidates, limit)
  }
}
