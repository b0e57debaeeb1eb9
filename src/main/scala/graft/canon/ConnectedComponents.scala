package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Fixpoint

/**
 * Distributed connected components over a DataFrame edge list — the
 * canonicalization pass that collapses co-referent entities to one IRI
 * (min member, deterministic tie-break).
 *
 * Algorithm: alternating large-star / small-star contractions
 * (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
 * — O(log n) rounds on any graph shape (chains, stars, giant components),
 * unlike plain label propagation which needs O(diameter) rounds. Each round
 * is two groupBy shuffles; `localCheckpoint` every round truncates lineage
 * so plans stay O(1) (SURVEY.md §7.3 hard part 5).
 *
 * This is the same iterative-frontier skeleton as SPARQL property-path
 * evaluation (reference ALP algorithm, jena-arq/.../path/eval/PathEngine.java:96–129)
 * — evaluated here with set-at-a-time DataFrame joins instead of per-binding
 * BFS.
 */
object ConnectedComponents {

  /**
   * The one entry point: edges (src, dst), two string columns → (node,
   * component), component = min member of the node's component under
   * Spark's UTF-8 byte string order; every node appearing in edges is
   * present (self-loop-only nodes map to themselves).
   *
   * Size-adaptive, from the one driver budget ([[Fixpoint.BudgetKey]],
   * `graft.fixpoint.driverRows`, default 1M rows): when the DEDUPLICATED
   * edge list fits the budget it is collected and closed by the driver
   * union-find [[unionFind]] (sameAs edges are orders of magnitude smaller
   * than the corpus, and a dozen distributed star-contraction rounds on a
   * few-MB edge set is pure scheduler latency); above it, the O(log n)
   * distributed loop, planned in [[Fixpoint.loopSession]] like every
   * fixpoint. Both faces produce the identical deterministic map,
   * verified against each other in DifferentialSpec; a budget of 0 pins
   * the distributed face.
   */
  def runAdaptive(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // One materialization of the caller's edge plan (which may be a whole
    // upstream pipeline, e.g. an LSH pair search): persist it, then eagerly
    // checkpoint BOTH derived frames while the cache is live — the returned
    // DataFrame must not re-execute the raw plan on every downstream action
    // (selfLoops lazily referencing it cost one full d4 recompute per
    // evaluation before this).
    val raw = edges.toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val selfLoops = raw.where(col("src") === col("dst"))
        .select(col("src").as("node"), col("src").as("component")).distinct()
        .localCheckpoint(true)
      val e = raw
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true)
      val base =
        if (Fixpoint.local(spark, e.count()))
          spark.createDataset(unionFind(e.as[(String, String)].collect().toSeq).toSeq)
            .toDF("node", "component")
        else Fixpoint.lift(spark, loop(Fixpoint.lift(Fixpoint.loopSession(spark), e)))
      padSelfLoops(base, selfLoops)
    } finally raw.unpersist()
  }

  /** Self-loop-ONLY nodes still belong in the map (mapping to themselves);
   * a node with a self-loop AND real edges keeps its component root. */
  private def padSelfLoops(base: DataFrame, selfLoops: DataFrame): DataFrame =
    base.union(selfLoops.join(base, Seq("node"), "left_anti"))

  /** The driver face: union-find over an edge list. Roots are component
   * minima under [[utf8Lt]] (Spark's string order), so the map equals the
   * distributed face's. Also the fixture generator's oracle
   * (CorpusGen.goldenTriples). */
  def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (utf8Lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val keys = edges.flatMap(e => Seq(e._1, e._2)).distinct
    keys.map(k => k -> find(k)).toMap
  }

  /** Spark's string min() compares unsigned UTF-8 BYTES (UTF8String),
   * which disagrees with Java's UTF-16 code-unit compare for
   * supplementary characters — the driver face must pick the same
   * min-member roots as the distributed pass or the canonical IRI would
   * flip with the driver budget. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The distributed face: the star-contraction fixpoint over
   * [[runAdaptive]]'s DEDUPED, self-loop-free, checkpointed edge list.
   * Per-round localCheckpoints rely on the ContextCleaner to unpersist
   * dropped rounds as references die; rounds are capped at
   * `maxIter` and the edge set SHRINKS every contraction, which bounds the
   * transient cached footprint. */
  private def loop(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    var e = edges
    var converged = false
    var iter = 0
    var prevSig: Option[(Long, String)] = None
    while (!converged && iter < maxIter) {
      // large-star: for every node u, attach its larger neighbors to
      // m = min(N(u) ∪ {u})
      val und = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = und.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val large = und.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()

      // small-star: for every node u, attach its smaller-or-equal neighbors
      // (and u itself) to m = min(N≤(u) ∪ {u})
      val undS = large.select(col("src").as("u"), col("dst").as("v"))
        .union(large.select(col("dst").as("u"), col("src").as("v")))
      val small0 = undS.where(col("v") <= col("u"))
      val minsS = small0.groupBy("u").agg(min(col("v")).as("m"))
      val small = small0.join(minsS, "u")
        .select(col("v").as("src"), col("m").as("dst"))
        .union(minsS.select(col("u").as("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(true)

      // converged when the edge set is stable. Compare a one-job
      // (count, xxhash64-sum) signature instead of two exceptAll jobs —
      // both sides are distinct sets, so equal count + equal hash sum
      // means equal sets (w.h.p.); at 4N parallelism the two extra
      // exceptAll shuffles per round were pure fixed latency.
      val sigRow = small.agg(
        count(lit(1)).as("n"),
        // decimal(38,0) sum: a long sum of 64-bit hashes overflows ANSI
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("h")).head()
      val sig = (sigRow.getLong(0), sigRow.getDecimal(1).toString)
      converged = prevSig.contains(sig)
      prevSig = Some(sig)
      e = small
      iter += 1
    }
    // star contraction halves component diameter per round (O(log n) total);
    // hitting the cap means something is wrong — fail loudly rather than
    // return a partially-contracted (incorrect) component map
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxIter rounds")

    // after convergence every edge is (node → component root)
    val roots = e.select(col("dst").as("node"), col("dst").as("component")).distinct()
    e.select(col("src").as("node"), col("dst").as("component"))
      .union(roots)
      .groupBy("node").agg(min("component").as("component"))
  }

  /** Rewrite term columns through the component map: any s/o IRI that is a
   * non-canonical member is replaced by its component representative.
   * The mapping side is left to AQE: it broadcasts when small (the common
   * case — components ≪ triples) and shuffles otherwise. */
  def rewrite(triples: DataFrame, mapping: DataFrame): DataFrame = {
    val m = mapping.toDF("node", "component")
    def swapped(field: String) = when(
      col("component").isNotNull &&
        col(s"$field.kind") === graft.model.Term.KIND_IRI,
      struct(col(s"$field.kind").as("kind"), col("component").as("lex"),
        col(s"$field.dt").as("dt"), col(s"$field.lang").as("lang")))
      .otherwise(col(field))
    val bySubj = triples
      .join(m, col("s.lex") === col("node"), "left_outer")
      .withColumn("s", swapped("s"))
      .drop("node", "component")
    bySubj
      .join(m, col("o.lex") === col("node"), "left_outer")
      .withColumn("o", swapped("o"))
      .drop("node", "component")
  }
}
