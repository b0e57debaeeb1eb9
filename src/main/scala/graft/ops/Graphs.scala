package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph ops over DataFrame edge lists — the distributed analog of
 * Jena's ALP property-path evaluator (reference:
 * jena-arq/.../path/eval/PathEngine.java:96–129 — BFS with a visited set).
 * Frontier-delta semi-naive iteration: each round joins only the NEW pairs
 * against the edge list, so work is proportional to the delta, not the
 * closure; localCheckpoint truncates lineage per round. */
object Graphs {

  /** JVM-wide lock for SESSION-GLOBAL conf toggles. Graphs' own loops no
   * longer need it (they isolate via [[isolatedLoopSession]]); it remains
   * for Rules.closure, whose loop plans compiled rule queries against the
   * caller's session and therefore still save/toggle/restore the
   * constraint-propagation key on it. */
  private[graft] val closureLock = new Object

  /** Rounds taken by the most recent closure loop on this JVM (either
   * [[transitiveClosure]] or [[reachableFrom]]) — a test-only trace hook:
   * specs assert a seeded cone query stops after cone-depth rounds while
   * the global closure of the same graph needs diameter rounds.
   * Volatile, last-writer-wins; concurrent closures would interleave
   * (single-threaded specs are the only readers). */
  @volatile private[graft] var lastClosureRounds: Int = 0

  /** Constraint propagation trips over checkpointed unions here (Spark's
   * UnionBase.rewriteConstraints throws "key not found: attr" when a
   * LogicalRDD child carries constraints referencing pre-checkpoint
   * attribute ids). The loops' plans are tiny — constraints buy nothing
   * — so the loop runs with propagation OFF in an ISOLATED session
   * (`SparkSession.newSession` + the graftbridge lift): the caller's
   * session conf is never touched, so queries planning concurrently keep
   * constraint propagation. Only localCheckpoint outputs (self-contained
   * LogicalRDD leaves) cross the session boundary, in both directions. */
  private def isolatedLoopSession(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession = {
    val iso = spark.newSession()
    // newSession starts from the SparkConf baseline — mirror the caller's
    // RUNTIME conf so loop planning (shuffle partitions, AQE, …) behaves
    // identically; non-modifiable keys are skipped
    spark.conf.getAll.foreach { case (k, v) =>
      try iso.conf.set(k, v) catch { case scala.util.control.NonFatal(_) => () }
    }
    iso.conf.set("spark.sql.constraintPropagation.enabled", "false")
    iso
  }

  /** Lift a frame into `target` via its ANALYZED plan. Loop inputs lift
   * BEFORE materialization: the input plan may itself contain
   * checkpointed unions (a nested closure inside PAlt feeding an outer
   * closure), which trip UnionBase.rewriteConstraints exactly like the
   * loop's own accumulators — optimizing + executing it under the
   * isolated session keeps the caller's conf untouched for the whole
   * run. Results lift back as self-contained LogicalRDD leaves. */
  private def lift(target: org.apache.spark.sql.SparkSession,
                   df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.SessionBridge.ofRows(
      target, df.queryExecution.analyzed)

  /** Transitive closure of (src, dst): all reachable pairs (SPARQL `p+`).
   * Iterates to the true fixpoint — `maxIter` is a runaway guard that
   * THROWS rather than silently returning an incomplete closure (each
   * round extends paths by one hop, so the default covers any graph of
   * diameter ≤ 10^4; a legitimate deeper chain must raise the cap
   * explicitly). */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 10000): DataFrame =
    closure(edges, None, maxIter)

  /** Seeded reachability — the ALP analog proper (PathEngine.java:49–122
   * seeds a BFS from the bound node and visits only the reachable cone).
   * Returns every (src, dst) with src ∈ `seeds` (a one-column frame, any
   * type matching the edge endpoints) and dst reachable in ≥1 step.
   * Unlike [[transitiveClosure]] (whose first frontier is the WHOLE edge
   * relation), the frontier here starts at the seed set, so per-round
   * work is proportional to the seeds' cone, the tiny frontier broadcasts
   * against the edge relation (shuffle-free rounds at cluster scale), and
   * a `<root> :dep+ ?x` over a billion-edge graph never materializes the
   * all-pairs closure. */
  def reachableFrom(edges: DataFrame, seeds: DataFrame,
                    maxIter: Int = 10000): DataFrame =
    closure(edges, Some(seeds), maxIter)

  /** The one frontier-delta loop behind [[transitiveClosure]] (`seeds`
   * None: the first frontier is every edge, round 0) and [[reachableFrom]]
   * (the seeds' out-edges, round 1). The edge relation and the seeds are
   * made distinct, lifted into the isolated session and materialized
   * there; the loop runs isolated and its result lifts back. */
  private def closure(edges: DataFrame, seeds: Option[DataFrame],
                      maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    val iso = isolatedLoopSession(spark)
    val e = lift(iso, edges.toDF("src", "dst").distinct()).localCheckpoint(true)
    val (first, round0) = seeds match {
      case None => (e, 0)
      case Some(sd) =>
        val s0 = lift(iso, sd.toDF("n").distinct()).localCheckpoint(true)
        (s0.join(e, col("n") === col("src"))
          .select(col("src"), col("dst")).distinct()
          .localCheckpoint(true), 1)
    }
    var acc = first
    var frontier = first
    var iter = round0
    var done = frontier.isEmpty
    while (!done) {
      iter += 1
      if (iter > maxIter) throw new IllegalStateException(
        if (seeds.isEmpty)
          s"transitiveClosure did not reach a fixpoint within $maxIter rounds " +
            "(graph diameter exceeds the cap) — raise maxIter"
        else
          s"reachableFrom did not reach a fixpoint within $maxIter rounds " +
            "(cone depth exceeds the cap) — raise maxIter")
      val next = frontier.alias("f")
        .join(e.alias("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .distinct()
      // semi-naive delta: anti-join the (small) per-round frontier product
      // against the accumulated closure — unlike exceptAll, which re-sorts
      // BOTH full sides per round, the left_anti hash probe streams `next`
      // and scales with the delta, not the closure. The accumulator is
      // renamed first: in round 1 `acc` IS the edge plan embedded inside
      // `next`, and a same-name using-columns self-join trips attribute
      // resolution ("key not found: src#N").
      val accR = acc.select(col("src").as("__asrc"), col("dst").as("__adst"))
      // null-SAFE equality: distinct() upstream dedups null endpoints
      // null-safely, so a plain === here would never anti-match a pair
      // with a null slot — it would re-enter the delta every round and
      // the loop would spin to maxIter instead of converging
      val delta = next.join(accR,
        col("src") <=> col("__asrc") && col("dst") <=> col("__adst"), "left_anti")
        .localCheckpoint(true)
      if (delta.isEmpty) done = true
      else {
        acc = acc.union(delta).localCheckpoint(true)
        frontier = delta
      }
    }
    lastClosureRounds = iter
    lift(spark, acc)
  }

  // ---- graph-level set operations (SURVEY.md §2.7) — the columnar analog
  // of jena-core's compose views (graph/compose/Union.java:37,
  // Intersection.java:37, Difference.java:31, Delta.java:37). The reference
  // composes lazily per-find; ours compose lazily per-DataFrame — Catalyst
  // fuses the set op into downstream plans the same way.

  private def spo(g: DataFrame): DataFrame = g.select("s", "p", "o")

  /** Graph union with set semantics (add is idempotent, TripleStore.java:43). */
  def union(g1: DataFrame, g2: DataFrame): DataFrame =
    spo(g1).union(spo(g2)).dropDuplicates("s", "p", "o")

  def intersection(g1: DataFrame, g2: DataFrame): DataFrame =
    spo(g1).intersect(spo(g2))

  def difference(g1: DataFrame, g2: DataFrame): DataFrame =
    spo(g1).except(spo(g2))

  /** Change-tracking overlay (compose/Delta.java + RDF-Patch shape,
   * SURVEY.md §2.11): a base graph plus add/remove side tables; the north
   * rule's snapshot model applies a Delta as the next immutable snapshot. */
  final case class Delta(additions: DataFrame, removals: DataFrame)

  def applyDelta(base: DataFrame, delta: Delta): DataFrame =
    union(difference(base, delta.removals), delta.additions)
}
