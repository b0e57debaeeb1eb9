package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph ops over DataFrame edge lists — the distributed analog of
 * Jena's ALP property-path evaluator (reference:
 * jena-arq/.../path/eval/PathEngine.java:96–129 — BFS with a visited set).
 * Frontier-delta semi-naive iteration: each round joins only the NEW pairs
 * against the edge list, so work is proportional to the delta, not the
 * closure; localCheckpoint truncates lineage per round. The loop plans in
 * [[Fixpoint.loopSession]] like every fixpoint; unlike Rules and CC it has
 * no driver-local face yet, so the [[Fixpoint.BudgetKey]] budget
 * (`graft.fixpoint.driverRows`) does not route it. */
object Graphs {

  /** Rounds taken by the most recent closure loop on this JVM (either
   * [[transitiveClosure]] or [[reachableFrom]]) — a test-only trace hook:
   * specs assert a seeded cone query stops after cone-depth rounds while
   * the global closure of the same graph needs diameter rounds.
   * Volatile, last-writer-wins; concurrent closures would interleave
   * (single-threaded specs are the only readers). */
  @volatile private[graft] var lastClosureRounds: Int = 0

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
   * made distinct, lifted into the [[Fixpoint.loopSession]] and
   * materialized there; the loop runs isolated and its result lifts back.
   * Always distributed: it takes no driver-local face. */
  private def closure(edges: DataFrame, seeds: Option[DataFrame],
                      maxIter: Int): DataFrame = {
    val spark = edges.sparkSession
    val iso = Fixpoint.loopSession(spark)
    val e = Fixpoint.lift(iso, edges.toDF("src", "dst").distinct()).localCheckpoint(true)
    val (first, round0) = seeds match {
      case None => (e, 0)
      case Some(sd) =>
        val s0 = Fixpoint.lift(iso, sd.toDF("n").distinct()).localCheckpoint(true)
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
    Fixpoint.lift(spark, acc)
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
