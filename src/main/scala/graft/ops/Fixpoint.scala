package graft.ops

import java.util.concurrent.TimeoutException

import scala.annotation.tailrec
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftbridge.SessionBridge

/** The two decisions every distributed fixpoint makes, made in one place:
 * WHERE its loop plans ([[loopSession]] + [[lift]]) and WHETHER it runs
 * on the driver instead ([[local]]). The loops are
 * [[Graphs.transitiveClosure]]/[[Graphs.reachableFrom]] (distributed
 * only), `reason.Rules.closure` and `canon.ConnectedComponents.runAdaptive`
 * — the distributed analogs of the reference's in-memory rule engines
 * (rulesys/FBRuleInfGraph) and ALP path engine (path/eval/PathEngine.java).
 * The two semi-naive ones — the `Graphs` closure and the distributed face
 * of `Rules.closure` — share one delta round, [[semiNaive]]; CC's star
 * contraction is not semi-naive and keeps its own loop. */
object Fixpoint {

  /** Session conf key: rows a fixpoint may hold on the driver. One budget
   * serves every loop — CC collects its edge list when it fits, a rule
   * closure runs locally when 8 × its base fits (and gives up once its
   * facts pass the budget). `0` pins every loop to its distributed face;
   * specs set it that way to test that face on small inputs. */
  val BudgetKey = "graft.fixpoint.driverRows"

  /** Default driver budget: 1M rows — about 0.25–0.5 GB of driver heap for
   * term-struct triples or ~40-char IRI pairs. */
  val DefaultBudget = 1000000L

  private[graft] def budget(spark: SparkSession): Long =
    spark.conf.getOption(BudgetKey).map { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$BudgetKey must be a row count (0 pins the distributed face), got '$v'")
      }
    }.getOrElse(DefaultBudget)

  /** Whether a loop that would hold `rows` on the driver runs there. The
   * count is only taken when the budget is positive, so a pinned
   * distributed face launches no counting job. */
  private[graft] def local(spark: SparkSession, rows: => Long): Boolean = {
    val b = budget(spark)
    b > 0 && rows <= b
  }

  /** Constraint propagation trips over checkpointed unions (Spark's
   * UnionBase.rewriteConstraints throws "key not found: attr" when a
   * LogicalRDD child carries constraints referencing pre-checkpoint
   * attribute ids). The loops' plans are tiny — constraints buy nothing
   * — so every loop runs with propagation OFF in an ISOLATED session
   * (`SparkSession.newSession` + [[lift]]): the caller's session conf is
   * never touched, so queries planning concurrently keep constraint
   * propagation, and concurrent loops need no lock. */
  private[graft] def loopSession(spark: SparkSession): SparkSession = {
    val iso = spark.newSession()
    // newSession starts from the SparkConf baseline — mirror the caller's
    // RUNTIME conf so loop planning (shuffle partitions, AQE, the driver
    // budget, …) behaves identically; non-modifiable keys are skipped
    spark.conf.getAll.foreach { case (k, v) =>
      try iso.conf.set(k, v) catch { case scala.util.control.NonFatal(_) => () }
    }
    iso.conf.set("spark.sql.constraintPropagation.enabled", "false")
    iso
  }

  /** Lift a frame into `target` via its ANALYZED plan. Loop inputs lift
   * BEFORE materialization: the input plan may itself contain
   * checkpointed unions (a nested closure feeding an outer one), which
   * trip UnionBase.rewriteConstraints exactly like the loop's own
   * accumulators — optimizing + executing it under the loop session keeps
   * the caller's conf untouched for the whole run. Results lift back as
   * self-contained leaves (LogicalRDD or LocalRelation). */
  private[graft] def lift(target: SparkSession, df: DataFrame): DataFrame =
    SessionBridge.ofRows(target, df.queryExecution.analyzed)

  /** The one semi-naive delta loop, run inside a [[loopSession]]. Round
   * `round0 + 1` starts from `acc0` and `delta0`; each round
   *  1. asks `step(acc, delta, summary)` for its candidate rows (`summary`
   *     is the previous delta's observed row, None in the first round);
   *  1. anti-joins them against the accumulator on every column, null-safe
   *     (`<=>`: under `===` a pair with a null slot never matches itself,
   *     re-enters every delta and the loop spins to `maxIter`);
   *  1. localCheckpoints the new delta with ONE observed row — its count
   *     plus the caller's `observed` aggregates — so emptiness (and, for
   *     Rules, the next dispatch set) rides the checkpoint job itself;
   *  1. stops at count 0, else gives the delta that count as statistics
   *     (joins over it plan as broadcasts up front) and flattens
   *     `acc ∪ delta` into one checkpoint. Lazy appends (a flatten
   *     every 8 rounds) measured slower on 4 cores, on 60-node path
   *     closures and 150k–340k-fact rule closures alike.
   * Per round, counted over 12-link chains (4 cores, AQE on): one delta
   * checkpoint (none for the last, empty one), one flatten, about one
   * shuffle-map-stage job (the step's `distinct`) and two broadcasts — 61
   * jobs for the 12 rounds of a `Graphs` closure, 66 for the 13 rounds of
   * PlanSpec's linear rule program; an unfused rule dispatch adds a
   * collect. An observed count or `collect_set` is safe under task
   * retries where it is read (`> 0`, set contents); a sum would not be.
   * @return the closure as one checkpoint and the last round number */
  private[graft] def semiNaive(acc0: DataFrame, delta0: DataFrame, round0: Int,
      maxIter: Int, runaway: => String, observed: Seq[Column] = Nil)(
      step: (DataFrame, DataFrame, Option[Row]) => DataFrame): (DataFrame, Int) = {
    val aggs = count(lit(1)).as("__n") +: observed
    @tailrec def rounds(acc: DataFrame, delta: DataFrame, summary: Option[Row],
                        round: Int): (DataFrame, Int) = {
      if (round > maxIter) throw new IllegalStateException(runaway)
      val cand = step(acc, delta, summary)
      // the accumulator is renamed first: in round 1 it IS a plan embedded
      // in the candidates, and a same-name self-join trips resolution
      val accR = acc.select(cand.columns.map(c => col(c).as("__a" + c)).toIndexedSeq: _*)
      val fresh = cand.join(accR,
        cand.columns.map(c => col(c) <=> col("__a" + c)).reduce(_ && _), "left_anti")
      val obs = Observation(s"fixpoint_round_$round")
      val cp = fresh.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint(true)
      // the checkpoint IS the observed action; its metric reaches the
      // Observation through the listener bus moments later. If it never
      // does, one explicit job computes the same row
      val row = try Await.result(obs.future, 30.seconds)
        catch { case _: TimeoutException => cp.agg(aggs.head, aggs.tail: _*).head() }
      if (row.getLong(0) == 0) (acc, round)
      else {
        val next = SessionBridge.withRowCount(cp, row.getLong(0))
        rounds(acc.unionAll(next).localCheckpoint(true), next, Some(row), round + 1)
      }
    }
    if (delta0.isEmpty) (acc0, round0) else rounds(acc0, delta0, None, round0 + 1)
  }
}
