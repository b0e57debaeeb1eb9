package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two decisions every distributed fixpoint makes, made in one place:
 * WHERE its loop plans ([[loopSession]] + [[lift]]) and WHETHER it runs
 * on the driver instead ([[local]]). The loops are
 * [[Graphs.transitiveClosure]]/[[Graphs.reachableFrom]] (distributed
 * only), `reason.Rules.closure` and `canon.ConnectedComponents.runAdaptive`
 * — the distributed analogs of the reference's in-memory rule engines
 * (rulesys/FBRuleInfGraph) and ALP path engine (path/eval/PathEngine.java). */
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
    org.apache.spark.sql.graftbridge.SessionBridge.ofRows(
      target, df.queryExecution.analyzed)
}
