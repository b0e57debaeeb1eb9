package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration of every main and of the
 * tests, so the plans the tests check, PlanAudit prints and Bench times
 * come from the same optimizer rules. */
object LocalSession {
  /** Cores to run on: SPARK_GRAFT_CPUS, else the machine's. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** local[cores] with shuffle partitions = cores; `extra` confs are set
   * last and override the shared ones. */
  def build(cores: Int, extra: (String, String)*): SparkSession = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // InferFiltersFromGenerate duplicates the generator input into a
      // pre-Generate filter (size(e)>0 AND isnotnull(e)); when the input
      // is an interpreted higher-order transform (bigrams, shingles,
      // n-grams) the whole lambda pipeline is re-evaluated 2 extra times
      // per row — measured 3-5x slowdown on the explode-based ops. The
      // inferred filters are redundant for semantics (pure pruning aid).
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    val spark = (shared ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cores]").appName("graft")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
