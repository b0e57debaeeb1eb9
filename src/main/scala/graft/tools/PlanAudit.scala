package graft.tools

/**
 * Plan-audit harness (the brief's ".explain and iterate" loop): prints
 * the formatted physical plan of named `SparkEntry.queries` entries so
 * scan pushdown / partition pruning / join strategy / codegen spans can
 * be read and recorded. Usage: runMain graft.tools.PlanAudit <sfDir>
 * <name>…
 */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("t11_text_indexed", "x3_geo_intersects", "r28_seeded_path")
    val spark = graft.LocalSession.build(graft.LocalSession.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      df.count() // let AQE finalize
      println(s"\n========== $n ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .take(6000))
    }
    spark.stop()
  }
}
