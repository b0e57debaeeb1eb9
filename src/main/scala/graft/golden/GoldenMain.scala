package graft.golden

/**
 * CLI over the manifest-driven golden runner: `runMain graft.golden.GoldenMain
 * <manifest.ttl> [testName]` prints one line per case (PASS/FAIL/SKIP + the
 * failure detail) — the triage loop for onboarding a new W3C suite into
 * ManifestSpec. Same session settings as ManifestSpec (interpreted eval:
 * golden fixtures are 1–100 rows, Janino dominates otherwise).
 */
object GoldenMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GoldenMain <manifest.ttl> [testName]")
    val spark = graft.LocalSession.build(4,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.optimizer.expression.nestedPruning.enabled" -> "false",
      "spark.sql.optimizer.nestedSchemaPruning.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val (manifests, onlyArg) = args.partition(_.endsWith(".ttl"))
    val only = onlyArg.headOption
    var (tp, tf, ts) = (0, 0, 0)
    manifests.foreach { m =>
      println(s"## $m")
      val results = GoldenRunner.runManifest(spark, m, only = only)
      results.foreach {
        case GoldenRunner.CaseResult(n, GoldenRunner.Passed) => println(s"PASS $n")
        case GoldenRunner.CaseResult(n, GoldenRunner.Skipped(r)) => println(s"SKIP $n — $r")
        case GoldenRunner.CaseResult(n, GoldenRunner.Failed(d)) =>
          println(s"FAIL $n\n  ${d.linesIterator.mkString("\n  ")}")
      }
      val p = results.count(_.outcome == GoldenRunner.Passed)
      val f = results.count(_.outcome.isInstanceOf[GoldenRunner.Failed])
      val s = results.count(_.outcome.isInstanceOf[GoldenRunner.Skipped])
      tp += p; tf += f; ts += s
      println(s"== $p passed, $f failed, $s skipped — $m")
    }
    println(s"== TOTAL $tp passed, $tf failed, $ts skipped")
    spark.stop()
    if (tf > 0) sys.exit(1)
  }
}
