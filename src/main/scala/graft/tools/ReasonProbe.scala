package graft.tools

/**
 * Debug harness for the fixpoint-latency work: runs the reasoning
 * queries standalone (same session shape as graft.Bench) so the
 * GRAFT_RULES_TRACE=1 per-round breakdown can be read without the rest
 * of the suite. Usage: runMain graft.tools.ReasonProbe <sfDir> <name>…
 */
object ReasonProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("v7_owl_micro", "v6_magic_goal", "v2_rules")
    val spark = graft.LocalSession.build(graft.LocalSession.envCores)
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet(); tasks.addAndGet(e.stageInfo.numTasks)
        }
      })
    if (names == Seq("dump-owl")) {
      graft.reason.Owl.programFor(
        graft.queries.ReasonQueries.v7TriplesForDebug(spark, dir))
        .foreach(r => println(s"[owl] $r"))
      spark.stop(); return
    }
    names.foreach { n =>
      (1 to 3).foreach { run =>
        val s0 = stages.get; val k0 = tasks.get
        val t0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(n)(spark, dir).count()
        println(f"[probe] $n run$run rows=$rows " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.2fs " +
          s"stages=${stages.get - s0} tasks=${tasks.get - k0}")
      }
    }
    spark.stop()
  }
}
