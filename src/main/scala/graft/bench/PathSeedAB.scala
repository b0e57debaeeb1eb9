package graft.bench

/** A/B for the r5 seeded path evaluator: runs r28 (constant-root `dep+`
 * over 80×50-cycles + a 10-node root chain) with seeding ON (default)
 * and OFF (`graft.pathSeededEval=off` → the pre-r5 global-closure-then-
 * filter plan). Prints one line per run; the BASELINE.md entry records
 * the pair. */
object PathSeedAB {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession.build(graft.LocalSession.envCores)
    def run(label: String): Unit = {
      val t0 = System.nanoTime()
      val n = graft.queries.SparqlQueries.r28_seeded_path(spark, sf).count()
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
    }
    run("warmup(seeded)")
    run("seeded")
    run("seeded")
    spark.conf.set("graft.pathSeededEval", "off")
    run("unseeded")
    run("unseeded")
    spark.stop()
  }
}
