package graft.bench

import graft.pipeline.Pipeline

/**
 * North-rule scaling evidence (BASELINE.json: "throughput scaling
 * efficiency ≥ 0.8 from N to 4N executors"). No real cluster exists in
 * this sandbox, so the sanctioned protocol (BASELINE.md) is: run the
 * IDENTICAL end-to-end pipeline job on the IDENTICAL input at local[N]
 * and local[4N], report triples/sec at both and
 *
 *   efficiency = (throughputᴺ⁴ / throughputᴺ) / 4.
 *
 * Each run uses a fresh SparkSession (fresh scheduler + shuffle state) and
 * a fresh output dir (no resume short-circuit). shuffle.partitions scales
 * with cores, as a real deployment would configure it.
 *
 * Usage: runMain graft.bench.ScalingBench [nRepos] [filesPerRepo] [outBase]
 */
object ScalingBench {

  final case class RunResult(cpus: Int, triples: Long, wallSec: Double) {
    def throughput: Double = triples / wallSec
  }

  def runAt(cpus: Int, nRepos: Int, filesPerRepo: Int, outDir: String): RunResult = {
    val spark = graft.LocalSession.build(cpus)
    try {
      val t0 = System.nanoTime()
      val triples = Pipeline.runFused(spark, nRepos, filesPerRepo, outDir)
      val wall = (System.nanoTime() - t0) / 1e9
      RunResult(cpus, triples, wall)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val nRepos = if (args.length > 0) args(0).toInt else 2000
    val filesPerRepo = if (args.length > 1) args(1).toInt else 40
    val outBase = if (args.length > 2) args(2) else "/tmp/graft_scaling"
    // N defaults to 2 (→ 4N = 8): a fixed-total-work CPU probe on this VM
    // (BASELINE.md "hardware envelope") shows 32 advertised vCPUs deliver
    // only ~8-10 effective cores (12-21%% hypervisor steal; 8→32 threads
    // speeds pure CPU work by just 1.31x), so 2→8 is the largest 4x step
    // that stays inside the machine's linear-scaling region.
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "2").toInt

    // Repeated-leg protocol (SPARK_GRAFT_SCALE_REPS, default 1): the
    // hypervisor's speed is a time-varying multiplicative factor, and a
    // single 4N-then-N pair samples the two legs in DIFFERENT states —
    // the dominant noise term across recorded trials. ABBA ordering with
    // per-leg median throughput samples both levels over the same window,
    // so the state factor cancels in the ratio instead of landing on
    // whichever leg ran during the bad minutes.
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "1").toInt

    // warm-up at 4N on a tiny corpus: JIT + parquet codec init off the clock
    runAt(4 * n, 20, 5, s"$outBase/warmup")

    val order: Seq[Int] = (1 to reps).flatMap(i =>
      if (i % 2 == 1) Seq(4 * n, n) else Seq(n, 4 * n))
    val legs = order.zipWithIndex.map { case (c, i) =>
      val r = runAt(c, nRepos, filesPerRepo, s"$outBase/leg${i}_c$c")
      println(f"""{"leg":$i,"cpus":$c,"throughput":${r.throughput}%.0f,"wall":${r.wallSec}%.1f}""")
      r
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val tp4n = med(legs.filter(_.cpus == 4 * n).map(_.throughput))
    val tpn = med(legs.filter(_.cpus == n).map(_.throughput))
    val eff = (tp4n / tpn) / 4.0
    val r4n = legs.filter(_.cpus == 4 * n).minBy(_.wallSec)
    val rn = legs.filter(_.cpus == n).minBy(_.wallSec)
    println(
      f"""{"metric":"scaling_efficiency","value":$eff%.3f,"unit":"ratio","n_cpus":$n,"4n_cpus":${4 * n},"reps":$reps,"triples":${r4n.triples},"throughput_n":$tpn%.0f,"throughput_4n":$tp4n%.0f,"wall_n":${rn.wallSec}%.1f,"wall_4n":${r4n.wallSec}%.1f}""")
  }
}
