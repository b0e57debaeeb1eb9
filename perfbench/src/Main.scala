package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One session configuration for every workload and for the traced run. */
object Session {
  val ExcludedRules = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  def build(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true") // as Pipeline.main sets it
      .config("spark.sql.optimizer.excludedRules", ExcludedRules) // as Bench/Verify
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def describe(spark: SparkSession): Seq[(String, Any)] = {
    val c = spark.conf
    Seq(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "aqe" -> c.get("spark.sql.adaptive.enabled"),
      "excluded_rules" -> c.get("spark.sql.optimizer.excludedRules"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "java" -> System.getProperty("java.version"))
  }
}

/** What every workload gets: the session, the records, the seed and the
 * time budget, and the tracer when this is the traced run. */
final class Ctx(val spark: SparkSession, val rec: Records, val seed: Long,
                val seconds: Double, val trace: Option[Trace], val runDir: String,
                val dataDir: String, val cores: Int) {
  private var peakHeapMb = 0.0

  /** Driver heap retained after a full collection; the peak is reported.
   * The second collection frees what Spark's ContextCleaner released in
   * response to the first (unpersisted blocks, broadcasts). */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    peakHeapMb = math.max(peakHeapMb, used)
  }
  def peakHeap: Double = peakHeapMb

  def setup(name: String, s: Double): Unit = rec.add("setup", "name" -> name, "s" -> s)

  private var warmupPasses = 0

  /** Passes 1, 2, ...: the first `warmup` are untimed warm-up (checked,
   * and counted in the set-up time), then timed passes until `seconds` of
   * timed pass time have run (at least `minTimed`). The traced run makes
   * one untraced pass only; its traced pass follows separately. */
  def passes(warmup: Int, minTimed: Int)(pass: Int => Unit): Unit = {
    warmupPasses = if (trace.isDefined) 0 else warmup
    val want = if (trace.isDefined) 1 else warmupPasses + minTimed
    var spent = 0.0
    var k = 0
    while (k < want || (trace.isEmpty && spent < seconds)) {
      k += 1
      val (_, s) = Time(pass(k))
      if (k <= warmupPasses) setup(s"warmup_pass_$k", s) else spent += s
      sampleHeap()
    }
  }

  /** One checked operation. Passes after the warm-up ones are timed; the
   * checked first pass (0), warm-up passes and traced passes (-1) are not. */
  def op(pass: Int, name: String, buildS: Double, execS: Double, rows: Long,
         digest: String, error: Option[String]): Unit =
    rec.add("op", "pass" -> pass, "name" -> name, "build_s" -> buildS,
      "exec_s" -> execS, "rows" -> rows, "digest" -> digest, "error" -> error,
      "timed" -> (pass > warmupPasses))
}

object Time {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Entry point: `graftbench.Main <workload> <seed> <seconds> <trace 0|1>
 * <runDir> <dataDir>`. Writes `<runDir>/records.jsonl`; exits non-zero
 * when the workload could not run at all. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, traced, runDir, dataDir) = args
    val rec = new Records(s"$runDir/records.jsonl")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Session.build(cores, s"$runDir/spark-local")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    rec.add("config", Session.describe(spark): _*)
    val ctx = new Ctx(spark, rec, seed.toLong, seconds.toDouble,
      if (traced == "1") Some(new Trace(spark)) else None, runDir, dataDir, cores)
    ctx.setup("session", (System.currentTimeMillis() - jvmStart) / 1e3)
    var ok = false
    try {
      workload match {
        case "kg_build" => KgWorkloads.build(ctx)
        case "kg_lookup" => KgWorkloads.lookup(ctx)
        case "query_iterative" =>
          QueryWorkloads.run(ctx, QueryWorkloads.BuildBound,
            QueryWorkloads.Iterative.filterNot(QueryWorkloads.BuildBound.contains) ++
              QueryWorkloads.FamilySample)
        case "query_single" => QueryWorkloads.run(ctx, QueryWorkloads.Single)
        case "train" => // the build's class-data archive run: load, do not measure
          KgWorkloads.train(ctx)
          QueryWorkloads.train(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.add("heap", "peak_mb" -> ctx.peakHeap)
      ctx.trace.foreach(tr => rec.add("spans", "spans" -> tr.spanRecords.map(_.toMap)))
      ok = true
    } catch {
      case e: Throwable =>
        rec.add("fatal", "error" -> e.toString)
        e.printStackTrace()
    } finally {
      rec.write()
      spark.stop()
    }
    if (!ok) System.exit(1)
  }
}
