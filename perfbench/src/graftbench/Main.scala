package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

/** One benchmark JVM.
  *
  *   graftbench.Main --workload kg_resolve|stream_ingest --seed N
  *     --seconds S --trace 0|1 --build DIR [--generate-only]
  *
  * Prints `GRAFTBENCH_DIAG {…}` and, last, `GRAFTBENCH_RESULT {…}`. With
  * --generate-only it writes the seed's inputs if they are missing and exits:
  * generating runs Spark jobs, which would warm the measuring JVM's JIT
  * before its cold pass, so inputs are made in a JVM of their own.
  * Set-up is JVM start → SparkSession ready + inputs registered; input
  * generation (cached on disk per seed and size) is excluded from it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    def arg(k: String): Option[String] = args.sliding(2).collectFirst { case Array(`k`, v) => v }
    val workload = arg("--workload").getOrElse(sys.error("--workload is required"))
    val ctx = Ctx(workload, arg("--seed").getOrElse("1").toLong, arg("--seconds").getOrElse("10").toDouble,
      arg("--trace").contains("1"), Paths.get(arg("--build").getOrElse(".bench_build")).toAbsolutePath,
      Host.cores, java.util.UUID.randomUUID().toString.take(8))
    val w: Workload = workload match {
      case "kg_resolve" => new KgResolve(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    if (args.contains("--generate-only")) {
      if (!w.inputsReady) w.prepare()
      Runtime.getRuntime.halt(0)
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val steal0 = Host.steal()
    var spark: SparkSession = Session.build(ctx.cores, ctx.build)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val r0 = System.nanoTime()
    w.register(spark)
    val setupS = sessionS + (System.nanoTime() - r0) / 1e9
    val calib = Host.calibrate()
    val res = new Result
    try {
      if (ctx.trace) spark = w.traced(spark, res)
      else {
        w.measure(spark, res)
        res.put("setup_s", setupS, "s")
        if (!res.metrics.contains("live_heap_mb")) res.put("live_heap_mb", Host.liveHeapMb(), "MB")
      }
    } finally spark.stop()
    res.diag ++= Seq("session_s" -> sessionS, "workload" -> workload, "seed" -> ctx.seed, "run" -> ctx.runId,
      "cores" -> ctx.cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "steal_jiffies" -> (Host.steal() - steal0), "calibration_s" -> calib,
      "check_failures" -> res.checkFailures.toList, "faults" -> res.faults,
      "jvm_wall_s" -> (System.currentTimeMillis() - jvmStart) / 1e3)
    println("GRAFTBENCH_DIAG " + Json.value(res.diag))
    println("GRAFTBENCH_RESULT " + Json.obj(Seq(
      "correct" -> res.checkFailures.isEmpty,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> res.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    System.out.flush()
    // the session is stopped; skip the JVM's shutdown hooks (seconds on a slow host)
    Runtime.getRuntime.halt(0)
  }
}
