package perfbench

import graft.GraftSession
import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

/** Benchmark JVM: runs one workload in one local session and prints one
  * result line, prefixed with [[Main.Marker]], for `run.py` to pick up.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --scratch <dir> --spans <file>. Everything the run writes goes under
  * the scratch directory, which the caller owns and removes. */
object Main {
  val Marker = "PERFBENCH_RESULT "
  val off = new Tracer(false)

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "retail_lake" -> Retail.run,
    "adhoc_sql" -> Adhoc.run)

  /** Tracing overhead from interleaved traced and untraced operations. */
  def overhead(out: Outcome, traced: Seq[Double], untraced: Seq[Double])
      : Unit =
    out.layer("trace.overhead_pct") =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else (Common.median(traced) / Common.median(untraced) - 1) * 100

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.getOrElse(opts("workload"),
      sys.error(s"unknown workload ${opts("workload")}"))
    val scratch = new File(opts("scratch"))
    val traced = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.build(master = s"local[$cores]",
      appName = "perfbench", extraConf = Map(
        "spark.sql.warehouse.dir" -> new File(scratch, "warehouse").getPath,
        "spark.local.dir" -> new File(scratch, "local").getPath,
        "spark.hadoop.hadoop.tmp.dir" -> new File(scratch, "hadoop").getPath,
        // loopback only, whatever the host's name resolves to
        "spark.driver.host" -> "localhost",
        "spark.driver.bindAddress" -> "127.0.0.1",
        "spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("ERROR")
    val ledger = if (traced) Some(new JobLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(traced)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      tracer, ledger, scratch)
    try {
      val out = workload(ctx)
      val lat = out.latencies.toSeq
      val metrics: Seq[(String, Double)] =
        if (!traced) Seq(
          "setup_s" -> Common.median(out.setup.toSeq),
          "op_p50_s" -> Common.median(lat),
          // one client: the throughput of the timed calls alone
          "ops_per_s" -> lat.size / lat.sum)
        else {
          out.layer("trace.spans") = tracer.all.size.toDouble
          out.layer.toSeq
        }
      out.problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
      opts.get("spans").foreach { f =>
        val w = new PrintWriter(new File(f), StandardCharsets.UTF_8)
        try w.println(tracer.toJson) finally w.close()
      }
      println(Marker + s"""{"correct":${out.problems.isEmpty},""" +
        s""""attempted":${math.max(lat.size, 1)},"failed":${out.failed},""" +
        s""""metrics":{""" +
        metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
          .mkString(",") + "}}")
    } finally spark.stop()
  }
}
