package perfbench

import graft.{Metrics, SparkEntry, Tables}
import scala.collection.mutable

/** `adhoc_sql`: read-only, Athena-shaped registered queries, one client
  * in a closed loop, each pass over all of them in its own seed-shuffled
  * order.
  * Bound by the fixed costs of `operators` (planning, codegen, scheduling);
  * writes nothing.
  *
  * The tables are generated from a fixed data seed, so each query's row
  * count and digest can be pinned (`adhoc_pins.tsv`, recorded from the
  * engine at the commit that introduced the benchmark; DuckDB is not
  * available to re-derive them). The run seed picks the query orders. */
object Adhoc {
  /** Four slow queries (q04, q10, q11, q73) and six cheaper ones: pruned
    * and filtered scans, the wide denormalizing join, an anti join,
    * sessionizing windows and top-k per group. The other registered
    * queries are left out to keep a run near 45 s on a 4-core host, where
    * the slowest of them (q89, q126, q154) take 3–14 s each when cold. */
  val Queries: Seq[String] = Seq("q01_pruned_agg", "q02_filtered_scan",
    "q03_denorm_join", "q04_cte_sql", "q10_topk", "q11_window_rank",
    "q13_anti_join", "q41_sessionize", "q73_grouping_sets",
    "q97_topk_per_group")

  val DataSeed = 42L
  val Size = TpchInputs.Scale(customers = 1500, parts = 2000,
    orders = 15000, events = 10000, users = 150)

  /** name → (rows, digest) */
  lazy val pins: Map[String, (Long, Long)] = {
    val in = getClass.getResourceAsStream("/perfbench/adhoc_pins.tsv")
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, n, d) = l.split("\t")
        q -> (n.toLong, d.toLong)
      }.toMap
    finally in.close()
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val data = ctx.dir("tpch").getPath
    TpchInputs.write(spark, data, DataSeed, Size)
    // set-up: register every table through the engine's registry
    for (_ <- 1 to 3)
      out.setup += Common.time(Tables.registerAll(spark, data))._2
    // a fresh order every pass, so that no query is timed in one position
    // only: what runs before a query (its garbage, its cached blocks) moves
    // its time
    val rng = new scala.util.Random(ctx.seed)
    val queries = SparkEntry.queries
    var scanBytes = 0L
    var shuffleBytes = 0L

    def execute(q: String, tr: Tracer): Double = {
      val (rows, s) = Common.time(tr.span(s"operators.$q") {
        val df = queries(q)(spark, data)
        tr.span("operators.plan")(df.queryExecution.executedPlan)
        val rows = df.collect()
        if (tr.on) {
          val m = Metrics.summary(df)
          scanBytes += m("scan_bytes")
          shuffleBytes += m("shuffle_bytes_written")
        }
        (df.columns.toSeq, rows)
      })
      val got = Common.digestRows(rows._1, rows._2)
      if (!pins.get(q).contains(got)) {
        out.failed += 1
        out.check(false, s"$q: rows/digest $got, pinned ${pins.get(q)}")
        System.err.println(s"PIN\t$q\t${got._1}\t${got._2}")
      }
      s
    }

    // an untimed first pass warms the JIT and the codegen cache; without
    // it the time of each query depends on where the seed put it
    rng.shuffle(Queries).foreach(execute(_, Main.off))

    // timed passes, one per 2.5 s of --seconds, each checking every result;
    // a traced run alternates traced and untraced passes
    val traced = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    ctx.ledger.foreach(_.clear())
    val passes = Common.opCount(ctx.seconds, 2.5, if (ctx.traced) 2 else 1)
    for (pass <- 0 until passes) {
      val traceThis = ctx.traced && pass % 2 == 0
      ctx.ledger.foreach(_.enabled = traceThis)
      val tr = if (traceThis) ctx.tracer else Main.off
      rng.shuffle(Queries).foreach { q =>
        val s = execute(q, tr)
        out.latencies += s
        if (ctx.traced) (if (traceThis) traced else untraced) += s
      }
    }

    if (ctx.traced) {
      val spans = ctx.tracer.all
      val n = spans.count(_.name.startsWith("operators.q")).toDouble
      Queries.foreach { q =>
        out.layer(s"operators.$q.p50_s") =
          Common.median(ctx.tracer.seconds(s"operators.$q"))
      }
      out.layer("operators.plan_s") =
        Common.median(ctx.tracer.seconds("operators.plan"))
      ctx.ledger.foreach { l =>
        val (jobs, tasks) = l.snapshot
        out.layer("operators.jobs_per_query") = jobs.size / n
        out.layer("operators.tasks_per_query") = tasks.size / n
      }
      out.layer("operators.scan_mb") = scanBytes / 1e6 / n
      out.layer("operators.shuffle_mb") = shuffleBytes / 1e6 / n
      Main.overhead(out, traced.toSeq, untraced.toSeq)
    }
    out
  }
}
