package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Turns the job ledger into the `spark` and `etl` per-layer figures of
  * one retail DAG run, billing every job to exactly one stage or to
  * `unlabeled`. */
object SparkLayer {
  val Tiers = Seq("bronze", "silver", "gold")

  private val Label = """retail-lake(-inc)?: (.*)""".r

  /** (phase, tier) of a program label, if it names a retail stage. */
  def stage(label: Option[String]): Option[(String, String)] =
    label.collect { case Label(inc, what) =>
      val phase = if (inc == null) "init" else "inc"
      val tier =
        if (what.startsWith("mart_")) "gold"
        else if (what.startsWith("bronze")) "bronze"
        else if (what.startsWith("silver")) "silver"
        else ""
      (phase, tier)
    }.filter(_._2.nonEmpty)

  /** Bills each job to its (phase, tier) or to None. A bronze or silver
    * label on a job that starts after every gold job of the same phase has
    * ended is stale: the label outlived its stage on the thread that set
    * it, so the job is billed as unlabeled. (The incremental's marts set
    * no label at all; their jobs carry whatever their pool thread last
    * set, which this rule cannot tell apart.) */
  def attribute(jobs: Seq[JobRec]): Seq[(JobRec, Option[(String, String)])] = {
    val goldEnd = jobs.flatMap(j => stage(j.label).collect {
      case (p, "gold") => p -> j.endMs }).groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).max }
    jobs.map { j =>
      j -> stage(j.label).filter { case (p, t) =>
        t == "gold" || goldEnd.get(p).forall(j.startMs <= _)
      }
    }
  }

  /** Wall seconds covered by the union of the jobs' intervals. */
  def unionWall(jobs: Seq[JobRec]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobs.filter(_.endMs >= 0).sortBy(_.startMs).foreach { j =>
      if (j.startMs > curE) {
        if (curE > curS) total += curE - curS
        curS = j.startMs; curE = j.endMs
      } else curE = math.max(curE, j.endMs)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** max ÷ median task time of the worst stage with at least four tasks. */
  def skew(tasks: Seq[TaskRec]): Double = {
    val per = tasks.groupBy(_.stage).values.filter(_.size >= 4).map { ts =>
      val med = Common.median(ts.map(_.runMs.toDouble))
      if (med <= 0) 1.0 else ts.map(_.runMs).max / med
    }
    if (per.isEmpty) 1.0 else per.max
  }

  /** Adds `spark.<phase>.<tier>.*`, `etl.<tier>_s`, `etl.unlabeled_s`,
    * `spark.jobs` and `spark.idle_core_s`, each summed over the traced
    * runs and divided by `runs`; `wall` is their total wall time. */
  def record(out: Outcome, jobs: Seq[JobRec], tasks: Seq[TaskRec],
      runs: Int, wall: Double, cores: Int): Unit = {
    val billed = attribute(jobs)
    val stageOf = mutable.Map.empty[Int, Option[(String, String)]]
    billed.foreach { case (j, s) => j.stages.foreach(st => stageOf(st) = s) }
    val n = math.max(runs, 1).toDouble
    for (phase <- Seq("init", "inc"); tier <- Tiers) {
      val key = Some((phase, tier))
      val js = billed.collect { case (j, `key`) => j }
      val ts = tasks.filter(t => stageOf.get(t.stage).contains(key))
      val p = s"spark.$phase.$tier"
      out.layer(s"$p.wall_s") = unionWall(js) / n
      out.layer(s"$p.tasks") = ts.size / n
      out.layer(s"$p.task_s") = ts.map(_.runMs).sum / 1e3 / n
      out.layer(s"$p.shuffle_write_mb") =
        ts.map(_.shuffleWriteBytes).sum / 1e6 / n
      out.layer(s"$p.spill_mb") = ts.map(_.spillBytes).sum / 1e6 / n
      out.layer(s"$p.gc_s") = ts.map(_.gcMs).sum / 1e3 / n
      out.layer(s"$p.skew") = skew(ts)
    }
    Tiers.foreach { tier =>
      out.layer(s"etl.${tier}_s") = unionWall(billed.collect {
        case (j, Some((_, `tier`))) => j }) / n
    }
    out.layer("etl.unlabeled_s") =
      unionWall(billed.collect { case (j, None) => j }) / n
    out.layer("spark.jobs") = jobs.size / n
    out.layer("spark.idle_core_s") =
      (wall * cores - tasks.map(_.runMs).sum / 1e3) / n
  }

  /** Rows emitted by `Range` operators in SQL executions newer than
    * `afterId` — the rows the program's fact generator produced. */
  def rangeRows(spark: SparkSession, afterId: Long): Long = {
    val store = spark.sharedState.statusStore
    // the status store is fed asynchronously: wait for the executions
    // to be marked complete before reading their metrics
    val deadline = System.nanoTime() + 10000000000L
    while (store.executionsList().exists(e => e.executionId > afterId &&
        e.completionTime.isEmpty) && System.nanoTime() < deadline)
      Thread.sleep(50)
    store.executionsList().filter(_.executionId > afterId).map { e =>
      val values = store.executionMetrics(e.executionId)
      store.planGraph(e.executionId).allNodes
        .filter(_.name == "Range").flatMap(_.metrics)
        .filter(_.name == "number of output rows")
        .flatMap(m => values.get(m.accumulatorId))
        .map(_.replaceAll("[^0-9]", "")).filter(_.nonEmpty).map(_.toLong)
        .sum
    }.sum
  }

  def lastExecutionId(spark: SparkSession): Long = {
    val ids = spark.sharedState.statusStore.executionsList().map(_.executionId)
    if (ids.isEmpty) -1L else ids.max
  }
}
