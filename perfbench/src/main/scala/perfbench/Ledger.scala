package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable

/** One recorded interval: `parent` is the id of the span that was open
  * when this one began (-1 at the top). Spans are opened from one thread. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * out once; with tracing off `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        synchronized {
          spans += Span(id, parent, name, t0, t1, ms0,
            System.currentTimeMillis())
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def seconds(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.seconds)

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

/** Per-job record built from listener events. */
final case class JobRec(id: Int, label: Option[String], startMs: Long,
    var endMs: Long, stages: Seq[Int])

/** Per-task figures the ledger aggregates. */
final case class TaskRec(stage: Int, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Job and task ledger for the `spark` layer, attached to each session the
  * benchmark creates. Labels come from the job description the program sets
  * (`spark.job.description`); jobs with none are unlabeled. */
final class JobLedger extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  /** Events are ignored while this is false. */
  @volatile var enabled = true
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) synchronized {
      val label = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs(e.jobId) = JobRec(e.jobId, label, e.time, -1L, e.stageIds)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // an end is kept for any job whose start was recorded
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageJob.contains(e.stageId))
      tasks += TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def clear(): Unit = synchronized {
    jobs.clear(); tasks.clear(); stageJob.clear()
  }

  def snapshot: (Seq[JobRec], Seq[TaskRec]) =
    synchronized((jobs.values.map(_.copy()).toList, tasks.toList))
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
