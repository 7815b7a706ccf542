package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What every workload gets: the session, the run's seed and time budget,
  * the span recorder and (traced runs only) the job ledger. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, ledger: Option[JobLedger], scratch: File) {
  def traced: Boolean = tracer.on
  def dir(name: String): File = new File(scratch, name)
}

/** What a workload reports back: its set-up times, one latency per timed
  * operation, failed operations and checks, per-layer figures. */
final class Outcome {
  val setup = mutable.ArrayBuffer.empty[Double]
  val latencies = mutable.ArrayBuffer.empty[Double]
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  /** Records a correctness check; a failed one fails the run. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) problems += what
}

object Common {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** How many operations a run of `seconds` measures, for operations of
    * `nominal` seconds each: a fixed count rather than a deadline, so that
    * every run of a workload times the same work. At least `min`. */
  def opCount(seconds: Double, nominal: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominal).toInt)

  /** Order-insensitive digests of tagged frames, all in one job:
    * tag → (row count, Σ row hash). Columns are taken in name order and
    * every value is compared as its string form, so two frames that hold
    * the same multiset of rows agree, whatever their row order. */
  def digests(frames: Seq[(String, DataFrame)])
      : Map[String, (Long, BigDecimal)] =
    frames.map { case (tag, df) =>
      val cols = df.columns.sorted.map(c =>
        coalesce(col(s"`$c`").cast("string"), lit("\u0000")))
      df.select(lit(tag).as("tag"),
        xxhash64(concat_ws("\u0001", cols: _*)).as("h"))
    }.reduce(_ union _)
      .groupBy("tag").agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap

  /** The same digest over rows already collected. Doubles are
    * compared at nine significant digits, which absorbs summation-order
    * drift in the last bits. */
  def digestRows(columns: Seq[String], rows: Array[Row]): (Long, Long) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    def show(v: Any): String = v match {
      case null => "\u0000"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d)
          .round(new java.math.MathContext(9)).stripTrailingZeros
          .toPlainString
      case f: Float => show(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case r: Row => (0 until r.length).map(i => show(r.get(i)))
        .mkString("{", ",", "}")
      case o => o.toString
    }
    var sum = 0L
    rows.foreach { r =>
      sum += scala.util.hashing.MurmurHash3.stringHash(
        order.map(i => show(r.get(i))).mkString("\u0001")).toLong
    }
    (rows.length.toLong, sum)
  }

  /** Relative path → MD5 of every regular file under `root`. */
  def fileHashes(root: File): Map[String, String] = {
    val base = root.toPath
    val out = Map.newBuilder[String, String]
    Files.walk(base).filter(p => Files.isRegularFile(p)).forEach { p =>
      val md = MessageDigest.getInstance("MD5")
      out += base.relativize(p).toString ->
        md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }
    out.result()
  }

  /** (data files, bytes) under `root`, skipping hidden and log files. */
  def dataFiles(root: File): (Long, Long) = {
    var n = 0L
    var b = 0L
    if (root.exists())
      Files.walk(root.toPath).filter(p => Files.isRegularFile(p)).forEach {
        p =>
          val name = p.getFileName.toString
          if (name.endsWith(".parquet") && !p.toString.contains("/_log/")) {
            n += 1; b += Files.size(p)
          }
      }
    (n, b)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
