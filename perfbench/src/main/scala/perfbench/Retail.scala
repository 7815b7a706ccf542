package perfbench

import graft.etl.RetailPipeline
import graft.format.GraftTable
import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** `retail_lake`: the reference's medallion DAG (bronze fact → silver join
  * → four gold marts), an initial load followed by the 2014-11 monthly
  * incremental, landed as GraftTables (`RetailPipeline.runLake` and
  * `runIncrementalLake`: overwrite, replaceWhere, zone-map pruning). One
  * operation is one such load cycle into a fresh warehouse. Bound by
  * `etl`, Spark shuffles and joins, parquet writes and the table format. */
object Retail {
  /** Purchase-fact rows per load. At this size a cycle is dominated by the
    * DAG's fixed costs (hundreds of files, ~160 jobs); it is kept small so
    * that one run, checks included, stays near a minute on a shared
    * 4-core host. */
  val Rows = 50000L
  val Year = "2014"
  val Month = "11"
  private val window = col("purchase_year").cast("int") === Year.toInt &&
    col("purchase_month").cast("int") === Month.toInt

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val dims = ctx.dir("dims")
    val sc = spark.sparkContext

    // set-up: generate the dimension CSVs and read them through the
    // program's own readers
    for (_ <- 1 to 3) {
      val (counts, s) = Common.time {
        Common.deleteTree(dims)
        RetailInputs.write(dims, ctx.seed)
        Seq(RetailPipeline.customer(spark, dims.getPath).count(),
          RetailPipeline.productsInfo(spark, dims.getPath).count(),
          RetailPipeline.zipcode(spark, dims.getPath).count())
      }
      out.setup += s
      out.check(counts == Seq(RetailInputs.Customers.toLong,
        RetailInputs.Products.toLong, RetailInputs.Zipcodes.toLong),
        s"dimension row counts $counts")
    }

    // each call starts without a job description, so a label the
    // program leaves behind is never the benchmark's
    def initial(wh: File): Map[String, Long] = {
      sc.setJobDescription(null)
      RetailPipeline.runLake(spark, dims.getPath, wh.getPath, Rows)
    }
    def incremental(wh: File): Map[String, Long] = {
      sc.setJobDescription(null)
      RetailPipeline.runIncrementalLake(spark, dims.getPath, wh.getPath,
        Rows, Year, Month)
    }

    // One cycle per operation, into a fresh warehouse. Cycle 0 is untimed:
    // it warms the JIT and is the checked one, its checks running between
    // and after its two calls. Then one timed cycle per 30 s of --seconds;
    // a traced run times at least two, traced and untraced in turn, so the
    // tracing overhead comes from one process.
    var expected = (Map.empty[String, Long], Map.empty[String, Long])
    var windowRows = 0L
    var generated = 0L
    var tracedWall = 0.0
    var traced = 0
    val tracedLat = collection.mutable.ArrayBuffer.empty[Double]
    val untracedLat = collection.mutable.ArrayBuffer.empty[Double]
    val opened = collection.mutable.ArrayBuffer.empty[Double]
    var footprint = Map.empty[String, Double]
    ctx.ledger.foreach(_.clear())
    val cycles = Common.opCount(ctx.seconds, 30, if (ctx.traced) 2 else 1)
    for (i <- 0 to cycles) {
      val wh = ctx.dir(s"wh-$i")
      val traceThis = ctx.traced && i % 2 == 1
      ctx.ledger.foreach(_.enabled = traceThis)
      val tr = if (traceThis) ctx.tracer else Main.off
      val (a, s1) = Common.time(tr.span("etl.initial")(initial(wh)))
      val before =
        if (i == 0) outsideWindow(ctx, wh) else Map.empty[String, String]
      val execBefore = SparkLayer.lastExecutionId(spark)
      val (b, s2) = Common.time(tr.span("etl.incremental")(incremental(wh)))
      val s = s1 + s2
      if (i > 0) out.latencies += s
      if (i == 0) {
        expected = (a, b)
        generated = SparkLayer.rangeRows(spark, execBefore)
        val after = outsideWindow(ctx, wh)
        // files that straddled the window are rewritten and may leave new
        // files outside it; every file that was outside must stay as is
        val changed = before.keys.filter(p => after.get(p) != before.get(p))
        out.check(before.nonEmpty && changed.isEmpty,
          s"${changed.size} files outside the incremental window changed: " +
            changed.toSeq.sorted.take(3).map(p =>
              s"$p ${before(p)} -> ${after.getOrElse(p, "gone")}")
              .mkString(", "))
        windowRows = checkOutputs(ctx, out, wh, dims)
      } else out.check((a, b) == expected,
        s"cycle $i mart counts $a / $b differ from the checked cycle")
      if (traceThis) {
        tracedWall += s; traced += 1; tracedLat += s
        // a reader of the month just loaded, through the zone maps
        tr.span("sources.pruned_read") {
          val (df, open, total) = GraftTable.forPath(spark,
            s"$wh/silver_purchase_all_info").prunedWhere(
              col("purchase_year") === Year.toInt &&
                col("purchase_month") === Month.toInt)
          df.count()
          opened += open.toDouble / total
        }
        tiers(wh).foreach { case (t, ds) =>
          val files = ds.map(Common.dataFiles)
          out.layer(s"sinks.$t.files") = files.map(_._1).sum.toDouble
          out.layer(s"sinks.$t.mb") = files.map(_._2).sum / 1e6
        }
        footprint = formatFootprint(ctx, tiers(wh).values.flatten.toSeq)
      } else if (i > 0) untracedLat += s
      Common.deleteTree(wh)
    }

    if (ctx.traced) {
      ctx.ledger.foreach { l =>
        val (jobs, tasks) = l.snapshot
        SparkLayer.record(out, jobs, tasks, traced, tracedWall,
          sc.defaultParallelism)
        val reads = ctx.tracer.all.filter(_.name == "sources.pruned_read")
        val inRead = jobs.filter(j => reads.exists(r =>
          j.startMs >= r.startMs && j.startMs <= r.endMs))
        val stages = inRead.flatMap(_.stages).toSet
        out.layer("sources.scan_tasks") =
          tasks.count(t => stages(t.stage)).toDouble / math.max(1, reads.size)
      }
      out.layer("etl.initial_s") =
        Common.median(ctx.tracer.seconds("etl.initial"))
      out.layer("etl.incremental_s") =
        Common.median(ctx.tracer.seconds("etl.incremental"))
      out.layer("etl.window_row_ratio") =
        if (generated > 0) windowRows.toDouble / generated else 0.0
      out.layer("sources.pruned_read_s") =
        Common.median(ctx.tracer.seconds("sources.pruned_read"))
      out.layer("sources.files_opened_ratio") = Common.median(opened.toSeq)
      footprint.foreach { case (k, v) => out.layer(k) = v }
      Main.overhead(out, tracedLat.toSeq, untracedLat.toSeq)
    }
    out
  }

  /** The warehouse's table roots by tier (`bronze_purchase`,
    * `silver_purchase_all_info`, `gold_<mart>`). */
  private def tiers(wh: File): Map[String, Seq[File]] =
    wh.listFiles().filter(_.isDirectory).toSeq
      .groupBy(d => SparkLayer.Tiers.find(d.getName.startsWith)
        .getOrElse("other"))

  /** `format.log_kb_per_commit` (bytes under `_log` ÷ commits) and
    * `format.manifest_files` (files under `_log`, per table). */
  private def formatFootprint(ctx: Ctx, roots: Seq[File])
      : Map[String, Double] = {
    val commits = roots.map(r =>
      GraftTable.forPath(ctx.spark, r.getPath).currentVersion).sum
    var files = 0L
    var bytes = 0L
    roots.map(r => new File(r, "_log")).filter(_.isDirectory).foreach(l =>
      Files.walk(l.toPath).filter(p => Files.isRegularFile(p))
        .forEach { p => files += 1; bytes += Files.size(p) })
    Map("format.log_kb_per_commit" ->
        (if (commits > 0) bytes / 1e3 / commits else 0.0),
      "format.manifest_files" -> files.toDouble / math.max(roots.size, 1))
  }

  /** Hash and manifest envelope of each data file the incremental must
    * leave untouched: those whose (year, month) envelope excludes the
    * window. */
  private def outsideWindow(ctx: Ctx, wh: File): Map[String, String] = {
    val all = Common.fileHashes(wh)
    tiers(wh).values.flatten.toSeq.flatMap { d =>
      def stat(c: String) = col(c).cast("int")
      val mayHold = stat("min_purchase_year") <= Year.toInt &&
        stat("max_purchase_year") >= Year.toInt &&
        stat("min_purchase_month") <= Month.toInt &&
        stat("max_purchase_month") >= Month.toInt
      GraftTable.forPath(ctx.spark, d.getPath).manifest()
        .where(!coalesce(mayHold, lit(true)))
        .select(col("path"), concat_ws(" ", col("min_purchase_year"),
          col("max_purchase_year"), col("min_purchase_month"),
          col("max_purchase_month"), col("row_count"))).collect()
        .map(r => s"${d.getName}/${r.getString(0)}" -> r.getString(1))
    }.map { case (p, env) => p -> s"${all.getOrElse(p, "missing")} [$env]" }
      .toMap
  }

  /** Bronze holds exactly the requested rows, and every gold mart equals
    * a plain Spark SQL recomputation from bronze and the dimension CSVs.
    * All digests come from one Spark job. Returns bronze's rows in the
    * incremental window. */
  private def checkOutputs(ctx: Ctx, out: Outcome, wh: File, dims: File)
      : Long = {
    val spark = ctx.spark
    def table(name: String) = GraftTable.forPath(spark, s"$wh/$name").read()
    val b = table("bronze_purchase")
    b.createOrReplaceTempView("pb_bronze")
    Seq("customer", "products_info", "zipcode").foreach(name =>
      spark.read.option("header", "true").csv(s"$dims/$name.csv")
        .createOrReplaceTempView(s"pb_$name"))
    val marts = Expected.marts(spark)
    val d = Common.digests(Seq("bronze" -> b, "window" -> b.where(window)) ++
      marts.toSeq.flatMap { case (name, sql) => Seq(
        s"want $name" -> spark.sql(sql),
        s"got $name" -> table(s"gold_$name")) })
    val n = d("bronze")._1
    out.check(n == Rows, s"bronze holds $n rows, expected $Rows")
    marts.keys.foreach { name =>
      val (want, got) = (d(s"want $name"), d(s"got $name"))
      out.check(want == got && want._1 > 0,
        s"$name: ${got._1} rows differ from the recomputation (${want._1})")
    }
    d("window")._1
  }
}

/** The four marts recomputed in plain Spark SQL from the bronze view and
  * the raw dimension CSVs, independently of the program's DataFrame code.
  * Partition keys are compared as integers: the engine casts them so
  * before its marts, as the reference's partition-type inference did. */
object Expected {
  private val money =
    "ROUND(CAST(SUM(CAST(amount AS DECIMAL(18,4))) AS DOUBLE), 2) " +
      "AS total_purchase_amount, COUNT(amount) AS count_of_purchase"
  private val zipCols = Seq("zipcode", "province_city", "province_city_eng",
    "city_county", "city_county_eng", "eup_myeon", "eup_myeon_eng",
    "road_nm", "road_nm_eng")

  private def custCols(t: String): String =
    (Seq("sex", "age_group", "residence") ++ zipCols).map(c => s"$t.$c")
      .mkString(", ")

  def marts(spark: org.apache.spark.sql.SparkSession): Map[String, String] = {
    spark.sql(s"""SELECT c.customer_id, c.sex, c.age_group, c.residence,
      ${zipCols.map("z." + _).mkString(", ")}
      FROM pb_customer c LEFT JOIN pb_zipcode z
        ON c.residence = z.short_zipcode""")
      .createOrReplaceTempView("pb_custzip")
    spark.sql(s"""SELECT b.affiliate, b.receipt_no, b.division_cd,
        b.main_category_cd, b.sub_category_cd, b.customer_id, b.store_cd,
        b.purchase_date, b.purchase_time, b.amount,
        CAST(b.purchase_year AS INT) AS purchase_year,
        CAST(b.purchase_month AS INT) AS purchase_month,
        p.main_category_desc, p.sub_category_desc, ${custCols("cz")}
      FROM pb_bronze b
      LEFT JOIN pb_products_info p
        ON b.affiliate = p.affiliate AND b.division_cd = p.division_cd
        AND b.main_category_cd = p.main_category_cd
        AND b.sub_category_cd = p.sub_category_cd
      LEFT JOIN pb_custzip cz ON b.customer_id = cz.customer_id""")
      .createOrReplaceTempView("pb_silver")
    Map(
      "mart_salesbydatetime" -> s"""
        SELECT affiliate, purchase_year, purchase_month, purchase_day,
          COALESCE(date_format(try_to_date(
            concat(purchase_year, purchase_month, purchase_day),
            'yyyyMMdd'), 'EEEE'), 'Invalid date format. Please')
            AS day_of_week,
          purchase_time, total_purchase_amount, count_of_purchase
        FROM (SELECT affiliate, purchase_year, purchase_month,
            substring(purchase_date, 7, 2) AS purchase_day, purchase_time,
            $money
          FROM pb_silver GROUP BY 1, 2, 3, 4, 5)""",
      "mart_salesbyageproducts" -> s"""
        SELECT affiliate, purchase_year, purchase_month, age_group,
          division_cd, main_category_desc, sub_category_desc, $money
        FROM pb_silver GROUP BY 1, 2, 3, 4, 5, 6, 7""",
      "mart_salesbyresidence" -> s"""
        SELECT affiliate, purchase_year, purchase_month, province_city,
          city_county, $money
        FROM pb_silver GROUP BY 1, 2, 3, 4, 5""",
      "mart_salesbycustomer" -> s"""
        SELECT a.*, ${custCols("cz")}
        FROM (SELECT customer_id, affiliate,
            CAST(purchase_year AS INT) AS purchase_year,
            CAST(purchase_month AS INT) AS purchase_month, $money
          FROM pb_bronze GROUP BY 1, 2, 3, 4) a
        LEFT JOIN pb_custzip cz ON a.customer_id = cz.customer_id""")
  }
}
