package perfbench

import graft.catalog.GraftCatalog
import graft.meta.{DatabaseMeta, MetaJson}
import graft.operators.{IncrementalAgg, IncrementalJoin}
import graft.run.{GraftJob, JobPackage}
import graft.validate.Validate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Common._

/** etl_daily: the reference's workflow run as a daily load. Set-up
  * registers a persistent, day-partitioned database from agnostic JSON
  * metadata and pre-loads `history` days. Each iteration is one day: the
  * day's rows land as a file, then the job re-reads its metadata, writes
  * the day's partition, retires the oldest day and repairs the partition
  * list, validates the day, runs the staged report SQL to sinks,
  * registers the sinks, and folds the day's inserts and retirements into
  * a maintained join view (sales ⋈ customers) and an aggregate view over
  * it. Retiring a day per day keeps the partition count, and so the
  * listing cost, flat across iterations. After the load, one client
  * thread sends report probes in a closed loop. */
final class EtlDaily(c: Ctx) extends Workload {
  import c.{counter, seed, spark, tr}
  val name = "etl_daily"

  private val customers = if (c.tiny) 200 else 2000
  private val rowsPerDay = if (c.tiny) 1000 else 10000
  private val history = if (c.tiny) 3 else 14
  val probesPerIter = if (c.tiny) 4 else 12
  /** The JVM keeps getting faster for about ten days; two warm-up days
    * and two measured ones sit where the curve has flattened more than
    * one and three did, for the same run time. */
  val minIters = 2
  val cycle = 1
  private val channels = Seq("web", "store", "phone", "partner")
  private val regions = Seq("north", "south", "east", "west", "central")
  private val segments = Seq("retail", "smb", "enterprise")
  private val aggKeys = Seq("region", "segment")
  private val measures = Seq("amount")

  private var root = ""
  private var day = 0
  private var version = 0
  private var pkg: JobPackage = _
  private var sinkCount = 0
  private var landedByCustomer = Map.empty[Long, (Long, Double)]

  private def metaDir = s"$root/meta"
  private def warehouse = s"$root/warehouse"
  private def landing = s"$root/landing"
  private def state = s"$root/state"
  private def sinkDir = s"$warehouse/lake/reports"
  private def salesPath = s"$warehouse/lake/db/sales"

  private def enumJson(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")

  /** The agnostic metadata the job is driven by, as users write it. */
  private def writeMetadata(): Unit = {
    write(s"$metaDir/database.json",
      """{"description": "daily sales", "name": "etl", "bucket": "lake", "base_folder": "db"}""")
    write(s"$metaDir/customers.json",
      s"""{"name": "customers", "description": "customer dimension",
         | "data_format": "parquet", "location": "customers/",
         | "primary_key": ["customer_id"],
         | "columns": [
         |  {"name": "customer_id", "type": "long", "description": "", "nullable": false},
         |  {"name": "region", "type": "character", "description": "", "enum": ${enumJson(regions)}},
         |  {"name": "segment", "type": "character", "description": "", "enum": ${enumJson(segments)}}]}
         |""".stripMargin)
    write(s"$metaDir/sales.json",
      s"""{"name": "sales", "description": "sales facts, one partition per day",
         | "data_format": "parquet", "location": "sales/",
         | "primary_key": ["sale_id"], "partitions": ["day"],
         | "columns": [
         |  {"name": "sale_id", "type": "long", "description": "", "nullable": false},
         |  {"name": "customer_id", "type": "long", "description": "", "nullable": false},
         |  {"name": "amount", "type": "double", "description": "", "nullable": false},
         |  {"name": "channel", "type": "character", "description": "", "enum": ${enumJson(channels)}},
         |  {"name": "day", "type": "int", "description": ""}]}
         |""".stripMargin)
  }

  /** The staged report job: a job folder whose SQL resources the runner
    * executes against the registered tables and a `day_sales` view. */
  private def writeJob(): JobPackage = {
    val job = s"$root/jobs/glue_jobs/daily_report"
    write(s"$job/job.py", "# runs the staged SQL resources\n")
    write(s"$job/glue_resources/channel_revenue.sql",
      """SELECT c.region, s.channel, count(*) AS n, round(sum(s.amount), 2) AS revenue
        |FROM day_sales s JOIN etl.customers c ON s.customer_id = c.customer_id
        |GROUP BY c.region, s.channel""".stripMargin)
    write(s"$job/glue_resources/top_customers.sql",
      """SELECT customer_id, round(sum(amount), 2) AS total FROM day_sales
        |GROUP BY customer_id ORDER BY total DESC, customer_id LIMIT 100""".stripMargin)
    val p = new JobPackage(job, s"$root/stage", jobId = "1")
    p.syncToStage()
    p
  }

  private def customersDf: DataFrame = spark.range(customers).select(
    col("id").as("customer_id"),
    element_at(typedLit(regions), ui(col("id"), seed, "region", regions.size) + 1).as("region"),
    element_at(typedLit(segments), ui(col("id"), seed, "segment", segments.size) + 1).as("segment"))

  private def saleId(d: Column): Column = d.cast("long") * 10000000L + col("id")

  /** Rows of days [from, to]; the same (seed, day) always gives the same rows. */
  private def salesDays(from: Int, to: Int): DataFrame =
    spark.range(rowsPerDay.toLong * (to - from + 1)).select(
      (col("id") / rowsPerDay + from).cast("int").as("d"),
      (col("id") % rowsPerDay).as("id"))
      .select(
        saleId(col("d")).as("sale_id"),
        ui(saleId(col("d")), seed, "cust", customers).cast("long").as("customer_id"),
        round(uf(saleId(col("d")), seed, "amt") * 500 + 1, 2).as("amount"),
        element_at(typedLit(channels), ui(saleId(col("d")), seed, "ch", channels.size) + 1)
          .as("channel"),
        col("d").as("day"))

  private def joinDir(v: Int) = s"$state/join_v$v"
  private def aggDir(v: Int) = s"$state/agg_v$v"

  def setup(newRoot: String): Unit = {
    if (root.nonEmpty) rmrf(root)
    root = newRoot
    rmrf(root)
    writeMetadata()
    val db = MetaJson.readDatabaseFolder(metaDir)
    GraftCatalog.writeTable(customersDf.repartition(1), db.table("customers"),
      db.tablePath(warehouse, "customers"), mode = "overwrite")
    GraftCatalog.writeTable(salesDays(1, history), db.table("sales"),
      db.tablePath(warehouse, "sales"), mode = "overwrite")
    GraftCatalog.registerDatabasePersistent(spark, db, warehouse, deleteIfExists = true)
    version = 0
    IncrementalJoin.joinState(spark.table("etl.sales"), spark.table("etl.customers"),
      Seq("customer_id")).write.parquet(joinDir(0))
    IncrementalAgg.state(spark.read.parquet(joinDir(0)), aggKeys, measures)
      .write.parquet(aggDir(0))
    pkg = writeJob()
    day = history
  }

  def iterate(probes: Int): Iter = {
    val d = day + 1
    val old = d - history
    // the day's delivery lands: new rows plus the ids the retention drops
    salesDays(d, d).write.parquet(s"$landing/sales_$d")
    spark.range(rowsPerDay).select(saleId(lit(old)).as("sale_id"))
      .write.parquet(s"$landing/retire_$d")
    val inputBytes = du(s"$landing/sales_$d") + du(s"$landing/retire_$d")

    val t0 = System.nanoTime()
    val (db, _) = tr("meta.load")(MetaJson.readDatabaseFolder(metaDir))
    val sales = db.table("sales")
    tr("catalog.write_partition") {
      GraftCatalog.writeTable(spark.read.parquet(s"$landing/sales_$d"), sales,
        db.tablePath(warehouse, "sales"), mode = "append")
    }
    tr("catalog.refresh_partitions") {
      spark.sql(s"ALTER TABLE etl.sales DROP IF EXISTS PARTITION (day = $old)")
      rmrf(s"$salesPath/day=$old")
      GraftCatalog.refreshPartitions(spark, db, "sales")
    }
    val (violations, _) = tr("validate.summary") {
      Validate.summaryCounts(spark.table("etl.sales").where(col("day") === d), sales).collect()
    }
    counter.check(s"day $d validates clean",
      violations.nonEmpty && violations.forall(_.getLong(1) == 0L))
    val (results, _) = tr("run.staged_sql") {
      spark.table("etl.sales").where(col("day") === d).createOrReplaceTempView("day_sales")
      GraftJob.runStagedSql(spark, pkg, sinkDir)
    }
    counter.check(s"day $d staged sql succeeds",
      results.size == 2 && results.forall(_.isInstanceOf[GraftJob.JobSucceeded]))
    tr("catalog.register_sinks") {
      val metas = GraftJob.inferSinkMetas(spark, sinkDir)
      sinkCount = metas.size
      GraftCatalog.updateDatabasePersistent(spark,
        DatabaseMeta("etl_reports", "lake", "reports", tables = metas), warehouse,
        updateTablesIfExist = true)
    }
    val custs = spark.table("etl.customers")
    val (delta, _) = tr("operators.ivm_join") {
      val dl = IncrementalJoin.applyCdcWithDelta(spark.read.parquet(joinDir(version)),
        "sale_id", "customer_id", Seq("customer_id"),
        spark.read.parquet(s"$landing/sales_$d"), spark.read.parquet(s"$landing/retire_$d"),
        custs.limit(0), custs.select("customer_id").limit(0),
        spark.table("etl.sales"), custs)
      dl.view.write.parquet(joinDir(version + 1))
      dl
    }
    tr("operators.ivm_agg") {
      IncrementalAgg.applyCdc(spark.read.parquet(aggDir(version)), aggKeys, measures,
        delta.inserted, delta.deleted, spark.read.parquet(joinDir(version + 1)))
        .write.parquet(aggDir(version + 1))
    }
    val latency = (System.nanoTime() - t0) / 1e9
    counter.attempted += 8 // the eight timed calls above
    // what the report probes must answer: the landed day per customer
    landedByCustomer = spark.read.parquet(s"$landing/sales_$d").groupBy("customer_id")
      .agg(count(lit(1)), sum("amount")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    rmrf(joinDir(version)); rmrf(aggDir(version))
    rmrf(s"$landing/sales_$d"); rmrf(s"$landing/retire_$d")
    version += 1
    day = d
    val stored = du(s"$salesPath/day=$d") + du(sinkDir) +
      du(joinDir(version)) + du(aggDir(version))
    Iter(latency, 2L * rowsPerDay, inputBytes, stored, (0 until probes).map(probe))
  }

  /** A report read after the load: one customer's total for the day, a
    * partition-pruned read of the registered fact table, checked against
    * the rows that landed. One query shape, so the percentiles describe
    * one distribution. */
  def probe(i: Int): Double = {
    val cust = new scala.util.Random(seed * 7919L + day * 1000L + i).nextInt(customers).toLong
    val (rows, s) = tr("catalog.report_probe") {
      spark.sql(s"SELECT count(*), sum(amount) FROM etl.sales WHERE day = $day " +
        s"AND customer_id = $cust").collect()
    }
    val (n, total) = landedByCustomer.getOrElse(cust, (0L, 0.0))
    counter.check(s"report probe for customer $cust on day $day matches the landed rows",
      rows.length == 1 && rows(0).getLong(0) == n &&
        (n == 0 || math.abs(rows(0).getDouble(1) - total) <= 1e-9 * total))
    s * 1000
  }

  def verify(): Unit = {
    val recomputed = IncrementalJoin.joinState(spark.table("etl.sales"),
      spark.table("etl.customers"), Seq("customer_id"))
    counter.check("join view equals a from-scratch join",
      frameHash(spark.read.parquet(joinDir(version))) == frameHash(recomputed))
    counter.check("aggregate view equals a from-scratch aggregate",
      frameHash(spark.read.parquet(aggDir(version))) ==
        frameHash(IncrementalAgg.state(recomputed, aggKeys, measures)))
    counter.check("partition count stays at the history length",
      spark.sql("SHOW PARTITIONS etl.sales").count() == history)
  }

  def record: Map[String, Any] = Map("rows_per_day" -> rowsPerDay, "history_days" -> history,
    "customers" -> customers, "last_day" -> day, "sinks" -> sinkCount,
    "probes_per_day" -> probesPerIter)
}
