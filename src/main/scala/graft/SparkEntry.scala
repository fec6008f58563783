package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.GraftCatalog
import graft.meta.DatabaseMeta

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * Exercises the full stack (SURVEY.md §3.1): parquet schema inference →
    * agnostic TableMeta → DatabaseMeta → catalog registration as views →
    * Spark SQL join+agg over the registered views.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val inferred = Seq("customer", "orders", "lineitem").map { n =>
      GraftCatalog.tableMetaFromParquet(spark, n, s"$n/", s"$sfDir/$n.parquet")
    }
    val db = DatabaseMeta("tpch", "testdata", tables = inferred).validated
    // fixture layout is flat parquet files, not <loc>/ dirs — register views
    // directly from the inferred meta's source paths
    inferred.foreach { t =>
      GraftCatalog.readTable(spark, t, s"$sfDir/${t.name}.parquet")
        .createOrReplaceTempView(GraftCatalog.viewName(db, t))
    }
    spark.sql("""
      SELECT c.c_mktsegment AS mktsegment,
             count(DISTINCT o.o_orderkey) AS n_orders,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM tpch_customer c
      JOIN tpch_orders o ON c.c_custkey = o.o_custkey
      JOIN tpch_lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY c.c_mktsegment
      ORDER BY mktsegment""")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracles

  /** The query inventory after the `SPARK_GRAFT_ONLY=q_a,q_b` dev filter
    * (unset/blank = all). Shared by Verify and Bench so the two dev
    * filters cannot desynchronize. A name that matches no query is a hard
    * error — a typo'd filter would otherwise run zero queries and present
    * an empty-but-clean result as a passing gate. */
  def selectedQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    selectedQueries(sys.env.get("SPARK_GRAFT_ONLY"))

  private[graft] def selectedQueries(filter: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val only = filter
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) }
  }
}
