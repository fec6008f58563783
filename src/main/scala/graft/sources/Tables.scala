package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver fixture tables (repo:TESTDATA.md) — one parquet
  * per table under the sf directories of /root/testdata. Plain declarative
  * scans so Catalyst pushdown/pruning reach the parquet reader. */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"${sfDir.stripSuffix("/")}/$name.parquet"
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
      // reader rejects — [PARQUET_TYPE_ILLEGAL] — unless nanos are read as
      // long) and as TIMESTAMP(MICROS) without timezone (read as
      // TIMESTAMP_NTZ). Normalize both to session-TZ TIMESTAMP so every
      // consumer (unix_micros arithmetic, watermarks) sees one type.
      // Integer `div` for the nanos case — epoch nanos exceed double's 2^53.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import org.apache.spark.sql.types.{LongType, TimestampType}
      val raw = spark.read.parquet(path)
      raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case TimestampType => raw
        case _ => raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      }
    } else spark.read.parquet(path)
  }
}
