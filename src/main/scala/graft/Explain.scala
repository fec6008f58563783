package graft

import java.nio.file.{Files, Paths}

/** Plan-audit dump (dev tool, on the session Bench and Verify run): writes each
  * inventory query's `explain("formatted")` output to `outDir/<name>.txt`
  * so plan regressions (a surprise CartesianProduct, a lost partial
  * aggregate, a filter that stopped pushing down) can be grepped and
  * diffed between rounds without re-running the driver. */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.run.GraftSession.fromEnv()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        Files.writeString(Paths.get(s"$outDir/$name.txt"),
          s"EXPLAIN FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
