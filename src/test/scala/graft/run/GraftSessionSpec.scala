package graft.run

class GraftSessionSpec extends graft.SparkTestBase {

  test("cluster conf scales shuffle partitions with cores and enables AQE") {
    val c = GraftSession.clusterConf(executors = 1000, coresPerExecutor = 4)
    assert(c("spark.sql.shuffle.partitions") == "10000")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.files.maxPartitionBytes") == (128L * 1024 * 1024).toString)
    assert(c("spark.executor.instances") == "1000")
  }

  test("broadcast threshold bounded by executor memory") {
    assert(GraftSession.clusterConf(10, 4, executorMemoryGb = 4)
      ("spark.sql.autoBroadcastJoinThreshold") == "64MB")
    assert(GraftSession.clusterConf(10, 4, executorMemoryGb = 64)
      ("spark.sql.autoBroadcastJoinThreshold") == "256MB")
  }

  test("factory-built test session carries the engine conf and graft's SQL functions") {
    val cluster = GraftSession.clusterConf(executors = 10)
    GraftSession.engineConf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
      assert(cluster(k) == v, s"clusterConf disagrees with the local session on $k")
    }
    assert(spark.catalog.functionExists("vec_dot"))
    assert(spark.sql("SELECT vec_dot(CAST(array(1, 2) AS array<float>), " +
      "CAST(array(3, 4) AS array<float>))").head().get(0).toString.toDouble == 11.0)
  }
}
