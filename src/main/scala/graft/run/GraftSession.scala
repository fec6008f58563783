package graft.run

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's production tuning (the §2.I
  * "job definition" analog of the reference's worker-type/count cluster
  * sizing, `etl_manager/etl.py:252-330`, re-expressed as Spark confs).
  * The only place a `SparkSession` is built — the mains ([[fromEnv]]),
  * tests and ClusterCheck ([[builder]]) and the benchmark ([[local]]) —
  * so plan dumps, probe numbers, oracle dumps and tests run the bench's
  * conf. [[clusterConf]] is the conf map a 100 TB deployment submits
  * with: shuffle partitioned ~2-3x total cores, AQE on with skew-join
  * splitting, 128 MB scan partitions, broadcast threshold sized to
  * executor memory headroom. */
object GraftSession {

  /** The JDK17 `--add-opens` flags Spark 4 needs when a JVM is launched
    * outside spark-submit (mirrors
    * org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions;
    * build.sbt carries the same list for forked driver JVMs). */
  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED")

  /** Engine posture shared by every local session and [[clusterConf]]. */
  private[run] val engineConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // AQE: runtime coalescing, skew-join splitting, plan re-opt
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // sketch TypedImperativeAggregates (MinHashAgg/SimHashAgg) keep
    // small fixed-size buffers; let ObjectHashAggregate hold many groups
    // before sort-based fallback
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "100000",
  )

  /** Apply a master URL to a builder. A `local-cluster[n,cores,memMb]`
    * master spawns REAL executor JVMs (the single-machine rehearsal of a
    * standalone cluster — every task result, broadcast, and aggregate
    * buffer crosses a process boundary instead of staying in-heap), so
    * the executors also need the driver's classpath (this library runs
    * from class directories, not an assembled jar) and the add-opens
    * list. Requires SPARK_HOME and SPARK_SCALA_VERSION in the
    * environment (build.sbt sets both for forked runs). */
  private def withMaster(b: SparkSession.Builder, master: String): SparkSession.Builder =
    if (master.startsWith("local-cluster")) b.master(master)
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", jdk17AddOpens.mkString(" "))
    else b.master(master)

  /** The shared conf on an unfinished builder. Sessions it creates have
    * graft's SQL functions ([[graft.GraftExtensions]]) registered. */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    engineConf.foldLeft(withMaster(SparkSession.builder(), master)
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions)
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftExtensions)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  /** The mains' session: `SPARK_GRAFT_CPUS` cores (default: all of this
    * machine's) and shuffle partitions, on `SPARK_GRAFT_MASTER` when set
    * (e.g. `local-cluster[2,4,2048]` for real executor JVMs), else
    * `local[cpus]`. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Conf map for a real cluster submit (spark-submit --conf ...). Pure
    * data so jobs can merge/override; mirrors how the reference derives a
    * job definition dict from worker sizing. */
  def clusterConf(executors: Int, coresPerExecutor: Int = 4,
      executorMemoryGb: Int = 16): Map[String, String] = {
    val totalCores = executors * coresPerExecutor
    engineConf.toMap ++ Map(
      "spark.executor.instances" -> executors.toString,
      "spark.executor.cores" -> coresPerExecutor.toString,
      "spark.executor.memory" -> s"${executorMemoryGb}g",
      // ~2.5x cores: enough tasks to keep cores busy through stragglers
      // without tiny-partition overhead
      "spark.sql.shuffle.partitions" -> (totalCores * 5 / 2).toString,
      // 128 MB scan splits: the parquet row-group sweet spot
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      // dims up to ~256 MB broadcast when executors have 16g
      "spark.sql.autoBroadcastJoinThreshold" ->
        (math.min(256, executorMemoryGb * 16).toString + "MB"),
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      // multi-tenant sessions run many queries concurrently (see
      // ConcurrencySpec): FAIR keeps a long scan from starving short
      // interactive jobs; pools opt in via spark.scheduler.pool
      "spark.scheduler.mode" -> "FAIR",
    )
  }
}
