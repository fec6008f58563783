package perfbench

import org.apache.spark.ListenerDrain
import scala.collection.mutable
import Common._

/** The benchmark's JVM side. One run: start a `local[4]` session through
  * the program's own factory, set the workload up twice (the first
  * set-up runs cold and so is the warm-up; `setup_s` adds the session
  * start to the median of the two), run the workload's untimed warm-up
  * iterations, then measure iterations for at least `--seconds` and at
  * least the workload's `minIters`, and check the outputs. The last
  * stdout line is the result object; everything else goes to stderr and
  * to the side file under `--out`.
  *
  * `--trace 1` measures the per-layer metrics instead, in one JVM, and
  * runs the same steps whichever workload is named, so every span is
  * measured in the same state. Each workload, in the order of
  * [[Workloads]], runs an untraced set-up (the cold one, a warm-up), a
  * traced set-up, its untraced warm-up iterations and one traced cycle
  * of iterations; then the corpus-preparation layers run traced.
  * Last, the tracing overhead: [[OverheadPairs]] pairs of one
  * [[OverheadWorkload]] probe run untraced and traced, the order
  * alternating; the overhead is the median traced minus the median
  * untraced latency. Spans of the pairs are left out of the metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out DIR [--tiny 1] */
object Main {
  val Cores = 4
  val Workloads = Seq("etl_daily", "ingest_probe")
  /** The workload whose probe measures the tracing overhead, the pairs
    * of it and the first probe key they use (beyond any iteration's). */
  val OverheadWorkload = "etl_daily"
  val OverheadPairs = 16
  val OverheadKeys = 1000
  /** Timed set-ups per run; the first runs cold. */
  val SetupReps = 2

  private val spanKinds = Seq("wall_s", "driver_s", "stages", "task_s", "shuffle_write_mb")
  private def units(kind: String): String = kind match {
    case "stages" => "count"
    case k if k.endsWith("_mb") => "MB"
    case _ => "s"
  }

  /** Span name -> the kinds it reports beyond the base five. */
  val spans: Seq[(String, Seq[String])] = Seq(
    "meta.load" -> Nil,
    "catalog.write_partition" -> Nil,
    "catalog.refresh_partitions" -> Nil,
    "validate.summary" -> Nil,
    "run.staged_sql" -> Nil,
    "catalog.register_sinks" -> Nil,
    "operators.ivm_join" -> Seq("spill_mb"),
    "operators.ivm_agg" -> Seq("spill_mb"),
    "catalog.report_probe" -> Seq("input_mb"),
    "operators.ivf_fit" -> Nil,
    "operators.ivf_refresh" -> Nil,
    "streaming.ingest_text" -> Nil,
    "operators.ivf_probe" -> Seq("input_mb"),
    "operators.bm25_probe" -> Seq("input_mb"),
    "examples.corpus_prep_job" -> Seq("spill_mb"),
    "operators.setsim_join" -> Seq("spill_mb"),
    "operators.clean_corpus" -> Seq("spill_mb"),
    "operators.strip_spans" -> Seq("spill_mb"),
    "operators.pack" -> Nil,
    "operators.band_index" -> Nil)

  val kernels = Seq("functions.vec_dot", "functions.minhash_agg",
    "functions.word_shingles", "functions.topk_agg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val tiny = opts.get("tiny").contains("1")

    val tSession = System.nanoTime()
    val spark = graft.run.GraftSession.local(Cores)
    graft.GraftExtensions.register(spark)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new BlockMeter
    spark.sparkContext.addSparkListener(meter)
    val ledger = new Ledger
    val tr = new Tracer(spark.sparkContext, ledger)
    val counter = new Counter
    val ctx = Ctx(spark, seed, tiny, tr, counter)
    val side = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "seconds" -> seconds, "trace" -> traced, "cores" -> Cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "tiny" -> tiny, "session_start_s" -> sessionS)

    def make(name: String): Workload = name match {
      case "etl_daily" => new EtlDaily(ctx)
      case "ingest_probe" => new IngestProbe(ctx)
    }
    def drain(): Unit = ListenerDrain(spark.sparkContext)
    def timedSetup(w: Workload, rep: Int): Double = {
      val t0 = System.nanoTime()
      w.setup(s"$work/${w.name}/rep$rep")
      (System.nanoTime() - t0) / 1e9
    }
    def warmUp(w: Workload): Unit =
      (0 until w.minIters).foreach(_ => w.iterate(w.probesPerIter / 2))
    var metrics = Map.empty[String, (Double, String)]
    try {
      if (!traced) {
        val w = make(workload)
        val setupS = (0 until SetupReps).map(timedSetup(w, _))
        // the first iterations after a set-up run colder than the rest
        // (JIT at full size, cold listing caches): untimed
        warmUp(w)
        drain()
        meter.resetPeak()
        val t0 = System.nanoTime()
        val its = mutable.ArrayBuffer.empty[Iter]
        while (its.size < w.minIters || (System.nanoTime() - t0) / 1e9 < seconds)
          its += w.iterate(w.probesPerIter)
        drain()
        val pinnedPeak = meter.peakBytes
        w.verify()
        val probeMs = its.toSeq.flatMap(_.probeMs)
        metrics = Map(
          "setup_s" -> (sessionS + median(setupS), "s"),
          "iter_s_p50" -> (median(its.toSeq.map(_.latencyS)), "s"),
          "probe_ms_p50" -> (median(probeMs), "ms"),
          "stored_bytes_per_input_byte" ->
            (its.map(_.storedBytes).sum.toDouble / its.map(_.inputBytes).sum, "ratio"),
          "pinned_mb_peak" -> (pinnedPeak / 1048576.0, "MB"))
        side("run") = Map("setup_reps_s" -> setupS, "iterations" -> its.size,
          "iter_s" -> its.map(_.latencyS), "probe_ms" -> probeMs,
          "input_records" -> its.map(_.inputRecords).sum, "record" -> w.record)
      } else {
        // Drains first: events still queued belong to the phase that ends.
        def tracing(on: Boolean): Unit = if (on != tr.on) {
          drain()
          if (on) {
            spark.sparkContext.addSparkListener(ledger)
            spark.listenerManager.register(ledger)
          } else {
            spark.sparkContext.removeSparkListener(ledger)
            spark.listenerManager.unregister(ledger)
          }
          tr.on = on
        }
        val failedTasks = mutable.LinkedHashMap.empty[String, Double]
        val phaseS = mutable.LinkedHashMap.empty[String, Double]
        var tPhase = System.nanoTime()
        def phase(name: String): Unit = {
          val now = System.nanoTime()
          phaseS(name) = (now - tPhase) / 1e9
          tPhase = now
        }
        val made = Workloads.map { name =>
          val w = make(name)
          val before = ledger.failedTaskCount
          val cold = timedSetup(w, 0)
          tracing(true)
          val warm = timedSetup(w, 1)
          tracing(false)
          warmUp(w)
          tracing(true)
          val its = (0 until w.cycle).map(_ => w.iterate(w.probesPerIter))
          tracing(false)
          w.verify()
          failedTasks(name) = ledger.failedTaskCount - before
          side(s"traced_$name") = Map("setup_reps_s" -> Seq(cold, warm),
            "iter_s" -> its.map(_.latencyS), "probe_ms" -> its.flatMap(_.probeMs),
            "record" -> w.record)
          phase(name)
          name -> w
        }.toMap
        val corpus = new CorpusPrep(ctx)
        val before = ledger.failedTaskCount
        tracing(true)
        val rates = corpus.run(s"$work/corpus_prep")
        tracing(false)
        failedTasks("corpus_prep") = ledger.failedTaskCount - before
        side("traced_corpus_prep") = corpus.record
        phase("corpus_prep")
        // taken before the overhead pairs, whose traced probes add spans
        val totals = ledger.totals()
        // Tracing overhead: pairs of the same probe untraced and traced,
        // the order alternating from pair to pair so that neither side
        // always runs on the caches the other warmed; a fresh key per pair.
        val etl = made(OverheadWorkload)
        val pairs = (0 until OverheadPairs).map { i =>
          val ms = (if (i % 2 == 0) Seq(false, true) else Seq(true, false)).map { on =>
            tracing(on)
            on -> etl.probe(OverheadKeys + i)
          }.toMap
          (ms(false), ms(true))
        }
        tracing(false)
        phase("overhead_pairs")
        side("phase_s") = phaseS
        val overheadMs = median(pairs.map(_._2)) - median(pairs.map(_._1))
        side("tracing_overhead") = Map("workload" -> OverheadWorkload,
          "probe_ms_untraced" -> pairs.map(_._1), "probe_ms_traced" -> pairs.map(_._2))
        side("spans") = totals.values.toSeq.sortBy(_.name).map(t => Map(
          "name" -> t.name, "calls" -> t.calls, "wall_s" -> t.wallS, "driver_s" -> t.driverS,
          "stages" -> t.stages, "task_s" -> t.taskS, "top_stages" -> t.topStages,
          "actions" -> t.actions))
        val fromSpans = spans.flatMap { case (s, extra) =>
          val t = totals.getOrElse(s, throw new IllegalStateException(s"span $s never ran"))
          (spanKinds ++ extra).map(k => s"$s.$k" -> (t.perCall(k), units(k)))
        }
        metrics = (fromSpans ++
          kernels.map(k => s"$k.rows_per_s" -> (rates(k), "1/s")) ++
          failedTasks.map { case (wl, n) => s"spark.$wl.failed_tasks" -> (n, "count") } :+
          ("bench.tracing.overhead_ms" -> (overheadMs, "ms"))).toMap
      }
    } catch {
      case e: Throwable =>
        counter.attempted += 1
        counter.failed += 1
        counter.failures += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    val correct = counter.failed == 0
    side("attempted") = counter.attempted
    side("failed") = counter.failed
    side("failures") = counter.failures.toSeq
    val sideJson = json(side)
    write(s"${opts("out")}/$workload-seed$seed-trace${if (traced) 1 else 0}.json", sideJson + "\n")
    System.err.println(s"perfbench side record: $sideJson")
    spark.stop()
    println(json(Map(
      "correct" -> correct, "attempted" -> math.max(1L, counter.attempted),
      "failed" -> counter.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
