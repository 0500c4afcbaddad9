package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM: generates a workload's inputs, sets up
  * several times (the median is `setup_s`), runs the measured closed
  * loop, checks the outputs and writes one JSON record to `--out`.
  *
  *   graftbench.Main --workload curate|serve --seed N
  *     --seconds S --trace 0|1 --work DIR --out FILE [--gen-only 1]
  *
  * With `--gen-only 1` it only writes the generated inputs under
  * `--work` and their digest to `--out`.
  */
object Main {
  val SetupRounds = 3
  val Cores = 4

  def session(pool: Boolean, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // a long-running session keeps little listener history, so the
      // live heap reflects the program's own state
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    if (pool) b.config("spark.scheduler.mode", "FAIR")
    b.getOrCreate()
  }

  def workload(a: Args, root: Path): Workload = a.workload match {
    case "curate" => new Curate(a.seed, root, baseDocs = 800)
    case "serve" => new Serve(a.seed, root, a.tables)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    val root = a.work.resolve(a.workload)
    Io.deleteTree(root)
    val wl = workload(a, root)
    val serve = a.workload == "serve"
    val inputs = root.resolve("inputs")

    // generation (untimed), in a session of its own when it needs one
    var genSession: Option[SparkSession] = None
    def genSpark = genSession.getOrElse {
      genSession = Some(session(serve, a.work)); genSession.get
    }
    wl.generate(inputs, genSpark)
    if (a.genOnly) {
      // parquet files are digested by their rows: parquet-mr writes a
      // column's list of encodings in hash-set order, which differs
      // between JVMs, so equal rows do not always give equal bytes
      val digest = Io.treeDigest(root, p => genSpark.read.parquet(p.toString).collect()
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      genSession.foreach(_.stop())
      Io.write(a.out, Io.json(Map("workload" -> a.workload, "seed" -> a.seed, "digest" -> digest)))
      return
    }
    genSession.foreach(_.stop())
    phase("generate")

    // set-up: rounds of session start + fixture builds, whose median is
    // setup_s; then one warm-up pass, recorded beside it (its time is
    // mostly cold-JIT work and swings with the host)
    val listener = new SpanListener
    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      spark = session(serve, a.work)
      wl.fixtures(spark)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupRounds) { wl.teardown(spark); spark.stop() }
      s
    }
    phase("setup_rounds")
    val w0 = System.nanoTime()
    wl.warmup(spark)
    val warmupS = (System.nanoTime() - w0) / 1e9
    spark.sparkContext.addSparkListener(listener)
    phase("warmup")

    // measured window
    Heap.reset()
    Trace.reset()
    Trace.enabled = a.trace
    val t0 = System.nanoTime()
    val m = wl.run(spark, t0 + a.seconds * 1000000000L)
    val wall = (System.nanoTime() - t0) / 1e9
    Trace.enabled = false
    wl.settle(spark)
    Heap.sampleAfterFullGc()
    Thread.sleep(500) // let the listener bus deliver the last task events
    val storage = spark.sparkContext.getRDDStorageInfo
    val storageMb = storage.map(_.memSize).sum / 1048576.0
    val cachedRdds = storage.length

    phase("window")
    // checks, outside the measured window
    val checks = try wl.check(spark) catch {
      case e: Exception => Seq(Check(s"${a.workload}.check_ran", ok = false, e.toString))
    }
    val extraFailed = wl match { case s: Serve => s.mismatchedReads; case _ => 0L }
    checks.filterNot(_.ok).foreach(c => System.err.println(s"[check] FAIL ${c.name}: ${c.detail}"))
    val layerCounters = wl.counters
    phase("checks")
    spark.stop()
    phase("stop")

    val (tail, tailPct) = Stats.tail(m.latencies)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setups),
      "items_per_s" -> m.items / m.busySeconds,
      "p50_s" -> m.p50,
      "write_p50_s" -> m.writeP50,
      "heap_peak_mb" -> Heap.peakMb,
      "recall" -> m.recall)
    val selfSum = Trace.Layers.map(l => Trace.selfSeconds.getOrElse(l, 0.0)).sum
    val perLayer = Trace.Layers.flatMap { l =>
      Seq(s"$l.self_s" -> Trace.selfSeconds.getOrElse(l, 0.0),
        s"$l.jobs" -> listener.jobs(l).toDouble,
        s"$l.tasks" -> listener.tasks(l).toDouble,
        s"$l.task_cpu_s" -> listener.cpuSeconds(l),
        s"$l.shuffle_bytes" -> listener.shuffleBytes(l).toDouble,
        s"$l.spill_bytes" -> listener.spillBytes(l).toDouble,
        s"$l.peak_mem_mb" -> listener.peakMemMb(l))
    }.toMap ++ Seq(
      "sources.read.files", "sources.read.bytes", "sources.read.rows", "sources.read.rejected_files",
      "sources.read.rescued_files", "sources.write.rows", "operators.clean.rows_in",
      "operators.clean.rows_out", "operators.clean.unrouted_rows", "streaming.drain.batches",
      "streaming.drain.add_batch_ms", "streaming.drain.wal_commit_ms", "functions.rows",
      "operators.text.rows_in", "operators.text.rows_out", "operators.dedup.candidate_pairs",
      "operators.dedup.verified_pairs", "operators.dedup.max_bucket"
    ).map(k => k -> Trace.counter(k).toDouble).toMap ++ Seq(
      "sources.write.files", "sources.write.bytes", "operators.index.probes",
      "operators.index.lock_retries", "operators.index.missing_file_retries",
      "operators.index.torn_listing_retries", "operators.index.lost_deletes", "operators.table.rows_merged",
      "queries.plan_s"
    ).map(k => k -> layerCounters.getOrElse(k, 0.0)).toMap ++ Map(
      "operators.dedup.useful_frac" -> {
        val c = Trace.counter("operators.dedup.candidate_pairs")
        if (c == 0) 0.0 else Trace.counter("operators.dedup.verified_pairs").toDouble / c
      },
      "queries.jobs_per_request" -> {
        val n = layerCounters.getOrElse("queries.requests", 0.0)
        if (n == 0) 0.0 else listener.jobs("queries") / n
      },
      "spark.busy_frac" -> listener.taskRunMs.sum() / 1000.0 / (wall * Cores),
      "spark.sched_delay_s" -> listener.schedDelayMs.sum() / 1000.0,
      "spark.storage_mem_mb" -> storageMb,
      "spark.cached_rdds" -> cachedRdds.toDouble,
      "trace.span_coverage" -> (if (a.trace) selfSum / (wall * wl.loops) else 0.0))
    val rt = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "serve_tables" -> (wl match { case s: Serve => s.tables.toString; case _ => "" }), "seconds" -> a.seconds, "trace" -> a.trace,
      "attempted" -> m.attempted, "failed" -> (m.failed + extraFailed),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "samples" -> Map("latency_n" -> m.latencies.size, "tail_s" -> tail, "tail_percentile" -> tailPct,
        "write_n" -> m.writeN, "latency_by_kind" -> m.byKind, "items" -> m.items, "item_unit" -> m.itemUnit,
        "busy_s" -> m.busySeconds, "setup_rounds_s" -> setups, "warmup_s" -> warmupS, "jobs" -> listener.totalJobs,
        "task_cpu_s" -> listener.totalCpuSeconds),
      "trace" -> Map("wall_s" -> wall, "self_sum_s" -> selfSum,
        "span_coverage" -> (if (a.trace) selfSum / (wall * wl.loops) else 0.0), "loops" -> wl.loops,
        "spans" -> Trace.spans.map(sp => Map("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
          "request" -> sp.request, "start_s" -> (sp.startNs - t0) / 1e9, "end_s" -> (sp.endNs - t0) / 1e9))),
      "phases_s" -> phases.toMap,
      "jvm" -> Map("master" -> s"local[$Cores]", "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_version" -> rt.getVmVersion, "java_version" -> System.getProperty("java.version"),
        "available_processors" -> Runtime.getRuntime.availableProcessors))
    Io.write(a.out, Io.json(record))
  }
}

/** Heap in use just after a collection (the live set), sampled once,
  * by full collections forced at the end of the measured window. (A
  * sample taken at each old-generation collection inside the window
  * caught in-flight requests at random moments, and made the figure
  * jump by a fifth between runs.)
  */
object Heap {
  @volatile private var peak = 0L

  def reset(): Unit = peak = 0L

  def sampleAfterFullGc(): Unit = {
    // twice, with a pause: the first collection lets Spark's cleaner
    // drop the shuffle and broadcast state its referents held
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    peak = math.max(peak, mem.getUsed)
  }

  def peakMb: Double = peak / 1048576.0
}
