package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.state.{KvSessionBackend, KvStateStoreProvider, RocksDbBackend, RocksDbStateStoreProvider}

/** Benchmark JVM. Runs one workload and writes one JSON record:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <record.json>
  * }}}
  *
  * With `--trace 0` the record's metrics are the end-to-end ones. With
  * `--trace 1` the workload runs twice in the same JVM, first untraced and
  * then through the timing decorators, and the metrics are the per-layer
  * ones plus the tracing overhead (untraced over traced throughput, minus 1).
  * `run.py` builds this program, starts it and prints the final result. */
object Main {
  val Names = Seq("kv-resp-ttl", "rocksdb-bandbucket")

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // many maintenance cycles land in every timed run, each with little
      // to do; at 4 s and more, KV maintenance deleted several versions at
      // once, each by a scan of every key in the KV server, and stalled the
      // batches that ran meanwhile for up to 1.5 s
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "2s")
      .config("spark.sql.streaming.minBatchesToRetain", "20")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed-cost calibration probe: a constant CPU-bound query that touches
    * no code under test, so its time measures the machine. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1L << 22).selectExpr("sum(hash(id)) AS s").queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Committed heap in MiB. The heap is fixed and pre-touched (see run.py),
    * so all of it is resident and peak RSS minus this is the peak of the
    * memory outside the Java heap: RocksDB, thread stacks, code, buffers. */
  def heapCommittedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  def memTotalMb(): Double =
    scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  final case class Record(metrics: Map[String, Double], attempted: Long, failed: Long,
                          problems: Seq[String], calibration: Seq[Double], extra: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Names.contains(workload), s"unknown workload $workload; one of ${Names.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val extra = if (workload == "kv-resp-ttl") Workloads.kvConf else Map.empty[String, String]
    val spark = session(work, extra)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val rec = Workloads.streaming(spark, sessionS, workload, seed, seconds, traced, work)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (traced) 1 else 0),
      "host" -> Map("nproc" -> cores, "mem_total_mb" -> memTotalMb(),
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "spark" -> spark.version, "date" -> java.time.Instant.now().toString),
      "calibration_s" -> rec.calibration,
      "attempted" -> rec.attempted, "failed" -> rec.failed, "problems" -> rec.problems,
      "metrics" -> rec.metrics) ++ rec.extra
    Files.writeString(Paths.get(opt("out")), Json.write(out))
    spark.stop()
  }
}

/** Streaming workload definitions and their metrics. */
object Workloads {
  val KvTtlSecs = 100

  def kvConf: Map[String, String] = Map(
    KvStateStoreProvider.RespAddrKey -> "embedded",
    graft.state.TtlConf.ExpiryKey -> KvTtlSecs.toString,
    graft.state.TtlConf.StrictKey -> "true")

  def providerClass(workload: String, traced: Boolean): Class[_] = (workload, traced) match {
    case ("kv-resp-ttl", false) => classOf[KvStateStoreProvider]
    case ("kv-resp-ttl", true) => classOf[TracedKvProvider]
    case ("rocksdb-bandbucket", false) => classOf[RocksDbStateStoreProvider]
    case ("rocksdb-bandbucket", true) => classOf[TracedRocksDbProvider]
  }

  def shape(spark: SparkSession, workload: String, seed: Long): Shape = workload match {
    case "kv-resp-ttl" =>
      // 20,000 preloaded keys kept resident by an 80 s rotation (250 per
      // batch), 25 cold keys per second expiring 100 s later, 60 hot events
      new TallyShape(spark, new TallyGen(seed, preload = 20000, rotation = 80, coldPerSec = 25, hot = 60,
        theta = 0.8, ttlSecs = KvTtlSecs, warmBatches = StreamLoop.SetupBatches - 1 + StreamLoop.JitWarmup,
        warmStep = 8))
    case "rocksdb-bandbucket" =>
      new BandShape(spark, new DocGen(seed, docsPerBatch = DocsPerBatch))
  }
  val DocsPerBatch = 96

  /** Cadence batches (snapshot or base commits) in every timed run, at least. */
  val MinCadenceSamples = 7
  /** Timed batches per run: two per second of `--seconds`, and enough for
    * the median to keep ten samples beyond it and for [[MinCadenceSamples]]
    * cadence batches (on `kv-resp-ttl` the latter sets the count). */
  def timedBatches(workload: String, seconds: Int): Int =
    Seq(2 * seconds, Stats.minSamples(0.5), MinCadenceSamples * cadence(workload)).max

  /** Commits of every `cadence` versions write a full snapshot (RocksDB) or
    * base (KV); batch b commits version b + 1. */
  def cadence(workload: String): Int = workload match {
    case "kv-resp-ttl" => KvSessionBackend.BaseInterval
    case "rocksdb-bandbucket" => RocksDbBackend.DefaultSnapshotInterval
  }

  /** Walls in ms of the timed batches whose commit writes a snapshot or base. */
  def cadenceWallsMs(workload: String, r: LoopResult): Seq[Double] =
    r.walls.zip(r.timedBatchIds).collect { case (w, b) if (b + 1) % cadence(workload) == 0 => w * 1000.0 }

  /** Lower quartile of the cadence walls. Not the median: about 1 in 3 KV
    * cadence commits waits for a maintenance run that holds the backend's
    * registry lock. Still too unsteady from run to run on `kv-resp-ttl` to
    * bound (interquartile range 16 % of the median over ten runs of seven
    * cadence batches each), so it is a per-layer metric. */
  def cadenceMs(walls: Seq[Double]): Double = if (walls.isEmpty) 0.0 else Stats.percentile(walls, 0.25)

  def streaming(spark: SparkSession, sessionS: Double, workload: String, seed: Long, seconds: Int,
                traced: Boolean, work: Path): Main.Record = {
    // a traced run reports no set-up or recovery time and times half the
    // batches in each of its two phases, to stay well within the run time limit.
    // An untraced run restarts once per version of a whole snapshot or base
    // interval: the time to load state grows with the versions since the last
    // snapshot or base, and so the median restart has the median such chain
    // on every run.
    val (setups, batches, restarts) =
      if (traced) (2, timedBatches(workload, seconds) / 2, 2)
      else (StreamLoop.Setups, timedBatches(workload, seconds), cadence(workload))
    def phase(tracedPhase: Boolean, dir: String): LoopResult = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass(workload, tracedPhase).getName)
      Trace.reset()
      Trace.enabled = tracedPhase
      try StreamLoop.run(spark, () => shape(spark, workload, seed), work.resolve(dir), setups, batches,
        restarts, maxSeconds = 4.0 * seconds, () => Main.calibrate(spark))
      finally Trace.enabled = false
    }
    if (!traced) {
      val r = phase(tracedPhase = false, "plain")
      val walls = r.walls.map(_ * 1000.0)
      val cadenceWalls = cadenceWallsMs(workload, r)
      val rss = Main.peakRssMb()
      val heap = Main.heapCommittedMb()
      val timed = r.timedBatchIds.map(_.toLong).toSet
      val ops = r.progress.filter(p => timed.contains(p.batchId)).map(_.stateOperators)
      val metrics = Map(
        "throughput_eps" -> r.events / math.max(r.walls.sum, 1e-9),
        "batch_ms_p50" -> (if (walls.isEmpty) 0.0 else Stats.median(walls)),
        "recovery_s" -> (if (r.recoveryS.isEmpty) 0.0 else Stats.median(r.recoveryS)),
        "setup_s" -> Stats.median(r.setupS),
        "native_peak_mb" -> (rss - heap),
        "heap_live_mb" -> r.heapLiveMb)
      Main.Record(metrics, r.attempted, r.failed, r.problems, r.calibration,
        Map("timed_batches" -> r.walls.size, "cadence_batches" -> cadenceWalls.size, "events" -> r.events,
          "cadence_ms" -> cadenceMs(cadenceWalls), "batch_walls_ms" -> walls, "session_s" -> sessionS,
          "setup_samples_s" -> r.setupS,
          "recovery_samples_s" -> r.recoveryS, "peak_rss_mb" -> rss, "heap_committed_mb" -> heap,
          "state_rows_mean" -> Stats.mean(ops.map(_.map(_.numRowsTotal).sum.toDouble)),
          "updated_rows_mean" -> Stats.mean(ops.map(_.map(_.numRowsUpdated).sum.toDouble)),
          "load" -> r.load, "unload_wait_s" -> r.unloadWaitS, "unload_timed_out" -> r.unloadTimedOut,
          "phase_s" -> r.phaseS))
    } else {
      val plain = phase(tracedPhase = false, "plain")
      val tasks = new TaskLog
      spark.sparkContext.addSparkListener(tasks)
      val r = phase(tracedPhase = true, "traced")
      Thread.sleep(500) // let the listener bus deliver the last task events
      spark.sparkContext.removeSparkListener(tasks)
      val aggs = Trace.snapshot()
      Files.writeString(work.resolve("trace.tsv"), Trace.dump(aggs))
      val thrPlain = plain.events / math.max(plain.walls.sum, 1e-9)
      val thrTraced = r.events / math.max(r.walls.sum, 1e-9)
      val metrics = Layers.streaming(r, aggs, tasks) +
        ("microbatch.cadence_ms" -> cadenceMs(cadenceWallsMs(workload, plain))) +
        ("trace.overhead_share" -> (thrPlain / math.max(thrTraced, 1e-9) - 1.0))
      Main.Record(metrics, plain.attempted + r.attempted, plain.failed + r.failed,
        plain.problems ++ r.problems, plain.calibration ++ r.calibration,
        Map("timed_batches" -> r.walls.size, "untraced_throughput_eps" -> thrPlain,
          "traced_throughput_eps" -> thrTraced))
    }
  }
}

/** Per-layer metrics of a traced streaming run, per timed micro-batch. */
object Layers {
  private val UpdateOps = Set("get", "put", "putList", "merge", "mergeList", "valuesIterator",
    "remove", "iterator", "prefixScan").map("state.store." + _)

  def streaming(r: LoopResult, aggs: Map[Trace.Key, Trace.Agg], tasks: TaskLog): Map[String, Double] = {
    val timed = r.timedBatchIds.map(_.toLong).toSet
    val nb = math.max(1, r.walls.size).toDouble
    val inTimed = aggs.filter { case (k, _) => timed.contains(k.batch) }
    def sum(name: String, f: Trace.Agg => Long, parent: Option[String] = None): Double =
      inTimed.iterator.collect { case (k, a) if k.name == name && parent.forall(_ == k.parent) => f(a) }.sum.toDouble
    def perBatch(name: String, f: Trace.Agg => Long): Double = sum(name, f) / nb
    val ms = (a: Trace.Agg) => a.totalNs
    val m = mutable.LinkedHashMap.empty[String, Double]

    // backend
    m("state.backend.open.ms_max") = aggs.iterator.collect {
      case (k, a) if k.name == "state.backend.open" => a.totalNs / 1e6 }.maxOption.getOrElse(0.0)
    for (op <- Seq("get", "put", "remove", "scan")) {
      m(s"state.backend.$op.count") = perBatch(s"state.backend.$op", _.count)
      m(s"state.backend.$op.busy_ms") = perBatch(s"state.backend.$op", ms) / 1e6
    }
    val commits = inTimed.iterator.collect { case (k, a) if k.name == "state.backend.commit" => a.totalNs / 1e6 }.toSeq
    m("state.backend.commit.ms_p50") = if (commits.isEmpty) 0.0 else Stats.percentile(commits, 0.5)
    m("state.backend.commit.ms_p90") = if (commits.isEmpty) 0.0 else Stats.percentile(commits, 0.9)
    m("state.backend.stats.busy_ms") = perBatch("state.backend.stats", ms) / 1e6
    val maint = aggs.iterator.filter(_._1.name == "state.backend.maintenance").map(_._2).toSeq
    m("state.backend.maintenance.count") = maint.map(_.count).sum.toDouble
    m("state.backend.maintenance.busy_ms") = maint.map(_.totalNs).sum / 1e6

    // KV client
    for (op <- Seq("get", "writeBatch", "scanPrefix")) {
      m(s"state.kvclient.$op.count") = perBatch(s"state.kvclient.$op", _.count)
      m(s"state.kvclient.$op.busy_ms") = perBatch(s"state.kvclient.$op", ms) / 1e6
    }
    m("state.kvclient.writeBatch.bytes") = perBatch("state.kvclient.writeBatch.bytes", _.count)
    m("state.kvclient.scanPrefix.rows") = perBatch("state.kvclient.scanPrefix.rows", _.count)
    val deltaKeys = sum("state.backend.put", _.count) + sum("state.backend.remove", _.count)
    m("state.kvclient.scan_rows_per_delta_key") =
      if (deltaKeys == 0) 0.0 else sum("state.kvclient.scanPrefix.rows", _.count) / deltaKeys

    // SPI store
    for (op <- Seq("get", "put", "merge", "valuesIterator", "remove", "iterator")) {
      m(s"state.store.$op.count") = perBatch(s"state.store.$op", _.count)
      m(s"state.store.$op.self_ms") = perBatch(s"state.store.$op", _.selfNs) / 1e6
    }
    m("state.store.commit.self_ms") = perBatch("state.store.commit", _.selfNs) / 1e6
    m("state.store.metrics.busy_ms") = perBatch("state.store.metrics", ms) / 1e6
    m("state.store.ttl.evicted") = sum("state.backend.remove", _.count, Some("state.store.commit")) / nb

    // operator and micro-batch, from the query's own progress reports
    val progress = r.progress.filter(p => timed.contains(p.batchId))
    val np = math.max(1, progress.size).toDouble
    def opMean(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      progress.map(p => p.stateOperators.map(f).sum).sum / np
    m("streaming.op.allUpdatesTimeMs") = opMean(_.allUpdatesTimeMs.toDouble)
    m("streaming.op.allRemovalsTimeMs") = opMean(_.allRemovalsTimeMs.toDouble)
    m("streaming.op.commitTimeMs") = opMean(_.commitTimeMs.toDouble)
    m("streaming.op.numRowsTotal") = opMean(_.numRowsTotal.toDouble)
    m("streaming.op.numRowsUpdated") = opMean(_.numRowsUpdated.toDouble)
    m("streaming.op.memoryUsedBytes") = opMean(_.memoryUsedBytes.toDouble)
    m("streaming.op.rows_out") = progress.map(p => math.max(0L, p.sink.numOutputRows).toDouble).sum / np
    // share of the batch wall one partition spends in a layer: the layer's
    // time summed over partitions, divided by the partitions (which run at
    // once, one per core), over the batch wall; mean over timed batches
    val parts = Main.cores.toDouble
    val wallOf = r.timedBatchIds.map(_.toLong).zip(r.walls).toMap
    val stateNs = inTimed.iterator.collect {
      case (k, a) if k.parent.isEmpty && k.name.startsWith("state.") => k.batch -> a.totalNs
    }.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    m("state.wall_share") = wallOf.iterator.map { case (b, w) => stateNs.getOrElse(b, 0L) / 1e9 / parts / w }.sum / nb
    m("streaming.op.wall_share") = progress.map { p =>
      p.stateOperators.map(o => o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).sum / 1000.0 / parts /
        wallOf(p.batchId)
    }.sum / np
    m("streaming.op.self_ms") = progress.map { p =>
      val storeMs = inTimed.iterator.collect {
        case (k, a) if k.batch == p.batchId && UpdateOps.contains(k.name) && !k.parent.startsWith("state.store.") =>
          a.totalNs / 1e6
      }.sum
      p.stateOperators.map(_.allUpdatesTimeMs).sum - storeMs
    }.sum / np
    for (d <- Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset"))
      m(s"microbatch.${d}_ms") = progress.map(p => Option(p.durationMs.get(d)).map(_.doubleValue).getOrElse(0.0)).sum / np
    m("microbatch.driver_wait_ms") = progress.map { p =>
      wallOf(p.batchId) * 1000.0 - Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    }.sum / np

    // checkpoint directory
    m("checkpoint.changelog_bytes_per_batch") = r.changelogBytes / nb
    m("checkpoint.snapshot_bytes") = if (r.snapshotSizes.isEmpty) 0.0 else Stats.mean(r.snapshotSizes.map(_.toDouble))
    m("checkpoint.files") = r.ckptFiles.toDouble
    m("checkpoint.bytes_per_event") = r.newCkptBytes.toDouble / math.max(r.events, 1L)

    // Spark tasks of the timed batches
    tasks.window(r.timedFromMs, r.timedToMs, Main.cores).foreach { case (k, v) =>
      m(k) = if (k == "spark.parallel_efficiency" || k == "spark.max_task_ms") v else v / nb
    }
    m("jvm.gc_ms") = r.gcMs / nb
    m.toMap
  }
}
