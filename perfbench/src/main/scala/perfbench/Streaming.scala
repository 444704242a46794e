package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming._

import graft.operators.Dedup
import graft.state._
import graft.streaming.StreamingDedup

case class Tally(n: Long, sum: Long)

object TallyFn {
  def update(k: Long, evs: Iterator[(Long, Long)], st: GroupState[Tally]): (Long, Long, Long) = {
    var n = 0L
    var s = 0L
    st.getOption.foreach { t => n = t.n; s = t.sum }
    evs.foreach { e => n += 1; s += e._2 }
    st.update(Tally(n, s))
    (k, n, s)
  }
}

/** What one streaming workload adds to the common closed loop in
  * [[StreamLoop]]: its input, its query, and its output check. */
abstract class Shape {
  /** Generate the next batch (never timed). */
  def prepare(): Unit
  /** Called before each batch's timer starts. */
  def beforeBatch(): Unit = ()
  /** `addData` of the prepared batch; returns its input events. */
  def add(): Int
  /** Called after a clean stop, before the query restarts on its checkpoint. */
  def restarted(): Unit = ()
  /** Start the query (first start or restart) on checkpoint `ckpt`. */
  def start(ckpt: String): StreamingQuery
  /** Compare the program's output with the generator's model; returns the
    * problems found (empty when the output is correct). */
  def check(ckpt: String): Seq[String]
  /** Whether [[check]] reads the committed state through the provider. */
  def checkReadsState: Boolean = false
  /** Facts about the generated load over the given batches, for the record. */
  def load(batchIds: Range): Map[String, Double] = Map.empty
  /** Drop what the program keeps outside the checkpoint for a query on
    * `ckpt` that is stopped for good. */
  def dispose(ckpt: String): Unit = ()
}

/** `mapGroupsWithState` running tally per key on the KV provider over RESP,
  * with strict TTL driven by a fake clock that the generator advances.
  * Output goes to the no-op sink; the final state is read back through the
  * provider SPI and compared with the generator's model. */
final class TallyShape(spark: SparkSession, gen: TallyGen) extends Shape {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val input = MemoryStream[(Long, Long)]
  private var pending: Array[(Long, Long)] = Array.empty
  private val clock = new FakeTtlClock

  def prepare(): Unit = pending = gen.next()
  override def beforeBatch(): Unit = clock.advanceSecs(gen.step)
  def add(): Int = { input.addData(pending.toIndexedSeq); pending.length }
  override def restarted(): Unit = gen.restarted()

  def start(ckpt: String): StreamingQuery = {
    GraftStateStoreProviderBase.clockOverride = Some(clock)
    input.toDS().groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(TallyFn.update)
      .writeStream.format("noop").outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt).start()
  }

  override def checkReadsState: Boolean = true

  /** The embedded KV server's prefix scan walks every key it holds, as
    * Redis `SCAN MATCH` does, so state left by abandoned set-ups would slow
    * every batch of the measured query; delete it. */
  override def dispose(ckpt: String): Unit =
    EmbeddedKvServer.client("default").deletePrefix(s"${TallyShape.stateRoot(ckpt)}/".getBytes("UTF-8"))

  override def load(batchIds: Range): Map[String, Double] = {
    def mean(xs: collection.Seq[Int]) = Stats.mean(batchIds.filter(_ < xs.size).map(xs(_).toDouble))
    val resident = mean(gen.residentAfter)
    val delta = mean(gen.touched) + mean(gen.evicted)
    Map("resident_keys" -> resident, "touched_keys_per_batch" -> mean(gen.touched),
      "evicted_keys_per_batch" -> mean(gen.evicted), "resident_per_delta_key" -> resident / math.max(delta, 1.0))
  }

  def check(ckpt: String): Seq[String] = {
    val rows = TallyShape.readState(spark, ckpt)
    if (rows.length != rows.map(_._1).distinct.length) Seq("state holds duplicate keys")
    else Checks.tally(rows.map(r => r._1 -> ((r._2, r._3))).toMap, gen.expected)
  }
}

object TallyShape {
  /** The state root of a query on `ckpt`, as Spark names it in store ids. */
  def stateRoot(ckpt: String): String =
    new org.apache.hadoop.fs.Path(new java.io.File(ckpt).toURI.toString, "state").toString

  /** The committed tally state of every partition, read through the
    * provider SPI the way the query's stateful operator opens it. (Spark's
    * `statestore` data source returns only partition 0 of this provider's
    * state, so it cannot serve as the check.) */
  def readState(spark: SparkSession, ckpt: String): Seq[(Long, Long, Long)] = {
    import org.apache.spark.sql.execution.streaming.state._
    import org.apache.spark.sql.types._
    val keySchema = StructType(Seq(StructField("value", LongType)))
    val valueSchema = StructType(Seq(StructField("groupState",
      StructType(Seq(StructField("n", LongType), StructField("sum", LongType))))))
    val root = stateRoot(ckpt)
    val conf = new StateStoreConf(spark.sessionState.conf)
    val hadoopConf = spark.sessionState.newHadoopConf()
    (0 until spark.conf.get("spark.sql.shuffle.partitions").toInt).flatMap { p =>
      val prov = new KvStateStoreProvider
      prov.init(StateStoreId(root, 0, p), keySchema, valueSchema, NoPrefixKeyStateEncoderSpec(keySchema),
        useColumnFamilies = false, conf, hadoopConf, useMultipleValuesPerKey = false, None)
      try {
        val store = prov.getStore(prov.latestCommittedVersion, None)
        try store.iterator().map { pair =>
          val g = pair.value.getStruct(0, 2)
          (pair.key.getLong(0), g.getLong(0), g.getLong(1))
        }.toVector
        finally store.abort()
      } finally prov.close()
    }
  }
}

/** `StreamingDedup.nearDupPairs` over generated documents; emitted pairs are
  * collected by a `foreachBatch` sink and compared with the batch
  * `Dedup.minhashLsh` pairs over the same documents. */
final class BandShape(spark: SparkSession, gen: DocGen) extends Shape {
  private val (threshold, nHashes, bands, maxBucketSize) = (0.5, 64, 16, 64)
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val input = MemoryStream[(Long, String)]
  private var pending: Array[(Long, String)] = Array.empty
  private val allDocs = mutable.ArrayBuffer.empty[(Long, String)]
  private val pairs = new ConcurrentLinkedQueue[(Long, Long)]()

  def prepare(): Unit = { pending = gen.next(); allDocs ++= pending }
  def add(): Int = { input.addData(pending.toIndexedSeq); pending.length }

  def start(ckpt: String): StreamingQuery =
    StreamingDedup.nearDupPairs(input.toDS().toDF("doc_id", "text"), threshold, nHashes, bands, maxBucketSize)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (ds: Dataset[StreamingDedup.NearDupPair], _: Long) =>
        ds.collect().foreach(p => pairs.add((p.docA, p.docB)))
      }
      .option("checkpointLocation", ckpt).start()

  def check(ckpt: String): Seq[String] = {
    val docs = spark.createDataFrame(allDocs.toSeq).toDF("doc_id", "text")
    val want = Dedup.minhashLsh(docs, threshold, nHashes, bands, maxBucketSize)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    Checks.pairs(pairs.asScala.toSet, want)
  }
}

/** Result of one pass of the closed loop. */
final case class LoopResult(
    walls: Seq[Double], events: Long, setupS: Seq[Double], recoveryS: Seq[Double],
    newCkptBytes: Long, changelogBytes: Long, snapshotSizes: Seq[Long], ckptFiles: Int,
    timedBatchIds: Range, progress: Seq[StreamingQueryProgress],
    attempted: Long, failed: Long, problems: Seq[String],
    timedFromMs: Long, timedToMs: Long, gcMs: Long, calibration: Seq[Double],
    heapLiveMb: Double, load: Map[String, Double], unloadWaitS: Double, unloadTimedOut: Boolean,
    phaseS: Map[String, Double])

/** The closed loop with one client: batch b+1 is queued only after
  * `processAllAvailable()` returns for batch b. */
object StreamLoop {
  /** Set-ups in a run that measures `setup_s`; the first in a JVM is cold. */
  val Setups = 3
  /** Untimed batches in each set-up, after query start. */
  val SetupBatches = 1
  /** Untimed restarts before the timed ones: the first restart of a JVM
    * still runs cold code and read about 15 % slower than the next ones. */
  val RestartWarmup = 1
  /** Untimed batches between set-up and the timed batches. The JIT is
    * still compiling the batch path for the first few dozen batches of a
    * fresh JVM; without these the first timed batches read up to ~30 % slow. */
  val JitWarmup = 15

  /** Files under `dir` with their sizes. Maintenance deletes files while
    * this runs, so a file that vanishes mid-listing is simply skipped. */
  private def listFiles(dir: Path): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def visit(f: java.io.File): Unit = Option(f.listFiles()).foreach(_.foreach { c =>
      if (c.isDirectory) visit(c) else { val n = c.length(); if (n > 0) out += c.getPath -> n }
    })
    visit(dir.toFile)
    out.result()
  }

  /** Wait (at most 20 s) until background maintenance has unloaded the
    * providers of the stopped runs on `ckpt`; a stopped run's instances are
    * deactivated and unloaded at the next maintenance. Returns the seconds
    * waited and whether some provider was still loaded at the deadline. */
  private def awaitUnloaded(spark: SparkSession, ckpt: String, runIds: Seq[java.util.UUID]): (Double, Boolean) = {
    import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
    val root = new org.apache.hadoop.fs.Path(new java.io.File(ckpt).toURI.toString, "state").toString
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ids = for (r <- runIds; p <- 0 until partitions) yield StateStoreProviderId(StateStoreId(root, 0, p), r)
    val t0 = System.nanoTime()
    val deadline = t0 + 20L * 1000000000L
    while (ids.exists(StateStore.isLoaded) && System.nanoTime() < deadline) Thread.sleep(100)
    ((System.nanoTime() - t0) / 1e9, ids.exists(StateStore.isLoaded))
  }

  /** Heap in use right after a full collection, in MiB: what the program
    * keeps live, independent of when the collector last ran. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs `timedBatches` timed batches (stopping early only if they take
    * longer than `maxSeconds`). A fixed count, not a time limit, so every
    * run of a seed builds the same state, whatever the machine's speed. */
  def run(spark: SparkSession, newShape: () => Shape, work: Path, setups: Int, timedBatches: Int,
          restarts: Int, maxSeconds: Double, calibrate: () => Double): LoopResult = {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    /** One batch: wall seconds from `addData` to the return of
      * `processAllAvailable`, and the events it carried. */
    def batch(sh: Shape, q: StreamingQuery): (Double, Int) = {
      sh.beforeBatch()
      val t0 = System.nanoTime()
      val n = sh.add()
      q.processAllAvailable()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def message(e: Throwable) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(1000)}"
    // wall seconds of each phase of the run, for the record
    val phaseS = mutable.LinkedHashMap.empty[String, Double]
    var phaseT0 = System.nanoTime()
    def endPhase(name: String): Unit = {
      val t = System.nanoTime()
      phaseS(name) = (t - phaseT0) / 1e9
      phaseT0 = t
    }

    // set-up: query start plus warm-up batches, several times on fresh
    // checkpoints; the last one stays up and is measured
    val setupS = mutable.ArrayBuffer.empty[Double]
    val runIds = mutable.ArrayBuffer.empty[java.util.UUID]
    var shape: Shape = null
    var q: StreamingQuery = null
    val ckpt = work.resolve(s"ckpt-${setups - 1}").toString
    for (i <- 0 until setups) {
      val sh = newShape()
      val t0 = System.nanoTime()
      val query = sh.start(work.resolve(s"ckpt-$i").toString)
      var s = (System.nanoTime() - t0) / 1e9
      for (_ <- 0 until SetupBatches) {
        sh.prepare() // input generation is not set-up work of the program
        s += batch(sh, query)._1
      }
      setupS += s
      if (i < setups - 1) query.stop() else { shape = sh; q = query; runIds += query.runId }
    }

    endPhase("setup")
    for (_ <- 0 until JitWarmup) { shape.prepare(); batch(shape, q) }
    // the abandoned set-ups' queries have stopped a maintenance interval ago
    (0 until setups - 1).foreach(i => shape.dispose(work.resolve(s"ckpt-$i").toString))
    endPhase("warmup")

    // timed batches
    val calibration = mutable.ArrayBuffer(calibrate())
    val ckptDir = Paths.get(ckpt)
    val before = listFiles(ckptDir)
    val seen = mutable.HashMap.empty[String, Long]
    val walls = mutable.ArrayBuffer.empty[Double]
    val heapLive = mutable.ArrayBuffer.empty[Double]
    var events = 0L
    val firstTimed = SetupBatches + JitWarmup
    val gc0 = gcMs()
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var alive = true
    while (alive && walls.size < timedBatches && elapsed < maxSeconds) {
      shape.prepare()
      attempted += 1
      try {
        val (wall, n) = batch(shape, q)
        walls += wall
        events += n
      } catch {
        case NonFatal(e) =>
          failed += 1; alive = false
          problems += s"timed batch ${firstTimed + walls.size} failed: ${message(e)}"
      }
      listFiles(ckptDir).foreach { case (p, s) => if (!before.contains(p)) seen(p) = math.max(s, seen.getOrElse(p, 0L)) }
      if (walls.size == timedBatches / 2) { calibration += calibrate(); heapLive += liveHeapMb() }
    }
    if (alive && walls.size < timedBatches) {
      failed += 1
      problems += s"only ${walls.size} of $timedBatches timed batches within ${maxSeconds}s"
    }
    val toMs = System.currentTimeMillis()
    val gc = gcMs() - gc0
    calibration += calibrate()
    heapLive += liveHeapMb()
    val progress = q.recentProgress.toSeq
    val endFiles = listFiles(ckptDir)
    endPhase("timed")

    // restarts on the same checkpoint: a new run id means new providers,
    // so the first batch after start() pays the full state load
    val recoveryS = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until RestartWarmup + restarts if alive) {
      q.stop()
      shape.restarted()
      shape.prepare()
      shape.beforeBatch()
      attempted += 1
      try {
        val r0 = System.nanoTime()
        q = shape.start(ckpt)
        runIds += q.runId
        shape.add()
        q.processAllAvailable()
        if (i >= RestartWarmup) recoveryS += (System.nanoTime() - r0) / 1e9
      } catch {
        case NonFatal(e) =>
          failed += 1; alive = false
          problems += s"restart failed: ${message(e)}"
      }
    }
    if (q != null) q.stop()
    endPhase("restarts")

    // A check that reads the state runs twice: first at once, while the
    // stopped runs' providers are still loaded and their maintenance may
    // run (a second provider instance on live state, as Spark's state
    // reader opens one), then again once those providers are unloaded.
    def check(when: String): Unit = {
      attempted += 1
      val bad = try shape.check(ckpt) catch { case NonFatal(e) => Seq(s"output check threw: ${message(e)}") }
      if (bad.nonEmpty) { failed += 1; problems ++= bad.map(b => s"$when: $b") }
    }
    val (unloadWaitS, unloadTimedOut) =
      if (shape.checkReadsState) {
        check("output check with the stopped runs' providers still loaded")
        awaitUnloaded(spark, ckpt, runIds.toSeq)
      } else (0.0, false)
    check(if (shape.checkReadsState) "output check after the stopped runs' providers were unloaded" else "output check")
    shape.dispose(ckpt)
    endPhase("check")

    def named(prefix: String) = seen.iterator.filter(_._1.split('/').last.startsWith(prefix)).map(_._2)
    val timedIds = firstTimed until firstTimed + walls.size
    LoopResult(walls.toSeq, events, setupS.toSeq, recoveryS.toSeq,
      seen.values.sum, named("state.changelog.").sum, named("state.snapshot.").toSeq, endFiles.size,
      timedIds, progress, attempted, failed, problems.toSeq,
      fromMs, toMs, gc, calibration.toSeq, heapLive.maxOption.getOrElse(0.0), shape.load(timedIds),
      unloadWaitS, unloadTimedOut, phaseS.toMap)
  }
}
