package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.SparkEnv
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbridge.ListenerBusBridge

import graft.{Bench, SparkEntry}

/** Why a query takes its time, on the session `graft.Bench` times it on:
  *
  * `runMain graft.tools.Inspect <sfDir> <q1,q2,...> [--plan-only <outDir>]`
  *
  * Each query runs a warm pass, then a measured pass through
  * `Bench.timeOne`. A [[JobLog]] on this session sees every job the
  * measured pass runs, including the ones its construction runs
  * (localCheckpoint cuts, connected-components rounds, index builds) that
  * the executed plan never shows. Inspect prints one line per job and one
  * per query, in perfbench's `spark.*` names, then the executed plan with
  * its SQL metrics and the formatted plan. `--plan-only` writes each
  * query's formatted plan to `<outDir>/<name>.txt` without executing it.
  */
object Inspect {

  /** Per-job task totals; `spark.max_task_ms` is a maximum, the rest sum. */
  val Metrics: Seq[String] = Seq("spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.gc_ms", "spark.max_task_ms")

  final case class Job(id: Int, callSite: String, wallMs: Long, metrics: Map[String, Long]) {
    def line: String = s"job $id wall_ms=$wallMs ${format(metrics)} call_site=$callSite"
  }

  private def format(m: Map[String, Long]): String = Metrics.map(k => s"$k=${m(k)}").mkString(" ")

  /** Every job the session runs, with its tasks' totals, kept until taken. */
  final class JobLog extends SparkListener {
    private final class Acc(val callSite: String, val startMs: Long) {
      var endMs: Long = startMs
      val stages = mutable.Set.empty[Int]
      val m = mutable.Map.empty[String, Long].withDefaultValue(0L)
    }
    private val jobs = mutable.Map.empty[Int, Acc]
    private val stageJob = mutable.Map.empty[Int, Int]
    // running SQL executions, id -> the call site of the action that runs it
    private val running = mutable.LinkedHashMap.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => running(s.executionId) = s.description
        case s: SparkListenerSQLExecutionEnd => running.remove(s.executionId)
        case _ =>
      }
    }

    // Adaptive execution submits a query's stages from a thread pool, so
    // their own call site names the pool; the action they run for is the
    // innermost running SQL execution. Outside one, the call site is the
    // result stage's name (its highest stage id: parents are made first).
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val callSite = running.lastOption.map(_._2)
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.fold("")(_.name))
      jobs(e.jobId) = new Acc(callSite, e.time)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jobId <- stageJob.get(e.stageId); acc <- jobs.get(jobId); t <- Option(e.taskMetrics)) {
        acc.stages += e.stageId
        acc.m("spark.tasks") += 1
        acc.m("spark.executor_run_ms") += t.executorRunTime
        acc.m("spark.shuffle_read_bytes") +=
          t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead
        acc.m("spark.shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten
        acc.m("spark.spill_bytes") += t.memoryBytesSpilled + t.diskBytesSpilled
        acc.m("spark.gc_ms") += t.jvmGCTime
        acc.m("spark.max_task_ms") = acc.m("spark.max_task_ms")
          .max(e.taskInfo.finishTime - e.taskInfo.launchTime)
      }
    }

    /** The jobs run since the last take, in id order, once the bus has
      * delivered every event posted so far. */
    def take(spark: SparkSession): Seq[Job] = {
      ListenerBusBridge.drain(spark.sparkContext)
      synchronized {
        val out = jobs.toSeq.sortBy(_._1).map { case (id, a) =>
          Job(id, a.callSite, a.endMs - a.startMs,
            Metrics.map(k => k -> a.m(k)).toMap + ("spark.stages" -> a.stages.size.toLong))
        }
        jobs.clear(); stageJob.clear()
        out
      }
    }
  }

  /** The stage's task-binary payload, reproduced: the scheduler broadcasts
    * `closureSerializer.serialize((rdd, func))` per stage
    * (DAGScheduler.submitMissingTasks), so serializing the query's
    * executed RDD with the same serializer measures the bytes every
    * executor fetches before its first task. Compiled literals (a serve
    * tier's gram set, an HLL++ aggregate's state) ride here. */
  private def taskBinaryBytes(df: DataFrame): Long =
    SparkEnv.get.closureSerializer.newInstance()
      .serialize(df.queryExecution.toRdd: AnyRef).limit().toLong

  /** The executed plan tree with every non-zero SQL metric per operator. */
  private def walk(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
    val metrics = p.metrics.toSeq.filter(_._2.value > 0).sortBy(_._1).map { case (k, m) =>
      val v = m.metricType match {
        case "timing" => s"${m.value} ms"
        case "nsTiming" => f"${m.value / 1e6}%.1f ms"
        case "size" => s"${m.value} B"
        case _ => m.value.toString
      }
      s"$k=$v"
    }
    out.append("  " * depth).append(p.nodeName)
      .append("  [").append(metrics.mkString(", ")).append("]\n")
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedSubqueryExec => Seq(r.child)
      case _ => p.children ++ p.subqueries
    }
    kids.foreach(walk(_, depth + 1, out))
  }

  /** Warm pass, measured pass, then the measured pass's report: its job
    * lines, its query line and its two plans. */
  def inspect(spark: SparkSession, log: JobLog, sfDir: String, name: String): String = {
    val query = SparkEntry.queries(name)
    Bench.timeOne(spark, sfDir, query)
    Bench.dropLeftoverBlocks(spark)
    log.take(spark)
    var df: DataFrame = null
    val (sec, err) = Bench.timeOne(spark, sfDir, (s, d) => { df = query(s, d); df })
    val jobs = log.take(spark)
    val out = new StringBuilder(s"\n########## $name\n")
    jobs.foreach(j => out.append(j.line).append('\n'))
    err match {
      case Some(e) => out.append(s"query $name FAILED after ${-sec} s: $e\n")
      case None =>
        val wallMs = math.round(sec * 1000)
        val totals = Metrics.map { k =>
          val vs = jobs.map(_.metrics(k))
          k -> (if (k == "spark.max_task_ms") vs.maxOption.getOrElse(0L) else vs.sum)
        }.toMap
        val efficiency = totals("spark.executor_run_ms").toDouble /
          (math.max(1L, wallMs) * spark.sparkContext.defaultParallelism)
        out.append(s"query $name wall_ms=$wallMs spark.jobs=${jobs.size} ${format(totals)} " +
          f"spark.parallel_efficiency=$efficiency%.3f task_binary_bytes=${taskBinaryBytes(df)}\n")
        walk(df.queryExecution.executedPlan, 0, out)
        out.append(df.queryExecution.explainString(FormattedMode))
    }
    Bench.dropLeftoverBlocks(spark)
    out.toString
  }

  /** Writes `name`'s formatted plan to `<outDir>/<name>.txt` without
    * executing the query; reports the jobs its construction ran (at least
    * the schema read of each parquet table it scans). */
  def planOnly(spark: SparkSession, log: JobLog, sfDir: String, name: String,
               outDir: Path): String = {
    log.take(spark)
    val plan =
      try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      catch { case scala.util.control.NonFatal(e) =>
        s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}" }
    val file = outDir.resolve(s"$name.txt")
    Files.writeString(file, plan)
    val jobs = log.take(spark)
    (jobs.map(_.line) :+ s"plan $name -> $file spark.jobs=${jobs.size}").mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || (args.length == 4 && args(2) == "--plan-only"),
      "usage: Inspect <sfDir> <q1,q2,...> [--plan-only <outDir>]")
    val Array(sfDir, names) = args.take(2)
    val planDir = args.lift(3).map(d => Files.createDirectories(Paths.get(d)))
    val spark = Bench.session()
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    try names.split(',').map(_.trim).foreach { name =>
      println(planDir.fold(inspect(spark, log, sfDir, name))(planOnly(spark, log, sfDir, name, _)))
    } finally spark.stop()
  }
}
