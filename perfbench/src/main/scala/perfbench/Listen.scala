package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Task-level record of what Spark ran, kept by a listener the benchmark
  * registers itself (traced runs only). A wall-clock window selects the
  * tasks of the timed micro-batches. */
final class TaskLog extends SparkListener {
  final case class T(stage: Int, launch: Long, finish: Long, runMs: Long, gcMs: Long,
                     shuffleRead: Long, shuffleWrite: Long, spill: Long)
  private val tasks = new ConcurrentLinkedQueue[T]()
  private val stages = new ConcurrentLinkedQueue[(Int, Long)]() // (stage id, completion time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(T(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add((e.stageInfo.stageId, e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))

  /** `spark.*` metrics over tasks launched in [fromMs, toMs), as totals. */
  def window(fromMs: Long, toMs: Long, cores: Int): Map[String, Double] = {
    val ts = tasks.asScala.filter(t => t.launch >= fromMs && t.launch < toMs).toSeq
    val wallMs = math.max(1L, toMs - fromMs)
    val run = ts.map(_.runMs).sum.toDouble
    Map(
      "spark.stages" -> stages.asScala.count { case (_, c) => c >= fromMs && c < toMs }.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.executor_run_ms" -> run,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.max_task_ms" -> (if (ts.isEmpty) 0.0 else ts.map(t => (t.finish - t.launch).toDouble).max),
      "spark.parallel_efficiency" -> run / (wallMs.toDouble * cores))
  }
}
