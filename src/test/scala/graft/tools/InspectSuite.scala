package graft.tools

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

import graft.Bench

/** The inspection tool on Bench's session: its listener must see the jobs
  * a query runs while it is being built, and its query line must add up
  * from its job lines.
  */
class InspectSuite extends AnyFunSuite with BeforeAndAfterAll {

  @transient private var spark: SparkSession = _
  private val log = new Inspect.JobLog
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = Bench.session("2")
    spark.sparkContext.addSparkListener(log)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** `key=value` fields of a report line, up to its call site. */
  private def fields(line: String): Map[String, Long] =
    line.split(" call_site=").head.split(' ').collect {
      case kv if kv.contains('=') && !kv.startsWith("spark.parallel_efficiency") =>
        val Array(k, v) = kv.split('=')
        k -> v.toLong
    }.toMap

  test("a query whose construction runs jobs: every job reported, totals add up") {
    val report = Inspect.inspect(spark, log, sfDir, "q49_dedup_clusters").split('\n')
    val jobs = report.filter(_.startsWith("job "))
    assert(jobs.length > 1, report.take(20).mkString("\n"))
    jobs.foreach { j =>
      assert(j.split(" call_site=").lift(1).exists(_.trim.nonEmpty), s"no call site: $j")
      assert(fields(j)("spark.tasks") > 0, j)
    }
    val query = report.find(_.startsWith("query q49_dedup_clusters ")).get
    val total = fields(query)
    assert(total("spark.jobs") === jobs.length)
    Inspect.Metrics.foreach { k =>
      val perJob = jobs.map(fields(_)(k))
      assert(total(k) === (if (k == "spark.max_task_ms") perJob.max else perJob.sum), k)
    }
    assert(total("task_binary_bytes") > 0)
    assert(report.exists(_.contains("== Physical Plan ==")))
  }

  test("--plan-only writes the formatted plan and runs nothing but schema reads") {
    val out = Files.createTempDirectory("graft-inspect-plans")
    val lines = Inspect.planOnly(spark, log, sfDir, "q01_pricing_summary", out).split('\n')
    // Tables reads parquet without a declared schema, so Spark infers it
    // with one job per table; no query stage may run
    val jobs = lines.filter(_.startsWith("job "))
    assert(jobs.length === 1 && jobs.head.contains(" call_site=parquet at Tables.scala"),
      lines.mkString("\n"))
    assert(lines.last.endsWith("spark.jobs=1"), lines.last)
    assert(Files.readString(out.resolve("q01_pricing_summary.txt"))
      .contains("== Physical Plan =="))
  }
}
