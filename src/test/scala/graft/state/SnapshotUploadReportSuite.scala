package graft.state

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.GraftCoordinatorBridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The provider must report zip-snapshot uploads to the
  * StateStoreCoordinator so its snapshot-lag detector sees this store as
  * current (the built-in RocksDB provider does the same after uploads).
  * Outside a live query (direct SPI use) it reports nothing.
  */
class SnapshotUploadReportSuite extends AnyFunSuite {

  test("direct-SPI commits report nothing and log no failed commit report") {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => Log4jLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    import org.apache.spark.sql.execution.streaming.state.StateStore
    import StateTestHelper._

    // Spark sets up log4j lazily on the first log call and replaces the
    // loggers' appenders when it does; do it now, before attaching ours
    new org.apache.spark.internal.Logging { logInfo("init") }
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("commit-report-capture", null, null, false,
        Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        captured.add(event.getMessage.getFormattedMessage)
    }
    appender.start()
    val loggerName = StateStore.getClass.getName.stripSuffix("$")
    Configurator.setLevel(loggerName, Level.WARN)
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Log4jLogger]
    logger.addAppender(appender)
    try {
      Seq[() => GraftStateStoreProviderBase](
        () => new RocksDbStateStoreProvider, () => new KvStateStoreProvider).foreach { make =>
        val dir = Files.createTempDirectory("graft-commit-report").toString
        val provider = initProvider(make(), dir)
        try {
          commitVersions(provider, 1, 3)
          val store = provider.getStore(3, None)
          assert(contents(store) === model(3))
          store.abort()
        } finally provider.close()
      }
      assert(!captured.asScala.exists(_.contains("Failed to report StateStore commit")),
        s"direct-SPI commits tried to report to a coordinator: ${captured.asScala.toList}")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("rocksdb provider reports cadence snapshots to the coordinator") {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-snapshot-report")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        classOf[RocksDbStateStoreProvider].getName)
      .config("spark.sql.streaming.stateStore.rocksdb.snapshotIntervalBatches", "1")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sql = spark
      import sql.implicits._
      implicit val sqlCtx = spark.sqlContext

      val input = MemoryStream[(Int, Int)]
      val ckpt = Files.createTempDirectory("graft-snapreport").toString
      val out = input.toDS().groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (k: Int, rows: Iterator[(Int, Int)], st: GroupState[Int]) =>
            val n = st.getOption.getOrElse(0) + rows.size
            st.update(n)
            (k, n)
        }
      val query = out.writeStream
        .outputMode(OutputMode.Update())
        .format("memory").queryName("snapreport")
        .option("checkpointLocation", ckpt)
        .start()
      input.addData((1, 1), (2, 1))
      query.processAllAvailable()
      input.addData((1, 2))
      query.processAllAvailable()

      // the provider's report must have fired with this query's run id...
      val report = GraftStateStoreProviderBase.lastSnapshotReport
      assert(report.exists { case (_, runId, v) => runId == query.runId && v >= 1L },
        s"no snapshot-upload report fired for this run: $report")
      // ...and the coordinator must have recorded it for that store
      val (reportedStoreId, runId, _) = report.get
      val latest = GraftCoordinatorBridge
        .latestUploadedSnapshotForTesting(reportedStoreId, runId)
      assert(latest.exists(_ >= 1L),
        s"coordinator has no snapshot-upload report for this store: $latest")
      query.stop()
    } finally spark.stop()
  }
}
