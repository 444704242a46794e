package graft.state

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Commit (task thread) vs doMaintenance (Spark's background maintenance
  * thread) run concurrently against one provider in production. Before the
  * registry lock, an interleaved read-modify-write could drop a version
  * registration or let a reader observe a half-rewritten horizon. This
  * stress drives both paths in parallel and checks the invariants the
  * lock + write-before-delete ordering guarantee.
  */
class KvConcurrencySuite extends AnyFunSuite {

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("concurrent commits and maintenance lose no versions or state") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("conc-test")
    val backend = new KvSessionBackend("store", client, baseInterval = 7)
    val versions = 60
    val retain = 5

    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    @volatile var maintenanceError: Throwable = null
    @volatile var committed = 0L

    // maintenance hammers GC while the writer advances versions — the
    // real system's schedule, compressed
    val maintenance = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try {
          while (committed < versions) {
            backend.doMaintenance(retain)
            Thread.`yield`()
          }
        } catch { case t: Throwable => maintenanceError = t }
      }
    })

    val writer = pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        (1 to versions).foreach { v =>
          val s = backend.open(v - 1, v)
          s.put(k(s"key$v"), k(s"val$v"))
          s.put(k("rolling"), k(s"v$v"))
          if (v % 3 == 0) s.remove(k(s"key${v - 2}"))
          s.commit()
          committed = v
        }
      }
    })

    start.countDown()
    writer.get(120, TimeUnit.SECONDS)
    maintenance.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    assert(maintenanceError == null, s"maintenance thread failed: $maintenanceError")

    // final maintenance pass, then the invariants:
    backend.doMaintenance(retain)
    val vs = backend.committedVersions()
    // 1. the newest `retain` versions all survived GC — nothing was lost
    //    to a racing registry write
    assert(vs.max === versions.toLong, s"newest version lost: $vs")
    assert(vs.size >= retain, s"retention violated: $vs")
    // 2. state resolved at the newest version is exactly what the writer
    //    produced: rolling key at its last value, per-version keys present
    //    unless tombstoned two commits later
    val s = backend.open(versions, versions + 1)
    assert(new String(s.get(k("rolling")), "UTF-8") === s"v$versions")
    val expectedKeys = (1 to versions).filter { v =>
      val tombstonedAt = v + 2
      !(tombstonedAt <= versions && tombstonedAt % 3 == 0)
    }.map(v => s"key$v").toSet + "rolling"
    val scanned = s.scan(Array.emptyByteArray).map(p => new String(p._1, "UTF-8")).toSet
    assert(scanned === expectedKeys,
      s"state diverged: missing=${expectedKeys -- scanned} extra=${scanned -- expectedKeys}")
  }

  test("chain deregistration under an open session is logged before it turns fatal") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => Log4jLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}

    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("gc-log-test")
    // baseInterval high enough that every version is a delta: the open
    // session's chain then spans [1..5] and get() really walks it
    val backend = new KvSessionBackend("store", client, baseInterval = 100)
    (1 to 5).foreach { v =>
      val s = backend.open(v - 1, v); s.put(k(s"key$v"), k(s"v$v")); s.commit()
    }
    val session = backend.open(5, 6)
    assert(new String(session.get(k("key1")), "UTF-8") === "v1")
    (6 to 12).foreach { v =>
      val s = backend.open(v - 1, v); s.put(k(s"key$v"), k(s"v$v")); s.commit()
    }

    // Spark sets up log4j lazily on the first log call and replaces the
    // loggers' appenders when it does; do it now, before attaching ours,
    // or the suite only passes when an earlier suite already logged
    new org.apache.spark.internal.Logging { logInfo("init") }
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("kv-gc-capture", null, null, false,
        Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit =
        captured.add(event.getMessage.getFormattedMessage)
    }
    appender.start()
    Configurator.setLevel(classOf[KvSessionBackend].getName, Level.WARN)
    val logger = LogManager.getLogger(classOf[KvSessionBackend])
      .asInstanceOf[Log4jLogger]
    logger.addAppender(appender)
    try {
      // ONE maintenance run deregisters the session's chain (→ GC-pending;
      // bytes survive one deferred cycle, so the read must still succeed)
      backend.doMaintenance(3)
      assert(new String(session.get(k("key1")), "UTF-8") === "v1",
        "deferred GC must keep a one-cycle-old chain readable")
      assert(captured.asScala.exists(_.contains("deregistered by maintenance GC")),
        s"expected a deregistration warning, captured: ${captured.asScala.toList}")
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  /** Two backends on one prefix, as when Spark's maintenance still runs a
    * stopped query's provider while the restarted query commits. The
    * maintenance backend's registry rewrite is held until the other
    * backend's commit returns (or 2 s pass): under one lock per prefix the
    * commit waits for it instead, and no registration is lost.
    */
  private def twoBackendsOnOnePrefix(newClient: () => KvClient): Unit = {
    val prefix = s"two-backends-${System.nanoTime()}"
    val writer = new KvSessionBackend(prefix, newClient())
    (1 to 12).foreach { v =>
      val s = writer.open(v - 1, v); s.put(k(s"key$v"), k(s"v$v")); s.commit()
    }

    val rewriting = new CountDownLatch(1)
    val commitReturned = new CountDownLatch(1)
    val under = newClient()
    val stalling = new KvClient {
      def get(key: Array[Byte]): Array[Byte] = under.get(key)
      def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit = {
        if (puts.exists(p => new String(p._1, "UTF-8") == s"$prefix:__versions__")) {
          rewriting.countDown()
          commitReturned.await(2, TimeUnit.SECONDS)
        }
        under.writeBatch(puts, deletes)
      }
      def scanPrefix(p: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] = under.scanPrefix(p)
      def deletePrefix(p: Array[Byte]): Unit = under.deletePrefix(p)
      def close(): Unit = under.close()
    }
    val maintainer = new KvSessionBackend(prefix, stalling)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val gc = pool.submit(new Runnable { def run(): Unit = maintainer.doMaintenance(3) })
      assert(rewriting.await(30, TimeUnit.SECONDS), "maintenance never rewrote the registry")
      val s = writer.open(12, 13)
      s.put(k("key13"), k("v13"))
      s.commit()
      commitReturned.countDown()
      gc.get(30, TimeUnit.SECONDS)
    } finally pool.shutdown()

    assert(writer.committedVersions().contains(13L),
      s"version 13 lost its registration: ${writer.committedVersions()}")
    val reader = new KvSessionBackend(prefix, newClient())
    val state = reader.open(13, 14).scan(Array.emptyByteArray)
      .map { case (key, v) => new String(key, "UTF-8") -> new String(v, "UTF-8") }.toMap
    assert(state === (1 to 13).map(v => s"key$v" -> s"v$v").toMap)
    Seq(writer, maintainer, reader).foreach(_.close())
  }

  test("two backends on one prefix: maintenance loses no concurrent commit (in-JVM client)") {
    twoBackendsOnOnePrefix(() => EmbeddedKvServer.client("two-backends"))
  }

  test("two backends on one prefix: maintenance loses no concurrent commit (RESP)") {
    twoBackendsOnOnePrefix(() => RespKvServer.newSharedClient())
  }
}
