package graft.state

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** BASELINE.md commit-latency row: commit cost must not creep as versions
  * accumulate (the failure mode of any design that copies state forward
  * per commit — O(total state) per batch). With a constant per-batch
  * delta over a large resident state, late commits must stay within 2×
  * of early ones on WORK DONE (bytes/keys written), measured through an
  * instrumented client for KV and wall-clock-free key counts; RocksDB is
  * covered by its changelog design (writes = delta by construction) plus
  * a wall-clock sanity bound that tolerates CI noise.
  */
class CommitLatencySuite extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Counts data puts per writeBatch (registry keys excluded), every
    * client call (mget included), and scanPrefix and deletePrefix calls. */
  private class CountingClient(namespace: String) extends KvClient {
    private val inner = EmbeddedKvServer.client(namespace)
    var dataPutsPerBatch = List.empty[Int]
    var scans = 0
    var prefixDeletes = 0
    var calls = 0
    def get(key: Array[Byte]): Array[Byte] = { calls += 1; inner.get(key) }
    override def mget(keys: Seq[Array[Byte]]): Seq[Array[Byte]] = { calls += 1; inner.mget(keys) }
    def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit = {
      calls += 1
      dataPutsPerBatch = dataPutsPerBatch :+
        puts.count(p => !new String(p._1, "UTF-8").contains("__"))
      inner.writeBatch(puts, deletes)
    }
    def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] = {
      calls += 1; scans += 1
      inner.scanPrefix(prefix)
    }
    def deletePrefix(prefix: Array[Byte]): Unit = {
      calls += 1; prefixDeletes += 1
      inner.deletePrefix(prefix)
    }
    def close(): Unit = inner.close()
  }

  test("kv backend: per-commit data writes stay flat across versions 1..20") {
    EmbeddedKvServer.clear()
    val counting = new CountingClient("latency-test")
    // base cadence off so every commit 2..20 must be a pure delta
    val backend = new KvSessionBackend("store", counting, baseInterval = 1000)

    val s1 = backend.open(0, 1)
    (1 to 500).foreach(i => s1.put(bytes(f"key$i%04d"), bytes(s"v$i")))
    s1.commit()

    (2 to 20).foreach { v =>
      val s = backend.open(v - 1, v)
      s.put(bytes(f"key${v}%04d"), bytes(s"update$v")) // constant delta: 1 key
      s.commit()
    }
    val deltas = counting.dataPutsPerBatch.filter(_ > 0).drop(1) // drop the 500-key seed
    assert(deltas.nonEmpty && deltas.max <= 2 * deltas.min.max(1),
      s"commit work crept across versions: $deltas")
  }

  test("kv backend: a delta commit and its stats scan nothing") {
    EmbeddedKvServer.clear()
    val counting = new CountingClient("stats-scan-test")
    val backend = new KvSessionBackend("store", counting, baseInterval = 10)
    (1 to 3).foreach { v =>
      val s = backend.open(v - 1, v)
      (1 to 200).foreach(i => s.put(bytes(f"key$i%04d"), bytes(s"v$v-$i")))
      s.commit()
    }
    counting.scans = 0
    // Spark's per-batch sequence on a non-base version: open, a blind put
    // (no get first), commit, then both stats
    val s = backend.open(3, 4)
    s.put(bytes("key0001"), bytes("updated"))
    s.put(bytes("new"), bytes("x"))
    s.commit()
    val (keys, size) = (s.numKeys, s.sizeBytes)
    assert(counting.scans === 0,
      s"delta commit + stats made ${counting.scans} scanPrefix calls")
    val all = s.scan(Array.emptyByteArray).toSeq
    assert(keys === 201 && keys === all.size)
    assert(size === all.map { case (kk, v) => kk.length + v.length }.sum)
  }

  test("kv backend: no path scans the server, and a point read is one round trip") {
    EmbeddedKvServer.clear()
    val counting = new CountingClient("round-trip-test")
    val backend = new KvSessionBackend("store", counting, baseInterval = 12)
    var model = Map.empty[String, String]
    def put(s: StoreSession, key: String, value: String): Unit = {
      s.put(bytes(key), bytes(value)); model += key -> value
    }
    def remove(s: StoreSession, key: String): Unit = { s.remove(bytes(key)); model -= key }
    /** Reads `keys` through `s`, one client call each, against the model. */
    def pointReads(s: StoreSession, keys: Seq[String]): Unit = keys.foreach { key =>
      val before = counting.calls
      assert(Option(s.get(bytes(key))).map(new String(_, "UTF-8")) === model.get(key), key)
      assert(counting.calls - before === 1, s"point read of $key took ${counting.calls - before} calls")
    }

    // v1..v10: a 10-deep delta chain (v1 stands in for its base), each
    // version with its own keys and a tombstone for one of the previous
    (1 to 10).foreach { v =>
      val s = backend.open(v - 1, v)
      (1 to 20).foreach(i => put(s, s"k$v-$i", s"v$v"))
      if (v > 1) remove(s, s"k${v - 1}-1")
      s.commit()
    }
    // decided in v1 (all ten keyspaces probed), mid-chain, a tombstone, absent
    val s11 = backend.open(10, 11)
    pointReads(s11, Seq("k1-2", "k5-3", "k4-1", "absent", "k10-7"))
    // a blind-put delta commit
    put(s11, "k1-3", "blind"); put(s11, "new11", "x"); remove(s11, "k2-2")
    s11.commit()
    // a cadence-base commit, then a replayed delta commit
    val s12 = backend.open(11, 12)
    put(s12, "new12", "y")
    s12.commit()
    val first13 = backend.open(12, 13)
    first13.put(bytes("stale13"), bytes("z")); first13.put(bytes("new12"), bytes("q"))
    first13.commit()
    val s13 = backend.open(12, 13)
    put(s13, "new13", "w"); remove(s13, "k3-4")
    s13.commit()
    // maintenance without a cadence base old enough (materializes v9),
    // then with one (v12), then the deferred deletes
    backend.doMaintenance(minVersionsToRetain = 5)
    backend.doMaintenance(minVersionsToRetain = 2)
    backend.doMaintenance(minVersionsToRetain = 2)
    assert(backend.committedVersions() === Seq(12L, 13L))
    // a reopen on a fresh backend resolves the model
    val reopened = new KvSessionBackend("store", counting, baseInterval = 12).open(13, 14)
    pointReads(reopened, Seq("k1-2", "k1-3", "k2-2", "stale13", "new12", "new13", "k3-4", "absent"))
    val state = reopened.scan(Array.emptyByteArray)
      .map { case (kk, v) => new String(kk, "UTF-8") -> new String(v, "UTF-8") }.toMap
    assert(state === model)
    assert(counting.scans === 0 && counting.prefixDeletes === 0,
      s"${counting.scans} scanPrefix and ${counting.prefixDeletes} deletePrefix calls")
  }

  test("rocksdb backend: commit durability stays bounded across versions 1..20") {
    val dir = Files.createTempDirectory("graft-commitlat").toString + "/q/state"
    val p = StateTestHelper.initProvider(new RocksDbStateStoreProvider, dir)
    // seed a resident state
    val s1 = p.getStore(0, None)
    (1 to 500).foreach(i => StateTestHelper.put(s1, f"key$i%04d", i))
    s1.commit()
    // constant single-key deltas; record the provider's own durability metric
    val durations = (2 to 20).map { v =>
      val s = p.getStore(v - 1, None)
      StateTestHelper.put(s, f"key$v%04d", v)
      s.commit()
      s.metrics.customMetrics.collectFirst {
        case (m, value) if m.name == "snapshotDurabilityMs" => value
      }.get
    }
    // early vs late thirds: no monotonic blow-up (generous 5x bound —
    // wall-clock in CI is noisy; the changelog design writes only the
    // delta regardless of resident state size)
    val early = durations.take(6).sum.toDouble / 6
    val late = durations.takeRight(6).sum.toDouble / 6
    assert(late <= (early.max(1.0)) * 5,
      s"commit durability crept: early=$early ms late=$late ms ($durations)")
    p.close()
  }
}
