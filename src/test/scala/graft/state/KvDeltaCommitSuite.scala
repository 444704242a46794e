package graft.state

import org.scalatest.funsuite.AnyFunSuite

/** The external-KV backend must write O(batch delta) per commit, not
  * O(total state): the old design copied the whole base keyspace forward
  * every batch, which defeats an external KV at any real state size.
  */
class KvDeltaCommitSuite extends AnyFunSuite {

  /** Counts data puts per writeBatch (registry keys excluded) and
    * scanPrefix, deletePrefix and mget calls. */
  private class CountingClient(inner: KvClient) extends KvClient {
    var lastBatchDataPuts: Int = 0
    val batchDataPuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var scans = 0
    var prefixDeletes = 0
    var mgets = 0
    def get(key: Array[Byte]): Array[Byte] = inner.get(key)
    override def mget(keys: Seq[Array[Byte]]): Seq[Array[Byte]] = { mgets += 1; inner.mget(keys) }
    def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit = {
      val dataPuts = puts.count { case (k, _) =>
        !new String(k, "UTF-8").contains("__")
      }
      lastBatchDataPuts = dataPuts
      batchDataPuts += dataPuts
      inner.writeBatch(puts, deletes)
    }
    def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] = {
      scans += 1
      inner.scanPrefix(prefix)
    }
    def deletePrefix(prefix: Array[Byte]): Unit = { prefixDeletes += 1; inner.deletePrefix(prefix) }
    def close(): Unit = inner.close()
  }

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def str(b: Array[Byte]): String = new String(b, "UTF-8")

  /** Every registered or GC-pending version's key index lists exactly the
    * keys under its prefix, and no other version holds keys or an index.
    * Reads the in-JVM server by prefix; the test keys hold no ':'. */
  private def assertIndexesExact(client: KvClient, prefix: String, step: String): Unit = {
    def versions(registry: String): Set[Long] =
      Option(client.get(k(s"$prefix:$registry"))).map(str).toSeq
        .flatMap(_.split(',')).filter(_.nonEmpty).map(_.toLong).toSet
    val live = versions("__versions__") ++ versions("__gcpending__")
    val held = client.scanPrefix(k(s"$prefix:")).map(e => str(e._1).drop(prefix.length + 1))
      .filterNot(_.startsWith("__")).toSeq
      .groupBy(_.takeWhile(_ != ':').toLong)
      .map { case (v, keys) => v -> keys.map(_.dropWhile(_ != ':').drop(1)).toSet }
    val indexed = client.scanPrefix(k(s"$prefix:__keys__:")).map { case (kk, raw) =>
      str(kk).split(':').last.toLong -> KvSessionBackend.decodeIndex(raw).map(str).toSet
    }.toMap
    assert(indexed.keySet === live, s"$step: indexes for ${indexed.keySet}, live versions $live")
    live.foreach { v =>
      assert(held.getOrElse(v, Set.empty) === indexed(v), s"$step: version $v's index differs from its keys")
    }
    assert(held.keySet.subsetOf(live), s"$step: keys left under dead versions ${held.keySet -- live}")
  }

  test("commit writes are proportional to the batch delta; bases amortize") {
    EmbeddedKvServer.clear()
    val client = new CountingClient(EmbeddedKvServer.client("delta-test"))
    val backend = new KvSessionBackend("store", client, baseInterval = 10)

    // v1: 100-key base state
    val s1 = backend.open(0, 1)
    (1 to 100).foreach(i => s1.put(k(f"key$i%03d"), k(s"v$i")))
    s1.commit()
    assert(client.lastBatchDataPuts === 100)

    // v2..v5: single-key updates — each commit must write ~1 data key
    (2 to 5).foreach { v =>
      val s = backend.open(v - 1, v)
      s.put(k("key001"), k(s"updated$v"))
      s.commit()
      assert(client.lastBatchDataPuts === 1,
        s"delta commit v$v wrote ${client.lastBatchDataPuts} data keys")
    }

    // deletes travel as tombstones, still O(delta)
    val s6 = backend.open(5, 6)
    s6.remove(k("key002"))
    s6.commit()
    assert(client.lastBatchDataPuts === 1)

    // resolution through the chain: latest update wins, tombstone hides
    val s7 = backend.open(6, 7)
    assert(new String(s7.get(k("key001")), "UTF-8") === "updated5")
    assert(s7.get(k("key002")) === null)
    assert(s7.scan(Array.emptyByteArray).size === 99)

    // v10 is on the base cadence → full materialization (99 keys + delta)
    (7 to 9).foreach { v => s7.asInstanceOf[AnyRef]; val s = backend.open(v - 1, v); s.commit() }
    val s10 = backend.open(9, 10)
    s10.put(k("key101"), k("new"))
    s10.commit()
    assert(client.lastBatchDataPuts === 100) // 99 surviving + 1 new

    // post-base delta commits are small again
    val s11 = backend.open(10, 11)
    s11.put(k("key003"), k("x"))
    s11.commit()
    assert(client.lastBatchDataPuts === 1)
  }

  test("maintenance compacts to a base at the horizon and GCs older versions") {
    EmbeddedKvServer.clear()
    val client = new CountingClient(EmbeddedKvServer.client("compact-test"))
    val backend = new KvSessionBackend("store", client, baseInterval = 1000) // cadence off
    val s1 = backend.open(0, 1)
    (1 to 20).foreach(i => s1.put(k(s"k$i"), k(s"v$i")))
    s1.commit()
    (2 to 6).foreach { v =>
      val s = backend.open(v - 1, v)
      s.put(k(s"k$v"), k(s"updated$v"))
      if (v == 4) s.remove(k("k1"))
      s.commit()
    }
    backend.doMaintenance(minVersionsToRetain = 2)
    // horizon = 6 - 2 + 1 = 5: versions < 5 gone, state resolved at 5 intact
    assert(backend.committedVersions() === Seq(5, 6))
    val s = backend.open(6, 7)
    assert(s.get(k("k1")) === null) // tombstoned at v4, preserved by compaction
    assert(new String(s.get(k("k6")), "UTF-8") === "updated6")
    assert(new String(s.get(k("k3")), "UTF-8") === "updated3")
    assert(s.scan(Array.emptyByteArray).size === 19)
  }

  test("maintenance GCs up to an existing cadence base without materializing one") {
    EmbeddedKvServer.clear()
    val client = new CountingClient(EmbeddedKvServer.client("cadence-gc-test"))
    val backend = new KvSessionBackend("store", client, baseInterval = 5)
    (1 to 12).foreach { v =>
      val s = backend.open(v - 1, v)
      s.put(k(s"k$v"), k(s"v$v"))
      if (v == 7) s.remove(k("k1"))
      s.commit()
    }
    client.scans = 0
    client.mgets = 0
    client.batchDataPuts.clear()
    backend.doMaintenance(minVersionsToRetain = 4)
    // the oldest version to retain is 9; base 5 is the newest base at or
    // below it, so GC stops there — no scan, no data written
    assert(backend.committedVersions() === (5L to 12L))
    assert(client.scans === 0 && client.batchDataPuts.sum === 0,
      s"maintenance scanned ${client.scans} prefixes, wrote ${client.batchDataPuts}")
    // nothing was GC-pending yet: its only read is the registries, in one round trip
    assert(client.mgets === 1 && client.prefixDeletes === 0,
      s"maintenance made ${client.mgets} mget and ${client.prefixDeletes} deletePrefix calls")
    val s = backend.open(12, 13)
    assert(s.get(k("k1")) === null)
    assert(new String(s.get(k("k2")), "UTF-8") === "v2")
    assert(s.scan(Array.emptyByteArray).size === 11)
  }

  test("re-committing a version removes the earlier attempt's stale keys") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("replay-test")
    val backend = new KvSessionBackend("store", client, baseInterval = 1000)
    val s1 = backend.open(0, 1)
    s1.put(k("stable"), k("base"))
    s1.commit()
    // first attempt at v2 writes two keys
    val attempt1 = backend.open(1, 2)
    attempt1.put(k("a"), k("a1"))
    attempt1.put(k("b"), k("b1"))
    attempt1.commit()
    // batch replay recomputes a DIFFERENT delta (non-deterministic source):
    // only `a` this time — `b` from the first attempt must not survive
    val attempt2 = backend.open(1, 2)
    attempt2.put(k("a"), k("a2"))
    attempt2.commit()
    val r = backend.open(2, 3)
    assert(new String(r.get(k("a")), "UTF-8") === "a2")
    assert(r.get(k("b")) === null,
      "stale key from the replaced commit attempt leaked into the chain")
    assert(new String(r.get(k("stable")), "UTF-8") === "base")
    assert(r.scan(Array.emptyByteArray).size === 2)
  }

  test("maintenance writes the horizon base before deleting anything") {
    EmbeddedKvServer.clear()
    val inner = EmbeddedKvServer.client("order-test")
    // records the operation order so the crash/reader-safety contract is
    // pinned: the batch containing the base + registry flip must come
    // before ANY delete touching existing data
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    val client = new KvClient {
      def get(key: Array[Byte]): Array[Byte] = inner.get(key)
      def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit = {
        val flips = puts.exists { case (kk, _) => new String(kk, "UTF-8").contains("__bases__") }
        if (flips && puts.size > 1) ops += "base-write"
        else if (deletes.nonEmpty) ops += "delete-keys"
        else ops += "other-write"
        inner.writeBatch(puts, deletes)
      }
      def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] =
        inner.scanPrefix(prefix)
      def deletePrefix(prefix: Array[Byte]): Unit = { ops += "delete-prefix"; inner.deletePrefix(prefix) }
      def close(): Unit = inner.close()
    }
    val backend = new KvSessionBackend("store", client, baseInterval = 1000)
    val s1 = backend.open(0, 1)
    (1 to 5).foreach(i => s1.put(k(s"k$i"), k(s"v$i")))
    s1.commit()
    (2 to 4).foreach { v =>
      val s = backend.open(v - 1, v)
      s.put(k(s"k$v"), k(s"u$v"))
      if (v == 3) s.remove(k("k5"))
      s.commit()
    }
    ops.clear()
    backend.doMaintenance(minVersionsToRetain = 2)
    val firstDelete = ops.indexWhere(o => o.startsWith("delete"))
    val baseWrite = ops.indexOf("base-write")
    assert(baseWrite >= 0, s"no atomic base+flip batch observed: $ops")
    assert(firstDelete === -1 || baseWrite < firstDelete,
      s"a delete preceded the base materialization: $ops")
    // and the result is still correct
    val r = backend.open(4, 5)
    assert(r.get(k("k5")) === null)
    assert(new String(r.get(k("k3")), "UTF-8") === "u3")
    assert(r.scan(Array.emptyByteArray).size === 4)
  }

  test("a session held open across two GC cycles fails loudly, not by resurrecting keys") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("epoch-test")
    val backend = new KvSessionBackend("store", client, baseInterval = 1000)
    val s1 = backend.open(0, 1)
    s1.put(k("old"), k("v1"))
    s1.put(k("victim"), k("v1"))
    s1.commit()
    val s2 = backend.open(1, 2)
    s2.remove(k("victim")) // the tombstone physical GC would lose
    s2.commit()
    (3 to 6).foreach { v => val s = backend.open(v - 1, v); s.put(k(s"k$v"), k("x")); s.commit() }

    val stale = backend.open(2, 3) // chain [1,2] captured now
    assert(stale.get(k("victim")) === null) // tombstone honored pre-GC

    backend.doMaintenance(minVersionsToRetain = 2) // cycle 1: deregisters 1..4
    // documented one-cycle invariant: keyspaces are still intact, the
    // captured chain still reads correctly
    assert(stale.get(k("victim")) === null)
    assert(new String(stale.get(k("old")), "UTF-8") === "v1")

    backend.doMaintenance(minVersionsToRetain = 2) // cycle 2: physical delete
    // without the tripwire this get would fall through v2's DELETED
    // tombstone and either resurrect or silently null — must throw instead
    val ex = intercept[IllegalStateException] { stale.get(k("victim")) }
    assert(ex.getMessage.contains("garbage-collected"))

    // a freshly opened session (the task-retry path) reads fine
    val fresh = backend.open(6, 7)
    assert(fresh.get(k("victim")) === null)
    assert(new String(fresh.get(k("k6")), "UTF-8") === "x")
  }

  test("maintenance physically drops dead tombstones at the horizon base") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("tombstone-gc-test")
    val backend = new KvSessionBackend("store", client, baseInterval = 1000)
    val s1 = backend.open(0, 1)
    s1.put(k("keep"), k("v"))
    s1.put(k("drop"), k("v"))
    s1.commit()
    val s2 = backend.open(1, 2)
    s2.remove(k("drop"))
    s2.commit()
    val s3 = backend.open(2, 3)
    s3.put(k("keep"), k("v3"))
    s3.commit()
    backend.doMaintenance(minVersionsToRetain = 2)
    // horizon = 2 became a base; its tombstone for `drop` is dead weight
    // once the materialization (which simply lacks the key) is in place
    val horizonEntries = client.scanPrefix(k("store:2:")).toSeq
    assert(horizonEntries.nonEmpty)
    assert(!horizonEntries.exists { case (_, v) => v.length == 1 && v(0) == 1.toByte },
      "dead tombstone survived horizon compaction")
    val r = backend.open(3, 4)
    assert(r.get(k("drop")) === null)
    assert(new String(r.get(k("keep")), "UTF-8") === "v3")
  }

  test("stats stay fresh after an overwrite-in-place") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("stats-test")
    val backend = new KvSessionBackend("store", client, baseInterval = 1000)
    val s = backend.open(0, 1)
    s.put(k("a"), k("xx"))
    assert(s.numKeys === 1)
    val bytesBefore = s.sizeBytes
    // overwrite IN PLACE: numKeys and overlay.size are unchanged, only the
    // value bytes grow — stats keyed on either would be served stale
    s.put(k("a"), k("xxxxxxxxxx"))
    assert(s.numKeys === 1)
    assert(s.sizeBytes === bytesBefore + 8,
      s"sizeBytes stale after overwrite: ${s.sizeBytes} vs $bytesBefore")
    // remove + re-put landing back on the same key count must also refresh
    s.remove(k("a"))
    assert(s.numKeys === 0)
    s.put(k("a"), k("yy"))
    assert(s.numKeys === 1 && s.sizeBytes === bytesBefore)
    s.commit()
  }

  /** (numKeys, sizeBytes) as a full scan of `s` counts them. */
  private def scanned(s: StoreSession): (Long, Long) = {
    val it = s.scan(Array.emptyByteArray)
    try it.foldLeft((0L, 0L)) { case ((n, b), (kk, v)) => (n + 1, b + kk.length + v.length) }
    finally it.close()
  }

  test("stats stay exact through random commits, a replay, maintenance and a reopen") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("stats-random-test")
    var backend = new KvSessionBackend("store", client, baseInterval = 7)
    val rnd = new scala.util.Random(20261017)
    def anyKey(): String = f"k${rnd.nextInt(40)}%02d"
    def anyValue(): String = rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString
    def read(s: StoreSession, key: String): Option[String] =
      Option(s.get(k(key))).map(new String(_, "UTF-8"))

    /** A random batch on `s` (puts with and without a prior get,
      * overwrites, removes of present and absent keys), mirrored on `m`. */
    def runBatch(s: StoreSession, m0: Map[String, String]): Map[String, String] = {
      var m = m0
      (1 to 1 + rnd.nextInt(12)).foreach { _ =>
        val key = anyKey()
        rnd.nextInt(4) match {
          case 0 =>
            assert(read(s, key) === m.get(key))
            val v = anyValue(); s.put(k(key), k(v)); m += key -> v
          case 1 => val v = anyValue(); s.put(k(key), k(v)); m += key -> v
          case 2 => s.remove(k(key)); m -= key
          case _ =>
            assert(read(s, key) === m.get(key))
            s.remove(k(key)); m -= key
        }
      }
      m
    }

    /** The session resolves to `m`, and its stats equal a full scan. */
    def check(s: StoreSession, m: Map[String, String], step: String): Unit = {
      val state = s.scan(Array.emptyByteArray)
        .map { case (kk, v) => new String(kk, "UTF-8") -> new String(v, "UTF-8") }.toMap
      assert(state === m, s"$step: state diverged")
      assert((s.numKeys, s.sizeBytes) === scanned(s), s"$step: stats differ from a full scan")
    }

    var model = Map.empty[String, String]
    (1 to 30).foreach { v =>
      // a fresh backend instance over the same server: stats come from the KV
      if (v == 20) backend = new KvSessionBackend("store", client, baseInterval = 7)
      val s = backend.open(v - 1, v)
      val m = runBatch(s, model)
      if (v % 3 == 0) check(s, m, s"v$v before commit")
      s.commit()
      assertIndexesExact(client, "store", s"v$v committed")
      check(s, m, s"v$v after commit")
      if (v == 12) {
        // replay v12 with a different delta over the same parent
        val replay = backend.open(11, 12)
        model = runBatch(replay, model)
        replay.commit()
        assertIndexesExact(client, "store", "v12 replayed")
        check(replay, model, "v12 replayed")
      } else model = m
      check(backend.open(v, v + 1), model, s"v$v reopened")
      if (v % 4 == 0) {
        backend.doMaintenance(3)
        assertIndexesExact(client, "store", s"v$v maintained")
        check(backend.open(v, v + 1), model, s"v$v after maintenance")
      }
    }
    assert(backend.committedVersions().size < 30, "maintenance never GC'd")
  }

  test("a checkpoint written before per-version stats still reports exact stats") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("stats-legacy-test")
    val backend = new KvSessionBackend("store", client, baseInterval = 1000)
    (1 to 4).foreach { v =>
      val s = backend.open(v - 1, v)
      s.put(k(s"k$v"), k("v" * v))
      if (v == 3) s.remove(k("k1"))
      s.commit()
    }
    // strip the stats keys, as a checkpoint from before they existed has none
    val statsKeys = client.scanPrefix(k("store:__stats__:")).map(_._1).toSeq
    assert(statsKeys.size === 4)
    client.writeBatch(Seq.empty, statsKeys)

    val s5 = backend.open(4, 5)
    assert((s5.numKeys, s5.sizeBytes) === (3L, 15L)) // k2→vv, k3→vvv, k4→vvvv
    s5.put(k("k5"), k("vvvvv"))
    s5.remove(k("k2"))
    s5.commit()
    assert((s5.numKeys, s5.sizeBytes) === scanned(s5))
    // the new version carries its stats again
    val s6 = backend.open(5, 6)
    assert((s6.numKeys, s6.sizeBytes) === (3L, 18L))
    // the base maintenance materializes at v4 gets its stats back
    backend.doMaintenance(minVersionsToRetain = 2)
    assert(client.get(k("store:__stats__:4")) !== null)
    val s7 = backend.open(4, 5)
    assert((s7.numKeys, s7.sizeBytes) === (3L, 15L))
  }

  test("maintenance whose batch fails leaves every key indexed, and the next run collects it") {
    EmbeddedKvServer.clear()
    val inner = EmbeddedKvServer.client("dead-fail-test")
    var failDeletes = true
    // throws on the batch that deletes the horizon's dead entries
    val client = new KvClient {
      def get(key: Array[Byte]): Array[Byte] = inner.get(key)
      def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit =
        if (failDeletes && deletes.exists(d => !str(d).contains("__")))
          throw new java.io.IOException("injected: dead-key delete batch")
        else inner.writeBatch(puts, deletes)
      def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] = inner.scanPrefix(prefix)
      def deletePrefix(prefix: Array[Byte]): Unit = inner.deletePrefix(prefix)
      def close(): Unit = inner.close()
    }
    val backend = new KvSessionBackend("store", client, baseInterval = 1000)
    val s1 = backend.open(0, 1)
    s1.put(k("keep"), k("v")); s1.put(k("drop"), k("v"))
    s1.commit()
    val s2 = backend.open(1, 2)
    s2.remove(k("drop"))
    s2.commit()
    val s3 = backend.open(2, 3)
    s3.put(k("keep"), k("v3"))
    s3.commit()
    intercept[java.io.IOException](backend.doMaintenance(minVersionsToRetain = 2))
    assertIndexesExact(inner, "store", "after the failed run")
    assert(inner.get(k("store:2:drop")) !== null)
    failDeletes = false
    backend.doMaintenance(minVersionsToRetain = 2)
    assertIndexesExact(inner, "store", "after the next run")
    assert(inner.get(k("store:2:drop")) === null, "the dead tombstone was never collected")
    val r = backend.open(3, 4)
    assert(r.get(k("drop")) === null)
    assert(str(r.get(k("keep"))) === "v3")
    assert(r.scan(Array.emptyByteArray).size === 1)
  }

  test("a registered version without its key index fails loudly, naming the version") {
    EmbeddedKvServer.clear()
    val client = EmbeddedKvServer.client("missing-index-test")
    val backend = new KvSessionBackend("store", client, baseInterval = 4)
    (1 to 3).foreach { v =>
      val s = backend.open(v - 1, v); s.put(k(s"k$v"), k(s"v$v")); s.commit()
    }
    client.writeBatch(Seq.empty, Seq(k("store:__keys__:2")))
    def failsNaming2(op: => Any): Unit = {
      val ex = intercept[IllegalStateException](op)
      assert(ex.getMessage.contains("state version 2 of store has no key index"), ex.getMessage)
    }
    // point reads name their keys and need no index
    val s = backend.open(3, 4)
    assert(str(s.get(k("k2"))) === "v2")
    // every read that enumerates version 2 refuses to treat it as empty
    failsNaming2(s.scan(Array.emptyByteArray))
    s.put(k("k4"), k("v4"))
    failsNaming2(s.commit()) // v4 is a cadence base: it resolves the chain
    val replay = backend.open(1, 2)
    replay.put(k("k2"), k("again"))
    failsNaming2(replay.commit()) // a replay diffs against the earlier index
    failsNaming2(backend.doMaintenance(minVersionsToRetain = 1))
    assert(backend.committedVersions() === Seq(1L, 2L, 3L), "a failed operation changed the registry")
  }
}
