package graft.state

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import com.google.common.collect.MapMaker

/** External-KV backend seam — the role the reference's Redis and Aerospike
  * providers play (reference RedisStateStoreProvider.scala,
  * AerospikeStateStoreProvider.scala), with their client libraries behind
  * one minimal transactional interface so a real `Jedis`/`AerospikeClient`
  * adapter drops in without touching provider logic.
  *
  * Key layout matches the reference's Redis scheme: the store prefix and
  * version are baked into every key (`<prefix>:<version>:` ++ key bytes,
  * reference redis/package.scala:5-12) so one shared server hosts every
  * (operator, partition, version) keyspace and `getStore(v)` is just a
  * prefix switch.
  *
  * Reference bugs intentionally NOT reproduced (SURVEY.md §7):
  * `remove` is real (Redis's was an empty no-op), batch writes are
  * transactional per commit (Aerospike's leaked on abort), and iterator
  * keys are returned WITHOUT the version prefix (Redis returned
  * prefix-polluted key bytes).
  */
trait KvClient {
  def get(key: Array[Byte]): Array[Byte]
  /** Values of `keys` in order, null for an absent key — Redis MGET. The
    * default costs one `get` per key; a network client overrides it with
    * one round trip per chunk of keys. */
  def mget(keys: Seq[Array[Byte]]): Seq[Array[Byte]] = keys.map(get)
  /** Apply puts and deletes atomically (Redis MULTI/EXEC shape,
    * reference RedisStateStoreProvider.scala:100-133). */
  def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit
  /** All (key, value) pairs whose key starts with `prefix` — the server-side
    * analog of Redis SCAN MATCH. [[KvSessionBackend]] never calls it (nor
    * `deletePrefix`): it reaches every key through per-version key indexes,
    * so a store with no ordered scan can serve it through get, mget and
    * writeBatch alone. */
  def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])]
  def deletePrefix(prefix: Array[Byte]): Unit
  def close(): Unit
}

/** In-JVM KvClient standing in for a Redis/Aerospike server (the real
  * client jars are not available offline — SURVEY.md §7 environment
  * facts). Keyed globally so separate provider instances see one "server".
  */
object EmbeddedKvServer {
  private val spaces = new ConcurrentHashMap[String, ConcurrentHashMap[BytesKey, Array[Byte]]]()

  def client(namespace: String): KvClient = new KvClient {
    private val data =
      spaces.computeIfAbsent(namespace, _ => new ConcurrentHashMap[BytesKey, Array[Byte]]())

    def get(key: Array[Byte]): Array[Byte] = data.get(new BytesKey(key))

    def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit =
      data.synchronized {
        puts.foreach { case (k, v) => data.put(new BytesKey(k), v) }
        deletes.foreach(k => data.remove(new BytesKey(k)))
      }

    def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] =
      data.entrySet().iterator().asScala
        .filter(e => ByteOrdering.hasPrefix(e.getKey.bytes, prefix))
        .map(e => (e.getKey.bytes, e.getValue))

    def deletePrefix(prefix: Array[Byte]): Unit =
      data.keySet().asScala.filter(k => ByteOrdering.hasPrefix(k.bytes, prefix))
        .toList.foreach(data.remove)

    def close(): Unit = ()
  }

  def clear(): Unit = spaces.clear()
}

/** Versioned sessions over a [[KvClient]], stored as per-version DELTAS.
  *
  * Every committed version writes only its batch's changes under
  * `<prefix>:<v>:` — puts framed as `[0][payload]`, removals as a `[1]`
  * tombstone. Reads resolve through the version chain newest→oldest until
  * the nearest BASE version (a full materialization, written every
  * [[KvSessionBackend.BaseInterval]] commits and by maintenance
  * compaction), exactly the changelog+snapshot shape the RocksDB backend
  * uses on its checkpoint FS.
  *
  * The previous design copied the ENTIRE base keyspace forward on every
  * commit — O(total state) writes per batch, which defeats an external KV
  * at any real state size. Now commit writes ∝ the batch delta, and the
  * chain walk is bounded by the base cadence.
  *
  * Every version also carries the list of keys it wrote (its key index,
  * `<prefix>:__keys__:<v>`), so the backend reaches any set of keys by
  * name: a point read is one MGET across the chain, a chain resolution is
  * one MGET of the chain's indexes plus one of the keys they list, and GC
  * deletes the listed keys. No path scans the server, whose other stores
  * would otherwise add to every scan's cost.
  */
final class KvSessionBackend(storePrefix: String, client: KvClient,
                             baseInterval: Int = KvSessionBackend.BaseInterval)
    extends SessionBackend with org.apache.spark.internal.Logging {
  import KvSessionBackend.{decodeIndex, encodeIndex}

  private val Sep: Byte = ':'
  private def versionPrefix(v: Long): Array[Byte] = {
    val p = storePrefix.getBytes("UTF-8")
    val vb = java.lang.Long.toString(v).getBytes("UTF-8")
    val out = new Array[Byte](p.length + 1 + vb.length + 1)
    System.arraycopy(p, 0, out, 0, p.length)
    out(p.length) = Sep
    System.arraycopy(vb, 0, out, p.length + 1, vb.length)
    out(out.length - 1) = Sep
    out
  }
  private val versionsKey = s"$storePrefix:__versions__".getBytes("UTF-8")
  private val basesKey = s"$storePrefix:__bases__".getBytes("UTF-8")
  /** Versions deregistered by the previous maintenance run whose keyspaces
    * are physically deleted on the NEXT run — epoch-deferred GC (see
    * doMaintenance).
    */
  private val gcPendingKey = s"$storePrefix:__gcpending__".getBytes("UTF-8")
  /** Monotonic counter bumped by every maintenance run that deregisters or
    * physically deletes a version keyspace. Open sessions use it as a
    * tripwire: a chain captured at open() is guaranteed intact for one
    * full GC cycle (epoch +1); at epoch +2 its keyspaces may be gone, so
    * reads that fall past the newest chained keyspace re-validate the
    * chain instead of silently missing a deleted tombstone (key
    * resurrection).
    */
  private val gcEpochKey = s"$storePrefix:__gcepoch__".getBytes("UTF-8")
  /** `numKeys,sizeBytes` of the resolved state at version `v`, written in
    * the same atomic batch as the version's data and GC'd with it, so
    * stats never need a chain resolution.
    */
  private def statsKey(v: Long): Array[Byte] = s"$storePrefix:__stats__:$v".getBytes("UTF-8")
  /** The keys (sans version prefix) version `v` holds entries for, puts and
    * tombstones alike, length-framed. Written in the same atomic batch as
    * the version's data and deleted with it, so it lists exactly the keys
    * under `<prefix>:<v>:`.
    */
  private def indexKey(v: Long): Array[Byte] = s"$storePrefix:__keys__:$v".getBytes("UTF-8")

  /** One round trip for `keys`, none for no keys. */
  private def mget(keys: Seq[Array[Byte]]): Seq[Array[Byte]] =
    if (keys.isEmpty) Seq.empty else client.mget(keys)

  private def readStats(v: Long): Option[(Long, Long)] =
    Option(client.get(statsKey(v))).map { raw =>
      val Array(keys, bytes) = new String(raw, "UTF-8").split(',')
      (keys.toLong, bytes.toLong)
    }

  private def encodeStats(stats: (Long, Long)): Array[Byte] =
    s"${stats._1},${stats._2}".getBytes("UTF-8")

  /** Stats contribution of one resolved entry (key sans version prefix). */
  private def entrySize(key: Array[Byte], value: Array[Byte]): Long = key.length + value.length

  private def countStats(state: TreeMap[BytesKey, Array[Byte]]): (Long, Long) =
    (state.size.toLong, state.iterator.map { case (k, v) => entrySize(k.bytes, v) }.sum)

  private def parseGcEpoch(raw: Array[Byte]): Long =
    if (raw == null) 0L else new String(raw, "UTF-8").toLong

  // value framing inside a version keyspace
  private val TagPut: Byte = 0
  private val TagTombstone: Byte = 1
  private def framePut(v: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](v.length + 1)
    out(0) = TagPut
    System.arraycopy(v, 0, out, 1, v.length)
    out
  }
  private val tombstone: Array[Byte] = Array(TagTombstone)
  private def unframe(v: Array[Byte]): Option[Array[Byte]] =
    if (v(0) == TagTombstone) None
    else Some(java.util.Arrays.copyOfRange(v, 1, v.length))

  /** Serializes every registry (versions/bases) read-modify-write between
    * commit() on task threads and doMaintenance() on Spark's background
    * maintenance thread — without it a concurrent commit and GC can lose a
    * version registration. One lock per store prefix, shared by every
    * backend in the JVM: Spark's maintenance can still run a stopped
    * query's provider on the prefix a restarted query commits to. Commits
    * of different partitions never contend.
    */
  private val registryLock = KvSessionBackend.registryLock(storePrefix)

  private def parseVersionSet(raw: Array[Byte]): Set[Long] =
    if (raw == null) Set.empty
    else new String(raw, "UTF-8").split(',').filter(_.nonEmpty).map(_.toLong).toSet

  private def encodeVersionSet(vs: Set[Long]): Array[Byte] =
    vs.toSeq.sorted.mkString(",").getBytes("UTF-8")

  override def committedVersions(): Seq[Long] = parseVersionSet(client.get(versionsKey)).toSeq.sorted

  /** Versions to consult for a read as of `asOf`, OLDEST FIRST, starting at
    * the newest base ≤ asOf (or the oldest committed version if no base —
    * the first commit acts as one).
    */
  private def chainOf(committedVs: Set[Long], bs: Set[Long], asOf: Long): Seq[Long] = {
    val vs = committedVs.filter(_ <= asOf)
    if (vs.isEmpty) return Seq.empty
    val start = bs.filter(_ <= asOf).maxOption.getOrElse(vs.min)
    vs.filter(_ >= start).toSeq.sorted
  }

  private def chainAsOf(asOf: Long): Seq[Long] = {
    val Seq(vs, bs) = client.mget(Seq(versionsKey, basesKey))
    chainOf(parseVersionSet(vs), parseVersionSet(bs), asOf)
  }

  /** The first entry in one key's newest-first chain read: Some(None) = a
    * tombstone, None = no entry anywhere; plus the keyspaces it consulted.
    */
  private def firstEntry(framedNewestFirst: Seq[Array[Byte]]): (Option[Option[Array[Byte]]], Int) =
    framedNewestFirst.indexWhere(_ != null) match {
      case -1 => (None, framedNewestFirst.size)
      case i => (Some(unframe(framedNewestFirst(i))), i + 1)
    }

  private def missingIndex(v: Long): IllegalStateException =
    new IllegalStateException(s"state version $v of $storePrefix has no key index " +
      s"($storePrefix:__keys__:$v), so its keys cannot be enumerated")

  /** The key indexes of `vs`, in order, in one round trip. A version
    * without one fails loudly: reading it as empty would drop its entries.
    */
  private def readIndexes(vs: Seq[Long]): Seq[Seq[Array[Byte]]] =
    vs.zip(mget(vs.map(indexKey))).map {
      case (v, null) => throw missingIndex(v)
      case (_, raw) => decodeIndex(raw)
    }

  /** Full resolved state through `chain` (server side only, no overlay). */
  private def resolve(chain: Seq[Long], prefix: Array[Byte]): TreeMap[BytesKey, Array[Byte]] =
    resolveIndexed(chain.zip(readIndexes(chain)), prefix)

  /** [[resolve]] over indexes already read: each listed key is read once,
    * from the newest version listing it.
    */
  private def resolveIndexed(chain: Seq[(Long, Seq[Array[Byte]])],
                             prefix: Array[Byte]): TreeMap[BytesKey, Array[Byte]] = {
    val seen = scala.collection.mutable.HashSet.empty[BytesKey]
    val newest = chain.reverseIterator.flatMap { case (v, keys) =>
      val p = versionPrefix(v)
      keys.iterator.filter(ByteOrdering.hasPrefix(_, prefix)).map(new BytesKey(_))
        .filter(seen.add).map(k => (v, k, p ++ k.bytes))
    }.toVector
    val acc = TreeMap.newBuilder[BytesKey, Array[Byte]](ByteOrdering)
    newest.iterator.zip(mget(newest.map(_._3)).iterator).foreach {
      case ((v, _, _), null) =>
        throw new IllegalStateException(
          s"a key listed in the index of state version $v of $storePrefix is missing")
      case ((_, k, _), framed) => unframe(framed).foreach(value => acc += (k -> value))
    }
    acc.result()
  }

  override def open(loadVersion: Long, commitVersion: Long): StoreSession = {
    // lenient ladder: the chain resolves through the newest committed
    // version ≤ loadVersion; empty chain → empty store.
    // Per-key get() walks this chain captured at open time WITHOUT the
    // registry lock (a lock per state lookup would serialize task threads
    // against maintenance): it relies on epoch-deferred GC keeping a
    // registered chain's data intact for one full maintenance cycle, and
    // on Spark's maintenance interval dwarfing a micro-batch — the same
    // files-outlive-the-batch invariant the RocksDB checkpoint GC assumes.
    // scan() and commit(), which RE-resolve chains at call time, instead
    // take the lock (see below) because their exposure is unbounded.
    // The residual risk — a session held open across ≥2 maintenance
    // cycles reading a GC'd keyspace — is DETECTED via the GC epoch
    // tripwire in get() below rather than silently returning wrong data.
    // Both registries and the epoch come in one round trip, the epoch
    // read last.
    val Seq(vsAtOpen, bsAtOpen, epochAtOpen) = client.mget(Seq(versionsKey, basesKey, gcEpochKey))
    val readChainNewestFirst: IndexedSeq[Long] =
      chainOf(parseVersionSet(vsAtOpen), parseVersionSet(bsAtOpen), loadVersion).reverse.toIndexedSeq
    val chainPrefixes = readChainNewestFirst.map(versionPrefix)
    val gcEpochAtOpen = parseGcEpoch(epochAtOpen)
    // the loaded version's stats, carried with it; a version written
    // before stats were (older checkpoints) costs one full resolution
    val loadedStats: (Long, Long) = readChainNewestFirst.headOption match {
      case None => (0L, 0L)
      case Some(v) => readStats(v).getOrElse {
        registryLock.synchronized {
          countStats(resolve(chainAsOf(loadVersion), Array.emptyByteArray))
        }
      }
    }

    new StoreSession {
      // local overlay: server state stays untouched until commit (the
      // MULTI/EXEC discipline — and abort is a real rollback)
      private var overlay = TreeMap.empty[BytesKey, Option[Array[Byte]]](ByteOrdering)

      // each touched key's entrySize in the loaded version (-1 = absent):
      // from the get() that already read it, else probed when stats are
      // needed, so numKeys/sizeBytes = loadedStats + the overlay's net change
      private val priorSize = scala.collection.mutable.HashMap.empty[BytesKey, Long]

      // stats written with this session's committed version
      private var committedStats: Option[(Long, Long)] = None

      // highest epoch at which the captured chain was re-verified intact
      // (avoids re-reading the registries on every exposed get)
      private var verifiedEpoch = gcEpochAtOpen

      /** Tripwire for the documented one-cycle invariant: if ≥2 GC epochs
        * passed since open(), a chained keyspace may be physically gone —
        * a get() that consulted more than the newest chained keyspace
        * could then have skipped a deleted tombstone and resurrected an
        * older value. `epoch` rides on the read itself; the registry check
        * runs once per new epoch. Fails loudly (task retry re-opens with a
        * fresh chain) instead of returning silently wrong state.
        */
      private def checkChainIntact(epoch: Long): Unit = {
        if (epoch == verifiedEpoch) return
        val Seq(vsNow, pendingNow) = client.mget(Seq(versionsKey, gcPendingKey))
        val committedNow = parseVersionSet(vsNow)
        val pending = parseVersionSet(pendingNow)
        val missing = readChainNewestFirst
          .filterNot(v => committedNow.contains(v) || pending.contains(v))
        if (missing.nonEmpty && epoch >= gcEpochAtOpen + 2)
          throw new IllegalStateException(
            s"state version chain [${missing.mkString(",")}] for loadVersion=$loadVersion " +
              "was garbage-collected while this session stayed open across >=2 " +
              "maintenance cycles; reads could silently miss deleted tombstones " +
              "(key resurrection) - failing instead")
        // deregistered-but-deferred: the bytes survive exactly one more GC
        // cycle, so this read is still correct — but the session is one
        // maintenance run away from the hard failure above. Surface the
        // pattern (a session held open across maintenance) while it is
        // still benign, instead of only at the point of death.
        val deregistered = readChainNewestFirst.filter(pending.contains)
        if (deregistered.nonEmpty)
          logWarning(
            s"state version chain [${deregistered.mkString(",")}] for " +
              s"loadVersion=$loadVersion ($storePrefix) was deregistered by " +
              "maintenance GC under this open session; data survives one " +
              "deferred-GC cycle, after which reads here fail")
        verifiedEpoch = epoch
      }

      def get(key: Array[Byte]): Array[Byte] = {
        val bk = new BytesKey(key)
        overlay.get(bk) match {
          case Some(Some(v)) => v
          case Some(None) => null
          case None =>
            // one round trip: the key in every chained keyspace, newest
            // first, then the GC epoch — read after the data, as the
            // tripwire needs
            val value = if (chainPrefixes.isEmpty) None else {
              val framed = client.mget(chainPrefixes.map(_ ++ key) :+ gcEpochKey)
              val (decided, probed) = firstEntry(framed.init)
              // any probe that fell past the newest chained keyspace is the
              // exact shape a GC'd version (lost tombstone) produces
              if (probed > 1 || decided.isEmpty) checkChainIntact(parseGcEpoch(framed.last))
              decided.flatten
            }
            priorSize(bk) = value.fold(-1L)(entrySize(key, _))
            value.orNull
        }
      }

      def put(key: Array[Byte], value: Array[Byte]): Unit =
        overlay += (new BytesKey(key) -> Some(value))

      def remove(key: Array[Byte]): Unit =
        overlay += (new BytesKey(key) -> None)

      def scan(prefix: Array[Byte]): KvScanIterator = {
        // registryLock: chain resolution + version-keyspace reads must be
        // atomic w.r.t. maintenance — otherwise two GC cycles between
        // computing the chain and reading it can physically delete a
        // chained version (epoch-deferred GC only protects chains for ONE
        // cycle), silently dropping that version's entries — fatally, its
        // TOMBSTONES (caught by KvConcurrencySuite: a baked-in base
        // resurrected a key whose tombstone's version vanished mid-scan)
        var merged = registryLock.synchronized {
          resolve(chainAsOf(loadVersion), prefix)
        }
        overlay.iterator.filter(e => ByteOrdering.hasPrefix(e._1.bytes, prefix))
          .foreach {
            case (k, Some(v)) => merged += (k -> v)
            case (k, None) => merged -= k
          }
        // materialized merge: the iterator holds no server resources
        KvScanIterator.wrap(merged.iterator.map { case (k, v) => (k.bytes, v) })
      }

      /** Fill in the prior size of every overlay key no get() has read, in
        * one round trip. Callers hold registryLock and pass a chain
        * resolved under it — NOT the open-time chain, which maintenance
        * may have GC'd by now (the get() tripwire only guards reads
        * through that chain).
        */
      private def probeUnread(chain: => Seq[Long]): Unit = {
        val unread = overlay.keysIterator.filterNot(priorSize.contains).toVector
        if (unread.nonEmpty) {
          val prefixes = chain.reverse.map(versionPrefix)
          val priors =
            if (prefixes.isEmpty) Iterator.continually(None)
            else client.mget(for (k <- unread; p <- prefixes) yield p ++ k.bytes)
              .grouped(prefixes.size).map(firstEntry(_)._1.flatten)
          unread.iterator.zip(priors).foreach { case (k, value) =>
            priorSize(k) = value.fold(-1L)(entrySize(k.bytes, _))
          }
        }
      }

      /** loadedStats plus the overlay's net change (all priors known). */
      private def netStats(): (Long, Long) = {
        var (keys, bytes) = loadedStats
        overlay.foreach { case (k, now) =>
          val before = priorSize(k)
          if (before >= 0) { keys -= 1; bytes -= before }
          now.foreach { v => keys += 1; bytes += entrySize(k.bytes, v) }
        }
        (keys, bytes)
      }

      def commit(): Unit = {
        val writePrefix = versionPrefix(commitVersion)
        val isBase = baseInterval > 0 && commitVersion % baseInterval == 0
        // the WHOLE commit — including the cadence-base materialization —
        // runs under registryLock: the base's chain resolution + reads
        // must be atomic w.r.t. maintenance GC, or a chained version (and
        // its tombstones) can be physically deleted between computing the
        // chain and reading it, baking resurrected keys into the base
        // (KvConcurrencySuite caught exactly this)
        registryLock.synchronized {
          // both registries and an earlier attempt's index in one round trip
          val Seq(vsRaw, bsRaw, priorIndex) =
            client.mget(Seq(versionsKey, basesKey, indexKey(commitVersion)))
          val vs = parseVersionSet(vsRaw)
          val bs = parseVersionSet(bsRaw)
          lazy val chain = chainOf(vs, bs, loadVersion)
          val (entries, stats): (Seq[(BytesKey, Array[Byte])], (Long, Long)) =
            if (isBase) {
              // cadence base: materialize the full resolved state (amortized
              // O(state)/interval, like the RocksDB zip-snapshot cadence) so
              // read chains and recovery stay bounded
              var full = resolve(chain, Array.emptyByteArray)
              overlay.foreach {
                case (k, Some(v)) => full += (k -> v)
                case (k, None) => full -= k
              }
              (full.iterator.map { case (k, v) => (k, framePut(v)) }.toSeq, countStats(full))
            } else {
              // delta commit: writes and stats work ∝ this batch's changes
              probeUnread(chain)
              (overlay.iterator.map {
                case (k, Some(v)) => (k, framePut(v))
                case (k, None) => (k, tombstone)
              }.toSeq, netStats())
            }
          // replayed commit (batch re-run after restart): the recomputed
          // delta may differ from the earlier attempt, and plain overwrites
          // would leave the old attempt's extra keys alive in this version
          // and every later chain read. Delete them — the earlier index
          // minus this attempt's keys — in the SAME atomic batch.
          if (priorIndex == null && vs.contains(commitVersion)) throw missingIndex(commitVersion)
          val staleDeletes: Seq[Array[Byte]] =
            if (priorIndex == null) Seq.empty
            else {
              val written = entries.iterator.map(_._1).toSet
              decodeIndex(priorIndex).filterNot(k => written.contains(new BytesKey(k)))
                .map(writePrefix ++ _)
            }
          // one atomic batch: the version's data, its index, its stats and
          // both registry updates
          val registryPuts = Seq(
            indexKey(commitVersion) -> encodeIndex(entries.map(_._1.bytes)),
            versionsKey -> encodeVersionSet(vs + commitVersion),
            statsKey(commitVersion) -> encodeStats(stats)) ++
            (if (isBase) Seq(basesKey -> encodeVersionSet(bs + commitVersion)) else Seq.empty)
          client.writeBatch(
            entries.map { case (k, v) => (writePrefix ++ k.bytes, v) } ++ registryPuts, staleDeletes)
          committedStats = Some(stats)
        }
      }

      def abort(): Unit = overlay = TreeMap.empty(ByteOrdering)

      // Spark reads numKeys and sizeBytes after every batch: both come from
      // the stats carried with the loaded version plus this session's
      // delta — O(delta), never a chain resolution
      private def stats: (Long, Long) = committedStats.getOrElse {
        if (overlay.keysIterator.exists(k => !priorSize.contains(k)))
          registryLock.synchronized(probeUnread(chainAsOf(loadVersion)))
        netStats()
      }
      def numKeys: Long = stats._1
      def sizeBytes: Long = stats._2
    }
  }

  /** GC up to the retention horizon: the newest registered base at or
    * below the oldest version to retain. Cadence bases make that a pure
    * registry flip; only when no base is old enough (cadence off, or not
    * yet reached) is one materialized at the newest version ≤ the
    * horizon, then every older version's keyspace is dropped.
    *
    * The whole run is ONE atomic batch after its reads: the materialized
    * base, the base's dead entries, the keyspaces GC'd now and the
    * registry updates. Crash- and reader-safety (Spark runs this on a
    * background thread concurrent with task-thread reads):
    *  1. A crash leaves nothing or everything. A run that fails before its
    *     batch applied is simply redone by the next one, which finds the
    *     same horizon still unflipped.
    *  2. The materialized values equal the chain-resolved values at the
    *     horizon, so a reader folding an old chain through the horizon
    *     keyspace sees identical results before and after. The horizon's
    *     dead entries (tombstones below the new base: listed in its index,
    *     absent from the materialization) go in the same batch as the flip
    *     that makes new chains start at the horizon; the index shrinks to
    *     the materialization with them, so it always lists every key the
    *     keyspace holds.
    *  3. Version GC is EPOCH-DEFERRED: this run only DEREGISTERS versions
    *     below the horizon (removes them from the registries, so no new
    *     chain can reference them) and physically deletes the keyspaces —
    *     the keys their indexes list, the indexes and the stats —
    *     deregistered by the PREVIOUS run. Any chain — even one computed
    *     from a registry read racing the shrink — only contains versions
    *     deregistered at most one run ago, whose data is still intact, so
    *     concurrent chain reads never dangle. The remaining exposure is a
    *     session that stays open across a FULL maintenance cycle while
    *     reading a version below the retention horizon — outside the SPI
    *     contract (Spark's maintenance interval dwarfs a micro-batch), same
    *     as the RocksDB checkpoint GC.
    */
  override def doMaintenance(minVersionsToRetain: Int): Unit = registryLock.synchronized {
    val Seq(vsRaw, bsRaw, pendingRaw, epochRaw) =
      client.mget(Seq(versionsKey, basesKey, gcPendingKey, gcEpochKey))
    val vs = parseVersionSet(vsRaw)
    if (vs.isEmpty) return
    val bs = parseVersionSet(bsRaw)
    val earliest = math.max(vs.max - minVersionsToRetain + 1, vs.min)
    val cadenceBase = bs.filter(_ <= earliest).maxOption
    val horizon = cadenceBase.getOrElse(vs.filter(_ <= earliest).max) // newest version ≤ earliest
    // what the PREVIOUS run deregistered: no live chain can reference it
    val toDelete = parseVersionSet(pendingRaw).filter(_ < horizon).toSeq.sorted
    // the chain to materialize at the horizon, if no base is old enough;
    // its indexes and the GC'd versions' come in one round trip
    val chain = if (cadenceBase.isEmpty) chainOf(vs, bs, horizon) else Seq.empty
    val (chainIndexes, gcIndexes) = readIndexes(chain ++ toDelete).splitAt(chain.size)
    val (basePuts, baseDeletes) =
      if (chain.isEmpty) (Seq.empty, Seq.empty)
      else {
        val full = resolveIndexed(chain.zip(chainIndexes), Array.emptyByteArray)
        val p = versionPrefix(horizon)
        // the horizon's own index lists its delta: live puts are
        // overwritten by the materialization, the rest are dead tombstones
        val dead = chainIndexes.last.filterNot(k => full.contains(new BytesKey(k)))
        (full.iterator.map { case (k, v) => (p ++ k.bytes, framePut(v)) }.toSeq ++ Seq(
          indexKey(horizon) -> encodeIndex(full.keysIterator.map(_.bytes).toSeq),
          statsKey(horizon) -> encodeStats(countStats(full))),
          dead.map(p ++ _))
      }
    val gcDeletes = toDelete.zip(gcIndexes).flatMap { case (v, keys) =>
      val p = versionPrefix(v)
      keys.map(p ++ _) ++ Seq(indexKey(v), statsKey(v))
    }
    // deregister this run's sub-horizon versions and record them as pending
    val newPending = vs.filter(_ < horizon)
    // bump the GC epoch whenever this run deregistered or deleted a
    // keyspace — open sessions key their chain-intact tripwire off it
    val epochPut =
      if (toDelete.nonEmpty || newPending.nonEmpty)
        Seq(gcEpochKey -> (parseGcEpoch(epochRaw) + 1).toString.getBytes("UTF-8"))
      else Seq.empty
    client.writeBatch(basePuts ++ epochPut ++ Seq(
      versionsKey -> encodeVersionSet(vs.filter(_ >= horizon)),
      basesKey -> encodeVersionSet((bs + horizon).filter(_ >= horizon)),
      gcPendingKey -> encodeVersionSet(newPending)),
      baseDeletes ++ gcDeletes)
  }

  override def close(): Unit = client.close()
}

object KvSessionBackend {
  // weak values: a prefix's lock goes once no backend on it holds it
  private val registryLocks = new MapMaker().weakValues().makeMap[String, Object]()
  private def registryLock(storePrefix: String): Object =
    registryLocks.computeIfAbsent(storePrefix, _ => new Object)

  /** Full-materialization cadence: every N commits the version is written
    * as a base instead of a delta, bounding read chains and recovery cost
    * (same amortization as the RocksDB snapshot cadence).
    */
  val BaseInterval = 10

  /** A key index: each key as a 4-byte big-endian length and its bytes. */
  private[state] def encodeIndex(keys: Seq[Array[Byte]]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(keys.iterator.map(4 + _.length).sum)
    keys.foreach(k => buf.putInt(k.length).put(k))
    buf.array()
  }

  private[state] def decodeIndex(raw: Array[Byte]): Vector[Array[Byte]] = {
    val buf = java.nio.ByteBuffer.wrap(raw)
    val keys = Vector.newBuilder[Array[Byte]]
    while (buf.hasRemaining) {
      val k = new Array[Byte](buf.getInt())
      buf.get(k)
      keys += k
    }
    keys.result()
  }
}

/** Provider wiring the KV seam to a backend chosen by conf
  * [[KvStateStoreProvider.RespAddrKey]]:
  *  - unset → the in-JVM [[EmbeddedKvServer]] map (fastest, no sockets);
  *  - `"embedded"` → a [[RespKvClient]] over the in-process
  *    [[RespKvServer]] — the full Redis wire protocol exercised end to
  *    end with no external dependency;
  *  - `"host:port"` → a [[RespKvClient]] against a real RESP server
  *    (Redis or compatible) at that address.
  * A Jedis/Aerospike adapter implementing [[KvClient]] drops into the
  * same seam — nothing else changes.
  */
class KvStateStoreProvider extends GraftStateStoreProviderBase {
  override protected def createBackend(): SessionBackend = {
    val prefix = s"${storeId.checkpointRootLocation}/${storeId.operatorId}/" +
      s"${storeId.partitionId}/${storeId.storeName}"
    val confs = storeConf.sqlConfs ++ storeConf.extraOptions
    val client = confs.get(KvStateStoreProvider.RespAddrKey) match {
      case Some("embedded") => RespKvServer.newSharedClient()
      case Some(addr) =>
        val (host, port) = addr.splitAt(addr.lastIndexOf(':'))
        new RespKvClient(host, port.drop(1).toInt)
      case None => EmbeddedKvServer.client("default")
    }
    new KvSessionBackend(prefix, client)
  }
}

object KvStateStoreProvider {
  /** "embedded" | "host:port"; unset = in-JVM map (see class doc). */
  val RespAddrKey = "spark.sql.streaming.stateStore.kvRespAddr"
}
