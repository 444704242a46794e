package graft.state

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types.StructType

/** One open working set at a specific version — the seam between the
  * SPI-facing store logic (column families, multi-value, TTL) and the
  * physical backend (in-memory map, RocksDB, a future external KV).
  *
  * Keys/values are opaque bytes; the physical key layout is produced by the
  * provider (see [[GraftStateStoreProviderBase.physicalKey]]).
  */
/** A KV scan whose backing resources (e.g. a native RocksDB iterator) can
  * be released without draining it. `close()` must be idempotent and is
  * also called implicitly on exhaustion by well-behaved implementations.
  */
trait KvScanIterator extends Iterator[(Array[Byte], Array[Byte])] with AutoCloseable

object KvScanIterator {
  /** Wrap a heap-backed iterator that holds no native resources. */
  def wrap(it: Iterator[(Array[Byte], Array[Byte])]): KvScanIterator =
    new KvScanIterator {
      def hasNext: Boolean = it.hasNext
      def next(): (Array[Byte], Array[Byte]) = it.next()
      def close(): Unit = ()
    }
}

trait StoreSession {
  def get(key: Array[Byte]): Array[Byte] // null when absent
  def put(key: Array[Byte], value: Array[Byte]): Unit
  def remove(key: Array[Byte]): Unit
  /** Sorted (unsigned-lex) iteration over keys with the given byte prefix;
    * whole store for an empty prefix. Callers that may not drain the
    * iterator (limit/take) must `close()` it; sessions also close any
    * still-open scans on commit/abort so a native handle can never outlive
    * the DB it reads from. */
  def scan(prefix: Array[Byte]): KvScanIterator
  def commit(): Unit
  def abort(): Unit
  def numKeys: Long
  def sizeBytes: Long
  /** Time spent making the committed version durable (snapshot + upload)
    * during the last `commit()`, for metrics. */
  def lastCommitDurabilityMs: Long = 0L
}

/** Versioned session factory per (checkpoint, operator, partition). */
trait SessionBackend {
  /** Open a writable working set seeded with committed data as of
    * `loadVersion` (0 or no recoverable snapshot → empty), to be committed
    * as `commitVersion`. Recovery follows the reference's lenient ladder:
    * newest loadable snapshot ≤ loadVersion wins, else empty
    * (reference RocksDbStateStoreProvider.scala:371-388).
    */
  def open(loadVersion: Long, commitVersion: Long): StoreSession
  def committedVersions(): Seq[Long]
  def doMaintenance(minVersionsToRetain: Int): Unit
  def close(): Unit
}

object GraftStateStoreProviderBase {
  /** Test seam: when set, new providers use this clock for TTL. */
  @volatile var clockOverride: Option[TtlClock] = None

  /** Test seam: the last snapshot-upload report (storeId, runId, version)
    * that reached the coordinator. */
  @volatile private[state] var lastSnapshotReport: Option[(StateStoreId, java.util.UUID, Long)] = None

  /** Snapshot+upload time of the last commit (BASELINE.md commit-latency
    * row) — surfaces in StreamingQueryProgress.stateOperators
    * customMetrics. */
  val SnapshotDurabilityMetric: StateStoreCustomTimingMetric =
    StateStoreCustomTimingMetric("snapshotDurabilityMs",
      "time making the committed version durable (snapshot + upload)")
}

/** Spark 4.1.2 `StateStoreProvider` implementation over a pluggable
  * [[SessionBackend]]. Re-expresses the reference's provider surface
  * (reference RocksDbStateStoreProvider.scala) on the Spark 4 SPI:
  * versioned commit/abort lifecycle, TTL (strict expire-after-access,
  * reference README.md:38-108), metrics, maintenance — plus the Spark 4
  * additions the reference predates: column families, `merge`/multi-value
  * stores, `prefixScan`, checkpoint info.
  *
  * Physical key layout (byte-sorted so RocksDB prefix-seek works):
  * `[2B cfLen][cf utf8][4B prefixLen][prefixRow bytes][fullKeyRow bytes]`
  * with the prefix section present only for PrefixKeyScan column families.
  */
abstract class GraftStateStoreProviderBase extends StateStoreProvider with Logging {

  protected var storeId: StateStoreId = _
  protected var keySchema: StructType = _
  protected var valueSchema: StructType = _
  protected var storeConf: StateStoreConf = _
  protected var hadoopConf: Configuration = _
  protected var multiValueDefault: Boolean = false
  protected var ttlConf: TtlConf = TtlConf(TtlConf.Infinite, strict = true)
  protected var clock: TtlClock = SystemTtlClock
  protected var backend: SessionBackend = _

  /** Provider-scoped (like the reference's Guava cache, a provider member
    * — reference RocksDbStateStoreProvider.scala:101): last-access
    * deadlines persist across micro-batches within an executor's provider
    * lifetime, so inactivity TTL actually fires between batches. Unlike
    * the reference, the index survives `getStore` re-opens; it resets
    * only with the provider (executor loss → fresh windows, documented in
    * TtlConf).
    */
  protected var expiryTracker: ExpiryTracker = _

  /** Build the physical backend once `init` has run. */
  protected def createBackend(): SessionBackend

  /** Whether the backend expires entries at the storage layer (RocksDB
    * TtlDB). Backends without it get non-strict TTL upgraded to strict
    * tracking in `init` — otherwise `strictExpire=false` would silently
    * never expire anything there. */
  protected def backendSupportsStorageTtl: Boolean = false

  // ----- column-family registry -------------------------------------------
  final case class CfInfo(keySchema: StructType, valueSchema: StructType,
                          spec: KeyStateEncoderSpec, multiValue: Boolean) {
    val numPrefixCols: Int = spec match {
      case p: PrefixKeyScanStateEncoderSpec => p.numColsPrefixKey
      case _ => 0
    }
    // projection of the leading prefix columns, for prefix-scannable CFs
    lazy val prefixProj: UnsafeProjection = UnsafeProjection.create(
      (0 until numPrefixCols).map(i =>
        BoundReference(i, keySchema(i).dataType, keySchema(i).nullable)))

    /** Range-scan ordering columns (RangeKeyScanStateEncoderSpec): the
      * physical key gets an order-preserving big-endian section for these
      * columns so unsigned-lex backend iteration IS value order — Spark's
      * TTL/timer cleanup iterates such CFs expecting expiration order and
      * stops at the first live entry.
      */
    val rangeOrdinals: Seq[Int] = spec match {
      case r: RangeKeyScanStateEncoderSpec => r.orderingOrdinals
      case _ => Seq.empty
    }
    /** Fixed byte width of the range section (1 null-marker + payload per
      * ordering column), so decode can skip it without a length prefix. */
    lazy val rangeSectionLen: Int =
      rangeOrdinals.map(i => 1 + RangeKeyCodec.width(keySchema(i).dataType)).sum
  }

  protected val cfs = new java.util.concurrent.ConcurrentHashMap[String, CfInfo]()

  override def init(
      stateStoreId: StateStoreId,
      keySchema: StructType,
      valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec,
      useColumnFamilies: Boolean,
      storeConfs: StateStoreConf,
      hadoopConf: Configuration,
      useMultipleValuesPerKey: Boolean,
      stateSchemaProvider: Option[StateSchemaProvider]): Unit = {
    this.storeId = stateStoreId
    this.keySchema = keySchema
    this.valueSchema = valueSchema
    this.storeConf = storeConfs
    this.hadoopConf = hadoopConf
    this.multiValueDefault = useMultipleValuesPerKey
    this.ttlConf = {
      val parsed = TtlConf.fromStoreConf(storeConfs, stateStoreId.checkpointRootLocation)
      // non-strict TTL delegates expiry to the STORAGE layer (RocksDB
      // TtlDB). On a backend with no storage-level expiry that delegation
      // is a silent no-op — state configured to expire would live forever
      // — so such backends upgrade to strict tracking (a superset of the
      // "expire after ≥ ttl, best effort" contract) and say so.
      if (parsed.enabled && !parsed.strict && !backendSupportsStorageTtl) {
        logWarning(s"backend ${getClass.getSimpleName} has no storage-level " +
          "TTL; upgrading strictExpire=false to strict tracking so " +
          s"stateExpirySecs=${parsed.expirySecs} actually expires state")
        parsed.copy(strict = true)
      } else parsed
    }
    this.clock = GraftStateStoreProviderBase.clockOverride.getOrElse(SystemTtlClock)
    this.expiryTracker = new ExpiryTracker(ttlConf, clock)
    cfs.put(StateStore.DEFAULT_COL_FAMILY_NAME,
      CfInfo(keySchema, valueSchema, keyStateEncoderSpec, useMultipleValuesPerKey))
    this.backend = createBackend()
  }

  override def stateStoreId: StateStoreId = storeId

  /** The run id of the streaming query this provider serves; None outside
    * a live query (direct SPI use), where no coordinator expects reports. */
  private def queryRunId: Option[UUID] =
    Option(hadoopConf.get(StreamExecution.RUN_ID_KEY)).map(UUID.fromString)

  /** Tell the coordinator a full snapshot for `version` is durable, so its
    * snapshot-lag detector doesn't flag this store (what the built-in
    * RocksDB provider reports after every upload). Best-effort.
    */
  private[state] def reportSnapshotUploaded(version: Long): Unit =
    queryRunId.foreach { runId => scala.util.Try {
      GraftCoordinatorBridge.snapshotUploaded(storeId, runId, version)
      GraftStateStoreProviderBase.lastSnapshotReport = Some((storeId, runId, version))
    }}

  override def getStore(version: Long, uniqueId: Option[String]): StateStore = {
    require(version >= 0, s"Version cannot be $version")
    val session = backend.open(version, version + 1)
    new GraftStore(session, version + 1, expiryTracker)
  }

  override def supportedCustomMetrics: Seq[StateStoreCustomMetric] =
    Seq(GraftStateStoreProviderBase.SnapshotDurabilityMetric)

  override def doMaintenance(): Unit =
    backend.doMaintenance(math.max(storeConf.minVersionsToRetain, 1))

  override def close(): Unit = if (backend != null) backend.close()

  /** Latest committed version (test/maintenance aid, mirrors the
    * reference's `latestIterator` capability). */
  def latestCommittedVersion: Long =
    backend.committedVersions().foldLeft(0L)(math.max)

  // ----- physical key encoding --------------------------------------------

  private def cfBytes(cf: String): Array[Byte] = cf.getBytes("UTF-8")

  protected def cfPrefix(cf: String): Array[Byte] = {
    val cb = cfBytes(cf)
    val out = new Array[Byte](2 + cb.length)
    out(0) = ((cb.length >>> 8) & 0xFF).toByte
    out(1) = (cb.length & 0xFF).toByte
    System.arraycopy(cb, 0, out, 2, cb.length)
    out
  }

  /** cf header ++ [range section | prefix section] ++ full key row. */
  protected def physicalKey(cf: String, info: CfInfo, key: UnsafeRow): Array[Byte] = {
    val header = cfPrefix(cf)
    val keyBytes = key.getBytes
    if (info.rangeOrdinals.nonEmpty) {
      // order-preserving section first: backend byte order == value order
      // over the ordering columns (ties broken by the raw key bytes)
      val out = new Array[Byte](header.length + info.rangeSectionLen + keyBytes.length)
      var o = 0
      System.arraycopy(header, 0, out, o, header.length); o += header.length
      info.rangeOrdinals.foreach { ord =>
        o += RangeKeyCodec.encode(key, ord, info.keySchema(ord).dataType, out, o)
      }
      System.arraycopy(keyBytes, 0, out, o, keyBytes.length)
      out
    } else if (info.numPrefixCols == 0) {
      val out = new Array[Byte](header.length + keyBytes.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(keyBytes, 0, out, header.length, keyBytes.length)
      out
    } else {
      val prefixBytes = info.prefixProj(key).getBytes
      val out = new Array[Byte](header.length + 4 + prefixBytes.length + keyBytes.length)
      var o = 0
      System.arraycopy(header, 0, out, o, header.length); o += header.length
      out(o) = ((prefixBytes.length >>> 24) & 0xFF).toByte
      out(o + 1) = ((prefixBytes.length >>> 16) & 0xFF).toByte
      out(o + 2) = ((prefixBytes.length >>> 8) & 0xFF).toByte
      out(o + 3) = (prefixBytes.length & 0xFF).toByte
      o += 4
      System.arraycopy(prefixBytes, 0, out, o, prefixBytes.length); o += prefixBytes.length
      System.arraycopy(keyBytes, 0, out, o, keyBytes.length)
      out
    }
  }

  /** Scan-prefix bytes for a prefixScan(prefixKey) call. */
  protected def physicalScanPrefix(cf: String, info: CfInfo, prefixKey: UnsafeRow): Array[Byte] = {
    val header = cfPrefix(cf)
    val prefixBytes = prefixKey.getBytes
    val out = new Array[Byte](header.length + 4 + prefixBytes.length)
    var o = 0
    System.arraycopy(header, 0, out, o, header.length); o += header.length
    out(o) = ((prefixBytes.length >>> 24) & 0xFF).toByte
    out(o + 1) = ((prefixBytes.length >>> 16) & 0xFF).toByte
    out(o + 2) = ((prefixBytes.length >>> 8) & 0xFF).toByte
    out(o + 3) = (prefixBytes.length & 0xFF).toByte
    o += 4
    System.arraycopy(prefixBytes, 0, out, o, prefixBytes.length)
    out
  }

  /** Decode the full key row back out of a physical key. */
  protected def decodeKey(cf: String, info: CfInfo, physical: Array[Byte]): UnsafeRow = {
    val headerLen = 2 + cfBytes(cf).length
    var off = headerLen
    if (info.rangeOrdinals.nonEmpty) {
      off += info.rangeSectionLen // fixed width — full key row follows
    } else if (info.numPrefixCols > 0) {
      val plen = ((physical(off) & 0xFF) << 24) | ((physical(off + 1) & 0xFF) << 16) |
        ((physical(off + 2) & 0xFF) << 8) | (physical(off + 3) & 0xFF)
      off += 4 + plen
    }
    val row = new UnsafeRow(info.keySchema.fields.length)
    val len = physical.length - off
    val copy = java.util.Arrays.copyOfRange(physical, off, physical.length)
    row.pointTo(copy, len)
    row
  }

  protected def decodeValue(info: CfInfo, bytes: Array[Byte]): UnsafeRow =
    if (bytes == null) null
    else valueRow(info, if (info.multiValue) MultiValue.first(bytes) else bytes)

  /** Every value stored under one key: the one value of a plain column
    * family, the whole list of a multi-value one. */
  protected def decodeValues(info: CfInfo, bytes: Array[Byte]): Iterator[UnsafeRow] =
    if (!info.multiValue) Iterator.single(decodeValue(info, bytes))
    else MultiValue.decode(bytes).map(valueRow(info, _))

  private def valueRow(info: CfInfo, payload: Array[Byte]): UnsafeRow = {
    val row = new UnsafeRow(info.valueSchema.fields.length)
    row.pointTo(payload, payload.length)
    row
  }

  private def cfInfo(cf: String): CfInfo = {
    val info = cfs.get(cf)
    if (info == null) {
      throw new IllegalArgumentException(s"Column family $cf does not exist")
    }
    info
  }

  // ----- the store handed to Spark ----------------------------------------

  /** Value bytes safe to retain: `UnsafeRow.getBytes` returns the backing
    * array itself when the row exactly spans it, and Spark reuses row
    * buffers across keys — storing that reference aliases state across
    * keys. `copy()` first, exactly like the reference's
    * `valueCopy.getBytes` (reference RocksDbStateStoreProvider.scala:
    * 138-148 "must copy UnsafeRows (buffer reuse)").
    */
  private def valueBytes(value: UnsafeRow): Array[Byte] = value.copy().getBytes

  /** Store states mirror the reference's Updating→Committed/Aborted machine
    * (reference RocksDbStateStoreProvider.scala:110-222). */
  final class GraftStore(session: StoreSession, newVersion: Long,
                         expiry: ExpiryTracker) extends StateStore {
    private object State extends Enumeration { val Updating, Committed, Aborted = Value }
    private var state = State.Updating

    /** The global inactivity TTL applies to the DEFAULT column family only
      * — the reference's feature predates column families (whole store ==
      * default CF), and Spark 4's extra CFs are operator internals
      * (transformWithState timers, its TTL index, ListState) with their
      * own lifecycle: a registered timer is written once and only ever
      * observed via iterator(), so subjecting timer CFs to
      * expire-after-access would silently drop any timer idle longer than
      * the TTL — it would simply never fire. transformWithState state
      * gets per-variable native TTLConfig instead.
      */
    private def ttlApplies(colFamilyName: String): Boolean =
      colFamilyName == StateStore.DEFAULT_COL_FAMILY_NAME

    override def id: StateStoreId = storeId
    override def version: Long = newVersion - 1

    private def verifyUpdating(): Unit =
      require(state == State.Updating, s"Cannot mutate store in $state state")

    override def createColFamilyIfAbsent(
        colFamilyName: String, keySchema: StructType, valueSchema: StructType,
        keyStateEncoderSpec: KeyStateEncoderSpec,
        useMultipleValuesPerKey: Boolean, isInternal: Boolean): Unit = {
      cfs.putIfAbsent(colFamilyName,
        CfInfo(keySchema, valueSchema, keyStateEncoderSpec, useMultipleValuesPerKey))
    }

    override def removeColFamilyIfExists(colFamilyName: String): Boolean = {
      verifyUpdating()
      val existed = cfs.remove(colFamilyName) != null
      if (existed) {
        val prefix = cfPrefix(colFamilyName)
        // materialize before removing — scan iterators may be live views
        session.scan(prefix).map(_._1).toList.foreach(session.remove)
      }
      existed
    }

    override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = {
      val info = cfInfo(colFamilyName)
      val pk = physicalKey(colFamilyName, info, key)
      val bk = new BytesKey(pk)
      val ttlHere = ttlApplies(colFamilyName)
      if (ttlHere && ttlConf.strict && expiry.isExpired(bk)) {
        // physical delete only while Updating: a read on a Committed store
        // must not write into the live DB after its changelog sealed (the
        // local DB would diverge from the snapshot/changelog chain). The
        // tracker entry stays either way so a later commit's sweep still
        // drops the row.
        if (state == State.Updating) {
          session.remove(pk)
          expiry.remove(bk)
        }
        return null
      }
      val bytes = session.get(pk)
      if (bytes != null && ttlHere && ttlConf.expirySecs == 0) return null // stateless
      if (bytes != null && ttlHere) expiry.touch(bk)
      decodeValue(info, bytes)
    }

    override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] = {
      val info = cfInfo(colFamilyName)
      require(info.multiValue,
        s"valuesIterator requires a multi-value column family ($colFamilyName)")
      val pk = physicalKey(colFamilyName, info, key)
      val bk = new BytesKey(pk)
      // same visibility rules as get(): an expired / stateless-mode key
      // must not resurface through the multi-value read path
      if (ttlApplies(colFamilyName)) {
        if (ttlConf.strict && expiry.isExpired(bk)) {
          if (state == State.Updating) { session.remove(pk); expiry.remove(bk) }
          return Iterator.empty
        }
        if (ttlConf.expirySecs == 0) return Iterator.empty
      }
      val bytes = session.get(pk)
      if (bytes == null) Iterator.empty
      else {
        if (ttlApplies(colFamilyName)) expiry.touch(bk)
        decodeValues(info, bytes)
      }
    }

    override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
      verifyUpdating()
      val info = cfInfo(colFamilyName)
      val pk = physicalKey(colFamilyName, info, key)
      val vb = valueBytes(value)
      session.put(pk, if (info.multiValue) MultiValue.encodeOne(vb) else vb)
      if (ttlApplies(colFamilyName)) expiry.touch(new BytesKey(pk))
    }

    override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit = {
      verifyUpdating()
      val info = cfInfo(colFamilyName)
      require(info.multiValue, s"putList requires a multi-value column family ($colFamilyName)")
      val pk = physicalKey(colFamilyName, info, key)
      var encoded: Array[Byte] = null
      values.foreach { v =>
        encoded = if (encoded == null) MultiValue.encodeOne(v.getBytes)
                  else MultiValue.append(encoded, v.getBytes)
      }
      if (encoded != null) {
        session.put(pk, encoded)
        if (ttlApplies(colFamilyName)) expiry.touch(new BytesKey(pk))
      }
    }

    override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit = {
      verifyUpdating()
      val info = cfInfo(colFamilyName)
      require(info.multiValue, s"merge requires a multi-value column family ($colFamilyName)")
      val pk = physicalKey(colFamilyName, info, key)
      val existing = session.get(pk)
      val next = if (existing == null) MultiValue.encodeOne(value.getBytes)
                 else MultiValue.append(existing, value.getBytes)
      session.put(pk, next)
      if (ttlApplies(colFamilyName)) expiry.touch(new BytesKey(pk))
    }

    override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
      values.foreach(v => merge(key, v, colFamilyName))

    override def remove(key: UnsafeRow, colFamilyName: String): Unit = {
      verifyUpdating()
      val info = cfInfo(colFamilyName)
      val pk = physicalKey(colFamilyName, info, key)
      session.remove(pk)
      if (ttlApplies(colFamilyName)) expiry.remove(new BytesKey(pk))
    }

    override def commit(): Long = {
      verifyUpdating()
      // strict TTL: physically drop expired entries before the version
      // seals. Runs for expirySecs == 0 too — "stateless" must not quietly
      // accumulate this batch's puts in every snapshot/changelog forever.
      if (ttlConf.strict && ttlConf.expirySecs >= 0) {
        expiry.expiredKeys().foreach { bk => session.remove(bk.bytes); expiry.remove(bk) }
      }
      session.commit()
      state = State.Committed
      // Spark 4.1 commit validation (enforced e.g. under foreachBatch
      // sinks) expects every partition's commit reported to the
      // coordinator, as the built-in providers do. Spark logs, not throws,
      // a failed report; outside a live query there is nothing to report to.
      if (queryRunId.isDefined)
        StateStore.reportCommitToCoordinator(newVersion, storeId, hadoopConf)
      newVersion
    }

    override def abort(): Unit = if (state == State.Updating) {
      session.abort()
      state = State.Aborted
    }

    override def release(): Unit = if (state == State.Updating) abort()

    override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] =
      scan(colFamilyName, cfInfo(colFamilyName), cfPrefix(colFamilyName))

    override def prefixScan(prefixKey: UnsafeRow, colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
      val info = cfInfo(colFamilyName)
      require(info.numPrefixCols > 0,
        s"prefixScan requires a PrefixKeyScanStateEncoderSpec column family ($colFamilyName)")
      scan(colFamilyName, info, physicalScanPrefix(colFamilyName, info, prefixKey))
    }

    /** The live, decoded entries of `colFamilyName` under a physical key
      * prefix, with get()'s TTL visibility rules. */
    private def scan(colFamilyName: String, info: CfInfo,
                     prefix: Array[Byte]): StateStoreIterator[UnsafeRowPair] = {
      val raw = session.scan(prefix)
      val ttlHere = ttlApplies(colFamilyName)
      val filtered = raw.filter { case (k, _) =>
        if (!ttlHere) true
        else if (ttlConf.expirySecs == 0) false
        else !(ttlConf.strict && expiry.isExpired(new BytesKey(k)))
      }
      val pairs = filtered.map { case (k, v) =>
        new UnsafeRowPair(decodeKey(colFamilyName, info, k), decodeValue(info, v))
      }
      // the backend scan's close MUST reach the StateStoreIterator: a
      // partially-consumed iterator (limit/take over state) would otherwise
      // leak a native RocksIterator, and closing the DB with live native
      // iterators can crash the JVM
      new StateStoreIterator(pairs, () => raw.close())
    }

    override def metrics: StateStoreMetrics =
      StateStoreMetrics(session.numKeys, math.max(session.sizeBytes, 1L),
        Map(GraftStateStoreProviderBase.SnapshotDurabilityMetric ->
          session.lastCommitDurabilityMs),
        Map.empty)

    override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo =
      StateStoreCheckpointInfo(storeId.partitionId, newVersion, None, None)

    override def hasCommitted: Boolean = state == State.Committed
  }
}
