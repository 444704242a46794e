package perfbench

import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.types.StructType

import graft.state._

/** Timing decorators around each layer boundary of the state path. Every
  * call is forwarded unchanged; only [[Trace]] spans are added. Span names
  * are the per-layer metric prefixes: `state.store.*` (the SPI store Spark
  * calls), `state.backend.*` (the versioned session backend) and
  * `state.kvclient.*` (the RESP client under the KV backend). */
final class TimedStoreSession(under: StoreSession, batch: Long, partition: Int) extends StoreSession {
  private def sp[T](op: String, count: Long = 1L)(body: => T): T =
    Trace.span(s"state.backend.$op", batch, partition, count)(body)

  def get(key: Array[Byte]): Array[Byte] = sp("get")(under.get(key))
  def put(key: Array[Byte], value: Array[Byte]): Unit = sp("put")(under.put(key, value))
  def remove(key: Array[Byte]): Unit = sp("remove")(under.remove(key))
  def scan(prefix: Array[Byte]): KvScanIterator = {
    val it = sp("scan")(under.scan(prefix))
    new KvScanIterator {
      def hasNext: Boolean = sp("scan", 0L)(it.hasNext)
      def next(): (Array[Byte], Array[Byte]) = sp("scan", 0L)(it.next())
      def close(): Unit = it.close()
    }
  }
  def commit(): Unit = sp("commit")(under.commit())
  def abort(): Unit = sp("abort")(under.abort())
  def numKeys: Long = sp("stats")(under.numKeys)
  def sizeBytes: Long = sp("stats")(under.sizeBytes)
  override def lastCommitDurabilityMs: Long = under.lastCommitDurabilityMs
}

final class TimedBackend(under: SessionBackend, partition: Int) extends SessionBackend {
  def open(loadVersion: Long, commitVersion: Long): StoreSession = {
    val s = Trace.span("state.backend.open", loadVersion, partition)(under.open(loadVersion, commitVersion))
    new TimedStoreSession(s, loadVersion, partition)
  }
  def committedVersions(): Seq[Long] = under.committedVersions()
  def doMaintenance(minVersionsToRetain: Int): Unit =
    Trace.span("state.backend.maintenance", -1L, partition)(under.doMaintenance(minVersionsToRetain))
  def close(): Unit = under.close()
}

final class TimedKvClient(under: KvClient) extends KvClient {
  def get(key: Array[Byte]): Array[Byte] = Trace.span("state.kvclient.get")(under.get(key))
  def writeBatch(puts: Seq[(Array[Byte], Array[Byte])], deletes: Seq[Array[Byte]]): Unit =
    Trace.span("state.kvclient.writeBatch") {
      Trace.add("state.kvclient.writeBatch.bytes",
        puts.iterator.map(p => p._1.length.toLong + p._2.length).sum + deletes.iterator.map(_.length.toLong).sum)
      under.writeBatch(puts, deletes)
    }
  def scanPrefix(prefix: Array[Byte]): Iterator[(Array[Byte], Array[Byte])] =
    Trace.span("state.kvclient.scanPrefix") {
      // the RESP client already materialises the scan; listing it here
      // only counts the rows
      val rows = under.scanPrefix(prefix).toVector
      Trace.add("state.kvclient.scanPrefix.rows", rows.size.toLong)
      rows.iterator
    }
  def deletePrefix(prefix: Array[Byte]): Unit = Trace.span("state.kvclient.deletePrefix")(under.deletePrefix(prefix))
  def close(): Unit = under.close()
}

final class TimedStateStore(under: StateStore, partition: Int) extends StateStore {
  private def sp[T](op: String, count: Long = 1L)(body: => T): T =
    Trace.span(s"state.store.$op", under.version, partition, count)(body)
  private def timedIter[A](op: String, it: Iterator[A]): Iterator[A] = new Iterator[A] {
    def hasNext: Boolean = sp(op, 0L)(it.hasNext)
    def next(): A = sp(op, 0L)(it.next())
  }

  override def id: StateStoreId = under.id
  override def version: Long = under.version
  override def get(key: UnsafeRow, colFamilyName: String): UnsafeRow = sp("get")(under.get(key, colFamilyName))
  override def valuesIterator(key: UnsafeRow, colFamilyName: String): Iterator[UnsafeRow] =
    timedIter("valuesIterator", sp("valuesIterator")(under.valuesIterator(key, colFamilyName)))
  override def prefixScan(prefixKey: UnsafeRow, colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
    val it = sp("prefixScan")(under.prefixScan(prefixKey, colFamilyName))
    new StateStoreIterator(timedIter("prefixScan", it), () => it.close())
  }
  override def iterator(colFamilyName: String): StateStoreIterator[UnsafeRowPair] = {
    val it = sp("iterator")(under.iterator(colFamilyName))
    new StateStoreIterator(timedIter("iterator", it), () => it.close())
  }
  override def put(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit =
    sp("put")(under.put(key, value, colFamilyName))
  override def putList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
    sp("putList")(under.putList(key, values, colFamilyName))
  override def merge(key: UnsafeRow, value: UnsafeRow, colFamilyName: String): Unit =
    sp("merge")(under.merge(key, value, colFamilyName))
  override def mergeList(key: UnsafeRow, values: Array[UnsafeRow], colFamilyName: String): Unit =
    sp("mergeList")(under.mergeList(key, values, colFamilyName))
  override def remove(key: UnsafeRow, colFamilyName: String): Unit = sp("remove")(under.remove(key, colFamilyName))
  override def removeColFamilyIfExists(colFamilyName: String): Boolean = under.removeColFamilyIfExists(colFamilyName)
  override def createColFamilyIfAbsent(colFamilyName: String, keySchema: StructType, valueSchema: StructType,
      keyStateEncoderSpec: KeyStateEncoderSpec, useMultipleValuesPerKey: Boolean, isInternal: Boolean): Unit =
    under.createColFamilyIfAbsent(colFamilyName, keySchema, valueSchema, keyStateEncoderSpec,
      useMultipleValuesPerKey, isInternal)
  override def commit(): Long = sp("commit")(under.commit())
  override def abort(): Unit = sp("abort")(under.abort())
  override def release(): Unit = under.release()
  override def metrics: StateStoreMetrics = sp("metrics")(under.metrics)
  override def getStateStoreCheckpointInfo(): StateStoreCheckpointInfo = under.getStateStoreCheckpointInfo()
  override def hasCommitted: Boolean = under.hasCommitted
}

/** The RocksDB provider with every layer boundary timed (traced runs only). */
class TracedRocksDbProvider extends RocksDbStateStoreProvider {
  override protected def createBackend(): SessionBackend =
    new TimedBackend(super.createBackend(), storeId.partitionId)
  override def getStore(version: Long, uniqueId: Option[String]): StateStore =
    new TimedStateStore(super.getStore(version, uniqueId), storeId.partitionId)
}

/** The KV provider with every layer boundary timed, down to the KV client.
  * The client is chosen exactly as [[KvStateStoreProvider]] chooses it and
  * wrapped before the session backend sees it. */
class TracedKvProvider extends KvStateStoreProvider {
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
    new TimedBackend(new KvSessionBackend(prefix, new TimedKvClient(client)), storeId.partitionId)
  }
  override def getStore(version: Long, uniqueId: Option[String]): StateStore =
    new TimedStateStore(super.getStore(version, uniqueId), storeId.partitionId)
}
