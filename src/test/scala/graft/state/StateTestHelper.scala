package graft.state

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.streaming.state._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tiny stand-in for Spark's test-jar `StateStoreTestsHelper` (offline
  * build has no test-jar — SURVEY.md §5): UnsafeRow fixtures for the
  * reference suites' canonical string-key → int-value schema
  * (reference RocksDbStateStoreHelper.scala:18-19).
  */
object StateTestHelper {
  val keySchema: StructType = StructType(Seq(StructField("key", StringType, nullable = true)))
  val valueSchema: StructType = StructType(Seq(StructField("value", IntegerType, nullable = true)))

  private val keyProj = UnsafeProjection.create(Array[DataType](StringType))
  private val valueProj = UnsafeProjection.create(Array[DataType](IntegerType))

  def keyRow(s: String): UnsafeRow =
    keyProj.apply(InternalRow(UTF8String.fromString(s))).copy()
  def valueRow(i: Int): UnsafeRow =
    valueProj.apply(InternalRow(i)).copy()

  def keyOf(row: UnsafeRow): String = row.getUTF8String(0).toString
  def valueOf(row: UnsafeRow): Int = row.getInt(0)

  def rowPairsToMap(iter: Iterator[UnsafeRowPair]): Map[String, Int] =
    iter.map(p => keyOf(p.key) -> valueOf(p.value)).toMap

  def storeConf(extra: Map[String, String] = Map.empty,
                minVersionsToRetain: Int = 3): StateStoreConf = {
    val sqlConf = new SQLConf
    sqlConf.setConf(SQLConf.MIN_BATCHES_TO_RETAIN, minVersionsToRetain)
    extra.foreach { case (k, v) => sqlConf.setConfString(k, v) }
    new StateStoreConf(sqlConf, Map.empty)
  }

  def newStoreId(checkpointDir: String, partition: Int = 0): StateStoreId =
    StateStoreId(checkpointDir, operatorId = 0, partitionId = partition)

  /** init a provider with the canonical schemas over a checkpoint dir. */
  def initProvider[P <: GraftStateStoreProviderBase](
      provider: P,
      checkpointDir: String,
      conf: StateStoreConf = storeConf(),
      multiValue: Boolean = false,
      partition: Int = 0): P = {
    provider.init(
      newStoreId(checkpointDir, partition),
      keySchema,
      valueSchema,
      NoPrefixKeyStateEncoderSpec(keySchema),
      useColumnFamilies = false,
      conf,
      new Configuration(),
      useMultipleValuesPerKey = multiValue,
      stateSchemaProvider = None)
    provider
  }

  def put(store: StateStore, key: String, value: Int): Unit =
    store.put(keyRow(key), valueRow(value), StateStore.DEFAULT_COL_FAMILY_NAME)

  def get(store: ReadStateStore, key: String): Option[Int] =
    Option(store.get(keyRow(key), StateStore.DEFAULT_COL_FAMILY_NAME)).map(valueOf)

  def remove(store: StateStore, key: String): Unit =
    store.remove(keyRow(key), StateStore.DEFAULT_COL_FAMILY_NAME)

  def contents(store: ReadStateStore): Map[String, Int] =
    rowPairsToMap(store.iterator(StateStore.DEFAULT_COL_FAMILY_NAME))

  /** Commits versions `from..to`, version v adding key k<v> = v. */
  def commitVersions(p: StateStoreProvider, from: Int, to: Int): Unit =
    (from to to).foreach { v =>
      val s = p.getStore(v - 1, None)
      put(s, s"k$v", v)
      s.commit()
    }

  /** The state `commitVersions(p, 1, upTo)` leaves. */
  def model(upTo: Int): Map[String, Int] = (1 to upTo).map(v => s"k$v" -> v).toMap
}
