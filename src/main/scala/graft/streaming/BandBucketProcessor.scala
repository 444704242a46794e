package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** The per-(band, bucket) compare-then-join processor of the streaming
  * near-dup family ([[StreamingDedup]], [[StreamingCosineDedup]],
  * [[StreamingImageDedup]], [[StreamingAudioDedup]] and the frame stage
  * of [[StreamingVideoDedup]]). The bucket's members live in a ListState;
  * each arrival is compared against the members of OTHER documents,
  * emits every pair `matchOf` accepts, and joins the bucket.
  *
  * The operators differ only in what a member holds and in `matchOf`,
  * which gets `(arrival, member)` and returns the oriented output pair
  * when the two are similar enough.
  *
  * Admission is prospective: a bucket holding `maxBucketSize` live
  * members admits nothing and computes nothing, so a degenerate bucket
  * stops generating O(n²) pairs (batch drops such buckets
  * retroactively; a stream cannot buffer the future). Membership is
  * counted from the live list rather than a persisted counter: with a
  * TTL, members expire individually, and a counter would wedge a "full"
  * bucket whose members have long expired.
  *
  * The list is read once per key per batch and the processor's own
  * appends are mirrored in a local buffer, so same-batch arrivals still
  * pair with each other. Expiry is judged against the batch timestamp,
  * so one read per batch sees the same live members as a read per row.
  */
class BandBucketProcessor[In, M, P](
    maxBucketSize: Int, ttl: TTLConfig, memberEncoder: Encoder[M],
    member: In => M, docId: M => Long, matchOf: (M, M) => Option[P])
    extends StatefulProcessor[(Int, Long), In, P] {
  @transient private var members: ListState[M] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    members = getHandle.getListState[M]("members", memberEncoder, ttl)

  override def handleInputRows(key: (Int, Long), rows: Iterator[In],
                               timerValues: TimerValues): Iterator[P] = {
    val out = ArrayBuffer.empty[P]
    val bucket = ArrayBuffer.empty[M]
    bucket ++= members.get()
    rows.foreach { row =>
      if (bucket.length < maxBucketSize) {
        val added = member(row)
        val id = docId(added)
        bucket.foreach(m => if (docId(m) != id) out ++= matchOf(added, m))
        members.appendValue(added)
        bucket += added
      }
    }
    out.iterator
  }
}

/** TTL'd state needs a processing-time clock; state without a TTL runs
  * with no time mode at all (Spark rejects TTL'd state in
  * `TimeMode.None`). */
private[streaming] object StateTtl {
  def apply(ttl: Option[java.time.Duration]): (TTLConfig, TimeMode) = ttl match {
    case Some(d) => (TTLConfig(d), TimeMode.ProcessingTime())
    case None    => (TTLConfig.NONE, TimeMode.None())
  }
}

/** The per-key event-time reorder buffer of the out-of-order operators
  * ([[StreamingFunnel.OrderedFunnelProcessor]],
  * [[StreamingAttribution.OrderedLastTouchProcessor]]): events wait in a
  * `buffer` MapState keyed by their ordinal until the watermark passes
  * their event time, so each operator folds them in ordinal order. A
  * `minTs` ValueState holds the earliest buffered event time, which keeps
  * re-arming the key's one timer O(1) per batch instead of a buffer scan.
  * Build it in the processor's `init`: the two state names are part of
  * the checkpoint schema.
  */
private[streaming] final class EventTimeBuffer[V](
    handle: StatefulProcessorHandle, encoder: Encoder[V], tsMs: V => Long) {
  private val buffer = handle.getMapState[Long, V]("buffer",
    Encoders.scalaLong, encoder, TTLConfig.NONE)
  private val minTs = handle.getValueState[Long]("minTs",
    Encoders.scalaLong, TTLConfig.NONE)

  private def rearm(expiryMs: Long): Unit = {
    handle.listTimers().foreach(t => handle.deleteTimer(t.asInstanceOf[Long]))
    handle.registerTimer(expiryMs)
    minTs.update(expiryMs)
  }

  /** Buffer `(ordinal, event)` pairs and arm the timer at the earliest
    * buffered event time. */
  def add(events: Iterator[(Long, V)]): Unit = {
    var newMin = if (minTs.exists()) minTs.get() else Long.MaxValue
    events.foreach { case (ord, v) =>
      buffer.updateValue(ord, v)
      if (tsMs(v) < newMin) newMin = tsMs(v)
    }
    if (newMin != Long.MaxValue) rearm(newMin)
  }

  /** Remove the entries whose event time the watermark has passed and
    * return them in ordinal order; the timer is re-armed for the rest. */
  def takeRipe(watermarkMs: Long): Seq[(Long, V)] = {
    val (ripe, rest) = buffer.iterator().toSeq.partition(e => tsMs(e._2) <= watermarkMs)
    ripe.foreach(e => buffer.removeKey(e._1))
    if (rest.nonEmpty) rearm(rest.map(e => tsMs(e._2)).min) else minTs.clear()
    ripe.sortBy(_._1)
  }
}
