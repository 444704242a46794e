package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Encoder
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
