package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Ordered-funnel tracking over an event STREAM — the online counterpart
  * of [[graft.operators.Sessionize.funnel]]: each entity's progress
  * through `steps` lives in keyed state (one tiny record per entity) and
  * every advance is emitted the micro-batch it happens, so a conversion
  * dashboard follows the funnel live instead of recomputing it from
  * scratch per refresh.
  *
  * Semantics vs batch: within a micro-batch, events fold in `eventId`
  * order (arrival order inside a batch is not the event order); across
  * batches, processing order is arrival order — an event arriving AFTER
  * a later-ordered event has already advanced the funnel cannot
  * retroactively rewind it (the batch operator, seeing everything, would
  * have used the earlier event). With per-entity in-order delivery —
  * the common case for keyed event logs — streaming advances equal the
  * batch funnel exactly (spec-gated).
  *
  * Scale notes: state is ONE (step, lastOrd) pair per entity — the
  * smallest possible footprint, disk-resident under the RocksDB-backed
  * provider; the shuffle is the same single entity-key exchange every
  * stateful operator pays. Step count bounds per-event work at O(1).
  */
object StreamingFunnel {

  case class FunnelEvent(userId: Long, eventId: Long, eventType: String)
  /** `step` is 0-based: step 0 = first `steps(0)` event seen. */
  case class StepAdvance(userId: Long, step: Int, eventId: Long)
  case class Progress(step: Int, lastOrd: Long)

  class FunnelProcessor(steps: Seq[String])
      extends StatefulProcessor[Long, FunnelEvent, StepAdvance] {
    @transient private var progress: ValueState[Progress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      progress = getHandle.getValueState[Progress]("progress",
        Encoders.product[Progress], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
                                 timerValues: TimerValues): Iterator[StepAdvance] = {
      var st = if (progress.exists()) progress.get() else Progress(-1, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[StepAdvance]
      // per-entity batch volumes are human-scale; sort is cheap and makes
      // the within-batch fold order-deterministic
      rows.toSeq.sortBy(_.eventId).foreach { e =>
        if (st.step + 1 < steps.length && e.eventType == steps(st.step + 1) &&
            e.eventId > st.lastOrd) {
          st = Progress(st.step + 1, e.eventId)
          out += StepAdvance(key, st.step, e.eventId)
        }
      }
      if (out.nonEmpty) progress.update(st)
      out.iterator
    }
  }

  /** Step advances of a streaming `events` frame (columns `user_id`,
    * `event_id`, `event_type`), emitted incrementally. Steps mirror
    * [[graft.operators.Sessionize.funnel]].
    */
  def funnelStream(events: DataFrame, steps: Seq[String]): Dataset[StepAdvance] = {
    require(steps.nonEmpty, "funnelStream: empty step list")
    require(steps.distinct.size == steps.size,
      s"funnelStream: duplicate step types in $steps")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("event_type").as("eventType"))
      .as[FunnelEvent]
      .groupByKey(_.userId)
      .transformWithState(new FunnelProcessor(steps),
        TimeMode.None(), OutputMode.Append())
  }

  // -------------------------------------------------------------------
  // Out-of-order (event-time) variant

  case class TimedFunnelEvent(userId: Long, eventId: Long, eventType: String,
                              ts: java.sql.Timestamp)
  case class Buffered(eventType: String, tsMs: Long)

  /** Event-time funnel that tolerates OUT-OF-ORDER delivery up to the
    * watermark delay: events buffer in per-entity MapState keyed by their
    * ordinal, and fold through the funnel only when the WATERMARK passes
    * their event time — at which point every earlier-ordered event that
    * can still arrive has arrived, so the fold equals the batch operator
    * exactly (the in-order [[FunnelProcessor]] instead trades this for
    * zero emission latency and documents in-order delivery as a
    * contract). Trade: advances emit one watermark delay late.
    *
    * Scale notes: buffer size per entity is bounded by its event rate ×
    * watermark delay (MapState rows, disk-resident under the RocksDB
    * provider); each finalization drains only ripe entries (see
    * [[EventTimeBuffer]]).
    */
  class OrderedFunnelProcessor(steps: Seq[String])
      extends StatefulProcessor[Long, TimedFunnelEvent, StepAdvance] {
    @transient private var progress: ValueState[Progress] = _
    @transient private var buffer: EventTimeBuffer[Buffered] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      progress = getHandle.getValueState[Progress]("progress",
        Encoders.product[Progress], TTLConfig.NONE)
      buffer = new EventTimeBuffer(getHandle, Encoders.product[Buffered], _.tsMs)
    }

    override def handleInputRows(key: Long, rows: Iterator[TimedFunnelEvent],
                                 timerValues: TimerValues): Iterator[StepAdvance] = {
      buffer.add(rows.map(e => e.eventId -> Buffered(e.eventType, e.ts.getTime)))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[StepAdvance] = {
      var st = if (progress.exists()) progress.get() else Progress(-1, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[StepAdvance]
      buffer.takeRipe(timerValues.getCurrentWatermarkInMs()).foreach { case (ord, b) =>
        if (st.step + 1 < steps.length && b.eventType == steps(st.step + 1) &&
            ord > st.lastOrd) {
          st = Progress(st.step + 1, ord)
          out += StepAdvance(key, st.step, ord)
        }
      }
      if (out.nonEmpty) progress.update(st)
      out.iterator
    }
  }

  /** [[funnelStream]] with out-of-order tolerance: `events` must carry an
    * event-time column `tsCol`; late/reordered events within
    * `watermarkDelay` fold in ordinal order regardless of arrival order.
    * Events later than the delay are dropped by the watermark — the
    * standard streaming completeness/latency trade.
    */
  def funnelStreamEventTime(events: DataFrame, steps: Seq[String],
                            tsCol: String = "ts",
                            watermarkDelay: String = "10 seconds"): Dataset[StepAdvance] = {
    require(steps.nonEmpty, "funnelStreamEventTime: empty step list")
    require(steps.distinct.size == steps.size,
      s"funnelStreamEventTime: duplicate step types in $steps")
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark(tsCol, watermarkDelay)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("event_type").as("eventType"), col(tsCol).as("ts"))
      .as[TimedFunnelEvent]
      .groupByKey(_.userId)
      .transformWithState(new OrderedFunnelProcessor(steps),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
