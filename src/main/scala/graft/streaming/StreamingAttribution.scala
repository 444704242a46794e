package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Last-touch attribution over an event STREAM — the online counterpart
  * of [[graft.operators.Sessionize.lastTouch]]: each entity keeps the
  * ordinal of its latest source-type event (one long per entity) and
  * every target-type event is emitted, credited, the micro-batch it
  * arrives — no nightly re-join over the full event log.
  *
  * Semantics vs batch: within a micro-batch, events fold in `eventId`
  * order, so a source and a target arriving in the same batch attribute
  * exactly as the batch window would; the strictly-before rule holds
  * because the fold credits BEFORE applying the current event's own
  * update. Across batches, a source event arriving late (after a target
  * it should have been credited for was already emitted) cannot
  * retroactively re-credit it — the price of incremental emission, same
  * trade as [[StreamingFunnel]].
  *
  * Scale notes: state is ONE long per entity (the smallest attribution
  * state possible), disk-resident under the RocksDB-backed provider; the
  * only shuffle is the entity-key exchange every stateful operator pays.
  * An optional TTL bounds state for entities that go quiet — attribution
  * windows ("credit clicks from the last 30 days") map directly onto it.
  */
object StreamingAttribution {

  case class AttrEvent(userId: Long, eventId: Long, eventType: String)
  /** `sourceId` is None when no source-type event preceded the target. */
  case class Attribution(userId: Long, targetId: Long, sourceId: Option[Long])

  class LastTouchProcessor(targetType: String, sourceType: String,
                           ttl: TTLConfig)
      extends StatefulProcessor[Long, AttrEvent, Attribution] {
    @transient private var lastSource: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastSource = getHandle.getValueState[Long]("lastSource",
        Encoders.scalaLong, ttl)

    override def handleInputRows(key: Long, rows: Iterator[AttrEvent],
                                 timerValues: TimerValues): Iterator[Attribution] = {
      val loaded: Option[Long] = if (lastSource.exists()) Some(lastSource.get()) else None
      var last = loaded
      val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
      // per-entity batch volumes are human-scale; the sort makes the
      // within-batch fold match the batch operator's (ord) order
      rows.toSeq.sortBy(_.eventId).foreach { e =>
        if (e.eventType == targetType) out += Attribution(key, e.eventId, last)
        // credit-then-update: a target never sees a source at/after its
        // own slot (the batch window's `rowsBetween(…, -1)` strictness)
        if (e.eventType == sourceType) last = Some(e.eventId)
      }
      // update only when this batch produced a NEW source event: an
      // unconditional rewrite would reset the TTL on every batch the
      // entity appears in, and a "30-day click window" would never
      // expire for a continually ACTIVE (but source-quiet) entity
      if (last != loaded) last.foreach(lastSource.update)
      out.iterator
    }
  }

  /** Attributed target events of a streaming `events` frame (columns
    * `user_id`, `event_id`, `event_type`), emitted incrementally.
    * Pass a finite `ttl` to bound the attribution window ("credit clicks
    * from the last 30 days"): the state TTL only re-arms on a NEW source
    * event, so a stale click expires at the horizon even for an entity
    * that stays active with target-type events. A finite TTL switches the
    * query to `TimeMode.ProcessingTime` — Spark rejects TTL'd state in
    * `TimeMode.None` (see [[StateTtl]]).
    */
  def lastTouchStream(events: DataFrame, targetType: String, sourceType: String,
                      ttl: Option[java.time.Duration] = None): Dataset[Attribution] = {
    require(targetType != sourceType,
      "lastTouchStream: target and source types must differ")
    val spark = events.sparkSession
    import spark.implicits._
    val (ttlConf, timeMode) = StateTtl(ttl)
    events.select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("event_type").as("eventType"))
      .as[AttrEvent]
      .groupByKey(_.userId)
      .transformWithState(new LastTouchProcessor(targetType, sourceType, ttlConf),
        timeMode, OutputMode.Append())
  }

  // -------------------------------------------------------------------
  // Out-of-order (event-time) variant

  case class TimedAttrEvent(userId: Long, eventId: Long, eventType: String,
                            ts: java.sql.Timestamp)
  case class BufferedAttr(eventType: String, tsMs: Long)
  /** Latest source event: ordinal + its EVENT time, so the attribution
    * window is measured on the event-time axis (`target.ts - source.ts`),
    * not on processing time — Spark's state TTL is processing-time-only
    * and is rejected outright in `TimeMode.EventTime`.
    */
  case class SourceMark(ord: Long, tsMs: Long)

  /** Event-time last-touch that tolerates OUT-OF-ORDER delivery up to the
    * watermark delay: events buffer in per-entity MapState keyed by their
    * ordinal and fold (credit-then-update, ordinal order) only when the
    * watermark passes their event time — so a source event arriving
    * AFTER a later-ordered target, but within the delay, still gets the
    * credit, exactly as the batch window operator would assign it. The
    * in-order [[LastTouchProcessor]] instead emits the batch an event
    * arrives and documents in-order delivery as its contract.
    *
    * Same state shape and bounds as
    * [[StreamingFunnel.OrderedFunnelProcessor]]: buffer ∝ event rate ×
    * watermark delay, one long + one timer per entity besides it.
    */
  class OrderedLastTouchProcessor(targetType: String, sourceType: String,
                                  horizonMs: Option[Long])
      extends StatefulProcessor[Long, TimedAttrEvent, Attribution] {
    @transient private var lastSource: ValueState[SourceMark] = _
    @transient private var buffer: EventTimeBuffer[BufferedAttr] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastSource = getHandle.getValueState[SourceMark]("lastSource",
        Encoders.product[SourceMark], TTLConfig.NONE)
      buffer = new EventTimeBuffer(getHandle, Encoders.product[BufferedAttr], _.tsMs)
    }

    override def handleInputRows(key: Long, rows: Iterator[TimedAttrEvent],
                                 timerValues: TimerValues): Iterator[Attribution] = {
      buffer.add(rows.map(e => e.eventId -> BufferedAttr(e.eventType, e.ts.getTime)))
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Attribution] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val loaded: Option[SourceMark] =
        if (lastSource.exists()) Some(lastSource.get()) else None
      var last = loaded
      val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
      buffer.takeRipe(wm).foreach { case (ord, b) =>
        if (b.eventType == targetType)
          // the attribution window is event-time: credit only a source
          // within `horizonMs` of the TARGET's own event time — an
          // entity active with target events cannot keep a stale source
          // creditable (the batch-window "30-day click window" exactly)
          out += Attribution(key, ord,
            last.filter(m => horizonMs.forall(h => b.tsMs - m.tsMs <= h)).map(_.ord))
        if (b.eventType == sourceType) last = Some(SourceMark(ord, b.tsMs))
      }
      // rewrite only on a NEW source event (no pointless state churn)
      if (last != loaded) last.foreach(lastSource.update)
      // a source already beyond the horizon of the WATERMARK can never be
      // credited again (targets at/after the watermark are even later) —
      // clear it so dormant entities don't hold state forever
      if (horizonMs.exists(h => last.exists(m => wm - m.tsMs > h)))
        lastSource.clear()
      out.iterator
    }
  }

  /** [[lastTouchStream]] with out-of-order tolerance: `events` must carry
    * an event-time column `tsCol`; late/reordered events within
    * `watermarkDelay` fold in ordinal order regardless of arrival order
    * (a late source re-credits targets it precedes, as batch would).
    * Emission waits one watermark delay; events later than the delay are
    * dropped by the watermark.
    *
    * `horizon` is the attribution window on the EVENT-TIME axis: a target
    * credits a source only when `target.ts - source.ts <= horizon`
    * (processing-time TTL would be both wrong for out-of-order data and
    * rejected by Spark in `TimeMode.EventTime`).
    */
  def lastTouchStreamEventTime(events: DataFrame, targetType: String,
                               sourceType: String,
                               tsCol: String = "ts",
                               watermarkDelay: String = "10 seconds",
                               horizon: Option[java.time.Duration] = None): Dataset[Attribution] = {
    require(targetType != sourceType,
      "lastTouchStreamEventTime: target and source types must differ")
    val spark = events.sparkSession
    import spark.implicits._
    events.withWatermark(tsCol, watermarkDelay)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("event_type").as("eventType"), col(tsCol).as("ts"))
      .as[TimedAttrEvent]
      .groupByKey(_.userId)
      .transformWithState(new OrderedLastTouchProcessor(targetType, sourceType,
          horizon.map(_.toMillis)),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
