package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming as-of join — the online twin of
  * [[graft.operators.AdvancedJoins.asOfJoin]], completing the behavioral
  * streaming family (sessionize / funnel / attribution / heavy hitters /
  * here). The canonical ask is late-quote enrichment: a purchase stream
  * must carry the most recent quote/click at or before it, per key,
  * without re-sorting history every micro-batch.
  *
  * State is O(1) PER KEY by construction: because every lookup is "most
  * recent build row with ord ≤ probe.ord", only the NEWEST build row per
  * key can ever answer a future probe — a `ValueState[(ord, bval)]`, not
  * a buffer of the build stream (the q127 tolerance bound then gates the
  * answer at emit time, and the optional TTL expires long-idle keys).
  *
  * Semantics match batch exactly (gated in StreamingAsOfJoinSuite ×2
  * backends):
  *  - probe at ord t matches build ord ≤ t (build-before-probe at equal
  *    ord);
  *  - build ties on (key, ord) break to the LARGEST bval — the batch
  *    operator's documented value-based tie-break;
  *  - `tolerance`: a match older than `tolerance` ord units (strict
  *    probe.ord − build.ord > tolerance) yields None — pandas
  *    `merge_asof(tolerance=...)` / kdb `wj` semantics;
  *  - a probe with no eligible build row yields None (emitted, not
  *    dropped — the batch operator keeps unmatched probes too).
  *
  * Replay contract: rows WITHIN a micro-batch are re-sorted to event
  * order per key, so intra-batch disorder is absorbed; ACROSS
  * micro-batches the per-key interleaving must respect event order (a
  * build row arriving after a probe it should have answered is the
  * classic late-data gap — bound it upstream with a watermark-sized
  * micro-batch delay). Under that contract a stream replay is
  * row-identical to batch `asOfJoin` on the union of the batches.
  */
object StreamingAsOfJoin {

  case class AsOfEvent(key: Long, ord: Long, isProbe: Boolean, id: Long,
                       bval: Option[Long])
  case class BuildSnap(ord: Long, bval: Option[Long])
  case class AsOfRow(key: Long, ord: Long, id: Long, asofVal: Option[Long])

  /** Per-key processor: replay the batch window's exact visit order
    * (ord, build-before-probe, bval) over the micro-batch, carrying the
    * newest build row in ValueState.
    */
  class AsOfProcessor(tolerance: Option[Long], ttl: TTLConfig)
      extends StatefulProcessor[Long, AsOfEvent, AsOfRow] {
    @transient private var newest: ValueState[BuildSnap] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      newest = getHandle.getValueState[BuildSnap]("newest",
        Encoders.product[BuildSnap], ttl)

    override def handleInputRows(key: Long, rows: Iterator[AsOfEvent],
                                 timerValues: TimerValues): Iterator[AsOfRow] = {
      // micro-batch rows arrive in shuffle order; restore the batch
      // window's sort (ord asc, build before probe, bval asc so the
      // largest build value is applied last at equal ord)
      // Option[Long] bval mirrors batch NULL handling exactly: a build
      // row with a NULL value still CARRIES (its struct is non-null in
      // the batch window), answers probes with NULL, and loses equal-ord
      // ties to any non-null value (None < Some — batch's nulls-first
      // ascending sort). A primitive Long here would kill the query on
      // the first null-valued build row.
      val sorted = rows.toArray.sortBy(e => (e.ord, e.isProbe, e.bval))
      val out = scala.collection.mutable.ArrayBuffer.empty[AsOfRow]
      val optOrd = Ordering[Option[Long]]
      var st = Option(newest.get())
      sorted.foreach { e =>
        if (!e.isProbe) {
          if (st.forall(s => e.ord > s.ord ||
              (e.ord == s.ord && optOrd.compare(e.bval, s.bval) > 0)))
            st = Some(BuildSnap(e.ord, e.bval))
        } else {
          // as-of looks BACKWARD only: a state row newer than the probe
          // (possible under out-of-order replay across batches) never
          // answers it
          val hit = st.filter(s => s.ord <= e.ord &&
            tolerance.forall(t => e.ord - s.ord <= t))
          out += AsOfRow(key, e.ord, e.id, hit.flatMap(_.bval))
        }
      }
      st.foreach(newest.update)
      out.iterator
    }
  }

  /** As-of join a streaming probe frame (`key`, `ord`, `probeId` — Long
    * columns) against a streaming build frame (`key`, `ord`, `buildVal`).
    * Emits one [[AsOfRow]] per probe row in Append mode.
    *
    * @param tolerance max probe.ord − build.ord for a match (None =
    *        unbounded), the q127 bound as the state horizon
    * @param ttl expire a key's carried build row this long after its
    *        last update — bounds state to the active-key set on an
    *        unbounded key space
    */
  def asOfJoinStream(probe: DataFrame, build: DataFrame,
                     key: String, ord: String, probeId: String,
                     buildVal: String, tolerance: Option[Long] = None,
                     ttl: Option[java.time.Duration] = None): Dataset[AsOfRow] = {
    tolerance.foreach(t => require(t >= 0,
      s"asOfJoinStream: tolerance must be >= 0, got $t"))
    val spark = probe.sparkSession
    import spark.implicits._
    val p = probe.select(col(key).cast("long").as("key"),
      col(ord).cast("long").as("ord"), lit(true).as("isProbe"),
      col(probeId).cast("long").as("id"),
      lit(null).cast("long").as("bval"))
    val b = build.select(col(key).cast("long").as("key"),
      col(ord).cast("long").as("ord"), lit(false).as("isProbe"),
      lit(0L).as("id"), col(buildVal).cast("long").as("bval"))
    val (ttlConf, timeMode) = StateTtl(ttl)
    p.unionByName(b).as[AsOfEvent]
      .groupByKey(_.key)
      .transformWithState(new AsOfProcessor(tolerance, ttlConf),
        timeMode, OutputMode.Append())
  }
}
