package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Online duplicated-gram detection — the streaming half of the
  * exact-substring span surface ([[graft.operators.TextOps
  * .maximalDupSpans]] / `dupSpansIncremental`): a continuously-ingesting
  * corpus can't recount gram dfs per batch, so the per-gram document
  * census lives in SPI state, and every positioned gram occurrence is
  * emitted EXACTLY ONCE the moment its gram is known to appear in ≥ 2
  * distinct docs (the q90 cross-doc dup definition — within-doc repeats
  * alone never fire). Downstream, the per-doc island fold is
  * [[graft.operators.TextOps.maximalDupSpans]]'s batch machinery over
  * the emitted positions — islands grow as emissions accumulate, so the
  * fold runs at read time (the consumers-keep-latest contract
  * `dupSpansIncremental` documents).
  *
  * Per-gram state: a held-back occurrence list while the gram is still
  * single-doc (released in full at the crossing), then a single boolean
  * — O(first doc's occurrences) per gram, dropping to O(1) once
  * duplicated. `maxPending` bounds the held-back list against a
  * pathological single-doc gram flood (a doc repeating one gram
  * millions of times): past the bound, further SAME-doc occurrences are
  * dropped from the pending list (they can never change the crossing —
  * only a NEW doc fires it) — the crossing itself stays exact.
  *
  * Input: the positioned gram stream (`doc_id`, `pos`, `gram` — gram as
  * a LONG key, `xxhash64` of the gram text, the hashed production tier;
  * produced by the same projection the batch path uses, which runs
  * unchanged on a streaming frame). Emits `(docId, pos)` rows.
  */
object StreamingDupGrams {

  case class GramOcc(gram: Long, docId: Long, pos: Int)
  case class DupPos(docId: Long, pos: Int)

  class GramCensusProcessor(maxPending: Int)
      extends StatefulProcessor[Long, GramOcc, DupPos] {
    @transient private var dup: ValueState[Boolean] = _
    @transient private var pending: ListState[DupPos] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      dup = getHandle.getValueState[Boolean]("dup",
        Encoders.scalaBoolean, TTLConfig.NONE)
      pending = getHandle.getListState[DupPos]("pending",
        Encoders.product[DupPos], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[GramOcc],
                                 timerValues: TimerValues): Iterator[DupPos] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[DupPos]
      // one read of each state per key per batch; the local mirrors
      // absorb the per-row updates instead of re-decoding up to
      // `maxPending` held occurrences for every input row
      var isDup = dup.exists() && dup.get()
      val held = scala.collection.mutable.ArrayBuffer.empty[DupPos]
      if (!isDup) held ++= pending.get()
      rows.foreach { o =>
        if (isDup) {
          out += DupPos(o.docId, o.pos) // already duplicated: emit-through
        } else if (held.isEmpty || held.head.docId == o.docId) {
          // still single-doc (everything held is one doc's): hold back
          // (bounded — a same-doc flood can never fire the crossing, so
          // dropping its tail is safe)
          if (held.length < maxPending) {
            pending.appendValue(DupPos(o.docId, o.pos))
            held += DupPos(o.docId, o.pos)
          }
        } else {
          // SECOND distinct doc: the gram just became duplicated —
          // release everything held, emit the arrival, flip the flag
          out ++= held
          out += DupPos(o.docId, o.pos)
          dup.update(true)
          pending.clear()
          held.clear()
          isDup = true
        }
      }
      out.iterator
    }
  }

  /** Duplicated positions of a streaming positioned-gram frame (columns
    * `doc_id`, `pos`, `gram`: long), each emitted exactly once. */
  def dupPositionsStream(gramPos: DataFrame,
                         maxPending: Int = 4096): Dataset[DupPos] = {
    require(maxPending > 0, s"maxPending must be positive, got $maxPending")
    val spark = gramPos.sparkSession
    import spark.implicits._
    gramPos.select(col("gram").cast("long").as("gram"),
        col("doc_id").as("docId"), col("pos").cast("int").as("pos"))
      .as[GramOcc]
      .groupByKey(_.gram)
      .transformWithState(new GramCensusProcessor(maxPending),
        TimeMode.None(), OutputMode.Append())
  }
}
