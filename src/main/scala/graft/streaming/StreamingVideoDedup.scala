package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Incremental CLIP-level video near-dup over a stream — the online twin
  * of [[graft.operators.Multimodal.videoNearDupClips]], and the one
  * streaming member of the near-dup family whose unit of dedup (the
  * clip) is not its unit of fingerprinting (the frame): text LSH is
  * [[StreamingDedup]], embeddings [[StreamingCosineDedup]], images
  * [[StreamingImageDedup]], clips here. TWO chained stateful operators
  * (the chained-stateful pattern the SPI suites gate):
  *
  *  1. per-(band, bval) FRAME index in SPI ListState — each arriving
  *     keyframe fingerprint probes exactly its 4 byte-band buckets and
  *     emits matched cross-clip frame pairs (the batch candidate
  *     topology, incrementally);
  *  2. per-(clip pair) accumulator — distinct matched `frame_a`s in
  *     ListState; the pair is emitted EXACTLY ONCE, at the moment its
  *     matched fraction crosses `minFrac` of `doc_a`'s keyframe count
  *     (which rides every fingerprint row, the batch operator's n_key
  *     rider discipline — no side lookup).
  *
  * Input is the keyframe-fingerprint stream (`doc_id`, `frame_idx`,
  * `dhash_hi`, `dhash_lo`, `n_key`) — in production produced by
  * [[graft.operators.Multimodal.dHashFrames]] over
  * [[graft.operators.Multimodal.withVideoKeyframes]] (mapPartitions
  * codecs run unchanged on streaming Datasets); 28 B/frame reaches
  * state, never media bytes.
  *
  * Divergences from batch, both shared with the family: the bucket cap
  * is prospective admission (batch drops overflowed buckets
  * retroactively — parity holds under the cap), and emission carries
  * the counts AT CROSSING, not the final totals (the emitted pair SET
  * equals batch's at equal inputs; StreamingVideoDedupSuite gates it).
  */
object StreamingVideoDedup {

  case class BandedFrame(band: Int, bval: Long, docId: Long, frameIdx: Int,
                         hi: Long, lo: Long, nKey: Int)
  case class FrameMember(docId: Long, frameIdx: Int, hi: Long, lo: Long,
                         nKey: Int)
  /** Oriented matched frame pair: `docA < docB`, `frameA`/`nKeyA` from
    * the a-side (the batch operator's denominator convention). */
  case class FrameMatch(docA: Long, frameA: Int, docB: Long, nKeyA: Int)
  case class ClipPair(docA: Long, docB: Long, nMatched: Int, nKeyA: Int)

  /** Stage 2: per-(clip pair) threshold crossing — distinct matched
    * a-side frames accumulate (a pair colliding in several bands arrives
    * several times; the list dedups it), and the pair emits exactly once
    * when `matched / nKeyA` reaches `minFrac`. */
  class ClipPairProcessor(minFrac: Double, ttl: TTLConfig)
      extends StatefulProcessor[(Long, Long), FrameMatch, ClipPair] {
    @transient private var frames: ListState[Int] = _
    @transient private var emitted: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      frames = getHandle.getListState[Int]("frames", Encoders.scalaInt, ttl)
      emitted = getHandle.getValueState[Boolean]("emitted",
        Encoders.scalaBoolean, ttl)
    }

    override def handleInputRows(key: (Long, Long), rows: Iterator[FrameMatch],
                                 timerValues: TimerValues): Iterator[ClipPair] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[ClipPair]
      // one state read per key per batch; the local mirrors absorb the
      // per-row updates (same-batch duplicate band hits dedup against
      // the set, not a re-deserialized list)
      var isEmitted = emitted.exists()
      var seen = if (isEmitted) Set.empty[Int] else frames.get().toSet
      rows.foreach { m =>
        if (!isEmitted && !seen.contains(m.frameA)) {
          frames.appendValue(m.frameA)
          seen += m.frameA
          if (seen.size.toDouble / m.nKeyA >= minFrac) {
            out += ClipPair(m.docA, m.docB, seen.size, m.nKeyA)
            emitted.update(true)
            isEmitted = true
          }
        }
      }
      out.iterator
    }
  }

  /** Near-dup clip pairs of a streaming keyframe-fingerprint frame,
    * each emitted exactly once at the `minFrac` crossing.
    *
    * @param ttl dedup horizon for BOTH states: frame-index members and
    *        clip-pair accumulators expire this long after last update.
    */
  def clipPairsStream(frameHashes: DataFrame, maxHamming: Int = 3,
                      maxBucketSize: Int = 64, minFrac: Double = 0.5,
                      ttl: Option[java.time.Duration] = None): Dataset[ClipPair] = {
    require(maxHamming >= 0 && maxHamming <= 64, s"bad maxHamming $maxHamming")
    require(minFrac > 0.0 && minFrac <= 1.0,
      s"bad minFrac $minFrac (0 would emit every candidate pair immediately)")
    val spark = frameHashes.sparkSession
    import spark.implicits._
    val banded = frameHashes.select(
        posexplode(graft.operators.Multimodal.dHashBands(
          col("dhash_hi"), col("dhash_lo"))).as(Seq("band", "bval")),
        col("doc_id").as("docId"), col("frame_idx").as("frameIdx"),
        col("dhash_hi").as("hi"), col("dhash_lo").as("lo"),
        col("n_key").cast("int").as("nKey"))
      .as[BandedFrame]
    val (ttlConf, timeMode) = StateTtl(ttl)
    banded.groupByKey(h => (h.band, h.bval))
      .transformWithState(
        // stage 1: hamming against bucket members of OTHER clips
        new BandBucketProcessor[BandedFrame, FrameMember, FrameMatch](
          maxBucketSize, ttlConf, Encoders.product[FrameMember],
          h => FrameMember(h.docId, h.frameIdx, h.hi, h.lo, h.nKey), _.docId,
          (h, m) => {
            val d = java.lang.Long.bitCount(h.hi ^ m.hi) +
              java.lang.Long.bitCount(h.lo ^ m.lo)
            if (d > maxHamming) None
            else if (h.docId < m.docId) Some(FrameMatch(h.docId, h.frameIdx, m.docId, h.nKey))
            else Some(FrameMatch(m.docId, m.frameIdx, h.docId, m.nKey))
          }),
        timeMode, OutputMode.Append())
      .groupByKey(m => (m.docA, m.docB))
      .transformWithState(
        new ClipPairProcessor(minFrac, ttlConf),
        timeMode, OutputMode.Append())
  }
}
