package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Incremental perceptual AUDIO dedup over a stream — the online twin of
  * [[graft.operators.Multimodal.audioNearDupPairs]], closing the
  * streaming near-dup family across modalities (text LSH:
  * [[StreamingDedup]]; embeddings: [[StreamingCosineDedup]]; images:
  * [[StreamingImageDedup]]; video clips: [[StreamingVideoDedup]]; audio:
  * here). A continuously-ingesting audio crawl can't re-band the full
  * corpus per batch, so the band index lives in SPI state: each arriving
  * fingerprint probes exactly the 4 buckets its 8-bit bands land in,
  * compares popcount-hamming against the bucket's members, and joins the
  * bucket.
  *
  * Input is the fingerprint stream (`doc_id`, `fingerprint`) — in
  * production produced by [[graft.operators.Multimodal.audioFingerprint]]
  * on the decoded media stream (mapPartitions runs unchanged on a
  * streaming Dataset); only 12 B/clip ever reaches state, never PCM.
  * Bands are the same 4×8-bit split as the batch operator
  * ([[graft.operators.Multimodal.audioBands]] — one definition), so a
  * stream replay reproduces the batch candidate topology, with the
  * standing overflow semantics: batch retroactively drops a bucket that
  * exceeds `maxBucketSize`, the stream (Append mode, cannot retract)
  * stops admitting instead — a superset of batch on overflowed buckets,
  * identical everywhere else, and by pigeonhole LOSSLESS at the default
  * `maxHamming ≤ 3` for in-cap buckets.
  *
  * Scale notes mirror [[StreamingImageDedup]]: prospective admission
  * bound, per-member TTL so a long-running crawl's index is proportional
  * to the horizon window, membership counted from the live list, and a
  * pair colliding in b bands is emitted up to b times — dedupe
  * downstream with a state-backed `dropDuplicates("docA","docB")` under
  * the caller's watermark.
  */
object StreamingAudioDedup {

  case class BandedFp(band: Int, bval: Long, docId: Long, fp: Long)
  case class FpMember(docId: Long, fp: Long)
  case class AudioPair(docA: Long, docB: Long, hamming: Long)

  /** Near-dup audio pairs of a streaming fingerprint frame (columns
    * `doc_id`, `fingerprint`), emitted incrementally.
    *
    * @param ttl dedup horizon: bucket members expire this long after
    *        insertion (native TTL through our providers' TTL column
    *        families). `None` = remember forever.
    */
  def audioPairsStream(fingerprints: DataFrame, maxHamming: Int = 3,
                       maxBucketSize: Int = 64,
                       ttl: Option[java.time.Duration] = None): Dataset[AudioPair] = {
    require(maxHamming >= 0 && maxHamming <= 32, s"bad maxHamming $maxHamming")
    val spark = fingerprints.sparkSession
    import spark.implicits._
    val banded = fingerprints.select(
        posexplode(graft.operators.Multimodal.audioBands(col("fingerprint")))
          .as(Seq("band", "bval")),
        col("doc_id").as("docId"), col("fingerprint").as("fp"))
      .as[BandedFp]
    val (ttlConf, timeMode) = StateTtl(ttl)
    banded.groupByKey(h => (h.band, h.bval))
      .transformWithState(
        // popcount hamming over the 32-bit fingerprint word — the same
        // arithmetic as the batch operator and its SQL oracle
        new BandBucketProcessor[BandedFp, FpMember, AudioPair](
          maxBucketSize, ttlConf, Encoders.product[FpMember],
          h => FpMember(h.docId, h.fp), _.docId, (h, m) => {
            val d = java.lang.Long.bitCount(h.fp ^ m.fp)
            if (d > maxHamming) None
            else if (h.docId < m.docId) Some(AudioPair(h.docId, m.docId, d.toLong))
            else Some(AudioPair(m.docId, h.docId, d.toLong))
          }),
        timeMode, OutputMode.Append())
  }
}
