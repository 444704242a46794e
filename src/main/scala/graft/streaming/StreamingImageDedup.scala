package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Incremental perceptual IMAGE dedup over a stream — the online twin of
  * [[graft.operators.Multimodal.imageNearDupPairs]], completing the
  * streaming near-dup family (text LSH: [[StreamingDedup]]; embeddings:
  * [[StreamingCosineDedup]]; images: here). A continuously-ingesting
  * media crawl can't re-band the full corpus per batch, so the band
  * index lives in SPI state: each arriving fingerprint probes exactly
  * the 4 buckets its 16-bit bands land in, compares hamming against the
  * bucket's members, and joins the bucket.
  *
  * Input is the fingerprint stream (`doc_id`, `dhash_hi`, `dhash_lo`) —
  * in production produced by [[graft.operators.Multimodal.dHashImages]]
  * on the decoded media stream (mapPartitions runs unchanged on a
  * streaming Dataset); only 24 B/image ever reaches state, never pixels.
  *
  * Scale notes mirror [[StreamingDedup]]: prospective `maxBucketSize`
  * admission (a degenerate hash value stops generating O(n²) pairs),
  * per-member TTL so a long-running crawl's index is proportional to the
  * horizon window, membership counted from the live list (a persisted
  * counter would wedge a bucket whose members expired), and a pair
  * colliding in b bands is emitted up to b times — dedupe downstream
  * with a state-backed `dropDuplicates("docA","docB")` under the
  * caller's chosen watermark.
  */
object StreamingImageDedup {

  case class BandedHash(band: Int, bval: Long, docId: Long, hi: Long, lo: Long)
  case class HashMember(docId: Long, hi: Long, lo: Long)
  case class ImagePair(docA: Long, docB: Long, hamming: Long)

  /** Near-dup image pairs of a streaming fingerprint frame (columns
    * `doc_id`, `dhash_hi`, `dhash_lo`), emitted incrementally. Bands are
    * the same 4×16-bit split as the batch operator, so a stream replay
    * reproduces the batch candidate topology — FOR BUCKETS THAT STAY
    * UNDER `maxBucketSize`. An overflowing bucket diverges by design:
    * batch [[graft.operators.Multimodal.dHashBandIndex]] retroactively
    * drops the whole bucket, while the stream has already emitted the
    * first-N members' pairs and (Append mode) cannot retract them, so it
    * stops admitting instead. The streaming result is thus a superset of
    * batch on overflowed buckets and identical everywhere else — the
    * same admission semantics as [[StreamingDedup]].
    *
    * @param ttl dedup horizon: bucket members expire this long after
    *        insertion (native TTL through our providers' TTL column
    *        families). `None` = remember forever.
    */
  def imagePairsStream(hashes: DataFrame, maxHamming: Int = 6,
                       maxBucketSize: Int = 64,
                       ttl: Option[java.time.Duration] = None): Dataset[ImagePair] = {
    require(maxHamming >= 0 && maxHamming <= 64, s"bad maxHamming $maxHamming")
    val spark = hashes.sparkSession
    import spark.implicits._
    val banded = hashes.select(
        posexplode(graft.operators.Multimodal.dHashBands(
          col("dhash_hi"), col("dhash_lo"))).as(Seq("band", "bval")),
        col("doc_id").as("docId"),
        col("dhash_hi").as("hi"), col("dhash_lo").as("lo"))
      .as[BandedHash]
    val (ttlConf, timeMode) = StateTtl(ttl)
    banded.groupByKey(h => (h.band, h.bval))
      .transformWithState(
        // popcount hamming on the 32-bit halves (never a 64-bit word —
        // same arithmetic as the batch operator and its SQL oracle)
        new BandBucketProcessor[BandedHash, HashMember, ImagePair](
          maxBucketSize, ttlConf, Encoders.product[HashMember],
          h => HashMember(h.docId, h.hi, h.lo), _.docId, (h, m) => {
            val d = java.lang.Long.bitCount(h.hi ^ m.hi) +
              java.lang.Long.bitCount(h.lo ^ m.lo)
            if (d > maxHamming) None
            else if (h.docId < m.docId) Some(ImagePair(h.docId, m.docId, d.toLong))
            else Some(ImagePair(m.docId, h.docId, d.toLong))
          }),
        timeMode, OutputMode.Append())
  }
}
