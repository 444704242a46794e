package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

import graft.operators.Dedup

/** Incremental near-dup detection over a document STREAM — the online
  * counterpart of [[graft.operators.Dedup.minhashLsh]], and the operator
  * that ties the north-star dedup family to the state-store SPI: a
  * continuously-ingesting pipeline (crawl snapshots, log streams) can't
  * re-run batch LSH over the full corpus per batch, so the LSH bucket
  * index LIVES IN STATE and each arriving doc probes exactly the buckets
  * it lands in.
  *
  * Shape: doc → minhash signature (same codegen'd MinHash64 as batch) →
  * one row per band with the band's bucket hash → `transformWithState`
  * keyed on (band, bucket). Per-bucket ListState holds (doc_id,
  * signature) for docs seen so far; a new arrival compares against only
  * its bucket's members (the LSH guarantee), emits pairs ≥ threshold by
  * the signature estimate, and joins the bucket.
  *
  * Scale notes (100 TB stream):
  *  - State per bucket is bounded by `maxBucketSize` (the same skew guard
  *    as batch, enforced PROSPECTIVELY: a full bucket stops admitting —
  *    batch drops degenerate buckets retroactively; for a stream,
  *    first-come admission is the price of not buffering the future).
  *  - Only (doc_id, signature) is stored — nHashes longs per doc per
  *    band, never text. With RocksDB-backed state this is
  *    disk-resident and scales past executor memory.
  *  - A pair colliding in b bands is emitted up to b times;
  *    `.dropDuplicates("docA","docB")` downstream (itself state-backed)
  *    or a keyed sink dedupes. Kept out of this operator so callers
  *    choose their own retention/watermark for that state.
  *  - The `ttl` parameter bounds the near-dup horizon: bucket members
  *    expire individually (native TTL through the providers' TTL column
  *    families), so a long-running crawl's index state is proportional
  *    to the horizon window, not to everything ever ingested — the SPI
  *    TTL machinery this library implements, applied to its own
  *    north-star operator.
  */
object StreamingDedup {

  case class BandedDoc(band: Int, bucket: Long, docId: Long, sig: Seq[Long])
  case class Member(docId: Long, sig: Seq[Long])
  case class NearDupPair(docA: Long, docB: Long, estJaccard: Double)

  /** MinHash Jaccard estimate (share of equal signature lanes — the same
    * verify as batch) of an arrival against a bucket member, oriented
    * `docA < docB`, when it reaches `threshold`. */
  private def jaccardPair(threshold: Double, nHashes: Int)(
      doc: Member, m: Member): Option[NearDupPair] = {
    var eq = 0
    var i = 0
    while (i < nHashes) {
      if (doc.sig(i) == m.sig(i)) eq += 1
      i += 1
    }
    val est = eq.toDouble / nHashes
    if (est >= threshold) Some(
      if (doc.docId < m.docId) NearDupPair(doc.docId, m.docId, est)
      else NearDupPair(m.docId, doc.docId, est))
    else None
  }

  /** Near-dup pairs of a streaming `docs` frame (columns `doc_id`,
    * `text`), emitted incrementally as documents arrive. Parameters match
    * [[graft.operators.Dedup.minhashLsh]].
    *
    * @param ttl near-dup horizon: bucket members expire this long after
    *        insertion (native Spark 4 TTL through our providers' TTL
    *        column families), so the index forgets docs older than the
    *        horizon and state stays proportional to the window, not the
    *        stream's history. `None` = remember forever.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double, nHashes: Int = 64,
                   bands: Int = 16, maxBucketSize: Int = 64,
                   shingleK: Int = 0,
                   ttl: Option[java.time.Duration] = None): Dataset[NearDupPair] = {
    require(bands >= 1 && nHashes % bands == 0,
      s"nHashes ($nHashes) must divide into bands ($bands)")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = nHashes / bands
    val banded = docs.select(col("doc_id"),
        Dedup.minhashSignature(col("text"), nHashes, shingleK).as("sig"))
      .select(
        posexplode(array((0 until bands).map { b =>
          xxhash64(lit(b) +: (0 until rows).map(r => col("sig")(b * rows + r)): _*)
        }: _*)).as(Seq("band", "bucket")),
        col("doc_id").as("docId"), col("sig"))
      .as[BandedDoc]
    val (ttlConf, timeMode) = StateTtl(ttl)
    banded.groupByKey(d => (d.band, d.bucket))
      .transformWithState(
        new BandBucketProcessor[BandedDoc, Member, NearDupPair](
          maxBucketSize, ttlConf, Encoders.product[Member],
          d => Member(d.docId, d.sig), _.docId, jaccardPair(threshold, nHashes)),
        timeMode, OutputMode.Append())
  }
}
