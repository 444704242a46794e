package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Incremental EMBEDDING near-dup detection over a vector stream — the
  * online counterpart of [[graft.operators.Dedup.cosinePairsLsh]],
  * completing the streaming-twin family (lexical near-dup =
  * [[StreamingDedup]]; this is the semantic sibling): a pipeline
  * embedding documents as they arrive can't re-run batch LSH over every
  * vector ever seen, so the random-hyperplane bucket index LIVES IN
  * STATE and each arriving vector probes exactly the buckets it signs
  * into.
  *
  * Shape mirrors the batch operator bit-for-bit where it matters: the
  * SAME codegen'd `lsh_sign_bits` projection (table seed → nBits sign
  * bits) produces the SAME bucket ids, so a pair that batch LSH would
  * catch in table t is caught here in table t — the only semantic gap is
  * admission order (see below). Verification is the exact cosine against
  * bucket members, as in batch.
  *
  * Scale notes (100 TB stream):
  *  - State per bucket member is the full vector (dim doubles) — the
  *    price of EXACT cosine verification, identical to what the batch
  *    candidate join ships per pair; `maxBucketSize` bounds it per
  *    bucket and the TTL horizon bounds it in time. For memory-tight
  *    deployments quantize upstream ([[graft.operators.Similarity
  *    .quantizeInt8]]) and verify on SQ8 vectors — at the documented
  *    reconstruction-error cost.
  *  - Buckets are capped PROSPECTIVELY (a full bucket admits no more):
  *    batch drops degenerate buckets retroactively; a stream can't
  *    buffer the future, so first-come admission is the trade — same as
  *    [[StreamingDedup]].
  *  - A pair sharing k tables emits up to k times; callers dedupe with
  *    their own retention (`dropDuplicates("vecA","vecB")`), kept out of
  *    this operator so the dedup state's watermark is the caller's call.
  */
object StreamingCosineDedup {

  case class BandedVec(tbl: Int, bucket: Long, vecId: Long, v: Seq[Double])
  case class VecMember(vecId: Long, v: Seq[Double])
  case class CosinePair(vecA: Long, vecB: Long, cosSim: Double)

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    // a dimension mismatch is an upstream schema slip — fail LOUDLY
    // rather than fabricate a similarity from a truncated dot product
    require(a.length == b.length,
      s"cosinePairsStream: dimension mismatch ${a.length} vs ${b.length}")
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    // zero-norm guard: a zero vector has no direction — below any
    // threshold (batch safeCosine's -2.0 sentinel)
    if (na == 0.0 || nb == 0.0) -2.0 else dot / math.sqrt(na * nb)
  }

  /** The bucket processor of [[cosinePairsStream]] and
    * [[semDeDupStream]]: exact cosine against each bucket member. */
  private def cosineBuckets(threshold: Double, maxBucketSize: Int, ttl: TTLConfig) =
    new BandBucketProcessor[BandedVec, VecMember, CosinePair](
      maxBucketSize, ttl, Encoders.product[VecMember],
      v => VecMember(v.vecId, v.v), _.vecId, (vec, m) => {
        val cos = cosine(vec.v, m.v)
        if (cos >= threshold) {
          val (a, b) =
            if (vec.vecId < m.vecId) (vec.vecId, m.vecId) else (m.vecId, vec.vecId)
          // round as batch does (cos_sim = round(cos, 6)) so the
          // streamed pair is value-identical to cosinePairsLsh's
          Some(CosinePair(a, b,
            BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        } else None
      })

  /** Cosine near-dup pairs of a streaming `embeddings` frame (columns
    * `vec_id`, `embedding`), emitted incrementally as vectors arrive.
    * Parameters match [[graft.operators.Dedup.cosinePairsLsh]].
    *
    * @param ttl near-dup horizon: bucket members expire this long after
    *        insertion, so the index forgets vectors older than the
    *        horizon and state stays proportional to the window.
    */
  def cosinePairsStream(embeddings: DataFrame, threshold: Double,
                        tables: Int = 8, nBits: Int = 4,
                        maxBucketSize: Int = 256,
                        ttl: Option[java.time.Duration] = None): Dataset[CosinePair] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val banded = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(
        posexplode(array((0 until tables).map(t =>
          graft.functions.HashFunctions.lsh_sign_bits(col("v"), t, nBits)): _*))
          .as(Seq("tbl", "bucket")),
        col("vec_id").as("vecId"), col("v"))
      .as[BandedVec]
    val (ttlConf, timeMode) = StateTtl(ttl)
    banded.groupByKey(d => (d.tbl, d.bucket))
      .transformWithState(cosineBuckets(threshold, maxBucketSize, ttlConf),
        timeMode, OutputMode.Append())
  }

  /** Streaming SemDeDup — the online twin of
    * [[graft.operators.Dedup.semDeDupLosers]]'s candidate topology:
    * each arriving vector is assigned to its k-means CELL by the same
    * codegen'd argmin the batch operator runs (against a batch-FITTED
    * frozen model — [[graft.operators.Dedup.fitSemDeDupModel]], the
    * fit/serve split again), then compared exact-cosine against the
    * cell's live members in SPI state. One cell per vector (no
    * multi-table LSH replication), so each pair is emitted at most once
    * — no downstream pair dedup needed, unlike [[cosinePairsStream]].
    *
    * Divergences from batch, both documented elsewhere in this family:
    * the cap is prospective admission (batch drops oversized cells
    * retroactively — parity holds below `maxClusterSize`), and the
    * frozen cells drift from a batch refit as the distribution shifts
    * (monitor with `Similarity.embeddingDrift`, refit nightly).
    */
  def semDeDupStream(embeddings: DataFrame,
                     centroids: Array[(Int, Array[Double])],
                     threshold: Double, maxClusterSize: Int = 4096,
                     ttl: Option[java.time.Duration] = None): Dataset[CosinePair] = {
    require(centroids.nonEmpty, "semDeDupStream: empty centroid model")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val matrix = centroids.sortBy(_._1).map(_._2)
    val assigned = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(lit(0).as("tbl"),
        graft.functions.VectorFunctions.nearest_centroid(col("v"), matrix)
          .cast("long").as("bucket"),
        col("vec_id").as("vecId"), col("v"))
      .as[BandedVec]
    val (ttlConf, timeMode) = StateTtl(ttl)
    assigned.groupByKey(d => (d.tbl, d.bucket))
      .transformWithState(cosineBuckets(threshold, maxClusterSize, ttlConf),
        timeMode, OutputMode.Append())
  }
}
