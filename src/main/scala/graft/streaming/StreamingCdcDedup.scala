package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

import graft.operators.TextOps

/** Incremental CONTENT-DEFINED-CHUNKING dedup over a document stream —
  * the online twin of [[graft.operators.TextOps.cdcNearDupPairs]] (and
  * the streaming leg of the CDC family: batch pairs q152, persisted
  * index ingest q153, this). A continuously-ingesting crawl can't
  * re-chunk the full corpus per batch, so the chunk-digest index LIVES
  * IN STATE: each arriving doc is chunked once (the SAME
  * `cdcChunkRowsOf` boundary rule as batch — one definition, so a
  * stream replay reproduces the batch chunk topology exactly), and each
  * of its distinct digests probes exactly one state key.
  *
  * Unlike the banded twins ([[StreamingDedup]] LSH bands,
  * [[StreamingAudioDedup]] fingerprint bands), digests are EXACT keys —
  * no banding, no verification step, and no duplicate pair emissions:
  * a (docA, docB) pair sharing k digests emits exactly k hit rows (one
  * per shared digest, each digest a distinct state key), so the batch
  * pair algebra is recovered EXACTLY by counting hits per pair —
  * [[pairsOfHits]] — rather than by deduping a ≤ k-times-emitted pair.
  *
  * Scale notes (100 TB stream):
  *  - Only (doc_id, n_key) per digest ever reaches state — 16 B-digest
  *    keys, never text; RocksDB-backed state is disk-resident.
  *  - `maxBucketSize` bounds any digest's member list PROSPECTIVELY (a
  *    boilerplate chunk shared by the whole crawl stops admitting —
  *    batch drops such buckets retroactively; for a stream, first-come
  *    admission is the price of not buffering the future).
  *  - `ttl` bounds the dedup horizon: members expire individually
  *    (native TTL through our providers' TTL column families), so index
  *    state is proportional to the window, not the stream's history.
  */
object StreamingCdcDedup {

  case class DigestDoc(digest: String, docId: Long, nKey: Long)
  case class CdcMember(docId: Long, nKey: Long)
  /** One row per SHARED DIGEST of an oriented pair: aggregate with
    * [[pairsOfHits]] to recover the batch pair algebra. */
  case class CdcHit(docA: Long, docB: Long, nKeyA: Long, nKeyB: Long)

  /** Per-digest processor: emit a hit against every stored member, then
    * join the member list. Orientation (and each side's chunk-count
    * rider) follows the id flip, the batch rule. */
  class DigestProcessor(maxBucketSize: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, DigestDoc, CdcHit] {
    @transient private var members: ListState[CdcMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[CdcMember]("members",
        Encoders.product[CdcMember], ttl)

    override def handleInputRows(key: String, rows: Iterator[DigestDoc],
                                 timerValues: TimerValues): Iterator[CdcHit] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[CdcHit]
      // ONE state-list read per (key, batch): the live list is buffered
      // and admissions are appended to the buffer locally — re-reading
      // state per input row multiplied per-batch state I/O by the
      // batch's member count on hot digests
      val current = scala.collection.mutable.ArrayBuffer[CdcMember](
        members.get().toArray: _*)
      val seen = scala.collection.mutable.Set(current.map(_.docId).toSeq: _*)
      rows.foreach { d =>
        // a re-delivered doc_id (duplicate in-batch rows, a crawler
        // re-fetch) is a REPLAY: admitting it again would double its
        // member entry and inflate every later pair's n_shared past the
        // batch twin (whose (doc_id, digest) stream is distinct), so it
        // neither emits nor appends
        if (!seen.contains(d.docId) && current.length < maxBucketSize) {
          current.foreach { m =>
            if (d.docId < m.docId) out += CdcHit(d.docId, m.docId, d.nKey, m.nKey)
            else out += CdcHit(m.docId, d.docId, m.nKey, d.nKey)
          }
          members.appendValue(CdcMember(d.docId, d.nKey))
          current += CdcMember(d.docId, d.nKey)
          seen += d.docId
        }
      }
      out.iterator
    }
  }

  /** Shared-digest HIT stream of a streaming `docs` frame (columns
    * `doc_id`, `text`): one row per (pair, shared digest), emitted as
    * documents arrive. Chunking parameters match
    * [[graft.operators.TextOps.cdcChunks]]; pass `minLen`/`maxLen` for
    * the clamped production tier
    * ([[graft.operators.TextOps.cdcChunksClamped]] — same shared
    * kernel, so stream ≡ batch holds per tier).
    *
    * @param ttl dedup horizon: digest members expire this long after
    *        insertion. `None` = remember forever.
    */
  def cdcHitsStream(docs: DataFrame, w: Int = 8, modSel: Int = 32,
                    maxBucketSize: Int = 64,
                    ttl: Option[java.time.Duration] = None,
                    minLen: Int = 1,
                    maxLen: Int = Int.MaxValue): Dataset[CdcHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // per-doc chunking + distinct-digest projection in one typed map —
    // no streaming aggregation needed for the n_key rider: it's a
    // per-row function of the doc's own text
    val keyed = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          val digests = TextOps
            .cdcChunkRowsOf(text, w, modSel, minLen, maxLen, md)
            .map(_._4).toArray.distinct
          digests.iterator.map(dg => DigestDoc(dg, id, digests.length.toLong))
        }
      }
    val (ttlConf, timeMode) = StateTtl(ttl)
    keyed.groupByKey(_.digest)
      .transformWithState(new DigestProcessor(maxBucketSize, ttlConf),
        timeMode, OutputMode.Append())
  }

  /** Finish the pair algebra over collected hits (a micro-batch sink, a
    * `foreachBatch` body, or a replay table): hits per oriented pair ARE
    * the shared distinct digests, so this is exactly
    * [[graft.operators.TextOps.cdcNearDupPairs]]' aggregation — columns
    * match the batch operator. */
  def pairsOfHits(hits: DataFrame, minFrac: Double = 0.25): DataFrame = {
    require(minFrac >= 0.0 && minFrac <= 1.0, s"bad minFrac $minFrac")
    hits.groupBy(col("docA").as("doc_a"), col("docB").as("doc_b"),
        col("nKeyA").as("n_key_a"), col("nKeyB").as("n_key_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_key_a"), 6))
      .filter(col("shared_frac") >= minFrac)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_key_a"), col("n_key_b"), col("shared_frac"))
  }
}
