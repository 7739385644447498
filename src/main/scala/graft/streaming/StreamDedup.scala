package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** H11 — streaming incremental near-dup candidate detection: MinHash-LSH
  * band buckets as bounded stream state (EXT; the live variant of the
  * batch `i2_minhash_lsh_candidates` / `i1_bloom_reference_dedup` flow —
  * an ingest pipeline flags a new document's near-duplicates the moment
  * it arrives, instead of re-running batch dedup over the full corpus).
  * H13 ([[verifiedStream]]) upgrades the candidates to VERIFIED pairs by
  * holding signatures in state and scoring the MinHash-estimated Jaccard
  * at ingest.
  *
  * Plan shape: the signature + band hashes are computed IN the streaming
  * plan by the batch candidate generator's own stage functions
  * (`Dedup.signatureOf`, `Dedup.bandKeys`), so the two agree
  * bucket-for-bucket — StreamDedupSpec pins parity; then
  * `flatMapGroupsWithState` keyed by (band_idx, band_hash) holds at most
  * `bucketCap` doc ids per bucket. A new arrival emits a candidate pair
  * against every stored id in any shared bucket.
  *
  * State bounds, both load-bearing on an unbounded feed: `bucketCap`
  * bounds each bucket (oldest evicted first — a popular bucket is
  * boilerplate anyway), and a processing-time TTL drops buckets idle past
  * `stateTtlMinutes` entirely. Consequences, documented honestly: a pair
  * whose older member was evicted is MISSED (the batch pass remains the
  * completeness backstop), a pair sharing several bands is emitted once
  * per shared band, and redelivered docs re-pair at-least-once — all
  * standard for streaming candidate generation; downstream dedups by
  * (doc_a, doc_b) and exact-verifies.
  */
object StreamDedup {

  case class BandRow(doc_id: Long, band_idx: Int, band_hash: Int)
  case class CandidatePair(doc_a: Long, doc_b: Long, band_idx: Int)
  case class BucketState(docs: List[Long]) // oldest first

  /** Candidate pairs over a stream of (doc_id, text). `stateTtlMinutes`
    * 0 disables the processing-time TTL (NoTimeout) — REQUIRED under
    * test harnesses that drive the query with `processAllAvailable`:
    * with a registered timeout the engine keeps scheduling no-data
    * micro-batches to fire it, and the drain call chases them forever. A
    * production trigger interval does not have that problem. */
  def candidateStream(
      docs: DataFrame,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      bucketCap: Int = 32,
      stateTtlMinutes: Long = 60): Dataset[CandidatePair] = {
    require(k % nBands == 0, s"k=$k must divide into nBands=$nBands")
    require(bucketCap >= 1, s"bad bucketCap: $bucketCap")
    require(stateTtlMinutes >= 0, s"bad stateTtlMinutes: $stateTtlMinutes")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        Dedup.signatureOf(col("text"), shingleN, k, md5 = false).as("sig"))
      .select(col("doc_id"),
        Dedup.bandKeys(k, nBands, md5 = false).as(Seq("band_idx", "band_hash")))
      .as[BandRow]
      .groupByKey(b => (b.band_idx, b.band_hash))
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (stateTtlMinutes > 0) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        updateBucket(bucketCap, stateTtlMinutes * 60000L))
  }

  case class SigBandRow(doc_id: Long, band_idx: Int, band_key: String,
      sig: Seq[Long])
  case class VerifiedPair(doc_a: Long, doc_b: Long, est_jaccard: Double)
  case class SigBucketState(docs: List[(Long, Seq[Long])]) // oldest first

  /** H13 — streaming VERIFIED near-dups: the live variant of the batch
    * signature-only tier ([[graft.llm.Dedup.signatureVerifiedPairs]], row
    * `i2_sig_verified_pairs`). Where [[candidateStream]] emits raw band
    * collisions for a downstream exact-verify, this verifies AT INGEST
    * from state: each band bucket holds the stored docs' k-int md5-MinHash
    * signatures (k Long components ≈ k·8 bytes per doc per band before
    * encoder overhead — bounded by `bucketCap`; the md5MinHash components
    * are < 2^31 and would pack into Ints if state size ever binds), and
    * an arrival emits a pair only when the signature-estimated Jaccard
    * meets `threshold`. No batch backstop needed for precision — the
    * estimate IS the verdict, same as the batch tier's.
    *
    * md5 family + signature-slice band keys, so the emitted pairs agree
    * with the batch tier bit-for-bit on any prefix of the feed where no
    * eviction/TTL fired (StreamDedupSpec pins the parity). Same bound
    * semantics as [[candidateStream]]: eviction misses pairs (oldest
    * first), a pair sharing several bands re-emits per band (downstream
    * keeps max-by-pair; estimates are identical anyway), redelivery is
    * at-least-once. */
  def verifiedStream(
      docs: DataFrame,
      shingleN: Int = 5,
      k: Int = 64,
      nBands: Int = 16,
      threshold: Double = 0.5,
      bucketCap: Int = 32,
      stateTtlMinutes: Long = 60): Dataset[VerifiedPair] = {
    require(k % nBands == 0, s"k=$k must divide into nBands=$nBands")
    require(bucketCap >= 1, s"bad bucketCap: $bucketCap")
    require(stateTtlMinutes >= 0, s"bad stateTtlMinutes: $stateTtlMinutes")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(length(col("text")) >= shingleN)
      .select(col("doc_id").cast("long").as("doc_id"),
        Dedup.signatureOf(col("text"), shingleN, k, md5 = true).as("sig"))
      .select(col("doc_id"), col("sig"),
        Dedup.bandKeys(k, nBands, md5 = true).as(Seq("band_idx", "band_key")))
      .select(col("doc_id"), col("band_idx"), col("band_key"), col("sig"))
      .as[SigBandRow]
      .groupByKey(b => (b.band_idx, b.band_key))
      .flatMapGroupsWithState(
        OutputMode.Append,
        if (stateTtlMinutes > 0) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        updateSigBucket(bucketCap, stateTtlMinutes * 60000L, threshold))
  }

  private[streaming] def updateSigBucket(
      cap: Int, ttlMs: Long, threshold: Double)(
      key: (Int, String),
      rows: Iterator[SigBandRow],
      state: GroupState[SigBucketState]): Iterator[VerifiedPair] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var stored = state.getOption.map(_.docs).getOrElse(Nil)
    val newDocs = rows.map(b => (b.doc_id, b.sig)).toArray
      .distinctBy(_._1).sortBy(_._1)
    val out = Vector.newBuilder[VerifiedPair]
    newDocs.foreach { case (d, dSig) =>
      if (!stored.exists(_._1 == d)) {
        stored.foreach { case (s, sSig) =>
          val matches = sSig.iterator.zip(dSig.iterator).count {
            case (a, b) => a == b
          }
          val est = matches.toDouble / sSig.length
          if (est >= threshold)
            out += VerifiedPair(math.min(s, d), math.max(s, d), est)
        }
        stored = stored :+ ((d, dSig))
      }
    }
    if (stored.length > cap) stored = stored.takeRight(cap)
    state.update(SigBucketState(stored))
    if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
    out.result().iterator
  }

  private[streaming] def updateBucket(cap: Int, ttlMs: Long)(
      key: (Int, Int),
      rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[CandidatePair] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var stored = state.getOption.map(_.docs).getOrElse(Nil)
    // sort new arrivals so same-batch pairing is deterministic regardless
    // of task-internal row order
    val newDocs = rows.map(_.doc_id).toArray.distinct.sorted
    val out = Vector.newBuilder[CandidatePair]
    newDocs.foreach { d =>
      if (!stored.contains(d)) { // redelivery: already-known ids re-pair nothing
        stored.foreach { s =>
          out += CandidatePair(math.min(s, d), math.max(s, d), key._1)
        }
        stored = stored :+ d
      }
    }
    if (stored.length > cap) stored = stored.takeRight(cap)
    state.update(BucketState(stored))
    if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
    out.result().iterator
  }
}
