package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.CellIndex

import graft.llm.Similarity

/** H12 — STREAMING vector retrieval serving: top-k cosine neighbors for a
  * continuous stream of query vectors against a STATIC indexed corpus — the
  * online form of the batch serving tier (`Similarity.batchTopK` /
  * `ivfServe` / `ivfPqServe`), and the shape an embedding-search endpoint
  * actually runs: the corpus is an index built once, queries arrive forever.
  *
  * Every stream is a deliberately STATELESS plan: the corpus index (one
  * broadcast [[graft.functions.CellIndex]] — grid vectors in one cell,
  * grid vectors in cosine-probed cells, or PQ codes) is built ONCE at plan
  * time from the static frame, and each arriving query row is answered by
  * the per-row top-k kernel ([[graft.functions.CellTopKExpr]], the same
  * expression the batch tiers use) — a pure
  * projection + generator, so the micro-batch plan carries NO state store,
  * no watermark, no aggregation state that could grow with query volume.
  * Append mode works unconditionally and a checkpoint restart has nothing
  * to recover beyond source offsets. (A per-query top-k AGGREGATE over a
  * cell-probed join — the `ivfServe` batch plan — would instead park every
  * query's partials in a state store awaiting a watermark; with each query
  * id appearing in exactly one micro-batch, that state buys nothing and
  * delays every answer by the watermark.)
  *
  * Scale shape: the bounded resource is the CORPUS index (budget-guarded at
  * build time — `Similarity.MaxBroadcastRowsConf`), not the stream; query
  * throughput scales with executors because rows never shuffle. A corpus
  * beyond the broadcast budget shards by id range into N serve replicas
  * each holding one broadcast shard (union of N of these plans), or drops
  * to the corpus-resident batch tier (`ivfServe`) on micro-batched query
  * files. Each query row is answered on its own (the batch `ivfServe`
  * merges rows that share a query id into one answer). The kernel excludes
  * a corpus row whose id EQUALS the query id (self-pair suppression) and a
  * corpus row with a null id, as every batch IVF tier does — serve with
  * disjoint query/corpus id spaces, as the gates do.
  *
  * Reference analogue: none (the reference has no vector or streaming
  * surface); this extends the EXT serving tier of SURVEY §2 I3.
  */
object VectorServe {

  private def requireIntegralIds(
      queryStream: DataFrame, corpus: DataFrame, idCol: String): Unit =
    for ((df, side) <- Seq(queryStream -> "query", corpus -> "corpus"))
      require(Similarity.integralId(df, idCol),
        s"VectorServe needs an integral $side id column (kernel ids are " +
          s"long): $idCol is ${df.schema(idCol).dataType}")

  /** Exact streaming serve: every arriving query row is scored against the
    * full broadcast corpus ([[graft.llm.Similarity.exactIndex]], cached) by
    * the per-row top-k kernel — identical arithmetic to the
    * batch `Similarity.batchTopK` serve (integer dots on the 1e-6 grid),
    * so a stream of queries answers bit-for-bit what the same batch would.
    * Returns (query_id, neighbor_id, cos_sim, rank) in append mode. */
  def serveExact(
      queryStream: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int = 5): DataFrame = {
    requireIntegralIds(queryStream, corpus, idCol)
    Similarity.indexTopK(queryStream, idCol, vecCol,
      Similarity.exactIndex(corpus, idCol, vecCol, "serveExact"), k)
  }

  /** FILTERED streaming serve — the `i3_filtered_topk` contract online:
    * a metadata predicate (tenant/language/license scoping) restricts the
    * STATIC corpus BEFORE the index builds, so non-matching rows never
    * decode their embedding column (the predicate reaches the corpus
    * parquet scan as a pushed filter — the index build consumes the
    * filtered frame at plan time) and never occupy broadcast budget; every
    * arriving query still gets k TRUE neighbors from the filtered set. The
    * alternative — post-filtering an unfiltered serve's top-k — silently
    * under-fills whenever fewer than k global winners match, exactly the
    * loss the batch row's spec measures. Composes [[serveExact]], so the
    * plan stays stateless and bit-parity with the filtered batch tier
    * holds (StreamingSpec pins both). */
  def serveExactFiltered(
      queryStream: DataFrame, corpus: DataFrame, predicate:
      org.apache.spark.sql.Column,
      idCol: String, vecCol: String, k: Int = 5): DataFrame =
    serveExact(queryStream, corpus.filter(predicate), idCol, vecCol, k)

  /** Every stream row answered by the per-row top-k kernel over `index`;
    * the typed empty result when there is no index (an empty corpus). */
  private def serve(queryStream: DataFrame, idCol: String, vecCol: String,
      index: Option[Broadcast[CellIndex]], k: Int): DataFrame =
    index.fold(Similarity.emptyResult(queryStream, col(idCol)))(
      Similarity.indexTopK(queryStream, idCol, vecCol, _, k))

  /** IVF streaming serve — the LATENCY axis online: the static corpus is
    * packed once into a cell-partitioned broadcast
    * ([[graft.llm.Similarity.ivfIndex]] — centroids trained and
    * cells assigned by the SAME expressions the batch `ivfServe` uses),
    * and each arriving query picks its `nProbe` nearest cells inside the
    * kernel ([[graft.functions.CosineProbe]]) and heap-scans only
    * those cells' row ranges — ~nProbe/nList of the exact kernel's work
    * per query at the probe set's recall (gated batch-side by
    * `i3_ivf_serve_gate`). The plan stays a stateless projection +
    * generator like [[serveExact]]; memory contract is the full-vector
    * broadcast (for the memory axis compose with PQ — [[servePq]]). */
  def serveIvf(
      queryStream: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      nList: Int = 16, nProbe: Int = 4): DataFrame = {
    requireIntegralIds(queryStream, corpus, idCol)
    serve(queryStream, idCol, vecCol,
      Similarity.ivfIndex(corpus, idCol, vecCol, nList, nProbe), k)
  }

  /** [[serveIvf]] under a corpus metadata predicate — the round-12 closure
    * of the filtered-serve family (exact/PQ landed in round 11): the
    * predicate restricts the static corpus BEFORE centroids train and the
    * cell index packs, so out-of-scope rows never decode their embedding,
    * never skew the quantizer, and never occupy broadcast budget; every
    * query gets k TRUE neighbors of the filtered set at the probe set's
    * recall. */
  def serveIvfFiltered(
      queryStream: DataFrame, corpus: DataFrame,
      predicate: org.apache.spark.sql.Column,
      idCol: String, vecCol: String, k: Int = 5,
      nList: Int = 16, nProbe: Int = 4): DataFrame =
    serveIvf(queryStream, corpus.filter(predicate), idCol, vecCol, k,
      nList, nProbe)

  /** PQ streaming serve — the memory axis online: the static corpus is
    * encoded ONCE to an nBlocks-byte-per-vector code index (built
    * distributed; raw corpus vectors never reach the driver —
    * [[graft.llm.Similarity.sampledPqIndex]]), and each arriving query is
    * answered by the kernel's ADC scan: one
    * O(dim·nCodes) lookup table per query, then O(nBlocks) per corpus row.
    * At the default 16×256 setting the resident index is ~16 bytes/vector
    * — a 64M-vector corpus serves from a ~1 GB broadcast where the exact
    * path would need 64 GB of floats. Recall is the PQ quantization's
    * (calibrated ≥0.9 rank-1 on the fixtures, BASELINE.md PqCalib);
    * rank/tie conventions match the exact kernel. */
  def servePq(
      queryStream: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      nBlocks: Int = 16, nCodes: Int = 256): DataFrame = {
    requireIntegralIds(queryStream, corpus, idCol)
    Similarity.requireCodes(nCodes)
    serve(queryStream, idCol, vecCol, Similarity.sampledPqIndex(
      Similarity.idVecs(corpus, idCol, vecCol), nBlocks, nCodes), k)
  }
}
