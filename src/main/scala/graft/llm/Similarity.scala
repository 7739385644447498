package graft.llm

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

import graft.functions.{AllCells, CellIndex, CellTopK, CosineProbe, GridProbe, KMeansKernel, PqCodebooks, PqKernel, PqOps, Probe}
import graft.operators.Checkpoints

/** Similarity search over embedding columns (SURVEY §2 Group I, I3):
  * brute-force cosine top-k as the exactness baseline, LSH-bucketed
  * (random-hyperplane) search as the scale path. Dot products run in
  * graft's own generated-code expressions ([[graft.functions.LongArrayDot]],
  * the top-k kernel); Spark's `zip_with`/`aggregate` higher-order
  * functions are `CodegenFallback` (interpreted per element) in Spark 4.1
  * and are kept off the scoring paths.
  *
  * Every top-k tier composes private `features → route → score → top-k`
  * stages: [[features]]; its own join, the IVF [[cellPairs]] or
  * [[probePairs]] over a [[Cells]] quantizer, or LSH buckets; [[scored]]
  * by [[exactCosine]] or [[adc]]; [[topKPerQuery]], [[windowTopK]] or the
  * per-row top-k kernel's [[emit]].
  *
  * The fused tiers (`kernel` below) pack their corpus into one broadcast
  * [[graft.functions.CellIndex]] with [[packIndex]] and score each query
  * row with [[graft.functions.CellTopKExpr]]: the query's raw vector in,
  * its probed cells scanned by exact integer cosine or a PQ lookup table,
  * its own id skipped. Cached indexes live in the one [[IndexCache]].
  * The integer-Lloyd IVF tiers take the kernel while their corpus fits
  * the driver collect ([[KMeans.LocalLloydMaxRows]]) and their cell
  * self-join past it; the serve tiers always join their corpus scan to
  * the broadcast probes, which collects nothing corpus-sized.
  *
  * | tier | features | route | score | top-k |
  * |---|---|---|---|---|
  * | [[hardNegatives]] | both sides | broadcast queries, label ≠ | exact | heap |
  * | [[batchTopK]] | both sides | broadcast queries, cross | exact | heap |
  * | [[bruteForceTopK]] | cached grid index | all cells | exact (kernel) | emit |
  * | same, non-integral ids | both sides | broadcast corpus, id ≠ | exact | window |
  * | [[sq8TopK]] | SQ8 reconstruction | broadcast queries, id ≠ | exact | heap |
  * | [[pqTopK]], [[pqTopKExact]] | cached code index | all cells | ADC table (kernel) | emit |
  * | [[ivfTopKExact]] | per-call grid index | grid probe | exact (kernel) | emit |
  * | [[ivfPqTopKExact]] | per-call code index | grid probe | ADC table (kernel) | emit |
  * | both, over the collect budget | grid vectors / codes | cell self-join, id ≠ | exact / ADC | heap |
  * | [[ivfServe]] | both sides | broadcast probes, id ≠ | exact | heap |
  * | [[ivfPqServe]] | codes | broadcast probes, id ≠ | ADC | heap |
  * | [[lshTopK]] | both sides | bucket self-join | exact | window |
  */
object Similarity {

  /** Integer-quantized embedding (`floor(x · 10^6)` per component): exact
    * integer dot products → bit-identical results across engines, used by
    * the oracle-checked queries. Quantization error at 1e-6 is far below
    * float32 input precision. */
  def quantize(a: Column): Column =
    transform(a, x => floor(x.cast("double") * 1000000d).cast("long"))

  /** Exact integer dot product — native codegen'd expression
    * ([[graft.functions.LongArrayDot]]); the `zip_with`+`aggregate`
    * formulation pays one interpreted dispatch per element per pair. */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.ArrayOps.longArrayDot(a, b)

  /** Lloyd iterations and sample rows of the sample-fit quantizers. */
  private val LloydIters = 3
  private val MaxTrainSample = 65536

  /** Column names of one side of a scored pair. */
  private final case class Side(id: String, v: String, n: String)
  private val Queries = Side("query_id", "qv", "qn")
  private val Corpus = Side("neighbor_id", "cv", "cn")

  /** Features: `(id, vec, norm)` under `side`'s names, plus `extra`. `vec`
    * is on the integer grid; its norm is computed ONCE per vector here, not
    * for each pair it later scores in. */
  private def features(df: DataFrame, side: Side, id: Column, vec: Column,
      extra: Column*): DataFrame =
    df.select(Seq(id.as(side.id), vec.as(side.v)) ++ extra: _*)
      .withColumn(side.n, sqrt(dotQ(col(side.v), col(side.v)).cast("double")))

  /** `(id: long, v: raw vector)` of the rows with a vector (a null in a
    * training sample NPEs the driver): the trainers' and encoders' input. */
  private[graft] def idVecs(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))


  /** Raw-norm zero filter: PQ tiers test the RAW vector, since a zero one
    * reconstructs to nonzero centroids and no later check could drop it. */
  private def nonZero(v: Column): Column = {
    val rawNorm2 = aggregate(
      transform(v, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    rawNorm2 > 0d
  }

  /** An IVF coarse quantizer as two expressions over the raw vector: the
    * row's one cell, and its `nProbe` probe cells (best first). */
  private final case class Cells(assign: Column, probes: Column)

  /** Float quantizer: [[trainCosineCentroids]]' cells, picked by cosine. */
  private def cosineCells(centroids: Array[Array[Double]], vecCol: String,
      nProbe: Int): Cells = {
    import graft.functions.ArrayOps.nearestCells
    Cells(element_at(nearestCells(col(vecCol), centroids, 1), 1),
      nearestCells(col(vecCol), centroids, nProbe))
  }

  /** Integer quantizer: [[KMeans.centroids]]' cells on the shifted grid. */
  private def lloydCells(cents: Array[Array[Long]], vecCol: String,
      nProbe: Int): Cells = {
    import graft.functions.KMeansExprs
    val q = KMeans.quantize(col(vecCol))
    Cells(KMeansExprs.assign(q, cents)("cluster"),
      KMeansExprs.nearestCells(q, cents, nProbe))
  }

  /** Route — IVF cell self-join: corpus rows (with `cell`) against query
    * probes (one row per probed `cell`), a row never pairing with itself.
    * Each corpus vector lives in exactly ONE cell, so a pair arises once.
    *
    * The corpus side is a barrier: features, cell and codes are computed
    * once. It is keyed by ID, not cell (round-15): the probe side
    * broadcasts, so the join never needed cell co-partitioning, and
    * hashing nList=16 cell values into the partition space left ~40% of
    * cores idle (plus per-cell skew) for the quadratic scoring stage
    * downstream — the §2.5 low-cardinality-key trap. The id key spreads
    * the scoring stage evenly at any scale; a bounded (cell, salt-4)
    * middle ground measured 1.8× SLOWER at the 10× shard (cell-slice skew
    * tails the interpreted ADC stage), and the id spread's cost — partial
    * top-k heaps fan out to every partition a query's candidates touch —
    * is an O(P·|Q|) term against the O(|Q|·n/nProbe) scoring win. */
  private def cellPairs(df: DataFrame, corpus: DataFrame,
      probes: DataFrame): DataFrame =
    corpus.repartition(Par.of(df), col("neighbor_id"))
      .join(probes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))

  /** Route — IVF serve: the corpus scan joins the broadcast probe side,
    * a row never pairing with itself. */
  private def probePairs(corpus: DataFrame, probes: DataFrame): DataFrame =
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))

  /** PQ books of an IVF route, flagged when trained on the 1e-6 grid. */
  private type Books = Option[(PqCodebooks, Boolean)]

  /** The vector a PQ book encodes or scores: for `onGrid` books the
    * exact-integer-valued double view of the 1e-6 grid (floor() yields
    * BIGINT; the PQ kernels take float/double arrays, and the cast back is
    * exact — |values| ≤ 2^21 ≪ 2^53). */
  private def pqVec(vec: Column, onGrid: Boolean): Column =
    if (onGrid) transform(vec, x => floor(x.cast("double") * 1000000d).cast("double"))
    else vec

  /** IVF corpus side, from the rows with a vector: `neighbor_id`, its one
    * `cell` and its payload — the grid vector `cv` with its norm `cn`, or
    * with `pq` the `codes` of the raw-nonzero rows (raw vectors leave the
    * plan). The index builders collect this frame, and the join routes
    * join it. */
  private def corpusSide(corpus: DataFrame, idCol: String, vecCol: String,
      cells: Cells, pq: Books): DataFrame = {
    val c0 = corpus.filter(col(vecCol).isNotNull)
    val id = col(idCol).cast("long")
    pq.fold(features(c0, Corpus, id, quantize(col(vecCol)), cells.assign.as("cell"))) {
      case (books, onGrid) => c0.filter(nonZero(col(vecCol))).select(id.as("neighbor_id"),
        cells.assign.as("cell"), PqOps.pqEncode(pqVec(col(vecCol), onGrid), books).as("codes"))
    }
  }

  /** IVF query side, from the rows with a vector: one row per probed
    * `cell`, with the query's [[features]], or with `pq` its vector as `qv`. */
  private def querySide(queries: DataFrame, idCol: String, vecCol: String,
      cells: Cells, pq: Books): DataFrame = {
    val q0 = queries.filter(col(vecCol).isNotNull)
    val id = col(idCol).cast("long")
    val cell = explode(cells.probes).as("cell")
    pq.fold(features(q0, Queries, id, quantize(col(vecCol)), cell)) {
      case (_, onGrid) => q0.select(id.as("query_id"), pqVec(col(vecCol), onGrid).as("qv"), cell)
    }
  }

  /** Score and top-k of IVF pairs: exact cosine, or ADC with `pq`. */
  private def ivfRanked(pairs: DataFrame, pq: Books, k: Int): DataFrame =
    topKPerQuery(scored(pairs, pq.fold(exactCosine)(p => adc(p._1))), k)

  /** Exact score: cosine from the quantized vectors + norms of both sides,
    * null on a zero vector. Under ANSI mode (Spark 4 default) a bare
    * `x / 0.0` raises DIVIDE_BY_ZERO and kills the whole query; a NaN
    * would silently poison the top-k heap. Degenerate pairs are
    * droppable, not fatal. */
  private def exactCosine: Column =
    when(col("qn") * col("cn") > 0d,
      dotQ(col("qv"), col("cv")).cast("double") / (col("qn") * col("cn")))
      .otherwise(lit(null))

  /** PQ-ADC score of the query vector `qv` against a corpus row's `codes`. */
  private def adc(books: PqCodebooks): Column =
    PqOps.pqAdc(col("qv"), col("codes"), books)

  /** Score: every pair with a score, as `cos_sim`. Column pruning narrows
    * the pairs for top-k; a reordering select would add a Project. */
  private def scored(pairs: DataFrame, score: Column): DataFrame =
    pairs.withColumn("cos_sim", score).filter(col("cos_sim").isNotNull)

  /** Per-query top-k via the bounded-heap aggregate
    * ([[graft.functions.TopKByScore]]): map-side partial top-k means only k
    * rows per query cross the shuffle — the window/row_number formulation
    * shuffles and sorts every candidate pair. Tie-break (score DESC,
    * neighbor ASC) matches the oracle's ROW_NUMBER ordering (at the 16×
    * shard the IVF window shuffled ~256M skinny pair rows). The heap is
    * long-id only; any other id type goes through [[windowTopK]]. */
  private def topKPerQuery(pairs: DataFrame, k: Int): DataFrame =
    if (pairs.schema("neighbor_id").dataType == LongType)
      emit(pairs.groupBy(col("query_id"))
        .agg(graft.functions.TopKAgg.topKByScore(
          struct(col("cos_sim").as("score"), col("neighbor_id").as("id")), k)
          .as("top")), col("top"))
    else windowTopK(pairs, k)

  /** Per-query top-k via `row_number`, same tie-break as [[topKPerQuery]]. */
  private def windowTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"), col("rank"))
  }

  /** Emit: a per-`query_id` top-k array of `(score, id)` entries as one
    * `(query_id, neighbor_id, cos_sim, rank)` row per entry, the long
    * kernel ids cast back to `idType` when given. */
  private[graft] def emit(rows: DataFrame, top: Column,
      idType: Option[DataType] = None): DataFrame = {
    def id(c: Column) = idType.fold(c)(c.cast)
    rows.select(col("query_id"), posexplode(top).as(Seq("pos", "entry")))
      .select(idType.fold(col("query_id"))(_ => id(col("query_id")).as("query_id")),
        id(col("entry.id")).as("neighbor_id"),
        col("entry.score").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** The typed empty result; `filter(false)` also works on a stream. */
  private[graft] def emptyResult(df: DataFrame, id: Column): DataFrame =
    df.filter(lit(false)).select(id.as("query_id"), id.as("neighbor_id"),
      lit(0.0).as("cos_sim"), lit(1).cast("int").as("rank"))

  private[graft] def requireCodes(nCodes: Int): Unit =
    require(nCodes >= 2 && nCodes <= 256,
      s"nCodes must be in [2, 256] (codes are byte-packed): $nCodes")

  /** Whether `idCol` is integral: the fused kernels carry ids as long. */
  private[graft] def integralId(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  /** I3h — hard-negative mining for contrastive/retrieval training (the
    * negative-selection step of DPR-style dual-encoder pipelines,
    * Karpukhin et al. 2020, arXiv:2004.04906): for each query vector, the
    * top-k most SIMILAR corpus vectors bearing a DIFFERENT label — the
    * near-misses that make the hardest training negatives.
    *
    * Scale shape is the reverse of [[bruteForceTopK]]: the QUERY side
    * broadcasts (a mining batch is thousands of rows; the corpus is the
    * 100 TB side), so the whole mine is ONE linear partitioned corpus
    * scan feeding the bounded-heap top-k aggregate — corpus rows never
    * shuffle, only |Q|·k winners do. Null-label rows never match a
    * `label <> label` predicate in either engine, so they are excluded
    * symmetrically. Exact integer dots on the 1e-6 grid keep ranks
    * engine-exact. Returns (query_id, neg_id, cos_sim, rank). */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = features(queries, Queries, col(idCol), quantize(col(vecCol)),
      col(labelCol).as("q_label"))
    val c = features(corpus, Corpus, col(idCol), quantize(col(vecCol)),
      col(labelCol).as("c_label"))
    topKPerQuery(scored(broadcast(q).join(c, col("q_label") =!= col("c_label")),
      exactCosine), k)
      .withColumnRenamed("neighbor_id", "neg_id")
  }

  /** I3f — query-batch retrieval serving: exact top-k cosine neighbors
    * for a SMALL query batch against an UNBOUNDED corpus — the production
    * regime the self-join ANN fixtures can't show (there the query set IS
    * the corpus, so total work grows ~n² as the corpus grows; here the
    * batch is fixed and the whole serve is ONE linear corpus scan). Dual
    * of [[bruteForceTopK]]'s bounded-corpus contract and the same shape
    * as [[hardNegatives]] without the label predicate: the QUERY side
    * broadcasts, corpus rows never shuffle — each partition scores the
    * batch map-side and only ≤ |Q|·k winners reach the single shuffle
    * (the bounded-heap partial aggregate). Batch and corpus may overlap;
    * a shared id pairs with itself at cos 1.0 like any other neighbor.
    * Exact integer dots on the 1e-6 grid keep ranks engine-exact, so the
    * output is fully oracle-checkable (no hash dependence). */
  def batchTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int = 5): DataFrame = {
    val q = features(queries, Queries, col(idCol), quantize(col(vecCol)))
    val c = features(corpus, Corpus, col(idCol), quantize(col(vecCol)))
    topKPerQuery(scored(c.crossJoin(broadcast(q)), exactCosine), k)
  }

  /** I3a — brute-force cosine top-k neighbors for each query vector.
    * The corpus side is broadcast (queries stream past it), under the
    * [[MaxBroadcastRowsConf]] budget; for corpus >> memory use
    * [[lshTopK]] instead. Integral ids run the per-row top-k kernel over
    * the cached [[exactIndex]]; any other id type takes the broadcast
    * join + window path, which preserves the id type. Both leave a null
    * id out on either side. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5): DataFrame = {
    if (integralId(queries, idCol) && integralId(corpus, idCol))
      return indexTopK(queries, idCol, vecCol,
        exactIndex(corpus, idCol, vecCol, "bruteForceTopK"), k)
    requireBroadcastable(corpus, idCol, "bruteForceTopK")
    val q = features(queries, Queries, col(idCol), quantize(col(vecCol)))
    val c = features(corpus, Corpus, col(idCol), quantize(col(vecCol)))
    topKPerQuery(scored(q.join(broadcast(c), col("query_id") =!= col("neighbor_id")),
      exactCosine), k)
  }

  /** Each query row's top-k against a broadcast index by the per-row
    * kernel ([[graft.functions.CellTopKExpr]]), the long kernel ids cast
    * back to the queries' id type. */
  private[graft] def indexTopK(queries: DataFrame, idCol: String, vecCol: String,
      index: Broadcast[CellIndex], k: Int): DataFrame =
    emit(queries.select(col(idCol).cast("long").as("query_id"), col(vecCol).as("qv")),
      CellTopK(col("query_id"), col("qv"), index, k), Some(queries.schema(idCol).dataType))

  /** Cache key: (applicationId, canonicalized corpus plan, id col, vec col)
    * and the index's build parameters — empty for [[exactIndex]],
    * (nBlocks, nCodes) for the sample-trained PQ index and (nBlocks,
    * nCodes, updates) for the integer-Lloyd one. The applicationId
    * component is load-bearing: broadcasts die with their SparkContext, so
    * a plan-identical corpus queried from a RESTARTED session must miss (a
    * hit would hand out a broadcast whose blocks no longer exist and fail
    * at execution with an opaque fetch error). */
  private type IndexKey = (String,
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, String, Seq[Int])

  private[graft] def indexKey(corpus: DataFrame, idCol: String, vecCol: String,
      params: Seq[Int]): IndexKey =
    (corpus.sparkSession.sparkContext.applicationId,
      corpus.queryExecution.analyzed.canonicalized, idCol, vecCol, params)

  /** A bounded cache of broadcast indexes, one per DISTINCT (corpus, build
    * parameters): repeated bench/verify/explain calls on the same corpus —
    * the way every long-running driver actually calls this — reuse one
    * corpus-sized allocation instead of leaking one per call.
    *
    * Contract and bounds:
    *  - assumes corpus files are IMMUTABLE while cached (plan equality is
    *    path-based; rewriting a parquet in place and re-querying within one
    *    session would serve the old vectors — call [[releaseBroadcasts]]
    *    after any such rewrite);
    *  - bounded at [[MaxCachedIndexes]] entries, oldest evicted first —
    *    eviction only DROPS the strong reference (no destroy), so in-flight
    *    plans keep working and Spark's ContextCleaner reclaims the
    *    broadcast once their DataFrames are garbage;
    *  - first-writer-wins: a concurrent builder's losing index is destroyed
    *    before anything can plan on it. */
  private object IndexCache {
    private val entries = new java.util.LinkedHashMap[IndexKey, Broadcast[CellIndex]](
        16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[IndexKey, Broadcast[CellIndex]]) =
        this.size() > MaxCachedIndexes
    }

    def get(key: IndexKey): Option[Broadcast[CellIndex]] =
      synchronized(Option(entries.get(key)))

    /** The cached index for `key`, else `build`'s (None is not cached). */
    def getOrBuild(key: IndexKey)(
        build: => Option[Broadcast[CellIndex]]): Option[Broadcast[CellIndex]] =
      get(key).orElse(build.map { fresh =>
        val winner = synchronized {
          val prev = entries.get(key)
          if (prev == null) { entries.put(key, fresh); fresh } else prev
        }
        if (winner ne fresh) fresh.destroy()
        winner
      })

    def size: Int = synchronized(entries.size())

    def clear(): Unit = synchronized {
      val it = entries.values().iterator()
      while (it.hasNext) { it.next().destroy(); it.remove() }
    }
  }

  private val MaxCachedIndexes = 16

  /** Destroy every cached index broadcast (driver lifecycle hook — called
    * by Bench/Verify at teardown; call it between suites or after a corpus
    * file rewrite). DataFrames built by earlier [[bruteForceTopK]]/
    * [[pqTopK]]/[[pqTopKExact]] calls must not run (or be constructed
    * concurrently) after this. */
  def releaseBroadcasts(): Unit = IndexCache.clear()

  /** Visible for tests: number of live cached index broadcasts. */
  private[graft] def cachedIndexCount: Int = IndexCache.size

  /** Visible for tests: the cached exact index for a corpus, if any. */
  private[graft] def cachedBroadcastFor(
      corpus: DataFrame, idCol: String, vecCol: String) =
    IndexCache.get(indexKey(corpus, idCol, vecCol, Nil))

  /** Conf key bounding the brute-force broadcast corpus (rows). The
    * broadcast path ships the WHOLE corpus to the driver and every
    * executor; at 64-dim quantized vectors the default 2M-row budget is
    * ~1 GB — comfortably broadcastable, far below a 100 TB corpus. Above
    * it, fail fast with a pointer at the scale paths instead of OOMing
    * the driver mid-collect. */
  val MaxBroadcastRowsConf = "graft.similarity.maxBroadcastCorpusRows"
  private val DefaultMaxBroadcastRows = 2000000L

  /** Corpus-size gate of every broadcast brute-force path: `caller` fails
    * fast instead of OOMing the driver mid-collect. The probe is bounded
    * (`limit(budget+1).count` — scans at most budget+1 ids, never a full
    * count of an over-budget corpus). */
  private[graft] def requireBroadcastable(corpus: DataFrame, idCol: String,
      caller: String): Unit = {
    val budget = corpus.sparkSession.conf
      .get(MaxBroadcastRowsConf, DefaultMaxBroadcastRows.toString).toLong
    val probe = math.min(budget + 1, Int.MaxValue.toLong).toInt
    if (corpus.select(col(idCol)).limit(probe).count() > budget)
      throw new IllegalArgumentException(
        s"$caller: corpus exceeds the $budget-row broadcast budget" +
          s" ($MaxBroadcastRowsConf) — this tier ships the whole corpus to every executor." +
          " Use Similarity.lshTopK or Similarity.ivfTopKExact, or raise the budget.")
  }

  /** The index packer of every fused tier: `(id: long, cell: int,
    * payload)` rows → one broadcast [[CellIndex]] of `nCells` cells, rows
    * sorted by cell. The payload is a vector on the 1e-6 grid
    * (`array<bigint>`; norm √Σx²) or, with `pq`'s books, PQ codes
    * (`array<int>`; norm √Σn2, the reconstruction's). A row with a null id
    * is left out, as the join path's `id ≠` predicate drops it: a null id
    * is never a neighbor. A zero-norm row is left out: it never scores.
    * `pq`'s flag marks books trained on the grid. */
  private def packIndex(spark: SparkSession, rows: Array[Row], probe: Probe,
      nCells: Int, pq: Option[(PqCodebooks, Boolean)]): Broadcast[CellIndex] = {
    val books = pq.map(_._1).orNull
    val dim = if (books != null) books.dim
      else if (rows.isEmpty) 0 else rows(0).getSeq[Long](2).size
    val kept = rows.filterNot(_.isNullAt(0)).map { r =>
      val v = r.getSeq[Number](2).map(_.longValue).toArray
      val norm2 = if (books != null)
        v.indices.foldLeft(0.0)((s, b) => s + books.n2(b * books.nCodes + v(b).toInt))
      else {
        require(v.length == dim, s"ragged embedding dim: ${v.length} != $dim")
        v.foldLeft(0L)((s, x) => s + x * x).toDouble
      }
      (r.getInt(1), r.getLong(0), v, math.sqrt(norm2))
    }.filter(_._4 > 0).sortBy(_._1)
    val cellStart = new Array[Int](nCells + 1)
    kept.foreach(e => cellStart(e._1 + 1) += 1)
    for (c <- 1 to nCells) cellStart(c) += cellStart(c - 1)
    val payload = kept.flatMap(_._3)
    spark.sparkContext.broadcast(new CellIndex(probe, cellStart, kept.map(_._2),
      kept.map(_._4), dim, if (books == null) payload else null, books,
      if (books == null) null else payload.map(_.toByte), pq.exists(_._2)))
  }

  /** The exact corpus index of [[bruteForceTopK]] and the exact stream
    * ([[graft.streaming.VectorServe.serveExact]]), cached: every row with
    * a vector, on the grid, in one cell. The corpus collect (and the
    * broadcast, on a cache miss) happens EAGERLY at DataFrame-construction
    * time, like a prepared statement — plan-only inspection of the result
    * also pays it. */
  private[graft] def exactIndex(corpus: DataFrame, idCol: String,
      vecCol: String, caller: String): Broadcast[CellIndex] =
    IndexCache.getOrBuild(indexKey(corpus, idCol, vecCol, Nil)) {
      requireBroadcastable(corpus, idCol, caller)
      Some(packIndex(corpus.sparkSession, corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long"), lit(0), quantize(col(vecCol))).collect(),
        AllCells, 1, None))
    }.get

  /** The cosine-probe IVF corpus of [[ivfServe]], [[ivfPqServe]] and the
    * IVF stream ([[graft.streaming.VectorServe.serveIvf]]): float
    * `centroids` ([[trainCosineCentroids]]) and, with `pq` = (nBlocks,
    * nCodes), float PQ books ([[trainCodebooks]]), both trained on one
    * bounded sample; the `cells` they pick; and the [[corpusSide]], each
    * corpus row's one cell assigned by the executor probe expression. The
    * serve tiers join that side and the stream's [[ivfIndex]] collects it,
    * so batch and stream share their cells by construction. None on an
    * empty (or all-null-vector) corpus. */
  private final case class ProbeCorpus(centroids: Array[Array[Double]], cells: Cells,
      side: DataFrame, pq: Books)

  private def probeCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int, pq: Option[(Int, Int)]): Option[ProbeCorpus] = {
    val sample = boundedSample(idVecs(corpus, idCol, vecCol))
    if (sample.isEmpty) return None
    val centroids = trainCosineCentroids(sample, nList, LloydIters)
    val cells = cosineCells(centroids, vecCol, nProbe)
    val books = pq.fold[Option[Books]](Some(None)) { case (nBlocks, nCodes) =>
      trainCodebooks(sample, nBlocks, nCodes, LloydIters).map(b => Some(b -> false)) }
    books.map(b => ProbeCorpus(centroids, cells, corpusSide(corpus, idCol, vecCol, cells, b), b))
  }

  /** The cell index of the IVF stream
    * ([[graft.streaming.VectorServe.serveIvf]]): [[ivfServe]]'s corpus
    * side collected within the broadcast budget, each query probing its
    * `nProbe` nearest cells by cosine inside the kernel. */
  private[graft] def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int): Option[Broadcast[CellIndex]] = {
    requireBroadcastable(corpus.filter(col(vecCol).isNotNull), idCol, "serveIvf")
    probeCorpus(corpus, idCol, vecCol, nList, nProbe, None).map(pc =>
      packIndex(corpus.sparkSession, pc.side.select(col("neighbor_id"), col("cell"),
        col("cv")).collect(), CosineProbe(pc.centroids, nProbe), pc.centroids.length, None))
  }

  /** SQ8 per-component map `f(x, mn, mx)` against the corpus's
    * per-dimension (mns, mxs) stats row: posexplode + groupBy(pos), whose
    * map-side partial min/max reduces the shuffle to #partitions·dim rows,
    * regrouped into two dim-length arrays and crossed onto the rows. */
  private def sq8Map(df: DataFrame, vecCol: String)(
      f: (Column, Column, Column) => Column): (DataFrame, Column) = {
    val in = df.filter(col(vecCol).isNotNull)
    val stats = in.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("pos"), col("x").cast("double").as("x"))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mn")))).as("smn"),
        sort_array(collect_list(struct(col("pos"), col("mx")))).as("smx"))
      .select(transform(col("smn"), s => s.getField("mn")).as("mns"),
        transform(col("smx"), s => s.getField("mx")).as("mxs"))
    (in.crossJoin(broadcast(stats)),
      transform(col(vecCol), (x, i) => f(x.cast("double"),
        element_at(col("mns"), i + 1), element_at(col("mxs"), i + 1))))
  }

  /** The int8 code of component `x` in [mn, mx] (before the mx == mn case). */
  private def sq8Code(x: Column, mn: Column, mx: Column): Column =
    floor((x - mn) / (mx - mn) * 255 + lit(0.5))

  /** I3j — scalar (int8) quantization: per-dimension min/max over the
    * corpus, each component linearly mapped to an integer code in
    * [0, 255]. The memory axis of vector serving WITHOUT a training step:
    * unlike PQ's sampled k-means codebooks there is no seed anywhere, so
    * codes — and every downstream rank — are exactly reproducible across
    * engines (the one quantization family the DuckDB oracle can
    * hash-check end to end, vs the recall-gated PQ/IVF/LSH rows).
    *
    * Scale shape: the stats pass is a posexplode + groupBy(pos) whose
    * map-side partial min/max reduces the shuffle to #partitions·dim
    * rows; the 2·dim stats then ride ONE broadcast row back onto an
    * un-exploded `transform` over the original vectors (per-element
    * `element_at` into a broadcast-local array attribute — O(1), not a
    * re-evaluated subtree), so corpus rows never shuffle to get coded.
    * A constant dimension (mx == mn) codes to 0 everywhere. */
  def sq8Codes(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val (in, codes) = sq8Map(df, vecCol)((x, mn, mx) =>
      when(mx > mn, sq8Code(x, mn, mx).cast("long")).otherwise(lit(0L)))
    in.select(col(idCol).as("vid"), codes.as("codes"))
  }

  /** I3j — exhaustive top-k under SQ8: rank by cosine of the
    * RECONSTRUCTED vectors (x̂ = mn + code·range/255 — raw code dots are
    * offset-dominated because int8 codes are unsigned), snapped to the
    * 1e-6 integer grid so the dot products are exact integers and ranks
    * are engine-reproducible. Queries broadcast over a single partitioned
    * corpus scan into the bounded-heap top-k aggregate; corpus rows never
    * shuffle, only k winners per query do. Kept exhaustive so ranking
    * error is ONLY quantization error; the candidate-pruning axes (IVF
    * cells, LSH buckets) compose orthogonally exactly as over PQ codes. */
  def sq8TopK(df: DataFrame, idCol: String, vecCol: String,
      nQueries: Int, k: Int): DataFrame = {
    val (in, recon) = sq8Map(df, vecCol)((x, mn, mx) =>
      when(mx > mn,
        floor((mn + sq8Code(x, mn, mx) * (mx - mn) / 255) * 1000000d).cast("long"))
        .otherwise(floor(mn * 1000000d).cast("long")))
    // pinned: the query slice and the scan side both read the
    // reconstructed vectors, and unpinned each re-ran the per-dimension
    // min/max stats aggregate AND the dequantize kernel (round-14 plan
    // audit: the stats explode+aggregate subtree appeared twice)
    val c = Checkpoints.pin(features(in, Corpus, col(idCol), recon))
    val q = c.filter(col("neighbor_id") < nQueries)
      .select(col("neighbor_id").as("query_id"), col("cv").as("qv"),
        col("cn").as("qn"))
    topKPerQuery(scored(c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id")), exactCosine), k)
  }

  /** I3e — Product-Quantization ANN (Jégou et al., TPAMI 2011): vectors are
    * chopped into `nBlocks` subvectors, each encoded as its nearest
    * per-block centroid id (`nCodes` per block, per-block Euclidean Lloyd
    * trained driver-side on a bounded sample — the same sample-fit /
    * full-assign shape as [[ivfServe]]'s cells), compressing dim floats to nBlocks
    * small ints. Search is ADC: per query one O(dim·nCodes) lookup table,
    * then every candidate scores in O(nBlocks) array lookups from its CODES
    * — the corpus's raw vectors are never touched at query time.
    *
    * PQ is the MEMORY axis of billion-scale ANN: 64-dim float vectors are
    * 256 bytes, their codes 16 (one byte per block at nCodes=256) — a
    * corpus whose raw vectors can never fit executor memory scans
    * comfortably as codes. The candidate axis is
    * orthogonal: compose with IVF cells ([[ivfPqServe]], [[ivfPqTopKExact]]) or
    * [[lshTopK]]'s buckets to avoid the exhaustive scan this standalone
    * form runs (kept exhaustive here so recall is bounded ONLY by
    * quantization error — gated by `i3_pq_recall_gate`).
    *
    * The per-row top-k kernel over a PQ code index: per query row one
    * LUT, every code row scored in O(nBlocks) lookups into a bounded heap
    * — no join, no shuffle, no |Q|×|C| materialization (the join
    * formulation dragged the 32 KB LUT through every pair; profiled 10×
    * slower). */
  def pqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nBlocks: Int = 16,
      nCodes: Int = 256): DataFrame =
    pqScan(df, idCol, vecCol, k, nBlocks, nCodes, None)(
      sampledPqIndex(_, nBlocks, nCodes))

  /** The code-index scan of the PQ tiers: the index cached for (corpus,
    * nBlocks, nCodes, `updates`), else `build`'s from [[idVecs]]' frame;
    * each query row is scored from its raw vector. */
  private def pqScan(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nBlocks: Int, nCodes: Int, updates: Option[Int])(
      build: DataFrame => Option[Broadcast[CellIndex]]): DataFrame = {
    requireCodes(nCodes)
    val feats = idVecs(df, idCol, vecCol)
    IndexCache.getOrBuild(indexKey(df, idCol, vecCol, Seq(nBlocks, nCodes) ++ updates)) {
      // fail-fast BEFORE the sample scan and Lloyd training — an
      // over-budget corpus must not pay minutes of work first
      requireBroadcastable(df, idCol, if (updates.isEmpty) "pqTopK" else "pqTopKExact")
      build(feats)
    } match {
      case None => emptyResult(feats, col("id"))
      case Some(index) =>
        emit(feats.select(col("id").as("query_id"), col("v")),
          CellTopK(col("query_id"), col("v"), index, k))
    }
  }

  /** [[pqTopK]] with INTEGER-Lloyd per-block codebooks — the derandomized,
    * fully oracle-checkable PQ (round 11; the `i3_ivf_ann_topk` playbook
    * on the block axis): codebooks come from [[KMeans.blockCodebooks]]
    * (nCodes lowest-id seed slices, exact fixed-point updates, on the
    * driver under the collect budget), and both the encode argmin and the ADC
    * scan run on exact-integer-valued DOUBLES (the 1e-6 grid: every
    * product ≤ 2^41 and every sum ≤ 2^47 stays exact in IEEE double; the
    * kernel snaps each query to the grid itself), so
    * [[graft.functions.PqEncodeExpr]] and the per-row top-k kernel serve
    * both tiers and
    * DuckDB reproduces codes, reconstruction norms, scores and ranks
    * bit-for-bit by extending the shared k-means CTE recurrence per
    * block. Same broadcast-code-table scan shape (and cache) as
    * [[pqTopK]]; the float sample-trained path stays for sample-fit
    * workflows. */
  def pqTopKExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nBlocks: Int = 16,
      nCodes: Int = 256,
      updates: Int = 1): DataFrame =
    pqScan(df, idCol, vecCol, k, nBlocks, nCodes, Some(updates)) { feats =>
      if (feats.limit(1).isEmpty) None
      else Some(codeIndex(feats, lloydCodebooks(df.filter(col(vecCol).isNotNull),
        idCol, vecCol, nBlocks, nCodes, updates), onGrid = true))
    }

  /** Integer-Lloyd per-block codebooks ([[KMeans.blockCodebooks]]) on the
    * unshifted grid, as exact-integer doubles (the +1e6 shift is uniform,
    * so floor-mean commutes with it). `df0` holds the rows with a vector. */
  private def lloydCodebooks(df0: DataFrame, idCol: String, vecCol: String,
      nBlocks: Int, nCodes: Int, updates: Int): PqCodebooks =
    unshifted(KMeans.blockCodebooks(df0, idCol, vecCol, nCodes, updates, nBlocks))

  /** [[KMeans.blockCodebooks]]' shifted-grid books as exact-integer
    * doubles on the unshifted grid. */
  private def unshifted(shifted: (Array[Array[Array[Long]]], Int, Int)): PqCodebooks = {
    val (books, bs, dim) = shifted
    new PqCodebooks(books.map(_.map(_.map(v => (v - KMeans.Scale).toDouble))), bs, dim)
  }

  /** The IVF × PQ COMPOSITION with both quantizers integer-Lloyd — the
    * round-11 capstone: candidate generation from [[ivfTopKExact]]'s
    * coarse cells/probes, scoring from [[pqTopKExact]]'s per-block
    * codebooks by asymmetric distance (the corpus is scored from its
    * codes, never its raw vectors). Every stage is exact integer arithmetic, so the WHOLE
    * composed index — cells, probes, codes, ADC scores, ranks — is one
    * DuckDB-reproducible function of the data; the serve-tier gates keep
    * pinning the float/sample production path. Self-join form (queries =
    * corpus) like the other fixture rows.
    *
    * Under [[KMeans.LocalLloydMaxRows]] it runs [[lloydIvf]]'s kernel
    * route: each query row builds its (block, code) dot table once and
    * scans only its `nProbe` grid-probed cells' code lists, nBlocks
    * lookups per candidate. Scores are bit-identical to
    * [[graft.functions.PqAdcExpr]]'s because every product and partial
    * sum stays an integer below 2^53 (the index builder checks the
    * bound). */
  def ivfPqTopKExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nList: Int = 16,
      nProbe: Int = 4,
      nBlocks: Int = 16,
      nCodes: Int = 256,
      updates: Int = 1): DataFrame = {
    requireCodes(nCodes)
    lloydIvf(df, idCol, vecCol, k, nList, nProbe, updates, Some(nBlocks -> nCodes))
  }

  /** The integer-Lloyd IVF self-join of [[ivfTopKExact]] (grid vectors,
    * exact cosine) and [[ivfPqTopKExact]] (`pq` = (nBlocks, nCodes): PQ
    * codes, ADC). A corpus within [[KMeans.LocalLloydMaxRows]] is
    * collected ONCE ([[KMeans.collectLocal]]; an empty collect is the
    * empty result): the quantizers train on the driver ([[KMeans.lloyd]]),
    * and the corpus cells and payloads fill a per-call
    * [[graft.functions.CellIndex]] ([[lloydIndex]]) through the same
    * assignment and encode kernels as the join route. It is broadcast,
    * not cached, so each call trains and scores; the ContextCleaner
    * reclaims it. Each query row then scores in one projection
    * ([[graft.functions.CellTopKExpr]]) with the self-exclusion,
    * zero-norm rule and (score DESC, id ASC) ties of the join route — no
    * join, no shuffle, no aggregate. Over the budget, with a repeated id
    * (the join route merges a repeated query id's candidates), or past
    * the PQ bound, the distributed Lloyd and the [[cellPairs]] route run
    * instead. */
  private def lloydIvf(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nList: Int, nProbe: Int, updates: Int, pq: Option[(Int, Int)]): DataFrame = {
    val df0 = df.filter(col(vecCol).isNotNull)
    val id = col(idCol).cast("long")
    val local = KMeans.collectLocal(df0.select(Seq(col(idCol).as("vid"),
      KMeans.quantize(col(vecCol)).as("q"), id.as("id")) ++
      pq.map(_ => nonZero(col(vecCol)).as("nz")): _*))
    if (local.exists(_.isEmpty)) return emptyResult(df0, id)
    local.flatMap(lloydIndex(df.sparkSession, _, nList, nProbe, updates, pq)) match {
      case Some(index) =>
        emit(df0.select(id.as("query_id"), col(vecCol).as("qv")),
          CellTopK(col("query_id"), col("qv"), index, k))
      case None => // over the budget, a repeated id or past the bound: not empty
        val cells = lloydCells(
          KMeans.centroids(df0, idCol, vecCol, nList, updates), vecCol, nProbe)
        val books: Books = pq.map { case (nBlocks, nCodes) =>
          lloydCodebooks(df0, idCol, vecCol, nBlocks, nCodes, updates) -> true }
        ivfRanked(cellPairs(df, corpusSide(df, idCol, vecCol, cells, books),
          querySide(df, idCol, vecCol, cells, books)), books, k)
    }
  }

  /** [[lloydIvf]]'s index from the `(vid, q, id[, nz])` rows of
    * [[KMeans.collectLocal]]: the quantizers trained on those rows, then
    * every row filed under its grid cell with its grid vector or, with
    * `pq`, the codes of its raw nonzero vector. None when an id repeats
    * or a PQ score could leave the exact-integer range of a double. */
  private def lloydIndex(spark: SparkSession, rows: Array[Row], nList: Int,
      nProbe: Int, updates: Int, pq: Option[(Int, Int)]): Option[Broadcast[CellIndex]] = {
    val ids = rows.filterNot(_.isNullAt(2)).map(_.getLong(2))
    if (ids.distinct.length != ids.length) return None
    val qs = KMeans.vectors(rows)
    val grid = qs.map(_.map(_ - KMeans.Scale))
    // trained centroids and codes are floor means of the inputs, so the
    // inputs' largest magnitude bounds every component
    lazy val m = BigInt(grid.iterator.flatMap(_.iterator).map(math.abs).foldLeft(0L)(math.max))
    if (pq.nonEmpty && BigInt(grid(0).length) * m * m >= (BigInt(1) << 53)) return None
    val cents = KMeans.lloyd(qs, nList, updates)
    val books = pq.map { case (nBlocks, nCodes) =>
      unshifted(KMeans.localBlockCodebooks(qs, nCodes, updates, nBlocks)) }
    val filed = rows.indices
      .filter(r => books.isEmpty || (!rows(r).isNullAt(3) && rows(r).getBoolean(3)))
      .map(r => Row(rows(r).get(2),
        KMeansKernel.assign(UnsafeArrayData.fromPrimitiveArray(qs(r)), cents).getInt(0),
        books.fold[Seq[Any]](grid(r).toSeq)(
          PqKernel.encode(grid(r).map(_.toDouble), _).toSeq)))
    Some(packIndex(spark, filed.toArray, GridProbe(cents.map(_.map(_ - KMeans.Scale)), nProbe),
      cents.length, books.map(_ -> true)))
  }

  /** Train codebooks on a bounded sample and pack the code index; None on
    * an empty (or empty-vector) corpus. `feats` is [[idVecs]]' frame. */
  private[graft] def sampledPqIndex(feats: DataFrame, nBlocks: Int, nCodes: Int)
      : Option[Broadcast[CellIndex]] =
    trainCodebooks(boundedSample(feats), nBlocks, nCodes, LloydIters)
      .map(codeIndex(feats, _, onGrid = false))

  /** Code-index builder: encode `feats` (`(id, v)`) DISTRIBUTED
    * (width-pinned barrier — compact inputs otherwise scan as one
    * partition; `onGrid` books encode the grid vector), then collect only
    * the codes into one [[packIndex]] cell; the corpus's raw vectors never
    * reach the driver. Zero-norm vectors are excluded HERE on the raw norm
    * ([[nonZero]]). Codes are 16× smaller than the raw corpus — raise the
    * broadcast budget accordingly when composing. */
  private def codeIndex(feats: DataFrame, books: PqCodebooks,
      onGrid: Boolean): Broadcast[CellIndex] =
    packIndex(feats.sparkSession, feats
      .repartition(Par.of(feats))
      .filter(nonZero(col("v")))
      .select(col("id"), lit(0),
        PqOps.pqEncode(pqVec(col("v"), onGrid), books))
      .collect(), AllCells, 1, Some(books -> onGrid))

  /** Train the per-block PQ codebooks on a bounded sample; None on an
    * empty (or empty-vector) sample. Shared by [[pqTopK]]'s broadcast
    * table build and [[probeCorpus]]'s IVF-PQ books. */
  private[graft] def trainCodebooks(
      sample: Array[Array[Double]], nBlocks: Int, nCodes: Int,
      iters: Int): Option[PqCodebooks] = {
    if (sample.isEmpty || sample(0).isEmpty) return None
    val dim = sample(0).length
    val bs = (dim + nBlocks - 1) / nBlocks
    val mEff = (dim + bs - 1) / bs
    val blocks = Array.tabulate(mEff) { b =>
      val from = b * bs
      val len = math.min(bs, dim - from)
      lloydEuclid(sample.map(x =>
        java.util.Arrays.copyOfRange(x, from, from + len)), nCodes, iters)
    }
    Some(new PqCodebooks(blocks, bs, dim))
  }

  /** Per-block Euclidean [[lloyd]] for the PQ codebooks, ties to the lower index. */
  private def lloydEuclid(
      xs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] =
    lloyd(xs, k, iters) { cents => x =>
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0
        var i = 0
        while (i < x.length) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** Driver-side Lloyd, shared by both sample-fit quantizers:
    * deterministic min-id init (the first `k` sample vectors), each
    * iteration assigns every vector by `nearest(centroids)` and moves each
    * centroid to its members' mean; empty clusters keep their previous
    * centroid. A sample smaller than `k` simply yields fewer centroids. */
  private def lloyd(xs: Array[Array[Double]], k: Int, iters: Int)(
      nearest: Array[Array[Double]] => Array[Double] => Int)
      : Array[Array[Double]] = {
    var cents = xs.take(k).map(_.clone())
    val len = if (xs.isEmpty) 0 else xs(0).length
    (0 until iters).foreach { _ =>
      val pick = nearest(cents)
      val sums = Array.fill(cents.length)(new Array[Double](len))
      val counts = new Array[Long](cents.length)
      xs.foreach { x =>
        val best = pick(x)
        counts(best) += 1
        var i = 0
        while (i < math.min(x.length, len)) { sums(best)(i) += x(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    cents
  }

  /** Deterministic bounded training sample for the sample-fit/full-assign
    * quantizer trainers: first [[MaxTrainSample]] rows by id — stable
    * across partitioning, layouts, and scale-ups that append ids. `feats`
    * is [[idVecs]]' frame. */
  private def boundedSample(feats: DataFrame): Array[Array[Double]] =
    feats.orderBy(col("id")).limit(MaxTrainSample).collect()
      .map(_.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue()).toArray)

  /** Driver-side cosine Lloyd for the IVF coarse quantizer: nearest by
    * cosine, ties to the lower index, a zero side scoring -inf — the
    * cells of [[probeCorpus]], so the batch and streaming serve tiers
    * probe the SAME cell geometry for a given corpus. */
  private[graft] def trainCosineCentroids(
      sample: Array[Array[Double]], nList: Int,
      iters: Int): Array[Array[Double]] =
    lloyd(sample, nList, iters) { cents =>
      val cNorm = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      x => {
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          var dot = 0.0; var xn = 0.0; var i = 0
          val n = math.min(x.length, cents(c).length)
          while (i < n) { dot += x(i) * cents(c)(i); xn += x(i) * x(i); i += 1 }
          val s = if (xn > 0 && cNorm(c) > 0) dot / (math.sqrt(xn) * cNorm(c))
            else Double.NegativeInfinity
          if (s > bestScore) { bestScore = s; best = c }
          c += 1
        }
        best
      }
    }

  /** I3f at scale — IVF-accelerated query-batch serving: the
    * [[batchTopK]] contract (small fixed batch, unbounded corpus) with the
    * corpus scan narrowed by a float coarse quantizer instead of scored
    * exhaustively. Train on a bounded corpus sample, assign each corpus
    * row its ONE nearest cell map-side (broadcast centroids ride the
    * plan; [[probeCorpus]]), explode each query into its `nProbe` nearest
    * cells, then broadcast-hash-join the tiny (|Q|·nProbe)-row query side
    * on the cell id ([[probePairs]]): corpus rows never shuffle, rows
    * outside every probed cell are dropped at the join without being
    * scored, and only the bounded-heap winners (≤ |Q|·k) cross the one
    * shuffle. A corpus row whose id equals the query's is never its
    * neighbor, nor is a null id; query rows that share an id share one
    * answer (the heap groups by query id). At 100 TB the same geometry
    * goes further: write the corpus partitioned BY the cell id once
    * (`df.withColumn("cell", …).write.partitionBy("cell")`) and a probe
    * filter on `cell` becomes partition pruning — the serve then READS
    * only nProbe/nList of the corpus instead of merely not scoring it
    * (layout pinned by LlmSpec's pruning test). Recall is bounded by the
    * probe set like any IVF; gated vs exact [[batchTopK]] by
    * `i3_ivf_serve_gate`. */
  def ivfServe(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      nList: Int = 16, nProbe: Int = 4): DataFrame =
    probeServe(queries, corpus, idCol, vecCol, k, nList, nProbe, None)

  /** I3f, both axes — IVF-PQ batch serving (the billion-scale ANN
    * composition [[pqTopK]]'s scaladoc points at): [[ivfServe]]'s coarse
    * cells bound the CANDIDATES, product-quantization codes bound the
    * MEMORY. The corpus is encoded distributed — each row becomes
    * (cell, nBlocks bytes of codes) and its raw vector is dropped from
    * the serve plan right there, so the per-row payload past the scan is
    * ~16 bytes instead of dim floats; nothing corpus-sized is ever
    * collected or broadcast (the difference from [[pqTopK]], whose code
    * TABLE is a driver-built broadcast and caps the corpus at the
    * broadcast budget). Probed candidates score via [[graft.functions.PqAdcExpr]]
    * directly on their codes; only bounded-heap winners cross the one
    * shuffle. Recall compounds both quantizers' losses — gated vs exact
    * [[batchTopK]] by `i3_ivfpq_serve_gate`. Zero-norm corpus rows are
    * excluded at encode time on the RAW norm, as in [[pqTopK]]'s build;
    * self-exclusion and repeated query ids as in [[ivfServe]]. */
  def ivfPqServe(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      nList: Int = 16, nProbe: Int = 4,
      nBlocks: Int = 16, nCodes: Int = 256): DataFrame = {
    requireCodes(nCodes)
    probeServe(queries, corpus, idCol, vecCol, k, nList, nProbe, Some(nBlocks -> nCodes))
  }

  /** [[ivfServe]] and [[ivfPqServe]]: the [[probeCorpus]] side joined to
    * the broadcast probes ([[probePairs]]), scored, heap top-k. */
  private def probeServe(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nList: Int, nProbe: Int,
      pq: Option[(Int, Int)]): DataFrame =
    probeCorpus(corpus, idCol, vecCol, nList, nProbe, pq) match {
      case None => emptyResult(queries, col(idCol).cast("long"))
      case Some(pc) => ivfRanked(probePairs(pc.side,
        querySide(queries, idCol, vecCol, pc.cells, pc.pq)), pc.pq, k)
    }

  /** Sign-bucket id for LSH table `table`: `nPlanes` random-hyperplane sign
    * bits packed into a long. Vectors in the same bucket are cosine-close
    * with probability (1 − θ/π)^nPlanes. One fused kernel
    * ([[graft.functions.HyperplaneLshExpr]]) — the `aggregate`/`zip_with`
    * formulation built a (planes × elements) interpreted-lambda tree whose
    * analysis time alone dominated the query. */
  def lshBucket(vec: Column, nPlanes: Int = 12, table: Int = 0,
      hashFamily: String = "murmur"): Column = {
    require(hashFamily == "murmur" || hashFamily == "md5",
      s"unknown hashFamily '$hashFamily' (expected murmur or md5)")
    if (hashFamily == "md5")
      graft.functions.HashExprs.md5HyperplaneLsh(vec, nPlanes, table)
    else graft.functions.HashExprs.hyperplaneLsh(vec, nPlanes, table)
  }

  /** IVF ANN with the INTEGER-Lloyd coarse quantizer — the derandomized,
    * fully oracle-checkable IVF (round 11, the md5-MinHash playbook
    * applied to IVF): centroids are [[KMeans]]'s (k lowest-id seeds, exact
    * fixed-point updates), corpus cells come from the same argmin kernel,
    * query probes are the top-nProbe cells by squared grid distance (ties
    * to the lower index), and candidate scoring is the exact
    * quantized-integer cosine. Every stage is a pure integer function of
    * the data, so DuckDB reproduces cells, probes, candidates and ranks
    * bit-for-bit by extending the `i3_kmeans` CTE chain. Runs
    * [[lloydIvf]] with the grid-vector payload. */
  def ivfTopKExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nList: Int = 16,
      nProbe: Int = 4,
      updates: Int = 1): DataFrame =
    lloydIvf(df, idCol, vecCol, k, nList, nProbe, updates, None)

  /** I3b — LSH-bucketed ANN: `nTables` independent hyperplane tables; a
    * pair is a candidate if it collides in ANY table (IVF-style recall
    * boost: 1 − (1−p)^T), then exact cosine + top-k within candidates.
    *
    * Scale note (measured, session-13 audit): at FIXED `nPlanes` the
    * self-join candidate count is Θ(N²/2^nPlanes) — 64 buckets that each
    * grow linearly with the corpus pair quadratically (the 16× shard
    * audit OOM'd an 8 GiB heap on ~128M candidate rows). `nPlanes = 0`
    * selects the plane count automatically so expected bucket occupancy
    * stays ≤ [[LshTargetOccupancy]] at any corpus size: candidates stay
    * ~occupancy·N (linear), which is how a production corpus actually
    * runs LSH — index params grow with log N. The corpus is counted once
    * (one bounded aggregate) to size the family. */
  val LshTargetOccupancy = 32L

  /** Smallest plane count keeping expected bucket occupancy n/2^p at or
    * under [[LshTargetOccupancy]], clamped to [4, 24]. */
  private[graft] def lshAutoPlanes(n: Long): Int =
    math.min(24, math.max(4,
      64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, (n - 1) / LshTargetOccupancy))))

  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nPlanes: Int = 8,
      nTables: Int = 4,
      hashFamily: String = "murmur"): DataFrame = {
    require(nPlanes >= 0 && nPlanes <= 64, s"nPlanes must be in [0, 64]: $nPlanes")
    val planes = if (nPlanes > 0) nPlanes else lshAutoPlanes(df.count())
    val b = features(df, Queries, col(idCol), quantize(col(vecCol)),
      (0 until nTables).map(t =>
        lshBucket(col(vecCol), planes, t, hashFamily).as(s"bucket_$t")): _*)
      .repartition(Par.of(df), col("query_id")) // barrier: buckets + norm computed once
    // the bucket self-join and the cross-table dedup move ID PAIRS ONLY:
    // shipping the two quantized vectors through the collision join
    // multiplied every candidate row by ~1 KB × table multiplicity (the
    // 64× shard audit measured the old shape 6.3× over its 16→64×
    // candidate growth — pure exchange volume). Features re-attach after
    // distinct by two id-keyed joins against the (already materialized)
    // barrier frame, so each vector crosses the wire once per SIDE it
    // appears on, not once per collision.
    val buckets = b.select(col("query_id"),
      posexplode(array((0 until nTables).map(t => col(s"bucket_$t")): _*))
        .as(Seq("table_idx", "bucket")))
    val other = buckets.select(col("query_id").as("neighbor_id"),
      col("table_idx"), col("bucket"))
    val candIds = buckets.join(other, Seq("table_idx", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct() // a pair colliding in several tables counts once
    val qFeats = b.select(col("query_id"), col("qv"), col("qn"))
    val nFeats = b.select(col("query_id").as("neighbor_id"),
      col("qv").as("cv"), col("qn").as("cn"))
    // window, not the heap aggregate, on purpose (re-measured session 13
    // AFTER the id-pair dedup restructure): candidate sets per query are
    // bucket-sized (tens), and the heap's extra groupBy exchange lost at
    // both ends — 0.59 vs 0.44 s at sf0.1 and 235 vs 213 s at the 16×
    // fixed-plane shard — because the post-join pair rows are already
    // skinny and the cosine compute dominates. (The IVF path keeps the
    // heap: its pairs arrive pre-shuffled by cell, where the map-side
    // partial top-k measured 37 vs 57 s at 16×.)
    windowTopK(scored(candIds
      .join(qFeats, Seq("query_id"))
      .join(nFeats, Seq("neighbor_id")), exactCosine), k)
  }
}
