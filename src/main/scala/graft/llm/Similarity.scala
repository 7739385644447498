package graft.llm

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PqCodeTable, PqCodebooks, PqOps, TopKCorpus}
import graft.operators.Checkpoints

/** Similarity search over embedding columns (SURVEY §2 Group I, I3):
  * brute-force cosine top-k as the exactness baseline, LSH-bucketed
  * (random-hyperplane) search as the scale path. Dot products via
  * `zip_with` + `aggregate` — pure codegen'd expressions, no UDFs.
  *
  * Every top-k tier composes private `features → route → score → top-k`
  * stages: [[features]]; its own join, the IVF [[cellPairs]] or
  * [[probePairs]] over a [[Cells]] quantizer, or LSH buckets; [[scored]]
  * by [[exactCosine]] or [[adc]]; [[topKPerQuery]], [[windowTopK]] or a
  * fused kernel's [[emit]]. Broadcast indexes live in an [[IndexCache]].
  *
  * | tier | features | route | score | top-k |
  * |---|---|---|---|---|
  * | [[hardNegatives]] | both sides | broadcast queries, label ≠ | exact | heap |
  * | [[batchTopK]] | both sides | broadcast queries, cross | exact | heap |
  * | [[bruteForceTopK]] | query quantize | broadcast corpus kernel | exact (fused) | emit |
  * | same, non-integral ids | both sides | broadcast corpus, id ≠ | exact | window |
  * | [[sq8TopK]] | SQ8 reconstruction | broadcast queries, id ≠ | exact | heap |
  * | [[pqTopK]], [[pqTopKExact]] | — | broadcast code table kernel | ADC (fused) | emit |
  * | [[ivfTopK]], [[ivfTopKExact]] | both sides | cell self-join | exact | heap |
  * | [[ivfPqTopKExact]] | codes | cell self-join | ADC | heap |
  * | [[ivfServe]] | both sides | broadcast probes | exact | heap |
  * | [[ivfPqServe]] | codes | broadcast probes | ADC | heap |
  * | [[lshTopK]] | both sides | bucket self-join | exact | window |
  */
object Similarity {

  /** Cosine similarity between two float-array columns (double math). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b,
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    dot / (sqrt(na) * sqrt(nb))
  }

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

  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(dotQ(a, a).cast("double")) * sqrt(dotQ(b, b).cast("double")))

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

  /** Exact-integer-valued double view of the 1e-6 grid (floor() yields
    * BIGINT; the PQ kernels take float/double arrays, and the cast back is
    * exact — |values| ≤ 2^21 ≪ 2^53). */
  private def quantD(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000000d).cast("double"))

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

  /** Route — IVF serve: the corpus scan joins the broadcast probe side. */
  private def probePairs(corpus: DataFrame, probes: DataFrame): DataFrame =
    corpus.join(broadcast(probes), Seq("cell"))

  /** IVF sides for the exact score, from the rows with a vector: corpus
    * [[features]] with their one `cell`, query features per probed `cell`. */
  private def exactSides(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cells: Cells): (DataFrame, DataFrame) = {
    val id = col(idCol).cast("long")
    (features(corpus.filter(col(vecCol).isNotNull), Corpus, id,
      quantize(col(vecCol)), cells.assign.as("cell")),
      features(queries.filter(col(vecCol).isNotNull), Queries, id,
        quantize(col(vecCol)), explode(cells.probes).as("cell")))
  }

  /** IVF sides for the ADC score: raw-nonzero corpus rows as `cell` + codes
    * of `vec` (raw vectors leave the plan), query `vec` per probed `cell`. */
  private def pqSides(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cells: Cells, books: PqCodebooks,
      vec: Column): (DataFrame, DataFrame) = {
    val id = col(idCol).cast("long")
    (corpus.filter(col(vecCol).isNotNull).filter(nonZero(col(vecCol)))
      .select(id.as("neighbor_id"), cells.assign.as("cell"),
        PqOps.pqEncode(vec, books).as("codes")),
      queries.filter(col(vecCol).isNotNull)
        .select(id.as("query_id"), vec.as("qv"), explode(cells.probes).as("cell")))
  }

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
    * [[lshTopK]] instead. Integral ids run the fused broadcast kernel
    * ([[bruteForceTopKBroadcast]]); any other id type takes the broadcast
    * join + window path, which preserves the id type. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5): DataFrame = {
    if (integralId(queries, idCol) && integralId(corpus, idCol))
      return bruteForceTopKBroadcast(queries, corpus, idCol, vecCol, k)
    requireBroadcastable(corpus, idCol)
    val q = features(queries, Queries, col(idCol), quantize(col(vecCol)))
    val c = features(corpus, Corpus, col(idCol), quantize(col(vecCol)))
    topKPerQuery(scored(q.join(broadcast(c), col("query_id") =!= col("neighbor_id")),
      exactCosine), k)
  }

  /** A bounded cache of broadcast indexes, one per DISTINCT corpus (keyed
    * by the canonicalized logical plan + columns + build parameters):
    * repeated bench/verify/explain calls on the same corpus — the way
    * every long-running driver actually calls this — reuse one
    * corpus-sized allocation instead of leaking one per call.
    *
    * Contract and bounds:
    *  - assumes corpus files are IMMUTABLE while cached (plan equality is
    *    path-based; rewriting a parquet in place and re-querying within one
    *    session would serve the old vectors — call [[releaseBroadcasts]]
    *    after any such rewrite);
    *  - bounded at [[MaxCachedCorpora]] entries, oldest evicted first —
    *    eviction only DROPS the strong reference (no destroy), so in-flight
    *    plans keep working and Spark's ContextCleaner reclaims the
    *    broadcast once their DataFrames are garbage;
    *  - first-writer-wins: a concurrent builder's losing index is released
    *    before anything can plan on it. */
  private final class IndexCache[K, V <: AnyRef](release: V => Unit) {
    private val entries = new java.util.LinkedHashMap[K, V](16, 0.75f, false) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]) =
        this.size() > MaxCachedCorpora
    }

    def get(key: K): Option[V] = synchronized(Option(entries.get(key)))

    /** The cached index for `key`, else `build`'s (None is not cached). */
    def getOrBuild(key: K)(build: => Option[V]): Option[V] =
      get(key).orElse(build.map { fresh =>
        val winner = synchronized {
          val prev = entries.get(key)
          if (prev == null) { entries.put(key, fresh); fresh } else prev
        }
        if (winner ne fresh) release(fresh)
        winner
      })

    def size: Int = synchronized(entries.size())

    def clear(): Unit = synchronized {
      val it = entries.values().iterator()
      while (it.hasNext) { release(it.next()); it.remove() }
    }
  }

  private val MaxCachedCorpora = 8

  /** Cache key: (applicationId, canonicalized corpus plan, id col, vec col).
    * The applicationId component is load-bearing: broadcasts die with their
    * SparkContext, so a plan-identical corpus queried from a RESTARTED
    * session must miss (a hit would hand out a broadcast whose blocks no
    * longer exist and fail at execution with an opaque fetch error). */
  private type CorpusKey =
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, String)

  private[graft] def corpusKey(corpus: DataFrame, idCol: String, vecCol: String): CorpusKey =
    (corpus.sparkSession.sparkContext.applicationId,
      corpus.queryExecution.analyzed.canonicalized, idCol, vecCol)

  private val corpusCache =
    new IndexCache[CorpusKey, Broadcast[TopKCorpus]](_.destroy())

  /** PQ code-table key: the corpus, nBlocks, nCodes, and the integer-Lloyd
    * update count — None for the sample-trained books, a separate table. */
  private type PqKey = (CorpusKey, Int, Int, Option[Int])
  private val pqCache =
    new IndexCache[PqKey, (PqCodebooks, Broadcast[PqCodeTable])](_._2.destroy())

  /** Destroy every cached broadcast — brute-force corpora AND PQ code
    * tables (driver lifecycle hook — called by Bench/Verify at teardown;
    * call it between suites or after a corpus file rewrite). DataFrames
    * built by earlier [[bruteForceTopK]]/[[pqTopK]] calls must not run
    * (or be constructed concurrently) after this. */
  def releaseBroadcasts(): Unit = {
    corpusCache.clear()
    pqCache.clear()
  }

  /** Visible for tests: number of live cached corpus broadcasts. */
  private[graft] def cachedBroadcastCount: Int = corpusCache.size

  /** Visible for tests: number of live cached PQ code tables. */
  private[graft] def pqCachedCount: Int = pqCache.size

  /** Visible for tests: the cached broadcast for a corpus, if any. */
  private[graft] def cachedBroadcastFor(
      corpus: DataFrame, idCol: String, vecCol: String) =
    corpusCache.get(corpusKey(corpus, idCol, vecCol))

  /** Conf key bounding the brute-force broadcast corpus (rows). The
    * broadcast path ships the WHOLE corpus to the driver and every
    * executor; at 64-dim quantized vectors the default 2M-row budget is
    * ~1 GB — comfortably broadcastable, far below a 100 TB corpus. Above
    * it, fail fast with a pointer at the scale paths instead of OOMing
    * the driver mid-collect. */
  val MaxBroadcastRowsConf = "graft.similarity.maxBroadcastCorpusRows"
  private val DefaultMaxBroadcastRows = 2000000L

  /** Corpus-size gate for every broadcast brute-force path. The probe is
    * bounded (`limit(budget+1).count` — scans at most budget+1 ids, never
    * a full count of an over-budget corpus). */
  private def requireBroadcastable(corpus: DataFrame, idCol: String): Unit = {
    val budget = corpus.sparkSession.conf
      .get(MaxBroadcastRowsConf, DefaultMaxBroadcastRows.toString).toLong
    val probe = math.min(budget + 1, Int.MaxValue.toLong).toInt
    if (corpus.select(col(idCol)).limit(probe).count() > budget)
      throw new IllegalArgumentException(
        s"bruteForceTopK: corpus exceeds the $budget-row broadcast budget " +
          s"($MaxBroadcastRowsConf) — the brute-force path ships the whole " +
          "corpus to every executor. Use Similarity.lshTopK or " +
          "Similarity.ivfTopK for large corpora, or raise the budget.")
  }

  /** Vector packer: `(id: long, quantized vector)` rows → ids, vectors
    * row-major in one flat array (row `r` at `slot(r)`), norms, dim. */
  private def packVectors(rows: Array[Row], slot: Int => Int)
      : (Array[Long], Array[Long], Array[Double], Int) = {
    val n = rows.length
    val dim = if (n == 0) 0 else rows(0).getSeq[Long](1).size
    val ids = new Array[Long](n)
    val flat = new Array[Long](n * dim)
    val norms = new Array[Double](n)
    var r = 0
    while (r < n) {
      val j = slot(r)
      ids(j) = rows(r).getLong(0)
      val v = rows(r).getSeq[Long](1)
      require(v.size == dim, s"ragged embedding dim: ${v.size} != $dim")
      var dot = 0L
      var i = 0
      while (i < dim) {
        val x = v(i)
        flat(j * dim + i) = x
        dot += x * x
        i += 1
      }
      norms(j) = math.sqrt(dot.toDouble)
      r += 1
    }
    (ids, flat, norms, dim)
  }

  /** Broadcast-corpus brute force: the corpus (quantized vectors + norms) is
    * collected once and shipped as a Spark broadcast — the same memory
    * contract as the broadcast hash join it replaces — and each query row
    * computes its whole top-k in one fused kernel
    * ([[graft.functions.BroadcastTopKExpr]]). No join, no shuffle, no
    * aggregate: queries stream past the corpus exactly like the
    * BroadcastNestedLoopJoin plan, minus |Q|×|C| row materialization.
    * Null-vector corpus rows are left out of the index.
    *
    * Note the corpus collect (and the broadcast, on a cache miss) happens
    * EAGERLY at DataFrame-construction time, like a prepared statement —
    * plan-only inspection of the result also pays it. */
  private[graft] def bruteForceTopKBroadcast(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val bc = corpusCache.getOrBuild(corpusKey(corpus, idCol, vecCol)) {
      requireBroadcastable(corpus, idCol)
      val rows = corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long"), quantize(col(vecCol))).collect()
      val (ids, flat, norms, dim) = packVectors(rows, identity)
      Some(queries.sparkSession.sparkContext.broadcast(
        new TopKCorpus(ids, flat, norms, dim)))
    }.get
    emit(queries.select(col(idCol).cast("long").as("query_id"),
        quantize(col(vecCol)).as("qv")),
      graft.functions.ArrayOps.broadcastTopK(col("query_id"), col("qv"), bc, k),
      Some(queries.schema(idCol).dataType))
  }

  /** Build-once cell-partitioned broadcast index for the STREAMING IVF
    * serve tier ([[graft.streaming.VectorServe.serveIvf]]): centroids
    * trained exactly as [[ivfServe]]'s, corpus cells assigned by the SAME
    * executor expression the batch plan uses (parity by construction, not
    * by re-implementation), rows collected (budget-guarded) and packed
    * cell-sorted with offsets. None on an empty / all-null-vector corpus. */
  private[graft] def ivfBroadcastIndex(
      corpus: DataFrame, idCol: String, vecCol: String, nList: Int)
      : Option[Broadcast[graft.functions.IvfCorpus]] = {
    val c0 = corpus.filter(col(vecCol).isNotNull)
    requireBroadcastable(c0, idCol)
    if (c0.limit(1).isEmpty) return None
    val centroids = trainCosineCentroids(
      boundedSample(idVecs(corpus, idCol, vecCol)), nList, LloydIters)
    val rows = c0.select(col(idCol).cast("long"), quantize(col(vecCol)),
        cosineCells(centroids, vecCol, 1).assign)
      .collect()
    val counts = new Array[Int](centroids.length)
    rows.foreach(r => counts(r.getInt(2)) += 1)
    val cellStart = counts.scanLeft(0)(_ + _)
    val fill = cellStart.clone()
    val slots = rows.map { r => val c = r.getInt(2); fill(c) += 1; fill(c) - 1 }
    val (ids, flat, norms, dim) = packVectors(rows, slots(_))
    Some(corpus.sparkSession.sparkContext.broadcast(
      new graft.functions.IvfCorpus(cellStart, ids, flat, norms, dim, centroids)))
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
    * full-assign shape as [[ivfTopK]]), compressing dim floats to nBlocks
    * small ints. Search is ADC: per query one O(dim·nCodes) lookup table,
    * then every candidate scores in O(nBlocks) array lookups from its CODES
    * — the corpus's raw vectors are never touched at query time.
    *
    * PQ is the MEMORY axis of billion-scale ANN: 64-dim float vectors are
    * 256 bytes, their codes 16 (one byte per block at nCodes=256) — a
    * corpus whose raw vectors can never fit executor memory scans
    * comfortably as codes. The candidate axis is
    * orthogonal: compose with [[ivfTopK]]'s cell partitioning (IVF-PQ) or
    * [[lshTopK]]'s buckets to avoid the exhaustive scan this standalone
    * form runs (kept exhaustive here so recall is bounded ONLY by
    * quantization error — gated by `i3_pq_recall_gate`).
    *
    * One fused ADC kernel per query row: LUT built once, every code row
    * scored in O(nBlocks) lookups into a bounded heap — no join, no
    * shuffle, no |Q|×|C| materialization (the join formulation dragged
    * the 32 KB LUT through every pair; profiled 10× slower). */
  def pqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nBlocks: Int = 16,
      nCodes: Int = 256): DataFrame =
    pqScan(df, idCol, vecCol, k, nBlocks, nCodes, None, identity)(
      built(_, nBlocks, nCodes))

  /** The broadcast code-table scan of the PQ tiers: the table cached for
    * (corpus, nBlocks, nCodes, `updates`), else `build`'s from
    * [[idVecs]]' frame; each query row scores `vec` of its raw vector. */
  private def pqScan(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nBlocks: Int, nCodes: Int, updates: Option[Int], vec: Column => Column)(
      build: DataFrame => Option[(PqCodebooks, Broadcast[PqCodeTable])]): DataFrame = {
    requireCodes(nCodes)
    val feats = idVecs(df, idCol, vecCol)
    pqCache.getOrBuild((corpusKey(df, idCol, vecCol), nBlocks, nCodes, updates)) {
      // fail-fast BEFORE the sample scan and Lloyd training — an
      // over-budget corpus must not pay minutes of work first
      requireBroadcastable(df, idCol)
      build(feats)
    } match {
      case None => emptyResult(feats, col("id"))
      case Some((books, table)) =>
        emit(feats.select(col("id").as("query_id"), vec(col("v")).as("v")),
          PqOps.pqTopK(col("query_id"), col("v"), table, books, k))
    }
  }

  /** [[pqTopK]] with INTEGER-Lloyd per-block codebooks — the derandomized,
    * fully oracle-checkable PQ (round 11; the `i3_ivf_ann_topk` playbook
    * on the block axis): codebooks come from [[KMeans.blockCodebooks]]
    * (nCodes lowest-id seed slices, exact fixed-point updates, one
    * distributed pass per update), and both the encode argmin and the ADC
    * scan run on exact-integer-valued DOUBLES (the 1e-6 grid: every
    * product ≤ 2^41 and every sum ≤ 2^47 stays exact in IEEE double), so
    * the existing [[graft.functions.PqEncodeExpr]]/
    * [[graft.functions.PqTopKExpr]] kernels are reused unchanged and
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
    pqScan(df, idCol, vecCol, k, nBlocks, nCodes, Some(updates), quantD) { feats =>
      if (feats.limit(1).isEmpty) None
      else Some(codeTable(feats, lloydCodebooks(df.filter(col(vecCol).isNotNull),
        idCol, vecCol, nBlocks, nCodes, updates), quantD(col("v"))))
    }

  /** Integer-Lloyd per-block codebooks ([[KMeans.blockCodebooks]]) on the
    * unshifted grid, as exact-integer doubles (the +1e6 shift is uniform,
    * so floor-mean commutes with it). `df0` holds the rows with a vector. */
  private def lloydCodebooks(df0: DataFrame, idCol: String, vecCol: String,
      nBlocks: Int, nCodes: Int, updates: Int): PqCodebooks = {
    val (shifted, bs, dim) =
      KMeans.blockCodebooks(df0, idCol, vecCol, nCodes, updates, nBlocks)
    new PqCodebooks(
      shifted.map(_.map(_.map(v => (v - KMeans.Scale).toDouble))), bs, dim)
  }

  /** The IVF × PQ COMPOSITION with both quantizers integer-Lloyd — the
    * round-11 capstone: candidate generation from [[ivfTopKExact]]'s
    * coarse cells/probes, scoring from [[pqTopKExact]]'s per-block
    * codebooks via the distributed ADC kernel ([[ivfPqServe]]'s shape:
    * corpus carries cell + 16-byte codes, raw vectors never reach the
    * join). Every stage is exact integer arithmetic, so the WHOLE
    * composed index — cells, probes, codes, ADC scores, ranks — is one
    * DuckDB-reproducible function of the data; the serve-tier gates keep
    * pinning the float/sample production path. Self-join form (queries =
    * corpus) like the other fixture rows. */
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
    val df0 = df.filter(col(vecCol).isNotNull)
    if (df0.limit(1).isEmpty) return emptyResult(df0, col(idCol).cast("long"))
    val cells = lloydCells(
      KMeans.centroids(df0, idCol, vecCol, nList, updates), vecCol, nProbe)
    val books = lloydCodebooks(df0, idCol, vecCol, nBlocks, nCodes, updates)
    val (c, q) = pqSides(df, df, idCol, vecCol, cells, books, quantD(col(vecCol)))
    topKPerQuery(scored(cellPairs(df, c, q), adc(books)), k)
  }

  /** Train codebooks + build the broadcast code table; None on an empty
    * (or empty-vector) corpus. `feats` is [[idVecs]]' frame. */
  private[graft] def built(feats: DataFrame, nBlocks: Int, nCodes: Int)
      : Option[(PqCodebooks, Broadcast[PqCodeTable])] =
    trainCodebooks(boundedSample(feats), nBlocks, nCodes, LloydIters)
      .map(codeTable(feats, _, col("v")))

  /** Code-table packer: encode `feats` (`(id, v)`) DISTRIBUTED from `vec`
    * (width-pinned barrier — compact inputs otherwise scan as one
    * partition), then collect only the byte codes into one
    * nBlocks-strided broadcast table; the corpus's raw vectors never
    * reach the driver. Zero-norm vectors are excluded HERE on the raw
    * norm ([[nonZero]]). Codes are 16× smaller than the raw corpus —
    * raise the broadcast budget accordingly when composing. */
  private def codeTable(feats: DataFrame, books: PqCodebooks, vec: Column)
      : (PqCodebooks, Broadcast[PqCodeTable]) = {
    val codeRows = feats
      .repartition(Par.of(feats))
      .filter(nonZero(col("v")))
      .select(col("id"), PqOps.pqEncode(vec, books).as("codes"))
      .collect()
    val mEff = books.nBlocks
    val flat = new Array[Byte](codeRows.length * mEff)
    var j = 0
    while (j < codeRows.length) {
      val cs = codeRows(j).getSeq[Int](1)
      var b = 0
      while (b < mEff) { flat(j * mEff + b) = cs(b).toByte; b += 1 }
      j += 1
    }
    (books, feats.sparkSession.sparkContext.broadcast(
      new PqCodeTable(codeRows.map(_.getLong(0)), flat, mEff)))
  }

  /** Train the per-block PQ codebooks on a bounded sample; None on an
    * empty (or empty-vector) sample. Shared by [[pqTopK]]'s broadcast
    * table build and [[ivfPqServe]]'s distributed encode. */
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
    * cosine, ties to the lower index, a zero side scoring -inf — shared by
    * [[ivfTopK]] (self-join fixture) and [[ivfServe]] (query-batch
    * serving) so both probe the SAME cell geometry for a given corpus. */
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

  /** The float IVF quantizer of a corpus: Lloyd runs driver-side over a
    * bounded deterministic sample (the standard sample-fit, full-assign
    * training shape) — one collect total instead of one assignment job
    * per iteration; at 64k × 64 dims the sample is ~32 MB. */
  private def sampleFitCells(corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int, nProbe: Int): Cells =
    cosineCells(trainCosineCentroids(
      boundedSample(idVecs(corpus, idCol, vecCol)), nList, LloydIters),
      vecCol, nProbe)

  /** I3f at scale — IVF-accelerated query-batch serving: the
    * [[batchTopK]] contract (small fixed batch, unbounded corpus) with the
    * corpus scan narrowed by [[ivfTopK]]'s coarse quantizer instead of
    * scored exhaustively. Train on a bounded corpus sample, assign each
    * corpus row its ONE nearest cell map-side (broadcast centroids ride
    * the plan), explode each query into its `nProbe` nearest cells, then
    * broadcast-hash-join the tiny (|Q|·nProbe)-row query side on the cell
    * id: corpus rows never shuffle, rows outside every probed cell are
    * dropped at the join without being scored, and only the bounded-heap
    * winners (≤ |Q|·k) cross the one shuffle. At 100 TB the same geometry
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
      nList: Int = 16, nProbe: Int = 4): DataFrame = {
    val (c, q) = exactSides(corpus, queries, idCol, vecCol,
      sampleFitCells(corpus, idCol, vecCol, nList, nProbe))
    topKPerQuery(scored(probePairs(c, q), exactCosine), k)
  }

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
    * excluded at encode time on the RAW norm, as in [[pqTopK]]'s build. */
  def ivfPqServe(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      nList: Int = 16, nProbe: Int = 4,
      nBlocks: Int = 16, nCodes: Int = 256): DataFrame = {
    requireCodes(nCodes)
    val sample = boundedSample(idVecs(corpus, idCol, vecCol))
    val cells = cosineCells(
      trainCosineCentroids(sample, nList, LloydIters), vecCol, nProbe)
    trainCodebooks(sample, nBlocks, nCodes, LloydIters) match {
      case None => emptyResult(queries, col(idCol).cast("long")) // empty corpus
      case Some(books) =>
        val (c, q) = pqSides(corpus, queries, idCol, vecCol, cells, books, col(vecCol))
        topKPerQuery(scored(probePairs(c, q), adc(books)), k)
    }
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
    * fully oracle-checkable variant (round 11, the md5-MinHash playbook
    * applied to IVF): centroids come from [[KMeans.centroids]] (k
    * lowest-id seeds, exact fixed-point updates), corpus cells from the
    * same argmin kernel, query probes from
    * [[graft.functions.KMeansNearestCellsExpr]] (top-nProbe by squared
    * grid distance, ties to the lower index), and candidate scoring is
    * the exact quantized-integer cosine. Every stage is a pure integer
    * function of the data, so DuckDB reproduces cells, probes, candidates
    * and ranks bit-for-bit by extending the `i3_kmeans` CTE chain. Same
    * plan shape as [[ivfTopK]] (cell equi-join, no all-pairs); the
    * float-trained [[ivfTopK]] stays available for sample-fit workflows. */
  def ivfTopKExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nList: Int = 16,
      nProbe: Int = 4,
      updates: Int = 1): DataFrame = {
    val df0 = df.filter(col(vecCol).isNotNull)
    // empty/all-null corpus: zero seeds would make KMeansExprs.assign throw
    if (df0.limit(1).isEmpty) return emptyResult(df0, col(idCol).cast("long"))
    val (c, q) = exactSides(df, df, idCol, vecCol,
      lloydCells(KMeans.centroids(df0, idCol, vecCol, nList, updates), vecCol, nProbe))
    topKPerQuery(scored(cellPairs(df, c, q), exactCosine), k)
  }

  /** I3c — IVF (inverted-file) ANN: a coarse centroid table partitions the
    * corpus into `nList` cells (k-means-style Lloyd refinement, deterministic
    * min-id init); each query probes its `nProbe` nearest cells and reranks
    * exactly within them. Candidate generation is an equi-join on the cell
    * id — linear in corpus size and naturally partitioned, the alternative
    * scale path to [[lshTopK]] when cluster structure (not random planes)
    * should drive recall. Centroids are tiny (nList × dim doubles) and ride
    * along in the plan; the corpus never leaves the executors. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nList: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val (c, q) = exactSides(df, df, idCol, vecCol,
      sampleFitCells(df, idCol, vecCol, nList, nProbe))
    topKPerQuery(scored(cellPairs(df, c, q), exactCosine), k)
  }

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
