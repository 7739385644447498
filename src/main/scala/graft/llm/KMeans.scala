package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import graft.functions.{KMeansExprs, KMeansKernel}
import graft.operators.Checkpoints

/** Deterministic Lloyd k-means over embedding columns in exact integer
  * fixed-point arithmetic — the semantic-clustering pass a corpus pipeline
  * uses to organize documents by embedding neighborhood (topic balancing,
  * cluster-based dedup/sampling). EXT row I3 (clustering variant); no
  * reference-repo counterpart.
  *
  * Determinism contract (same rationale as [[graft.operators.PageRank]]):
  * vectors are quantized to a 1e-6 grid, shifted non-negative so every
  * truncating integer division is a floor in any engine, and seeded from
  * the k lowest-id vectors — every assignment and centroid update is then
  * a pure integer function of the input, bit-identical regardless of
  * partitioning, parallelism, or engine, so a DuckDB oracle reproduces the
  * full iteration exactly. (Floating-point Lloyd would be none of this:
  * FP mean accumulation orders differ per shuffle.)
  *
  * Scale design: a corpus of at most [[LocalLloydMaxRows]] vectors is
  * collected ONCE, in seed order, and every Lloyd round runs on the driver
  * through the same [[KMeansKernel.assign]] — same seeds, same floor
  * division, same kept centroid for an empty cluster, so the centroids are
  * bit-identical to the distributed rounds (KMeansSpec pins both paths
  * equal). At bench size a round is microseconds of arithmetic but one
  * scheduled job; the same bounded-collect pattern as
  * `KCore.LocalPeelMaxEdges` and `ConnectedComponents.LocalUnionFindMaxEdges`.
  * Over the budget the corpus never leaves the executors: per round the
  * driver sees exactly k×dim longs (the per-dimension sums arrive through
  * a map-side-combined groupBy over posexploded vectors) and broadcasts
  * them back inside the fused assignment kernel ([[KMeansKernel]]) — no
  * join, no second corpus pass per round. The quantized input is
  * localCheckpointed once, so R rounds cost R scans of one |corpus|×dim
  * long table plus R k×dim collects; at 1000 executors the round count is
  * the only serial factor.
  */
object KMeans {

  val Scale = 1000000L

  /** Row ceiling of the driver-local Lloyd: a corpus of at most this many
    * non-null vectors is collected once (64 dims: about 150 MB of boxed
    * longs at the ceiling) and trained on the driver; a larger one runs
    * the distributed rounds. Mutable ONLY so specs can force the
    * distributed path. */
  private[graft] var LocalLloydMaxRows: Int = 100000

  /** Quantize a float/double vector column to the non-negative 1e-6 grid:
    * `floor(x * 1e6) + 1e6` per element (embeddings in [-1, 1] land in
    * [0, 2e6]; the uniform shift cancels in every distance). */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(Scale)).cast("long") + lit(Scale))

  /** Assignments after `updates` centroid refreshes from the k lowest-id
    * seeds. Returns one row per input row: `id`, the passthrough columns,
    * `cluster` (0-based seed rank) and `dist` (squared quantized-grid
    * distance to the final centroid). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int, updates: Int,
      passthrough: Seq[String] = Nil): DataFrame = {
    require(k > 0 && updates >= 0, s"bad k=$k / updates=$updates")
    val base = df
      .select(col(idCol).as("vid") +: quantize(col(vecCol)).as("q") +:
        passthrough.map(col): _*)
      .filter(col("q").isNotNull)
      .transform(Checkpoints.pin) // quantize once; training and assignment read this
    val cents = train(base.select(col("vid"), col("q")), k, updates)(identity)
    val asg = KMeansExprs.assign(col("q"), cents)
    base.select(col("vid").as(idCol) +: passthrough.map(col) :+
      asg("cluster").as("cluster") :+ asg("dist").as("dist"): _*)
  }

  /** The trained centroid table alone (same seeds, same update recurrence
    * as [[fit]] — bit-identical) for callers that need the centroids as a
    * reusable quantizer: the integer-Lloyd IVF tiers
    * ([[Similarity.ivfTopKExact]], [[Similarity.ivfPqTopKExact]]) on
    * their join route, past the collect budget or with a repeated id
    * (under it they train on their own [[collectLocal]] with [[lloyd]]).
    * A distributed training pin is released before returning (the
    * collects inside the loop materialize eagerly). */
  def centroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      updates: Int): Array[Array[Long]] = {
    require(k > 0 && updates >= 0, s"bad k=$k / updates=$updates")
    train(quantized(df, idCol, vecCol), k, updates)(Checkpoints.pin)
  }

  /** Per-block codebooks for product quantization: block b's codebook is
    * trained by the SAME seed/update recurrence as [[fit]] on the block
    * subvectors (seeds = the nCodes lowest-id vectors' slices, exact
    * fixed-point floor-division updates). Under the budget every block
    * trains driver-side from one collect; over it ALL blocks ride one
    * exploded block-index column so each Lloyd update is a single
    * distributed pass regardless of block count. Returns
    * (books[block][code][blockDim] on the shifted grid, blockSize, dim).
    * Caller guarantees a non-empty corpus. */
  def blockCodebooks(df: DataFrame, idCol: String, vecCol: String,
      nCodes: Int, updates: Int, nBlocks: Int): (Array[Array[Array[Long]]], Int, Int) = {
    require(nCodes > 0 && updates >= 0 && nBlocks > 0,
      s"bad nCodes=$nCodes / updates=$updates / nBlocks=$nBlocks")
    val q = quantized(df, idCol, vecCol)
    collectLocal(q) match {
      case Some(rows) => localBlockCodebooks(vectors(rows), nCodes, updates, nBlocks)
      case None => distributedBlockCodebooks(q, nCodes, updates, nBlocks)
    }
  }

  /** `(vid, q)`: the id and quantized vector of every row with a vector. */
  private def quantized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), quantize(col(vecCol)).as("q"))
      .filter(col("q").isNotNull)

  /** The rows of `q` (`vid`, `q`, then any further columns) in seed order —
    * `vid` ascending, nulls first, as the distributed seed pick orders
    * them — collected in one job when there are at most
    * [[LocalLloydMaxRows]]; None over the budget. */
  private[graft] def collectLocal(q: DataFrame): Option[Array[Row]] = {
    val rows = q.orderBy(col("vid")).limit(LocalLloydMaxRows + 1).collect()
    if (rows.length > LocalLloydMaxRows) None else Some(rows)
  }

  /** The quantized vectors (column 1) of [[collectLocal]]'s rows. */
  private[graft] def vectors(rows: Array[Row]): Array[Array[Long]] =
    rows.map(_.getSeq[Long](1).toArray)

  /** Driver-local Lloyd over vectors in seed order: the first k are the
    * seeds, and each update assigns every vector through
    * [[KMeansKernel.assign]] and floor-divides the per-dimension member
    * sums — the distributed round's recurrence, so the result is
    * bit-identical to it. */
  private[graft] def lloyd(qs: Array[Array[Long]], k: Int,
      updates: Int): Array[Array[Long]] = {
    var cents = qs.take(k).map(_.clone())
    val data = qs.map(v => UnsafeArrayData.fromPrimitiveArray(v): ArrayData)
    for (_ <- 1 to updates) {
      val sums = cents.map(c => new Array[Long](c.length))
      val counts = new Array[Long](cents.length)
      var r = 0
      while (r < qs.length) {
        val c = KMeansKernel.assign(data(r), cents).getInt(0)
        val (v, s) = (qs(r), sums(c))
        var i = 0
        while (i < v.length) { s(i) += v(i); i += 1 }
        counts(c) += 1
        r += 1
      }
      // empty cluster keeps its centroid; truncating div == floor: sums of
      // shifted values are non-negative
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** Block size and effective block count of `dim` split into `nBlocks`. */
  private def blockShape(dim: Int, nBlocks: Int): (Int, Int) = {
    val bs = (dim + nBlocks - 1) / nBlocks
    (bs, (dim + bs - 1) / bs)
  }

  private def blockSlice(v: Array[Long], b: Int, bs: Int, dim: Int): Array[Long] =
    java.util.Arrays.copyOfRange(v, b * bs, math.min((b + 1) * bs, dim))

  /** [[blockCodebooks]] from vectors in seed order: [[lloyd]] per block. */
  private[graft] def localBlockCodebooks(qs: Array[Array[Long]], nCodes: Int,
      updates: Int, nBlocks: Int): (Array[Array[Array[Long]]], Int, Int) = {
    val dim = qs(0).length
    val (bs, mEff) = blockShape(dim, nBlocks)
    (Array.tabulate(mEff)(b =>
      lloyd(qs.map(blockSlice(_, b, bs, dim)), nCodes, updates)), bs, dim)
  }

  private def distributedBlockCodebooks(q: DataFrame, nCodes: Int,
      updates: Int, nBlocks: Int): (Array[Array[Array[Long]]], Int, Int) = {
    val seedRows = seeds(q, nCodes)
    val dim = seedRows(0).length
    val (bs, mEff) = blockShape(dim, nBlocks)
    var books: Array[Array[Array[Long]]] = Array.tabulate(mEff) { b =>
      seedRows.map(blockSlice(_, b, bs, dim))
    }
    if (updates == 0) return (books, bs, dim)
    Checkpoints.scope {
      val base = q.select(col("vid"),
          posexplode(transform(sequence(lit(0), lit(mEff - 1)),
            bb => slice(col("q"), bb * lit(bs) + lit(1), lit(bs))))
            .as(Seq("b", "blk")))
        .transform(Checkpoints.pin) // slice once; every update rescans this
      for (_ <- 1 to updates) {
        val perDim = base
          .select(col("b"), KMeansExprs.blockAssign(col("b"), col("blk"), books).as("c"),
            posexplode(col("blk")).as(Seq("i", "e")))
          .groupBy(col("b"), col("c"), col("i"))
          .agg(sum(col("e")).as("s"), count(lit(1)).as("n"))
          .collect() // mEff×nCodes×blockSize rows — driver-small at any corpus size
        val next = books.map(_.map(_.clone())) // empty cluster keeps its centroid
        perDim.foreach { r =>
          // truncating div == floor: sums of shifted values are non-negative
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getLong(3) / r.getLong(4)
        }
        books = next
      }
      (books, bs, dim)
    }
  }

  /** Centroids after `updates` rounds from the k lowest-id seeds of `q`'s
    * `(vid, q)` rows: [[lloyd]] on the driver under the budget, else the
    * distributed rounds over `pin(q)`. */
  private def train(q: DataFrame, k: Int, updates: Int)(
      pin: DataFrame => DataFrame): Array[Array[Long]] =
    collectLocal(q) match {
      case Some(rows) => lloyd(vectors(rows), k, updates)
      case None => Checkpoints.scope(rounds(pin(q), k, updates))
    }

  /** The distributed seed pick: the `n` lowest-`vid` vectors of `q`. */
  private def seeds(q: DataFrame, n: Int): Array[Array[Long]] =
    q.orderBy(col("vid")).limit(n).select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)

  private def rounds(base: DataFrame, k: Int,
      updates: Int): Array[Array[Long]] = {
    var cents = seeds(base, k)
    for (_ <- 1 to updates) {
      val perDim = base
        .select(KMeansExprs.assign(col("q"), cents)("cluster").as("c"),
          posexplode(col("q")).as(Seq("i", "e")))
        .groupBy(col("c"), col("i"))
        .agg(sum(col("e")).as("s"), count(lit(1)).as("n"))
        .collect() // k×dim rows — driver-small at any corpus size
      val next = cents.map(_.clone()) // empty cluster keeps its centroid
      perDim.foreach { r =>
        // truncating div == floor: sums of shifted values are non-negative
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      cents = next
    }
    cents
  }
}
