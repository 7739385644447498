package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.KMeansExprs
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
  * Scale design: the corpus never leaves the executors. Per round, the
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
      .transform(Checkpoints.pin) // quantize once; every round rescans this
    val cents = train(base, k, updates)
    val asg = KMeansExprs.assign(col("q"), cents)
    base.select(col("vid").as(idCol) +: passthrough.map(col) :+
      asg("cluster").as("cluster") :+ asg("dist").as("dist"): _*)
  }

  /** The trained centroid table alone (same seeds, same update recurrence
    * as [[fit]] — bit-identical) for callers that need the centroids as a
    * reusable quantizer, e.g. IVF cell probing
    * ([[Similarity.ivfTopKExact]]). The training pin is released before
    * returning (the collects inside the loop materialize eagerly). */
  def centroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      updates: Int): Array[Array[Long]] = Checkpoints.scope {
    require(k > 0 && updates >= 0, s"bad k=$k / updates=$updates")
    train(Checkpoints.pin(df
      .select(col(idCol).as("vid"), quantize(col(vecCol)).as("q"))
      .filter(col("q").isNotNull)), k, updates)
  }

  /** Per-block codebooks for product quantization: block b's codebook is
    * trained by the SAME seed/update recurrence as [[fit]] on the block
    * subvectors (seeds = the nCodes lowest-id vectors' slices, exact
    * fixed-point floor-division updates), with ALL blocks riding one
    * exploded block-index column so each Lloyd update is a single
    * distributed pass regardless of block count. Returns
    * (books[block][code][blockDim] on the shifted grid, blockSize, dim).
    * Caller guarantees a non-empty corpus. */
  def blockCodebooks(df: DataFrame, idCol: String, vecCol: String,
      nCodes: Int, updates: Int, nBlocks: Int): (Array[Array[Array[Long]]], Int, Int) = {
    require(nCodes > 0 && updates >= 0 && nBlocks > 0,
      s"bad nCodes=$nCodes / updates=$updates / nBlocks=$nBlocks")
    val q = df
      .select(col(idCol).as("vid"), quantize(col(vecCol)).as("q"))
      .filter(col("q").isNotNull)
    val seedRows = q.orderBy(col("vid")).limit(nCodes)
      .select(col("q")).collect().map(_.getSeq[Long](0).toArray)
    val dim = seedRows(0).length
    val bs = (dim + nBlocks - 1) / nBlocks
    val mEff = (dim + bs - 1) / bs
    var books: Array[Array[Array[Long]]] = Array.tabulate(mEff) { b =>
      seedRows.map(v =>
        java.util.Arrays.copyOfRange(v, b * bs, math.min((b + 1) * bs, dim)))
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

  private def train(base: DataFrame, k: Int,
      updates: Int): Array[Array[Long]] = {
    var cents: Array[Array[Long]] = base.orderBy(col("vid")).limit(k)
      .select(col("q")).collect()
      .map(_.getSeq[Long](0).toArray)
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
