package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Fused k-means assignment kernel over integer-quantized vectors (EXT row
  * I3; no reference-repo counterpart — semantic clustering is the corpus
  * organization step of an LLM data pipeline).
  *
  * All arithmetic is exact BIGINT (vectors are pre-quantized to 1e-6 grid,
  * shifted non-negative), so the argmin — and therefore the whole Lloyd
  * iteration built on it — is bit-identical across engines and
  * partitionings; a DuckDB oracle reproduces it exactly. The centroid
  * table rides into generated code as one reference object (k×dim longs —
  * broadcast-by-closure, never a join), and the distance loop early-exits
  * once a partial sum passes the best-so-far, which preserves the strict
  * `<` tie rule (ties keep the lower centroid index).
  */
object KMeansKernel {
  /** Per-dimension delta bound; with [[MaxDim]] it makes the accumulator
    * provably wrap-free: dim·MaxDelta² ≤ 4096·2^50 = 2^62 < 2^63. */
  val MaxDelta: Long = 1L << 25
  val MaxDim: Int = 4096

  /** Argmin centroid for `vec`: returns (cluster index, squared distance).
    * Ties break to the LOWER index (strict improvement required). */
  def assign(vec: ArrayData, cents: Array[Array[Long]]): InternalRow = {
    val n = vec.numElements()
    if (n > MaxDim) {
      throw new IllegalArgumentException(
        s"kmeans_assign: dim $n exceeds $MaxDim — the delta bound alone " +
          "no longer keeps the distance sum inside a Long")
    }
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      if (cent.length != n) {
        throw new IllegalArgumentException(
          s"kmeans_assign: vector dim $n != centroid dim ${cent.length}")
      }
      var d = 0L
      var i = 0
      while (i < n && d < bestD) {
        val t = vec.getLong(i) - cent(i)
        // |t| ≤ 2^25 with dim ≤ MaxDim keeps the sum wrap-free — the
        // quantized 1e-6 grid sits at ~2^21, but the SQL surface accepts
        // arbitrary bigints, and a silent t*t wrap would return a WRONG
        // argmin instead of an error
        if (t > MaxDelta || t < -MaxDelta) {
          throw new IllegalArgumentException(
            s"kmeans_assign: |element - centroid| = ${math.abs(t)} exceeds " +
              s"2^25; inputs must sit on the quantized integer grid")
        }
        d += t * t
        i += 1
      }
      if (i == n && d < bestD) { bestD = d; best = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](best, bestD))
  }

  /** The `nProbe` nearest centroid indices of `vec`, ordered by (squared
    * distance asc, index asc): every distance is needed for the ranking,
    * so there is no early exit. */
  def nearestCells(vec: ArrayData, cents: Array[Array[Long]], nProbe: Int): Array[Int] = {
    val n = vec.numElements()
    val m = cents.length
    val dists = new Array[Long](m)
    var c = 0
    while (c < m) {
      val cent = cents(c)
      if (cent.length != n) {
        throw new IllegalArgumentException(
          s"kmeans_nearest_cells: vector dim $n != centroid dim ${cent.length}")
      }
      var d = 0L
      var i = 0
      while (i < n) {
        val t = vec.getLong(i) - cent(i)
        if (t > MaxDelta || t < -MaxDelta) {
          throw new IllegalArgumentException(
            s"kmeans_nearest_cells: |element - centroid| exceeds 2^25; " +
              "inputs must sit on the quantized integer grid")
        }
        d += t * t
        i += 1
      }
      dists(c) = d
      c += 1
    }
    (0 until m).sortBy(c => (dists(c), c)).take(nProbe).toArray
  }
}

/** `struct(cluster int, dist bigint)` nearest-centroid assignment of an
  * `array<bigint>` quantized vector. Codegen'd (one static call per row —
  * the projection containing it stays in whole-stage codegen). */
case class KMeansAssignExpr(child: Expression, centroids: Array[Array[Long]])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", LongType, nullable = false)))
  override def prettyName: String = "kmeans_assign"

  override def nullSafeEval(input: Any): Any =
    KMeansKernel.assign(input.asInstanceOf[ArrayData], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", centroids, "long[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.KMeansKernel.assign($c, $cRef);")
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** Block-indexed [[KMeansAssignExpr]] for product-quantization training:
  * row (b, blockVec) is assigned against codebook `books(b)` — all blocks
  * of a PQ corpus train through ONE distributed pass per Lloyd update
  * (the per-block alternative would scan the corpus once per block).
  * Same exact-integer arithmetic and lower-index tie rule as
  * [[KMeansKernel.assign]]; returns just the cluster id (int). */
case class KMeansBlockAssignExpr(left: Expression, right: Expression,
    books: Array[Array[Array[Long]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "kmeans_block_assign"

  override def nullSafeEval(blockAny: Any, vecAny: Any): Any = {
    val b = blockAny.asInstanceOf[Int]
    KMeansKernel.assign(vecAny.asInstanceOf[ArrayData], books(b)).getInt(0)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("books", books, "long[][][]")
    nullSafeCodeGen(ctx, ev, (b, v) =>
      s"${ev.value} = graft.functions.KMeansKernel.assign($v, $bRef[$b]).getInt(0);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression) =
    copy(left = newLeft, right = newRight)
}

/** `array<int>` of the `nProbe` nearest centroid indices for a quantized
  * vector, ordered by (squared distance asc, index asc) — the IVF probe
  * list. Same exact-integer arithmetic and tie rule as [[KMeansKernel]]
  * (no early-exit here: every distance is needed for the ranking), so a
  * DuckDB `ROW_NUMBER() OVER (ORDER BY dist, cid)` reproduces the probe
  * set bit-for-bit. */
case class KMeansNearestCellsExpr(child: Expression,
    centroids: Array[Array[Long]], nProbe: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(nProbe >= 1, s"nProbe must be >= 1: $nProbe")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "kmeans_nearest_cells"

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      KMeansKernel.nearestCells(input.asInstanceOf[ArrayData], centroids, nProbe)
        .map(Int.box).toArray[Any])

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

object KMeansExprs {
  def assign(vec: Column, centroids: Array[Array[Long]]): Column = {
    require(centroids.nonEmpty, "kmeans_assign needs at least one centroid")
    Bridge.column(KMeansAssignExpr(Bridge.expression(vec), centroids))
  }

  def nearestCells(vec: Column, centroids: Array[Array[Long]],
      nProbe: Int): Column = {
    require(centroids.nonEmpty, "kmeans_nearest_cells needs centroids")
    Bridge.column(KMeansNearestCellsExpr(Bridge.expression(vec), centroids,
      math.min(nProbe, centroids.length)))
  }

  def blockAssign(block: Column, vec: Column,
      books: Array[Array[Array[Long]]]): Column = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "kmeans_block_assign needs at least one centroid per block")
    Bridge.column(KMeansBlockAssignExpr(
      Bridge.expression(block), Bridge.expression(vec), books))
  }
}
