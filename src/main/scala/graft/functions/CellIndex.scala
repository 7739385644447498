package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** How a query picks the cells of a [[CellIndex]] it scans. */
sealed trait Probe extends Serializable {
  /** The cells to scan, from the query's raw vector and its 1e-6 grid. */
  def cells(raw: Array[Double], grid: Array[Long]): Array[Int]
}

/** Every row in one cell: a tier with no coarse quantizer. */
case object AllCells extends Probe {
  private val only = Array(0)
  def cells(raw: Array[Double], grid: Array[Long]): Array[Int] = only
}

/** The `nProbe` nearest float centroids by cosine of the raw vector
  * ([[NearestCells.pick]], the batch probe expression's arithmetic). */
final case class CosineProbe(centroids: Array[Array[Double]], nProbe: Int) extends Probe {
  private val norms = centroids.map(c => math.sqrt(c.map(x => x * x).sum))
  def cells(raw: Array[Double], grid: Array[Long]): Array[Int] =
    NearestCells.pick(raw, centroids, norms, nProbe)
}

/** The `nProbe` nearest integer centroids (on the unshifted grid) of the
  * query's grid vector ([[KMeansKernel.nearestCells]]). */
final case class GridProbe(centroids: Array[Array[Long]], nProbe: Int) extends Probe {
  def cells(raw: Array[Double], grid: Array[Long]): Array[Int] =
    KMeansKernel.nearestCells(UnsafeArrayData.fromPrimitiveArray(grid), centroids, nProbe)
}

/** A corpus as the per-row top-k kernel scans it, built once on the driver
  * and shipped as a Spark broadcast (the memory contract of a broadcast
  * hash join). Rows sort by cell: cell `c` holds rows
  * `[cellStart(c), cellStart(c + 1))`. Every row has a non-null id, a norm
  * above 0 and one payload:
  *  - `grid`: its vector on the 1e-6 grid, row-major (`dim` per row),
  *    scored by exact integer cosine; or
  *  - `codes`: its `books.nBlocks` PQ codes, row-major bytes read `& 0xff`,
  *    scored by ADC against `books`; `norms` are then reconstruction norms.
  *    `onGrid` books were trained on the 1e-6 grid, so the query snaps to
  *    it before its lookup table is built.
  *
  * An integer-trained index scores exactly while every component is at
  * most M in magnitude with dim·M² < 2^53: every product and partial sum
  * is then an exact integer, and no summation order can change a score
  * (the exact IVF-PQ builder checks the bound). */
final class CellIndex(
    val probe: Probe,
    val cellStart: Array[Int],
    val ids: Array[Long],
    val norms: Array[Double],
    val dim: Int,
    val grid: Array[Long],
    val books: PqCodebooks,
    val codes: Array[Byte],
    val onGrid: Boolean)
    extends Serializable

/** The per-row top-k kernel of every fused similarity tier. */
object TopKKernel {

  /** `array<struct<score, id>>`, best first. */
  val TopKType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  /** The `k` best rows of `index` for one query (score DESC, id ASC): the
    * query's raw vector `vec` (`array<float>` when `isFloat`, else
    * `array<double>`) is snapped to the 1e-6 grid (`floor(x·10^6)`), its
    * cells picked by the index's [[Probe]], and every row of those cells
    * except the query's own id scored as `dot / (|q|·norm)`. A zero query
    * norm ranks nothing. */
  def topK(queryId: Long, vec: ArrayData, isFloat: Boolean, index: CellIndex,
      k: Int): ArrayData = {
    val n = vec.numElements()
    if (n != index.dim && index.dim > 0) {
      throw new IllegalArgumentException(
        s"query vector dim $n != index dim ${index.dim} (query id $queryId)")
    }
    val raw = new Array[Double](n)
    val grid = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      raw(i) = x
      grid(i) = math.floor(x * 1000000d).toLong
      i += 1
    }
    // the PQ lookup table, or null for the exact payload
    var lut: Array[Double] = null
    val qn = if (index.books == null) {
      var qdot = 0L
      i = 0
      while (i < n) { qdot += grid(i) * grid(i); i += 1 }
      math.sqrt(qdot.toDouble)
    } else {
      val xs = if (index.onGrid) grid.map(_.toDouble) else raw
      var qn2 = 0.0
      i = 0
      while (i < n) { qn2 += xs(i) * xs(i); i += 1 }
      lut = PqKernel.dotTable(xs, index.books)
      math.sqrt(qn2)
    }
    val buf = new TopKBuffer(k)
    if (qn > 0) {
      val cells = index.probe.cells(raw, grid)
      var p = 0
      while (p < cells.length) {
        var r = index.cellStart(cells(p))
        val end = index.cellStart(cells(p) + 1)
        while (r < end) {
          val id = index.ids(r)
          if (id != queryId) {
            val dot = if (lut == null) gridDot(grid, index.grid, r * n) else adcDot(lut, index, r)
            buf.add(dot / (qn * index.norms(r)), id)
          }
          r += 1
        }
        p += 1
      }
    }
    buf.result()
  }

  /** Exact integer dot of the query grid with the row at `base`. */
  private def gridDot(q: Array[Long], flat: Array[Long], base: Int): Double = {
    var dot = 0L
    var i = 0
    while (i < q.length) { dot += q(i) * flat(base + i); i += 1 }
    dot.toDouble
  }

  /** ADC dot of row `r`: one lookup per block into the query's table. */
  private def adcDot(lut: Array[Double], index: CellIndex, r: Int): Double = {
    val nb = index.books.nBlocks
    val nc = index.books.nCodes
    val base = r * nb
    var dot = 0.0
    var b = 0
    while (b < nb) { dot += lut(b * nc + (index.codes(base + b) & 0xff)); b += 1 }
    dot
  }
}

/** Per-row top-k of a `(query id, raw vector)` row against a broadcast
  * [[CellIndex]] ([[TopKKernel.topK]]): one projection in place of a
  * broadcast nested-loop join, a pair projection and a top-k aggregate.
  * Generated code calls the static kernel with the broadcast's value. A
  * vector of any other numeric element type is cast to `array<double>`. */
case class CellTopKExpr(
    left: Expression, // query id (long)
    right: Expression, // raw vector (array<float|double>)
    index: Broadcast[CellIndex],
    k: Int)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType, right.dataType match {
    case ArrayType(FloatType, _) => right.dataType
    case _ => ArrayType(DoubleType)
  })
  override def dataType: DataType = TopKKernel.TopKType
  override def prettyName: String = "cell_topk"

  @transient private lazy val isFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(idAny: Any, vecAny: Any): Any =
    TopKKernel.topK(idAny.asInstanceOf[Long], vecAny.asInstanceOf[ArrayData],
      isFloat, index.value, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("index", index, classOf[Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, (id, vec) =>
      s"${ev.value} = graft.functions.TopKKernel.topK($id, $vec, $isFloat, " +
        s"(${classOf[CellIndex].getName}) $ref.value(), $k);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CellTopK {
  def apply(id: Column, vec: Column, index: Broadcast[CellIndex], k: Int): Column =
    Bridge.column(CellTopKExpr(Bridge.expression(id), Bridge.expression(vec), index, k))
}

/** The `nProbe` nearest IVF cells (by cosine, ties to the lower index) of a
  * float/double vector against a small centroid table (SURVEY §2 I3c).
  * Centroids ride along in the serialized expression — nList × dim doubles,
  * a few KB; the corpus itself never leaves the executors. */
case class NearestCellsExpr(
    child: Expression,
    centroids: Array[Array[Double]],
    nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => math.sqrt(c.map(x => x * x).sum))
  @transient private lazy val elemIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = new GenericArrayData(NearestCells.pick(
    PqExprs.toDoubles(input.asInstanceOf[ArrayData], elemIsFloat), centroids, norms, nProbe))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The probe-selection arithmetic of [[NearestCellsExpr]], shared with
  * [[CosineProbe]] so the batch and streaming IVF tiers can never drift:
  * cosine scores in double space, nProbe picks best-first, ties to the
  * lower index; zero-norm sides score -inf. */
private[functions] object NearestCells {
  def pick(xs: Array[Double], centroids: Array[Array[Double]],
      norms: Array[Double], nProbe: Int): Array[Int] = {
    val n = xs.length
    var vn = 0.0
    var i = 0
    while (i < n) { vn += xs(i) * xs(i); i += 1 }
    vn = math.sqrt(vn)
    val m = centroids.length
    val scores = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cent = centroids(c)
      // fail loud on a ragged vector — the top-k kernel does, and the two
      // ANN paths must agree on malformed input instead of this one
      // silently truncating the dot product
      if (n != cent.length) {
        throw new IllegalArgumentException(
          s"vector dim $n != centroid dim ${cent.length} (cell $c)")
      }
      var dot = 0.0
      i = 0
      while (i < n) { dot += xs(i) * cent(i); i += 1 }
      scores(c) = if (vn > 0 && norms(c) > 0) dot / (vn * norms(c))
        else Double.NegativeInfinity
      c += 1
    }
    val probes = math.min(nProbe, m)
    val picked = new Array[Int](probes)
    val used = new Array[Boolean](m)
    var p = 0
    while (p < probes) {
      var best = -1
      c = 0
      while (c < m) {
        if (!used(c) && (best < 0 || scores(c) > scores(best))) best = c
        c += 1
      }
      used(best) = true
      picked(p) = best
      p += 1
    }
    picked
  }
}
