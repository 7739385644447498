package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Product-quantization kernels (SURVEY §2 I3e; after Jégou/Douze/Schmid,
  * "Product quantization for nearest neighbor search", TPAMI 2011 — public
  * literature, no reference-repo counterpart): a vector is chopped into
  * blocks, each block encoded as its nearest per-block centroid id, and
  * search scores candidates from their CODES via per-query lookup tables
  * (asymmetric distance computation) — the raw corpus vectors are never
  * touched at query time.
  *
  * [[PqEncodeExpr]] is one interpreted dispatch per ROW (CodegenFallback
  * like [[NearestCellsExpr]]), with tight primitive loops inside — the HOF
  * (`zip_with`/`aggregate`) formulation would pay one interpreted dispatch
  * per ELEMENT per pair. [[PqAdcExpr]] generates one static call to
  * [[PqKernel.adc]]. The per-row ADC top-k over a code table is
  * [[TopKKernel]]'s, over a [[CellIndex]] with PQ codes.
  */
final class PqCodebooks(
    val blocks: Array[Array[Array[Double]]], // [block][code][blockDim]
    val blockSize: Int,
    val dim: Int)
    extends Serializable {
  val nBlocks: Int = blocks.length
  val nCodes: Int = if (nBlocks == 0) 0 else blocks.map(_.length).max
  /** Flattened squared-norm LUT of every centroid: [b * nCodes + c]. */
  val n2: Array[Double] = {
    val out = new Array[Double](nBlocks * nCodes)
    var b = 0
    while (b < nBlocks) {
      var c = 0
      while (c < blocks(b).length) {
        out(b * nCodes + c) = blocks(b)(c).map(x => x * x).sum
        c += 1
      }
      b += 1
    }
    out
  }
}

private[functions] object PqExprs {
  def toDoubles(arr: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = arr.numElements()
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) {
      xs(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    xs
  }

  def requireDim(n: Int, books: PqCodebooks, what: String): Unit =
    if (n != books.dim) {
      throw new IllegalArgumentException(
        s"$what vector dim $n != codebook dim ${books.dim}")
    }
}

/** The static PQ kernels: [[PqEncodeExpr]] and the driver-side encoder of
  * the exact IVF-PQ tier share [[encode]]; [[TopKKernel]] builds its
  * per-query table with [[dotTable]]; [[PqAdcExpr]]'s generated code calls
  * [[adc]]. */
object PqKernel {

  /** Per-block nearest-centroid ids of `xs` (Euclidean, ties to the lower
    * code — the standard PQ assignment). */
  def encode(xs: Array[Double], books: PqCodebooks): Array[Int] = {
    val codes = new Array[Int](books.nBlocks)
    var b = 0
    while (b < books.nBlocks) {
      val from = b * books.blockSize
      val cents = books.blocks(b)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var i = 0
        while (i < cent.length) {
          val diff = xs(from + i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(b) = best
      b += 1
    }
    codes
  }

  /** A query's ADC lookup table: `[b * nCodes + c]` holds the dot of
    * block b of `xs` with code c's centroid. */
  def dotTable(xs: Array[Double], books: PqCodebooks): Array[Double] = {
    val lut = new Array[Double](books.nBlocks * books.nCodes)
    var b = 0
    while (b < books.nBlocks) {
      val from = b * books.blockSize
      val cents = books.blocks(b)
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var dot = 0.0
        var i = 0
        while (i < cent.length) { dot += xs(from + i) * cent(i); i += 1 }
        lut(b * books.nCodes + c) = dot
        c += 1
      }
      b += 1
    }
    lut
  }

  /** Asymmetric-distance score of one (query vector, code row) pair:
    * dot(q, recon) / (|q|·√Σ n2) from direct blockwise dots against the
    * coded centroids, null when either norm is zero. Each block's dot is
    * totalled first and the block totals are added in block order — the
    * order of [[dotTable]] + [[TopKKernel]]'s lookup sum, so the pair
    * scorer and the kernel agree to the bit on float books too. The query
    * vector is read straight off the ArrayData: this runs once per
    * candidate PAIR, and a per-pair double[] copy is pure GC churn (§4.2). */
  def adc(vec: ArrayData, isFloat: Boolean, codes: ArrayData,
      books: PqCodebooks): java.lang.Double = {
    val n = vec.numElements()
    PqExprs.requireDim(n, books, "pq_adc")
    val nb = books.nBlocks
    require(codes.numElements() == nb,
      s"pq_adc: ${codes.numElements()} codes for $nb blocks")
    var qn2 = 0.0
    var i = 0
    while (i < n) {
      val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      qn2 += v * v
      i += 1
    }
    if (qn2 == 0) return null
    var dot = 0.0
    var rn2 = 0.0
    var b = 0
    while (b < nb) {
      val c = codes.getInt(b)
      val cent = books.blocks(b)(c)
      val from = b * books.blockSize
      var bd = 0.0
      var j = 0
      while (j < cent.length) {
        val v = if (isFloat) vec.getFloat(from + j).toDouble
          else vec.getDouble(from + j)
        bd += v * cent(j)
        j += 1
      }
      dot += bd
      rn2 += books.n2(b * books.nCodes + c)
      b += 1
    }
    if (rn2 == 0) null else dot / (math.sqrt(qn2) * math.sqrt(rn2))
  }
}

/** Encode a float/double vector as its per-block nearest-centroid ids
  * (Euclidean, ties to the lower code — the standard PQ assignment):
  * `array<int>` of length nBlocks. */
case class PqEncodeExpr(child: Expression, books: PqCodebooks)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"
  @transient private lazy val elemIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any = {
    val xs = PqExprs.toDoubles(input.asInstanceOf[ArrayData], elemIsFloat)
    PqExprs.requireDim(xs.length, books, prettyName)
    new GenericArrayData(PqKernel.encode(xs, books))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric-distance score of ONE (query vector, code row) pair
  * ([[PqKernel.adc]]) for the IVF-PQ compositions whose corpus codes live
  * in an executor-side COLUMN (never collected, never broadcast) and whose
  * candidates arrive via the coarse-cell join: the float serve tier, and
  * the exact tier over its collect budget. Scoring is direct blockwise
  * dots against the coded centroids — O(dim) per pair, not a lookup
  * table's O(nBlocks): a per-query (block, code) table cannot ride the
  * pair rows without dragging a 32 KB array through the join. Where the
  * corpus fits the driver, [[TopKKernel]] builds the table once per query
  * instead. NULL when either norm is zero (degenerate rows never rank —
  * brute-force parity). */
case class PqAdcExpr(
    left: Expression, // raw query vector (array<float|double>)
    right: Expression, // PQ codes (array<int>, length nBlocks)
    books: PqCodebooks)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"
  @transient private lazy val isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(vecAny: Any, codesAny: Any): Any =
    PqKernel.adc(vecAny.asInstanceOf[ArrayData], isFloat,
      codesAny.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, classOf[PqCodebooks].getName)
    val s = ctx.freshName("score")
    nullSafeCodeGen(ctx, ev, (vec, codes) =>
      s"""java.lang.Double $s = graft.functions.PqKernel.adc($vec, $isFloat, $codes, $ref);
         |${ev.isNull} = $s == null;
         |if (!${ev.isNull}) ${ev.value} = $s.doubleValue();""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqOps {
  def pqEncode(vec: Column, books: PqCodebooks): Column =
    Bridge.column(PqEncodeExpr(Bridge.expression(vec), books))
  def pqAdc(vec: Column, codes: Column, books: PqCodebooks): Column =
    Bridge.column(PqAdcExpr(
      Bridge.expression(vec), Bridge.expression(codes), books))
}
