package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
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
  * The encode, broadcast-scan and pair-ADC kernels are one interpreted
  * dispatch per ROW (CodegenFallback like [[NearestCellsExpr]]), with
  * tight primitive loops inside — the HOF (`zip_with`/`aggregate`)
  * formulation would pay one interpreted dispatch per ELEMENT per pair on
  * the scoring hot path. [[IvfPqTopKExpr]] generates one static call.
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

  /** `array<struct<score, id>>`, best first: the per-row top-k kernels' output. */
  val TopKType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  def topKArray(buf: TopKBuffer): ArrayData =
    new GenericArrayData(buf.sortedBestFirst().map { case (s, id) =>
      InternalRow(s, id): Any
    })
}

/** The static PQ kernels: [[PqEncodeExpr]] and the driver-side encoder of
  * the exact IVF-PQ tier share [[encode]]; [[IvfPqTopKExpr]]'s generated
  * code calls [[ivfTopK]]. */
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

  /** Exact IVF-PQ top-k of one query: `vec` is the query's `array<double>`
    * on the unshifted 1e-6 grid. Its probe cells come from
    * [[KMeansKernel.nearestCells]]; its (block, code) dot table is built
    * once, O(dim·nCodes); every code row of a probed cell then scores in
    * nBlocks lookups into a [[TopKBuffer]]. The query's own id never
    * ranks, and a zero query norm ranks nothing — the null-score rule of
    * [[PqAdcExpr]]. Every product and partial sum is an integer below 2^53
    * (see [[IvfPqIndex]]), so scores equal [[PqAdcExpr]]'s bit for bit
    * whatever the summation order. */
  def ivfTopK(queryId: Long, vec: ArrayData, index: IvfPqIndex, k: Int): ArrayData = {
    val books = index.books
    val n = vec.numElements()
    PqExprs.requireDim(n, books, "ivf_pq_topk")
    val xs = new Array[Double](n)
    val grid = new Array[Long](n)
    var qn2 = 0.0
    var i = 0
    while (i < n) {
      val v = vec.getDouble(i)
      xs(i) = v
      grid(i) = v.toLong
      qn2 += v * v
      i += 1
    }
    val buf = new TopKBuffer(k)
    if (qn2 > 0) {
      val nb = books.nBlocks
      val nc = books.nCodes
      val lut = dotTable(xs, books)
      val qn = math.sqrt(qn2)
      val probes = KMeansKernel.nearestCells(
        UnsafeArrayData.fromPrimitiveArray(grid), index.centroids, index.nProbe)
      var p = 0
      while (p < probes.length) {
        var r = index.cellStart(probes(p))
        val end = index.cellStart(probes(p) + 1)
        while (r < end) {
          val id = index.ids(r)
          if (id != queryId) {
            val base = r * nb
            var dot = 0.0
            var b = 0
            while (b < nb) {
              dot += lut(b * nc + (index.codes(base + b) & 0xff))
              b += 1
            }
            buf.add(dot / (qn * math.sqrt(index.rn2(r))), id)
          }
          r += 1
        }
        p += 1
      }
    }
    PqExprs.topKArray(buf)
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

/** Broadcast-side PQ code table: per-vector ids plus their codes in one
  * flat nBlocks-strided BYTE array (nCodes ≤ 256 by construction) — truly
  * 16 bytes/vector at the default 16×256 setting, vs 256 for the raw
  * floats it stands in for. Zero-norm corpus vectors are excluded before
  * the table is built (they reconstruct to NONZERO centroids, so a norm
  * check on the reconstruction could not exclude them — the raw-norm
  * contract matches [[TopKCorpus]]/brute force). */
final class PqCodeTable(
    val ids: Array[Long],
    val codes: Array[Byte], // row-major, ids.length × nBlocks; read & 0xff
    val nBlocks: Int)
    extends Serializable

/** Per-row PQ top-k (ADC scan — the canonical PQ search loop): for each
  * (query_id, raw vector) row, build the query's lookup table of partial
  * dots against every centroid ONCE (O(dim·nCodes)), then score every
  * broadcast code row in O(nBlocks) lookups into a bounded heap. Mirrors
  * [[BroadcastTopKExpr]] (same output shape, self/degenerate exclusion,
  * score DESC / id ASC ties); the join formulation instead dragged the
  * 32 KB LUT array through every |Q|×|C| pair materialization — profiled
  * 10× slower than this kernel at sf0.1. */
case class PqTopKExpr(
    left: Expression, // query id (long)
    right: Expression, // raw vector (array<float|double>)
    table: org.apache.spark.broadcast.Broadcast[PqCodeTable],
    books: PqCodebooks,
    k: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = PqExprs.TopKType
  override def prettyName: String = "pq_topk"
  @transient private lazy val elemIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(idAny: Any, vecAny: Any): Any = {
    val queryId = idAny.asInstanceOf[Long]
    val xs = PqExprs.toDoubles(vecAny.asInstanceOf[ArrayData], elemIsFloat)
    PqExprs.requireDim(xs.length, books, prettyName)
    val nb = books.nBlocks
    val nc = books.nCodes
    val lut = PqKernel.dotTable(xs, books)
    var qn2 = 0.0
    var b = 0
    var i = 0
    while (i < xs.length) { qn2 += xs(i) * xs(i); i += 1 }
    val qn = math.sqrt(qn2)
    val buf = new TopKBuffer(k)
    if (qn > 0) {
      val t = table.value
      val n = t.ids.length
      var j = 0
      while (j < n) {
        if (t.ids(j) != queryId) {
          val base = j * nb
          var dot = 0.0
          var rn2 = 0.0
          b = 0
          while (b < nb) {
            val idx = b * nc + (t.codes(base + b) & 0xff)
            dot += lut(idx)
            rn2 += books.n2(idx)
            b += 1
          }
          // rn2 == 0 only when every looked-up centroid is zero (possible
          // on degenerate codebooks); raw-zero-norm rows never reach the
          // table at all — see PqCodeTable
          if (rn2 > 0) buf.add(dot / (qn * math.sqrt(rn2)), t.ids(j))
        }
        j += 1
      }
    }
    PqExprs.topKArray(buf)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Asymmetric-distance score of ONE (query vector, code row) pair — the
  * DISTRIBUTED dual of [[PqTopKExpr]]'s broadcast-table scan, for the
  * IVF-PQ compositions whose corpus codes live in an executor-side COLUMN
  * (never collected, never broadcast) and whose candidates arrive via the
  * coarse-cell join: the float serve tier, and the exact tier over its
  * collect budget. Scoring is direct blockwise dots against the coded
  * centroids — O(dim) per pair, not a lookup table's O(nBlocks): a per-query
  * (block, code) table cannot ride the pair rows without dragging a 32 KB
  * array through the join. Where the corpus fits the driver, the table
  * does pay: [[IvfPqTopKExpr]] builds it once per query and scans every
  * probed cell's codes in nBlocks lookups each. Same score convention as
  * [[PqTopKExpr]]: dot(q, recon) / (|q|·√Σ n2), NULL when either norm is
  * zero (degenerate rows never rank — brute-force parity). */
case class PqAdcExpr(
    left: Expression, // raw query vector (array<float|double>)
    right: Expression, // PQ codes (array<int>, length nBlocks)
    books: PqCodebooks)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc"
  @transient private lazy val elemIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(vecAny: Any, codesAny: Any): Any = {
    // reads the query vector straight off the ArrayData (round-15): this
    // expression runs once per candidate PAIR of the quadratic ADC join
    // stage, and the previous toDoubles copy allocated a dim-sized
    // double[] per pair — pure GC churn at scale (§4.2: keep the per-row
    // hot loop allocation-free). Element reads and arithmetic order are
    // unchanged, so scores stay bit-identical.
    val xs = vecAny.asInstanceOf[ArrayData]
    val n = xs.numElements()
    PqExprs.requireDim(n, books, prettyName)
    val isF = elemIsFloat
    val cs = codesAny.asInstanceOf[ArrayData]
    val nb = books.nBlocks
    require(cs.numElements() == nb,
      s"$prettyName: ${cs.numElements()} codes for $nb blocks")
    var qn2 = 0.0
    var i = 0
    while (i < n) {
      val v = if (isF) xs.getFloat(i).toDouble else xs.getDouble(i)
      qn2 += v * v
      i += 1
    }
    if (qn2 == 0) return null
    var dot = 0.0
    var rn2 = 0.0
    var b = 0
    while (b < nb) {
      val c = cs.getInt(b)
      val cent = books.blocks(b)(c)
      val from = b * books.blockSize
      var j = 0
      while (j < cent.length) {
        val v = if (isF) xs.getFloat(from + j).toDouble
          else xs.getDouble(from + j)
        dot += v * cent(j)
        j += 1
      }
      rn2 += books.n2(b * books.nCodes + c)
      b += 1
    }
    if (rn2 == 0) null else dot / (math.sqrt(qn2) * math.sqrt(rn2))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The exact IVF-PQ tier's per-cell code table, built on the driver from
  * the collected corpus: cell `c`'s rows sit at `[cellStart(c),
  * cellStart(c + 1))`, each with its id, its nBlocks codes (one flat
  * row-major BYTE array, read `& 0xff`) and its reconstruction squared
  * norm `rn2 > 0` (a zero-norm row never scores, so it is left out).
  * `centroids` are the coarse cells on the UNSHIFTED integer grid (a
  * distance is shift-invariant, so probes equal the shifted grid's);
  * `books` hold exact-integer doubles.
  *
  * Exactness bound: with every vector and centroid component at most M in
  * magnitude, every product is at most M² and every dot, query norm and
  * `rn2` at most dim·M². The builder requires dim·M² < 2^53, so every
  * product and partial sum is an exactly represented integer and no
  * summation order can change a score. */
final class IvfPqIndex(
    val centroids: Array[Array[Long]],
    val nProbe: Int,
    val books: PqCodebooks,
    val cellStart: Array[Int],
    val ids: Array[Long],
    val codes: Array[Byte],
    val rn2: Array[Double])
    extends Serializable

/** Per-row exact IVF-PQ top-k ([[PqKernel.ivfTopK]]) of a `(query id,
  * array<double> on the 1e-6 grid)` row against an [[IvfPqIndex]]: the
  * `cellPairs` + [[PqAdcExpr]] + top-k aggregate path as one projection.
  * The index rides the generated code as one reference object, as
  * [[KMeansAssignExpr]] carries its centroids. */
case class IvfPqTopKExpr(
    left: Expression, // query id (long)
    right: Expression, // query vector (array<double>)
    index: IvfPqIndex,
    k: Int)
    extends BinaryExpression {

  override def dataType: DataType = PqExprs.TopKType
  override def prettyName: String = "ivf_pq_topk"

  override def nullSafeEval(idAny: Any, vecAny: Any): Any =
    PqKernel.ivfTopK(idAny.asInstanceOf[Long], vecAny.asInstanceOf[ArrayData], index, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("index", index, classOf[IvfPqIndex].getName)
    nullSafeCodeGen(ctx, ev, (id, vec) =>
      s"${ev.value} = graft.functions.PqKernel.ivfTopK($id, $vec, $ref, $k);")
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
  def pqTopK(id: Column, vec: Column,
      table: org.apache.spark.broadcast.Broadcast[PqCodeTable],
      books: PqCodebooks, k: Int): Column =
    Bridge.column(PqTopKExpr(
      Bridge.expression(id), Bridge.expression(vec), table, books, k))
  def ivfPqTopK(id: Column, vec: Column, index: IvfPqIndex, k: Int): Column =
    Bridge.column(IvfPqTopKExpr(Bridge.expression(id), Bridge.expression(vec), index, k))
}
