package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Top-k by score as a typed imperative aggregate (SURVEY §4.2 / D18).
  *
  * The window-function formulation (`row_number over (partition by query
  * order by score desc)` then `filter rank <= k`) shuffles and sorts EVERY
  * candidate pair — |corpus| rows per query. This aggregate keeps a k-entry
  * bounded heap per group with map-side partial aggregation, so only k rows
  * per query cross the shuffle: the difference between O(|pairs|·log|pairs|)
  * sort work and O(|pairs|·log k) — decisive at 100 TB corpus scale.
  *
  * Input: struct(score: double, id: long). Output: array of the k best
  * (score DESC, id ASC — deterministic tie-break) as struct(score, id).
  */
case class TopKByScore(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKKernel.TopKType
  override def prettyName: String = "top_k_by_score"

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  /** The struct child destructured, when statically possible: evaluating
    * `CreateNamedStruct` allocates an InternalRow + boxed fields PER INPUT
    * ROW, which dominates the update path on |Q|×|C| pair streams (the
    * aggregate itself is only a couple of compares per row). */
  @transient private lazy val fieldExprs: Option[(Expression, Expression)] =
    child match {
      case s: org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
          if s.valExprs.size == 2 => Some((s.valExprs(0), s.valExprs(1)))
      case _ => None
    }

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    fieldExprs match {
      case Some((scoreE, idE)) =>
        val s = scoreE.eval(input)
        if (s != null) {
          val i = idE.eval(input)
          if (i != null) {
            buffer.add(s.asInstanceOf[Double], i.asInstanceOf[Long])
          }
        }
      case None =>
        val v = child.eval(input)
        if (v != null) {
          val row = v.asInstanceOf[InternalRow]
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            buffer.add(row.getDouble(0), row.getLong(1))
          }
        }
    }
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.foreach((s, i) => buffer.add(s, i))
    buffer
  }

  override def eval(buffer: TopKBuffer): Any = buffer.result()

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new TopKBuffer(k)
    (0 until n).foreach(_ => buf.add(in.readDouble(), in.readLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Bounded top-k heap: keeps the k best (score DESC, id ASC) entries; the
  * root of the binary min-heap is the current worst, evicted on overflow. */
final class TopKBuffer(k: Int) {
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  def size: Int = n

  /** a is WORSE than b (should sit nearer the heap root). Total order via
    * Double.compare so -0.0/0.0 and (excluded) NaN can't break the heap
    * invariant the way IEEE `<` would. */
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = java.lang.Double.compare(sa, sb)
    c < 0 || (c == 0 && ia > ib)
  }

  def add(score: Double, id: Long): Unit = {
    if (score.isNaN) return // NaN (e.g. cosine of a zero vector) never ranks
    if (n < k) {
      scores(n) = score; ids(n) = id; n += 1
      siftUp(n - 1)
    } else if (k > 0 && worse(scores(0), ids(0), score, id)) {
      scores(0) = score; ids(0) = id
      siftDown(0)
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) / 2
      if (worse(scores(i), ids(i), scores(p), ids(p))) {
        swap(i, p); i = p
      } else return
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var continue = true
    while (continue) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var worst = i
      if (l < n && worse(scores(l), ids(l), scores(worst), ids(worst))) worst = l
      if (r < n && worse(scores(r), ids(r), scores(worst), ids(worst))) worst = r
      if (worst != i) { swap(i, worst); i = worst }
      else continue = false
    }
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  def foreach(f: (Double, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { f(scores(i), ids(i)); i += 1 }
  }

  /** The entries best first (score DESC, id ASC) as `array<struct<score, id>>`. */
  def result(): ArrayData = {
    val arr = Array.tabulate(n)(i => (scores(i), ids(i)))
    new GenericArrayData(arr.sortWith { (a, b) =>
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c > 0 else a._2 < b._2
    }.map { case (s, i) => InternalRow(s, i): Any })
  }
}

object TopKAgg {
  /** `top_k_by_score(struct(score, id), k)` as a Column aggregate. */
  def topKByScore(scoreAndId: Column, k: Int): Column =
    Bridge.column(TopKByScore(Bridge.expression(scoreAndId), k)
      .toAggregateExpression())
}
