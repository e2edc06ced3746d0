package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** A `len`-double buffer that partials merge element-wise: the
  * buffer, merge, result and byte codec [[DoubleVecSum]] and
  * [[DoubleVecAxpy]] share; each supplies its own `update`. */
trait DoubleVecAggregate extends TypedImperativeAggregate[Array[Double]] {
  def len: Int
  require(len >= 1)

  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](len)

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < len) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * len)
    var i = 0
    while (i < len) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](len)
    var i = 0
    while (i < len) { out(i) = bb.getDouble(); i += 1 }
    out
  }
}

/** Element-wise sum of fixed-length double arrays (X188's moment
  * accumulator): the map-side-combining shape a distributed PCA /
  * moment fit needs — each partition folds its rows into ONE
  * `len`-double buffer, partials merge pairwise, and only
  * `len` doubles per partition ever cross the wire. With
  * len = 64·64 this is the covariance accumulator: a 100 TB
  * embedding table streams through executors and the driver sees
  * 4096 numbers.
  *
  * Fold-order caveat (recorded): double addition is not associative,
  * so the merged totals differ in final ulps from any sequential
  * pass — callers canonicalize with qround like every aggregated
  * double lane in the tree.
  */
case class DoubleVecSum(child: Expression, len: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends DoubleVecAggregate {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "double_vec_sum"

  override def update(buf: Array[Double], in: InternalRow): Array[Double] = {
    val v = child.eval(in)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), len)
      var i = 0
      while (i < n) {
        buf(i) += arr.getDouble(i)
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): DoubleVecSum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DoubleVecSum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c.head)
}

/** Σᵢ scalarᵢ·arrᵢ element-wise — the gradient accumulator's fused
  * form (X189/X197): `buf[j] += s·a[j]` in one tight loop per row, so
  * the per-row `transform(xs, x => x·resid)` HOF (interpreted, one
  * lambda dispatch per ELEMENT — measured 129 dispatches × rows ×
  * rounds dominating the sf0.1 bench) disappears entirely. Same
  * qround(6)-canonicalized downstream contract as [[DoubleVecSum]]:
  * fold order across rows/partitions is not pinned, callers quantize
  * the merged totals. */
case class DoubleVecAxpy(arr: Expression, scalar: Expression, len: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends DoubleVecAggregate {

  override def children: Seq[Expression] = Seq(arr, scalar)
  override def prettyName: String = "double_vec_axpy"

  override def update(buf: Array[Double], in: InternalRow): Array[Double] = {
    val a = arr.eval(in)
    val s = scalar.eval(in)
    if (a != null && s != null) {
      val ad = a.asInstanceOf[ArrayData]
      val sv = s.asInstanceOf[Double]
      val n = math.min(ad.numElements(), len)
      var i = 0
      while (i < n) {
        buf(i) += ad.getDouble(i) * sv
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): DoubleVecAxpy =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DoubleVecAxpy =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(arr = c(0), scalar = c(1))
}

object VecAggregates {
  /** Column form of [[DoubleVecSum]]. */
  def vecSum(e: Column, len: Int): Column =
    ColumnBridge.column(
      DoubleVecSum(ColumnBridge.expression(e), len).toAggregateExpression())

  /** Column form of [[DoubleVecAxpy]]. */
  def vecAxpy(arr: Column, scalar: Column, len: Int): Column =
    ColumnBridge.column(
      DoubleVecAxpy(ColumnBridge.expression(arr),
        ColumnBridge.expression(scalar), len).toAggregateExpression())
}
