package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.GraftSql

/** All-pairs streaming co-moments for a k-column correlation matrix
  * in ONE buffer and ONE scan.
  *
  * Why not k(k−1)/2 built-in `corr` aggregates: their six-field
  * buffers blow the 64 KB codegen method limit around k ≈ 8 and the
  * whole aggregate falls back to interpreted eval (measured 6–20 s at
  * sf0.1). One imperative aggregate does one
  * update call per ROW with an O(k²) primitive-array inner loop — no
  * per-pair expression overhead, no codegen limit, and the buffer is
  * O(k²) doubles regardless of row count.
  *
  * Update/merge are the numerically-stable streaming forms (the same
  * family as Welford's variance and Spark's own Covariance
  * aggregate; Pébay SAND2008-6212 gives the general merge):
  *
  *   update: dᵢ = xᵢ − μᵢ;  μᵢ += dᵢ/n;  Cᵢⱼ += dᵢ·(xⱼ − μⱼ′)
  *   merge:  Cᵢⱼ = Cᵢⱼᵃ + Cᵢⱼᵇ + δᵢδⱼ·nₐn_b/n
  *
  * Rows with ANY null among the k inputs are skipped — listwise
  * deletion. Every Pearson and Spearman matrix in the repo is read off
  * this buffer by Stats.corrFromCm (the oracle queries' reference
  * `na.drop` also drops NaN rows before the scan).
  *
  * Input: one ArrayType(DoubleType) child (the k values, nulls
  * preserved). Output: struct(n, means[k], comoments[k(k+1)/2])
  * with the co-moment upper triangle stored row-major including the
  * diagonal (C₀₀, C₀₁, …, C₀ₖ₋₁, C₁₁, …).
  */
final class CoMomentBuf(val k: Int) extends Serializable {
  var n: Long = 0L
  val mean = new Array[Double](k)
  val c = new Array[Double](k * (k + 1) / 2)
  // scratch for update (avoid per-row allocation)
  @transient private var dOld: Array[Double] = _
  @transient private var xs: Array[Double] = _

  def add(row: ArrayData): Unit = {
    var i = 0
    while (i < k) { // listwise deletion
      if (row.isNullAt(i)) return
      i += 1
    }
    if (dOld == null) { dOld = new Array[Double](k); xs = new Array[Double](k) }
    n += 1
    val nd = n.toDouble
    i = 0
    while (i < k) {
      val x = row.getDouble(i)
      xs(i) = x
      dOld(i) = x - mean(i)
      mean(i) += dOld(i) / nd
      i += 1
    }
    var t = 0
    i = 0
    while (i < k) {
      var j = i
      while (j < k) {
        c(t) += dOld(i) * (xs(j) - mean(j))
        t += 1; j += 1
      }
      i += 1
    }
  }

  def mergeIn(o: CoMomentBuf): CoMomentBuf = {
    if (o.n == 0) return this
    if (n == 0) {
      n = o.n
      System.arraycopy(o.mean, 0, mean, 0, k)
      System.arraycopy(o.c, 0, c, 0, c.length)
      return this
    }
    val na = n.toDouble; val nb = o.n.toDouble; val nt = na + nb
    val delta = new Array[Double](k)
    var i = 0
    while (i < k) { delta(i) = o.mean(i) - mean(i); i += 1 }
    var t = 0
    i = 0
    while (i < k) {
      var j = i
      while (j < k) {
        c(t) += o.c(t) + delta(i) * delta(j) * na * nb / nt
        t += 1; j += 1
      }
      i += 1
    }
    i = 0
    while (i < k) {
      mean(i) = (na * mean(i) + nb * o.mean(i)) / nt
      i += 1
    }
    n += o.n
    this
  }
}

case class CoMomentAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CoMomentBuf]
  with UnaryLike[Expression] {

  override def prettyName: String = "co_moments"
  override def nullable: Boolean = false
  override val dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("means", ArrayType(DoubleType, containsNull = false)),
    StructField("cm", ArrayType(DoubleType, containsNull = false))))

  override def createAggregationBuffer(): CoMomentBuf = new CoMomentBuf(k)

  override def update(buf: CoMomentBuf, input: InternalRow): CoMomentBuf = {
    val arr = child.eval(input)
    if (arr != null) buf.add(arr.asInstanceOf[ArrayData])
    buf
  }

  override def merge(buf: CoMomentBuf, other: CoMomentBuf): CoMomentBuf =
    buf.mergeIn(other)

  override def eval(buf: CoMomentBuf): Any =
    new GenericInternalRow(Array[Any](buf.n,
      new GenericArrayData(buf.mean.map(x => x: Any)),
      new GenericArrayData(buf.c.map(x => x: Any))))

  override def serialize(buf: CoMomentBuf): Array[Byte] =
    CoMoment.serializeBuf(buf)

  override def deserialize(bytes: Array[Byte]): CoMomentBuf =
    CoMoment.deserializeBuf(bytes, k)

  override def withNewMutableAggBufferOffset(newOffset: Int): CoMomentAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CoMomentAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression)
      : CoMomentAgg = copy(child = newChild)
}

object CoMoment {

  /** The all-pairs co-moment aggregate as a Column over an
    * ArrayType(DoubleType) column of the k values per row. */
  def sketch(values: Column, k: Int): Column =
    GraftSql.column(
      CoMomentAgg(GraftSql.expression(values), k).toAggregateExpression())

  /** Canonical wire format of a [[CoMomentBuf]] — the aggregate's
    * shuffle serde AND the profile store's persisted correlation
    * state (k rides outside the bytes, like MultiSketch). */
  def serializeBuf(buf: CoMomentBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n)
    buf.mean.foreach(out.writeDouble)
    buf.c.foreach(out.writeDouble)
    out.flush()
    bos.toByteArray
  }

  def deserializeBuf(bytes: Array[Byte], k: Int): CoMomentBuf = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new CoMomentBuf(k)
    buf.n = in.readLong()
    var i = 0
    while (i < k) { buf.mean(i) = in.readDouble(); i += 1 }
    i = 0
    while (i < buf.c.length) { buf.c(i) = in.readDouble(); i += 1 }
    buf
  }

  /** Upper-triangle index of (i, j), i ≤ j, in the `cm` layout. */
  def triIndex(i: Int, j: Int, k: Int): Int =
    i * k - i * (i - 1) / 2 + (j - i)
}
