package vps.raster

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import vps.geom.{TileMath, Wkb}

/** Per-tile raster aggregation whose SHUFFLE carries partial grids, not point
  * rows: the aggregation buffer IS the `resolution^2` float grid, points and
  * geometry burns land in it map-side (partial aggregate), and the exchange
  * moves O(tiles x map-partitions) merged grids that reduce by cell-wise
  * addition. A hot tile (10^8 points in one key) costs each map partition one
  * grid instead of flooding a single reducer with every point row — grids are
  * a genuinely REDUCING aggregate, unlike the MVT feature pack where
  * collect-style aggregation was measured to lose (BENCH/BASELINE.md).
  *
  * Serialization is sparse-aware: a partial grid with fewer than
  * `resolution^2 / 8` nonzero cells ships as (index, value) pairs, so SPARSE
  * corpora (few points per tile per partition) don't pay a dense
  * `resolution^2 x 8` bytes per partial — without it a 256x256 grid costs
  * 512 KiB per (tile, partition) and the "optimization" would LOSE to the
  * point shuffle below ~16k points per tile per partition.
  *
  * Cells accumulate in DOUBLE and round to float once at eval, so float-
  * unrepresentable weights (0.1, ...) don't make cell values depend on the
  * partition/AQE-dependent partial-merge order. (Double addition is still
  * order-sensitive at the 1e-16 level; a sum sitting exactly on a float
  * rounding boundary could in principle differ — astronomically unlikely,
  * and exactly-representable weights are bit-exact.)
  *
  * Memory: the hash-agg map holds one dense grid per in-flight group, so
  * partitions spanning many tiles at high resolution want a bounded
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (sort-based
  * fallback still partial-aggregates, streaming one group at a time).
  */
case class GridBurn(
    wkb: Expression,
    weight: Expression,
    x: Expression,
    y: Expression,
    zoom: Int,
    resolution: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {
  require(resolution > 0 && resolution <= 4096, s"grid_burn: bad resolution $resolution")

  override def children: Seq[Expression] = Seq(wkb, weight, x, y)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](resolution * resolution)

  // Rows from different groups interleave in one update stream, so the tile
  // envelope memo is keyed by (x, y); within a group it's computed once.
  @transient private var memoKey: Long = Long.MinValue
  @transient private var memoEnv: org.locationtech.jts.geom.Envelope = _
  private def env(tx: Int, ty: Int): org.locationtech.jts.geom.Envelope = {
    val k = (tx.toLong << 32) | (ty & 0xffffffffL)
    if (k != memoKey || memoEnv == null) {
      memoEnv = TileMath.tileEnvelopeLatLng(zoom, tx, ty)
      memoKey = k
    }
    memoEnv
  }

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val bv = wkb.eval(input)
    val wv = weight.eval(input)
    if (bv != null && wv != null) {
      val tx = x.eval(input).asInstanceOf[Int]
      val ty = y.eval(input).asInstanceOf[Int]
      // burnWkb decodes plain point WKB off the buffer (no JTS object per
      // row) — the rasterize hot path is a point corpus
      Raster.burnWkb(bv.asInstanceOf[Array[Byte]], wv.asInstanceOf[Double],
        env(tx, ty), resolution, buf)
    }
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = GridCodec.toFloats(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = GridCodec.serialize(buf)

  override def deserialize(bytes: Array[Byte]): Array[Double] =
    GridCodec.deserialize(bytes, resolution * resolution)

  override def withNewMutableAggBufferOffset(newOffset: Int): GridBurn =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GridBurn =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(wkb = newChildren(0), weight = newChildren(1), x = newChildren(2), y = newChildren(3))
}

/** Grid buffer wire format + output conversion shared by [[GridBurn]] and
  * [[GridCellSum]]: sparse (index, value) pairs below 1/8 occupancy, dense
  * doubles otherwise; float rounding happens once at eval.
  */
private[raster] object GridCodec {
  def toFloats(buf: Array[Double]): GenericArrayData = {
    val out = new Array[Float](buf.length)
    var i = 0
    while (i < buf.length) { out(i) = buf(i).toFloat; i += 1 }
    new GenericArrayData(out)
  }

  def serialize(buf: Array[Double]): Array[Byte] = {
    var nnz = 0
    var i = 0
    while (i < buf.length) { if (buf(i) != 0d) nnz += 1; i += 1 }
    if (nnz < buf.length / 8) {
      val bb = java.nio.ByteBuffer.allocate(5 + nnz * 12)
      bb.put(1.toByte)
      bb.putInt(nnz)
      i = 0
      while (i < buf.length) {
        if (buf(i) != 0d) { bb.putInt(i); bb.putDouble(buf(i)) }
        i += 1
      }
      bb.array()
    } else {
      val bb = java.nio.ByteBuffer.allocate(1 + buf.length * 8)
      bb.put(0.toByte)
      i = 0
      while (i < buf.length) { bb.putDouble(buf(i)); i += 1 }
      bb.array()
    }
  }

  def deserialize(bytes: Array[Byte], size: Int): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](size)
    if (bb.get() == 1) {
      val nnz = bb.getInt()
      var k = 0
      while (k < nnz) { val idx = bb.getInt(); out(idx) = bb.getDouble(); k += 1 }
    } else {
      var i = 0
      while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    }
    out
  }
}

/** Weight-sum into a pre-computed cell index — the aggregation half of
  * [[Raster.rasterizePoints]]. Runs AFTER the tile repartition, so each
  * task only ever holds grids for its own tiles and every tile's grid is
  * built exactly once: partial output is one grid per tile TOTAL (the
  * in-stage partial->final handoff), not one per tile per map partition.
  * Same double-accumulate / float-at-eval and wire format as [[GridBurn]].
  */
case class GridCellSum(
    cell: Expression,
    weight: Expression,
    resolution: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Double]] {
  require(resolution > 0 && resolution <= 4096, s"grid_cell_sum: bad resolution $resolution")

  override def children: Seq[Expression] = Seq(cell, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] =
    new Array[Double](resolution * resolution)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val cv = cell.eval(input)
    val wv = weight.eval(input)
    if (cv != null && wv != null) buf(cv.asInstanceOf[Int]) += wv.asInstanceOf[Double]
    buf
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any = GridCodec.toFloats(buf)
  override def serialize(buf: Array[Double]): Array[Byte] = GridCodec.serialize(buf)
  override def deserialize(bytes: Array[Byte]): Array[Double] =
    GridCodec.deserialize(bytes, resolution * resolution)

  override def withNewMutableAggBufferOffset(newOffset: Int): GridCellSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GridCellSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(cell = newChildren(0), weight = newChildren(1))
}

/** `point-wkb -> packed (tile x | tile y | cell)` long at (zoom, resolution)
  * — the codegen'd map-side projection of [[Raster.rasterizePoints]].
  * Delegates to [[Raster.pointKey]], which shares the burn paths' arithmetic
  * bit-for-bit and throws on non-point geometry (the lean shuffle row
  * cannot represent a multi-cell burn).
  */
case class GridPointKey(
    wkb: Expression,
    zoom: Int,
    resolution: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def child: Expression = wkb
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(b: Any): Any =
    Raster.pointKey(b.asInstanceOf[Array[Byte]], zoom, resolution)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, b =>
      s"vps.raster.Raster.pointKey($b, $zoom, $resolution)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(wkb = c)
}
