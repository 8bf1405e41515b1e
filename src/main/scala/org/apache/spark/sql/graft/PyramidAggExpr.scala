package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

import graft.raquet.{BandKernel, Downsample, PixelCodec}

/** Mutable aggregation state for [[RqParentTile]]: the ≤4 child blobs of
  * one parent, indexed by Morton quadrant ((x&1) + 2*(y&1)). Blobs are
  * stashed as-is — no decode happens before [[RqParentTile.eval]]. */
final class ParentTileBuffer(val blobs: Array[Array[Byte]])

/** rq_parent_tile(block, band) — builds one overview (pyramid) parent tile
  * from its ≤4 children as a partial-mergeable AGGREGATE (M5 scale path).
  *
  * Placement is deliberate: `update`/`merge`/`serialize` only move the
  * already-compressed child blobs (zero decode work, exchange bytes ≈ the
  * input data itself), and ALL pixel work — decode 4, nodata-aware 2×2
  * average ([[graft.raquet.Downsample.parentTile]]), dtype+gzip encode,
  * stats — runs once per parent in `eval` on the post-exchange side, which
  * parallelizes across `spark.sql.shuffle.partitions` regardless of how few
  * input partitions the level has. vs the previous `groupByKey`/`mapGroups`
  * shape this drops the Row-encoder round-trip and the non-band columns
  * (per-child stats, metadata) from the exchange, and being a real
  * aggregate it partial-merges instead of requiring whole-group iterators.
  *
  * Output struct: `tile` (encoded parent blob) + the six `{band}_{stat}`
  * values recomputed over the parent (count=0 + null stats when the parent
  * has no valid pixels, matching the writer's empty-stats convention).
  */
case class RqParentTile(
    block: Expression,
    blob: Expression,
    kernel: BandKernel,
    resampling: String = "average",
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ParentTileBuffer] with BinaryLike[Expression] {

  override def prettyName: String = "rq_parent_tile"
  override def left: Expression = block
  override def right: Expression = blob
  override def nullable: Boolean = false
  override def dataType: DataType = RqParentTile.schema

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (block.dataType == LongType && blob.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"rq_parent_tile expects (BIGINT block, BINARY band), got " +
        s"(${block.dataType.catalogString}, ${blob.dataType.catalogString})")

  override def createAggregationBuffer(): ParentTileBuffer =
    new ParentTileBuffer(new Array[Array[Byte]](4))

  override def update(buf: ParentTileBuffer, input: InternalRow): ParentTileBuffer = {
    val blockVal = block.eval(input)
    if (blockVal == null) return buf
    val b = blockVal.asInstanceOf[Long]
    val raw = blob.eval(input).asInstanceOf[Array[Byte]]
    if (raw == null) return buf // empty child: quadrant stays absent → fill
    val pos = ((graft.quadbin.Quadbin.tileX(b) & 1) +
      2 * (graft.quadbin.Quadbin.tileY(b) & 1)).toInt
    buf.blobs(pos) = raw
    buf
  }

  override def merge(buf: ParentTileBuffer, other: ParentTileBuffer): ParentTileBuffer = {
    // each child lands in exactly one partial, so quadrants are disjoint
    var pos = 0
    while (pos < 4) {
      if (other.blobs(pos) != null) buf.blobs(pos) = other.blobs(pos)
      pos += 1
    }
    buf
  }

  override def eval(buf: ParentTileBuffer): Any = {
    val tile = Downsample.parentTile(kernel,
      buf.blobs(0), buf.blobs(1), buf.blobs(2), buf.blobs(3), resampling)
    // stats from the DECODED tile (post dtype rounding), exactly as the
    // writer computes them — keeps parents and natives comparable
    val s = PixelCodec.maskedStats(kernel.decode(tile), kernel.nodata, null)
    if (s == null)
      new GenericInternalRow(Array[Any](tile, 0L, null, null, null, null, null))
    else
      new GenericInternalRow(Array[Any](tile, s(0).toLong, s(1), s(2), s(3),
        PixelCodec.statsMean(s), PixelCodec.statsStddev(s)))
  }

  /** [present mask byte][per present quadrant: 4-byte length + blob]. */
  override def serialize(buf: ParentTileBuffer): Array[Byte] = {
    var mask = 0
    var total = 1
    var pos = 0
    while (pos < 4) {
      if (buf.blobs(pos) != null) { mask |= 1 << pos; total += 4 + buf.blobs(pos).length }
      pos += 1
    }
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.put(mask.toByte)
    pos = 0
    while (pos < 4) {
      val b = buf.blobs(pos)
      if (b != null) { bb.putInt(b.length); bb.put(b) }
      pos += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ParentTileBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val mask = bb.get() & 0xF
    val blobs = new Array[Array[Byte]](4)
    var pos = 0
    while (pos < 4) {
      if ((mask & (1 << pos)) != 0) {
        val b = new Array[Byte](bb.getInt())
        bb.get(b)
        blobs(pos) = b
      }
      pos += 1
    }
    new ParentTileBuffer(blobs)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): RqParentTile =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RqParentTile =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(block = l, blob = r)
}

object RqParentTile {
  /** tile blob + the writer's six per-band stats. */
  val schema: StructType = StructType(Seq(
    StructField("tile", BinaryType, nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("min", DoubleType, nullable = true),
    StructField("max", DoubleType, nullable = true),
    StructField("sum", DoubleType, nullable = true),
    StructField("mean", DoubleType, nullable = true),
    StructField("stddev", DoubleType, nullable = true)))
}

/** rq_conv_parent(contribs) — one overview parent tile from a COLLECTED
  * list of source contributions: its ≤4 children (still-encoded blobs) plus
  * the R-pixel halo strips from the 12 ring tiles around the 2×2 child
  * block, each tagged with its offset in the (2w+2R)×(2h+2R) source mosaic.
  * This is the convolution-resampling path (cubic / cubicspline / lanczos,
  * [[graft.raquet.Downsample.ConvWeights]]): unlike the 2×2 reduce, a
  * convolution tap can cross a tile edge, so [[graft.raquet.Pyramid]]
  * shuffles boundary strips alongside the children — strips are tiny
  * (≤ R·w doubles), and the dominant own-child stream crosses the exchange
  * still compressed, so shuffle volume stays ≈ the average-kernel path.
  *
  * Contribution struct: (sx, sy, sw, sh, blob, vals) — blob set (and vals
  * null) for own children, vals set for strips. NULL out (parent absent)
  * when no contribution is an own child: a parent with only foreign halo
  * strips must not materialize. Output struct = [[RqParentTile.schema]].
  */
case class RqConvParent(contribs: Expression, kernel: BandKernel,
    resampling: String)
    extends UnaryTileKernel {
  override def child: Expression = contribs
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType)
  override def dataType: DataType = RqParentTile.schema
  override def nullable: Boolean = true
  override def prettyName: String = "rq_conv_parent"
  def compute(arr: Any): Any = RqConvParent.assemble(kernel, resampling,
    arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(contribs = c)
}

object RqConvParent {
  /** Paste every contribution into the NaN-initialized source mosaic, then
    * convolve ([[graft.raquet.Downsample.convolveParent]]) and recompute the
    * writer's stats from the decoded result (decode-after-encode, so parent
    * stats reflect the stored dtype exactly like the average path). */
  def assemble(k: BandKernel, resampling: String,
      list: org.apache.spark.sql.catalyst.util.ArrayData): InternalRow = {
    val weights = Downsample.ConvWeights(resampling)
    val r = weights.length / 2 - 1
    val w = k.width; val h = k.height
    val mw = 2 * w + 2 * r
    val mosaic = new Array[Double]((2 * h + 2 * r) * mw)
    java.util.Arrays.fill(mosaic, Double.NaN)
    var hasOwn = false
    var i = 0
    val n = list.numElements()
    while (i < n) {
      val c = list.getStruct(i, 6)
      val sx = c.getInt(0); val sy = c.getInt(1)
      val sw = c.getInt(2); val sh = c.getInt(3)
      // an own child with a NULL blob (empty tile) still anchors the
      // parent — the average path materializes an all-fill parent there too
      if (sw == w && sh == h) hasOwn = true
      val vals: Array[Double] =
        if (!c.isNullAt(4)) k.decode(c.getBinary(4))
        else if (!c.isNullAt(5)) c.getArray(5).toDoubleArray()
        else null
      if (vals != null) {
        var q = 0
        val m = sw * sh
        while (q < m) {
          mosaic((sy + q / sw) * mw + sx + q % sw) = vals(q)
          q += 1
        }
      }
      i += 1
    }
    if (!hasOwn) null
    else {
      val tile = Downsample.convolveParent(k, weights, mosaic)
      val s = PixelCodec.maskedStats(k.decode(tile), k.nodata, null)
      if (s == null)
        new GenericInternalRow(Array[Any](tile, 0L, null, null, null, null, null))
      else
        new GenericInternalRow(Array[Any](tile, s(0).toLong, s(1), s(2), s(3),
          PixelCodec.statsMean(s), PixelCodec.statsStddev(s)))
    }
  }
}
