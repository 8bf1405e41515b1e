package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geo.{GeoJson, Measure, Simplify, Wkb, Wkt}
import graft.raquet.{CfTime, CfTimeInfo, Multimodal, PixelCodec, WebPAnim}

/** CF-time, multimodal and vector-geometry expressions. Same pattern as the
  * raster family: config resolved at construction from literal args, each
  * value stated once as `compute` on the [[TileKernelExpression]]
  * template. */

/** cf_to_timestamp(value) with plan-time units/calendar (F16): CF numeric
  * time → TimestampType; NULL for non-Gregorian calendars or invalid dates
  * (reference `raster2raquet.py:331-368`). */
case class CfToTimestamp(child: Expression, units: String, calendar: String)
    extends UnaryTileKernel {
  // built on the driver and shipped with the plan (see buildPlanTimeState)
  private lazy val info: CfTimeInfo =
    CfTime.parseUnits(units, calendar).getOrElse(
      throw new IllegalArgumentException(s"unparseable CF units: $units"))
  override protected def buildPlanTimeState(): Unit = info
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "cf_to_timestamp"
  def compute(v: Any): Any = {
    val m = info.toEpochMicros(v.asInstanceOf[Double])
    if (m == Long.MinValue) null else m
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rq_inflate(binary): gunzip when gzip magic present, else pass through —
  * exposes raw tile bytes to SQL-level slicing (frame sampling etc.). */
case class RqInflate(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rq_inflate"
  def compute(raw: Any): Any = {
    val b = raw.asInstanceOf[Array[Byte]]
    if (PixelCodec.isGzip(b)) PixelCodec.gzipDecompress(b) else b
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object MmBridge {
  val imageSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("mean", DoubleType, nullable = false)))

  def imageStats(bytes: Array[Byte]): InternalRow = {
    val img = Multimodal.decodeImage(bytes)
    var sum = 0.0
    var i = 0
    while (i < img.pixels.length) { sum += img.pixels(i) & 0xFF; i += 1 }
    InternalRow(img.width, img.height, img.channels,
      sum / math.max(1, img.pixels.length))
  }
}

/** mm_image_stats(binary): REAL image decode (JPEG/PNG via javax.imageio) →
  * (width, height, channels, mean brightness). The feature-extraction step
  * of a multimodal pipeline; decode failures surface as errors, not nulls. */
case class MmImageStats(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = MmBridge.imageSchema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_image_stats"
  def compute(raw: Any): Any =
    MmBridge.imageStats(raw.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_resize(binary, w, h) with plan-time source dims/channels: nearest-
  * neighbour resample of raw uint8 pixels. */
case class MmResize(first: Expression, second: Expression, third: Expression,
    srcWidth: Int, srcHeight: Int, channels: Int)
    extends TernaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_resize"
  def compute(raw: Any, w2: Any, h2: Any): Any =
    Multimodal.resizeNearest(raw.asInstanceOf[Array[Byte]], srcWidth, srcHeight,
      channels, w2.asInstanceOf[Int], h2.asInstanceOf[Int])
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(f, s, t)
}

/** mm_jpeg_pixels(binary): decode a whole JPEG/PNG tile to its raw
  * BIP-interleaved uint8 buffer (the interleaved-layout lossy path,
  * spec `format-specs/raquet.md:49-57`). */
case class MmJpegPixels(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_jpeg_pixels"
  def compute(raw: Any): Any =
    Multimodal.decodeImage(raw.asInstanceOf[Array[Byte]]).pixels
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_webp_encode(pixels) with plan-time (width, height, channels): encode
  * raw uint8 gray/BIP pixels as lossless WebP (VP8L) — the `webp` member of
  * raquet's interleaved codec family (spec `raquet.md:272-277`). Lossless,
  * so raquet round-trips are bit-exact. */
case class MmWebpEncode(child: Expression, imgWidth: Int, imgHeight: Int, channels: Int)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_webp_encode"
  def compute(raw: Any): Any =
    Multimodal.encodeWebP(raw.asInstanceOf[Array[Byte]], imgWidth, imgHeight, channels)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_webp_lossy(pixels) with plan-time (width, height, channels, quality):
  * encode raw uint8 pixels as LOSSY WebP (VP8 key frame) — the format the
  * reference's Pillow path writes for `compression="webp"` with a quality
  * (`raster2raquet.py:844-845`). */
case class MmWebpLossy(child: Expression, imgWidth: Int, imgHeight: Int,
    channels: Int, quality: Int)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_webp_lossy"
  def compute(raw: Any): Any =
    Multimodal.encodeWebPLossy(raw.asInstanceOf[Array[Byte]], imgWidth,
      imgHeight, channels, quality)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_webp_pixels(bytes) with plan-time channels: decode a WebP tile —
  * lossless VP8L or lossy VP8 ([[graft.raquet.Vp8]]) — to its raw
  * interleaved uint8 buffer. */
case class MmWebpPixels(child: Expression, channels: Int) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_webp_pixels"
  def compute(raw: Any): Any =
    Multimodal.decodeWebP(raw.asInstanceOf[Array[Byte]], channels)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object AnimBridge {
  val infoSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("loop_count", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))
}

/** mm_webp_anim(frames) with plan-time (width, height, channels,
  * duration_ms): an array of interleaved uint8 frame buffers → one lossless
  * animated WebP (full-canvas no-blend frames). The video-assembly step of
  * a multimodal pipeline. */
case class MmWebpAnimEncode(child: Expression, imgWidth: Int, imgHeight: Int,
    channels: Int, durationMs: Int) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(BinaryType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_webp_anim"
  def compute(frames: Any): Any = {
    val a = frames.asInstanceOf[ArrayData]
    WebPAnim.encodeAnimation(IndexedSeq.tabulate(a.numElements())(a.getBinary),
      imgWidth, imgHeight, channels, durationMs)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_area(wkt): planar shoelace area in coordinate units (holes
  * subtract). Per-row parse amortized by the [[RqBridge.geomOf]] run-cache. */
case class StArea(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_area"
  def compute(w: Any): Any = Measure.area(RqBridge.geomOf(w.toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_perimeter(wkt): summed ring lengths in coordinate units. */
case class StPerimeter(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_perimeter"
  def compute(w: Any): Any = Measure.perimeter(RqBridge.geomOf(w.toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_centroid(wkt) → (x, y): area-weighted centroid. */
case class StCentroid(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_centroid"
  def compute(w: Any): Any = {
    val (x, y) = Measure.centroid(RqBridge.geomOf(w.toString))
    InternalRow(x, y)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_geom_from_wkb(binary) → WKT: the GeoParquet bridge — a WKB geometry
  * column becomes text every existing WKT operator consumes. */
case class StGeomFromWkb(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_geom_from_wkb"
  def compute(b: Any): Any = UTF8String.fromString(Wkb.toWkt(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_simplify(wkt) with a plan-time tolerance: Douglas–Peucker vertex
  * thinning (closed-ring form, collapse-guarded) — the pre-encode step of
  * a vector-tile pipeline. */
case class StSimplify(child: Expression, tolerance: Double) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_simplify"
  def compute(w: Any): Any = UTF8String.fromString(
    Wkt.format(Simplify.simplify(RqBridge.geomOf(w.toString), tolerance)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_npoints(wkt): vertex count (ring-closing duplicates not counted). */
case class StNPoints(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_npoints"
  def compute(w: Any): Any = Simplify.nPoints(RqBridge.geomOf(w.toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_geom_from_geojson(string) → WKT: the RFC 7946 bridge (accepts bare
  * geometries and single Features). */
case class StGeomFromGeojson(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_geom_from_geojson"
  def compute(s: Any): Any = UTF8String.fromString(Wkt.format(GeoJson.parse(s.toString)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_as_geojson(wkt) → RFC 7946 text (the inverse bridge). */
case class StAsGeojson(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_as_geojson"
  def compute(w: Any): Any = UTF8String.fromString(GeoJson.format(RqBridge.geomOf(w.toString)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** st_as_wkb(wkt) → canonical little-endian WKB (the inverse bridge). */
case class StAsWkb(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_as_wkb"
  def compute(w: Any): Any = Wkb.write(RqBridge.geomOf(w.toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_u8_pack(array<int>): values 0..255 → a raw uint8 binary buffer — the
  * in-plan payload builder (inverse view of mm_u8_sum; out-of-range values
  * error rather than truncate). */
case class MmU8Pack(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_u8_pack"
  def compute(raw: Any): Any = {
    val a = raw.asInstanceOf[ArrayData]
    Array.tabulate(a.numElements()) { i =>
      val v = a.getInt(i)
      if (v < 0 || v > 255)
        throw new IllegalArgumentException(s"mm_u8_pack: value $v at $i outside [0,255]")
      v.toByte
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_dhash(pixels) with plan-time (width, height): 64-bit perceptual
  * difference-hash of a gray uint8 buffer — image near-dup detection via
  * hamming-blocked joins (the SimHash machinery, pointed at pixels). */
case class MmDhash(child: Expression, imgWidth: Int, imgHeight: Int) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_dhash"
  def compute(raw: Any): Any =
    Multimodal.dHash(raw.asInstanceOf[Array[Byte]], imgWidth, imgHeight)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_exif_orientation(jpeg): EXIF tag 274 from the APP1 segment (1 when
  * absent) — what a real image pipeline must read before pixel math. */
case class MmExifOrientation(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_exif_orientation"
  def compute(raw: Any): Any = Multimodal.exifOrientation(raw.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_orient(pixels, orientation) with plan-time (width, height, channels):
  * apply an EXIF orientation to a raw uint8 buffer (orientations 5-8 swap
  * the output dims — the caller tracks that, as with mm_resize). */
case class MmOrient(left: Expression, right: Expression,
    imgWidth: Int, imgHeight: Int, channels: Int) extends BinaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_orient"
  def compute(raw: Any, o: Any): Any =
    Multimodal.applyOrientation(raw.asInstanceOf[Array[Byte]], imgWidth,
      imgHeight, channels, o.asInstanceOf[Int])._1
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** mm_u8_sum(binary): Σ of the payload's unsigned bytes — the cheap
  * content-check / brightness-mass feature for raw uint8 pixel buffers. */
case class MmU8Sum(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_u8_sum"
  def compute(raw: Any): Any = {
    val b = raw.asInstanceOf[Array[Byte]]
    var s = 0L
    var i = 0
    while (i < b.length) { s += b(i) & 0xFF; i += 1 }
    s
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_webp_anim_info(binary): container-walk an animated WebP → (canvas
  * width/height, frame count, loop count, total duration). No bitstream
  * decode — O(chunks). */
case class MmWebpAnimInfo(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AnimBridge.infoSchema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_webp_anim_info"
  def compute(raw: Any): Any = {
    val i = WebPAnim.info(raw.asInstanceOf[Array[Byte]])
    InternalRow(i.width, i.height, i.frameCount, i.loopCount, i.totalDurationMs)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_webp_frame(clip, idx) with plan-time channels: decode ONE frame of an
  * animated WebP to interleaved uint8 pixels — the frame-sample kernel
  * (idx is a runtime column, so `explode(sequence(...))` samples every Nth
  * frame without decoding the rest). */
case class MmWebpFramePixels(left: Expression, right: Expression, channels: Int)
    extends BinaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_webp_frame"
  def compute(raw: Any, idx: Any): Any =
    WebPAnim.decodeFrame(raw.asInstanceOf[Array[Byte]], idx.asInstanceOf[Int])
      .toInterleaved(channels)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** mm_deinterleave(pixels) with plan-time (band, nBands, bytesPerSample):
  * extract one band from a BIP-interleaved payload (F9 inverse). */
case class MmDeinterleave(child: Expression, band: Int, nBands: Int, bytesPerSample: Int)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_deinterleave"
  def compute(raw: Any): Any =
    Multimodal.deinterleave(raw.asInstanceOf[Array[Byte]], band, nBands, bytesPerSample)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
