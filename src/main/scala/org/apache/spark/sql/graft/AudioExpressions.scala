package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.raquet.Audio

/** Audio (WAV/PCM) expression family — the audio members of the multimodal
  * column kernels. Same design as the raster/image expressions: scalar
  * config (rates, widths, window sizes) is bound at plan time from literal
  * args, and each value is stated once as `compute` over the kernels in
  * [[graft.raquet.Audio]], on the [[TileKernelExpression]] template, so the
  * whole projection stays inside whole-stage codegen.
  */
object AudioBridge {
  val infoSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_us", LongType, nullable = false)))

  val statsSchema: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("min", LongType, nullable = false),
    StructField("max", LongType, nullable = false),
    StructField("sum", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false)))

  /** The WAV payload a `compute` receives. */
  def wav(raw: Any): Audio.Wav = Audio.parse(raw.asInstanceOf[Array[Byte]])
}

/** mm_wav_encode(samples) with plan-time (sample_rate, channels, bits):
  * interleaved signed samples → a canonical WAV payload. The assembly/export
  * step of an audio pipeline (and the synthesis entry for provable tests). */
case class MmWavEncode(child: Expression, sampleRate: Int, channels: Int, bits: Int)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_wav_encode"
  def compute(samples: Any): Any =
    Audio.encode(samples.asInstanceOf[ArrayData].toIntArray(), sampleRate, channels, bits)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_wav_info(binary): parse the WAV header → (sample_rate, channels, bits,
  * n_frames, duration_us). Malformed payloads error loudly, never null. */
case class MmWavInfo(child: Expression) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AudioBridge.infoSchema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_wav_info"
  def compute(raw: Any): Any = {
    val w = AudioBridge.wav(raw)
    InternalRow(w.sampleRate, w.channels, w.bitsPerSample, w.nFrames.toLong, w.durationUs)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_wav_stats(binary) with a plan-time channel: exact integer PCM stats
  * (n, min, max, sum, sum_sq, zero_crossings) — the feature-extraction step
  * for audio quality/silence curation. */
case class MmWavStats(child: Expression, channel: Int) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AudioBridge.statsSchema
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_wav_stats"
  def compute(raw: Any): Any = {
    val s = Audio.channelStats(AudioBridge.wav(raw), channel)
    InternalRow(s.n, s.min, s.max, s.sum, s.sumSq, s.zeroCrossings)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_wav_resample(binary) with a plan-time target rate: nearest-neighbour
  * rate conversion (⌊k·src/dst⌋ index map — integer-exact, oracle-provable);
  * returns a complete WAV at the new rate. */
case class MmWavResample(child: Expression, dstRate: Int) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_wav_resample"
  def compute(raw: Any): Any = Audio.toBytes(Audio.resampleNearest(AudioBridge.wav(raw), dstRate))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_wav_frames(binary) with plan-time (frame_len, hop, channel): energy
  * (Σ|x|) of each complete analysis window — the audio frame-sample
  * feature (VAD / silence gating). Trailing partial windows drop. */
case class MmWavFrames(child: Expression, frameLen: Int, hop: Int, channel: Int)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_wav_frames"
  def compute(raw: Any): Any =
    new GenericArrayData(Audio.frameEnergies(AudioBridge.wav(raw), frameLen, hop, channel))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_wav_fingerprint(binary) with plan-time (frame_len, hop, channel):
  * energy-contour delta-sign fingerprint (≤63 bits) — audio near-dup
  * detection as an exact groupBy, invariant under polarity/gain changes. */
case class MmWavFingerprint(child: Expression, frameLen: Int, hop: Int, channel: Int)
    extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_wav_fingerprint"
  def compute(raw: Any): Any = Audio.fingerprint(AudioBridge.wav(raw), frameLen, hop, channel)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** mm_wav_trim(binary) with a plan-time threshold: cut leading/trailing
  * frames where every channel's |sample| ≤ threshold; all-silent audio
  * yields an empty (0-frame) WAV. */
case class MmWavTrim(child: Expression, threshold: Int) extends UnaryTileKernel {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mm_wav_trim"
  def compute(raw: Any): Any = Audio.toBytes(Audio.trimSilence(AudioBridge.wav(raw), threshold))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
