package graft

import java.io.ByteArrayInputStream

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.raquet.Audio

/** WAV codec + kernel proofs. The container layout is cross-checked against
  * the JVM's own WAV implementation (javax.sound.sampled) in BOTH
  * directions — our bytes parse there, its bytes parse here — so the
  * encode/parse pair can't be mutually-inverse-but-wrong. */
class AudioSpec extends SparkSpec {

  private def ramp(n: Int, f: Int => Int): Array[Int] = Array.tabulate(n)(f)

  test("encode→parse round-trips every PCM width, mono and stereo") {
    for (bits <- Seq(8, 16, 24, 32); ch <- Seq(1, 2)) {
      val full = bits match {
        case 8 => 127; case 16 => 32767; case 24 => 8388607; case 32 => 2147483647
      }
      val n = 50 * ch
      val samples = ramp(n, i => ((i * 7919) % (2 * full + 1)) - full)
      val wav = Audio.parse(Audio.encode(samples, 44100, ch, bits))
      assert(wav.sampleRate == 44100 && wav.channels == ch && wav.bitsPerSample == bits)
      assert(wav.nFrames == 50)
      for (i <- 0 until 50; c <- 0 until ch)
        assert(wav.sample(i, c) == samples(i * ch + c), s"bits=$bits ch=$ch i=$i c=$c")
    }
  }

  test("our WAV bytes parse under javax.sound.sampled with identical PCM") {
    val samples = ramp(200, i => (i * 331) % 30000 - 15000)
    val bytes = Audio.encode(samples, 16000, 2, 16)
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    assert(fmt.getSampleRate == 16000f && fmt.getChannels == 2 &&
      fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
    assert(fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED)
    assert(in.getFrameLength == 100)
    val pcm = in.readAllBytes()
    assert(java.util.Arrays.equals(pcm, Audio.parse(bytes).data))
  }

  test("javax.sound.sampled WAV bytes parse under our parser") {
    val samples = ramp(120, i => (i * 97) % 200 - 100)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      pcm(2 * i) = v.toByte; pcm(2 * i + 1) = (v >> 8).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, samples.length)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    val wav = Audio.parse(bos.toByteArray)
    assert(wav.sampleRate == 8000 && wav.channels == 1 && wav.bitsPerSample == 16)
    assert(wav.nFrames == 120)
    samples.zipWithIndex.foreach { case (v, i) => assert(wav.sample(i, 0) == v) }
  }

  test("channelStats: exact sums, per-channel separation, zero-crossing rule") {
    // ch0 = +1,-1,+1,… (alternating: 5 crossings over 6 frames);
    // ch1 = 1,0,-1,0,1,0 — every sign change is separated by a zero, and
    // zeros end no crossing, so 0 crossings
    val s = Array(1, 1, -1, 0, 1, -1, -1, 0, 1, 1, -1, 0)
    val wav = Audio.parse(Audio.encode(s, 8000, 2, 16))
    val c0 = Audio.channelStats(wav, 0)
    assert(c0 == Audio.ChannelStats(6, -1, 1, 0, 6, 5))
    val c1 = Audio.channelStats(wav, 1)
    assert(c1.zeroCrossings == 0 && c1.sum == 1 && c1.sumSq == 3)
    intercept[IllegalArgumentException](Audio.channelStats(wav, 2))
  }

  test("resampleNearest: index map, identity, and length floor") {
    val s = ramp(10, i => i * 100)
    val wav = Audio.parse(Audio.encode(s, 8000, 1, 16))
    val down = Audio.resampleNearest(wav, 3000) // 10*3000/8000 = 3 frames
    assert(down.sampleRate == 3000 && down.nFrames == 3)
    // k → floor(k*8000/3000): 0, 2, 5
    assert(Seq(down.sample(0, 0), down.sample(1, 0), down.sample(2, 0)) ==
      Seq(0, 200, 500))
    val up = Audio.resampleNearest(wav, 16000)
    assert(up.nFrames == 20 && up.sample(7, 0) == s(3))
    assert(Audio.resampleNearest(wav, 8000) eq wav)
  }

  test("frameEnergies: complete windows only, hop arithmetic") {
    val s = ramp(11, i => if (i < 4) 2 else -3)
    val wav = Audio.parse(Audio.encode(s, 8000, 1, 16))
    // frameLen 4, hop 3 → windows at 0,3,6 (9+4>11 ⇒ window at 9 drops)
    val e = Audio.frameEnergies(wav, 4, 3, 0)
    assert(e.toSeq == Seq(8L, 2 + 3 * 3L, 12L))
    assert(Audio.frameEnergies(wav, 12, 1, 0).isEmpty)
  }

  test("trimSilence: edges, any-channel rule, all-silent") {
    val s = Array(0, 0, 0, 5, 0, -7, 0, 0)
    val wav = Audio.parse(Audio.encode(s, 8000, 1, 16))
    val t = Audio.trimSilence(wav, 0)
    assert(t.nFrames == 3 && t.sample(0, 0) == 5 && t.sample(2, 0) == -7)
    assert(Audio.trimSilence(wav, 10).nFrames == 0)
    // stereo: frame kept if ANY channel is loud
    val st = Audio.parse(Audio.encode(Array(0, 0, 0, 9, 0, 0), 8000, 2, 16))
    assert(Audio.trimSilence(st, 0).nFrames == 1)
    // threshold is strict: |x| must EXCEED it
    assert(Audio.trimSilence(wav, 5).nFrames == 1)
  }

  test("parser: junk chunks skipped, odd-size padding honored") {
    val base = Audio.encode(Array(100, -100), 8000, 1, 16)
    // splice a 3-byte LIST chunk (odd size → 1 pad byte) between fmt and data
    val junk = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3, 0)
    val spliced = base.slice(0, 36) ++ junk ++ base.slice(36, base.length)
    // fix RIFF size
    val total = spliced.length - 8
    spliced(4) = total.toByte; spliced(5) = (total >> 8).toByte
    val wav = Audio.parse(spliced)
    assert(wav.nFrames == 2 && wav.sample(0, 0) == 100 && wav.sample(1, 0) == -100)
  }

  test("parser: malformed inputs fail loudly, never over-read") {
    val good = Audio.encode(ramp(8, _ * 3), 8000, 1, 16)
    intercept[IllegalArgumentException](Audio.parse(Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException](Audio.parse(good.map(b => (b ^ 1).toByte))) // broken magic
    // data chunk claiming more bytes than the file has
    val lying = good.clone()
    lying(40) = -1; lying(41) = -1 // data size → huge
    intercept[IllegalArgumentException](Audio.parse(lying))
    // float PCM (format tag 3) refused, not misread
    val f32 = good.clone(); f32(20) = 3
    intercept[IllegalArgumentException](Audio.parse(f32))
    // truncated mid-header
    intercept[IllegalArgumentException](Audio.parse(good.slice(0, 30)))
  }

  test("fingerprint: polarity/gain invariant, content sensitive, ≤63 bits") {
    val base = ramp(400, k => 2 * ((k * k * 11 + k * 113) % 2001) - 2001)
    def fpOf(s: Array[Int]) =
      Audio.fingerprint(Audio.parse(Audio.encode(s, 8000, 1, 16)), 40, 40, 0)
    val fp = fpOf(base)
    assert(fpOf(base.map(-_)) == fp) // polarity inversion
    assert(fpOf(base.map(_ * 3)) == fp) // uniform gain
    val other = ramp(400, k => 2 * ((k * k * 13 + k * 113) % 2001) - 2001)
    assert(fpOf(other) != fp) // different content separates
    // 400/40 = 10 windows → 9 delta bits; nothing above bit 8
    assert((fp >>> 9) == 0)
  }

  test("dHash: noise under the gradient floor never flips a bit; edits do") {
    import graft.raquet.Multimodal
    def img(noise: Int => Int, edit: Boolean): Array[Byte] =
      Array.tabulate(32 * 32) { i =>
        val x = i % 32; val y = i / 32
        val core = ((x * 29 + y * 17) % 241 +
          (if (edit && x == 10 && y == 8) 100 else 0)) % 241
        (core + noise(i)).toByte
      }
    val h0 = Multimodal.dHash(img(_ => 0, edit = false), 32, 32)
    val h1 = Multimodal.dHash(img(i => (i * 7) % 3, edit = false), 32, 32)
    assert(h0 == h1) // ≤2-level noise vs ≥87-level gradients
    val h2 = Multimodal.dHash(img(_ => 0, edit = true), 32, 32)
    val d = java.lang.Long.bitCount(h0 ^ h2)
    assert(d >= 1 && d <= 2, s"local edit flipped $d bits") // only 2 comparisons touch (10,8)
  }

  test("EXIF: orientation tag read (both byte orders) and the 8 transforms") {
    import graft.raquet.Multimodal
    // hand-built JPEG shell: SOI + APP1(Exif TIFF, one IFD entry) + EOI
    def jpegWithExif(orientation: Int, little: Boolean): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      def b(v: Int): Unit = bos.write(v & 0xFF)
      b(0xFF); b(0xD8) // SOI
      val tiff = new java.io.ByteArrayOutputStream()
      def t16(v: Int): Unit =
        if (little) { tiff.write(v & 0xFF); tiff.write((v >> 8) & 0xFF) }
        else { tiff.write((v >> 8) & 0xFF); tiff.write(v & 0xFF) }
      def t32(v: Int): Unit =
        if (little) { t16(v & 0xFFFF); t16(v >>> 16) } else { t16(v >>> 16); t16(v & 0xFFFF) }
      tiff.write(if (little) 'I' else 'M'); tiff.write(if (little) 'I' else 'M')
      t16(42); t32(8) // magic, IFD0 at offset 8
      t16(1) // one entry
      t16(0x0112); t16(3); t32(1); t16(orientation); t16(0) // SHORT, count 1
      t32(0) // next IFD
      val payload = "Exif".getBytes ++ Array[Byte](0, 0) ++ tiff.toByteArray
      b(0xFF); b(0xE1); val len = payload.length + 2
      b(len >> 8); b(len)
      bos.write(payload)
      b(0xFF); b(0xD9) // EOI
      bos.toByteArray
    }
    for (o <- 1 to 8; little <- Seq(true, false))
      assert(Multimodal.exifOrientation(jpegWithExif(o, little)) == o, s"o=$o le=$little")
    // a real encoder's JPEG has no EXIF → orientation 1
    val plain = Multimodal.encodeJpeg(Array.fill(16)(7.toByte), 4, 4, 1)
    assert(Multimodal.exifOrientation(plain) == 1)
    intercept[IllegalArgumentException](Multimodal.exifOrientation(Array[Byte](1, 2, 3, 4)))

    // transforms on an asymmetric 3×2 gray image: a b c / d e f
    val src = Array[Byte]('a', 'b', 'c', 'd', 'e', 'f')
    def run(o: Int) = {
      val (p, w, h) = Multimodal.applyOrientation(src, 3, 2, 1, o)
      (new String(p.map(_.toChar)), w, h)
    }
    assert(run(1) == (("abcdef", 3, 2)))
    assert(run(2) == (("cbafed", 3, 2))) // flip H
    assert(run(3) == (("fedcba", 3, 2))) // 180
    assert(run(4) == (("defabc", 3, 2))) // flip V
    assert(run(5) == (("adbecf", 2, 3))) // transpose
    assert(run(6) == (("daebfc", 2, 3))) // rotate 90 CW
    assert(run(7) == (("fcebda", 2, 3))) // transverse
    assert(run(8) == (("cfbead", 2, 3))) // rotate 270 CW
    // every orientation round-trips through its inverse partner
    val inverse = Map(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 4, 5 -> 5, 6 -> 8, 7 -> 7, 8 -> 6)
    for ((o, inv) <- inverse) {
      val (p, w, h) = Multimodal.applyOrientation(src, 3, 2, 1, o)
      val (back, w2, h2) = Multimodal.applyOrientation(p, w, h, 1, inv)
      assert(w2 == 3 && h2 == 2 && back.toSeq == src.toSeq, s"o=$o")
    }
  }

  test("Spark end to end: SQL surface ≡ DSL, codegen path") {
    val sql = spark.sql(
      """SELECT id, mm_wav_stats(
           mm_wav_encode(transform(sequence(0, 99), k -> CAST(k % 21 - 10 AS INT)),
             8000, 1, 16), 0) AS st
         FROM range(4)""")
      .select(col("id"), col("st.n"), col("st.sum"), col("st.sum_sq"))
      .collect()
    assert(sql.length == 4)
    // 100 samples cycling -10..10: sum of one full cycle is 0 → sum = partial
    val vals = (0 until 100).map(k => k % 21 - 10)
    assert(sql.head.getLong(1) == 100)
    assert(sql.head.getLong(2) == vals.sum)
    assert(sql.head.getLong(3) == vals.map(v => v * v).sum)
    val dsl = spark.range(4).toDF("id")
      .withColumn("wav", mm_wav_encode(
        expr("transform(sequence(0, 99), k -> CAST(k % 21 - 10 AS INT))"), 8000, 1, 16))
      .select(col("id"), mm_wav_info(col("wav")).getField("duration_us").as("d"))
      .collect()
    assert(dsl.forall(_.getLong(1) == 100L * 1000000L / 8000))
  }
}
