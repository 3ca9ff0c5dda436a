package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.video.H264IPcm

/** The two codec seams driven by REAL (subset) codecs from the test
  * classpath — r11's gap was that the ServiceLoader/SPI hooks existed
  * but CI never installed a provider, so discovery, the exception
  * fence, and the decode-twice determinism guard only ever exercised
  * their fall-through sides:
  *
  *  - video: [[graft.video.H264IPcmDecoder]], a from-scratch H.264
  *    decoder for Annex-B baseline I_PCM streams, discovered through
  *    META-INF/services (no decoder class named here);
  *  - audio: [[graft.audio.AdpcmWavFileReader]] /
  *    [[graft.audio.AdpcmToPcmProvider]], the published IMA ADPCM
  *    codec behind the standard AudioSystem SPIs — the same discovery
  *    path a production MP3/OGG SPI jar rides.
  */
class RealCodecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("H.264 I_PCM: the ServiceLoader-discovered provider recovers exact pixels, twice") {
    import spark.implicits._
    val frames = (0 until 5).map(f => H264IPcm.testFrame(2, 2, seed = 7 + f))
    val stream = H264IPcm.encode(2, 2, frames)
    val df = Seq((42L, "video", stream)).toDF("doc_id", "media_type", "media")
    def run() = Multimodal.decodeFrameSamples(spark, df, stride = 2)
      .collect().sortBy(_.frame_idx)
    val got = run()
    // frames 0, 2, 4 of 5, all really decoded at SPS geometry
    assert(got.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(got.forall(f => f.decoded && f.width == 32 && f.height == 32 &&
      f.doc_id == 42L))
    // the signature of each sampled frame equals the signature of the
    // SAMPLES THE ENCODER WROTE — exact pixel recovery through NAL
    // split, EBSP unescape, Exp-Golomb headers, and I_PCM payloads
    // (testFrame plants 0x00 runs, so emulation-prevention escapes
    // are exercised in both directions)
    val expected = Seq(0, 2, 4).map(i => H264IPcm.pixelSig(frames(i)))
    assert(got.map(_.frame_sig).toSeq == expected)
    // decode-twice determinism across fresh plans
    assert(run().map(_.frame_sig).toSeq == expected)
  }

  test("H.264 provider is strictly validating: a non-subset stream falls through to metadata") {
    import spark.implicits._
    val stream = H264IPcm.encode(1, 1, Seq(H264IPcm.testFrame(1, 1, 3)))
    // corrupt the SPS profile byte (offset 4 start code + 1 NAL
    // header): profile 100 = High, outside the provider's subset
    val bad = stream.clone()
    bad(5) = 100.toByte
    assert(H264IPcm.decode(bad, 1).isEmpty)
    val df = Seq((7L, "video", bad)).toDF("doc_id", "media_type", "media")
    val got = Multimodal.decodeFrameSamples(spark, df, stride = 1).collect()
    // all-or-nothing: no half-real mix — every row is the metadata
    // fallback (decoded=false, sig 0)
    assert(got.nonEmpty && got.forall(f => !f.decoded && f.frame_sig == 0L))
  }

  test("IMA ADPCM WAV: the AudioSystem SPIs drive pcmFeatures with exact codec output") {
    import spark.implicits._
    import graft.audio.ImaAdpcm
    // a smooth deterministic waveform, odd sample count (one block)
    val n = 4001
    val samples = Array.tabulate(n)(i =>
      (6000 * math.sin(i / 17.0) + 2500 * math.sin(i / 5.0)).toShort)
    val wav = ImaAdpcm.wavBytes(samples, sampleRate = 16000)
    // the SPI route engages end-to-end: reader recognizes the payload…
    val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(wav))
    assert(aff.getFormat.getEncoding == ImaAdpcm.Encoding)
    // …and the converter registers for it
    assert(javax.sound.sampled.AudioSystem.isConversionSupported(
      new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        16000f, 16, 1, 2, 16000f, false), aff.getFormat))
    val df = Seq((9L, "audio", wav)).toDF("doc_id", "media_type", "media")
    val got = Multimodal.pcmFeatures(spark, df).collect().head
    // expected stats from an independent straight-line decode of the
    // block — the distributed path (SPI reader -> conversion provider
    // -> decode-twice fence -> exact integer stats) must agree sample
    // for sample
    val decoded = ImaAdpcm.decodeBlock(ImaAdpcm.encodeBlock(samples))
    val expPeak = decoded.map(s => math.abs(s.toInt)).max
    val expSumSq = decoded.map(s => s.toLong * s).sum
    assert(got.decoded)
    assert(got.n_samples == n.toLong)
    assert(got.peak == expPeak && got.sum_sq == expSumSq)
    // and it is a real codec, not noise: the lossy reconstruction
    // tracks the source waveform closely
    val meanAbsErr = samples.indices
      .map(i => math.abs(samples(i) - decoded(i)).toLong).sum.toDouble / n
    assert(meanAbsErr < 200.0, s"mean abs err $meanAbsErr")
  }

  test("round-trip invariants: EBSP escapes and ADPCM state survive adversarial payloads") {
    // H.264: a frame of ALL zeros maximizes emulation-prevention
    // escapes (every PCM byte is 0x00); a frame of 0xFF has none
    val zeros = Seq((Array.fill[Byte](256)(0), Array.fill[Byte](64)(0),
      Array.fill[Byte](64)(0)))
    val ffs = Seq((Array.fill[Byte](256)(-1), Array.fill[Byte](64)(-1),
      Array.fill[Byte](64)(-1)))
    for (frame <- Seq(zeros, ffs)) {
      val dec = H264IPcm.decode(H264IPcm.encode(1, 1, Seq(frame)), 1)
      assert(dec.isDefined && dec.get.head.frame_sig ==
        H264IPcm.pixelSig(frame))
    }
    // ADPCM: step extremes (full-scale square wave slams the step
    // table to both clamps)
    import graft.audio.ImaAdpcm
    val square = Array.tabulate(201)(i =>
      (if ((i / 10) % 2 == 0) 32767 else -32768).toShort)
    val rt = ImaAdpcm.decodeBlock(ImaAdpcm.encodeBlock(square))
    assert(rt.length == square.length)
    assert(rt.forall(s => s >= -32768 && s <= 32767))
  }
}
