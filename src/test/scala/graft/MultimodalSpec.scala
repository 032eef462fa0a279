package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRecord

class MultimodalSpec extends AnyFunSuite {
  import TestSpark.{spark, sfDir}
  import spark.implicits._

  private lazy val media = Multimodal.packSynthetic(Tables.documents(spark, sfDir))

  test("pack: one media row per document, payload bytes = text bytes (ascii)") {
    val docs = Tables.documents(spark, sfDir)
    assert(media.count() === docs.count())
    val bad = media.join(docs, media("media_id") === docs("doc_id"))
      .filter(org.apache.spark.sql.functions.length($"content") =!= $"n_chars")
      .count()
    assert(bad === 0)
  }

  test("decodeFeatures: deterministic, bounded entropy, full coverage") {
    val feats1 = Multimodal.decodeFeatures(media.as[MediaRecord]).cache()
    assert(feats1.count() === media.count())
    assert(feats1.filter($"byte_entropy" < 0 || $"byte_entropy" > 8).count() === 0)
    assert(feats1.filter($"byte_mean" < 0 || $"byte_mean" > 255).count() === 0)
    val feats2 = Multimodal.decodeFeatures(media.as[MediaRecord])
    assert(feats1.exceptAll(feats2).isEmpty)
    feats1.unpersist()
  }

  test("frameSample: first frame is the payload prefix, no empty frames") {
    val frames = Multimodal.frameSample(media, n = 4, frameBytes = 64).cache()
    assert(frames.filter($"frame_idx" < 0 || $"frame_idx" > 3).count() === 0)
    val first = frames.filter($"frame_idx" === 0)
      .join(media, Seq("media_id"))
      .filter($"frame_bytes" =!=
        org.apache.spark.sql.functions.expr("substring(content, 1, 64)"))
      .count()
    assert(first === 0)
    frames.unpersist()
  }

  test("WAV round-trip: packed signal decodes to formula-exact features") {
    // distributed path: encode synthPcm to real RIFF/WAVE, decode via
    // javax.sound, and compare every feature to a direct computation
    // from the generating formula — codec losslessness, end to end
    val ids = Seq(0L, 1L, 7L, 255L, 256L, 1000L)
    val docs = ids.toDF("doc_id")
    val got = Multimodal.audioFeatures(Multimodal.packSyntheticWavs(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(got.keySet === ids.toSet)
    ids.foreach { id =>
      val s = Multimodal.synthPcm(id)
      val zc = (1 until s.length).count(i => (s(i) < 0) != (s(i - 1) < 0))
      val energy = s.map(x => x.toLong * x).sum
      val f = got(id)
      assert(f.n_samples === s.length.toLong, s"n_samples for $id")
      assert(f.sample_rate === 8000, s"rate for $id")
      assert(f.zero_crossings === zc.toLong, s"zc for $id")
      assert(f.energy === energy, s"energy for $id")
    }
  }

  test("GIF round-trip: packed frames decode to formula-exact features") {
    // distributed path: encode synthFrames to a real multi-frame GIF,
    // demux+decode via javax.imageio, compare every per-frame feature to
    // a direct computation from the generating formula
    val ids = Seq(0L, 1L, 3L, 7L, 255L, 1000L)
    val docs = ids.toDF("doc_id")
    val got = Multimodal.videoFrameFeatures(Multimodal.packSyntheticGifs(docs))
      .collect().map(f => (f.media_id, f.frame_idx) -> f).toMap
    ids.foreach { id =>
      val nF = (2 + id % 4).toInt
      def px(f: Int, x: Int, y: Int) = ((id * 31 + f * 97 + x * 7 + y * 13) % 256).toInt
      (0 until nF).foreach { f =>
        val vs = for (y <- 0 until 12; x <- 0 until 16) yield px(f, x, y)
        val pvs = for (y <- 0 until 12; x <- 0 until 16) yield px(f - 1, x, y)
        val feat = got((id, f))
        assert(feat.n_frames === nF, s"n_frames for $id")
        assert((feat.frame_w, feat.frame_h) === ((16, 12)), s"dims for $id")
        assert(feat.intensity_sum === vs.map(_.toLong).sum, s"intensity $id/$f")
        assert(feat.bright_px === vs.count(_ > 127).toLong, s"bright $id/$f")
        val motion = if (f == 0) 0L
          else vs.zip(pvs).map { case (a, b) => math.abs(a - b).toLong }.sum
        assert(feat.motion_sum === motion, s"motion $id/$f")
      }
    }
    assert(got.keySet === ids.flatMap(id => (0 until (2 + id % 4).toInt)
      .map(f => (id, f))).toSet)
  }

  test("decodeGifFrames quarantines undecodable payloads") {
    import Multimodal.VideoRecord
    assert(Multimodal.decodeGifFrames(VideoRecord(1L, "not a gif".getBytes)).isEmpty)
    assert(Multimodal.decodeGifFrames(VideoRecord(2L, Array.emptyByteArray)).isEmpty)
  }

  test("decodeWav quarantines non-WAV and non-PCM16-mono payloads") {
    import Multimodal.AudioRecord
    assert(Multimodal.decodeWav(AudioRecord(1L, "not a wav".getBytes)).isEmpty)
    assert(Multimodal.decodeWav(AudioRecord(2L, Array.emptyByteArray)).isEmpty)
    // a valid WAV but 8-bit: parses, fails the 16-bit PCM mono contract
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val pcm8 = Array.tabulate[Byte](16)(i => (i * 16).toByte)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm8), fmt8, 16),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    assert(Multimodal.decodeWav(AudioRecord(3L, bos.toByteArray)).isEmpty)
  }
}
