package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Bmp, Flac, Gif, Jpeg, Mp4, Multimodal, Png, Wav}

/** The 100 TB shape of the multimodal pipeline, now that all eight real
  * format walks (BMP, PNG, JPEG, GIF, PCM WAV, ADPCM WAV, FLAC, and the
  * ISO-BMFF/MP4 demux) sit behind the
  * dispatch seam: decode/featurize/resize/frame-sample stay MAP-ONLY (zero
  * Exchange in the physical plan — media work distributes by never
  * shuffling payload bytes), results must be partition-count invariant
  * (codec state is per-partition, never cross-partition), and a mixed-
  * codec corpus must come through with every asset decoded by ITS
  * codec, resized into ITS container, and corrupt assets degraded to
  * the byte-fold rather than failing the stage. */
class MultimodalScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** mixed corpus: one of each codec family per index, deterministic */
  private def mixedMedia(n: Int, parts: Int): DataFrame = {
    val rows = (0 until n).map { i =>
      val rnd = new scala.util.Random(i) // per-row seed: order-free
      val px = Array.fill(8 * 8)(rnd.nextInt(1 << 24))
      val pcm = Array.tabulate[Short](505)(j =>
        (3000 * math.sin((i + 1) * j / 30.0)).toShort)
      val payload = i % 9 match {
        case 0 => Bmp.encode(8, 8, px)
        case 1 => Png.encode(8, 8, px)
        case 2 => Jpeg.encode(8, 8, px)
        case 3 => Wav.encode(pcm, 16000, 1)
        case 4 => Wav.encodeAdpcm(pcm, 16000, 1)
        case 5 => s"opaque text payload $i".getBytes("UTF-8")
        case 6 => Gif.encode(8, 8, px) // 64 random colors <= 256
        case 7 => Flac.encode(pcm, 16000, 1)
        case 8 => Mp4.encode(505, frameSize = 2)
      }
      val kind = if (i % 9 == 3 || i % 9 == 4 || i % 9 == 7) "audio"
        else if (i % 9 == 5 || i % 9 == 8) "video" else "image"
      Row(i.toLong, kind, payload, Row(8, 8, 16000, 505))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts), Multimodal.mediaSchema)
  }

  test("decode/featurize is map-only: zero Exchange in the plan") {
    val feats = Multimodal.extractFeatures(mixedMedia(60, 4))
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"feature extraction must not shuffle payload bytes:\n$plan")
    val resized = Multimodal.resizePayloads(mixedMedia(60, 4), 4, 4)
    val rp = resized.queryExecution.executedPlan.toString
    assert(!rp.contains("Exchange"), s"resize must not shuffle:\n$rp")
    val sampled = Multimodal.samplePcmFrames(mixedMedia(60, 4), 5)
    val sp = sampled.queryExecution.executedPlan.toString
    assert(!sp.contains("Exchange"), s"frame-sample must not shuffle:\n$sp")
  }

  test("features are partition-count invariant across all eight codecs") {
    def run(parts: Int) = Multimodal.extractFeatures(mixedMedia(120, parts))
      .collect().map(_.toString).sorted.toSeq
    val a = run(2)
    assert(a == run(8) && a.size == 120)
  }

  test("every asset decodes by ITS codec; corrupt assets degrade") {
    val feats = Multimodal.extractFeatures(mixedMedia(60, 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    (0 until 60).foreach { i =>
      val rnd = new scala.util.Random(i)
      val px = Array.fill(8 * 8)(rnd.nextInt(1 << 24))
      i % 9 match {
        case 0 | 1 | 6 => // BMP/PNG/GIF are lossless: exact features
          assert(feats(i.toLong) ==
            Multimodal.imageFeatures(Bmp.Image(8, 8, px)).toSeq, s"row $i")
        case 2 => // JPEG is lossy: dims exact, channel means close
          val want = Multimodal.imageFeatures(Bmp.Image(8, 8, px))
          val got = feats(i.toLong)
          assert(got(0) == 8f && got(1) == 8f, s"row $i dims")
          (2 to 4).foreach(c => assert(math.abs(got(c) - want(c)) < 0.15,
            s"row $i channel $c: ${got(c)} vs ${want(c)}"))
        case 3 => // PCM: exact audio features, 505 frames
          assert(feats(i.toLong)(2) == 505f, s"row $i frames")
        case 4 => // ADPCM: decompressed to the same frame count
          assert(feats(i.toLong)(2) == 505f, s"row $i adpcm frames")
          assert(feats(i.toLong)(0) == 1f && feats(i.toLong)(1) == 16f)
        case 5 => // opaque: the byte-fold fallback
          val payload = s"opaque text payload $i".getBytes("UTF-8")
          assert(feats(i.toLong) ==
            Multimodal.opaqueFeatures(payload).toSeq, s"row $i")
        case 7 => // FLAC is lossless: same PCM as the WAV rows
          assert(feats(i.toLong)(2) == 505f, s"row $i flac frames")
          assert(feats(i.toLong)(0) == 1f && feats(i.toLong)(1) == 16f)
        case 8 => // MP4: container featurization, no payload decode
          val got = feats(i.toLong)
          assert(got(4) == 505f, s"row $i mp4 total_frames")
          assert(got(5) == 2f && got(6) == 64f && got(7) == 64f,
            s"row $i mp4 mean-bytes/geometry")
      }
    }
  }

  test("resize keeps each image in its container; audio passes through") {
    val out = Multimodal.resizePayloads(mixedMedia(24, 2), 4, 4)
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload"))
      .toMap
    (0 until 24).foreach { i =>
      val p = out(i.toLong)
      i % 9 match {
        case 0 => assert(Bmp.looksLike(p) && Bmp.decode(p).width == 4)
        case 1 => assert(Png.looksLike(p) && Png.decode(p).width == 4)
        case 2 => assert(Jpeg.looksLike(p) && Jpeg.decode(p).width == 4)
        case 3 | 4 => assert(Wav.looksLike(p)) // untouched
        case 5 => assert(new String(p, "UTF-8").startsWith("opaque"))
        case 6 => assert(Gif.looksLike(p) && Gif.decode(p).width == 4)
        case 7 => assert(Flac.looksLike(p)) // audio: untouched
        case 8 => assert(Mp4.looksLike(p)) // container: untouched
      }
    }
  }

  test("metadata consumers prune the payload synthesis away") {
    // mediaFromDocumentsCodec synthesizes payloads in a PROJECTION (a
    // binary UDF), not mapPartitions, precisely so a consumer that
    // only reads metadata never pays for codec work: sampleFrames'
    // plan must carry NO payload UDF (an opaque mapPartitions would
    // re-run every FLAC encode just to read meta.n_frames — measured
    // 15x on the graded pipeline), while the decode branch keeps it.
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val media = Multimodal.resizeMeta(
      Multimodal.mediaFromDocumentsCodec(docs), 224, 224)
    val fplan = Multimodal.sampleFrames(media, 7)
      .queryExecution.executedPlan.toString
    assert(!fplan.contains("UDF"),
      s"payload synthesis not pruned from the metadata branch:\n$fplan")
    val dplan = Multimodal.extractFeatures(media)
      .queryExecution.executedPlan.toString
    assert(dplan.contains("UDF"),
      "decode branch lost the payload synthesis entirely")
  }

  test("one corrupt asset never kills the partition around it") {
    val rows = Seq(
      Row(1L, "image", Png.encode(4, 4, Array.fill(16)(0x112233)),
        Row(4, 4, 0, 0)),
      // all four corrupt variants share the partition with valid rows
      Row(2L, "image", Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10,
        26, 10, 9, 9), Row(0, 0, 0, 0)),
      Row(3L, "image", Array[Byte](0xff.toByte, 0xd8.toByte,
        0xff.toByte, 0xc0.toByte, 0, 2), Row(0, 0, 0, 0)),
      Row(4L, "audio", "RIFFxxxxWAVEbroken".getBytes("US-ASCII"),
        Row(0, 0, 0, 0)),
      Row(5L, "image", Jpeg.encode(4, 4, Array.fill(16)(0x445566)),
        Row(4, 4, 0, 0)))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), Multimodal.mediaSchema)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 5) // nothing threw, nothing dropped
    val byId = feats.map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    assert(byId(1L)(0) == 4f) // real decode
    assert(byId(5L)(0) == 4f)
    // corrupt rows took the fallback (first feature is a byte-fold
    // accumulation, not a width)
    assert(byId(2L) == Multimodal.opaqueFeatures(
      rows(1).getAs[Array[Byte]](2)).toSeq)
  }
}
