package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.multimodal.Multimodal.{MediaMeta, MediaRecord}

class MultimodalSpec extends AnyFunSuite with SparkSpec {

  test("mapPartitions decode: non-image payloads fall back to the synthetic metadata, schema is typed") {
    val s2 = spark
    import s2.implicits._
    val recs = (0L until 64L).map(i => MediaRecord(i, s"payload-$i".getBytes("UTF-8")))
    val ds = spark.createDataset(recs).repartition(8)
    val out = Multimodal.extractMeta(ds).collect().sortBy(_.doc_id)
    assert(out.length == 64)
    out.foreach { m =>
      val want = Multimodal.syntheticMeta(s"payload-${m.doc_id}".getBytes("UTF-8")).copy(doc_id = m.doc_id)
      assert(m == want)
      assert(m.width >= 64 && m.width < 1088 && m.height >= 64 && m.height < 1088)
      assert(Set("jpeg", "png", "webp").contains(m.format))
      assert(m.phash.length == 16)
    }
    // typed schema survives the partition hop
    assert(Multimodal.extractMeta(ds).schema.fieldNames.toSeq ==
      Seq("doc_id", "n_bytes", "width", "height", "format", "phash"))
  }

  test("decode is deterministic across partitionings") {
    val s2 = spark
    import s2.implicits._
    val recs = (0L until 32L).map(i => MediaRecord(i, s"xx-$i".getBytes("UTF-8")))
    val a = Multimodal.extractMeta(spark.createDataset(recs).repartition(2)).collect().sortBy(_.doc_id).toSeq
    val b = Multimodal.extractMeta(spark.createDataset(recs).repartition(11)).collect().sortBy(_.doc_id).toSeq
    assert(a == b)
  }

  test("container parsers recover forged-header metadata byte-exactly") {
    val png = MediaParsers.parse(MediaParsers.makePng(37, 21)).get
    assert(png.format == "png" && png.width == 37 && png.height == 21)
    val jpg = MediaParsers.parse(MediaParsers.makeJpegHeader(640, 480)).get
    assert(jpg.format == "jpeg" && jpg.width == 640 && jpg.height == 480)
    val gif = MediaParsers.parse(MediaParsers.makeGif(13, 7)).get
    assert(gif.format == "gif" && gif.width == 13 && gif.height == 7)
    val wav = MediaParsers.parse(MediaParsers.makeWav(2, 16000, 48000L)).get
    assert(wav.format == "wav" && wav.channels == 2 && wav.sampleRate == 16000 && wav.nSamples == 48000L)
    // java's own decoder agrees with our PNG forging + parsing
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(MediaParsers.makePng(37, 21)))
    assert(img != null && img.getWidth == 37 && img.getHeight == 21)
    // garbage is rejected, not misparsed
    assert(MediaParsers.parse("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("extractContainerMeta: real parse with stub fallback flag") {
    val mixed = Multimodal.mediaFixture(spark, 40)
    val metas = Multimodal.extractContainerMeta(mixed).collect()
    assert(metas.length == 40)
    assert(metas.forall(_.parsed), "every fixture payload is a known container")
    assert(metas.map(_.format).toSet == Set("png", "jpeg", "gif", "wav"))
    // unknown payloads flow through the stub, flagged
    val s2 = spark
    import s2.implicits._
    val unk = spark.createDataset(Seq(MediaRecord(999L, "???".getBytes("UTF-8"))))
    val m = Multimodal.extractContainerMeta(unk).collect().head
    assert(!m.parsed && m.doc_id == 999L)
  }

  test("real pixel decode: PNG/BMP/GIF round-trip identical pixels; pHash survives re-encode + brightness") {
    val base = Multimodal.patternPixels(3L, 64, 64)
    for (f <- Seq("png", "bmp", "gif")) {
      val im = Multimodal.decodePixels(Multimodal.encodeGray(64, 64, base, f)).get
      assert(im.width == 64 && im.height == 64)
      assert(im.px.toSeq == base.toSeq, s"$f re-encode must be pixel-lossless")
    }
    val pa = ImageHash.pHash64(base, 64, 64)
    val aa = ImageHash.aHash64(base, 64, 64)
    // uniform brightness: only the DC coefficient moves → pHash stable;
    // aHash thresholds against the (equally shifted) mean → also stable
    val bright = Multimodal.decodePixels(Multimodal.encodeGray(64, 64, base.map(_ + 10), "png")).get
    assert(java.lang.Long.bitCount(pa ^ ImageHash.pHash64(bright.px, 64, 64)) <= 3)
    assert(java.lang.Long.bitCount(aa ^ ImageHash.aHash64(bright.px, 64, 64)) <= 3)
    // a different pattern is far away
    val other = Multimodal.patternPixels(4L, 64, 64)
    assert(java.lang.Long.bitCount(pa ^ ImageHash.pHash64(other, 64, 64)) > 10)
    assert(java.lang.Long.bitCount(aa ^ ImageHash.aHash64(other, 64, 64)) > 10)
    // extractMeta reports REAL dimensions + pixel pHash for decodable payloads
    val s2 = spark
    import s2.implicits._
    val rec = spark.createDataset(Seq(MediaRecord(5L, Multimodal.encodeGray(64, 64, base, "png"))))
    val m = Multimodal.extractMeta(rec).collect().head
    assert(m.width == 64 && m.height == 64 && m.format == "png")
    assert(m.phash == f"$pa%016x")
  }

  test("pixel decode edges: tiny and non-square rasters hash; non-images decode to None") {
    // 1×1 and non-square images exercise the resampler's overlap path
    // (source smaller than the 8×8 / 32×32 grids)
    for ((w, h) <- Seq((1, 1), (3, 5), (40, 9))) {
      val px = Multimodal.patternPixels(11L, w, h)
      val im = Multimodal.decodePixels(Multimodal.encodeGray(w, h, px, "png")).get
      assert(im.width == w && im.height == h && im.px.toSeq == px.toSeq)
      // both hashes must be computable and deterministic
      assert(ImageHash.pHash64(im.px, w, h) == ImageHash.pHash64(px, w, h))
      assert(ImageHash.aHash64(im.px, w, h) == ImageHash.aHash64(px, w, h))
    }
    // a WAV container and raw text are not decodable images
    assert(Multimodal.decodePixels(MediaParsers.makeWav(1, 8000, 100L)).isEmpty)
    assert(Multimodal.decodePixels("plain text".getBytes("UTF-8")).isEmpty)
  }

  test("audio windows derive from the real WAV header math") {
    val s2 = spark
    import s2.implicits._
    // 48000 samples at 16 kHz = 3.0 s → 12 windows of 0.25 s
    val rec = spark.createDataset(Seq(MediaRecord(1L, MediaParsers.makeWav(1, 16000, 48000L))))
    val w = Multimodal.audioWindows(rec, 0.25).collect().sortBy(_.window_idx)
    assert(w.length == 12)
    assert(w.map(_.n_samples).sum == 48000L)
    assert(w.head.start_sample == 0L && w.last.start_sample == 44000L)
    // frame sampling: every 3rd 1 KiB frame of an 8 KiB payload
    val frames = Multimodal.sampleFrames(
      spark.createDataset(Seq(MediaRecord(2L, new Array[Byte](8192)))), 1024, 3).collect()
    assert(frames.map(_.frame_idx).toSeq.sorted == Seq(0, 3, 6))
    assert(frames.forall(f => f.byte_offset == f.frame_idx.toLong * 1024))
  }
}
