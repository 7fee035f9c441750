package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Multimodal._

class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  // format "raw" routes to StubCodec — these fixtures exercise the operator
  // plumbing (determinism, schema, filtering); real-decode tests below use
  // genuine PNG/WAV bytes and the JDK codec path
  private def img(id: Long, payload: String, w: Int = 64, h: Int = 48) =
    MediaRow(id, "image", payload.getBytes("UTF-8"), w, h, 0, 0, 0, "raw")
  private def aud(id: Long, payload: String, sr: Int, n: Int) =
    MediaRow(id, "audio", payload.getBytes("UTF-8"), 0, 0, sr, n, 0, "raw")
  private def vid(id: Long, payload: String, frames: Int) =
    MediaRow(id, "video", payload.getBytes("UTF-8"), 320, 240, 0, 0, frames, "mp4")

  private lazy val media = Seq(
    img(1, "image-one"), img(2, "image-two"),
    aud(3, "audio-one", sr = 16000, n = 48000),
    vid(4, "video-one", frames = 10)).toDS()

  test("image features: deterministic per input, schema typed, images only") {
    val f1 = imageFeatures(media).collect().sortBy(_.media_id)
    val f2 = imageFeatures(media).collect().sortBy(_.media_id)
    assert(f1.map(_.media_id).toSeq === Seq(1L, 2L))
    assert(f1.zip(f2).forall { case (a, b) => a == b }) // stub is deterministic
    assert(f1(0).mean_intensity !== f1(1).mean_intensity) // input-sensitive
    assert(f1.forall(f => f.mean_intensity >= 0 && f.mean_intensity < 256))
  }

  test("audio features: duration comes from typed metadata") {
    val f = audioFeatures(media).collect()
    assert(f.length === 1)
    assert(f.head.duration_s === 3.0) // 48000 samples / 16000 Hz
  }

  test("resize updates bytes and metadata together") {
    val r = resizeImages(media, 32, 32).collect().sortBy(_.media_id)
    assert(r.forall(m => m.width == 32 && m.height == 32))
    assert(r.forall(_.bytes.length === 32 * 32 / 64))
    // deterministic: same input, same resized bytes
    val r2 = resizeImages(media, 32, 32).collect().sortBy(_.media_id)
    assert(r.zip(r2).forall { case (a, b) => a.bytes.sameElements(b.bytes) })
  }

  test("frame sampling emits only sampled frames with carried dimensions") {
    val frames = sampleFrames(media, stride = 3).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 3, 6, 9)) // 10 frames, stride 3
    assert(frames.forall(f => f.media_id == 4L && f.width == 320 && f.height == 240))
    // distinct frames decode to distinct bytes
    assert(frames.map(_.frame_bytes.toSeq).distinct.length === 4)
  }

  test("corpus stats aggregate features, not bytes") {
    val stats = imageCorpusStats(imageFeatures(media)).head()
    assert(stats.getAs[Long]("n_images") === 2L)
    assert(stats.getAs[Int]("max_width") === 64)
  }

  // --- real JDK-codec decode -------------------------------------------------

  private def pngBytes(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def wavBytes(samples: Array[Short], sr: Float): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2) // 16-bit little-endian mono
    samples.zipWithIndex.foreach { case (s, i) =>
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("real PNG decode: uniform gray image has exact mean, zero std/edge") {
    val bytes = pngBytes(8, 8)((_, _) => 0x787878) // RGB(120,120,120)
    val rows = Seq(MediaRow(10L, "image", bytes, 8, 8, 0, 0, 0, "png")).toDS()
    val f = imageFeatures(rows).head()
    assert(math.abs(f.mean_intensity - 120.0) < 1e-6)
    assert(math.abs(f.intensity_std) < 1e-6)
    assert(math.abs(f.edge_score) < 1e-9)
  }

  test("real PNG decode: half-black/half-white image — known mean, std, edge") {
    // left 4 columns black, right 4 white: mean 127.5, std 127.5; the only
    // nonzero gradients are the 8 horizontal boundary pairs out of
    // 8*7 + 7*8 = 112 neighbor pairs, each |255| => edge = 8/112
    val bytes = pngBytes(8, 8)((x, _) => if (x < 4) 0x000000 else 0xffffff)
    val rows = Seq(MediaRow(11L, "image", bytes, 8, 8, 0, 0, 0, "png")).toDS()
    val f = imageFeatures(rows).head()
    assert(math.abs(f.mean_intensity - 127.5) < 1e-6)
    assert(math.abs(f.intensity_std - 127.5) < 1e-6)
    assert(math.abs(f.edge_score - 8.0 / 112.0) < 1e-9)
  }

  test("real PNG decode: reported dimensions are the decoded pixel truth") {
    val bytes = pngBytes(8, 6)((_, _) => 0x406080)
    // metadata CLAIMS 64x48; the decoder reports what the pixels say
    val rows = Seq(MediaRow(12L, "image", bytes, 64, 48, 0, 0, 0, "png")).toDS()
    val f = imageFeatures(rows).head()
    assert(f.width === 8 && f.height === 6)
  }

  test("real PNG resize: output decodes to the target dimensions") {
    val bytes = pngBytes(8, 8)((x, y) => (x * 32) << 16 | (y * 32) << 8)
    val rows = Seq(MediaRow(13L, "image", bytes, 8, 8, 0, 0, 0, "png")).toDS()
    val r = resizeImages(rows, 4, 4).head()
    assert(r.width === 4 && r.height === 4 && r.format === "png")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.bytes))
    assert(back.getWidth === 4 && back.getHeight === 4)
  }

  test("real WAV decode: square wave has RMS 0.5 and zero-crossing rate 1") {
    val sq = Array.tabulate[Short](8000)(i =>
      if (i % 2 == 0) 16384.toShort else (-16384).toShort)
    val rows = Seq(MediaRow(14L, "audio", wavBytes(sq, 16000f),
      0, 0, 16000, 8000, 0, "wav")).toDS()
    val f = audioFeatures(rows).head()
    assert(math.abs(f.rms - 0.5) < 1e-12) // 16384/32768 exactly
    assert(f.zero_crossing_rate === 1.0) // every step flips sign
    assert(f.duration_s === 0.5) // metadata: 8000 samples / 16000 Hz
  }

  test("real WAV decode: DC signal has known RMS and zero crossings") {
    val dc = Array.fill[Short](1000)(1024)
    val rows = Seq(MediaRow(15L, "audio", wavBytes(dc, 8000f),
      0, 0, 8000, 1000, 0, "wav")).toDS()
    val f = audioFeatures(rows).head()
    assert(math.abs(f.rms - 1024.0 / 32768.0) < 1e-12)
    assert(f.zero_crossing_rate === 0.0)
  }

  test("media round-trips through parquet with binary column intact") {
    val dir = graft.store.LocalFs.scratchDir("graft-media").toString
    media.toDF().write.mode("overwrite").parquet(s"$dir/media.parquet")
    val back = spark.read.parquet(s"$dir/media.parquet").as[MediaRow]
      .collect().sortBy(_.media_id)
    assert(back.length === 4)
    assert(back.head.bytes.sameElements("image-one".getBytes("UTF-8")))
    // parquet read-back relaxes nullability; compare names and types
    assert(spark.read.parquet(s"$dir/media.parquet").schema
      .map(f => (f.name, f.dataType)) ===
      Multimodal.mediaSchema.map(f => (f.name, f.dataType)))
  }

  test("q75 golden query matches its closed-form oracle values in-suite") {
    // the driver's hash gate (CORRECTNESS q75 row) is the primary signal;
    // this pins the same 23 (item, metric, value) rows inside sbt test so
    // a decode regression fails locally too, before any driver run
    val got = MultimodalQueries.q75MultimodalDecode(spark, "")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(got.length === 23)
    val m = got.map { case (i, k, v) => (i, k) -> v }.toMap
    assert(m(("img_gray", "mean_intensity")) === 128.0)
    assert(m(("img_gray", "intensity_std")) === 0.0)
    assert(m(("img_grad", "mean_intensity")) === 112.0)
    assert(m(("img_grad", "intensity_std")) === 73.3212) // √5376 to 4dp
    assert(m(("img_grad", "edge_score")) === 0.0627)     // 16/255 to 4dp
    assert(m(("audio_square", "rms")) === 0.5)
    assert(m(("audio_square", "zcr")) === 1.0)
    assert(m(("audio_dc", "rms")) === 0.25)
    assert(m(("video_stub", "frame_count")) === 3.0)
    assert(m(("img_gray", "resized_mean")) === 128.0) // constant survives resample
  }

  test("dHash: closed forms, cross-resolution invariance, single-bit flips") {
    def gray(v: Int) = (v << 16) | (v << 8) | v
    // solid: no strict increase anywhere -> all-zero hash
    assert(JdkCodec.dHash64(pngBytes(8, 8)((_, _) => gray(128))) === 0L)
    // strictly increasing columns -> all 64 bits, at ANY resolution (the
    // perceptual-hash property: same content, different size, same hash)
    val ramp9x8 = JdkCodec.dHash64(pngBytes(9, 8)((x, _) => gray(28 * x)))
    val ramp18x16 = JdkCodec.dHash64(pngBytes(18, 16)((x, _) => gray(14 * x)))
    val ramp64x64 = JdkCodec.dHash64(pngBytes(64, 64)((x, _) => gray(3 * x)))
    assert(ramp9x8 === -1L)
    assert(ramp18x16 === ramp9x8)
    assert(ramp64x64 === ramp9x8)
    // reversing one comparison flips exactly that bit
    val flip = JdkCodec.dHash64(pngBytes(9, 8) { (x, y) =>
      if (y == 0 && x == 0) gray(56)
      else if (y == 0 && x == 1) gray(28)
      else gray(28 * x)
    })
    assert(java.lang.Long.bitCount(flip ^ ramp9x8) === 1)
    assert((flip ^ ramp9x8) === (1L << 63), "bit (0,0) packs MSB-first")
    // stub hash is deterministic and format-gated
    val b = Array[Byte](1, 2, 3)
    assert(StubCodec.dHash64(b) === StubCodec.dHash64(Array[Byte](1, 2, 3)))
    val rows = Seq(
      MediaRow(1L, "image", pngBytes(9, 8)((x, _) => gray(28 * x)),
        9, 8, 0, 0, 0, "png"),
      MediaRow(2L, "image", b, 8, 8, 0, 0, 0, "webp")).toDS()
    val hs = dHashes(rows).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) === -1L)
    assert(hs(2L) === StubCodec.dHash64(b))
  }

  test("audio fingerprint: closed forms, length invariance, single-bit flips") {
    // constant envelope -> 0, at two different waveforms
    val square = wavBytes(
      Array.tabulate(800)(i => if (i % 2 == 0) 16384.toShort else (-16384).toShort), 8000f)
    val dc = wavBytes(Array.fill(800)(8192.toShort), 8000f)
    assert(JdkCodec.audioFingerprint64(square) === 0L)
    assert(JdkCodec.audioFingerprint64(dc) === 0L)
    // monotone envelope -> all-ones, at ANY sample count (65-frame grid)
    val ramp800 = JdkCodec.audioFingerprint64(
      wavBytes(Array.tabulate(800)(i => (40 * i).toShort), 8000f))
    val ramp1300 = JdkCodec.audioFingerprint64(
      wavBytes(Array.tabulate(1300)(i => (25 * i).toShort), 8000f))
    assert(ramp800 === -1L)
    assert(ramp1300 === -1L)
    // swapping the first two frames flips exactly bit 0 (MSB)
    val flipped = Array.tabulate(800)(i => (40 * i).toShort)
    for (i <- 0 until 12) { val t = flipped(i); flipped(i) = flipped(12 + i); flipped(12 + i) = t }
    val flipFp = JdkCodec.audioFingerprint64(wavBytes(flipped, 8000f))
    assert((flipFp ^ ramp800) === (1L << 63))
    // stub path: deterministic, format-gated through the dataset op
    val b = Array[Byte](9, 9, 9)
    val rows = Seq(
      MediaRow(1L, "audio", wavBytes(Array.fill(100)(8192.toShort), 8000f),
        0, 0, 8000, 100, 0, "wav"),
      MediaRow(2L, "audio", b, 0, 0, 8000, 100, 0, "ogg")).toDS()
    val fps = audioFingerprints(rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) === 0L)
    assert(fps(2L) === StubCodec.audioFingerprint64(b))
  }

  test("undecodable image bytes fail loudly, never silently zero") {
    val rows = Seq(MediaRow(99L, "image", Array[Byte](1, 2, 3),
      8, 8, 0, 0, 0, "png")).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      imageFeatures(rows).collect()
    }
    assert(e.getMessage.contains("undecodable") ||
      Option(e.getCause).exists(_.getMessage.contains("undecodable")))
  }

  test("frame features: one scalar per sampled frame, exact byte mean") {
    val frames = sampleFrames(media, stride = 3)
    val feats = frameFeatures(frames).collect()
      .map(r => (r.getInt(1), r.getDouble(2))).toMap
    val want = frames.collect().map { f =>
      f.frame_idx -> f.frame_bytes.map(_ & 0xff).map(_.toLong).sum.toDouble /
        f.frame_bytes.length
    }.toMap
    assert(feats === want)
  }

  test("scene cuts: keyed lag semantics, first frame never a cut") {
    // synthetic features, no codec involved: two videos, known deltas
    val feats = Seq(
      (1L, 0, 100.0), (1L, 10, 101.0), (1L, 20, 180.0), (1L, 30, 178.0),
      (2L, 0, 50.0), (2L, 5, 49.5))
      .toDF("media_id", "frame_idx", "mean_intensity")
    val got = sceneCuts(feats, threshold = 30.0).collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))).toMap
    assert(got((1L, 0)) === ((None, false)))          // no predecessor
    assert(got((1L, 10)) === ((Some(1.0), false)))    // below threshold
    assert(got((1L, 20)) === ((Some(79.0), true)))    // the cut
    assert(got((1L, 30)) === ((Some(-2.0), false)))
    assert(got((2L, 0)) === ((None, false)))          // per-media window
    assert(got((2L, 5)) === ((Some(-0.5), false)))
  }

  test("scene cuts end-to-end over the sampled-frame path are deterministic") {
    val cuts1 = sceneCuts(frameFeatures(sampleFrames(media, 2)), 10.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(3))).toSet
    val cuts2 = sceneCuts(frameFeatures(sampleFrames(media, 2)), 10.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(3))).toSet
    assert(cuts1 === cuts2)
    assert(cuts1.map(_._2) === Set(0, 2, 4, 6, 8)) // stride-2 over 10 frames
  }

  // ---- real video decode (animated GIF) ------------------------------------

  private def gifFixture: Array[Byte] = {
    val in = getClass.getResourceAsStream("/graft/multimodal/video_cut_16x12.gif")
    require(in != null, "missing committed GIF fixture")
    try in.readAllBytes() finally in.close()
  }

  test("real GIF decode: frame means are exactly the planted solid grays") {
    val frames = JdkCodec.gifLumaFrames(gifFixture, stride = 1)
    assert(frames.map(_._1) === FixtureGen.VideoCutGrays.indices.toSeq)
    assert(frames.forall { case (_, w, h, luma) =>
      w == FixtureGen.VideoCutW && h == FixtureGen.VideoCutH &&
        luma.length == w * h
    })
    val means = frames.map { case (_, _, _, luma) =>
      luma.map(_ & 0xff).sum.toDouble / luma.length
    }
    assert(means === FixtureGen.VideoCutGrays.map(_.toDouble))
  }

  test("real GIF stride-2: sampling happens in the decoder, cuts downstream") {
    val media = Seq(MediaRow(1L, "video", gifFixture,
      16, 12, 0, 0, 8, "gif")).toDS()
    val cuts = sceneCuts(frameFeatures(sampleFrames(media, stride = 2)), 60.0)
      .collect().map(r => (r.getInt(1), r.getBoolean(3))).sortBy(_._1)
    // frames 0/2/4/6, means 40/48/200/208 → deltas 8/152/8: frame-4 cut only
    assert(cuts === Seq((0, false), (2, false), (4, true), (6, false)))
  }

  test("GIF compositing honors frame offsets (partial frame over canvas)") {
    // frame 0: full 16x12 gray 100; frame 1: 8x6 patch of 200 at (4,3).
    // Composited frame-1 mean = (144*100 + 48*200)/192 = 125.0 exactly.
    val buf = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    def gray(w: Int, h: Int, v: Int) = {
      val ramp = Array.tabulate(256)(_.toByte)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED,
        new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp))
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    def write(img: java.awt.image.BufferedImage, x: Int, y: Int): Unit = {
      val md = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), writer.getDefaultWriteParam)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val desc = tree.getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      desc.setAttribute("imageLeftPosition", x.toString)
      desc.setAttribute("imageTopPosition", y.toString)
      md.setFromTree(fmt, tree)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), null)
    }
    write(gray(16, 12, 100), 0, 0)
    write(gray(8, 6, 200), 4, 3)
    writer.endWriteSequence(); ios.close(); writer.dispose()

    val frames = JdkCodec.gifLumaFrames(buf.toByteArray, stride = 1)
    assert(frames.size === 2)
    val means = frames.map { case (_, _, _, l) =>
      l.map(_ & 0xff).sum.toDouble / l.length
    }
    assert(means === Seq(100.0, 125.0))
    // canvas stays logical-screen sized even for the partial frame
    assert(frames.forall { case (_, w, h, _) => w == 16 && h == 12 })
  }

  test("GIF disposal: restoreToPrevious + restoreToBackgroundColor (declared bg)") {
    // 16x12, identity gray palette. Frame plan and closed-form means:
    //   f0 full 100, doNotDispose                     -> mean 100
    //   f1 8x6 of 200 at (4,3), restoreToPrevious     -> (144*100+48*200)/192 = 125
    //   f2 4x3 of 50 at (0,0), restoreToBackground    -> f1's rect was RESTORED
    //        to 100s first: (180*100+12*50)/192 = 96.875
    //   f3 2x2 of 10 at (10,10), none                 -> f2's rect filled with
    //        the DECLARED background (index 255 = white on the identity
    //        palette): (176*100+12*255+4*10)/192 = 107.8125
    val buf = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    def gray(w: Int, h: Int, v: Int) = {
      val ramp = Array.tabulate(256)(_.toByte)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED,
        new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp))
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      img
    }
    def write(img: java.awt.image.BufferedImage, x: Int, y: Int,
        disposal: String): Unit = {
      val md = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), writer.getDefaultWriteParam)
      val fmt = "javax_imageio_gif_image_1.0"
      val tree = md.getAsTree(fmt).asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val desc = tree.getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      desc.setAttribute("imageLeftPosition", x.toString)
      desc.setAttribute("imageTopPosition", y.toString)
      // the JDK writer's interlaced encoding corrupts rows of 2-3-row
      // frames on round-trip (observed: middle row decodes as palette 0);
      // the fixture must test disposal, not that writer bug
      desc.setAttribute("interlaceFlag", "FALSE")
      val gce = tree.getElementsByTagName("GraphicControlExtension").item(0)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      gce.setAttribute("disposalMethod", disposal)
      md.setFromTree(fmt, tree)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), null)
    }
    write(gray(16, 12, 100), 0, 0, "doNotDispose")
    write(gray(8, 6, 200), 4, 3, "restoreToPrevious")
    write(gray(4, 3, 50), 0, 0, "restoreToBackgroundColor")
    write(gray(2, 2, 10), 10, 10, "none")
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val bytes = buf.toByteArray
    // declare background color index 255 (white): GIF logical screen
    // descriptor byte 11 is backgroundColorIndex; bit 7 of byte 10 says a
    // global color table follows (the identity palette)
    assert((bytes(10) & 0x80) != 0, "writer wrote no global color table")
    bytes(11) = -1 // 0xff
    val frames = JdkCodec.gifLumaFrames(bytes, stride = 1)
    val means = frames.map { case (_, _, _, l) =>
      l.map(_ & 0xff).sum.toDouble / l.length
    }
    assert(means === Seq(100.0, 125.0, 96.875, 107.8125))
  }

  test("q89 golden query matches its closed-form oracle values in-suite") {
    val got = MultimodalQueries.q89VideoSceneCuts(spark, "unused")
      .collect().map(r => (r.getLong(0),
        r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        r.getBoolean(3))).toList
    assert(got === List(
      (0L, 40.0, null, false), (1L, 44.0, 4.0, false),
      (2L, 48.0, 4.0, false), (3L, 52.0, 4.0, false),
      (4L, 200.0, 148.0, true), (5L, 204.0, 4.0, false),
      (6L, 208.0, 4.0, false), (7L, 100.0, -108.0, true)))
  }
}
