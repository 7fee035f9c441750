package graft.multimodal

import graft.Q
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Real ISO-BMFF (MP4) container demux — the container half of the video
  * seam, in pure JVM code.
  *
  * The reference records videos of bot sessions (Playwright recording,
  * `src/scripts/playwright_debug_helper.py:8`) and treats them as opaque
  * assets; a corpus pipeline over such recordings needs, before any codec
  * ever runs: container metadata (tracks, codecs, durations, resolutions),
  * the sample tables (frame count, per-frame timestamps and byte sizes),
  * and byte-range frame extraction for sampling. ALL of that is container
  * structure, not codec work — so this module implements it for real:
  *
  *   - a box walker over the ISO base-media format (ISO/IEC 14496-12
  *     box/fullbox grammar, public spec): ftyp/moov/mvhd/trak/tkhd/mdia/
  *     mdhd/hdlr/stbl, 32-bit and 64-bit box sizes;
  *   - sample-table resolution: stts (decoding timestamps) × stsz (sizes,
  *     uniform and per-sample) × stsc (sample→chunk runs) × stco/co64
  *     (chunk offsets) → per-sample (dts, size, absolute file offset) —
  *     the same expansion every demuxer (ffmpeg's mov.c, mp4box) performs;
  *   - byte-range sample extraction from mdat via those offsets — frame
  *     SELECTION at stride without touching a decoder.
  *
  * What stays behind the seam is only the codec payload decode (avc1/vp9
  * bit-streams need an external codec; `Multimodal` scaladoc). The q91
  * gate runs demux → stride-sample → byte-range stats over a committed
  * fixture whose oracle is a closed-form VALUES table: every dts, size,
  * offset-derived payload mean is an analytic function of the fixture
  * constants below, so a regression anywhere in the box walk, the table
  * expansion, or the byte-range math trips the driver's hash gate.
  *
  * Scale shape: demux is a narrow per-row stage (binary column in,
  * ~40-byte sample rows out) inside `mapPartitions` — the media BYTES
  * never shuffle; only the sample relation does. That is the same
  * contract as `Multimodal.imageFeatures` (plan-audited there), and at
  * 100 TB of recordings it means the big column stays columnar-pruned at
  * the scan and local to its partition.
  */
object Mp4Demux {

  // ---------------------------------------------------------------------
  // Fixture constants (closed-form; the q91 oracle below is derived from
  // these by hand, NOT captured from the code under test).
  // ---------------------------------------------------------------------
  /** Video: 10 samples, size 100+8i bytes, every byte (40+13i) — so the
    * payload mean of sample i is exactly 40+13i. mdhd timescale 1000,
    * stts delta 40 → dts_ms = 40·i. Chunked 6+4 so stsc carries TWO runs.
    */
  val VidN = 10
  def vidSize(i: Int): Int = 100 + 8 * i
  def vidFill(i: Int): Byte = (40 + 13 * i).toByte
  val VidDelta = 40L // units @ timescale 1000
  val VidChunk1 = 6 // samples in video chunk 1; chunk 2 holds the rest

  /** Audio: 5 samples, 64 bytes each (uniform stsz branch), every byte
    * 3+7i → mean 3+7i. mdhd timescale 8000, stts delta 1600 → dts_ms =
    * 200·i; track duration 8000 units = 1000 ms (the movie duration).
    */
  val AudN = 5
  val AudSize = 64
  def audFill(i: Int): Byte = (3 + 7 * i).toByte
  val AudDelta = 1600L // units @ timescale 8000

  // ---------------------------------------------------------------------
  // Minimal muxer (fixture generation + spec round-trip source). Writes a
  // spec-conformant single-moov file: ftyp, mdat (before moov, so chunk
  // offsets are independent of moov's size), moov{mvhd, trak{tkhd,
  // mdia{mdhd, hdlr, minf{vmhd|smhd, dinf{dref{url }}, stbl{stsd, stts,
  // stsc, stsz, stco}}}}.
  // ---------------------------------------------------------------------
  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Long): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def fourcc(s: String): Array[Byte] = {
    require(s.length == 4); s.getBytes("US-ASCII")
  }
  private def cat(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }
  private def box(typ: String, parts: Array[Byte]*): Array[Byte] = {
    val payload = cat(parts: _*)
    cat(be32(payload.length + 8L), fourcc(typ), payload)
  }
  private def fullBox(typ: String, version: Int, flags: Int,
      parts: Array[Byte]*): Array[Byte] =
    box(typ, cat(Array(version.toByte), // 24-bit flags
      Array((flags >> 16).toByte, (flags >> 8).toByte, flags.toByte),
      cat(parts: _*)))

  private val IdentityMatrix: Array[Byte] = cat(
    be32(0x00010000L), be32(0), be32(0),
    be32(0), be32(0x00010000L), be32(0),
    be32(0), be32(0), be32(0x40000000L))

  private def tkhd(trackId: Int, durationMvUnits: Long, width: Int,
      height: Int, volume: Int): Array[Byte] =
    fullBox("tkhd", 0, 7, // enabled | in-movie | in-preview
      be32(0), be32(0), // creation/modification time
      be32(trackId.toLong), be32(0), be32(durationMvUnits),
      be32(0), be32(0), // reserved
      be16(0), be16(0), // layer, alternate_group
      be16(volume), be16(0),
      IdentityMatrix,
      be32(width.toLong << 16), be32(height.toLong << 16))

  private def mdhd(timescale: Long, duration: Long): Array[Byte] =
    fullBox("mdhd", 0, 0, be32(0), be32(0), be32(timescale), be32(duration),
      be16(0x55c4), be16(0)) // language "und", pre_defined

  private def hdlr(handler: String): Array[Byte] =
    fullBox("hdlr", 0, 0, be32(0), fourcc(handler),
      be32(0), be32(0), be32(0), Array(0.toByte)) // empty NUL name

  private val dinf: Array[Byte] =
    box("dinf", fullBox("dref", 0, 0, be32(1),
      fullBox("url ", 0, 1))) // flags=1: data in this file

  /** Minimal VisualSampleEntry (86 bytes) — fourcc + dimensions; no codec
    * config box on purpose (a DECODER needs avcC/vpcC; a demuxer does
    * not, and this module is the demuxer).
    */
  private def visualSampleEntry(codec: String, w: Int, h: Int): Array[Byte] =
    box(codec, cat(Array.fill[Byte](6)(0), be16(1), // data_reference_index
      Array.fill[Byte](16)(0), // pre_defined/reserved
      be16(w), be16(h),
      be32(0x00480000L), be32(0x00480000L), // 72 dpi
      be32(0), be16(1), // reserved, frame_count
      Array.fill[Byte](32)(0), // compressorname
      be16(24), be16(0xffff))) // depth, pre_defined

  /** Minimal AudioSampleEntry (36 bytes). */
  private def audioSampleEntry(codec: String, rate: Int): Array[Byte] =
    box(codec, cat(Array.fill[Byte](6)(0), be16(1),
      be32(0), be32(0), // reserved
      be16(1), be16(16), // channels, samplesize
      be32(0), be32(rate.toLong << 16)))

  private def stts(runs: Seq[(Long, Long)]): Array[Byte] =
    fullBox("stts", 0, 0, be32(runs.length.toLong),
      cat(runs.map(r => cat(be32(r._1), be32(r._2))): _*))
  private def stsc(runs: Seq[(Long, Long)]): Array[Byte] =
    fullBox("stsc", 0, 0, be32(runs.length.toLong),
      cat(runs.map(r => cat(be32(r._1), be32(r._2), be32(1))): _*))
  private def stszPerSample(sizes: Seq[Int]): Array[Byte] =
    fullBox("stsz", 0, 0, be32(0), be32(sizes.length.toLong),
      cat(sizes.map(s => be32(s.toLong)): _*))
  private def stszUniform(size: Int, n: Int): Array[Byte] =
    fullBox("stsz", 0, 0, be32(size.toLong), be32(n.toLong))
  private def stco(offsets: Seq[Long]): Array[Byte] =
    fullBox("stco", 0, 0, be32(offsets.length.toLong),
      cat(offsets.map(be32): _*))

  /** The committed fixture: 64×48 "avc1" video track (id 1) + "mp4a"
    * audio track (id 2), chunk-interleaved [vid 0..5][aud 0..4][vid 6..9].
    */
  def demoFixture(): Array[Byte] = {
    val ftyp = box("ftyp", fourcc("isom"), be32(512),
      fourcc("isom"), fourcc("iso2"), fourcc("mp41"))
    val vidChunk1 = cat((0 until VidChunk1).map(i =>
      Array.fill[Byte](vidSize(i))(vidFill(i))): _*)
    val audChunk = cat((0 until AudN).map(i =>
      Array.fill[Byte](AudSize)(audFill(i))): _*)
    val vidChunk2 = cat((VidChunk1 until VidN).map(i =>
      Array.fill[Byte](vidSize(i))(vidFill(i))): _*)
    val mdatPayload = cat(vidChunk1, audChunk, vidChunk2)
    val offV1 = ftyp.length + 8L
    val offA1 = offV1 + vidChunk1.length
    val offV2 = offA1 + audChunk.length
    val mdat = box("mdat", mdatPayload)

    val vidStbl = box("stbl",
      fullBox("stsd", 0, 0, be32(1), visualSampleEntry("avc1", 64, 48)),
      stts(Seq(VidN.toLong -> VidDelta)),
      stsc(Seq(1L -> VidChunk1.toLong, 2L -> (VidN - VidChunk1).toLong)),
      stszPerSample((0 until VidN).map(vidSize)),
      stco(Seq(offV1, offV2)))
    val vidTrak = box("trak",
      tkhd(1, VidN * VidDelta, 64, 48, 0),
      box("mdia", mdhd(1000, VidN * VidDelta), hdlr("vide"),
        box("minf", fullBox("vmhd", 0, 1, be16(0), be16(0), be16(0), be16(0)),
          dinf, vidStbl)))

    val audStbl = box("stbl",
      fullBox("stsd", 0, 0, be32(1), audioSampleEntry("mp4a", 8000)),
      stts(Seq(AudN.toLong -> AudDelta)),
      stsc(Seq(1L -> AudN.toLong)),
      stszUniform(AudSize, AudN),
      stco(Seq(offA1)))
    val audTrak = box("trak",
      tkhd(2, 1000L, 0, 0, 0x0100), // 8000 units @ 8 kHz = 1000 mv units
      box("mdia", mdhd(8000, AudN * AudDelta), hdlr("soun"),
        box("minf", fullBox("smhd", 0, 0, be16(0), be16(0)),
          dinf, audStbl)))

    val mvhd = fullBox("mvhd", 0, 0, be32(0), be32(0),
      be32(1000), be32(1000), // movie timescale, duration = max(tracks)
      be32(0x00010000L), be16(0x0100), // rate, volume
      be16(0), be32(0), be32(0), // reserved
      IdentityMatrix, Array.fill[Byte](24)(0), // pre_defined
      be32(3)) // next_track_ID
    cat(ftyp, mdat, box("moov", mvhd, vidTrak, audTrak))
  }

  // ---------------------------------------------------------------------
  // Parser. Independent of the muxer above (reads only via the generic
  // box walk), so the fixture round-trip is a genuine two-sided check.
  // ---------------------------------------------------------------------
  final case class Track(trackId: Int, handler: String, codec: String,
      timescale: Long, durationUnits: Long, width: Int, height: Int,
      nSamples: Int)
  final case class Sample(trackId: Int, idx: Int, dtsUnits: Long,
      size: Int, offset: Long)
  final case class Info(majorBrand: String, movieTimescale: Long,
      movieDurationUnits: Long, tracks: Seq[Track])

  private def u16(b: Array[Byte], p: Int): Int =
    ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  private def u32(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
  private def u64(b: Array[Byte], p: Int): Long =
    (u32(b, p) << 32) | u32(b, p + 4)
  private def typ(b: Array[Byte], p: Int): String =
    new String(b, p, 4, "US-ASCII")

  /** (boxType, payloadStart, payloadEnd) for each box in [start, end). */
  private def boxes(b: Array[Byte], start: Long, end: Long)
      : Seq[(String, Long, Long)] = {
    val out = Seq.newBuilder[(String, Long, Long)]
    var p = start
    while (p + 8 <= end) {
      val size0 = u32(b, p.toInt)
      val t = typ(b, p.toInt + 4)
      val (payloadStart, boxEnd) =
        if (size0 == 1L) (p + 16, p + u64(b, p.toInt + 8))
        else if (size0 == 0L) (p + 8, end) // "to end of file"
        else (p + 8, p + size0)
      if (boxEnd > end || boxEnd <= p) return out.result() // corrupt: stop
      out += ((t, payloadStart, boxEnd))
      p = boxEnd
    }
    out.result()
  }
  private def child(b: Array[Byte], bs: Seq[(String, Long, Long)], t: String)
      : Option[(Long, Long)] =
    bs.find(_._1 == t).map(x => (x._2, x._3))

  def probe(b: Array[Byte]): Info = {
    val top = boxes(b, 0L, b.length.toLong)
    val brand = child(b, top, "ftyp")
      .map { case (s, _) => typ(b, s.toInt) }.getOrElse("")
    val (moovS, moovE) = child(b, top, "moov")
      .getOrElse(throw new IllegalArgumentException("no moov box"))
    val moov = boxes(b, moovS, moovE)
    val (mvTs, mvDur) = child(b, moov, "mvhd").map { case (s, _) =>
      val v = b(s.toInt) & 0xff
      if (v == 1) (u32(b, s.toInt + 20), u64(b, s.toInt + 24))
      else (u32(b, s.toInt + 12), u32(b, s.toInt + 16))
    }.getOrElse((0L, 0L))
    val tracks = moov.filter(_._1 == "trak").flatMap { case (_, ts, te) =>
      parseTrack(b, boxes(b, ts, te))
    }
    Info(brand, mvTs, mvDur, tracks)
  }

  private def stblOf(b: Array[Byte], trak: Seq[(String, Long, Long)])
      : Option[Seq[(String, Long, Long)]] =
    for {
      (mdS, mdE) <- child(b, trak, "mdia")
      mdia = boxes(b, mdS, mdE)
      (mfS, mfE) <- child(b, mdia, "minf")
      minf = boxes(b, mfS, mfE)
      (sbS, sbE) <- child(b, minf, "stbl")
    } yield boxes(b, sbS, sbE)

  private def parseTrack(b: Array[Byte], trak: Seq[(String, Long, Long)])
      : Option[Track] =
    for {
      (tkS, _) <- child(b, trak, "tkhd")
      (mdS, mdE) <- child(b, trak, "mdia")
      mdia = boxes(b, mdS, mdE)
      (mhS, _) <- child(b, mdia, "mdhd")
      (hdS, _) <- child(b, mdia, "hdlr")
      stbl <- stblOf(b, trak)
      (sdS, _) <- child(b, stbl, "stsd")
    } yield {
      val tkV = b(tkS.toInt) & 0xff
      val trackId =
        if (tkV == 1) u32(b, tkS.toInt + 20) else u32(b, tkS.toInt + 12)
      // width/height: last 8 payload bytes (16.16 fixed), same in v0/v1
      val tkEnd = trak.find(_._1 == "tkhd").get._3
      val w = u32(b, tkEnd.toInt - 8) >> 16
      val h = u32(b, tkEnd.toInt - 4) >> 16
      val mhV = b(mhS.toInt) & 0xff
      val (ts, dur) =
        if (mhV == 1) (u32(b, mhS.toInt + 20), u64(b, mhS.toInt + 24))
        else (u32(b, mhS.toInt + 12), u32(b, mhS.toInt + 16))
      val handler = typ(b, hdS.toInt + 8)
      val codec =
        if (u32(b, sdS.toInt + 4) >= 1) typ(b, sdS.toInt + 12) else ""
      val n = child(b, stbl, "stsz")
        .map { case (s, _) => u32(b, s.toInt + 8).toInt }.getOrElse(0)
      Track(trackId.toInt, handler, codec, ts, dur, w.toInt, h.toInt, n)
    }

  /** Expand the sample tables of every track into per-sample
    * (dts, size, absolute offset) — the demux core.
    */
  def samples(b: Array[Byte]): Seq[Sample] = {
    val top = boxes(b, 0L, b.length.toLong)
    val (moovS, moovE) = child(b, top, "moov")
      .getOrElse(throw new IllegalArgumentException("no moov box"))
    boxes(b, moovS, moovE).filter(_._1 == "trak").flatMap {
      case (_, ts, te) =>
        val trak = boxes(b, ts, te)
        val track = parseTrack(b, trak)
        val stbl = stblOf(b, trak)
        (track, stbl) match {
          case (Some(t), Some(sb)) => trackSamples(b, t.trackId, sb)
          case _ => Nil
        }
    }
  }

  private def trackSamples(b: Array[Byte], trackId: Int,
      stbl: Seq[(String, Long, Long)]): Seq[Sample] = {
    // stsz → sizes
    val sizes: IndexedSeq[Int] = child(b, stbl, "stsz").map { case (s, _) =>
      val uniform = u32(b, s.toInt + 4)
      val n = u32(b, s.toInt + 8).toInt
      if (uniform != 0L) IndexedSeq.fill(n)(uniform.toInt)
      else (0 until n).map(i => u32(b, s.toInt + 12 + 4 * i).toInt)
    }.getOrElse(IndexedSeq.empty)
    // stts → cumulative dts
    val dts: IndexedSeq[Long] = child(b, stbl, "stts").map { case (s, _) =>
      val n = u32(b, s.toInt + 4).toInt
      val out = IndexedSeq.newBuilder[Long]
      var t = 0L
      for (e <- 0 until n) {
        val count = u32(b, s.toInt + 8 + 8 * e)
        val delta = u32(b, s.toInt + 12 + 8 * e)
        var i = 0L
        while (i < count) { out += t; t += delta; i += 1 }
      }
      out.result()
    }.getOrElse(IndexedSeq.empty)
    // stco/co64 → chunk offsets
    val chunkOffs: IndexedSeq[Long] = child(b, stbl, "stco").map {
      case (s, _) =>
        val n = u32(b, s.toInt + 4).toInt
        (0 until n).map(i => u32(b, s.toInt + 8 + 4 * i))
    }.orElse(child(b, stbl, "co64").map { case (s, _) =>
      val n = u32(b, s.toInt + 4).toInt
      (0 until n).map(i => u64(b, s.toInt + 8 + 8 * i))
    }).getOrElse(IndexedSeq.empty)
    // stsc runs → samples-per-chunk for each chunk (run r applies from its
    // first_chunk until the next run's first_chunk)
    val stscRuns: IndexedSeq[(Int, Int)] = child(b, stbl, "stsc").map {
      case (s, _) =>
        val n = u32(b, s.toInt + 4).toInt
        (0 until n).map(e => (u32(b, s.toInt + 8 + 12 * e).toInt,
          u32(b, s.toInt + 12 + 12 * e).toInt))
    }.getOrElse(IndexedSeq.empty)

    val out = Seq.newBuilder[Sample]
    var sampleIdx = 0
    for (c <- chunkOffs.indices) {
      val chunkNo = c + 1
      val spc = stscRuns.reverseIterator
        .find(_._1 <= chunkNo).map(_._2).getOrElse(0)
      var off = chunkOffs(c)
      var k = 0
      while (k < spc && sampleIdx < sizes.length) {
        out += Sample(trackId, sampleIdx, dts.lift(sampleIdx).getOrElse(0L),
          sizes(sampleIdx), off)
        off += sizes(sampleIdx)
        sampleIdx += 1
        k += 1
      }
    }
    out.result()
  }

  // ---------------------------------------------------------------------
  // Spark plumbing + the q91 gate.
  // ---------------------------------------------------------------------
  final case class DemuxedSample(media_id: Long, track_id: Int,
      kind: String, codec: String, n_samples: Int, duration_ms: Long,
      sample_idx: Int, dts_ms: Long, size_bytes: Int, payload_mean: Double)

  /** Demux every mp4 in `media` (media_id, bytes) and emit one row per
    * stride-selected sample with its byte-range payload mean. Narrow
    * per-partition stage: the binary column never shuffles.
    */
  def demuxSamples(media: Dataset[(Long, Array[Byte])], videoStride: Int,
      audioStride: Int): Dataset[DemuxedSample] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        val info = probe(bytes)
        val byTrack = samples(bytes).groupBy(_.trackId)
        info.tracks.flatMap { t =>
          val stride = if (t.handler == "vide") videoStride else audioStride
          val kind = t.handler match {
            case "vide" => "video"
            case "soun" => "audio"
            case other => other
          }
          val durMs =
            if (t.timescale == 0) 0L else t.durationUnits * 1000L / t.timescale
          byTrack.getOrElse(t.trackId, Nil)
            .filter(_.idx % stride == 0).map { s =>
              var sum = 0L
              var i = 0
              while (i < s.size) {
                sum += (bytes((s.offset + i).toInt) & 0xff)
                i += 1
              }
              DemuxedSample(id, t.trackId, kind, t.codec, t.nSamples, durMs,
                s.idx, if (t.timescale == 0) 0L else s.dtsUnits * 1000L / t.timescale,
                s.size, if (s.size == 0) 0.0 else sum.toDouble / s.size)
            }
        }
      }
    }
  }

  /** q91 — container demux gate: committed two-track mp4 fixture through
    * the parquet store round-trip (q75's rationale), demuxed at video
    * stride 2 / audio stride 1; oracle is the closed-form VALUES table
    * derived from the fixture constants.
    */
  val q91Mp4Demux: Q = (s, _) => {
    import s.implicits._
    val bytes = {
      val in = getClass.getResourceAsStream("/graft/multimodal/video_demo_64x48.mp4")
      require(in != null, "missing classpath fixture video_demo_64x48.mp4")
      try in.readAllBytes() finally in.close()
    }
    val fixtures = s.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", bytes, 64, 48, 0, 0, VidN, "mp4")))
    val dir = graft.store.LocalFs.scratchDir("graft-q91-store")
    graft.store.EventStore.write(
      fixtures.toDF()
        .withColumn("doc_type", col("kind"))
        .withColumn("ts", lit("2026-01-01 00:00:00")),
      dir.toString, org.apache.spark.sql.SaveMode.Overwrite)
    val media = graft.store.EventStore.read(s, dir.toString)
      .select(col("media_id").cast("long"), col("bytes"))
      .as[(Long, Array[Byte])]
    demuxSamples(media, videoStride = 2, audioStride = 1)
      .toDF()
      .select(col("track_id").cast("long").as("track_id"), col("kind"),
        col("codec"), col("n_samples").cast("long").as("n_samples"),
        col("duration_ms"), col("sample_idx").cast("long").as("sample_idx"),
        col("dts_ms"), col("size_bytes").cast("long").as("size_bytes"),
        round(col("payload_mean"), 4).as("payload_mean"))
      .orderBy("track_id", "sample_idx")
  }

  private val q91Sql: String =
    """SELECT CAST(track_id AS BIGINT) AS track_id, kind, codec,
      |       CAST(n_samples AS BIGINT) AS n_samples,
      |       CAST(duration_ms AS BIGINT) AS duration_ms,
      |       CAST(sample_idx AS BIGINT) AS sample_idx,
      |       CAST(dts_ms AS BIGINT) AS dts_ms,
      |       CAST(size_bytes AS BIGINT) AS size_bytes,
      |       CAST(payload_mean AS DOUBLE) AS payload_mean
      |FROM (VALUES
      |  (1, 'video', 'avc1', 10,  400, 0,   0, 100,  40.0),
      |  (1, 'video', 'avc1', 10,  400, 2,  80, 116,  66.0),
      |  (1, 'video', 'avc1', 10,  400, 4, 160, 132,  92.0),
      |  (1, 'video', 'avc1', 10,  400, 6, 240, 148, 118.0),
      |  (1, 'video', 'avc1', 10,  400, 8, 320, 164, 144.0),
      |  (2, 'audio', 'mp4a',  5, 1000, 0,   0,  64,   3.0),
      |  (2, 'audio', 'mp4a',  5, 1000, 1, 200,  64,  10.0),
      |  (2, 'audio', 'mp4a',  5, 1000, 2, 400,  64,  17.0),
      |  (2, 'audio', 'mp4a',  5, 1000, 3, 600,  64,  24.0),
      |  (2, 'audio', 'mp4a',  5, 1000, 4, 800,  64,  31.0)
      |) AS t(track_id, kind, codec, n_samples, duration_ms, sample_idx,
      |       dts_ms, size_bytes, payload_mean)
      |ORDER BY track_id, sample_idx""".stripMargin

  val queries: Map[String, Q] = Map("q91_mp4_demux" -> q91Mp4Demux)
  val oracles: Map[String, String] = Map("q91_mp4_demux" -> q91Sql)
}
