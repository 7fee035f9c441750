package graft.multimodal

import graft.Q
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Real WebM/Matroska (EBML) container demux — the second container format
  * of the video seam (`Mp4Demux` scaladoc; the reference's Playwright
  * recorder emits WebM, `src/scripts/playwright_debug_helper.py:8`).
  *
  * Implements the public Matroska/EBML grammar (RFC 8794 EBML + the
  * Matroska element IDs): variable-length element IDs and VINT sizes, the
  * EBML header (DocType), and the Segment tree actually needed for corpus
  * work — Info (TimestampScale, Duration), Tracks (TrackEntry: number,
  * type, CodecID, Video PixelWidth/PixelHeight, Audio SamplingFrequency),
  * and Clusters (Timestamp + SimpleBlock/BlockGroup: track VINT, signed
  * 16-bit relative timestamp, flags — with all three lacing modes (Xiph /
  * EBML / fixed) split into their individual frames — plus RFC 8794
  * unknown-size elements, which Chromium's MediaRecorder writes for
  * Segment and every Cluster). That yields per-frame
  * (track, absolute timestamp, payload bytes) — frame selection and
  * byte-range stats with no codec, exactly the Mp4Demux contract. Codec
  * payload decode (V_VP9/A_OPUS bitstreams) stays behind the external
  * codec seam.
  *
  * Same scale shape as Mp4Demux: demux is a narrow `mapPartitions` stage;
  * media bytes never shuffle.
  */
object WebmDemux {

  // ---------------------------------------------------------------------
  // Fixture constants (closed-form, oracle derived by hand — q75/q91
  // discipline). TimestampScale 1,000,000 ns → 1 ms ticks.
  //   video (track 1, V_VP9, 64×48): 6 blocks, size 50+10i, every byte
  //     (20+11i), abs ts 40·i ms — blocks 0-2 in cluster 1 (base 0),
  //     blocks 3-5 in cluster 2 (base 120, rel 0/40/80);
  //   audio (track 2, A_OPUS, 48 kHz): 4 blocks, 32 bytes of 5+9i, abs
  //     ts 60·i ms — 2 per cluster. Clusters interleave blocks by ts.
  //   Duration = 240.0 ticks (last video ts + frame delta).
  // ---------------------------------------------------------------------
  val VidN = 6
  def vidSize(i: Int): Int = 50 + 10 * i
  def vidFill(i: Int): Byte = (20 + 11 * i).toByte
  def vidTsMs(i: Int): Long = 40L * i
  val AudN = 4
  val AudSize = 32
  def audFill(i: Int): Byte = (5 + 9 * i).toByte
  def audTsMs(i: Int): Long = 60L * i
  val Cluster2Base = 120L
  val DurationTicks = 240.0

  // --- EBML write side ---------------------------------------------------
  private[multimodal] def cat(parts: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }
  /** Element IDs are written verbatim (they carry their own length
    * marker); this renders the conventional hex form to bytes.
    */
  private def id(v: Long): Array[Byte] = {
    val n = if (v <= 0xff) 1 else if (v <= 0xffff) 2
      else if (v <= 0xffffff) 3 else 4
    (1 to n).map(i => ((v >> (8 * (n - i))) & 0xff).toByte).toArray
  }
  /** VINT size: length marker bit + 7·len value bits. Always rendered in
    * the minimal width here.
    */
  private def vint(v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && v >= (1L << (7 * n)) - 1) n += 1 // reserve all-ones
    val marked = v | (1L << (7 * n))
    (1 to n).map(i => ((marked >> (8 * (n - i))) & 0xff).toByte).toArray
  }
  private[multimodal] def elem(eid: Long, payload: Array[Byte]*): Array[Byte] = {
    val p = cat(payload: _*)
    cat(id(eid), vint(p.length.toLong), p)
  }
  private def uintBytes(v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && v >= (1L << (8 * n))) n += 1
    (1 to n).map(i => ((v >> (8 * (n - i))) & 0xff).toByte).toArray
  }
  private[multimodal] def uelem(eid: Long, v: Long): Array[Byte] = elem(eid, uintBytes(v))
  private[multimodal] def selem(eid: Long, s: String): Array[Byte] =
    elem(eid, s.getBytes("US-ASCII"))
  private[multimodal] def felem(eid: Long, v: Double): Array[Byte] = {
    val bits = java.lang.Float.floatToIntBits(v.toFloat).toLong & 0xffffffffL
    elem(eid, (1 to 4).map(i => ((bits >> (8 * (4 - i))) & 0xff).toByte).toArray)
  }
  private def blockHeader(track: Int, relTs: Int, flags: Int): Array[Byte] =
    cat(vint(track.toLong), // track number as VINT
      Array(((relTs >> 8) & 0xff).toByte, (relTs & 0xff).toByte),
      Array(flags.toByte))
  private[multimodal] def simpleBlock(track: Int, relTs: Int, payload: Array[Byte]) =
    elem(0xA3L, blockHeader(track, relTs, 0x80), payload) // keyframe, no lacing

  // --- test-only writer variants (the spec builds laced, BlockGroup and
  // Chromium-shaped unknown-size fixtures; the committed q92 fixture and
  // its oracle never use these) --------------------------------------------
  /** Element with the reserved 1-byte all-ones VINT size (unknown size). */
  private[multimodal] def elemUnknownSize(eid: Long,
      payload: Array[Byte]*): Array[Byte] = {
    val p = cat(payload: _*)
    cat(id(eid), Array(0xFF.toByte), p)
  }
  /** Xiph-laced SimpleBlock: size table is 255-runs + terminator bytes. */
  private[multimodal] def simpleBlockXiph(track: Int, relTs: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val table = frames.init.flatMap(f =>
      Array.fill(f.length / 255)(0xFF.toByte) :+ (f.length % 255).toByte)
    elem(0xA3L, blockHeader(track, relTs, 0x80 | 0x02),
      Array((frames.size - 1).toByte), table.toArray, cat(frames: _*))
  }
  /** Fixed-laced SimpleBlock (all frames must be the same size). */
  private[multimodal] def simpleBlockFixed(track: Int, relTs: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.map(_.length).distinct.size == 1)
    elem(0xA3L, blockHeader(track, relTs, 0x80 | 0x04),
      Array((frames.size - 1).toByte), cat(frames: _*))
  }
  /** 2-byte signed lace VINT: stored = delta + 2^13 − 1, 0x40 marker. */
  private def svint2(delta: Int): Array[Byte] = {
    val stored = delta + 8191
    require(stored >= 0 && stored < (1 << 14) - 1, s"delta $delta out of range")
    val marked = stored | (1 << 14)
    Array(((marked >> 8) & 0xff).toByte, (marked & 0xff).toByte)
  }
  /** EBML-laced SimpleBlock: first size as a VINT, then signed deltas. */
  private[multimodal] def simpleBlockEbml(track: Int, relTs: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val sizes = frames.map(_.length)
    val table = cat(vint(sizes.head.toLong) +:
      (1 until frames.size - 1).map(i => svint2(sizes(i) - sizes(i - 1))): _*)
    elem(0xA3L, blockHeader(track, relTs, 0x80 | 0x06),
      Array((frames.size - 1).toByte), table, cat(frames: _*))
  }
  /** BlockGroup (0xA0) wrapping a single un-laced Block (0xA1). */
  private[multimodal] def blockGroup(track: Int, relTs: Int,
      payload: Array[Byte]): Array[Byte] =
    elem(0xA0L, elem(0xA1L, blockHeader(track, relTs, 0x00), payload))

  def demoFixture(): Array[Byte] = {
    val header = elem(0x1A45DFA3L,
      uelem(0x4286L, 1), uelem(0x42F7L, 1), uelem(0x42F2L, 4),
      uelem(0x42F3L, 8), selem(0x4282L, "webm"),
      uelem(0x4287L, 2), uelem(0x4285L, 2))
    val info = elem(0x1549A966L,
      uelem(0x2AD7B1L, 1000000L), felem(0x4489L, DurationTicks))
    val tracks = elem(0x1654AE6BL,
      elem(0xAEL, uelem(0xD7L, 1), uelem(0x83L, 1), // TrackType 1 = video
        selem(0x86L, "V_VP9"),
        elem(0xE0L, uelem(0xB0L, 64), uelem(0xBAL, 48))),
      elem(0xAEL, uelem(0xD7L, 2), uelem(0x83L, 2), // TrackType 2 = audio
        selem(0x86L, "A_OPUS"),
        elem(0xE1L, felem(0xB5L, 48000.0)))) // SamplingFrequency is float
    def vblock(i: Int, base: Long) = simpleBlock(1, (vidTsMs(i) - base).toInt,
      Array.fill[Byte](vidSize(i))(vidFill(i)))
    def ablock(i: Int, base: Long) = simpleBlock(2, (audTsMs(i) - base).toInt,
      Array.fill[Byte](AudSize)(audFill(i)))
    val cluster1 = elem(0x1F43B675L, uelem(0xE7L, 0L),
      vblock(0, 0), ablock(0, 0), vblock(1, 0), ablock(1, 0), vblock(2, 0))
    val cluster2 = elem(0x1F43B675L, uelem(0xE7L, Cluster2Base),
      vblock(3, Cluster2Base), ablock(2, Cluster2Base),
      vblock(4, Cluster2Base), ablock(3, Cluster2Base),
      vblock(5, Cluster2Base))
    cat(header, elem(0x18538067L, info, tracks, cluster1, cluster2))
  }

  // --- EBML read side (independent of the writer) ------------------------
  final case class WebmTrack(trackNo: Int, trackType: Int, codec: String,
      width: Int, height: Int, samplingHz: Double)
  final case class WebmInfo(docType: String, timestampScaleNs: Long,
      durationTicks: Double, tracks: Seq[WebmTrack])
  final case class Block(trackNo: Int, absTsTicks: Long, size: Int,
      payloadOffset: Long)

  /** Read an element ID at p: length from leading-zero count of the first
    * byte, value kept WITH its marker (Matroska convention).
    */
  private def readId(b: Array[Byte], p: Int): (Long, Int) = {
    val first = b(p) & 0xff
    require(first != 0, s"invalid EBML ID at $p")
    val n = Integer.numberOfLeadingZeros(first) - 23 // 32-bit NLZ → byte NLZ+1
    var v = 0L
    for (i <- 0 until n) v = (v << 8) | (b(p + i) & 0xff)
    (v, n)
  }
  /** Read a VINT size at p: marker bit stripped. */
  private def readVint(b: Array[Byte], p: Int): (Long, Int) = {
    val first = b(p) & 0xff
    require(first != 0, s"invalid VINT at $p")
    val n = Integer.numberOfLeadingZeros(first) - 23
    var v = (first & (0xff >> n)).toLong
    for (i <- 1 until n) v = (v << 8) | (b(p + i) & 0xff)
    (v, n)
  }
  private def readUint(b: Array[Byte], p: Int, len: Int): Long = {
    var v = 0L
    for (i <- 0 until len) v = (v << 8) | (b(p + i) & 0xff)
    v
  }
  private def readFloat(b: Array[Byte], p: Int, len: Int): Double =
    if (len == 4) java.lang.Float.intBitsToFloat(readUint(b, p, 4).toInt).toDouble
    else if (len == 8) java.lang.Double.longBitsToDouble(readUint(b, p, 8))
    else 0.0

  /** RFC 8794 reserves the all-ones VINT as "unknown size" (the element
    * extends until a non-descendant element or the parent's end). Chromium's
    * MediaRecorder — the Playwright recordings this module exists for —
    * writes Segment AND every Cluster with a 1-byte 0xFF unknown size.
    */
  private def vintIsUnknown(v: Long, width: Int): Boolean =
    v == (1L << (7 * width)) - 1

  /** Segment-level element IDs: the first of these terminates an
    * unknown-size Cluster (they are the only elements a muxer may emit
    * after a Cluster inside a Segment, and none is a Cluster descendant).
    */
  private val SegmentLevelIds = Set(
    0x1F43B675L /* Cluster */, 0x1549A966L /* Info */,
    0x1654AE6BL /* Tracks */, 0x114D9B74L /* SeekHead */,
    0x1C53BB6BL /* Cues */, 0x1043A770L /* Chapters */,
    0x1941A469L /* Attachments */, 0x1254C367L /* Tags */)

  /** End of an unknown-size Cluster whose payload starts at `start`: walk
    * sibling-level child elements until a Segment-level ID (exclusive) or
    * the parent's end. A malformed tail falls back to the parent's end —
    * same stop-clean contract as [[children]].
    */
  private def clusterEnd(b: Array[Byte], start: Long, end: Long): Long = {
    var p = start
    try {
      while (p < end) {
        val (eid, idLen) = readId(b, p.toInt)
        if (SegmentLevelIds(eid)) return p
        val (sz, szLen) = readVint(b, (p + idLen).toInt)
        if (vintIsUnknown(sz, szLen)) return end // nested unknown: stop clean
        p += idLen + szLen + sz
      }
      math.min(p, end)
    } catch {
      case _: ArrayIndexOutOfBoundsException | _: IllegalArgumentException =>
        end
    }
  }

  /** (elementId, payloadStart, payloadEnd) for children of [start, end). */
  private def children(b: Array[Byte], start: Long, end: Long)
      : Seq[(Long, Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long, Long)]
    var p = start
    try {
      while (p < end) {
        val (eid, idLen) = readId(b, p.toInt)
        val (sz, szLen) = readVint(b, (p + idLen).toInt)
        val ps = p + idLen + szLen
        val pe =
          if (!vintIsUnknown(sz, szLen)) ps + sz
          else if (eid == 0x1F43B675L) clusterEnd(b, ps, end)
          else end // unknown size extends to the parent's end (RFC 8794)
        if (pe > end) return out.result() // truncated element: stop clean
        out += ((eid, ps, pe))
        p = pe
      }
    } catch { // ID/size marker cut mid-byte-sequence: also stop clean
      case _: ArrayIndexOutOfBoundsException | _: IllegalArgumentException =>
    }
    out.result()
  }
  private def find(cs: Seq[(Long, Long, Long)], eid: Long) =
    cs.find(_._1 == eid).map(c => (c._2, c._3))

  def probe(b: Array[Byte]): WebmInfo = {
    val top = children(b, 0L, b.length.toLong)
    val docType = find(top, 0x1A45DFA3L).flatMap { case (s, e) =>
      find(children(b, s, e), 0x4282L).map { case (ds, de) =>
        new String(b, ds.toInt, (de - ds).toInt, "US-ASCII")
      }
    }.getOrElse(throw new IllegalArgumentException("no EBML header"))
    val (segS, segE) = find(top, 0x18538067L)
      .getOrElse(throw new IllegalArgumentException("no Segment"))
    val seg = children(b, segS, segE)
    val (tsScale, dur) = find(seg, 0x1549A966L).map { case (s, e) =>
      val info = children(b, s, e)
      (find(info, 0x2AD7B1L).map { case (us, ue) =>
        readUint(b, us.toInt, (ue - us).toInt) }.getOrElse(1000000L),
        find(info, 0x4489L).map { case (fs, fe) =>
          readFloat(b, fs.toInt, (fe - fs).toInt) }.getOrElse(0.0))
    }.getOrElse((1000000L, 0.0))
    val tracks = find(seg, 0x1654AE6BL).toSeq.flatMap { case (s, e) =>
      children(b, s, e).filter(_._1 == 0xAEL).map { case (_, ts, te) =>
        val t = children(b, ts, te)
        def u(eid: Long, dflt: Long) = find(t, eid).map { case (us, ue) =>
          readUint(b, us.toInt, (ue - us).toInt) }.getOrElse(dflt)
        val codec = find(t, 0x86L).map { case (cs, ce) =>
          new String(b, cs.toInt, (ce - cs).toInt, "US-ASCII") }.getOrElse("")
        val (w, h) = find(t, 0xE0L).map { case (vs, ve) =>
          val v = children(b, vs, ve)
          def vu(eid: Long) = find(v, eid).map { case (us, ue) =>
            readUint(b, us.toInt, (ue - us).toInt) }.getOrElse(0L)
          (vu(0xB0L).toInt, vu(0xBAL).toInt)
        }.getOrElse((0, 0))
        val hz = find(t, 0xE1L).flatMap { case (as, ae) =>
          find(children(b, as, ae), 0xB5L).map { case (fs, fe) =>
            readFloat(b, fs.toInt, (fe - fs).toInt) match {
              case 0.0 => readUint(b, fs.toInt, (fe - fs).toInt).toDouble
              case f => f
            }
          }
        }.getOrElse(0.0)
        WebmTrack(u(0xD7L, 0).toInt, u(0x83L, 0).toInt, codec, w, h, hz)
      }
    }
    WebmInfo(docType, tsScale, dur, tracks)
  }

  /** Frames of one (Simple)Block element [bs, be): track VINT, 2-byte
    * signed relative timestamp, flags, optional lace table, frame
    * payload(s). Lacing (flags bits 0x06): 00 none, 01 Xiph, 10 fixed,
    * 11 EBML. A laced block carries multiple codec frames in one element;
    * all share the block timestamp. Sizes are coded for frames 0..n−2
    * (Xiph: 255-run + terminator byte; EBML: first size as a VINT, then
    * signed-VINT deltas, stored = delta + 2^(7·width−1) − 1; fixed: equal
    * split of the remainder); the last frame takes whatever bytes remain.
    */
  private def blockFrames(b: Array[Byte], bs: Long, be: Long,
      base: Long): Seq[Block] = {
    val (trk, tLen) = readVint(b, bs.toInt)
    val rel = ((b((bs + tLen).toInt) & 0xff) << 8 |
      (b((bs + tLen + 1).toInt) & 0xff)).toShort.toLong
    val flags = b((bs + tLen + 2).toInt) & 0xff
    val lacing = (flags >> 1) & 0x3
    val ts = base + rel
    var p = bs + tLen + 3 // rel ts (2) + flags (1)
    if (lacing == 0) return Seq(Block(trk.toInt, ts, (be - p).toInt, p))
    val nFrames = (b(p.toInt) & 0xff) + 1
    p += 1
    val sizes = new Array[Int](nFrames)
    lacing match {
      case 1 => // Xiph
        for (i <- 0 until nFrames - 1) {
          var sz = 0
          while ((b(p.toInt) & 0xff) == 255) { sz += 255; p += 1 }
          sz += b(p.toInt) & 0xff
          p += 1
          sizes(i) = sz
        }
      case 2 => // fixed: equal sizes derived from the remainder
        val each = ((be - p) / nFrames).toInt
        require(each.toLong * nFrames == be - p,
          s"fixed lacing: ${be - p} bytes not divisible by $nFrames frames")
        for (i <- 0 until nFrames - 1) sizes(i) = each
      case 3 => // EBML
        if (nFrames > 1) {
          val (first, fLen) = readVint(b, p.toInt)
          p += fLen
          sizes(0) = first.toInt
          for (i <- 1 until nFrames - 1) {
            val (raw, dLen) = readVint(b, p.toInt)
            p += dLen
            sizes(i) = sizes(i - 1) + (raw - ((1L << (7 * dLen - 1)) - 1)).toInt
          }
        }
    }
    sizes(nFrames - 1) =
      ((be - p) - sizes.view.take(nFrames - 1).map(_.toLong).sum).toInt
    require(sizes(nFrames - 1) >= 0, s"lace size table overflows block at $bs")
    val out = Seq.newBuilder[Block]
    var off = p
    for (i <- 0 until nFrames) {
      out += Block(trk.toInt, ts, sizes(i), off)
      off += sizes(i)
    }
    out.result()
  }

  /** Every frame across all Clusters: (track, absolute timestamp in ticks,
    * frame size, absolute payload offset). Walks SimpleBlocks (0xA3) AND
    * BlockGroup (0xA0) → Block (0xA1) — both block containers a muxer may
    * emit — and splits laced blocks into their individual frames.
    */
  def blocks(b: Array[Byte]): Seq[Block] = {
    val top = children(b, 0L, b.length.toLong)
    val (segS, segE) = find(top, 0x18538067L)
      .getOrElse(throw new IllegalArgumentException("no Segment"))
    children(b, segS, segE).filter(_._1 == 0x1F43B675L).flatMap {
      case (_, cs, ce) =>
        val c = children(b, cs, ce)
        val base = find(c, 0xE7L).map { case (ts, te) =>
          readUint(b, ts.toInt, (te - ts).toInt) }.getOrElse(0L)
        c.flatMap {
          case (0xA3L, bs, be) => blockFrames(b, bs, be, base)
          case (0xA0L, gs, ge) => // BlockGroup: nested Block(s) + metadata
            children(b, gs, ge).filter(_._1 == 0xA1L).flatMap {
              case (_, bs, be) => blockFrames(b, bs, be, base)
            }
          case _ => Nil
        }
    }
  }

  // --- Spark plumbing + the q92 gate -------------------------------------
  final case class WebmSample(media_id: Long, track_no: Int, kind: String,
      codec: String, block_idx: Int, abs_ts_ms: Long, size_bytes: Int,
      payload_mean: Double)

  /** Demux every webm in `media`, stride-select per track (blocks ordered
    * by timestamp), emit byte-range payload stats. Narrow mapPartitions
    * stage — bytes never shuffle (Mp4Demux contract).
    */
  def demuxBlocks(media: Dataset[(Long, Array[Byte])], videoStride: Int,
      audioStride: Int): Dataset[WebmSample] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { case (mid, bytes) =>
        val info = probe(bytes)
        val msPerTick = info.timestampScaleNs / 1000000.0
        val byTrack = blocks(bytes).groupBy(_.trackNo)
        info.tracks.flatMap { t =>
          val stride = if (t.trackType == 1) videoStride else audioStride
          val kind = t.trackType match {
            case 1 => "video"
            case 2 => "audio"
            case other => other.toString
          }
          byTrack.getOrElse(t.trackNo, Nil).sortBy(_.absTsTicks)
            .zipWithIndex.filter(_._2 % stride == 0).map { case (blk, i) =>
              var sum = 0L
              var j = 0
              while (j < blk.size) {
                sum += (bytes((blk.payloadOffset + j).toInt) & 0xff)
                j += 1
              }
              WebmSample(mid, t.trackNo, kind, t.codec, i,
                math.round(blk.absTsTicks * msPerTick),
                blk.size,
                if (blk.size == 0) 0.0 else sum.toDouble / blk.size)
            }
        }
      }
    }
  }

  /** q92 — WebM demux gate: committed two-track fixture through the
    * parquet store round-trip, video stride 2 / audio stride 1; oracle is
    * the closed-form VALUES table from the fixture constants.
    */
  val q92WebmDemux: Q = (s, _) => {
    import s.implicits._
    val bytes = {
      val in = getClass.getResourceAsStream("/graft/multimodal/video_demo_64x48.webm")
      require(in != null, "missing classpath fixture video_demo_64x48.webm")
      try in.readAllBytes() finally in.close()
    }
    val fixtures = s.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", bytes, 64, 48, 0, 0, VidN, "webm")))
    val dir = graft.store.LocalFs.scratchDir("graft-q92-store")
    graft.store.EventStore.write(
      fixtures.toDF()
        .withColumn("doc_type", col("kind"))
        .withColumn("ts", lit("2026-01-01 00:00:00")),
      dir.toString, org.apache.spark.sql.SaveMode.Overwrite)
    val media = graft.store.EventStore.read(s, dir.toString)
      .select(col("media_id").cast("long"), col("bytes"))
      .as[(Long, Array[Byte])]
    demuxBlocks(media, videoStride = 2, audioStride = 1)
      .toDF()
      .select(col("track_no").cast("long").as("track_no"), col("kind"),
        col("codec"), col("block_idx").cast("long").as("block_idx"),
        col("abs_ts_ms"), col("size_bytes").cast("long").as("size_bytes"),
        round(col("payload_mean"), 4).as("payload_mean"))
      .orderBy("track_no", "block_idx")
  }

  private val q92Sql: String =
    """SELECT CAST(track_no AS BIGINT) AS track_no, kind, codec,
      |       CAST(block_idx AS BIGINT) AS block_idx,
      |       CAST(abs_ts_ms AS BIGINT) AS abs_ts_ms,
      |       CAST(size_bytes AS BIGINT) AS size_bytes,
      |       CAST(payload_mean AS DOUBLE) AS payload_mean
      |FROM (VALUES
      |  (1, 'video', 'V_VP9', 0,   0,  50, 20.0),
      |  (1, 'video', 'V_VP9', 2,  80,  70, 42.0),
      |  (1, 'video', 'V_VP9', 4, 160,  90, 64.0),
      |  (2, 'audio', 'A_OPUS', 0,   0, 32,  5.0),
      |  (2, 'audio', 'A_OPUS', 1,  60, 32, 14.0),
      |  (2, 'audio', 'A_OPUS', 2, 120, 32, 23.0),
      |  (2, 'audio', 'A_OPUS', 3, 180, 32, 32.0)
      |) AS t(track_no, kind, codec, block_idx, abs_ts_ms, size_bytes,
      |       payload_mean)
      |ORDER BY track_no, block_idx""".stripMargin

  val queries: Map[String, Q] = Map("q92_webm_demux" -> q92WebmDemux)
  val oracles: Map[String, String] = Map("q92_webm_demux" -> q92Sql)
}
