package graft.pipeline

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM decoder for Motion-JPEG in an ISO-BMFF (`.mp4`) container —
  * the third rung of the offline realism ladder ([[Y4MFrameDecoder]]
  * proves raw planar decode, [[AviMjpegFrameDecoder]] proves a
  * compressed codec in a RIFF container, this proves the container the
  * reference's input set actually leads with: `.mp4` is first in its
  * extension filter (reference preprocess.py:320-323), and until now a
  * real `.mp4` could only route to the env-gated JavaCV seam.
  *
  * Container (public spec: ISO/IEC 14496-12): a sequence of BOXES
  * `[size:u32 BE][type:4cc][payload]` (size 1 → a u64 largesize
  * follows; size 0 → to end of file). Sample placement lives entirely
  * in `moov/trak/mdia/minf/stbl`:
  *   - `stsd` names the codec (sample-entry fourcc) and frame size,
  *   - `stts` gives per-sample durations in `mdhd` timescale units,
  *   - `stsc` maps samples into chunks, `stco`/`co64` place chunks in
  *     the file, `stsz` sizes each sample,
  * and the payload bytes sit in `mdat` at those absolute offsets. This
  * decoder reconstructs the per-sample (offset, length, start-time)
  * table exactly as the spec prescribes — including multi-sample
  * chunks, non-uniform `stts` runs, and `co64` — and decodes `jpeg` /
  * `mjpg` / `mjpa` sample entries with the JRE's own ImageIO (every
  * frame an independent JPEG, the same embarrassingly-parallel property
  * the AVI path exploits). FRAGMENTED files (DASH/CMAF: empty stbl,
  * placement in `moof/traf/trun` run boxes per spec §8.8 — the layout
  * streaming corpora actually ship) read through the same surface:
  * when the moov tables are empty the sample table is rebuilt from the
  * fragments (tfhd defaults, trex fallbacks, tfdt decode-time anchors,
  * signed trun data offsets against the moof base).
  *
  * A real-codec mp4 (`avc1`/`hev1`/`vp09`/`mp4v` …) is NOT silently
  * mis-decoded: for PIXELS the constructor takes the same fallback the
  * routing seam uses, so H.264 content still reaches JavaCV where
  * present (and the deterministic synthetic decoder where not) — the
  * documented env-gated boundary, now scoped to pixel decode of a
  * non-JPEG codec and nothing else. METADATA (`decodeMeta`) is served
  * from the sample tables for ANY sample entry: stts/stsz/stco give
  * timestamps, fps and frame_total codec-free, which is what the
  * reference's metadata columns (preprocess.py:181-185) need on the
  * H.264-led corpora real crawls consist of.
  *
  * Frame sampling is [[FrameSampler]]'s; this file only parses. Each
  * tick takes the sample whose [start, start+duration) interval covers
  * it, searched over the cumulative `stts` expansion — correct for the
  * variable frame durations MP4 allows and AVI does not.
  */
final class Mp4FrameDecoder(
    fallback: FrameDecoder = FfmpegFrameDecoder.orSynthetic())
    extends ContainerFrameDecoder(Mp4FrameDecoder.parse, fallback)

object Mp4FrameDecoder {

  /** JPEG-family sample entries this decoder handles in pure JVM. */
  private val JpegEntries = Set("jpeg", "mjpg", "mjpa")

  /** True iff `content` opens with an ISO-BMFF `ftyp` box (bytes 4-7). */
  def sniff(content: Array[Byte]): Boolean =
    content != null && content.length >= 12 &&
      content(4) == 'f' && content(5) == 't' &&
      content(6) == 'y' && content(7) == 'p'

  private final case class Track(w: Int, h: Int, codec: String,
      timescale: Long,
      samples: Array[(Long, Int)], // (absolute offset, byte length)
      starts: Array[Long], // start time per sample, timescale units
      durationUnits: Long)

  private def u16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def u32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def u64(b: Array[Byte], off: Int): Long =
    (u32(b, off) << 32) | u32(b, off + 4)

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Walk the box run in [from, to), calling `f(type, payloadOff,
    * payloadLen, boxStart)`. Handles 64-bit largesize and size-0 (to
    * end of run). `boxStart` is the box's FIRST byte — the anchor
    * fragmented addressing (default-base-is-moof) is defined against,
    * which differs from payloadOff − 8 when the box uses largesize.
    */
  private def boxesWithStart(filename: String, b: Array[Byte], from: Int,
      to: Int)(f: (String, Int, Int, Int) => Unit): Unit = {
    var pos = from
    while (pos + 8 <= to) {
      val size0 = u32(b, pos)
      val typ = fourcc(b, pos + 4)
      val (payload, end) =
        if (size0 == 1L) {
          require(pos + 16 <= to, s"$filename: truncated largesize box")
          val size = u64(b, pos + 8)
          require(size >= 16 && pos + size <= to,
            s"$filename: box $typ at byte $pos overruns its parent")
          (pos + 16, pos + size.toInt)
        } else if (size0 == 0L) (pos + 8, to) // box extends to run end
        else {
          require(size0 >= 8 && pos + size0 <= to,
            s"$filename: box $typ at byte $pos overruns its parent")
          (pos + 8, pos + size0.toInt)
        }
      f(typ, payload, end - payload, pos)
      pos = end
    }
  }

  private def boxes(filename: String, b: Array[Byte], from: Int, to: Int)(
      f: (String, Int, Int) => Unit): Unit =
    boxesWithStart(filename, b, from, to)((t, o, l, _) => f(t, o, l))

  /** First box of `typ` in the run, as (payloadOff, payloadLen). */
  private def find(filename: String, b: Array[Byte], from: Int, len: Int,
      typ: String): Option[(Int, Int)] = {
    var hit: Option[(Int, Int)] = None
    boxes(filename, b, from, from + len) { (t, o, l) =>
      if (t == typ && hit.isEmpty) hit = Some((o, l))
    }
    hit
  }

  private def parseVideoTrack(filename: String,
      b: Array[Byte]): Option[Track] = {
    val moov = find(filename, b, 0, b.length, "moov").getOrElse(
      throw new IllegalArgumentException(s"$filename: mp4 has no moov box"))
    var result: Option[Track] = None
    var trackId = 0L
    boxes(filename, b, moov._1, moov._1 + moov._2) { (t, to, tl) =>
      if (t == "trak" && result.isEmpty) {
        result = parseTrak(filename, b, to, tl)
        if (result.isDefined) trackId = trakId(filename, b, to, tl)
      }
    }
    // FRAGMENTED mp4 (DASH/CMAF — the layout streaming corpora actually
    // ship): the moov's sample tables are empty and placement lives in
    // moof/traf/trun run boxes paired with their mdat. Same public spec
    // (14496-12 §8.8), same totality discipline.
    result match {
      case Some(tr) if tr.samples.isEmpty =>
        val defaults = trexDefaults(filename, b, moov, trackId)
        val frag = parseFragments(filename, b, trackId, defaults)
        if (frag.samples.nonEmpty)
          Some(tr.copy(samples = frag.samples, starts = frag.starts,
            durationUnits = frag.durationUnits))
        else result
      case other => other
    }
  }

  /** tkhd track_id (payload: version/flags, ctime/mtime — 4/4 bytes at
    * v0, 8/8 at v1 — then track_id).
    */
  private def trakId(filename: String, b: Array[Byte], off: Int,
      len: Int): Long = {
    val tkhd = find(filename, b, off, len, "tkhd").getOrElse(return 0L)
    require(tkhd._2 >= 4, s"$filename: tkhd payload is ${tkhd._2} bytes")
    val v = b(tkhd._1) & 0xff
    val idOff = if (v == 1) 20 else 12
    require(tkhd._2 >= idOff + 4,
      s"$filename: tkhd v$v payload is ${tkhd._2} bytes (need ${idOff + 4})")
    u32(b, tkhd._1 + idOff)
  }

  /** Per-track defaults a fragment may omit (moov/mvex/trex). */
  private final case class FragDefaults(duration: Long, size: Long)

  private def trexDefaults(filename: String, b: Array[Byte],
      moov: (Int, Int), trackId: Long): FragDefaults = {
    find(filename, b, moov._1, moov._2, "mvex") match {
      case Some((mo, ml)) =>
        var d = FragDefaults(0L, 0L)
        boxes(filename, b, mo, mo + ml) { (t, o, l) =>
          // trex: version/flags, track_id, default_sample_description_
          // index, default_sample_duration, default_sample_size, flags
          if (t == "trex" && l >= 24 && u32(b, o + 4) == trackId)
            d = FragDefaults(u32(b, o + 12), u32(b, o + 16))
        }
        d
      case None => FragDefaults(0L, 0L)
    }
  }

  private final case class FragSamples(samples: Array[(Long, Int)],
      starts: Array[Long], durationUnits: Long)

  /** Walk every top-level `moof`, collecting this track's sample
    * placement from traf(tfhd, tfdt, trun). Supported addressing: an
    * explicit tfhd base-data-offset, or the default-base-is-moof /
    * first-traf implicit base (both resolve to the moof's first byte —
    * the layout every CMAF/DASH packager emits). A NON-first traf with
    * neither form fails typed: per 14496-12 §8.8.7 its implicit base is
    * the previous traf's data end, which this reader does not model —
    * silently anchoring it at the moof would decode wrong bytes. Decode
    * times come from tfdt where present and accumulate across fragments
    * otherwise; every fixed field is length-guarded against its own box
    * payload before the read (same fail-typed discipline as the stbl
    * tables — a truncated hostile box must never surface a raw AIOOBE).
    */
  private def parseFragments(filename: String, b: Array[Byte],
      trackId: Long, defaults: FragDefaults): FragSamples = {
    val maxSamples = math.max(b.length, 1024)
    val samples = Array.newBuilder[(Long, Int)]
    val starts = Array.newBuilder[Long]
    var clock = 0L
    var total = 0L
    boxesWithStart(filename, b, 0, b.length) {
      (typ, moofPayload, moofLen, boxStart) =>
      if (typ == "moof") {
        val moofStart = boxStart.toLong // exact even under largesize
        var trafIdx = 0
        boxes(filename, b, moofPayload, moofPayload + moofLen) {
          (t2, trafOff, trafLen) =>
            if (t2 == "traf") {
              val firstTraf = trafIdx == 0
              trafIdx += 1
              val tfhd = find(filename, b, trafOff, trafLen, "tfhd")
                .getOrElse(throw new IllegalArgumentException(
                  s"$filename: traf without tfhd"))
              require(tfhd._2 >= 8,
                s"$filename: tfhd payload is ${tfhd._2} bytes (need 8)")
              val tfFlags = u32(b, tfhd._1) & 0xffffff
              if (u32(b, tfhd._1 + 4) == trackId) {
                // optional tfhd fields, in flag order — their combined
                // width must fit the payload BEFORE any read
                val optBytes = (if ((tfFlags & 1) != 0) 8 else 0) +
                  (if ((tfFlags & 2) != 0) 4 else 0) +
                  (if ((tfFlags & 8) != 0) 4 else 0) +
                  (if ((tfFlags & 0x10) != 0) 4 else 0) +
                  (if ((tfFlags & 0x20) != 0) 4 else 0)
                require(8 + optBytes <= tfhd._2,
                  s"$filename: tfhd flags 0x${tfFlags.toHexString} claim " +
                    s"$optBytes optional bytes in a ${tfhd._2}-byte payload")
                require(firstTraf || (tfFlags & 1) != 0 ||
                    (tfFlags & 0x020000) != 0,
                  s"$filename: non-first traf in a moof without explicit " +
                    "base-data-offset or default-base-is-moof (14496-12 " +
                    "§8.8.7 previous-traf-end addressing is unsupported)")
                var p = tfhd._1 + 8
                var base = moofStart
                if ((tfFlags & 1) != 0) { base = u64(b, p); p += 8 }
                if ((tfFlags & 2) != 0) p += 4 // sample_desc_index
                var defDur = defaults.duration
                if ((tfFlags & 8) != 0) { defDur = u32(b, p); p += 4 }
                var defSize = defaults.size
                if ((tfFlags & 0x10) != 0) { defSize = u32(b, p); p += 4 }
                find(filename, b, trafOff, trafLen, "tfdt").foreach {
                  case (o, l) =>
                    val v1 = (b(o) & 0xff) == 1
                    require(l >= (if (v1) 12 else 8),
                      s"$filename: tfdt v${if (v1) 1 else 0} payload is " +
                        s"$l bytes")
                    clock = if (v1) u64(b, o + 4) else u32(b, o + 4)
                }
                var cur = base
                boxes(filename, b, trafOff, trafOff + trafLen) {
                  (t3, o, l) =>
                    if (t3 == "trun") {
                      require(l >= 8,
                        s"$filename: trun payload is $l bytes (need 8)")
                      val fl = u32(b, o) & 0xffffff
                      require(8 + (if ((fl & 1) != 0) 4 else 0) +
                          (if ((fl & 4) != 0) 4 else 0) <= l,
                        s"$filename: trun flags 0x${fl.toHexString} " +
                          s"overrun the $l-byte payload before the table")
                      val n = u32(b, o + 4).toInt
                      total += n
                      require(n >= 0 && total <= maxSamples,
                        s"$filename: trun claims $total samples in a " +
                          s"${b.length}-byte file")
                      var q = o + 8
                      if ((fl & 1) != 0) { // SIGNED data offset
                        cur = base + u32(b, q).toInt; q += 4
                      }
                      if ((fl & 4) != 0) q += 4 // first_sample_flags
                      val perDur = (fl & 0x100) != 0
                      val perSize = (fl & 0x200) != 0
                      val perFlags = (fl & 0x400) != 0
                      val perCto = (fl & 0x800) != 0
                      val stride = Seq(perDur, perSize, perFlags, perCto)
                        .count(identity) * 4
                      require(q - o + n.toLong * stride <= l,
                        s"$filename: trun table overruns its $l-byte box")
                      var k = 0
                      while (k < n) {
                        val dur = if (perDur) { val v = u32(b, q); q += 4; v }
                          else defDur
                        val sz = if (perSize) { val v = u32(b, q); q += 4; v }
                          else defSize
                        if (perFlags) q += 4
                        if (perCto) q += 4
                        require(sz >= 0 && sz <= b.length,
                          s"$filename: trun sample of $sz bytes in a " +
                            s"${b.length}-byte file")
                        samples += ((cur, sz.toInt))
                        starts += clock
                        cur += sz
                        clock += dur
                        k += 1
                      }
                    }
                }
              }
            }
        }
      }
    }
    val startArr = starts.result()
    // sampleAt's binary search assumes non-decreasing starts; a hostile
    // tfdt that rewinds the clock between fragments would otherwise make
    // frame selection silently return wrong samples — fail typed instead
    var si = 1
    while (si < startArr.length) {
      require(startArr(si) >= startArr(si - 1),
        s"$filename: fragment decode times rewind at sample $si " +
          s"(${startArr(si)} < ${startArr(si - 1)})")
      si += 1
    }
    FragSamples(samples.result(), startArr, clock)
  }

  private def parseTrak(filename: String, b: Array[Byte], off: Int,
      len: Int): Option[Track] = {
    val mdia = find(filename, b, off, len, "mdia").getOrElse(return None)
    val hdlr = find(filename, b, mdia._1, mdia._2, "hdlr")
      .getOrElse(return None)
    // HandlerBox: version/flags(4) pre_defined(4) handler_type(4cc)
    require(hdlr._2 >= 12, s"$filename: hdlr payload is ${hdlr._2} bytes")
    if (fourcc(b, hdlr._1 + 8) != "vide") return None

    val mdhd = find(filename, b, mdia._1, mdia._2, "mdhd")
      .getOrElse(return None)
    require(mdhd._2 >= 4, s"$filename: mdhd payload is ${mdhd._2} bytes")
    val mdhdV = b(mdhd._1) & 0xff
    val tsOff = if (mdhdV == 1) 20 else 12
    require(mdhd._2 >= tsOff + 4,
      s"$filename: mdhd v$mdhdV payload is ${mdhd._2} bytes")
    val timescale = u32(b, mdhd._1 + tsOff)
    require(timescale > 0, s"$filename: mdhd timescale is zero")

    val minf = find(filename, b, mdia._1, mdia._2, "minf")
      .getOrElse(return None)
    val stbl = find(filename, b, minf._1, minf._2, "stbl")
      .getOrElse(return None)

    // stsd: codec fourcc + declared frame size (VisualSampleEntry:
    // 6 reserved + data_ref_idx(2) + 16 pre_defined → width/height u16
    // at payload offsets 24/26)
    val stsd = find(filename, b, stbl._1, stbl._2, "stsd")
      .getOrElse(return None)
    // header(8) + entry size/4cc(8) + VisualSampleEntry through w/h(28)
    require(stsd._2 >= 44,
      s"$filename: stsd payload is ${stsd._2} bytes (need 44)")
    require(u32(b, stsd._1 + 4) >= 1, s"$filename: empty stsd")
    val entryOff = stsd._1 + 8
    val codec = fourcc(b, entryOff + 4)
    val w = u16(b, entryOff + 8 + 24)
    val h = u16(b, entryOff + 8 + 26)

    // Totality guards throughout: every table's claimed entry count is
    // REQUIRED to fit inside its own box payload, and the stts
    // expansion is capped by the file size, BEFORE any allocation — a
    // crawl-scale population includes mutated/hostile files, and a
    // lying count field must produce a typed error, never a
    // gigabyte allocation or an out-of-bounds walk.

    // stts → per-sample start times
    val stts = find(filename, b, stbl._1, stbl._2, "stts")
      .getOrElse(return None)
    require(stts._2 >= 8, s"$filename: stts payload is ${stts._2} bytes")
    val sttsN = u32(b, stts._1 + 4).toInt
    require(sttsN >= 0 && 8L + sttsN * 8L <= stts._2,
      s"$filename: stts claims $sttsN entries in a ${stts._2}-byte box")
    val maxSamples = math.max(b.length, 1024) // a sample is ≥0 bytes,
    val starts = Array.newBuilder[Long] // but counts beyond the file
    var clock = 0L // size are structurally absurd
    var total = 0L
    var i = 0
    while (i < sttsN) {
      val cnt = u32(b, stts._1 + 8 + i * 8)
      val delta = u32(b, stts._1 + 12 + i * 8)
      total += cnt
      require(total <= maxSamples,
        s"$filename: stts claims $total samples in a ${b.length}-byte file")
      var k = 0L
      while (k < cnt) { starts += clock; clock += delta; k += 1 }
      i += 1
    }
    val startArr = starts.result()
    val nSamples = startArr.length

    // stsz → per-sample byte lengths
    val stsz = find(filename, b, stbl._1, stbl._2, "stsz")
      .getOrElse(return None)
    require(stsz._2 >= 12, s"$filename: stsz payload is ${stsz._2} bytes")
    val fixedSize = u32(b, stsz._1 + 4)
    val stszN = u32(b, stsz._1 + 8).toInt
    require(stszN == nSamples,
      s"$filename: stsz counts $stszN samples but stts counts $nSamples")
    require(fixedSize != 0 || 12L + nSamples * 4L <= stsz._2,
      s"$filename: stsz table overruns its ${stsz._2}-byte box")
    val sizes = Array.tabulate(nSamples)(s =>
      if (fixedSize != 0) fixedSize.toInt
      else u32(b, stsz._1 + 12 + s * 4).toInt)

    // stco/co64 + stsc → absolute per-sample offsets
    val (chunkOffs, nChunks) =
      find(filename, b, stbl._1, stbl._2, "stco") match {
        case Some((o, l)) =>
          require(l >= 8, s"$filename: stco payload is $l bytes")
          val n = u32(b, o + 4).toInt
          require(n >= 0 && 8L + n * 4L <= l,
            s"$filename: stco claims $n chunks in a $l-byte box")
          (Array.tabulate(n)(c => u32(b, o + 8 + c * 4)), n)
        case None =>
          val (o, l) = find(filename, b, stbl._1, stbl._2, "co64")
            .getOrElse(return None)
          require(l >= 8, s"$filename: co64 payload is $l bytes")
          val n = u32(b, o + 4).toInt
          require(n >= 0 && 8L + n * 8L <= l,
            s"$filename: co64 claims $n chunks in a $l-byte box")
          (Array.tabulate(n)(c => u64(b, o + 8 + c * 8)), n)
      }
    val stsc = find(filename, b, stbl._1, stbl._2, "stsc")
      .getOrElse(return None)
    require(stsc._2 >= 8, s"$filename: stsc payload is ${stsc._2} bytes")
    val stscN = u32(b, stsc._1 + 4).toInt
    require(stscN >= 0 && 8L + stscN * 12L <= stsc._2,
      s"$filename: stsc claims $stscN runs in a ${stsc._2}-byte box")
    val runs = Array.tabulate(stscN) { e =>
      (u32(b, stsc._1 + 8 + e * 12).toInt, // first_chunk (1-based)
        u32(b, stsc._1 + 12 + e * 12).toInt) // samples_per_chunk
    }
    val samples = new Array[(Long, Int)](nSamples)
    var sample = 0
    var chunk = 1
    var run = 0
    while (chunk <= nChunks && sample < nSamples) {
      while (run + 1 < stscN && runs(run + 1)._1 <= chunk) run += 1
      val perChunk = runs(run)._2
      var o = chunkOffs(chunk - 1)
      var k = 0
      while (k < perChunk && sample < nSamples) {
        samples(sample) = (o, sizes(sample))
        o += sizes(sample)
        sample += 1
        k += 1
      }
      chunk += 1
    }
    require(sample == nSamples,
      s"$filename: stsc/stco place only $sample of $nSamples samples")

    Some(Track(w, h, codec, timescale, samples, startArr, clock))
  }

  /** A sample entry outside [[JpegEntries]] (avc1/hev1/…) has no pixel
    * converter: its pixels come from the fallback, its metadata from the
    * sample tables.
    */
  private def parse(filename: String, bytes: Array[Byte]): ParsedVideo = {
    require(sniff(bytes), s"$filename: not an ISO-BMFF stream")
    val track = parseVideoTrack(filename, bytes).getOrElse(
      throw new IllegalArgumentException(
        s"$filename: mp4 has no video track"))
    require(track.samples.nonEmpty, s"$filename: mp4 video track is empty")
    ParsedVideo(track.h, track.w, track.samples.length,
      BigInt(track.durationUnits), track.timescale,
      tsMs => FrameSampler.covering(track.starts,
        tsMs * track.timescale / 1000L),
      if (!JpegEntries.contains(track.codec.toLowerCase)) None
      else Some { i =>
        val (off, len) = track.samples(i)
        FrameSampler.jpegToRgb(filename, bytes, off, len, track.w, track.h)
      })
  }

  // ---- fixture-writer companion (tests, debug clips) -------------------------

  private def be32(v: Long): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      .putInt((v & 0xffffffffL).toInt).array()

  private def be16(v: Int): Array[Byte] =
    ByteBuffer.allocate(2).order(ByteOrder.BIG_ENDIAN)
      .putShort(v.toShort).array()

  private def box(typ: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8L) ++ typ.getBytes("US-ASCII") ++ payload

  private def fullBox(typ: String, payload: Array[Byte]): Array[Byte] =
    box(typ, Array[Byte](0, 0, 0, 0) ++ payload)

  /** Minimal valid MJPEG mp4: `ftyp` + `mdat` (one JPEG per sample) +
    * trailing `moov` with the full stbl. Samples group
    * `samplesPerChunk` to a chunk (one stsc run, per-CHUNK stco
    * entries — >1 exercises the real stsc/stco/stsz offset walk).
    * fps = fpsNum/fpsDen via mdhd timescale = fpsNum, uniform stts
    * delta = fpsDen.
    */
  def write(w: Int, h: Int, fpsNum: Long, fpsDen: Long,
      jpegFrames: Seq[Array[Byte]],
      samplesPerChunk: Int = 1,
      useCo64: Boolean = false,
      sampleEntry: String = "jpeg"): Array[Byte] = {
    require(samplesPerChunk >= 1, "samplesPerChunk must be >= 1")
    require(sampleEntry.length == 4, "sample entry must be a fourcc")
    val n = jpegFrames.length
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200) ++
      "isommp41".getBytes("US-ASCII"))
    val mdatPayload = jpegFrames.toArray.flatten
    // absolute sample offsets: ftyp + mdat header precede the payload
    val mdatStart = ftyp.length + 8
    val sampleOffsets = jpegFrames.scanLeft(mdatStart.toLong)(_ + _.length)
      .init.toArray
    // a chunk's offset is its FIRST sample's offset
    val offsets = sampleOffsets.zipWithIndex
      .collect { case (o, i) if i % samplesPerChunk == 0 => o }
    val mdat = box("mdat", mdatPayload)

    val duration = n.toLong * fpsDen
    val mvhd = fullBox("mvhd", be32(0) ++ be32(0) ++ // times
      be32(fpsNum) ++ be32(duration) ++ // timescale, duration
      be32(0x00010000) ++ be16(0x0100) ++ be16(0) ++ // rate, volume, rsvd
      be32(0) ++ be32(0) ++ // reserved
      // unity matrix
      be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000) ++
      Array.fill(6 * 4)(0.toByte) ++ // pre_defined
      be32(2)) // next track id
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ // v0, enabled|movie
      be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(duration) ++
      be32(0) ++ be32(0) ++ // reserved
      be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++ // layer, group, vol, rsvd
      be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000) ++
      be32(w.toLong << 16) ++ be32(h.toLong << 16)) // 16.16 fixed
    val mdhd = fullBox("mdhd", be32(0) ++ be32(0) ++
      be32(fpsNum) ++ be32(duration) ++
      be16(0x55c4) ++ be16(0)) // language 'und', pre_defined
    val hdlr = fullBox("hdlr", be32(0) ++
      "vide".getBytes("US-ASCII") ++ Array.fill(12)(0.toByte) ++
      "graft ".getBytes("US-ASCII"))
    val vmhd = box("vmhd", Array[Byte](0, 0, 0, 1) ++ // v0, flags=1
      be16(0) ++ be16(0) ++ be16(0) ++ be16(0))
    val dref = fullBox("dref", be32(1) ++
      fullBox("url ", Array.emptyByteArray).patch(8, Array[Byte](0, 0, 0, 1),
        4)) // url box with self-contained flag
    val dinf = box("dinf", dref)

    // VisualSampleEntry ('jpeg' by default; 'avc1'-class fourccs let
    // tests exercise the codec-free metadata path on a real-codec stbl)
    val entry = box(sampleEntry,
      Array.fill(6)(0.toByte) ++ be16(1) ++ // reserved, data_ref_idx
        be16(0) ++ be16(0) ++ Array.fill(12)(0.toByte) ++ // pre_defined
        be16(w) ++ be16(h) ++
        be32(0x00480000) ++ be32(0x00480000) ++ // 72 dpi
        be32(0) ++ be16(1) ++ // reserved, frame_count
        Array.fill(32)(0.toByte) ++ // compressorname
        be16(24) ++ be16(0xffff)) // depth, pre_defined -1
    val stsd = fullBox("stsd", be32(1) ++ entry)
    val stts = fullBox("stts", be32(1) ++ be32(n) ++ be32(fpsDen))
    val stsc = fullBox("stsc",
      be32(1) ++ be32(1) ++ be32(samplesPerChunk) ++ be32(1))
    val stsz = fullBox("stsz", be32(0) ++ be32(n) ++
      jpegFrames.toArray.flatMap(j => be32(j.length.toLong)))
    // co64 is the >4 GiB form (64-bit chunk offsets) — a petabyte-scale
    // archive's mdat routinely crosses 4 GiB, so the read path supports
    // it and the writer can emit it for coverage
    def be64(v: Long): Array[Byte] =
      ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN).putLong(v).array()
    val stco =
      if (useCo64) fullBox("co64",
        be32(offsets.length) ++ offsets.flatMap(be64))
      else fullBox("stco",
        be32(offsets.length) ++ offsets.flatMap(be32))
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val minf = box("minf", vmhd ++ dinf ++ stbl)
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val trak = box("trak", tkhd ++ mdia)
    val moov = box("moov", mvhd ++ trak)
    ftyp ++ mdat ++ moov
  }

  /** Minimal valid FRAGMENTED mp4 (the DASH/CMAF layout): `ftyp` +
    * `moov` whose stbl tables are EMPTY (stsd still names the codec
    * and frame size) + `mvex/trex` defaults + one `moof`+`mdat` pair
    * per fragment — tfhd carries default-base-is-moof, tfdt the
    * decode-time anchor, trun per-sample sizes with the tfhd default
    * duration. Exercises exactly the §8.8 read path [[parseFragments]]
    * implements.
    */
  def writeFragmented(w: Int, h: Int, fpsNum: Long, fpsDen: Long,
      jpegFrames: Seq[Array[Byte]],
      framesPerFragment: Int = 2,
      sampleEntry: String = "jpeg"): Array[Byte] = {
    require(framesPerFragment >= 1, "framesPerFragment must be >= 1")
    require(sampleEntry.length == 4, "sample entry must be a fourcc")
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32(0x200) ++
      "iso5dash".getBytes("US-ASCII"))
    def emptyFull(typ: String, payload: Array[Byte]): Array[Byte] =
      fullBox(typ, payload)
    // rebuild moov from the progressive file's trak with empty stbl:
    // simplest correct form — regenerate via write() pieces is not
    // exposed, so build the few boxes directly
    val duration = jpegFrames.length.toLong * fpsDen
    val mvhd = fullBox("mvhd", be32(0) ++ be32(0) ++
      be32(fpsNum) ++ be32(duration) ++
      be32(0x00010000) ++ be16(0x0100) ++ be16(0) ++
      be32(0) ++ be32(0) ++
      be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000) ++
      Array.fill(6 * 4)(0.toByte) ++ be32(2))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++
      be32(0) ++ be32(0) ++ be32(1) ++ be32(0) ++ be32(duration) ++
      be32(0) ++ be32(0) ++
      be16(0) ++ be16(0) ++ be16(0) ++ be16(0) ++
      be32(0x00010000) ++ be32(0) ++ be32(0) ++
      be32(0) ++ be32(0x00010000) ++ be32(0) ++
      be32(0) ++ be32(0) ++ be32(0x40000000) ++
      be32(w.toLong << 16) ++ be32(h.toLong << 16))
    val mdhd = fullBox("mdhd", be32(0) ++ be32(0) ++
      be32(fpsNum) ++ be32(duration) ++ be16(0x55c4) ++ be16(0))
    val hdlr = fullBox("hdlr", be32(0) ++
      "vide".getBytes("US-ASCII") ++ Array.fill(12)(0.toByte) ++
      "graft ".getBytes("US-ASCII"))
    val vmhd = box("vmhd", Array[Byte](0, 0, 0, 1) ++
      be16(0) ++ be16(0) ++ be16(0) ++ be16(0))
    val dref = fullBox("dref", be32(1) ++
      fullBox("url ", Array.emptyByteArray).patch(8,
        Array[Byte](0, 0, 0, 1), 4))
    val dinf = box("dinf", dref)
    val entry = box(sampleEntry,
      Array.fill(6)(0.toByte) ++ be16(1) ++
        be16(0) ++ be16(0) ++ Array.fill(12)(0.toByte) ++
        be16(w) ++ be16(h) ++
        be32(0x00480000) ++ be32(0x00480000) ++
        be32(0) ++ be16(1) ++
        Array.fill(32)(0.toByte) ++
        be16(24) ++ be16(0xffff))
    val stsd = fullBox("stsd", be32(1) ++ entry)
    val stbl = box("stbl", stsd ++
      emptyFull("stts", be32(0)) ++
      emptyFull("stsc", be32(0)) ++
      emptyFull("stsz", be32(0) ++ be32(0)) ++
      emptyFull("stco", be32(0)))
    val minf = box("minf", vmhd ++ dinf ++ stbl)
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val trak = box("trak", tkhd ++ mdia)
    val trex = fullBox("trex", be32(1) ++ // track_id
      be32(1) ++ be32(fpsDen) ++ be32(0) ++ be32(0))
    val mvex = box("mvex", trex)
    val moov = box("moov", mvhd ++ trak ++ mvex)

    val fragments = jpegFrames.zipWithIndex
      .grouped(framesPerFragment).zipWithIndex.map {
        case (frames, seq) =>
          val payload = frames.map(_._1).toArray.flatten
          val tfhd = fullBox("tfhd", be32(1) ++ be32(fpsDen))
            // flags: default-base-is-moof | default-sample-duration
            .patch(9, Array[Byte](0x02, 0x00, 0x08), 3)
          val tfdt = fullBox("tfdt",
            be32(frames.head._2.toLong * fpsDen))
          val trunFlags = Array[Byte](0x00, 0x02, 0x01) // size + offset
          val trunSamples = frames.flatMap(f => be32(f._1.length.toLong))
          // data_offset = full moof size + mdat header; moof size is
          // fixed once trun length is known: compute via two passes
          def trunOf(dataOff: Long): Array[Byte] =
            fullBox("trun", be32(frames.length.toLong) ++ be32(dataOff) ++
              trunSamples.toArray).patch(9, trunFlags, 3)
          def moofOf(trun: Array[Byte]): Array[Byte] =
            box("moof", fullBox("mfhd", be32(seq + 1L)) ++
              box("traf", tfhd ++ tfdt ++ trun))
          val moofSize = moofOf(trunOf(0)).length
          val moof = moofOf(trunOf(moofSize + 8L))
          moof ++ box("mdat", payload)
      }.toSeq
    ftyp ++ moov ++ fragments.flatten.toArray
  }
}
