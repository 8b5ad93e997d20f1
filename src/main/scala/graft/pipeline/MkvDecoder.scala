package graft.pipeline

/** Pure-JVM decoder for Matroska / WebM (`.mkv`/`.webm`) — the last
  * container the reference's extension filter admits (it lists `.mkv`
  * FIRST, reference preprocess.py:320-323, opened by cv2.VideoCapture
  * at preprocess.py:167-176) that previously had zero pure-JVM path:
  * an `.mkv` corpus routed straight to the env-gated JavaCV seam even
  * for METADATA the container itself carries.
  *
  * Container (public specs: EBML RFC 8794, Matroska RFC 9559): a tree
  * of EBML ELEMENTS `[id:VINT][size:VINT][payload]` — the id keeps its
  * length-marker bits (`0x1A45DFA3` is the 4-byte header id and the
  * format magic), the size strips them (all-ones = "unknown size", the
  * streaming form). Sample placement lives in:
  *   - `Segment/Tracks/TrackEntry`: TrackNumber, TrackType(1=video),
  *     CodecID (a string — `V_MJPEG`, `V_MPEG4/ISO/AVC`, `V_VP9`, …),
  *     DefaultDuration (ns/frame), Video/PixelWidth+PixelHeight;
  *   - `Segment/Info`: TimestampScale (ns per tick, default 1 000 000)
  *     and the float Duration;
  *   - `Segment/Cluster`: a Timestamp (ticks) plus SimpleBlock /
  *     BlockGroup→Block payloads `[trackNum:VINT][relTs:s16][flags]
  *     [frames…]`, where the flags' lacing bits (none / Xiph / fixed /
  *     EBML) pack multiple frames into one block.
  * This decoder reconstructs the per-frame (offset, length, start-ns)
  * table exactly as the spec prescribes — all four lacing modes, both
  * block forms, unknown-size Segments (the mkvmerge streaming layout)
  * AND unknown-size Clusters followed by siblings (the live-capture
  * layout, bounded at the first non-child element per RFC 8794 §6.3) —
  * and decodes `V_MJPEG` with the JRE's own ImageIO (every frame an
  * independent JPEG, the same embarrassingly-parallel property the AVI
  * and mp4 MJPEG paths exploit). WebM is the same container with
  * DocType `webm`, so its metadata falls out free.
  *
  * A real-codec track (`V_MPEG4/ISO/AVC`, `V_MPEGH/ISO/HEVC`,
  * `V_VP9`, …) is NOT silently mis-decoded: PIXELS take the same
  * fallback the routing seam uses (JavaCV where present, deterministic
  * synthetic where not). METADATA does not: cluster/block timestamps,
  * DefaultDuration and the track's pixel dimensions yield timestamps,
  * fps and frame_total codec-free for ANY CodecID — what the
  * reference's metadata columns (preprocess.py:181-185) need on the
  * H.264-led corpora real crawls consist of.
  *
  * Same totality discipline as [[Mp4FrameDecoder]]: every VINT and
  * fixed field is length-guarded against its parent before the read,
  * every claimed frame count is capped by the file size, lacing size
  * sums must land exactly on the block end, and cluster timestamps
  * that rewind fail typed — a 100 TB crawl's mkv population includes
  * every mutation, and a lying field must produce a typed error, never
  * a raw AIOOBE, a giant allocation, or silently wrong frames.
  *
  * Frame sampling is [[FrameSampler]]'s; this file only parses.
  */
final class MkvFrameDecoder(
    fallback: FrameDecoder = FfmpegFrameDecoder.orSynthetic())
    extends ContainerFrameDecoder(MkvFrameDecoder.parse, fallback)

object MkvFrameDecoder {

  /** True iff `content` opens with the EBML magic `1A 45 DF A3`. */
  def sniff(content: Array[Byte]): Boolean =
    content != null && content.length >= 4 &&
      (content(0) & 0xff) == 0x1a && (content(1) & 0xff) == 0x45 &&
      (content(2) & 0xff) == 0xdf && (content(3) & 0xff) == 0xa3

  // ---- element ids (RFC 9559 §27; the id VINT keeps its marker bits) ----
  private val IdEbml = 0x1a45dfa3L
  private val IdDocType = 0x4282L
  private val IdSegment = 0x18538067L
  private val IdInfo = 0x1549a966L
  private val IdTimestampScale = 0x2ad7b1L
  private val IdDuration = 0x4489L
  private val IdTracks = 0x1654ae6bL
  private val IdTrackEntry = 0xaeL
  private val IdTrackNumber = 0xd7L
  private val IdTrackType = 0x83L
  private val IdCodecId = 0x86L
  private val IdDefaultDuration = 0x23e383L
  private val IdVideo = 0xe0L
  private val IdPixelWidth = 0xb0L
  private val IdPixelHeight = 0xbaL
  private val IdColourSpace = 0x2eb524L
  private val IdCluster = 0x1f43b675L
  private val IdClusterTs = 0xe7L
  private val IdSimpleBlock = 0xa3L
  private val IdBlockGroup = 0xa0L
  private val IdBlock = 0xa1L

  // ---- id classes for bounding an unknown-size Cluster (r17) -------------
  // RFC 8794 §6.3: an unknown-size element ends at the first element not
  // a valid child. For a Cluster the discriminating sets are small and
  // fixed by RFC 9559: its possible SIBLINGS are the Segment-level
  // elements, its CHILDREN the Cluster schema (+ the global Void/CRC-32,
  // legal everywhere per RFC 8794 §11.2-11.3).
  private val IdSeekHead = 0x114d9b74L
  private val IdCues = 0x1c53bb6bL
  private val IdChapters = 0x1043a770L
  private val IdAttachments = 0x1941a469L
  private val IdTags = 0x1254c367L
  private val SegmentLevelIds: Set[Long] = Set(IdCluster, IdInfo,
    IdTracks, IdSeekHead, IdCues, IdChapters, IdAttachments, IdTags)
  private val IdClusterPosition = 0xa7L
  private val IdClusterPrevSize = 0xabL
  private val IdSilentTracks = 0x5854L
  private val IdEncryptedBlock = 0xafL
  private val IdVoid = 0xecL
  private val IdCrc32 = 0xbfL
  private val ClusterChildIds: Set[Long] = Set(IdClusterTs,
    IdClusterPosition, IdClusterPrevSize, IdSilentTracks, IdSimpleBlock,
    IdBlockGroup, IdEncryptedBlock, IdVoid, IdCrc32)

  private final case class Track(w: Int, h: Int, codecId: String,
      colourSpace: String, trackNum: Long, defaultDurationNs: Long,
      samples: Array[(Long, Int)], // (absolute offset, byte length)
      starts: Array[Long], // start time per frame, NANOSECONDS
      durationNs: Long)

  /** VINT total length from its first byte (leading-zero count + 1);
    * 0x00 would mean >8 bytes — outside EBML's limit, fail typed.
    */
  private def vintLen(filename: String, first: Int): Int = {
    require(first != 0, s"$filename: EBML VINT first byte 0x00 (>8 bytes)")
    java.lang.Integer.numberOfLeadingZeros(first) - 23
  }

  /** Element id at `pos` (marker bits KEPT, per RFC 8794 §4) → (id,
    * bytes consumed). Ids are 1-4 bytes.
    */
  private def readId(filename: String, b: Array[Byte], pos: Int,
      to: Int): (Long, Int) = {
    require(pos < to, s"$filename: EBML id runs past its parent")
    val first = b(pos) & 0xff
    val n = vintLen(filename, first)
    require(n <= 4, s"$filename: EBML id of $n bytes (max 4)")
    require(pos + n <= to, s"$filename: EBML id runs past its parent")
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
    (v, n)
  }

  private val UnknownSize = -1L

  /** Element size at `pos` (marker bit STRIPPED) → (size, bytes
    * consumed); the all-ones pattern is "unknown size" (streaming form,
    * RFC 8794 §6.2) and returns [[UnknownSize]].
    */
  private def readSize(filename: String, b: Array[Byte], pos: Int,
      to: Int): (Long, Int) = {
    require(pos < to, s"$filename: EBML size runs past its parent")
    val first = b(pos) & 0xff
    val n = vintLen(filename, first)
    require(pos + n <= to, s"$filename: EBML size runs past its parent")
    var v = (first & (0xff >>> n)).toLong
    var i = 1
    while (i < n) { v = (v << 8) | (b(pos + i) & 0xff); i += 1 }
    val allOnes = (1L << (7 * n)) - 1
    (if (v == allOnes) UnknownSize else v, n)
  }

  /** Walk the child elements of [from, to), calling
    * `f(id, payloadOff, payloadLen)`. An unknown-size child is only
    * legal where the spec allows it (Segment, Cluster — `unknownOkFor`).
    * An unknown-size SEGMENT extends to the parent's (= file's) end; an
    * unknown-size CLUSTER is bounded by RFC 8794 §6.3's "ends at the
    * first element that is not a valid child" rule via
    * [[boundUnknownCluster]] — the live-capture / streamed-mux layout
    * (r16 verdict task 3), where every Cluster is emitted unknown-size
    * and followed by its sibling. For any OTHER unknown-size interior
    * the typed failure stands: resolving it in general needs the full
    * per-doctype schema, and real muxers emit unknown sizes for exactly
    * Segment and Cluster.
    */
  private def walk(filename: String, b: Array[Byte], from: Int, to: Int,
      unknownOkFor: Long => Boolean = _ => false)(
      f: (Long, Int, Int) => Unit): Unit = {
    var pos = from
    while (pos < to) {
      val (id, idLen) = readId(filename, b, pos, to)
      val (size, szLen) = readSize(filename, b, pos + idLen, to)
      val payload = pos + idLen + szLen
      val end =
        if (size == UnknownSize) {
          require(unknownOkFor(id), s"$filename: unknown-size EBML " +
            s"element 0x${id.toHexString} (only Segment/Cluster may " +
            "stream); cannot bound its payload")
          if (id == IdCluster)
            boundUnknownCluster(filename, b, payload, to)
          else to
        } else {
          require(size <= to - payload, s"$filename: EBML element " +
            s"0x${id.toHexString} claims $size bytes past its parent")
          payload + size.toInt
        }
      f(id, payload, end - payload)
      pos = end
    }
  }

  /** Payload end of an unknown-size Cluster whose payload starts at
    * `from` inside a parent bounded by `to`: scan the element stream —
    * a Segment-level id is the next sibling (the Cluster ends there), a
    * Cluster-child id is skipped over by its declared size, anything
    * else fails typed (an id outside both sets means a corrupt or
    * unschema'd stream this reader cannot bound — silently guessing
    * would mis-attribute frames). Children of an unknown-size Cluster
    * must themselves be sized (RFC 9559 gives no streaming form for
    * them), so a nested unknown size also fails typed. Total: every
    * step consumes ≥ 1 id byte, and every skip is bounds-checked
    * against the parent before it moves.
    */
  private def boundUnknownCluster(filename: String, b: Array[Byte],
      from: Int, to: Int): Int = {
    var pos = from
    while (pos < to) {
      val (id, idLen) = readId(filename, b, pos, to)
      if (SegmentLevelIds(id)) return pos
      require(ClusterChildIds(id), s"$filename: cannot bound an " +
        s"unknown-size Cluster: 0x${id.toHexString} is neither a " +
        "Cluster child nor a Segment-level sibling")
      val (size, szLen) = readSize(filename, b, pos + idLen, to)
      require(size != UnknownSize, s"$filename: unknown-size element " +
        s"0x${id.toHexString} inside an unknown-size Cluster cannot " +
        "be bounded")
      val payload = pos + idLen + szLen
      require(size <= to - payload, s"$filename: EBML element " +
        s"0x${id.toHexString} claims $size bytes past its parent")
      pos = payload + size.toInt
    }
    to // last Cluster in the stream: bounded by the parent itself
  }

  private def uint(filename: String, b: Array[Byte], off: Int,
      len: Int): Long = {
    require(len >= 1 && len <= 8,
      s"$filename: EBML uint of $len bytes")
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    v
  }

  private def ebmlFloat(filename: String, b: Array[Byte], off: Int,
      len: Int): Double = len match {
    case 4 => java.lang.Float.intBitsToFloat(uint(filename, b, off, 4).toInt)
      .toDouble
    case 8 => java.lang.Double.longBitsToDouble(uint(filename, b, off, 8))
    case n => throw new IllegalArgumentException(
      s"$filename: EBML float of $n bytes (must be 4 or 8)")
  }

  private final case class TrackHeader(num: Long, codecId: String,
      colourSpace: String, w: Int, h: Int, defaultDurationNs: Long)

  private def parseTrackEntry(filename: String, b: Array[Byte], off: Int,
      len: Int): Option[TrackHeader] = {
    var num = 0L; var typ = 0L; var codec = ""; var defDur = 0L
    var w = 0; var h = 0; var cspace = ""
    walk(filename, b, off, off + len) { (id, o, l) =>
      id match {
        case IdTrackNumber => num = uint(filename, b, o, l)
        case IdTrackType => typ = uint(filename, b, o, l)
        case IdCodecId => codec = new String(b, o, l, "US-ASCII").trim
        case IdDefaultDuration => defDur = uint(filename, b, o, l)
        case IdVideo =>
          walk(filename, b, o, o + l) { (vid, vo, vl) =>
            if (vid == IdPixelWidth) w = uint(filename, b, vo, vl).toInt
            else if (vid == IdPixelHeight) h = uint(filename, b, vo, vl).toInt
            else if (vid == IdColourSpace)
              cspace = new String(b, vo, vl, "US-ASCII").trim
          }
        case _ => ()
      }
    }
    if (typ == 1) Some(TrackHeader(num, codec, cspace, w, h, defDur))
    else None
  }

  /** One block's frames: append (offset, len, startNs) per laced frame.
    * Block payload (RFC 9559 §10): `[trackNum:VINT-size-form]
    * [relTs:s16 BE][flags:u8][lace header?][frames]`.
    */
  private def parseBlock(filename: String, b: Array[Byte], off: Int,
      len: Int, track: TrackHeader, clusterTs: Long, scaleNs: Long,
      maxFrames: Long,
      frames: scala.collection.mutable.ArrayBuilder[(Long, Int)],
      starts: scala.collection.mutable.ArrayBuilder[Long],
      count: Long): Long = {
    require(len >= 4, s"$filename: mkv block of $len bytes (need 4)")
    val (tn, tnLen) = readSize(filename, b, off, off + len)
    require(tn != UnknownSize, s"$filename: mkv block track number is " +
      "the reserved all-ones VINT")
    if (tn != track.num) return count
    require(len >= tnLen + 3,
      s"$filename: mkv block truncates before its flags byte")
    val relTs = ((b(off + tnLen) & 0xff) << 8 | (b(off + tnLen + 1) & 0xff))
      .toShort.toLong
    val flags = b(off + tnLen + 2) & 0xff
    val lacing = (flags >> 1) & 3
    var p = off + tnLen + 3
    val end = off + len
    val blockNs = (clusterTs + relTs) * scaleNs
    // per-frame byte lengths, by lacing mode
    val sizes: Array[Int] = lacing match {
      case 0 => Array(end - p)
      case _ =>
        require(p < end, s"$filename: laced mkv block truncates before " +
          "its frame count")
        val n = (b(p) & 0xff) + 1
        p += 1
        // a lace count byte of 0 (n = 1) is spec-legal: ONE frame, NO
        // explicit sizes at all — the frame is the whole remainder.
        // Falling through to the per-mode parsers would emit a 0-byte
        // frame (Xiph) or misread the frame's own first bytes as a
        // size VINT (EBML) — silently wrong frames, the one failure
        // mode this decoder's contract forbids.
        if (n == 1) Array(end - p)
        else {
        val out = new Array[Int](n)
        lacing match {
          case 1 => // Xiph: 255-continued u8 sizes for the first n-1
            var i = 0
            while (i < n - 1) {
              var sz = 0
              var more = true
              while (more) {
                require(p < end, s"$filename: Xiph lace sizes overrun " +
                  "the block")
                val v = b(p) & 0xff; p += 1
                sz += v; more = v == 255
              }
              out(i) = sz; i += 1
            }
          case 2 => // fixed-size: remainder divides evenly
            val rem = end - p
            require(rem % n == 0, s"$filename: fixed-lace block of $rem " +
              s"bytes does not divide into $n frames")
            java.util.Arrays.fill(out, rem / n)
          case _ => // EBML lacing: first size a VINT, then signed deltas
            val (first, fl) = readSize(filename, b, p, end)
            require(first != UnknownSize && first <= Int.MaxValue,
              s"$filename: EBML lace first size invalid")
            p += fl
            out(0) = first.toInt
            var i = 1
            while (i < n - 1) {
              val (raw, rl) = readSize(filename, b, p, end)
              require(raw != UnknownSize, s"$filename: EBML lace delta " +
                "is the reserved all-ones VINT")
              p += rl
              // signed VINT: value − (2^(7·len−1) − 1)
              val delta = raw - ((1L << (7 * rl - 1)) - 1)
              val sz = out(i - 1) + delta
              require(sz >= 0 && sz <= Int.MaxValue,
                s"$filename: EBML lace size $sz out of range")
              out(i) = sz.toInt
              i += 1
            }
            ()
        }
        // last frame = remainder after the explicit sizes
        val explicit = out.take(n - 1).foldLeft(0L)(_ + _)
        val last = (end - p) - explicit
        require(last >= 0, s"$filename: lace sizes overrun the block " +
          s"by ${-last} bytes")
        out(n - 1) = last.toInt
        out
        }
    }
    var c = count
    var i = 0
    var o = p.toLong
    while (i < sizes.length) {
      val sz = sizes(i)
      require(sz >= 0 && o + sz <= end,
        s"$filename: laced frame [$o, +$sz) overruns the block end $end")
      c += 1
      require(c <= maxFrames,
        s"$filename: mkv claims $c frames in a ${b.length}-byte file")
      frames += ((o, sz))
      // laced frames are DefaultDuration apart where the track declares
      // one; otherwise they share the block timestamp (non-decreasing,
      // which is all the tick selector requires)
      starts += blockNs + i.toLong * track.defaultDurationNs
      o += sz
      i += 1
    }
    c
  }

  private def parseVideoTrack(filename: String, b: Array[Byte]): Track = {
    // EBML header then Segment at top level; unknown size legal for
    // Segment (live-streaming layout) and Cluster
    var docType = ""
    var segment: Option[(Int, Int)] = None
    walk(filename, b, 0, b.length, unknownOkFor = _ == IdSegment) {
      (id, o, l) =>
        if (id == IdEbml)
          walk(filename, b, o, o + l) { (hid, ho, hl) =>
            if (hid == IdDocType)
              docType = new String(b, ho, hl, "US-ASCII").trim
          }
        else if (id == IdSegment && segment.isEmpty) segment = Some((o, l))
    }
    require(docType == "matroska" || docType == "webm",
      s"$filename: EBML DocType '$docType' is not matroska/webm")
    val (segOff, segLen) = segment.getOrElse(throw
      new IllegalArgumentException(s"$filename: mkv has no Segment"))

    var scaleNs = 1000000L // RFC 9559 default: 1 ms per tick
    var durationTicks = 0.0
    var track: Option[TrackHeader] = None
    val frames = Array.newBuilder[(Long, Int)]
    val starts = Array.newBuilder[Long]
    val maxFrames = math.max(b.length, 1024).toLong
    var count = 0L
    walk(filename, b, segOff, segOff + segLen,
      unknownOkFor = _ == IdCluster) { (id, o, l) =>
      id match {
        case IdInfo =>
          walk(filename, b, o, o + l) { (iid, io, il) =>
            if (iid == IdTimestampScale) {
              scaleNs = uint(filename, b, io, il)
              require(scaleNs > 0, s"$filename: TimestampScale is zero")
            } else if (iid == IdDuration)
              durationTicks = ebmlFloat(filename, b, io, il)
          }
        case IdTracks =>
          walk(filename, b, o, o + l) { (tid, to, tl) =>
            if (tid == IdTrackEntry && track.isEmpty)
              track = parseTrackEntry(filename, b, to, tl)
          }
        case IdCluster =>
          val tr = track.getOrElse(throw new IllegalArgumentException(
            s"$filename: mkv Cluster before any video TrackEntry"))
          var clusterTs = 0L
          var blockSeen = false
          var tsSeen = false
          walk(filename, b, o, o + l) { (cid, co, cl) =>
            cid match {
              // a segment-level id INSIDE a cluster's bounds means a
              // KNOWN-size Cluster whose declared size swallows its own
              // sibling (unknown-size Clusters are bounded at the next
              // sibling by boundUnknownCluster before this walk runs,
              // r17). Silently skipping would LOSE the sibling's
              // frames; fail typed instead.
              case IdCluster | IdInfo | IdTracks =>
                throw new IllegalArgumentException(s"$filename: segment-" +
                  "level element inside a Cluster — the Cluster's " +
                  "declared size swallows its sibling")
              case IdClusterTs =>
                // RFC 9559 puts the Timestamp first in its Cluster; a
                // Timestamp arriving AFTER blocks would mean the blocks
                // above were silently based on the wrong (zero) cluster
                // time — fail typed, never mis-time frames
                require(!blockSeen, s"$filename: Cluster Timestamp " +
                  "after its blocks — earlier frames would be mis-based")
                tsSeen = true
                clusterTs = uint(filename, b, co, cl)
              case IdSimpleBlock =>
                // the Timestamp is mandatory (RFC 9559) and must
                // PRECEDE the blocks it bases — a cluster missing it
                // would silently time every frame at cluster zero
                require(tsSeen, s"$filename: Cluster block before any " +
                  "Timestamp — frames would be silently based at 0")
                blockSeen = true
                count = parseBlock(filename, b, co, cl, tr, clusterTs,
                  scaleNs, maxFrames, frames, starts, count)
              case IdBlockGroup =>
                require(tsSeen, s"$filename: Cluster block before any " +
                  "Timestamp — frames would be silently based at 0")
                blockSeen = true
                walk(filename, b, co, co + cl) { (gid, go, gl) =>
                  if (gid == IdBlock)
                    count = parseBlock(filename, b, go, gl, tr, clusterTs,
                      scaleNs, maxFrames, frames, starts, count)
                }
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    val th = track.getOrElse(throw new IllegalArgumentException(
      s"$filename: mkv has no video track"))
    val startArr = starts.result()
    // the tick selector's binary search needs non-decreasing starts; a
    // cluster timestamp that rewinds must fail typed, not silently
    // select wrong frames (same discipline as the fragmented-mp4 tfdt)
    var si = 1
    while (si < startArr.length) {
      require(startArr(si) >= startArr(si - 1),
        s"$filename: mkv timestamps rewind at frame $si " +
          s"(${startArr(si)} < ${startArr(si - 1)})")
      si += 1
    }
    // media end: Info.Duration (ticks) where declared, else last frame
    // start + one DefaultDuration (or one tick when the track has none)
    val durationNs =
      if (durationTicks > 0) (durationTicks * scaleNs).toLong
      else if (startArr.isEmpty) 0L
      else startArr.last +
        (if (th.defaultDurationNs > 0) th.defaultDurationNs else scaleNs)
    Track(th.w, th.h, th.codecId, th.colourSpace, th.num,
      th.defaultDurationNs, frames.result(), startArr, durationNs)
  }

  /** One raw I420 frame → RGB floats, via the y4m converter (the frame
    * bytes ARE a C420 y4m frame body). Same fail-typed bounds rule as
    * the JPEG path: offsets are attacker-controlled file content.
    */
  private def i420ToRgb(filename: String, b: Array[Byte], off: Long,
      len: Int, w: Int, h: Int): Array[Float] = {
    require(w > 0 && h > 0 && w % 2 == 0 && h % 2 == 0,
      s"$filename: I420 needs positive even dimensions, got ${w}x$h")
    // LONG arithmetic: crafted huge PixelWidth/Height must not wrap the
    // expected size into range (the typed-failure contract), and the
    // RGB buffer (w·h·3 floats) must stay allocatable
    require(w.toLong * h * 3 <= Int.MaxValue,
      s"$filename: I420 ${w}x$h exceeds the pixel budget")
    val expect = w.toLong * h + 2L * ((w / 2).toLong * (h / 2))
    require(len.toLong == expect,
      s"$filename: I420 frame of $len bytes (expected $expect for ${w}x$h)")
    require(off >= 0 && off <= b.length - len,
      s"$filename: mkv frame [$off, +$len) overruns the ${b.length}-byte " +
        "file")
    Y4MFrameDecoder.toRgb(b, off.toInt,
      Y4MFrameDecoder.Header(w, h, 1L, 1L, "420mpeg2", 0))
  }

  /** Pure-JVM pixel paths: independent JPEGs (V_MJPEG) and raw planar
    * YUV 4:2:0 (V_UNCOMPRESSED with ColourSpace I420 — the y4m frame body
    * in a Matroska wrapper). Any other codec has no pixel converter: its
    * pixels come from the fallback, its metadata from the block
    * timestamps.
    */
  private def parse(filename: String, bytes: Array[Byte]): ParsedVideo = {
    require(sniff(bytes), s"$filename: not an EBML/Matroska stream")
    val track = parseVideoTrack(filename, bytes)
    require(track.samples.nonEmpty, s"$filename: mkv video track is empty")
    val rawI420 = track.codecId == "V_UNCOMPRESSED" &&
      track.colourSpace == "I420"
    ParsedVideo(track.h, track.w, track.samples.length,
      BigInt(track.durationNs), 1000000000L,
      tsMs => FrameSampler.covering(track.starts, tsMs * 1000000L),
      if (track.codecId != "V_MJPEG" && !rawI420) None
      else Some { i =>
        val (off, len) = track.samples(i)
        if (rawI420) i420ToRgb(filename, bytes, off, len, track.w, track.h)
        else FrameSampler.jpegToRgb(filename, bytes, off, len, track.w,
          track.h)
      })
  }

  // ---- fixture-writer companion (tests, debug clips) ----------------------

  /** Size VINT in its shortest form (marker bit set). */
  private def vint(v: Long): Array[Byte] = {
    require(v >= 0, s"vint of negative $v")
    var n = 1
    while (n < 8 && v >= (1L << (7 * n)) - 1) n += 1 // all-ones reserved
    val out = new Array[Byte](n)
    var i = n - 1
    var rem = v
    while (i >= 0) { out(i) = (rem & 0xff).toByte; rem >>= 8; i -= 1 }
    out(0) = (out(0) | (0x80 >> (n - 1))).toByte
    out
  }

  private def idBytes(id: Long): Array[Byte] = {
    val n = if (id <= 0xff) 1 else if (id <= 0xffff) 2
      else if (id <= 0xffffff) 3 else 4
    Array.tabulate(n)(i => ((id >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  private def el(id: Long, payload: Array[Byte]): Array[Byte] =
    idBytes(id) ++ vint(payload.length.toLong) ++ payload

  private def uintBytes(v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >>> (8 * n)) != 0) n += 1
    Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  /** Minimal valid Matroska/WebM: EBML header + Segment(Info, Tracks,
    * Clusters). `framesPerCluster` frames per Cluster; `lacing` packs
    * each cluster's frames into ONE SimpleBlock using that mode
    * (0=none: one block per frame; 1=Xiph; 2=fixed — requires
    * equal-size frames; 3=EBML). `blockGroups` emits the BlockGroup→
    * Block form instead of SimpleBlock (the other block shape the spec
    * admits). `unknownSizeClusters` writes every Cluster with the
    * reserved all-ones size VINT — the live-capture / streamed-mux
    * layout where each Cluster is bounded only by its next sibling
    * (and the last by the Segment end). fps = fpsNum/fpsDen with
    * TimestampScale 1 ms and DefaultDuration set accordingly.
    */
  def write(w: Int, h: Int, fpsNum: Long, fpsDen: Long,
      jpegFrames: Seq[Array[Byte]],
      codecId: String = "V_MJPEG",
      docType: String = "matroska",
      framesPerCluster: Int = 2,
      lacing: Int = 0,
      blockGroups: Boolean = false,
      colourSpace: String = "",
      unknownSizeClusters: Boolean = false): Array[Byte] = {
    require(framesPerCluster >= 1, "framesPerCluster must be >= 1")
    require(lacing >= 0 && lacing <= 3, "lacing must be 0..3")
    require(lacing != 2 || jpegFrames.map(_.length).distinct.size <= 1,
      "fixed-size lacing requires equal-size frames")
    val header = el(IdEbml,
      el(0x4286L, uintBytes(1)) ++ // EBMLVersion
        el(0x42f7L, uintBytes(1)) ++ // EBMLReadVersion
        el(0x42f2L, uintBytes(4)) ++ // EBMLMaxIDLength
        el(0x42f3L, uintBytes(8)) ++ // EBMLMaxSizeLength
        el(IdDocType, docType.getBytes("US-ASCII")) ++
        el(0x4287L, uintBytes(4)) ++ // DocTypeVersion
        el(0x4285L, uintBytes(2))) // DocTypeReadVersion
    val frameMs = 1000.0 * fpsDen / fpsNum
    val durationMs = jpegFrames.length * frameMs
    val durBits = java.lang.Double.doubleToLongBits(durationMs)
    val info = el(IdInfo,
      el(IdTimestampScale, uintBytes(1000000L)) ++ // 1 ms ticks
        el(IdDuration, Array.tabulate(8)(i =>
          ((durBits >> (8 * (7 - i))) & 0xff).toByte)))
    val defaultDurNs = (1000000000L * fpsDen) / fpsNum
    val tracks = el(IdTracks, el(IdTrackEntry,
      el(IdTrackNumber, uintBytes(1)) ++
        el(0x73c5L, uintBytes(0xabcdL)) ++ // TrackUID
        el(IdTrackType, uintBytes(1)) ++ // video
        el(IdCodecId, codecId.getBytes("US-ASCII")) ++
        el(IdDefaultDuration, uintBytes(defaultDurNs)) ++
        el(IdVideo,
          el(IdPixelWidth, uintBytes(w.toLong)) ++
            el(IdPixelHeight, uintBytes(h.toLong)) ++
            (if (colourSpace.isEmpty) Array.emptyByteArray
             else el(IdColourSpace,
               colourSpace.getBytes("US-ASCII"))))))
    def tsOf(i: Int): Long = math.round(i * frameMs)
    def simpleBlock(relTs: Long, body: Array[Byte],
        flags: Int): Array[Byte] = {
      val payload = Array[Byte](0x81.toByte, // track 1 VINT
        ((relTs >> 8) & 0xff).toByte, (relTs & 0xff).toByte,
        // SimpleBlock: keyframe | lacing bits; Block has no keyframe bit
        (if (blockGroups) flags else 0x80 | flags).toByte) ++ body
      if (blockGroups) el(IdBlockGroup, el(IdBlock, payload))
      else el(IdSimpleBlock, payload)
    }
    val clusters = jpegFrames.zipWithIndex.grouped(framesPerCluster)
      .map { group =>
        val clusterTs = tsOf(group.head._2)
        val blocks: Array[Byte] = lacing match {
          case 0 =>
            group.toArray.flatMap { case (f, i) =>
              simpleBlock(tsOf(i) - clusterTs, f, 0x00)
            }
          case 1 => // Xiph: 255-continued sizes for first n-1 frames
            val laceHdr = Array((group.length - 1).toByte) ++
              group.init.toArray.flatMap { case (f, _) =>
                Array.fill(f.length / 255)(255.toByte) :+
                  (f.length % 255).toByte
              }
            simpleBlock(0, laceHdr ++ group.toArray.flatMap(_._1), 0x02)
          case 2 => // fixed-size
            simpleBlock(0, Array((group.length - 1).toByte) ++
              group.toArray.flatMap(_._1), 0x04)
          case _ => // EBML: first size a VINT, then signed deltas —
            // except n = 1, which carries NO explicit sizes (the count
            // byte alone; the frame is the remainder)
            val sizes = group.map(_._1.length)
            val laceHdr = Array((group.length - 1).toByte) ++
              (if (group.length == 1) Array.emptyByteArray
               else vint(sizes.head.toLong) ++
                sizes.init.zip(sizes.tail.init).flatMap {
                  case (prev, cur) =>
                    // signed VINT: stored = delta + (2^(7·len−1) − 1); a
                    // 2-byte form covers every fixture-scale delta
                    val stored = (cur - prev).toLong + ((1L << 13) - 1)
                    val b = vint(stored)
                    require(b.length == 2, "fixture lace delta out of range")
                    b
                })
            simpleBlock(0, laceHdr ++ group.toArray.flatMap(_._1), 0x06)
        }
        val payload = el(IdClusterTs, uintBytes(clusterTs)) ++ blocks
        if (unknownSizeClusters)
          // 1-byte size VINT with every value bit set = "unknown size"
          idBytes(IdCluster) ++ Array(0xff.toByte) ++ payload
        else el(IdCluster, payload)
      }.toArray.flatten
    header ++ el(IdSegment, info ++ tracks ++ clusters)
  }
}
