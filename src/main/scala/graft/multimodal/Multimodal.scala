package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column conventions (SURVEY.md §2.4): media travels as an
  * opaque `BINARY` payload plus a typed metadata struct; decode /
  * feature-extract runs partition-parallel over the binary column.
  *
  * The decode kernel is REAL for image payloads — javax.imageio (pure JVM,
  * in every JRE) decodes PNG/BMP/GIF/JPEG and reports true dimensions —
  * REAL for WAV/AIFF audio payloads — javax.sound.sampled parses the
  * header and reports true sample rate / channels / duration — and REAL
  * for MP4/AVI video CONTAINER headers — hand-rolled box/RIFF walks
  * report true dims, duration, and track count — and, since round 13,
  * REAL for FRAME decode of the uncompressed/RLE codecs a bare JVM can
  * handle ([[frameLuma]]: BI_RGB 24-bit DIB, 8-bit palettized DIB, and
  * BI_RLE8 run-length streams; oracle-checked by t41). Compressed codecs
  * (H.264 etc.) are refused loudly, never faked. Other bytes (the
  * text-backed fixtures) fall through to a clearly-marked deterministic
  * stub.
  *
  * Container headers are read in two places, one walker per format
  * ([[walkBoxes]], [[walkRiff]]); each operator is a visitor. A walk
  * descends through an explicit stack, not a JVM frame per nesting level,
  * so its work and memory are bounded by the payload's size, and corrupt
  * or crafted media (truncated, lying sizes, 20,000 nested lists) gives a
  * fallback row — the stub, byte-slice frames or `unsupported` luma rows.
  *
  * Everything Spark-side is real and load-bearing
  * either way: the schema convention, the mapPartitions batch shape (one
  * decoder init per partition, not per row), and the feature-struct output
  * contract are exactly what a JNI/FFI decoder would plug into.
  */
object Multimodal {

  /** Canonical multimodal schema: (id, payload BINARY, meta STRUCT). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("source", StringType),
      StructField("n_bytes", LongType))), nullable = false)))

  /** Ingest a directory of media FILES as the canonical media table — the
    * real ingest edge of the multimodal pipeline. `binaryFile` (a core
    * Spark source) maps each file to (path, modificationTime, length,
    * content) with partition-parallel reads and pushable path-glob/size
    * filters; we project that onto [[mediaSchema]]: `media_id` is a
    * deterministic hash of the file path (stable across runs), `mime`
    * derives from the extension, the payload IS the file bytes, and the
    * original path rides along as `meta.source` for lineage.
    *
    * Scale shape: listing parallelizes across the driver's worker pool
    * and reads across executors; at 100 TB, point the glob at a
    * date/shard-partitioned object-store prefix and the source prunes
    * directories exactly like any file-based scan.
    *
    * Identity contract: `media_id = xxhash64(path)` is convenient for
    * joins but birthday-bounded — expect a collision somewhere beyond
    * ~4×10⁹ files. `meta.source` (the full path) is the authoritative
    * identity; corpora at that scale should key exact joins on it (or
    * extend the schema with a 128-bit digest column).
    */
  def readMediaDir(spark: SparkSession, dir: String, glob: String = "*")
      : DataFrame = {
    val ext = lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        xxhash64(col("path")).as("media_id"),
        // binaryFile declares content nullable; the canonical schema says
        // payload is not — coalesce to empty bytes keeps the contract
        // (and the non-null marker) instead of silently weakening it
        coalesce(col("content"), lit(Array.emptyByteArray)).as("payload"),
        struct(
          when(ext.isin("png"), "image/png")
            .when(ext.isin("jpg", "jpeg"), "image/jpeg")
            .when(ext.isin("gif"), "image/gif")
            .when(ext.isin("bmp"), "image/bmp")
            .when(ext.isin("wav"), "audio/wav")
            .when(ext.isin("aif", "aiff"), "audio/aiff")
            .when(ext.isin("mp4", "m4v", "mov"), "video/mp4")
            .when(ext.isin("avi"), "video/x-msvideo")
            .otherwise("application/octet-stream").as("mime"),
          col("path").as("source"),
          col("length").as("n_bytes")).as("meta"))
  }

  /** Wrap the documents table as a media table: text bytes stand in for an
    * encoded media payload (deterministic, schema-correct).
    */
  def documentsAsMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("application/octet-stream").as("mime"),
        col("source").as("source"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  final case class MediaFeatures(
      media_id: Long, mime: String, n_bytes: Long,
      width: Int, height: Int, checksum: Long,
      sample_rate: Int, channels: Int, duration_ms: Long,
      n_tracks: Int)

  /** Decoded per-payload features; unrelated modality fields are zero
    * (an image has no sample rate, audio has no pixel dims, only
    * container formats have a track count).
    */
  private final case class Decoded(width: Int, height: Int, checksum: Long,
      sampleRate: Int = 0, channels: Int = 0, durationMs: Long = 0L,
      nTracks: Int = 0)

  /** STUB decode kernel for payloads that are none of the decodable
    * formats (image / WAV / AIFF / MP4 / AVI headers): derives
    * deterministic fake dimensions + a real byte checksum so the plumbing
    * is testable end-to-end on text-backed fixtures. Frame-level video
    * decode would slot in here (no video CODEC in a bare JVM — but the
    * container HEADERS parse for real, below).
    */
  private def decodeStub(payload: Array[Byte]): Decoded = {
    val sum = byteChecksum(payload)
    val width = 64 + (sum % 577).toInt
    val height = 64 + ((sum / 577) % 433).toInt
    Decoded(width, height, sum)
  }

  /** The canonical rolling byte hash ((sum·131 + byte) mod 1e9+7) used for
    * payload and per-frame checksums; DuckDB oracles replay it with
    * `list_reduce` over the same bytes.
    */
  private def byteChecksum(p: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < p.length) { sum = (sum * 131 + (p(i) & 0xFF)) % 1000000007L; i += 1 }
    sum
  }

  /** Magic-byte sniff: only payloads that LOOK like a supported image are
    * handed to ImageIO — feeding arbitrary text bytes to reader probing
    * per row would be pure overhead on a mixed corpus.
    */
  private def looksLikeImage(p: Array[Byte]): Boolean =
    (p.length >= 8 && (p(0) & 0xFF) == 0x89 && p(1) == 'P'.toByte &&
      p(2) == 'N'.toByte && p(3) == 'G'.toByte) ||                    // PNG
    (p.length >= 2 && p(0) == 'B'.toByte && p(1) == 'M'.toByte) ||    // BMP
    (p.length >= 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8) || // JPEG
    (p.length >= 6 && p(0) == 'G'.toByte && p(1) == 'I'.toByte &&
      p(2) == 'F'.toByte)                                             // GIF

  /** Magic-byte sniff for the audio containers a bare JVM can decode:
    * WAV is RIFF....WAVE, AIFF/AIFC is FORM....AIF*.
    */
  private def looksLikeAudio(p: Array[Byte]): Boolean =
    p.length >= 12 && (
      (p(0) == 'R'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte &&
        p(3) == 'F'.toByte && p(8) == 'W'.toByte && p(9) == 'A'.toByte &&
        p(10) == 'V'.toByte && p(11) == 'E'.toByte) ||
      (p(0) == 'F'.toByte && p(1) == 'O'.toByte && p(2) == 'R'.toByte &&
        p(3) == 'M'.toByte && p(8) == 'A'.toByte && p(9) == 'I'.toByte &&
        p(10) == 'F'.toByte))

  /** Magic-byte sniff for video containers whose HEADERS a bare JVM can
    * parse: MP4-family (ISO BMFF — bytes 4-7 are "ftyp") and AVI
    * (RIFF....AVI ).
    */
  private def looksLikeMp4(p: Array[Byte]): Boolean =
    p.length >= 12 && p(4) == 'f'.toByte && p(5) == 't'.toByte &&
      p(6) == 'y'.toByte && p(7) == 'p'.toByte

  private def looksLikeAvi(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R'.toByte && p(1) == 'I'.toByte &&
      p(2) == 'F'.toByte && p(3) == 'F'.toByte && p(8) == 'A'.toByte &&
      p(9) == 'V'.toByte && p(10) == 'I'.toByte && p(11) == ' '.toByte

  private def be32(p: Array[Byte], off: Int): Long =
    ((p(off) & 0xFFL) << 24) | ((p(off + 1) & 0xFFL) << 16) |
      ((p(off + 2) & 0xFFL) << 8) | (p(off + 3) & 0xFFL)

  private def be64(p: Array[Byte], off: Int): Long =
    (be32(p, off) << 32) | be32(p, off + 4)

  private def le32(p: Array[Byte], off: Int): Long =
    ((p(off + 3) & 0xFFL) << 24) | ((p(off + 2) & 0xFFL) << 16) |
      ((p(off + 1) & 0xFFL) << 8) | (p(off) & 0xFFL)

  /** Little-endian B, G, R bytes as one 0xRRGGBB pixel. */
  private def le24(p: Array[Byte], off: Int): Int =
    ((p(off + 2) & 0xFF) << 16) | ((p(off + 1) & 0xFF) << 8) | (p(off) & 0xFF)

  private def fourcc(p: Array[Byte], off: Int): String =
    new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** An open level of a walk: its parent's type ("" at the top), a cursor. */
  private final class Level(val parent: String, var off: Int, val until: Int)

  /** The one ISO-BMFF (MP4) box walker (ISO 14496-12 §4.2). A box is a
    * 32-bit big-endian size and a type; size 1 means a 64-bit size follows
    * the type, size 0 means "to the end of the enclosing box". A box whose
    * size is under 8 or runs past its parent ends that level: the parent
    * goes on with its next sibling. `visit(parent, type, from, until)` sees
    * every box of every level it enters, in file order, depth first, with
    * its body range; it returns true to descend into that body. Open levels
    * live on an explicit stack, not on JVM frames: no nesting depth can
    * overflow the thread's stack, and as each level spends at least 8
    * payload bytes, work and memory stay bounded by the payload's size.
    */
  private def walkBoxes(p: Array[Byte])(
      visit: (String, String, Int, Int) => Boolean): Unit = {
    val open = scala.collection.mutable.Stack(new Level("", 0, p.length))
    while (open.nonEmpty) {
      val lv = open.top
      val off = lv.off
      if (lv.until - off < 8) open.pop()
      else {
        val size32 = be32(p, off)
        val (from, size) =
          if (size32 == 1L && lv.until - off >= 16) (off + 16, be64(p, off + 8))
          else if (size32 == 0L) (off + 8, (lv.until - off).toLong) // to end
          else (off + 8, size32)
        if (size < 8 || off + size > lv.until) open.pop() // malformed: level ends
        else {
          val end = off + size.toInt
          val typ = fourcc(p, off + 4)
          lv.off = end
          if (visit(lv.parent, typ, from, end)) open.push(new Level(typ, from, end))
        }
      }
    }
  }

  /** The one RIFF (AVI) chunk walker, over the chunks after the 12-byte
    * `RIFF size form` header. A chunk is a four-character id and a 32-bit
    * little-endian size; its body pads to an even length. A chunk running
    * past its list ends that level: the enclosing list goes on with its
    * next sibling. `visit(parent, id, from, until)` sees every chunk of
    * every list it enters, in file order, depth first, with its body range;
    * `parent` is the enclosing list's type ("" at the top). A `LIST`
    * chunk's body opens with its [[listType]]: true descends into the
    * chunks after it (on other chunks true means nothing). Same explicit
    * stack and bounds as [[walkBoxes]].
    */
  private def walkRiff(p: Array[Byte])(
      visit: (String, String, Int, Int) => Boolean): Unit = {
    val open = scala.collection.mutable.Stack(new Level("", 12, p.length))
    while (open.nonEmpty) {
      val lv = open.top
      val off = lv.off
      if (lv.until - off < 8) open.pop()
      else {
        val size = le32(p, off + 4) // unsigned 32-bit: never negative
        val from = off + 8
        if (from + size > lv.until) open.pop() // malformed: level ends
        else {
          val end = from + size.toInt
          val id = fourcc(p, off)
          lv.off = end + (size.toInt & 1) // even padding
          if (visit(lv.parent, id, from, end) && id == "LIST" && size >= 4)
            open.push(new Level(fourcc(p, from), from + 4, end))
        }
      }
    }
  }

  /** The type a `LIST` chunk's body opens with; "" when it is too short. */
  private def listType(p: Array[Byte], from: Int, until: Int): String =
    if (until - from >= 4) fourcc(p, from) else ""

  /** Pure-JVM MP4 (ISO BMFF) header parse, a [[walkBoxes]] visitor: reads
    * `moov`/`mvhd` (timescale + duration → duration_ms), counts `trak`
    * boxes, and reads presentation width/height from each `tkhd` (16.16
    * fixed point, the final 8 bytes of the box in both v0 and v1
    * layouts — ISO 14496-12 §8.3.2). None without a trak; no codec work,
    * header-only, reference: the audio header decode above.
    */
  private def parseMp4(p: Array[Byte]): Option[Decoded] = try {
    var durationMs = 0L
    var nTracks = 0
    var width = 0
    var height = 0
    walkBoxes(p) { (parent, typ, from, until) =>
      typ match {
        case "moov" => parent == ""
        case "trak" if parent == "moov" =>
          nTracks += 1
          true
        case "mvhd" if parent == "moov" && from + 4 <= until =>
          val version = p(from) & 0xFF
          if (version == 1 && from + 32 <= until) {
            val timescale = be32(p, from + 20)
            val duration = be64(p, from + 24)
            // overflow guard: a corrupt duration near 2^63 would wrap
            // negative on *1000 — report it via Math.multiplyHigh-free
            // bounds check instead of emitting garbage
            if (timescale > 0 && duration >= 0 &&
                duration <= Long.MaxValue / 1000L)
              durationMs = duration * 1000L / timescale
          } else if (version == 0 && from + 20 <= until) {
            val timescale = be32(p, from + 12)
            val duration = be32(p, from + 16) // unsigned 32-bit: *1000 can't overflow
            if (timescale > 0) durationMs = duration * 1000L / timescale
          }
          false
        case "tkhd" if parent == "trak" && until - from >= 8 =>
          // width/height close the box in every tkhd version
          val w = (be32(p, until - 8) >> 16).toInt
          val h = (be32(p, until - 4) >> 16).toInt
          if (w > width) width = w
          if (h > height) height = h
          false
        case _ => false
      }
    }
    if (nTracks == 0) None
    else Some(Decoded(width, height, 0L, durationMs = durationMs, nTracks = nTracks))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Pure-JVM AVI header parse, a [[walkRiff]] visitor: looks through
    * every list for the `avih` main header (in LIST/hdrl) — µs-per-frame
    * × total frames → duration_ms, dwStreams → track count,
    * dwWidth/dwHeight → dims. None when no avih is found.
    */
  private def parseAvi(p: Array[Byte]): Option[Decoded] = try {
    var found: Option[Decoded] = None
    walkRiff(p) { (_, id, body, until) =>
      if (id == "avih" && until - body >= 40 && found.isEmpty) {
        val usPerFrame = le32(p, body)
        val totalFrames = le32(p, body + 16)
        // unsigned 32-bit fields: a raw .toInt would sign-wrap
        // adversarial values (dwStreams=0xFFFFFFFF → -1 tracks); clamp
        // over-Int values to 0 like the duration guard below
        def clamped(v: Long): Int = if (v > Int.MaxValue) 0 else v.toInt
        val streams = clamped(le32(p, body + 24))
        val w = clamped(le32(p, body + 32))
        val h = clamped(le32(p, body + 36))
        // both fields are unsigned 32-bit (≤ ~4.3e9): their product can
        // reach ~1.8e19 > Long.MaxValue on an adversarial header, so
        // divide before multiplying overflows
        val durMs =
          if (usPerFrame > 0 && totalFrames > Long.MaxValue / usPerFrame) 0L
          else totalFrames * usPerFrame / 1000L
        found = Some(Decoded(w, h, 0L, durationMs = durMs, nTracks = streams))
      }
      found.isEmpty // every list, until the first avih
    }
    found
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The AVI video stream's pixel format, from the stream header list
    * (LIST/hdrl → LIST/strl whose `strh.fccType` is `vids` → `strf`
    * BITMAPINFOHEADER: biWidth at +4, biHeight at +8 — SIGNED, negative
    * means top-down rows — biBitCount at +14, biCompression at +16).
    * This is what turns the demuxed `00db` chunks from opaque bytes into
    * decodable frames: BI_RGB (compression 0) chunks are complete
    * uncompressed DIBs, the `rawvideo` codec.
    */
  private[graft] final case class DibFormat(width: Int, height: Int,
      bitCount: Int, compression: Long,
      palette: Array[Int] = Array.empty) {
    def topDown: Boolean = height < 0
    def absHeight: Int = math.abs(height)
    /** DIB rows pad to 4-byte boundaries; Long, so no crafted size wraps. */
    def rowStride: Long = ((width.toLong * (bitCount / 8)) + 3) & ~3L
    def frameBytes: Long = rowStride * absHeight
    def isRawRgb24: Boolean =
      compression == 0L && bitCount == 24 && width > 0 && absHeight > 0
    /** 8-bit palettized uncompressed — indices into the strf palette. */
    def isPal8: Boolean =
      compression == 0L && bitCount == 8 && palette.nonEmpty &&
        width > 0 && absHeight > 0
    /** BI_RLE8 (compression 1) — run-length-encoded palette indices; the
      * format forbids top-down RLE, so height must be positive.
      */
    def isRle8: Boolean =
      compression == 1L && bitCount == 8 && palette.nonEmpty &&
        width > 0 && height > 0
    def decodable: Boolean = isRawRgb24 || isPal8 || isRle8
    /** Codec label for the decodable formats. */
    def codecName: String = if (isRle8) "rle8" else "rawvideo"
    /** Luma per palette entry — computed once per format, probed per pixel. */
    lazy val paletteLumaMilli: Array[Long] = palette.map(lumaMilli)
  }

  /** A `strf` body [from, until) of at least 20 bytes as a [[DibFormat]]. */
  private def strfFormat(p: Array[Byte], from: Int, until: Int): DibFormat = {
    val size = until - from
    val w = le32(p, from + 4).toInt
    val h = le32(p, from + 8).toInt // signed: negative = top-down
    val bits = (p(from + 14) & 0xFF) | ((p(from + 15) & 0xFF) << 8)
    // palette (RGBQUAD = B,G,R,reserved) follows the 40-byte
    // header for <=8-bit formats: biClrUsed entries, or the full
    // 2^bitCount when biClrUsed is 0 — bounded by the strf size
    val declared =
      if (size >= 36 && bits <= 8) {
        val used = le32(p, from + 32)
        if (used > 0) used.toInt else 1 << bits
      } else 0
    val avail = if (size > 40) (size - 40) / 4 else 0
    val pal = Array.tabulate(math.max(math.min(declared, avail), 0))(i =>
      le24(p, from + 40 + i * 4))
    DibFormat(w, h, bits, le32(p, from + 16), pal)
  }

  /** A demuxed video track: frames in file order, and AVI's pixel format. */
  private[graft] final case class Demuxed(frames: Vector[Array[Byte]],
      format: Option[DibFormat])

  /** Demux an AVI payload in one [[walkRiff]] walk: the `NNdb`/`NNdc`
    * chunks (uncompressed / compressed video data for stream NN) of each
    * top-level `movi` list and of the `rec ` interleave groups nested in
    * it, in file order — for MJPEG AVIs each chunk is a complete JPEG —
    * and the [[DibFormat]] of the first video stream. None when no movi
    * list holds a video chunk, so callers can fall back to byte-slicing.
    */
  private[graft] def demuxAvi(p: Array[Byte]): Option[Demuxed] = try {
    val frames = Vector.newBuilder[Array[Byte]]
    var format: Option[DibFormat] = None
    var isVids = false // the current strl's strh names a video stream
    def isVideoChunk(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        id(2) == 'd' && (id(3) == 'b' || id(3) == 'c')
    walkRiff(p) { (parent, id, body, until) =>
      if (id == "LIST") (parent, listType(p, body, until)) match {
        case ("" | "hdrl", "hdrl") | ("", "movi") | ("movi" | "rec ", "rec ") => true
        case ("hdrl", "strl") =>
          isVids = false
          true
        case _ => false
      } else {
        if ((parent == "movi" || parent == "rec ") && isVideoChunk(id))
          frames += java.util.Arrays.copyOfRange(p, body, until)
        else if (parent == "strl" && id == "strh" && until - body >= 4)
          isVids = fourcc(p, body) == "vids"
        else if (parent == "strl" && id == "strf" && isVids &&
            format.isEmpty && until - body >= 20)
          format = Some(strfFormat(p, body, until))
        false
      }
    }
    val out = frames.result()
    if (out.nonEmpty) Some(Demuxed(out, format)) else None
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Integer BT.601 luma of one 0xRRGGBB pixel in milli-units: the one
    * spelling every frame decoder sums, so a mean (one division at the end)
    * is the same integer on every JVM — no float accumulation.
    */
  private def lumaMilli(rgb: Int): Long =
    299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) +
      114L * (rgb & 0xFF)

  /** REAL rawvideo decode: mean luma ([[lumaMilli]]) over an
    * uncompressed DIB frame's actual pixels — 24-bit BGR, or 8-bit
    * indices into the strf palette — rows 4-byte padded, bottom-up unless
    * biHeight was negative. BI_RLE8 frames go to [[rle8MeanLumaMilli]].
    * None when the chunk isn't a full frame for the advertised format
    * (truncated chunk — data, not a bug) or an index falls outside the
    * palette (a corrupt frame: refuse, not guess).
    */
  private[graft] def dibMeanLumaMilli(bytes: Array[Byte],
      fmt: DibFormat): Option[Long] =
    if (fmt.isRle8) rle8MeanLumaMilli(bytes, fmt)
    else if (!(fmt.isRawRgb24 || fmt.isPal8) || bytes.length < fmt.frameBytes)
      None
    else {
      val pal8 = fmt.isPal8
      val lut = fmt.paletteLumaMilli
      val stride = fmt.rowStride.toInt // fits: the frame fits in `bytes`
      var sum = 0L
      var y = 0
      while (y < fmt.absHeight) {
        val ro = (if (fmt.topDown) y else fmt.absHeight - 1 - y) * stride
        var x = 0
        while (x < fmt.width) {
          if (pal8) {
            val idx = bytes(ro + x) & 0xFF
            if (idx >= lut.length) return None
            sum += lut(idx)
          } else sum += lumaMilli(le24(bytes, ro + x * 3))
          x += 1
        }
        y += 1
      }
      Some(sum / (fmt.width.toLong * fmt.absHeight))
    }

  /** BI_RLE8 decode-to-luma: walks the encoded stream (count>0 = a run of
    * `count` copies of the following palette index; count=0 escapes:
    * 0=end-of-line, 1=end-of-bitmap, 2=delta, >=3 = that many absolute
    * indices, word-aligned) summing palette lumas. Mean luma is
    * row-order-invariant, so only COVERAGE matters: the decode must
    * paint exactly width×height pixels with no row overflow. Delta
    * escapes and truncated/overflowing streams leave pixels undefined →
    * None (an honest refusal beats a guessed brightness).
    */
  private def rle8MeanLumaMilli(bytes: Array[Byte],
      fmt: DibFormat): Option[Long] = {
    val lut = fmt.paletteLumaMilli
    val w = fmt.width
    val total = w.toLong * fmt.absHeight
    var sum = 0L
    var painted = 0L
    var x = 0
    var i = 0
    var done = false
    while (!done) {
      if (i + 2 > bytes.length) return None // truncated before EOD
      val count = bytes(i) & 0xFF
      val second = bytes(i + 1) & 0xFF
      i += 2
      if (count > 0) { // encoded run
        if (x + count > w || second >= lut.length) return None
        sum += count.toLong * lut(second)
        painted += count
        x += count
      } else second match {
        case 0 => // end of line: this encoder requires full rows
          if (x != w) return None
          x = 0
        case 1 => // end of bitmap
          if (painted != total || (x != 0 && x != w)) return None
          done = true
        case 2 => return None // delta: undefined gap — refuse
        case n => // absolute mode: n raw indices, padded to word boundary
          if (x + n > w || i + n > bytes.length) return None
          var j = 0
          while (j < n) {
            val idx = bytes(i + j) & 0xFF
            if (idx >= lut.length) return None
            sum += lut(idx)
            j += 1
          }
          painted += n
          x += n
          i += n + (n & 1)
      }
    }
    Some(sum / total)
  }

  /** ImageIO decode of image bytes; None when they don't decode (a
    * truncated frame — data, not a bug).
    */
  private def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** (width, height, mean luma) of an ImageIO-decodable frame (the MJPEG
    * path), from one decode; the mean sums [[lumaMilli]] like the DIB path.
    */
  private def imageLuma(bytes: Array[Byte]): Option[(Int, Int, Long)] =
    readImage(bytes).filter(img => img.getWidth > 0 && img.getHeight > 0)
      .flatMap { img =>
        try {
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += lumaMilli(img.getRGB(x, y))
              x += 1
            }
            y += 1
          }
          Some((img.getWidth, img.getHeight,
            sum / (img.getWidth.toLong * img.getHeight)))
        } catch { case scala.util.control.NonFatal(_) => None }
      }

  /** Demux an MP4 payload's video-track samples via the sample tables
    * (ISO 14496-12 §8.5-8.7: `stsz`/`stsc`/`stco`|`co64` under
    * trak/mdia/minf/stbl; the video trak is identified by its `hdlr`
    * handler_type `vide`), read by a [[walkBoxes]] visitor. Each sample's
    * byte range is reconstructed chunk by chunk: chunk offsets from
    * stco/co64, the chunk's sample count from the stsc run covering it
    * (entries are 1-based first_chunk runs), consecutive sample sizes
    * from stsz — linear in the table sizes. For MJPEG/JPEG-coded tracks
    * each sample is a complete JPEG, same as the AVI `00dc` contract.
    * Returns None when no video trak carries usable tables or any
    * reconstructed range escapes the payload — callers fall back to
    * byte-slicing.
    */
  private[graft] def demuxMp4Frames(p: Array[Byte]): Option[Vector[Array[Byte]]] = try {
    final class Tables {
      var handler = ""
      var uniformSize = 0L
      var sizes: Array[Long] = Array.empty
      var sampleCount = 0
      var stsc: Array[(Long, Long)] = Array.empty // (first_chunk, samples_per_chunk)
      var offsets: Array[Long] = Array.empty
    }
    val traks = scala.collection.mutable.ArrayBuffer.empty[Tables]
    var cur: Tables = null
    walkBoxes(p) { (parent, typ, from, until) =>
      typ match {
        case "moov" | "mdia" | "minf" | "stbl" => true
        case "trak" =>
          cur = new Tables
          traks += cur
          true
        // ONLY the mdia-level hdlr names the track's media type —
        // QuickTime-style files carry a second minf-level hdlr (data
        // handler, e.g. 'dhlr'/'alis') that must not overwrite 'vide'
        case "hdlr" if parent == "mdia" && cur != null && from + 12 <= until =>
          cur.handler = fourcc(p, from + 8)
          false
        case "stsz" if cur != null && from + 12 <= until =>
          cur.uniformSize = be32(p, from + 4)
          val n = be32(p, from + 8)
          if (n <= Int.MaxValue) {
            cur.sampleCount = n.toInt
            if (cur.uniformSize == 0L && from + 12 + 4L * n <= until)
              cur.sizes = Array.tabulate(n.toInt)(i => be32(p, from + 12 + 4 * i))
          }
          false
        case "stsc" if cur != null && from + 8 <= until =>
          val n = be32(p, from + 4)
          if (n <= Int.MaxValue && from + 8 + 12L * n <= until)
            cur.stsc = Array.tabulate(n.toInt) { i =>
              (be32(p, from + 8 + 12 * i), be32(p, from + 8 + 12 * i + 4))
            }
          false
        case "stco" if cur != null && from + 8 <= until =>
          val n = be32(p, from + 4)
          if (n <= Int.MaxValue && from + 8 + 4L * n <= until)
            cur.offsets = Array.tabulate(n.toInt)(i => be32(p, from + 8 + 4 * i))
          false
        case "co64" if cur != null && from + 8 <= until =>
          val n = be32(p, from + 4)
          if (n <= Int.MaxValue && from + 8 + 8L * n <= until)
            cur.offsets = Array.tabulate(n.toInt)(i => be64(p, from + 8 + 8 * i))
          false
        case _ => false
      }
    }
    traks
      .find(t => t.handler == "vide" && t.sampleCount > 0 &&
        t.offsets.nonEmpty && t.stsc.nonEmpty &&
        (t.uniformSize > 0L || t.sizes.length == t.sampleCount))
      .flatMap { t =>
        def sampleSize(i: Int): Long =
          if (t.uniformSize > 0L) t.uniformSize else t.sizes(i)
        val frames = Vector.newBuilder[Array[Byte]]
        var si = 0
        var ci = 0
        var run = 0 // stsc runs whose first_chunk <= the current chunk
        var perChunk = 0L
        var ok = true
        while (ci < t.offsets.length && si < t.sampleCount && ok) {
          // samples_per_chunk for 1-based chunk ci + 1: the last run of
          // the longest prefix of runs whose first_chunk <= ci + 1. The
          // chunk number only grows, so that prefix only grows too
          while (run < t.stsc.length && t.stsc(run)._1 <= ci + 1) {
            perChunk = t.stsc(run)._2
            run += 1
          }
          var inChunk = 0L
          var off = t.offsets(ci)
          while (inChunk < perChunk && si < t.sampleCount && ok) {
            val sz = sampleSize(si)
            if (off < 0 || sz < 0 || off + sz > p.length) ok = false
            else {
              frames += java.util.Arrays.copyOfRange(p, off.toInt, (off + sz).toInt)
              off += sz; si += 1; inChunk += 1
            }
          }
          ci += 1
        }
        val out = frames.result()
        // partial tables (fewer chunk samples than stsz claims) are
        // malformed — fall back rather than emit a silently-short track
        if (ok && si == t.sampleCount && out.nonEmpty) Some(out) else None
      }
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The video track of an AVI or MP4 payload, sniffed and walked once;
    * None for any other payload or one without demuxable video.
    */
  private def demux(p: Array[Byte]): Option[Demuxed] =
    if (looksLikeAvi(p)) demuxAvi(p)
    else if (looksLikeMp4(p)) demuxMp4Frames(p).map(Demuxed(_, None))
    else None

  /** Deterministic synthetic ISO-BMFF builder (ISO 14496-12 §8.5-8.7) —
    * the fixture/oracle surface for [[demuxMp4Frames]]: packs `samples`
    * into an ftyp + mdat + moov file whose video trak carries REAL
    * stsz/stsc/stco sample tables. Chunking: `firstChunkSamples` samples
    * in chunk 1, `restChunkSamples` in every later chunk — a genuine
    * multi-run stsc whenever both run kinds appear (a short final chunk
    * is expressed through the sample count, the common writer shape).
    * `uniform` writes a constant sample_size instead of the per-sample
    * table (all samples must share one length); `co64` stores 64-bit
    * chunk offsets. A QuickTime-style minf-level data hdlr ('dhlr') is
    * ALWAYS present, so a consumer that mis-scopes the handler walk
    * (reading any hdlr rather than the mdia-level one) loses the 'vide'
    * track and fails the oracle, not production.
    */
  private[graft] def synthMp4(samples: Seq[Array[Byte]],
      firstChunkSamples: Int = 3, restChunkSamples: Int = 2,
      uniform: Boolean = false, co64: Boolean = false): Array[Byte] = {
    require(samples.nonEmpty, "synthMp4 needs at least one sample")
    require(firstChunkSamples >= 1 && restChunkSamples >= 1,
      "chunk sample counts must be >= 1")
    def be32b(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be64b(v: Long): Array[Byte] = be32b(v >>> 32) ++ be32b(v & 0xFFFFFFFFL)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32b(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
    def hdlrBox(handler: String): Array[Byte] =
      box("hdlr", be32b(0L) ++ be32b(0L) ++ handler.getBytes("US-ASCII") ++
        new Array[Byte](13)) // reserved ×3 + empty name
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32b(512L))
    val mdatBody = {
      val bos = new java.io.ByteArrayOutputStream()
      samples.foreach(bos.write)
      bos.toByteArray
    }
    val mdat = box("mdat", mdatBody)
    val ns = samples.length
    val lens = samples.map(_.length.toLong)
    val cumul = lens.scanLeft(0L)(_ + _) // sample i's offset within mdatBody
    val mdatStart = ftyp.length + 8L // mdat body offset within the file
    val first = math.min(firstChunkSamples, ns)
    val chunkStarts =
      0 +: Iterator.iterate(first)(_ + restChunkSamples).takeWhile(_ < ns).toSeq
    val chunkOffsets = chunkStarts.map(s => mdatStart + cumul(s))
    val stscRuns =
      if (ns <= first) Seq((1L, first.toLong))
      else Seq((1L, first.toLong), (2L, restChunkSamples.toLong))
    val stsz =
      if (uniform) {
        require(lens.distinct.size == 1, "uniform stsz needs equal sample sizes")
        box("stsz", be32b(0L) ++ be32b(lens.head) ++ be32b(ns.toLong))
      } else
        box("stsz", be32b(0L) ++ be32b(0L) ++ be32b(ns.toLong) ++
          lens.flatMap(be32b).toArray)
    val stsc = box("stsc", be32b(0L) ++ be32b(stscRuns.length.toLong) ++
      stscRuns.flatMap { case (fc, spc) => be32b(fc) ++ be32b(spc) ++ be32b(1L) }
        .toArray)
    val stco =
      if (co64) box("co64", be32b(0L) ++ be32b(chunkOffsets.length.toLong) ++
        chunkOffsets.flatMap(be64b).toArray)
      else box("stco", be32b(0L) ++ be32b(chunkOffsets.length.toLong) ++
        chunkOffsets.flatMap(be32b).toArray)
    val moov = box("moov", box("trak", box("mdia",
      hdlrBox("vide") ++
        box("minf", hdlrBox("dhlr") ++ box("stbl", stsz ++ stsc ++ stco)))))
    ftyp ++ mdat ++ moov
  }

  /** Wrap documents as REAL (synthetic) MP4 media: each document's UTF-8
    * text bytes become the video samples of a demuxable ISO-BMFF file —
    * `sampleBytes`-sized samples, multi-run stsc chunking, a QuickTime
    * minf-level hdlr — so the frame-sampling oracle (t29) verifies
    * [[demuxMp4Frames]]' sample reconstruction against an independent
    * SQL replay of the sample geometry (the documents text is ASCII, so
    * per-character code points equal the payload bytes). Empty documents
    * are the caller's to filter: a zero-sample trak is not demuxable.
    */
  def documentsAsMp4Media(docs: DataFrame, sampleBytes: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val built = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        (id, synthMp4(bytes.grouped(sampleBytes).toSeq))
      })
      .toDF("media_id", "payload")
    built.select(col("media_id"), col("payload"),
      struct(lit("video/mp4").as("mime"), lit("synth-mp4").as("source"),
        length(col("payload")).cast("long").as("n_bytes")).as("meta"))
  }

  private def leBytes(v: Int): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** A minimal real AVI wrapping `frames` as `00db` DIB chunks of an
    * 8-bit video stream with an identity GRAYSCALE palette
    * (entry i = (i,i,i), so pixel luma is exactly 1000·i milli-units —
    * what makes the t41 oracle a plain SQL byte sum). `compression`
    * 0 = raw indices (rows already stride-padded by the caller),
    * 1 = BI_RLE8 (the caller passes encoded streams).
    */
  private[graft] def synthDibAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
      compression: Int): Array[Byte] = {
    def chunk(f: Array[Byte]): Array[Byte] = {
      val c = "00db".getBytes("US-ASCII") ++ leBytes(f.length) ++ f
      if (f.length % 2 == 1) c :+ 0.toByte else c
    }
    val body = frames.flatMap(chunk).toArray
    val movi = "LIST".getBytes("US-ASCII") ++ leBytes(4 + body.length) ++
      "movi".getBytes("US-ASCII") ++ body
    val avihData = leBytes(33333) ++ leBytes(0) ++ leBytes(0) ++ leBytes(0) ++
      leBytes(frames.size) ++ leBytes(0) ++ leBytes(1) ++ leBytes(0) ++
      leBytes(w) ++ leBytes(h) ++ new Array[Byte](16)
    val avih = "avih".getBytes("US-ASCII") ++ leBytes(avihData.length) ++ avihData
    val strhData = "vids".getBytes("US-ASCII") ++ new Array[Byte](52)
    val strh = "strh".getBytes("US-ASCII") ++ leBytes(strhData.length) ++ strhData
    val palette = Array.tabulate(256)(i =>
      Array(i.toByte, i.toByte, i.toByte, 0.toByte)).flatten
    val strfData = leBytes(40) ++ leBytes(w) ++ leBytes(h) ++
      Array[Byte](1, 0, 8, 0) ++ leBytes(compression) ++
      new Array[Byte](12) ++ leBytes(256) ++ leBytes(0) ++ palette
    val strf = "strf".getBytes("US-ASCII") ++ leBytes(strfData.length) ++ strfData
    val strl = "LIST".getBytes("US-ASCII") ++
      leBytes(4 + strh.length + strf.length) ++
      "strl".getBytes("US-ASCII") ++ strh ++ strf
    val hdrl = "LIST".getBytes("US-ASCII") ++
      leBytes(4 + avih.length + strl.length) ++
      "hdrl".getBytes("US-ASCII") ++ avih ++ strl
    "RIFF".getBytes("US-ASCII") ++ leBytes(4 + hdrl.length + movi.length) ++
      "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
  }

  /** BI_RLE8-encode one frame of raw palette indices (row-major, `w` per
    * row): encoded runs capped at 255, end-of-line after every row,
    * end-of-bitmap last — the strictly-covering stream
    * [[dibMeanLumaMilli]]'s RLE walker accepts.
    */
  private[graft] def rle8Encode(pixels: Array[Byte], w: Int, h: Int)
      : Array[Byte] = {
    require(pixels.length == w * h, s"need $w*$h pixels, got ${pixels.length}")
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = pixels(y * w + x)
        var run = 1
        while (x + run < w && run < 255 && pixels(y * w + x + run) == v) run += 1
        out += run.toByte += v
        x += run
      }
      if (y < h - 1) { out += 0 += 0 } // EOL
      y += 1
    }
    out += 0 += 1 // EOD
    out.toArray
  }

  /** Wrap documents as REAL (synthetic) DIB video: each document's UTF-8
    * text bytes become the pixels of `w`×`h` 8-bit frames over an
    * identity grayscale palette (tail frame zero-padded), so the
    * frame-luma oracle (t41) replays every decoded value as
    * `(1000 · Σ frame bytes) / (w·h)` in plain SQL. Even doc_ids encode
    * BI_RLE8, odd raw BI_RGB — one corpus exercises both decoders.
    * `w` must be a multiple of 4 (raw rows then need no stride pad, so
    * raw pixel bytes == text bytes). ASCII text is the t10/t29 contract
    * that makes code points equal payload bytes.
    */
  def documentsAsDibVideo(docs: DataFrame, w: Int = 16, h: Int = 4)
      : DataFrame = {
    require(w % 4 == 0 && w > 0 && h > 0, s"w must be a positive multiple of 4")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val frames = bytes.grouped(w * h).map(g =>
          if (g.length == w * h) g else g ++ new Array[Byte](w * h - g.length))
          .toSeq
        val payload =
          if (id % 2 == 0)
            synthDibAvi(frames.map(rle8Encode(_, w, h)), w, h, compression = 1)
          else synthDibAvi(frames, w, h, compression = 0)
        (id, payload)
      })
      .toDF("media_id", "payload")
  }

  /** Decode: real javax.imageio dimensions for image payloads, real
    * javax.sound.sampled header decode (sample rate / channels / duration)
    * for WAV/AIFF payloads, real container-header decode (dims / duration
    * / track count) for MP4/AVI payloads, stub otherwise; the checksum is
    * always the true byte checksum. A sniffed payload the decoder still
    * can't parse (truncated file) falls back to the stub rather than
    * failing the task — corrupt media is data, not a bug.
    */
  private def decode(payload: Array[Byte]): Decoded = {
    val stub = decodeStub(payload)
    if (looksLikeImage(payload))
      readImage(payload).fold(stub)(img =>
        stub.copy(width = img.getWidth, height = img.getHeight))
    else if (looksLikeAudio(payload))
      try {
        // header-only parse (no PCM decode): ByteArrayInputStream supports
        // the mark/reset the sound SPI probes require
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(payload))
        val fmt = aff.getFormat
        val frames = aff.getFrameLength
        val durationMs =
          if (frames == javax.sound.sampled.AudioSystem.NOT_SPECIFIED ||
              fmt.getFrameRate <= 0) 0L
          else math.round(frames * 1000.0 / fmt.getFrameRate)
        Decoded(0, 0, stub.checksum,
          math.round(fmt.getSampleRate), fmt.getChannels, durationMs)
      } catch { case scala.util.control.NonFatal(_) => stub }
    else if (looksLikeMp4(payload))
      parseMp4(payload).map(_.copy(checksum = stub.checksum)).getOrElse(stub)
    else if (looksLikeAvi(payload))
      parseAvi(payload).map(_.copy(checksum = stub.checksum)).getOrElse(stub)
    else stub
  }

  /** Partition-parallel feature extraction over the binary column. The
    * mapPartitions boundary is the real design point: decoder state is
    * initialized once per partition and rows stream through it — the Scala
    * image of a Pandas-UDF `mapInPandas` batch kernel.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"), col("meta.mime"), col("meta.n_bytes"))
      .as[(Long, Array[Byte], String, Long)]
      .mapPartitions { rows =>
        // per-partition decoder init (once, not per row): ImageIO's disk
        // cache is pure overhead for in-memory byte payloads
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload, mime, nBytes) =>
          val d = decode(payload)
          MediaFeatures(id, mime, nBytes, d.width, d.height, d.checksum,
            d.sampleRate, d.channels, d.durationMs, d.nTracks)
        }
      }
  }

  final case class MediaResized(media_id: Long, width: Int, height: Int,
      payload: Array[Byte])

  /** STUB resize: nearest-neighbor over the 1-D byte stream to exactly
    * width*height output bytes (a real scaler resamples a pixel grid; the
    * batch shape — fixed output size per row, mapPartitions kernel — is
    * identical). Deterministic; output size is schema-knowable.
    */
  def resize(media: DataFrame, width: Int, height: Int): Dataset[MediaResized] = {
    val spark = media.sparkSession
    import spark.implicits._
    val outLen = width * height
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val out = new Array[Byte](outLen)
          if (payload.nonEmpty) {
            var i = 0
            while (i < outLen) {
              out(i) = payload((i.toLong * payload.length / outLen).toInt)
              i += 1
            }
          }
          MediaResized(id, width, height, out)
        }
      }
  }

  final case class MediaFrame(media_id: Long, frame_idx: Int,
      frame_bytes: Array[Byte], width: Int, height: Int, checksum: Long,
      demuxed: Boolean)

  /** Frame sampling: REAL demux for AVI and MP4 payloads — an AVI `movi`
    * list's video chunks and an MP4 video trak's samples (reconstructed
    * from the stsz/stsc/stco tables, [[demuxMp4Frames]]) ARE the frames,
    * and MJPEG chunks/samples are complete JPEGs, so width/height are
    * true ImageIO-decoded dimensions — with fixed-size byte slices as
    * the fallback for payloads whose codec a bare JVM cannot demux
    * (fallback frames carry width=height=0, demuxed=false).
    * Every `stride`-th frame is emitted either way, and `checksum` is
    * always the true rolling byte hash of the emitted frame. The row→rows
    * fan-out (flatMap inside a mapPartitions kernel, decoder initialized
    * once per partition) is the contract a full demuxer plugs into — one
    * input row explodes to a bounded set of frame rows, partition-local,
    * no shuffle.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 256, stride: Int = 4)
      : Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // once per partition
        rows.flatMap { case (id, payload) =>
          demux(payload) match {
            case Some(Demuxed(chunks, format)) =>
              // rawvideo dims come from the stream format header, read by
              // the demux walk (not per frame — every 00db chunk shares it)
              val dib = format.filter(_.isRawRgb24)
              (0 until chunks.length by stride).iterator.map { ci =>
                val bytes = chunks(ci)
                val (w, h) =
                  if (looksLikeImage(bytes))
                    readImage(bytes).fold((0, 0))(img => (img.getWidth, img.getHeight))
                  else dib match {
                    case Some(f) if bytes.length >= f.frameBytes =>
                      (f.width, f.absHeight)
                    case _ => (0, 0)
                  }
                MediaFrame(id, ci, bytes, w, h, byteChecksum(bytes),
                  demuxed = true)
              }
            case None =>
              val nChunks = (payload.length + frameBytes - 1) / frameBytes
              (0 until nChunks by stride).iterator.map { ci =>
                val from = ci * frameBytes
                val until = math.min(from + frameBytes, payload.length)
                val bytes = java.util.Arrays.copyOfRange(payload, from, until)
                MediaFrame(id, ci, bytes, 0, 0, byteChecksum(bytes),
                  demuxed = false)
              }
          }
        }
      }
  }

  final case class FrameLuma(media_id: Long, frame_idx: Int, width: Int,
      height: Int, codec: String, mean_luma_milli: Long)

  /** Per-frame mean luminance over REAL decoded pixels — the decode stage
    * a bare JVM can actually run, closing the "codec decode beyond MJPEG"
    * stub for the rawvideo case:
    *
    *   - `rawvideo`: BI_RGB DIB chunks in an AVI whose `strf` advertises
    *     compression 0 — 24-bit BGR or 8-bit palettized (round 14), our
    *     own row/stride/bottom-up pixel walk ([[dibMeanLumaMilli]]), no
    *     ImageIO involved.
    *   - `rle8`: BI_RLE8 (compression 1) run-length-encoded palette
    *     indices (round 14) — decoded by our own run walker with strict
    *     coverage checks; delta escapes and truncated streams refuse.
    *   - `mjpeg`: JPEG chunks/samples (AVI `00dc` or MP4 stsz/stsc/stco
    *     samples) through the JRE's ImageIO JPEG decoder.
    *   - anything else: `codec = "unsupported"`, luma −1 and 0×0 dims —
    *     the EXPLICIT refusal row the spec pins, never a silent guess
    *     (H.264 and friends need a real codec library; a wrong number
    *     here would poison any downstream filter keyed on brightness).
    *
    * Every decoder sums one integer BT.601 spelling ([[lumaMilli]],
    * one division at the end), so values are deterministic across JVMs.
    * The frames and the stream format come from one walk of the payload,
    * and each MJPEG frame is decoded once. Same mapPartitions fan-out
    * contract as [[sampleFrames]]: partition-local, no shuffle, decoder
    * state initialized once per partition.
    */
  def frameLuma(media: DataFrame, stride: Int = 1): Dataset[FrameLuma] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // once per partition
        rows.flatMap { case (id, payload) =>
          demux(payload).fold(Iterator.empty: Iterator[FrameLuma]) {
            case Demuxed(chunks, format) =>
              val dib = format.filter(_.decodable)
              (0 until chunks.length by stride).iterator.map { ci =>
                val bytes = chunks(ci)
                dib.flatMap(f => dibMeanLumaMilli(bytes, f).map(l =>
                    FrameLuma(id, ci, f.width, f.absHeight, f.codecName, l)))
                  .orElse {
                    if (looksLikeImage(bytes))
                      imageLuma(bytes).map { case (w, h, l) =>
                        FrameLuma(id, ci, w, h, "mjpeg", l)
                      }
                    else None
                  }
                  .getOrElse(FrameLuma(id, ci, 0, 0, "unsupported", -1L))
              }
          }
        }
      }
  }
}
