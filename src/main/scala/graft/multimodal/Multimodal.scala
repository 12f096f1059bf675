package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque
  * `binary` columns with typed metadata, processed per-partition with
  * typed Datasets.
  *
  * Container-header parsing (RIFF/WAVE chunk walk, PPM P6) is REAL —
  * every parser below reads the actual byte layout. PIXEL operations
  * are real for the uncompressed format (PPM): `resizePpm` is an exact
  * integer box filter, `sampleFrames` walks a concatenated-P6 stream
  * frame by frame — both oracle-verified against arithmetic mirrors
  * (q206/q207). Compressed-codec decoding (JPEG entropy decode, audio
  * PCM beyond the header) is out of scope: a payload no parser
  * recognizes yields no row, never fabricated values — nothing in
  * this module invents measurement-shaped data.
  */
object Multimodal {

  /** One media asset: payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      declared_format: String)

  /** Parsed WAV audio metadata — every field read from the real RIFF
    * byte layout, no codec involved. */
  final case class WavInfo(
      media_id: Long,
      channels: Int,
      sample_rate: Int,
      bits_per_sample: Int,
      data_bytes: Long,
      duration_ms: Long)

  /** Parse a real RIFF/WAVE container header: "RIFF"+"WAVE" magic, then
    * a chunk walk ([id u32]["size" LE u32][data], word-aligned) to the
    * "fmt " chunk (channels LE u16 @+2, sample rate LE u32 @+4, bits
    * per sample LE u16 @+14 of its payload) and the "data" chunk (its
    * size = raw PCM byte count). Returns (channels, sampleRate,
    * bitsPerSample, dataBytes). */
  def parseWavHeader(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    @inline def u8(i: Int): Int = bytes(i) & 0xff
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) |
        (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (bytes.length < 44 ||
      !bytes.slice(0, 4).sameElements("RIFF".getBytes) ||
      !bytes.slice(8, 12).sameElements("WAVE".getBytes)) return None
    var i = 12
    var channels = -1
    var rate = -1L
    var bits = -1
    var dataBytes = -1L
    while (i + 8 <= bytes.length && (channels < 0 || dataBytes < 0)) {
      val id = new String(bytes, i, 4, "ISO-8859-1")
      val size = le32(i + 4)
      if (id == "fmt " && i + 24 <= bytes.length) {
        channels = le16(i + 10)
        rate = le32(i + 12)
        bits = le16(i + 22)
      } else if (id == "data") {
        dataBytes = size
      }
      if (channels >= 0 && dataBytes >= 0) {
        i = bytes.length // both chunks found — no need to walk further
      } else {
        // Advance in Long: a chunk size near 2^32 (e.g. 0xFFFFFFF8) would
        // make the Int advance zero or negative and spin the loop forever.
        val next = i.toLong + 8L + size + (size & 1L) // word-aligned chunks
        if (next <= i || next > Int.MaxValue) return None // corrupt size
        i = next.toInt
      }
    }
    if (channels > 0 && rate > 0 && bits > 0 && dataBytes >= 0)
      Some((channels, rate.toInt, bits, dataBytes))
    else None
  }

  /** Audio metadata table from WAV payloads: one row per payload whose
    * RIFF header parses; the duration is exact integer arithmetic over
    * the header fields. Payloads are projected away immediately — at
    * 100 TB only these few columns ever shuffle. */
  def audioInfo(media: Dataset[MediaRow]): Dataset[WavInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parseWavHeader(r.payload).map { case (ch, rate, bits, dataBytes) =>
          WavInfo(
            media_id = r.media_id,
            channels = ch,
            sample_rate = rate,
            bits_per_sample = bits,
            data_bytes = dataBytes,
            duration_ms =
              dataBytes * 8000L / (rate.toLong * ch.toLong * bits.toLong))
        }
      }
    }
  }

  /** Wrap any table with a string payload column as a media table —
    * used by tests and the demo queries to fabricate binary payloads
    * deterministically. */
  def asMediaTable(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      kind: String = "image"): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(kind).as("kind"),
      col(payloadCol).cast("binary").as("payload"),
      lit("fake/raw").as("declared_format"))
      .as[MediaRow]
  }

  /** Parse a binary PPM (P6) header starting at `from`: the "P6" magic,
    * then width, height, maxval as ASCII decimal tokens separated by
    * whitespace runs (with `#`-to-end-of-line comments allowed between
    * tokens, per the netpbm spec), then exactly ONE whitespace byte
    * before the raw RGB samples. Returns (width, height, maxval,
    * dataOffset). Only single-byte channels (maxval < 256) are
    * supported — the 2-byte-per-sample variant is rejected rather than
    * misread. */
  def parsePpmHeader(
      bytes: Array[Byte], from: Int = 0): Option[(Int, Int, Int, Int)] = {
    var i = from
    @inline def isWs(b: Int): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 0x0b || b == 0x0c
    def skipWsAndComments(): Unit = {
      var loop = true
      while (loop && i < bytes.length) {
        val b = bytes(i) & 0xff
        if (isWs(b)) i += 1
        else if (b == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else loop = false
      }
    }
    def int(): Int = { // -1 when no digits (or overflow)
      skipWsAndComments()
      var v = 0L
      var any = false
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9' &&
        v <= Int.MaxValue) {
        v = v * 10 + (bytes(i) - '0'); any = true; i += 1
      }
      if (any && v <= Int.MaxValue) v.toInt else -1
    }
    if (i + 2 > bytes.length || bytes(i) != 'P' || bytes(i + 1) != '6')
      return None
    i += 2
    val w = int(); val h = int(); val m = int()
    if (w <= 0 || h <= 0 || m <= 0 || m >= 256) return None
    // exactly one whitespace byte separates maxval from the raster
    if (i >= bytes.length || !isWs(bytes(i) & 0xff)) return None
    Some((w, h, m, i + 1))
  }

  /** Parsed PPM metadata + pixel checksum — every field from the real
    * byte layout (and `pix_sum` from the real raster), the
    * [[WavInfo]]-style round-trip witness for the PPM pipeline. */
  final case class PpmInfo(
      media_id: Long,
      width: Int,
      height: Int,
      maxval: Int,
      data_bytes: Long,
      pix_sum: Long)

  /** PPM metadata table: one row per payload whose P6 header parses
    * AND whose raster is complete (truncated payloads are excluded,
    * not half-summed). Payloads projected away immediately. */
  def ppmInfo(media: Dataset[MediaRow]): Dataset[PpmInfo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parsePpmHeader(r.payload).collect {
          case (w, h, m, off) if r.payload.length >= off + w * h * 3 =>
            var sum = 0L
            var i = off
            val end = off + w * h * 3
            while (i < end) { sum += r.payload(i) & 0xff; i += 1 }
            PpmInfo(r.media_id, w, h, m, (w * h * 3).toLong, sum)
        }
      }
    }
  }

  /** REAL image downscale for PPM (P6) payloads: an exact integer box
    * filter — output pixel (ox, oy) channel c is the floor-mean of the
    * factor x factor input block at (ox*factor, oy*factor); output
    * dimensions floor(w/factor) x floor(h/factor) (the right/bottom
    * margin that doesn't fill a block is dropped, the standard box-
    * decimation contract); re-encoded as P6 with the source maxval.
    * All integer arithmetic — bit-exact across engines and
    * partitionings, which is what lets an external oracle verify the
    * pixel math. Payloads whose header doesn't parse (or whose raster
    * is truncated, or too small for one block) are EXCLUDED from the
    * output rather than passed through half-processed — route
    * non-PPM media through a codec-backed variant instead. The
    * mapPartitions boundary is where a real codec would amortize init
    * per partition; the box filter itself is a per-row tight loop, no
    * boxing, no shuffle. */
  def resizePpm(
      media: Dataset[MediaRow], factor: Int = 2): Dataset[MediaRow] = {
    require(factor >= 1, s"factor must be >= 1 (got $factor)")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        parsePpmHeader(r.payload).collect {
          case (w, h, m, off)
            if r.payload.length >= off + w * h * 3 &&
              w / factor > 0 && h / factor > 0 =>
            val ow = w / factor
            val oh = h / factor
            val out = new Array[Byte](ow * oh * 3)
            val area = factor * factor
            var oy = 0
            while (oy < oh) {
              var ox = 0
              while (ox < ow) {
                var c = 0
                while (c < 3) {
                  var sum = 0
                  var dy = 0
                  while (dy < factor) {
                    val rowBase = off + ((oy * factor + dy) * w) * 3
                    var dx = 0
                    while (dx < factor) {
                      sum += r.payload(rowBase + (ox * factor + dx) * 3 + c) & 0xff
                      dx += 1
                    }
                    dy += 1
                  }
                  out((oy * ow + ox) * 3 + c) = (sum / area).toByte
                  c += 1
                }
                ox += 1
              }
              oy += 1
            }
            val header = s"P6\n$ow $oh\n$m\n".getBytes("US-ASCII")
            val payload = new Array[Byte](header.length + out.length)
            System.arraycopy(header, 0, payload, 0, header.length)
            System.arraycopy(out, 0, payload, header.length, out.length)
            r.copy(payload = payload,
              declared_format = s"ppm;resized/$factor")
        }
      }
    }
  }

  /** REAL frame sampling over a PPM STREAM payload (concatenated P6
    * images — the `ffmpeg -f image2pipe -vcodec ppm` wire format):
    * walk the payload frame by frame (each header parsed from its real
    * byte layout, the offset advanced by that frame's own raster
    * size, so frames of different dimensions in one stream walk
    * correctly), keep every `stride`-th frame, and emit one metadata
    * row per kept frame — width/height from the frame's header,
    * pix_sum over its raster. A malformed or truncated frame stops
    * the walk (frames before it are still emitted). Frame payloads
    * are projected away at the source: at 100 TB only these few
    * columns ever shuffle. */
  def sampleFrames(
      media: Dataset[MediaRow],
      stride: Int = 4): DataFrame = {
    require(stride >= 1, s"stride must be >= 1 (got $stride)")
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { r =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Int, Int, Int, Long)]
      var off = 0
      var f = 0
      var walking = true
      while (walking) {
        parsePpmHeader(r.payload, off) match {
          case Some((w, h, _, dataOff))
            if r.payload.length >= dataOff + w * h * 3 =>
            if (f % stride == 0) {
              var sum = 0L
              var i = dataOff
              val end = dataOff + w * h * 3
              while (i < end) { sum += r.payload(i) & 0xff; i += 1 }
              out += ((r.media_id, f, w, h, w * h * 3, sum))
            }
            off = dataOff + w * h * 3
            f += 1
          case _ => walking = false
        }
      }
      out
    }.toDF("media_id", "frame_no", "width", "height", "frame_bytes",
      "pix_sum")
  }
}
