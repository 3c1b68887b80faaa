package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata structs, decoded by a REAL
  * container-header parser (PNG IHDR, JPEG SOF, GIF logical screen
  * descriptor, WAV fmt chunk). The pixel/sample DECODE itself is out of
  * scope in this container (no codecs); header parse + schema + batched
  * mapPartitions shape + partitioning are the engine surface, and a
  * production deployment swaps in a codec kernel behind the identical
  * batch signature. */
object Multimodal {

  /** For images width/height are pixels; for WAV width = sample rate (Hz)
    * and height = channel count; unknown containers are kind "blob" with
    * zero dims. checksum is a base-31 polynomial mod 1e9+7 over the full
    * payload (portable: reproducible in ANSI SQL). */
  final case class MediaMeta(
      byteLen: Long,
      kind: String,
      width: Int,
      height: Int,
      checksum: Long)

  def checksum(payload: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < payload.length) {
      h = (h * 31 + (payload(i) & 0xff)) % 1000000007L
      i += 1
    }
    h
  }

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def ascii(b: Array[Byte], i: Int, s: String): Boolean =
    i + s.length <= b.length && s.indices.forall(k => (b(i + k) & 0xff) == s.charAt(k))

  /** Parse the container header of a payload. Recognizes:
    *  - PNG: 8-byte signature, IHDR width/height (big-endian 32-bit)
    *  - JPEG: SOI then marker scan to SOF0/1/2 (height, width big-endian)
    *  - GIF: GIF87a/GIF89a logical screen descriptor (little-endian 16-bit)
    *  - WAV: RIFF/WAVE, fmt chunk (channels, sample rate little-endian)
    * Anything else is "blob" with zero dimensions. */
  def decodeHeader(p: Array[Byte]): MediaMeta = {
    val n = p.length
    val meta =
      if (n >= 33 &&
        u8(p, 0) == 0x89 && ascii(p, 1, "PNG") &&
        u8(p, 4) == 0x0d && u8(p, 5) == 0x0a && u8(p, 6) == 0x1a && u8(p, 7) == 0x0a &&
        ascii(p, 12, "IHDR"))
        ("png", be32(p, 16).toInt, be32(p, 20).toInt)
      else if (n >= 4 && u8(p, 0) == 0xff && u8(p, 1) == 0xd8) {
        // marker scan: FF D8 (SOI), then FF-prefixed segments with BE
        // lengths until a start-of-frame marker carries the dimensions
        var i = 2
        var out: (String, Int, Int) = null
        while (out == null && i + 4 <= n && u8(p, i) == 0xff) {
          val marker = u8(p, i + 1)
          if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
            if (i + 9 <= n) out = ("jpeg", be16(p, i + 7), be16(p, i + 5))
            else out = ("blob", 0, 0)
          } else {
            val segLen = be16(p, i + 2)
            if (segLen < 2) out = ("blob", 0, 0) else i += 2 + segLen
          }
        }
        if (out == null) ("blob", 0, 0) else out
      } else if (n >= 13 && (ascii(p, 0, "GIF87a") || ascii(p, 0, "GIF89a")))
        ("gif", le16(p, 6), le16(p, 8))
      else if (n >= 36 && ascii(p, 0, "RIFF") && ascii(p, 8, "WAVE") &&
        ascii(p, 12, "fmt "))
        ("wav", le32(p, 24).toInt, le16(p, 22))
      else ("blob", 0, 0)
    MediaMeta(n.toLong, meta._1, meta._2, meta._3, checksum(p))
  }

  /** Batched decode over (id, payload) — the mapPartitions shape a real
    * codec kernel needs (amortized per-batch init, no per-row JNI cost). */
  def decodeBatch(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      binCol: String,
      batchSize: Int = 128): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // per-batch "codec init" happens here in a real kernel
          batch.map { case (id, payload) => (id, decodeHeader(payload)) }
        }
      }
      .toDF(idCol, "meta")
      .select(
        col(idCol),
        col("meta.byteLen").as("byte_len"),
        col("meta.kind").as("kind"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("meta.checksum").as("checksum"))
  }

  // ---- deterministic fixture payloads with REAL headers ----

  def pngPayload(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val h = Array[Int](
      0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      width >>> 24, (width >>> 16) & 0xff, (width >>> 8) & 0xff, width & 0xff,
      height >>> 24, (height >>> 16) & 0xff, (height >>> 8) & 0xff, height & 0xff,
      8, 2, 0, 0, 0, // bit depth, color type, compression, filter, interlace
      0, 0, 0, 0)    // CRC (not validated by the header parser)
    h.map(_.toByte) ++ body
  }

  def jpegPayload(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val h = Array[Int](
      0xff, 0xd8, // SOI
      0xff, 0xc0, 0x00, 0x0b, // SOF0, segment length 11 (= 2 + 9 payload)
      8, // precision
      (height >>> 8) & 0xff, height & 0xff,
      (width >>> 8) & 0xff, width & 0xff,
      1, 1, 0x11, 0) // Nf=1; component id, sampling, quant table
    h.map(_.toByte) ++ body
  }

  def gifPayload(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
    val h = "GIF89a".getBytes("US-ASCII") ++ Array[Int](
      width & 0xff, (width >>> 8) & 0xff,
      height & 0xff, (height >>> 8) & 0xff,
      0, 0, 0).map(_.toByte) // flags, bg color, aspect
    h ++ body
  }

  def wavPayload(sampleRate: Int, channels: Int, body: Array[Byte]): Array[Byte] = {
    val byteRate = sampleRate * channels * 2
    def le32a(v: Long) = Array[Int]((v & 0xff).toInt, ((v >> 8) & 0xff).toInt,
      ((v >> 16) & 0xff).toInt, ((v >> 24) & 0xff).toInt)
    val h = "RIFF".getBytes("US-ASCII") ++
      le32a(36L + body.length).map(_.toByte) ++
      "WAVEfmt ".getBytes("US-ASCII") ++
      (le32a(16) ++ Array[Int](1, 0, channels & 0xff, (channels >>> 8) & 0xff) ++
        le32a(sampleRate.toLong) ++ le32a(byteRate.toLong) ++
        Array[Int](4, 0, 16, 0)).map(_.toByte)
    h ++ body
  }

  /** Fixture media table over documents: per doc_id a deterministic real
    * container (png/jpeg/gif/wav round-robin) whose dimensions derive from
    * doc_id and whose body is the document text — so the q60 oracle can
    * compute the expected metadata independently while the engine must
    * genuinely PARSE the bytes to recover it. */
  def mediaFixture(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val body = text.getBytes("UTF-8")
        val payload = (id % 4) match {
          case 0 => pngPayload((16 + id * 7 % 1024).toInt, (16 + id * 13 % 768).toInt, body)
          case 1 => jpegPayload((16 + id * 7 % 1024).toInt, (16 + id * 13 % 768).toInt, body)
          case 2 => gifPayload((16 + id * 7 % 1024).toInt, (16 + id * 13 % 768).toInt, body)
          case _ => wavPayload((8000 + (id % 8) * 4000).toInt, (1 + id % 2).toInt, body)
        }
        (id, payload)
      }
      .toDF("doc_id", "payload")
  }
}
