package graft.multimodal

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal columns for a training-data pipeline: image/audio/video
  * travel as opaque `binary` columns with typed metadata; decode /
  * feature-extract / resize / frame-sample run as per-partition batch
  * functions (the Scala analog of `mapInPandas`: one iterator per
  * partition, vectorizable batch shape, no per-row driver round-trips).
  *
  * Header-level metadata (width/height/channels for PNG/JPEG/GIF) is
  * decoded FOR REAL by [[HeaderCodec]] — a pure-JVM byte parse of
  * IHDR/SOFn/logical-screen fields, no media library needed. Only
  * pixel-level work (resize, brightness, frame extraction) remains
  * behind [[StubCodec]], a clearly-marked deterministic fake keyed on
  * the content hash (decoders for actual pixel data are
  * environment-bound). The Spark-side plumbing (schema, binary
  * encoding, partitioning, batch iteration) is real and tested;
  * swapping in a real pixel decoder replaces only StubCodec internals.
  */
object Multimodal {

  /** One media object: opaque bytes + typed metadata. */
  final case class MediaRow(
      id: Long,
      modality: String,            // "image" | "audio" | "video"
      content: Array[Byte],
      meta: Map[String, String])

  final case class ImageFeatures(
      id: Long,
      width: Int,
      height: Int,
      channels: Int,
      n_bytes: Long,
      brightness: Double)          // fake feature from the stub decode

  final case class Frame(id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** REAL header decoder: width/height/channels straight from the image
    * container's header bytes — PNG IHDR (big-endian, fixed offset),
    * JPEG SOFn marker scan, GIF logical screen descriptor
    * (little-endian). Pure JVM, allocation-free, total (returns None on
    * anything that is not a recognized image header) — exactly what a
    * 100 TB metadata pass wants: no pixel decode, first ~few hundred
    * bytes of each blob only.
    */
  object HeaderCodec {

    private def u8(b: Byte): Int = b & 0xff
    private def be16(a: Array[Byte], i: Int): Int = (u8(a(i)) << 8) | u8(a(i + 1))
    private def be32(a: Array[Byte], i: Int): Long =
      (u8(a(i)).toLong << 24) | (u8(a(i + 1)) << 16) | (u8(a(i + 2)) << 8) | u8(a(i + 3))
    private def le16(a: Array[Byte], i: Int): Int = u8(a(i)) | (u8(a(i + 1)) << 8)

    /** (width, height, channels) parsed from a real image header. */
    def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      decodePng(bytes).orElse(decodeJpeg(bytes)).orElse(decodeGif(bytes))

    /** PNG: 8-byte signature, then the IHDR chunk is mandatory-first —
      * width/height at fixed offsets 16/20, color type at 25.
      */
    def decodePng(a: Array[Byte]): Option[(Int, Int, Int)] = {
      if (a.length < 26) return None
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
      if (!a.take(8).sameElements(sig)) return None
      if (!(a(12) == 'I' && a(13) == 'H' && a(14) == 'D' && a(15) == 'R')) return None
      val channels = u8(a(25)) match {
        case 0 => 1 // greyscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // grey + alpha
        case 6 => 4 // truecolor + alpha
        case _ => return None
      }
      Some((be32(a, 16).toInt, be32(a, 20).toInt, channels))
    }

    /** JPEG: walk the marker segments to the first frame header (SOF0-15
      * except DHT/JPG/DAC): height/width at +5/+7, components at +9.
      * 0xFF fill (padding) bytes before a marker are legal and skipped;
      * the walk stops at SOS (entropy-coded data follows, a frame header
      * cannot) and EOI.
      */
    def decodeJpeg(a: Array[Byte]): Option[(Int, Int, Int)] = {
      if (a.length < 4 || u8(a(0)) != 0xff || u8(a(1)) != 0xd8) return None
      var i = 2
      while (i + 3 < a.length) {
        if (u8(a(i)) != 0xff) return None
        var j = i + 1
        while (j < a.length && u8(a(j)) == 0xff) j += 1 // fill bytes
        if (j + 2 >= a.length) return None
        val marker = u8(a(j))
        if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) {
          i = j + 1 // standalone markers carry no length
        } else {
          val len = be16(a, j + 1)
          if (len < 2) return None
          val isSof = marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc
          if (isSof) {
            if (j + 8 >= a.length) return None
            return Some((be16(a, j + 6), be16(a, j + 4), u8(a(j + 8))))
          }
          i = j + 1 + len
        }
      }
      None
    }

    /** GIF87a/89a: little-endian logical screen w/h at offset 6/8. */
    def decodeGif(a: Array[Byte]): Option[(Int, Int, Int)] = {
      if (a.length < 10) return None
      val hdr = new String(a, 0, 6, StandardCharsets.US_ASCII)
      if (hdr != "GIF87a" && hdr != "GIF89a") return None
      Some((le16(a, 6), le16(a, 8), 3))
    }
  }

  /** STUB CODEC — deterministic fake decoder for PIXEL-level work only
    * (header metadata is parsed for real by [[HeaderCodec]]). Real
    * image/audio libs are environment-bound; every value here derives
    * only from the content hash so results are reproducible and
    * oracle-friendly.
    */
  object StubCodec {
    private def digest(bytes: Array[Byte]): Array[Byte] =
      MessageDigest.getInstance("MD5").digest(bytes)

    /** Fake image decode → (width, height, channels). */
    def decodeImage(bytes: Array[Byte]): (Int, Int, Int) = {
      val h = digest(bytes)
      val w = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 1920
      val ht = (((h(2) & 0xff) << 8) | (h(3) & 0xff)) % 1080
      (w, ht, 3)
    }

    /** Fake brightness feature in [0, 1). */
    def brightness(bytes: Array[Byte]): Double =
      ((digest(bytes)(4) & 0xff).toDouble) / 256.0

    /** Fake resize: deterministic re-hash standing in for pixel work. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      digest(bytes ++ s"${w}x$h".getBytes(StandardCharsets.UTF_8))

    /** Fake video frame extraction: fixed-stride byte windows. */
    def sampleFrames(bytes: Array[Byte], everyN: Int): Seq[Array[Byte]] =
      bytes.grouped(math.max(1, everyN)).toSeq
  }

  /** Testdata adapter: treat document text bytes as opaque image blobs so
    * the binary plumbing runs against real parquet input.
    */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .select(
        col("doc_id").as("id"),
        lit("image").as("modality"),
        col("text").cast("binary").as("content"),
        map(lit("source"), col("source"), lit("lang"), col("lang")).as("meta"))
      .as[MediaRow]
  }

  /** Batched decode + feature extraction: one partition = one batch, the
    * decoder is invoked inside the executor iterator (mapInPandas shape).
    * With `preferHeader` (the default — the real metadata pass), blobs
    * with a real PNG/JPEG/GIF header get their ACTUAL dimensions
    * ([[HeaderCodec]]) and anything else falls back to the deterministic
    * stub. Pass `preferHeader = false` for stub-only decoding — the
    * raw-text adapter's oracle-checked queries need it, because a text
    * blob can legitimately START with an ASCII image signature ("GIF89a
    * is a format...") and must not be header-parsed there.
    */
  def extractImageFeatures(ds: Dataset[MediaRow],
                           preferHeader: Boolean = true): Dataset[ImageFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { batch =>
      batch.map { row =>
        val (w, h, c) =
          (if (preferHeader) HeaderCodec.decodeImage(row.content) else None)
            .getOrElse(StubCodec.decodeImage(row.content))
        ImageFeatures(row.id, w, h, c, row.content.length.toLong,
          StubCodec.brightness(row.content))
      }
    }
  }

  /** A REAL (signature + CRC-correct IHDR) PNG header wrapping an opaque
    * payload — 33 header bytes, truecolor, 8-bit. Used to plant
    * parseable image containers over testdata blobs so the header-parse
    * path is exercised end-to-end with closed-form expected dims.
    */
  def pngWrap(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(33 + payload.length)
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = new Array[Byte](17)
    "IHDR".getBytes(StandardCharsets.US_ASCII).copyToArray(ihdr, 0)
    def be32(v: Long, i: Int): Unit = {
      ihdr(i) = ((v >> 24) & 0xff).toByte; ihdr(i + 1) = ((v >> 16) & 0xff).toByte
      ihdr(i + 2) = ((v >> 8) & 0xff).toByte; ihdr(i + 3) = (v & 0xff).toByte
    }
    be32(width.toLong, 4); be32(height.toLong, 8)
    ihdr(12) = 8; ihdr(13) = 2; ihdr(14) = 0; ihdr(15) = 0; ihdr(16) = 0
    out.write(Array[Byte](0, 0, 0, 13)) // IHDR data length
    out.write(ihdr)
    val crc = new java.util.zip.CRC32
    crc.update(ihdr)
    val c = crc.getValue
    out.write(Array(((c >> 24) & 0xff), ((c >> 16) & 0xff), ((c >> 8) & 0xff), (c & 0xff))
      .map(_.toByte))
    out.write(payload)
    out.toByteArray
  }

  /** Testdata adapter with PLANTED real PNG headers: each document's
    * bytes travel inside a valid PNG container whose dimensions derive
    * from the document's own fields (w = n_chars % 1920 + 1,
    * h = doc_id % 1080 + 1) — so the real header parse is verifiable
    * closed-form from the raw table.
    */
  def mediaWithPlantedHeaders(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"), col("text"),
        map(lit("source"), col("source"), lit("lang"), col("lang")).as("meta"))
      .as[(Long, Long, String, Map[String, String])]
      .map { case (id, nChars, text, meta) =>
        MediaRow(id, "image",
          pngWrap((nChars % 1920).toInt + 1, (id % 1080).toInt + 1,
            text.getBytes(StandardCharsets.UTF_8)),
          meta)
      }
  }

  /** Batched resize: binary-in binary-out transform, same plumbing. */
  def resizeImages(ds: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(r =>
      r.copy(content = StubCodec.resize(r.content, w, h),
        meta = r.meta + ("resized" -> s"${w}x$h"))))
  }

  /** Frame sampling: one video row explodes to its sampled frames. */
  def sampleFrames(ds: Dataset[MediaRow], everyN: Int): Dataset[Frame] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { r =>
      StubCodec.sampleFrames(r.content, everyN).zipWithIndex.map {
        case (f, i) => Frame(r.id, i, f)
      }
    })
  }
}
