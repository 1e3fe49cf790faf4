package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.multimodal.Mp4Codec
import graft.operators.FingerprintDups
import graft.sources.Tables

/** Video tier over REAL ISO-BMFF box parsing — third leg of the
  * multimodal triad (image pixels / audio samples / video containers):
  * every document plants a spec-valid two-track MP4 whose box contents
  * are a closed-form function of doc_id, and the engine recovers movie
  * metadata and keyframe timestamps by actually walking the nested box
  * tree — size-prefixed boxes, container recursion, version/flags
  * headers, 16.16 fixed-point track dimensions, stts run-length
  * expansion, stss sync-sample tables.
  *
  * The oracle never touches MP4 bytes: it recomputes the planted
  * parameters arithmetically from `documents.doc_id`, so any defect in
  * the box walk (ancillary udta/free skipping at either nesting level,
  * tkhd/mdhd field offsets, fixed-point shift, sample-table math) lands
  * hash-red.
  *
  * Scale shape: parsing is one map-side pass (bytes → metadata rows, no
  * shuffle); keyframe extraction fans out ≤ 70 rows per doc — bounded
  * fan-out, no join. At 100 TB both stay embarrassingly parallel.
  */
object VideoQueries {

  private val MovTimescale = 1000L
  private val VideoTimescale = 90000L
  private val FrameDelta = 3600L // 25 fps at 90 kHz
  private val KeyEvery = 25
  private val AudioTimescale = 16000L

  private def nFrames(docId: Long): Long = 750 + docId % 1000

  /** One real MP4 per document; mdat payload is deterministic filler. */
  private[graft] def plantedMp4(docId: Long): Array[Byte] = {
    val nf = nFrames(docId)
    val w = (256 + (docId % 4) * 128).toInt
    val h = (144 + (docId % 4) * 72).toInt
    val payload = Array.tabulate[Byte](16)(i => ((docId + i) % 251).toByte)
    Mp4Codec.encodeMp4(MovTimescale, nf * 40, VideoTimescale, FrameDelta,
      nf, w, h, KeyEvery, AudioTimescale, payload)
  }

  /** doc_id → decoded movie + video-track metadata via the REAL box walk.
    * Map-side only: encode is the fixture, decode onward is the
    * production kernel.
    */
  private def videoMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Queries.fanOut(Tables.read(s, dir, "documents")
      .select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val mp4 = plantedMp4(id)
          val d = Mp4Codec.decodeMp4(mp4).getOrElse(
            throw new IllegalStateException(s"undecodable planted MP4 for doc $id"))
          val v = d.tracks.find(_.handler == "vide").getOrElse(
            throw new IllegalStateException(s"no video track in doc $id"))
          (id, d.movDuration * 1000L / d.movTimescale, d.tracks.length.toLong,
            v.width.toLong, v.height.toLong, v.timescale,
            Mp4Codec.totalSamples(v.sttsEntries), v.syncSamples.length.toLong)
        }
      }
      .toDF("doc_id", "duration_ms", "n_tracks", "video_w", "video_h",
        "video_timescale", "n_frames", "n_keyframes")
  }

  /** Movie + video-track metadata through the full real parse chain. */
  val videoMetaQ = Q("q_video_meta",
    (s, dir) => videoMeta(s, dir),
    Some("""SELECT doc_id,
           |  CAST((750 + doc_id % 1000) * 40 AS BIGINT) AS duration_ms,
           |  CAST(2 AS BIGINT) AS n_tracks,
           |  CAST(256 + (doc_id % 4) * 128 AS BIGINT) AS video_w,
           |  CAST(144 + (doc_id % 4) * 72 AS BIGINT) AS video_h,
           |  CAST(90000 AS BIGINT) AS video_timescale,
           |  CAST(750 + doc_id % 1000 AS BIGINT) AS n_frames,
           |  CAST((750 + doc_id % 1000 + 24) // 25 AS BIGINT) AS n_keyframes
           |FROM documents""".stripMargin))

  /** Keyframe sample numbers + presentation timestamps: stss entries
    * through generic stts run-length pts reconstruction — the
    * frame-sampling primitive of a video curation pipeline (sample the
    * keyframes, ship them to the image tier).
    */
  val videoKeyframes = Q("q_video_keyframes",
    (s, dir) => {
      import s.implicits._
      Queries.fanOut(Tables.read(s, dir, "documents")
        .select(col("doc_id")), "doc_id").as[Long]
        .mapPartitions { ids =>
          ids.flatMap { id =>
            val d = Mp4Codec.decodeMp4(plantedMp4(id)).get
            val v = d.tracks.find(_.handler == "vide").get
            v.syncSamples.iterator.map { sn =>
              val pts = Mp4Codec.ptsOfSample(v.sttsEntries, sn)
              (id, sn, pts * 1000L / v.timescale)
            }
          }
        }
        .toDF("doc_id", "sample_number", "pts_ms")
    },
    Some("""WITH n AS (SELECT doc_id, 750 + doc_id % 1000 AS nf FROM documents)
           |SELECT doc_id,
           |  CAST(1 + 25 * k AS BIGINT) AS sample_number,
           |  CAST(1000 * k AS BIGINT) AS pts_ms
           |FROM n, (SELECT unnest(generate_series(0, 69)) AS k)
           |WHERE 1 + 25 * k <= nf""".stripMargin))

  // ---- content tier: keyframe BYTES out of mdat via the real
  // stsz/stsc/stco walk, fingerprint, banded near-dup, dedup groups ----

  private val KfPayload = 16 // bytes per keyframe sample
  private val FpKeyframes = 65 // fingerprint spans keyframes 0..64

  /** Content-tier frame count: ≥ 1601 frames ⇒ ≥ 65 keyframes at
    * keyEvery=25, shared across a doc_id/4 group so members carry
    * identical sample tables.
    */
  private def contentFrames(docId: Long): Int =
    (1601 + (docId / 4 % 4) * 25).toInt

  /** Closed-form planted keyframe payload base byte; MUST stay in
    * lockstep with the SQL in the content oracles below. Same
    * decorrelation posture as the audio/image tiers: the
    * `(g * (k + 7)) % 977` mixing term makes each group's
    * keyframe-signature pattern pseudo-independent, so cross-group
    * fingerprint collisions are chance-level at any corpus size and the
    * planted doc_id/4 groups stay exact 4-cliques. Member j = 3 perturbs
    * ONE keyframe's payload (k = 10) — only fingerprint bits 9 and 10
    * can flip, so in-group hamming ≤ 2 ≤ the verify threshold 3.
    * base ∈ [0, 240] ⇒ payload bytes base..base+15 never wrap mod 256,
    * keeping the byte-sum signature = 16·base + 120 exactly.
    */
  private[graft] def kfBase(docId: Long, k: Int): Int = {
    val g = docId / 4
    val base = ((g * 97 + k * 53 + k * k * 13 + ((g * (k + 7)) % 977) * 31) % 241).toInt
    if (docId % 4 == 3 && k == 10) (base + 98) % 241 else base
  }

  /** One real MP4 per document with ADDRESSABLE samples: keyframe k
    * (sample 1+25k) carries 16 planted payload bytes base..base+15;
    * non-keyframes carry 4 filler bytes — decoding must walk stsz sizes
    * past them (and across the two-chunk stsc split) to slice the right
    * keyframe ranges.
    */
  private[graft] def plantedContentMp4(docId: Long): Array[Byte] = {
    val nf = contentFrames(docId)
    val g = docId / 4
    val samples: IndexedSeq[Array[Byte]] = (1 to nf).map { sn =>
      if ((sn - 1) % KeyEvery == 0) {
        val k = (sn - 1) / KeyEvery
        val base = kfBase(docId, k)
        Array.tabulate[Byte](KfPayload)(i => (base + i).toByte)
      } else
        Array.tabulate[Byte](4)(i => ((g + sn + i) % 251).toByte)
    }
    Mp4Codec.encodeMp4Samples(MovTimescale, nf * 40L, VideoTimescale,
      FrameDelta, 320, 180, KeyEvery, AudioTimescale, samples)
  }

  /** The same samples re-muxed into a DIFFERENT container: rescaled
    * track dims and a doubled movie duration change the box bytes while
    * every keyframe payload stays put — the fixture the streaming
    * content-keyed dedup test uses to prove suppression reads sample
    * CONTENT through the stsz/stsc/stco walk, not container bytes.
    */
  private[graft] def remuxedContentMp4(docId: Long, width: Int,
                                       height: Int): Array[Byte] = {
    val nf = contentFrames(docId)
    val g = docId / 4
    val samples: IndexedSeq[Array[Byte]] = (1 to nf).map { sn =>
      if ((sn - 1) % KeyEvery == 0) {
        val k = (sn - 1) / KeyEvery
        val base = kfBase(docId, k)
        Array.tabulate[Byte](KfPayload)(i => (base + i).toByte)
      } else
        Array.tabulate[Byte](4)(i => ((g + sn + i) % 251).toByte)
    }
    Mp4Codec.encodeMp4Samples(MovTimescale, nf * 80L, VideoTimescale,
      FrameDelta, width, height, KeyEvery, AudioTimescale, samples)
  }

  /** doc_id → (n_keyframes, b0..b3) via the REAL extraction chain:
    * box walk → stss sync numbers → stsc/stco/stsz byte ranges → mdat
    * slices → byte-sum signatures → sign-of-delta 64-bit fingerprint in
    * four 16-bit bands (the video twin of the audio energy-delta
    * chromaprint). Map-side only — no shuffle at any scale. The three
    * content-tier queries share ONE container-decode pass.
    */
  private val videoFingerprints = Artifact("video_fingerprints") { (s, dir) =>
    videoFingerprintsUncached(s, dir).localCheckpoint(true)
  }

  private[graft] def sharedArtifactWarmers
      : Seq[(String, (SparkSession, String) => Unit)] =
    Seq(videoFingerprints).map(_.warmer)

  private def videoFingerprintsUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Queries.fanOut(Tables.read(s, dir, "documents")
      .select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val mp4 = plantedContentMp4(id)
          val d = Mp4Codec.decodeMp4(mp4).getOrElse(
            throw new IllegalStateException(s"undecodable planted MP4 for doc $id"))
          val v = d.tracks.find(_.handler == "vide").getOrElse(
            throw new IllegalStateException(s"no video track in doc $id"))
          val sigs = v.syncSamples.sorted.take(FpKeyframes).map { sn =>
            val payload = Mp4Codec.extractSample(mp4, v, sn).getOrElse(
              throw new IllegalStateException(s"unextractable sample $sn in doc $id"))
            payload.foldLeft(0L)((acc, b) => acc + (b & 0xff))
          }
          val bands = new Array[Long](4)
          var f = 0
          while (f < FpKeyframes - 1) {
            if (sigs(f) < sigs(f + 1)) bands(f / 16) |= 1L << (f % 16)
            f += 1
          }
          (id, v.syncSamples.length.toLong, bands(0), bands(1), bands(2), bands(3))
        }
      }
      .toDF("doc_id", "n_keyframes", "b0", "b1", "b2", "b3")
  }

  /** The oracle's closed-form twin of the planted keyframe signatures:
    * sig(doc, k) = 16·base + 120. Shared by all content-tier oracles.
    */
  private val sigsSql: String =
    """sigs AS (
      |  SELECT doc_id, f,
      |    16 * (CASE WHEN doc_id % 4 = 3 AND f = 10 THEN (base + 98) % 241
      |          ELSE base END) + 120 AS sig
      |  FROM (
      |    SELECT doc_id, f,
      |      ((doc_id // 4) * 97 + f * 53 + f * f * 13
      |        + (((doc_id // 4) * (f + 7)) % 977) * 31) % 241 AS base
      |    FROM documents,
      |      (SELECT unnest(generate_series(0, 64)) AS f)))""".stripMargin

  private val bandsSql: String = sigsSql + """,
      |bits AS (
      |  SELECT a.doc_id, a.f // 16 AS band, a.f % 16 AS idx
      |  FROM sigs a JOIN sigs b
      |    ON a.doc_id = b.doc_id AND b.f = a.f + 1
      |  WHERE a.f < 64 AND a.sig < b.sig),
      |bands AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN band = 0 THEN 1 << idx END), 0) AS BIGINT) AS b0,
      |    CAST(coalesce(sum(CASE WHEN band = 1 THEN 1 << idx END), 0) AS BIGINT) AS b1,
      |    CAST(coalesce(sum(CASE WHEN band = 2 THEN 1 << idx END), 0) AS BIGINT) AS b2,
      |    CAST(coalesce(sum(CASE WHEN band = 3 THEN 1 << idx END), 0) AS BIGINT) AS b3
      |  FROM (SELECT DISTINCT doc_id FROM documents) d
      |  LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id)""".stripMargin

  /** Keyframe-content fingerprint through the full real extraction chain. */
  val videoFingerprint = Q("q_video_fingerprint",
    (s, dir) => videoFingerprints(s, dir),
    Some(s"""WITH $bandsSql
            |SELECT doc_id,
            |  CAST(65 + (doc_id // 4) % 4 AS BIGINT) AS n_keyframes,
            |  b0, b1, b2, b3
            |FROM bands""".stripMargin))

  /** Banded video near-dup: equal-16-bit-band candidates → exact hamming
    * ≤ 3 verify (pigeonhole-complete: 4 bands cover hamming ≤ 3). Never
    * all-pairs — same census-skew-guarded candidate generation as the
    * MinHash/SimHash/image/audio tiers.
    */
  val videoNearDup = Q("q_video_near_dup",
    (s, dir) => FingerprintDups.nearDupPairs(
      videoFingerprints(s, dir).select("doc_id", "b0", "b1", "b2", "b3")),
    Some(OracleBandDups.nearDup(bandsSql)))

  /** Video dedup GROUPS: connected components over the verified banded
    * near-dup pairs — the fourth modality through the shared HASH-to-MIN
    * operator (text, embeddings, images, audio, video); oracle = the
    * shared [[OracleCc]] pointer-jump contraction over the same
    * candidate/hamming chain (the recursive-closure form died on DuckDB
    * resources at sf10).
    */
  val videoDedupGroups = Q("q_video_dedup_groups",
    (s, dir) => FingerprintDups.groups(videoNearDup.fn(s, dir)),
    Some(OracleBandDups.groups(bandsSql)),
    scaleOracle = Some(OracleBandDups.groupsOfDump("dump_q_video_near_dup")))

  // ---- cross-tier composition: keyframes ARE real PNGs — MP4 box walk
  // → stsz/stsc/stco sample extraction → PNG decode → luma grid → dHash
  // → scene segmentation. Every stage is the independently-tested
  // production kernel; this composes them end-to-end, oracle-gated. ----

  private val SceneKeyframes = 16 // keyframes 0..15 carry the scene PNGs
  private val SceneLen = 4 // keyframes per scene → scenes 0..3
  private val SceneFrames = 380 // ≥ 1 + 25·15 so all 16 keyframes exist

  /** Closed-form planted grey pixel of scene `sc` at grid (x, y); MUST
    * stay in lockstep with the SQL below. Same decorrelation posture as
    * the other tiers (the `% 239` mixing term makes each doc's scene
    * imagery pseudo-independent).
    */
  private[graft] def scenePixel(docId: Long, sc: Int, x: Int, y: Int): Int =
    ((docId * 97 + sc * 41 + x * 23 + y * 59 + x * y * 7 +
      ((docId * (sc * 73 + x + y * 9 + 3)) % 239) * 11) % 256).toInt

  /** One real MP4 per document whose keyframes are REAL 9×8 greyscale
    * PNGs: keyframe k shows scene k/4's image (4 keyframes per scene, so
    * consecutive keyframes are pixel-identical within a scene and the
    * imagery changes exactly at scene boundaries). Non-keyframes carry
    * filler the stsz walk must skip.
    */
  private[graft] def plantedScenesMp4(docId: Long): Array[Byte] = {
    val samples: IndexedSeq[Array[Byte]] = (1 to SceneFrames).map { sn =>
      if ((sn - 1) % KeyEvery == 0 && (sn - 1) / KeyEvery < SceneKeyframes) {
        val sc = (sn - 1) / KeyEvery / SceneLen
        val px = new Array[Byte](9 * 8)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 9) {
            px(y * 9 + x) = scenePixel(docId, sc, x, y).toByte; x += 1
          }
          y += 1
        }
        graft.multimodal.PixelCodec.encodePng(9, 8, 1, px)
      } else
        Array.tabulate[Byte](4)(i => ((docId + sn + i) % 251).toByte)
    }
    Mp4Codec.encodeMp4Samples(MovTimescale, SceneFrames * 40L, VideoTimescale,
      FrameDelta, 320, 180, KeyEvery, AudioTimescale, samples)
  }

  /** Per-keyframe image dHash bands through the FULL chain: box walk →
    * sample-table byte ranges → mdat slice → PNG decode (inflate +
    * unfilter) → luminance → 9×8 grid → banded dHash. One map-side pass
    * per doc (bounded 16-row fan-out), zero shuffle at any scale.
    */
  private def keyframeDhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Queries.fanOut(Tables.read(s, dir, "documents")
      .select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val mp4 = plantedScenesMp4(id)
          val d = Mp4Codec.decodeMp4(mp4).getOrElse(
            throw new IllegalStateException(s"undecodable planted MP4 for doc $id"))
          val v = d.tracks.find(_.handler == "vide").getOrElse(
            throw new IllegalStateException(s"no video track in doc $id"))
          v.syncSamples.sorted.take(SceneKeyframes).iterator.zipWithIndex.map {
            case (sn, k) =>
              val png = Mp4Codec.extractSample(mp4, v, sn).getOrElse(
                throw new IllegalStateException(s"unextractable sample $sn doc $id"))
              val dec = graft.multimodal.PixelCodec.decodePng(png).getOrElse(
                throw new IllegalStateException(s"undecodable keyframe PNG doc $id k $k"))
              val luma = graft.multimodal.PixelCodec.luminance(dec.pixels, dec.channels)
              val grid = graft.multimodal.PixelCodec
                .resizeArea(luma, dec.width, dec.height, 9, 8)
              val b = graft.multimodal.PixelCodec.dhashBands(grid)
              (id, k.toLong, b(0), b(1), b(2), b(3))
          }
        }
      }
      .toDF("doc_id", "k", "b0", "b1", "b2", "b3")
  }

  /** Shared oracle CTE: per-(doc, scene) dHash bands recomputed
    * arithmetically from the planted pixel formula.
    */
  private val sceneBandsSql: String =
    """px AS (
      |  SELECT doc_id, sc, x, y,
      |    (doc_id * 97 + sc * 41 + x * 23 + y * 59 + x * y * 7
      |      + ((doc_id * (sc * 73 + x + y * 9 + 3)) % 239) * 11) % 256 AS p
      |  FROM documents,
      |    (SELECT unnest(generate_series(0, 3)) AS sc),
      |    (SELECT unnest(generate_series(0, 8)) AS x),
      |    (SELECT unnest(generate_series(0, 7)) AS y)),
      |sbits AS (
      |  SELECT a.doc_id, a.sc, a.y // 2 AS band,
      |    CAST((a.y % 2) * 8 + a.x AS BIGINT) AS idx
      |  FROM px a JOIN px b
      |    ON a.doc_id = b.doc_id AND a.sc = b.sc AND a.y = b.y
      |      AND b.x = a.x + 1
      |  WHERE a.x < 8 AND a.p < b.p),
      |sbands AS (
      |  SELECT s.doc_id, s.sc,
      |    CAST(coalesce(sum(CASE WHEN band = 0 THEN 1 << idx END), 0) AS BIGINT) AS b0,
      |    CAST(coalesce(sum(CASE WHEN band = 1 THEN 1 << idx END), 0) AS BIGINT) AS b1,
      |    CAST(coalesce(sum(CASE WHEN band = 2 THEN 1 << idx END), 0) AS BIGINT) AS b2,
      |    CAST(coalesce(sum(CASE WHEN band = 3 THEN 1 << idx END), 0) AS BIGINT) AS b3
      |  FROM (SELECT DISTINCT doc_id, sc FROM px) s
      |  LEFT JOIN sbits ON sbits.doc_id = s.doc_id AND sbits.sc = s.sc
      |  GROUP BY s.doc_id, s.sc),
      |kf AS (
      |  SELECT doc_id, CAST(k AS BIGINT) AS k, b0, b1, b2, b3
      |  FROM sbands, (SELECT unnest(generate_series(0, 15)) AS k)
      |  WHERE sc = k // 4)""".stripMargin

  /** Per-keyframe perceptual hash through the full container→image
    * composition.
    */
  val videoKfDhash = Q("q_video_kf_dhash",
    (s, dir) => keyframeDhash(s, dir),
    Some(s"""WITH $sceneBandsSql
            |SELECT doc_id, k, b0, b1, b2, b3 FROM kf""".stripMargin))

  /** Scene-cut detection — the shot-segmentation primitive of a video
    * curation pipeline: a keyframe starts a new scene iff its perceptual
    * hash is far (hamming ≥ 10) from the previous keyframe's. Computed
    * entirely inside one map-side pass (the per-doc keyframe list is
    * bounded), no window, no shuffle; within a scene consecutive
    * keyframes are pixel-identical so only true scene boundaries
    * surface.
    */
  val videoSceneCuts = Q("q_video_scene_cuts",
    (s, dir) => {
      import s.implicits._
      Queries.fanOut(Tables.read(s, dir, "documents")
        .select(col("doc_id")), "doc_id").as[Long]
        .mapPartitions { ids =>
          ids.flatMap { id =>
            val mp4 = plantedScenesMp4(id)
            val v = Mp4Codec.decodeMp4(mp4).get.tracks.find(_.handler == "vide").get
            val fps = v.syncSamples.sorted.take(SceneKeyframes).map { sn =>
              val png = Mp4Codec.extractSample(mp4, v, sn).get
              val dec = graft.multimodal.PixelCodec.decodePng(png).get
              val luma = graft.multimodal.PixelCodec.luminance(dec.pixels, dec.channels)
              graft.multimodal.PixelCodec.dhashBands(
                graft.multimodal.PixelCodec.resizeArea(luma, dec.width, dec.height, 9, 8))
            }
            (1 until fps.length).iterator.flatMap { k =>
              val h = (0 to 3).map(b =>
                java.lang.Long.bitCount(fps(k)(b) ^ fps(k - 1)(b))).sum.toLong
              if (h >= 10) Some((id, k.toLong, h)) else None
            }
          }
        }
        .toDF("doc_id", "k", "hamming")
    },
    Some(s"""WITH $sceneBandsSql
            |SELECT a.doc_id, b.k,
            |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            |     + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
            |    AS hamming
            |FROM kf a JOIN kf b ON a.doc_id = b.doc_id AND b.k = a.k + 1
            |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) >= 10"""
      .stripMargin))

  def all: Seq[Q] = Seq(videoMetaQ, videoKeyframes,
    videoFingerprint, videoNearDup, videoDedupGroups,
    videoKfDhash, videoSceneCuts)
}
