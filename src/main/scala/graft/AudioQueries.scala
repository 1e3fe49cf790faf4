package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.multimodal.WavCodec
import graft.operators.FingerprintDups

/** Audio tier over REAL sample-level WAV decode — the time-domain twin of
  * ImageQueries: every document plants a spec-valid RIFF/PCM file whose
  * SAMPLES are a closed-form function of doc_id, and the engine recovers
  * metadata, frame features, and a chromaprint-style fingerprint by
  * actually decoding — chunk walk → fmt parse → PCM-16 LE samples →
  * frame energies → sign-of-delta 64-bit banded fingerprint.
  *
  * The oracle never touches WAV bytes: it recomputes the planted frame
  * parameters and the feature arithmetic from `documents.doc_id` alone,
  * so any defect in the codec chain (chunk alignment, LIST skipping,
  * little-endian sample read, signed-16 reconstruction, frame energy,
  * ZCR segmentation, bit packing) lands hash-red.
  *
  * Planted structure per doc: 65 frames × 256 samples of a ±amp square
  * wave, amp and half-period closed-form in (doc_id/4, frame) — so
  *  - RMS is exact integer arithmetic until one final IEEE sqrt,
  *  - per-frame ZCR is floor(255/p),
  *  - frame energy is 256·amp² exactly (Long).
  * Docs in the same doc_id/4 group share all frame params; member j = 3
  * perturbs ONE frame's amplitude (≤ 2 fingerprint bits flip), so every
  * group is a 4-clique of near-duplicates at hamming ≤ 3 — fixed group
  * size regardless of corpus size, caught by a pigeonhole-complete
  * equi-join on 16-bit bands (4 bands cover hamming ≤ 3), never
  * all-pairs. Same banding scale story as the image and SimHash tiers:
  * at 100 TB the fingerprint pass is map-side (decode + hash per blob,
  * no shuffle) and the band join shuffles buckets of expected occupancy
  * corpus/65536 per band.
  */
object AudioQueries {

  private val Frames = 65
  private val FrameLen = 256
  private val SampleRate = 16000
  private val NumSamples = Frames * FrameLen // 16640 → duration 1040 ms

  /** Closed-form planted frame parameters; MUST stay in lockstep with
    * the SQL in the oracles below.
    *
    * The `(g * (f + 7)) % 977` mixing term decorrelates the amplitude
    * PATTERN across groups. Without it, amp(f+1) − amp(f) = 66 + 26·f is
    * independent of g except at mod-3000 wraps, so all groups share
    * nearly the same energy-delta fingerprint and groups with nearby
    * wrap phases land within hamming ≤ 3 — at sf1 (12.5k groups) that
    * made the near-dup graph dense enough to OOM connected components.
    * With the term each group's bits are pseudo-independent, cross-group
    * collisions are chance-level (~C(64,≤3)/2^16 per band pair), and the
    * planted groups stay exact 4-cliques at any corpus size.
    */
  private[graft] def frameParams(docId: Long, f: Int): (Int, Int) = {
    val g = docId / 4
    val base = ((g * 97 + f * 53 + f * f * 13 + ((g * (f + 7)) % 977) * 31) % 3000).toInt
    val amp = base + (if (docId % 4 == 3 && f == 10) 600 else 100)
    val p = (1 + (g * 31 + f * 7) % 8).toInt
    (amp, p)
  }

  /** The planted per-document sample stream (per-frame ±amp square wave
    * with half-period p samples) — shared by every container layout.
    */
  private[graft] def plantedSamples(docId: Long): Array[Short] = {
    val samples = new Array[Short](NumSamples)
    var f = 0
    while (f < Frames) {
      val (amp, p) = frameParams(docId, f)
      var i = 0
      while (i < FrameLen) {
        val sign = if ((i / p) % 2 == 0) 1 else -1
        samples(f * FrameLen + i) = (amp * sign).toShort
        i += 1
      }
      f += 1
    }
    samples
  }

  /** One real WAV per document: PCM-16 mono at 16 kHz. */
  private[graft] def plantedWav(docId: Long): Array[Byte] =
    WavCodec.encodeWav(SampleRate, 1, plantedSamples(docId))

  /** The SAME planted content in a layout chosen by doc_id % 3:
    * 0 → stereo 16-bit (L = R), 1 → mono 24-bit (low byte zero),
    * 2 → mono 16-bit — the crawled-audio format spread with a
    * closed-form decode.
    */
  private[graft] def plantedWavMixedFormat(docId: Long): Array[Byte] = {
    val mono = plantedSamples(docId)
    (docId % 3) match {
      case 0 =>
        val st = new Array[Int](mono.length * 2)
        var i = 0
        while (i < mono.length) {
          st(2 * i) = mono(i).toInt; st(2 * i + 1) = mono(i).toInt; i += 1
        }
        WavCodec.encodeWavPcm(SampleRate, 2, 16, st)
      case 1 =>
        val s24 = new Array[Int](mono.length)
        var i = 0
        while (i < mono.length) { s24(i) = mono(i).toInt << 8; i += 1 }
        WavCodec.encodeWavPcm(SampleRate, 1, 24, s24)
      case _ =>
        WavCodec.encodeWav(SampleRate, 1, mono)
    }
  }

  /** doc_id → decoded metadata + features + fingerprint bands via the
    * REAL codec chain. Map-side only: encode is the fixture, decode
    * onward is the production kernel. The four audio queries and the
    * curation capstone are stages over ONE decoded corpus, so the WAV
    * encode+decode pass runs once.
    */
  private val audioFeatures = Artifact("audio_features") { (s, dir) =>
    audioFeaturesUncached(s, dir).localCheckpoint(true)
  }

  private[graft] def sharedArtifactWarmers
      : Seq[(String, (SparkSession, String) => Unit)] =
    Seq(audioFeatures).map(_.warmer)

  private def audioFeaturesUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Queries.fanOut(s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val wav = plantedWav(id)
          val d = WavCodec.decodeWav(wav).getOrElse(
            throw new IllegalStateException(s"undecodable planted WAV for doc $id"))
          val ff = WavCodec.frameFeatures(d.samples, FrameLen)
          val bands = WavCodec.energyFingerprint(ff.energies)
          val rmsMilli =
            math.floor(math.sqrt(ff.sumSq.toDouble / d.samples.length) * 1000.0).toLong
          (id, d.sampleRate.toLong, d.channels.toLong, d.samples.length.toLong,
            d.samples.length.toLong * 1000L / d.sampleRate,
            rmsMilli, ff.peak.toLong, ff.zcr,
            bands(0), bands(1), bands(2), bands(3))
        }
      }
      .toDF("doc_id", "sample_rate", "channels", "n_samples", "duration_ms",
        "rms_milli", "peak", "zcr", "b0", "b1", "b2", "b3")
  }

  /** The oracle's closed-form twin of the planted frame grid: one row per
    * (doc_id, f) with amp, half-period and exact frame energy. Shared by
    * all audio oracles.
    */
  private val framesSql: String =
    """frames AS (
      |  SELECT doc_id, f,
      |    ((doc_id // 4) * 97 + f * 53 + f * f * 13
      |      + (((doc_id // 4) * (f + 7)) % 977) * 31) % 3000
      |      + CASE WHEN doc_id % 4 = 3 AND f = 10 THEN 600 ELSE 100 END AS amp,
      |    1 + ((doc_id // 4) * 31 + f * 7) % 8 AS p
      |  FROM documents,
      |    (SELECT unnest(generate_series(0, 64)) AS f)),
      |energies AS (
      |  SELECT doc_id, f, amp, p, 256 * amp * amp AS e FROM frames)""".stripMargin

  private val bandsSql: String = framesSql + """,
      |bits AS (
      |  SELECT a.doc_id, a.f // 16 AS band, a.f % 16 AS idx
      |  FROM energies a JOIN energies b
      |    ON a.doc_id = b.doc_id AND b.f = a.f + 1
      |  WHERE a.f < 64 AND a.e < b.e),
      |bands AS MATERIALIZED (
      |  SELECT d.doc_id,
      |    CAST(coalesce(sum(CASE WHEN band = 0 THEN 1 << idx END), 0) AS BIGINT) AS b0,
      |    CAST(coalesce(sum(CASE WHEN band = 1 THEN 1 << idx END), 0) AS BIGINT) AS b1,
      |    CAST(coalesce(sum(CASE WHEN band = 2 THEN 1 << idx END), 0) AS BIGINT) AS b2,
      |    CAST(coalesce(sum(CASE WHEN band = 3 THEN 1 << idx END), 0) AS BIGINT) AS b3
      |  FROM (SELECT DISTINCT doc_id FROM documents) d
      |  LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id)""".stripMargin

  /** Container metadata through the full real decode chain. */
  val audioMeta = Q("q_audio_meta",
    (s, dir) => audioFeatures(s, dir)
      .select("doc_id", "sample_rate", "channels", "n_samples", "duration_ms"),
    Some("""SELECT doc_id,
           |  CAST(16000 AS BIGINT) AS sample_rate,
           |  CAST(1 AS BIGINT) AS channels,
           |  CAST(16640 AS BIGINT) AS n_samples,
           |  CAST(1040 AS BIGINT) AS duration_ms
           |FROM documents""".stripMargin))

  /** Frame-analysis features (RMS, peak, ZCR) from decoded samples. */
  val audioFeaturesQ = Q("q_audio_features",
    (s, dir) => audioFeatures(s, dir)
      .select("doc_id", "rms_milli", "peak", "zcr"),
    Some(s"""WITH $framesSql
            |SELECT doc_id,
            |  CAST(floor(sqrt(CAST(sum(e) AS DOUBLE) / 16640.0) * 1000.0) AS BIGINT)
            |    AS rms_milli,
            |  CAST(max(amp) AS BIGINT) AS peak,
            |  CAST(sum((256 - 1) // p) AS BIGINT) AS zcr
            |FROM energies GROUP BY doc_id""".stripMargin))

  /** Chromaprint-style energy-delta fingerprint, four 16-bit bands. */
  val audioFingerprint = Q("q_audio_fingerprint",
    (s, dir) => audioFeatures(s, dir).select("doc_id", "b0", "b1", "b2", "b3"),
    Some(s"""WITH $bandsSql
            |SELECT doc_id, b0, b1, b2, b3 FROM bands""".stripMargin))

  /** Banded audio near-dup: equal-16-bit-band candidates → exact hamming
    * ≤ 3 verify (pigeonhole-complete). Never all-pairs.
    */
  val audioNearDup = Q("q_audio_near_dup",
    (s, dir) => FingerprintDups.nearDupPairs(
      audioFeatures(s, dir).select("doc_id", "b0", "b1", "b2", "b3")),
    Some(OracleBandDups.nearDup(bandsSql)))

  /** Audio dedup GROUPS: connected components over the verified banded
    * near-dup pairs — completes the per-modality near-dup → canonical-
    * group loop (text, embeddings, images, audio all share the same
    * HASH-to-MIN operator); oracle = the shared [[OracleCc]] pointer-
    * jump contraction over the same candidate/hamming CTE chain (the
    * recursive-closure form died on DuckDB resources at sf10 — the
    * exact failure mode the text tier's grouping oracles shed in r11).
    */
  val audioDedupGroups = Q("q_audio_dedup_groups",
    (s, dir) => FingerprintDups.groups(audioNearDup.fn(s, dir)),
    Some(OracleBandDups.groups(bandsSql)),
    scaleOracle = Some(OracleBandDups.groupsOfDump("dump_q_audio_near_dup")))

  /** Cross-modal curation capstone: the keep mask a multimodal corpus
    * pipeline applies before packing — a document survives iff it is not
    * the LATER member of any image near-dup pair, not the later member of
    * any audio near-dup pair, and passes the cheap text gate (≥ 5
    * tokens). Composes the independently-oracle-checked image and audio
    * near-dup fragments (both banded, never all-pairs) with two
    * existence joins; the oracle nests each modality's CTE chain in a
    * derived table so their internal names can't collide.
    */
  val multimodalCuration = Q("q_multimodal_curation",
    (s, dir) => {
      val imgDup = ImageQueries.imageNearDup.fn(s, dir)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("img_dup", lit(1L))
      val audDup = audioNearDup.fn(s, dir)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("audio_dup", lit(1L))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .join(imgDup, Seq("doc_id"), "left")
        .join(audDup, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("img_dup"), lit(0L)).as("img_dup"),
          coalesce(col("audio_dup"), lit(0L)).as("audio_dup"),
          col("n_tokens"),
          when(coalesce(col("img_dup"), lit(0L)) === 0 &&
            coalesce(col("audio_dup"), lit(0L)) === 0 &&
            col("n_tokens") >= 5, lit(1L)).otherwise(lit(0L)).as("kept"))
    },
    Some(s"""WITH ipairs AS MATERIALIZED (
            |  ${OracleBandDups.laterMembers(ImageQueries.lumaCellsSql)}),
            |apairs AS MATERIALIZED (
            |  ${OracleBandDups.laterMembers(bandsSql)}),
            |tok AS (
            |  SELECT doc_id,
            |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            |      AS n_tokens
            |  FROM documents)
            |SELECT d.doc_id,
            |  CAST(CASE WHEN i.id_b IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
            |    AS img_dup,
            |  CAST(CASE WHEN a.id_b IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
            |    AS audio_dup,
            |  t.n_tokens,
            |  CAST(CASE WHEN i.id_b IS NULL AND a.id_b IS NULL
            |        AND t.n_tokens >= 5 THEN 1 ELSE 0 END AS BIGINT) AS kept
            |FROM documents d
            |JOIN tok t ON t.doc_id = d.doc_id
            |LEFT JOIN ipairs i ON i.id_b = d.doc_id
            |LEFT JOIN apairs a ON a.id_b = d.doc_id""".stripMargin),
    // Scaled-gate twin: both modalities' dup sets come from the
    // just-verified near-dup pair dumps — the base oracle re-derives
    // BOTH band self-joins inside one SQL and passed at sf10 only solo
    // at the 44.7 GiB cap (r13 retry3).
    scaleOracle = Some(
      """WITH ipairs AS (
        |  SELECT DISTINCT id_b FROM dump_q_image_near_dup),
        |apairs AS (
        |  SELECT DISTINCT id_b FROM dump_q_audio_near_dup),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN i.id_b IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS img_dup,
        |  CAST(CASE WHEN a.id_b IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS audio_dup,
        |  t.n_tokens,
        |  CAST(CASE WHEN i.id_b IS NULL AND a.id_b IS NULL
        |        AND t.n_tokens >= 5 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM documents d
        |JOIN tok t ON t.doc_id = d.doc_id
        |LEFT JOIN ipairs i ON i.id_b = d.doc_id
        |LEFT JOIN apairs a ON a.id_b = d.doc_id""".stripMargin))

  /** Cross-format PCM normalization: the same content through three
    * container layouts (stereo-16 with L = R, mono-24 with zero low
    * bytes, mono-16) must normalize to IDENTICAL frame features after
    * decode + downmix + depth reduction — the audio sibling of
    * q_cross_codec_dups. channels/bits report the container census
    * (what a crawl pipeline routes on); the feature columns are the
    * mono-16 closed forms, proving the normalization is lossless on
    * content the layouts can all carry.
    */
  val audioFormats = Q("q_audio_formats",
    (s, dir) => {
      import s.implicits._
      Queries.fanOut(s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")), "doc_id").as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val wav = plantedWavMixedFormat(id)
            val d = WavCodec.decodeWav(wav).getOrElse(
              throw new IllegalStateException(s"undecodable planted WAV for doc $id"))
            val mono = WavCodec.downmixMono(d)
            val ff = WavCodec.frameFeatures(mono, FrameLen)
            val rmsMilli =
              math.floor(math.sqrt(ff.sumSq.toDouble / mono.length) * 1000.0).toLong
            (id, d.channels.toLong, d.bits.toLong, mono.length.toLong,
              rmsMilli, ff.peak.toLong, ff.zcr)
          }
        }
        .toDF("doc_id", "channels", "bits", "n_frames_mono",
          "rms_milli", "peak", "zcr")
    },
    Some(s"""WITH $framesSql
            |SELECT doc_id,
            |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS channels,
            |  CAST(CASE WHEN doc_id % 3 = 1 THEN 24 ELSE 16 END AS BIGINT) AS bits,
            |  CAST(16640 AS BIGINT) AS n_frames_mono,
            |  CAST(floor(sqrt(CAST(sum(e) AS DOUBLE) / 16640.0) * 1000.0) AS BIGINT)
            |    AS rms_milli,
            |  CAST(max(amp) AS BIGINT) AS peak,
            |  CAST(sum((256 - 1) // p) AS BIGINT) AS zcr
            |FROM energies GROUP BY doc_id""".stripMargin))

  def all: Seq[Q] = Seq(audioMeta, audioFeaturesQ, audioFingerprint,
    audioNearDup, audioDedupGroups, multimodalCuration, audioFormats)
}
