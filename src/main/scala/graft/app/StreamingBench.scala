package graft.app

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.bfr.BFR
import graft.streaming.Streaming

/** Streaming performance posture (SURVEY §8): throughput and state-size
  * numbers for the two stateful streaming tiers, measured over a replayed
  * chunk stream — the batch-file analog of a production ingest topic.
  *
  *  - near-dup suppression: documents replayed `copies`× across `files`
  *    micro-batches whose event time advances 5 min per batch, so the
  *    stream spans ≥3× the 10-minute watermark horizon and the probe can
  *    SHOW eviction: dropDuplicatesWithinWatermark state must plateau at
  *    the rows inside the horizon, not grow with total ingest.
  *  - streaming BFR: the chunked clustering loop over CSV chunk files,
  *    one micro-batch per chunk, exactly the production restart-safe
  *    path ([[Streaming.bfrStream]], then [[Streaming.finishBfrStream]]).
  *
  * Prints ONE JSON line with rows/s, per-batch max/last state rows and
  * state memory. Usage:
  *   runMain graft.app.StreamingBench [sfDir] [copies] [files]
  */
object StreamingBench {

  final case class NearDupResult(
      rowsIn: Long, rowsOut: Long, seconds: Double, rowsPerSec: Long,
      maxStateRows: Long, lastStateRows: Long, maxStateBytes: Long,
      batches: Int)

  def runNearDup(spark: SparkSession, sfDir: String, copies: Int,
                 files: Int): NearDupResult = {
    val work = Files.createTempDirectory("ndbench").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // copies× replication: copy c perturbs the text with a suffix token
    // only for c>0 docs with odd ids, so the stream carries BOTH exact
    // signature duplicates (suppressed) and near-variants (kept)
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    for (f <- 0 until files) {
      docs.filter(pmod(col("doc_id"), lit(files)) === f)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(copies - 1))).as("c"))
        .select(
          (col("doc_id") * copies + col("c")).as("id"),
          when(col("c") > 0 && col("doc_id") % 2 === 1,
            concat(col("text"), lit(" variantmark"), col("c")))
            .otherwise(col("text")).as("text"),
          lit(new java.sql.Timestamp(base + f * 5L * 60 * 1000)).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$work/in/f$f")
      Thread.sleep(5) // distinct mod-times keep the replay order stable
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/in/*")
    // recentProgress keeps only the last N entries (default 100); with
    // one batch per file, a large `files` run would silently truncate
    // rowsIn / maxStateRows — retain every batch's progress
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (files + 16).toString)
    val t0 = System.nanoTime()
    val q = Streaming.nearDupStream(in, "text", "ts", "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$work/out")
      .start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val stateRows = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
    val stateBytes = progress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
    val rowsIn = progress.map(_.numInputRows).sum
    val rowsOut = spark.read.parquet(s"$work/out").count()
    NearDupResult(rowsIn, rowsOut, math.rint(secs * 10) / 10,
      (rowsIn / secs).toLong,
      if (stateRows.isEmpty) 0 else stateRows.max,
      if (stateRows.isEmpty) 0 else stateRows.last,
      if (stateBytes.isEmpty) 0 else stateBytes.max,
      progress.count(_.numInputRows > 0))
  }

  /** Shared harness for the binary-payload dedup legs: replayed
    * micro-batch files of (id, payload, ts) with event time advancing
    * 5 min per batch (≥3× the 10-min watermark horizon, so eviction
    * shows), suppressed by [[Streaming.fingerprintDupStream]] under the
    * given fingerprint, state/throughput collected from query progress.
    */
  private def runBinaryDedup(spark: SparkSession, sfDir: String,
      copies: Int, files: Int, tag: String,
      mk: (Long, Int) => Array[Byte],
      fingerprint: Array[Byte] => Option[Array[Long]]): NearDupResult = {
    val work = Files.createTempDirectory(tag).toString
    val mkU = udf(mk)
    val ids = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"))
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    for (f <- 0 until files) {
      ids.filter(pmod(col("doc_id"), lit(files)) === f)
        .select(col("doc_id"),
          explode(sequence(lit(0), lit(copies - 1))).as("c"))
        .select(
          (col("doc_id") * copies + col("c")).as("id"),
          mkU(col("doc_id"), col("c")).as("payload"),
          lit(new java.sql.Timestamp(base + f * 5L * 60 * 1000)).as("ts"))
        .coalesce(1).write.mode("overwrite").parquet(s"$work/in/f$f")
      Thread.sleep(5)
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType),
      StructField("ts", TimestampType)))
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/in/*")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      (files + 16).toString)
    val t0 = System.nanoTime()
    val q = Streaming.fingerprintDupStream(in, "payload", "ts", fingerprint, "10 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$work/out")
      .start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val stateRows = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
    val stateBytes = progress.flatMap(_.stateOperators.map(_.memoryUsedBytes))
    val rowsIn = progress.map(_.numInputRows).sum
    val rowsOut = spark.read.parquet(s"$work/out").count()
    NearDupResult(rowsIn, rowsOut, math.rint(secs * 10) / 10,
      (rowsIn / secs).toLong,
      if (stateRows.isEmpty) 0 else stateRows.max,
      if (stateRows.isEmpty) 0 else stateRows.last,
      if (stateBytes.isEmpty) 0 else stateBytes.max,
      progress.count(_.numInputRows > 0))
  }

  /** The multimodal image leg: a mixed-container stream (each replica
    * of a document's planted content rotates PNG → GIF → JPEG) through
    * [[Streaming.fingerprintDupStream]] — so the measured rate is REAL
    * decode (inflate/unfilter, LZW, Huffman+IDCT, now including the
    * color 4:2:0 JPEG path and GIF color maps) + fingerprint +
    * watermark-bounded suppression, images/sec. Content collides across
    * containers AND across the planted doc_id/4 groups (3 of 4 members
    * pixel-identical), so suppression is exercised on both axes.
    */
  def runImageDedup(spark: SparkSession, sfDir: String, copies: Int,
                    files: Int): NearDupResult =
    runBinaryDedup(spark, sfDir, copies, files, "imgbench",
      (id, c) => (c % 3) match {
        case 0 => graft.ImageQueries.plantedPng(id)
        case 1 => graft.ImageQueries.plantedGif(id)
        case _ => graft.ImageQueries.plantedJpeg(id)
      },
      graft.multimodal.ImageDecode.fingerprint)

  /** The audio leg: each replica rotates through its doc_id/4 group's
    * members (j = 0,1,2 fingerprint-identical → suppressed; j = 3
    * perturbs one frame → kept), so the measured rate is real RIFF/PCM
    * decode + frame energies + chromaprint fingerprint + suppression,
    * clips/sec, with watermark-bounded state.
    */
  def runAudioDedup(spark: SparkSession, sfDir: String, copies: Int,
                    files: Int): NearDupResult =
    runBinaryDedup(spark, sfDir, copies, files, "audbench",
      (id, c) => graft.AudioQueries.plantedWav(id - id % 4 + c % 4),
      graft.multimodal.MediaDecode.audioFingerprint)

  /** The video leg: odd replicas are RE-MUXED containers (same keyframe
    * payloads, different box bytes), so suppression must read sample
    * CONTENT through the stsz/stsc/stco walk — the measured rate is
    * real ISO-BMFF parsing + 65 sample extractions + fingerprint per
    * container, with watermark-bounded state.
    */
  def runVideoDedup(spark: SparkSession, sfDir: String, copies: Int,
                    files: Int): NearDupResult =
    runBinaryDedup(spark, sfDir, copies, files, "vidbench",
      (id, c) =>
        if (c % 2 == 0) graft.VideoQueries.plantedContentMp4(id)
        else graft.VideoQueries.remuxedContentMp4(id, 640, 360),
      graft.multimodal.MediaDecode.videoFingerprint)

  final case class BfrStreamResult(
      rowsIn: Long, seconds: Double, rowsPerSec: Long, rounds: Int,
      dsClusters: Int, assigned: Long)

  def runBfrStream(spark: SparkSession, sfDir: String, chunks: Int,
                   replicate: Int = 1): BfrStreamResult = {
    val work = Files.createTempDirectory("bfrbench").toString
    val pts0 = graft.sources.PointSource.fromEmbeddings(spark, sfDir)
    val n0 = pts0.count()
    // replicate× with id offsets: same cluster structure, real volume
    val pts = pts0
      .select(col("id"), col("features"),
        explode(sequence(lit(0), lit(replicate - 1))).as("r"))
      .select((col("id") + col("r") * n0).as("id"), col("features"))
      .localCheckpoint(true)
    val n = pts.count()
    for (c <- 0 until chunks) {
      pts.filter(pmod(col("id"), lit(chunks)) === c)
        .select(concat_ws(",", col("id").cast("string"),
          array_join(transform(col("features"), _.cast("string")), ",")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$work/chunks/c$c")
      Thread.sleep(5)
    }
    val t0 = System.nanoTime()
    val (q, state) = Streaming.bfrStream(spark, s"$work/chunks/*",
      s"$work/out", BFR.Config(k = 10), s"$work/ckpt")
    q.awaitTermination()
    Streaming.finishBfrStream(spark, s"$work/out", s"$work/ckpt")
    val secs = (System.nanoTime() - t0) / 1e9
    val assigned = spark.read.parquet(s"$work/out/batch=*").count()
    BfrStreamResult(n, math.rint(secs * 10) / 10, (n / secs).toLong,
      state.rounds, state.ds.size, assigned)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(4)
    val files = args.lift(2).map(_.toInt).getOrElse(24)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-streaming-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val nd = runNearDup(spark, sfDir, copies, files)
    // the image leg decodes every payload for real (~1 ms/image), so its
    // volume is capped independently of the text leg's replication dial
    val img = runImageDedup(spark, sfDir, math.min(copies, 8),
      math.min(files, 12))
    // audio decodes ~16k samples and video extracts 65 samples per
    // payload — same volume cap as the image leg
    val aud = runAudioDedup(spark, sfDir, math.min(copies, 8),
      math.min(files, 12))
    val vid = runVideoDedup(spark, sfDir, math.min(copies, 8),
      math.min(files, 12))
    val bf = runBfrStream(spark, sfDir, chunks = 8,
      replicate = args.lift(3).map(_.toInt).getOrElse(50))
    println(s"""{"mode":"streaming","near_dup":{"rows_in":${nd.rowsIn},""" +
      s""""rows_out":${nd.rowsOut},"seconds":${nd.seconds},""" +
      s""""rows_per_sec":${nd.rowsPerSec},"max_state_rows":${nd.maxStateRows},""" +
      s""""last_state_rows":${nd.lastStateRows},"max_state_bytes":${nd.maxStateBytes},""" +
      s""""batches":${nd.batches}},""" +
      s""""image_dedup":{"rows_in":${img.rowsIn},"rows_out":${img.rowsOut},""" +
      s""""seconds":${img.seconds},"images_per_sec":${img.rowsPerSec},""" +
      s""""max_state_rows":${img.maxStateRows},""" +
      s""""max_state_bytes":${img.maxStateBytes},"batches":${img.batches}},""" +
      s""""audio_dedup":{"rows_in":${aud.rowsIn},"rows_out":${aud.rowsOut},""" +
      s""""seconds":${aud.seconds},"clips_per_sec":${aud.rowsPerSec},""" +
      s""""max_state_rows":${aud.maxStateRows},""" +
      s""""max_state_bytes":${aud.maxStateBytes},"batches":${aud.batches}},""" +
      s""""video_dedup":{"rows_in":${vid.rowsIn},"rows_out":${vid.rowsOut},""" +
      s""""seconds":${vid.seconds},"videos_per_sec":${vid.rowsPerSec},""" +
      s""""max_state_rows":${vid.maxStateRows},""" +
      s""""max_state_bytes":${vid.maxStateBytes},"batches":${vid.batches}},""" +
      s""""bfr":{"rows_in":${bf.rowsIn},"seconds":${bf.seconds},""" +
      s""""rows_per_sec":${bf.rowsPerSec},"rounds":${bf.rounds},""" +
      s""""ds_clusters":${bf.dsClusters},"assigned":${bf.assigned}}}""")
    spark.stop()
  }
}
