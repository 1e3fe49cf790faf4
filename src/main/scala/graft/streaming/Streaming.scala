package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.bfr.BFR
import graft.core.ClusterSummary
import graft.sources.PointSource

/** Streaming re-expression of the reference's bounded, ordered,
  * incremental chunk loop (SURVEY.md §2.9): the reference loads one file
  * per round (code/bfr.py:432-438, HW4.pdf §3a "load one file to the
  * memory and process"); here the same semantics run as a Structured
  * Streaming file source with `maxFilesPerTrigger=1` + `foreachBatch`.
  *
  * Caveat documented in SURVEY §2.1-S1: the file source orders batches by
  * modification time, not name; for strict lexicographic-round parity use
  * the batch driver (BfrApp). Everything else — threshold assignment
  * against broadcast DS state, monoid summary updates — is identical code.
  */
object Streaming {

  /** S1-as-stream: one chunk file per micro-batch, parsed to (id, features)
    * by the batch reader's own [[PointSource.parseLine]].
    */
  def chunkStream(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.readStream.option("maxFilesPerTrigger", 1).text(path).as[String]
      .flatMap(PointSource.parseLine).toDF("id", "features")
  }

  /** Incremental BFR over a chunk stream: round 1 initializes DS from the
    * first micro-batch, later rounds run the α-threshold assignment and
    * fold matched points into DS via the summary monoid (M5/A4).
    * Assignments land in `outDir/batch=<id>` as parquet.
    *
    * Restart / exactly-once posture: the source offsets live in the
    * Structured Streaming checkpoint; the BFR sufficient statistics are
    * snapshotted to `<checkpoint>/graft-bfr-state/state-<batchId>` after
    * every batch. On restart (or on re-delivery of a batch that failed
    * after a partial write) the in-memory state re-syncs to the snapshot
    * committed strictly BEFORE the delivered batch, and the batch's
    * output directory is overwritten — so a replayed batch recomputes
    * the identical rows instead of double-absorbing into DS or appending
    * duplicates. Net: the assignment rows of an interrupted-and-restarted
    * run are exactly those of an uninterrupted run.
    */
  final class BfrStreamState(cfg: BFR.Config) extends Serializable {
    @volatile var ds: IndexedSeq[ClusterSummary] = IndexedSeq.empty
    @volatile var rounds: Int = 0
    /** Last batchId processed by THIS JVM (-1 = none): a gap between it
      * and the next delivered batchId means restart or replay.
      */
    @volatile var lastBatch: Long = -1L
  }

  private def stateDir(checkpoint: String) = s"$checkpoint/graft-bfr-state"

  /** Serialized snapshot = rounds + the N/SUM/SUMSQ triples; written via
    * the checkpoint's Hadoop FileSystem (atomic-create semantics there),
    * so the same code path works on HDFS/object stores in cluster mode.
    */
  private def saveSnapshot(spark: SparkSession, checkpoint: String,
                           batchId: Long, ds: IndexedSeq[ClusterSummary],
                           rounds: Int): Unit = {
    val dir = new org.apache.hadoop.fs.Path(stateDir(checkpoint))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"state-$batchId"), true)
    val oos = new java.io.ObjectOutputStream(out)
    try { oos.writeInt(rounds); oos.writeObject(ds) } finally oos.close()
  }

  /** Latest snapshot with id < batchId, if any. */
  private def loadSnapshotBelow(spark: SparkSession, checkpoint: String,
                                batchId: Long): Option[(Int, IndexedSeq[ClusterSummary])] = {
    val dir = new org.apache.hadoop.fs.Path(stateDir(checkpoint))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val ids = fs.listStatus(dir).toSeq
      .map(_.getPath.getName).collect {
        case n if n.startsWith("state-") => n.stripPrefix("state-").toLong
      }.filter(_ < batchId)
    if (ids.isEmpty) None
    else {
      val ois = new java.io.ObjectInputStream(
        fs.open(new org.apache.hadoop.fs.Path(dir, s"state-${ids.max}")))
      try Some((ois.readInt(), ois.readObject().asInstanceOf[IndexedSeq[ClusterSummary]]))
      finally ois.close()
    }
  }

  def bfrStream(spark: SparkSession, inputPath: String, outDir: String,
                cfg: BFR.Config, checkpoint: String): (StreamingQuery, BfrStreamState) = {
    val state = new BfrStreamState(cfg)
    val q = chunkStream(spark, inputPath)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        if (state.lastBatch != batchId - 1) {
          // restart or replay: re-sync to the state committed before this
          // batch (never the batch's own snapshot — that would skip or
          // double-count the delivered chunk)
          loadSnapshotBelow(sess, checkpoint, batchId) match {
            case Some((rounds, ds)) => state.ds = ds; state.rounds = rounds
            case None => state.ds = IndexedSeq.empty; state.rounds = 0
          }
        }
        val chunk = batch.toDF()
        val batchOut = s"$outDir/batch=$batchId"
        if (state.ds.isEmpty) {
          // round 1: reuse the batch init path on this single chunk
          val res = BFR.run(chunk.sparkSession, Seq(chunk),
            cfg.copy(rsClusterThreshold = Int.MaxValue))
          state.ds = res.ds
          res.assignments.write.mode("overwrite").parquet(batchOut)
        } else {
          val (a, r) = BFR.assignToDsWithFeatures(chunk, state.ds, cfg.alphaAssign)
          // fold matched points into DS summaries (A4) via the shared
          // batch helper — no batch/streaming drift; features ride along
          // on the assigned side, no re-join of the chunk
          state.ds = BFR.absorb(state.ds,
            a.select(col("cluster").as("label"), col("features")))
          // unmatched -> outliers in streaming mode (RS spill is the batch
          // driver's job; here we emit -1 like the reference's finalize)
          a.select("id", "cluster")
            .union(r.select(col("id"), lit(-1).cast("int").as("cluster")))
            .write.mode("overwrite").parquet(batchOut)
        }
        state.rounds += 1
        saveSnapshot(sess, checkpoint, batchId, state.ds, state.rounds)
        state.lastBatch = batchId
      }
      .start()
    (q, state)
  }

  /** Watermarked tumbling-window aggregation over the events stream —
    * the engine's §2.9 window surface (batch twin: q_events_window).
    */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup: watermarked dropDuplicates on the id column —
    * duplicates arriving within the watermark horizon are suppressed,
    * state for ids older than the watermark is evicted (bounded state at
    * 100 TB ingest; exactly the shape a streaming training-data dedup
    * stage needs).
    */
  def dedupStream(events: DataFrame, idCol: String, tsCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicates(idCol, tsCol)

  /** Streaming near-duplicate suppression: each document's MinHash
    * signature computes MAP-SIDE via the native kernel (no explode, no
    * aggregation — which is what makes it legal inside a streaming
    * query), and `dropDuplicatesWithinWatermark` on the concatenated
    * signature keeps only the first document per signature within the
    * watermark horizon. Catches re-posts whose bytes differ but whose
    * shingle minima all agree — the tier between exact-hash streaming
    * dedup ([[dedupStream]]) and the offline LSH pipeline (banded
    * candidates + exact-Jaccard verify), with state bounded by the
    * watermark exactly like the exact tier.
    */
  def nearDupStream(docs: DataFrame, textCol: String, tsCol: String,
                    watermark: String = "10 minutes"): DataFrame = {
    val sigKey = concat_ws("",
      (0 until graft.functions.TextOps.minhashPerms).map(i => col(s"__sig.mh$i")): _*)
    docs
      .withColumn("__sig",
        graft.functions.NativeTextFunctions.minhashSignatureNative(col(textCol)))
      .withColumn("__sigkey", sigKey)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sigkey")
      .drop("__sig", "__sigkey")
  }

  /** Streaming image-duplicate suppression — the multimodal twin of
    * [[nearDupStream]]: each incoming document's image bytes decode
    * MAP-SIDE through whichever REAL codec its container needs
    * ([[graft.multimodal.ImageDecode]] sniffs PNG/GIF/JPEG magic), and
    * `dropDuplicatesWithinWatermark` on the 4×16-bit dHash fingerprint
    * keeps only the first document per fingerprint inside the watermark
    * horizon. Because fingerprints are container-independent (pinned by
    * `q_cross_codec_dups`), a JPEG re-post of a PNG original is
    * suppressed with no per-format logic — the live-ingest shape of the
    * batch `q_image_near_dup` tier, with state bounded by the watermark.
    * Undecodable payloads (junk, truncation, unknown container) cannot
    * be fingerprinted and are quarantined out of the stream rather than
    * spuriously deduplicated against each other.
    */
  def imageNearDupStream(docs: DataFrame, imgCol: String, tsCol: String,
                         watermark: String = "10 minutes"): DataFrame = {
    val fp = udf { (bytes: Array[Byte]) =>
      graft.multimodal.ImageDecode.fingerprint(bytes)
        .map(_.mkString(":")).orNull
    }
    docs
      .withColumn("__imgfp", fp(col(imgCol)))
      .filter(col("__imgfp").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__imgfp")
      .drop("__imgfp")
  }

  /** Streaming audio-duplicate suppression — the WAV twin of
    * [[imageNearDupStream]]: each incoming document's audio bytes decode
    * MAP-SIDE through the real RIFF/PCM codec, the chromaprint-style
    * energy-delta fingerprint ([[graft.multimodal.MediaDecode
    * .audioFingerprint]]) keys `dropDuplicatesWithinWatermark`, and only
    * the first document per fingerprint inside the watermark horizon
    * survives — the live-ingest shape of the batch `q_audio_near_dup`
    * tier, with state bounded by the watermark. Undecodable or
    * too-short payloads cannot be fingerprinted and are quarantined out
    * of the stream rather than spuriously deduplicated against each
    * other.
    */
  def audioNearDupStream(docs: DataFrame, audioCol: String, tsCol: String,
                         watermark: String = "10 minutes"): DataFrame = {
    val fp = udf { (bytes: Array[Byte]) =>
      graft.multimodal.MediaDecode.audioFingerprint(bytes)
        .map(_.mkString(":")).orNull
    }
    docs
      .withColumn("__audfp", fp(col(audioCol)))
      .filter(col("__audfp").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__audfp")
      .drop("__audfp")
  }

  /** Streaming video-duplicate suppression — the ISO-BMFF twin: the
    * incoming container's sync-sample payloads extract MAP-SIDE through
    * the real stsz/stsc/stco walk, their byte-sum signatures fold into
    * the sign-of-delta fingerprint ([[graft.multimodal.MediaDecode
    * .videoFingerprint]]), and the watermark-bounded dedup keeps the
    * first post per fingerprint — a re-encode that preserves keyframe
    * content (same payloads in a differently-laid-out box tree) is
    * suppressed, because the fingerprint reads CONTENT through the
    * sample tables, not container bytes.
    */
  def videoNearDupStream(docs: DataFrame, videoCol: String, tsCol: String,
                         watermark: String = "10 minutes"): DataFrame = {
    val fp = udf { (bytes: Array[Byte]) =>
      graft.multimodal.MediaDecode.videoFingerprint(bytes)
        .map(_.mkString(":")).orNull
    }
    docs
      .withColumn("__vidfp", fp(col(videoCol)))
      .filter(col("__vidfp").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__vidfp")
      .drop("__vidfp")
  }

  /** Streaming benchmark decontamination: the Bloom set-bit list built
    * once from the bounded benchmark table ([[graft.functions.TextOps
    * .bloomBitSet]]) rides into the continuous query as a plan literal,
    * so every incoming document is screened MAP-SIDE — no join, no
    * state, nothing to watermark. This is the shape the screen takes on
    * a live crawl at 100 TB: the filter is ~32 KB however large the
    * corpus, and the stream stays a stateless projection (any output
    * mode, any sink). False-positive behavior is exactly the batch
    * query's (`q_bloom_decontaminate` measures it against exact hits).
    */
  def decontaminateStream(docs: DataFrame, textCol: String,
                          bloomBits: Array[Long], flagAt: Int = 3): DataFrame =
    graft.functions.TextOps.bloomProbe(docs, col(textCol), bloomBits, flagAt)

  /** Streaming incremental near-dedup — the crawl-merge loop as a
    * continuous query: each micro-batch of new documents computes its
    * LSH band rows MAP-SIDE (native signature kernel), folds into the
    * PERSISTED corpus artifacts (band table + canonical mapping, both
    * parquet — exactly what the batch [[graft.operators.IncrementalDedup]]
    * consumes), and rewrites the canonical mapping via connected
    * components on the star + delta graph only.
    *
    * Restart/replay safety: band rows land in `artifacts/bands/batch=<id>`
    * with per-batch overwrite (idempotent re-delivery), and the canon
    * mapping is written as BATCH-VERSIONED snapshots
    * (`artifacts/canon/batch=<id>`) — each merge reads the latest
    * snapshot that finished committing (parquet `_SUCCESS` marker), so a
    * write torn by a crash is simply skipped, never read back as an
    * empty mapping (which would silently drop every earlier group). The
    * merge itself is a fixpoint: re-merging an already-merged batch
    * reconstructs the same components (stars already contain the batch's
    * docs; the delta edges are a subset), so replay leaves the mapping
    * unchanged.
    */
  /** Streaming data-expectations gate — the batch validation suite
    * (`q_data_expectations`) as a continuous query: per micro-batch
    * window, every declarative constraint is a conditional aggregate
    * over the same stream (one pass, no state beyond the windowed
    * aggregate), and a window whose `n_violations` is non-zero is the
    * schema-drift / garbage-ingest alarm for that ingestion slice. The
    * checks are plain codegen'd expressions, so the gate adds no
    * per-row cost beyond the aggregation it already rides on, at any
    * scale. Watermarked tumbling windows bound the state exactly like
    * `windowedEventCounts`.
    */
  def expectationsStream(events: DataFrame, tsCol: String,
                         windowDur: String = "1 minute",
                         watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowDur))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("value") < 0 || col("value") > 1000, 1L).otherwise(0L))
          .as("v_value_range"),
        sum(when(!col("event_type").isin("click", "view", "purchase",
          "signup", "error"), 1L).otherwise(0L)).as("v_event_type_domain"),
        sum(when(col("user_id").isNull || col("user_id") < 0, 1L).otherwise(0L))
          .as("v_user_id"))
      .select(col("window.start").as("window_start"), col("n_rows"),
        (col("v_value_range") + col("v_event_type_domain") + col("v_user_id"))
          .as("n_violations"),
        col("v_value_range"), col("v_event_type_domain"), col("v_user_id"))

  /** Stream-static enrichment — the ingest-time dimension lookup (user
    * profile, source metadata, model-version table): the static side is
    * broadcast and re-planned per micro-batch, so a file-backed
    * dimension picks up slowly-changing updates without restarting the
    * query; LEFT join so unmatched events survive with nulls (dropping
    * them silently at ingest is how pipelines lose data). Stateless —
    * nothing to watermark, any output mode, and the stream side never
    * shuffles for the lookup at any scale.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Streaming session windows — the gap-based sessionization
    * (`q_sessionize` / `q_session_window`) as a continuous query:
    * Spark's native `session_window` merges events within `gap` into
    * growing per-key sessions and the watermark closes (emits) a
    * session once no in-gap event can still arrive. State per key is
    * the open session only — bounded by activity, evicted at close.
    */
  def sessionWindowStream(events: DataFrame, tsCol: String, keyCol: String,
                          gap: String = "5 minutes",
                          watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  def incrementalDedupStream(spark: SparkSession, docsStream: DataFrame,
                             artifactsDir: String, checkpoint: String)
      : StreamingQuery = {
    import graft.functions.TextOps
    docsStream
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val sess = batch.sparkSession
        val sig = TextOps.signatureFromText(batch.toDF(), "doc_id", col("text"))
        val newBands = TextOps.lshBands(sig, "doc_id")
        newBands.write.mode("overwrite")
          .parquet(s"$artifactsDir/bands/batch=$batchId")
        val allBands = sess.read.parquet(s"$artifactsDir/bands/batch=*")
        val existing = latestCanonSnapshot(sess, artifactsDir).getOrElse(
          sess.createDataFrame(sess.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("canonical_id",
                org.apache.spark.sql.types.LongType)))))
        val merged = graft.operators.IncrementalDedup
          .mergeBatch(existing, newBands, allBands, "doc_id")
          .localCheckpoint(true) // cut lineage off the snapshot being read
        merged.write.mode("overwrite")
          .parquet(s"$artifactsDir/canon/batch=$batchId")
      }
      .start()
  }

  /** Latest canonical-mapping snapshot whose parquet commit COMPLETED
    * (`_SUCCESS` present) — torn writes are skipped, not read as empty.
    */
  def latestCanonSnapshot(spark: SparkSession,
                          artifactsDir: String): Option[DataFrame] = {
    val dir = new org.apache.hadoop.fs.Path(s"$artifactsDir/canon")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val committed = fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("batch=") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .sortBy(_.getName.stripPrefix("batch=").toLong)
    committed.lastOption.map(p => spark.read.parquet(p.toString))
  }

  /** Stream-stream inner join with a time bound: pair each left event
    * with right events for the same key within `boundSeconds` after it.
    * Watermarks on both sides bound the join state.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       keyCol: String, tsCol: String,
                       boundSeconds: Int = 300,
                       watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("k"), col(tsCol).as("lts"))
    val r = right.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("rk"), col(tsCol).as("rts"))
    l.join(r, col("k") === col("rk") &&
      col("rts") >= col("lts") &&
      col("rts") <= col("lts") + expr(s"INTERVAL $boundSeconds SECONDS"))
  }

  /** Custom arbitrary state: running per-key counts via
    * mapGroupsWithState (KeyValueGroupedDataset surface).
    */
  def runningCounts(events: Dataset[(String, Double)]): Dataset[(String, Long, Double)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (String, Long, Double)](
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, gstate: GroupState[(Long, Double)]) =>
          val (n0, s0) = gstate.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          gstate.update((n, s))
          (key, n, s)
      }
  }
}
