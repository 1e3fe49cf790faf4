package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.bfr.BFR
import graft.eval.Nmi
import graft.sources.PointSource
import graft.streaming.Streaming

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  test("bfrStream clusters a chunk-file stream incrementally") {
    import spark.implicits._
    // reuse the reference-layout dataset writer from AppAndIoSpec
    val dir = Files.createTempDirectory("stream_ds").toString
    val truth = new AppAndIoSpec().writeChunkedDataset(dir, nChunks = 3)
    val outDir = Files.createTempDirectory("stream_out").toString + "/assign"
    val ckpt = Files.createTempDirectory("stream_ckpt").toString
    val (q, state) = Streaming.bfrStream(spark, dir, outDir,
      BFR.Config(k = 4), ckpt)
    q.awaitTermination(300000)
    Streaming.finishBfrStream(spark, outDir, ckpt)
    assert(state.rounds == 3, s"expected 3 micro-batches, got ${state.rounds}")
    assert(state.ds.size == 4)
    val assigned = spark.read.parquet(outDir)
    assert(assigned.count() == truth.size)
    val nmi = Nmi.score(assigned, truth.toSeq.toDF("id", "label"))
    assert(nmi > 0.8, s"streaming BFR NMI $nmi below pass bar")
  }

  /** Writes the chunked blob dataset with 10% outliers into a fresh
    * directory, with modification times pinned in name order so the file
    * source's (modTime, path) order is the batch driver's round order
    * and the same in every run, however long copies take.
    */
  private def noisyChunks(prefix: String, nChunks: Int): (String, Map[Long, Int], Array[java.io.File]) = {
    val dir = Files.createTempDirectory(prefix).toString
    val truth = new AppAndIoSpec().writeChunkedDataset(dir, nChunks, outliers = 120)
    val files = new java.io.File(dir).listFiles().filter(_.isFile).sortBy(_.getName)
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified(1000000000000L + i * 60000L) }
    (dir, truth, files)
  }
  // RS re-clusters into CS at this threshold, and singletons stay RS
  private val noisyCfg = BFR.Config(k = 4, rsClusterThreshold = 5)

  private def pairs(df: DataFrame): Seq[(Long, Int)] =
    df.select("id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted

  test("bfrStream plus finish labels a chunk directory exactly as batch BFR.run") {
    val (dir, truth, _) = noisyChunks("stream_eq_ds", nChunks = 4)
    val outDir = Files.createTempDirectory("stream_eq_out").toString + "/assign"
    val ckpt = Files.createTempDirectory("stream_eq_ckpt").toString
    val (q, state) = Streaming.bfrStream(spark, dir, outDir, noisyCfg, ckpt)
    q.awaitTermination(300000)
    assert(state.rounds == 4)
    val streamed = Streaming.finishBfrStream(spark, outDir, ckpt)
    val batch = BFR.run(spark, PointSource.readDataset(spark, dir), noisyCfg)

    val (s, b) = (pairs(streamed.assignments), pairs(batch.assignments))
    assert(s.size == truth.size && s == b, "streamed (id, cluster) rows differ from BFR.run's")
    // the fixture exercises every part of the round and the finish
    assert(b.count(_._2 == -1) > 0, "no point ends as an outlier")
    assert(batch.stats.exists(_.nof_cluster_compression > 0), s"no CS formed: ${batch.stats}")
    assert(streamed.stats == batch.stats)
    assert(streamed.ds.map(_.n) == batch.ds.map(_.n))
    // each side folds its summaries per input partition and merges them in
    // partition order, and a micro-batch splits a chunk file into other
    // partitions than the batch chunk reader, so the sums add in another
    // order
    def close(x: Array[Double], y: Array[Double]) = x.zip(y).forall { case (u, v) =>
      math.abs(u - v) <= 1e-9 * math.max(1.0, math.max(math.abs(u), math.abs(v))) }
    streamed.ds.zip(batch.ds).foreach { case (x, y) =>
      assert(close(x.sum, y.sum) && close(x.sumsq, y.sumsq), s"DS sums differ: $x vs $y")
    }
  }

  test("bfrStream restart mid-stream is exactly-once vs an uninterrupted run") {
    import java.nio.file.{Files => JFiles, Paths}
    val (dir, truth, files) = noisyChunks("stream_eo_ds", nChunks = 3)
    val cfg = noisyCfg

    // reference: one uninterrupted run over all 3 chunks
    val outA = Files.createTempDirectory("stream_eo_outA").toString + "/assign"
    val ckptA = Files.createTempDirectory("stream_eo_ckptA").toString
    val (qa, sa) = Streaming.bfrStream(spark, dir, outA, cfg, ckptA)
    qa.awaitTermination(300000)
    assert(sa.rounds == 3)
    Streaming.finishBfrStream(spark, outA, ckptA)

    // interrupted run: 2 chunks, stop, add the 3rd, restart on the SAME
    // checkpoint with a FRESH in-memory state (= process restart)
    val stage = Files.createTempDirectory("stream_eo_stage").toString
    def copyIn(f: java.io.File): Unit = {
      JFiles.copy(f.toPath, Paths.get(stage, f.getName))
      new java.io.File(stage, f.getName).setLastModified(f.lastModified())
    }
    files.take(2).foreach(copyIn)
    val outB = Files.createTempDirectory("stream_eo_outB").toString + "/assign"
    val ckptB = Files.createTempDirectory("stream_eo_ckptB").toString
    val (q1, s1) = Streaming.bfrStream(spark, stage, outB, cfg, ckptB)
    q1.awaitTermination(300000)
    assert(s1.rounds == 2, s"first segment rounds ${s1.rounds}")
    // the restart must carry the whole state, not DS alone
    assert(s1.bfr.cs.nonEmpty && s1.bfr.rsCount > 0,
      s"CS ${s1.bfr.cs.size} / RS ${s1.bfr.rsCount} after batch 2")
    files.drop(2).foreach(copyIn)
    val (q2, s2) = Streaming.bfrStream(spark, stage, outB, cfg, ckptB)
    q2.awaitTermination(300000)
    // DS state resumed from the snapshot: rounds continue, not restart
    assert(s2.rounds == 3, s"restart did not resume state: rounds ${s2.rounds}")
    Streaming.finishBfrStream(spark, outB, ckptB)

    // exactly-once: the restarted run's (id, cluster) rows are EXACTLY
    // the uninterrupted run's — nothing lost, nothing duplicated, and
    // the resumed DS statistics produced identical assignments
    val a = spark.read.parquet(outA).select("id", "cluster")
    val b = spark.read.parquet(outB).select("id", "cluster")
    assert(a.count() == truth.size && b.count() == truth.size)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "restarted run's rows differ from the uninterrupted run")
    // final sufficient statistics match too (same points absorbed once)
    assert(s2.ds.map(_.n).sorted == sa.ds.map(_.n).sorted,
      s"DS sizes ${s2.ds.map(_.n)} vs ${sa.ds.map(_.n)}")
  }

  test("bfrStream skips a torn state snapshot on restart and at the finish") {
    val (dir, _, _) = noisyChunks("stream_torn_ds", nChunks = 3)
    val out = Files.createTempDirectory("stream_torn_out").toString + "/assign"
    val ckpt = Files.createTempDirectory("stream_torn_ckpt").toString
    val (q, _) = Streaming.bfrStream(spark, dir, out, noisyCfg, ckpt)
    q.awaitTermination(300000)
    val whole = Streaming.finishBfrStream(spark, out, ckpt)
    val wholePairs = pairs(whole.assignments) // read before the rewrites below
    // a crash while batch 2 snapshots: its parquet parts exist, its
    // summary does not, and the query never committed the batch
    val snap = new java.io.File(s"$ckpt/graft-bfr-state/state-2")
    assert(new java.io.File(snap, "rs").isDirectory)
    assert(new java.io.File(snap, "summary").delete())
    Seq("2", ".2.crc").foreach(f => assert(new java.io.File(s"$ckpt/commits/$f").delete()))
    // the finish falls back to batch 1's state...
    assert(Streaming.finishBfrStream(spark, out, ckpt).stats.size == 2)
    // ...and a restart replays batch 2 from it, to the same result
    val (q2, s2) = Streaming.bfrStream(spark, dir, out, noisyCfg, ckpt)
    q2.awaitTermination(300000)
    assert(s2.rounds == 3)
    val again = Streaming.finishBfrStream(spark, out, ckpt)
    assert(pairs(again.assignments) == wholePairs)
    assert(again.stats == whole.stats)
  }

  test("windowed event counts with watermark (memory sink)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedEventCounts(df)
      .select(col("window.start").as("w"), col("event_type"), col("cnt"), col("sum_value"))
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("winagg").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    mem.addData((ts(1), "click", 1.0), (ts(2), "click", 2.0), (ts(7), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM winagg").collect()
    q.stop()
    val clicks = rows.filter(_.getString(1) == "click")
    assert(clicks.exists(r => r.getLong(2) == 2 && r.getDouble(3) == 3.0),
      s"expected clicks window (2, 3.0), got ${rows.mkString(";")}")
  }

  test("streaming dedup suppresses duplicate ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "value")
    val q = Streaming.dedupStream(df, "event_id", "ts")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    mem.addData((1L, ts(1), 1.0), (2L, ts(1), 2.0), (1L, ts(1), 99.0)) // in-batch dup
    q.processAllAvailable()
    mem.addData((1L, ts(1), 77.0), (3L, ts(2), 3.0)) // cross-batch dup
    q.processAllAvailable()
    val ids = spark.sql("SELECT event_id FROM dedup").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
  }

  test("stream-stream join pairs events within the time bound") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lmem = MemoryStream[(Long, java.sql.Timestamp)]
    val rmem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val joined = Streaming.streamStreamJoin(
      lmem.toDF().toDF("user_id", "ts"), rmem.toDF().toDF("user_id", "ts"),
      "user_id", "ts", boundSeconds = 300)
    val q = joined.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssj").start()
    lmem.addData((1L, ts(0)), (2L, ts(0)))
    rmem.addData((1L, ts(3)), (1L, ts(9)), (2L, ts(2)), (3L, ts(1)))
    q.processAllAvailable()
    val rows = spark.sql("SELECT k, rts FROM ssj").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString)).sorted
    q.stop()
    // key 1: only the +3min right event is within 5 min; +9min excluded;
    // key 2: +2min matches; key 3: no left side
    assert(rows.toSeq == Seq((1L, "2026-01-01 10:03:00.0"), (2L, "2026-01-01 10:02:00.0")),
      s"got ${rows.toSeq}")
  }

  test("mapGroupsWithState running counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val out = Streaming.runningCounts(mem.toDS())
    val q = out.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("running").start()
    mem.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
    q.processAllAvailable()
    mem.addData(("a", 3.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM running").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    // state carries across batches: a reaches (3, 6.0)
    assert(rows.contains(("a", 3L, 6.0)), s"got ${rows.toSeq}")
    assert(rows.contains(("b", 1L, 10.0)))
  }

  test("streaming near-dup suppresses signature-identical docs across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "text", "ts")
    val q = Streaming.nearDupStream(df, "text", "ts")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("neardup").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "completely different content about spark streaming state stores"
    mem.addData((1L, a, ts(1)), (2L, b, ts(1)),
      (3L, "  " + a + "  ", ts(1))) // whitespace-perturbed re-post, same shingles
    q.processAllAvailable()
    mem.addData((4L, a, ts(2))) // cross-batch re-post
    q.processAllAvailable()
    val ids = spark.sql("SELECT doc_id FROM neardup").collect()
      .map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
  }

  test("streaming image dedup suppresses cross-container re-posts and drops junk") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "img", "ts")
    val q = Streaming.fingerprintDupStream(df, "img", "ts",
      graft.multimodal.ImageDecode.fingerprint)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("imgdedup").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // content id 0 as PNG (original), as GIF (same pixels, different
    // container+compression stack), and content id 16 as PNG (distinct
    // group — planted groups are doc_id / 4, so 16 is unrelated to 0)
    mem.addData(
      (1L, ImageQueries.plantedPng(0L), ts(1)),
      (2L, ImageQueries.plantedPng(16L), ts(1)),
      (3L, ImageQueries.plantedGif(0L), ts(1)), // cross-container re-post
      (4L, Array[Byte](1, 2, 3, 4, 5), ts(1))) // junk: quarantined
    q.processAllAvailable()
    mem.addData((5L, ImageQueries.plantedJpeg(0L), ts(2))) // cross-batch JPEG re-post
    q.processAllAvailable()
    val ids = spark.sql("SELECT doc_id FROM imgdedup").collect()
      .map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
  }

  test("streaming audio dedup suppresses re-posts, quarantines junk and short clips") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "wav", "ts")
    val q = Streaming.fingerprintDupStream(df, "wav", "ts",
      graft.multimodal.MediaDecode.audioFingerprint)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("auddedup").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // group members j=0..2 carry identical planted frames → identical
    // energy fingerprints; 16 is an unrelated group; junk and a clip
    // shorter than the 65-frame fingerprint span are quarantined
    val shortWav = graft.multimodal.WavCodec.encodeWav(8000, 1, new Array[Short](512))
    mem.addData(
      (1L, AudioQueries.plantedWav(0L), ts(1)),
      (2L, AudioQueries.plantedWav(16L), ts(1)),
      (3L, AudioQueries.plantedWav(1L), ts(1)), // same-group re-post
      (4L, Array[Byte](9, 9, 9, 9), ts(1)),     // junk
      (5L, shortWav, ts(1)))                    // too short to fingerprint
    q.processAllAvailable()
    mem.addData((6L, AudioQueries.plantedWav(2L), ts(2))) // cross-batch re-post
    q.processAllAvailable()
    val ids = spark.sql("SELECT doc_id FROM auddedup").collect()
      .map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
  }

  test("streaming video dedup is content-keyed: a re-muxed container is suppressed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val df = mem.toDF().toDF("doc_id", "mp4", "ts")
    val q = Streaming.fingerprintDupStream(df, "mp4", "ts",
      graft.multimodal.MediaDecode.videoFingerprint)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("viddedup").start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // a re-mux of doc 0's container: identical sample payloads behind a
    // different tkhd (rescaled dims) and movie duration — different
    // BYTES, same keyframe content, so the fingerprint must match
    val remuxed = VideoQueries.remuxedContentMp4(0L, width = 640, height = 360)
    assert(!remuxed.sameElements(VideoQueries.plantedContentMp4(0L)))
    mem.addData(
      (1L, VideoQueries.plantedContentMp4(0L), ts(1)),
      (2L, VideoQueries.plantedContentMp4(16L), ts(1)),
      (3L, remuxed, ts(1)),                 // content re-post, new container
      (4L, Array[Byte](0, 0, 0, 1), ts(1))) // junk
    q.processAllAvailable()
    mem.addData((5L, VideoQueries.plantedContentMp4(1L), ts(2))) // same-group re-post
    q.processAllAvailable()
    val ids = spark.sql("SELECT doc_id FROM viddedup").collect()
      .map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
  }

  test("streaming bloom decontamination flags benchmark re-posts map-side") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq(benchText).toDF("text")
    val bits = graft.functions.TextOps.bloomBitSet(bench, col("text"))
    assert(bits.nonEmpty && bits.length <= graft.functions.TextOps.bloomM)

    val mem = MemoryStream[(Long, String)]
    val q = Streaming.decontaminateStream(
        mem.toDF().toDF("doc_id", "text"), "text", bits)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("bloomdecon").start()
    mem.addData(
      (1L, benchText),                                        // verbatim leak
      (2L, "prefix words here " + benchText + " suffix too"), // embedded leak
      (3L, "totally unrelated clean document about weather patterns today"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT doc_id, n_bloom_hits, flagged FROM bloomdecon")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    q.stop()
    assert(rows(1L)._2, s"verbatim benchmark doc not flagged: $rows")
    assert(rows(2L)._2, s"embedded benchmark span not flagged: $rows")
    assert(!rows(3L)._2, s"clean doc flagged at this fill (FP p≈2e-7): $rows")
    // the stream and the batch probe are the same code path — parity
    val batch = graft.functions.TextOps.bloomProbe(
        Seq((1L, benchText)).toDF("doc_id", "text"), col("text"), bits)
      .select("n_bloom_hits").head().getLong(0)
    assert(batch == rows(1L)._1, s"batch $batch != stream ${rows(1L)._1}")
  }

  test("streaming heavy hitters: mergeable MG state, bound holds across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(17)
    // zipf-ish word stream delivered in 3 micro-batches; capacity 8 over
    // a 25-word vocabulary so the streaming state genuinely evicts
    val batches = Seq.fill(3)(Seq.fill(800)(s"w${
      val u = rng.nextDouble; if (u < 0.5) rng.nextInt(5) else rng.nextInt(25)}"))
    val cap = 8
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("w")
      .agg(graft.operators.HeavyHitters.sketch(col("w"), cap).as("mg"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("mghh").start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val row = spark.sql("SELECT mg.n, mg.items FROM mghh").head()
    val (n, items) = (row.getLong(0), row.getMap[String, Long](1))
    val all = batches.flatten
    assert(n == all.size, s"stream length $n != ${all.size}")
    assert(items.size <= cap)
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val slack = n.toDouble / (cap + 1)
    (exact.keySet ++ items.keySet).foreach { w =>
      val (t, e) = (exact.getOrElse(w, 0L), items.getOrElse(w, 0L))
      assert(e <= t && t - e <= slack, s"$w est=$e true=$t slack=$slack")
    }
  }

  test("streaming expectations gate flags the poisoned window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = Streaming.expectationsStream(df, "ts")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("expgate").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // window 10:00 clean; window 10:01 carries a range violation and a
    // domain violation; watermark-advancing tail closes both windows
    mem.addData(
      (t("2024-01-01 10:00:05"), 1L, "click", 10.0),
      (t("2024-01-01 10:00:40"), 2L, "view", 20.0),
      (t("2024-01-01 10:01:05"), 3L, "click", -5.0),
      (t("2024-01-01 10:01:30"), 4L, "oops", 30.0))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 10:09:00"), 5L, "view", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT window_start, n_rows, n_violations FROM expgate ORDER BY window_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
    assert(rows.length == 2, s"expected the two closed windows, got ${rows.toSeq}")
    assert(rows(0) == ("2024-01-01 10:00:00.0", 2L, 0L), s"clean window: ${rows(0)}")
    assert(rows(1) == ("2024-01-01 10:01:00.0", 2L, 2L), s"poisoned window: ${rows(1)}")
  }

  test("stream-static enrichment: broadcast dim lookup, unmatched rows survive") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Double)]
    val q = Streaming.enrichStream(
        mem.toDF().toDF("user_id", "value"), dim, "user_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enriched").start()
    mem.addData((1L, 10.0), (2L, 20.0), (99L, 30.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT user_id, tier FROM enriched")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows == Map(1L -> Some("gold"), 2L -> Some("silver"), 99L -> None),
      s"got $rows")
  }

  test("streaming session windows: gap merge, watermark closes sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = Streaming.sessionWindowStream(
        mem.toDF().toDF("ts", "user_id"), "ts", "user_id")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions").start()
    // user 1: two events 2 min apart (one session), then one 20 min later
    // (a second session); the tail event advances the watermark past both
    mem.addData(
      (t("2024-01-01 10:00:00"), 1L),
      (t("2024-01-01 10:02:00"), 1L),
      (t("2024-01-01 10:22:00"), 1L))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 11:00:00"), 2L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT user_id, session_start, n_events FROM sessions ORDER BY session_start")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
    assert(rows.toSeq == Seq(
      (1L, "2024-01-01 10:00:00.0", 2L),
      (1L, "2024-01-01 10:22:00.0", 1L)), s"got ${rows.toSeq}")
  }

  test("streaming incremental dedup converges to the batch recompute") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextOps
    val work = java.nio.file.Files.createTempDirectory("incdedup").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // three "daily crawls" as micro-batch files
    for (f <- 0 until 3) {
      docs.filter(pmod(col("doc_id"), lit(3)) === f)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/in/f$f")
      Thread.sleep(5)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$work/in/*")
    val q = Streaming.incrementalDedupStream(spark, in,
      s"$work/artifacts", s"$work/ckpt")
    q.awaitTermination(300000)
    // a torn (no _SUCCESS) later snapshot must be skipped, not read empty
    val torn = new java.io.File(s"$work/artifacts/canon/batch=99")
    torn.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$work/artifacts/canon/batch=99/part-0.parquet"), "torn")
    val got = Streaming.latestCanonSnapshot(spark, s"$work/artifacts").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.ConnectedComponents.canonicalize(
      TextOps.candidatePairs(TextOps.lshBands(
        TextOps.signatureFromText(docs, "doc_id", col("text")), "doc_id"), "doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"streamed canon (${got.size}) != batch recompute (${full.size})")
    assert(got.nonEmpty) // sf0.001 carries planted near-dups
  }

  test("StreamingBench smoke: throughput counts + watermark-bounded state") {
    val nd = graft.app.StreamingBench.runNearDup(
      spark, "/root/testdata/sf0.001", copies = 2, files = 3)
    assert(nd.rowsIn == 500 * 2, s"got ${nd.rowsIn}") // 500 docs x 2 copies
    assert(nd.rowsOut > 0 && nd.rowsOut < nd.rowsIn,
      s"near-dup must suppress some rows: ${nd.rowsOut} of ${nd.rowsIn}")
    // state must stay bounded by the watermark horizon, not total ingest
    assert(nd.maxStateRows < nd.rowsIn, s"state grew to ${nd.maxStateRows}")
    assert(nd.batches == 3)
    val bf = graft.app.StreamingBench.runBfrStream(
      spark, "/root/testdata/sf0.001", chunks = 3)
    assert(bf.assigned == bf.rowsIn, s"${bf.assigned} of ${bf.rowsIn} assigned")
    assert(bf.rounds == 3 && bf.dsClusters > 0)
  }

  test("StreamingBench media legs smoke: audio/video suppression + bounded state") {
    // audio: replica c rotates group members — j=0,1,2 fingerprint-equal
    // (2 of 3 suppressed per doc), j=3 a kept near-variant
    val aud = graft.app.StreamingBench.runAudioDedup(
      spark, "/root/testdata/sf0.001", copies = 3, files = 3)
    assert(aud.rowsIn == 500 * 3, s"got ${aud.rowsIn}")
    assert(aud.rowsOut > 0 && aud.rowsOut < aud.rowsIn,
      s"audio dedup must suppress: ${aud.rowsOut} of ${aud.rowsIn}")
    assert(aud.maxStateRows < aud.rowsIn, s"state grew to ${aud.maxStateRows}")
    // video: replica 1 is a re-muxed container of replica 0's content —
    // every odd replica must be suppressed (content-keyed, not byte-keyed)
    val vid = graft.app.StreamingBench.runVideoDedup(
      spark, "/root/testdata/sf0.001", copies = 2, files = 3)
    assert(vid.rowsIn == 500 * 2, s"got ${vid.rowsIn}")
    assert(vid.rowsOut > 0 && vid.rowsOut < vid.rowsIn,
      s"video dedup must suppress: ${vid.rowsOut} of ${vid.rowsIn}")
    assert(vid.maxStateRows < vid.rowsIn, s"state grew to ${vid.maxStateRows}")
  }
}
