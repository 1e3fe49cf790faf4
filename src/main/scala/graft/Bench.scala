package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the full query inventory against
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  * Each query is forced through a noop sink so the whole plan executes
  * (a bare count() would let Catalyst prune projections).
  *
  * Output contract: the harness that captures this process keeps only the
  * TAIL of stdout (~2000 chars) and parses the last complete JSON line it
  * finds. The full inventory-sized query map serialized at millisecond
  * precision is several KB — longer than the tail window — so printing it
  * as the final line clips its head and nothing parses. Instead:
  *   - the COMPLETE per-query map is written to bench_full.json in the
  *     working directory (one JSON object, all queries, 3-decimal secs);
  *   - stdout ends with an adaptive line that always carries the total
  *     and as many queries as fit in the tail budget, slowest first,
  *     with "omitted" counting any dropped fast queries.
  */
object Bench {

  /** Max chars for the final stdout JSON line: the capture tail is
    * ~2000 chars and sbt appends a "[success] Total time: ..." line
    * (~75 chars) after the program exits, so stay comfortably inside.
    */
  private val TailBudget = 1600

  /** Query-subset selection for local perf iteration: empty = the full
    * inventory; otherwise every requested name must resolve — a
    * misspelled name silently benchmarking nothing is worse than failing.
    */
  private[graft] def select(args: Array[String]): Seq[Queries.Q] =
    if (args.isEmpty) Queries.all
    else {
      val known = Queries.all.map(_.name).toSet
      val unknown = args.filterNot(known)
      require(unknown.isEmpty,
        s"unknown bench queries: ${unknown.mkString(", ")}")
      Queries.all.filter(q => args.contains(q.name))
    }

  /** Drive every per-document codec kernel (encode fixture + production
    * decode + fingerprint tail) through enough iterations that the JIT
    * compiles the shared methods to steady state. ~300 docs/path ≈ 2-3 s
    * once, vs the measured multi-second interpreted tax otherwise paid
    * inside the first stage that touches each codec.
    */
  private def codecJitWarm(): Unit = {
    import graft.multimodal.{GifCodec, JpegCodec, Mp4Codec, PixelCodec, WavCodec}
    var i = 0L
    while (i < 300) {
      val jpg = ImageQueries.plantedJpeg(i)
      for (d <- JpegCodec.decodeJpeg(jpg)) {
        val luma = PixelCodec.luminance(d.pixels, d.channels)
        val grid = PixelCodec.resizeArea(luma, d.width, d.height, 9, 8)
        PixelCodec.dhashBands(grid)
      }
      JpegCodec.jpegKind(jpg)
      JpegCodec.decodeJpegProgressive(ImageQueries.plantedJpegProgressive(i))
      PixelCodec.decodePng(ImageQueries.plantedPng(i))
      GifCodec.decodeGif(ImageQueries.plantedGif(i))
      WavCodec.decodeWav(AudioQueries.plantedWav(i))
      WavCodec.decodeWav(AudioQueries.plantedWavMixedFormat(i))
      Mp4Codec.decodeMp4(VideoQueries.plantedMp4(i))
      for (d <- Mp4Codec.decodeMp4(VideoQueries.plantedContentMp4(i)))
        d.tracks.headOption
      Mp4Codec.decodeMp4(VideoQueries.plantedScenesMp4(i))
      i += 1
    }
    // The shared text-kernel compute methods (shingles, MinHash
    // signature, word counts, bigram stats, BPE application) have the
    // same one-burst-then-done usage shape; their codegen emits a call
    // into these same instances' methods, so a driver-side loop compiles
    // exactly the code the stages run.
    val lit = org.apache.spark.sql.catalyst.expressions.Literal("x")
    val sh = graft.functions.WordShinglesExpr(lit)
    val mh = graft.functions.MinhashSignatureExpr(lit)
    val wc = graft.functions.WordCountsExpr(lit)
    val bg = graft.functions.BigramStatsExpr(lit, Seq("the", "a"))
    val bpe = graft.functions.BpeApplyStatsExpr(lit, Seq(("e", "r"), ("o", "r")))
    var j = 0
    while (j < 300) {
      val txt = org.apache.spark.unsafe.types.UTF8String.fromString(
        s"alpha beta$j gamma delta ep$j zeta eta theta iota kappa " * 8)
      sh.compute(txt); mh.compute(txt); wc.compute(txt)
      bg.compute(txt); bpe.compute(txt)
      j += 1
    }
  }

  /** A failed warmer or query is timed and skipped; stderr gets the
    * exception with its stack and cause chain, because a Spark failure's
    * outer message rarely names the root cause.
    */
  private def reportFailure(what: String, e: Throwable): Unit = {
    System.err.println(s"[bench] $what failed")
    e.printStackTrace()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle/spill dir on the fast local medium (opt §2.1): the sandbox
    // root disk serves tiny shuffle-file writes at ~1 s of write latency
    // per map task (event-log measured — 128 KB-sized map outputs cost
    // more wall time than their stages' CPU), the local analogue of a
    // production cluster's NVMe-vs-EBS choice. tmpfs when present, env-
    // overridable, and an explicit -Dspark.local.dir (the scale gates
    // set their own) always wins. Bench shuffles at sf0.1 are ≪ 1 GB,
    // far under the tmpfs bound.
    val localDir = sys.props.get("spark.local.dir")
      .orElse(sys.env.get("SPARK_GRAFT_LOCAL_DIR"))
      .orElse(Some("/dev/shm/graft-bench-local")
        .filter(_ => new java.io.File("/dev/shm").isDirectory))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    localDir.foreach(builder.config("spark.local.dir", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The remaining unpartitioned windows all have bounded inputs by
    // construction — PlanShapeSpec pins each one to an aggregate/limit
    // input and fails the build if a new unpartitioned window appears —
    // so the blanket WindowExec warning is pure noise in the bench tail.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    // JVM + parquet-footer warmup: touch every table once so footer
    // reads / codegen JIT are never charged to whichever query happens
    // to scan a table first (q_lang_id swung 0.5 → 3.8 s across rounds
    // on exactly this)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").write
        .format("noop").mode("overwrite").save()
    }

    // Shared-artifact warmup, timed per artifact (see [[Artifact]]).
    //
    // codec_jit runs FIRST: each media codec's only bulk use is one
    // short 32-way burst, so without a warm pass most documents execute
    // interpreted/C1 (event-log measured 18.6 ms CPU/doc in-stage vs
    // 1.6 ms/doc for the same kernel once C2-compiled — a 12× JIT tax
    // charged to whichever query touches a codec first). A few hundred
    // driver-side iterations compile the shared kernel methods before
    // any stage runs; in local mode driver and executors are one JVM.
    // The pass is TIMED and included in the total like every warmer.
    val warmers = ("codec_jit" -> ((_: SparkSession, _: String) => codecJitWarm())) +:
      (TextQueries.sharedArtifactWarmers ++ MlQueries.sharedArtifactWarmers ++
        AudioQueries.sharedArtifactWarmers ++ ImageQueries.sharedArtifactWarmers ++
        VideoQueries.sharedArtifactWarmers)
    val warmupResults = warmers.map { case (n, f) =>
      val t0 = System.nanoTime()
      try f(spark, sfDir)
      catch { case NonFatal(e) => reportFailure(s"warmup $n", e) }
      n -> (System.nanoTime() - t0) / 1e9
    }
    val warmupTotal = warmupResults.map(_._2).sum

    // Per-query attribution listener (round-15 reporting, additive): job
    // count, summed task GC ms and max stage wall ms per query, so a
    // stalled run can be attributed (GC vs one straggler stage vs many
    // tiny jobs) instead of guessed at. Stages are mapped to the query
    // via the job that planned them; the listener bus is async, so
    // late-arriving stage events can attribute to the next query — noise
    // of that size does not matter for stall forensics.
    val detail = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val currentQuery = new java.util.concurrent.atomic.AtomicReference[String]("warmup")
    val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private def cell(q: String) = detail.computeIfAbsent(q, _ => new Array[Long](3))
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val q = currentQuery.get()
        cell(q)(0) += 1
        j.stageInfos.foreach(si => stageOwner.put(si.stageId, q))
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val q = stageOwner.getOrDefault(s.stageInfo.stageId, currentQuery.get())
        val c = cell(q)
        c(1) += s.stageInfo.taskMetrics.jvmGCTime
        val wall = (for {
          sub <- s.stageInfo.submissionTime
          done <- s.stageInfo.completionTime
        } yield done - sub).getOrElse(0L)
        if (wall > c(2)) c(2) = wall
      }
    })

    // optional args = query-name subset for local perf iteration;
    // the driver passes none and gets the full inventory
    val selected = select(args)
    val results = selected.map { q =>
      currentQuery.set(q.name)
      spark.sparkContext.setJobDescription(q.name)
      val t0 = System.nanoTime()
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => reportFailure(q.name, e) }
      q.name -> (System.nanoTime() - t0) / 1e9
    }
    // value = warmup + queries: comparable with pre-warmup rounds, where
    // the same work ran inside first-toucher queries
    val total = warmupTotal + results.map(_._2).sum

    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
        .mkString("{", ",", "}")

    def line(qs: Seq[(String, Double)], omitted: Int): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"omitted":$omitted,"warmup_sec":$warmupTotal%.3f,"warmup":${jmap(warmupResults)},"full":"bench_full.json","queries":${jmap(qs)},"sf":"$sfDir"}"""

    // complete map, declaration order — the durable artifact
    val fullLine = line(results, 0)
    val out = new java.io.PrintWriter("bench_full.json")
    try out.println(fullLine) finally out.close()

    // final stdout line: slowest-first, trimmed to the tail budget
    val bySlowest = results.sortBy(-_._2)
    var keep = bySlowest.length
    while (keep > 1 && line(bySlowest.take(keep), bySlowest.length - keep).length > TailBudget)
      keep -= 1
    println(line(bySlowest.take(keep), bySlowest.length - keep))
    spark.stop()

    // per-core-count artifact: bench_full.json above is still overwritten
    // on every run, whatever the core count, so bench_full_c<cpus>.json
    // is the file to compare across core counts. It adds the per-query
    // breakdown (jobs / GC ms / max stage wall ms), which makes a stalled
    // query attributable after the fact; bench_full.json keeps its exact
    // historical format. Written after spark.stop(), which drains the
    // async listener bus, so the last query's events are all counted.
    val detailJson = results.map { case (k, _) =>
      val c = detail.getOrDefault(k, new Array[Long](3))
      s""""$k":{"jobs":${c(0)},"gc_ms":${c(1)},"max_stage_ms":${c(2)}}"""
    }.mkString("{", ",", "}")
    val outCpu = new java.io.PrintWriter(s"bench_full_c$cpus.json")
    try outCpu.println(
      s"""{"cpus":$cpus,"bench":$fullLine,"detail":$detailJson}""")
    finally outCpu.close()
  }
}
