package graft.app

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.ConnectedComponents

/** Scale validation for the text-dedup pipeline: replicate the driver's
  * documents table `copies`× (each copy's text perturbed with a distinct
  * suffix token, so copies are NEAR-duplicates — they exercise the
  * MinHash/LSH path, not the trivial exact-hash path), then run the full
  * shared pipeline (shingles → signatures → LSH bands → candidate pairs →
  * exact Jaccard verify → connected components) and print one JSON line
  * with counts and seconds.
  *
  * This is the "would it still work at 1000×" probe for the operator
  * family SURVEY §8 lists under dedup: every stage is a map-side
  * projection or a bounded-key aggregation, so wall-clock should scale
  * ~linearly in the corpus (candidate pairs stay bucket-local).
  *
  * Usage: runMain graft.app.TextScaleBench [docsParquet] [copies]
  */
object TextScaleBench {

  /** Scoped shuffle sizing for one explosive stage: saves BOTH
    * `spark.sql.shuffle.partitions` and AQE partition coalescing, sets the
    * stage's fan-out-aware values, and restores the saved priors in a
    * `finally` — an exception mid-stage must not leave the session's
    * shuffle sizing mutated for everything that runs after it.
    */
  private def withStageSizing[T](spark: SparkSession, partitions: Int)(body: => T): T = {
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val coalesce0 = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", parts0)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce0)
    }
  }

  /** Drain the async SparkListener event bus so per-stage max-task
    * snapshots don't race onTaskEnd delivery (`listenerBus` is
    * private[spark], hence reflection; best-effort — on any failure the
    * snapshot is taken as-is and stays a diagnostic, never a gate).
    */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val m = sc.getClass.getMethod("listenerBus")
      val bus = m.invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The longest task (ms) and the number of tasks that ended since it
    * was added. */
  private final class MaxTask extends SparkListener {
    val maxMs, tasks = new AtomicLong(0)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      maxMs.accumulateAndGet(t.taskInfo.duration, (a, b) => math.max(a, b))
    }
  }

  final case class Result(
      docs: Long, base: Long, copies: Int, shingles: Long,
      candidates: Long, dupPairs: Long, groupedDocs: Long,
      stageSeconds: Map[String, Double],
      maxTaskS: Double = 0.0, tasks: Long = 0L,
      stageMaxTaskS: Map[String, Double] = Map.empty)

  def run(spark: SparkSession, docsPath: String, copies: Int,
          partitions: Int): Result = {
    // straggler bound for the WHOLE pipeline: the longest single task is
    // the number that predicts 1000-executor behavior (a stage is as
    // slow as its slowest task, however many cores wait behind it)
    val listener = new MaxTask
    spark.sparkContext.addSparkListener(listener)
    // per-stage straggler attribution: snapshot-and-reset between stages.
    // onTaskEnd is delivered on the async listener bus, so drain it first
    // or a stage's slowest task can be credited to the following stage.
    val stageMax = scala.collection.mutable.LinkedHashMap[String, Double]()
    def snapMax(stage: String): Unit = {
      drainListenerBus(spark)
      stageMax(stage) = math.rint(listener.maxMs.getAndSet(0) / 100.0) / 10
    }
    val raw = spark.read.parquet(docsPath)
    val base = raw.count()
    // copy c of doc i: id = i*copies + c, text = text + " dupmark<c>"
    val corpus = raw
      .select(col("doc_id"), col("text"), explode(sequence(lit(0), lit(copies - 1))).as("c"))
      .select((col("doc_id") * copies + col("c")).as("doc_id"),
        concat(col("text"), lit(" dupmark"), col("c")).as("text"))
      .repartition(partitions)
      .localCheckpoint(true)
    val n = corpus.count()
    snapMax("setup")

    val t0 = System.nanoTime()
    val sh = TextOps.explodedShingles(corpus, "doc_id", col("text")).localCheckpoint(true)
    val nShingles = sh.count()
    snapMax("shingle")
    val t1 = System.nanoTime()
    // the production path: map-side native signature, no explode, no agg
    val sig = TextOps.signatureFromText(corpus, "doc_id", col("text")).localCheckpoint(true)
    sig.count()
    snapMax("signature")
    val t2 = System.nanoTime()
    // the band-bucket self-join fans out like verify/CC (pairs per
    // bucket) — same scoped sizing contract (measured: 33-92 s max task
    // under input-byte coalescing, single-digit without)
    val (cand, nCand) = withStageSizing(spark, math.max(partitions, copies * 10)) {
      val c = TextOps.candidatePairs(TextOps.lshBands(sig, "doc_id"), "doc_id")
        .localCheckpoint(true)
      (c, c.count())
    }
    snapMax("lsh")
    val t3 = System.nanoTime()
    // Fan-out-aware sizing for the explosive verify join ONLY: the join
    // emits each pair × both docs' shingle rows (~50× row fan-out), so
    // task size is governed by OUTPUT rows, which neither static
    // input-based sizing nor AQE can see — AQE's input-byte coalescing
    // re-merges partitions into ~64 MB inputs whose joined output is
    // tens of millions of rows = one 300 s straggler (measured round 9;
    // 256 static partitions still left a 174 s one). Pre-size to ~30
    // partitions per copy and park coalescing for exactly this stage;
    // the skew-split backstop stays on, and the iterative CC stage that
    // follows gets coalescing back (10 tiny-shuffle rounds at 3000
    // uncoalesced partitions cost 3× the whole stage, also measured).
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    val dupPairsFine = withStageSizing(spark, math.max(partitions, copies * 15)) {
      val d = TextOps.jaccardOverPairs(sh, "doc_id", cand)
        .filter(col("jaccard") >= 0.8)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      d.count()
      d
    }
    // re-block the verify output to the session sizing before the
    // iterative CC: its small per-round shuffles must not inherit the
    // verify stage's fine fan-out partitioning (measured: CC over the
    // fine-blocked checkpoint ran 2.6× slower than over coarse blocks)
    val dupPairs = dupPairsFine.repartition(sessionParts.toInt)
      .localCheckpoint(true)
    val nDup = dupPairs.count()
    snapMax("verify")
    val t4 = System.nanoTime()
    // CC's neighbor×member joins fan out too (deg(v)·|component| rows
    // per vertex on dense cliques), so input-byte coalescing plants the
    // same straggler inside CC (measured: 70-83 s max task with
    // coalescing on vs 8-16 s off). Moderate fixed partitioning,
    // coalescing parked, skew backstop on — same contract as verify.
    // This sizing reaches only a graph over CC's driver budget
    // (2 · pairs > KMeans.LocalFitCells); a smaller one is labelled on
    // the driver after one collect.
    val nGrouped = withStageSizing(spark, math.max(partitions, copies * 5)) {
      ConnectedComponents.canonicalize(dupPairs).count()
    }
    snapMax("components")
    val t5 = System.nanoTime()

    spark.sparkContext.removeSparkListener(listener)
    def sec(a: Long, b: Long): Double = math.rint((b - a) / 1e8) / 10
    Result(n, base, copies, nShingles, nCand, nDup, nGrouped, Map(
      "shingle_s" -> sec(t0, t1), "signature_s" -> sec(t1, t2),
      "lsh_s" -> sec(t2, t3), "verify_s" -> sec(t3, t4),
      "components_s" -> sec(t4, t5), "total_s" -> sec(t0, t5)),
      stageMax.values.max, listener.tasks.get(),
      stageMaxTaskS = stageMax.toMap)
  }

  /** Skewed-corpus probe: plant `planted` IDENTICAL boilerplate docs (the
    * degenerate web-corpus case — empty/template/footer pages) on top of
    * the base corpus and run the full dedup pipeline. All planted docs
    * land in ONE (band, bucket) per band; without the hot-bucket guard in
    * [[TextOps.candidatePairs]] that bucket emits planted²/2 pairs on a
    * single shuffle key (5e7 at 10k planted, 5e9 at 100k); with the guard
    * it emits a planted−1 star, so `candidates` stays linear in the
    * corpus and the probe completes.
    */
  final case class SkewResult(
      docs: Long, base: Long, planted: Int, candidates: Long,
      dupPairs: Long, plantedGrouped: Long, stageSeconds: Map[String, Double],
      verifySkewSplits: Int, verifyMaxTaskS: Double, verifyTasks: Long)

  /** The hub-star output of a hot bucket concentrates the VERIFY join on
    * one key: pairOverlap joins corpus shingles to pairs on doc_a, and
    * every star pair carries the same doc_a = hub — planted×|sh(hub)|
    * rows land on a single shuffle key. The shuffle-merge pin makes that
    * join AQE-splittable (a broadcast would instead hold the whole
    * corpus-side relation); this probe measures it: `longBoiler` plants
    * ~150 distinct shingles on the hub so the hot key carries real
    * weight, a listener records max-task wall-clock across the verify
    * stage, and the executed adaptive plan is scanned for skew-split
    * sort-merge joins. Pass = verify completes with no one-task stall
    * (max task ≪ stage wall-clock) and, above the lowered AQE threshold,
    * `skew=true` joins in the final plan.
    */
  def runSkewed(spark: SparkSession, docsPath: String, planted: Int,
                partitions: Int, longBoiler: Boolean = false): SkewResult = {
    val raw = spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
    val base = raw.count()
    val maxId = raw.agg(max(col("doc_id"))).head().getLong(0)
    val boiler =
      if (longBoiler) (0 until 150).map(i => s"boilerword$i").mkString(" ")
      else Seq.fill(8)(
        "this page is intentionally left blank copyright all rights reserved").mkString(" ")
    val corpus = raw.union(
        spark.range(planted).select((col("id") + maxId + 1).as("doc_id"),
          lit(boiler).as("text")))
      .repartition(partitions)
      .localCheckpoint(true)
    val n = corpus.count()

    val t0 = System.nanoTime()
    val sh = TextOps.explodedShingles(corpus, "doc_id", col("text")).localCheckpoint(true)
    val sig = TextOps.signatureFromText(corpus, "doc_id", col("text")).localCheckpoint(true)
    val t1 = System.nanoTime()
    val cand = TextOps.candidatePairs(TextOps.lshBands(sig, "doc_id"), "doc_id")
      .localCheckpoint(true)
    val nCand = cand.count()
    val t2 = System.nanoTime()
    // verify WITHOUT an eager checkpoint first: the executed adaptive
    // plan (inspectable only after an action) reveals whether AQE split
    // the hot doc_a key, and the task listener bounds the stall
    val listener = new MaxTask
    spark.sparkContext.addSparkListener(listener)
    val verified = TextOps.jaccardOverPairs(sh, "doc_id", cand)
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"))
    // the eager localCheckpoint executes THIS QueryExecution exactly once
    // (a count() would plan its own), so the adaptive plan below is the
    // final executed one and the verify stage is paid for a single time
    val dupPairs = verified.localCheckpoint(true)
    val nDup = dupPairs.count() // cheap: counts the checkpointed blocks
    val skewSplits = "skew=true".r
      .findAllIn(verified.queryExecution.executedPlan.toString).length
    spark.sparkContext.removeSparkListener(listener)
    val t3 = System.nanoTime()
    val groups = ConnectedComponents.canonicalize(dupPairs)
    // every planted doc must land in one group keyed by the first planted
    // id (or an organic near-dup of the boilerplate, hence min)
    val plantedGrouped = groups.filter(col("doc_id") > maxId).count()
    val t4 = System.nanoTime()

    def sec(a: Long, b: Long): Double = math.rint((b - a) / 1e8) / 10
    SkewResult(n, base, planted, nCand, nDup, plantedGrouped, Map(
      "signature_s" -> sec(t0, t1), "lsh_s" -> sec(t1, t2),
      "verify_s" -> sec(t2, t3), "components_s" -> sec(t3, t4),
      "total_s" -> sec(t0, t4)),
      skewSplits, math.rint(listener.maxMs.get() / 100.0) / 10, listener.tasks.get())
  }

  /** Boilerplate-hot-key probe for the q_line_dedup census path: plant
    * `planted` docs that all SHARE one 8-token segment (each alongside a
    * distinct unique segment), run the span-dedup rewrite, and measure
    * that the hot segment hash — `planted` occurrences on one census
    * key — neither stalls the census aggregation (min/distinct are
    * partially aggregable map-side) nor the join back (1 census row ×
    * planted seg rows, AQE-splittable under the shuffle-merge pin).
    * Correctness: every planted doc must come out n_segs=2, n_kept=1 —
    * the shared segment dropped by the df ≥ 4 boilerplate rule, the
    * unique segment kept.
    */
  final case class BoilerResult(
      docs: Long, base: Long, planted: Int, plantedClean: Long,
      totalS: Double, maxTaskS: Double, tasks: Long)

  def runBoiler(spark: SparkSession, docsPath: String, planted: Int,
                partitions: Int): BoilerResult = {
    val raw = spark.read.parquet(docsPath).select(col("doc_id"), col("text"))
    val base = raw.count()
    val maxId = raw.agg(max(col("doc_id"))).head().getLong(0)
    val boiler = (0 until 8).map(i => s"subscribefooter$i").mkString(" ")
    val corpus = raw.union(
        spark.range(planted).select((col("id") + maxId + 1).as("doc_id"),
          concat(lit(boiler + " "), lit("uniq"), col("id").cast("string"),
            lit(" filler word row value seven eight")).as("text")))
      .repartition(partitions)
      .localCheckpoint(true)
    val n = corpus.count()

    val listener = new MaxTask
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val out = graft.TextQueries.lineDedupOver(corpus).localCheckpoint(true)
    // planted docs rewritten correctly: 2 segments in, only the unique one out
    val plantedClean = out
      .filter(col("doc_id") > maxId && col("n_segs") === 2 && col("n_kept") === 1)
      .count()
    val t1 = System.nanoTime()
    spark.sparkContext.removeSparkListener(listener)
    BoilerResult(n, base, planted, plantedClean,
      math.rint((t1 - t0) / 1e8) / 10,
      math.rint(listener.maxMs.get() / 100.0) / 10, listener.tasks.get())
  }

  def main(args: Array[String]): Unit = {
    val docsPath = args.headOption.getOrElse("/root/testdata/sf0.1/documents.parquet")
    val copies = args.lift(1).map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the verify shuffle at 100× moves ~3G rows; partitions must be
    // sized so a partition's sort fits executor memory (cluster rule:
    // ~total-shuffle-bytes / 128MB). The shuffle volume scales with the
    // replication factor, so default to ~2.5 partitions per copy (256 at
    // 100×, the setting the probe was validated with) — running the big
    // probe at the bench default of 32 OOMs the verify sort. Env
    // override wins. (The verify stage re-sizes itself on top of this —
    // see the fan-out note inside run().)
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.max(cpus.toInt, copies * 5 / 2).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-text-scale-bench")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.lift(2).contains("--boiler")) {
      val planted = args.lift(3).map(_.toInt).getOrElse(100000)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
      val r = runBoiler(spark, docsPath, planted, cpus.toInt)
      println(s"""{"mode":"boiler","docs":${r.docs},"base":${r.base},""" +
        s""""planted":${r.planted},"planted_clean":${r.plantedClean},""" +
        s""""total_s":${r.totalS},"max_task_s":${r.maxTaskS},"tasks":${r.tasks}}""")
    } else if (args.lift(2).contains("--skew")) {
      val planted = args.lift(3).map(_.toInt).getOrElse(10000)
      // lower the AQE skew threshold so the probe proves the SPLIT fires
      // inside the pinned merge joins at probe scale (at 100 TB the
      // default 256 MB threshold trips on its own)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
      val r = runSkewed(spark, docsPath, planted, cpus.toInt, longBoiler = true)
      val stages = Seq("signature_s", "lsh_s", "verify_s", "components_s", "total_s")
        .map(k => s""""$k":${r.stageSeconds(k)}""").mkString(",")
      println(s"""{"mode":"skew","docs":${r.docs},"base":${r.base},""" +
        s""""planted":${r.planted},"candidates":${r.candidates},""" +
        s""""dup_pairs":${r.dupPairs},"planted_grouped":${r.plantedGrouped},""" +
        s""""verify_skew_splits":${r.verifySkewSplits},""" +
        s""""verify_max_task_s":${r.verifyMaxTaskS},"verify_tasks":${r.verifyTasks},$stages}""")
    } else {
      val r = run(spark, docsPath, copies, cpus.toInt)
      val stages = Seq("shingle_s", "signature_s", "lsh_s", "verify_s",
        "components_s", "total_s")
        .map(k => s""""$k":${r.stageSeconds(k)}""").mkString(",")
      val perStage = r.stageMaxTaskS
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"""{"docs":${r.docs},"base":${r.base},"copies":${r.copies},""" +
        s""""shingles":${r.shingles},"candidates":${r.candidates},""" +
        s""""dup_pairs":${r.dupPairs},"grouped_docs":${r.groupedDocs},""" +
        s""""max_task_s":${r.maxTaskS},"tasks":${r.tasks},""" +
        s""""stage_max_task_s":$perStage,$stages}""")
    }
    spark.stop()
  }
}
