package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft._
import graft.bfr.BFR
import graft.eval.Nmi
import graft.sources.{PointSource, Sinks}

/** JVM side of the benchmark; perfbench/run.py launches it and turns its
  * result file into metrics.
  *
  *   gen --workload W --seed S --dir D
  *     writes the seeded BFR input for W into D.
  *   run --workload W --units U --trace 0|1 --data D --work D --out F
  *       --cpus N --launch-ms M
  *     sets the workload up, runs its timed unit U times, and writes F
  *     (JSON) and, traced, F.spans.jsonl (only the first unit is traced).
  *     M is the caller's launch time (epoch ms), where setup time starts.
  */
object Main {

  /** The BFR inputs. bfr_blobs is HW4-test1-shaped (K=10, 5 equal
    * chunks, 1% outliers) at 500k points: its 20% init sample (0.04 of the
    * points × 8 dims) stays far under KMeans.LocalFitCells, so k-means fits
    * on the driver. bfr_wide_init puts most points in chunk 1 so the sample
    * (0.2 × chunk 1 × 64 dims ≈ 4.5M cells) crosses LocalFitCells (4M) and
    * the distributed seeding + Lloyd path runs; one pass takes 30-45 s on 4
    * cores, too long for the timed benchmark, so it is run by hand.
    */
  val bfrSpecs: Map[String, PointGen.Spec] = Map(
    "bfr_blobs" -> PointGen.Spec(k = 10, d = 8, chunkSizes = Seq.fill(5)(100000),
      outlierFrac = 0.01),
    "bfr_wide_init" -> PointGen.Spec(k = 5, d = 64,
      chunkSizes = Seq(352000, 20000, 20000, 20000), outlierFrac = 0.01))

  val workloads: Set[String] = bfrSpecs.keySet + "registry"

  def main(args: Array[String]): Unit = {
    val opt = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(workloads(workload), s"unknown workload $workload")
    args.headOption match {
      case Some("gen") =>
        PointGen.write(bfrSpecs(workload), opt("seed").toLong, new File(opt("dir")))
      case Some("run") =>
        val result = run(workload, opt("units").toInt, opt("trace") == "1", opt("data"),
          new File(opt("work")), opt("cpus").toInt, opt("launch-ms").toDouble, opt("out"))
        val pw = new PrintWriter(opt("out"), "UTF-8")
        try pw.println(Json(result)) finally pw.close()
      case other => sys.error(s"unknown mode $other")
    }
  }

  private def session(workload: String, cpus: Int, work: File): SparkSession = {
    // the BFR workloads are configured like BfrApp, the registry like
    // Bench; every path Spark writes to stays inside the work directory
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    if (workload == "registry")
      b.appName("graft-bench")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    else b.appName("graft-bfr")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Used heap after a full GC. The ContextCleaner frees blocks of
    * unreachable checkpoints only after a GC has enqueued them, so collect,
    * give it a moment, and collect again.
    */
  private def usedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Setup (everything before the first unit), then `nUnits` timed
    * units; a traced process registers the listeners just before the
    * first and records only that one.
    */
  def run(workload: String, nUnits: Int, trace: Boolean, data: String, work: File,
          cpus: Int, launchMs: Double, out: String): Map[String, Any] = {
    val mainMs = System.currentTimeMillis().toDouble
    val tSession = System.nanoTime()
    val spark = session(workload, cpus, work)
    val sessionS = seconds(tSession)
    val tracer = new Tracer(spark)
    try {
      val w: Workload =
        if (workload == "registry") new Registry(spark, tracer, data, trace)
        else new BfrWorkload(spark, tracer, bfrSpecs(workload), data, work)
      val tSetup = System.nanoTime()
      w.setup()
      val setupWork = seconds(tSetup)
      val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
      if (trace) { tracer.register(); tracer.active = true }
      val units = (1 to nUnits).map { _ =>
        val u = w.unit()
        tracer.active = false
        // taken outside the timed region, with the unit's result still live
        u + ("heap_mb" -> usedHeapMb())
      }
      tracer.active = trace
      val tail = w.finish()
      tracer.active = false
      if (trace) {
        tracer.drain()
        tracer.addBfrSteps()
        val pw = new PrintWriter(out + ".spans.jsonl", "UTF-8")
        try tracer.recorded.foreach { s =>
          pw.println(Json(Map("run" -> spark.sparkContext.applicationId, "id" -> s.id,
            "name" -> s.name, "parent" -> s.parent, "attrs" -> s.attrs,
            "start" -> s.start, "end" -> s.end,
            "counts" -> Counts.of(s, tracer, cpus))))
        } finally pw.close()
      }
      Map("workload" -> workload, "cores" -> cpus, "traced" -> trace, "setup_s" -> setupS,
        "setup" -> Map("jvm_start_s" -> (mainMs - launchMs) / 1000.0,
          "session_s" -> sessionS, "workload_s" -> setupWork),
        "units" -> units) ++ tail
    } finally spark.stop()
  }

  trait Workload {
    def setup(): Unit
    /** The timed unit; returns its measurements. */
    def unit(): Map[String, Any]
    /** Untimed work after the unit (evaluation, fingerprints). */
    def finish(): Map[String, Any]
  }

  /** The BfrApp path: readDataset → BFR.run → both Sinks, with BfrApp's
    * defaults (α 3 / 4, RS threshold 500, seed rank 0).
    */
  final class BfrWorkload(spark: SparkSession, tracer: Tracer, spec: PointGen.Spec,
                          data: String, work: File) extends Workload {
    private val cfg = BFR.Config(k = spec.k)
    private val outJson = new File(work, "assignments.json")
    private val outCsv = new File(work, "round_stats.csv")
    private var result: BFR.Result = _

    def setup(): Unit = ()

    def unit(): Map[String, Any] = {
      val rounds = ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      val res = tracer.span("unit") {
        val chunks = tracer.span("sources.read")(PointSource.readDataset(spark, s"$data/chunks"))
        val r = tracer.span("bfr.run") {
          var tr = System.nanoTime()
          BFR.run(spark, chunks, cfg, onRound = _ => {
            val now = System.nanoTime()
            rounds += (now - tr) / 1e9
            tr = now
          })
        }
        tracer.span("sources.sink_json")(
          Sinks.writeAssignmentsJsonObject(r.assignments, outJson.getPath))
        tracer.span("sources.sink_csv")(Sinks.writeRoundStatsCsv(spark, r.stats, outCsv.getPath))
        r
      }
      val wall = seconds(t0)
      result = res
      Map("wall_s" -> wall, "rounds" -> rounds.toSeq, "attempted" -> 1,
        "failed" -> Seq.empty[String])
    }

    def finish(): Map[String, Any] = {
      val truth = Sinks.readJsonObjectLabels(spark, s"$data/truth.json")
      val nmi = tracer.span("eval.nmi")(Nmi.score(result.assignments, truth))
      Map("nmi" -> nmi, "outputs" ->
        Map("assignments" -> outJson.getPath, "round_stats" -> outCsv.getPath))
    }
  }

  /** The Bench path: the shared-artifact warmers, then registered queries
    * forced through a noop sink, in declaration order. A pass over all of
    * Queries.all takes ~90 s cold on 4 cores, so a unit is every
    * `Stride`-th query of each family (each family keeps its first).
    */
  final class Registry(spark: SparkSession, tracer: Tracer, sfDir: String, trace: Boolean)
      extends Workload {
    private val Stride = 8
    private val families: Seq[(String, Seq[Queries.Q])] = Seq(
      "Queries" -> Queries.relational, "OlapQueries" -> OlapQueries.all,
      "TextQueries" -> TextQueries.all, "MlQueries" -> MlQueries.all,
      "RetrievalQueries" -> RetrievalQueries.all, "ImageQueries" -> ImageQueries.all,
      "AudioQueries" -> AudioQueries.all, "VideoQueries" -> VideoQueries.all)
    require(families.flatMap(_._2.map(_.name)) == Queries.all.map(_.name),
      "query families no longer partition Queries.all in declaration order")
    private val selected: Seq[(Queries.Q, String)] = families.flatMap { case (f, qs) =>
      qs.zipWithIndex.collect { case (q, i) if i % Stride == 0 => q -> f }
    }
    private val warmers: Seq[(String, String, (SparkSession, String) => Unit)] =
      Seq("TextQueries" -> TextQueries.sharedArtifactWarmers,
        "MlQueries" -> MlQueries.sharedArtifactWarmers,
        "AudioQueries" -> AudioQueries.sharedArtifactWarmers,
        "ImageQueries" -> ImageQueries.sharedArtifactWarmers,
        "VideoQueries" -> VideoQueries.sharedArtifactWarmers)
        .flatMap { case (f, ws) => ws.map { case (n, fn) => (f, n, fn) } }
    private val warmS = ArrayBuffer[(String, String, Double)]()
    private val fingerprints = ArrayBuffer[(String, Long, String)]()

    def setup(): Unit = {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").write.format("noop").mode("overwrite").save()
      }
      for ((f, n, fn) <- warmers) {
        val t0 = System.nanoTime()
        fn(spark, sfDir)
        warmS += ((f, n, seconds(t0)))
      }
      unit() // untimed warm pass
    }

    def unit(): Map[String, Any] = {
      val walls = ArrayBuffer[Seq[Any]]()
      val failed = ArrayBuffer[String]()
      val t0 = System.nanoTime()
      tracer.span("unit") {
        for ((q, f) <- selected) {
          spark.sparkContext.setJobDescription(q.name)
          val tq = System.nanoTime()
          try tracer.span("query", Map("name" -> q.name, "family" -> f)) {
            val df = tracer.span("build")(q.fn(spark, sfDir))
            tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
          } catch {
            case NonFatal(e) => failed += s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
          walls += Seq(q.name, f, seconds(tq))
        }
      }
      Map("wall_s" -> seconds(t0), "queries" -> walls.toSeq,
        "attempted" -> selected.size, "failed" -> failed.toSeq)
    }

    /** Order-free result fingerprint: row count and the wrapping 64-bit
      * sum of xxhash64 over the columns in name order.
      */
    private def fingerprint(df: DataFrame): (Long, String) = {
      val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
      val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      val cols = order.map(i => col(s"c$i")).toSeq
      val h =
        try { named.select(xxhash64(cols: _*)); xxhash64(cols: _*) }
        catch { case NonFatal(_) => xxhash64(to_json(struct(cols: _*))) }
      val r = named.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
      val s = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
      (r.getLong(0), (s & ((BigInt(1) << 64) - 1)).toString(16))
    }

    def finish(): Map[String, Any] = {
      if (trace) for ((q, _) <- selected) {
        try {
          val (n, fp) = fingerprint(q.fn(spark, sfDir))
          fingerprints += ((q.name, n, fp))
        } catch { case NonFatal(e) => fingerprints += ((q.name, -1L, e.getClass.getSimpleName)) }
      }
      Map("warm" -> warmS.map { case (f, n, s) => Seq(f, n, s) }.toSeq,
        "fingerprints" -> fingerprints.map { case (q, n, fp) => Seq(q, n, fp) }.toSeq)
    }
  }
}
