package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.bfr.BFR
import graft.functions.VectorFunctions.toDoubleArray

/** Scale validation for the chunked BFR driver loop — the analog of
  * [[TextScaleBench]] for the clustering family: replicate the driver's
  * embeddings table `copies`× (each copy deterministically jittered, so
  * points are unique but the cluster geometry is preserved), split into
  * `nChunks` round-robin chunks, and run the full BFR pipeline with
  * per-round wall-time and driver-heap sampling.
  *
  * What it proves ("would this still work at 1000×"):
  *  - per-round seconds stay ~flat — the lineage cuts and incremental
  *    accounting hold (a compounding plan shows up as monotone growth);
  *  - driver heap stays ~flat — driver state is K summaries + round
  *    counters, never point data;
  *  - the init stage completes on a chunk far above the local-fit
  *    cutoff: the histogram-selection sample is capped at
  *    `KMeans.LocalFitCells` cells and clustered in driver memory.
  *
  * Usage: runMain graft.app.BfrScaleBench [embParquet] [copies] [nChunks] [k]
  * (defaults: sf0.1 embeddings × 5000 = 10M points, 10 chunks, k=10)
  */
object BfrScaleBench {

  final case class RoundProbe(round: Int, sec: Double, heapMb: Long)

  final case class Result(
      points: Long, chunks: Int, rounds: Seq[RoundProbe],
      clusters: Int, outliers: Long, totalSec: Double)

  private def usedHeapMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  def run(spark: SparkSession, embPath: String, copies: Int, nChunks: Int,
          k: Int, sinkDir: Option[String] = None): Result = {
    // sink mode appends: a stale directory from a previous probe would
    // silently inflate nPoints/outliers and corrupt the heap artifact
    sinkDir.foreach { dir =>
      val p = new java.io.File(dir)
      // (File.list() returns null for a regular FILE, which would make
      // the emptiness check vacuously pass — require a directory)
      require(!p.exists() ||
          (p.isDirectory && Option(p.list()).forall(_.isEmpty)),
        s"BFR_SCALE_SINK $dir already exists and is non-empty — " +
          "remove it (or point at a fresh path) before the probe")
    }
    val e = spark.read.parquet(embPath)
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("f"))
    // copy c of point i: id = i*copies + c; features jittered by a small
    // deterministic per-copy offset (cluster structure intact, points unique)
    val corpus = e
      .select(col("vec_id"), col("f"),
        explode(sequence(lit(0), lit(copies - 1))).as("c"))
      .select((col("vec_id") * copies + col("c")).as("id"),
        transform(col("f"), x => x + (pmod(col("c"), lit(11)) - 5) * 1e-3)
          .as("features"))
    val chunks = (0 until nChunks).map(i =>
      corpus.filter(pmod(col("id"), lit(nChunks)) === i))

    val probes = scala.collection.mutable.ArrayBuffer[RoundProbe]()
    val t0 = System.nanoTime()
    var tPrev = t0
    // sink mode (heap-attribution probe): stream every assignment block
    // to the scalable JSONL sink the moment it exists — the driver then
    // holds NO assignment state, so a flat heap series here PROVES the
    // default run's ramp is block-manager assignment blocks (which live
    // on executors in cluster mode), not hidden driver accumulation
    val sink: Option[org.apache.spark.sql.DataFrame => Unit] =
      sinkDir.map(dir => (delta: org.apache.spark.sql.DataFrame) =>
        delta.write.mode("append").json(dir))
    val res = BFR.run(spark, chunks,
      BFR.Config(k = k, rsClusterThreshold = 500),
      onRound = { r =>
        val now = System.nanoTime()
        System.gc() // stabilize the heap sample between rounds
        val p = RoundProbe(r, math.rint((now - tPrev) / 1e8) / 10, usedHeapMb())
        probes += p
        // incremental trace: a run killed mid-flight still leaves its rounds
        sys.env.get("BFR_SCALE_OUT").foreach { path =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path + ".rounds"),
            s"""{"round":${p.round},"sec":${p.sec},"heap_mb":${p.heapMb}}\n"""
              .getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
        tPrev = System.nanoTime()
      },
      assignSink = sink)
    val assignedOut = sinkDir match {
      case Some(dir) => spark.read.json(dir)
      case None      => res.assignments
    }
    val nPoints = assignedOut.count()
    val outliers = assignedOut.filter(col("cluster") === -1).count()
    val totalSec = math.rint((System.nanoTime() - t0) / 1e8) / 10
    Result(nPoints, nChunks, probes.toSeq, res.ds.size, outliers, totalSec)
  }

  def main(args: Array[String]): Unit = {
    val embPath = args.headOption.getOrElse("/root/testdata/sf0.1/embeddings.parquet")
    val copies = args.lift(1).map(_.toInt).getOrElse(5000)
    val nChunks = args.lift(2).map(_.toInt).getOrElse(10)
    val k = args.lift(3).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bfr-scale-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = run(spark, embPath, copies, nChunks, k,
      sinkDir = sys.env.get("BFR_SCALE_SINK"))
    val rounds = r.rounds.map(p =>
      s"""{"round":${p.round},"sec":${p.sec},"heap_mb":${p.heapMb}}""").mkString(",")
    val json = s"""{"mode":"bfr_scale","points":${r.points},"chunks":${r.chunks},""" +
      s""""clusters":${r.clusters},"outliers":${r.outliers},""" +
      s""""total_s":${r.totalSec},"rounds":[$rounds]}"""
    println(json)
    // stdout on a long probe can die with its harness (lost pipe reader);
    // the result must survive that, so it also lands in a file.
    sys.env.get("BFR_SCALE_OUT").foreach { path =>
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
