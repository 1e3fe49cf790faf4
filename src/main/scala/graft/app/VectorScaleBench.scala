package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeVectorFunctions.argMinSqDistNative
import graft.functions.VectorFunctions.dot
import graft.kmeans.KMeans

/** Vector-tier scale probe (round-9 verdict item 3): the shipped IVF
  * quality numbers came from k=8 cells over 500 vectors — no evidence for
  * the 100 TB regime. This probe runs the SAME architecture at 1M×64d
  * with k=256 cells: deterministic clustered synth data (hash-noise, no
  * RNG), quantizer fit on a sample, full-corpus cell assignment through
  * the O(1)-codegen argmin kernel, then an nprobe sweep measuring
  * recall@10 against exact brute force on sampled queries — with
  * per-stage max-task attribution (the TextScaleBench methodology: the
  * longest single task is what predicts 1000-executor behavior).
  *
  * Scale shape under test:
  *  - fit: sample-bounded (60k×64d fits the local-fit budget; at real
  *    scale the sample is what you'd collect too — the quantizer is
  *    driver-held model state like k-means centers);
  *  - assignment: map-side only (centers travel as one reference object
  *    per task), zero shuffle;
  *  - search: query side broadcast, candidates pruned to nprobe cells
  *    BEFORE the distance math — the scan volume dial;
  *  - brute force: two-phase top-k (partition-local prune, then global),
  *    so no single task ever sorts a query's full 1M candidate list.
  *
  * Usage: runMain graft.app.VectorScaleBench [n] [k] [nQueries]
  */
object VectorScaleBench {

  private def noiseCol(seed: org.apache.spark.sql.Column*)
      : org.apache.spark.sql.Column =
    pmod(xxhash64(seed: _*), lit(2000001L)).cast("double") / 1000000.0 - 1.0

  final case class Result(
      n: Long, k: Int, d: Int, nQueries: Int,
      kEffective: Int, splits: Int, capUsed: Long,
      cellMin: Long, cellMax: Long, cellAvg: Double,
      recallAtNprobe: Map[Int, Double],
      candRowsAtNprobe: Map[Int, Long],
      stageSeconds: Map[String, Double],
      stageMaxTaskS: Map[String, Double])

  /** `capFactor = Some(c)` enables skew-aware cell splitting
    * (BalancedIvf): sample cells above c× the original average occupancy
    * are recursively split before assignment, bounding the hot-cell /
    * posting-list skew the round-9 probe measured at 10× average.
    */
  def run(spark: SparkSession, n: Long, k: Int, nQueries: Int,
          capFactor: Option[Double] = None): Result = {
    val D = 64
    val TrueClusters = 1024
    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = t.taskInfo.duration
        var cur = maxTaskMs.get()
        while (d > cur && !maxTaskMs.compareAndSet(cur, d)) cur = maxTaskMs.get()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val stageMax = scala.collection.mutable.LinkedHashMap[String, Double]()
    val stageSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    var t0 = System.nanoTime()
    def snap(stage: String): Unit = {
      val t1 = System.nanoTime()
      stageSec(stage) = math.rint((t1 - t0) / 1e8) / 10
      t0 = t1
      stageMax(stage) = math.rint(maxTaskMs.getAndSet(0) / 100.0) / 10
    }

    // deterministic clustered corpus: vec(id) = centroid(id % 1024) +
    // 0.12·hashnoise(id, dim); cluster diameter ≪ inter-centroid spread
    val corpus = spark.range(n)
      .select(col("id"),
        transform(sequence(lit(0), lit(D - 1)), i =>
          (noiseCol(pmod(col("id"), lit(TrueClusters)), i) +
            noiseCol(col("id"), i, lit(7L)) * lit(0.12)))
          .as("e"))
      .repartition(256) // fine blocks: the brute-force crossJoin fans out
      .localCheckpoint(true) //   200× per partition (output-row sizing)
    corpus.count()
    snap("synth")

    // quantizer: ~60k-row sample (local-fit budget) — deterministic and
    // HASH-decorrelated. A periodic 1-in-m sample (id % m == 0) aliases
    // with the id % 1024 cluster structure of the corpus: for m = 16 the
    // sample contains only 64 of the 1024 true modes, so the quantizer
    // never sees the rest and the occupancy estimate the balancer uses is
    // blind to the real hot cells (measured: cell_max unchanged at 38,649
    // with periodic sampling; drops to the cap with hashed sampling).
    // The general lesson: sampling keys must be decorrelated from EVERY
    // structured id in the data — hash, never stride.
    val sample = corpus.filter(
      pmod(xxhash64(col("id"), lit(11L)), lit(math.max(1L, n / 60000))) === 0)
    val base = KMeans.fit(sample, k = k, iters = 5, featCol = "e")
    snap("fit")

    // optional skew-aware balancing on the SAME sample (driver-held, like
    // the quantizer itself)
    val (model, splits, capUsed) = capFactor match {
      case Some(cf) =>
        val sRows = sample.select(col("id"), col("e")).orderBy(col("id"))
          .collect().map(_.getSeq[Double](1).toArray)
        val r = graft.kmeans.BalancedIvf.splitHotCells(
          sRows, base.centers, cf, maxCenters = 2 * k)
        snap("balance")
        (KMeans.Model(r.centers), r.splits, r.capUsed)
      case None => (base, 0, 0L)
    }

    // full-corpus assignment: map-side argmin kernel, zero shuffle
    val cells = corpus
      .select(col("id").as("cid"), col("e").as("ce"),
        argMinSqDistNative(col("e"), model.centers).as("cell"))
      .localCheckpoint(true)
    cells.count()
    val occ = cells.groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")), max(col("c")), avg(col("c"))).head()
    snap("assign")

    // queries: sampled rows; nprobe cell lists computed driver-side (the
    // query side is the small, broadcast side by construction)
    val qRows = corpus // hash-decorrelated for the same aliasing reason
      .filter(pmod(xxhash64(col("id"), lit(23L)), lit(n / nQueries)) === 0)
      .orderBy(col("id")).limit(nQueries)
      .select(col("id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cellsFor(qe: Array[Double], nprobe: Int): Seq[Int] = {
      val ds = model.centers.zipWithIndex.map { case (c, j) =>
        var s = 0.0; var i = 0
        while (i < qe.length) { val t = qe(i) - c(i); s += t * t; i += 1 }
        (s, j)
      }
      ds.sortBy(identity).take(nprobe).map(_._2).toSeq
    }
    import spark.implicits._

    // exact brute-force top-10 per query: two-phase top-k
    val qDf = qRows.toSeq.toDF("qid", "qe")
    val scored = cells.crossJoin(broadcast(qDf))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), dot(col("ce"), col("qe")).as("dot"),
        spark_partition_id().as("p"))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"), col("p")).orderBy(col("dot").desc, col("cid"))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    val bf10 = scored
      .withColumn("rl", row_number().over(wLocal)).filter(col("rl") <= 10)
      .withColumn("rg", row_number().over(wGlobal)).filter(col("rg") <= 10)
      .select(col("qid"), col("cid")).localCheckpoint(true)
    bf10.count()
    snap("brute_force")

    // nprobe sweep
    val recalls = scala.collection.mutable.Map[Int, Double]()
    val candRows = scala.collection.mutable.Map[Int, Long]()
    for (nprobe <- Seq(1, 4, 16)) {
      val probes = qRows.flatMap { case (qid, qe) =>
        cellsFor(qe, nprobe).map(c => (qid, qe, c))
      }.toSeq.toDF("qid", "qe", "cell")
      val cand = cells.join(broadcast(probes), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
      val nCand = cand.count()
      val ivf10 = cand
        .select(col("qid"), col("cid"),
          dot(col("ce"), col("qe")).as("dot"))
        .withColumn("rn", row_number().over(wGlobal)).filter(col("rn") <= 10)
        .select(col("qid"), col("cid"))
      val hits = bf10.join(ivf10, Seq("qid", "cid")).count()
      recalls(nprobe) = math.rint(hits * 1000.0 / (nQueries * 10.0)) / 1000
      candRows(nprobe) = nCand
      snap(s"ivf_nprobe_$nprobe")
    }
    spark.sparkContext.removeSparkListener(listener)
    Result(n, k, D, nQueries, model.k, splits, capUsed,
      occ.getLong(0), occ.getLong(1), math.rint(occ.getDouble(2) * 10) / 10,
      recalls.toMap, candRows.toMap, stageSec.toMap, stageMax.toMap)
  }

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val k = args.lift(1).map(_.toInt).getOrElse(256)
    val nQ = args.lift(2).map(_.toInt).getOrElse(200)
    val capFactor = args.lift(3).filter(_ != "-").map(_.toDouble)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-vector-scale-bench")
      .config("spark.sql.shuffle.partitions", 256)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val r = run(spark, n, k, nQ, capFactor)
      def m(mm: Map[_, _]): String =
        mm.toSeq.map(kv => s""""${kv._1}":${kv._2}""").mkString("{", ",", "}")
      // one JSON line, TextScaleBench style
      println(s"""{"probe":"vector_scale","n":${r.n},"k":${r.k},"d":${r.d},""" +
        s""""k_effective":${r.kEffective},"splits":${r.splits},""" +
        s""""cap_used":${r.capUsed},""" +
        s""""n_queries":${r.nQueries},"cell_min":${r.cellMin},""" +
        s""""cell_max":${r.cellMax},"cell_avg":${r.cellAvg},""" +
        s""""recall_at_nprobe":${m(r.recallAtNprobe)},""" +
        s""""cand_rows_at_nprobe":${m(r.candRowsAtNprobe)},""" +
        s""""stage_seconds":${m(r.stageSeconds)},""" +
        s""""stage_max_task_s":${m(r.stageMaxTaskS)}}""")
    } finally spark.stop()
  }
}
