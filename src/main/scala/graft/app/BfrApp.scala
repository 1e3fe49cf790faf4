package graft.app

import org.apache.spark.sql.SparkSession

import graft.bfr.BFR
import graft.sources.{PointSource, Sinks}

/** Argv-compatible BFR driver, the engine's analog of
  * `spark-submit code/bfr.py <input_path> <n_cluster> <out_file1>
  * <out_file2>` (reference code/sh_commands:1; arg parse
  * code/bfr.py:193-196):
  *
  *  - input_path: directory of chunk files, processed one per round in
  *    lexicographic name order (code/bfr.py:432-438);
  *  - n_cluster: K;
  *  - out_file1: cluster-assignment map as ONE JSON object
  *    {"<id>": cluster, ...}, -1 = outlier (code/bfr.py:463-464);
  *  - out_file2: intermediate-results CSV, one row per round
  *    (code/bfr.py:465-468).
  *
  * A user of the reference can point this at the same dataset layout and
  * get the same output shapes.
  */
object BfrApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: BfrApp <input_path> <n_cluster> <out_file1:json> <out_file2:csv> " +
        "[--seed N] [--best-of N]")
    val Array(inputPath, kStr, outJson, outCsv) = args.take(4)
    // deterministic analog of the reference's random restart seed
    // (code/bfr.py:21) + the HW4 §4.3 best-of-5 protocol: run seeds
    // seed..seed+N-1 and keep the lowest-SSE result
    def flag(name: String): Option[Int] = {
      val i = args.indexOf(name)
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1).toInt) else None
    }
    val seed0 = flag("--seed").getOrElse(0)
    val bestOf = math.max(1, flag("--best-of").getOrElse(1))
    // don't tear down a session we merely joined (embedded/test usage)
    val hadActive = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .appName("graft-bfr")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val chunks = PointSource.readDataset(spark, inputPath)
      val cfg = BFR.Config(kStr.toInt)
      val res = (0 until bestOf).map { s =>
        val r = BFR.run(spark, chunks, cfg.copy(seedRank = seed0 + s))
        val sse = BFR.meanSse(r.ds)
        if (bestOf > 1) System.err.println(f"[bfr] seed ${seed0 + s}: mean_sse=$sse%.4f")
        r -> sse
      }.minBy(_._2)._1
      Sinks.writeAssignmentsJsonObject(res.assignments, outJson)
      Sinks.writeRoundStatsCsv(spark, res.stats, outCsv)
    } finally if (!hadActive) spark.stop()
  }
}
