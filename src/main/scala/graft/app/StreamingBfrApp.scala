package graft.app

import org.apache.spark.sql.SparkSession

import graft.bfr.BFR
import graft.streaming.Streaming

/** Streaming twin of BfrApp: consumes the chunk directory as a Structured
  * Streaming file source (one file per micro-batch, Trigger.AvailableNow)
  * and appends assignments as parquet; once the input is drained, the
  * finish labels the leftover RS and merges CS into DS. Usage:
  *   StreamingBfrApp <input_path> <n_cluster> <out_dir> <checkpoint_dir>
  */
object StreamingBfrApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: StreamingBfrApp <input_path> <n_cluster> <out_dir> <checkpoint_dir>")
    val Array(inputPath, kStr, outDir, ckpt) = args.take(4)
    val hadActive = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .appName("graft-bfr-stream")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (q, state) = Streaming.bfrStream(spark, inputPath, outDir,
        BFR.Config(k = kStr.toInt), ckpt)
      q.awaitTermination()
      val res = Streaming.finishBfrStream(spark, outDir, ckpt)
      println(s"[stream] rounds=${state.rounds} ds=${res.ds.size}")
    } finally if (!hadActive) spark.stop()
  }
}
