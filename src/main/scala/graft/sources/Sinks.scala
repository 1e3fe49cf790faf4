package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.RoundStats

/** Sinks matching the reference's two outputs (SURVEY.md §2.1 S4/S5). */
object Sinks {

  /** S4: the spec's assignment output is ONE JSON object
    * `{"<id>": cluster, ...}` (code/bfr.py:463-464; HW4.pdf §4.3a — keys
    * are point indices as strings). One int per point → driver collect is
    * bounded and acceptable (SURVEY.md §7.4); `writeAssignmentsJsonl` is
    * the scalable variant.
    */
  def writeAssignmentsJsonObject(assignments: DataFrame, outFile: String): Unit = {
    val rows = assignments
      .select(col(assignments.columns(0)).cast("long").as("id"),
        col(assignments.columns(1)).cast("int").as("cluster"))
      .collect()
    // duplicate input ids (the reference's own micro-fixture has them,
    // FIXTURES.md §1) would emit duplicate JSON keys; keep the real
    // cluster over -1, then max — mirrors the reference dict's
    // last-write-wins collapse while staying deterministic. The rows end
    // on the driver anyway, so the dedup and the id sort run here and the
    // sink stays one job
    val best = new scala.collection.mutable.LongMap[Int](rows.length)
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1), s"assignment row with a NULL id or cluster: $r")
      val id = r.getLong(0)
      best.update(id, math.max(best.getOrElse(id, Int.MinValue), r.getInt(1)))
    }
    val ids = best.keys.toArray
    java.util.Arrays.sort(ids)
    val sb = new StringBuilder("{")
    var first = true
    ids.foreach { id =>
      if (!first) sb.append(", ")
      sb.append('"').append(id.toString).append("\": ").append(best(id))
      first = false
    }
    sb.append('}')
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Scalable assignment sink: JSONL, fully distributed. */
  def writeAssignmentsJsonl(assignments: DataFrame, outDir: String): Unit =
    assignments.write.mode("overwrite").json(outDir)

  /** S5: intermediate-results CSV, header + one row per round
    * (code/bfr.py:197-198, 465-468).
    */
  def writeRoundStatsCsv(spark: SparkSession, stats: Seq[RoundStats], outFile: String): Unit = {
    val header = "round_id,nof_cluster_discard,nof_point_discard," +
      "nof_cluster_compression,nof_point_compression,nof_point_retained"
    val lines = stats.map(s =>
      s"${s.round_id},${s.nof_cluster_discard},${s.nof_point_discard}," +
        s"${s.nof_cluster_compression},${s.nof_point_compression},${s.nof_point_retained}")
    Files.write(Paths.get(outFile),
      (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** S6: JSON-object ground-truth source `{id → label}` (get_nmi.py:29-32)
    * → (id, label) rows via a map explode.
    */
  def readJsonObjectLabels(spark: SparkSession, file: String): DataFrame = {
    val raw = String.join("\n", Files.readAllLines(Paths.get(file)))
    import spark.implicits._
    val df = spark.createDataset(Seq(raw)).toDF("j")
    df.select(explode(from_json(col("j"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))))
      .select(col("key").cast("long").as("id"), col("value").as("label"))
  }
}
