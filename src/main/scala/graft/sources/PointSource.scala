package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Sources for the reference's chunked point files (SURVEY.md §2.1).
  *
  * S1: directory chunk scan — lexicographic file order defines rounds
  * (code/bfr.py:432-438; HW4.pdf §6.1 penalizes wrong order).
  * S2: CSV point parse — line split on the first comma into
  * (id, double vector); d inferred at runtime (code/bfr.py:209-217).
  *
  * Chunk lines come from Hadoop line splits, not from `spark.read.text`:
  * the file source packs splits up to the session's
  * `spark.sql.files.openCostInBytes` floor (4 MB by default), which makes
  * a single-digit-MB chunk 2 partitions, and BFR's per-round distance
  * pass would run on 2 cores whatever the cluster size.
  */
object PointSource {

  /** List chunk files of a dataset directory in lexicographic order (S1). */
  def listChunks(path: String): Seq[String] = {
    val dir = new java.io.File(path)
    val fs = Option(dir.listFiles()).getOrElse(Array.empty)
    fs.filter(_.isFile).map(_.getPath).sorted.toSeq
  }

  /** Parse one chunk file of `id,f0,f1,...` lines into
    * (id: long, features: array<double>) (S2). Dimensionality is whatever
    * each line carries — schema dynamic in width only (SURVEY.md §1.5).
    * Lines are read as Hadoop text splits, asking for
    * `defaultParallelism` of them (`textFile(file, n)`), so every core
    * scans a share of the chunk however small it is next to the file
    * source's open-cost floor; the parse itself is a projection over that
    * string column and stays inside whole-stage codegen.
    */
  def readChunk(spark: SparkSession, file: String): DataFrame = {
    val parts = split(col("value"), ",")
    val sc = spark.sparkContext
    spark.createDataset(sc.textFile(file, sc.defaultParallelism))(Encoders.STRING)
      .filter(length(trim(col("value"))) > 0)
      .select(
        // try_cast: ANSI mode (Spark 4 default) makes cast THROW on
        // malformed input; we want nulls so bad lines can be dropped
        element_at(parts, 1).try_cast("long").as("id"),
        // slice length must be computed, not Int.MaxValue (start+length
        // overflows inside slice and yields an empty array)
        transform(slice(parts, lit(2), size(parts) - 1), _.try_cast("double")).as("features"))
      // malformed lines (non-numeric id, no feature columns) are dropped
      // rather than poisoning downstream math with nulls
      .filter(col("id").isNotNull && size(col("features")) > 0 &&
        !array_contains(transform(col("features"), _.isNull), true))
  }

  /** readChunk + enforce the dimensionality inferred from the first line
    * (reference semantics: d comes from the first row, code/bfr.py:145);
    * ragged lines are dropped rather than fed to fixed-d math.
    */
  def readChunkStrict(spark: SparkSession, file: String): DataFrame = {
    val df = readChunk(spark, file)
    val d = df.select(size(col("features"))).head().getInt(0)
    df.filter(size(col("features")) === d)
  }

  /** All chunks of a dataset, in round order (S1 + S2). */
  def readDataset(spark: SparkSession, path: String): Seq[DataFrame] =
    listChunks(path).map(readChunkStrict(spark, _))

  /** Points from the driver's embeddings testdata: (vec_id, float vector)
    * → (id, double features). Used to exercise the BFR/k-means path on
    * parquet input.
    */
  def fromEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("features"))
}
