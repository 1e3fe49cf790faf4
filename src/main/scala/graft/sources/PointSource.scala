package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Sources for the reference's chunked point files (SURVEY.md §2.1).
  *
  * S1: directory chunk scan — lexicographic file order defines rounds
  * (code/bfr.py:432-438; HW4.pdf §6.1 penalizes wrong order).
  * S2: CSV point parse ([[PointSource.parseLine]], batch and stream) — line
  * split on the first comma into (id, double vector); d inferred at
  * runtime (code/bfr.py:209-217).
  *
  * Chunk lines come from Hadoop line splits, not `spark.read.text`, whose
  * 4 MB `spark.sql.files.openCostInBytes` floor packs a single-digit-MB
  * chunk into 2 partitions: BFR's per-round pass would run on 2 cores.
  */
object PointSource {

  /** List chunk files of a dataset directory in lexicographic order (S1). */
  def listChunks(path: String): Seq[String] = {
    val dir = new java.io.File(path)
    val fs = Option(dir.listFiles()).getOrElse(Array.empty)
    fs.filter(_.isFile).map(_.getPath).sorted.toSeq
  }

  /** One chunk line `id,f0,f1,...` as (id, features), or None where the
    * `try_cast` parse it replaced dropped it: blank (Spark's `trim` strips
    * spaces only), no feature, or a NULL cast. It calls what the casts
    * call: `String.split(",", -1)`; `toLongExact` ("1.9", "1.", ".5" are
    * NULL, not truncated); `parseDouble`, then Spark's special literals.
    */
  def parseLine(line: String): Option[(Long, Array[Double])] =
    if (line.forall(_ == ' ')) None
    else try {
      val fields = line.split(",", -1)
      val features = new Array[Double](fields.length - 1)
      var i = 0
      while (i < features.length) { features(i) = toDouble(fields(i + 1)); i += 1 }
      Option.when(features.nonEmpty)((UTF8String.fromString(fields(0)).toLongExact(), features))
    } catch { case _: NumberFormatException => None }

  private def toDouble(f: String): Double =
    try java.lang.Double.parseDouble(f) catch {
      case e: NumberFormatException => Cast.processFloatingPointSpecialLiterals(f, false) match {
        case d: java.lang.Double => d
        case _ => throw e
      }
    }

  /** Parse one chunk file of `id,f0,f1,...` lines with [[parseLine]] into
    * (id: bigint NOT NULL, features: array<double>, no NULL element) (S2);
    * d is whatever each line carries (SURVEY.md §1.5). Lines come from
    * `textFile(file, defaultParallelism)`, one split per core. The parse
    * is a plain function because Spark interprets `transform`
    * (`CodegenFallback`): that parse cost more than BFR's distance pass
    * and summary fold together.
    */
  def readChunk(spark: SparkSession, file: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.textFile(file, sc.defaultParallelism).flatMap(parseLine).toDF("id", "features")
  }

  /** readChunk + enforce the dimensionality inferred from the first line
    * (reference semantics: d comes from the first row, code/bfr.py:145);
    * ragged lines are dropped rather than fed to fixed-d math.
    */
  def readChunkStrict(spark: SparkSession, file: String): DataFrame =
    readChunk(spark, file).filter(size(col("features")) === firstPoint(spark, file)._2.length)

  /** The first line of `file` that [[parseLine]] keeps, read on the
    * driver with no Spark job. `textFile`'s first split starts at byte 0,
    * and this reads the same lines: Hadoop's `LineReader` over the file
    * system's stream, through the file's compression codec if any.
    */
  private def firstPoint(spark: SparkSession, file: String): (Long, Array[Double]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(file)
    val raw = path.getFileSystem(conf).open(path)
    val in = Option(new CompressionCodecFactory(conf).getCodec(path))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val lines = new LineReader(in, conf)
    try {
      val text = new Text()
      Iterator.continually(lines.readLine(text)).takeWhile(_ > 0)
        .flatMap(_ => parseLine(text.toString)).nextOption()
        .getOrElse(throw new NoSuchElementException(s"no point line in chunk $file"))
    } finally lines.close()
  }

  /** All chunks of a dataset, in round order (S1 + S2). */
  def readDataset(spark: SparkSession, path: String): Seq[DataFrame] =
    listChunks(path).map(readChunkStrict(spark, _))

  /** Points from the driver's embeddings testdata: (vec_id, float vector)
    * → (id, double features). Used to exercise the BFR/k-means path on
    * parquet input.
    */
  def fromEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("features"))
}
