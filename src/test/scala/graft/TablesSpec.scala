package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.sources.{PointSource, Tables}

/** [[Tables.read]] learns a table's schema with at most one Spark job per
  * session and stamped file set, and every registry family reads through
  * it.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  /** Writes `df` as one part file and returns it. */
  private def partFile(df: DataFrame): java.nio.file.Path = {
    val out = Files.createTempDirectory("tables-part").resolve("t")
    df.coalesce(1).write.parquet(out.toString)
    Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
  }

  test("a second Tables.read of the same table starts no job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables-read").toString
    Files.copy(partFile(Seq((1L, "a"), (2L, "b")).toDF("id", "s")),
      java.nio.file.Paths.get(s"$dir/t.parquet"))
    val (first, firstJobs) = SparkJobs.of(Tables.read(spark, dir, "t"))
    assert(firstJobs.total >= 1 && firstJobs.parquetInference >= 1, s"first read ran $firstJobs")
    val (second, secondJobs) = SparkJobs.of(Tables.read(spark, dir, "t"))
    assert(secondJobs.total == 0, s"second read ran $secondJobs")
    assert(second.schema == first.schema)
    assert(second.orderBy("id").collect().toSeq == first.orderBy("id").collect().toSeq)
  }

  test("rewriting a table at the same path with another schema returns the new schema") {
    import spark.implicits._
    // a single-file table
    val dir = Files.createTempDirectory("tables-rewrite").toString
    val file = java.nio.file.Paths.get(s"$dir/t.parquet")
    Files.copy(partFile(Seq((1L, "a")).toDF("id", "s")), file)
    assert(Tables.read(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Files.copy(partFile(Seq((1L, 2.5, 3)).toDF("id", "x", "y")), file,
      StandardCopyOption.REPLACE_EXISTING)
    val got = Tables.read(spark, dir, "t")
    assert(got.columns.toSeq == Seq("id", "x", "y"))
    assert(got.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))) == Seq((1L, 2.5, 3)))

    // a directory of part files, as TestDataGen writes sf1+ tables
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2)
      .write.parquet(s"$dir/d.parquet")
    assert(Tables.read(spark, dir, "d").count() == 2L)
    Seq((1L, 2.5)).toDF("id", "x").write.mode("overwrite").parquet(s"$dir/d.parquet")
    val d = Tables.read(spark, dir, "d")
    assert(d.columns.toSeq == Seq("id", "x"))
    assert(d.select(col("x")).collect().map(_.getDouble(0)).toSeq == Seq(2.5))
  }

  test("every family composes its queries with no parquet schema job once the memo is warm") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(Tables.read(spark, sf, _))
    // one query per table each family reads, plus the two non-query readers
    val picks = Seq(
      "q_join_multi", "q_scan_project", "q_join_broadcast", "q_union", "q_events_window",
      "q_l2_norm", // Queries
      "q_star_join", "q_rollup", "q_cube", "q_ntile", "q_pivot", "q_band_join",
      "q_hash_sample", // OlapQueries
      "q_token_count", // TextQueries
      "q_nmi_lang_source", "q_embedding_outliers", "q_embedding_near_dup", // MlQueries
      "q_hybrid_rrf", // RetrievalQueries
      "q_jpeg_quarantine", "q_audio_formats", "q_video_keyframes") // media
    val byName = Queries.all.map(q => q.name -> q).toMap
    for (name <- picks) {
      val (_, SparkJobs(_, _, parquet)) = SparkJobs.of(byName(name).fn(spark, sf))
      assert(parquet == 0, s"$name ran $parquet parquet schema jobs")
    }
    val (_, SparkJobs(_, _, parquet)) = SparkJobs.of {
      PointSource.fromEmbeddings(spark, sf)
      Multimodal.mediaFromDocuments(spark, sf)
      Multimodal.mediaWithPlantedHeaders(spark, sf)
    }
    assert(parquet == 0, s"point and media sources ran $parquet parquet schema jobs")
  }
}
