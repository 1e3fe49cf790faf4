package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.{KMeans, ModelStore}

class ModelStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  private def models: Array[KMeans.Model] = Array(
    KMeans.Model(Array(Array(1.0, 2.0), Array(3.0, 4.0))),
    KMeans.Model(Array(Array(5.5, 6.5), Array(-1.0, 0.25), Array(9.0, 9.0))))

  test("save/load round-trips model order, center order, and exact values") {
    val path = Files.createTempDirectory("ms").toString + "/cb.parquet"
    ModelStore.save(spark, path, models.toSeq)
    val (loaded, jobs) = SparkJobs.of(ModelStore.load(spark, path).get)
    assert(jobs.parquetInference == 0, s"load ran a schema inference: $jobs")
    assert(loaded.length == 2)
    assert(loaded(0).centers.map(_.toSeq).toSeq == models(0).centers.map(_.toSeq).toSeq)
    assert(loaded(1).centers.map(_.toSeq).toSeq == models(1).centers.map(_.toSeq).toSeq)
  }

  test("getOrFit trains once and serves subsequent sessions from the store") {
    val path = Files.createTempDirectory("ms").toString + "/cb.parquet"
    var fits = 0
    def fit(): Array[KMeans.Model] = { fits += 1; models }
    val first = ModelStore.getOrFit(spark, path, fit())
    val second = ModelStore.getOrFit(spark, path, fit())
    assert(fits == 1, "second getOrFit must load, not refit")
    assert(second.map(_.centers.map(_.toSeq).toSeq).toSeq ==
      first.map(_.centers.map(_.toSeq).toSeq).toSeq)
  }

  test("missing or torn artifact is a cache miss, not an error") {
    assert(ModelStore.load(spark, "/tmp/does/not/exist.parquet").isEmpty)
    val dir = Files.createTempDirectory("ms").toString
    val torn = s"$dir/torn.parquet"
    Files.createDirectory(java.nio.file.Paths.get(torn))
    Files.writeString(java.nio.file.Paths.get(s"$torn/part-0.parquet"), "not parquet")
    assert(ModelStore.load(spark, torn).isEmpty)
    val got = ModelStore.getOrFit(spark, torn, models)
    assert(got.length == 2) // refit + overwrite wins
    assert(ModelStore.load(spark, torn).nonEmpty)
  }
}
