package graft.kmeans

import org.apache.spark.mllib.clustering.{KMeans => MllibKM, KMeansModel => MllibKMModel}
import org.apache.spark.mllib.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib-backed k-means (SURVEY.md §7: "MLlib-backed + exact mode"):
  * MLlib's distributed Lloyd adapted to the engine's Model, so
  * downstream assignment/inertia code is path-agnostic.
  */
object MLlibKMeans {
  /** MLlib Lloyd from PINNED initial centers (the RDD API's
    * `setInitialModel` — the `ml` facade exposes no equivalent): skips
    * the randomized k-means|| init entirely, so the fit is deterministic
    * end-to-end and, seeded from [[KMeans.seed]]'s maximin centers, runs
    * the same algorithm as [[KMeans.fit]] — MLlib's distributed Lloyd is
    * then exactly checkable against the engine's unrolled SQL oracle.
    * epsilon=0 disables the early-convergence cut so exactly `iters`
    * update rounds run, matching the reference's fixed-iteration loop
    * (code/bfr.py:87-90). Empty clusters keep their previous center on
    * both paths.
    */
  def fitFromSeeds(points: DataFrame, initial: Array[Array[Double]], iters: Int = 5,
                   featCol: String = "features"): KMeans.Model = {
    val rdd = points.select(col(featCol))
      .rdd.map(r => Vectors.dense(r.getSeq[Double](0).toArray))
    val model = new MllibKM()
      .setK(initial.length)
      .setMaxIterations(iters)
      .setEpsilon(0.0)
      .setInitialModel(new MllibKMModel(initial.map(Vectors.dense)))
      .run(rdd)
    KMeans.Model(model.clusterCenters.map(_.toArray))
  }
}
