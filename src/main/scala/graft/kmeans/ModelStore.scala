package graft.kmeans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Parquet persistence for k-means codebooks/centroids — the production
  * ANN flow: quantizers (IVF cells, PQ subspace codebooks) are trained
  * ONCE, written next to the index, and every serving session loads them
  * instead of refitting. Center and model order are persisted explicitly
  * (model_idx, center_idx) so a loaded model is bit-identical to the
  * trained one — the oracle-exact ANN queries reproduce the same rows
  * from a cold session without retraining.
  */
object ModelStore {

  /** The stored layout, one row per centroid: (model_idx, center_idx, center). */
  private val Schema = StructType(Seq(StructField("model_idx", IntegerType),
    StructField("center_idx", IntegerType), StructField("center", ArrayType(DoubleType))))

  def save(spark: SparkSession, path: String, models: Seq[KMeans.Model]): Unit = {
    import spark.implicits._
    models.zipWithIndex.flatMap { case (m, mi) =>
      m.centers.zipWithIndex.map { case (c, ci) => (mi, ci, c.toSeq) }
    }.toDF("model_idx", "center_idx", "center")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load models in persisted order; None if absent/unreadable (treat a
    * torn artifact as a cache miss, never an error — refit wins). The
    * read is given [[save]]'s schema, so it runs no inference job.
    */
  def load(spark: SparkSession, path: String): Option[Array[KMeans.Model]] = {
    if (!new java.io.File(path).exists()) return None
    try {
      val rows = spark.read.schema(Schema).parquet(path).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      if (rows.isEmpty) return None
      Some(rows.groupBy(_._1).toArray.sortBy(_._1).map { case (_, cs) =>
        KMeans.Model(cs.sortBy(_._2).map(_._3))
      })
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Load-if-exists, else train and persist — the serving-session entry
    * point. The fit thunk runs only on a store miss.
    */
  def getOrFit(spark: SparkSession, path: String,
               fit: => Array[KMeans.Model]): Array[KMeans.Model] =
    load(spark, path).getOrElse {
      val models = fit
      save(spark, path, models.toSeq)
      models
    }
}
