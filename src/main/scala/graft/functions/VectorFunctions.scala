package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Column-level dense-vector math over `ArrayType(DoubleType)` columns.
  * `dot`, `sqDist` and `mahalanobis` are the whole-stage-codegen kernels
  * of [[NativeVectorExpressions]] (one primitive loop per row, no
  * intermediate arrays, no UDFs); `euclidean`, `norm2` and `cosine` are
  * composed from them. Unequal lengths or a NULL element give NULL.
  *
  * Reference semantics: `Utils.euclidean_distance` (code/bfr.py:109-117)
  * and `Utils.mahalanobis_distance` (code/bfr.py:119-126).
  */
object VectorFunctions {
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  /** Squared Euclidean distance Σ (a_i − b_i)². */
  def sqDist(a: Column, b: Column): Column =
    ColumnBridge.column(SqDistExpr(expr(a), expr(b)))

  /** Euclidean distance (code/bfr.py:109-117). */
  def euclidean(a: Column, b: Column): Column = sqrt(sqDist(a, b))

  /** Dot product Σ a_i·b_i. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductExpr(expr(a), expr(b)))

  /** L2 norm. */
  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val na = norm2(a)
    val nb = norm2(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** Diagonal-σ Mahalanobis distance of point `p` to a cluster with center
    * `c` and per-dim std `s`; zero-σ dimensions contribute 0
    * (code/bfr.py:119-126 skips them).
    */
  def mahalanobis(p: Column, c: Column, s: Column): Column =
    ColumnBridge.column(MahalanobisExpr(expr(p), expr(c), expr(s)))

  /** Cast an array<float> column (parquet `list<float>`) to array<double>,
    * the only element type the kernels above accept.
    */
  def toDoubleArray(a: Column): Column = transform(a, _.cast("double"))
}
