package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ClusterSummary
import graft.functions.VectorFunctions._

/** Column-expression distance functions vs closed-form scalar math
  * (FIXTURES.md §4; reference code/bfr.py:109-126).
  */
class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  import spark.implicits._

  val rnd = new scala.util.Random(11L)
  val dim = 6
  def vec(): Array[Double] = Array.fill(dim)(rnd.nextDouble() * 20.0 - 10.0)

  def scalarEuclid(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
  def scalarDot(a: Array[Double], b: Array[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  test("euclidean/dot/cosine expressions match scalar math") {
    val pairs = Seq.fill(50)((vec(), vec()))
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      euclidean(col("a"), col("b")).as("eu"),
      dot(col("a"), col("b")).as("dp"),
      cosine(col("a"), col("b")).as("cs")).collect()
    pairs.zip(rows).foreach { case ((a, b), r) =>
      assert(math.abs(r.getDouble(0) - scalarEuclid(a, b)) < 1e-9)
      assert(math.abs(r.getDouble(1) - scalarDot(a, b)) < 1e-9)
      val expCos = scalarDot(a, b) /
        (math.sqrt(scalarDot(a, a)) * math.sqrt(scalarDot(b, b)))
      assert(math.abs(r.getDouble(2) - expCos) < 1e-9)
    }
  }

  /** One array<double> column per name, NULL arrays and elements allowed. */
  def arrays(names: Seq[String], rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row.fromSeq), 2),
      StructType(names.map(StructField(_, ArrayType(DoubleType)))))

  test("native codegen kernels match the HOF expressions exactly") {
    val dims = 0 until dim
    def rndVec: Seq[Any] = vec().toSeq
    def rndStd: Seq[Any] = dims.map(i => if (i % 3 == 0) 0.0 else rnd.nextDouble() * 2 + 0.1)
    def withNull(v: Seq[Any], i: Int): Seq[Any] = v.updated(i, null)
    // (a, b, c, s): a·b for the binary ops, (a, c, s) for mahalanobis;
    // every s has zero-σ dims (0, 3), the skip branch
    val random = Seq.fill(100)(Seq(rndVec, rndVec, rndVec, rndStd))
    val nullRows = Seq(
      Seq(withNull(rndVec, 1), rndVec, rndVec, rndStd),   // null element
      Seq(null, rndVec, rndVec, rndStd),                   // null array
      Seq(rndVec.take(dim - 1), rndVec, rndVec, rndStd))   // length mismatch
    val others = Seq(
      Seq(Seq.fill(dim)(0.0), rndVec, rndVec, rndStd),     // zero norm
      Seq(rndVec, rndVec, withNull(rndVec, 2), rndStd),    // null center element
      Seq(rndVec, rndVec, rndVec, withNull(rndStd, 4)))    // null σ element
    val cases = random ++ nullRows ++ others
    val df = arrays(Seq("a", "b", "c", "s"), cases)
    val (a, b, c, sd) = (col("a"), col("b"), col("c"), col("s"))
    val ops = Seq[(String, Column, Column)](
      ("dot", dot(a, b), HofVectorOracle.dot(a, b)),
      ("sqDist", sqDist(a, b), HofVectorOracle.sqDist(a, b)),
      ("euclidean", euclidean(a, b), HofVectorOracle.euclidean(a, b)),
      ("norm2", norm2(a), HofVectorOracle.norm2(a)),
      ("cosine", cosine(a, b), HofVectorOracle.cosine(a, b)),
      ("mahalanobis", mahalanobis(a, c, sd), HofVectorOracle.mahalanobis(a, c, sd)))
    val rows = df.select(ops.flatMap { case (n, k, h) => Seq(k.as(n), h.as(s"${n}_hof")) }: _*)
      .collect()
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (null, null) => true
      case (p: Double, q: Double) =>
        java.lang.Double.doubleToRawLongBits(p) == java.lang.Double.doubleToRawLongBits(q)
      case _ => false
    }
    rows.zipWithIndex.foreach { case (r, i) =>
      ops.indices.foreach { o =>
        assert(same(r.get(2 * o), r.get(2 * o + 1)),
          s"${ops(o)._1} case $i: kernel=${r.get(2 * o)} hof=${r.get(2 * o + 1)}")
      }
    }
    // norm2 reads `a` alone, so a short `a` still has a norm
    for ((r, i) <- rows.slice(random.size, random.size + nullRows.size).zipWithIndex;
         o <- ops.indices if !(i == 2 && ops(o)._1 == "norm2"))
      assert(r.isNullAt(2 * o), s"${ops(o)._1} null case $i: expected NULL")
    assert(rows(random.size + nullRows.size).getDouble(8) == 0.0, "zero-norm cosine")
    assert(rows.takeRight(2).forall(_.isNullAt(10)), "null center/σ element → NULL")
    // where a NULL coordinate meets a zero-σ dim the HOF form skips the
    // dim (0.0); the kernel returns NULL for any NULL element
    val zeroSigmaNull = arrays(Seq("p", "c", "s"), Seq(Seq(Seq(null, 1.0), Seq(0.0, 0.0), Seq(0.0, 1.0))))
    assert(zeroSigmaNull.select(mahalanobis(col("p"), col("c"), col("s"))).head().isNullAt(0))
  }

  test("vector kernels reject non-double arrays at analysis") {
    val f = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    intercept[AnalysisException](f.select(dot(col("a"), col("b"))).collect())
    intercept[AnalysisException](f.select(mahalanobis(col("a"), col("b"), col("b"))).collect())
  }

  test("native mahalanobis matches scalar incl zero-std skip") {
    val pts = Seq.fill(30)(vec())
    val s0 = pts.map(p => { val q = p.clone(); q(3) = -7.0; q })
      .foldLeft(ClusterSummary.zero(dim))((acc, p) => acc.add(p))
    val probes = Seq.fill(20)(vec())
    val rows = probes.toDF("p")
      .select(mahalanobis(col("p"), lit(s0.center), lit(s0.std)).as("m"))
      .collect()
    probes.zip(rows).foreach { case (p, r) =>
      assert(math.abs(r.getDouble(0) - s0.mahalanobis(p)) < 1e-9)
    }
  }

  test("cosine returns 0 for zero-norm input") {
    val df = Seq((Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
    assert(df.select(cosine(col("a"), col("b"))).head().getDouble(0) == 0.0)
  }

  test("mahalanobis expression matches ClusterSummary.mahalanobis incl zero-std skip") {
    val pts = Seq.fill(30)(vec())
    val s = pts.foldLeft(ClusterSummary.zero(dim))((acc, p) => acc.add(p))
    // force a zero-std dimension
    val szero = {
      val flat = pts.map(p => { val q = p.clone(); q(2) = 42.0; q })
      flat.foldLeft(ClusterSummary.zero(dim))((acc, p) => acc.add(p))
    }
    for (summ <- Seq(s, szero)) {
      val probes = Seq.fill(20)(vec())
      val df = probes.toDF("p")
      val got = df.select(
        mahalanobis(col("p"), lit(summ.center), lit(summ.std)).as("m")).collect()
      probes.zip(got).foreach { case (p, r) =>
        assert(math.abs(r.getDouble(0) - summ.mahalanobis(p)) < 1e-6,
          s"expr=${r.getDouble(0)} scalar=${summ.mahalanobis(p)}")
      }
    }
  }

  test("argmin/min-sqdist kernels ≡ the k-kernel HOF form at small and large k (ties to first min)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val d = 16
    for (k <- Seq(3, 300)) {
      val centers = Array.fill(k)(Array.fill(d)(rng.nextDouble() * 2 - 1))
      // include exact-center points (distance ties with themselves) and a
      // duplicated center so the first-min tie rule is actually exercised
      centers(k - 1) = centers(0).clone()
      val pts = (0 until 200).map(i =>
        if (i < 10) (i.toLong, centers(i % k).toSeq)
        else (i.toLong, Seq.fill(d)(rng.nextDouble() * 2 - 1)))
      val df = pts.toDF("id", "e")
      // the reference form Model.labelFor/assign USED below the kernel
      // threshold: k separate sqdist kernels + array argmin/min —
      // spelled out explicitly so this stays a two-implementation
      // comparison now that Model itself delegates to the single-loop
      // kernels at large k
      val dists = array(centers.toIndexedSeq.map(c =>
        sqDist(col("e"), lit(c))): _*)
      val rows = df.select(col("id"),
        graft.functions.NativeVectorFunctions.argMinSqDistNative(col("e"), centers).as("a"),
        (array_position(dists, array_min(dists)) - 1).cast("int").as("b"),
        graft.functions.NativeVectorFunctions.minSqDistNative(col("e"), centers).as("ma"),
        array_min(dists).as("mb")).collect()
      rows.foreach { r =>
        assert(r.getInt(1) == r.getInt(2),
          s"k=$k id=${r.getLong(0)}: kernel=${r.getInt(1)} hof=${r.getInt(2)}")
        assert(r.getDouble(3) == r.getDouble(4),
          s"k=$k id=${r.getLong(0)}: minkernel=${r.getDouble(3)} hof=${r.getDouble(4)}")
      }
      // Model.assign(withDist) must agree with the HOF form in both regimes
      val model = graft.kmeans.KMeans.Model(centers)
      val viaModel = model.assign(df.withColumnRenamed("e", "features"), "features",
        withDist = true).select(col("id"), col("label"), col("dist2")).collect()
      viaModel.zip(rows).foreach { case (m, r) =>
        assert(m.getInt(1) == r.getInt(2) && m.getDouble(2) == r.getDouble(4),
          s"k=$k id=${m.getLong(0)}: assign=(${m.getInt(1)},${m.getDouble(2)})")
      }
    }
  }

  test("Model.labelOf (driver twin) ≡ Model.assign's label at small and large k, ties, Inf and NaN") {
    val rng = new scala.util.Random(53)
    val d = 8
    for (k <- Seq(5, 40)) {
      val centers = Array.fill(k)(Array.fill(d)(rng.nextDouble() * 2 - 1))
      centers(k - 1) = centers(0).clone()
      val pts = (0 until 200).map { i =>
        val v =
          if (i < 10) centers(i % k).clone()
          else if (i == 10) Array.fill(d)(1e200)           // every distance is +Inf
          else if (i == 11) Array.tabulate(d)(t => if (t == 2) Double.NaN else 0.5)
          else Array.fill(d)(rng.nextDouble() * 2 - 1)
        (i.toLong, v)
      }
      val model = graft.kmeans.KMeans.Model(centers)
      val viaSpark = model.assign(pts.map { case (i, v) => (i, v.toSeq) }.toDF("id", "features"),
        "features").select(col("id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      pts.foreach { case (i, v) =>
        assert(model.labelOf(v) == viaSpark(i), s"k=$k id=$i: labelOf=${model.labelOf(v)} assign=${viaSpark(i)}")
      }
    }
  }

  test("fused nearest-maha kernel rejects an empty summary set") {
    val e = intercept[IllegalArgumentException](graft.functions.NativeVectorFunctions
      .nearestMahaNative(col("e"), Array.empty[Array[Double]], Array.empty[Array[Double]], 1.0))
    assert(e.getMessage.contains("at least one summary"))
  }

  test("fused nearest-maha kernel compiles with a non-finite threshold") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val row = InternalRow(new GenericArrayData(Array[Any](1.0, 2.0)))
    for (thr <- Seq(Double.PositiveInfinity, Double.NaN, 3.0)) {
      val e = graft.functions.NearestMahaExpr(BoundReference(0, ArrayType(DoubleType), true),
        Array(Array(0.0, 0.0), Array(5.0, 5.0)), Array(Array(1.0, 1.0), Array(1.0, 1.0)), thr)
      // generate() compiles eagerly and throws on a compile error
      val compiled = GenerateUnsafeProjection.generate(Seq(e))
      assert(compiled(row).getLong(0) == e.eval(row), s"threshold $thr")
    }
  }

  test("fused nearest-maha kernel matches the composed literal form exactly") {
    import graft.functions.NativeVectorFunctions._
    val rnd2 = new scala.util.Random(23L)
    for (k <- Seq(1, 3, 10)) {
      val centers = Array.fill(k)(Array.fill(dim)(rnd2.nextDouble() * 10 - 5))
      // include zero-std dims (the skip branch) and exact ties: center 0
      // duplicated as center k-1 when k > 1 forces equal distances — the
      // first minimum must win in both forms
      if (k > 1) centers(k - 1) = centers(0).clone()
      val stds = Array.fill(k)(Array.tabulate(dim)(i =>
        if (i % 3 == 0) 0.0 else rnd2.nextDouble() * 2 + 0.1))
      val alpha = 3.0
      val thr = alpha * math.sqrt(dim.toDouble)
      val pts = (0 until 200).map(i => (i.toLong, Array.fill(dim)(rnd2.nextDouble() * 12 - 6)))
      val df = pts.toDF("id", "e")
      val dists = array(centers.indices.map(j =>
        mahalanobis(col("e"), lit(centers(j)), lit(stds(j)))): _*)
      val best = array_min(dists)
      val rows = df.select(col("id"),
        nearestMahaNative(col("e"), centers, stds, thr).as("pk"),
        (array_position(dists, best) - 1).cast("int").as("lbl"),
        (best < lit(thr)).as("keep")).collect()
      rows.foreach { r =>
        val pk = r.getLong(1)
        assert((pk >> 1).toInt == r.getInt(2),
          s"k=$k id=${r.getLong(0)}: fused label ${(pk >> 1).toInt} != ${r.getInt(2)}")
        assert(((pk & 1L) == 1L) == r.getBoolean(3),
          s"k=$k id=${r.getLong(0)}: fused keep != composed keep")
      }
      // malformed vectors (wrong dim / null element) are NULL in both forms
      val bad = Seq((0L, Array(1.0, 2.0))).toDF("id", "e")
      assert(bad.select(nearestMahaNative(col("e"), centers, stds, thr)).head().isNullAt(0))
    }
  }
}

/** The interpreted higher-order-function forms (`zip_with` folded by
  * `aggregate`) that the codegen kernels behind [[graft.functions.VectorFunctions]]
  * replaced — kept in test scope only, as the kernels' equivalence oracle.
  */
object HofVectorOracle {
  private def zipSum(a: Column, b: Column)(f: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, f), lit(0.0), (acc, x) => acc + x)

  def sqDist(a: Column, b: Column): Column = zipSum(a, b)((x, y) => (x - y) * (x - y))
  def euclidean(a: Column, b: Column): Column = sqrt(sqDist(a, b))
  def dot(a: Column, b: Column): Column = zipSum(a, b)(_ * _)
  def norm2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val na = norm2(a)
    val nb = norm2(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  def mahalanobis(p: Column, c: Column, s: Column): Column = {
    val diff = zip_with(p, c, (x, y) => x - y)
    val scaled = zip_with(diff, s, (d, sd) =>
      when(sd === 0.0, lit(0.0)).otherwise((d / sd) * (d / sd)))
    sqrt(aggregate(scaled, lit(0.0), (acc, x) => acc + x))
  }
}
