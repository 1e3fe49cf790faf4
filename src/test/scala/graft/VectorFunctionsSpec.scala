package graft

import org.apache.spark.sql.functions._
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

  test("native codegen kernels match the HOF expressions exactly") {
    import graft.functions.NativeVectorFunctions._
    val pairs = Seq.fill(100)((vec(), vec()))
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      dotNative(col("a"), col("b")).as("dn"),
      dot(col("a"), col("b")).as("dh"),
      sqDistNative(col("a"), col("b")).as("sn"),
      sqDist(col("a"), col("b")).as("sh")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "dot: native != HOF")
      assert(r.getDouble(2) == r.getDouble(3), "sqdist: native != HOF")
    }
  }

  test("native mahalanobis matches scalar incl zero-std skip") {
    import graft.functions.NativeVectorFunctions._
    val pts = Seq.fill(30)(vec())
    val s0 = pts.map(p => { val q = p.clone(); q(3) = -7.0; q })
      .foldLeft(ClusterSummary.zero(dim))((acc, p) => acc.add(p))
    val probes = Seq.fill(20)(vec())
    val rows = probes.toDF("p")
      .select(mahalanobisNative(col("p"), lit(s0.center), lit(s0.std)).as("m"))
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
        graft.functions.NativeVectorFunctions.sqDistNative(col("e"), lit(c))): _*)
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
        mahalanobisNative(col("e"), lit(centers(j)), lit(stds(j)))): _*)
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
