package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generator for the BFR workloads, in the reference's
  * dataset layout: a directory of headerless `id,f0,...,f{d-1}` CSV chunk
  * files whose lexicographic order is the round order, plus the ground
  * truth as one JSON object `{"<id>": label}` with -1 for outliers.
  *
  * Points are Gaussian blobs: K centers uniform in [-Span, Span]^d, each
  * cluster with its own per-dimension standard deviation in [1, 4]; an
  * `outlierFrac` share of points is uniform over the same box. Ids are
  * row positions and labels are drawn per id, so any id prefix (BFR's
  * init sample) is a uniform sample of the stream.
  *
  * The first fifth of chunk 1 — BFR's init sample — holds no outliers.
  * With outliers there, whether the init absorbs them into one wide
  * discard cluster (no RS or CS afterwards) or leaves them to RS depends
  * on the seed, and switching between those regimes moves a pass's wall
  * time by a fifth; a clean sample keeps every seed in the second regime,
  * where the outliers drive RS → CS re-clustering in every round.
  */
object PointGen {

  final case class Spec(k: Int, d: Int, chunkSizes: Seq[Int], outlierFrac: Double)

  private val Span = 100.0

  /** Writes `dir/chunks/chunk_NN.csv` and `dir/truth.json`; the caller
    * owns `dir` (fresh, absent or empty). Same (spec, seed), same bytes.
    */
  def write(spec: Spec, seed: Long, dir: File): Unit = {
    val rng = new SplittableRandom(seed)
    val centers = Array.fill(spec.k, spec.d)((rng.nextDouble() * 2 - 1) * Span)
    val sigmas = Array.fill(spec.k, spec.d)(1.0 + 3.0 * rng.nextDouble())
    val cleanIds = spec.chunkSizes.head / 5
    val chunkDir = new File(dir, "chunks")
    require(chunkDir.mkdirs() || chunkDir.isDirectory, s"cannot create $chunkDir")
    val truth = writer(new File(dir, "truth.json"))
    truth.write('{')
    val line = new java.lang.StringBuilder(16 * (spec.d + 1))
    var id = 0L
    for ((size, c) <- spec.chunkSizes.zipWithIndex) {
      val out = writer(new File(chunkDir, f"chunk_$c%02d.csv"))
      var i = 0
      while (i < size) {
        val label =
          if (id >= cleanIds && rng.nextDouble() < spec.outlierFrac) -1
          else rng.nextInt(spec.k)
        line.setLength(0)
        line.append(id)
        var j = 0
        while (j < spec.d) {
          val x =
            if (label < 0) (rng.nextDouble() * 2 - 1) * Span
            else centers(label)(j) + sigmas(label)(j) * gaussian(rng)
          line.append(',')
          appendFixed4(line, x)
          j += 1
        }
        line.append('\n')
        out.append(line)
        if (id > 0) truth.write(", ")
        truth.write("\"" + id + "\": " + label)
        id += 1
        i += 1
      }
      out.close()
    }
    truth.write('}')
    truth.close()
  }

  private def writer(f: File) = new BufferedWriter(
    new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)

  /** Box–Muller; SplittableRandom has no nextGaussian on JDK 17. */
  private def gaussian(rng: SplittableRandom): Double = {
    val u = 1.0 - rng.nextDouble() // (0, 1]
    val v = rng.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** Four decimals without String.format: it dominates generation time. */
  private def appendFixed4(sb: java.lang.StringBuilder, x: Double): Unit = {
    val scaled = math.round(x * 10000.0)
    if (scaled < 0) sb.append('-')
    val a = math.abs(scaled)
    sb.append(a / 10000).append('.')
    val frac = (a % 10000).toInt
    if (frac < 1000) sb.append('0')
    if (frac < 100) sb.append('0')
    if (frac < 10) sb.append('0')
    sb.append(frac)
  }
}
