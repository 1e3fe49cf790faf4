package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The shared-artifact memo, and the warmer names that perfbench's
  * `warm` record is keyed by.
  */
class ArtifactSpec extends AnyFunSuite {

  test("a handle builds once per (session, dir) and separately per dir") {
    val s = SparkTestSession.get
    val builds = new AtomicInteger
    val h = Artifact("probe") { (_, dir) => builds.incrementAndGet(); s"built $dir" }
    assert(h(s, "a") == "built a")
    assert(h(s, "a") == "built a")
    assert(builds.get == 1)
    assert(h(s, "b") == "built b")
    assert(builds.get == 2)
    val (name, warm) = h.warmer
    assert(name == "probe")
    warm(s, "a")
    assert(builds.get == 2)
  }

  test("each family's warmers keep their names and order") {
    val names = Seq(TextQueries.sharedArtifactWarmers, MlQueries.sharedArtifactWarmers,
      AudioQueries.sharedArtifactWarmers, ImageQueries.sharedArtifactWarmers,
      VideoQueries.sharedArtifactWarmers).map(_.map(_._1))
    assert(names == Seq(
      Seq("text_shingle_pipeline", "text_canonical_groups"),
      Seq("ml_bfr_run", "ml_kmeans_fit", "ml_ivf_model", "ml_pq_codebooks",
        "ml_embedding_banded"),
      Seq("audio_features"),
      Seq("image_dhash", "gif_dhash", "jpeg_dhash"),
      Seq("video_fingerprints")))
  }
}
