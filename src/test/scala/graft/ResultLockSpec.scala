package graft

import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** Behaviour lock for query results inside Tier-1: each locked query runs
  * at sf0.001 and must reproduce its committed row count and order-free
  * fingerprint, the wrapping sum of `xxhash64` over its columns sorted by
  * name. The fingerprint needs no sort and does not depend on
  * partitioning, so a refactor that changes any row fails here without
  * the DuckDB gate.
  *
  * The locked values were generated from a tree that passes the DuckDB
  * oracle gate. Regenerate an entry only together with an oracle run and
  * a CHANGES.md note. The locked queries' columns are all integral; a
  * floating-point column would need −0.0 and NaN normalized first.
  */
class ResultLockSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  /** query name → (row count, fingerprint) */
  private val locked: Map[String, (Long, Long)] = Map(
    "q_image_near_dup" -> (750L, -6609629659764952449L),
    "q_audio_near_dup" -> (750L, 5240023365821622188L),
    "q_video_near_dup" -> (750L, 7401114054174778099L),
    "q_image_dedup_groups" -> (500L, 4620371821016427910L),
    "q_audio_dedup_groups" -> (500L, 4620371821016427910L),
    "q_video_dedup_groups" -> (500L, 4620371821016427910L),
    "q_multimodal_curation" -> (500L, -7202565392784893820L))

  private def fingerprint(name: String): (Long, Long) = {
    val q = Queries.all.find(_.name == name).getOrElse(fail(s"no query $name"))
    val df = q.fn(SparkTestSession.get, sf)
    val hashes = df.select(xxhash64(df.columns.sorted.map(col): _*))
      .collect().map(_.getLong(0))
    (hashes.length.toLong, hashes.sum)
  }

  for ((name, expected) <- locked.toSeq.sortBy(_._1))
    test(s"$name reproduces its locked row count and fingerprint") {
      val got = fingerprint(name)
      assert(got._1 > 0, s"$name returned no rows")
      assert(got == expected, s"$name: (rows, fingerprint) $got, locked $expected")
    }
}
