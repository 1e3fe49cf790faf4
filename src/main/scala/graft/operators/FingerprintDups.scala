package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Banded-fingerprint near-duplicates, the one rule the image, audio and
  * video tiers share: a 64-bit fingerprint in four 16-bit bands, an
  * equi-join on equal band values, then an exact hamming ≤ 3 verify. The
  * join is pigeonhole-complete (a pair within hamming 3 agrees on at
  * least one band verbatim), so it never needs all-pairs — the LSH banding
  * of "Approximation Algorithms for Large Scale Data Analysis" (PODS 2021).
  * Its DuckDB oracle is [[graft.OracleBandDups]].
  */
object FingerprintDups {

  /** `features(doc_id, b0..b3)` → verified pairs `(id_a, id_b, hamming)`
    * with id_a < id_b. Building the frame runs one Spark job, the census
    * max of [[TextOps.candidatePairs]], so each calling query's `fn` runs
    * it at plan-composition time; a hot bucket recomputes the bands. Pass
    * memoized features.
    */
  def nearDupPairs(features: DataFrame): DataFrame = {
    // single melt pass — see TextOps.meltBands
    val bands = TextOps.meltBands(features, "doc_id", (0 to 3).map(b => col(s"b$b")))
    // skew-guarded candidate generation in SALTED-COMPLETE mode:
    // fixed-width 16-bit bands saturate combinatorially as the corpus
    // grows (bucket-mates are then not near-dup families), so hot
    // buckets keep the COMPLETE pair relation via the block-grid
    // salted self-join — bounded per-task output, exact at every SF
    val cand = TextOps.candidatePairs(bands, "doc_id", hotComplete = true)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    def side(id: String, p: String) =
      features.select(col("doc_id").as(id) +: (0 to 3).map(b => col(s"b$b").as(s"$p$b")): _*)
    cand.join(side("id_a", "a"), "id_a").join(side("id_b", "c"), "id_b")
      .select(col("id_a"), col("id_b"),
        (0 to 3).map(b => bit_count(col(s"a$b").bitwiseXOR(col(s"c$b")))).reduce(_ + _)
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Dedup groups over near-dup pairs: (doc_id, canonical_id) by
    * [[ConnectedComponents.canonicalize]].
    */
  def groups(pairs: DataFrame): DataFrame =
    ConnectedComponents.canonicalize(pairs.select(col("id_a").as("ida"), col("id_b").as("idb")))
}
