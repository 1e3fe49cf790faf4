package graft

/** Shared DuckDB-oracle emitter for the banded-fingerprint near-dup rule
  * of the image, audio and video tiers (the engine side is
  * [[graft.operators.FingerprintDups]]): melt four 16-bit bands,
  * self-join equal (band, value) buckets, keep pairs within hamming ≤ 3.
  * Hand-written SQL, independent of the Spark operator it checks. Every
  * caller passes CTEs that end in `bands(doc_id, b0..b3)`.
  *
  * The hamming verify runs BEFORE any pair-level DISTINCT: the DISTINCT
  * hash table then holds only hamming ≤ 3 survivors (~1e7 at 500k docs),
  * never the ~1e9-row raw candidate stream, which stays pipelined (sf10
  * OOM lesson).
  */
private[graft] object OracleBandDups {

  private def chain(bands: String): String =
    s"""WITH $bands,
       |melted AS (
       |  SELECT doc_id, 0 AS band, b0 AS bv FROM bands
       |  UNION ALL SELECT doc_id, 1, b1 FROM bands
       |  UNION ALL SELECT doc_id, 2, b2 FROM bands
       |  UNION ALL SELECT doc_id, 3, b3 FROM bands),
       |cand AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM melted x JOIN melted y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)""".stripMargin

  private val hamming =
    """bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      |  + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))""".stripMargin

  private def verified(cols: String): String =
    s"""SELECT DISTINCT $cols
       |FROM cand JOIN bands a ON cand.id_a = a.doc_id
       |          JOIN bands b ON cand.id_b = b.doc_id
       |WHERE $hamming <= 3""".stripMargin

  /** The near-dup pairs `(id_a, id_b, hamming)`. */
  def nearDup(bands: String): String =
    s"""${chain(bands)}
       |${verified(s"id_a, id_b, CAST($hamming AS BIGINT) AS hamming")}""".stripMargin

  /** The later member `id_b` of every near-dup pair, as a derived table
    * `t` with its own WITH, so that two chains nest in one query without
    * their CTE names colliding.
    */
  def laterMembers(bands: String): String =
    s"""SELECT id_b FROM (
       |${chain(bands)}
       |${verified("cand.id_b")}) t""".stripMargin

  /** Dedup groups `(doc_id, canonical_id)`: the [[OracleCc]] contraction
    * over the verified pairs. `vp` is MATERIALIZED because the CC chain
    * reads the pair set twice (the symmetrizing UNION); a plain CTE would
    * re-run the ~1e9-row candidate pipeline once per reference,
    * concurrently.
    */
  def groups(bands: String): String =
    s"""${chain(bands)},
       |vp AS MATERIALIZED (
       |${verified("id_a, id_b")}),
       |pairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM vp),
       |$canon""".stripMargin

  /** [[groups]] over the pairs of a verified near-dup dump (the scaled
    * gate's `dump_q_*` views) instead of re-deriving the band self-join —
    * the base oracle's candidate pipeline passed at sf10 only solo at the
    * 44.7 GiB cap (r13).
    */
  def groupsOfDump(dump: String): String =
    s"""WITH pairs AS (
       |  SELECT id_a AS doc_a, id_b AS doc_b FROM $dump),
       |$canon""".stripMargin

  private val canon: String =
    s"""${OracleCc.canonFromPairs(OracleCc.TextRounds)}
       |SELECT doc_id, canonical_id FROM canon""".stripMargin
}
