package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.kmeans.KMeans

/** Connected components — the dedup clustering stage: near-dup candidate
  * PAIRS (from MinHash-LSH / SimHash / embedding buckets) become dedup
  * GROUPS, each keyed by its minimum member id (the canonical document).
  *
  * Algorithm: HASH-to-MIN (Rastogi et al., "Finding Connected Components
  * in Map-Reduce in Logarithmic Rounds", ICDE 2013). Each node keeps a
  * cluster C(v), initially {v} ∪ N(v); every round each cluster sends its
  * min to all members and all members to its min. Converges in O(log d)
  * rounds — plain min-label propagation is O(d), and real near-dup graphs
  * DO produce long sparse chains (a cos-threshold component measured
  * diameter ≈ 64 at sf0.1, i.e. 65 propagation rounds vs 10 here).
  *
  * Distributed shape: each round is one min-aggregate + one equi-join +
  * one distinct on the cluster-membership list, lineage cut by an eager
  * localCheckpoint. Intermediate state is bounded by Σ|component| + edge
  * list (the hub row fan-in at the component's min node is exactly the
  * output size). Termination is certified, not assumed: the loop exits
  * only when every edge's endpoints carry the same label — labels are
  * reachable mins, so label-equality across all edges proves every label
  * IS its component minimum (the min node labels itself, and the label is
  * constant on the component).
  *
  * Bounded graphs skip the loop: when the edge list fits the driver
  * budget the engine uses for local k-means (`KMeans.LocalFitCells`
  * cells, two per edge), a union-find over one collect of the edges
  * gives the same labels without the loop's per-round jobs. Every graph
  * the registry builds is of this kind; a corpus-scale graph runs the
  * loop.
  *
  * Partition-sizing contract for dense-graph callers (same as
  * `TextOps.jaccardOverPairs`): the per-round join fans out
  * deg(v)·|cluster(v)| rows per vertex, so on clique-heavy graphs AQE's
  * input-byte coalescing re-merges partitions whose joined OUTPUT is a
  * multi-minute straggler task (measured 70-83 s at the 100× probe with
  * coalescing on vs 8-16 s off). The loop runs under the caller's conf:
  * size partitions moderately on expected output rows and park
  * `spark.sql.adaptive.coalescePartitions.enabled` around the call —
  * `app.TextScaleBench.run` carries the measured sweep.
  */
object ConnectedComponents {

  /** @param edges (src, dst) undirected pairs of non-null ids
    * @return (id, component) — component = min id reachable
    */
  def run(edges: DataFrame, maxIter: Int = 100): DataFrame =
    label(edges, maxIter, forceLoop = false)

  /** [[run]] with a seam for tests: `forceLoop` runs the HASH-to-MIN loop
    * even where the edge list fits the driver budget.
    */
  private[graft] def label(edges: DataFrame, maxIter: Int, forceLoop: Boolean): DataFrame = {
    // materialize the (possibly expensive) pair pipeline ONCE: both the
    // driver path and the loop's symmetrized union read it more than once.
    // The checkpoint is LAZY: the count's job materializes it, and as an
    // RDD count it is one job, where a Dataset count plans an exchange.
    val e = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(false)
    val nEdges = e.rdd.count()
    // a clean corpus produces zero candidate pairs, which the driver path
    // labels as an empty frame (the loop's global sum() is NULL on it)
    if (nEdges == 0 || (!forceLoop && 2 * nEdges <= KMeans.LocalFitCells)) labelLocal(e)
    else hashToMin(e, maxIter)
  }

  /** Union-find over one collect of the edges. Ids are sorted, so an
    * index is smaller exactly when its id is, and linking every root to
    * the smaller index makes each root its component's minimum id.
    */
  private def labelLocal(e: DataFrame): DataFrame = {
    val edges = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = edges.flatMap(p => Array(p._1, p._2)).distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def root(id: Long): Int = find(java.util.Arrays.binarySearch(ids, id))
    for ((a, b) <- edges) {
      val (ra, rb) = (root(a), root(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    val labels = ids.indices.map(i => Row(ids(i), ids(find(i))))
    e.sparkSession.createDataFrame(java.util.Arrays.asList(labels: _*),
      StructType(Seq(StructField("id", LongType), StructField("component", LongType))))
  }

  private def hashToMin(e: DataFrame, maxIter: Int): DataFrame = {
    // symmetrize map-side from the checkpointed edge list; self-loops are
    // harmless. No second checkpoint: re-deriving the union per consumer
    // is two scans of a checkpointed RDD (no shuffle), cheaper than the
    // extra eager-checkpoint job it replaced.
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))

    def labelsOf(state: DataFrame): DataFrame =
      state.groupBy(col("v")).agg(min(col("u")).as("component"))

    // heuristic quiescence trigger, NOT the exit condition: hash-to-min
    // does not keep v ∈ C(v), so a node's min can transiently rise and the
    // sum can fluctuate — an unchanged sum merely schedules the edge-scale
    // certify() below, which is the only thing that ends the loop
    def labelSum(state: DataFrame): Long =
      labelsOf(state).agg(sum(col("component"))).head().getLong(0)

    // exit is only legal when both endpoints of every edge agree — this
    // CERTIFIES the labelling (see scaladoc): silent wrong answers are
    // worse than failures, a component split across labels would make
    // dedup keep multiple "canonicals". A quiescent round that fails
    // certification (possible mid-convergence: state still moving while
    // labels pause) just keeps iterating.
    def certify(lbl: DataFrame): Boolean = sym
      .join(lbl.select(col("v").as("src"), col("component").as("la")), Seq("src"))
      .join(lbl.select(col("v").as("dst"), col("component").as("lb")), Seq("dst"))
      .filter(col("la") =!= col("lb"))
      .isEmpty

    // cluster membership (v, u): u ∈ C(v); init C(v) = {v} ∪ N(v).
    // Loop checkpoints are LAZY: the round's certify / labelSum action
    // materializes the round's state and cuts lineage in the same job —
    // the eager form paid one extra job per round just to checkpoint.
    var c = sym.select(col("src").as("v"), col("dst").as("u"))
      .union(sym.select(col("src").as("v"), col("src").as("u")))
      .distinct()
      .localCheckpoint(false)

    var prevSum = Option.empty[Long]
    var iter = 0
    var certified = false
    while (!certified && iter < maxIter) {
      val withMin = c.join(labelsOf(c).withColumnRenamed("component", "m"), Seq("v"))
      c = withMin.select(col("u").as("v"), col("m").as("u"))
        .union(withMin.select(col("m").as("v"), col("u")))
        .distinct()
        .localCheckpoint(false)
      val s = labelSum(c)
      if (prevSum.contains(s)) certified = certify(labelsOf(c))
      prevSum = Some(s)
      iter += 1
    }
    require(certified,
      s"connected components did not converge in $maxIter iterations")
    // materialize the certified labels, so the consumer reads a
    // checkpointed result instead of re-running the final aggregation
    labelsOf(c).select(col("v").as("id"), col("component"))
      .localCheckpoint(true)
  }

  /** Dedup grouping: pairs → (id, canonical_id); singletons (docs in no
    * pair) are absent, i.e. their canonical is themselves.
    */
  def canonicalize(pairs: DataFrame): DataFrame =
    run(pairs).select(col("id").as("doc_id"), col("component").as("canonical_id"))
}
