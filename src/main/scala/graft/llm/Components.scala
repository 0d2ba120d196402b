package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.cut
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering step
  * that turns pairwise near-dup verdicts (MinHash/SimHash/embedding pairs)
  * into duplicate GROUPS. Pair lists alone under-merge: A~B and B~C with no
  * A~C pair must still collapse to one cluster with one survivor.
  *
  * Algorithm: iterative min-label propagation. Each round every node takes
  * the minimum component label among itself and its neighbors; rounds repeat
  * until a fixpoint (no label changed), with a `maxIter` guard. Per round:
  * one join + one aggregation, both keyed on node id — no global sort, no
  * driver-side graph. State is `cut` per round (an eager localCheckpoint) so
  * lineage stays flat across iterations.
  *
  * Scale shape: rounds needed = O(log diameter), not diameter: each round
  * is neighbor-min propagation PLUS a pointer-jumping shortcut
  * (`comp := comp(comp)` — the label-doubling step of Kiveris et al.,
  * "Connected Components in MapReduce and Beyond"), so a length-d chain
  * converges in ~log₂(d) rounds instead of d (r11; LlmSpec proves a
  * 100-node path inside the 20-round guard, which plain propagation
  * cannot reach). Near-dup graphs are clique-ish anyway (LSH emits most
  * in-bucket pairs — 2-4 rounds); the shortcut is what keeps adversarial
  * chains from blowing the round guard at 100 TB. The shortcut join keys
  * on the label, which is hot for a giant component — AQE skew-join
  * splits it; the alternative (dropping the shortcut) trades that for
  * diameter-many full rounds, a worse deal.
  */
object Components {

  /** Component label per node: (id, comp) with comp = min node id of the
    * component. `edges` needs columns (id_a, id_b); isolated nodes can be
    * supplied via `nodes` (one id column) and come out as singletons. */
  def connectedComponents(
      edges: DataFrame,
      nodes: Option[DataFrame] = None,
      maxIter: Int = 20): DataFrame = {
    // `edges` is usually the tail of an expensive upstream plan (minhash →
    // jaccard-verify in the cluster-keeper pipeline), and it feeds BOTH the
    // node-universe init and every round's propagation join — without a
    // checkpoint each consumer re-executed the whole verify DAG, which is
    // exactly the llm_cluster_keeper 2.6 s → 5.9 s drift VERDICT r12
    // flagged (stage-attributed r13: components was 3.4-5.9 s of the ~6 s
    // gate, most of it per-round/per-consumer edge recompute). One eager
    // checkpoint, O(edges) executor storage — the same class as the
    // per-round label checkpoint; sym/edgeNodes below are then map-only
    // reads of the cached partitions.
    val edgesM = cut(edges.select(col("id_a"), col("id_b")))
    val edgeNodes = edgesM.select(col("id_a").as("id"))
      .unionByName(edgesM.select(col("id_b").as("id")))
    val allNodes = nodes.map(n => edgeNodes.unionByName(n.toDF("id")))
      .getOrElse(edgeNodes).distinct()
    // symmetric neighbor list; self-loops drop out (they never lower a label)
    val sym = edgesM.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edgesM.select(col("id_b").as("src"), col("id_a").as("dst")))
      .filter(col("src") =!= col("dst"))

    var labels = cut(allNodes.withColumn("comp", col("id")))
    // labels only ever DECREASE, so Σcomp strictly decreases until the
    // fixpoint — convergence is one aggregate per round, no self-join
    // (decimal sum: Σ of 64-bit ids can overflow a long at scale)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).first().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // one round = ONE join + ONE aggregation: own label and every
      // neighbor-carried label union together, min per node ...
      val propagated = labels.unionByName(
          sym.join(labels.select(col("id").as("src"), col("comp")), Seq("src"))
            .select(col("dst").as("id"), col("comp")))
        .groupBy("id").agg(min(col("comp")).as("comp"))
      // ... then the pointer-jumping shortcut: follow the label one more
      // hop (comp := comp's own comp). Labels are node ids and every node
      // is in `propagated`, so the lookup always hits (coalesce is
      // defensive); labels stay monotone non-increasing, same fixpoint,
      // remaining chain depth halves per round
      val next = cut(
        propagated.join(
            propagated.select(col("id").as("comp"), col("comp").as("__pc")),
            Seq("comp"), "left")
          .select(col("id"), coalesce(col("__pc"), col("comp")).as("comp")))
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds " +
      "(log2(diameter) exceeds the guard even with pointer jumping — " +
      "raise maxIter; a graph needing that many rounds has diameter > 2^maxIter)")
    labels
  }

  /** Duplicate clusters from verified near-dup pairs: every doc id labeled
    * with its cluster id (min doc id of the cluster); docs in no pair are
    * their own cluster. The dedup survivor set is `comp = id`. */
  def dupClusters(pairs: DataFrame, allDocs: DataFrame): DataFrame =
    connectedComponents(
      pairs.select("id_a", "id_b"),
      Some(allDocs))
}
