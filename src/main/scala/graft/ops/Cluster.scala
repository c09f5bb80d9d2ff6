package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair lists — the step
  * between pair mining ([[Dedup.minhashPairs]] / [[Dedup.jaccardPairs]]
  * / [[Similarity.cosinePairs]]) and cluster-aware dedup: transitive
  * closure groups every chain A~B~C into one cluster even when A and C
  * themselves fall under the pair threshold.
  *
  * Algorithm: iterative min-label propagation with a pointer-jumping
  * shortcut each round (label(u) ← min over neighbours of label, then
  * label(u) ← label(label(u))), lineage truncated per round with
  * [[Scope.checkpoint]]. Pointer jumping halves the distance to each
  * component's minimum every round, so convergence is O(log diameter)
  * rounds — and near-dup graphs from banded mining are unions of
  * bucket cliques and star fans whose diameter is tiny, so in practice
  * 2-4 rounds. Each round is two key shuffles of (long, long) pairs;
  * nothing ever materializes a component's member list on one node.
  */
object Cluster {

  /** Component assignment for every vertex that appears in `pairs`
    * (columns `idA`, `idB`, any extra columns ignored): returns
    * `(id, component)` where `component` is the smallest id reachable
    * through the undirected pair graph. Vertices with no pair are not
    * emitted — join the result back to the corpus with a left join and
    * `coalesce(component, id)` for a total assignment. */
  def components(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // checkpointed, not cached: the returned labels are built on the
    // round checkpoints, so every intermediate here lives in the
    // caller's scope (an own scope would release the result with it)
    val edges = Scope.checkpoint(
      pairs.select(col("idA").as("a"), col("idB").as("b"))
        .unionByName(pairs.select(col("idB").as("a"), col("idA").as("b")))
        .distinct())
    var labels = Scope.checkpoint(edges.select(col("a").as("id")).distinct()
      .withColumn("comp", col("id")))
    var it = 0
    var done = false
    while (!done && it < maxIter) {
      // min over neighbours' labels (plus own): one shuffle on id
      val viaNbr = edges
        .join(labels.withColumnRenamed("id", "b"), Seq("b"))
        .select(col("a").as("id"), col("comp"))
      val propagated = labels.unionByName(viaNbr)
        .groupBy("id").agg(min(col("comp")).as("comp"))
      // pointer jumping: comp is itself a vertex with a label — hop
      // to ITS label, halving chain lengths (comp only decreases, so
      // the left join always hits and coalesce is pure defensiveness)
      val next = Scope.checkpoint(propagated
        .join(propagated.select(col("id").as("comp"), col("comp").as("__cc")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("__cc"), col("comp")).as("comp")))
      done = next.join(labels.withColumnRenamed("comp", "__prev"), Seq("id"))
        .filter(col("comp") =!= col("__prev"))
        .isEmpty
      labels = next
      it += 1
    }
    require(done, s"components did not converge in $maxIter rounds")
    labels.select(col("id"), col("comp").as("component"))
  }

  /** Cluster-aware dedup: keep one representative (the smallest id)
    * per connected component of the pair graph, and every row that
    * appears in no pair. Transitively closed — unlike the greedy
    * drop-the-larger-id policy, a chain A~B~C keeps only A even though
    * (A,C) was never mined as a pair. */
  def dedupByComponents(df: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val doomed = components(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }
}
