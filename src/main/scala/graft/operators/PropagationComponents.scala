package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation with a pointer
  * jump — q61's loop, and the baseline [[StarComponents]] is measured
  * against (GraphScale).
  *
  * Labels start as node ids; each round every node takes the min of its
  * own label and its neighbors' labels; the fixpoint is every node holding
  * its component's min id. Each round is one equi-join + one groupBy on
  * the EDGE LIST only (nothing corpus-sized is in the loop), and
  * `localCheckpoint` per round truncates lineage so the plan does not grow
  * with the rounds (the iterative-DataFrame trap). The loop fails loudly
  * if it hits the round cap rather than emit a non-fixpoint labeling.
  */
object PropagationComponents {

  /** One cap for every caller: the pointer jump bounds rounds at
    * O(log diameter), and a million-node chain converges in 21 rounds
    * (SCALE.md, GraphScale). */
  val MaxRounds = 60

  /** Component labels of an undirected graph and the rounds taken.
    * `edges` must have exactly two columns of one orderable numeric type
    * (u, v). Returns (node, label) for every node appearing in `edges`,
    * label = min node id of its component. */
  def labels(edges: DataFrame): (DataFrame, Int) = {
    val Seq(cu, cv) = edges.columns.toSeq.map(col)
    val adj = edges.union(edges.select(cv, cu))
      .toDF("node", "nbr")
      .transform(graft.queries.StagingRoots.persist)
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < MaxRounds) {
      val nbrMin = adj
        .join(labels.select(col("node").as("nbr"), col("label").as("nl")), "nbr")
        .groupBy(col("node")).agg(min(col("nl")).as("nbr_label"))
      val stepped = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("lbl"))
      // pointer jump (path compression): label ← label(label). A label is
      // always a node of the same component, so the jump stays in-component
      // and monotone; chain depth halves per round, so chain-shaped
      // components (the 10× fixture's half-splice dups) converge in
      // O(log diameter) rounds instead of O(diameter). Engaged only once
      // plain propagation hasn't converged in 2 rounds: near-clique dup
      // graphs (the common case) finish before paying the jump's join.
      val jumped =
        if (iter < 2) stepped.withColumnRenamed("lbl", "label")
        else stepped
          .join(stepped.select(col("node").as("jn"), col("lbl").as("jl")),
            col("lbl") === col("jn"), "left")
          .select(col("node"), col("old"),
            least(col("lbl"), coalesce(col("jl"), col("lbl"))).as("label"))
      val next = jumped
        .withColumn("changed", col("label") =!= col("old"))
        .localCheckpoint()
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    require(converged, s"label propagation did not converge in $iter rounds")
    adj.unpersist()
    (labels, iter)
  }
}
