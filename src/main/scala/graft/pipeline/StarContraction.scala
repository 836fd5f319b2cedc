package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star/small-star contraction —
  * the O(log n)-round algorithm of Kiveris et al., "Connected Components in
  * MapReduce and Beyond" (SoCC 2014), re-expressed as DataFrame rounds.
  *
  * It is the label loop's ESCALATION, not a default path of
  * p16/p20/p22/p42: [[PipelineOps.labelPropagate]] labels a dup graph
  * whose per-partition spanning forest is within
  * [[PipelineOps.driverEdgeBound]] with an exact union-find on the driver
  * (no rounds at all); above the bound [[PipelineOps.labelLoop]] runs
  * min-label flooding over that forest, whose
  * per-round cost is one join + one groupBy and which real near-dup graphs
  * (tiny diameters) finish in a few rounds. Flooding's weakness is
  * adversarial topology — a diameter-d component needs d rounds. Star
  * contraction replaces the round count with O(log n): each round rewires
  * every node toward its neighborhood minimum (large-star connects larger
  * neighbors to the min, small-star collapses the rest), and the edge set
  * provably contracts to disjoint stars centered at component minima. This
  * is the escape hatch when [[PipelineOps.LabelMaxRounds]]'s under-merge
  * warning fires on real data, and the loop escalates to it automatically.
  * StarContractionSpec property-tests label-for-label equivalence against
  * both labelPropagate paths, the bare loop and union-find ground truth on
  * random graphs,
  * and asserts the logarithmic round count on a chain whose diameter would
  * exhaust min-label flooding.
  *
  * All per-round shuffles key on the node id; every round's output passes
  * through [[Barrier.materialize]] (same pluggable strategy/lineage story
  * as the p16 loop — localCheckpoint locally, reliable checkpoint or
  * DISK_ONLY persist on a cluster).
  */
object StarContraction {

  /** Alternate large-star / small-star until the edge set is stable.
    * `edges` are undirected (either orientation, self-loops ignored).
    * Returns (star edges at fixpoint: every non-center node → its
    * component's minimum node id, rounds used). */
  private[graft] def contract(edges: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    // large-star(u): m = min(Γ(u) ∪ {u}); rewire every LARGER neighbor to m
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      val m = sym.groupBy("a").agg(least(col("a"), min(col("b"))).as("m"))
      sym.join(m, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b")).distinct()
    }
    // small-star(u): orient edges large→small; m = min neighbor; rewire the
    // remaining small neighbors AND u itself to m
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .where(col("a") =!= col("b"))
      val m = dir.groupBy("a").agg(min(col("b")).as("m"))
      val rewired = dir.join(m, "a").where(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
      val self = m.select(col("a"), col("m").as("b"))
      rewired.union(self).where(col("a") =!= col("b")).distinct()
    }

    var cur = Barrier.materialize(
      edges.where(col("a") =!= col("b")).select("a", "b").distinct())
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val prev = cur
      cur = Barrier.materialize(smallStar(largeStar(cur)))
      // EXACT fixpoint test (ADVICE r5): set equality of the materialized
      // edge sets, not an aggregate fingerprint — two distinct edge sets
      // can collide on (count, Σa, Σb) and silently terminate contraction
      // early. Both sides are already distinct and materialized, so the
      // count probe is free-ish and except() is one bounded shuffle; since
      // the round function is a deterministic map of the edge set, set
      // equality ⟺ true fixpoint.
      converged = cur.count() == prev.count() && cur.except(prev).isEmpty
      Barrier.release(prev)
    }
    if (!converged)
      System.err.println(s"[graft] starContract: edge set still changing after " +
        s"$maxRounds rounds")
    (cur, round)
  }

  /** Drop-in alternative to [[PipelineOps.labelLoop]]: (doc_id, lbl)
    * where lbl is the minimum INITIAL label over the node's component
    * (identical contract — with init lbl = doc_id both compute the
    * component-minimum id). */
  private[graft] def labels(init: DataFrame, edges: DataFrame,
                            maxRounds: Int = 50): DataFrame = {
    val (stars, _) = contract(edges, maxRounds)
    // star center = component min: every non-center node points at it, and
    // the center itself appears only on the right side. groupBy-min keeps
    // one row per node even if the round cap was hit before a true
    // fixpoint (then the result is under-merged, like a capped
    // labelLoop — never duplicated).
    val rep = stars.groupBy(col("a")).agg(min(col("b")).as("rep"))
      .withColumnRenamed("a", "doc_id")
    val withRep = init.join(rep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lbl"),
        coalesce(col("rep"), col("doc_id")).as("rep"))
    val compLbl = withRep.groupBy("rep").agg(min(col("lbl")).as("_clbl"))
    withRep.join(compLbl, "rep").select(col("doc_id"), col("_clbl").as("lbl"))
  }
}
