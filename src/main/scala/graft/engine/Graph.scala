package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed connected components — the graph kernel behind
  * `dedup_cluster` (map every vertex of the near-dup pair graph to its
  * component's minimum id), exposed as a library function so callers can
  * cluster ANY verified-pair edge list and the round-bound claims are
  * directly testable.
  *
  * Algorithm: min-label propagation with pointer jumping. Each round every
  * vertex adopts the minimum label among itself and its neighbours, then
  * (from round 2 on) additionally adopts the label OF its current label —
  * halving the remaining diameter per round, so convergence is O(log d)
  * rounds for diameter d and the default 25-round cap covers d ~ 2^25.
  * All shuffles hash on the vertex key; the driver holds one convergence
  * flag, never data — the shape that rides to 100 TB edge lists.
  *
  * Convergence detection: labels only ever decrease, so the exact decimal
  * SUM of labels is strictly decreasing until fixpoint and equal-sum ⟺ no
  * label changed — one cheap aggregate per round instead of a join against
  * the previous round's labels.
  *
  * Two alternatives lost their A/B (warm, real near-dup pair graphs) and
  * were removed: a fixed ⌈log₂ n⌉+2-round mode without the per-round sum
  * (5.2 s vs 2.5 s at sf0.1, 19.9 s vs 4.5 s on the 10× probe), and
  * large-star/small-star (2.3 s vs 3.2 s at sf0.1 but 5.6 s vs 3.4 s on the
  * 10× probe, where its ~6 shuffles per round carry real data).
  */
object Graph {

  /** Connected components of an undirected edge list.
    *
    * @param pairs edges as columns (`id_a`, `id_b`); every edge should
    *              appear once with `id_a < id_b` (duplicates are tolerated
    *              — they only widen the neighbour join, never change the
    *              min-aggregate result)
    * @return one row per vertex: (`v`, `lbl`) with `lbl` = the component's
    *         minimum vertex id; backed by a localCheckpoint, so the loop's
    *         caches are already released when this returns
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    val edges = pairs.select(col("id_a"), col("id_b")).cache()
    // no distinct: with unique a<b input the union with the reversed copy
    // cannot collide — skipping it saves a full edge-list shuffle
    val sym = edges.select(col("id_a").as("v"), col("id_b").as("n"))
      .union(edges.select(col("id_b").as("v"), col("id_a").as("n")))
      .cache()
    var labels = sym.select(col("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
    // an empty edge list must yield an empty result, not a crash: the first
    // round's label sum over zero rows is NULL, which would trip the
    // overflow guard below (a corpus with no near-dup pairs is a perfectly
    // normal input, not an error). Checked on the cached EDGES (no edges ⟺
    // no vertices) so the probe job doesn't run the vertex-distinct
    // aggregate that round 0 recomputes anyway.
    if (edges.isEmpty) {
      edges.unpersist(); sym.unpersist()
      return labels
    }
    var converged = false
    var rounds = 0
    var prevSum: Option[java.math.BigDecimal] = None
    try while (!converged && rounds < maxRounds) {
      // candidate label per vertex: min over neighbours' current labels
      val nbrMin = sym.join(labels.withColumnRenamed("v", "n"), "n")
        .groupBy("v").agg(min(col("lbl")).as("cand"))
      // cached: the pointer-jump below self-joins prop on two DIFFERENT
      // keys (v and lbl), so without the cache the neighbour-min aggregate
      // subtree would execute twice per round (no exchange reuse applies)
      val prop = labels.join(nbrMin, Seq("v"), "left")
        .select(col("v"), least(col("lbl"), coalesce(col("cand"), col("lbl"))).as("lbl"))
        .cache()
      // pointer-jump from round 2 on: near-dup clusters are almost always
      // shallow, so the first rounds skip the extra self-join and usually
      // converge without it; deep graphs get the O(log d) halving
      val next = if (rounds < 2) prop
        else prop
          .join(prop.select(col("v").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
          .select(col("v"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl"))
      // localCheckpoint, not cache: the jump round references `prop` TWICE,
      // so a cache-only loop doubles the LOGICAL plan tree every round —
      // caching stores data but never truncates the plan, and on a deep
      // graph (~log2(d) jump rounds) the analyzer blows the heap before any
      // data does. The eager checkpoint materializes the round AND resets
      // the plan to a leaf, keeping per-round planning O(1); superseded
      // checkpoint blocks are released by the ContextCleaner on GC.
      val checkpointed = next.localCheckpoint(true)
      val lblSum = checkpointed.agg(sum(col("lbl").cast(DecimalType(38, 0))))
        .collect()(0).getDecimal(0)
      // a decimal overflow under non-ANSI mode would NULL the sum; two
      // NULL rounds would then satisfy prevSum.contains(lblSum) and
      // declare a FALSE convergence — fail loudly instead (unreachable at
      // any realistic label magnitude, but the guard is free)
      require(lblSum != null, "connectedComponents: label-sum overflowed DECIMAL(38,0)")
      converged = prevSum.contains(lblSum)
      prevSum = Some(lblSum)
      prop.unpersist()
      labels = checkpointed
      rounds += 1
    } finally {
      // also on the failure paths (non-convergence, overflow guard): a
      // long-lived session must not accumulate leaked cache blocks from
      // failed invocations
      edges.unpersist()
      sym.unpersist()
    }
    // an unconverged result would silently split components — fail loudly
    require(converged,
      s"connectedComponents: not converged after $maxRounds rounds")
    labels
  }
}
