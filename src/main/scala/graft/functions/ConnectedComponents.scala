package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the consolidation
  * step that turns mined duplicate PAIRS (q_dedup_*) into duplicate
  * GROUPS (one canonical doc per cluster).
  *
  * Two algorithms:
  *
  *  - [[largeSmallStar]] — the alternating large-star/small-star algorithm
  *    of Kiveris et al., "Connected Components in MapReduce and Beyond"
  *    (SoCC'14). Each round is two keyed aggregations + joins, and the
  *    round count is O(log n) in practice (O(log² n) proven worst case)
  *    REGARDLESS of graph diameter. This is the production path: a
  *    chain-shaped dup graph — templated spam where doc i only matches
  *    doc i±1 — has diameter Θ(n), which kills any per-hop propagation
  *    scheme at corpus scale but costs large/small-star only a
  *    logarithmic number of rounds.
  *
  *  - [[minLabelPropagation]] — the classic min-label flood, O(diameter)
  *    rounds. Kept as an independent cross-check (the two implementations
  *    share no code past the edge list) and as the simpler reference for
  *    shallow graphs.
  *
  * Both return one row per vertex that appears in `pairs`:
  * `(v BIGINT, lbl BIGINT)` where `lbl` is the minimum vertex id of the
  * component — deterministic, so the DuckDB oracle can reproduce it with
  * a recursive CTE.
  *
  * Scale notes (100 TB corpus, ~10¹⁰ vertices): every step is a keyed
  * shuffle on vertex id — no driver-side data beyond one convergence
  * scalar per round; intermediate edge sets never exceed the input edge
  * count (the stars only ever re-point existing edges at smaller
  * vertices). The per-round persist keeps the iterated lineage from
  * re-running the upstream pair-mining join.
  */
object ConnectedComponents {

  /** Large-star: for every vertex u, connect each strictly-larger
    * neighbor v to m = min(Γ(u) ∪ u). Output keeps the (child > parent)
    * orientation.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: orient every edge toward its smaller endpoint, then for
    * every vertex u connect each smaller neighbor (and u itself) to
    * m = min of the oriented neighborhood.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = or.groupBy(col("u")).agg(min(col("v")).as("mn"))
    or.join(mins, "u")
      .select(col("v").as("u"), col("mn").as("v"))
      .union(mins.select(col("u"), col("mn").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Alternating large-star/small-star to fixpoint. `pairs` needs two
    * BIGINT columns (any names; the first two are used); self-pairs are
    * dropped. Returns the `(v, lbl)` labels plus the round count.
    *
    * Convergence = the oriented edge set is unchanged by a full round
    * (exact anti-joins both ways, not a hash). At the fixpoint the edges
    * form stars: every non-root points straight at the component minimum.
    */
  /** Eager localCheckpoint with the row count folded into the SAME
    * action via an observed metric (r17-opt, VERDICT r16 item 5): the
    * star loop previously paid TWO jobs per round — the checkpoint
    * materialization and then a count() over the checkpointed blocks.
    * `observe` attaches a pass-through CollectMetrics node, so the
    * checkpoint job itself reports the exact row count and the per-round
    * count job disappears. Rows and checkpointed data are untouched. */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (cp, obs.get("n").asInstanceOf[Long])
  }

  def largeSmallStarWithRounds(
      pairs: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    val c = pairs.columns
    // localCheckpoint (not persist) each round: a star round references
    // its input 4× (two symmetrizations × two stars), so carried lineage
    // grows ~4^rounds — the PLAN explodes long before the data does.
    // Eager checkpoint truncates the plan to a LogicalRDD per round; the
    // ≤ maxRounds cached block sets are bounded by the input edge count
    // and reclaimed by the context cleaner once unreferenced.
    var (e, eCount) = checkpointCounted(pairs
      .select(greatest(col(c(0)), col(c(1))).as("u"),
        least(col(c(0)), col(c(1))).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val (next, nextCount) = checkpointCounted(smallStar(largeStar(e)))
      // set equality via |next| == |e| plus next ⊆ e: both sides are
      // distinct, so equal cardinality + one-sided containment suffices
      // — the counts ride the checkpoint jobs (observed metrics), so
      // the only extra job is the final round's anti-join
      converged = nextCount == eCount &&
        next.join(e, Seq("u", "v"), "left_anti").isEmpty
      e = next
      eCount = nextCount
      rounds += 1
    }
    require(converged,
      s"large/small-star did not converge in $rounds rounds")
    // star edges: (child u -> root v); roots label themselves
    val labels = e.select(col("u").as("v"), col("v").as("lbl"))
      .union(e.select(col("v"), col("v").as("lbl")))
      .distinct()
    (labels, rounds)
  }

  /** [[largeSmallStarWithRounds]] without the round count. */
  def largeSmallStar(pairs: DataFrame, maxRounds: Int = 50): DataFrame =
    largeSmallStarWithRounds(pairs, maxRounds)._1

  /** Min-label flood: every vertex repeatedly takes the min label over
    * its neighborhood; O(diameter) rounds. Independent cross-check for
    * [[largeSmallStar]] — fine for shallow graphs, aborts (by design)
    * past `maxRounds` rather than silently truncating a component.
    */
  def minLabelPropagation(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    val c = pairs.columns
    val p = pairs.select(col(c(0)).as("d1"), col(c(1)).as("d2"))
    graft.engine.Pins.scoped(p.select(col("d1").as("src"), col("d2").as("dst"))
        .union(p.select(col("d2").as("src"), col("d1").as("dst")))) { edges =>
      var labels = edges.select(col("src").as("v"), col("src").as("lbl"))
        .distinct()
      var changed = 1L
      var iters = 0
      while (changed > 0 && iters < maxRounds) {
        val nbrMin = edges.join(labels, col("src") === col("v"))
          .groupBy(col("dst")).agg(min(col("lbl")).as("nl"))
        // eager localCheckpoint, same reason as the star loop: each round's
        // plan references the previous labels twice, so carried lineage
        // doubles per round — truncate it, don't just cache it
        val stepped = labels.join(nbrMin, col("v") === col("dst"), "left")
          .select(col("v"), col("lbl"),
            least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("nxt"))
          .localCheckpoint(true)
        changed = stepped.filter(col("nxt") =!= col("lbl")).count()
        labels = stepped.select(col("v"), col("nxt").as("lbl"))
        iters += 1
      }
      require(changed == 0,
        s"dup-graph did not converge in $iters rounds (diameter > cap)")
      labels
    }
  }
}
