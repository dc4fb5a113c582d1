package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators over edge DataFrames — the third member of the graph
  * family beside the fixed-round k-core (Relational.kCore) and the two
  * connected-components forms (Dedup.connectedComponents /
  * connectedComponentsAlternating). Used on co-occurrence/click graphs for
  * item authority scoring.
  */
object Graph {

  /** Fixed-iteration PageRank: pr₀ = 1/N;
    * prₖ₊₁(v) = (1−d)/N + d·Σ_{u→v} prₖ(u)/outdeg(u).
    *
    * The simple (non-dangling-redistributing) formulation: nodes with no
    * out-edges leak their damped mass, which is the standard behavior of
    * the join-aggregate form and what an external SQL oracle reproduces
    * term-for-term. Iterations are UNROLLED (no convergence test): rank
    * queries run a fixed small k, keeping lineage depth bounded without
    * checkpoints and making the job exactly k (join + aggregate) rounds —
    * each round shuffles on node id only, so cost is O(k·|E|) at any
    * scale. Float ops are ordered so an engine evaluating the same
    * expression tree reproduces the result to summation-order ulps
    * (round the final score, not intermediates). Returns (id, pr). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && iters <= 10,
      "unrolled pageRank wants 1..10 iterations; for more, checkpoint per round")
    // Materialize the edge set ONCE: every iteration (plus the node/degree
    // derivations) references it, and exchange reuse does not deduplicate
    // the upstream derivation across the unrolled plan (a co-occurrence
    // self-join showed 51 parquet scans in the 3-iteration plan without
    // this). localCheckpoint = same lineage-truncation device as
    // connectedComponents; the checkpoint stays referenced by the returned
    // plan and is GC-freed with it.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val nn = nodes.agg(count(lit(1)).as("__n"))
    // The per-round update needs the node SET twice (mass source via
    // contrib, node universe via the left join) but the universe is
    // ITERATION-INVARIANT — referencing the evolving `pr` frame for it
    // doubled the lazy plan per round: 2^k copies of the node-derivation
    // subtree at k iterations (ReuseExchange dedupes their exchanges, so
    // at k=3 the interleaved sf0.1 A/B is parity within box spread — old
    // legs 5.8–8.9 s, hoisted 5.5–7.6, r19). One node-count-sized eager
    // checkpoint makes each round reference pr exactly once, so the plan
    // grows LINEARLY across the whole 1..10 domain the require() admits
    // (2^10 subtree copies would otherwise dominate planning). Float math
    // is untouched (same join rows, same expression tree), so the
    // unrolled/checkpointed differential pin and the SQL oracle hash are
    // unchanged.
    val nodesN = nodes.crossJoin(broadcast(nn)).localCheckpoint(true)
    var pr = nodesN
      .select(col("id"), (lit(1.0) / col("__n")).as("pr"), col("__n"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(pr.select(col("id").as("src"), col("pr")), Seq("src"))
        .join(outDeg, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("outdeg")).as("__in"))
      pr = nodesN
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) / col("__n") +
            lit(damping) * coalesce(col("__in"), lit(0.0))).as("pr"),
          col("__n"))
    }
    pr.select(col("id"), col("pr"))
  }

  /** [[pageRank]] at realistic iteration counts — the checkpoint-per-round
    * form the 1..10 unrolled version's require() points at. Same math,
    * same float-op ordering, same simple (non-dangling-redistributing)
    * formulation; differentially spec-pinned EQUAL to the unrolled form at
    * k ≤ 10 (GraphSpec). The difference is purely executional: the
    * unrolled form is one lazy plan whose rank subtree deepens per round
    * (fine at the fixed k ≈ 3 a registry query uses, lineage-explosive at
    * k = 50), while here each round's rank frame is eagerly
    * `localCheckpoint`ed (lineage cut; per-step cost flat in k — the
    * [[graft.ops.TextAnalysis.bpeMergesMaterialized]] device) and the
    * superseded round's blocks are freed immediately via
    * `ColumnBridge.unpersistCheckpoint`, so at most TWO rank copies are
    * ever live. On a cluster the same shape swaps localCheckpoint for a
    * reliable checkpoint dir to survive executor loss. Returns (id, pr). */
  def pageRankCheckpointed(edges: DataFrame, srcCol: String, dstCol: String,
                           iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRankCheckpointed: iters=$iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    val nn = nodes.agg(count(lit(1)).as("__n"))
    var pr = nodes.crossJoin(broadcast(nn))
      .select(col("id"), (lit(1.0) / col("__n")).as("pr"), col("__n"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = e
        .join(pr.select(col("id").as("src"), col("pr")), Seq("src"))
        .join(outDeg, Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("pr") / col("outdeg")).as("__in"))
      val prev = pr
      pr = pr.select(col("id"), col("__n"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) / col("__n") +
            lit(damping) * coalesce(col("__in"), lit(0.0))).as("pr"),
          col("__n"))
        .localCheckpoint(true)
      org.apache.spark.sql.graftshim.ColumnBridge.unpersistCheckpoint(prev)
    }
    pr.select(col("id"), col("pr"))
  }
}
