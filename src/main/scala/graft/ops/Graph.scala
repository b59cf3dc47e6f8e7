package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators for duplicate-cluster resolution: near-dup PAIRS (from
  * [[Dedup.minhashLshPairs]] / [[Dedup.simhashPairs]] / [[Dedup.jaccardPairs]])
  * are only half the dedup story — a training-data pipeline must then group
  * pairs into clusters and keep one canonical document per cluster, which is
  * connected components over the pair graph.
  *
  * Spark-first shape: iterative min-label propagation as a driver loop over
  * DataFrames (the Pregel pattern), `localCheckpoint` per iteration to
  * truncate lineage. Each iteration is one join + one partial-aggregated
  * groupBy, both shuffling on node id only — the edge list (pairs ≪ corpus)
  * is what iterates, never the corpus. Converges in O(graph diameter)
  * rounds; near-dup clusters are dense (a dup of A is usually a dup of B),
  * so diameter is small in practice — the same observation that makes
  * plain label propagation the standard first choice before the
  * O(log n)-round two-phase schemes (hash-to-min / small-star–large-star,
  * Rastogi et al., "Finding Connected Components in Map-Reduce").
  *
  * On a real cluster, swap `localCheckpoint` (block-manager backed, lost if
  * an executor dies) for `checkpoint` with a reliable checkpoint dir.
  * Each loop frees a superseded round's [[Materialize.checkpoint]] once
  * its successor is materialized; the query scope frees the rest.
  */
object Graph {

  /** Connected components of the undirected graph given by `edges`
    * `(srcCol, dstCol)`. Returns one row per distinct node:
    * `(id, component_id)` with `component_id` = min node id reachable.
    *
    * `maxIter` is a SAFETY CAP, not a result parameter: the loop exits at
    * the fixpoint (no label changed — detected on the already-materialized
    * checkpoint, so the extra action is a local scan, not a recompute), and
    * hitting the cap without converging THROWS rather than returning
    * partial labels. Long near-dup chains (templated/shifting documents)
    * can exceed any fixed diameter bound at corpus scale, and silently
    * truncated labels would corrupt every cluster-canonical decision
    * downstream; a loud failure tells the operator to raise the cap.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    // materialize the edge list BEFORE symmetrizing: union's two branches
    // are separate plan subtrees, so an un-materialized `edges` (often an
    // expensive LSH pair pipeline) would execute twice; after this the
    // loop re-reads checkpointed blocks only
    val e = Materialize.checkpoint(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    // The loop runs under the caller's AQE setting. A scoped
    // AQE-off variant was A/B-measured (round 8): it looks faster on a
    // cold JVM (fewer per-stage jobs while scheduling paths are still
    // interpreting), but hot — the state every long-lived session is
    // in — AQE's runtime broadcast conversion of the tiny per-round
    // joins beats the static 32-partition sort-merge plans by ~2× on
    // q33/q135/q312, so the scope-off lost on the board and was
    // removed.
    connectedComponentsLoop(e, maxIter)
  }

  /** Grouped CC: independent label propagation per `groupCol` value in
    * ONE pointer-jumping loop — |groups| separate
    * [[connectedComponents]] runs collapsed into a single iteration
    * whose round count is the MAX over groups, and whose per-round
    * fixed cost (checkpoint, scheduling) is paid once (q349's
    * percolation sweep: 4 loops → 1, measured 5.2 s → ~2 s at sf0.1).
    * Fixpoint per group is identical to the ungrouped loop: labels are
    * min-reachable node ids within the group's edge set. */
  def connectedComponentsBy(
      edges: DataFrame,
      groupCol: String,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 50): DataFrame = {
    val e = Materialize.checkpoint(edges.select(col(groupCol).as("g"),
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val sym = Materialize.checkpoint(
      e.union(e.select(col("g"), col("dst").as("src"), col("src").as("dst"))))
    Materialize.release(e)
    // seed comp = min(id, min in-group neighbor): the node enumeration
    // needs the (g, src) exchange anyway, so the 1-hop min is free and the
    // loop starts one round ahead (round 11, same as the ungrouped loop)
    var labels = Materialize.checkpoint(sym.groupBy("g", "src").agg(min("dst").as("m"))
      .select(col("g"), col("src").as("id"),
        least(col("src"), col("m")).as("comp")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val incoming = sym
        .join(labels.select(col("g"), col("id").as("dst"), col("comp").as("nbr_comp")),
          Seq("g", "dst"))
        .groupBy("g", "src").agg(min("nbr_comp").as("nbr_min"))
        .select(col("g"), col("src").as("id"), col("nbr_min"))
      // checkpoint hop: it feeds BOTH sides of the pointer-jumping
      // self-join — un-checkpointed, the join+groupBy above would run
      // twice per round (round-8 ADVICE; round 12 re-A/B'd dropping it,
      // trusting exchange reuse to dedup the agg — the grouped board
      // REGRESSED, q388 3.2 -> 4.9 s, and the fuse was reverted)
      val hop = Materialize.checkpoint(labels
        .join(incoming, Seq("g", "id"), "left")
        .select(col("g"), col("id"), col("comp").as("prev_comp"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp")))
      // (round 11: a second jump per round A/B'd and reverted — see the
      // ungrouped loop's comment)
      val next = Materialize.checkpoint(hop
        .join(hop.select(col("g"), col("id").as("comp"), col("comp").as("comp2")),
          Seq("g", "comp"), "left")
        .select(col("g"), col("id"), col("prev_comp"),
          least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp")))
      converged = next.filter(col("comp") < col("prev_comp")).isEmpty
      Materialize.release(hop)
      Materialize.release(labels)
      labels = next.select("g", "id", "comp")
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsBy did not converge within maxIter=$maxIter rounds")
    if (sys.env.contains("GRAFT_CC_VERBOSE"))
      System.err.println(s"[cc-by] converged in $iter rounds")
    labels.select(col("g").as(groupCol), col("id"), col("comp").as("component_id"))
  }

  private def connectedComponentsLoop(e: DataFrame, maxIter: Int): DataFrame = {
    val sym = Materialize.checkpoint(e.union(e.select(col("dst").as("src"), col("src").as("dst"))))
    // e's blocks are dead once sym is materialized
    Materialize.release(e)
    // seed comp = min(id, min neighbor id): the node enumeration needs a
    // groupBy(src) exchange anyway (it was a distinct), so the 1-hop
    // neighbor min is FREE here and the loop starts one propagation round
    // ahead (round 11: q312/q369/q33 family, one round ≈ 5 jobs of chain
    // depth at local[32])
    var labels = Materialize.checkpoint(sym.groupBy("src").agg(min("dst").as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("comp")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // min over the neighbors' labels, seen from each node
      val incoming = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("nbr_comp")), "dst")
        .groupBy("src").agg(min("nbr_comp").as("nbr_min"))
        .select(col("src").as("id"), col("nbr_min"))
      // checkpointed: hop feeds both sides of the pointer-jumping
      // self-join below — without this the neighbor-min join+groupBy
      // runs twice per round (round-8 ADVICE; round 12 re-A/B'd dropping
      // it — JobProfile read neutral but the full board regressed, q312
      // 1.68 -> 2.38 s — reverted)
      val hop = Materialize.checkpoint(labels
        .join(incoming, Seq("id"), "left")
        .select(col("id"), col("comp").as("prev_comp"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp")))
      // pointer-jumping shortcut: also adopt the label OF my label
      // (comp(comp(x)) — reachable via comp(x), so the min-reachable
      // invariant holds and the fixpoint is unchanged). One extra
      // equijoin per round turns diameter-bounded convergence into
      // ~log(diameter) rounds — on long near-dup chains this is the
      // difference between 30 rounds and 6 (measured 10.5 s → 3.5 s on
      // the q232 sweep's three CC runs).
      // (round 11 A/B: a SECOND jump per round was tried and reverted —
      // rounds 6 → 5 on q312 but one more checkpoint+join per round, net
      // 7.1 → 7.8 s on the same JobProfile; fewer-but-fatter rounds lose
      // at this chain depth)
      val next = Materialize.checkpoint(hop
        .join(hop.select(col("id").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("id"), col("prev_comp"),
          least(col("comp"), coalesce(col("comp2"), col("comp"))).as("comp")))
      converged = next.filter(col("comp") < col("prev_comp")).isEmpty
      // superseded round's hop + label blocks are dead once `next` is
      // materialized — release eagerly instead of waiting for a driver GC
      Materialize.release(hop)
      Materialize.release(labels)
      labels = next.select("id", "comp")
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within maxIter=$maxIter label-propagation " +
        "rounds (component diameter exceeds the cap); partial labels would be wrong — " +
        "raise maxIter")
    if (sys.env.contains("GRAFT_CC_VERBOSE"))
      System.err.println(s"[cc] converged in $iter rounds")
    labels.select(col("id"), col("comp").as("component_id"))
  }

  /** X160 — incremental connected components: fold a batch of NEW edges
    * into an existing `(id, component_id)` assignment WITHOUT re-running
    * label propagation over the standing edge set. The arriving edges are
    * first COLLAPSED to component space (each endpoint replaced by its
    * standing component id; unseen nodes are their own singleton
    * component), then [[connectedComponents]] runs on that contracted
    * graph — whose size is bounded by 2·|batch|, never by the corpus —
    * and the resulting component→component merge map is applied back to
    * the assignment as one broadcast relabel join.
    *
    * Correctness: contracting each standing component to one meta-node
    * preserves connectivity (every standing component is internally
    * connected by definition), and component ids are min-reachable node
    * ids on both levels, so the two-level min composes to the global
    * min — the result is identical to [[connectedComponents]] over the
    * union edge set (IncrementalComponentsSpec proves it on random
    * graphs and adversarial bridge chains).
    *
    * Idempotent: re-folding edges already reflected in the assignment
    * collapses them to self-loops, which are filtered — the assignment
    * is unchanged, which is what makes the streaming form
    * ([[graft.streaming.ComponentStream]]) safe under at-least-once
    * foreachBatch re-delivery.
    *
    * Scale: at 100 TB the standing assignment is the big side and is
    * touched exactly once by the final relabel join (merge map
    * broadcast, bounded by the batch); everything else scales with the
    * arriving batch. This is the O(batch) maintenance path next to
    * q33's full recompute — the same relationship X104's delta-dedup
    * has to the corpus-wide pair join. */
  def incrementalComponents(
      assignment: DataFrame,
      newEdges: DataFrame,
      srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame = {
    val e = Materialize.checkpoint(newEdges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    val a = assignment.select(col("id").cast("long").as("id"),
      col("component_id").cast("long").as("component_id"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val nodeComp = Materialize.checkpoint(nodes.join(a, Seq("id"), "left")
      .select(col("id"), coalesce(col("component_id"), col("id")).as("comp")))
    val compEdges = e
      .join(nodeComp.select(col("id").as("src"), col("comp").as("ca")), "src")
      .join(nodeComp.select(col("id").as("dst"), col("comp").as("cb")), "dst")
      .select(col("ca").as("id_a"), col("cb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    val meta = connectedComponents(compEdges)
      .select(col("id").as("old_comp"), col("component_id").as("new_comp"))
    val updatedOld = a
      .join(broadcast(meta), col("component_id") === col("old_comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("component_id")).as("component_id"))
    val newAssigned = nodeComp
      .join(a.select("id"), Seq("id"), "left_anti")
      .join(broadcast(meta), col("comp") === col("old_comp"), "left")
      .select(col("id"), coalesce(col("new_comp"), col("comp")).as("component_id"))
    updatedOld.union(newAssigned)
  }

  /** Duplicate-cluster resolution over a document table: label every doc
    * with its near-dup cluster (docs in no pair are their own singleton
    * cluster), the cluster size, and the keep-first canonical flag
    * (canonical = min doc id in the cluster — the doc a dedup stage keeps).
    *
    * Output: `(doc_id, component_id, cluster_size, is_canonical)`.
    */
  def dupClusters(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, srcCol, dstCol)
    val labeled = docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("component_id", coalesce(col("component_id"), col("doc_id")))
    val sizes = labeled.groupBy("component_id").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "component_id")
      .withColumn("is_canonical", (col("doc_id") === col("component_id")).cast("int"))
      .select("doc_id", "component_id", "cluster_size", "is_canonical")
  }

  /** X187 — k-core decomposition (iterative peel): the maximal subgraph
    * in which every node keeps degree ≥ k. Per round: degree aggregate →
    * drop under-degree nodes → drop their edges; repeat to the fixpoint
    * (no edge removed). On the kNN graph (q91) the k-core separates the
    * dense semantic regions (core members) from bridges and stragglers —
    * the structural complement of q146's kth-neighbor DISTANCE outliers,
    * and the candidate set for q98-style coreset seeding.
    *
    * Returns `(id, deg)` for surviving nodes (degree inside the core).
    * Multi-edges are collapsed (simple-graph degrees); self-loops
    * dropped.
    *
    * Scale: every round is one degree aggregate + two semi-joins on the
    * EDGE list (never node²); rounds are checkpoint-truncated like
    * [[connectedComponents]] (lineage stays O(1)); convergence checks
    * count already-materialized checkpoints. Peel rounds needed can be
    * O(graph) on pathological chains — `maxIter` caps loudly, same
    * contract as the CC loop.
    */
  def kCore(
      edges: DataFrame,
      k: Int,
      srcCol: String = "id_a",
      dstCol: String = "id_b",
      maxIter: Int = 100): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    var sym = Materialize.checkpoint(e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val keep = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      val next = Materialize.checkpoint(sym
        .join(keep, Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst"))
      converged = next.count() == sym.count()
      // release the superseded round's checkpoint blocks once `next` is
      // materialized — a deep peel (up to maxIter rounds) would otherwise
      // hold every intermediate edge set in block-manager storage for the
      // life of the job
      Materialize.release(sym)
      sym = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"kCore did not converge within maxIter=$maxIter peel rounds — raise maxIter")
    sym.groupBy("src").agg(count(lit(1)).cast("long").as("deg"))
      .select(col("src").as("id"), col("deg"))
  }
}
