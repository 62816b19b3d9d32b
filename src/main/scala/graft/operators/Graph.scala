package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over co-occurrence graphs derived from
  * relational tables (reference anchor: the item-relationship traversal
  * the CRM's app/field cross-references imply — PodioApiGateway's
  * item_values link fields — generalized to whole-graph statistics).
  *
  * The graph representation is a plain edge DataFrame `(p1, p2)` with
  * `p1 < p2`, one row per distinct undirected edge — no adjacency
  * materialization, so every algorithm here is a sequence of joins and
  * aggregations that Catalyst plans like any other query (AQE picks the
  * join strategies; the edge list shuffles on node ids).
  *
  * Scale posture at 100 TB:
  *  - [[coOccurrenceEdges]] pairs items within a bag, so the blowup is
  *    bounded by max-bag-size squared per bag (order baskets: ≤ ~20
  *    lines → ≤ 190 pairs), never corpus-quadratic.
  *  - [[triangleStats]] uses the degree-ordered node-iterator: each
  *    edge is oriented from its lower-(degree, id) endpoint to the
  *    higher, so the wedge fan-out around a node is its OUT-degree, and
  *    the candidate-wedge total drops from Σ d² (hub-dominated) to
  *    Σ outdeg² ≤ O(m^1.5) — the classical bound that makes triangle
  *    counting feasible on power-law graphs where a single celebrity
  *    node would otherwise generate d² ≈ 10^12 wedges.
  *  - [[pageRank]] is the standard power iteration as a fixed number of
  *    (join + groupBy) rounds; state per node is one double, edges are
  *    re-read from a `localCheckpoint` so the plan does not re-derive
  *    the edge list every round.
  */
object Graph {

  /** Distinct undirected co-occurrence edges from a bag/item table:
    * two items are connected iff they appear in the same bag. Output
    * `(p1, p2)` with `p1 < p2`, one row per edge.
    *
    * The self-join is keyed on the bag id, so the shuffle is one pass
    * of the (bag, item) pairs and the pair fan-out is per-bag
    * quadratic only — the `p1 < p2` predicate halves it and drops
    * self-pairs before the distinct.
    */
  def coOccurrenceEdges(bags: DataFrame, bagCol: String,
      itemCol: String): DataFrame =
    coOccurrenceEdgesMinSupport(bags, bagCol, itemCol, 1L)

  /** [[coOccurrenceEdges]] thresholded on co-occurrence support: keep
    * an edge only if the pair shares at least `minSupport` bags. The
    * threshold is evaluated on the pair aggregate BEFORE any
    * downstream traversal, so dense accidental-co-occurrence cliques
    * (every pair sharing one order) never reach the algorithms that
    * walk the graph — at 100 TB this is what keeps frontier expansion
    * proportional to the *signal* graph, not the noise one.
    */
  def coOccurrenceEdgesMinSupport(bags: DataFrame, bagCol: String,
      itemCol: String, minSupport: Long): DataFrame =
    coOccurrenceEdgesWithSupport(bags, bagCol, itemCol, minSupport)
      .select(col("p1"), col("p2"))

  /** [[coOccurrenceEdgesMinSupport]] keeping the co-occurrence count:
    * output `(p1, p2, support)` — the form weighted traversals
    * ([[shortestPathsBounded]]) derive edge costs from.
    */
  def coOccurrenceEdgesWithSupport(bags: DataFrame, bagCol: String,
      itemCol: String, minSupport: Long): DataFrame = {
    val bi = bags.select(col(bagCol).as("_bag"), col(itemCol).as("_item"))
      .distinct()
    bi.select(col("_bag"), col("_item").as("p1"))
      .join(bi.select(col("_bag"), col("_item").as("p2")), Seq("_bag"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Multi-source BFS: minimum hop count from any seed to every
    * reachable node within `maxDepth` hops, over an undirected
    * `(p1, p2)` edge list. Output `(node, hops)`, seeds at hops = 0;
    * unreachable (or beyond-depth) nodes are absent. Seeds need not
    * touch any edge — an isolated seed still reports hops = 0.
    *
    * Classic frontier expansion: each round joins the CURRENT frontier
    * (not the visited set) against the edge list, then anti-joins the
    * visited set so a node is expanded exactly once — total join work
    * is Σ|frontier_d|·avg-degree ≤ |E| per direction regardless of
    * depth, never depth·|E|. Per-round state is (node, hops) pairs —
    * 12 bytes a node, shuffled on node id; both frontier and visited
    * are checkpointed each round so round k's plan never re-derives
    * rounds 1..k-1 (the same lineage-cut discipline as [[pageRank]],
    * incl. the `reliable` fault-tolerant knob). `maxDepth` is a
    * compile-time constant, so plan depth is fixed and the semantics
    * stay ANSI-restatable as an unrolled CTE chain (the q101 oracle).
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxDepth: Int,
      reliable: Boolean = false): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be non-negative")
    def cut(df: DataFrame): DataFrame =
      graft.ml.Materialize.cut(df, reliable)
    // every frontier generation is RETAINED by design — the union of
    // frontiers is both the visited set and the result — so no
    // per-round reclamation applies here (unlike shortestPathsBounded);
    // only the edge snapshot is freeable once expansion ends
    val edgeCk = new graft.ml.GenCheckpointer(edges.sparkSession, reliable)
    // cut the edge list BEFORE the symmetrize union — the two branches
    // are different projections of the same input, so the upstream
    // edge-derivation plan would otherwise execute once per branch
    // (the Dedup.clusters discipline)
    // PINNED pre-partitioned on src (the pageRank note): a persisted
    // repartition keeps its partitioning visible to the planner (a
    // checkpoint would erase it), so each round's frontier join
    // streams the edge snapshot in place instead of re-exchanging
    // 2|E| rows per round; lineage is retained, so eviction
    // recomputes instead of failing. Row-gated: a tiny edge list pins
    // with its natural layout (Materialize.pinByKey).
    val e0 = edgeCk.cut(edges.select(col("p1"), col("p2")))
    val directed = graft.ml.Materialize.pinByKey(e0
      .select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(e0.select(col("p2").as("src"), col("p1").as("dst"))),
      rows = 2L * e0.count(), keys = Seq(col("src")))
    var frontiers = List(cut(seeds.select(col("node")).distinct()
      .withColumn("hops", lit(0))))
    var d = 0
    // the frontier is already materialized by cut(), so the isEmpty
    // probe is one cheap partition peek — without it every round past
    // exhaustion still pays a full 2|E| edge scan plus a checkpoint
    while (d < maxDepth && !frontiers.head.isEmpty) {
      d += 1
      // visited = union of the already-checkpointed frontiers: each
      // union leg re-reads materialized blocks, so NOT re-checkpointing
      // the growing visited set every round saves O(|V|·depth) write
      // work — only each (smaller) frontier is ever materialized once
      val visited = frontiers.map(_.select(col("node")))
        .reduce(_.unionAll(_))
      // shuffle_hash on the state sides for the same reason as
      // pageRank: the checkpointed edge list defeats size estimation,
      // and sorting 2|E| rows per round for a sort-merge join is pure
      // waste when the build side is the O(|V|)-bounded frontier.
      val next = cut(directed
        .join(frontiers.head.select(col("node").as("src"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.hint("shuffle_hash"), Seq("node"), "left_anti")
        .withColumn("hops", lit(d)))
      frontiers ::= next
    }
    // the result unions the (materialized) frontiers; the edge
    // snapshot backs none of them once expansion stops
    edgeCk.close()
    directed.unpersist(blocking = false)
    frontiers.reverse.reduce(_.unionAll(_))
  }

  /** Bounded multi-source weighted shortest paths — Bellman-Ford with
    * frontier-pruned relaxation: the minimum total edge weight from
    * any seed to every node reachable within `rounds` edges. `edges`
    * needs `(p1, p2, w)` (undirected; INTEGER weights, so every
    * distance is exact arithmetic and the cross-engine gate never
    * meets float-sum ordering); `seeds` needs `(node)`. Output
    * `(node, dist)` — seeds at 0, absent = not reachable in `rounds`.
    *
    * Round r relaxes only the nodes IMPROVED in round r−1 (the
    * frontier), not all settled state: a node whose dist did not
    * change re-offers exactly the candidates it offered when it last
    * improved, and those are already folded into the running min —
    * pruning them is result-identical to textbook Bellman-Ford
    * (induction: any ≤r-edge path's last relaxation fires in the
    * round after its prefix-end node last improved, which is ≤ r).
    * At scale that turns each round from a full 2|E| re-relaxation
    * into the shockwave of newly-reached nodes — the same reason
    * [[bfsHops]] walks frontiers. State per node is one long;
    * every join shuffles node ids and hash-builds on the O(|V|)
    * state side (`shuffle_hash` — the checkpointed edge list defeats
    * size estimation, same as [[pageRank]]). The materialized
    * frontier makes the `isEmpty` early-exit probe one partition
    * peek, so exhausted graphs stop paying edge scans.
    */
  def shortestPathsBounded(edges: DataFrame, seeds: DataFrame,
      rounds: Int, reliable: Boolean = false): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val spark = edges.sparkSession
    // Generation-scoped checkpointers (the BPE / label-propagation
    // reclamation discipline): each iterate's superseded generation is
    // freed once its successor is materialized, so a deep-rounds
    // caller holds THREE O(|V|)-or-|E| snapshots at any moment
    // (edges, current dist, current frontier) instead of one per
    // round. One checkpointer per iterate; the edge list gets its own
    // so it can be freed when the loop ends (the returned dist is
    // materialized and no longer references it).
    val edgeCk = new graft.ml.GenCheckpointer(spark, reliable)
    val distCk = new graft.ml.GenCheckpointer(spark, reliable)
    val frontCk = new graft.ml.GenCheckpointer(spark, reliable)
    // pre-cut before the symmetrize union (the bfsHops note): the two
    // branches would otherwise each run the edge-derivation plan;
    // the doubled snapshot is PINNED pre-partitioned on src (the
    // pageRank note, row-gated) so each relaxation round streams it
    // in place and only the frontier state shuffles per round
    val e0 = edgeCk.cut(edges.select(col("p1"), col("p2"), col("w")))
    val directed = graft.ml.Materialize.pinByKey(e0
      .select(col("p1").as("src"), col("p2").as("dst"), col("w"))
      .unionAll(e0
        .select(col("p2").as("src"), col("p1").as("dst"), col("w"))),
      rows = 2L * e0.count(), keys = Seq(col("src")))
    var dist = distCk.cut(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)))
    var frontier = dist
    var r = 0
    while (r < rounds && !frontier.isEmpty) {
      r += 1
      val cand = directed
        .join(frontier.select(col("node").as("src"), col("dist"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("node"),
          (col("dist") + col("w")).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val improved = frontCk.cut(cand
        .join(dist.select(col("node"), col("dist").as("_old"))
          .hint("shuffle_hash"), Seq("node"), "left")
        .filter(col("_old").isNull || col("dist") < col("_old"))
        .select(col("node"), col("dist")))
      dist = distCk.cut(dist
        .join(improved.select(col("node")).hint("shuffle_hash"),
          Seq("node"), "left_anti")
        .unionAll(improved))
      frontier = improved
    }
    // the final dist generation is fully materialized, so neither the
    // last frontier nor the edge snapshot backs it — free both; dist's
    // own generation stays (the caller consumes it), which is why
    // distCk is never closed
    frontCk.close()
    edgeCk.close()
    directed.unpersist(blocking = false)
    dist
  }

  /** Per-node degree of an undirected `(p1, p2)` edge list. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("p1").as("node"))
      .unionAll(edges.select(col("p2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Exact triangle count + global clustering coefficient, one output
    * row: (n_nodes, n_edges, n_wedges, n_triangles, global_cc).
    *
    * Degree-ordered orientation: every edge points from its lower
    * (deg, id) endpoint to the higher (packed into one long key —
    * `deg * 2^32 + id` — so the comparison is a single primitive
    * column op; both deg and id fit 32 bits at any plausible node
    * count). A triangle {x ≺ y ≺ z} in that total order is counted
    * exactly once: as the wedge (x→y, x→z) closed by the edge between
    * y and z. Wedge generation joins the oriented list with itself on
    * the source node; the close check is a left-semi join back to the
    * undirected edge list — no row payloads beyond two longs anywhere.
    *
    * n_wedges is Σ d(d−1)/2 over the UNDIRECTED degrees (the
    * clustering-coefficient denominator), computed from the degree
    * aggregate — the oriented wedge join never materializes it.
    */
  def triangleStats(edgesIn: DataFrame): DataFrame = {
    // the edge list feeds FIVE consumers (degree aggregate, two
    // orientation joins, the wedge-close semi-join, the edge count) —
    // for a co-occurrence input each re-derivation re-runs the bag
    // self-join + distinct; materialize once (the pageRank/bfsHops
    // edge-snapshot discipline)
    val edges = graft.ml.Materialize.cut(edgesIn)
    val deg = graft.ml.Materialize.cut(degrees(edges))
    val keyed = deg.select(col("node"),
      (col("deg") * lit(4294967296L) + col("node")).as("okey"))
    val e = edges
      .join(keyed.select(col("node").as("p1"), col("okey").as("k1")),
        Seq("p1"))
      .join(keyed.select(col("node").as("p2"), col("okey").as("k2")),
        Seq("p2"))
    val oriented = e.select(
      when(col("k1") < col("k2"), col("p1")).otherwise(col("p2"))
        .as("src"),
      when(col("k1") < col("k2"), col("p2")).otherwise(col("p1"))
        .as("dst"),
      greatest(col("k1"), col("k2")).as("dkey"))
    // shuffle_hash, not the planner's default sort-merge: the wedge
    // stream is the |wedges| ≈ Σ outdeg² side (36M rows at sf0.1 —
    // 30× the edge list), and SMJ SORTS it before probing. A shuffled
    // hash join builds the per-partition hash table on the edge side
    // (edges/partitions rows — bounded at any SF by adding partitions,
    // unlike a broadcast, which is why the hint is NOT broadcast) and
    // streams the wedges unsorted. Same co-partitioned shuffle either
    // way; the sort is pure waste for a count-only consumer. Measured
    // at sf0.1 (same session, min-of-2): 10.8s → 4.1s.
    val wedges = oriented.as("a").join(oriented.as("b").hint("shuffle_hash"),
        col("a.src") === col("b.src") && col("a.dkey") < col("b.dkey"))
      .select(least(col("a.dst"), col("b.dst")).as("p1"),
        greatest(col("a.dst"), col("b.dst")).as("p2"))
    // Bloom pre-filter (guide §3.2) before the close-check shuffle:
    // the wedge stream is Θ(Σ outdeg²) — 30×+ the edge list — and
    // shuffling all of it to the semi-join is the operator's dominant
    // byte mover. A Bloom filter over the packed edge keys (ids fit 32
    // bits — the okey packing above already relies on that) drops
    // definitely-unclosed wedges MAP-SIDE, so only ~triangles + fpp·
    // wedges rows cross the network; false positives are removed by
    // the exact semi-join, so the count is unchanged. The filter is
    // ~9.6 bits/edge at 1% fpp — broadcastable far past this scale,
    // and the edge count (a bounded driver action over the
    // checkpointed edge list) doubles as the n_edges output scalar.
    val nEdges = edges.count()
    val packed = (col("p1") * lit(4294967296L) + col("p2")).as("_ek")
    val tri =
      if (nEdges == 0L)
        edges.sparkSession.range(1).select(lit(0L).as("n_triangles"))
      else {
        val bf = edges.stat.bloomFilter(packed, math.max(nEdges, 1L), 0.01)
        val bfB = edges.sparkSession.sparkContext.broadcast(bf)
        val mightClose = udf((k: Long) => bfB.value.mightContainLong(k))
        wedges
          .filter(mightClose(col("p1") * lit(4294967296L) + col("p2")))
          .join(edges.hint("shuffle_hash"), Seq("p1", "p2"), "left_semi")
          .agg(count(lit(1)).as("n_triangles"))
      }
    // d*(d-1) stays exact in a long; the sum is widened to decimal to
    // survive extreme degree skew, halved exactly (always even), and
    // narrowed back
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg").cast("decimal(38,0)") * (col("deg") - 1)) / 2)
        .cast("long").as("n_wedges"))
    // nEdges was already counted for the Bloom sizing — reuse it as a
    // literal instead of re-aggregating the edge list in-plan
    val ne = edges.sparkSession.range(1)
      .select(lit(nEdges).as("n_edges"))
    stats.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("global_cc"))
  }

  /** DOULION-style edge-sampled approximate triangle count — the
    * capped sibling exact [[triangleStats]] cannot have: exact
    * counting is Θ(wedges) definitionally, and on a power-law graph
    * wedge volume grows superlinearly (measured exp 1.42 on the
    * degree-skew corpus), so at 100× the guaranteed-budget tool is
    * sparsify-then-count. Every undirected edge is kept with
    * probability p = keepNum/keepDen decided by a DETERMINISTIC
    * 60-bit hash of (seed, p1, p2) — reruns, retries, and the SQL
    * oracle draw the identical subgraph, so unlike rand()-sampled
    * DOULION the whole estimator hash-gates — and the exact
    * [[triangleStats]] machinery runs on the sparsified graph whose
    * wedge volume shrinks ~p² (the orientation and shuffle_hash
    * notes there apply unchanged). est_triangles = tri_sampled / p³
    * is the standard unbiased estimator (each triangle survives with
    * probability p³); GraphSpec pins unbiasedness empirically (mean
    * over a seed sweep on a closed-form fixture). `rse_indep` =
    * √((1−p³)/tri_sampled) is the in-result error evidence (the
    * q19b/q69 discipline): the relative standard error under the
    * independent-triangles approximation — a LOWER bound when
    * triangles share edges (adjacent triangles covary), which the
    * docstring states rather than hides; NULL when the sample holds
    * zero triangles (no finite relative error exists). Precondition,
    * shared with [[triangleStats]] and produced by
    * [[coOccurrenceEdges]]: edges are canonical DISTINCT p1 &lt; p2
    * rows — a both-orientations input would flip an independent coin
    * per orientation, biasing each edge's effective keep probability
    * to 1−(1−p)² (the r12 advice finding).
    */
  def triangleStatsSampled(edgesIn: DataFrame, keepNum: Int,
      keepDen: Int, seed: Long = 0L): DataFrame = {
    require(keepNum > 0 && keepNum <= keepDen,
      "need 0 < keepNum <= keepDen")
    val p3 = math.pow(keepNum.toDouble / keepDen, 3)
    // same materialize-once rule as triangleStats: the full edge list
    // is read by both the sample filter and the n_edges_full count
    val edges = graft.ml.Materialize.cut(edgesIn)
    val kept = edges.filter(
      pmod(graft.functions.Hash60(
          concat_ws("_", lit(seed), col("p1"), col("p2"))
            .cast("binary")),
        lit(keepDen.toLong)) < keepNum)
    val st = triangleStats(kept)
    val ne = edges.agg(count(lit(1)).as("n_edges_full"))
    st.crossJoin(ne).select(
      col("n_edges_full"), col("n_edges").as("n_edges_kept"),
      lit(keepNum).as("keep_num"), lit(keepDen).as("keep_den"),
      col("n_triangles").as("tri_sampled"),
      round(col("n_triangles") / lit(p3), 2).as("est_triangles"),
      // a sample with ZERO surviving triangles has no finite relative
      // error — emit NULL deliberately (the r12 advice finding: an
      // unguarded division leaves the NULL/inf choice to the engine,
      // and DuckDB's IEEE inf would hash-diverge on such a draw)
      when(col("n_triangles") > 0,
        round(sqrt((lit(1.0) - lit(p3)) / col("n_triangles")), 6))
        .as("rse_indep"))
  }

  /** PageRank over an undirected `(p1, p2)` edge list: a fixed number
    * of power iterations with the standard damping, restricted to
    * nodes with ≥ 1 edge (no dangling mass, so each round conserves
    * probability exactly and the oracle restatement is a plain join
    * chain). Output (node, deg, pr_norm) where pr_norm = pr · N, i.e.
    * 1.0 = the uniform-random-surfer share — the normalized form keeps
    * every value O(1) so a fixed 6-dp rounding carries the same
    * relative precision at any graph size.
    *
    * Each round is one equi-join (edge src → current pr) + one
    * groupBy(dst) — both shuffle on node id only, state is a single
    * double per node. The edge list and degree table are
    * checkpointed once up front: without the cut, round k's plan
    * would re-derive the co-occurrence self-join k times. Iteration
    * count is a compile-time constant (driver-side loop bound, not
    * data-dependent), so the plan depth is fixed.
    *
    * `reliable = false` (default) uses `localCheckpoint` — blocks live
    * in executor storage, fast, but a lost executor loses them and the
    * TRUNCATED lineage cannot recompute: correct for local mode and
    * short loops. On a real cluster pass `reliable = true` to write
    * the cut through `checkpoint()` to the fault-tolerant checkpoint
    * dir (`sc.setCheckpointDir` must be set — required up front, not
    * discovered by a mid-loop crash); the extra write is the price of
    * surviving executor loss mid-iteration.
    */
  def pageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85, reliable: Boolean = false): DataFrame = {
    // the rank iterate goes through a generation-scoped checkpointer
    // (the shortestPathsBounded discipline): each round's cut both
    // fixes the plan depth at one round (the previous lazy form
    // re-derived all earlier rounds into one ever-deeper plan) and
    // frees the superseded rank snapshot, so a deep-iters caller
    // holds one O(|V|) rank generation, not iters of them. deg stays
    // on a plain cut: the RETURNED plan still reads it (n derives
    // from deg at the end), so it must outlive the loop.
    val prCk = new graft.ml.GenCheckpointer(edges.sparkSession, reliable)
    val edgeCk = new graft.ml.GenCheckpointer(edges.sparkSession, reliable)
    // pre-cut before the symmetrize union (the bfsHops note): the two
    // branches would otherwise each run the edge-derivation plan.
    // The doubled snapshot is PINNED (persist, not checkpoint — a
    // checkpoint erases partitioning; measured UnknownPartitioning on
    // every checkpointed frame) pre-partitioned on the loop's join
    // key (src) at the session shuffle width: every round's contrib
    // join then streams the 2|E| edge rows IN PLACE and only the
    // O(|V|) rank state shuffles — without this the loop re-exchanged
    // the edge list once per round (guide §2.4, remove shuffles
    // outright; measured −44% shuffle-write on the sf0.1 pagerank).
    // Row-gated (Materialize.pinByKey): a tiny edge list keeps its
    // natural layout. The degree aggregate below rides the same
    // layout exchange-free.
    val e0 = edgeCk.cut(edges.select(col("p1"), col("p2")))
    val directed = graft.ml.Materialize.pinByKey(e0
      .select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(e0.select(col("p2").as("src"), col("p1").as("dst"))),
      rows = 2L * e0.count(), keys = Seq(col("src")))
    val deg = graft.ml.Materialize.cut(directed
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      reliable)
    val n = deg.agg(count(lit(1)).cast("double").as("n"))
    var pr = deg.crossJoin(broadcast(n))
      .select(col("node"), col("deg"), (lit(1.0) / col("n")).as("pr"))
    for (_ <- 1 to iters) {
      // shuffle_hash on the per-node state sides: the checkpointed
      // edge list reports the default (huge) size estimate, so the
      // planner falls back to sort-merge and SORTS the 2|E| edge rows
      // every round. Hash-building on the O(|V|) state side skips the
      // sort at the same shuffle cost, and unlike a broadcast stays
      // memory-safe however large the graph grows (state/partitions
      // per build).
      val contrib = directed
        .join(pr.select(col("node").as("src"),
          (col("pr") / col("deg")).as("share")).hint("shuffle_hash"),
          Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("share")).as("mass"))
      pr = prCk.cut(deg.join(contrib.hint("shuffle_hash"), Seq("node"),
          "left")
        .crossJoin(broadcast(n))
        .select(col("node"), col("deg"),
          (lit(1.0 - damping) / col("n") +
            lit(damping) * coalesce(col("mass"), lit(0.0))).as("pr")))
    }
    // prCk is never closed: the returned plan reads the final rank
    // generation (only superseded ones were freed round by round).
    // The edge snapshot backs nothing after the loop — deg and every
    // surviving rank generation are materialized — so it is freed.
    edgeCk.close()
    directed.unpersist(blocking = false)
    pr.crossJoin(broadcast(n))
      .select(col("node"), col("deg"),
        round(col("pr") * col("n"), 6).as("pr_norm"))
  }
}
