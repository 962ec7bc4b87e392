package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an edge list — the clustering step of a
  * near-duplicate dedup pipeline: LSH emits candidate PAIRS
  * ([[Dedup.minHashLsh]]), but retention decisions need whole CLUSTERS
  * (keep one canonical document per component). Engine extension — the
  * reference has no graph operator.
  *
  * Algorithm: iterated min-label propagation. Every node starts
  * labelled with itself; each round every node takes the minimum of its
  * own label and its neighbors' labels; stop when no label changes.
  * The fixpoint assigns every node the smallest node id in its
  * component — a canonical, partition-independent result.
  *
  * Scale notes (100 TB):
  *  - Each round is one shuffle: an equi-join of the edge list with the
  *    current labels plus a map-side-combinable `min` aggregation. No
  *    step materializes anything larger than |edges|.
  *  - Rounds needed = graph diameter. Near-dup components are dense and
  *    tiny (near-cliques of copies), so diameter is small — single
  *    digits. For adversarial long-path graphs, the alternating
  *    large-star/small-star rewrite (Kiveris et al., "Connected
  *    Components in MapReduce and Beyond", SoCC'14) converges in
  *    O(log²) rounds with the same per-round join shape; this operator
  *    deliberately ships the simple variant and caps rounds explicitly
  *    rather than hiding an unbounded loop.
  *  - `localCheckpoint` truncates the plan each round — without it the
  *    lineage (and codegen) grows linearly with iterations.
  */
object Graph {

  /** Components of the undirected graph given by (`aCol`, `bCol`) pairs.
    * Returns one row per distinct node: (node, component) where
    * component = min node id reachable. Fails rather than returning a
    * partial result if `maxIters` rounds don't reach the fixpoint. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 30): DataFrame = {
    // Materialize the edge list BEFORE the symmetrizing self-union:
    // union branches are separate plan subtrees, so an expensive edge
    // producer (e.g. the LSH candidate pipeline) would be evaluated
    // twice — measured 12.5 s → 5 s on the q53 shape at sf0.1.
    val fwd = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
      .localCheckpoint()
    val und = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()

    // ROUND 1 UNROLLED (r21, guide §2.4 "remove shuffles outright"):
    // the initial labelling is the identity, so round 1's
    // join-with-labels is label(dst) = dst — algebraically just
    // min-neighbor: component = least(node, min(dst)), changed iff
    // min(dst) < node. One aggregate instead of identity-labels
    // distinct + checkpoint + join + aggregate + join (and every node
    // appears as a src in the symmetrized edge list, so the aggregate
    // covers exactly the node set the identity labelling did).
    var labels = und.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nbr_min"))
      .select(col("node"),
        least(col("node"), col("nbr_min")).as("component"),
        (col("nbr_min") < col("node")).as("_changed"))
      .localCheckpoint()
    var converged = labels.filter(col("_changed")).isEmpty
    labels = labels.drop("_changed")
    var round = 1
    while (!converged && round < maxIters) {
      val nbrMin = und.join(labels, und("dst") === labels("node"))
        .groupBy(und("src").as("n"))
        .agg(min(col("component")).as("nbr_min"))
      // The change flag rides along in the same materialization, so
      // convergence costs a local scan of the checkpointed round — not
      // an extra join + shuffle per iteration.
      val next = labels.join(nbrMin, labels("node") === nbrMin("n"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"),
          (coalesce(col("nbr_min"), col("component")) < col("component"))
            .as("_changed"))
        .localCheckpoint()
      converged = next.filter(col("_changed")).isEmpty
      // the eager checkpoint above superseded the previous generation —
      // free it, or `rounds` label tables pile up in the block manager
      graft.Checkpoints.free(labels)
      labels = next.drop("_changed")
      round += 1
    }
    und.unpersist()
    // the final labels are checkpointed, so the edge list is dead too
    graft.Checkpoints.free(fwd)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "raise maxIters or use connectedComponentsStar for long-path graphs")
    labels
  }

  /** Synchronous label-propagation communities over the undirected
    * (`aCol`, `bCol`) graph — a FIXED number of rounds of "adopt the
    * label most common among your neighbors" (ties: the smallest
    * label). Where [[connectedComponents]] answers reachability
    * (every near-dup belongs together), label propagation finds the
    * DENSE regions inside a component — topic clusters in a similarity
    * graph, communities in an interaction graph.
    *
    * Deterministic by construction: all nodes update simultaneously
    * from the previous round's labels (no asynchronous order
    * dependence), and the winning label maximizes the integer score
    * `count·2^40 − label` (count < 2^23 neighbors, label < 2^40), so
    * `max_by` never sees a tie. Fixed `rounds` rather than
    * convergence: synchronous LPA can oscillate on bipartite
    * structures, so production runs pick a round budget — and a fixed
    * unrolling is also what a cross-engine oracle can express.
    *
    * Per round: one equi-join (edges × labels) + one count aggregate +
    * one argmax aggregate — all map-side combinable, the [[pageRankInt]]
    * shuffle shape. Rounds are checkpoint-truncated and superseded
    * generations freed. Isolated nodes don't occur (every node is an
    * edge endpoint by construction). Output: (node, label). */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20], got $rounds — each round is a " +
        "distributed join; budget it explicitly")
    val fwd = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
      .localCheckpoint()
    val und = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()

    // ROUND 1 UNROLLED (r21, guide §2.4): the initial labelling is the
    // identity, so round 1's neighbor labels ARE the neighbors — every
    // (src, label) group has count exactly 1 (und is distinct), and
    // the argmax score c·2^40 − label degenerates to "smallest
    // neighbor id". One min-aggregate replaces identity-labels
    // distinct + checkpoint + join + count-aggregate + argmax.
    var labels = und.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("label"))
      .localCheckpoint()
    (2 to rounds).foreach { _ =>
      // Two exchanges per round, DELIBERATELY (r22): a repartition(src)
      // between join and aggregates would fold them to one (hash(src)
      // satisfies both clusterings) and measured ~4% faster at fixture
      // scale — but it shuffles the RAW |E|-row join output where the
      // (src, label) exchange ships map-side partially-aggregated
      // counts, which on a converging label graph at scale is far
      // fewer bytes (guide §2.3, aggregate before you shuffle). Kept
      // the combine-friendly form.
      val next = und.join(labels, und("dst") === labels("node"))
        .groupBy(und("src").as("n"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("n").as("node"))
        .agg(max_by(col("label"),
          col("c") * lit(1L << 40) - col("label")).as("label"))
        .localCheckpoint()
      graft.Checkpoints.free(labels)
      labels = next
    }
    und.unpersist()
    graft.Checkpoints.free(fwd)
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): converges in O(log²) rounds of the
    * component size — the variant for graphs whose DIAMETER makes
    * min-label propagation ([[connectedComponents]]) impractical
    * (long paths, comment chains, linked crawls).
    *
    * Each phase is one groupBy-min plus an equi-join — no per-node
    * neighborhood collection, so hub nodes never materialize an
    * in-memory adjacency list:
    *  - large-star: every neighbor v > u re-attaches to
    *    m(u) = min(Γ(u) ∪ u);
    *  - small-star: every neighbor v ≤ u (and u itself) re-attaches
    *    to m(u).
    * The fixpoint is a forest of stars: every node holds an edge to its
    * component's minimum, which is the same canonical labelling the
    * propagation variant produces. */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
                              maxIters: Int = 50): DataFrame = {
    val raw = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .localCheckpoint()
    // every endpoint is a node, even if its only edges are self-loops
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node"))).distinct().localCheckpoint()
    val init = raw.filter(col("u") =!= col("v"))

    def centered(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))

    def phase(e: DataFrame, large: Boolean): DataFrame = {
      val und = centered(e)
      val mins = und.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val attach = und.join(mins, "u")
      val out =
        if (large) attach.filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        else attach.filter(col("v") < col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(mins.select(col("u"), col("m").as("v")))
      out.filter(col("u") =!= col("v")).distinct()
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
        .localCheckpoint()
    }

    var cur = init
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint()
    // nodes and cur are both checkpointed now; the raw edge list is dead
    graft.Checkpoints.free(raw)
    var converged = false
    var round = 0
    while (!converged && round < maxIters) {
      val mid = phase(cur, large = true)
      val next = phase(mid, large = false)
      graft.Checkpoints.free(mid)
      converged = next.except(cur).isEmpty && cur.except(next).isEmpty
      graft.Checkpoints.free(cur)
      cur = next
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIters rounds")
    // Fixpoint stars: (u=node, v=root). Roots appear only on the v side.
    nodes.join(cur, nodes("node") === cur("u"), "left")
      .select(col("node"), coalesce(col("v"), col("node")).as("component"))
  }

  /** Fixed-iteration PageRank in PURE INTEGER arithmetic (ranks scaled
    * by `scale`), over a directed edge list (`srcCol`, `dstCol`) in
    * which every node must appear as a source (true for symmetrized
    * undirected graphs — the q88 usage; dangling nodes would need a
    * redistribution term this operator deliberately omits).
    *
    * Why integer: float PageRank sums per-node contributions in
    * nondeterministic order, so results differ run-to-run and
    * engine-to-engine in low bits. With ranks as scaled BIGINTs,
    * contribution = `rank div outdeg` and damping = `(85·Σ) div 100`
    * are exact and associative — any engine (and any partitioning)
    * computes bit-identical ranks, which is what lets a SQL oracle
    * recompute the iteration verbatim.
    *
    * Per iteration: one equi-join of edges (with static out-degrees)
    * against the current rank vector + one map-side-combinable sum —
    * the same shuffle shape as [[connectedComponents]], O(|E|) rows
    * moved, no state bigger than the rank vector. `localCheckpoint`
    * truncates the growing plan per round.
    */
  /** Per-vertex TRIANGLE COUNTS — the cohesion census of an undirected
    * graph (triangle-dense near-dup components are near-cliques of
    * copies; triangle-free ones are chains of borderline matches).
    *
    * Degree-ordered orientation: every undirected edge points from its
    * lower-(degree, id) endpoint to the higher. Out-degrees are then
    * capped at O(√m), so the wedge self-join's per-vertex fan-out is
    * bounded — an id-ordered orientation would let one hub emit
    * O(deg²) wedges, the triangle-counting heavy-hitter failure mode.
    * Each triangle is found exactly once: the wedge at its
    * order-minimal vertex, closed by the oriented third edge. The
    * (degree, id) order is total and data-derived, so any engine
    * reproduces the exact orientation.
    *
    * Shapes: degree attach = two broadcast-or-shuffle equi-joins on
    * endpoints; wedge join + closing join shuffle on vertex keys; the
    * final per-vertex count is map-side combinable. No windows, no
    * driver state, nothing materializes beyond O(wedges). */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // canonical undirected edge set: a < b, no self-loops, distinct.
    // localCheckpoint: deg, both wedge sides, and the closing join all
    // re-consume this frame — without truncation each consumer would
    // recompute the whole upstream pipeline (q110's edges are a full
    // LSH run; measured 5.7 → 4.9 s, the remainder being the tiny
    // downstream stages' fixed scheduling cost, not recomputation).
    val und = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient by (degree, id): src = lower endpoint in that order
    val withDeg = und
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
    val before = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(before, col("a")).otherwise(col("b")).as("u"),
      when(before, col("b")).otherwise(col("a")).as("v"),
      when(before, col("db")).otherwise(col("da")).as("dv"))
    // wedges at the order-minimal vertex, closed by the oriented edge
    val x = oriented.select(col("u"), col("v").as("v1"), col("dv").as("d1"))
    val y = oriented.select(col("u"), col("v").as("v2"), col("dv").as("d2"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val triangles = wedges.join(
      oriented.select(col("u").as("v1"), col("v").as("v2")),
      Seq("v1", "v2"))
      .select(col("u"), col("v1"), col("v2"))
    val perVertex = triangles.select(col("u").as("v"))
      .union(triangles.select(col("v1").as("v")))
      .union(triangles.select(col("v2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg.join(perVertex, Seq("v"), "left")
      .select(col("v").as("node"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int, scale: Long = 1000000000000L): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().localCheckpoint()
    // ONE endpoint aggregation, checkpointed and reused four ways: the
    // dangling-node guard, the node count, the OUT-DEGREES (the sum of
    // src markers is exactly outdeg — dst rows contribute 0), and the
    // initial rank vector. Folding the degree computation in makes the
    // guard net-free: r5 spent the same shuffle on a separate
    // `groupBy("src")` degree aggregation.
    val endpoints = e.select(col("src").as("node"), lit(1L).as("c"))
      .union(e.select(col("dst").as("node"), lit(0L).as("c")))
      .groupBy("node")
      .agg(sum(col("c")).as("outdeg"), max(col("c")).as("is_src"))
      .localCheckpoint()
    // Every-node-is-a-source precondition, ENFORCED: a dangling node
    // (appears only as a destination) silently leaks rank mass — the
    // iteration drops its incoming rank instead of redistributing it,
    // mis-ranking everything downstream with no error. The check is a
    // local filter on the node-sized checkpoint — free next to `iters`
    // join rounds. Symmetrized undirected graphs (the near-dup usage)
    // satisfy it by construction.
    val dangling = endpoints.filter(col("is_src") === 0L)
    require(dangling.isEmpty,
      "pageRankInt requires every node to appear as a source; dangling " +
        "destinations found (e.g. " +
        dangling.limit(3).collect().map(_.get(0)).mkString(", ") +
        ") — add self-loops or a redistribution term, or symmetrize " +
        "the graph")
    val n = endpoints.count()
    val base = scale / n
    val teleport = base * 15L / 100L
    // The degree-tagged edge list checkpoints HASH-PARTITIONED BY dst
    // (the kCorePeel layout trick): every iteration's contribution
    // aggregate groups by dst, so all `iters` rounds reuse this one
    // exchange instead of re-shuffling their partially-aggregated
    // contributions. One up-front edge shuffle buys `iters`
    // post-partial-agg exchanges — a clear win at low iteration
    // counts and at worst a wash when partial aggregation compresses
    // heavily.
    val withDeg = graft.Checkpoints.localCheckpointKeepingPartitioning(
      e.join(endpoints.select(col("node").as("src"), col("outdeg")), "src")
        .repartition(col("dst")))
    var ranks = endpoints.select(col("node"), lit(base).as("rank"))
    var prevCkpt: DataFrame = null
    for (i <- 1 to iters) {
      // ITERATION 1 UNROLLED (r21, guide §2.4): the initial rank
      // vector is the constant `base`, so the join against it is a
      // no-op — contribution = base div outdeg comes straight off the
      // degree-tagged edge list, saving the first rank-vector join
      // (one shuffle round of |E| rows).
      val contrib =
        if (i == 1)
          withDeg.select(col("dst"),
            expr(s"${base}L div outdeg").as("c"))
        else
          withDeg.join(ranks, col("src") === col("node"))
            .select(col("dst"), expr("rank div outdeg").as("c"))
      ranks = contrib
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_sum"))
        .select(col("dst").as("node"),
          (lit(teleport) + expr("(85 * in_sum) div 100")).as("rank"))
      // truncate lineage between rounds; the LAST round flows straight
      // into the caller's plan — checkpointing it would just add an
      // extra materializing action. Superseded round checkpoints (and,
      // after round 1, the raw edge list — withDeg replaces it) are
      // freed as soon as the next generation materializes.
      if (i < iters) {
        ranks = ranks.localCheckpoint()
        if (prevCkpt != null) graft.Checkpoints.free(prevCkpt)
        if (i == 1) graft.Checkpoints.free(e, endpoints)
        prevCkpt = ranks
      }
    }
    ranks
  }

  /** k-core peeling, `rounds` fixed iterations: repeatedly delete
    * nodes of degree < `k` (with their edges) from the UNDIRECTED
    * graph; survivors of the fixpoint form the k-core — the standard
    * densest-region filter (spam rings, tight near-dup families)
    * whose cascade a single degree filter cannot see: removing the
    * ends of a chain strands their neighbors, round after round.
    *
    * Fixed `rounds` rather than convergence-test-per-round keeps the
    * result a pure function of (graph, k, rounds) — cross-engine
    * checkable by an unrolled oracle — and peeling is monotone, so
    * once converged, further rounds are no-ops: pick `rounds` ≥ the
    * expected cascade depth (it is ≤ the graph's degeneracy ordering
    * depth; a convergence-driven caller can compare successive round
    * counts). Per round: one degree aggregation (map-side combinable)
    * + two semi-joins to drop edges of deleted nodes — all shuffles
    * on the node id, no all-pairs anything. Superseded per-round edge
    * checkpoints are freed as the next generation materializes.
    *
    * Partitioning: the symmetrized edge list is hash-partitioned by
    * `u` ONCE up front and every per-round checkpoint preserves that
    * layout (semi-joins keep the streamed side's partitioning), so
    * the per-round degree aggregate, the u-side semi-join, and the
    * final degree aggregate all reuse one exchange instead of
    * re-shuffling the edge list each round. The dedupe itself rides
    * the same exchange: hashpartitioning(u) satisfies
    * ClusteredDistribution(u, v), so dropDuplicates after the
    * repartition is partition-local. The checkpoints materialize on
    * a session clone with AQE off
    * ([[graft.Checkpoints.localCheckpointKeepingPartitioning]]):
    * LogicalRDD.fromDataset cannot extract the output partitioning
    * from an AdaptiveSparkPlanExec (measured: the checkpoint scan
    * degrades to UnknownPartitioning and every round re-exchanges).
    * The caller's session keeps AQE on throughout, so later queries
    * and the final aggregate still plan adaptively. In the
    * materialized rounds the join strategy is unaffected (the keep
    * side is statically broadcast from carried stats), and the only
    * AQE feature given up is small-partition coalescing on shuffles
    * this layout removes outright.
    *
    * Output: (node, degree) of the surviving subgraph. */
  def kCorePeel(edges: DataFrame, aCol: String, bCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    val fwd = edges.select(col(aCol).as("u"), col(bCol).as("v"))
    var e = graft.Checkpoints.localCheckpointKeepingPartitioning(
      fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
        .repartition(col("u"))
        .dropDuplicates("u", "v"))
    var prev: DataFrame = e
    for (r <- 1 to rounds) {
      val keep = e.groupBy("u").agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k)
        .select(col("u").as("_keep"))
      val next = e
        .join(keep, col("u") === col("_keep"), "left_semi")
        .join(keep, col("v") === col("_keep"), "left_semi")
      if (r < rounds) {
        e = graft.Checkpoints.localCheckpointKeepingPartitioning(next)
        graft.Checkpoints.free(prev)
        prev = e
      } else {
        e = next
      }
    }
    e.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** NEWMAN MODULARITY of a node partition — the standard "is this
    * clustering better than chance" score for a community assignment
    * (Newman & Girvan 2004): Q = Σ_c [ m_c/m − (d_c/2m)² ] over
    * communities c, with m undirected edges, m_c intra-community
    * edges, d_c the community's degree sum. The evaluation closes the
    * loop on [[labelPropagation]]/[[connectedComponents]] the way
    * q182 closes it on LSH banding: a partition you cannot score is a
    * partition you cannot tune.
    *
    * Exactness contract: m, Σm_c, Σd_c² are exact integer aggregates;
    * Q enters floating point only in ONE fixed expression —
    * floor(1e6 · (4·m·Σm_c − Σd_c²) / (4·m²)) over correctly-rounded
    * int→double casts — so both engines compute bit-identical
    * `modularity_micro` (the q169 corr-matrix discipline). Note the
    * integer numerator may round in the int→double cast past 2^53;
    * determinism still holds (same cast both sides), stated.
    *
    * Shape at scale: two node-key equi-joins to tag edge endpoints
    * with labels (co-partitioned on the node key), one degree
    * aggregate, then everything folds to scalars — no corpus-sized
    * state past the joins. `edges` must be the UNDIRECTED-DEDUPED
    * edge list (one row per edge, no self-loops), the
    * [[labelPropagation]] input convention.
    * Returns ONE row: (n_edges, n_communities, intra_edges,
    * modularity_micro). */
  def modularity(edges: DataFrame, labels: DataFrame, aCol: String,
                 bCol: String, nodeCol: String, labelCol: String): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("_a"),
      col(bCol).cast("long").as("_b"))
    val la = labels.select(col(nodeCol).cast("long").as("_a"),
      col(labelCol).cast("long").as("_la"))
    val lb = labels.select(col(nodeCol).cast("long").as("_b"),
      col(labelCol).cast("long").as("_lb"))
    val stats = e.join(la, "_a").join(lb, "_b")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("_la") === col("_lb"), 1L).otherwise(0L))
          .as("intra_edges"))
    val deg = e.select(col("_a").as("_v"))
      .unionAll(e.select(col("_b").as("_v")))
      .groupBy("_v").agg(count(lit(1)).as("_deg"))
    val dc = deg
      .join(labels.select(col(nodeCol).cast("long").as("_v"),
        col(labelCol).cast("long").as("_l")), "_v")
      .groupBy("_l").agg(sum(col("_deg")).as("_dc"))
      .agg(count(lit(1)).as("n_communities"),
        sum(col("_dc") * col("_dc")).as("_d2"))
    stats.crossJoin(dc)
      .select(col("n_edges"), col("n_communities"), col("intra_edges"),
        floor(lit(1000000.0) *
          (lit(4L) * col("n_edges") * col("intra_edges") - col("_d2"))
            .cast("double") /
          (lit(4L) * col("n_edges") * col("n_edges")).cast("double"))
          .cast("long").as("modularity_micro"))
  }
}
