package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation
  * — the MapReduce-CC family of Kiveris et al., "Connected Components
  * in MapReduce and Beyond" (SoCC 2014): each round every node takes
  * the min of its own label and its neighbors' (two joins + one
  * aggregation per round), converging in ≤ diameter rounds. No
  * driver-side graph; state is a (id, label) DataFrame.
  *
  * Propagation runs over the EDGE SUBGRAPH only — isolated nodes can
  * never change label, so at corpus scale the per-round joins touch
  * the (tiny) pair graph, not the whole corpus; singletons union back
  * in at the end with label = self. Round state is node-sized and
  * eagerly lineage-cut once per round (`State.cut`, the
  * round-7 iterative-state lesson): each round references the
  * previous frame twice, so lazily persisted generations nest into a
  * 2^rounds plan tree that driver-side stringification walks — fatal
  * on long-diameter components even though execution itself is
  * cache-shared.
  *
  * Shared by d7 (text near-dup clusters) and d8 (embedding semantic
  * dedup).
  */
object Graph {

  /** Normalized undirected edge frame (canonical orientation, self
    * loops dropped, duplicates collapsed, both directions emitted),
    * hash-partitioned on the source endpoint and EAGERLY checkpointed
    * ONCE. Iterative operators reference their edge frame every round,
    * and each lazy reference re-derives the normalize/dedup SHUFFLE
    * from the pair artifact — measured 3–4× on g5's 4-round BFS
    * (5.9 s → 1.3 s at sf0.1). [[State.cut]] preserves the reported
    * hash partitioning, so per-round equi-joins on `a` reuse it. At
    * cluster scale this is the one-time "adjacency artifact"
    * materialization every BSP graph system performs before
    * iterating. */
  private[graft] def materializedEdges(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(ca, cb) = pairs.columns.take(2)
    val p = pairs
      .select(least(col(ca), col(cb)).as("a"), greatest(col(ca), col(cb)).as("b"))
      .filter($"a" =!= $"b").dropDuplicates("a", "b")
    State.cut(p.unionAll(p.select($"b".as("a"), $"a".as("b"))).repartition($"a"))
  }

  /** @param pairs    undirected edges, one row per pair; the first two
    *                 columns are the endpoints
    * @param nodes    ALL node ids (single column) — nodes without
    *                 edges come back as singletons (label = self)
    * @param cacheKey scopes the per-round persisted state
    * @return (id, label) with label = min node id of the component
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
                          cacheKey: String, maxIters: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(ca, cb) = pairs.columns.take(2)
    // normalized defensively like every sibling operator (kCore/
    // bfsHops/triangles): duplicated or pre-mirrored input pairs would
    // otherwise inflate EVERY propagation round's join — labels stay
    // identical (min-propagation tolerates multi-edges), only the cost
    // wouldn't
    val p = pairs
      .select(least(col(ca), col(cb)).as("a"), greatest(col(ca), col(cb)).as("b"))
      .filter($"a" =!= $"b").dropDuplicates("a", "b")
    val edges = Indexes.swap(s"$cacheKey:edges",
      p.unionAll(p.select($"b".as("a"), $"a".as("b"))))
    // round state is eagerly lineage-CUT per round (localCheckpoint),
    // not lazily persisted: each round references the previous frame
    // TWICE (the carry join + the frontier filter), so lazy nested
    // generations make every listener plan-description walk a
    // 2^rounds tree — fatal exactly when a component's diameter is
    // long (observed on s28's near-threshold ε-graph: 2 GB plan
    // strings and ~25 s/round of stringification by round 17, for a
    // 55-node subgraph). The eager cut is the round-7 iterative-state
    // lesson; node-sized frames make the per-round job cheap.
    var labels = State.cut(edges.select($"a".as("id")).distinct()
      .select($"id", $"id".as("label")))
    // FRONTIER propagation: only nodes whose label CHANGED last round
    // push it this round. Sound because min-propagation is monotone —
    // an unchanged neighbor's label was already incorporated the round
    // it last changed, so dropping it from the aggregation loses
    // nothing, and each round's labels are IDENTICAL to the full
    // synchronous sweep's. Per-round join work is ∝ Σ deg(frontier)
    // (shrinking fast on small-diameter near-dup graphs) instead of a
    // full edges×labels join every round — the last rounds, where
    // almost nothing changes, become almost free. Round 0 starts with
    // everyone in the frontier (= the full first sweep).
    var frontier = labels
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges.join(frontier, edges("b") === frontier("id"))
        .groupBy($"a").agg(min($"label").as("nbr_label"))
      // previous label carried through the round: convergence is one
      // filter on the checkpointed frame, not an extra join; nodes
      // with no changed neighbor keep their label via the left join
      val viaNbr = labels.join(nbrMin, labels("id") === nbrMin("a"), "left")
        .select(labels("id"),
          least(coalesce($"nbr_label", labels("label")), labels("label")).as("label"),
          labels("label").as("__old"))
      // POINTER JUMPING (Kiveris et al., "Connected Components in
      // MapReduce and Beyond"): additionally adopt label(label(v)) —
      // every label IS a node id present in this frame, and labels
      // only ever shrink, so the hop is one inner self-join that
      // halves the remaining path to the minimum each round:
      // convergence in O(log diameter) rounds instead of O(diameter).
      // Plain propagation needed ~17 rounds on s28's near-threshold
      // ε-graph chains; at 100 TB an ε-graph's chains are unbounded,
      // so diameter-limited convergence is the real scale hazard the
      // maxIters guard was tripping on.
      val ptr = viaNbr.select($"id".as("__pid"), $"label".as("__plabel"))
      val next = State.cut(viaNbr.join(ptr, viaNbr("label") === $"__pid")
        .select(viaNbr("id"), least(viaNbr("label"), $"__plabel").as("label"),
          viaNbr("__old")))
      changed = next.filter($"label" =!= $"__old").count()
      // round r is materialized — free round r−1's storage blocks now
      // instead of waiting for the ContextCleaner's GC cycle
      State.release(labels)
      labels = next.select($"id", $"label")
      frontier = next.filter($"label" =!= $"__old").select($"id", $"label")
      iter += 1
    }
    // silent non-convergence would emit non-minimal labels and desync
    // any transitive-closure oracle — fail loudly instead
    require(changed == 0,
      s"connectedComponents($cacheKey) did not converge in $maxIters rounds " +
        "(component diameter too large)")
    // labels is already a flat LogicalRDD (the per-round eager cut),
    // so downstream consumers pay O(1) plan depth; on a real cluster
    // set spark.graft.checkpointDir ([[State.CheckpointDirKey]]) and
    // every round cut becomes a RELIABLE checkpoint that survives
    // executor loss.
    val converged = labels
    val idCol = nodes.columns.head
    val singletons = nodes.select(col(idCol).as("id"))
      .join(edges.select($"a".as("id")).distinct(), Seq("id"), "left_anti")
      .select($"id", $"id".as("label"))
    converged.unionAll(singletons)
  }

  /** Fixed-round multi-source BFS hop distance from the graph's
    * LOCAL-MINIMUM nodes (id smaller than every neighbor's — exactly
    * the nodes that win round 1 of [[connectedComponents]]' min-label
    * propagation, computable in one aggregation). Nodes unreached
    * within the round budget report hops = -1 (fixed rounds keep the
    * plan static — the kCore convention; the budget is part of the
    * result's contract).
    *
    * Scale shape: textbook frontier BFS on DataFrames — per round ONE
    * join of the edge list against the just-reached frontier (never
    * the full reached set), an anti-join against the node-sized state
    * to keep first-touch hops, and a localCheckpoint of the linear
    * (id, hops) state (lineage cut per round; production would
    * checkpoint reliably). Total join work over all rounds ≤
    * Σ deg(reached) ≤ 2m.
    *
    * @param pairs undirected edges; first two columns are the
    *              endpoints. Normalized defensively like [[kCore]]
    *              (orientation canonicalized, self-loops dropped,
    *              duplicates collapsed).
    * @return one row per node of `pairs`: (id, hops ≥ 0 | -1)
    */
  def bfsHops(pairs: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"bfsHops needs rounds >= 1, got $rounds")
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = materializedEdges(pairs)
    val nodes = edges.select($"a".as("id")).distinct()
    val seeds = edges.groupBy($"a".as("id")).agg(min($"b").as("mn"))
      .filter($"id" < $"mn").select($"id", lit(0L).as("hops"))
    var state = State.cut(seeds)
    for (r <- 1 to rounds) {
      val frontier = state.filter($"hops" === (r - 1).toLong)
      val next = edges.join(frontier, edges("a") === frontier("id"))
        .select(edges("b").as("id")).distinct()
        .join(state, Seq("id"), "left_anti")
        .select($"id", lit(r.toLong).as("hops"))
      // lineage cut EVERY round: batching the cut to every other round
      // was measured SLOWER (3.0–3.5 s vs 2.25 s at sf0.1 full-run) —
      // the un-cut round's anti-join and the following round both
      // re-derive the lazy union+join, which costs more than one
      // node-sized checkpoint job saves. Same conclusion as g4's
      // variant audit: materialize the linear state each round.
      val prev = state
      state = State.cut(state.unionAll(next))
      State.release(prev)
    }
    nodes.join(state, Seq("id"), "left")
      .select($"id", coalesce($"hops", lit(-1L)).as("hops"))
  }

  /** Per-node triangle counts by degree-ordered edge orientation — the
    * MapReduce triangle-enumeration scheme of Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer" (WWW 2011):
    * orient every undirected edge from its lower-(degree, id) endpoint
    * to the higher, enumerate wedges only at each edge's LOWER-ranked
    * endpoint, and close them against the oriented edge set. Every
    * triangle is produced exactly once (at its minimum-rank vertex).
    *
    * The orientation is the whole scale story: out-degree under
    * degree-ranking is O(√m), so the wedge shuffle is Σ outdeg² =
    * O(m^1.5) TOTAL and — unlike naive wedge counting at every vertex —
    * a hub with degree h generates 0 wedges instead of h² ("the curse
    * of the last reducer"). Three equi-joins + one aggregation, all
    * shuffles keyed on node ids; no driver-side adjacency.
    *
    * @param pairs undirected edges; first two columns are the
    *              endpoints (normalized + deduped internally, self
    *              loops dropped)
    * @return (id, degree, triangles) for every node with ≥1 edge
    */
  def triangles(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(ca, cb) = pairs.columns.take(2)
    val p = pairs
      .select(least(col(ca), col(cb)).as("a"), greatest(col(ca), col(cb)).as("b"))
      .filter($"a" =!= $"b").dropDuplicates("a", "b")
    val und = p.unionAll(p.select($"b".as("a"), $"a".as("b")))
    // THREE consumers (both withDeg joins, the final output join) —
    // node-sized, checkpointed once per the multi-consumer rule
    val deg = State.cut(und.groupBy($"a".as("id")).agg(count(lit(1)).as("deg")))
    val withDeg = p
      .join(deg.select($"id".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"id".as("b"), $"deg".as("db")), "b")
    // (u → v) with rank(u) < rank(v), rank = (deg, id); dv carried so
    // wedge endpoints can be rank-ordered without another deg join
    // THREE consumers below (wedge left side, wedge right side, the
    // closure probe) — materialized once so the normalize/dedup
    // shuffle and the two degree joins don't re-run per reference
    // (the g5 lesson); edge-sized, so the checkpoint is as cheap as
    // one pass over the pair artifact
    val oriented = State.cut(withDeg.select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"),
          struct($"a".as("u"), $"b".as("v"), $"db".as("dv")))
          .otherwise(struct($"b".as("u"), $"a".as("v"), $"da".as("dv"))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"), $"e.dv".as("dv")))
    val o2 = oriented.select($"u".as("u2"), $"v".as("w"), $"dv".as("dw"))
    val wedges = oriented.join(o2, $"u" === $"u2" &&
        ($"dv" < $"dw" || ($"dv" === $"dw" && $"v" < $"w")))
      .select($"u", $"v", $"w")
    val tris = wedges.join(
      oriented.select($"u".as("cv"), $"v".as("cw")),
      $"v" === $"cv" && $"w" === $"cw")
    val perNode = tris.select($"u".as("id"))
      .unionAll(tris.select($"v".as("id")))
      .unionAll(tris.select($"w".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("id"), "left")
      .select($"id", $"deg".as("degree"),
        coalesce($"triangles", lit(0L)).as("triangles"))
  }

  /** Per-community MODULARITY contributions (Newman & Girvan 2004)
    * for ANY partition of ANY undirected graph:
    * Q_c = e_c/m − (d_c/2m)², as ×1e6 integers in the OVERFLOW-SAFE
    * staged form — the degree share d_c/2m becomes a ≤1e6 integer
    * BEFORE squaring, because the naive d_c²·1e6 numerator overflows
    * long once m ≳ 10⁹ edges. Both halfUp divisions see only
    * non-negative operands (where Spark's floor and DuckDB's
    * truncation agree); q_e6 itself may be negative but is a pure
    * subtraction. Nodes of `pairs` missing from `labels` are dropped
    * from the audit (their edges still count toward m).
    *
    * @param pairs  undirected edges; first two columns are the
    *               endpoints. Normalized defensively like [[kCore]].
    * @param labels (id, community) — any partition (LP, CC, an
    *               external clustering)
    * @return (community, comm_size, in_edges, deg_sum, q_e6)
    */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val halfUp = graft.functions.IntMath.halfUpDiv _
    val Array(ca, cb) = pairs.columns.take(2)
    // p has THREE consumers below (m scalar, intra join, degree sum) —
    // materialized once so the normalize/dedup shuffle doesn't re-run
    // per reference (the g5 lesson; ReuseExchange does not survive
    // AQE's per-branch re-planning)
    val p = State.cut(pairs
      .select(least(col(ca), col(cb)).as("a"), greatest(col(ca), col(cb)).as("b"))
      .filter($"a" =!= $"b").dropDuplicates("a", "b"))
    val edges = p.unionAll(p.select($"b".as("a"), $"a".as("b")))
    val deg = edges.groupBy($"a".as("id")).agg(count(lit(1)).as("deg"))
    val Array(li, lc) = labels.columns.take(2)
    val lab = labels.select(col(li).as("id"), col(lc).as("community"))
    val mF = p.agg(count(lit(1)).as("m"))
    val intra = p
      .join(lab.select($"id".as("a"), $"community".as("ca")), Seq("a"))
      .join(lab.select($"id".as("b"), $"community".as("cb")), Seq("b"))
      .filter($"ca" === $"cb")
      .groupBy($"ca".as("community")).agg(count(lit(1)).as("in_edges"))
    val dc = lab.join(deg, Seq("id"))
      .groupBy($"community")
      .agg(count(lit(1)).as("comm_size"), sum($"deg").as("deg_sum"))
    dc.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(mF))
      .select($"community", $"comm_size",
        coalesce($"in_edges", lit(0L)).as("in_edges"), $"deg_sum",
        (halfUp(coalesce($"in_edges", lit(0L)) * 1000000L, $"m") -
          halfUp(halfUp($"deg_sum" * 1000000L, $"m" * 2L) *
                 halfUp($"deg_sum" * 1000000L, $"m" * 2L), lit(1000000L)))
          .as("q_e6"))
  }

  /** Fixed-round k-CORE PEELING (Seidman 1983; synchronous distributed
    * rounds à la Montresor/De Pellegrini/Miorandi 2011): each round
    * computes degrees within the surviving subgraph and drops every
    * node with degree < k. Fixed `rounds` keeps the plan static (the
    * g1/g3 convention — the round count is part of the result's
    * contract; a full peel iterates to fixpoint).
    *
    * @param pairs undirected edges; first two columns are the
    *              endpoints. Normalized defensively like
    *              [[triangles]] (orientation canonicalized,
    *              self-loops dropped, duplicates collapsed), so a
    *              caller with a messier edge list than d2Pairs'
    *              cannot silently double degrees.
    * @return one row per node of `pairs`: (id, peel_round, core_deg)
    *         — peel_round = the round that dropped the node (0 =
    *         survives all rounds), core_deg = degree within the
    *         surviving subgraph (0 for dropped nodes).
    *
    * Scale shape — the DIED-COUNT recurrence, not per-round induced
    * subgraphs: a survivor's degree in round r's surviving subgraph is
    * its ORIGINAL degree minus its neighbors peeled so far,
    *     deg_r(v) = deg_0(v) − Σ_{r'<r} |nbrs(v) ∩ died_{r'}|,
    * so each round joins the edge list against only the JUST-DIED set
    * (shrinking every round — the total join work over all rounds is
    * Σ deg(died) ≤ 2m, versus re-semi-joining the FULL edge list per
    * round), plus one node-sized state update. The whole peel state is
    * one (id, deg, peel_round) frame updated linearly — one
    * localCheckpoint per round cuts the self-referencing lineage (the
    * frame is node-sized; a production run would persist or checkpoint
    * reliably, [[connectedComponents]]' caveat). Round 5 materialized
    * each round's induced-subgraph degree instead: correct, but 2
    * semi-joins + a 3-branch plan per round — 3.5× slower under load
    * (and the lazy no-materialization variant re-derives every prior
    * round per reference, measured 80+ s at sf0.1). */
  def kCore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    // the state recurrence bakes round 1's peel into the initial
    // frame, so a 0-round call would mislabel low-degree nodes as
    // peeled — and a "0-round peel" is just the degree table anyway
    require(rounds >= 1, s"kCore needs rounds >= 1, got $rounds")
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = materializedEdges(pairs)
    val deg0 = edges.groupBy($"a".as("id")).agg(count(lit(1)).as("deg"))
    // peel state: (id, deg within surviving subgraph, peel_round with
    // 0 = still alive); round 1 peels straight off the full degrees
    var st = State.cut(deg0.withColumn("peel_round",
      when($"deg" < k, lit(1L)).otherwise(lit(0L))))
    for (r <- 2 to rounds) {
      val died = st.filter($"peel_round" === (r - 1)).select($"id".as("dead"))
      val lost = edges.join(died, $"b" === $"dead")
        .groupBy($"a".as("id")).agg(count(lit(1)).as("lost"))
      val prev = st
      st = State.cut(st.join(lost, Seq("id"), "left")
        .select($"id", ($"deg" - coalesce($"lost", lit(0L))).as("deg"),
          when($"peel_round" =!= 0L, $"peel_round")
            .when($"deg" - coalesce($"lost", lit(0L)) < k, lit(r.toLong))
            .otherwise(lit(0L)).as("peel_round")))
      State.release(prev)
    }
    // survivors report their degree within the FINAL surviving
    // subgraph: the state's deg accounts for deaths through round
    // rounds−1, so subtract neighbors peeled in the LAST round with
    // one more died-set join; peeled nodes report 0
    val diedLast = st.filter($"peel_round" === rounds.toLong).select($"id".as("dead"))
    val lostLast = edges.join(diedLast, $"b" === $"dead")
      .groupBy($"a".as("id")).agg(count(lit(1)).as("lost"))
    st.join(lostLast, Seq("id"), "left")
      .select($"id", $"peel_round",
        when($"peel_round" === 0L, $"deg" - coalesce($"lost", lit(0L)))
          .otherwise(lit(0L)).as("core_deg"))
  }
}
