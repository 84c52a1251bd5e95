package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the constructed knowledge graph, beyond the
  * canonicalization CC and the PageRank salience tier: triangle
  * counting (graph density / clustering structure — the standard
  * quality signal for an extracted entity graph), single-source
  * shortest paths (weighted proximity between canonical entities), and
  * synchronous label propagation (community detection — topic clusters
  * in the co-occurrence graph). All three are deterministic integer
  * algorithms, partitioning-invariant by construction, so each replays
  * exactly in the DuckDB oracle.
  */
object GraphAlgs {

  /** Per-node triangle counts over an undirected simple graph given as
    * canonical edges (a < b, distinct). The join orients every triangle
    * a < b < c exactly once: e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c); each found
    * triangle then credits its three corners.
    *
    * Scale shape: with edges pre-filtered to the canonical a < b
    * orientation the wedge join fans out per node by its FORWARD degree
    * only — the standard degree-orientation bound (Suri & Vassilvitskii
    * 2011's MapReduce triangle counting): orienting by (degree, id)
    * instead of plain id caps forward degree at O(sqrt(|E|)) on skewed
    * graphs. Here id-orientation is used (the oracle replays it
    * verbatim); the wedge→edge probe is an equi-join on (a, c) that AQE
    * broadcasts when the edge set is small. No shuffle carries more
    * than (a, b, c) triples ∝ wedges.
    */
  def triangleCounts(edges: DataFrame): DataFrame =
    triangleCountsCanonical(
      edges.select(col("a"), col("b")).distinct().localCheckpoint())

  /** [[triangleCounts]] over edges the caller has ALREADY deduped and
    * materialized — avoids a second full dedup shuffle + checkpoint copy
    * when the canonical edge set is shared with other aggregates (the
    * clustering-coefficient path).
    */
  private[canon] def triangleCountsCanonical(e: DataFrame): DataFrame = {
    val wedges = e.alias("e1")
      .join(e.alias("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tris = wedges.join(e.alias("e3"),
      col("x") === col("e3.a") && col("z") === col("e3.b"))
      .select(col("x"), col("y"), col("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_tri"))
  }

  /** Per-node local clustering coefficient over an undirected simple
    * graph given as canonical edges (a < b, distinct):
    *
    *   lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    *
    * reported in integer micro-units (floor of 10^6·lcc — integer
    * division replays bit-exactly in the oracle; nodes of degree < 2
    * report 0). The standard per-entity graph-quality signal on top of
    * the global triangle count: canonical entities whose neighbourhoods
    * are cliques (high lcc) are coherent topics, low-lcc hubs are
    * ambiguous surface forms that over-merged.
    *
    * Scale shape: [[triangleCounts]]'s oriented wedge join (see its
    * degree-orientation notes) plus one map-side-combined degree agg
    * and a (node, long, long)-width join — nothing wider than ids and
    * two longs crosses a shuffle.
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).distinct().localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(triangleCountsCanonical(e), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("lcc_micro",
        when(col("deg") >= 2,
          expr("(2000000 * n_tri) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
  }

  /** Hop-bounded closeness centrality: run `rounds` synchronous BFS
    * relaxation rounds from EVERY node at once (multi-source frontier
    * join), then per root report how many nodes it reached within the
    * horizon and the floor of 10^6·reached/Σdist — the harmonic-free
    * integer closeness that replays bit-exactly in the unrolled oracle.
    * Hop-bounding is the standard web-scale form (exact closeness is
    * APSP): at 10^9 nodes you additionally SAMPLE roots — the recurrence
    * is unchanged, only the d0 seed set shrinks, so the sandbox query
    * exercises the exact production plan shape.
    *
    * Scale shape: state is (root, node, dist) — the multi-source
    * frontier. Per round one equi-join against the src-partitioned edge
    * table plus one map-side-combined min-agg; within the hop horizon
    * the state is ∝ Σ_v |ball(v, rounds)|, which the horizon (and root
    * sampling) bounds — never |V|² unless the horizon covers the graph.
    * Rounds are [[Relax]] rounds, min keyed on (root, node): with unit
    * weights first reach IS min-dist, so only the rows reached last
    * round can extend a ball.
    */
  def hopCloseness(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct()
      .localCheckpoint()
    val seeds = e.select(col("src").as("root")).distinct()
      .select(col("root"), col("root").as("node"), lit(0L).as("dist"))
      .localCheckpoint()
    val d = Relax(seeds, Seq("root", "node"), "dist", Relax.Min,
        rounds) { delta =>
      delta.join(e, delta("node") === e("src"))
        .select(col("root"), col("dst").as("node"),
          (col("dist") + 1L).as("dist"))
    }.state
    d.filter(col("dist") > 0)
      .groupBy("root")
      .agg(count(lit(1)).as("reached"), sum(col("dist")).as("dist_sum"),
        // harmonic centrality rides the same BFS state for free: Σ 1/d
        // in integer micro-units (per-node floor division, then an
        // order-invariant integer sum) — the variant that stays defined
        // on disconnected graphs
        sum(expr("1000000 div dist")).as("harmonic_micro"))
      .select(col("root").as("node"), col("reached"), col("dist_sum"),
        expr("(1000000 * reached) div dist_sum").as("closeness_micro"),
        col("harmonic_micro"))
  }

  /** Time-RESPECTING reachability over temporal edges (src, dst, t):
    * node v is reached at time t' if there is a path whose edge
    * timestamps are non-decreasing (Pan & Saramäki 2011's temporal
    * paths — the temporal-KG primitive: "what could entity A have
    * influenced, through co-mentions that happened in order?"; static
    * reachability over a temporal graph OVERCOUNTS by following edges
    * backwards in time). State per node is the MINIMUM arrival time —
    * the dominant label: any continuation possible from a later arrival
    * is possible from an earlier one, so one integer per (root, node)
    * suffices and the fixed point replays exactly in SQL.
    *
    * `seeds`: 1-column `node` DataFrame; seed arrival = Long.MinValue
    * (any first edge qualifies). Scale shape: identical to
    * [[hopCloseness]] — per round ONE equi-join of the (root, node, t)
    * state against the src-partitioned edge table with the t-monotone
    * filter, plus one map-side-combined min-agg; hop-bounding (and at
    * 10^9 nodes, seed sampling) bounds the state.
    *
    * Returns (node, t_arr, reached_round) — earliest arrival and the
    * first round it was achieved (seeds excluded).
    */
  def temporalReach(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("t"))
      .repartition(col("src")).distinct()
      .localCheckpoint()
    var d = seeds.select(col("node"), lit(Long.MinValue).as("t_arr"),
        lit(0).as("r"))
      .localCheckpoint()
    // SEMI-NAIVE (round-6, the sssp delta shape): step only from rows
    // whose arrival IMPROVED last round. A step from an unimproved u
    // re-derives (dst, t, k) rows whose (t_arr=t, r=j<k) twin already
    // won the struct-min when u last improved — monotone dominance, so
    // the fixpoint (and the r bookkeeping) is identical and the
    // unrolled oracle replays unchanged. Delta via a tag column on the
    // same min-agg (old tag 0, stepped tag 1; struct-min ties keep the
    // old row) — the lexicographic (t_arr, r) order is not a pair of
    // primitive mins, so this is not a [[Relax]] loop; an empty delta
    // (counted by the checkpoint job) ⇒ remaining rounds are no-ops.
    var delta = d
    var k = 0
    var done = false
    while (k < rounds && !done) {
      val stepped = delta.join(e, delta("node") === e("src") &&
          e("t") >= delta("t_arr"))
        .select(col("dst").as("node"), col("t").as("t_arr"),
          lit(k + 1).as("r"))
      // min over (t_arr, r, tag) — struct min orders lexicographically,
      // so the earliest arrival wins and ties keep the earliest round
      val agged = d.select(col("node"), col("t_arr"), col("r"),
          lit(0).as("tag"))
        .union(stepped.select(col("node"), col("t_arr"), col("r"),
          lit(1).as("tag")))
        .groupBy("node")
        .agg(min(struct(col("t_arr"), col("r"), col("tag"))).as("m"))
        .select(col("node"), col("m.t_arr").as("t_arr"),
          col("m.r").as("r"), col("m.tag").as("tag"))
      val (cp, improved, _) = Relax.countedCheckpoint(agged, col("tag") === 1)
      d = cp.select("node", "t_arr", "r")
      delta = cp.filter(col("tag") === 1)
        .select("node", "t_arr", "r")
      k += 1
      done = improved == 0
    }
    d.filter(col("r") > 0)
      .select(col("node"), col("t_arr"),
        col("r").cast("long").as("reached_round"))
  }

  /** Bellman-Ford single-source shortest paths, `rounds` synchronous
    * relaxation rounds over directed weighted edges (src, dst, w):
    *
    *   d_k(v) = min(d_{k-1}(v), min_{(u,v,w)} d_{k-1}(u) + w)
    *
    * Exact on graphs whose shortest paths use ≤ `rounds` hops; min over
    * integer sums is order-invariant, so the result is bit-exact across
    * partitionings and engines (the oracle unrolls the identical
    * recurrence).
    *
    * Rounds are [[Relax]] rounds, min keyed on node: a relaxation
    * through an unimproved u was already applied the round after u last
    * improved, and dist is monotone non-increasing, so each round relaxes
    * only the nodes whose distance strictly improved last round (the
    * [[doubleSweep]] BFS shape, generalized to weights) and stops at the
    * first round that improves none. Scale shape: per round one
    * equi-join of that delta against the src-partitioned edge table plus
    * one map-side-combined min-agg keyed on node.
    */
  def sssp(edges: DataFrame, source: String, rounds: Int): DataFrame =
    ssspTrace(edges, source, rounds).state

  /** [[sssp]] with its relaxation's per-round trace. */
  private[graft] def ssspTrace(edges: DataFrame, source: String,
      rounds: Int): Relax.Result = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("long"))
      .repartition(col("src"))
      .localCheckpoint()
    val init = e.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("dist"))
    Relax(init, Seq("node"), "dist", Relax.Min, rounds) { delta =>
      e.join(delta, e("src") === delta("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
    }
  }

  /** Seed-set stress centrality (Shimbel 1953): for every unordered
    * seed pair s < t, count the shortest s–t paths passing THROUGH each
    * interior node and sum — the integer-exact sibling of betweenness
    * (betweenness divides each term by σ_st; stress keeps the raw
    * count, so every value is a bit-exact BIGINT with no rational
    * arithmetic to drift between engines). Seed-restricted is the
    * standard scalable form (Brandes & Pich 2007 pivot sampling):
    * exact betweenness-family centrality is all-pairs; at 10^9 nodes
    * you run it from a sampled seed set and the recurrence is
    * unchanged, so this query exercises the production plan shape.
    *
    * Phase 1 — layered multi-seed BFS with path counting:
    *   frontier_k = nodes FIRST reached at hop k;
    *   σ(seed, v) = Σ σ(seed, u) over neighbours u in frontier_{k-1}
    * (the forward half of Brandes' algorithm). State is (seed, node,
    * dist, sigma) — ∝ |S|·|ball(seed, rounds)|, never |V|²; per round
    * ONE equi-join against the src-partitioned edge table, one
    * map-side-combined sum-agg, one (seed, node)-width anti-join to
    * keep only first arrivals.
    *
    * Phase 2 — pair combine, no backward sweep needed at seed scale:
    * σ_st(v) = σ(s,v)·σ(t,v) iff d(s,v)+d(v,t) = d(s,t) (unit-weight
    * shortest-path optimal substructure). One node-keyed aggregation
    * collects each node's BFS rows (`collect_list` of (seed, dist,
    * sigma)), expands the seed pairs s < t in-row, and checks them
    * against the broadcast-size (s, t, d_st) seed-distance relation.
    * The per-node group holds at most |S| rows, but the in-row
    * expansion is quadratic in it, so a large seed set is a memory
    * hazard: keep S at pivot-sample size.
    *
    * edges(src, dst): pass both directions for an undirected graph.
    * seeds: 1-column `node`. Returns (node, stress) for interior nodes
    * with stress > 0, hop-bounded at `rounds` per leg.
    */
  def stressCentrality(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct()
      .localCheckpoint()
    var b = seeds.select(col("node").as("seed"), col("node"),
        lit(0L).as("dist"), lit(1L).as("sigma"))
      .localCheckpoint()
    // (The BFS steps only from the last layer already — the semi-naive
    // shape by construction; a drained-layer early exit was A/B'd in
    // round 6 and reverted: the per-round state count it needs grows
    // with the reached ball while the small fixed rounds budget rarely
    // drains, so the check was pure overhead.)
    for (k <- 1 to rounds) {
      val stepped = b.filter(col("dist") === lit(k - 1L))
        .join(e, col("node") === e("src"))
        .groupBy(col("seed"), col("dst"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("dst").as("node"),
          lit(k.toLong).as("dist"), col("sigma"))
      val fresh = stepped
        .join(b.select(col("seed"), col("node")), Seq("seed", "node"),
          "left_anti")
      b = b.union(fresh.select("seed", "node", "dist", "sigma"))
        .localCheckpoint()
    }
    // seed-pair distances: rows of the BFS state landing ON a seed
    val seedSet = seeds.select(col("node").as("t"))
    val pd = b.join(seedSet, b("node") === col("t"))
      .filter(col("seed") < col("t"))
      .select(col("seed").as("s"), col("t"), col("dist").as("d_st"))
    // Pair combine as ONE node-keyed aggregation instead of the x⋈y
    // self-join (round 6, guide §2.4): the join exchanged the same BFS
    // state twice by node; collecting each node's ≤|S| seed rows once
    // and expanding the sa<sb pairs in-row halves the phase-2 shuffle
    // (2 Exchange → 1) and leaves the output hash-partitioned by node,
    // so the final sum-agg reuses the exchange too. Identical terms:
    // the HOF filter `c.seed > a.seed` is the same binary string order
    // as the join's sa < sb, the broadcast d_st check is unchanged, and
    // the stress sum is an order-independent exact long.
    val per = b.groupBy("node")
      .agg(collect_list(struct(col("seed"), col("dist"),
        col("sigma"))).as("ss"))
    val pairCol = flatten(transform(col("ss"), a =>
      transform(filter(col("ss"), c => c("seed") > a("seed")), c =>
        struct(a("seed").as("sa"), a("dist").as("da"),
          a("sigma").as("ga"), c("seed").as("sb"),
          c("dist").as("db"), c("sigma").as("gb")))))
    per.select(col("node"), explode(pairCol).as("pr"))
      .select(col("node"), col("pr.sa"), col("pr.da"), col("pr.ga"),
        col("pr.sb"), col("pr.db"), col("pr.gb"))
      .join(broadcast(pd), col("sa") === pd("s") && col("sb") === pd("t")
        && col("da") + col("db") === pd("d_st"))
      .filter(col("node") =!= col("sa") && col("node") =!= col("sb"))
      .groupBy("node")
      .agg(sum(col("ga") * col("gb")).as("stress"))
      .filter(col("stress") > 0)
  }

  /** Deterministic handshake matching (the symmetric-proposal round of
    * Israeli & Itai's distributed maximal-matching family): each round
    * every unmatched node proposes to its SMALLEST unmatched neighbour;
    * mutual proposals (i→j ∧ j→i) become matched pairs and leave the
    * graph with their incident edges. Synchronous + min-label proposals
    * make every round a pure function of the remaining graph — the
    * oracle replays rounds verbatim. Fixed `rounds` returns a partial
    * matching sized to the rounds budget (the kCore convention);
    * production deployments salt proposal priorities with a per-run
    * hash to get the O(log n)-round randomized guarantee — label order
    * is kept here because the DuckDB replay is then exact, and the
    * worst case (a monotone chain matching one pair per round) is a
    * planted-structure StressBench law, not a hidden cliff. Matching
    * is the coarsening primitive of multilevel graph partitioning —
    * the step before the contracted graph re-enters CC/Louvain here.
    *
    * edges(src, dst): pass both directions for an undirected graph.
    * Scale shape per round: one map-side-combined min-agg keyed on src
    * (the proposal), one aggregation keyed on the unordered pair
    * (least, greatest) whose count = 2 marks a mutual proposal, two
    * anti-joins confining edges to survivors — fixed-width id rows
    * throughout, nothing ∝ edges². Returns matched pairs (a, b), a < b.
    */
  def maximalMatching(edges: DataFrame, rounds: Int): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src")).distinct()
      .localCheckpoint()
    var out: DataFrame = null
    // Round-6: an empty mutual-proposal round is the exact fixpoint —
    // the graph is unchanged, proposals are a deterministic function of
    // the graph, so every later round re-derives the same empty set.
    // Exit early (and skip the edge-confinement anti-joins of the
    // fixpoint round, which would rebuild e identically).
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val prop = e.groupBy("src").agg(min(col("dst")).as("p"))
      // Mutuality as ONE pair-keyed aggregation instead of the
      // prop⋈prop self-join (round 6, guide §2.4): proposals are keyed
      // by src (one row per node), so the unordered pair
      // (least, greatest) carries exactly 2 rows iff i→j AND j→i —
      // the mutual handshake, same (a, b) = (min, max) output as the
      // old x.src < y.src join. One pair-key exchange replaces the two
      // composite-key exchanges of the self-join, and prop is now
      // consumed once, so its checkpoint job goes too.
      val (mutual, pairs) = Relax.countedCheckpoint(prop
        .select(least(col("src"), col("p")).as("a"),
          greatest(col("src"), col("p")).as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c"))
        .filter(col("c") === 2)
        .select(col("a"), col("b")))
      r += 1
      if (pairs == 0) {
        if (out == null) out = mutual
        done = true
      } else {
        out = if (out == null) mutual
          else out.union(mutual).localCheckpoint()
        if (r < rounds) {
          val matched = mutual.select(col("a").as("node"))
            .union(mutual.select(col("b").as("node")))
            .localCheckpoint()
          e = e.join(matched.withColumnRenamed("node", "src"),
              Seq("src"), "left_anti")
            .join(matched.withColumnRenamed("node", "dst"),
              Seq("dst"), "left_anti")
            .select(col("src"), col("dst"))
            .localCheckpoint()
        }
      }
    }
    if (out == null)
      edges.sparkSession.emptyDataFrame
        .select(lit("").as("a"), lit("").as("b")).limit(0)
    else out
  }

  /** Newman-Girvan modularity of a given partition, integer-scaled:
    * per community c with E_c intra-edges and D_c = Σ degrees,
    *
    *   q_contrib(c) = 4m·E_c − D_c²   (so Q = Σ_c q_contrib / 4m²)
    *
    * — the 4m²-scaled numerator keeps every term a product of exact
    * BIGINTs (no 1/2m rationals to drift between engines); the global
    * quality score is one driver-side division away. The standard
    * acceptance gate on any community detection output (here: the LPA
    * partition) — communities with q_contrib ≤ 0 are no better than
    * the degree-preserving random graph.
    *
    * oriented(a, b): one row per undirected edge; labels(node, label).
    * Scale shape: one map-side-combined degree agg, two (node, label)
    * dictionary-width joins onto the edge table, one per-label agg —
    * nothing wider than ids crosses a shuffle; m is a single count.
    * Returns (label, n_nodes, intra_edges, deg_sum, q_contrib).
    */
  def modularity(oriented: DataFrame, labels: DataFrame): DataFrame = {
    val e = oriented.select(col("a"), col("b")).distinct().localCheckpoint()
    val m = e.count()
    val lab = labels.select(col("node"), col("label")).localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val commDeg = deg.join(lab, Seq("node"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val intra = e
      .join(lab.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    commDeg.join(intra, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("deg_sum"),
        (lit(4L * m) * coalesce(col("intra_edges"), lit(0L))
          - col("deg_sum") * col("deg_sum")).as("q_contrib"))
  }

  /** Louvain phase-1 local moving (Blondel et al. 2008), synchronous
    * distributed form: starting from singleton communities, every node
    * simultaneously joins the neighbour community with the highest
    * modularity insertion gain — in the engine's 4m²-scaled exact
    * integers,
    *
    *   gain(i→c) = 4m·k_{i,c} − 2·deg(i)·D_{c∖i}
    *
    * (k_{i,c} = edges from i into c, D_{c∖i} = Σ degrees of c minus i
    * if i ∈ c; the removal term is constant across i's choices, so
    * comparing insertion gains — own community included as "stay" — is
    * the full Louvain comparison). Ties break toward the SMALLEST
    * community label; synchronous + deterministic tie-break makes every
    * round a pure function of the previous labeling, replayed
    * round-per-CTE in SQL. Fixed `rounds` keeps the oracle finite —
    * the [[labelPropagation]]/[[kCore]] convention. Distributed Louvain
    * in exactly this synchronous-gain form is the published practice
    * for billion-edge graphs; the phase-2 graph contraction is one
    * groupBy away once labels converge.
    *
    * Synchronous moving has the classic singleton-SWAP pathology (two
    * adjacent singletons each see positive gain in the other's label
    * and exchange forever); the published distributed fix is applied —
    * Grappolo's swap guard (Lu, Halappanavar & Kalyanaraman 2015): a
    * node in a singleton community may move to another SINGLETON
    * community only toward a smaller label, so of two swap partners
    * exactly one moves and the pair converges.
    *
    * edges(src, dst): pass both directions for an undirected graph.
    * Scale shape per round: one (src, label) count agg for k_{i,c}
    * (map-side combined), one per-label degree agg + size agg, one
    * window argmax partitioned by node — everything (node, label,
    * long)-width; the candidate set per node is its distinct
    * neighbour-community count, bounded by degree, never |V|.
    */
  def louvainMove(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).distinct()
      .localCheckpoint()
    val m = e.count() / 2 // both directions present
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    var lab = deg.select(col("node"), col("node").as("label"))
      .localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("i").orderBy(col("gain").desc, col("c").asc)
    for (_ <- 1 to rounds) {
      val kic = e.join(lab.select(col("node").as("dst"),
          col("label").as("c")), Seq("dst"))
        .groupBy(col("src").as("i"), col("c"))
        .agg(count(lit(1)).as("kic"))
      val own = lab.select(col("node").as("i"), col("label").as("c"))
        .join(kic, Seq("i", "c"), "left")
        .select(col("i"), col("c"), coalesce(col("kic"), lit(0L)).as("kic"))
      val cand = kic.union(own).distinct()
      val commAgg = lab.join(deg, Seq("node"))
        .groupBy(col("label").as("c"))
        .agg(sum(col("deg")).as("dc"), count(lit(1)).as("csz"))
        .localCheckpoint() // feeds both the target and own-side joins
      lab = cand
        .join(deg.select(col("node").as("i"), col("deg")), Seq("i"))
        .join(commAgg, Seq("c"))
        .join(lab.select(col("node").as("i"), col("label").as("own")),
          Seq("i"))
        .join(commAgg.select(col("c").as("own"), col("csz").as("ownSz")),
          Seq("own"))
        // Grappolo swap guard: singleton → singleton only toward a
        // smaller label (the own-community row has c = own, never cut)
        .filter(!(col("csz") === 1 && col("ownSz") === 1 &&
          col("c") > col("own")))
        .withColumn("gain", lit(4L * m) * col("kic") -
          lit(2L) * col("deg") * (col("dc") -
            when(col("own") === col("c"), col("deg")).otherwise(lit(0L))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("i").as("node"), col("c").as("label"))
        .localCheckpoint()
    }
    lab
  }

  /** Synchronous label propagation (Raghavan et al. 2007), made
    * deterministic: every node starts labeled with itself; each round
    * every node adopts the label most frequent among its neighbours,
    * ties broken toward the LARGEST label (one `max(struct(cnt,
    * label))` — argmax in a single map-side-combined aggregation, no
    * window). Nodes keep their previous label only if they have no
    * neighbours (symmetric edge lists never hit that case). Fixed
    * `rounds` keeps the unrolled oracle finite; synchronous + lexico
    * tie-break makes every round a pure function of the previous
    * labeling — partitioning-invariant, replayed round-per-CTE in SQL.
    *
    * edges(src, dst): pass both directions for an undirected graph.
    * Scale shape per round: one join on the src-partitioned edges, one
    * (dst, label) count agg, one argmax agg — all map-side combined;
    * label width is bounded by the node-id width.
    */
  /** k-core peeling (Seidman 1983; the synchronous distributed form):
    * each round drops every node whose current degree is below k along
    * with its incident edges, repeated `rounds` times. Fixed rounds
    * keep the unrolled SQL oracle finite and make the result a pure
    * function of the input — synchronous peeling is partitioning-
    * invariant by construction (degree counts are commutative sums;
    * membership is a threshold on them). When a round removes nothing,
    * the remaining graph IS the k-core; callers size `rounds` to the
    * peel depth they need (peel depth, not diameter, bounds it — on
    * power-law graphs a handful of rounds strips the whole tail).
    *
    * edges(src, dst): pass both directions for an undirected graph.
    * Scale shape per round: one map-side-combined degree agg (16-byte
    * rows) + two LEFT SEMI joins of the edge list against the
    * (node-cardinality) survivor set — shuffle ∝ edges at fixed width,
    * like every iterative op here; the survivor side broadcasts under
    * AQE whenever the graph's node set fits.
    *
    * Returns (node, deg): survivors of the last round with their
    * remaining degree.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // Round-6: peel survivors ⊆ input each round, so an unchanged edge
    // count proves the exact fixpoint — remaining rounds are no-ops
    // and are skipped (the kTruss early-exit argument, node-degree
    // flavored). Each count is observed on its frame's checkpoint job.
    var (e, eCnt) = Relax.countedCheckpoint(
      edges.select(col("src"), col("dst")).repartition(col("src")))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      // checkpoint the (node-cardinality) survivor set: it feeds BOTH
      // endpoint semi-joins, and the renamed dst side means the degree
      // agg would otherwise execute twice per round (ReuseExchange does
      // not fire across renamed branches — measured on the same pattern
      // in TextAnalysis.keywords)
      val alive = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src"))
        .localCheckpoint()
      val (e2, c2) = Relax.countedCheckpoint(
        e.join(alive, Seq("src"), "left_semi")
          .join(alive.withColumnRenamed("src", "dst"), Seq("dst"),
            "left_semi")
          .select(col("src"), col("dst")))
      e = e2
      r += 1
      done = r < rounds && c2 == eCnt
      eCnt = c2
    }
    e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** k-truss peeling (Cohen 2008; synchronous distributed form): each
    * round computes per-EDGE triangle support over the canonical a < b
    * edge set and drops edges in fewer than k−2 triangles, repeated
    * `rounds` times — the edge-centric sibling of [[kCore]] (node
    * degree → edge support) and the stronger cohesion filter: a k-truss
    * is always inside the (k−1)-core but prunes loosely-attached edges
    * the core keeps. The graph-quality gate for extracted entity
    * graphs: a relation edge supported by many closed triangles is
    * corroborated; support-0 edges are one-off co-mentions.
    *
    * Fixed rounds keep the unrolled oracle finite (the kCore
    * convention — peel depth, not diameter, bounds convergence).
    * Synchronous peeling is partitioning-invariant: support counts are
    * commutative sums, membership a threshold on them.
    *
    * Scale shape per round: [[triangleCounts]]'s degree-orientation
    * wedge join (fan-out bounded by forward degree), one explode to
    * the 3 constituent edges, one map-side-combined (a, b) count agg —
    * every shuffle carries fixed-width id pairs ∝ wedges, never edges².
    * Returns (a, b, support) — survivors with support recomputed on
    * the final surviving graph.
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // k ≤ 2 is degenerate (every edge is a 2-truss) and the support
    // relation only carries edges in ≥ 1 triangle, so the peel below
    // would wrongly drop triangle-free edges — reject rather than lie
    require(k >= 3, s"kTruss needs k >= 3 (got $k)")
    def support(ed: DataFrame): DataFrame = {
      val tris = ed.alias("e1")
        .join(ed.alias("e2"), col("e1.b") === col("e2.a"))
        .join(ed.alias("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .select(col("e1.a").as("x"), col("e1.b").as("y"),
          col("e2.b").as("z"))
      tris.select(explode(array(
          struct(col("x").as("a"), col("y").as("b")),
          struct(col("y").as("a"), col("z").as("b")),
          struct(col("x").as("a"), col("z").as("b")))).as("ed"))
        .select(col("ed.a").as("a"), col("ed.b").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
    }
    // Round-6: peeling is monotone (each round's survivors ⊆ the
    // round's input), so an unchanged edge COUNT proves the exact
    // fixpoint — every remaining round is a no-op and the support
    // table just computed is already the final graph's support (the
    // peel that didn't drop anything ran over the final edge set).
    // Early exit both skips those rounds and reuses that table,
    // saving one whole wedge-join enumeration vs the unconditional
    // trailing support(e) the fixed-rounds loop paid before.
    var (e, eCnt) = Relax.countedCheckpoint(
      edges.select(col("a"), col("b")).distinct())
    var supAtFixpoint: DataFrame = null
    var r = 0
    while (r < rounds && supAtFixpoint == null) {
      val sup = support(e).localCheckpoint()
      val (e2, c2) = Relax.countedCheckpoint(
        sup.filter(col("support") >= k - 2).select(col("a"), col("b")))
      if (c2 == eCnt) supAtFixpoint = sup
      e = e2
      eCnt = c2
      r += 1
    }
    val supFinal =
      if (supAtFixpoint != null) supAtFixpoint else support(e)
    e.join(supFinal, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Link prediction over an undirected simple graph given as canonical
    * edges (a < b, distinct): for every NON-adjacent pair with at least
    * one common neighbour, the three classic neighborhood scores —
    * common-neighbour count, Adamic-Adar (Adamic & Adar 2003,
    * Σ_z 1/ln(deg z) over common neighbours z), and neighbourhood
    * Jaccard |Γa∩Γb| / |Γa∪Γb|. The standard candidate-edge ranker an
    * extracted entity graph runs before human/LLM triple verification.
    *
    * Determinism: Adamic-Adar is a float SUM, which is order-dependent
    * in doubles — so each term is quantized to integer micro-nats
    * (round(1e6/ln deg)) BEFORE the sum; integer sums are partitioning-
    * invariant and the oracle replays the identical quantization.
    * Jaccard is one post-aggregation division, quantized the same way.
    *
    * Scale shape: the wedge self-join fans out C(deg z, 2) pairs per
    * common neighbour z, so hubs explode quadratically — `maxHubDegree`
    * excludes them from EVIDENCE (not from the pair universe), the
    * standard practice since a hub's 1/ln(deg) ≈ 0 contributes noise,
    * not signal; with the cap, wedge output is ≤ C(cap,2)·|V| and every
    * shuffle carries fixed-width (node, node, long) rows. Degree-one
    * neighbours produce no wedge, so the ln(1)=0 pole is structurally
    * unreachable even before the deg ≥ 2 filter. The final anti-join
    * (drop existing edges) and the two degree joins are node-cardinality
    * — AQE broadcasts them when the graph fits.
    */
  def linkPrediction(edges: DataFrame, maxHubDegree: Int): DataFrame = {
    // re-orient by the engine's own string order: the wedge join below
    // orients candidate pairs by `<` on node ids, and the existing-edge
    // anti-join only excludes correctly when both sides share one
    // orientation convention (callers may orient by numeric id instead)
    val e = edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint()
    val und = e.select(col("a").as("z"), col("b").as("n"))
      .union(e.select(col("b").as("z"), col("a").as("n")))
    val deg = und.groupBy("z").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // feeds evidence filter + both endpoint joins
    val zw = und.join(
        deg.filter(col("deg") >= 2 && col("deg") <= maxHubDegree), "z")
      .select(col("z"), col("n"),
        round(lit(1e6) / log(col("deg"))).cast("long").as("w"))
    val pairs = zw.alias("l").join(zw.alias("r"),
        col("l.z") === col("r.z") && col("l.n") < col("r.n"))
      .select(col("l.n").as("a"), col("r.n").as("b"), col("l.w").as("w"))
    val scored = pairs.groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum(col("w")).as("aa_micro"))
      .join(e, Seq("a", "b"), "left_anti") // predict NON-edges only
    scored
      .join(deg.select(col("z").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("z").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("common"), col("aa_micro"),
        round(col("common") * lit(1e6) /
          (col("da") + col("db") - col("common")))
          .cast("long").as("jac_micro"))
  }

  /** GraphSAGE-style deterministic neighbour sampling (Hamilton et al.
    * 2017): for every node, keep its `k1` lowest-hash neighbours
    * (layer 1), then each sampled neighbour's `k2` lowest-hash
    * neighbours (layer 2) — the bounded ego-subgraph generator GNN
    * training feeds on. Selection is an avalanche hash of the EDGE
    * ([[graft.functions.MixHash]] of `src > dst`), so each parent draws
    * independently, and per-node-per-layer samples are shared across
    * seeds — exactly the minibatch dedup production samplers do.
    * Returns (seed, layer, parent, node, rk).
    *
    * Stability law (the reason hash-rank beats `rand()`): adding edges
    * can only displace a sampled neighbour by inserting a smaller hash,
    * never by reshuffling — mix_sample's membership law, per node.
    *
    * Scale shape: ONE window pass ranks all edges — `row_number ≤ k`
    * over (src, hash) is the InsertWindowGroupLimits shape, so every
    * map partition truncates to k rows per node BEFORE the exchange and
    * the shuffle carries ≈ nodes × k rows, never the edge list. Layer 2
    * is one frontier⋈sample equi-join at (node, node, long) width.
    */
  def egoSample(edges: DataFrame, k1: Int, k2: Int): DataFrame = {
    require(k1 >= k2 && k2 >= 1, s"need k1 >= k2 >= 1: $k1, $k2")
    import org.apache.spark.sql.expressions.Window
    val h = graft.functions.MixHash(
      concat(col("src"), lit(">"), col("dst")))
    val w = Window.partitionBy("src").orderBy(col("h"), col("dst"))
    val s1 = edges.select(col("src"), col("dst"), h.as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k1).drop("h")
      .localCheckpoint() // reused: layer-1 rows + both layer-2 roles
    val layer1 = s1.select(col("src").as("seed"), lit(1L).as("layer"),
      col("src").as("parent"), col("dst").as("node"), col("rk"))
    val layer2 = s1.select(col("src").as("seed"), col("dst").as("c"))
      .join(s1.filter(col("rk") <= k2)
        .select(col("src").as("c"), col("dst").as("node"), col("rk")), "c")
      .select(col("seed"), lit(2L).as("layer"), col("c").as("parent"),
        col("node"), col("rk"))
    layer1.union(layer2)
  }

  /** SimRank (Jeh & Widom 2002) — "two nodes are similar if their
    * neighbours are similar", the recursive generalization of
    * [[linkPrediction]]'s one-hop overlap scores:
    *
    *   s(a,a) = 1;  s(a,b) = C/(|N(a)||N(b)|) · Σ_{i∈N(a), j∈N(b)} s(i,j)
    *
    * evaluated for `iters` fixed rounds with C = 4/5 as integer
    * micro-unit floor division — `s_k = (4·T) div (5·da·db)` where T
    * sums the previous round's micro scores (diagonal = 10^6) — so the
    * fixed point is partitioning-invariant and replays bit-exactly in
    * the round-per-CTE DuckDB oracle. Returns the full trace
    * (iter, a, b, s_micro), one row per pair with s > 0, a < b in
    * code-point order.
    *
    * Scale shape: the textbook all-pairs SimRank is quadratic in nodes;
    * this implementation is sparse-positive instead — round 1 pairs
    * come from ONE wedge join (pairs ∝ Σ deg², the same bound as
    * [[linkPrediction]]), and each later round expands only the
    * POSITIVE pairs through two neighbour joins (cost ∝ Σ_{(i,j)∈P}
    * |N(i)|·|N(j)|, never |V|²). The `maxHubDegree` guard excludes hub
    * nodes from the NEIGHBOUR role (i, j) — the expansion-cost driver —
    * exactly [[linkPrediction]]'s evidence filter; full degrees still
    * normalize, so scores stay comparable across the guard.
    */
  def simRank(edges: DataFrame, iters: Int, maxHubDegree: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint()
    val und = e.select(col("a").as("z"), col("b").as("n"))
      .union(e.select(col("b").as("z"), col("a").as("n")))
    val deg = und.groupBy("z").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // feeds the hub guard + both endpoint joins
    val zn = und
      .join(deg.select(col("z").as("n"), col("deg").as("nd")), "n")
      .filter(col("nd") <= maxHubDegree).select("z", "n")
      .localCheckpoint() // neighbour-role rows, hubs excluded
    val cn = zn.alias("l").join(zn.alias("r"),
        col("l.n") === col("r.n") && col("l.z") < col("r.z"))
      .select(col("l.z").as("a"), col("r.z").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
      .localCheckpoint() // the diagonal term, constant across rounds
    val degA = deg.select(col("z").as("a"), col("deg").as("da"))
    val degB = deg.select(col("z").as("b"), col("deg").as("db"))
    def finish(t: DataFrame): DataFrame =
      t.join(degA, "a").join(degB, "b")
        .select(col("a"), col("b"),
          expr("(4 * t) div (5 * da * db)").as("s"))
        .filter(col("s") > 0)
    var p = finish(cn.select(col("a"), col("b"),
        (col("cn") * lit(1000000L)).as("t")))
      .localCheckpoint()
    var trace = p.select(lit(1L).as("iter"), col("a"), col("b"),
      col("s").as("s_micro"))
    for (k <- 2 to iters) {
      val psym = p.select(col("a").as("i"), col("b").as("j"), col("s"))
        .union(p.select(col("b").as("i"), col("a").as("j"), col("s")))
      val tOff = zn.select(col("z").as("a"), col("n").as("i"))
        .join(psym, "i")
        .join(zn.select(col("z").as("b"), col("n").as("j")), "j")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(sum("s").as("t_off"))
      val t = cn.join(tOff, Seq("a", "b"), "full_outer")
        .select(col("a"), col("b"),
          (coalesce(col("cn"), lit(0L)) * lit(1000000L) +
            coalesce(col("t_off"), lit(0L))).as("t"))
      p = finish(t).localCheckpoint()
      trace = trace.union(p.select(lit(k.toLong).as("iter"), col("a"),
        col("b"), col("s").as("s_micro")))
    }
    trace
  }

  /** Katz centrality (Katz 1953): total attenuated walk count into each
    * node, the classic complement of PageRank — no degree normalization,
    * so high-out-degree neighbours pass on their full mass and the score
    * measures raw reachability volume rather than random-walk share.
    *
    *   s_k(v) = Base + (Σ_{(u,v)} s_{k-1}(u)) div Att
    *
    * with Base = 10^6 and attenuation α = 1/Att as an integer floor
    * division — integer sums are order- and partitioning-invariant, so
    * the result replays bit-exactly in the unrolled DuckDB oracle.
    * Fixed `iters` keeps the oracle finite; with α < 1/λ_max the
    * recurrence is a converging geometric series, and the caller bounds
    * λ_max by choosing Att above the graph's max degree scale (scores
    * stay ≤ Base·iters·(maxdeg/Att)^iters — long-safe by construction).
    *
    * Scale shape: identical to [[PageRank.run]] — the edge list is
    * partitioned by src once and checkpointed; each round is one
    * equi-join at (node, long) width plus one map-side-combined sum agg.
    */
  def katz(edges: DataFrame, iters: Int, att: Long = 8L): DataFrame = {
    val base = 1000000L
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .localCheckpoint()
    var scores = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(base).as("score"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      scores = e.join(scores.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("score")).as("in"))
        .select(col("dst").as("node"),
          (lit(base) + expr(s"in div $att")).cast("long").as("score"))
      // batched lineage cut (round-6, the PageRank.run rationale): the
      // checkpoint is an eager job; cutting every second round halves
      // the per-query job round-trips at ≤ 2 rounds of lazy depth
      if (i % 2 == 0 || i == iters) scores = scores.localCheckpoint()
    }
    scores
  }

  /** Deterministic node2vec-style random walks (Grover & Leskovec 2016,
    * p = q = 1, i.e. DeepWalk's uniform walker) — the positive-pair
    * generator for KG-embedding training, the natural companion of the
    * FNV negative sampler (kg_negatives). True randomness would be
    * irreproducible across partitionings/engines, so each step draws by
    * hash instead: from node `cur` at step `t` of the walk started at
    * `start`, the next node is
    *
    *   nbrs(cur)[ fnv1a(start '|' t '|' cur) mod deg(cur) ]
    *
    * over the CODE-POINT-sorted neighbour list — a pure function of the
    * graph, replayed verbatim by the DuckDB oracle (HUGEINT FNV fold +
    * list indexing). Per-node neighbour lists are capped at `maxDeg`
    * (keep the sorted prefix): the standard hub guard — an uncapped
    * collect_list over a 10^6-degree web hub would blow a single row,
    * while the prefix cap keeps every adjacency row ≤ maxDeg ids and the
    * walk distribution over non-hub structure intact.
    *
    * edges(src, dst): pass both directions for an undirected graph.
    * Scale shape: one sorted-prefix adjacency build (map-side-combined
    * collect + slice), then per step ONE equi-join of the (walks ×
    * fixed-width) frontier against the checkpointed adjacency — never a
    * per-step shuffle of anything wider than (start, cur, step).
    * Returns (start, step, node): step 0 is the start itself.
    */
  def deterministicWalks(edges: DataFrame, length: Int,
      maxDeg: Int = 32): DataFrame = {
    val adj = edges.groupBy(col("src"))
      .agg(slice(sort_array(collect_set(col("dst"))), 1, maxDeg)
        .as("nbrs"))
      .localCheckpoint()
    var frontier = adj.select(col("src").as("start"), lit(0).as("step"),
      col("src").as("node"))
    val out = scala.collection.mutable.ArrayBuffer(frontier)
    for (t <- 1 to length) {
      val h = graft.functions.FnvHash(concat(col("start"), lit("|"),
        lit(t).cast("string"), lit("|"), col("node")))
      // unsigned mod via the Mix.mixture identity (ANSI-safe longs)
      val stepped = frontier.join(adj, frontier("node") === adj("src"))
        .select(col("start"), lit(t).as("step"),
          element_at(col("nbrs"),
            ((shiftrightunsigned(h, 1) % size(col("nbrs")) * 2 +
              h.bitwiseAND(lit(1L))) % size(col("nbrs"))).cast("int") + 1)
            .as("node"))
      frontier = stepped.localCheckpoint()
      out += frontier
    }
    out.reduce(_ union _)
  }

  /** Strongly connected components over a DIRECTED graph (src, dst) —
    * the analysis the canonicalization CC cannot express: mutual
    * reachability, not mere connectivity. On web-derived directed
    * graphs this is the Broder bow-tie decomposition (one giant core
    * SCC, IN/OUT tendrils of singletons) — exactly the structure the
    * part-sequence graph below exhibits. Distributed
    * trim-color-collect in the Orzan / FW-BW-coloring family (public
    * formulations; Slota et al.'s Multistep = the same three phases),
    * min-label instead of max to match the engine's canonical-label
    * convention everywhere else:
    *
    *   repeat until no nodes remain:
    *     TRIM    peel nodes with no in-edge or no out-edge among the
    *             remaining — each is a singleton SCC (kCore's peel
    *             shape); kills the DAG periphery (web tendrils) cheaply
    *     COLOR   forward min-label fixpoint: color(v) = min id over
    *             remaining nodes that can reach v (the CC round shape:
    *             per round ONE src-keyed equi-join + min-agg). A node r
    *             with color(r)=r is the minimal element of its color
    *             class, and its SCC is contained in that class (if
    *             a<r reached r, a would have colored r's whole class).
    *     COLLECT backward BFS from each root WITHIN its color class —
    *             members found = {v : color(v)=r, v reaches r} = SCC(r);
    *             all roots expand in parallel in the same joins.
    *     REMOVE  matched SCCs leave the graph; every color class loses
    *             at least its root each pass, so the outer loop ends.
    *
    * Deterministic: min-labels over code-point string order, identical
    * in Spark (UTF8 binary) and the oracle's transitive-closure replay
    * (DuckDB varchar min). Scale shape: every phase is the CC/kCore
    * join-agg round over (node, label)-width rows — nothing ∝ edges²;
    * the giant-SCC web regime terminates in few outer passes because
    * trim absorbs the tendrils and one collect absorbs the core.
    * Fixpoint rounds run in lazy batches of 8 between convergence
    * checks — min-label propagation is idempotent past its fixpoint,
    * so overshooting a batch is free, while per-round actions on a
    * long-diameter core would pay ~diameter job-latency round trips
    * (measured 2× the whole query suite on a 50-cycle).
    *
    * Adaptive path (the [[ConnectedComponents]] convention, same
    * threshold semantics via `spark.graft.scc.localThreshold`, default
    * 100 000 edges): dictionary-scale graphs take a driver-side
    * iterative Tarjan — identical labeling (scc_id = min member under
    * the input type's native ordering), path equality ScalaTested.
    * Returns (node, scc_id, scc_size).
    */
  def scc(edges: DataFrame): DataFrame = {
    val (e0, edgeRows) = Relax.countedCheckpoint(edges
      .select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
      .distinct())
    val localThreshold = e0.sparkSession.conf
      .getOption("spark.graft.scc.localThreshold")
      .map(_.toLong).getOrElse(100000L)
    if (edgeRows <= localThreshold)
      localTarjan(e0).foreach(df => return df)
    // confine the edge set to surviving nodes (kCore's two-endpoint
    // semi-join; `keep` is checkpointed by every caller, so the
    // renamed-dst branch reuses the materialized rows, not the plan)
    def confine(e: DataFrame, keep: DataFrame): DataFrame =
      e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
    var remaining = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    var eAct = e0
    var done: DataFrame = null
    def emit(part: DataFrame): Unit = {
      val p = part.localCheckpoint()
      done = if (done == null) p else done.union(p)
    }
    while (remaining.limit(1).count() > 0) {
      // TRIM to fixpoint: singleton SCCs have no in- or no out-edge
      var trimming = true
      while (trimming) {
        val both = remaining
          .join(eAct.select(col("src").as("node")).distinct(),
            Seq("node"), "left_semi")
          .join(eAct.select(col("dst").as("node")).distinct(),
            Seq("node"), "left_semi")
          .localCheckpoint()
        val peeled = remaining.join(both, Seq("node"), "left_anti")
        if (peeled.limit(1).count() == 0) trimming = false
        else {
          emit(peeled.select(col("node"), col("node").as("scc_id")))
          remaining = both
          eAct = confine(eAct, remaining)
        }
      }
      if (remaining.limit(1).count() > 0) {
        // COLOR: forward min-label fixpoint along remaining edges,
        // 8 lazy rounds per convergence check (idempotent overshoot)
        var color = remaining.select(col("node"), col("node").as("color"))
          .localCheckpoint()
        var coloring = true
        while (coloring) {
          var next = color
          for (_ <- 1 to 8) {
            val pushed = eAct
              .join(next.select(col("node").as("src"), col("color")),
                Seq("src"))
              .select(col("dst").as("node"), col("color"))
            next = next.union(pushed).groupBy("node")
              .agg(min(col("color")).as("color"))
          }
          next = next.localCheckpoint()
          val changed = next
            .join(color.withColumnRenamed("color", "prev"), Seq("node"))
            .filter(col("color") < col("prev"))
          color = next
          if (changed.limit(1).count() == 0) coloring = false
        }
        // COLLECT: backward BFS from roots, confined to the color
        // class — 4 lazy expansion rounds per growth check (the
        // union∪step closure is idempotent past the fixpoint too)
        var (member, memberCnt) = Relax.countedCheckpoint(color
          .filter(col("node") === col("color"))
          .select(col("node"), col("node").as("scc_id")))
        var growing = true
        while (growing) {
          var next = member
          for (_ <- 1 to 4) {
            val back = eAct
              .join(next.select(col("node").as("dst"), col("scc_id")),
                Seq("dst"))
              .select(col("src").as("node"), col("scc_id"))
              .join(color, Seq("node"))
              .filter(col("color") === col("scc_id"))
              .select(col("node"), col("scc_id"))
            next = next.union(back).distinct()
          }
          val (grown, nextCnt) = Relax.countedCheckpoint(next)
          member = grown
          if (nextCnt == memberCnt) growing = false
          memberCnt = nextCnt
        }
        emit(member)
        remaining = remaining
          .join(member, Seq("node"), "left_anti").localCheckpoint()
        eAct = confine(eAct, remaining)
      }
    }
    if (done == null)
      return e0.sparkSession.emptyDataFrame
        .select(lit("").as("node"), lit("").as("scc_id"),
          lit(0L).as("scc_size")).limit(0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("scc_id")
    done.select(col("node"), col("scc_id"),
      count(lit(1)).over(w).as("scc_size"))
  }

  /** Condensation of a digraph: contract each SCC (via [[scc]]) to one
    * node, keep the distinct cross-SCC edges — acyclic by construction
    * (Kosaraju's classic corollary) — then assign every SCC its
    * longest-path-from-source LEVEL by `rounds` synchronous max-
    * propagation rounds (exact once rounds ≥ condensation depth; fixed
    * rounds keep the unrolled oracle finite, the engine convention).
    * The DAG schedule view of a web-crawl dependency graph: level 0 =
    * pure sources, the giant core SCC sits mid-chain, and levels give
    * the parallel-wavefront order any downstream propagation
    * (authority, freshness, recrawl) should process components in.
    *
    * Scale shape: two dictionary-width label joins contract the edge
    * list (∝ edges, fixed width); the level rounds are [[Relax]]
    * rounds, max keyed on the SCC: a propagation through an unrisen c
    * was already applied the round after c last rose, and lvl is
    * monotone non-decreasing, so each round forwards only the levels
    * that ROSE last round — one equi-join of that delta against the
    * cs-partitioned condensed edges plus one map-side-combined max-agg,
    * total work ∝ condensed edges, not |condensation| × depth.
    * Returns (scc_id, scc_size, level), one row per SCC.
    */
  def condensation(edges: DataFrame, rounds: Int): DataFrame =
    condensationTrace(edges, rounds)._1

  /** [[condensation]] with its level relaxation's per-round trace. */
  private[graft] def condensationTrace(edges: DataFrame,
      rounds: Int): (DataFrame, Relax.Result) = {
    val sc = scc(edges).localCheckpoint()
    val lab = sc.select(col("node"), col("scc_id"))
    val e = edges.select(col("src"), col("dst")).distinct()
    val ce = e
      .join(lab.withColumnRenamed("node", "src")
        .withColumnRenamed("scc_id", "cs"), Seq("src"))
      .join(lab.withColumnRenamed("node", "dst")
        .withColumnRenamed("scc_id", "cd"), Seq("dst"))
      .filter(col("cs") =!= col("cd"))
      .select(col("cs"), col("cd")).distinct()
      .repartition(col("cs"))
      .localCheckpoint()
    val levels = Relax(
        sc.select(col("scc_id").as("c")).distinct()
          .withColumn("lvl", lit(0L)).localCheckpoint(),
        Seq("c"), "lvl", Relax.Max, rounds) { delta =>
      delta.join(ce, delta("c") === ce("cs"))
        .select(col("cd").as("c"), (col("lvl") + 1L).as("lvl"))
    }
    (sc.select(col("scc_id"), col("scc_size")).distinct()
      .join(levels.state.withColumnRenamed("c", "scc_id"), Seq("scc_id"))
      .select(col("scc_id"), col("scc_size"), col("lvl").as("level")),
      levels)
  }

  /** Double-sweep diameter lower bound (Magnien, Latapy & Habib 2009):
    * BFS from the minimal node, re-BFS from its farthest node u (ties
    * to the smallest id) — ecc(u) is a certified diameter LOWER bound
    * (≥ ⌈diam/2⌉ on UNDIRECTED graphs — the certification does not
    * transfer to directed input; the sole call site passes a symmetric
    * edge list, which is this function's contract), u peripheral by
    * construction. Two frontier-delta BFS passes (per round one
    * equi-join of only the NEW frontier + one anti-join — total work
    * ∝ edges; a DRAINED frontier ends the sweep early, skipping the
    * remaining rounds' job submissions outright, round-6); returns
    * per-node distances from u with `sweep_src` and `diam_lb` inline.
    * Every scalar rides a checkpoint job as an observed metric: the
    * start node is the min endpoint observed on the edge checkpoint, u
    * the min node of the first sweep's last non-empty frontier (the
    * farthest ring, smallest id first) and `diam_lb` the round of the
    * second sweep's last non-empty frontier — no scalar job of its own.
    * `rounds` hop-bounds both sweeps (the engine's fixed-rounds
    * convention, matching the oracle's bounded closure; exact when ≥
    * the true eccentricities — skipped empty-frontier rounds are
    * provable no-ops, so the hop-bounded result is unchanged).
    */
  def doubleSweep(edges: DataFrame, rounds: Int): DataFrame = {
    // start node = min over BOTH endpoint roles (matches the oracle's
    // src UNION dst min; identical on the symmetric-input contract, and
    // correct for any future directed caller — round-6 advice)
    val (e, em) = Relax.observedCheckpoint(
      edges.select(col("src"), col("dst")).repartition(col("src")).distinct(),
      min(least(col("src"), col("dst"))).as("s0"))
    // frontier-DELTA BFS: for unit weights first-reach IS min-hop, so
    // each round joins only the NEW nodes — work ∝ edges TOTAL, not
    // reached × rounds. The frontier's checkpoint job counts its rows
    // and finds its min node: the count buys the early exit for free
    // (when the true eccentricity < rounds, the remaining rounds' join
    // jobs never launch), and the last non-empty frontier is the
    // farthest ring. Returns (dist, farthest round, its min node).
    def bfs(source: String): (DataFrame, Long, String) = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      // a local relation: the seed row costs no job
      var dist = e.sparkSession.createDataFrame(
        java.util.List.of(Row(source, 0L)),
        StructType(Seq(StructField("node", e.schema("src").dataType),
          StructField("dist", LongType, nullable = false))))
      var frontier = dist.select("node")
      var (far, farNode) = (0L, source)
      var k = 1L
      var drained = false
      while (k <= rounds && !drained) {
        val step = e
          .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
        val (fr, m) = Relax.observedCheckpoint(
          step.join(dist, Seq("node"), "left_anti")
            .select(col("node"), lit(k).as("dist")),
          count(lit(1)).as("reached"), min(col("node")).as("first"))
        drained = m("reached") == 0L
        if (!drained) { far = k; farNode = m("first").asInstanceOf[String] }
        dist = dist.union(fr)
        frontier = fr.select("node")
        k += 1
      }
      (dist, far, farNode)
    }
    val (_, _, u) = bfs(em("s0").asInstanceOf[String])
    val (d2, diam, _) = bfs(u)
    d2.select(col("node"), col("dist"), lit(u).as("sweep_src"),
      lit(diam).as("diam_lb"))
  }

  /** Weisfeiler–Leman color refinement (WL 1968; the graph-kernel
    * form is Shervashidze et al., JMLR 2011): iteratively relabel each
    * node with a hash of (own label, sorted multiset of neighbour
    * labels). After k rounds, equal labels ⇒ locally isomorphic
    * k-neighbourhoods — the structural FINGERPRINT that lets a KG
    * dedup tier catch re-crawled/mirrored subgraphs whose entity names
    * differ but whose shape is identical (the graph-shaped sibling of
    * the text tiers' SimHash), and the exact label algebra GNN
    * expressiveness is measured against. Known boundary, spec-pinned:
    * WL cannot split regular graphs of equal degree (C6 vs 2×C3).
    *
    * Determinism: init label = degree; refinement hash = FNV-1a over
    * `own:sorted,neighbour,labels` (decimal rendering — ASCII, so the
    * [[graft.functions.FnvHash]] UTF-16 fold ≡ the oracle's
    * code-point HUGEINT fold), multiset sorted numerically on both
    * engines. Scale shape: each round is the canonical message-passing
    * pair — one dst-keyed equi-join shipping (edge, 8-byte label) rows
    * + one src-keyed sort-agg with the same width — exactly a GNN
    * aggregation step; labels stay fixed-width longs so round cost is
    * ∝ edges, never label-history. (The per-node neighbour string is
    * degree-bounded; a production run folds the sorted numeric array
    * directly — same determinism, no string materialization — and
    * hubs are bounded by the same guards the CC/kCore family uses.)
    * Returns (node, lbl, class_size) after `rounds` rounds.
    */
  def wl(edges: DataFrame, rounds: Int): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val und = e0.union(e0.select(col("dst").as("src"),
        col("src").as("dst"))).distinct().localCheckpoint()
    var lab = und.groupBy("src")
      .agg(count(lit(1)).cast("long").as("lbl"))
      .select(col("src").as("node"), col("lbl")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val nbs = und
        .join(lab.withColumnRenamed("node", "dst")
          .withColumnRenamed("lbl", "nlbl"), Seq("dst"))
        .groupBy(col("src"))
        .agg(array_join(transform(sort_array(collect_list(col("nlbl"))),
          _.cast("string")), ",").as("nbs"))
      lab = lab
        .join(nbs.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("node"), graft.functions.FnvHash(
          concat(col("lbl").cast("string"), lit(":"), col("nbs")))
          .as("lbl"))
        .localCheckpoint()
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lbl")
    lab.select(col("node"), col("lbl"),
      count(lit(1)).over(w).as("class_size"))
  }

  /** Bow-tie decomposition of a digraph (Broder et al., "Graph
    * structure in the Web", WWW 2000 — THE structural census of web
    * crawls, run here over the same Common-Crawl-shaped corpus family
    * the north rule targets): CORE = the largest SCC (ties to the
    * smallest scc_id, deterministic), IN = non-core nodes that reach
    * the core, OUT = non-core nodes the core reaches, TENDRIL = the
    * remainder of the core's weakly connected component (Broder's
    * tendrils AND tubes — a tube is an IN→OUT path skirting the core;
    * both hang off the WCC without core reachability, and the census
    * traditionally reports them together when tubes aren't split out),
    * DISCONNECTED = everything in other WCCs. IN and OUT cannot
    * overlap outside the core: mutual reachability with the core IS
    * core membership.
    *
    * Scale shape: SCC via [[scc]] (adaptive local/distributed), then
    * EVERYTHING else runs on the condensation DAG — classification is
    * an SCC-level property, so classifying nodes directly would redo
    * per-node work the contraction already paid for. Below the
    * adaptive threshold the DAG is driver-resident (the [[scc]]
    * localTarjan convention): BFS both ways from the core plus a weak
    * union-find, O(|dag edges|). Above it: frontier-DELTA BFS per
    * direction (per round one equi-join of only the NEW frontier + one
    * anti-join — work ∝ frontier, rounds = DAG depth) and the
    * O(log n)-round [[ConnectedComponents]] for weak components.
    * Node-level classes come back through ONE broadcast join of the
    * (scc_id, btclass) dictionary against the scc labeling — the
    * corpus-scale side never re-shuffles. The 1-row driver scalars
    * (core scc id, core wcc id) are the allowlisted global-reduction
    * shape. Returns (node, btclass, class_size).
    */
  def bowtie(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    val spark = edges.sparkSession
    val e0 = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    val sc = scc(e0).localCheckpoint()
    val coreId = sc.orderBy(col("scc_size").desc, col("scc_id").asc)
      .select("scc_id").limit(1).collect()(0).get(0)
    // contract to the condensation DAG FIRST — everything after runs at
    // SCC (dictionary) scale, and node-level classes come back through
    // one broadcast join against the scc labeling
    val lab = sc.select(col("node"), col("scc_id"))
    val (ce, ceRows) = Relax.countedCheckpoint(e0
      .join(lab.withColumnRenamed("node", "src")
        .withColumnRenamed("scc_id", "cs"), Seq("src"))
      .join(lab.withColumnRenamed("node", "dst")
        .withColumnRenamed("scc_id", "cd"), Seq("dst"))
      .filter(col("cs") =!= col("cd"))
      .select(col("cs"), col("cd")).distinct())
    val localThreshold = spark.conf
      .getOption("spark.graft.scc.localThreshold")
      .map(_.toLong).getOrElse(100000L)
    val classByScc: DataFrame =
      if (ceRows <= localThreshold) {
        // driver path (the [[scc]] localTarjan convention): BFS both
        // ways from the core over the DAG + a weak union-find, O(|ce|)
        val es = ce.collect().map(r => (r.get(0), r.get(1)))
        val sccs = sc.select(col("scc_id")).distinct()
          .collect().map(_.get(0))
        val fwd = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val bwd = es.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
        def bfs(adj: Map[Any, Array[Any]]): Set[Any] = {
          val seen = scala.collection.mutable.Set[Any](coreId)
          val queue = scala.collection.mutable.Queue[Any](coreId)
          while (queue.nonEmpty) {
            val c = queue.dequeue()
            for (n <- adj.getOrElse(c, Array.empty[Any]) if !seen(n)) {
              seen += n; queue += n
            }
          }
          seen.toSet
        }
        val outSet = bfs(fwd)
        val inSet = bfs(bwd)
        val parent = scala.collection.mutable.Map[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        for ((a, b) <- es) parent(find(a)) = find(b)
        val coreComp = find(coreId)
        val rows = sccs.map { c =>
          val cls =
            if (c == coreId) "CORE"
            else if (inSet(c)) "IN"
            else if (outSet(c)) "OUT"
            else if (find(c) == coreComp) "TENDRIL"
            else "DISCONNECTED"
          Row(c, cls)
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.toSeq, 1),
          StructType(Seq(
            StructField("scc_id", sc.schema("scc_id").dataType),
            StructField("btclass", StringType))))
      } else {
        // distributed path: frontier-DELTA BFS over the DAG (per round
        // one equi-join of the new frontier + one anti-join; work ∝
        // frontier, rounds = DAG depth) and the O(log n) CC for the
        // weak components
        def reach(fwdDir: Boolean): DataFrame = {
          var set = sc.select(col("scc_id").as("c"))
            .filter(col("c") === coreId).distinct().localCheckpoint()
          var frontier = set
          var more = true
          while (more) {
            val step =
              if (fwdDir)
                ce.join(frontier.withColumnRenamed("c", "cs"), Seq("cs"))
                  .select(col("cd").as("c"))
              else
                ce.join(frontier.withColumnRenamed("c", "cd"), Seq("cd"))
                  .select(col("cs").as("c"))
            val (fr, reached) = Relax.countedCheckpoint(step.distinct()
              .join(set, Seq("c"), "left_anti"))
            frontier = fr
            if (reached == 0) more = false
            else set = set.union(frontier).localCheckpoint()
          }
          set
        }
        val outSet = reach(fwdDir = true)
        val inSet = reach(fwdDir = false)
        val wcc = ConnectedComponents.run(
            ce.select(col("cs").as("a"), col("cd").as("b")))
          .localCheckpoint()
        val coreComp = wcc.filter(col("node") === coreId)
          .agg(min(col("component"))).collect()(0).get(0)
        sc.select(col("scc_id")).distinct()
          .join(inSet.withColumnRenamed("c", "scc_id")
            .withColumn("r_in", lit(1)), Seq("scc_id"), "left")
          .join(outSet.withColumnRenamed("c", "scc_id")
            .withColumn("r_out", lit(1)), Seq("scc_id"), "left")
          .join(wcc.withColumnRenamed("node", "scc_id"),
            Seq("scc_id"), "left")
          .select(col("scc_id"),
            when(col("scc_id") === coreId, "CORE")
              .when(col("r_in") === 1, "IN")
              .when(col("r_out") === 1, "OUT")
              .when(col("component") === coreComp, "TENDRIL")
              .otherwise("DISCONNECTED").as("btclass"))
      }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("btclass")
    sc.select(col("node"), col("scc_id"))
      .join(broadcast(classByScc), Seq("scc_id"))
      .select(col("node"), col("btclass"),
        count(lit(1)).over(w).as("class_size"))
  }

  /** Driver-side iterative Tarjan for dictionary-scale digraphs (the
    * [[ConnectedComponents.localUnionFind]] convention): scc_id = min
    * member UNDER THE INPUT TYPE'S NATIVE ORDERING — strings by code
    * point (≡ Spark min / DuckDB varchar min), int/long numerically;
    * other id types return None and take the distributed path.
    * Explicit-stack DFS: no recursion, so a 10^5-node chain can't blow
    * the driver stack.
    */
  private def localTarjan(e0: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = e0.sparkSession
    val dt = e0.schema.fields(0).dataType
    val ordOpt: Option[Ordering[Any]] = dt match {
      case StringType => Some(
        ((x: Any, y: Any) => graft.model.CodePoint.compare(
          x.asInstanceOf[String], y.asInstanceOf[String])): Ordering[Any])
      case IntegerType => Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
      case LongType => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
      case _ => None
    }
    ordOpt.map { ord =>
      val es = e0.collect().map(r => (r.get(0), r.get(1)))
      val nodes = es.flatMap(t => Seq(t._1, t._2)).distinct
      val idx = nodes.zipWithIndex.toMap
      val n = nodes.length
      val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer[Int]())
      es.foreach { case (s, d) => adj(idx(s)) += idx(d) }
      val index = Array.fill(n)(-1)
      val low = new Array[Int](n)
      val onStack = new Array[Boolean](n)
      val tarjanStack = scala.collection.mutable.ArrayBuffer[Int]()
      val comp = Array.fill(n)(-1)
      var counter = 0
      var ncomp = 0
      for (root <- 0 until n if index(root) == -1) {
        val dfs = scala.collection.mutable.ArrayBuffer[(Int, Iterator[Int])]()
        index(root) = counter; low(root) = counter; counter += 1
        tarjanStack += root; onStack(root) = true
        dfs += ((root, adj(root).iterator))
        while (dfs.nonEmpty) {
          val (v, it) = dfs.last
          if (it.hasNext) {
            val w = it.next()
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              tarjanStack += w; onStack(w) = true
              dfs += ((w, adj(w).iterator))
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            dfs.remove(dfs.length - 1)
            if (dfs.nonEmpty) {
              val p = dfs.last._1
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              var w = -1
              do {
                w = tarjanStack.remove(tarjanStack.length - 1)
                onStack(w) = false
                comp(w) = ncomp
              } while (w != v)
              ncomp += 1
            }
          }
        }
      }
      val members = Array.fill(ncomp)(scala.collection.mutable.ArrayBuffer[Int]())
      (0 until n).foreach(i => members(comp(i)) += i)
      val minOf = members.map(ms => ms.map(nodes).min(ord))
      val sizeOf = members.map(_.length.toLong)
      val rows = (0 until n).map(i =>
        Row(nodes(i), minOf(comp(i)), sizeOf(comp(i))))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1),
        StructType(Seq(StructField("node", dt), StructField("scc_id", dt),
          StructField("scc_size", LongType))))
    }
  }

  /** Deterministic Luby-style maximal independent set: each round the
    * nodes that are a LOCAL MINIMUM among their still-active neighbours
    * join the set, then they and their neighbours retire. Luby (1986)
    * salts priorities per round for the O(log n) expected-round
    * guarantee; the id-priority variant here is the same algorithm with
    * a fixed priority draw, kept because every round is then a pure
    * function of the remaining graph and the DuckDB oracle replays it
    * verbatim (the kCore/maximalMatching convention — fixed `rounds`
    * yields the partial set the budget reaches, and the worst case is a
    * planted-structure StressBench law, not a hidden cliff). MIS is the
    * symmetry-breaking primitive under distributed coloring/scheduling —
    * the dual of [[maximalMatching]] on the node side.
    *
    * edges(src, dst): both directions for an undirected graph. Scale
    * shape per round: one map-side-combined min agg (the local-min
    * test), one edge-semi-join fan-out for retired neighbours, two
    * anti-joins confining the graph — id-width rows only, nothing
    * ∝ edges². Returns (node) rows, the set members found in-budget.
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src")).distinct()
      .localCheckpoint()
    var act = e.select(col("src").as("node")).distinct().localCheckpoint()
    var out: DataFrame = null
    // Round-6: an empty active set is the exact fixpoint — every later
    // round's winner set is empty and the graph is unchanged, so the
    // remaining rounds (and the fixpoint round's confinement joins)
    // are skipped as provable no-ops.
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val minN = e.groupBy("src").agg(min(col("dst")).as("mn"))
      val win = act.join(minN, act("node") === minN("src"), "left")
        .filter(col("mn").isNull || col("node") < col("mn"))
        .select(col("node"))
        .localCheckpoint()
      out = if (out == null) win else out.union(win).localCheckpoint()
      r += 1
      if (r < rounds) {
        val nbr = e.join(win.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"))
        val removed = win.union(nbr).distinct().localCheckpoint()
        val (left, active) = Relax.countedCheckpoint(
          act.join(removed, Seq("node"), "left_anti"))
        act = left
        e = e.join(removed.withColumnRenamed("node", "src"),
            Seq("src"), "left_anti")
          .join(removed.withColumnRenamed("node", "dst"),
            Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
          .localCheckpoint()
        done = active == 0
      }
    }
    out
  }

  /** Borůvka minimum spanning forest over a weighted undirected graph
    * (Borůvka 1926; the MapReduce MST of Lattanzi et al. 2011's
    * filtering family): each round every component selects its
    * lightest out-edge under the TOTAL order (w, a, b) — the classic
    * tie-break that makes the forest unique without assuming distinct
    * weights — the chosen edges join the forest, and touched
    * components contract via connected components (min-label, the same
    * semantics as [[ConnectedComponents.run]], so both engines agree).
    * O(log n) rounds connect any graph; fixed `rounds` returns the
    * partial forest the budget reaches (kCore convention). MSF is the
    * clustering backbone — single-linkage dendrograms and Karger-style
    * contraction both start here.
    *
    * wedges(a, b, w): canonical a < b rows, one per undirected edge.
    * Scale shape per round: two dictionary-width comp-label joins onto
    * the edge table, one map-side-combined min-struct agg keyed on
    * component, a CC over the chosen ≤|components| edges (log-round
    * star algorithm), one relabel join — nothing ∝ edges² and the
    * chosen set shrinks geometrically. Returns (a, b, w, round).
    */
  def boruvkaForest(wedges: DataFrame, rounds: Int): DataFrame = {
    val e0 = wedges.select(col("a"), col("b"), col("w"))
      .distinct().localCheckpoint()
    var comp = e0.select(col("a").as("node"))
      .union(e0.select(col("b").as("node"))).distinct()
      .select(col("node"), col("node").as("comp"))
      .localCheckpoint()
    var out: DataFrame = null
    // Round-6: an empty chosen set (no inter-component edge remains) is
    // the exact fixpoint — later rounds re-derive the same empty set —
    // so the remaining rounds, and the fixpoint round's CC contraction
    // and relabel join, are skipped as provable no-ops.
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val ca = comp.select(col("node").as("a"), col("comp").as("ca"))
      val cb = comp.select(col("node").as("b"), col("comp").as("cb"))
      val lab = e0.join(ca, "a").join(cb, "b")
        .filter(col("ca") =!= col("cb"))
      val st = struct(col("w"), col("a"), col("b"),
        col("ca"), col("cb"))
      val (chosen, nChosen) = Relax.countedCheckpoint(
        lab.select(col("ca").as("c"), st.as("e"))
        .union(lab.select(col("cb").as("c"), st.as("e")))
        .groupBy("c").agg(min(col("e")).as("e"))
        .select(col("e.w").as("w"), col("e.a").as("a"),
          col("e.b").as("b"), col("e.ca").as("ca"), col("e.cb").as("cb"))
        .distinct())
      r += 1
      val f = chosen.select(col("a"), col("b"), col("w"),
        lit(r).as("round"))
      out = if (out == null) f.localCheckpoint()
        else out.union(f).localCheckpoint()
      if (nChosen == 0) done = true
      else if (r < rounds) {
        val merged = ConnectedComponents.run(
            chosen.select(col("ca").as("a"), col("cb").as("b")))
          .select(col("node").as("comp"), col("component").as("nc"))
        comp = comp.join(merged, Seq("comp"), "left")
          .select(col("node"), coalesce(col("nc"), col("comp")).as("comp"))
          .localCheckpoint()
      }
    }
    out
  }

  /** Densest-subgraph 2(1+ε)-approximation by parallel greedy peeling
    * (Charikar 2000's greedy, in the O(log n)-round batched form of
    * Bahmani, Kumar & Vassilvitskii, VLDB 2012): each round drops every
    * node whose degree is below (1+ε)·avg-degree, ε = 1/2 — the
    * integer-exact gate deg(v)·|V| ≤ 3·|E| (cross-multiplied, no
    * rationals) — and the surviving subgraph with the best edge/node
    * density across rounds is returned. Density comparison uses IEEE
    * BIGINT→double division (correctly rounded, so equal rationals
    * compare equal in both engines), ties to the earliest round. The
    * standard "find the core worth keeping" primitive over extraction
    * graphs — spam link farms and boilerplate-mention cliques surface
    * as the densest component.
    *
    * edges(src, dst): both directions. Scale shape per round: one
    * map-side-combined degree agg, one |V|-width filter against two
    * driver scalars (the counts — dictionary-scale, the modularity-m
    * convention), two semi-joins confining edges. Returns the best
    * round's nodes as (node, n_nodes, n_edges, best_round).
    */
  def densestSubgraph(edges: DataFrame, rounds: Int): DataFrame = {
    var (e, ne0) = Relax.countedCheckpoint(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .repartition(col("src")).distinct())
    var (v, nv0) = Relax.countedCheckpoint(
      e.select(col("src").as("node")).distinct())
    var best = v
    var bestR = 0
    var bestNe = ne0 / 2
    var bestNv = nv0
    var bestD = if (bestNv == 0) -1.0 else bestNe.toDouble / bestNv
    // Round-6: a round that drops no node leaves (v, e) unchanged, so
    // every later round recomputes the identical state and density —
    // never beating bestD (strict >) — and is skipped as a provable
    // no-op. An emptied graph likewise never changes again.
    // (the fixpoint round's exit counts double as the next round's
    // entry counts — the old shape recounted the same frames twice)
    var curNe = bestNe
    var curNv = bestNv
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val ne = curNe
      val nv = curNv
      if (nv == 0) done = true
      else {
        val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        val (v2, nv2) = Relax.countedCheckpoint(
          v.join(deg, v("node") === deg("src"), "left")
            .filter(coalesce(col("deg"), lit(0L)) * nv > lit(3L) * ne)
            .select(col("node")))
        v = v2
        val (e2, ee2) = Relax.countedCheckpoint(
          e.join(v.withColumnRenamed("node", "src"), Seq("src"),
              "left_semi")
            .join(v.withColumnRenamed("node", "dst"), Seq("dst"),
              "left_semi")
            .select(col("src"), col("dst")))
        e = e2
        val ne2 = ee2 / 2
        val d = if (nv2 == 0) -1.0 else ne2.toDouble / nv2
        if (d > bestD) {
          bestD = d; best = v; bestR = r; bestNe = ne2; bestNv = nv2
        }
        curNe = ne2
        curNv = nv2
        done = nv2 == nv
      }
    }
    best.select(col("node"), lit(bestNv).as("n_nodes"),
      lit(bestNe).as("n_edges"), lit(bestR).as("best_round"))
  }

  /** Jones–Plassmann greedy coloring (Jones & Plassmann 1993), the
    * id-priority deterministic variant: each round the uncolored nodes
    * that are a local minimum among their UNCOLORED neighbours pick the
    * smallest color absent from their already-colored neighbourhood.
    * Independent local minima can color simultaneously without
    * conflict (they are an MIS of the uncolored subgraph — this is
    * [[maximalIndependentSet]] driving a color assignment, the classic
    * reduction). Colors are bounded by max-degree + 1. Fixed `rounds`
    * colors the prefix the budget reaches (kCore convention);
    * production salts priorities per the JP paper for O(log n / log
    * log n) expected rounds.
    *
    * edges(src, dst): both directions. Scale shape per round: the
    * state is one (node, color) frame, color null while uncolored. A
    * round joins the edges to the state on `dst`, unions in the state's
    * own rows and runs ONE groupBy(node) that yields the min uncolored
    * neighbour (the local-min test), the set of ≤deg colored-neighbour
    * colors and the node's own color; a local minimum takes the
    * smallest color missing from that set, computed in-row over the
    * bounded array (sequence + filter + array_min, codegen'd) —
    * id-width shuffles only. Round 1 has no colored neighbours yet, so
    * its aggregate carries no color set (a collect_set needs an object
    * buffer, which the primitive hash aggregate cannot hold). The
    * round's checkpoint job counts the nodes still uncolored, which is
    * the exit test. Returns (node, color) for nodes colored in-budget.
    */
  def jpColoring(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("src")).distinct()
      .localCheckpoint()
    val nodeType = e.schema("src").dataType
    var state = e.select(col("src").as("node"),
      lit(null).cast("int").as("color")).distinct()
    // Round-6: no uncolored node left is the exact fixpoint — every
    // later round wins nothing and colors nothing — so remaining
    // rounds are skipped as provable no-ops.
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val nbr = e.join(state.select(col("node").as("dst"),
          col("color").as("c")), "dst")
        .select(col("src").as("node"), col("dst"), col("c"),
          lit(null).cast("int").as("own"))
      val self = state.select(col("node"),
        lit(null).cast(nodeType).as("dst"), lit(null).cast("int").as("c"),
        col("color").as("own"))
      val (usedAgg, used) =
        if (r == 1) (Nil, array().cast("array<int>"))
        else (Seq(collect_set(col("c")).as("used")), col("used"))
      val g = nbr.union(self).groupBy("node").agg(
        min(when(col("c").isNull, col("dst"))).as("mn"),
        (max(col("own")).as("own") +: usedAgg): _*)
      // smallest non-negative color absent from `used`: scan
      // 0..size(used) — one of those values must be free.
      val next = g.select(col("node"), coalesce(col("own"),
        when(col("mn").isNull || col("node") < col("mn"),
          array_min(filter(sequence(lit(0), size(used)),
            c => !array_contains(used, c))))).as("color"))
      val (cp, uncolored, _) =
        Relax.countedCheckpoint(next, col("color").isNull)
      state = cp
      done = uncolored == 0
    }
    state.filter(col("color").isNotNull)
  }

  /** Per-node butterfly counts over a bipartite graph summarized as a
    * same-side pair histogram: `pairs(a, b, c)` = canonical a < b rows
    * with c = the number of opposite-side nodes adjacent to BOTH. A
    * butterfly (the bipartite 4-cycle, the smallest bipartite motif —
    * Sanei-Mehri, Sariyüce & Tirthapura, KDD 2018) exists for every
    * unordered pair of shared neighbours, so the pair contributes
    * C(c, 2) = c·(c−1)/2 butterflies to each endpoint. Butterfly
    * density is the bipartite clustering signal: over the doc–entity
    * mention graph, boilerplate/template pages and spam mention-farms
    * surface as butterfly-heavy entities long before they close
    * same-side triangles.
    *
    * Scale shape: the input histogram is the engine's fused map-side
    * pair count (≤K²/2 dictionary-scale rows regardless of corpus
    * size); this adds one unionAll (no shuffle) and one
    * map-side-combined agg keyed on the node — the per-doc quadratic
    * explode never happens. Integer-exact: c·(c−1) is even, so the
    * `div 2` is lossless and the oracle replays it with `//`.
    *
    * Returns (node, n_partners, butterflies): co-neighbour partner
    * count and Σ C(c, 2) over the node's pairs.
    */
  def butterflyCounts(pairs: DataFrame): DataFrame = {
    val sides = pairs.select(col("a").as("node"), col("c"))
      .unionAll(pairs.select(col("b").as("node"), col("c")))
    sides.groupBy("node")
      .agg(count(lit(1)).as("n_partners"),
        sum(expr("c * (c - 1) div 2")).as("butterflies"))
  }

  /** Degree-assortativity joint moments (Newman, PRL 2002): over the
    * symmetrized edge multiset, the six exact-integer moments of the
    * per-edge endpoint-degree pairs (x, y) = (deg(src), deg(dst)) —
    * m = |edges|, Σx, Σy, Σxy, Σx², Σy². Pearson's r =
    * (m·Σxy − Σx·Σy) / √((m·Σx² − (Σx)²)(m·Σy² − (Σy)²)) is one float
    * division over them ([[assortativityOf]], ScalaTested) — the
    * integer core is what the oracle replays, the kg_entity_stats
    * convention. Hub-heavy webgraphs are strongly disassortative
    * (r < 0); a sign flip after a pipeline change is the classic
    * canary for accidental hub duplication.
    *
    * Scale shape: one map-side-combined degree agg (|V| rows), two
    * node-keyed joins decorating the edge list (shuffle ∝ |E|, AQE
    * handles hub skew), one global agg — no quadratic step. BIGINT
    * bounds: deg ≤ |V|, so m·Σx² ≤ |E|²·max_deg² — overflow-safe
    * through ~10^4 max-degree at 10^6 edges; beyond that the moments
    * themselves still fit (only the DERIVED products need care, and
    * those live driver-side in BigInt inside [[assortativityOf]]).
    */
  /** deg(v) = occurrences of v as src — the degree iff the input is
    * symmetrized (the documented domain of the statistics below); on
    * raw directed input this is the OUT-degree, and the edge
    * decorations are LEFT joins with missing-as-zero so a pure-sink
    * endpoint reads deg 0 rather than silently dropping its edges.
    * Returns ([deg relation], [per-edge (dx, dy) endpoint degrees]).
    */
  private def degreeDecorated(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dec = e.join(deg.select(col("node"), col("deg").as("dx")),
        e("src") === col("node"), "left").drop("node")
      .join(deg.select(col("node"), col("deg").as("dy")),
        col("dst") === col("node"), "left").drop("node")
      .select(coalesce(col("dx"), lit(0L)).as("dx"),
        coalesce(col("dy"), lit(0L)).as("dy"))
    (deg, dec)
  }

  def assortativityMoments(edges: DataFrame): DataFrame =
    degreeDecorated(edges)._2
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))

  /** Rich-club connectivity (Zhou & Mondragón 2004): for each degree
    * threshold k, how many nodes have deg > k and how many (directed
    * multiset — symmetrized input counts each undirected edge twice)
    * edges run BETWEEN them. φ(k) = n_edges / (n_nodes·(n_nodes−1)) is
    * then exactly the classic 2E/(N(N−1)) — derived from the emitted
    * integers, never computed in floats. The "do hubs form an elite
    * core?" statistic completing the degree-correlation family next to
    * [[assortativityMoments]].
    *
    * Scale shape: the corpus-scale work is the shared degree agg + two
    * decorations ([[degreeDecorated]]); everything after runs on
    * DEGREE HISTOGRAMS (≤ |distinct degree values| rows — dictionary
    * scale), exploded in-row per threshold (no join, no nested loop).
    * A k whose rich club is empty yields no row (no histogram mass
    * passes the filter).
    */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "need at least one threshold")
    val (deg, dec) = degreeDecorated(edges)
    val nodeHist = deg.groupBy(col("deg").as("v"))
      .agg(count(lit(1)).as("c"))
      .select(lit("n").as("kind"), col("v"), col("c"))
    // an edge is inside the k-club iff min(dx, dy) > k
    val edgeHist = dec.groupBy(least(col("dx"), col("dy")).as("v"))
      .agg(count(lit(1)).as("c"))
      .select(lit("e").as("kind"), col("v"), col("c"))
    nodeHist.unionAll(edgeHist)
      .select(col("kind"), col("v"), col("c"),
        explode(typedLit(ks.map(_.toLong))).as("k"))
      .filter(col("v") > col("k"))
      .groupBy("k")
      .agg(sum(when(col("kind") === "n", col("c")).otherwise(0L))
          .as("n_nodes"),
        sum(when(col("kind") === "e", col("c")).otherwise(0L))
          .as("n_edges"))
  }

  /** Exact 4-node graphlet census (non-induced counts, the ESCAPE
    * decomposition — Pinar, Seshadhri & Vishal, WWW 2017): one row of
    * global motif counts over an undirected simple graph —
    *
    *   n_nodes, n_edges,
    *   n_wedges     = Σ_v C(deg v, 2)
    *   n_triangles  = |apex rows| / 3 (each triangle seen once per edge)
    *   n_paths3     = Σ_e (deg a − 1)(deg b − 1) − 3·triangles
    *   n_tailed     = Σ_{(edge, apex)} (deg apex − 2)
    *   n_diamonds   = Σ_e C(t_e, 2)      (triangle pairs sharing edge e)
    *   n_cycles4    = Σ_{x<y} C(codeg(x,y), 2) / 2 (two diagonals each)
    *   n_cliques4   = |adjacent apex pairs per edge| / 6 (six edges each)
    *
    * — the structural fingerprint (motif signature) of the canonical
    * entity graph; every quantity is an exact integer replayed verbatim
    * by the `kg_motifs` oracle. Input edges are re-canonicalized
    * internally (least/greatest, self-loops dropped, distinct) so the
    * apex probe's (x, y) orientation always matches the edge table's.
    *
    * Scale shape: the wedge join fans out Σ_v C(deg v, 2) rows — the
    * irreducible cost of exact codegree/4-cycle counting (on skewed
    * graphs, cap hubs first: [[linkPrediction]]'s maxHubDegree guard
    * composes — census the capped graph and report the cap). Wedge rows
    * are deliberately RECOMPUTED for the codegree and apex branches
    * rather than materialized (two shuffles beat persisting a
    * wedge-scale table); apex rows (3 per triangle) ARE checkpointed and
    * reused four times. The apex-pair stage is Σ_e C(t_e, 2) =
    * n_diamonds rows — triangle-density-bounded, never |V|². Scalars
    * assemble via a 9-row metric union + ONE aggregate (no 1-row
    * nested-loop joins).
    */
  def motifCensus(edges: DataFrame): DataFrame = {
    val e = edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    val und = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))

    def wedgeRows = und.alias("u1").join(und.alias("u2"),
        col("u1.src") === col("u2.src") && col("u1.dst") < col("u2.dst"))
      .select(col("u1.dst").as("x"), col("u2.dst").as("y"),
        col("u1.src").as("z"))

    // (edge (x,y), apex z): one row per (triangle, edge) — 3 per triangle
    val apex = wedgeRows.join(e,
        col("x") === col("a") && col("y") === col("b"))
      .select(col("x"), col("y"), col("z")).localCheckpoint()

    def metric(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("m"),
        col(df.columns.head).cast("long").as("v"))

    val p3w = e.join(deg.select(col("node"), col("deg").as("da")),
        col("a") === col("node")).drop("node")
      .join(deg.select(col("node"), col("deg").as("db")),
        col("b") === col("node")).drop("node")
      .agg(coalesce(sum((col("da") - 1) * (col("db") - 1)), lit(0L)))
    val apexPairs = apex.join(
        apex.select(col("x"), col("y"), col("z").as("z2")), Seq("x", "y"))
      .filter(col("z") < col("z2"))
    val parts = Seq(
      metric("n_nodes", deg.agg(count(lit(1)))),
      metric("n_edges", e.agg(count(lit(1)))),
      metric("n_wedges",
        deg.agg(coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)))),
      metric("t3", apex.agg(count(lit(1)))),
      metric("p3w", p3w),
      metric("n_tailed", apex.join(deg, col("z") === col("node"))
        .agg(coalesce(sum(col("deg") - 2), lit(0L)))),
      metric("n_diamonds",
        apex.groupBy("x", "y").agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(expr("t * (t - 1) div 2")), lit(0L)))),
      metric("c4x2",
        wedgeRows.groupBy("x", "y").agg(count(lit(1)).as("cd"))
          .agg(coalesce(sum(expr("cd * (cd - 1) div 2")), lit(0L)))),
      metric("k6", apexPairs.join(e,
          col("z") === col("a") && col("z2") === col("b"))
        .agg(count(lit(1)))))

    def pick(name: String) =
      coalesce(sum(when(col("m") === name, col("v"))), lit(0L)).as(name)
    parts.reduce(_ unionAll _)
      .agg(pick("n_nodes"), pick("n_edges"), pick("n_wedges"), pick("t3"),
        pick("p3w"), pick("n_tailed"), pick("n_diamonds"), pick("c4x2"),
        pick("k6"))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        expr("t3 div 3").as("n_triangles"),
        (col("p3w") - col("t3")).as("n_paths3"),
        col("n_tailed"), col("n_diamonds"),
        expr("c4x2 div 2").as("n_cycles4"),
        expr("k6 div 6").as("n_cliques4"))
  }

  /** Pearson's r from the [[assortativityMoments]] row — exact BigInt
    * products, one final float division (None when a variance is 0:
    * regular graphs have undefined assortativity). */
  def assortativityOf(m: Long, sx: Long, sy: Long, sxy: Long,
                      sxx: Long, syy: Long): Option[Double] = {
    val num = BigInt(m) * sxy - BigInt(sx) * sy
    val vx = BigInt(m) * sxx - BigInt(sx) * sx
    val vy = BigInt(m) * syy - BigInt(sy) * sy
    if (vx == 0 || vy == 0) None
    else Some(num.toDouble / math.sqrt(vx.toDouble * vy.toDouble))
  }

  /** Digraph reciprocity: of the distinct directed edges, how many have
    * their reverse present — (n_edges, n_reciprocal) in one row;
    * r = n_reciprocal/n_edges is the classic webgraph link-symmetry
    * statistic (near 1 for social graphs, near 0 for the web's
    * hierarchy). One distinct + one self-semi-join on the reversed key
    * — shuffle ∝ |E|, no quadratic step.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    // flag-join (not semi + cross of two scalar aggs): both counts fall
    // out of ONE aggregation, so the plan has no 1-row nested loop
    val rev = e.select(col("dst").as("src"), col("src").as("dst"),
      lit(1L).as("rev"))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"), count(col("rev")).as("n_reciprocal"))
  }

  /** Discrete power-law exponent of the degree distribution by the
    * Clauset–Shalizi–Newman continuous-approximation MLE at xmin = 1:
    * α = 1 + n · [Σᵢ ln(dᵢ / (xmin − ½))]⁻¹ = 1 + n / Σ ln(2dᵢ) — the
    * standard scale-free-ness readout for webgraph degree sequences
    * (hub-heaviness drives every skew guard in this engine; this is the
    * statistic that QUANTIFIES it). Exactness: ln is taken only over
    * the INTEGER 2d (the txt_entropy micro-nat rule), each term rounds
    * to micro-nats BEFORE the sum, the sum is an exact BIGINT, and the
    * finishing α = 1 + n·10⁶/s runs in IEEE doubles from identical
    * integers on both engines (the q21_corr argument).
    *
    * Scale shape: degree decoration is one map-side-combined agg; the
    * MLE is ONE global aggregate over the degree table (node-scale, not
    * edge-scale). No sort, no histogram materialization.
    */
  def powerLawAlpha(und: DataFrame): DataFrame = {
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
    deg.agg(count(lit(1)).as("n_nodes"),
        max(col("d")).as("d_max"),
        sum(round(log(col("d") * 2) * 1e6).cast("long")).as("sum_ln_micro"))
      .select(col("n_nodes"), col("d_max"), col("sum_ln_micro"),
        (lit(1.0) + col("n_nodes").cast("double") * lit(1e6) /
          col("sum_ln_micro").cast("double")).as("alpha"))
  }

  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src"))
      .localCheckpoint()
    var labels = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    for (i <- 1 to rounds) {
      labels = e.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), col("label"))).as("top"))
        .select(col("dst").as("node"), col("top.label").as("label"))
      // batched lineage cut (round-6, the PageRank.run rationale)
      if (i % 2 == 0 || i == rounds) labels = labels.localCheckpoint()
    }
    labels
  }
}
