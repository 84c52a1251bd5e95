package graft.canon

import graft.functions.MixHash
import graft.sketch.Hll
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate neighbourhood function (ANF — Palmer, Gibbons &
  * Faloutsos, KDD 2002) in its register-sketch form (HyperANF — Boldi,
  * Rosa & Vigna, WWW 2011): every node carries an HLL register vector
  * sketching its distance-≤t ball, and one synchronous round replaces
  * each vector by the register-wise MAX of itself and its neighbours'
  * — because ball(v, t+1) = {v's ball} ∪ ⋃_{v→w} ball(w, t) and HLL
  * register vectors union by pointwise max. T rounds yield |ball(v,t)|
  * estimates for all v and all t ≤ T simultaneously — the
  * neighbourhood function N(t) = Σ_v |ball(v,t)|, effective diameter,
  * and per-node centrality readouts, all from ONE sketch pass. The
  * exact computation is all-pairs BFS (|V| frontiers); the sketch runs
  * in |V|·m register state — the only known way to measure the
  * distance distribution of a 10^9-node web graph.
  *
  * Scale shape: state is ≤ |V|·m (node, b, r) byte-rows; each round is
  * ONE equi-join of the register relation against the src-partitioned
  * edge table plus ONE map-side-combined max-agg keyed (node, b) — the
  * PageRank iteration shape, never |V|² and never a frontier
  * materialized per source. Max is commutative/associative/idempotent,
  * so rounds are partitioning- and merge-order-invariant — which is
  * why every register (and hence the whole output) replays bit-exactly
  * in the DuckDB oracle (`kg_anf`), round per CTE.
  *
  * Hashing reuses the engine's avalanche chain ([[MixHash]]:
  * splitmix64∘FNV-1a over the node id) and [[Hll]]'s bucket/rho
  * geometry (m = 64, trailing-zero rho), so the oracle replays hashes
  * with the same staged-HUGEINT fold as `sketch_hll`. The
  * driver-checked output is the exact integer core (n_regs, n_zero,
  * sum_pow, checksum) per (node, t); float estimates and the effective
  * diameter derive from those integers ([[Hll.estimateFromSummary]])
  * and are ScalaTested against exact BFS ball sizes (AnfSpec).
  */
object Anf {

  /** Per-node register-vector summaries of the distance-≤t balls for
    * every t in 0..rounds. `edges(src, dst)`: pass both directions for
    * an undirected graph; nodes are taken from src (symmetrized input
    * covers every non-isolated node).
    *
    * Rounds are [[Relax]] rounds, max keyed on (node, b) (the systolic
    * form of HyperANF §4): an unchanged register was already forwarded
    * the round it last rose, the receiver max'd it then, and registers
    * never decrease, so only registers that ROSE last round are
    * forwarded. On a web graph most register mass converges within the
    * effective diameter, so late rounds ship the o(|V|) frontier still
    * rising rather than the full |V|·m relation; once a round raises no
    * register the sketch is at its fixpoint and the remaining radii
    * repeat its summary without another join.
    */
  def neighborhoodFunction(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("dst")) // the propagation join's edge-side key
      .localCheckpoint()
    val h = MixHash(col("node"))
    // ball(v, 0) = {v}: exactly one present register per node. Nodes
    // are seeded from BOTH endpoints so a directed pure-sink still
    // counts itself (symmetrized input makes the union a no-op).
    val regs = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), Hll.bucketCol(h).as("b"), Hll.rhoCol(h).as("r"))
      .localCheckpoint()
    // OUT-balls, exactly as documented: v → w means v inherits w's ball,
    // so registers flow dst → src (on symmetrized input the two
    // orientations coincide)
    val balls = regs +: Relax(regs, Seq("node", "b"), "r", Relax.Max,
        rounds) { delta =>
      e.join(delta, e("dst") === delta("node"))
        .select(e("src").as("node"), col("b"), col("r"))
    }.states
    (0 to rounds).map(t => summarize(balls(t min (balls.size - 1)), t))
      .reduce(_ unionAll _)
  }

  private def summarize(regs: DataFrame, t: Int): DataFrame =
    Hll.registerSummary(regs.select(col("node"), lit(t).as("t"),
      col("b"), col("r")), Seq("node", "t"))

  /** N(t) = Σ_v est|ball(v, t)| from the integer summaries — the
    * neighbourhood function, driver-side over ≤ |V|·(T+1) exact-integer
    * rows. Returns t → N(t), t ascending, MONOTONIZED by running max:
    * the true N is non-decreasing (balls only grow) but a per-node
    * estimate can dip when it crosses the linear-counting → raw-HLL
    * boundary, and a dipping N would let [[effectiveDiameter]] fire at
    * a spurious earlier t (the standard HyperANF regularization).
    */
  def nf(summaries: DataFrame): Seq[(Int, Double)] = {
    val raw = summaries.select(col("t"), col("n_zero"), col("sum_pow"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (t, rows) =>
        t -> rows.map(r => Hll.estimateFromSummary(r.getLong(1), r.getLong(2))).sum
      }
      .toSeq.sortBy(_._1)
    raw.scanLeft((0, Double.NegativeInfinity)) { case ((_, m), (t, v)) =>
      (t, math.max(m, v))
    }.drop(1)
  }

  /** Effective diameter at quantile q: the smallest t with
    * N(t) ≥ q·N(T) (T = the largest computed radius). The classic
    * web-graph statistic (q = 0.9 standard); integer-valued because the
    * sketch is computed at integer radii.
    */
  def effectiveDiameter(summaries: DataFrame, q: Double = 0.9): Int = {
    val n = nf(summaries)
    require(n.nonEmpty, "no summaries")
    val target = q * n.last._2
    n.collectFirst { case (t, v) if v >= target => t }.getOrElse(n.last._1)
  }

  /** [[Hll.estimateFromSummary]] as a Column over (n_zero, sum_pow) —
    * same [[Hll.Alpha]]/[[Hll.LinearCutoff]] constants, same
    * left-associated float order, JVM `Math.log` on both paths, so the
    * two forms agree BIT-EXACTLY (AnfSpec asserts it row-by-row) and
    * the distributed readouts below never collect per-node rows.
    */
  private[canon] def estCol: Column = {
    val m = lit(Hll.M.toDouble)
    val s = col("sum_pow").cast("double") / lit((1L << Hll.FullExp).toDouble)
    val raw = lit(Hll.Alpha) * m * m / s
    when(raw <= lit(Hll.LinearCutoff) * m && col("n_zero") > 0,
      m * log(m / col("n_zero").cast("double"))).otherwise(raw)
  }

  /** HyperBall geometric centralities (Boldi & Vigna, CIKM 2013 §3):
    * from ball-size estimates b(v, t), the increment
    * d(v, t) = max(b(v,t) − b(v,t−1), 0) estimates |{w : dist(v,w)=t}|,
    * so harmonic(v) = Σ_{t≥1} d(v,t)/t and closeness_sum(v) =
    * Σ_{t≥1} t·d(v,t) — the centralities whose exact computation is
    * all-pairs BFS, read off the SAME sketch pass as the
    * neighbourhood function. One window (partition by node, order by
    * t — |T+1| rows per partition) and one agg; everything stays
    * distributed, keyed by node. Floats by nature → ScalaTested
    * against exact BFS (AnfSpec), never oracled — the kg_entity_stats
    * convention.
    */
  def centralities(summaries: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy("t")
    summaries
      .withColumn("est", estCol)
      .withColumn("d",
        greatest(col("est") - lag(col("est"), 1).over(w), lit(0.0)))
      .filter(col("t") >= 1)
      .groupBy("node")
      .agg(sum(col("d") / col("t")).as("harmonic"),
        sum(col("d") * col("t")).as("closeness_sum"),
        max(col("est")).as("ball_max"))
  }
}
