package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs and authorities, Kleinberg 1999 — public formulation)
  * over the directed doc→entity mention graph: a document is a good
  * HUB if it mentions authoritative entities; an entity is a good
  * AUTHORITY if authoritative-looking documents mention it. The natural
  * companion to [[PageRank]] on a bipartite citation-style graph — the
  * two sides get separately meaningful scores instead of one mixed
  * random-walk mass.
  *
  * Integer fixed point, like [[PageRank]]: scores live in units of
  * 1e-6 (Scale), each half-round is
  *
  *   a'(v) = (Σ_{u→v} h(u)) * Scale div max_raw
  *   h'(u) = (Σ_{u→v} a'(v)) * Scale div max_raw
  *
  * i.e. the classical mutual recurrence with MAX-normalization instead
  * of the L2 norm — integer sums, integer max and floor division are
  * all order- and partitioning-invariant, so the scores are bit-exact
  * across engines and cluster sizes (an L2-normalized float HITS is
  * not), and the DuckDB oracle replays the identical recurrence.
  * Overflow headroom: raw ≤ max-degree · Scale; raw · Scale stays under
  * 2^63 for degrees up to ~9·10^6 — raise the round's normalization to
  * divide BEFORE multiplying if a graph ever exceeds that.
  *
  * Scale shape: the edge list is hash-partitioned by `src` once and
  * persisted; each half-round is one equi-join of the (node-cardinality)
  * score table against it plus one map-side-combined groupBy — shuffle
  * ∝ edges at fixed row width, never ∝ corpus text. Each half-round's
  * raw scores are checkpointed, and the checkpoint job observes their
  * max, so the normalization divides by a literal: no scalar aggregate
  * job, no broadcast and no nested-loop join per half-round.
  */
object Hits {

  val Scale: Long = 1000000L

  /** edges(src, dst): directed. Returns (node, hub, auth) — a node
    * absent from one side scores 0 there (bipartite graphs: docs get
    * auth 0, entities hub 0).
    */
  def run(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"HITS needs >= 1 iteration, got $iters")
    val e = edges.repartition(col("src")).localCheckpoint()
    // the raw join+agg is materialized once per half-round, and its
    // checkpoint job observes the max the projection divides by
    def normalize(raw0: DataFrame, out: String): DataFrame = {
      val (raw, m) = Relax.observedCheckpoint(raw0, max(col("raw")).as("mx"))
      // no raw rows observe a null max, and leave nothing to divide
      val mx = Option(m("mx")).getOrElse(1L)
      raw.select(col("node"), expr(s"(raw * $Scale) div $mx").as(out))
    }
    var hub = e.select(col("src").as("node")).distinct()
      .withColumn("h", lit(Scale))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      val araw = e.join(hub, e("src") === hub("node"))
        .groupBy(e("dst")).agg(sum(col("h")).as("raw"))
        .select(col("dst").as("node"), col("raw"))
      auth = normalize(araw, "a")
      val hraw = e.join(auth, e("dst") === auth("node"))
        .groupBy(e("src")).agg(sum(col("a")).as("raw"))
        .select(col("src").as("node"), col("raw"))
      hub = normalize(hraw, "h")
    }
    // each node is on each side at most once: one groupBy over both
    // sides assembles (node, hub, auth) with a single shuffle, where a
    // full outer join shuffles both
    hub.select(col("node"), col("h"), lit(0L).as("a"))
      .union(auth.select(col("node"), lit(0L).as("h"), col("a")))
      .groupBy("node")
      .agg(coalesce(sum(col("h")), lit(0L)).as("hub"),
        coalesce(sum(col("a")), lit(0L)).as("auth"))
  }
}
