package graft.kgql

import graft.canon.Relax
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SPARQL property-path evaluation (`p{1,k}` / `p+`) as iterative
  * frontier expansion — the graph-traversal counterpart of the
  * reference's parent-chain walks (`/root/reference/src/formats/rdf/
  * rdf_converter.py:520-560` resolves `subClassOf*` ancestor chains one
  * node at a time; here the whole relation advances per round).
  *
  * Shape at scale: each round is ONE equi-join of the current frontier
  * against the edge table on the join key `via` (co-partitioned shuffle,
  * map-side distinct), plus a left-anti join against the known set to
  * keep the frontier minimal (Δ-BFS — without it, dense graphs re-derive
  * the same pairs every round and the frontier grows multiplicatively).
  * Rounds = min(k, graph diameter), each checkpointed so the lineage
  * stays O(1) instead of O(rounds).
  *
  * All-pairs closure is only materialized when the caller asks for it —
  * on corpus-scale graphs use `from` to restrict sources (single-source /
  * landmark BFS), or the CC module when only reachability classes are
  * needed.
  */
object PropertyPath {

  /** Min-hop distances (src, dst, dist) for 1 ≤ dist ≤ maxHops over a
    * directed edge table (src, dst). Self-pairs (src = dst) are
    * excluded. `from`: optional source restriction (single-source BFS).
    */
  def boundedClosure(edges: DataFrame, maxHops: Int,
      from: Option[DataFrame] = None): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    // checkpoint the edge SET once: (a) every BFS round joins against
    // it — without the barrier the whole upstream union/distinct
    // recomputes per round; (b) composite path relations (e.g. the
    // `(p|^p)` self-union) re-reference the same upstream attributes in
    // the seed join below, which trips Spark's Union.rewriteConstraints
    // (key-not-found on the reused attribute — StarReproSpec-derived
    // regression in PathExprSpec; constraint-propagation-off control
    // passes). The leaf plan has fresh attributes on both counts.
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint()
    val seeds = from match {
      case Some(s) => e.join(s.select(col("src")).distinct(), Seq("src"))
      case None => e
    }
    // each hop's checkpoint job also counts the new frontier, so the
    // drained-frontier exit costs no job of its own
    var (known, reached) = Relax.countedCheckpoint(
      seeds.withColumn("dist", lit(1)))
    var frontier = known
    var hop = 1
    while (hop < maxHops && reached > 0) {
      hop += 1
      val (next, n) = Relax.countedCheckpoint(frontier
        .select(col("src"), col("dst").as("via"))
        .join(e.select(col("src").as("via"), col("dst")), Seq("via"))
        .select(col("src"), col("dst"))
        .distinct()
        .join(known.select("src", "dst"), Seq("src", "dst"), "left_anti")
        .withColumn("dist", lit(hop)))
      reached = n
      // round-6: keep `known` as a lazy union of the per-hop
      // checkpointed frames (the doubleSweep dist shape) — the old
      // checkpoint on the union re-materialized ALL known rows every
      // round, O(|known| · rounds) total copy work for no lineage
      // benefit (every union leaf is already a checkpoint)
      known = known.union(next)
      frontier = next
    }
    known.filter(col("src") =!= col("dst"))
  }
}
