package graft.canon

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Semi-naive (delta-driven) monotone relaxation: the loop shared by
  * every operator whose state is one value per key that only ever moves
  * one way — a min ([[GraphAlgs.sssp]], [[GraphAlgs.hopCloseness]]) or a
  * max ([[GraphAlgs.condensation]]'s levels, [[Anf]]'s HLL registers).
  *
  * Each round joins only the DELTA — the rows whose value strictly
  * improved (or first appeared) in the previous round — against the
  * caller's edges, not the whole state. The fixpoint is the naive one
  * (Datalog's semi-naive evaluation; Bellman-Ford's delta argument): a
  * step from an unimproved row was already taken the round after that
  * row last improved, and values are monotone, so re-taking it derives
  * only dominated values. Per-round joined rows are ∝ the improving
  * frontier and total work ∝ edges, not |state| × rounds. Each caller's
  * scaladoc gives the dominance argument that makes its own step
  * monotone.
  *
  * The delta falls out of the round's one aggregation: the previous
  * value rides along as its own column (state rows are unique per key,
  * so its min/max IS the old value, null for a key first reached this
  * round), and old-null-or-strictly-better is the delta — no extra join.
  * Both aggregates are primitive min/max, which keep the codegen'd
  * HashAggregate; the equivalent min/max over struct(value, tag) drops
  * to ObjectHashAggregate (row objects, no codegen) and was A/B-measured
  * slower on [[Anf]].
  *
  * Every round ends in a [[countedCheckpoint]], which cuts the lineage
  * and counts the delta and state rows in the checkpoint job itself. A
  * round with no delta is the fixpoint: every later round is a provable
  * no-op, so the loop stops there without spending a job on the test.
  */
object Relax {

  /** Direction of improvement: the aggregate that merges candidate values
    * and the strict "better than" it implies. */
  sealed abstract class Order(val agg: Column => Column,
      val better: (Column, Column) => Column)
  case object Min extends Order(min(_), _ < _)
  case object Max extends Order(max(_), _ > _)

  /** `state`: the value per key after the last round run. `trace`: per
    * round, (delta rows, state rows). `states`: the state after each
    * round. `converged`: some round had an empty delta, so `state` is the
    * fixpoint and the rounds not run would not have changed it. */
  final case class Result(state: DataFrame, trace: Seq[(Long, Long)],
      states: Seq[DataFrame], converged: Boolean)

  /** Relax `init` (columns `keys :+ value`, unique per key) for at most
    * `rounds` rounds. `step(delta)` returns the candidate rows (same
    * columns) derived from last round's improved rows; round 1 steps from
    * all of `init`.
    */
  def apply(init: DataFrame, keys: Seq[String], value: String, order: Order,
      rounds: Int)(step: DataFrame => DataFrame): Result = {
    val old = s"${value}_old"
    val cols = (keys :+ value).map(col)
    val oldType = init.schema(value).dataType
    val improved = col(old).isNull || order.better(col(value), col(old))
    var state = init
    var delta = init
    val trace = Seq.newBuilder[(Long, Long)]
    val states = Seq.newBuilder[DataFrame]
    var converged = false
    var k = 0
    while (k < rounds && !converged) {
      val merged = state.select(cols :+ col(value).as(old): _*)
        .unionAll(step(delta)
          .select(cols :+ lit(null).cast(oldType).as(old): _*))
        .groupBy(keys.map(col): _*)
        .agg(order.agg(col(value)).as(value), order.agg(col(old)).as(old))
      val (cp, deltaRows, stateRows) = countedCheckpoint(merged, improved)
      state = cp.select(cols: _*)
      delta = cp.filter(improved).select(cols: _*)
      trace += ((deltaRows, stateRows))
      states += state
      converged = deltaRows == 0
      k += 1
    }
    Result(state, trace.result(), states.result(), converged)
  }

  /** `df.localCheckpoint()`, returned with the value of each aggregate
    * over its rows, keyed by the aggregate's alias. The aggregates are observed
    * metrics of the checkpoint job itself, so a count, min or max of the
    * frame just materialized costs no job of its own (a `count`,
    * `isEmpty` or `agg(...).collect()` on the checkpoint would). Over no
    * rows a count observes 0 and a min or max null. */
  def observedCheckpoint(df: DataFrame, agg: Column,
      aggs: Column*): (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val cp = df.observe(obs, agg, aggs: _*).localCheckpoint()
    (cp, obs.get)
  }

  /** [[observedCheckpoint]] of the number of rows that satisfy `pred`
    * and the number of all rows: a loop's exit test at no job's cost. */
  def countedCheckpoint(df: DataFrame,
      pred: Column): (DataFrame, Long, Long) = {
    val (cp, m) = observedCheckpoint(df,
      count(when(pred, lit(1))).as("hits"), count(lit(1)).as("rows"))
    (cp, m("hits").asInstanceOf[Long], m("rows").asInstanceOf[Long])
  }

  /** [[observedCheckpoint]] of the row count alone. */
  def countedCheckpoint(df: DataFrame): (DataFrame, Long) = {
    val (cp, m) = observedCheckpoint(df, count(lit(1)).as("rows"))
    (cp, m("rows").asInstanceOf[Long])
  }
}
