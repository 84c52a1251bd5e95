package graft.canon

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** HITS integer fixed point: hand-checked one-round scores on a small
  * bipartite graph, max-normalization invariants, bipartite zero sides,
  * and partitioning invariance (integer sums + max + floor division are
  * reduction-order-independent, so scores must be bit-identical across
  * partition layouts), the empty graph, and the jobs a run costs.
  */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  private val S = Hits.Scale

  // d1 -> {a, b}, d2 -> {a}, d3 -> {a}
  private lazy val edges = Seq(
    ("d1", "a"), ("d1", "b"), ("d2", "a"), ("d3", "a")
  ).toDF("src", "dst")

  private def scores(iters: Int) =
    Hits.run(edges, iters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("one round, hand-computed") {
    // a_raw: a = 3S, b = S → max 3S → a(a) = S, a(b) = S/3 = 333333
    // h_raw: d1 = S + 333333, d2 = d3 = S → max = d1
    //   h(d1) = S, h(d2) = h(d3) = S·S div 1333333 = 750000
    val s = scores(1)
    assert(s("a") == (0L, S))
    assert(s("b") == (0L, 333333L))
    assert(s("d1") == (S, 0L))
    assert(s("d2") == (750000L, 0L))
    assert(s("d3") == (750000L, 0L))
  }

  test("max normalization: each side's best node scores exactly Scale") {
    val s = scores(3)
    assert(s.values.map(_._1).max == S)   // best hub
    assert(s.values.map(_._2).max == S)   // best authority
    assert(s.values.forall { case (h, a) => h <= S && a <= S })
  }

  test("bipartite: docs get auth 0, entities hub 0; all nodes present") {
    val s = scores(2)
    assert(s.keySet == Set("d1", "d2", "d3", "a", "b"))
    assert(Seq("d1", "d2", "d3").forall(s(_)._2 == 0L))
    assert(Seq("a", "b").forall(s(_)._1 == 0L))
  }

  test("authority order follows in-link mass; hub order follows reach") {
    val s = scores(3)
    assert(s("a")._2 > s("b")._2)   // a cited by 3 docs, b by 1
    assert(s("d1")._1 > s("d2")._1) // d1 cites both authorities
  }

  test("partitioning invariance: 1 vs 5 partitions bit-identical") {
    val e1 = edges.repartition(1)
    val e5 = edges.repartition(5)
    val a = Hits.run(e1, 3).orderBy("node").collect().map(_.toSeq).toSeq
    val b = Hits.run(e5, 3).orderBy("node").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("general digraph: a node may be both hub and authority") {
    val g = Seq(("x", "y"), ("y", "z"), ("x", "z")).toDF("src", "dst")
    val s = Hits.run(g, 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(s("y")._1 > 0L && s("y")._2 > 0L)
    assert(s("z")._2 == Hits.Scale) // z collects both strongest links
  }

  test("empty edge table: no scores, and the observed max never blocks") {
    val e = Seq.empty[(String, String)].toDF("src", "dst")
    val got = Await.result(Future(Hits.run(e, 2).collect()), 2.minutes)
    assert(got.isEmpty)
  }

  test("a run costs a pinned number of Spark jobs") {
    val (_, cost) = org.apache.spark.Meter(spark.sparkContext) {
      Hits.run(edges, 3).write.format("noop").mode("overwrite").save()
    }
    // a separate max aggregate per half-round, or a join (not one
    // groupBy) to assemble hub and auth, raises this count
    assert(cost.jobs == 23, "jobs of Hits.run(iters = 3) into the noop sink")
  }
}
