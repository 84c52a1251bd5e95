package graft.canon

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The semi-naive relaxation driver: its trace and `converged` flag
  * against a naive per-round replay, its observed exit on empty inputs,
  * and the Spark jobs its exit test saves. */
class RelaxSpec extends SparkSpec {
  import spark.implicits._

  private val wEdgeGen: Gen[(List[(Int, Int, Long)], Int)] = for {
    es <- Gen.listOfN(30, for {
      a <- Gen.choose(0, 11); b <- Gen.choose(0, 11)
      w <- Gen.choose(1L, 9L)
    } yield (a, b, w)).map(_.filter(e => e._1 != e._2))
    rounds <- Gen.choose(1, 8)
  } yield (es, rounds)

  test("trace and converged match a naive Bellman-Ford replay round by round") {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8).withWorkers(1),
      Prop.forAll(wEdgeGen) { case (es, rounds) =>
        // naive rounds until the budget or the first round improving
        // nothing: (improved keys, state keys) per round
        var dist = Map(0 -> 0L)
        val naive = Seq.newBuilder[(Long, Long)]
        var k = 0
        var improved = 1L
        while (k < rounds && improved > 0) {
          val relaxed = es.flatMap { case (u, v, w) =>
            dist.get(u).map(d => v -> (d + w)) }
          val next = (dist.toSeq ++ relaxed).groupBy(_._1).view
            .mapValues(_.map(_._2).min).toMap
          improved = next.count { case (v, d) => dist.get(v).forall(d < _) }
          naive += ((improved, next.size.toLong))
          dist = next
          k += 1
        }
        val trace = naive.result()
        val got = GraphAlgs.ssspTrace(
          es.map { case (a, b, w) => (s"n$a", s"n$b", w) }
            .toDF("src", "dst", "w").repartition(3), "n0", rounds)
        got.trace == trace &&
          got.converged == trace.exists(_._1 == 0) &&
          got.states.size == trace.size &&
          got.state.count() == trace.last._2
      })
    assert(res.passed, res.status.toString)
  }

  test("empty edge tables: parent results, and the observed exit never blocks") {
    val e2 = Seq.empty[(String, String)].toDF("src", "dst")
    val e3 = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    def rows(f: => DataFrame) =
      Await.result(Future(f.collect().toSeq.map(_.toSeq)), 2.minutes)
    assert(rows(GraphAlgs.sssp(e3, "s", 6)) == Seq(Seq("s", 0L)))
    assert(rows(GraphAlgs.hopCloseness(e2, 3)).isEmpty)
    assert(rows(GraphAlgs.condensation(e2, 4)).isEmpty)
    assert(rows(Anf.neighborhoodFunction(e2, 3)).isEmpty)
    val t = Await.result(Future(GraphAlgs.ssspTrace(e3, "s", 6)), 2.minutes)
    assert(t.trace == Seq((0L, 1L)) && t.converged)
  }

  test("sssp on the kg_sssp edge set at 6 rounds runs a pinned number of jobs") {
    val e0 = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .filter(col("l_orderkey") < 500)
      .select(concat(lit("o"), col("l_orderkey")).as("a"),
        concat(lit("p"), col("l_partkey")).as("b"),
        col("l_quantity").cast("long").as("w"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
    val und = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(e0.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val (dist, cost) = org.apache.spark.Meter(spark.sparkContext) {
      GraphAlgs.sssp(und, "o0", 6)
    }
    assert(dist.count() == 193)
    // a separate isEmpty/count exit test per round raises this count
    assert(cost.jobs == 21, "jobs of sssp(rounds = 6)")
  }
}
