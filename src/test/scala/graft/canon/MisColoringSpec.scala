package graft.canon

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** GraphAlgs.maximalIndependentSet and GraphAlgs.jpColoring vs naive
  * synchronous replays, plus the structural laws: independence +
  * maximality-at-convergence for MIS, properness + the Δ+1 color
  * bound for Jones–Plassmann.
  */
class MisColoringSpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop, n: Int = 6): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  private def sym(es: Seq[(String, String)]): Set[(String, String)] =
    (es ++ es.map(_.swap)).filter(e => e._1 != e._2).toSet

  /** Naive MIS truth: per round, active local minima join, they and
    * their neighbours retire, edges confine to survivors.
    */
  private def naiveMis(s: Set[(String, String)], rounds: Int): Set[String] = {
    var es = s
    var act = s.map(_._1)
    val out = scala.collection.mutable.Set[String]()
    for (_ <- 1 to rounds) {
      val win = act.filter(n => es.filter(_._1 == n).forall(_._2 > n))
      out ++= win
      val removed = win ++ es.filter(e => win(e._1)).map(_._2)
      act --= removed
      es = es.filter(e => !removed(e._1) && !removed(e._2))
    }
    out.toSet
  }

  /** Naive JP truth: per round the local minima of the
    * uncolored-confined graph pick the smallest color absent from
    * their already-colored (previous rounds) neighbourhood.
    */
  private def naiveColoring(s: Set[(String, String)],
      rounds: Int): Map[String, Int] = {
    var unc = s.map(_._1)
    var colored = Map.empty[String, Int]
    for (_ <- 1 to rounds) {
      val eu = s.filter(e => unc(e._1) && unc(e._2))
      val win = unc.filter(n => eu.filter(_._1 == n).forall(_._2 > n))
      colored ++= win.map { n =>
        val used = s.filter(_._1 == n).flatMap(e => colored.get(e._2))
        n -> (0 to used.size).find(c => !used(c)).get
      }
      unc --= win
    }
    colored
  }

  private def runMis(es: Seq[(String, String)], rounds: Int): Set[String] =
    GraphAlgs.maximalIndependentSet(sym(es).toSeq.toDF("src", "dst"),
      rounds).as[String].collect().toSet

  private def runColoring(es: Seq[(String, String)],
      rounds: Int): Map[String, Int] =
    GraphAlgs.jpColoring(sym(es).toSeq.toDF("src", "dst"), rounds)
      .as[(String, Int)].collect().toMap

  private val genEdges: Gen[List[(String, String)]] =
    Gen.listOfN(30, for {
      a <- Gen.choose(0, 9); b <- Gen.choose(0, 9)
    } yield (s"n$a", s"n$b")).map(_.filter(e => e._1 != e._2).distinct)

  test("MIS ≡ naive synchronous replay on random graphs") {
    check(Prop.forAll(genEdges, Gen.choose(1, 3)) { (es, rounds) =>
      es.isEmpty || runMis(es, rounds) == naiveMis(sym(es), rounds)
    }, n = 8)
  }

  test("MIS laws: independent at any budget, maximal at convergence") {
    check(Prop.forAll(genEdges) { es =>
      es.isEmpty || {
        // ≤10 nodes: each round retires ≥1 node (the global min always
        // wins), so 10 rounds is past convergence.
        val mis = runMis(es, rounds = 10)
        val s = sym(es)
        val independent = !s.exists(e => mis(e._1) && mis(e._2))
        val nodes = s.map(_._1)
        val maximal = (nodes -- mis).forall(n =>
          s.exists(e => e._1 == n && mis(e._2)))
        independent && maximal
      }
    }, n = 8)
  }

  test("MIS monotone-chain worst case: one winner per round") {
    // Path n1-…-n6 under id priorities: every interior node has a
    // smaller active neighbour, so only n1 wins round 1; retiring
    // {n1,n2} makes n3 the sole round-2 winner, then n5 — the same
    // monotone chain the matching spec documents.
    val path = (1 to 5).map(i => (s"n$i", s"n${i + 1}"))
    assert(runMis(path, rounds = 1) == Set("n1"))
    assert(runMis(path, rounds = 2) == Set("n1", "n3"))
    assert(runMis(path, rounds = 3) == Set("n1", "n3", "n5"))
  }

  test("coloring ≡ naive synchronous replay on random graphs") {
    check(Prop.forAll(genEdges, Gen.choose(1, 3)) { (es, rounds) =>
      es.isEmpty || runColoring(es, rounds) == naiveColoring(sym(es), rounds)
    }, n = 8)
  }

  test("coloring laws: proper on colored subgraph, color ≤ degree") {
    check(Prop.forAll(genEdges, Gen.choose(1, 10)) { (es, rounds) =>
      es.isEmpty || {
        val c = runColoring(es, rounds)
        val s = sym(es)
        val proper = !s.exists(e =>
          c.contains(e._1) && c.contains(e._2) && c(e._1) == c(e._2))
        val deg = s.groupBy(_._1).map { case (k, g) => k -> g.size }
        // smallest-missing over ≤deg used colors is ≤ deg
        val bounded = c.forall { case (n, col) => col <= deg(n) }
        proper && bounded
      }
    }, n = 8)
  }

  test("coloring of an empty or self-loop-only edge table is empty") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // the round's observed uncolored count must arrive over no rows
    def colors(es: Seq[(String, String)]): Map[String, Int] =
      Await.result(Future(GraphAlgs.jpColoring(es.toDF("src", "dst"), 3)
        .as[(String, Int)].collect().toMap), 2.minutes)
    assert(colors(Nil).isEmpty)
    assert(colors(Seq(("a", "a"), ("b", "b"))).isEmpty)
  }

  test("coloring converges to a total proper coloring") {
    check(Prop.forAll(genEdges) { es =>
      es.isEmpty || {
        val c = runColoring(es, rounds = 10)
        sym(es).map(_._1).forall(c.contains)
      }
    }, n = 6)
  }
}
