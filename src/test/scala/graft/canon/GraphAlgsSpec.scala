package graft.canon

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** GraphAlgs vs naive scalar references on random graphs, plus the
  * determinism/partitioning-invariance laws the oracles rely on.
  */
class GraphAlgsSpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop, n: Int = 8): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withWorkers(1), p)
    assert(res.passed, res.status.toString)
  }

  private val edgeGen: Gen[List[(Int, Int)]] =
    Gen.listOfN(60, for {
      a <- Gen.choose(0, 14); b <- Gen.choose(0, 14)
    } yield (a, b)).map(_.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct)

  test("triangleCounts ≡ naive enumeration") {
    check(Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val set = es.toSet
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val naive = (for {
          a <- nodes; b <- nodes if a < b && set((a, b))
          c <- nodes if b < c && set((b, c)) && set((a, c))
        } yield Seq(a, b, c)).flatten
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val got = GraphAlgs.triangleCounts(
            es.map { case (a, b) => (s"n$a", s"n$b") }.toDF("a", "b")
              .repartition(5))
          .as[(String, Long)].collect()
          .map { case (n, c) => (n.drop(1).toInt, c) }.toMap
        got == naive
      }
    })
  }

  test("linkPrediction ≡ naive scalar reference (string-ordered pairs)") {
    check(Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val cap = 4 // small cap so the hub-exclusion branch is exercised
        val sEdges = es.map { case (a, b) =>
          val (x, y) = (s"n$a", s"n$b")
          if (x < y) (x, y) else (y, x) }.toSet
        val adj = sEdges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val deg = adj.view.mapValues(_.size).toMap
        def w(z: String) = math.round(1e6 / math.log(deg(z).toDouble))
        val nodes = adj.keySet.toSeq
        val naive = (for {
          a <- nodes; b <- nodes if a < b && !sEdges((a, b))
          ev = (adj(a) intersect adj(b))
            .filter(z => deg(z) >= 2 && deg(z) <= cap)
          if ev.nonEmpty
        } yield {
          val common = ev.size.toLong
          val aa = ev.toSeq.map(w).sum
          val jac = math.round(common * 1e6 / (deg(a) + deg(b) - common))
          (a, b) -> ((common, aa, jac))
        }).toMap
        val got = GraphAlgs.linkPrediction(
            es.map { case (a, b) => (s"n$a", s"n$b") }.toDF("a", "b")
              .repartition(5), maxHubDegree = cap)
          .as[(String, String, Long, Long, Long)].collect()
          .map { case (a, b, c, aa, j) => (a, b) -> ((c, aa, j)) }.toMap
        got == naive
      }
    })
  }

  private val wEdgeGen: Gen[List[(Int, Int, Long)]] =
    Gen.listOfN(50, for {
      a <- Gen.choose(0, 11); b <- Gen.choose(0, 11)
      w <- Gen.choose(1L, 9L)
    } yield (a, b, w)).map(_.filter(e => e._1 != e._2))

  test("sssp ≡ naive Bellman-Ford at the same round count") {
    check(Prop.forAll(wEdgeGen) { es0 =>
      val es = es0.groupBy(e => (e._1, e._2)).view
        .mapValues(_.map(_._3).min).toSeq
        .map { case ((a, b), w) => (a, b, w) }
      val rounds = 5
      var dist = Map(0 -> 0L)
      for (_ <- 1 to rounds) {
        val relaxed = es.flatMap { case (u, v, w) =>
          dist.get(u).map(d => v -> (d + w)) }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1).view
          .mapValues(_.map(_._2).min).toMap
      }
      val got = GraphAlgs.sssp(
          es.map { case (a, b, w) => (s"n$a", s"n$b", w) }
            .toDF("src", "dst", "w").repartition(5), "n0", rounds)
        .as[(String, Long)].collect()
        .map { case (n, d) => (n.drop(1).toInt, d) }.toMap
      got == dist
    })
  }

  /** Scalar synchronous LPA with the same (count, label) argmax. */
  private def naiveLpa(und: Seq[(String, String)], rounds: Int)
      : Map[String, String] = {
    var labels = und.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = und.groupBy(_._2).view.mapValues { in =>
        in.map(e => labels(e._1)).groupBy(identity).view
          .mapValues(_.size).toSeq
          .maxBy { case (lbl, c) => (c, lbl) }._1
      }.toMap
    }
    labels
  }

  test("labelPropagation ≡ naive sync argmax; partitioning-invariant") {
    check(Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val und = es.flatMap { case (a, b) =>
          Seq((s"n$a", s"n$b"), (s"n$b", s"n$a")) }
        val want = naiveLpa(und, 3)
        val got = GraphAlgs.labelPropagation(
            und.toDF("src", "dst").repartition(7), 3)
          .as[(String, String)].collect().toMap
        got == want
      }
    })
  }

  test("katz ≡ naive attenuated-walk recurrence; partitioning-invariant") {
    check(Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val und = es.flatMap { case (a, b) =>
          Seq((s"n$a", s"n$b"), (s"n$b", s"n$a")) }
        val inN = und.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        val nodes = und.map(_._1).distinct
        var s = nodes.map(_ -> 1000000L).toMap
        for (_ <- 1 to 3)
          s = nodes.map { v =>
            v -> (1000000L + inN(v).map(s).sum / 8L)
          }.toMap
        val got = GraphAlgs.katz(
            und.toDF("src", "dst").repartition(7), iters = 3, att = 8L)
          .as[(String, Long)].collect().toMap
        got == s
      }
    })
  }

  test("deterministicWalks ≡ naive FNV walker; cap honoured") {
    check(Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val cap = 3 // small so the prefix cap is genuinely exercised
        val und = es.flatMap { case (a, b) =>
          Seq((s"n$a", s"n$b"), (s"n$b", s"n$a")) }
        val adj = und.groupBy(_._1).view
          .mapValues(_.map(_._2).distinct.sorted.take(cap)).toMap
        val naive = adj.keys.flatMap { start =>
          var cur = start
          (start, 0, start) +: (1 to 2).map { t =>
            val nb = adj(cur)
            val h = graft.mix.Mix.fnv1a(s"$start|$t|$cur")
            cur = nb(java.lang.Long.remainderUnsigned(h, nb.size).toInt)
            (start, t, cur)
          }
        }.toSeq.sorted
        val got = GraphAlgs.deterministicWalks(
            und.toDF("src", "dst").repartition(7), length = 2,
            maxDeg = cap)
          .as[(String, Int, String)].collect().toSeq.sorted
        got == naive
      }
    })
  }

  test("clusteringCoefficients ≡ naive per-node lcc; degree<2 is 0") {
    check(Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val set = es.toSet
        val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val naive = adj.map { case (v, nb) =>
          val deg = nb.size.toLong
          val nbs = nb.toSeq
          val tri = (for {
            x <- nbs; y <- nbs if x < y
            if set((math.min(x, y), math.max(x, y)))
          } yield 1).size.toLong
          v -> ((deg, tri,
            if (deg >= 2) 2000000L * tri / (deg * (deg - 1)) else 0L))
        }
        val got = GraphAlgs.clusteringCoefficients(
            es.map { case (a, b) => (s"n$a", s"n$b") }.toDF("a", "b")
              .repartition(5))
          .as[(String, Long, Long, Long)].collect()
          .map { case (n, d, t, l) => (n.drop(1).toInt, (d, t, l)) }.toMap
        got == naive
      }
    })
  }

  test("hopCloseness ≡ naive bounded BFS from every root") {
    check(Prop.forAll(edgeGen) { es =>
      es.isEmpty || {
        val rounds = 3
        val und = es.flatMap { case (a, b) =>
          Seq((s"n$a", s"n$b"), (s"n$b", s"n$a")) }
        val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
          .toMap
        val naive = adj.keys.flatMap { root =>
          var dist = Map(root -> 0L)
          var frontier = Set(root)
          var lvl = 0L
          while (lvl < rounds && frontier.nonEmpty) {
            lvl += 1
            val next = frontier.flatMap(adj).filterNot(dist.contains)
            dist ++= next.map(_ -> lvl)
            frontier = next
          }
          val reachable = dist.filter(_._2 > 0)
          if (reachable.isEmpty) None
          else {
            val reached = reachable.size.toLong
            val sumD = reachable.values.sum
            val harm = reachable.values.map(1000000L / _).sum
            Some(root -> ((reached, sumD, 1000000L * reached / sumD,
              harm)))
          }
        }.toMap
        val got = GraphAlgs.hopCloseness(
            und.toDF("src", "dst").repartition(7), rounds)
          .as[(String, Long, Long, Long, Long)].collect()
          .map { case (n, r, s, c, h) => (n, (r, s, c, h)) }.toMap
        got == naive
      }
    })
  }

  test("temporalReach ≡ naive min-arrival temporal BFS; backwards-time " +
      "paths are NOT followed") {
    val tEdgeGen: Gen[List[(Int, Int, Long)]] =
      Gen.listOfN(50, for {
        a <- Gen.choose(0, 9); b <- Gen.choose(0, 9)
        t <- Gen.choose(0L, 6L)
      } yield (a, b, t)).map(_.collect {
        case (a, b, t) if a != b => (a, b, t) }.distinct)
    check(Prop.forAll(tEdgeGen) { es =>
      es.isEmpty || {
        val rounds = 3
        val seed = s"n${es.head._1}"
        val edges = es.map { case (a, b, t) => (s"n$a", s"n$b", t) }
        // naive: per round, relax all monotone continuations, keep the
        // (t_arr, round)-lexicographic min per node
        var d = Map(seed -> ((Long.MinValue, 0)))
        for (k <- 1 to rounds) {
          val stepped = for {
            (node, (tArr, _)) <- d.toSeq
            (s, t, w) <- edges if s == node && w >= tArr
          } yield (t, (w, k))
          d = (d.toSeq ++ stepped).groupBy(_._1).view
            .mapValues(_.map(_._2).min).toMap
        }
        val naive = d.collect { case (n, (t, r)) if r > 0 =>
          (n, t, r.toLong) }.toSet
        val got = GraphAlgs.temporalReach(
            edges.toDF("src", "dst", "t").repartition(5),
            Seq(seed).toDF("node"), rounds)
          .as[(String, Long, Long)].collect().toSet
        got == naive
      }
    })
    // planted overcount: a --(t=5)--> b --(t=2)--> c is STATICALLY a
    // path but temporally invalid (2 < 5): c must not be reached
    val planted = Seq(("a", "b", 5L), ("b", "c", 2L))
    val got = GraphAlgs.temporalReach(planted.toDF("src", "dst", "t"),
        Seq("a").toDF("node"), 3)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got.contains("b") && !got.contains("c"),
      s"temporal monotonicity violated: $got")
  }

  test("LPA unites a planted two-clique community structure") {
    def clique(off: Int) = for {
      a <- 0 until 5; b <- 0 until 5 if a != b
    } yield (s"c${off + a}", s"c${off + b}")
    // one weak bridge between the cliques
    val und = clique(0) ++ clique(10) ++ Seq(("c0", "c10"), ("c10", "c0"))
    val labels = GraphAlgs.labelPropagation(und.toDF("src", "dst"), 4)
      .as[(String, String)].collect().toMap
    val l1 = (0 until 5).map(i => labels(s"c$i")).distinct
    assert(l1.size == 1, s"first clique not united: $l1")
    val second = (10 until 15).map(i => labels(s"c$i")).distinct
    assert(second.size == 1, s"second clique not united: $second")
  }

  test("doubleSweep on a path runs a pinned number of Spark jobs") {
    val path = (0 until 8).map(i => (s"n$i", s"n${i + 1}"))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst")
    val (sweep, cost) = org.apache.spark.Meter(spark.sparkContext) {
      GraphAlgs.doubleSweep(sym, rounds = 12)
    }
    assert(sweep.count() == 9)
    // both sweeps drain after 8 hops; a separate isEmpty per round on
    // the frontier, or a job of its own for the start node, the far
    // node or the diameter, or a checkpointed (not local) seed row,
    // raises this count
    assert(cost.jobs == 84, "jobs of doubleSweep(rounds = 12)")
  }

  test("doubleSweep on an empty edge table: the observed scalars never block") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val e = Seq.empty[(String, String)].toDF("src", "dst")
    val got = Await.result(Future(GraphAlgs.doubleSweep(e, rounds = 4)
      .collect().map(_.toSeq).toSeq), 2.minutes)
    assert(got == Seq(Seq(null, 0L, null, 0L)))
  }

  test("kCore, kTruss and densestSubgraph run a pinned number of Spark jobs") {
    // the fewer of two runs: an adaptive re-plan can add one stage job
    // when stages finish in a different order (kg_truss read 36 once in
    // a full-suite run, 35 in every isolated one)
    val queries = Seq("kg_kcore", "kg_truss", "kg_densest", "kg_coloring")
    val jobs = queries.map { q =>
      q -> (1 to 2).map { _ =>
        org.apache.spark.Meter(spark.sparkContext) {
          graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.01")
            .write.format("noop").mode("overwrite").save()
        }._2.jobs
      }.min
    }.toMap
    // a count() of the frame a round has just checkpointed raises these;
    // so does a jpColoring round that checkpoints more than its one
    // aggregation
    assert(jobs == Map("kg_kcore" -> 28, "kg_truss" -> 35,
      "kg_densest" -> 41, "kg_coloring" -> 24),
      "jobs of each query into the noop sink")
  }
}
