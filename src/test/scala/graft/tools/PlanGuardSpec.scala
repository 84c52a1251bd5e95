package graft.tools

import org.apache.spark.Meter
import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** Suite-wide physical-plan guard over EVERY SparkEntry query and every plan
  * it executes (checkpoints, counts and collects inside operators as
  * well as the final action, linted by [[Probe.measure]]): no
  * CartesianProduct anywhere, and BroadcastNestedLoopJoin only where a
  * 1-row global-aggregate scalar is broadcast (the optimal plan for
  * joining a corpus against a single reduced row):
  *  - onto_limits: entity-stats × relationship-stats, both global aggs
  *    (`shape/Limits.scala` global), 1 row × 1 row;
  *  - txt_perplexity: per-bigram terms × the vocab-size scalar
  *    (`text/LangModel.scala` vDf), broadcast 1 row;
  *  - txt_bm25: per-(doc, term) scores × the (N, L) corpus-scalar row
  *    (`text/Bm25.scala` scalars), broadcast 1 row;
  *  - sketch_bloom: probe verdicts × the filter-popcount scalar
  *    (`queries/DataQueries.scala` popcount), broadcast 1 row;
  *  - txt_heavyhitters: candidate exact counts × the corpus-total
  *    scalar (`sketch/HeavyHitters.scala` exact), broadcast 1 row;
  *  - txt_collocations: bigram contingency rows × the total-bigrams
  *    scalar (`text/TextAnalysis.scala` collocations), broadcast 1 row;
  *  - mix_kl: per-(source, token) terms × the corpus-total scalar
  *    (`mix/Mix.scala` klBySource), broadcast 1 row;
  *  - kg_sssp: round 1 of the relaxation joins the edges against the
  *    1-row source frame; the source key is constant-folded into
  *    `src = 'o0'`, which leaves a condition-free inner join against a
  *    1-row broadcast (`canon/GraphAlgs.scala` sssp).
  * One further category is allowed: ALL-PAIRS-BY-SEMANTICS joins over
  * dictionary-scale sketch relations, where the OUTPUT is O(n²) rows
  * by definition so no join algorithm beats a broadcast nested loop —
  *  - sketch_theta: per-source KMV sketches paired src_a < src_b
  *    (`sketch/Kmv.scala` thetaPairs); |sources| rows a side, corpus
  *    touched once upstream by the bounded agg.
  * Any new query whose join degenerates to a nested loop over real
  * (corpus-scale) relations fails here before it can reach the driver.
  * The suite totals of ObjectHashAggregate and SortAggregate nodes
  * (aggregates over object or struct buffers, which the primitive hash
  * aggregate cannot hold) are pinned, so a new one fails here too.
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val scalarBnljAllowed =
    Set("onto_limits", "txt_perplexity", "txt_bm25", "sketch_bloom",
      "sketch_theta", "txt_heavyhitters", "txt_collocations",
      "mix_kl", "kg_sssp")

  private def noop(s: SparkSession, q: String): Unit =
    graft.SparkEntry.queries(q)(s, dir)
      .write.format("noop").mode("overwrite").save()

  // a session of its own: the queries' per-(session, dir) caches start
  // empty, so every query executes and is linted in full, whatever other
  // suites ran before
  private lazy val lints: Seq[(String, Map[String, Int])] = {
    val s = spark.newSession()
    graft.SparkEntry.queries.keys.toSeq.sorted
      .map(q => q -> Probe.measure(s)(noop(s, q))._3)
  }

  test("no cartesian products; BNLJ only for 1-row scalar broadcasts") {
    val violations = lints.flatMap { case (q, l) =>
      (if (l("CartesianProduct") > 0) Seq(s"$q: CartesianProduct") else Nil) ++
        (if (l("BroadcastNestedLoopJoin") > 0 && !scalarBnljAllowed(q))
          Seq(s"$q: BroadcastNestedLoopJoin") else Nil)
    }
    assert(violations.isEmpty,
      s"plan regressions:\n${violations.mkString("\n")}")
  }

  test("ObjectHashAggregate and SortAggregate node totals are pinned") {
    def total(node: String) = lints.map(_._2(node)).sum
    def where(node: String) = lints.filter(_._2(node) > 0)
      .map { case (q, l) => s"$q=${l(node)}" }.mkString(" ")
    assert(total("ObjectHashAggregate") == 55,
      s"ObjectHashAggregate nodes: ${where("ObjectHashAggregate")}")
    assert(total("SortAggregate") == 58,
      s"SortAggregate nodes: ${where("SortAggregate")}")
  }

  test("Probe: one parseable row per query; its jobs equal a direct Meter " +
       "reading") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val names = Seq("q1_agg", "kg_sssp")
    val rows = Probe.rows(spark, dir, names, None).toList.map(parse(_))
    assert(rows.map(r => (r \ "query").extract[String]) == names)
    for ((q, r) <- names.zip(rows)) {
      val (_, cost) = Meter(spark.sparkContext)(noop(spark, q))
      assert((r \ "jobs").extract[Seq[Int]] ==
        Seq.fill(Probe.Repeats)(cost.jobs), q)
      assert((r \ "wall_s").extract[Seq[Double]].size == Probe.Repeats)
      assert((r \ "lints" \ "BroadcastNestedLoopJoin").extract[Int] ==
        (if (q == "kg_sssp") 1 else 0), q)
    }
  }
}
