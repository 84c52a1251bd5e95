package graft.pipeline

import graft.SparkSpec
import graft.extract.Gazetteer
import org.apache.spark.sql.functions._

/** merge(A, B) ≡ fromPages(A ∪ B): incremental materialization is exact. */
class IncrementalKgSpec extends SparkSpec {

  private val gaz = Gazetteer(Gazetteer.DefaultEntities)
  private lazy val pages = graft.pages.PageGen.pages(spark, "/root/testdata/sf0.001")

  private def tripleSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] =
    df.select("s", "p", "o").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def compMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("two-batch merge equals the full-batch graph") {
    val full = IncrementalKg.fromPages(pages, gaz)
    val merged = IncrementalKg.merge(
      IncrementalKg.fromPages(pages.filter(col("doc_id") % 2 === 0), gaz),
      IncrementalKg.fromPages(pages.filter(col("doc_id") % 2 === 1), gaz))
    val fullT = tripleSet(full.triples)
    assert(fullT.nonEmpty)
    assert(tripleSet(merged.triples) == fullT)
    // merged component labels agree with the full map on every node
    val fm = compMap(full.components)
    val mm = compMap(merged.components)
    assert(fm.keySet == mm.keySet)
    assert(fm == mm)
  }

  test("three-batch left fold equals the full-batch graph") {
    val batches = (0 until 3).map(k =>
      IncrementalKg.fromPages(pages.filter(col("doc_id") % 3 === k), gaz))
    val folded = batches.reduce(IncrementalKg.merge)
    val full = IncrementalKg.fromPages(pages, gaz)
    assert(tripleSet(folded.triples) == tripleSet(full.triples))
    assert(compMap(folded.components) == compMap(full.components))
  }

  test("seeded pseudo-random 3-way split folds to the full graph") {
    // Knuth-hash split — batch boundaries uncorrelated with doc order
    val part = pmod(col("doc_id") * 2654435761L, lit(3))
    val batches = (0 until 3).map(k =>
      IncrementalKg.fromPages(pages.filter(part === k), gaz))
    val folded = batches.reduce(IncrementalKg.merge)
    val full = IncrementalKg.fromPages(pages, gaz)
    assert(tripleSet(folded.triples) == tripleSet(full.triples))
    assert(compMap(folded.components) == compMap(full.components))
  }

  test("merging a graph with itself is idempotent") {
    val full = IncrementalKg.fromPages(pages, gaz)
    val merged = IncrementalKg.merge(full, full)
    assert(tripleSet(merged.triples) == tripleSet(full.triples))
    assert(compMap(merged.components) == compMap(full.components))
  }

  test("merged triples and components carry no duplicate rows") {
    // set-equality above can't see dups; the driver's hash oracle can
    val merged = IncrementalKg.merge(
      IncrementalKg.fromPages(pages.filter(col("doc_id") % 2 === 0), gaz),
      IncrementalKg.fromPages(pages.filter(col("doc_id") % 2 === 1), gaz))
    assert(merged.triples.count() == merged.triples.distinct().count())
    assert(merged.components.count() ==
      merged.components.select("node").distinct().count())
  }

  test("delta accounting: disjoint-entity batch rewrites zero prev rows") {
    val gazA = Gazetteer(Gazetteer.DefaultEntities.take(4))
    val gazB = Gazetteer(Gazetteer.DefaultEntities.drop(4))
    val prev = IncrementalKg.fromPages(pages.filter(col("doc_id") % 2 === 0), gazA)
    val batch = IncrementalKg.fromPages(pages.filter(col("doc_id") % 2 === 1), gazB)
    val parts = IncrementalKg.mergeParts(prev, batch)
    // no shared entities → no touched components, no rewritten rows
    // (the rename map may hold harmless member entries matching nothing)
    assert(parts.touchedPrevLabels.count() == 0)
    assert(parts.rewrittenPrev.count() == 0)
    // prev passes through untouched; the delta is exactly the batch
    assert(tripleSet(parts.untouchedTriples) == tripleSet(prev.triples))
    assert(tripleSet(parts.delta) == tripleSet(batch.triples))
    assert(tripleSet(parts.graph.triples) ==
      tripleSet(prev.triples) ++ tripleSet(batch.triples))
  }

  test("delta accounting: self-merge rewrites nothing and adds nothing") {
    val full = IncrementalKg.fromPages(pages, gaz)
    val parts = IncrementalKg.mergeParts(full, full)
    assert(parts.rewrittenPrev.count() == 0)
    assert(parts.delta.count() == 0)
    assert(tripleSet(parts.graph.triples) == tripleSet(full.triples))
  }

  // -- round-4 review finding: LONE mentions (entities with no
  // co-occurrence edge on their side) are absent from that side's
  // component map but present in its triples under the raw URI; the
  // delta rewrite maps must still canonicalize them.

  private def pagesOf(rows: (Long, String)*) = {
    val spark2 = spark
    import spark2.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("lone mention in the BATCH of an entity canonicalized in prev") {
    val Seq(e1, e2) = Gazetteer.DefaultEntities.sorted.take(2)
    val prev = IncrementalKg.fromPages(pagesOf(1L -> s"$e1 $e2"), gaz)
    val batch = IncrementalKg.fromPages(pagesOf(2L -> e2), gaz)
    val merged = IncrementalKg.merge(prev, batch)
    val full = IncrementalKg.fromPages(
      pagesOf(1L -> s"$e1 $e2", 2L -> e2), gaz)
    // batch's (doc2, mentions, e2) must rewrite to prev's label e1
    assert(tripleSet(merged.triples) == tripleSet(full.triples))
    assert(tripleSet(merged.triples)
      .contains(("urn:doc:2", "urn:graft:mentions", s"urn:ent:$e1")))
  }

  test("lone mention in PREV newly connected by the batch") {
    val Seq(e1, e2) = Gazetteer.DefaultEntities.sorted.take(2)
    val prev = IncrementalKg.fromPages(pagesOf(1L -> e2), gaz)
    val batch = IncrementalKg.fromPages(pagesOf(2L -> s"$e1 $e2"), gaz)
    val merged = IncrementalKg.merge(prev, batch)
    val full = IncrementalKg.fromPages(
      pagesOf(1L -> e2, 2L -> s"$e1 $e2"), gaz)
    // prev's (doc1, mentions, e2) must rewrite to the new label e1
    assert(tripleSet(merged.triples) == tripleSet(full.triples))
    assert(tripleSet(merged.triples)
      .contains(("urn:doc:1", "urn:graft:mentions", s"urn:ent:$e1")))
  }

  test("lone batch mention whose prev component is untouched") {
    // prev: {e1,e2} co-occur (label e1) and separately {e3,e4} (label e3);
    // batch: doc mentioning ONLY e4 (lone in batch) plus a doc bridging
    // nothing — e4's prev component is untouched by batch COMPONENT
    // nodes, yet (doc, mentions, e4) must still map to e3
    val es = Gazetteer.DefaultEntities.sorted.take(4)
    val Seq(e1, e2, e3, e4) = es
    val prev = IncrementalKg.fromPages(
      pagesOf(1L -> s"$e1 $e2", 2L -> s"$e3 $e4"), gaz)
    val batch = IncrementalKg.fromPages(pagesOf(3L -> e4), gaz)
    val merged = IncrementalKg.merge(prev, batch)
    val full = IncrementalKg.fromPages(
      pagesOf(1L -> s"$e1 $e2", 2L -> s"$e3 $e4", 3L -> e4), gaz)
    assert(tripleSet(merged.triples) == tripleSet(full.triples))
    assert(tripleSet(merged.triples)
      .contains(("urn:doc:3", "urn:graft:mentions", s"urn:ent:$e3")))
  }

  test("merging a batch with no bridging entities leaves labels intact") {
    // batch2 with no mentions at all: empty components, empty triples
    val empty = IncrementalKg.fromPages(
      pages.filter(col("doc_id") < 0), gaz)
    val base = IncrementalKg.fromPages(pages, gaz)
    val merged = IncrementalKg.merge(base, empty)
    assert(tripleSet(merged.triples) == tripleSet(base.triples))
    assert(compMap(merged.components) == compMap(base.components))
  }

  /** Two parity halves as materialized graphs, so a meter around a merge
    * counts the merge's own jobs only. */
  private def halves(): (KgGraph, KgGraph) = {
    def g(k: Int) = {
      val b = IncrementalKg.fromPages(pages.filter(col("doc_id") % 2 === k), gaz)
      KgGraph(b.triples.localCheckpoint(), b.components.localCheckpoint())
    }
    (g(0), g(1))
  }

  test("an empty batch touches nothing, and the observed counts never block") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val (prev, batch) = halves()
    val empty = KgGraph(batch.triples.limit(0), batch.components.limit(0))
    val parts = Await.result(Future(IncrementalKg.mergeParts(prev, empty)),
      2.minutes)
    assert(parts.touchedPrevLabels.count() == 0)
    assert(parts.delta.count() == 0)
    assert(tripleSet(parts.graph.triples) == tripleSet(prev.triples))
    assert(compMap(parts.graph.components) == compMap(prev.components))
  }

  test("mergeParts costs a pinned number of Spark jobs") {
    val (prev, batch) = halves()
    val (_, cost) = org.apache.spark.Meter(spark.sparkContext) {
      val g = IncrementalKg.mergeParts(prev, batch).graph
      Seq(g.triples, g.components).foreach(
        _.write.format("noop").mode("overwrite").save())
    }
    // a count() of a frame the merge has just checkpointed (each of them
    // sizes a broadcast guard) raises this count
    assert(cost.jobs == 24, "jobs of mergeParts of two halves into the noop sink")
  }
}
