package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.dedup.Dedup
import graft.pipeline.KgPipeline

/** One call into a layer inside an op: `layer.name` is its job group and
  * its span; `run` returns the output whose fingerprint is the timed
  * action and the per-op check. `oracle` names the `SparkEntry.oracleSql`
  * entry that checks the output; `inputDir` holds the tables it reads. */
final case class Call(layer: String, name: String, run: () => DataFrame,
                      oracle: String, inputDir: String) {
  def group: String = s"$layer.$name"
}

/** A workload: its inputs and the calls one op makes. */
trait Workload {
  def generate(spark: SparkSession, src: String, v: Int, s: Inputs.Sizes): Unit
  def calls(spark: SparkSession): Seq[Call]
  /** Documents (pages) in the input one op processes. */
  def docsPerOp: Long
  /** Checked after every op besides the fingerprints. */
  def extraCheck(): Option[String] = None
  /** Before each op, outside its timing. */
  def beforeOp(): Unit = ()
  /** The workload's own layer metrics, taken by a traced run. */
  def layers(spark: SparkSession, trace: Trace): Seq[(String, Double, String)] = Nil
}

object Workloads {
  def byName(name: String, work: String): Workload = name match {
    case "ingest" => new Ingest(work)
    case "analytics" => new Analytics(work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no query $name in SparkEntry.queries"))

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Bytes and files under `dirs`. */
  def du(dirs: Seq[String]): (Long, Long) = dirs.map(Paths.get(_))
    .filter(Files.exists(_)).map { d =>
      val s = Files.walk(d)
      try {
        val fs = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        (fs.map(Files.size).sum, fs.length.toLong)
      } finally s.close()
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** `analytics`: one op serves the iterative `canon` graph analytics and a
  * `kgql` path query (bound by Spark job latency), then the similarity-join
  * tier (bound by parallelism), all over one seeded input. */
final class Analytics(work: String) extends Workload {
  private val input = s"$work/input"
  val Canon = Seq("kg_diameter", "kg_coloring", "kg_hits")
  val Kgql = Seq("kg_path")
  val Dedups = Seq("dd_containment", "dd_jaccard")
  private var docs = 0L
  override def docsPerOp: Long = docs

  def generate(spark: SparkSession, src: String, v: Int, s: Inputs.Sizes): Unit = {
    Inputs.analytics(spark, src, input, v, s)
    docs = s.docs.toLong
  }

  def calls(spark: SparkSession): Seq[Call] = {
    def call(layer: String)(q: String) =
      Call(layer, q, () => Workloads.query(q)(spark, input), q, input)
    Canon.map(call("canon")) ++ Kgql.map(call("kgql")) ++ Dedups.map(call("dedup"))
  }

  /** Useful-to-attempted ratio of the two candidate tiers, read from the
    * public candidate functions on the inputs of dd_jaccard / dd_minhash. */
  override def layers(spark: SparkSession, trace: Trace): Seq[(String, Double, String)] = {
    val docs = spark.read.parquet(s"$input/documents.parquet")
    val corpus = graft.queries.DataQueries.minhashCorpus(spark, input)
    val params = Dedup.MinHashParams(numHashes = 64, bands = 16, seed = 42L)
    Seq(
      ("dedup.jaccard_candidates", Dedup.jaccardCandidates(docs, 0.8).count().toDouble, "count"),
      ("dedup.jaccard_pairs", Dedup.jaccardPairs(docs, 0.8).count().toDouble, "count"),
      ("dedup.minhash_candidates", Dedup.minHashCandidatePairs(corpus, 3, params).count().toDouble, "count"),
      ("dedup.minhash_pairs", Dedup.minHashCandidates(corpus, 3, params, 0.8).count().toDouble, "count"))
  }
}

/** `ingest`: a two-batch production build — `KgPipeline.run` on batch A,
  * then `KgPipeline.merge` of batch B. Checked against kg_canonical's
  * oracle over the union corpus, plus a zero extraction-invariant count. */
final class Ingest(work: String) extends Workload {
  private val input = s"$work/input"
  private val outA = s"$work/out/a"
  private val outAB = s"$work/out/ab"
  private var pages = 0L
  private var violations = 0L
  override def docsPerOp: Long = pages

  def generate(spark: SparkSession, src: String, v: Int, s: Inputs.Sizes): Unit = {
    Inputs.ingest(spark, src, input, v, s)
    pages = s.ingestPagesA.toLong + s.ingestPagesB
  }

  override def beforeOp(): Unit = Workloads.deleteTree(Paths.get(s"$work/out"))

  def calls(spark: SparkSession): Seq[Call] = Seq(Call("pipeline", "ingest", () => {
    val a = KgPipeline.run(spark, s"$input/a", outA)
    val m = KgPipeline.merge(spark, outA, s"$input/b", outAB)
    violations = a.invariantViolations + m.invariantViolations
    KgPipeline.loadCanonical(spark, outAB)
  }, "kg_canonical", s"$input/ab"))

  override def extraCheck(): Option[String] =
    if (violations == 0) None else Some(s"$violations extraction-invariant violations")

  /** Phase by phase through the pipeline's kill/resume contract: each
    * `run(..., failAfterPhase = p)` commits exactly one more phase. Phase 4
    * (components, then canonical) has no failpoint between its parts, so
    * the run resumed after `triples` times both; a second resume, with only
    * the components marker removed, takes the pipeline's own back-compat
    * path that recommits the components alone, and `canon.canonical` is
    * the difference. Every resume also recounts the extraction invariant
    * (one job, in each span). The merge is timed on its own. */
  override def layers(spark: SparkSession, trace: Trace): Seq[(String, Double, String)] = {
    beforeOp()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    def span(group: String)(f: => Unit): (Double, Double) = {
      spark.sparkContext.setJobGroup(group, group)
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      (s, trace.take(group).jobs.toDouble)
    }
    def report(metric: String, sj: (Double, Double)): Unit = {
      out += ((s"${metric}_s", sj._1, "s"))
      out += ((s"${metric}_jobs", sj._2, "count"))
    }
    for ((phase, metric) <- Seq("pages" -> "extract.pages", "mentions" -> "extract.mentions",
        "triples" -> "shape.triples"))
      report(metric, span(metric) {
        try {
          KgPipeline.run(spark, s"$input/a", outA, failAfterPhase = Some(phase))
          throw new IllegalStateException(s"failpoint after $phase did not fire")
        } catch { case e: RuntimeException if e.getMessage == s"failpoint after phase $phase" => () }
      })
    val phase4 = span("canon.phase4")(KgPipeline.run(spark, s"$input/a", outA))
    Files.delete(Paths.get(s"$outA/phase=components/_SUCCESS"))
    val comps = span("canon.components")(KgPipeline.run(spark, s"$input/a", outA))
    report("canon.components", comps)
    report("canon.canonical", (phase4._1 - comps._1, phase4._2 - comps._2))
    report("pipeline.merge", span("pipeline.merge")(KgPipeline.merge(spark, outA, s"$input/b", outAB)))
    val (bytes, files) = Workloads.du(Seq(outA, outAB))
    out += (("pipeline.written_mb", bytes / (1024.0 * 1024.0), "MB"))
    out += (("pipeline.files_written", files.toDouble, "count"))
    out.toSeq
  }
}
