package graft

import java.nio.charset.StandardCharsets
import org.apache.spark.Meter
import org.apache.spark.sql.functions._

import graft.extract.{Gazetteer, HtmlText, MentionScan}
import graft.pages.PageGen

/** Scaling-efficiency evidence for the north rule (N vs 4N executors;
  * sandbox proxy: local[N] vs local[4N] on identical input).
  *
  * The timed job is the compute-bound KG front-end — html synthesis →
  * byte decode → main-content extraction → Aho-Corasick mention scan →
  * TF-IDF scoring → co-occurrence aggregation — over a deterministic
  * REP-fold replication of the documents corpus (doc_id offset per
  * replica; no external data). Work is embarrassingly parallel until the
  * final dictionary-sized aggregations, which is exactly the production
  * shape; fixed per-job overheads are amortized by sizing the corpus with
  * REP.
  *
  * Usage: SPARK_GRAFT_CPUS=8 SPARK_GRAFT_REP=64 sbt "runMain graft.ScalingBench"
  * Prints one JSON line: docs, seconds, docs_per_sec, parallelism, and
  * the fastest run's [[org.apache.spark.Meter]] cost.
  */
object ScalingBench {

  /** One full front-end pass (html synth → extract → trie scan →
    * TF-IDF count + fused co-occurrence) over a prepared corpus; the
    * single scan is materialized once and feeds both sinks. Shared by
    * this main and graft.Bench's headline measurement.
    */
  def frontEndOnce(replicated: org.apache.spark.sql.DataFrame,
                   bc: org.apache.spark.broadcast.Broadcast[graft.extract.Gazetteer],
                   bcIdx: org.apache.spark.broadcast.Broadcast[Map[String, Int]],
                   entitiesSorted: Seq[String], nDocs: Long): Long = {
    val spark = replicated.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pages = replicated.as[(Long, String, String, String)]
      .mapPartitions { it =>
        it.map { case (id, text, lang, source) =>
          val html = PageGen.template(id, lang, source, HtmlText.escape(text))
            .getBytes(StandardCharsets.UTF_8)
          (id, html)
        }
      }.toDF("doc_id", "html")
    val extracted = pages.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val trie = bc.value
        val idx = bcIdx.value
        it.map { case (id, html) =>
          val text = HtmlText.extractMainFromBytes(html)
          val counts = trie.countMatches(text)
          (id, counts.toSeq.map { case (e, tf) => (idx(e), tf.toLong) }.sorted)
        }
      }.toDF("doc_id", "mentions")
      .localCheckpoint()
    val flat = extracted.select(col("doc_id"),
      explode(col("mentions")).as("m"))
      .select(col("doc_id"), col("m._1").as("entity"), col("m._2").as("tf"))
    val sets = extracted.select(col("doc_id"), col("mentions._1").as("es"))
    val scored = MentionScan.scored(flat, nDocs)
    val co = MentionScan.coOccurrenceFusedIdx(sets, entitiesSorted)
    scored.agg(count(lit(1))).head.getLong(0) + co.count()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("SPARK_GRAFT_REP", "64").toInt
    val cpus = LocalSession.cores
    val spark = LocalSession()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    // deterministic REP-fold corpus; repartition to cpus*4 even slices so
    // the scan parallelism follows the session, not the file layout
    val replicated = docs
      .crossJoin(spark.range(rep).toDF("rep"))
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        col("text"), col("lang"), col("source"))
      .repartition(cpus * 4)
      .localCheckpoint()
    val nDocs = replicated.count()

    val gaz = Gazetteer(Gazetteer.DefaultEntities)
    val bc = spark.sparkContext.broadcast(gaz)
    // dictionary-encode entities at the scan boundary: the checkpoint,
    // explode and every aggregation downstream run on ints; names are
    // restored only in the final dictionary-sized selects
    val entitiesSorted = graft.model.CodePoint.sorted(Gazetteer.DefaultEntities)
    val bcIdx = spark.sparkContext.broadcast(
      entitiesSorted.zipWithIndex.toMap)

    def runOnce(): Long =
      frontEndOnce(replicated, bc, bcIdx, entitiesSorted, nDocs)

    runOnce() // warmup (codegen + JIT)
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val runs = (1 to iters).map { _ =>
      Meter(spark.sparkContext) {
        val t0 = System.nanoTime()
        val sink = runOnce()
        (sink, (System.nanoTime() - t0) / 1e9)
      }
    }
    val times = runs.map(_._1._2)
    // steady-state (JIT/GC warm): the fastest run, with its Spark cost
    val ((sink, secs), cost) = runs.minBy(_._1._2)
    println(s"""{"metric":"kg_front_end","docs":$nDocs,"seconds":$secs,"runs":[${times.mkString(",")}],"docs_per_sec":${nDocs / secs},"parallelism":$cpus,"rep":$rep,"sink":$sink,"cost":${cost.json}}""")
    spark.stop()
  }
}
