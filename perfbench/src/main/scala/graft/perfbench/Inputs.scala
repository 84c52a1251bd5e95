package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded workload inputs derived from one testdata directory. Every
  * input is a directory of `<table>.parquet` datasets with the testdata
  * schema, so each query's `SparkEntry.oracleSql` runs on it unchanged.
  *
  * The seed picks one of [[Variants]] input variants. Each variant is a
  * different seeded relabelling (and, for `ingest`, a different seeded
  * token rotation) of the testdata rows; DuckDB's evaluation of the
  * oracles on a variant can then be cached and shipped with the
  * benchmark (see README.md).
  */
object Inputs {
  val Variants = 8

  def variant(seed: Long): Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt

  /** Sizes of each workload's input. */
  final case class Sizes(orders: Int, docs: Int, ingestPagesA: Int, ingestPagesB: Int)

  val Full = Sizes(orders = 400, docs = 1000, ingestPagesA = 12000, ingestPagesB = 8000)
  /** The harness smoke test: one op per workload at sf0.01 scale. */
  val Smoke = Sizes(orders = 200, docs = 500, ingestPagesA = 1000, ingestPagesB = 500)

  /** The order sample of the `analytics` graph, the same in every variant:
    * different samples make the iterative graph queries run different
    * numbers of rounds (and Spark jobs), which would make an op's work
    * depend on the seed. */
  private val GraphSample = 1

  /** The first `n` rows of `df` in a seeded order of `key`, numbered 0
    * until n in that order (`_rank`). */
  private def seededRank(df: DataFrame, key: String, v: Int, salt: String,
                         n: Int = Int.MaxValue): DataFrame = {
    val order = Seq(xxhash64(lit(v), lit(salt), col(key)), col(key))
    df.orderBy(order: _*).limit(n)
      .withColumn("_rank", row_number().over(Window.orderBy(order: _*)).cast("long") - 1L)
  }

  private def write(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")

  private def docs(spark: SparkSession, src: String, v: Int, n: Int): DataFrame = {
    val d = spark.read.parquet(s"$src/documents.parquet")
    seededRank(d, "doc_id", v, "docs", n)
      .select(d.columns.map(c =>
        if (c == "doc_id") col("_rank").as("doc_id") else col(c)): _*)
  }

  /** `analytics`: the lineitem rows of `orders` sf orders (the fixed
    * [[GraphSample]]), renumbered 0 until orders, so every
    * `l_orderkey < N` slice of the graph queries is a seeded sample of sf
    * orders; and `docs` seeded documents renumbered 0 until docs. The
    * dedup queries plant their own near-duplicates by doc_id residue, so
    * each variant plants twins of different documents. */
  def analytics(spark: SparkSession, src: String, out: String, v: Int, s: Sizes): Unit = {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val orders = seededRank(li.select("l_orderkey").distinct(), "l_orderkey", GraphSample,
      "orders", s.orders)
    write(li.join(broadcast(orders), "l_orderkey")
      .select(li.columns.map(c =>
        if (c == "l_orderkey") col("_rank").as("l_orderkey") else col(c)): _*),
      out, "lineitem")
    write(docs(spark, src, v, s.docs), out, "documents")
  }

  /** `ingest`: two page batches (doc_id 0 until A, then A until A+B). Page
    * i copies the text of seeded document (i mod |documents|) with its
    * tokens rotated by a seeded offset, so replicas are distinct pages
    * with the same mentions. Writes `a/`, `b/` and their union `ab/`
    * (links to the files of both). */
  def ingest(spark: SparkSession, src: String, out: String, v: Int, s: Sizes): Unit = {
    val base = spark.read.parquet(s"$src/documents.parquet")
    val n = base.count()
    val ranked = seededRank(base, "doc_id", v, "docs")
    val total = s.ingestPagesA + s.ingestPagesB
    val toks = split(col("text"), " ")
    val k = pmod(xxhash64(lit(v), lit("rotate"), col("page")), size(toks).cast("long")).cast("int")
    val pages = spark.range(total).toDF("page")
      .join(broadcast(ranked), pmod(col("page"), lit(n)) === col("_rank"))
      .withColumn("text", array_join(concat(
        slice(toks, k + 1, size(toks) - k), slice(toks, lit(1), k)), " "))
      .select(col("page").as("doc_id"), col("text"), col("lang"), col("source"),
        char_length(col("text")).cast("long").as("n_chars"))
      .localCheckpoint()
    write(pages.filter(col("doc_id") < s.ingestPagesA), s"$out/a", "documents")
    write(pages.filter(col("doc_id") >= s.ingestPagesA), s"$out/b", "documents")
    // the union corpus for the oracle: hard links to both batches' files
    val ab = Files.createDirectories(Paths.get(s"$out/ab/documents.parquet"))
    for (batch <- Seq("a", "b")) {
      val dir = Paths.get(s"$out/$batch/documents.parquet")
      val files = Files.list(dir)
      try files.toArray.map(_.asInstanceOf[Path]).filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.createLink(ab.resolve(s"$batch-${f.getFileName}"), f))
      finally files.close()
    }
  }
}
