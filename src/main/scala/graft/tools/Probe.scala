package graft.tools

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.{Cost, Meter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{LocalSession, SparkEntry}

/** Per-query cost probe over the queries of [[graft.SparkEntry]]:
  * each query runs once warm, then `Repeats` times into the noop sink
  * (every column of every row computed, nothing collected, no write
  * cost) under [[org.apache.spark.Meter]]. One JSON line per query:
  * `wall_s` and `jobs` per repeat, the last repeat's `cost` (with its
  * codegen `compiles`) and plan `lints`, and the host's 1-minute load
  * average after the query.
  * A query that throws gets a row with its exception class instead, and
  * its stack trace goes to stderr.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<sf dir> [SPARK_GRAFT_CPUS=n] \
  *     sbt "runMain graft.tools.Probe [q1,q2,...] [plansDir]"
  * With no query list every query runs, in name order. `plansDir` gets
  * one `<query>.txt` with the formatted physical plan per query. Spark
  * settings such as a disabled broadcast threshold come in as `-Dspark.*`
  * system properties of the JVM that runs it (under sbt:
  * `set javaOptions += "-Dspark.sql.autoBroadcastJoinThreshold=-1"`).
  */
object Probe {
  val Repeats = 3

  /** Plan nodes counted by [[lints]]: aggregates over object or struct
    * buffers (which the primitive hash aggregate cannot hold), nested-loop
    * and cartesian joins, encoder boundaries, and reads of checkpointed
    * (or locally built) RDDs. */
  val LintNodes = Seq("ObjectHashAggregate", "SortAggregate",
    "BroadcastNestedLoopJoin", "CartesianProduct", "DeserializeToObject",
    "MapPartitions", "Scan ExistingRDD")

  private val aqe = new AdaptiveSparkPlanHelper {}

  /** Lint counts of one executed plan. Each node counts once: the walk
    * goes through adaptive plans, query stages and subqueries, and a
    * reused exchange is a leaf. */
  def lints(plan: SparkPlan): Map[String, Int] = {
    val hits = aqe.collectWithSubqueries(plan) {
      case p if LintNodes.contains(p.nodeName) => p.nodeName
    }
    LintNodes.map(n => n -> hits.count(_ == n)).toMap
  }

  /** Runs `f` under [[org.apache.spark.Meter]] and sums the [[lints]] of
    * every plan the session executed successfully meanwhile: checkpoints,
    * counts and collects inside operators as well as the final action. */
  def measure[T](spark: SparkSession)(f: => T): (T, Cost, Map[String, Int]) = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Map[String, Int]]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        seen.synchronized(seen += lints(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // Meter drains the listener bus, which also delivers these plans
      val (r, cost) = Meter(spark.sparkContext)(f)
      (r, cost, seen.synchronized(
        LintNodes.map(n => n -> seen.map(_(n)).sum).toMap))
    } finally spark.listenerManager.unregister(listener)
  }

  /** One JSON row per query, computed as the iterator advances. */
  def rows(spark: SparkSession, sfDir: String, names: Seq[String],
      plansDir: Option[String]): Iterator[String] = names.iterator.map { n =>
    val fn = SparkEntry.queries(n)
    def run(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    try {
      run()
      val reps = (1 to Repeats).map { _ =>
        measure(spark) {
          val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
        }
      }
      plansDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        Files.write(Paths.get(d, s"$n.txt"), fn(spark, sfDir).queryExecution
          .explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
      }
      val (_, cost, lint) = reps.last
      val lintJson = LintNodes.map(k => s""""$k":${lint(k)}""")
        .mkString("{", ",", "}")
      s"""{"query":"$n","wall_s":[${reps.map(_._1).mkString(",")}],""" +
        s""""jobs":[${reps.map(_._2.jobs).mkString(",")}],""" +
        s""""cost":${cost.json},"lints":$lintJson,"load_avg":$loadAvg}"""
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        s"""{"query":"$n","error":"${e.getClass.getName}"}"""
    }
  }

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = LocalSession()
    rows(spark, sfDir, names, args.lift(1)).foreach(println)
    spark.stop()
  }
}
