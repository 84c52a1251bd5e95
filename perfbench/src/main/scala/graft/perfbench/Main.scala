package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One benchmark run inside one JVM: generate the seeded inputs, compute
  * and write the reference output of every call (checked against DuckDB
  * by run.py afterwards), then time whole ops for the requested seconds
  * (at least one), checking every op's fingerprint against the reference.
  * The reference op is the only warm-up (README.md, "Run budget"). Writes
  * its result as JSON to `--result`.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * src (testdata dir), work (scratch dir), result (file), launch-ms
  * (epoch ms at which the run was launched), sizes (full|smoke), cpus,
  * generate-only (1: write the inputs and the list of checks, then stop).
  */
object Main {
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Pass(wallS: Double, cpuS: Double, failures: Seq[String],
                        calls: Seq[(Call, Double)], jobs: Long,
                        counts: Seq[(Call, SparkCounts)])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def readProc(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)), "UTF-8") catch { case NonFatal(_) => "" }
  def loadAvg(): Double =
    readProc("/proc/loadavg").split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)
  def stealJiffies(): Long =
    readProc("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
  def peakRssMb(): Double =
    readProc("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = args("launch-ms").toLong
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val src = args("src")
    val sizes = if (args.getOrElse("sizes", "full") == "smoke") Inputs.Smoke else Inputs.Full
    val cpus = args.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val loadStart = loadAvg()
    val stealStart = stealJiffies()

    Workloads.deleteTree(Paths.get(work))
    Files.createDirectories(Paths.get(work))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val trace = if (traced) { val t = new Trace(sc); sc.addSparkListener(t); Some(t) } else None

    val sessionMs = System.currentTimeMillis()
    val wl = Workloads.byName(workloadName, work)
    val variant = Inputs.variant(seed)
    wl.generate(spark, src, variant, sizes)
    val calls = wl.calls(spark)
    def checks = Json.arr(calls.map(c => Json.obj(
      "name" -> Json.str(c.name),
      "oracle" -> Json.str(SparkEntry.oracleSql.getOrElse(c.oracle,
        throw new IllegalStateException(s"no oracleSql for ${c.oracle}"))),
      "output" -> Json.str(s"$work/checked/${c.name}"),
      "input" -> Json.str(c.inputDir))))
    if (args.get("generate-only").contains("1")) {
      Files.writeString(Paths.get(args("result")), Json.obj(
        "variant" -> variant.toString, "checks" -> checks))
      spark.stop()
      return
    }

    val generatedMs = System.currentTimeMillis()
    // reference op: each call's output is written once for the DuckDB check
    // and read back; its fingerprint is what every later op must reproduce
    val refs = scala.collection.mutable.Map.empty[String, Fingerprint]
    val refErrors = ArrayBuffer.empty[String]
    wl.beforeOp()
    for (c <- calls) {
      sc.setJobGroup(c.group, c.group)
      val dir = s"$work/checked/${c.name}"
      try {
        c.run().coalesce(1).write.mode("overwrite").parquet(dir)
        refs(c.name) = Fingerprint.of(spark.read.parquet(dir))
      } catch { case NonFatal(e) => refErrors += s"${c.name}: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    sc.clearJobGroup()
    wl.extraCheck().foreach(refErrors += _)
    trace.foreach(t => calls.foreach(c => t.take(c.group)))
    val referenceMs = System.currentTimeMillis()

    var passNo = 0
    def pass(): Pass = {
      passNo += 1
      wl.beforeOp()
      val failures = ArrayBuffer.empty[String]
      val callTimes = ArrayBuffer.empty[(Call, Double)]
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      for (c <- calls) {
        sc.setJobGroup(s"${c.group}#$passNo", c.group)
        val ts = System.nanoTime()
        try {
          val fp = Fingerprint.of(c.run())
          if (!refs.get(c.name).contains(fp))
            failures += s"${c.name}: fingerprint $fp != reference ${refs.get(c.name).getOrElse("(none)")}"
        } catch { case NonFatal(e) => failures += s"${c.name}: ${e.getClass.getSimpleName}: ${e.getMessage}" }
        callTimes += ((c, (System.nanoTime() - ts) / 1e9))
      }
      wl.extraCheck().foreach(failures += _)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      sc.clearJobGroup()
      PerfbenchBus.drain(sc)
      val jobs = calls.map(c => sc.statusTracker.getJobIdsForGroup(s"${c.group}#$passNo").length.toLong).sum
      val counts = trace.map(t => calls.map(c => c -> t.take(s"${c.group}#$passNo"))).getOrElse(Nil)
      Pass(wall, cpu, failures.toSeq, callTimes.toSeq, jobs, counts)
    }

    // timed ops: whole ops until `seconds` have passed, at least one
    val firstOpMs = System.currentTimeMillis()
    val timed = ArrayBuffer.empty[Pass]
    val timedStart = System.nanoTime()
    while (timed.isEmpty || (System.nanoTime() - timedStart) / 1e9 < seconds)
      timed += pass()
    val measuredS = (System.nanoTime() - timedStart) / 1e9

    val opS = median(timed.map(_.wallS).toSeq)
    val e2e = ArrayBuffer[(String, Double, String)](
      ("setup_s", (firstOpMs - launchMs) / 1e3, "s"),
      ("op_s", opS, "s"),
      ("cpu_s_per_op", median(timed.map(_.cpuS).toSeq), "s"))
    e2e += (("docs_per_s", wl.docsPerOp / opS, "docs/s"))

    val layers = ArrayBuffer.empty[(String, Double, String)]
    trace.foreach { t =>
      def med(f: Pass => Double) = median(timed.map(f).toSeq)
      def tot(p: Pass) = p.counts.map(_._2).foldLeft(SparkCounts.Zero)(_ + _)
      layers ++= Seq(
        ("spark.jobs", med(p => tot(p).jobs.toDouble), "count"),
        ("spark.stages", med(p => tot(p).stages.toDouble), "count"),
        ("spark.tasks", med(p => tot(p).tasks.toDouble), "count"),
        ("spark.task_s", med(p => tot(p).taskS), "s"),
        ("spark.gc_s", med(p => tot(p).gcS), "s"),
        ("spark.busy_cores", med(p => tot(p).taskS / p.wallS), "cores"),
        ("spark.job_gap_s", med(p => math.max(0.0, p.wallS - tot(p).jobBusyS)), "s"),
        ("spark.shuffle_write_mb", med(p => tot(p).shuffleWriteMb), "MB"),
        ("spark.shuffle_read_mb", med(p => tot(p).shuffleReadMb), "MB"),
        ("spark.spill_mb", med(p => tot(p).spillMb), "MB"))
      if (calls.size > 1) for (c <- calls) {
        def callS(p: Pass) = p.calls.find(_._1 eq c).get._2
        def cnt(p: Pass) = p.counts.find(_._1 eq c).get._2
        layers += ((s"${c.group}.s", med(callS), "s"))
        layers += ((s"${c.group}.jobs", med(p => cnt(p).jobs.toDouble), "count"))
        layers += ((s"${c.group}.busy_cores", med(p => cnt(p).taskS / callS(p)), "cores"))
        if (c.layer == "dedup")
          layers += ((s"${c.group}.shuffle_mb", med(p => cnt(p).shuffleWriteMb), "MB"))
      }
      layers ++= wl.layers(spark, t)
    }
    e2e += (("peak_rss_mb", peakRssMb(), "MB"))

    val attempted = timed.size
    val failedOps = timed.count(_.failures.nonEmpty)
    val json = Json.obj(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "variant" -> variant.toString,
      "attempted" -> attempted.toString,
      "failed" -> failedOps.toString,
      "failures" -> Json.arr((refErrors ++ timed.flatMap(_.failures)).distinct.map(Json.str).toSeq),
      "metrics" -> Json.metrics(e2e.toSeq),
      "layers" -> Json.metrics(layers.toSeq),
      "checks" -> checks,
      "context" -> Json.obj(
        "load_avg_start" -> loadStart.toString,
        "load_avg_end" -> loadAvg().toString,
        "steal_jiffies" -> (stealJiffies() - stealStart).toString,
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "spark_cores" -> cpus.toString,
        "jvm_flags" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.toSeq.map(a => Json.str(a.toString))),
        "session_s" -> ((sessionMs - launchMs) / 1e3).toString,
        "generate_s" -> ((generatedMs - sessionMs) / 1e3).toString,
        "reference_op_s" -> ((referenceMs - generatedMs) / 1e3).toString,
        "timed_op_s" -> Json.arr(timed.map(_.wallS.toString).toSeq),
        "jobs_per_op" -> Json.arr(timed.map(_.jobs.toString).toSeq),
        "measured_s" -> measuredS.toString))
    Files.writeString(Paths.get(args("result")), json)
    spark.stop()
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj("value" -> num(v), "unit" -> str(u)) }: _*)
}
