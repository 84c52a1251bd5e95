package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session of the command-line entry points and
  * measurement tools (the frozen [[Bench]] and [[Verify]] keep their own):
  * `local[cores]` with as many shuffle partitions, AQE on, UTC session
  * time, no UI, WARN logging. `getOrCreate`, so a caller that already
  * holds a session (a test, an embedding application) gets that one. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val n = cores
    val s = SparkSession.builder().master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
