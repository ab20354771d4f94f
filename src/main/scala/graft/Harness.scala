package graft

import org.apache.spark.sql.SparkSession

/** The one local session every harness runs on: [[Bench]], [[Verify]],
  * [[Probe]], the `tools` mains and the test suites. */
object Harness {

  /** Local cores, from `$SPARK_GRAFT_CPUS` (default 32). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cpus]` with as many shuffle partitions, UTC, the graft
    * extensions, no UI, and log level WARN. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
