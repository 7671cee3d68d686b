package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every main uses: `local[cpus]` with `cpus`
  * shuffle partitions, UTC (oracle parity), nanosecond timestamps read as
  * longs, and no UI. `GraftExtensions` is deliberately not installed: its
  * optimizer rules would rewrite every query's plan.
  */
object Sessions {
  /** `SPARK_GRAFT_CPUS`: the width Bench, Verify and Probe run at. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def build(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
