package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Session set-up shared by every workload: `local[nproc]` configured the
  * way `graft.Bench` configures it, with every file Spark writes kept under
  * the benchmark's work directory. */
object Harness {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path): SparkSession = {
    Files.createDirectories(work.resolve("spark-local"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb executor start-up, as graft.Bench does, so it bills to set-up
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** Bytes held by cached blocks (memory + disk), in decimal MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Logs how far into the process a phase ended, to stderr. */
  def mark(phase: String): Unit = {
    val sinceStart = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] $sinceStart%.2f s: $phase")
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
