package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The run primitive every harness shares: what a trace attributes to a
  * run must be that run's, and a failed run must leave nothing behind. */
class RunSpec extends SparkSpec {
  private def grouped(n: Long, keys: Int): DataFrame =
    spark.range(0, n, 1, 4).groupBy((col("id") % keys).as("k")).count()

  test("a shuffle query's trace has jobs, tasks and shuffle bytes; build + exec <= wall") {
    val meter = Run.meter(spark)
    meter.jobLog.clear()
    meter.recordJobs = true
    val t = try Run(spark)(grouped(20000, 97)) finally meter.recordJobs = false
    assert(t.ok, t.failure)
    assert(t.jobs > 0 && t.stages > 0 && t.tasks > 0)
    assert(meter.jobLog.size === t.jobs, "the job log lists every job the trace counts")
    assert(t.shuffleWriteBytes > 0 && t.shuffleReadBytes > 0)
    assert(t.buildS >= 0 && t.execS >= 0 && t.buildS + t.execS <= t.wallS + 1e-9)
  }

  test("a throwing query reports ok = false and leaves no lease outstanding") {
    val boom = udf((x: Long) => if (x == 50) throw new IllegalStateException("boom") else x)
    val t = Run(spark) {
      graft.ops.Caches.lease(spark.range(100).toDF("id")).select(boom(col("id")))
    }
    assert(!t.ok)
    assert(t.leases === 1)
    assert(graft.ops.Caches.outstanding === 0)
  }

  test("back-to-back runs each carry their own shuffle bytes") {
    val a = () => grouped(20000, 97)
    val b = () => spark.range(0, 50000, 1, 3).repartition(7).groupBy((col("id") % 13).as("k"))
      .agg(sum("id"))
    val alone = Seq(a, b).map(q => Run(spark)(q()).shuffleWriteBytes)
    val together = Seq(a, b).map(q => Run(spark)(q()).shuffleWriteBytes)
    assert(alone.forall(_ > 0))
    assert(together === alone)
  }
}
