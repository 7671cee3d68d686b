package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one [[Run]] did: wall split into `build` (the query closure —
  * DataFrame construction, relation resolution, and any jobs the
  * construction launches) and `exec` (the sink action), the scheduler and
  * task meters from the session's [[Run.Meter]], the process GC and CPU
  * deltas, and the cache leases the run released. */
final case class Trace(
    failure: Option[Throwable], wallS: Double, buildS: Double, execS: Double,
    jobs: Long, stages: Long, tasks: Long, taskCpuMs: Long, executorRunMs: Long,
    gcMs: Long, cpuMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, leases: Int) {
  def ok: Boolean = failure.isEmpty
}

/** The one way a harness runs a query: Bench (first pass and retries),
  * Verify and Probe all call it. */
object Run {
  /** Bench's and Probe's sink. Evaluates every output column and keeps no
    * row; `count()` would let Catalyst prune the final projection, so
    * pure-projection queries would be timed as scan-and-count. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  private val gcBeans = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  }
  /** Cumulative stop-the-world GC time, ms. */
  private def gcMillis: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  /** Cumulative process CPU time, ms (-1 if the platform bean is absent). */
  private def cpuMillis: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1000000L
      case _ => -1L
    }

  /** Build `query`, hand it to `sink`, and drain the run's cache leases.
    * Only build and sink sit inside the timed window; the meter settles
    * and the leases drain outside it. A throw from either half is caught
    * and reported as `failure`. */
  def apply(spark: SparkSession)(query: => DataFrame, sink: DataFrame => Unit = noop): Trace = {
    val meter = this.meter(spark)
    val c0 = meter.settled()
    val gc0 = gcMillis
    val cpu0 = cpuMillis
    val t0 = System.nanoTime()
    var built = -1L
    val failure = try {
      val df = query
      built = System.nanoTime()
      sink(df)
      None
    } catch { case e: Throwable => Some(e) }
    val t1 = System.nanoTime()
    val gcMs = gcMillis - gc0
    val cpuMs = if (cpu0 < 0) -1L else cpuMillis - cpu0
    // a failed run's killed tasks can report seconds later; wait them out
    // (<= ~5 s) so they bill to this run, not the next
    val c1 = meter.settled(maxSpins = if (failure.isEmpty) 40 else 1000)
    def d(i: Int) = c1(i) - c0(i)
    val b = if (built < 0) t1 else built
    Trace(failure, (t1 - t0) / 1e9, (b - t0) / 1e9, (t1 - b) / 1e9,
      d(0), d(1), d(2), d(3) / 1000000L, d(4), gcMs, cpuMs, d(5), d(6), d(7),
      graft.ops.Caches.drain())
  }

  /** One job as the meter saw it while [[Meter.recordJobs]] was set. */
  final case class JobSpan(id: Int, seconds: Double, stages: Int, callSite: String)

  /** The session listener behind every [[Trace]]. Counters are cumulative;
    * a run's figures are the difference of two settled reads. Write-side
    * shuffle bytes count each shuffle once, where the read side would
    * count a reused exchange twice. */
  final class Meter extends SparkListener {
    // jobs, stages, tasks, task CPU ns, executor run ms, shuffle write
    // bytes, shuffle read bytes, spill bytes, listener events
    private val c = new AtomicLongArray(9)
    @volatile var recordJobs = false
    val jobLog = new ConcurrentLinkedQueue[JobSpan]()
    private val starts = new ConcurrentHashMap[Int, (Long, Int, String)]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      // the result stage has the job's highest stage id; its name is the
      // submitting call site ("save at Run.scala:…", "collect at …")
      if (recordJobs) starts.put(j.jobId, (System.nanoTime(), j.stageInfos.size,
        j.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")))
      c.incrementAndGet(0)
      c.incrementAndGet(8)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = starts.remove(e.jobId)
      if (s != null) jobLog.add(JobSpan(e.jobId, (System.nanoTime() - s._1) / 1e9, s._2, s._3))
      c.incrementAndGet(8)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      c.incrementAndGet(1)
      c.incrementAndGet(8)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      c.incrementAndGet(2)
      val m = t.taskMetrics
      if (m != null) {
        c.addAndGet(3, m.executorCpuTime)
        c.addAndGet(4, m.executorRunTime)
        c.addAndGet(5, m.shuffleWriteMetrics.bytesWritten)
        c.addAndGet(6, m.shuffleReadMetrics.totalBytesRead)
        c.addAndGet(7, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      c.incrementAndGet(8)
    }

    /** Listener events post asynchronously: poll until no event lands for
      * one 5 ms interval (at most `maxSpins` intervals), so one run's
      * trailing events do not leak into the next run's difference. */
    def settled(maxSpins: Int = 40): Array[Long] = {
      var prev = c.get(8)
      var spins = 0
      var quiet = false
      while (!quiet && spins < maxSpins) {
        Thread.sleep(5)
        val cur = c.get(8)
        quiet = cur == prev
        prev = cur
        spins += 1
      }
      Array.tabulate(c.length())(c.get)
    }
  }

  private val meters = new java.util.WeakHashMap[SparkContext, Meter]()

  /** The session's meter, registered on first use. */
  def meter(spark: SparkSession): Meter = meters.synchronized {
    val sc = spark.sparkContext
    Option(meters.get(sc)).getOrElse {
      val m = new Meter
      sc.addSparkListener(m)
      meters.put(sc, m)
      m
    }
  }
}
