package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Counters the listener accumulates for one span. */
final class SpanCounters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val gcMs = new AtomicLong
  val recordsWritten = new AtomicLong
}

/** One timed call into a layer. Spans of one operation share `op`. */
final case class Span(op: Long, layer: String, name: String, t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Per-layer accounting for the traced run.
  *
  * Before each call into the program the benchmark sets the thread-local
  * Spark property [[Tracer.Key]] to the span's key; every job that call
  * submits carries it, and the listener files the job's stages and tasks
  * under that key. Jobs whose stage call site names a given source file are
  * also tallied under `<key>@<file>`, which is how a `Runner.run` span is
  * split into sink writes and read-back scans without touching `Runner`.
  * Spans are kept in memory and written out once, when the run ends.
  */
final class Tracer(sc: SparkContext, splitFiles: Seq[String]) extends SparkListener {
  private val stageKeys = new ConcurrentHashMap[Int, Seq[String]]()
  private val jobKeys = new ConcurrentHashMap[Int, Seq[String]]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new ConcurrentHashMap[String, SpanCounters]()
  private val jobWallNs = new ConcurrentHashMap[String, AtomicLong]()
  private val notes = new ConcurrentHashMap[(Long, String), java.lang.Double]()
  val spans = ArrayBuffer.empty[Span]

  def note(op: Long, key: String, value: Double): Unit =
    notes.merge((op, key), value, (a, b) => a + b)

  def noted(op: Long, key: String): Double =
    Option(notes.get((op, key))).map(_.doubleValue).getOrElse(0.0)

  /** Summed duration of the spans of `op` in `layer`. */
  def spanSeconds(op: Long, layer: String): Double =
    spans.iterator.filter(s => s.op == op && s.layer == layer).map(_.seconds).sum

  def counter(key: String): SpanCounters =
    counters.computeIfAbsent(key, _ => new SpanCounters)

  /** Summed wall of the jobs filed under `key`, in seconds. */
  def jobSeconds(key: String): Double =
    Option(jobWallNs.get(key)).map(_.get / 1e9).getOrElse(0.0)

  /** Runs `body` as one span: tags its jobs, times it, records it. */
  def span[T](op: Long, layer: String, name: String)(body: => T): T = {
    val key = Tracer.key(op, layer)
    sc.setLocalProperty(Tracer.Key, key)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(Tracer.Key, null)
      spans += Span(op, layer, name, t0, t1)
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def settle(): Unit = org.apache.spark.perfbench.ListenerSync.await(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).map(_.getProperty(Tracer.Key)).orNull
    if (key != null) {
      val sites = e.stageInfos.map(_.name)
      val extra = splitFiles.filter(f => sites.exists(_.contains(f))).map(f => s"$key@$f")
      val keys = key +: extra
      keys.foreach(k => counter(k).jobs.incrementAndGet())
      jobKeys.put(e.jobId, keys)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageKeys.put(id, keys))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val keys = jobKeys.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (keys != null && t0 != null) keys.foreach { k =>
      jobWallNs.computeIfAbsent(k, _ => new AtomicLong)
        .addAndGet((e.time - t0) * 1000000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val keys = stageKeys.get(e.stageInfo.stageId)
    if (keys != null) keys.foreach(k => counter(k).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val keys = stageKeys.get(e.stageId)
    val m = e.taskMetrics
    if (keys != null && m != null) keys.foreach { k =>
      val c = counter(k)
      c.tasks.incrementAndGet()
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Writes every span as one JSON line to `path`. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("op" -> Json.num(s.op), "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "t0_ns" -> Json.num(s.t0),
        "seconds" -> Json.num(s.seconds)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** A traced or untraced handle on one operation's spans. */
final case class Tracing(tracer: Option[Tracer], op: Long) {
  def span[T](layer: String, name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(op, layer, name)(body)
    case None => body
  }
  /** Records a value returned by a call, e.g. the leases `drain` released. */
  def note(key: String, value: Double): Unit = tracer.foreach(_.note(op, key, value))
}

/** Per-layer totals over a set of traced operations, averaged per pass. */
final class LayerSums(tr: Tracer, ops: Seq[Long], passes: Int) {
  private val perPass = math.max(passes, 1).toDouble
  def seconds(layer: String): Double = ops.map(o => tr.spanSeconds(o, layer)).sum / perPass
  def sum(layer: String)(f: SpanCounters => Long): Double =
    ops.map(o => f(tr.counter(Tracer.key(o, layer)))).sum / perPass
  def jobSeconds(layer: String): Double = ops.map(o => tr.jobSeconds(Tracer.key(o, layer))).sum / perPass
  def noted(key: String): Double = ops.map(o => tr.noted(o, key)).sum / perPass
}

object Tracer {
  val Key = "perfbench.span"
  def key(op: Long, layer: String): String = s"$op/$layer"
}
