package perfbench

import org.apache.spark.sql.SparkSession

/** Set-up: session start, then the prewarm of the workload's families, once,
  * in the run's fresh JVM. The cold set-up is what every process pays, so it
  * is the one reported; the session it starts is the one the workload uses. */
object Setup {
  final case class Result(seconds: Double, prewarm: Seq[(String, Double)])

  val PrewarmOp = 1L

  def run(args: Main.Args, prewarms: Seq[(String, (SparkSession, String) => Unit)],
      dataDir: String): (SparkSession, Option[Tracer], Result) = {
    val t0 = System.nanoTime()
    val spark = Harness.session(args.work)
    val sessionSec = Harness.seconds(t0)
    val tracer = if (args.trace) {
      val t = new Tracer(spark.sparkContext, Release.SplitFiles)
      spark.sparkContext.addSparkListener(t)
      t.spans += Span(0L, "session", "start", t0, t0 + (sessionSec * 1e9).toLong)
      Some(t)
    } else None
    val families = prewarms.map { case (name, f) =>
      val tf = System.nanoTime()
      Tracing(tracer, PrewarmOp).span("prewarm", name)(f(spark, dataDir))
      name -> Harness.seconds(tf)
    }
    val seconds = Harness.seconds(t0)
    Harness.mark(f"set up: session $sessionSec%.2f s, prewarm ${families.map(_._2).sum}%.2f s")
    (spark, tracer, Result(seconds, families))
  }

  /** The `prewarm.*` per-layer metrics of the families the workload prewarms. */
  def prewarmMetrics(tr: Tracer, setup: Result, cacheMb: Double): Map[String, Double] =
    setup.prewarm.map { case (f, s) => s"prewarm.${f}_s" -> s }.toMap ++ Map(
      "prewarm.jobs" -> tr.counter(Tracer.key(PrewarmOp, "prewarm")).jobs.get.toDouble,
      "prewarm.cache_mb" -> cacheMb)
}
