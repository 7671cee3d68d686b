package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** `suite_iter`: the measured queries of the `suite_iter` list in seeded
  * order, pass after pass, until the measured time reaches `--seconds`, and
  * for at least [[Suite.WarmPasses]] warm passes.
  * Pass 0 runs cold, right after set-up; later passes are warm. A query is
  * build (`SparkEntry.queries(name)(spark, dir)`), plan (`executedPlan`)
  * and exec (the noop-sink write); then, outside the timed window, the
  * first pass checks its fingerprint, and every pass calls `Caches.drain`.
  * A traced run traces pass 0 and every even pass, and leaves the odd ones
  * untraced so the tracing overhead can be measured.
  */
final class Suite(args: Main.Args, expected: Map[String, String]) {
  private val workload = "suite_iter"
  private val dataDir = args.root.resolve("data").resolve(Suite.Scale).toString

  private def lines(name: String): Seq[String] =
    Files.readAllLines(args.root.resolve("suites").resolve(name)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t').head)

  /** Every `SparkEntry` query must sit in exactly one suite list. */
  private def membershipProblems(): Seq[String] = {
    val listed = lines("suite_floor.txt") ++ lines("suite_iter.txt")
    val all = graft.SparkEntry.queries.keySet
    (all -- listed).toSeq.sorted.map(q => s"$q is in neither suite list") ++
      listed.groupBy(identity).collect { case (q, n) if n.size > 1 => s"$q is listed twice" } ++
      (listed.toSet -- all).toSeq.sorted.map(q => s"$q is listed but is no SparkEntry query")
  }

  import Suite.QueryRun

  def run(): Main.Outcome = {
    val problems = membershipProblems()
    problems.foreach(p => System.err.println(s"[perfbench] membership: $p"))
    val measured = lines(s"$workload.measured.txt")
    val queries = graft.SparkEntry.queries
    val families = Families.consumedBy(measured)
    Harness.mark("membership checked")
    val (spark, tracer, setup) =
      Setup.run(args, families.map(f => f.name -> f.prewarm), dataDir)
    val prewarmCacheMb = Harness.cachedMb(spark)

    val rnd = new scala.util.Random(args.seed)
    var measuredSec = 0.0
    // failed operations; a broken membership list counts as one, op 0
    val failed = scala.collection.mutable.Set.empty[Long]
    if (problems.nonEmpty) failed += 0L
    var op = 100L
    val runs = scala.collection.mutable.ArrayBuffer.empty[QueryRun]
    var pass = 0
    def traced(p: Int): Boolean = tracer.isDefined && p % 2 == 0
    while (pass <= Suite.WarmPasses || measuredSec < args.seconds) {
      val isTraced = traced(pass)
      rnd.shuffle(measured).foreach { name =>
        op += 1
        val t = Tracing(tracer.filter(_ => isTraced), op)
        val t0 = System.nanoTime()
        val df = try {
          val d = t.span("build", name)(queries(name)(spark, dataDir))
          t.span("plan", name)(d.queryExecution.executedPlan)
          t.span("exec", name)(d.write.format("noop").mode("overwrite").save())
          Some(d)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e")
            None
        }
        val wall = Harness.seconds(t0)
        measuredSec += wall
        runs += QueryRun(name, op, pass, isTraced, wall)
        df match {
          case None => failed += op
          case Some(d) if pass == 0 =>
            val key = s"${Suite.Scale}/$name"
            val got = try Fingerprint.of(d) catch { case e: Throwable => s"error: $e" }
            if (!expected.get(key).contains(got)) {
              System.err.println(s"[perfbench] $key fingerprint $got, expected ${expected.get(key)}")
              failed += op
            }
          case _ =>
        }
        t.span("drain", name)(t.note("leases", graft.ops.Caches.drain()))
      }
      System.err.println(s"[perfbench] pass $pass " +
        runs.filter(_.pass == pass).sortBy(_.name).map(r => f"${r.name}=${r.wall}%.4f").mkString(" "))
      pass += 1
    }
    val all = runs.toSeq
    val attempted = all.size.toLong + (if (problems.nonEmpty) 1 else 0)
    val warm = all.filter(_.pass > 0)
    // a typical warm pass: each query at its median over the warm passes
    def typicalPass(rs: Seq[QueryRun]): Double =
      rs.groupBy(_.name).values.map(q => Harness.median(q.map(_.wall))).sum
    val values = tracer match {
      case None => Map(
        "setup_s" -> setup.seconds,
        "first_pass_s" -> all.filter(_.pass == 0).map(_.wall).sum,
        "pass_s" -> typicalPass(warm.filter(_.pass <= Suite.WarmPasses)),
        "ok_frac" -> (1.0 - failed.size.toDouble / attempted))
      case Some(tr) =>
        tr.settle()
        val tracedWarm = warm.filter(_.traced)
        val layer = new LayerSums(tr, tracedWarm.map(_.op), tracedWarm.map(_.pass).distinct.size)
        def exec(f: SpanCounters => Long): Double = layer.sum("exec")(f)
        val execS = layer.seconds("exec")
        val execJobs = exec(_.jobs.get)
        Setup.prewarmMetrics(tr, setup, prewarmCacheMb) ++ Map(
          "queries.build_s" -> layer.seconds("build"),
          "queries.build_jobs" -> layer.sum("build")(_.jobs.get),
          "queries.query_p50_s" -> Harness.median(warm.map(_.wall)),
          "queries.query_p90_s" -> Harness.quantile(warm.map(_.wall), 0.9),
          "plans.plan_s" -> layer.seconds("plan"),
          "exec.exec_s" -> execS,
          "exec.jobs" -> execJobs,
          "exec.stages" -> exec(_.stages.get),
          "exec.tasks" -> exec(_.tasks.get),
          "exec.s_per_job" -> (if (execJobs > 0) execS / execJobs else 0.0),
          "exec.task_cpu_s" -> exec(_.taskCpuNs.get) / 1e9,
          "exec.shuffle_write_mb" -> exec(_.shuffleWrite.get) / 1e6,
          "exec.shuffle_read_mb" -> exec(_.shuffleRead.get) / 1e6,
          "exec.spill_mb" -> exec(_.spill.get) / 1e6,
          "exec.gc_s" -> exec(_.gcMs.get) / 1e3,
          "caches.leases_released" -> layer.noted("leases"),
          "caches.cache_mb" -> Harness.cachedMb(spark),
          "trace.overhead_s" -> (typicalPass(tracedWarm) - typicalPass(warm.filterNot(_.traced))))
    }
    Harness.mark("measured")
    tracer.foreach(_.writeSpans(args.work.resolve(s"trace-$workload-${args.seed}.jsonl")))
    spark.stop()
    Harness.mark("stopped")
    Main.Outcome(attempted, failed.size.toLong, values)
  }
}

object Suite {
  private final case class QueryRun(name: String, op: Long, pass: Int, traced: Boolean,
      wall: Double)

  /** Warm passes every run makes and `pass_s` summarises: a fixed window,
    * so a fast run's extra, warmer passes do not pull its median down. */
  val WarmPasses = 3

  /** The committed tables both suites read. */
  val Scale = "sf0.01"
}
