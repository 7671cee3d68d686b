package perfbench

import org.apache.spark.sql.DataFrame

/** `etl_release`: the reference's own job, cycle after cycle on one
  * session until the measured time reaches `--seconds`, and for at least
  * [[Release.WarmCycles]] warm cycles. A cycle loads a
  * staged release through `etl.Runner.run` into INDEX and ADULT_4, then
  * computes the ten `etl.Views` over the published tables (build, plan,
  * noop-sink exec each). Cycle 0 runs cold, right after set-up. Outside the
  * timed window every cycle checks the published row counts against the
  * generator's, and the cold cycle checks the fingerprints of both tables
  * and all ten views.
  */
final class Release(args: Main.Args, expected: Map[String, String]) {
  import Release._

  def run(): Main.Outcome = {
    val release = ReleaseGen.write(args.work.resolve("release/staging"), args.seed)
    val outDir = args.work.resolve("release/published").toString
    val (spark, tracer, setup) = Setup.run(args, Nil, "")

    var measuredSec = 0.0
    var attempted = 0L
    val failed = scala.collection.mutable.Set.empty[Long]
    var op = 100L
    final case class Cycle(n: Int, traced: Boolean, load: Double, views: Seq[Double],
        ops: Seq[Long]) {
      def wall: Double = load + views.sum
    }
    val cycles = Seq.newBuilder[Cycle]
    var n = 0
    while (n <= WarmCycles || measuredSec < args.seconds) {
      val isTraced = tracer.isDefined && n % 2 == 0
      val tr = tracer.filter(_ => isTraced)
      val ops = Seq.newBuilder[Long]
      op += 1
      ops += op
      attempted += 1
      val loadOp = op
      val load = Tracing(tr, op)
      val t0 = System.nanoTime()
      val loaded = try {
        Some(load.span("runner", "Runner.run")(graft.etl.Runner.run(spark, release.dir.toString, outDir)))
      } catch {
        case e: Throwable => System.err.println(s"[perfbench] Runner.run failed: $e"); None
      }
      val loadSec = Harness.seconds(t0)
      loaded match {
        case Some(results) =>
          val rows = results.map(r => r.kind -> r.rows).toMap
          load.note("published_rows", results.map(_.rows).sum.toDouble)
          if (rows != Map("index" -> release.indexRows, "adult4" -> release.adultRows)) {
            System.err.println(s"[perfbench] published rows $rows, expected index " +
              s"${release.indexRows} and adult4 ${release.adultRows}")
            failed += loadOp
          }
        case None => failed += loadOp
      }
      if (tr.isDefined) load.span("xlsx", "Xlsx.readSheet") {
        Seq(ReleaseGen.IndexFile -> "Table 5", ReleaseGen.AdultFile -> "Table 4",
          ReleaseGen.AdultFile -> "Notes and definitions").foreach { case (f, sheet) =>
          graft.etl.Xlsx.readSheet(release.dir.resolve(f).toString, sheet)
        }
      }
      val index = spark.read.parquet(s"$outDir/INDEX").drop("_TIMESTAMP")
      val adult4 = spark.read.parquet(s"$outDir/ADULT_4").drop("_TIMESTAMP")
      val frames = Seq.newBuilder[(String, Long, DataFrame)]
      val viewSecs = views.map { case (name, view) =>
        op += 1
        ops += op
        attempted += 1
        val t = Tracing(tr, op)
        val tv = System.nanoTime()
        try {
          val df = t.span("view_build", name)(view(index, adult4))
          t.span("view_plan", name)(df.queryExecution.executedPlan)
          t.span("view_exec", name)(df.write.format("noop").mode("overwrite").save())
          frames += ((name, op, df))
        } catch {
          case e: Throwable => System.err.println(s"[perfbench] view $name failed: $e"); failed += op
        }
        Harness.seconds(tv)
      }
      measuredSec += loadSec + viewSecs.sum
      cycles += Cycle(n, isTraced, loadSec, viewSecs, ops.result())
      // fingerprints on the first cycle, outside the timed window
      if (n == 0) {
        val outputs = Seq(("INDEX", loadOp, index), ("ADULT_4", loadOp, adult4)) ++ frames.result()
        outputs.foreach { case (name, owner, df) =>
          val key = s"etl_release/$name"
          val got = try Fingerprint.of(df) catch { case e: Throwable => s"error: $e" }
          if (!expected.get(key).contains(got)) {
            System.err.println(s"[perfbench] $key fingerprint $got, expected ${expected.get(key)}")
            failed += owner
          }
        }
      }
      load.note("leases", graft.ops.Caches.drain())
      System.err.println(f"[perfbench] cycle $n load=$loadSec%.4f " +
        views.map(_._1).zip(viewSecs).map { case (v, t) => f"$v=$t%.4f" }.mkString(" "))
      n += 1
    }
    val all = cycles.result()
    val warm = all.filter(_.n > 0)
    // a typical warm cycle: the load and each view at its median over the
    // warm cycles
    def typicalCycle(cs: Seq[Cycle]): Double =
      Harness.median(cs.map(_.load)) + views.indices.map(i => Harness.median(cs.map(_.views(i)))).sum
    val values = tracer match {
      case None => Map(
        "setup_s" -> setup.seconds,
        "first_pass_s" -> all.head.wall,
        "pass_s" -> typicalCycle(warm.filter(_.n <= WarmCycles)),
        "ok_frac" -> (1.0 - failed.size.toDouble / attempted))
      case Some(tr) =>
        tr.settle()
        val tracedWarm = warm.filter(_.traced)
        val sums = new LayerSums(tr, tracedWarm.flatMap(_.ops), tracedWarm.size)
        val sinkRows = sums.sum("runner@Sink.scala")(_.recordsWritten.get)
        // the read-back is a count(), which the listener sees as jobs but not
        // as rows read; the rows it re-read are the counts Runner returned
        val readbackJobs = sums.sum("runner@Runner.scala")(_.jobs.get)
        val readRows = if (readbackJobs > 0) sums.noted("published_rows") else 0.0
        Map(
          "caches.leases_released" -> sums.noted("leases"),
          "caches.cache_mb" -> Harness.cachedMb(spark),
          "etl.load_s" -> Harness.median(tracedWarm.map(_.load)),
          "etl.report_s" -> Harness.median(tracedWarm.map(_.views.sum)),
          "etl.xlsx_parse_s" -> sums.seconds("xlsx"),
          "etl.runner_jobs" -> sums.sum("runner")(_.jobs.get),
          "etl.sink_write_s" -> sums.jobSeconds("runner@Sink.scala"),
          "etl.sink_rows_written" -> sinkRows,
          "etl.readback_jobs" -> readbackJobs,
          "etl.readback_rows" -> readRows,
          "etl.readback_ratio" -> (if (sinkRows > 0) readRows / sinkRows else 0.0),
          "etl.views_plan_s" -> sums.seconds("view_plan"),
          "etl.views_exec_s" -> sums.seconds("view_exec"),
          "etl.views_jobs" -> sums.sum("view_exec")(_.jobs.get),
          "trace.overhead_s" -> (typicalCycle(tracedWarm) - typicalCycle(warm.filterNot(_.traced))))
    }
    Harness.mark("measured")
    tracer.foreach(_.writeSpans(args.work.resolve(s"trace-etl_release-${args.seed}.jsonl")))
    spark.stop()
    Harness.mark("stopped")
    Main.Outcome(attempted, failed.size.toLong, values)
  }
}

object Release {
  /** Warm cycles every run makes and `pass_s` summarises: a fixed window,
    * so a fast run's extra, warmer cycles do not pull its median down. */
  val WarmCycles = 3

  /** Source files whose stage call sites split a `Runner.run` span into
    * sink writes (`Sink.scala`) and the read-back count (`Runner.scala`). */
  val SplitFiles: Seq[String] = Seq("Sink.scala", "Runner.scala")

  /** The ten reporting views, each over the published INDEX and ADULT_4. */
  val views: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = {
    import graft.etl.Views
    Seq(
      "indexBestCa" -> ((i, _) => Views.indexBestCa(i)),
      "reportingIndex" -> ((i, _) => Views.reportingIndex(i)),
      "processedAdult4" -> ((_, a) => Views.processedAdult4(a)),
      "publishedAdult4" -> ((_, a) => Views.publishedAdult4(a)),
      "cancerAllianceComparison" -> ((_, a) => Views.cancerAllianceComparison(a)),
      "publishedCancerAllianceComparison" -> ((_, a) => Views.publishedCancerAllianceComparison(a)),
      "benchmarkingRank" -> ((_, a) => Views.benchmarkingRank(a)),
      "publishedBenchmarkingRank" -> ((_, a) => Views.publishedBenchmarkingRank(a)),
      "benchmarkingStandards" -> ((_, a) => Views.benchmarkingStandards(a)),
      "publishedBenchmarkingStandards" -> ((_, a) => Views.publishedBenchmarkingStandards(a)))
  }
}
