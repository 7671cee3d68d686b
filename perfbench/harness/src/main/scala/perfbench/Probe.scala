package perfbench

import java.nio.file.{Files, Paths}

/** Maintenance tool, not part of a timed run: prewarms every family, then
  * runs each `SparkEntry` query once and writes one TSV row per query —
  * build seconds and the jobs its construction launched (the suite
  * membership rule), plan and exec seconds, exec jobs and the output
  * fingerprint. With a dump directory it also writes each result as parquet
  * plus `oracle_sql.json`, the layout `scripts/check.py` compares against
  * DuckDB, so recorded fingerprints come from an oracle-checked run.
  *
  * Usage: Probe <sfDir> <out.tsv> [dumpDir]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = Paths.get(args(1))
    val dump = args.lift(2)
    val work = Paths.get(sys.env.getOrElse("PERFBENCH_WORK", "perfbench/.work")).resolve("probe")
    val spark = Harness.session(work)
    val tracer = new Tracer(spark.sparkContext, Nil)
    spark.sparkContext.addSparkListener(tracer)
    val rows = Seq.newBuilder[String]
    rows += "# query\tfamily\tbuild_s\tbuild_jobs\tplan_s\texec_s\texec_jobs\tfingerprint"
    Families.all.zipWithIndex.foreach { case (f, i) =>
      val t0 = System.nanoTime()
      tracer.span(i.toLong, "prewarm", f.name)(f.prewarm(spark, sfDir))
      tracer.settle()
      System.err.println(f"[probe] prewarm ${f.name} ${Harness.seconds(t0)}%.2f s " +
        s"${tracer.counter(Tracer.key(i.toLong, "prewarm")).jobs.get} jobs")
    }
    graft.SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((name, fn), i) =>
      val op = 1000L + i
      val family = Families.all.find(_.queries(name)).map(_.name).getOrElse("-")
      val row = try {
        val t0 = System.nanoTime()
        val df = tracer.span(op, "build", name)(fn(spark, sfDir))
        val build = Harness.seconds(t0)
        val t1 = System.nanoTime()
        tracer.span(op, "plan", name)(df.queryExecution.executedPlan)
        val plan = Harness.seconds(t1)
        val t2 = System.nanoTime()
        tracer.span(op, "exec", name)(df.write.format("noop").mode("overwrite").save())
        val exec = Harness.seconds(t2)
        val fp = Fingerprint.of(df)
        dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
        tracer.settle()
        val bj = tracer.counter(Tracer.key(op, "build")).jobs.get
        val ej = tracer.counter(Tracer.key(op, "exec")).jobs.get
        f"$name\t$family\t$build%.4f\t$bj\t$plan%.4f\t$exec%.4f\t$ej\t$fp"
      } catch {
        case e: Throwable =>
          System.err.println(s"[probe] $name FAILED: $e")
          s"$name\t$family\tFAILED"
      } finally graft.ops.Caches.drain()
      System.err.println(s"[probe] $row")
      rows += row
    }
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.writeString(out, rows.result().mkString("", "\n", "\n"))
    dump.foreach { d =>
      val json = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => Json.str(k) + ": " + Json.str(v) }.mkString("{", ",\n", "}")
      Files.writeString(Paths.get(d, "oracle_sql.json"), json)
    }
    spark.stop()
  }
}
