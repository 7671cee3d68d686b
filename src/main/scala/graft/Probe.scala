package graft

import org.apache.spark.sql.SparkSession

/** Diagnostics over [[Run]], one main with four modes:
  *
  *   - `time <query|set|q1,q2> [sfDir] [n]`: n runs per query (default 3),
  *     each with its build/plan/exec split and the full [[Trace]]. Plan is
  *     `executedPlan` forced before the sink, so it is timed here and
  *     nowhere else; exec is what remains of the sink.
  *   - `jobs <query> [sfDir]`: one warm run, then a traced run listing
  *     each job's wall, stage count and submitting call site (is a 21-job
  *     query 15 fixpoint rounds or 15 setup actions?).
  *   - `explain [sfDir] [query...]`: the formatted physical plan of the
  *     named queries (all by default, at sf0.001): do filters reach the
  *     scan, do dimension joins broadcast, do operators sit in codegen.
  *   - `tiers <set|q1,q2> [tierDir [tier100Dir]]`: run1 and warm wall per
  *     data tier, µs per row of the set's row table, and the warm growth
  *     factor per step. A well-shaped operator grows ~10× per 10× of data
  *     and its µs/row does not rise. Named tier dirs are generated (10 and
  *     100 copies) by [[TierGen.ensureAll]] first.
  *
  * Width is `SPARK_GRAFT_CPUS`, as for Bench and Verify; sfDir defaults to
  * the sf0.1 testdata.
  */
object Probe {
  /** A named query set; `rowTable` and `derived` say how `tiers` runs it:
    * over the shipped sf0.001 → sf0.1 testdata, or from sf0.1 up through
    * the derived tiers (default `derived/sf1`). */
  final case class QuerySet(
      queries: Seq[String], rowTable: String = "lineitem", derived: Boolean = false)

  val Sets: Map[String, QuerySet] = Map(
    "headline" -> QuerySet(Seq(
      "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_jaccard",
      "q_dedup_adversarial_bucket", "q_sim_adversarial_bucket",
      "q_graph_adversarial", "q_importance_hashgram", "q_sessionize_skew",
      "q_dedup_keep_best", "q_dedup_weighted_jaccard",
      "q_graph_sssp", "q_linkage_fs", "q_sim_maxsim",
      "q_er_golden", "q_er_incremental", "q_retrieval_mrr", "q_retrieval_mrr_fixed", "q_ppr_seed",
      "q_graph_scc_pivot", "q_graph_scc",
      "q_classify_nb", "q_sketch_hdr_quantile", "q_graph_landmarks",
      "q_sim_lsh_bucketed", "q_pack_chunks", "q_curation_ingest",
      "q_decontaminate", "q_rank_quartile", "q_text_ngram_profile",
      "q_sketch_bloom", "q_histogram_equidepth", "q_tfidf_topk",
      "q_scalar_subquery")),
    // documents-only: the derived tier has no part table, so the CC path
    // is q_dedup_components rather than q_entity_cluster
    "dedup" -> QuerySet(Seq(
      "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_jaccard",
      "q_dedup_ppjoin", "q_dedup_components"), "documents", derived = true),
    "er" -> QuerySet(Seq("q_snm_pairs", "q_linkage_fs", "q_er_golden", "q_er_incremental"),
      "customer", derived = true),
    // q_sim_topk is the brute-force recall oracle: it should grow
    // quadratically; the IVF/PQ rows build their quantizer under run1
    "sim" -> QuerySet(Seq(
      "q_sim_topk", "q_sim_lsh_bucketed", "q_sim_ivf", "q_sim_pq",
      "q_sim_ivfpq", "q_sim_maxsim", "q_dedup_embed_cosine", "q_semdedup"),
      "embeddings", derived = true),
    // shuffle-bearing queries, for `time`'s shuffle and spill columns
    "shuffle" -> QuerySet(Seq(
      "q_dedup_exact", "q_dedup_incremental", "q_dedup_minhash_lsh",
      "q_dedup_jaccard", "q_curation_ingest", "q_decontaminate",
      "q_pack_chunks", "q_rank_quartile", "q_pricing_summary",
      "q_sketch_bloom", "q_histogram_equidepth", "q_sim_lsh_bucketed")))

  private def setOf(arg: String): QuerySet =
    Sets.getOrElse(arg, QuerySet(arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq))

  private val testdata = new java.io.File(TierGen.base).getParent

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: String) = if (args.length > i) args(i) else default
    val spark = Sessions.build()
    spark.range(10).count() // session warm-up, billed to no run
    args.headOption match {
      case Some("time") => time(spark, setOf(args(1)).queries, arg(2, TierGen.base), arg(3, "3").toInt)
      case Some("jobs") => jobs(spark, args(1), arg(2, TierGen.base))
      case Some("explain") => explain(spark, arg(1, s"$testdata/sf0.001"), args.drop(2).toSet)
      case Some("tiers") => tiers(spark, setOf(args(1)), args.drop(2).toSeq)
      case _ => System.err.println("usage: graft.Probe time|jobs|explain|tiers … (see scaladoc)")
    }
    spark.stop()
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  private def time(spark: SparkSession, names: Seq[String], sfDir: String, n: Int): Unit =
    for (name <- names; i <- 1 to n) {
      var planS = 0.0
      val t = Run(spark)(SparkEntry.queries(name)(spark, sfDir), { df =>
        val p0 = System.nanoTime()
        df.queryExecution.executedPlan // analyze + optimize + physical planning
        planS = (System.nanoTime() - p0) / 1e9
        Run.noop(df)
      })
      println(f"RUN$i%d $name wall=${t.wallS}%.3f s build=${t.buildS}%.3f plan=$planS%.3f " +
        f"exec=${t.execS - planS}%.3f jobs=${t.jobs}%d stages=${t.stages}%d tasks=${t.tasks}%d " +
        f"task_cpu=${t.taskCpuMs / 1e3}%.2f s executor_run=${t.executorRunMs / 1e3}%.2f s " +
        f"gc_ms=${t.gcMs}%d cpu_ms=${t.cpuMs}%d shuffle_w=${mb(t.shuffleWriteBytes)}%.3f MB " +
        f"shuffle_r=${mb(t.shuffleReadBytes)}%.3f MB spill=${mb(t.spillBytes)}%.3f MB " +
        f"leases=${t.leases}%d" + t.failure.fold("")(e => s" FAILED: ${e.getMessage}"))
    }

  private def jobs(spark: SparkSession, name: String, sfDir: String): Unit = {
    Run(spark)(SparkEntry.queries(name)(spark, sfDir)) // warm: memos and caches build
    val meter = Run.meter(spark)
    meter.jobLog.clear()
    meter.recordJobs = true
    val t = Run(spark)(SparkEntry.queries(name)(spark, sfDir))
    meter.recordJobs = false
    meter.jobLog.forEach(j =>
      println(f"JOB ${j.id}%3d ${j.seconds}%6.3f s stages=${j.stages}%2d  ${j.callSite}"))
    println(f"TOTAL ${t.wallS}%.2f s jobs=${t.jobs}%d" +
      t.failure.fold("")(e => s" FAILED: ${e.getMessage}"))
  }

  private def explain(spark: SparkSession, sfDir: String, names: Set[String]): Unit =
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names(name)) {
        println(s"\n========== $name ==========")
        try println(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
        finally graft.ops.Caches.drain()
      }
    }

  private def tiers(spark: SparkSession, set: QuerySet, tierArgs: Seq[String]): Unit = {
    val tierDirs = if (tierArgs.isEmpty && set.derived) Seq(TierGen.defaultTier) else tierArgs
    tierDirs.zipWithIndex.foreach { case (d, i) =>
      TierGen.ensureAll(spark, d, copies = math.pow(10, i + 1).toInt)
    }
    val bases = if (set.derived) Seq(TierGen.base)
      else Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"$testdata/$s")
    for (name <- set.queries) {
      var prev = Option.empty[Double]
      (bases ++ tierDirs).foreach { d =>
        val rows = spark.read.parquet(s"$d/${set.rowTable}.parquet").count()
        val Seq(run1, warm) = (1 to 2).map(_ => Run(spark)(SparkEntry.queries(name)(spark, d)))
        val factor = prev.map(p => f"${warm.wallS / p}%5.1fx").getOrElse("     ")
        println(f"PROBE $name%-28s ${d.split('/').last}%-16s run1 ${run1.wallS}%7.2f s  " +
          f"warm ${warm.wallS}%7.2f s  ${warm.wallS * 1e6 / rows}%7.1f us/row  $factor" +
          Seq(run1, warm).flatMap(_.failure).headOption.fold("")(e => s"  FAILED: ${e.getMessage}"))
        prev = Some(warm.wallS)
      }
    }
  }
}
