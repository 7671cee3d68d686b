package graft.etl

import org.apache.spark.sql.SparkSession

/** Batch orchestration — the engine's equivalent of the reference's
  * `main()` (reference src/main.py:378-422): enumerate the staging
  * directory, dispatch each workbook on its filename prefix, run the
  * matching pipeline with its filename/notes-derived stamps, and
  * atomically (over)write the two modelling tables. One Spark job per
  * table: each workbook stages as one typed scan, its pipeline stays one
  * lazy plan over it, and the published row count is observed on the sink
  * write instead of read back.
  */
object Runner {

  final case class LoadResult(file: String, kind: String, table: String, rows: Long)

  /** Destination table names — the reference resolves these from env vars
    * (src/main.py:214-217 DATABASE/SCHEMA/DESTINATION_INDEX, with a `dev_`
    * prefix switching deployments) instead of hardcoding. */
  final case class Destinations(index: String = "INDEX", adult4: String = "ADULT_4")

  object Destinations {
    /** Env-driven resolution, reference-style: GRAFT_DEST_INDEX /
      * GRAFT_DEST_ADULT4 override the defaults (injectable map for tests). */
    def fromEnv(env: Map[String, String] = sys.env): Destinations =
      Destinations(
        index = env.getOrElse("GRAFT_DEST_INDEX", "INDEX"),
        adult4 = env.getOrElse("GRAFT_DEST_ADULT4", "ADULT_4"))
  }

  /** How table writes land. [[StagedOverwrite]] is the reference's
    * truncate-replace ([[Sink.overwriteTable]]); [[ManifestPointer]]
    * publishes through [[Sink.Manifest]] generations — the same rows plus
    * the `_TIMESTAMP` stamp, but with an atomic pointer swap so dashboard
    * readers never hit a mid-load table. */
  sealed trait SinkMode
  case object StagedOverwrite extends SinkMode
  case object ManifestPointer extends SinkMode

  /** @param stagingDir directory of staged workbooks (post-scrape state;
    *        reference ./data, src/main.py:390-393)
    * @param outDir root for the INDEX / ADULT_4 parquet tables
    * @param targetGeographies core areas (reference src/main.py:397)
    * @param destinations table names under outDir (reference
    *        src/main.py:214-217 env-driven destination switch)
    */
  def run(
      spark: SparkSession,
      stagingDir: String,
      outDir: String,
      targetGeographies: Seq[String] = Schemas.defaultTargetGeographies,
      destinations: Destinations = Destinations(),
      sinkMode: SinkMode = StagedOverwrite): Seq[LoadResult] = {
    def publish(df: org.apache.spark.sql.DataFrame, dest: String): Long = {
      val (observed, rows) = graft.ops.Metrics.audited(df, s"published:$dest", Nil)
      sinkMode match {
        case StagedOverwrite => Sink.overwriteTable(observed, dest)
        case ManifestPointer =>
          Sink.Manifest.overwrite(spark, dest,
            observed.withColumn("_TIMESTAMP", org.apache.spark.sql.functions.current_timestamp()))
      }
      rows.get("n_rows").asInstanceOf[Long]
    }
    Ingest.listStaged(stagingDir).flatMap { path =>
      val name = path.getFileName.toString
      Ingest.dispatch(name) match {
        case Ingest.IndexFile =>
          val raw =
            if (name.endsWith(".xlsx"))
              Staging.readXlsxSheet(spark, path.toString, "Table 5", Schemas.rawIndexSheet, skipRows = 10)
            else
              Staging.readSheet(spark, path.toString, Schemas.rawIndexSheet, skipRows = 10)
          val out = IndexPipeline(raw, targetGeographies)
          val dest = s"$outDir/${destinations.index}"
          Some(LoadResult(name, "index", dest, publish(out, dest)))

        case Ingest.AdultFile =>
          // reference src/main.py:80-84: skiprows=10 makes sheet row 11 the
          // HEADER, so iloc[0,0] is the first cell of row 12 → drop 11 here
          val snapshot =
            if (name.endsWith(".xlsx"))
              scala.util.Try(
                Xlsx.readSheet(path.toString, "Notes and definitions")
                  .drop(11).headOption.flatMap(_.headOption.flatten))
                .toOption.flatten.flatMap(Ingest.snapshotDate)
            else None
          val raw =
            if (name.endsWith(".xlsx"))
              Staging.readXlsxSheet(spark, path.toString, "Table 4", Schemas.rawAdultSheet, skipRows = 9)
            else
              Staging.readSheet(spark, path.toString, Schemas.rawAdultSheet, skipRows = 9)
          val out = Adult4Pipeline(raw, targetGeographies, Ingest.diagnosisWindow(name), snapshot)
          val dest = s"$outDir/${destinations.adult4}"
          Some(LoadResult(name, "adult4", dest, publish(out, dest)))

        case Ingest.UnknownFile => None
      }
    }
  }
}
