package graft.etl

import graft.SparkSpec
import java.nio.file.Files

/** Full orchestration: staged workbooks in, modelling tables out
  * (reference src/main.py:378-422 end-to-end). */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  test("run: dispatches by prefix, loads both tables, skips unknown files") {
    val staging = Files.createTempDirectory("graft-staging")
    val out = Files.createTempDirectory("graft-tables").toString

    val indexHeader = Schemas.rawIndexSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("Index_2018.csv"),
      (1 to 10).map(i => s"preamble $i").mkString("\n") + "\n" +
        indexHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,\n" +
        "Cancer Alliance,WY,E56000014,Lung,Persons,All ages,Age-standardised,2018,1,50,55.0,54.0,56.0,1.0,0.5,\n")

    val adultHeader = Schemas.rawAdultSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("adult_survival_2017_2021.csv"),
      (1 to 9).map(i => s"preamble $i").mkString("\n") + "\n" +
        adultHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,Age-standardised (5 age groups),1,100,71.0,72.0\n" +
        "Country,England,E92000001,Breast,Female,Age-standardised (5 age groups),1,999,75.0,76.0\n")

    Files.writeString(staging.resolve("readme.txt"), "not a workbook")

    val results = Runner.run(spark, staging.toString, out)
    assert(results.map(_.kind).sorted === Seq("adult4", "index"))

    val index = spark.read.parquet(s"$out/INDEX")
    assert(index.columns.contains("_TIMESTAMP"))
    assert(index.count() === 2)
    assert(index.filter($"GENDER" === "Persons" && $"CANCER_SITE" === "Breast").count() === 1)

    val adult = spark.read.parquet(s"$out/ADULT_4")
    // 2 rows + England breast dup = 3, ×2 metrics = 6
    assert(adult.count() === 6)
    assert(adult.select("DATE_DIAGNOSIS_WINDOW").distinct().as[String].collect().toSeq === Seq("2017-2021"))
    // CSV path has no Notes sheet → snapshot NULL (reference's warning path)
    assert(adult.filter($"DATE_SNAPSHOT".isNotNull).count() === 0)

    // reporting views run straight off the loaded tables
    assert(Views.reportingIndex(index.drop("_TIMESTAMP")).count() > 0)
    assert(Views.benchmarkingStandards(adult.drop("_TIMESTAMP")).count() > 0)
  }

  test("run: ManifestPointer mode publishes both tables as atomic generations") {
    val staging = Files.createTempDirectory("graft-staging-m")
    val out = Files.createTempDirectory("graft-tables-m").toString
    val indexHeader = Schemas.rawIndexSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("Index_2018.csv"),
      (1 to 10).map(i => s"preamble $i").mkString("\n") + "\n" +
        indexHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,\n")
    val adultHeader = Schemas.rawAdultSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("adult_survival_2017_2021.csv"),
      (1 to 9).map(i => s"preamble $i").mkString("\n") + "\n" +
        adultHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,Age-standardised (5 age groups),1,100,71.0,72.0\n")

    val results = Runner.run(spark, staging.toString, out,
      sinkMode = Runner.ManifestPointer)
    assert(results.map(_.kind).sorted === Seq("adult4", "index"))
    // the table roots are manifest tables, not bare parquet dirs
    val index = Sink.Manifest.read(spark, s"$out/INDEX")
    assert(index.columns.contains("_TIMESTAMP"))
    assert(index.count() === results.find(_.kind == "index").get.rows)
    // a re-run lands as the next generation; readers of the old one survive
    val preSwap = index.cache(); preSwap.count()
    Runner.run(spark, staging.toString, out, sinkMode = Runner.ManifestPointer)
    assert(Sink.Manifest.read(spark, s"$out/INDEX").count() === index.count())
    assert(preSwap.count() > 0)
    preSwap.unpersist()
  }

  test("run: env-driven destinations rename the sink tables (dev_ prefix switch)") {
    val staging = Files.createTempDirectory("graft-staging-dest")
    val out = Files.createTempDirectory("graft-tables-dest").toString
    val indexHeader = Schemas.rawIndexSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("Index_2018.csv"),
      (1 to 10).map(i => s"preamble $i").mkString("\n") + "\n" +
        indexHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,\n")
    val dests = Runner.Destinations.fromEnv(
      Map("GRAFT_DEST_INDEX" -> "dev_INDEX"))   // ADULT_4 stays default
    assert(dests === Runner.Destinations("dev_INDEX", "ADULT_4"))
    val results = Runner.run(spark, staging.toString, out, destinations = dests)
    assert(results.map(_.table) === Seq(s"$out/dev_INDEX"))
    // the Breast/Female/All-ages row is REPLACED by its Persons copy → 1 row
    assert(spark.read.parquet(s"$out/dev_INDEX").count() === 1)
    assert(!new java.io.File(s"$out/INDEX").exists())
  }

  test("run: xlsx adult workbook parses Table 4 AND the Notes snapshot (row 12 cell)") {
    val staging = Files.createTempDirectory("graft-staging-xlsx")
    val out = Files.createTempDirectory("graft-tables-xlsx").toString
    import TestWorkbook.row
    TestWorkbook.workbook(
      "Table 4" -> ((1 to 9).map(i => row(s"preamble $i")) ++ Seq(
        row(Schemas.rawAdultSheet.fieldNames.toSeq: _*),
        row("Cancer Alliance", "NCL", "E56000027", "Breast", "Female",
          "Age-standardised (5 age groups)", "1", "100", "71.0", "72.0"))),
      "Notes and definitions" -> ((1 to 10).map(i => row(s"notes preamble $i")) ++ Seq(
        row("Methodology"), // header row under skiprows=10
        row("Figures are based on data extracted in December 2023 snapshot"))))(
      staging.resolve("adult_cancer_survival_2017_2021.xlsx"))

    val results = Runner.run(spark, staging.toString, out)
    assert(results.map(_.kind) === Seq("adult4"))
    val adult = spark.read.parquet(s"$out/ADULT_4")
    assert(adult.select("DATE_SNAPSHOT").distinct().as[String].collect().toSeq === Seq("December 2023"))
    assert(adult.select("DATE_DIAGNOSIS_WINDOW").distinct().as[String].collect().toSeq === Seq("2017-2021"))
    assert(adult.count() === 2) // 1 row × 2 metrics (no England rows to generalise)
  }

  test("run: every LoadResult.rows equals a direct count of the published table, both sink modes, twice") {
    val staging = Files.createTempDirectory("graft-staging-counts")
    val indexHeader = Schemas.rawIndexSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("Index_2018.csv"),
      (1 to 10).map(i => s"preamble $i").mkString("\n") + "\n" +
        indexHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,\n" +
        "Cancer Alliance,WY,E56000014,Lung,Persons,All ages,Age-standardised,2018,1,50,55.0,54.0,56.0,1.0,0.5,\n" +
        "Sub-ICB,Islington,E38000088,Lung,Persons,All ages,Age-standardised,2018,1,10,40.0,39.0,41.0,1.0,0.5,\n")
    val adultHeader = Schemas.rawAdultSheet.fieldNames.mkString(",")
    Files.writeString(staging.resolve("adult_survival_2017_2021.csv"),
      (1 to 9).map(i => s"preamble $i").mkString("\n") + "\n" +
        adultHeader + "\n" +
        "Cancer Alliance,NCL,E56000027,Prostate,Male,Age-standardised (5 age groups),1,100,71.0,72.0\n" +
        "Country,England,E92000001,Breast,Female,Age-standardised (5 age groups),1,999,75.0,76.0\n")
    for ((mode, read) <- Seq[(Runner.SinkMode, String => Long)](
        Runner.StagedOverwrite -> (t => spark.read.parquet(t).count()),
        Runner.ManifestPointer -> (t => Sink.Manifest.read(spark, t).count()))) {
      val out = Files.createTempDirectory("graft-tables-counts").toString
      // the second run on the same session reuses every observation name
      for (_ <- 1 to 2) {
        val results = Runner.run(spark, staging.toString, out, sinkMode = mode)
        assert(results.map(r => r.kind -> r.rows).sorted === Seq("adult4" -> 8L, "index" -> 2L))
        results.foreach(r => assert(r.rows === read(r.table), s"$mode ${r.table}"))
      }
    }
  }

  test("run: a sheet with no data rows publishes an observed count of 0") {
    val staging = Files.createTempDirectory("graft-staging-empty")
    val out = Files.createTempDirectory("graft-tables-empty").toString
    Files.writeString(staging.resolve("Index_2018.csv"),
      (1 to 10).map(i => s"preamble $i").mkString("\n") + "\n" +
        Schemas.rawIndexSheet.fieldNames.mkString(",") + "\n")
    val results = Runner.run(spark, staging.toString, out)
    assert(results.map(_.rows) === Seq(0L))
    assert(spark.read.parquet(s"$out/INDEX").count() === 0)
  }
}
