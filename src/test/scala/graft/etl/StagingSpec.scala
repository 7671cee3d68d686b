package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

class StagingSpec extends SparkSpec {
  import spark.implicits._

  test("readSheet skips the preamble and parses header + declared schema (S1)") {
    val f = Files.createTempFile("sheet", ".csv")
    Files.writeString(f,
      """Cancer Survival in England
        |Publication preamble line 2
        |,,,
        |Geography type,Geography name,Geography code,Cancer site,Gender,Age at diagnosis,Standardisation type,Diagnosis year,Years since diagnosis,Patient numbers,Survival (%),Lower CI,Upper CI,Precision,Standard error,Substituted by Other Geography
        |Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,
        |Country,England,E92000001,Lung,Persons,All ages,Age-standardised,2018,1,999,60.0,59.0,61.0,1.0,0.5,E11111111
        |""".stripMargin)
    val df = Staging.readSheet(spark, f.toString, Schemas.rawIndexSheet, skipRows = 3)
    assert(df.count() === 2)
    assert(df.schema === Schemas.rawIndexSheet)
    val ncl = df.filter($"Geography code" === "E56000027").head()
    assert(ncl.getAs[Double]("Survival (%)") === 71.5)
    assert(ncl.isNullAt(ncl.fieldIndex("Substituted by Other Geography"))) // empty → null
    // staged sheet feeds the real pipeline end-to-end
    val out = IndexPipeline(df, Schemas.defaultTargetGeographies)
    assert(out.count() === 2)
    assert(out.filter($"CANCER_SITE" === "Breast" && $"GENDER" === "Persons").count() === 1)
  }

  test("staged adult sheet (skiprows=9) → Adult4Pipeline → benchmarkingRank chain") {
    val f = Files.createTempFile("adult", ".csv")
    val preamble = (1 to 9).map(i => s"preamble $i").mkString("\n")
    Files.writeString(f,
      s"""$preamble
         |Geography type,Geography name,Geography code,Cancer site,Gender,Standardisation type,Years since diagnosis,Patients,Net survival (%),Overall survival (%)
         |Cancer Alliance,NCL,E56000027,Breast,Female,Age-standardised (5 age groups),1,100,71.0,72.0
         |Cancer Alliance,WY,E56000014,Breast,Female,Age-standardised (5 age groups),1,90,81.0,82.0
         |Cancer Alliance,HNY,E56000015,Breast,Female,Age-standardised (5 age groups),1,80,61.0,
         |Country,England,E92000001,Breast,Female,Age-standardised (5 age groups),1,999,75.0,76.0
         |""".stripMargin)
    val raw = Staging.readSheet(spark, f.toString, Schemas.rawAdultSheet, skipRows = 9)
    assert(raw.count() === 4)
    val a4 = Adult4Pipeline(raw, Schemas.defaultTargetGeographies, "2017-2021", Some("December 2023"))
    // 4 rows + England Breast/Female dup = 5, ×2 metrics = 10
    assert(a4.count() === 10)
    val rank = Views.benchmarkingRank(a4)
    val row = rank.head()
    assert(row.getAs[Long]("RANK_BASE") === 3L)
    assert(row.getAs[Long]("RANK_CA") === 2L) // 81 > 71 > 61
    assert(row.getAs[String]("NCL_QUARTILE") === "-") // cohort < 4
  }

  private def workbook(rows: TestWorkbook.Rows): Path = TestWorkbook.workbook("S" -> rows)()

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === b.schema)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted
    assert(rows(a) === rows(b))
  }

  test("readXlsxSheet equals readSheet on the same rows staged as CSV") {
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("year", LongType),
      StructField("pct", DoubleType), StructField("note", StringType)))
    def row(cells: String*) = cells.map(c => Option(c).filter(_.nonEmpty))
    val header = row("name", "year", "pct", "note")
    val sheet = Seq(
      row("Cancer Survival in England"),
      row(),
      header,
      row("plain", "2017", "71.5", "kept"),
      row(),                                        // blank row
      Seq(Some("   ")),                             // all-space row
      header,                                       // data row identical to the header
      row("decimal year", "2017.0", "1.0", ""),     // unparsable long → null
      row("text year", "abc", "2.5", "x"),
      row("nan", "2018", "NaN", "y"),               // NaN in a double column
      row("infs", "2019", "Inf", "z"),
      row("neg inf", "2020", "-Inf", ""),
      row("bad double", "2021", "n/a", ""),
      row("short", "2022"),                         // shorter than the schema
      row("Cancer, other", "2023", "3.0", "a, b"),  // quoted commas
      Seq(None, Some("5"), None, Some(" padded ")), // empty leading cell, spaces kept
      row(" "),                                     // single-space first cell
      row("   spaced", " 7", " 8.5 ", ""),
      row("long row", "2024", "4.0", "n", "extra"), // longer than the schema
      row("quoted", "2025", "5.0", "say \"hi\""),     // RFC-4180 doubled quotes in CSV
      Seq(Some("\t")))                              // tab is not blank to the CSV reader
    val xlsx = workbook(sheet)
    val csv = Files.createTempFile("graft-staging", ".csv")
    Files.writeString(csv, Xlsx.toCsvLines(Xlsx.readSheet(xlsx.toString, "S")).mkString("\n") + "\n")

    val typed = Staging.readXlsxSheet(spark, xlsx.toString, "S", schema, skipRows = 2)
    sameRows(typed, Staging.readSheet(spark, csv.toString, schema, skipRows = 2))
    val byName = typed.collect().map(r => r.getString(0) -> r).toMap
    assert(byName("decimal year").isNullAt(1) && byName("text year").isNullAt(1))
    assert(byName("nan").getDouble(2).isNaN)
    assert(byName("short").isNullAt(2) && byName("short").isNullAt(3))
    assert(byName("Cancer, other").getString(3) === "a, b")
    assert(!byName.contains("name"), "rows equal to the header are dropped")
    assert(byName("quoted").getString(3) === "say \"hi\"")
  }

  test("readXlsxSheet keeps embedded double quotes verbatim") {
    // typed staging returns the cell as pandas' read_excel does
    val schema = StructType(Seq(StructField("name", StringType)))
    val xlsx = workbook(Seq(Seq(Some("name")), Seq(Some("say \"hi\""))))
    val typed = Staging.readXlsxSheet(spark, xlsx.toString, "S", schema, skipRows = 0)
    assert(typed.collect().map(_.getString(0)).toSeq === Seq("say \"hi\""))
  }
}
