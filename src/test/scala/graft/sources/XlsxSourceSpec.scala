package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.etl.TestWorkbook
import graft.etl.TestWorkbook.row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The DSv2 xlsx source must read what graft.etl.Xlsx parses, prune
  * columns INSIDE the reader, and parallelize across workbook files (a
  * worksheet is one deflate stream — the file is the split unit). */
class XlsxSourceSpec extends SparkSpec {

  /** Tiny workbook: a preamble line, a header, two data rows; second sheet
    * to prove sheet selection. `suffix` varies cell payloads per file. */
  private def makeWorkbook(dir: Path, name: String, suffix: String): String =
    TestWorkbook.workbook(
      "Data" -> Seq(row("preamble junk"), row("area", "metric", "pct"),
        row(s"London$suffix", "1yr", "71.5"), row(s"North$suffix", "5yr", "49.1")),
      "Notes" -> Seq(row("notes only")))(dir.resolve(name)).toString

  private lazy val dir = Files.createTempDirectory("xlsx-src")
  private lazy val one = makeWorkbook(dir, "a.xlsx", "")

  test("load: header names the columns, preamble skipped, rows as strings") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
    assert(df.schema === StructType(Seq(
      StructField("area", StringType), StructField("metric", StringType),
      StructField("pct", StringType))))
    assert(df.collect().map(_.toSeq).toSeq ===
      Seq(Seq("London", "1yr", "71.5"), Seq("North", "5yr", "49.1")))
  }

  test("sheet option selects; header=false yields positional names") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Notes").option("header", "false").load(one)
    assert(df.schema.fieldNames === Array("_c0"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("notes only"))
  }

  test("column pruning reaches the reader: the scan outputs only selected columns") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
      .select("pct")
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.output.map(_.name) === Seq("pct"), scan.toString)
    assert(df.collect().map(_.getString(0)).toSeq === Seq("71.5", "49.1"))
  }

  test("directory load: one partition per workbook, rows unioned") {
    makeWorkbook(dir, "b.xlsx", "-b")
    makeWorkbook(dir, "c.xlsx", "-c")
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(dir.toString)
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 6)
    assert(df.filter(col("area") === "London-b").count() === 1)
  }

  test("filter pushdown reaches the reader and result matches the unpushed path") {
    val df = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
    val filtered = df.filter(col("metric") === "1yr" && col("area").isNotNull)
    val scan = filtered.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    val pushed = scan.scan.asInstanceOf[XlsxScan].pushed
    assert(pushed.nonEmpty, s"expected pushed filters, scan: ${scan.scan.description()}")
    assert(pushed.map(_.toString).exists(_.contains("metric")), pushed.mkString(", "))
    // parity: pushdown is a pure row-count reduction, never a result change
    val expected = df.collect().map(_.toSeq).filter(r => r(1) == "1yr").toSet
    assert(filtered.collect().map(_.toSeq).toSet === expected)
    // string-range comparison pushes and agrees too
    val ranged = df.filter(col("pct") > "50")
    val rangedScan = ranged.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b }.get
    assert(rangedScan.scan.asInstanceOf[XlsxScan].pushed.nonEmpty)
    assert(ranged.collect().map(_.getString(0)).toSeq === Seq("London"))
  }

  test("duplicate header labels uniquify positionally instead of aliasing one column") {
    val dup = TestWorkbook.workbook("Data" -> Seq(TestWorkbook.row("Total", "Total", "area"),
      TestWorkbook.row("10", "20", "London")))(dir.resolve("dup.xlsx"))
    val df = spark.read.format("xlsx").option("sheet", "Data").load(dup.toString)
    assert(df.schema.fieldNames === Array("Total", "Total_1", "area"))
    // each uniquified name reads ITS OWN cell position — pre-fix both
    // "Total" columns silently read the first occurrence
    val row = df.select("Total", "Total_1", "area").head
    assert(row.toSeq === Seq("10", "20", "London"))
  }

  test("cluster URIs fail fast with a readable message") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("xlsx").load("s3://bucket/wb.xlsx")
    }
    assert(e.getMessage.contains("node-local filesystem"))
  }

  test("matches the CSV-staging path on the same sheet") {
    val viaStaging = graft.etl.Staging.readXlsxSheet(
      spark, one, "Data",
      StructType(Seq(StructField("area", StringType), StructField("metric", StringType),
        StructField("pct", StringType))),
      skipRows = 1)
    val viaSource = spark.read.format("xlsx")
      .option("sheet", "Data").option("skipRows", 1).load(one)
    assert(viaSource.collect().map(_.toSeq).toSet === viaStaging.collect().map(_.toSeq).toSet)
  }
}
