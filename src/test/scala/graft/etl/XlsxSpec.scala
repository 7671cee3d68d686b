package graft.etl

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class XlsxSpec extends AnyFunSuite {

  /** A real two-sheet xlsx (shared strings, inline strings, numbers, a
    * skipped cell, an XML escape). */
  private def makeWorkbook(): String = TestWorkbook.write(
    TestWorkbook.parts(
      "Table 5" ->
        """<worksheet><sheetData>
          |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
          |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>71.5</v></c></row>
          |<row r="3"><c r="B3"><v>60</v></c></row>
          |<row r="4"><c r="A4" t="inlineStr"><is><t>inline &amp; escaped</t></is></c><c r="B4" t="s"><v>3</v></c></row>
          |</sheetData></worksheet>""".stripMargin,
      "Notes & definitions" -> TestWorkbook.sheet(Seq(
        TestWorkbook.row("based on data extracted in December 2023 snapshot")))) :+
      ("xl/sharedStrings.xml" ->
        """<sst><si><t>Geography type</t></si><si><t>Survival (%)</t></si>
          |<si><t>Cancer Alliance</t></si><si><t>rich</t><t> text</t></si></sst>""".stripMargin)
  ).toString

  test("sheetNames lists workbook order with unescaping") {
    assert(Xlsx.sheetNames(makeWorkbook()) === Seq("Table 5", "Notes & definitions"))
  }

  test("readSheet: shared/inline/number cells, positional alignment, missing cells as None") {
    val rows = Xlsx.readSheet(makeWorkbook(), "Table 5")
    assert(rows === Seq(
      Seq(Some("Geography type"), Some("Survival (%)")),
      Seq(Some("Cancer Alliance"), Some("71.5")),
      Seq(None, Some("60")),                       // A3 absent → None
      Seq(Some("inline & escaped"), Some("rich text")))) // rich text concatenated
  }

  test("sheet resolves when r:id precedes name (non-Excel attribute order)") {
    val path = TestWorkbook.write(Seq(
      "xl/workbook.xml" ->
        """<workbook><sheets>
          |<sheet r:id="rId1" sheetId="1" name="Data"/>
          |</sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships><Relationship Id="rId1" Type="ws" Target="worksheets/sheet1.xml"/></Relationships>""",
      "xl/worksheets/sheet1.xml" ->
        """<worksheet><sheetData><row r="1"><c r="A1"><v>42</v></c></row></sheetData></worksheet>"""))
    assert(Xlsx.readSheet(path.toString, "Data") === Seq(Seq(Some("42"))))
  }

  test("Notes sheet first cell feeds the snapshot-date heuristic (F9 chain)") {
    val first = Xlsx.readSheet(makeWorkbook(), "Notes & definitions").head.head.get
    assert(Ingest.snapshotDate(first) === Some("December 2023"))
  }

  test("toCsvLines quotes commas/quotes and round-trips through a CSV write") {
    val lines = Xlsx.toCsvLines(Seq(
      Seq(Some("a,b"), Some("say \"hi\""), None),
      Seq(Some("plain"), Some("2"), Some("3"))))
    assert(lines === Seq("\"a,b\",\"say \"\"hi\"\"\",", "plain,2,3"))
  }

  test("NHS-shaped workbook → Staging.readXlsxSheet → IndexPipeline end-to-end") {
    val header = Schemas.rawIndexSheet.fieldNames
    val path = TestWorkbook.workbook("Table 5" -> Seq(
      TestWorkbook.row("Cancer Survival in England preamble"),
      TestWorkbook.row(),
      TestWorkbook.row(header.toSeq: _*),
      TestWorkbook.row("Cancer Alliance", "NCL", "E56000027", "Breast", "Female", "All ages",
        "Age-standardised", "2018", "1", "100", "71.5", "70.0", "73.0", "1.0", "0.5", ""),
      TestWorkbook.row("Sub-ICB", "Islington", "E38000088", "Lung", "Persons", "All ages",
        "Age-standardised", "2018", "1", "10", "40.0", "39.0", "41.0", "1.0", "0.5", "")))()

    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    val raw = Staging.readXlsxSheet(spark, path.toString, "Table 5",
      Schemas.rawIndexSheet, skipRows = 2)
    assert(raw.count() === 2)
    val out = IndexPipeline(raw, Schemas.defaultTargetGeographies)
    assert(out.count() === 1) // sub-ICB filtered; breast replaced by Persons
    val row = out.head()
    assert(row.getAs[String]("GENDER") === "Persons")
    assert(row.getAs[Double]("SURVIVAL_PERCENT") === 71.5)
    assert(row.getAs[Long]("PATIENT_NUMBERS") === 100L)
  }

  test("rows absent from the XML (Excel drops blank rows) pad as empty — positions hold") {
    val path = TestWorkbook.workbook("S" -> Seq(
      TestWorkbook.row("first"), TestWorkbook.row(), TestWorkbook.row(), TestWorkbook.row("fourth")))()
    val rows = Xlsx.readSheet(path.toString, "S")
    assert(rows.length === 4)
    assert(rows(0) === Seq(Some("first")))
    assert(rows(1) === Seq.empty && rows(2) === Seq.empty)
    assert(rows(3) === Seq(Some("fourth")))
  }

  test("missing sheet raises a named error") {
    val e = intercept[IllegalArgumentException](Xlsx.readSheet(makeWorkbook(), "Nope"))
    assert(e.getMessage.contains("Nope"))
  }

  /** Hostile inputs: each must raise one XlsxException naming the file
    * and the sheet, never a bare zip or index error. */
  private val sharedCell =
    """<worksheet><sheetData><row r="1"><c r="A1" t="s"><v>5</v></c></row></sheetData></worksheet>"""
  private def truncated(): String = {
    val p = TestWorkbook.write(TestWorkbook.parts("S" -> sharedCell))
    val bytes = Files.readAllBytes(p)
    Files.write(p, bytes.take(bytes.length / 2))
    p.toString
  }
  private val hostile: Seq[(String, () => String)] = Seq(
    "a shared-string index past the table" -> (() => TestWorkbook.write(
      TestWorkbook.parts("S" -> sharedCell) :+
        ("xl/sharedStrings.xml" -> "<sst><si><t>only</t></si></sst>")).toString),
    "a shared-string cell with no sharedStrings.xml" -> (() =>
      TestWorkbook.write(TestWorkbook.parts("S" -> sharedCell)).toString),
    "a truncated zip" -> (() => truncated()),
    "a file that is not a zip" -> (() =>
      Files.writeString(TestWorkbook.temp(), "Geography type,Survival (%)\n").toString),
    "a sheet with no relationship" -> (() => TestWorkbook.write(
      TestWorkbook.parts("S" -> sharedCell).filterNot(_._1.endsWith(".rels"))).toString),
    "a relationship to a missing part" -> (() => TestWorkbook.write(
      TestWorkbook.parts("S" -> sharedCell).filterNot(_._1.startsWith("xl/worksheets/"))).toString),
    "an absent sheet" -> (() => TestWorkbook.write(TestWorkbook.parts("T" -> sharedCell)).toString))

  for ((label, make) <- hostile)
    test(s"hostile input: $label raises an XlsxException naming file and sheet") {
      val path = make()
      val e = intercept[Xlsx.XlsxException](Xlsx.readSheet(path, "S"))
      assert(e.path === path && e.sheet === "S")
      assert(e.getMessage.contains(path) && e.getMessage.contains("'S'"), e.getMessage)
    }
}
