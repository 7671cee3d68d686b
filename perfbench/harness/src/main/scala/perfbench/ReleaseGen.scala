package perfbench

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded staged-release generator for the `etl_release` workload.
  *
  * Writes the two workbooks a release stages: the Cancer Survival Index
  * ("Table 5") and the Adult Cancer Survival workbook ("Table 4" plus a
  * "Notes and definitions" sheet), as real xlsx with a `sharedStrings.xml`
  * table and numeric cells. The row multiset is fixed; the seed shuffles
  * row order (and with it the shared-string table), so every seed yields
  * the same published tables and the recorded fingerprints hold for all.
  *
  * Rows reach every pipeline branch: the three target codes, the other
  * Cancer Alliances and sub-ICB areas that both pipelines filter out,
  * England Breast/Female rows, Breast/Female/"All ages" Index rows, the
  * 'Index' and 'Other' sites, blank site cells, substituted-geography
  * rows, gender-exclusive sites, null "Overall survival (%)" cells and a
  * Notes sheet whose row 12 parses to a snapshot date. Survival values are
  * multiples of 1/4, so view sums are exact in any row order.
  */
object ReleaseGen {

  final case class Release(dir: Path, indexRows: Long, adultRows: Long)

  val IndexFile = "Index_cancer_survival_2006_2021.xlsx"
  val AdultFile = "adult_cancer_survival_2017_2021.xlsx"
  val Snapshot = "December 2023"

  private val targets = Seq(
    ("Cancer Alliance", "North Central London", "E56000027"),
    ("Region", "London", "E40000003"),
    ("Country", "England", "E92000001"))
  private val otherAlliances = (1 to 9).map(i =>
    ("Cancer Alliance", s"Cancer Alliance $i", f"E560000$i%02d"))
  private val subIcbs = (1 to 6).map(i => ("Sub-ICB", s"Sub-ICB area $i", f"E38000$i%03d"))
  private val geographies = targets ++ otherAlliances ++ subIcbs
  private val targetCodes = targets.map(_._3).toSet

  private def kept(geo: (String, String, String)): Boolean =
    geo._1 == "Cancer Alliance" || targetCodes(geo._3)

  /** A deterministic survival value in [20, 95], a multiple of 1/4. */
  private def survival(k: Int): Double = 20.0 + ((k * 37L + 11) % 301) / 4.0

  private type Row = Seq[Any]

  private def indexRows(): (Seq[Row], Long) = {
    val sites = Seq("Index", "Breast", "Lung", "Bowel", "Other")
    val genders = Seq("Persons", "Male", "Female")
    val ages = Seq("All ages", "15-99")
    val standardisations = Seq("Age-standardised", "Non-standardised")
    val years = 2020 to 2021
    val since = Seq(1L, 5L)
    var k = 0
    var published = 0L
    val rows = for {
      geo <- geographies; site <- sites; gender <- genders; age <- ages
      std <- standardisations; year <- years; ys <- since
    } yield {
      k += 1
      // every 97th row has a blank site cell, which the 'Other' filter keeps
      val siteCell: Any = if (k % 97 == 0) null else site
      if (kept(geo) && siteCell != "Other") published += 1
      val s = survival(k)
      Seq(geo._1, geo._2, geo._3, siteCell, gender, age, std, year.toLong, ys,
        (100 + k % 900).toLong, s, s - 1.5, s + 1.5, 0.25 * (1 + k % 8), 0.5,
        if (k % 13 == 0) "E56000001" else null)
    }
    (rows, published)
  }

  private def adultRows(): (Seq[Row], Long) = {
    val sites = Seq("Breast", "Larynx", "Prostate", "Cervix", "Ovary", "Lung", "Bowel",
      "Colon", "Rectum", "Stomach", "Kidney", "Bladder")
    val genders = Seq("Male", "Female", "Persons")
    val standardisations = Seq("Age-standardised (5 age groups)",
      "Age-standardised (all ages)", "Non-standardised")
    val since = 1L to 3L
    val exclusive = Set(("Larynx", "Male"), ("Prostate", "Male"), ("Cervix", "Female"),
      ("Ovary", "Female"))
    var k = 0
    var published = 0L
    val rows = for {
      geo <- geographies; site <- sites; gender <- genders; std <- standardisations
      ys <- since
    } yield {
      k += 1
      if (kept(geo)) {
        // each kept row, its England Breast/Female Persons copy and its
        // gender-exclusive Persons copy, each unpivoted into two metrics
        val copies = 1 +
          (if (site == "Breast" && gender == "Female" && geo._3 == "E92000001") 1 else 0) +
          (if (exclusive((site, gender))) 1 else 0)
        published += 2L * copies
      }
      val net = survival(k)
      Seq(geo._1, geo._2, geo._3, site, gender, std, ys, (50 + k % 700).toLong, net,
        if (k % 7 == 0) null else net - 2.0)
    }
    (rows, published)
  }

  /** Writes a fresh staged release under `dir` and returns the published
    * row counts the pipelines must produce from it. */
  def write(dir: Path, seed: Long): Release = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed)
    val (index, indexPublished) = indexRows()
    val (adult, adultPublished) = adultRows()
    val indexHeader = graft.etl.Schemas.rawIndexSheet.fieldNames.toSeq
    val adultHeader = graft.etl.Schemas.rawAdultSheet.fieldNames.toSeq
    def preamble(n: Int, title: String): Seq[Row] =
      Seq(Seq(title)) ++ (2 to n).map(i => if (i % 3 == 0) Seq.empty else Seq(s"Note line $i"))
    workbook(dir.resolve(IndexFile), Seq(
      "Table 5" -> (preamble(10, "Table 5: Cancer Survival Index") ++ Seq(indexHeader) ++
        rnd.shuffle(index))))
    val notes = preamble(11, "Notes and definitions") ++
      Seq(Seq(s"Figures are based on data extracted in $Snapshot snapshot"),
        Seq("Survival is estimated with the Pohar-Perme estimator."))
    workbook(dir.resolve(AdultFile), Seq(
      "Table 4" -> (preamble(9, "Table 4: Adult cancer survival") ++ Seq(adultHeader) ++
        rnd.shuffle(adult)),
      "Notes and definitions" -> notes))
    Release(dir, indexPublished, adultPublished)
  }

  private def column(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else column(i / 26 - 1) + ('A' + i % 26).toChar

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** One xlsx: workbook, relationships, shared strings, one part per sheet. */
  private def workbook(path: Path, sheets: Seq[(String, Seq[Row])]): Unit = {
    val strings = mutable.LinkedHashMap.empty[String, Int]
    def sheetXml(rows: Seq[Row]): String = {
      val sb = new StringBuilder("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
      rows.zipWithIndex.foreach { case (row, r) =>
        if (row.exists(_ != null)) {
          sb ++= s"""<row r="${r + 1}">"""
          row.zipWithIndex.foreach {
            case (null, _) =>
            case (v: String, c) =>
              val id = strings.getOrElseUpdate(v, strings.size)
              sb ++= s"""<c r="${column(c)}${r + 1}" t="s"><v>$id</v></c>"""
            case (v, c) =>
              sb ++= s"""<c r="${column(c)}${r + 1}"><v>$v</v></c>"""
          }
          sb ++= "</row>"
        }
      }
      sb ++= "</sheetData></worksheet>"
      sb.toString
    }
    val parts = sheets.map { case (_, rows) => sheetXml(rows) }
    val out: OutputStream = new BufferedOutputStream(Files.newOutputStream(path))
    val zip = new ZipOutputStream(out)
    def entry(name: String, body: String): Unit = {
      val e = new ZipEntry(name)
      e.setTime(0L)
      zip.putNextEntry(e)
      zip.write(body.getBytes(UTF_8))
      zip.closeEntry()
    }
    try {
      val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
      val rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="xml" ContentType="application/xml"/></Types>""")
      entry("xl/workbook.xml",
        s"""<workbook xmlns="$ns" xmlns:r="$rel"><sheets>""" +
          sheets.zipWithIndex.map { case ((name, _), i) =>
            s"""<sheet name="${escape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString + "</sheets></workbook>")
      entry("xl/_rels/workbook.xml.rels",
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          sheets.indices.map(i =>
            s"""<Relationship Id="rId${i + 1}" Type="$rel/worksheet" """ +
              s"""Target="worksheets/sheet${i + 1}.xml"/>""").mkString + "</Relationships>")
      entry("xl/sharedStrings.xml",
        s"""<sst xmlns="$ns" count="${strings.size}" uniqueCount="${strings.size}">""" +
          strings.keys.map(s => s"<si><t>${escape(s)}</t></si>").mkString + "</sst>")
      parts.zipWithIndex.foreach { case (xml, i) =>
        entry(s"xl/worksheets/sheet${i + 1}.xml", xml)
      }
    } finally zip.close()
  }
}
