package graft.etl

import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The one xlsx writer the specs share. [[write]] stores entries in the
  * order given with a fixed timestamp, so equal entries give equal bytes;
  * [[parts]] and [[sheet]] build the entries of an ordinary workbook,
  * which a spec can then edit (drop a part, add sharedStrings.xml) to
  * make a hostile one. */
object TestWorkbook {
  type Rows = Seq[Seq[Option[String]]]

  /** A row of cells; an empty string leaves the cell out. */
  def row(cells: String*): Seq[Option[String]] = cells.map(c => Option(c).filter(_.nonEmpty))

  private def esc(v: String) = v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Worksheet XML of inline-string cells. None leaves a cell out, and a
    * row with no cell is left out of the XML, as Excel does. */
  def sheet(rows: Rows): String = "<worksheet><sheetData>" +
    rows.zipWithIndex.filter(_._1.exists(_.isDefined)).map { case (cells, r) =>
      s"""<row r="${r + 1}">""" + cells.zipWithIndex.collect { case (Some(v), i) =>
        s"""<c r="${('A' + i).toChar}${r + 1}" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
      }.mkString + "</row>"
    }.mkString + "</sheetData></worksheet>"

  /** workbook.xml, its relationships, and one worksheet part per
    * (sheet name, worksheet XML), in order. */
  def parts(sheets: (String, String)*): Seq[(String, String)] = {
    val n = sheets.indices.map(_ + 1)
    val ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    Seq(
      "xl/workbook.xml" -> n.map { i =>
        s"""<sheet name="${esc(sheets(i - 1)._1)}" sheetId="$i" r:id="rId$i"/>"""
      }.mkString(s"""<workbook xmlns:r="$ns"><sheets>""", "", "</sheets></workbook>"),
      "xl/_rels/workbook.xml.rels" -> n.map { i =>
        s"""<Relationship Id="rId$i" Type="ws" Target="worksheets/sheet$i.xml"/>"""
      }.mkString("<Relationships>", "", "</Relationships>")) ++
      n.map(i => s"xl/worksheets/sheet$i.xml" -> sheets(i - 1)._2)
  }

  /** A workbook of inline-string sheets, written to `path`. */
  def workbook(sheets: (String, Rows)*)(path: Path = temp()): Path =
    write(parts(sheets.map { case (name, rows) => name -> sheet(rows) }: _*), path)

  def temp(): Path = Files.createTempFile("graft", ".xlsx")

  /** Zip `entries` (name → UTF-8 content) to `path`. */
  def write(entries: Seq[(String, String)], path: Path = temp()): Path = {
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    try entries.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(LocalDateTime.of(1980, 1, 1, 0, 0))
      zos.putNextEntry(e)
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
    path
  }
}
