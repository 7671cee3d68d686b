package graft.etl

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util.zip.ZipFile
import scala.collection.mutable
import scala.util.matching.Regex

/** Dependency-free XLSX sheet reader (driver-side).
  *
  * The reference consumes NHS Excel workbooks directly
  * (`pd.read_excel(sheet_name=…, skiprows=N)`, reference src/main.py:113,
  * :227, :81); this environment has no spark-excel/POI, but .xlsx is just a
  * zip of SpreadsheetML, so a targeted parser covers the real format:
  * workbook.xml (sheet name → r:id), workbook.xml.rels (r:id → part),
  * sharedStrings.xml, and the sheet's <row>/<c> cells with shared (t="s"),
  * inline (t="inlineStr"), and literal values, aligned to column positions
  * from the A1-style cell references (absent cells stay empty, like
  * pandas' NaN).
  *
  * Scope: values only — formulas read their cached <v>, styles/dates come
  * back as the stored literal. That is exactly what the reference's sheets
  * contain. Parsing is driver-side by design: source discovery and staging
  * feed `spark.read`, they are not cluster ops (SURVEY.md §2.1 S1-S6).
  */
object Xlsx {

  private val cellRe: Regex =
    """(?s)<c\b([^>]*)(?:/>|>(.*?)</c>)""".r
  private val rowRe: Regex = """(?s)<row\b([^>]*)>(.*?)</row>|<row\b([^>]*)/>""".r
  private val rowNumRe: Regex = """r="(\d+)"""".r
  private val vRe: Regex = """(?s)<v[^>]*>(.*?)</v>""".r
  private val tRe: Regex = """(?s)<t[^>]*>(.*?)</t>""".r
  private val refRe: Regex = """r="([A-Z]+)(\d+)"""".r
  private val typeRe: Regex = """t="([^"]+)"""".r

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&apos;", "'").replace("&amp;", "&")

  private def colIndex(ref: String): Int =
    ref.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1)) - 1

  private def slurp(zip: ZipFile, name: String): Option[String] = {
    Option(zip.getEntry(name)).map { e =>
      val in: InputStream = zip.getInputStream(e)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }
  }

  /** Sheet names in workbook order. */
  def sheetNames(path: String): Seq[String] = {
    val zip = new ZipFile(path)
    try {
      val wb = slurp(zip, "xl/workbook.xml").getOrElse("")
      """<sheet\b[^>]*name="([^"]*)"""".r.findAllMatchIn(wb).map(m => unescape(m.group(1))).toSeq
    } finally zip.close()
  }

  /** Read one sheet as rows of optional cell strings, positionally aligned
    * (row i, column j); absent cells are None. */
  def readSheet(path: String, sheetName: String): Seq[Seq[Option[String]]] = {
    val zip = new ZipFile(path)
    try {
      val wb = slurp(zip, "xl/workbook.xml").getOrElse(
        throw new IllegalArgumentException(s"$path: not an xlsx (no xl/workbook.xml)"))
      // match each <sheet> element first, then pull name and r:id with
      // independent attribute regexes — non-Excel producers emit the two
      // attributes in either order (mirrors the Relationship fallback below)
      val nameAttr = """name="([^"]*)"""".r
      val ridAttr = """r:id="([^"]*)"""".r
      val rid = """<sheet\b[^>]*/?>""".r
        .findAllIn(wb)
        .flatMap { el =>
          for {
            n <- nameAttr.findFirstMatchIn(el).map(m => unescape(m.group(1)))
            r <- ridAttr.findFirstMatchIn(el).map(_.group(1))
          } yield (n, r)
        }
        .collectFirst { case (n, r) if n == sheetName => r }
        .getOrElse(throw new IllegalArgumentException(s"sheet '$sheetName' not found in $path"))
      val rels = slurp(zip, "xl/_rels/workbook.xml.rels").getOrElse("")
      val target = (s"""<Relationship\\b[^>]*Id="$rid"[^>]*Target="([^"]*)"""").r
        .findFirstMatchIn(rels).map(_.group(1))
        .orElse((s"""<Relationship\\b[^>]*Target="([^"]*)"[^>]*Id="$rid"""").r
          .findFirstMatchIn(rels).map(_.group(1)))
        .getOrElse(throw new IllegalArgumentException(s"no relationship for $rid"))
      val sheetPath = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
      val shared: IndexedSeq[String] = slurp(zip, "xl/sharedStrings.xml") match {
        case Some(ss) =>
          """(?s)<si>(.*?)</si>""".r.findAllMatchIn(ss)
            .map(m => tRe.findAllMatchIn(m.group(1)).map(t => unescape(t.group(1))).mkString)
            .toIndexedSeq
        case None => IndexedSeq.empty
      }
      val xml = slurp(zip, sheetPath).getOrElse(
        throw new IllegalArgumentException(s"missing $sheetPath"))

      // Excel omits fully-empty rows from the XML entirely; honor each row's
      // r attribute and pad the gaps, or every positional consumer
      // (skiprows, the Notes iloc[0,0] chain) would shift — pandas
      // read_excel counts blank rows and so must we.
      val out = mutable.ArrayBuffer.empty[Seq[Option[String]]]
      rowRe.findAllMatchIn(xml).foreach { rm =>
        val rowAttrs = Option(rm.group(1)).orElse(Option(rm.group(3))).getOrElse("")
        val rowXml = Option(rm.group(2)).getOrElse("")
        val targetIdx = rowNumRe.findFirstMatchIn(rowAttrs)
          .map(_.group(1).toInt - 1).getOrElse(out.length)
        while (out.length < targetIdx) out += Seq.empty[Option[String]]
        val cells = mutable.ArrayBuffer.empty[(Int, String)]
        var nextIdx = 0
        cellRe.findAllMatchIn(rowXml).foreach { cm =>
          val attrs = cm.group(1)
          val body = Option(cm.group(2)).getOrElse("")
          val idx = refRe.findFirstMatchIn(attrs).map(m => colIndex(m.group(1))).getOrElse(nextIdx)
          nextIdx = idx + 1
          val t = typeRe.findFirstMatchIn(attrs).map(_.group(1)).getOrElse("")
          val value: Option[String] = t match {
            case "s" => vRe.findFirstMatchIn(body).map(m => shared(unescape(m.group(1)).trim.toInt))
            case "inlineStr" => tRe.findFirstMatchIn(body).map(m => unescape(m.group(1)))
            case _ => vRe.findFirstMatchIn(body).map(m => unescape(m.group(1)))
          }
          value.foreach(v => cells += idx -> v)
        }
        out += (if (cells.isEmpty) Seq.empty[Option[String]]
        else {
          val width = cells.map(_._1).max + 1
          val arr = Array.fill[Option[String]](width)(None)
          cells.foreach { case (i, v) => arr(i) = Some(v) }
          arr.toSeq
        })
      }
      out.toSeq
    } finally zip.close()
  }

  /** Stage a sheet to CSV text lines (RFC-4180 quoting), the `.csv` form
    * [[Staging.readSheet]] reads. */
  def toCsvLines(rows: Seq[Seq[Option[String]]]): Seq[String] = {
    def quote(v: String): String =
      if (v.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + v.replace("\"", "\"\"") + "\""
      else v
    rows.map(_.map(c => quote(c.getOrElse(""))).mkString(","))
  }
}
