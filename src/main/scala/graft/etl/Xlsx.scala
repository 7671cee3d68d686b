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

  /** A workbook that cannot be read as the named sheet: not a zip (or a
    * truncated one), or missing a part or a shared string it refers to. */
  final class XlsxException(val path: String, val sheet: String, detail: String,
      cause: Throwable = null)
      extends IllegalArgumentException(s"$path, sheet '$sheet': $detail", cause)

  /** Read one sheet as rows of optional cell strings, positionally aligned
    * (row i, column j); absent cells are None. Any unreadable input raises
    * an [[XlsxException]] naming the file and the sheet. */
  def readSheet(path: String, sheetName: String): Seq[Seq[Option[String]]] = {
    def bad(detail: String, cause: Throwable = null) =
      new XlsxException(path, sheetName, detail, cause)
    val zip = try new ZipFile(path) catch {
      case e: java.io.IOException => throw bad(s"not a readable zip ($e)", e)
    }
    try {
      val wb = slurp(zip, "xl/workbook.xml").getOrElse(
        throw bad("not an xlsx (no xl/workbook.xml)"))
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
        .getOrElse(throw bad("sheet not found"))
      val rels = slurp(zip, "xl/_rels/workbook.xml.rels").getOrElse("")
      val target = (s"""<Relationship\\b[^>]*Id="$rid"[^>]*Target="([^"]*)"""").r
        .findFirstMatchIn(rels).map(_.group(1))
        .orElse((s"""<Relationship\\b[^>]*Target="([^"]*)"[^>]*Id="$rid"""").r
          .findFirstMatchIn(rels).map(_.group(1)))
        .getOrElse(throw bad(s"no relationship for $rid"))
      val sheetPath = if (target.startsWith("/")) target.drop(1) else s"xl/$target"
      val sharedXml = slurp(zip, "xl/sharedStrings.xml")
      val shared: IndexedSeq[String] = sharedXml.toIndexedSeq.flatMap { ss =>
        """(?s)<si>(.*?)</si>""".r.findAllMatchIn(ss)
          .map(m => tRe.findAllMatchIn(m.group(1)).map(t => unescape(t.group(1))).mkString)
      }
      def sharedString(v: String): String = {
        val i = try v.trim.toInt catch { case _: NumberFormatException => -1 }
        if (i >= 0 && i < shared.length) shared(i)
        else if (sharedXml.isEmpty) throw bad(s"shared string '$v' but no xl/sharedStrings.xml")
        else throw bad(s"shared string '$v' out of range (${shared.length} strings)")
      }
      val xml = slurp(zip, sheetPath).getOrElse(throw bad(s"missing part $sheetPath"))

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
            case "s" => vRe.findFirstMatchIn(body).map(m => sharedString(unescape(m.group(1))))
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
    } catch {
      case e: java.io.IOException => throw bad(s"unreadable zip entry ($e)", e)
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
