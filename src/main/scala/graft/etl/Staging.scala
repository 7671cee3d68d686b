package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructType}

/** Staged-sheet reader — the engine-side half of the reference's
  * `pd.read_excel(sheet, skiprows=N)` (reference src/main.py:112-113, :227).
  * Two inputs, one declared schema (never inferred):
  *  - `.csv` sheets ([[readSheet]]): "CSV with N preamble lines before the
  *    header", which plain `spark.read.csv` cannot express;
  *  - `.xlsx` sheets ([[readXlsxSheet]]): parsed driver-side by [[Xlsx]]
  *    (no spark-excel in a zero-egress JVM — SURVEY.md §7.4 risk 1) and
  *    converted straight into typed rows with the CSV reader's permissive
  *    semantics, so both inputs stage identical frames.
  */
object Staging {

  /** CSV sheet → DataFrame. One pass tags each line with its position via
    * the text datasource, drops the preamble, then parses the remainder as
    * CSV from the in-plan Dataset[String] — no driver-side materialization,
    * so a multi-GB staged sheet still streams through executors. */
  def readSheet(
      spark: SparkSession,
      path: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    import spark.implicits._
    // monotonically_increasing_id is 0..k within the file's first split, so
    // dropping the preamble needs no global ordering (the header and
    // preamble always sit in split 0); later splits keep ids >= 2^33 and
    // pass the filter untouched — no sort, no shuffle.
    val lines = spark.read.textFile(path)
      .withColumn("_idx", org.apache.spark.sql.functions.monotonically_increasing_id())
      .filter(s"_idx >= $skipRows")
      .select("value").as[String]
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("nullValue", "")
      .option("escape", "\"") // RFC-4180: a quote inside a quoted cell is doubled
      .csv(lines)
  }

  /** Excel sheet → DataFrame: the reference's
    * `pd.read_excel(sheet_name, skiprows=N)` end-to-end (reference
    * src/main.py:112-113). The sheet is parsed driver-side ([[Xlsx]] —
    * bounded by Excel's 1,048,576-row sheet limit, the same driver-memory
    * profile as the reference's pandas read) and each cell is typed here,
    * with what [[readSheet]] does to the same rows staged as CSV:
    *  - blank lines (no cell but spaces) are dropped;
    *  - the first remaining row is the header, and every row equal to it
    *    is dropped;
    *  - empty cells are null, and short rows pad with nulls;
    *  - an unparsable long or double is null; `NaN`/`Inf`/`-Inf` are the
    *    special doubles;
    *  - string cells are kept verbatim, embedded double quotes included.
    * The rows enter the cluster as a parallelized RDD: a local relation
    * would be folded into the plan on the driver by the optimizer. */
  def readXlsxSheet(
      spark: SparkSession,
      path: String,
      sheetName: String,
      schema: StructType,
      skipRows: Int): DataFrame = {
    val lines = Xlsx.readSheet(path, sheetName).drop(skipRows)
      .map(_.map(_.getOrElse("")))
      .filterNot(cells => cells.length <= 1 && cells.forall(_.forall(_ == ' ')))
    val parse = schema.fields.map(f => typed(f.dataType))
    val rows = lines.headOption.toSeq.flatMap(header => lines.filter(_ != header)).map { cells =>
      Row.fromSeq(parse.indices.map { i =>
        if (i < cells.length && cells(i).nonEmpty) parse(i)(cells(i)) else null
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  /** The CSV reader's per-cell conversion for the staged column types. */
  private def typed(t: DataType): String => Any = t match {
    case StringType => identity
    case LongType => s => scala.util.Try(s.toLong: Any).getOrElse(null)
    case DoubleType => {
      case "NaN" => Double.NaN
      case "Inf" => Double.PositiveInfinity
      case "-Inf" => Double.NegativeInfinity
      case s => scala.util.Try(s.toDouble: Any).getOrElse(null)
    }
    case other => throw new IllegalArgumentException(s"staged sheets hold no $other columns")
  }
}
