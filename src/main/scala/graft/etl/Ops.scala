package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable operator combinators — the reference's signature moves
  * (SURVEY.md §2.3) as thin, composable functions over DataFrames. All are
  * narrow ops (filter/project/explode): no shuffle, no union, one codegen
  * stage over one scan of the source.
  */
object Ops {

  /** R1 — generalise-and-keep (reference src/main.py:98-105): every row
    * matching `pred` gains a copy with columns overwritten per
    * `overrides`; originals are KEPT. One narrow explode emits each row
    * once, or twice when it matches. A chained rule sees earlier copies as
    * ordinary rows, so a copy can be copied again. */
  def duplicateWhere(df: DataFrame, pred: Column, overrides: Map[String, Column]): DataFrame =
    generalise(df, pred, overrides, keepOriginal = true)

  /** R2 — generalise-and-replace (reference src/main.py:136-146): like
    * [[duplicateWhere]] but the matching originals are REMOVED — the
    * deliberate asymmetry between the Index pipeline's Breast handling and
    * the Adult pipeline's gender generalisation. A pure projection. */
  def replaceWhere(df: DataFrame, pred: Column, overrides: Map[String, Column]): DataFrame =
    generalise(df, pred, overrides, keepOriginal = false)

  private val Copy = "__ops_copy"

  /** Tags each output row as a copy (or not), then overrides columns on
    * the copies only. `pred <=> true`, not `pred`: a NULL predicate (a
    * blank workbook cell) is no match, so the row is kept unchanged, as
    * the reference's pandas `~((..)&(..))` keeps NaN rows. The predicate
    * is evaluated once, into the tag, before any override can change the
    * columns it reads; each override sees the earlier ones, as chained
    * `withColumn`s would. */
  private def generalise(
      df: DataFrame, pred: Column, overrides: Map[String, Column],
      keepOriginal: Boolean): DataFrame = {
    require(overrides.keySet.subsetOf(df.columns.toSet),
      s"overrides name columns the frame lacks: ${overrides.keySet -- df.columns}")
    val hit = pred <=> true
    val tagged =
      if (keepOriginal)
        df.withColumn(Copy, explode(when(hit, array(lit(false), lit(true))).otherwise(array(lit(false)))))
      else df.withColumn(Copy, hit)
    overrides.foldLeft(tagged) { case (acc, (c, v)) =>
      acc.withColumn(c, when(col(Copy), v).otherwise(col(c)))
    }.drop(Copy)
  }

  /** Gender generalisation for a gender-exclusive cancer site (reference
    * src/main.py:98-105): add a "Persons" copy of (site, baseGender) rows. */
  def generaliseGender(df: DataFrame, cancerSite: String, baseGender: String): DataFrame =
    duplicateWhere(
      df,
      col("Cancer site") === cancerSite && col("Gender") === baseGender,
      Map("Gender" -> lit("Persons")))

  /** R5 — carve "base (subcategory)" (reference src/main.py:244-260):
    * subcategory = text inside parens, NULL for `noneValue` rows; the base
    * column keeps only the part before the parens, trimmed. Faithful to the
    * reference's split('(')/split(')') chain: a row that is not `noneValue`
    * but has no parens yields a NULL subcategory (pandas .str[1] of a
    * 1-element split is NaN). */
  def carveStandardisation(
      df: DataFrame,
      srcCol: String = "Standardisation type",
      subCol: String = "standardisation_type_subcategory",
      noneValue: String = "Non-standardised"): DataFrame =
    df.withColumn(subCol,
        when(col(srcCol) =!= noneValue && col(srcCol).contains("("),
          regexp_extract(col(srcCol), "\\(([^)]*)\\)", 1)))
      .withColumn(srcCol, trim(regexp_replace(col(srcCol), "\\s*\\(.*$", "")))

  /** F6 — header normalization (reference src/main.py:187-189): newline→
    * space, strip, space→underscore, lowercase. */
  def normalizeHeaders(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(c =>
      c.replace("\n", " ").trim.replaceAll(" ", "_").toLowerCase): _*)

  /** P7 — load-boundary projection: keep exactly the mapped columns, in
    * order, renamed (reference src/main.py:193-212). */
  def renameSelect(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (from, to) => col(from).as(to) }: _*)

  /** R4 — unpivot/melt keeping null measure values (pandas melt semantics,
    * reference src/main.py:314-327). */
  def unpivotMetrics(
      df: DataFrame, ids: Seq[String], values: Seq[String],
      varName: String, valName: String): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)
}
