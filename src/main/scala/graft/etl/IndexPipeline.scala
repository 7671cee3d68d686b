package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Cancer Survival Index ("Table 5") pipeline — a faithful, lazy
  * re-expression of reference src/main.py:108-219 as one narrow DataFrame
  * chain (no shuffle and no union: filters, derivations, the Breast
  * replacement as a projection, final projection — a single
  * whole-stage-codegen pipeline over one scan, ending at the sink).
  */
object IndexPipeline {

  /** @param raw staged "Table 5" sheet with [[Schemas.rawIndexSheet]] columns
    * @param targetGeographies core area codes (reference src/main.py:397)
    */
  def apply(raw: DataFrame, targetGeographies: Seq[String]): DataFrame = {
    // Filter to remove sub-ICBs: keep Cancer Alliances and core areas
    // (main.py:121-124)
    val filtered = raw.filter(
      col("Geography type") === "Cancer Alliance" ||
        col("Geography code").isin(targetGeographies: _*))

    val derived = filtered
      // core-area flag (main.py:127)
      .withColumn("area_core", col("Geography code").isin(targetGeographies: _*))
      // substitution flag from null test (main.py:130-131)
      .withColumn("data_substituted", col("Substituted by Other Geography").isNotNull)
      // batch stamp — constant-folded once per query, the stamp-once
      // semantics of dt.today() (main.py:134); dropped again at the load
      // boundary below, exactly like the reference
      .withColumn("date_upload", current_timestamp())

    // Breast/Female/"All ages" → Persons, originals REMOVED (main.py:137-146)
    val breastGeneralised = Ops.replaceWhere(
      derived,
      col("Cancer site") === "Breast" && col("Gender") === "Female" &&
        col("Age at diagnosis") === "All ages",
      Map("Gender" -> lit("Persons")))

    val cleaned = breastGeneralised
      // 'Index' site → 'Overall' (substring replace, main.py:149-150)
      .withColumn("Cancer site", regexp_replace(col("Cancer site"), "Index", "Overall"))
      // drop 'Other' site (main.py:153) — null-safe: pandas != keeps NaN
      // rows, so a blank site cell must survive this filter too
      .filter(!(col("Cancer site") <=> "Other"))

    // Load-boundary projection to the DDL schema (main.py:156-212 collapses
    // keep-list + rename + header normalization + final rename into one
    // mapping; `date_upload` is deliberately absent — the persisted
    // timestamp comes from the sink's _TIMESTAMP default instead)
    Ops.renameSelect(cleaned, Seq(
      "Geography code" -> "AREA_CODE",
      "Geography name" -> "AREA_NAME",
      "area_core" -> "IS_AREA_CORE",
      "Cancer site" -> "CANCER_SITE",
      "Gender" -> "GENDER",
      "Age at diagnosis" -> "AGE_AT_DIAGNOSIS",
      "Standardisation type" -> "STANDARDISATION_TYPE",
      "Diagnosis year" -> "YEAR_OF_DIAGNOSIS",
      "Years since diagnosis" -> "YEARS_SINCE_DIAGNOSIS",
      "Patient numbers" -> "PATIENT_NUMBERS",
      "Survival (%)" -> "SURVIVAL_PERCENT",
      "Lower CI" -> "LOWER_CI",
      "Upper CI" -> "UPPER_CI",
      "Precision" -> "PRECISION",
      "Standard error" -> "STANDARD_ERROR",
      "data_substituted" -> "IS_DATA_SUBTITUTED"))
  }
}
