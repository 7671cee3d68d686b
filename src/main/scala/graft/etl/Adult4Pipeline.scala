package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Adult Cancer Survival ("Table 4") pipeline — reference
  * src/main.py:222-376 as one lazy chain: filters → carve → stamps →
  * 5 generalisation explodes → unpivot → metric-name cleanup → load
  * projection. Shuffle- and union-free (explodes and unpivot are narrow),
  * so the sheet is scanned once; the unpivot doubles rows, which at
  * 100 TB argues for keeping it late — as the reference does — so
  * upstream filters run on the narrow table.
  */
object Adult4Pipeline {

  /** @param raw staged "Table 4" sheet with [[Schemas.rawAdultSheet]] columns
    * @param targetGeographies core area codes
    * @param diagnosisWindow filename-derived constant like "2017-2021"
    *        (reference src/main.py:265-267, parsed by [[Ingest.diagnosisWindow]])
    * @param dateSnapshot "Month YYYY" from the Notes sheet, or None on
    *        parse failure (reference src/main.py:269-277)
    */
  def apply(
      raw: DataFrame,
      targetGeographies: Seq[String],
      diagnosisWindow: String,
      dateSnapshot: Option[String]): DataFrame = {

    val filtered = raw
      // core-area flag FIRST here (main.py:235-236 — opposite order to the
      // Index pipeline), then keep core OR Cancer Alliance (main.py:238-242)
      .withColumn("area_core", col("Geography code").isin(targetGeographies: _*))
      .filter(col("area_core") === true || col("Geography type") === "Cancer Alliance")

    val carved = Ops.carveStandardisation(filtered)

    val stamped = carved
      .withColumn("date_upload", current_timestamp())
      .withColumn("date_diagnosis_window", lit(diagnosisWindow))
      .withColumn("date_snapshot", lit(dateSnapshot.orNull).cast("string"))

    // Breast→Persons for the NATIONAL rows only, originals KEPT
    // (main.py:279-287 — contrast with the Index pipeline's replace)
    val breast = Ops.duplicateWhere(
      stamped,
      col("Cancer site") === "Breast" && col("Gender") === "Female" &&
        col("Geography code") === "E92000001",
      Map("Gender" -> lit("Persons")))

    // Gender-exclusive sites → extra Persons copies (main.py:289-296)
    val generalised = Seq(
      ("Larynx", "Male"), ("Prostate", "Male"),
      ("Cervix", "Female"), ("Ovary", "Female"))
      .foldLeft(breast) { case (df, (site, gender)) =>
        Ops.generaliseGender(df, site, gender)
      }

    val idCols = Seq(
      "Geography type", "Geography name", "Geography code", "Cancer site",
      "Gender", "Standardisation type", "standardisation_type_subcategory",
      "Years since diagnosis", "Patients", "area_core", "date_upload",
      "date_diagnosis_window", "date_snapshot")

    // Unpivot the two survival metrics wide→long, KEEPING null measures
    // (pandas melt semantics, main.py:314-327)
    val melted = Ops.unpivotMetrics(
      generalised.select((idCols ++ Seq("Net survival (%)", "Overall survival (%)")).map(col): _*),
      idCols, Seq("Net survival (%)", "Overall survival (%)"),
      "survival_metric", "survival_per")

    val metricNamed = melted
      // strip " (%)" suffix (main.py:330-331)
      .withColumn("survival_metric", regexp_replace(col("survival_metric"), " \\(%\\)$", ""))
      // title-case (main.py:333). Python str.title() and Spark initcap agree
      // on the space-separated values that flow here ("net survival" →
      // "Net Survival"); they differ on hyphen/digit boundaries, which never
      // reach this column (SURVEY.md F3)
      .withColumn("survival_metric", initcap(col("survival_metric")))

    Ops.renameSelect(metricNamed, Seq(
      "Geography type" -> "AREA_TYPE",
      "Geography code" -> "AREA_CODE",
      "Geography name" -> "AREA_NAME",
      "area_core" -> "IS_AREA_CORE",
      "Cancer site" -> "CANCER_SITE",
      "Gender" -> "GENDER",
      "Standardisation type" -> "STANDARDISATION_TYPE",
      "standardisation_type_subcategory" -> "STANDARDISATION_TYPE_SUBCATEGORY",
      "Years since diagnosis" -> "YEARS_SINCE_DIAGNOSIS",
      "Patients" -> "PATIENT_NUMBERS",
      "survival_metric" -> "SURVIVAL_METRIC",
      "survival_per" -> "SURVIVAL_PERCENT",
      "date_diagnosis_window" -> "DATE_DIAGNOSIS_WINDOW",
      "date_snapshot" -> "DATE_SNAPSHOT"))
  }
}
