package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The union-free generalisation combinators must equal the self-union
  * formulation they replace, kept here only as the oracle; and the two
  * pipelines built from them must plan one scan of the staged sheet. */
class OpsEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** R1 as a self-union: filter the matches, override, append. */
  private def unionDuplicate(df: DataFrame, pred: Column, overrides: Map[String, Column]) =
    df.unionByName(overrides.foldLeft(df.filter(pred)) { case (acc, (c, v)) => acc.withColumn(c, v) })

  /** R2 as a self-union: keep the non-matches, append the overridden matches. */
  private def unionReplace(df: DataFrame, pred: Column, overrides: Map[String, Column]) =
    df.filter(!(pred <=> true))
      .unionByName(overrides.foldLeft(df.filter(pred)) { case (acc, (c, v)) => acc.withColumn(c, v) })

  private def samples[T](g: Gen[List[T]], n: Int): Seq[List[T]] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default.withSize(30), Seed(42L + i)))

  private val rowGen = for {
    s <- Gen.option(Gen.oneOf("Breast", "Larynx", "Lung"))
    g <- Gen.option(Gen.oneOf("Persons", "Male", "Female"))
    v <- Gen.choose(0L, 99L)
  } yield (s, g, v, "")

  private def frames: Seq[DataFrame] =
    samples(Gen.nonEmptyListOf(rowGen), 6).map(_.toDF("Cancer site", "Gender", "v", "label"))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema === want.schema)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted
    assert(rows(got) === rows(want))
  }

  private val breastFemale = col("Cancer site") === "Breast" && col("Gender") === "Female"

  test("equal to the union formulation, NULL predicates included") {
    val overrides = Map("Gender" -> lit("Persons"))
    for (df <- frames) {
      assertSameRows(Ops.duplicateWhere(df, breastFemale, overrides), unionDuplicate(df, breastFemale, overrides))
      assertSameRows(Ops.replaceWhere(df, breastFemale, overrides), unionReplace(df, breastFemale, overrides))
    }
  }

  test("a predicate reading the column it overrides is evaluated before any override") {
    // the second and third overrides run after Gender has changed on the
    // copy: they must still apply, and `label` sees the overridden Gender
    val overrides = Map(
      "Gender" -> lit("Persons"),
      "v" -> (col("v") + 100),
      "label" -> concat(col("Gender"), lit("*")))
    for (df <- frames) {
      assertSameRows(Ops.duplicateWhere(df, breastFemale, overrides), unionDuplicate(df, breastFemale, overrides))
      assertSameRows(Ops.replaceWhere(df, breastFemale, overrides), unionReplace(df, breastFemale, overrides))
    }
  }

  test("chained rules: a copy made by one rule matches a later rule") {
    val toPersons = Map("Gender" -> lit("Persons"))
    val persons = col("Gender") === "Persons"
    val toAll = Map("Cancer site" -> lit("All sites"))
    for (df <- frames) {
      val fused = Ops.replaceWhere(
        Ops.duplicateWhere(Ops.duplicateWhere(df, breastFemale, toPersons), persons, toAll),
        col("Cancer site") === "All sites", Map("label" -> lit("rolled up")))
      val oracle = unionReplace(
        unionDuplicate(unionDuplicate(df, breastFemale, toPersons), persons, toAll),
        col("Cancer site") === "All sites", Map("label" -> lit("rolled up")))
      assertSameRows(fused, oracle)
    }
  }

  test("an override naming a missing column fails loudly") {
    val e = intercept[IllegalArgumentException](
      Ops.duplicateWhere(frames.head, breastFemale, Map("Sex" -> lit("Persons"))))
    assert(e.getMessage.contains("Sex"))
  }

  /** A staged sheet as Runner stages it: one RDD-backed leaf. */
  private def staged(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq.empty[Row]), schema)

  private def assertOneScanNoUnion(out: DataFrame): Unit = {
    val plan = out.queryExecution.optimizedPlan
    assert(plan.collectLeaves().size === 1, plan.treeString)
    assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
  }

  test("IndexPipeline and Adult4Pipeline plan one leaf scan and no Union") {
    val targets = Schemas.defaultTargetGeographies
    assertOneScanNoUnion(IndexPipeline(staged(Schemas.rawIndexSheet), targets))
    assertOneScanNoUnion(Adult4Pipeline(staged(Schemas.rawAdultSheet), targets, "2017-2021", None))
  }
}
