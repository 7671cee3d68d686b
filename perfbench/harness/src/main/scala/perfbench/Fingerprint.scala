package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, MapType}

/** Order-insensitive output fingerprint: row count plus the sum of a 64-bit
  * hash of every row over all columns, taken in column-name order so a
  * reordered projection still matches. Maps hash over their sorted entries,
  * because their entry order is not part of a result. */
object Fingerprint {
  private def normalized(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** `rows:hashsum`, computed by one aggregation job over `df`. */
  def of(df: DataFrame): String = {
    val fields = df.schema.fields.toSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val positional = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cols = fields.map { case (f, i) => normalized(col(s"_c$i"), f.dataType) }
    val row = positional
      .select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)).cast(DecimalType(38, 0))))
      .head()
    s"${row.getLong(0)}:${row.getDecimal(1).toPlainString}"
  }
}
