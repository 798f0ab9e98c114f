package graft.operators

import graft.functions.CleanFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** dim_dates generator (SURVEY §7.2 step 4). The reference builds the date
  * dimension row-by-row in Python (modules/data_loader.py:484-522); here it
  * is `sequence` + `explode` — the engine's one generator — with the F4
  * date-part family and a deterministic surrogate key.
  */
object DatesDim {

  /** Dates spanning [min(dateCol), max(dateCol)] of `src`. */
  def fromSpan(src: DataFrame, dateCol: String): DataFrame =
    build(src.agg(
      min(col(dateCol).cast(DateType)).as("lo"),
      max(col(dateCol).cast(DateType)).as("hi")))

  private def build(span: DataFrame): DataFrame = {
    // one gap-free sequence from lo: a date's id is its day offset + 1
    val days = span
      .select(explode(sequence(col("lo"), col("hi"))).as("full_date"), col("lo"))
      .select(col("full_date"),
        (datediff(col("full_date"), col("lo")) + 1).cast(LongType).as("date_id"))
    CleanFns.dateParts(col("full_date"))
      .foldLeft(days) { case (df, (n, c)) => df.withColumn(n, c) }
  }
}
