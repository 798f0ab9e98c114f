package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-config-driven tuning for the dedup family, replacing a
  * hard-coded constant with a corpus-size-scaled default (VERDICT r1 #10).
  *
  * Sizing rule (see SCALING.md): a shingle present in d docs emits
  * d·(d-1)/2 candidate pairs, so capping d at ~sqrt(2·corpusRows) keeps the
  * worst single shingle's fan-out at ~corpus-linear.
  */
object Tuning {

  /** `spark.graft.dedup.maxDocFreq` override, else sqrt(2·corpusRows). */
  def maxShingleDocFreq(spark: SparkSession, corpusRows: Long): Long =
    spark.conf.getOption("spark.graft.dedup.maxDocFreq").map(_.toLong).getOrElse {
      math.max(16L, math.sqrt(2.0 * corpusRows).toLong)
    }
}
