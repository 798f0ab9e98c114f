package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MERGE-upsert re-expressed for an immutable columnar store (SURVEY J7).
  *
  * The reference runs `MERGE INTO dim_listings USING staging ON
  * target.listing_id = src.listing_id WHEN MATCHED UPDATE / WHEN NOT MATCHED
  * INSERT` with `OUTPUT $action` counts
  * (/root/reference/modules/data_loader.py:251-310). Spark has no mutable
  * tables, so the same semantics become: union both sides, keep the staging
  * row where a key collides (latest-wins window), and tag each surviving row
  * with the MERGE action for the reference's inserted/updated reconciliation
  * counts (A10, modules/data_loader.py:345-356).
  *
  * Scale: one shuffle on the merge keys (the window and the dedup share it).
  * At 100 TB the `current` side is the big one; the shuffle is unavoidable
  * for a key-collision merge, but there is exactly one, and writing the
  * result partitioned by the same key keeps subsequent merges co-located.
  */
object Upsert {

  /** @param staging new/changed rows (wins on key collision)
    * @param current existing table
    * @param keys    merge key columns (equal schemas on both sides)
    * @return one row per key with `action` ∈ insert | update | keep
    */
  def merge(staging: DataFrame, current: DataFrame, keys: Seq[String]): DataFrame = {
    val u = staging.withColumn("__pri", lit(0))
      .unionByName(current.withColumn("__pri", lit(1)))
    val keyCols = keys.map(col)
    // Deterministic survivor among duplicate STAGING rows for one key: break
    // the __pri tie on the remaining columns (a bare ORDER BY __pri made the
    // winner partition-order-dependent).
    val tieBreak = staging.columns.filterNot(keys.contains).map(col).toSeq
    val w  = Window.partitionBy(keyCols: _*).orderBy(col("__pri") +: tieBreak: _*)
    val wk = Window.partitionBy(keyCols: _*)
    // update vs insert is decided by CURRENT-side presence (max __pri over the
    // key), not by key multiplicity: a key staged twice but absent from
    // current is an insert, despite its count > 1.
    u.withColumn("__rn", row_number().over(w))
      .withColumn("__hascur", max(col("__pri")).over(wk))
      .filter(col("__rn") === 1)
      .withColumn("action",
        when(col("__pri") === 1, lit("keep"))
          .when(col("__hascur") === 1, lit("update"))
          .otherwise(lit("insert")))
      .drop("__pri", "__rn", "__hascur")
  }
}
