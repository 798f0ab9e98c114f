package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys (SURVEY §4 / the 100 TB playbook; AQE's
  * skew-join handles sort-merge skew automatically, but salting is the
  * explicit, planner-independent form and the only option when the skewed
  * side feeds an aggregation).
  *
  * The skewed (big) side gets a random salt in [0, saltFactor); the small
  * side is replicated once per salt value. Hot keys then spread over
  * saltFactor reducers instead of one straggler task.
  */
object SkewJoin {

  /** @param big   skewed side (salted with rand — seed fixed for tests)
    * @param small side to replicate (its rows appear saltFactor times)
    * @param key   equi-join key column present on both sides
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltFactor: Int, seed: Long = 42L): DataFrame = {
    val salted = big.withColumn("__salt", (rand(seed) * saltFactor).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
