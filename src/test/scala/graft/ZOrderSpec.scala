package graft

import graft.airbnb.Warehouse
import graft.operators.ZOrder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("zValue interleaves bin bits (known 2-dim cases)") {
    // values 0..3 over 2 bits per dim: bins equal the values themselves
    val df = Seq((0L, 0L), (3L, 0L), (0L, 3L), (3L, 3L), (2L, 1L))
      .toDF("x", "y")
    val z = df.select(ZOrder.zValue(df, Seq("x", "y"), bits = 2).as("z"),
        $"x", $"y").collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(0)).toMap
    // interleave(x=b1b0, y=c1c0) = c1 b1 c0 b0
    assert(z((0L, 0L)) == 0L)   // 0000
    assert(z((3L, 0L)) == 5L)   // 0101
    assert(z((0L, 3L)) == 10L)  // 1010
    assert(z((3L, 3L)) == 15L)  // 1111
    assert(z((2L, 1L)) == 6L)   // x=10,y=01 → 0110
  }

  test("zValue degrades to a constant on empty input and all-NULL dimensions") {
    val empty = spark.range(0).select($"id".cast("double").as("x"), $"id".cast("double").as("y"))
    assert(ZOrder.cluster(empty, Seq("x", "y")).count() == 0) // no NPE
    val nulls = Seq((Option.empty[Double], 1.0), (Option.empty[Double], 2.0))
      .toDF("x", "y")
    val z = nulls.select(ZOrder.zValue(nulls, Seq("x", "y"), 2).as("z")).collect()
    assert(z.forall(!_.isNullAt(0))) // NULL dim bins to 0, z stays defined
  }

  /** Mean per-file span of `c`, as a fraction of its global span. */
  private def spanFrac(written: DataFrame, c: String): Double = {
    val byFile = written.groupBy(input_file_name())
      .agg((max(col(c)) - min(col(c))).cast("double").as("span"))
      .agg(avg($"span")).collect()(0).getDouble(0)
    val global = written.agg((max(col(c)) - min(col(c))).cast("double"))
      .collect()(0).getDouble(0)
    byFile / global
  }

  test("z-ordered write keeps BOTH dimensions file-local; 1-dim sort does not") {
    val ev = Tables.events(spark, TestSpark.sfDir)
      .select($"event_id", $"user_id", $"value")
    val root = java.nio.file.Files.createTempDirectory("wh-zorder").toString
    val wh = Warehouse(spark, root)

    wh.write("ev_z", ZOrder.cluster(ev, Seq("user_id", "value"), numPartitions = 16))
    val z = wh.read("ev_z")
    assert(z.count() == ev.count())

    // baseline: sorted by value only — value is file-local, user_id is not
    wh.write("ev_value_sorted",
      ev.repartitionByRange(16, $"value").sortWithinPartitions($"value"))
    val v = wh.read("ev_value_sorted")

    val zUser = spanFrac(z, "user_id"); val zVal = spanFrac(z, "value")
    val vUser = spanFrac(v, "user_id"); val vVal = spanFrac(v, "value")
    // the 1-dim layout leaves the other dimension at ~full span per file
    assert(vUser > 0.9, s"baseline user_id span $vUser")
    // z-order localizes BOTH dimensions well below full span
    assert(zUser < 0.5, s"z user_id span $zUser")
    assert(zVal < 0.5, s"z value span $zVal")
    assert(vVal <= zVal + 0.05, "1-dim sort should be at least as tight on its own column")
  }
}
