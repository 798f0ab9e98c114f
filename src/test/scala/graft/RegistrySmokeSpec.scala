package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs at sf0.001 and the driver contract holds.
  * (Value-level correctness is the DuckDB oracle gate — tools/compare.py.)
  */
class RegistrySmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique and oracles exist for the declared set") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql(TestSpark.sfDir).keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every row has a non-blank oracle and no oracle leaves a fragment uninterpolated") {
    // `${frag}` or `$frag` surviving into an oracle means a shared fragment
    // was pasted into a plain """ string that lacks the s prefix; SQL's own
    // dollars (`'$.k'`, `'^[a-z]+$'`) are never followed by `{` or a letter
    val leftover = """\$(\{|[A-Za-z_])""".r
    SparkEntry.registry.foreach { q =>
      val sql = q.oracle.getOrElse(fail(s"${q.name} has no oracle"))
      assert(sql.trim.nonEmpty, s"${q.name} has a blank oracle")
      leftover.findFirstIn(sql).foreach { hit =>
        fail(s"${q.name}: oracle contains uninterpolated '$hit'")
      }
    }
  }

  test("q_ab_chi2 returns a NULL statistic when a contingency margin is zero") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // no variant-0 (even id) user converts; in the first table no variant-1
    // user converts either (converted margin a + c = 0), the second has no
    // variant-1 users at all (margin c + d = 0)
    val tables = Seq(
      Seq((1L, 2L, "purchase", 100.0), (2L, 4L, "view", 0.0),
          (3L, 1L, "purchase", 150.0), (4L, 3L, "signup", 0.0)),
      Seq((1L, 2L, "purchase", 100.0), (2L, 4L, "view", 0.0)))
    tables.foreach { events =>
      val dir = java.nio.file.Files.createTempDirectory("graft-chi2").toString
      events.map { case (id, user, kind, value) => (id, ts, user, kind, value, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val rows = SparkEntry.registry.find(_.name == "q_ab_chi2").get
        .run(spark, dir).collect()
      assert(rows.length == 1)
      assert(rows.head.getLong(0) == 0L, "a variant-0 user converted")
      assert(rows.head.isNullAt(rows.head.fieldIndex("chi2")))
    }
  }

  SparkEntry.registry.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val n = q.run(spark, TestSpark.sfDir).count()
      assert(n >= 0)
    }
  }
}
