package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The scaling soak's entry point at factor 2 over the smallest fixtures:
  * every section runs, the rows that keep state across calls run warm at
  * both scales, storage is freed, and bad arguments fail before anything
  * is generated.
  */
class SoakSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private lazy val work = Files.createTempDirectory("soak-spec").toString

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new File(work)) finally super.afterAll()

  test("every registry-sweep name resolves in the registry") {
    val names = SparkEntry.registry.map(_.name).toSet
    assert(Soak.registryQueries.filterNot(names).isEmpty)
  }

  test("bad arguments fail before any dir is written") {
    val root = s"$work/rejected"
    def rejects(args: String*)(queries: Seq[String] = Soak.registryQueries): String =
      intercept[IllegalArgumentException](
        Soak.run(spark, TestSpark.sfDir, root, args, queries)).getMessage
    assert(rejects("2", "spne")().contains("'spne' is not a section"))
    assert(rejects("2", "gates", "gate_no_such_row")().contains("gate_no_such_row"))
    assert(rejects("2", "q_dedup_exact")(Seq("q_dedup_exact", "q_no_such_query"))
      .contains("q_no_such_query"))
    assert(rejects("1")().contains("factor"))
    assert(!new File(root).exists(), "a rejected run wrote to its work root")
  }

  test("one row per section runs warm at both scales and frees its storage") {
    val rows = Seq("q_a1_weekly_agg", "skew_salted_x8", "etl_first_load",
      "etl_idempotent_rerun", "curation_boilerplate_rm", "compose_dedup_closure",
      "gate_substring_localbatch", "gate_knn_graph_localbatch")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val out = Soak.run(spark, TestSpark.sfDir, s"$work/run",
      Seq("2", "registry", "skew", "etl", "dedup", "spine", "gates") ++ rows)
    info(f"soak wall ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(out.map(_.name) == rows)
    out.foreach { t =>
      assert(t.small > 0 && t.big > 0 && !t.small.isInfinite && !t.big.isInfinite, t)
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the soak left ${left.size} RDDs stored")
    assert(!new File(s"$work/run/tmp").exists(), "row scratch dirs outlived the run")
  }

  test("the events copy is the base shifted per copy, and a partial table is redone") {
    val dst = s"$work/events"
    // an interrupted earlier write: data but no _SUCCESS
    val partial = new File(s"$dst/events.parquet")
    partial.mkdirs()
    Files.write(new File(partial, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
    Soak.generate(spark, TestSpark.sfDir, dst, 2, Seq("events"))
    val base = Tables.load(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val copy = Tables.load(spark, dst, "events")
    assert(copy.schema("ts").dataType == base.schema("ts").dataType)
    val M = 100000000L
    (0 until 2).foreach { i =>
      val unshifted = copy.filter(col("event_id") >= i * M && col("event_id") < (i + 1) * M)
        .select((col("event_id") - i * M).as("event_id"),
          (col("user_id") - i * 1000L).as("user_id"), col("ts"))
      assert(unshifted.count() == base.count())
      assert(unshifted.exceptAll(base).isEmpty && base.exceptAll(unshifted).isEmpty, s"copy $i")
    }
  }

  test("lint: no soak env vars under src") {
    // split so this file does not match itself
    val banned = "SPARK_GRAFT_" + "SOAK_"
    val root = new File("src")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(d: File): Seq[File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = files(root).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains(banned) finally src.close()
    }
    assert(hits.isEmpty, hits.mkString(s"$banned found in:\n", "\n", ""))
  }
}
