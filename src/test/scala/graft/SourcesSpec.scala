package graft

import graft.airbnb.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("jsonl sink/source round-trips hostile content byte-exact") {
    // quotes, backslashes, embedded newlines/tabs, non-ASCII, emoji, empty
    // and null — everything a real web corpus throws at a JSONL writer
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/out"
    val rows = Seq(
      (1L, "plain ascii"),
      (2L, "he said \"quote\" and used a \\ backslash"),
      (3L, "line one\nline two\ttabbed"),
      (4L, "Cécile in Zürich — naïve façade é́"),
      (5L, "emoji 😀 and CJK 中文"),
      (6L, ""),
      (7L, null))
    val df = rows.toDF("id", "t")
    graft.airbnb.Sources.writeJsonl(df, dir)
    val back = graft.airbnb.Sources.readJsonl(spark, df.schema, dir + "/*.json.gz")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(_._1)
    assert(back.toSeq == rows.sortBy(_._1))
  }

  test("pipe-separated gz sink/scan round-trips (S4/S7)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString + "/out"
    val df = Seq(("1", "a|b was escaped? no — use clean values", "x"),
                 ("2", "plain", "y")).toDF("id", "t", "u")
      .select($"id", regexp_replace($"t", "\\|", "/").as("t"), $"u")
    Sources.writePipeCsv(df, dir)
    val back = Sources.readPipeCsv(spark, dir)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "t", "u"))
    // gzip actually applied
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".csv.gz")))
  }

  private def writeGz(f: java.io.File, text: String): Unit = {
    val w = new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f)), "UTF-8")
    try w.write(text) finally w.close()
  }

  /** Spark's own schema inference for the same read. */
  private def inferred(path: String, sep: String) =
    spark.read.option("header", "true").option("sep", sep)
      .option("multiLine", "true").option("escape", "\"").csv(path)

  test("csv feeds plan with no job and keep Spark's inferred header") {
    val root = java.nio.file.Files.createTempDirectory("graft-header").toFile
    Seq("," -> Sources.readRawCsv _, "|" -> Sources.readPipeCsv _).foreach { case (sep, read) =>
      val d = new java.io.File(root, if (sep == ",") "comma" else "pipe")
      d.mkdirs()
      def line(cells: String*) = cells.mkString(sep) + "\n"
      // the first file in glob order holds no record, so the header comes
      // from the next one: a quoted name holding a comma, a duplicate name
      // (case-insensitively) and a blank one
      writeGz(new java.io.File(d, "a_empty.csv.gz"), "")
      writeGz(new java.io.File(d, "b_city.csv.gz"),
        line("id", "\"name, full\"", "dup", "DUP", "", "note") +
        line("1", "\"x, y\"", "a", "b", "", "\"two\nlines\""))
      writeGz(new java.io.File(d, "c_city.csv.gz"),
        line("other", "names", "in", "this", "file", "too") +
        line("2", "z", "c", "d", "e", "f"))
      val glob = s"$d/*.csv.gz"
      val (df, jobs) = TestSpark.jobSitesDuring(read(spark, glob))
      assert(jobs.isEmpty, s"sep '$sep': planning fired ${TestSpark.bySite(jobs)}")
      val spark0 = inferred(glob, sep)
      assert(df.schema == spark0.schema)
      assert(df.columns.toSeq == Seq("id", "name, full", "dup2", "DUP3", "_c4", "note"))
      assert(df.collect().toSeq.sortBy(_.getString(0)) ==
        spark0.collect().toSeq.sortBy(_.getString(0)))
    }
    // a directory of part files (the S7 sink's layout)
    val sink = new java.io.File(root, "sink").toString
    Sources.writePipeCsv(Seq(("1", "a"), ("2", "b")).toDF("id", "t"), sink)
    val (df, jobs) = TestSpark.jobSitesDuring(Sources.readPipeCsv(spark, sink))
    assert(jobs.isEmpty && df.schema == inferred(sink, "|").schema,
      s"${TestSpark.bySite(jobs)}, ${df.schema}")
    // no match: Spark's own error
    intercept[org.apache.spark.sql.AnalysisException](
      Sources.readRawCsv(spark, s"$root/none/*.csv.gz"))
  }

  test("tolerant projection keeps intersection and backfills missing (P2)") {
    val df = Seq(("1", "x")).toDF("id", "extra")
    val out = Sources.tolerantProject(df, Seq("id", "missing_col"))
    assert(out.columns.toSeq == Seq("id", "missing_col"))
    assert(out.collect().head.isNullAt(1))
  }

  test("quarantine splits valid rows from rejects incl. null predicates (S6)") {
    val df = Seq("1", "2", "oops", null).toDF("id")
    val (ok, bad) = Sources.quarantine(df, $"id".try_cast("long").isNotNull)
    assert(ok.count() == 2)
    assert(bad.count() == 2) // 'oops' and null both quarantined
  }
}
