package graft

import graft.airbnb.Warehouse
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class WarehouseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S11 script runner executes statements, tolerates only DROP failures") {
    val wh = Warehouse(spark, java.nio.file.Files.createTempDirectory("wh").toString)
    wh.runScript("""
      DROP VIEW IF EXISTS t_script;
      DROP VIEW does_not_exist_but_drop_is_tolerated;
      CREATE TEMPORARY VIEW t_script AS SELECT 1 AS a, 2 AS b;
      SELECT * FROM t_script""")
    assert(spark.table("t_script").count() == 1)
    intercept[Exception] { wh.runScript("SELECT * FROM definitely_missing_table") }
  }

  test("small-files compaction merges fragments, preserves data, and is idempotent") {
    val wh = Warehouse(spark, java.nio.file.Files.createTempDirectory("wh-compact").toString)
    // 64 tiny files of 1000 rows
    val df = spark.range(0, 1000).select($"id", ($"id" % 7).as("k"))
    wh.write("frag", df.repartition(64))
    val before = wh.read("frag")
      .inputFiles.length
    assert(before == 64, s"fixture should be fragmented, got $before files")
    val after = wh.compactSmallFiles("frag", targetBytes = 512L << 20)
    assert(after < 8, s"compaction left $after files")
    // data identical after the rewrite
    val back = wh.read("frag").orderBy($"id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.toSeq == (0L until 1000L).map(i => (i, i % 7)))
    // healthy table: second call is a no-op at the same count
    assert(wh.compactSmallFiles("frag", targetBytes = 512L << 20) == after)
  }

  test("write swap recovers from every crash window (roll forward / roll back)") {
    import java.io.File
    val root = java.nio.file.Files.createTempDirectory("wh-crash").toString
    val wh = Warehouse(spark, root)
    wh.write("t", spark.range(5).toDF("id"))
    assert(wh.read("t").count() == 5)

    // crash AFTER parking current and BEFORE promoting a complete __tmp:
    // next access must roll FORWARD to the new version
    spark.range(9).toDF("id").write.parquet(s"$root/t__tmp")
    assert(new File(s"$root/t__tmp/_SUCCESS").exists)
    assert(new File(s"$root/t").renameTo(new File(s"$root/t__old")))
    assert(wh.read("t").count() == 9)
    assert(!new File(s"$root/t__tmp").exists && !new File(s"$root/t__old").exists)

    // crash MID-WRITE (no _SUCCESS) with current parked: roll BACK
    spark.range(3).toDF("id").write.parquet(s"$root/t__tmp")
    assert(new File(s"$root/t__tmp/_SUCCESS").delete())
    assert(new File(s"$root/t").renameTo(new File(s"$root/t__old")))
    assert(wh.read("t").count() == 9)

    // stray dirs next to a healthy table are garbage-collected
    spark.range(2).toDF("id").write.parquet(s"$root/t__tmp")
    assert(wh.read("t").count() == 9)
    assert(!new File(s"$root/t__tmp").exists)

    // a normal overwrite still works after all that
    wh.write("t", spark.range(7).toDF("id"))
    assert(wh.read("t").count() == 7)
  }

  test("migrateColumnTypes widens in place, quarantines unconvertible rows") {
    val wh = Warehouse(spark, java.nio.file.Files.createTempDirectory("wh-mig").toString)
    // staging-shaped table: all-string ids, one non-numeric (the exact case
    // convert_ids_to_bigint.py exists for)
    val df = Seq(
      ("1", "h1", "x"), ("2", "h2", "y"), ("oops", "h3", "z"),
      (null.asInstanceOf[String], "h4", "w"))
      .toDF("listing_id", "host_id", "payload")
    wh.write("staging", df)
    val nBad = wh.migrateColumnTypes("staging", Map("listing_id" -> "BIGINT"))
    assert(nBad == 1L)
    val out = wh.read("staging")
    // column order and unnamed columns preserved; type actually widened
    assert(out.columns.toSeq == Seq("listing_id", "host_id", "payload"))
    assert(out.schema("listing_id").dataType == org.apache.spark.sql.types.LongType)
    // NULL source survives (null is not a cast failure); bad row removed
    assert(out.orderBy("host_id").collect().map(r => (r.get(0), r.getString(1))).toSeq ==
      Seq((1L, "h1"), (2L, "h2"), (null, "h4")))
    // quarantine carries the ORIGINAL (string) values for triage
    val rej = wh.read("staging__rejects")
    assert(rej.schema("listing_id").dataType == org.apache.spark.sql.types.StringType)
    assert(rej.collect().map(_.getString(0)).toSeq == Seq("oops"))
    // widening-only second migration quarantines nothing, keeps the data,
    // and leaves the PREVIOUS quarantine intact (append-only: an overwrite
    // here would destroy the only remaining copy of the bad row)
    assert(wh.migrateColumnTypes("staging", Map("listing_id" -> "BIGINT")) == 0L)
    assert(wh.read("staging").count() == 3L)
    assert(wh.read("staging__rejects").collect().map(_.getString(0)).toSeq == Seq("oops"))
    // unknown column fails loudly, not silently
    intercept[IllegalArgumentException] {
      wh.migrateColumnTypes("staging", Map("nope" -> "BIGINT"))
    }
    // quarantine target aliasing the source is a data-loss typo — refused
    intercept[IllegalArgumentException] {
      wh.migrateColumnTypes("staging", Map("host_id" -> "BIGINT"),
        quarantineTo = "staging")
    }
  }

  test("archiveAndTruncate parks rows in table + csv before clearing") {
    val root = java.nio.file.Files.createTempDirectory("wh-arch").toString
    val wh = Warehouse(spark, root)
    val df = Seq((1L, "a|b"), (2L, "plain")).toDF("id", "v")
    wh.write("staging", df)
    val csvDir = java.nio.file.Files.createTempDirectory("wh-arch-csv").toString
    val arch = wh.archiveAndTruncate("staging", "20240101T000000Z", csvDir)
    assert(arch == "staging_archive_20240101T000000Z")
    // original gone, archive table has the rows
    assert(!wh.exists("staging"))
    assert(wh.read(arch).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a|b"), (2L, "plain")))
    // csv export roundtrips through the S7/S4 pipe-gz reader (quoting intact)
    val back = graft.airbnb.Sources.readPipeCsv(spark,
        s"$csvDir/staging_20240101T000000Z")
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1)))
    assert(back.toSeq == Seq(("1", "a|b"), ("2", "plain")))
  }

  test("truncateAll clears swap strays so recover() cannot resurrect data") {
    import java.io.File
    val root = java.nio.file.Files.createTempDirectory("wh-trunc").toString
    val wh = Warehouse(spark, root)
    wh.write("dim_listings", spark.range(4).toDF("id"))
    // simulate a crash that parked the table and left a complete __tmp
    spark.range(9).toDF("id").write.parquet(s"$root/dim_listings__tmp")
    assert(new File(s"$root/dim_listings").renameTo(new File(s"$root/dim_listings__old")))
    wh.truncateAll()
    assert(!wh.exists("dim_listings")) // no roll-forward resurrection
    assert(!new File(s"$root/dim_listings__tmp").exists)
    assert(!new File(s"$root/dim_listings__old").exists)
  }

  test("writePartition appends one partition, leaves others, replays idempotently") {
    val root = java.nio.file.Files.createTempDirectory("wh-part").toString
    val wh = graft.airbnb.Warehouse(spark, root)
    wh.writePartition("vecs", "batch_id", 0L,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    wh.writePartition("vecs", "batch_id", 1L,
      Seq((3L, "c")).toDF("id", "v"))
    // partition discovery re-attaches batch_id; both partitions visible
    val got = wh.read("vecs").select(col("id"), col("v"),
        col("batch_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L)))
    // a REPLAY of batch 1 overwrites ONLY batch 1 — batch 0 rows untouched,
    // no duplicates (the foreachBatch idempotence contract, no dedupe pass)
    wh.writePartition("vecs", "batch_id", 1L,
      Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    val got2 = wh.read("vecs").select(col("id"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)))
    // partition pruning: a batch_id filter reaches the scan as a
    // PartitionFilter (the gate's history read is O(read partitions))
    val scan = wh.read("vecs").filter(col("batch_id") < 1)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
    assert(scan.partitionFilters.nonEmpty)
    // a crash BETWEEN temp write and rename leaves a SIBLING temp dir
    // (outside the table root — an in-root dir with data files would join
    // partition discovery) that readers never see and a replay overwrites
    val stray = new java.io.File(s"$root/vecs__ptmp_batch_id=2")
    stray.mkdirs()
    assert(wh.read("vecs").count() == 4)
    wh.writePartition("vecs", "batch_id", 2L, Seq((9L, "z")).toDF("id", "v"))
    assert(wh.read("vecs").count() == 5 && !stray.exists())
    // a crash AFTER parking the previous partition (sibling park dir,
    // data preserved — never delete-before-rename): the FIRST read ROLLS
    // THE PARK BACK (r19 recover() heal — pre-r19 readers saw the
    // partition as missing until the replay rewrote it, which destroyed
    // the only copy for read-modify-write callers), then the replay
    // overwrites the partition as usual
    val destDir = new java.io.File(s"$root/vecs/batch_id=2")
    assert(destDir.renameTo(new java.io.File(s"$root/vecs__pold_batch_id=2")))
    assert(wh.read("vecs").count() == 5) // park healed back into the table
    assert(!new java.io.File(s"$root/vecs__pold_batch_id=2").exists())
    wh.writePartition("vecs", "batch_id", 2L, Seq((9L, "z")).toDF("id", "v"))
    assert(wh.read("vecs").count() == 5)
    assert(!new java.io.File(s"$root/vecs__pold_batch_id=2").exists())
    // compaction on the PARTITIONED layout compacts per partition dir —
    // the layout survives (no root-level files) and every row remains
    wh.writePartition("vecs", "batch_id", 3L,
      spark.range(0, 64).selectExpr("id", "CAST(id AS STRING) AS v")
        .repartition(16))
    val beforeFiles = new java.io.File(s"$root/vecs/batch_id=3")
      .listFiles().count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(beforeFiles == 16)
    wh.compactSmallFiles("vecs", targetBytes = 512L << 20)
    val afterFiles = new java.io.File(s"$root/vecs/batch_id=3")
      .listFiles().count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(afterFiles < 16, s"partition not compacted: $afterFiles files")
    assert(!new java.io.File(s"$root/vecs").listFiles().exists(_.isFile),
      "compaction flattened the partitioned layout into root-level files")
    assert(wh.read("vecs").count() == 5 + 64)
    assert(wh.read("vecs").filter(col("batch_id") === 3).count() == 64)
  }

  test("writePartitions swaps touched partitions only; mixed layouts fail loudly") {
    val root = java.nio.file.Files.createTempDirectory("wh-parts").toString
    val wh = graft.airbnb.Warehouse(spark, root)
    wh.writePartitions("edges", "cell",
      Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L)).toDF("node", "cell"))
    def got() = wh.read("edges").select(col("node"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got() == Set((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L)))
    // rewrite cells 0 and 2 in one call: cell 1 is untouched ON DISK (the
    // touched-range contract), not merely value-equal after a full rewrite
    val c1Before = new java.io.File(s"$root/edges/cell=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    wh.writePartitions("edges", "cell",
      Seq((9L, 0L), (8L, 2L), (7L, 2L)).toDF("node", "cell"))
    assert(got() == Set((9L, 0L), (3L, 1L), (8L, 2L), (7L, 2L)))
    val c1After = new java.io.File(s"$root/edges/cell=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(c1After == c1Before, "untouched partition was rewritten")
    // crash drills: a stray multi-temp dir is swept; a parked partition
    // heals on replay exactly like writePartition's windows
    new java.io.File(s"$root/edges__ptmp_multi/cell=5").mkdirs()
    wh.writePartitions("edges", "cell", Seq((5L, 3L)).toDF("node", "cell"))
    assert(got().contains((5L, 3L)) &&
      !new java.io.File(s"$root/edges__ptmp_multi").exists())
    // the PARK-WITHOUT-PROMOTE window (death between the two renames):
    // the partition is absent from the table and its only copy sits at
    // the __pold_ sibling. The next read()/write must ROLL IT BACK, not
    // read the partition as empty (and never sweep the park as a stray —
    // that would destroy the last copy a read-modify-write caller needs)
    assert(new java.io.File(s"$root/edges/cell=1")
      .renameTo(new java.io.File(s"$root/edges__pold_cell=1")))
    assert(got().contains((3L, 1L)), "parked partition must heal on read")
    assert(new java.io.File(s"$root/edges/cell=1").exists() &&
      !new java.io.File(s"$root/edges__pold_cell=1").exists())
    // MIXED-LAYOUT GUARD: a root-level data file (the write() layout)
    // must reject per-partition writes BEFORE any bytes move — partition
    // discovery over the mix breaks every later read
    val flat = wh.read("edges").select(col("node"),
      col("cell").cast("long").as("cell")).localCheckpoint(true)
    wh.write("edges", flat) // whole-table, unpartitioned: cell is now a data column
    val ex = intercept[IllegalStateException] {
      wh.writePartitions("edges", "cell", Seq((6L, 4L)).toDF("node", "cell"))
    }
    assert(ex.getMessage.contains("mixed layout"))
    intercept[IllegalStateException] {
      wh.writePartition("edges", "cell", 4L, Seq(6L).toDF("node"))
    }
    // the documented repair: ONE whole-table rewrite that keeps the
    // layout, after which per-partition writes are valid again
    wh.write("edges", flat, partitionBy = Seq("cell"))
    wh.writePartitions("edges", "cell", Seq((6L, 4L)).toDF("node", "cell"))
    assert(got() == Set((9L, 0L), (3L, 1L), (8L, 2L), (7L, 2L), (5L, 3L), (6L, 4L)))
    // and a WRONG partition column on a partitioned table rejects too
    val ex2 = intercept[IllegalStateException] {
      wh.writePartition("edges", "batch_id", 0L, Seq(1L).toDF("node"))
    }
    assert(ex2.getMessage.contains("one partition column"))
  }

  test("append adds files beside the existing ones and heals every crash window") {
    import java.io.File
    val root = java.nio.file.Files.createTempDirectory("wh-append").toString
    val wh = Warehouse(spark, root)
    def dataFiles(dir: String): Set[String] =
      Option(new File(dir).listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) dataFiles(f.getPath).map(n => s"${f.getName}/$n")
        else if (f.getName.endsWith(".parquet")) Seq(f.getName) else Nil
      }.toSet
    def ids() = wh.read("t").select(col("id")).as[Long].collect().toSeq
    wh.append("t", spark.range(0, 10).select(col("id"), (col("id") % 2).as("k")),
      partitionBy = Seq("k"))
    val first = dataFiles(s"$root/t")
    wh.append("t", spark.range(10, 15).select(col("id"), (col("id") % 2).as("k")),
      partitionBy = Seq("k"))
    assert(first.subsetOf(dataFiles(s"$root/t")), "an append rewrote existing files")
    assert(ids().sorted == (0L until 15L))
    assert(!new File(s"$root/t__atmp").exists)

    // crash MID-WRITE (no _SUCCESS): the staging dir is dropped, rows unchanged
    spark.range(100, 110).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(s"$root/t__atmp")
    assert(new File(s"$root/t__atmp/_SUCCESS").delete())
    assert(ids().sorted == (0L until 15L))
    assert(!new File(s"$root/t__atmp").exists)

    // crash while PROMOTING: k of n files already moved, staging complete →
    // roll forward to exactly n, no duplicate rows
    spark.range(200, 240).select(col("id"), (col("id") % 2).as("k")).repartition(4)
      .write.partitionBy("k").parquet(s"$root/t__atmp")
    val staged = dataFiles(s"$root/t__atmp").toSeq.sorted
    assert(staged.size > 3, staged.toString)
    staged.take(3).foreach { rel =>
      assert(new File(s"$root/t__atmp/$rel").renameTo(new File(s"$root/t/$rel")))
    }
    assert(ids().sorted == (0L until 15L) ++ (200L until 240L))
    assert(!new File(s"$root/t__atmp").exists)
    assert(staged.toSet.subsetOf(dataFiles(s"$root/t")))

    // a partitioned append into a table with root data files fails loudly,
    // before any bytes move
    wh.write("flat", spark.range(5).select(col("id"), (col("id") % 2).as("k")))
    val ex = intercept[IllegalStateException] {
      wh.append("flat", spark.range(5, 6).select(col("id"), (col("id") % 2).as("k")),
        partitionBy = Seq("k"))
    }
    assert(ex.getMessage.contains("mixed layout") &&
      ex.getMessage.contains("partitionBy = Seq(\"k\")"), ex.getMessage)
    assert(!new File(s"$root/flat__atmp").exists && wh.read("flat").count() == 5)
    // ... as do an unpartitioned append into a partitioned table and a
    // schema that differs from the table's
    intercept[IllegalStateException] {
      wh.append("t", spark.range(1).select(col("id"), col("id").as("k")))
    }
    intercept[IllegalArgumentException] {
      wh.append("flat", spark.range(1).select(col("id"), col("id").cast("string").as("k")))
    }
    assert(wh.read("flat").count() == 5 && ids().size == 55)

    // truncateAll drops the enriched tables and each table's pending
    // append: no roll-forward of pre-drop rows into the recreated table
    wh.append("fact_reviews_enriched", spark.range(3).toDF("id"))
    spark.range(300, 302).toDF("id").write.parquet(s"$root/fact_reviews_enriched__atmp")
    wh.truncateAll()
    assert(!new File(s"$root/fact_reviews_enriched").exists &&
      !new File(s"$root/fact_reviews_enriched__atmp").exists)
    wh.append("fact_reviews_enriched", spark.range(7, 8).toDF("id"))
    assert(wh.read("fact_reviews_enriched").as[Long].collect().toSeq == Seq(7L))
  }

  test("compaction after appends shrinks each partition and keeps appends valid") {
    import java.io.File
    val root = java.nio.file.Files.createTempDirectory("wh-append-compact").toString
    val wh = Warehouse(spark, root)
    // two tasks per batch, each seeing both years: every append adds two
    // files to each partition
    def batch(lo: Long) = spark.range(lo, lo + 40).repartition(2)
      .select(col("id"), (col("id") % 3).as("v"), (col("id") % 2 + 2023).as("review_year"))
    def append(lo: Long) = wh.append("t", batch(lo), partitionBy = Seq("review_year"))
    def filesPerPartition() = new File(s"$root/t").listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    def rows() = wh.read("t").select(col("id"), col("v"), col("review_year").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Seq(0L, 100L, 200L).foreach(append)
    val before = filesPerPartition()
    val rowsBefore = rows()
    assert(before.keySet == Set("review_year=2023", "review_year=2024"), before)
    assert(before.values.forall(_ > 1), s"fixture should be fragmented: $before")
    wh.compactSmallFiles("t", targetBytes = 512L << 20)
    val after = filesPerPartition()
    assert(after.keySet == before.keySet)
    before.foreach { case (p, n) => assert(after(p) < n, s"$p not compacted: $after") }
    assert(rows() == rowsBefore && rowsBefore.size == 120)
    assert(!new File(s"$root/t").listFiles().exists(_.isFile),
      "compaction left a root-level file")
    val strays = new File(root).list().filter(n => Seq("t__ptmp_", "t__pold_", "t__tmp")
      .exists(n.startsWith))
    assert(strays.isEmpty, strays.mkString(", "))
    // a fourth append passes the schema and layout checks on the compacted table
    append(300L)
    assert(rows().size == 160)
  }

  test("a partitioned write or append is read back with no footer job, as inferred") {
    val root = java.nio.file.Files.createTempDirectory("wh-pschema").toString
    val wh = Warehouse(spark, root)
    val df = spark.range(0, 40).select($"id", ($"id" % 3).as("year"),
      ($"id" % 2 === 0).as("flag"), $"id".cast("string").as("s"))
    wh.write("by_year", df, partitionBy = Seq("year"))
    wh.write("by_flag", df, partitionBy = Seq("flag"))
    wh.append("appended", df, partitionBy = Seq("year"))
    Seq("by_year", "by_flag", "appended").foreach { t =>
      val (cached, jobs) = TestSpark.jobSitesDuring(wh.read(t).schema)
      assert(jobs.isEmpty, s"$t: reading fired ${TestSpark.bySite(jobs)}")
      val rows = wh.read(t).orderBy("id").collect().toSeq
      Warehouse.schemaCache.remove(s"$root/$t")
      val fresh = wh.read(t)
      assert(cached == fresh.schema, s"$t: $cached != ${fresh.schema}")
      assert(rows == fresh.orderBy("id").collect().toSeq)
    }
    // partition-value inference stays the read contract: a boolean
    // partition column reads back as string
    assert(wh.read("by_flag").schema("flag").dataType == org.apache.spark.sql.types.StringType)
  }

  test("a partition write whose data columns differ from the table's is refused") {
    val root = java.nio.file.Files.createTempDirectory("wh-pcols").toString
    val wh = Warehouse(spark, root)
    wh.writePartition("t", "batch_id", 0L, Seq((1L, "a")).toDF("id", "v"))
    val table = wh.read("t").schema
    val other = Seq((2L, 3)).toDF("id", "w")
    val ex = intercept[IllegalArgumentException] {
      wh.writePartition("t", "batch_id", 1L, other)
    }
    assert(ex.getMessage.contains("differs from the table's"), ex.getMessage)
    val ex2 = intercept[IllegalArgumentException] {
      wh.writePartitions("t", "batch_id", other.withColumn("batch_id", lit(1L)))
    }
    assert(ex2.getMessage.contains("differs from the table's"), ex2.getMessage)
    assert(Seq("t/batch_id=1", "t__ptmp_batch_id=1", "t__ptmp_multi")
      .forall(d => !new java.io.File(s"$root/$d").exists()))
    assert(wh.read("t").schema == table)
    // rewriting the table's only partition may change its columns
    wh.writePartition("t", "batch_id", 0L, other)
    assert(wh.read("t").columns.toSeq == Seq("id", "w", "batch_id"))
    // a schema inferred from the footers holds later writes the same way
    Warehouse.schemaCache.remove(s"$root/t")
    assert(wh.read("t").columns.toSeq == Seq("id", "w", "batch_id"))
    intercept[IllegalArgumentException] {
      wh.writePartition("t", "batch_id", 1L, Seq((4L, "x")).toDF("id", "v"))
    }
    wh.writePartition("t", "batch_id", 1L, Seq((4L, 5)).toDF("id", "w"))
    assert(wh.read("t").count() == 2)
  }

  test("J9 catalog introspection replaces sys.tables/sys.columns queries") {
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("t_cat_probe")
    val tables = spark.catalog.listTables().collect().map(_.name)
    assert(tables.contains("t_cat_probe"))
    val cols = spark.catalog.listColumns("t_cat_probe").collect().map(c => (c.name, c.dataType))
    assert(cols.toSeq == Seq(("id", "bigint"), ("v", "string")))
    // DESCRIBE surface (SURVEY §2.11)
    assert(spark.sql("DESCRIBE t_cat_probe").count() == 2)
  }
}
