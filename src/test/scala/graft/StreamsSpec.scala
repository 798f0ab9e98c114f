package graft

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Drop a single-file parquet into a streaming-source directory. */
  private def addSourceFile(dir: java.nio.file.Path, name: String,
                            rows: Seq[(Long, String)]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-onefile")
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, dir.resolve(name))
  }

  test("parquet sink is exactly-once across a crash-replay of the last batch") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-sink-src")
    val out = java.nio.file.Files.createTempDirectory("graft-sink-out").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-sink-ckp").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    def stream = spark.readStream.schema(schema).parquet(src.toString)

    // batch 0 flows through and commits
    addSourceFile(src, "f0.parquet", Seq(1L -> "a", 2L -> "b"))
    val q0 = Streams.startParquetSink(stream, out, ckp, "sink_replay_0")
    try q0.processAllAvailable() finally q0.stop()
    assert(Streams.readCommitted(spark, out).count() == 2L)

    // CRASH SIMULATION: the engine wrote the sink output but died before
    // recording the batch commit — delete checkpoint commits/0. On restart
    // Structured Streaming re-executes batch 0 from offsets/0: same batchId,
    // same data, delivered to foreachBatch a SECOND time.
    val commit0 = java.nio.file.Paths.get(ckp, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(commit0), "no commit to crash")
    // the local ChecksumFs keeps a CRC sidecar; a real crash loses both
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ckp, "commits", ".0.crc"))
    val q1 = Streams.startParquetSink(stream, out, ckp, "sink_replay_1")
    try q1.processAllAvailable() finally q1.stop()
    assert(Streams.readCommitted(spark, out).count() == 2L,
      "replayed batch was written twice — sink is not idempotent")

    // the stream continues normally after the replay: batch 1 appends
    addSourceFile(src, "f1.parquet", Seq(3L -> "c"))
    val q2 = Streams.startParquetSink(stream, out, ckp, "sink_replay_2")
    try q2.processAllAvailable() finally q2.stop()
    val finalRows = Streams.readCommitted(spark, out)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(finalRows == Set(1L -> "a", 2L -> "b", 3L -> "c"))

    // the foreachBatch body itself reports replay-vs-write truthfully
    val direct = java.nio.file.Files.createTempDirectory("graft-sink-direct").toString
    val df = Seq(9L -> "z").toDF("id", "v")
    assert(Streams.writeBatchIdempotent(df, direct, 7L))
    assert(!Streams.writeBatchIdempotent(df, direct, 7L))
    assert(Streams.readCommitted(spark, direct).count() == 1L)

    // a torn batch (no marker) is invisible to readers
    val torn = new org.apache.hadoop.fs.Path(direct, "batch-000000008")
    val fs = torn.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(torn)
    df.write.mode("overwrite").parquet(torn.toString + "/part")
    assert(Streams.readCommitted(spark, direct).count() == 1L)
  }

  test("streaming crawl intake: warc spool -> clean text -> indexes, rejects quarantined, replay-safe") {
    import graft.sources.Warc
    val spool = java.nio.file.Files.createTempDirectory("graft-crawl-spool")
    val out = java.nio.file.Files.createTempDirectory("graft-crawl-out").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-crawl-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-crawl-wh").toString)
    def resp(id: Long, html: String, status: Int = 200): Array[Byte] =
      Warc.encodeResponse(f"doc-$id%08d", s"http://crawl.test/doc/$id",
        "2024-01-01T00:00:00Z", html, status)
    def docIdOf(id: Long): Long = {
      import org.apache.spark.sql.functions.xxhash64
      Seq(f"<urn:uuid:doc-$id%08d>").toDF("r").select(xxhash64($"r")).head().getLong(0)
    }

    // file 1: two good HTML docs, one 404 (dropped), one garbage member
    // (quarantined); file 2: an exact dup of doc 1's text (cross-file fp
    // index) and a fresh doc
    val html1 = "<html><body><p>alpha beta gamma delta epsilon zeta</p></body></html>"
    val html2 = "<html><body><p>one two three four five six seven</p></body></html>"
    val html3 = "<html><body><p>north south east west up down left</p></body></html>"
    java.nio.file.Files.write(spool.resolve("a.warc.gz"), Warc.warcGzFile(
      Seq(resp(1, html1), resp(2, html2), resp(3, html1, status = 404))) ++
      Warc.gzipMember("NOT A WARC RECORD".getBytes("UTF-8")))
    val q0 = Streams.startCrawlIngest(Streams.readWarc(spark, spool.toString),
      wh, out, ckp, minTokens = 5, shingleK = 4, queryName = "crawl_0")
    try q0.processAllAvailable() finally q0.stop()
    val committed0 = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(committed0 == Set(docIdOf(1), docIdOf(2)))
    val rejects = spark.read.parquet(s"$out/rejects/batch-000000000")
    assert(rejects.count() == 1L)
    assert(rejects.head().getString(2).nonEmpty)

    // file 2 lands later: exact-dup body of doc 1 is gated by the fp
    // index; the fresh doc commits
    java.nio.file.Files.write(spool.resolve("b.warc.gz"),
      Warc.warcGzFile(Seq(resp(10, html1), resp(11, html3))))
    val q1 = Streams.startCrawlIngest(Streams.readWarc(spark, spool.toString),
      wh, out, ckp, minTokens = 5, shingleK = 4, queryName = "crawl_1")
    try q1.processAllAvailable() finally q1.stop()
    val committed1 = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(committed1 == Set(docIdOf(1), docIdOf(2), docIdOf(11)))

    // replay drill: re-running the last batch id must change nothing —
    // not the docs, not the rejects
    val replayRecords = Warc.parseFile("b.warc.gz",
      java.nio.file.Files.readAllBytes(spool.resolve("b.warc.gz"))).toDF()
    val wrote = Streams.crawlIngestBatch(replayRecords, wh, out, batchId = 1L)
    assert(!wrote)
    assert(Streams.readCommitted(spark, out).count() == 3L)
    assert(spark.read.parquet(s"$out/rejects/batch-000000000").count() == 1L)
  }

  test("streaming corpus ingest: gate, scrub, both dedup indexes, crash-replay") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-ingest-src")
    val out = java.nio.file.Files.createTempDirectory("graft-ingest-out").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-ingest-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ingest-wh").toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ingest-one")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    def committed = Streams.readCommitted(spark, out)
    def committedIds = committed.select("doc_id").collect().map(_.getLong(0)).toSet

    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten eleven twelve"
    val tBnear = tB + " thirteen" // keeps all of tB's shingles: a near-dup
    val tC = "contact someone@example.org red orange yellow green blue indigo violet cyan"
    val tD = "north south east west up down left right front back"

    // batch 0: two good docs seed both indexes; the 2-token doc is gated out
    addDocs("b0.parquet", Seq(1L -> tA, 2L -> tB, 3L -> "too short"))
    val q0 = Streams.startCorpusIngest(stream, wh, out, ckp, "doc_id", "text",
      minTokens = 5, shingleK = 4, queryName = "ingest_0")
    try q0.processAllAvailable() finally q0.stop()
    assert(committedIds == Set(1L, 2L))

    // batch 1: 4 = exact cross-batch dup (fp index); 5 = near-dup of 2
    // (band index); 6/7 = intra-batch exact dups (min id survives, scrubbed)
    addDocs("b1.parquet", Seq(4L -> tA, 5L -> tBnear, 6L -> tC, 7L -> tC))
    val q1 = Streams.startCorpusIngest(stream, wh, out, ckp, "doc_id", "text",
      minTokens = 5, shingleK = 4, queryName = "ingest_1")
    try q1.processAllAvailable() finally q1.stop()
    assert(committedIds == Set(1L, 2L, 6L))
    val scrubbed = committed.filter($"doc_id" === 6L)
      .select("text").collect().head.getString(0)
    assert(scrubbed.contains("[EMAIL]") && !scrubbed.contains("example.org"), scrubbed)

    // crash drill: batch 2 completes, its committed output is deleted while
    // both index merges stay — the death window between swaps and marker
    val b2 = Seq(8L -> tD, 9L -> tA).toDF("doc_id", "text")
    assert(Streams.corpusIngestBatch(b2, wh, out, 2L, "doc_id", "text", 5, 4))
    val b2dir = new org.apache.hadoop.fs.Path(out, "batch-000000002")
    val gfs = b2dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b2dir, true), "no batch-2 output to crash")
    // replay: doc 8's fp and bands are in the indexes under batch_id=2, but
    // both gates filter to batch_id < 2 — 8 survives again, 9 stays dropped
    assert(Streams.corpusIngestBatch(b2, wh, out, 2L, "doc_id", "text", 5, 4))
    assert(committedIds == Set(1L, 2L, 6L, 8L))
    assert(!Streams.corpusIngestBatch(b2, wh, out, 2L, "doc_id", "text", 5, 4))
  }

  test("corpus ingest: a batch over non-empty indexes runs at most 12 jobs, index reads none") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-jobs").toString
    val wh = graft.airbnb.Warehouse(spark, s"$root/wh")
    // every token names its doc, so no two texts share a shingle
    def docs(ids: Range, salt: String) = ids.map { i =>
      i.toLong -> (1 to 8).map(j => s"$salt${i}w$j").mkString(" ")
    }.toDF("doc_id", "text")
    assert(Streams.corpusIngestBatch(docs(1 to 40, "first"), wh, s"$root/out", 0L,
      "doc_id", "text", 5, 4))
    // batch 1 repeats five batch-0 texts verbatim and brings new ones
    val b1 = docs(1 to 5, "first").withColumn("doc_id", $"doc_id" + 100L)
      .unionByName(docs(41 to 80, "second"))
    val (wrote, sites) = TestSpark.jobSitesDuring(Streams.corpusIngestBatch(b1, wh,
      s"$root/out", 1L, "doc_id", "text", 5, 4))
    assert(wrote)
    assert(sites.size <= 12, TestSpark.bySite(sites))
    val accepted = Streams.readCommitted(spark, s"$root/out")
      .filter($"doc_id" > 40L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(accepted == (41L to 80L).toSet)
    // the index writes left their schema cached: reads plan with no job and
    // the schema footer inference gives, batch_id typed from the dir names
    Seq("fp_index", "band_index").foreach { t =>
      val (cached, readJobs) = TestSpark.jobSitesDuring(wh.read(t).schema)
      assert(readJobs.isEmpty, s"$t: ${TestSpark.bySite(readJobs)}")
      graft.airbnb.Warehouse.schemaCache.remove(s"$root/wh/$t")
      assert(cached == wh.read(t).schema, t)
    }
  }

  test("streaming substring gate drops span-sharing docs and survives crash-replay") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-sgate-src")
    val out = java.nio.file.Files.createTempDirectory("graft-sgate-out").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-sgate-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-sgate-wh").toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sgate-one")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val span = "s1 s2 s3 s4 s5 s6 s7"         // 7 tokens >= minSpanTokens 6
    val tA = s"a1 a2 $span a3"                // holds the span
    val tB = "one two three four five six seven eight nine"
    val tC = s"c1 c2 c3 $span"                // quotes batch-0's span
    val tD = "north south east west up down left right front"

    // batch 0: empty index — both docs novel, anchors seed the index
    addDocs("b0.parquet", Seq(1L -> tA, 2L -> tB))
    val q0 = Streams.startSubstringGate(stream, wh, "anchor_index", out, ckp,
      "doc_id", "text", 4, 6, queryName = "sgate_0")
    try q0.processAllAvailable() finally q0.stop()
    assert(committedIds == Set(1L, 2L))

    // batch 1: doc 3 quotes doc 1's span at a DIFFERENT offset → dropped;
    // doc 4 is novel
    addDocs("b1.parquet", Seq(3L -> tC, 4L -> tD))
    val q1 = Streams.startSubstringGate(stream, wh, "anchor_index", out, ckp,
      "doc_id", "text", 4, 6, queryName = "sgate_1")
    try q1.processAllAvailable() finally q1.stop()
    assert(committedIds == Set(1L, 2L, 4L))

    // crash drill: batch 2 completes, then its committed output is deleted
    // while the index merge stays — the death window between swap and marker
    val tE = s"e1 e2 e3 e4 $span"             // quotes the span again
    val tF = "f1 f2 f3 f4 f5 f6 f7 f8 f9"
    val b2 = Seq(5L -> tE, 6L -> tF).toDF("doc_id", "text")
    assert(Streams.substringGateBatch(b2, wh, "anchor_index", out, 2L,
      "doc_id", "text", 4, 6))
    val b2dir = new org.apache.hadoop.fs.Path(out, "batch-000000002")
    val gfs = b2dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b2dir, true), "no batch-2 output to crash")
    // replay: doc 6's own anchors sit in the index under batch_id=2, but
    // the probe filters batch_id < 2 — no self-collision, 6 survives
    // again; doc 5 still shares the span with batch-0's doc 1
    assert(Streams.substringGateBatch(b2, wh, "anchor_index", out, 2L,
      "doc_id", "text", 4, 6))
    assert(committedIds == Set(1L, 2L, 4L, 6L))
    // pure replay (marker present) is a no-op
    assert(!Streams.substringGateBatch(b2, wh, "anchor_index", out, 2L,
      "doc_id", "text", 4, 6))
    // each anchor appears once, owned by the batch that FIRST contributed it
    val idx = wh.read("anchor_index")
    assert(idx.groupBy("sh", "doc_id", "pos").count()
      .filter($"count" > 1).count() == 0L)
    assert(idx.filter($"doc_id" === 3L || $"doc_id" === 5L).count() == 0L,
      "dropped docs must not contribute anchors")
  }

  test("streaming near-dup gate tags across batches and survives crash-replay") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-gate-src")
    val out = java.nio.file.Files.createTempDirectory("graft-gate-out").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-gate-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-gate-wh").toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-gate-one")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten eleven twelve"
    val tC = "red orange yellow green blue indigo violet cyan magenta white"
    val tD = "north south east west up down left right front back"

    // batch 0: empty index — everything is novel and seeds the index
    addDocs("b0.parquet", Seq(1L -> tA, 2L -> tB))
    val q0 = Streams.startNearDupGate(stream, wh, "band_index", out, ckp,
      "doc_id", "text", 4, queryName = "gate_0")
    try q0.processAllAvailable() finally q0.stop()
    assert(committedIds == Set(1L, 2L))

    // batch 1: doc 3 duplicates batch 0's doc 1 → tagged out; doc 4 is novel
    addDocs("b1.parquet", Seq(3L -> tA, 4L -> tC))
    val q1 = Streams.startNearDupGate(stream, wh, "band_index", out, ckp,
      "doc_id", "text", 4, queryName = "gate_1")
    try q1.processAllAvailable() finally q1.stop()
    assert(committedIds == Set(1L, 2L, 4L))

    // crash drill on the foreachBatch body: batch 2 runs to completion,
    // then the crash WINDOW is simulated by deleting its committed output
    // while LEAVING the index merge in place — exactly the state a death
    // between the index swap and the output marker leaves behind
    val b2 = Seq(5L -> tC, 6L -> tD).toDF("doc_id", "text")
    assert(Streams.nearDupGateBatch(b2, wh, "band_index", out, 2L, "doc_id", "text", 4))
    val b2dir = new org.apache.hadoop.fs.Path(out, "batch-000000002")
    val gfs = b2dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b2dir, true), "no batch-2 output to crash")
    // replay: doc 6's own bands are already in the index under batch_id=2,
    // but the gate filters to batch_id < 2 — no self-collision, 6 survives
    // again; doc 5 still collides with doc 4's batch-1 bands
    assert(Streams.nearDupGateBatch(b2, wh, "band_index", out, 2L, "doc_id", "text", 4))
    assert(committedIds == Set(1L, 2L, 4L, 6L))
    // a pure replay (marker present) is a no-op
    assert(!Streams.nearDupGateBatch(b2, wh, "band_index", out, 2L, "doc_id", "text", 4))
    // the index holds each band once, tagged with the batch that FIRST
    // contributed it (replays and re-merges cannot grow or re-own rows)
    val idx = wh.read("band_index")
    assert(idx.groupBy("band_idx", "band_key").count()
      .filter($"count" > 1).count() == 0L)
  }

  test("streaming decontamination gate quarantines eval overlap, replay-safe") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-dec-src")
    val out = java.nio.file.Files.createTempDirectory("graft-dec-out").toString
    val qua = java.nio.file.Files.createTempDirectory("graft-dec-qua").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-dec-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-dec-wh").toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-dec-one")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }

    // the eval suite, shingled ONCE into the static index (k=4)
    val eval = Seq(
      900L -> "the quick brown fox jumps over the lazy dog",
      901L -> "pack my box with five dozen liquor jugs").toDF("doc_id", "text")
    wh.write("eval_shingles",
      Streams.buildEvalShingleIndex(eval, "doc_id", "text", 4))

    // batch 0: doc 1 contains an eval 4-gram ("quick brown fox jumps") ->
    // quarantined; doc 2 is clean
    addDocs("b0.parquet", Seq(
      1L -> "we saw the quick brown fox jumps over fences daily",
      2L -> "completely unrelated training text about other things entirely"))
    val q0 = Streams.startDecontaminateGate(stream, wh, "eval_shingles", out,
      qua, ckp, "doc_id", "text", 4, queryName = "dec_0")
    try q0.processAllAvailable() finally q0.stop()
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(committedIds == Set(2L))
    val quar0 = spark.read.parquet(s"$qua/batch-000000000")
    assert(quar0.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    // evidence counts ride the quarantine row (three eval 4-grams overlap:
    // "the quick brown fox", "quick brown fox jumps", "brown fox jumps over")
    assert(quar0.filter($"doc_id" === 1L)
      .select("n_shared_shingles").head().getLong(0) == 3L)

    // crash drill: batch 1 completes, its committed output is deleted
    // (crash between quarantine write and sink marker); the replay must
    // converge to the same clean/contaminated partition
    val b1 = Seq(
      3L -> "pack my box with five dozen eggs instead",
      4L -> "novel clean sentence with no overlap whatsoever here").toDF("doc_id", "text")
    val idx = wh.read("eval_shingles")
    assert(Streams.decontaminateGateBatch(b1, idx, out, qua,
      1L, "doc_id", "text", 4))
    val b1dir = new org.apache.hadoop.fs.Path(out, "batch-000000001")
    val gfs = b1dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b1dir, true), "no batch-1 output to crash")
    assert(Streams.decontaminateGateBatch(b1, idx, out, qua,
      1L, "doc_id", "text", 4))
    assert(committedIds == Set(2L, 4L))
    assert(spark.read.parquet(s"$qua/batch-000000001")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
    // a pure replay (marker present) is a no-op
    assert(!Streams.decontaminateGateBatch(b1, idx, out, qua,
      1L, "doc_id", "text", 4))
  }

  test("streaming percentile gate cuts at frozen per-group thresholds, replay-safe") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-pct-src")
    val out = java.nio.file.Files.createTempDirectory("graft-pct-out").toString
    val rej = java.nio.file.Files.createTempDirectory("graft-pct-rej").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-pct-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-pct-wh").toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addDocs(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-pct-one")
      rows.toDF("doc_id", "text", "lang").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    // calibration on "history": the thresholds come from the SAME operator
    // the batch gate uses, frozen through the warehouse. Distinct-token
    // no-stopword texts score 1000·n + 500000 exactly, so history scores
    // 501000/503000/504000 with permille 500 → quota 1 of 3 → boundary
    // score (the threshold) = 504000: only scores ABOVE 504000 pass "en".
    val hist = Seq(
      (100L, 501000L, "en"), (101L, 503000L, "en"), (102L, 504000L, "en"))
      .toDF("doc_id", "score", "lang")
    wh.write("pct_thresholds", graft.operators.Curation
      .percentileThresholds(hist, "lang", "score", keepPermille = 500))
    assert(wh.read("pct_thresholds").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq == Seq(("en", 504000L)))
    // batch 0: doc 1 scores 505000 (> threshold, kept); doc 2 scores
    // exactly 504000 (boundary — DROPPED, the strict-> deviation the
    // scaladoc pins); doc 3 is an uncalibrated group (rejected)
    addDocs("b0.parquet", Seq(
      (1L, "a1 a2 a3 a4 a5", "en"),
      (2L, "b1 b2 b3 b4", "en"),
      (3L, "c1 c2 c3 c4 c5 c6", "fr")))
    val q0 = Streams.startPercentileGate(stream, wh, "pct_thresholds", out,
      rej, ckp, "text", "lang", Seq("a", "the"), queryName = "pct_0")
    try q0.processAllAvailable() finally q0.stop()
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(committedIds == Set(1L))
    assert(spark.read.parquet(s"$rej/batch-000000000")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // crash drill: batch 1 commits, its output is deleted (crash between
    // the reject write and the sink marker); replay converges
    val thr = wh.read("pct_thresholds")
    val b1 = Seq(
      (4L, "d1 d2 d3 d4 d5 d6 d7", "en"),
      (5L, "e1", "en")).toDF("doc_id", "text", "lang")
    assert(Streams.percentileGateBatch(b1, thr, out, rej, 1L,
      "text", "lang", Seq("a", "the")))
    val b1dir = new org.apache.hadoop.fs.Path(out, "batch-000000001")
    val gfs = b1dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b1dir, true), "no batch-1 output to crash")
    assert(Streams.percentileGateBatch(b1, thr, out, rej, 1L,
      "text", "lang", Seq("a", "the")))
    assert(committedIds == Set(1L, 4L))
    assert(spark.read.parquet(s"$rej/batch-000000001")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(5L))
    // a pure replay (marker present) is a no-op
    assert(!Streams.percentileGateBatch(b1, thr, out, rej, 1L,
      "text", "lang", Seq("a", "the")))
  }

  test("streaming budget gate depletes per-group token budgets via the ledger, replay-safe") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-bud-src")
    val out = java.nio.file.Files.createTempDirectory("graft-bud-out").toString
    val rej = java.nio.file.Files.createTempDirectory("graft-bud-rej").toString
    val led = java.nio.file.Files.createTempDirectory("graft-bud-led").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-bud-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-bud-wh").toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addDocs(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bud-one")
      rows.toDF("doc_id", "text", "lang").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    wh.write("budgets",
      Seq(("en", 25L), ("de", 0L)).toDF("lang", "budget_tokens"))
    // batch 0: en spend order is (score DESC, id) = doc 1 (12 tokens,
    // cum 12), doc 2 (10, cum 22), doc 3 (8, cum 30 > 25 rejected —
    // greedy PREFIX, the tokenBudgetPerGroup contract); de has budget 0
    // and fr has no budget row — both rejected
    addDocs("b0.parquet", Seq(
      (1L, toks(12, "a"), "en"), (2L, toks(10, "b"), "en"),
      (3L, toks(8, "c"), "en"), (4L, toks(5, "d"), "de"),
      (9L, toks(5, "e"), "fr")))
    val q0 = Streams.startBudgetGate(stream, wh, "budgets", out, rej, led,
      ckp, "doc_id", "text", "lang", Seq("a", "the"), queryName = "bud_0")
    try q0.processAllAvailable() finally q0.stop()
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(committedIds == Set(1L, 2L))
    assert(spark.read.parquet(s"$led/batch-000000000")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("en", 22L)))
    // batch 1 direct drill: remaining en = 25 - 22 = 3. Spend order: doc 6
    // (7 tokens, higher score) overflows (cum 7 > 3) and the PREFIX cut
    // rejects doc 5 (cum 9) behind it too... then with doc 6 absent the
    // replay must still converge. Use (6: 3 tokens, 5: 2 tokens): doc 6
    // (score desc first) cum 3 <= 3 kept; doc 5 cum 5 > 3 rejected.
    val budgets = wh.read("budgets")
    val b1 = Seq((5L, toks(2, "f"), "en"), (6L, toks(3, "g"), "en"))
      .toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b1, budgets, out, rej, led, 1L,
      "doc_id", "text", "lang", Seq("a", "the")))
    assert(committedIds == Set(1L, 2L, 6L))
    // crash between ledger write and sink marker: replay must see its OWN
    // b1 spend excluded (batch_id < 1 filter) and converge, not double it
    val b1dir = new org.apache.hadoop.fs.Path(out, "batch-000000001")
    val gfs = b1dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b1dir, true), "no batch-1 output to crash")
    assert(Streams.budgetGateBatch(b1, budgets, out, rej, led, 1L,
      "doc_id", "text", "lang", Seq("a", "the")))
    assert(committedIds == Set(1L, 2L, 6L))
    assert(spark.read.parquet(s"$led/batch-000000001")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("en", 3L)))
    // batch 2: budget exhausted (22 + 3 = 25) — everything en rejected
    val b2 = Seq((7L, toks(1, "h"), "en")).toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b2, budgets, out, rej, led, 2L,
      "doc_id", "text", "lang", Seq("a", "the")))
    assert(committedIds == Set(1L, 2L, 6L))
    assert(spark.read.parquet(s"$rej/batch-000000002")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(7L))
    // a pure replay (marker present) is a no-op
    assert(!Streams.budgetGateBatch(b2, budgets, out, rej, led, 2L,
      "doc_id", "text", "lang", Seq("a", "the")))
    // ledger compaction: fold batches 0..2 into one committed fold
    // generation; batch 3 must compute the SAME remaining (0 for en) —
    // semantics unchanged, ledger shrunk to one fold + no delta files
    Streams.compactLedger(spark, led, "lang", uptoBatchId = 3L)
    val ledFiles = new java.io.File(led).listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(ledFiles.map(_.getName).toSet == Set("fold-000000003"))
    assert(new java.io.File(led, "fold-000000003/_SUCCESS").exists())
    assert(spark.read.parquet(s"$led/fold-000000003")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("en", 25L)))
    val b3 = Seq((8L, toks(1, "i"), "en")).toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b3, budgets, out, rej, led, 3L,
      "doc_id", "text", "lang", Seq("a", "the")))
    assert(committedIds == Set(1L, 2L, 6L))
    assert(spark.read.parquet(s"$rej/batch-000000003")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(8L))
  }

  test("streaming budget gate: a budgeted NULL group depletes like any other") {
    // the null-safe join contract end-to-end: budget row with a NULL group
    // key gates null-group arrivals, its ledger spend decrements the
    // remaining budget across batches (an equi-join would never match the
    // null key back — the budget would never deplete), and an unbudgeted
    // named group still rejects
    val out = java.nio.file.Files.createTempDirectory("graft-budn-out").toString
    val rej = java.nio.file.Files.createTempDirectory("graft-budn-rej").toString
    val led = java.nio.file.Files.createTempDirectory("graft-budn-led").toString
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val budgets = Seq((Option("en"), 25L), (Option.empty[String], 5L))
      .toDF("lang", "budget_tokens")
    val b0 = Seq((1L, toks(4, "a"), null.asInstanceOf[String]),
        (2L, toks(3, "b"), "xx"))
      .toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b0, budgets, out, rej, led, 0L,
      "doc_id", "text", "lang", Seq("a", "the")))
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(committedIds == Set(1L)) // null group kept (4 <= 5); "xx" unbudgeted
    // batch 1: remaining for the null group = 5 - 4 = 1 < 3 → rejected
    val b1 = Seq((3L, toks(3, "c"), null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b1, budgets, out, rej, led, 1L,
      "doc_id", "text", "lang", Seq("a", "the")))
    assert(committedIds == Set(1L))
    assert(spark.read.parquet(s"$rej/batch-000000001")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("budgetUnrolledPlan == the composed per-batch literal decides, row for row") {
    // the algebra q_stream_budget_batch rides (r20): the one-plan window
    // unroll must make EXACTLY the decisions of running batch 0 through
    // budgetDecidePlanLiteral with the full budgets, collecting its spend,
    // and running batch 1 with the depleted remainders — including a null
    // group and a group that only appears in batch 1
    import org.apache.spark.sql.functions._
    val rows = Seq(
      // (doc_id, lang, score, ntok)
      (1L, "en", 900L, 10L), (2L, "en", 800L, 10L), (3L, "en", 700L, 10L),
      (4L, "en", 950L, 10L), (5L, "en", 600L, 10L),
      (6L, "de", 500L, 8L), (7L, "de", 400L, 8L),
      (8L, null.asInstanceOf[String], 300L, 6L),
      (9L, null.asInstanceOf[String], 200L, 6L),
      (10L, "fr", 100L, 4L) // batch-1-only group
    )
    val scored = rows.toDF("doc_id", "lang", "score", "__ntok")
    val midB = 6L // docs 1-5 are batch 0, 6-10 batch 1
    val permille = 600
    val got = Streams.budgetUnrolledPlan(scored, col("doc_id") < midB,
        "doc_id", "lang", permille)
      .select(col("doc_id"), col("__batch"), col("__selected"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // reference composition: literal decides per batch
    val bud = scored.groupBy(col("lang"))
      .agg(expr(s"(SUM(__ntok) * $permille) DIV 1000").as("b")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1))
      .toSeq
    val p0 = Streams.budgetDecidePlanLiteral(
      scored.filter(col("doc_id") < midB), bud, "doc_id", "lang")
    val spent0 = p0.filter(col("__selected")).groupBy(col("lang"))
      .agg(sum(col("__ntok")).as("s")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0)) -> r.getLong(1))
      .toMap
    val rem1 = bud.map { case (g, b) => g -> (b - spent0.getOrElse(g, 0L)) }
    val p1 = Streams.budgetDecidePlanLiteral(
      scored.filter(col("doc_id") >= midB), rem1, "doc_id", "lang")
    val want =
      p0.select(col("doc_id"), lit(0L).as("b"), col("__selected")).unionByName(
        p1.select(col("doc_id"), lit(1L).as("b"), col("__selected")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == want)
    // and the unroll's decisions are the expected greedy-prefix ones
    assert(got.filter(_._3).map(_._1) ==
      want.filter(_._3).map(_._1))
  }

  test("ledger compaction crash windows: stale originals and half-written folds never change spend") {
    val out = java.nio.file.Files.createTempDirectory("graft-budc-out").toString
    val rej = java.nio.file.Files.createTempDirectory("graft-budc-rej").toString
    val led = java.nio.file.Files.createTempDirectory("graft-budc-led").toString
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(led).getFileSystem(conf)
    def toks(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val budgets = Seq(("en", 10L)).toDF("lang", "budget_tokens")
    // batch 0 spends 4 of the 10-token budget
    val b0 = Seq((1L, toks(4, "a"), "en")).toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b0, budgets, out, rej, led, 0L,
      "doc_id", "text", "lang", Seq("zzz")))
    // crash window 1: fold committed but the original delta never got
    // cleaned up — copy batch-0's delta aside, compact, put it back
    val d0 = new org.apache.hadoop.fs.Path(led, "batch-000000000")
    val aside = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft-budc-aside").toString,
      "batch-000000000")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, d0, fs, aside, false, conf))
    Streams.compactLedger(spark, led, "lang", uptoBatchId = 1L)
    assert(!fs.exists(d0), "compaction should have cleaned the delta")
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, aside, fs, d0, false, conf))
    // remaining must be 10-4=6 (the stale original is EXCLUDED by the
    // >= fold-start read filter), not 10-8=2 — so the 5-token doc is kept;
    // the pre-fix same-namespace staging double-counted exactly here
    val b1 = Seq((2L, toks(5, "b"), "en")).toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b1, budgets, out, rej, led, 1L,
      "doc_id", "text", "lang", Seq("zzz")))
    assert(committedIds == Set(1L, 2L))
    // crash window 2: a fold staged but never committed (no _SUCCESS) is
    // invisible — plant a bogus huge-spend fold-2 without its marker
    Seq(("en", 1000L, 1L)).toDF("lang", "spent", "batch_id")
      .write.mode("overwrite").parquet(s"$led/fold-000000002")
    fs.delete(new org.apache.hadoop.fs.Path(led, "fold-000000002/_SUCCESS"), false)
    // remaining must be 10-4-5=1 (committed fold-1 + batch-1 delta), so
    // the 1-token doc is kept; reading the bogus fold would reject it
    val b2 = Seq((3L, toks(1, "c"), "en")).toDF("doc_id", "text", "lang")
    assert(Streams.budgetGateBatch(b2, budgets, out, rej, led, 2L,
      "doc_id", "text", "lang", Seq("zzz")))
    assert(committedIds == Set(1L, 2L, 3L))
  }

  test("a corrupt ledger file fails the batch instead of resetting budgets") {
    // the no-ledger case is an EXPLICIT empty-glob check; anything else —
    // here, unreadable bytes where a delta should be — must propagate so
    // the batch retries, never silently decide against a reset budget
    val out = java.nio.file.Files.createTempDirectory("graft-budx-out").toString
    val rej = java.nio.file.Files.createTempDirectory("graft-budx-rej").toString
    val led = java.nio.file.Files.createTempDirectory("graft-budx-led").toString
    val d0 = new java.io.File(led, "batch-000000000")
    assert(d0.mkdirs())
    java.nio.file.Files.write(d0.toPath.resolve("part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val budgets = Seq(("en", 10L)).toDF("lang", "budget_tokens")
    val b1 = Seq((2L, "w1 w2", "en")).toDF("doc_id", "text", "lang")
    assertThrows[Exception] {
      Streams.budgetGateBatch(b1, budgets, out, rej, led, 1L,
        "doc_id", "text", "lang", Seq("zzz"))
    }
  }

  test("streaming SemDeDup gate drops near-dups against persisted cells, crash-replay safe") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-sem-src")
    val out = java.nio.file.Files.createTempDirectory("graft-sem-out").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-sem-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-sem-wh").toString)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addVecs(name: String, rows: Seq[(Long, Array[Float])]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sem-one")
      rows.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    def committedIds: Set[Long] = Streams.readCommitted(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // offline training on a seed sample, persisted fit (train/persist/
    // assign split): seeds 100/101 are the 2 lowest ids, so the centroids
    // land near (0.98, 0.02) and (0.02, 0.98)
    val seed = Seq(
      100L -> Array(1.0f, 0.0f), 101L -> Array(0.0f, 1.0f),
      102L -> Array(0.96f, 0.04f), 103L -> Array(0.04f, 0.96f))
      .toDF("vec_id", "embedding")
    val cents = graft.operators.KMeans.train(seed, "vec_id", "embedding", 2, 2)
    wh.write("sem_centroids", graft.operators.KMeans.centroidsToDf(spark, cents))

    // batch 0: empty cell table — both arrivals are novel and seed cells
    addVecs("b0.parquet", Seq(1L -> Array(1.0f, 0.0f), 2L -> Array(0.0f, 1.0f)))
    val q0 = Streams.startSemDedupGate(stream, wh, "sem_centroids", "sem_cells",
      out, ckp, "vec_id", "embedding", threshold = 0.99, queryName = "sem_0")
    try q0.processAllAvailable() finally q0.stop()
    assert(committedIds == Set(1L, 2L))

    // batch 1: vec 3 is near-collinear with vec 1 (cos ~0.9996, same cell)
    // -> dropped; vec 4 shares vec 1's cell at cos ~0.71 -> survives
    addVecs("b1.parquet", Seq(
      3L -> Array(0.9998f, 0.02f), 4L -> Array(0.71f, 0.70f)))
    val q1 = Streams.startSemDedupGate(stream, wh, "sem_centroids", "sem_cells",
      out, ckp, "vec_id", "embedding", threshold = 0.99, queryName = "sem_1")
    try q1.processAllAvailable() finally q1.stop()
    assert(committedIds == Set(1L, 2L, 4L))

    // crash drill on the foreachBatch body: batch 2 completes, then the
    // crash window is simulated by deleting its committed output while
    // LEAVING the cell merge in place — the state a death between the cell
    // swap and the output marker leaves behind
    val b2 = Seq(5L -> Array(0.7102f, 0.7001f), 6L -> Array(0.3f, 0.92f))
      .toDF("vec_id", "embedding")
    assert(Streams.semDedupGateBatch(b2, wh, cents, "sem_cells", out, 2L,
      "vec_id", "embedding", 0.99))
    val b2dir = new org.apache.hadoop.fs.Path(out, "batch-000000002")
    val gfs = b2dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b2dir, true), "no batch-2 output to crash")
    // replay: vec 6's own cell row is already in the table under
    // batch_id=2, but the gate filters to batch_id < 2 — no
    // self-collision, 6 survives again; vec 5 still collides with vec 4's
    // batch-1 cell row (cos ~1.0)
    assert(Streams.semDedupGateBatch(b2, wh, cents, "sem_cells", out, 2L,
      "vec_id", "embedding", 0.99))
    assert(committedIds == Set(1L, 2L, 4L, 6L))
    // a pure replay (marker present) is a no-op
    assert(!Streams.semDedupGateBatch(b2, wh, cents, "sem_cells", out, 2L,
      "vec_id", "embedding", 0.99))
    // the cell table holds each survivor once, owned by the batch that
    // FIRST contributed it (replays and re-merges cannot grow the table)
    val cells = wh.read("sem_cells")
    assert(cells.groupBy("vec_id").count().filter($"count" > 1).count() == 0L)
    assert(cells.select("vec_id").collect().map(_.getString(0)).toSet ==
      Set("1", "2", "4", "6"))
  }

  test("streaming kNN-graph gate: final graph equals the full rebuild; crash-replay safe") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val src = java.nio.file.Files.createTempDirectory("graft-kg-src")
    val out = java.nio.file.Files.createTempDirectory("graft-kg-out").toString
    val ckp = java.nio.file.Files.createTempDirectory("graft-kg-ckp").toString
    val wh = graft.airbnb.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-kg-wh").toString)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    def stream = spark.readStream.schema(schema).parquet(src.toString)
    def addVecs(name: String, rows: Seq[(Long, Array[Float])]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-kg-one")
      rows.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, src.resolve(name))
    }
    // two well-separated cells; vectors land on both sides across batches
    def vec(a: Float, b: Float) = Array(a, b)
    val all = Seq(
      1L -> vec(1.0f, 0.0f), 2L -> vec(0.0f, 1.0f),
      3L -> vec(0.95f, 0.05f), 4L -> vec(0.05f, 0.95f),
      5L -> vec(0.9f, 0.1f), 6L -> vec(0.1f, 0.9f),
      7L -> vec(0.8f, 0.2f), 8L -> vec(0.2f, 0.8f))
    val seed = all.take(4).toDF("vec_id", "embedding")
    val cents = graft.operators.KMeans.train(seed, "vec_id", "embedding", 2, 2)
    wh.write("kg_centroids", graft.operators.KMeans.centroidsToDf(spark, cents))

    // two micro-batches through the real streaming query, the third via
    // the body directly (so the drill below can hold the pre-batch-2
    // graph version)
    addVecs("b0.parquet", all.slice(0, 3))
    val q0 = Streams.startKnnGraphGate(stream, wh, "kg_centroids", "kg_graph",
      "kg_vecs", out, ckp, "vec_id", "embedding", degree = 2, queryName = "kg_0")
    try q0.processAllAvailable() finally q0.stop()
    addVecs("b1.parquet", all.slice(3, 6))
    val q1 = Streams.startKnnGraphGate(stream, wh, "kg_centroids", "kg_graph",
      "kg_vecs", out, ckp, "vec_id", "embedding", degree = 2, queryName = "kg_1")
    try q1.processAllAvailable() finally q1.stop()
    val g1 = wh.read("kg_graph").localCheckpoint(true) // version at stamp 1
    val b2 = all.slice(6, 8).toDF("vec_id", "embedding")
    assert(Streams.knnGraphGateBatch(b2, wh, cents, "kg_graph", "kg_vecs",
      out, 2L, "vec_id", "embedding", degree = 2))

    def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("node", "nbr", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rebuild = graft.operators.Similarity.knnGraphWith(
      all.toDF("vec_id", "embedding"), "vec_id", "embedding", cents, degree = 2)
    assert(edges(wh.read("kg_graph")) == edges(rebuild))
    // every arrival flowed through (maintenance gate: nothing is dropped)
    assert(Streams.readCommitted(spark, out).count() == all.length.toLong)

    // crash drill A — death between the graph swap and the output marker:
    // replay the last batch with its output deleted but the stamped graph
    // in place; the gate must skip the merge (no double-seated neighbors)
    // and only rewrite the output
    val b2dir = new org.apache.hadoop.fs.Path(out, "batch-000000002")
    val gfs = b2dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(gfs.delete(b2dir, true), "no batch-2 output to crash")
    assert(Streams.knnGraphGateBatch(b2, wh, cents, "kg_graph", "kg_vecs",
      out, 2L, "vec_id", "embedding", degree = 2))
    assert(edges(wh.read("kg_graph")) == edges(rebuild))
    // each neighbor seated at most once per node
    assert(wh.read("kg_graph").groupBy("node", "nbr").count()
      .filter($"count" > 1).count() == 0L)
    // crash drill B — death between the vector merge and the graph swap:
    // park the graph back one version (stamp 1; partitionBy preserves the
    // cell layout — an unpartitioned park would trip writePartitions'
    // mixed-layout guard, by design), leave the vectors table holding
    // batch 2 under batch_id=2; the replayed merge reads history strictly
    // below batch 2 and converges to the same graph
    assert(gfs.delete(b2dir, true))
    wh.write("kg_graph", g1, partitionBy = Seq("cell"))
    assert(Streams.knnGraphGateBatch(b2, wh, cents, "kg_graph", "kg_vecs",
      out, 2L, "vec_id", "embedding", degree = 2))
    assert(edges(wh.read("kg_graph")) == edges(rebuild))
    // crash drill C — death MIDWAY through the multi-partition graph swap
    // (the r19 touched-range store's new window): batch 2 lands in both
    // cells; roll exactly ONE touched cell's partition back to its stamp-1
    // content, leave the other at stamp 2. The replay must re-merge ONLY
    // the rolled-back cell (the stamped one skips — re-merging it would
    // seat neighbors twice) and still converge edge-for-edge
    assert(gfs.delete(b2dir, true))
    val whRoot = new org.apache.hadoop.fs.Path(wh.root)
    val cellDirs = gfs.listStatus(new org.apache.hadoop.fs.Path(whRoot, "kg_graph"))
      .map(_.getPath).filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == 2, s"expected two cell partitions: ${cellDirs.toSeq}")
    val rolled = cellDirs.head
    val keepName = rolled.getName
    assert(gfs.delete(rolled, true))
    // rebuild that one partition from g1 (stamp-1 rows of that cell)
    val cellVal = keepName.stripPrefix("cell=").toLong
    wh.writePartitions("kg_graph",
      "cell", g1.filter($"cell" === cellVal))
    assert(wh.read("kg_graph").filter($"cell" === cellVal)
      .agg(org.apache.spark.sql.functions.max("batch_id")).collect()(0).getLong(0) == 1L,
      "roll-back did not land the stamp-1 version")
    assert(Streams.knnGraphGateBatch(b2, wh, cents, "kg_graph", "kg_vecs",
      out, 2L, "vec_id", "embedding", degree = 2))
    assert(edges(wh.read("kg_graph")) == edges(rebuild))
    assert(wh.read("kg_graph").groupBy("node", "nbr").count()
      .filter($"count" > 1).count() == 0L)
    // crash drill D — death BETWEEN a partition's park and promote renames
    // (the window inside the multi-partition swap itself): the cell's only
    // copy sits at the __pold_ sibling and the table is missing the
    // partition. The replay's first table read must ROLL THE PARK BACK
    // (the stamp-1... here stamp-2 content restores, the cell skips the
    // re-merge as already committed) — without the heal, the gate would
    // re-merge the cell from an empty old state and silently lose every
    // untouched cellmate edge
    assert(gfs.delete(b2dir, true))
    val parkCell = cellDirs.last.getName
    assert(gfs.rename(new org.apache.hadoop.fs.Path(whRoot, s"kg_graph/$parkCell"),
      new org.apache.hadoop.fs.Path(whRoot, s"kg_graph__pold_$parkCell")))
    assert(Streams.knnGraphGateBatch(b2, wh, cents, "kg_graph", "kg_vecs",
      out, 2L, "vec_id", "embedding", degree = 2))
    assert(edges(wh.read("kg_graph")) == edges(rebuild))
    assert(wh.read("kg_graph").groupBy("node", "nbr").count()
      .filter($"count" > 1).count() == 0L)
    // a pure replay (marker present) is a no-op
    assert(!Streams.knnGraphGateBatch(b2, wh, cents, "kg_graph", "kg_vecs",
      out, 2L, "vec_id", "embedding", degree = 2))
    // an EMPTY micro-batch commits via the sink marker alone: no merge,
    // no table swaps (the graph keeps its batch-2 stamp)
    assert(Streams.knnGraphGateBatch(
      spark.emptyDataset[(Long, Array[Float])].toDF("vec_id", "embedding"),
      wh, cents, "kg_graph", "kg_vecs", out, 3L, "vec_id", "embedding",
      degree = 2))
    assert(edges(wh.read("kg_graph")) == edges(rebuild))
    assert(wh.read("kg_graph").agg(org.apache.spark.sql.functions.max("batch_id"))
      .collect()(0).getLong(0) == 2L)
    // the vectors table holds each id once, owned by its first batch
    val vecs = wh.read("kg_vecs")
    assert(vecs.groupBy("vec_id").count().filter($"count" > 1).count() == 0L)
    assert(vecs.count() == all.length.toLong)
  }
}
