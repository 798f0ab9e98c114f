package graft.airbnb

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.CodecStreams
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source layer (SURVEY §2.1): csv.gz scans with the reference's
  * schema-on-read discipline — header row, every column string, no
  * inference — plus the tolerant-projection and rejects-quarantine behaviors.
  *
  * Scale: glob paths are expanded by the distributed file index;
  * gzip csv is non-splittable, so at 100 TB ingest parallelism = number of
  * feed files (the reference's layout: thousands of per-city files — fine);
  * the first thing the pipeline does is rewrite to columnar parquet.
  */
object Sources {

  /** S1+S2/S3 — glob scan of raw feeds, all-string (inferSchema=false as in
    * modules/data_analyzer.py:136-139). Comma-separated, gzip auto-detected.
    *
    * multiLine: review comments and listing descriptions routinely embed
    * newlines inside quoted fields — without it the parser splits such rows
    * into corrupt records. (It disables input splitting, but gzip feeds are
    * non-splittable anyway: parallelism = number of feed files either way.)
    * escape='"' = RFC-4180 doubled quotes, what the feeds (and DuckDB) use.
    */
  def readRawCsv(spark: SparkSession, pathGlob: String): DataFrame =
    readCsv(spark, pathGlob, csvOptions)

  /** S4 — pipe-delimited cleaned intermediates (modules/data_loader.py:133). */
  def readPipeCsv(spark: SparkSession, pathGlob: String): DataFrame =
    readCsv(spark, pathGlob, csvOptions + ("sep" -> "|"))

  private val csvOptions =
    Map("header" -> "true", "multiLine" -> "true", "escape" -> "\"")

  /** Plans a header csv scan with the all-string schema Spark would infer,
    * read on the driver from the header record of the first file, so the
    * scan fires no job while it is planned (Spark's own multiLine inference
    * runs one job to read that record). Falls back to Spark's inference —
    * its result or its error — when no file matches or none has a record.
    */
  private def readCsv(spark: SparkSession, pathGlob: String,
                      options: Map[String, String]): DataFrame = {
    val reader = spark.read.options(options)
    headerSchema(spark, pathGlob, options)
      .fold(reader.csv(pathGlob))(reader.schema(_).csv(pathGlob))
  }

  /** The schema Spark's multiLine inference gives `pathGlob` with
    * inferSchema off: the first record of the first file, in the order
    * Spark lists them (glob order; a directory's visible files), tokenized
    * with the read's own parser settings and codec, with Spark's header
    * rules (a duplicate name gets its index appended, a blank one becomes
    * `_c<i>`), every column a nullable string.
    */
  private def headerSchema(spark: SparkSession, pathGlob: String,
                           options: Map[String, String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pattern = new Path(pathGlob)
    val fs = pattern.getFileSystem(conf)
    def visible(st: FileStatus) = st.isFile && {
      val n = st.getPath.getName; !n.startsWith("_") && !n.startsWith(".")
    }
    val files = Option(fs.globStatus(pattern)).toSeq.flatten
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filter(visible)
    val sqlConf = spark.sessionState.conf
    val parsed = new CSVOptions(options, sqlConf.csvColumnPruning, sqlConf.sessionLocalTimeZone)
    def firstRecord(file: Path): Option[Array[String]] = {
      val in = CodecStreams.createInputStreamWithCloseResource(conf, file)
      try {
        val parser = new CsvParser(parsed.asParserSettings)
        parser.beginParsing(in, parsed.charset)
        Option(parser.parseNext())
      } finally in.close()
    }
    files.iterator.flatMap(st => firstRecord(st.getPath)).nextOption().map { row =>
      val names = CSVUtils.makeSafeHeader(row, sqlConf.caseSensitiveAnalysis, parsed)
      StructType(names.map(StructField(_, StringType)))
    }
  }

  /** S7 — cleaned csv.gz sink: pipe-separated, gzip, no index column
    * (modules/data_cleaner.py:146). escape='"' writes RFC-4180 doubled
    * quotes so [[readPipeCsv]] and DuckDB read_csv re-read the sink exactly.
    */
  def writePipeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").option("sep", "|")
      .option("escape", "\"")
      .option("compression", "gzip").csv(path)

  /** (beyond ref) JSONL sink — one JSON object per line, gzip: the
    * interchange format LLM training corpora actually ship in. Spark's
    * writer emits canonical JSON escaping that DuckDB's `read_json`
    * (newline_delimited) re-reads exactly — the roundtrip is oracle-gated.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** (beyond ref) JSONL source with a pinned schema (schema-on-read like the
    * csv feeds — never inference over the full corpus at scale).
    */
  def readJsonl(spark: SparkSession, schema: StructType,
                pathGlob: String): DataFrame =
    spark.read.schema(schema).json(pathGlob)

  /** P2 — tolerant projection: keep expected∩actual, backfill missing
    * expected columns with NULL (modules/data_cleaner.py:87-91 +
    * modules/data_loader.py:136-145).
    */
  def tolerantProject(df: DataFrame, expected: Seq[String]): DataFrame = {
    val present = df.columns.toSet
    df.select(expected.map(c =>
      if (present(c)) col(c) else lit(null).cast("string").as(c)): _*)
  }

  /** S6 — rejects side-channel: rows failing `validity` are quarantined (the
    * reference appends failed rows to logs/listings_skipped_rows.csv,
    * modules/data_loader.py:203-228). Returns (valid, rejected).
    */
  def quarantine(df: DataFrame, validity: org.apache.spark.sql.Column)
      : (DataFrame, DataFrame) =
    (df.filter(validity), df.filter(!coalesce(validity, lit(false))))
}
