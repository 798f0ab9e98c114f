package graft.airbnb

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Parquet-backed warehouse replacing SQL Server (SURVEY §2.11, S9/S10):
  * tables are parquet directories under a root; facts are written partitioned
  * so date-dim joins get dynamic partition pruning; "truncate in FK order"
  * becomes overwrite order (facts before dims).
  */
final case class Warehouse(spark: SparkSession, root: String) {

  import org.apache.hadoop.fs.{FileSystem, Path}

  private def path(name: String) = s"$root/$name"

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Spark's committer leaves _SUCCESS when (and only when) a write job
    * completed — the marker that a __tmp directory is safe to promote.
    */
  private def isComplete(f: FileSystem, p: Path): Boolean =
    f.exists(new Path(p, "_SUCCESS"))

  /** Finish or undo a swap interrupted by a crash. States (dest, __tmp, __old):
    *  - dest present: strays are garbage from an already-completed swap → drop;
    *  - dest absent, complete __tmp present: the writer died mid-swap after
    *    materializing → roll FORWARD (promote __tmp, drop __old);
    *  - dest absent, __old present: roll BACK to the previous version;
    *  - incomplete __tmp (no _SUCCESS): a dead write job → drop.
    * Then the [[append]] staging dir `__atmp`:
    *  - complete (has _SUCCESS): the appender died while promoting files →
    *    roll FORWARD by moving the files it still holds (the ones already
    *    moved are gone from it, so each lands exactly once);
    *  - incomplete: a dead write job → drop.
    */
  private def recover(name: String): Unit = {
    val dest = new Path(path(name)); val f = fs(dest)
    val tmp = new Path(path(name) + "__tmp"); val old = new Path(path(name) + "__old")
    if (f.exists(dest)) {
      if (f.exists(tmp)) f.delete(tmp, true)
      if (f.exists(old)) f.delete(old, true)
    } else if (f.exists(tmp) && isComplete(f, tmp)) {
      if (!f.rename(tmp, dest)) throw new java.io.IOException(s"recover: promote failed for $name")
      if (f.exists(old)) f.delete(old, true)
    } else {
      if (f.exists(tmp)) f.delete(tmp, true)
      if (f.exists(old) && !f.rename(old, dest))
        throw new java.io.IOException(s"recover: rollback failed for $name")
    }
    val atmp = new Path(path(name) + "__atmp")
    if (f.exists(atmp)) {
      if (isComplete(f, atmp)) promoteAppend(name, f, atmp)
      else f.delete(atmp, true)
    }
    recoverPartitions(name)
  }

  /** Heal PER-PARTITION swap windows: a death between a partition's park
    * rename and its promote rename leaves the partition ABSENT from the
    * table with its only surviving copy at the sibling `__pold_<part>`
    * dir. A reader (or the replaying writer) that proceeded without
    * healing would see the partition as empty — and the writer's
    * stray-park sweep would then DELETE the last copy before a
    * read-modify-write caller (the kNN gate) could regenerate it from
    * state it no longer has. So every recover() rolls such parks BACK
    * into the table first; parks whose partition exists are completed
    * swaps' strays and drop. This is what makes the documented invariant
    * — "each individual partition is either fully old or fully new at
    * every crash point" — true for the park-then-promote window too.
    */
  private def recoverPartitions(name: String): Unit = {
    val base = new Path(path(name)); val f = fs(base)
    val parent = base.getParent
    if (parent == null) return
    val prefix = base.getName + "__pold_"
    // globStatus on the park PATTERN, not listStatus on the warehouse
    // root (ADVICE r19): recover() runs on every read/exists/write, and a
    // root LIST is O(#sibling tables) per access — a real per-request
    // cost on object stores. The glob touches only this table's parks
    // (normally zero entries) and returns null for a missing parent.
    val parks = Option(f.globStatus(new Path(parent, prefix + "*")))
      .getOrElse(Array.empty)
    parks.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(prefix) && st.isDirectory) {
        val partDest = new Path(base, n.stripPrefix(prefix))
        if (!f.exists(partDest)) {
          f.mkdirs(base)
          if (!f.rename(st.getPath, partDest))
            throw new java.io.IOException(
              s"recover: partition rollback failed for $name/${partDest.getName}")
        } else f.delete(st.getPath, true)
      }
    }
  }

  /** The one directory swap: `staged` replaces `dest`, whose previous
    * version is parked at `park` until the promote rename succeeds (a failed
    * promote rolls the park back). Never delete-before-rename, so every
    * crash point leaves the previous rows at `dest` or `park`, where
    * [[recover]] finds them. A park present on entry is a completed swap's
    * stray: recover() ran first and rolled back any park holding live rows.
    */
  private def swapIn(f: FileSystem, staged: Path, dest: Path, park: Path,
                     what: String): Unit = {
    if (f.exists(park)) f.delete(park, true)
    if (f.exists(dest) && !f.rename(dest, park))
      throw new java.io.IOException(s"swap: park failed for $what")
    if (!f.rename(staged, dest)) {
      if (f.exists(park)) f.rename(park, dest) // roll back
      throw new java.io.IOException(s"swap failed for $what")
    }
    if (f.exists(park)) f.delete(park, true)
  }

  /** Write-to-temp-then-swap: upserts read the current table while producing
    * its replacement, and Spark (correctly) refuses to overwrite a path it is
    * reading from — so materialize beside it, then swap via the Hadoop
    * FileSystem API (HDFS/object-store paths included; plain java.io.File
    * would silently corrupt non-local roots). [[swapIn]] parks the previous
    * version at __old until the new one is in place, so every crash point is
    * recoverable by [[recover]] — no delete-before-rename data-loss window.
    * NOTE: rename is atomic on HDFS/local; on S3-style stores it is
    * copy+delete — still recoverable here via the _SUCCESS-gated roll-forward,
    * just not atomic.
    */
  def write(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    recover(name)
    val tmpStr = path(name) + "__tmp"
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmpStr)
    val dest = new Path(path(name))
    swapIn(fs(dest), new Path(tmpStr), dest, new Path(path(name) + "__old"), name)
    refreshWritten(name, df.schema, partitionBy)
  }

  /** After a write, drop Spark's cached file listing of the table: a
    * DataFrame planned against the PREVIOUS listing would otherwise fail
    * mid-query with FAILED_READ_FILE on renamed files. Then capture the
    * written schema: the files just written hold exactly `written`'s data
    * columns, so the next read-back skips its footer job. A partitioned
    * table caches its data columns only: [[read]] passes them as the read
    * schema and Spark still infers the partition columns from the directory
    * names, so partition-value inference types (e.g. boolean partition
    * dirs read back as string) stay the read contract — a declared-type
    * cache would silently change them. NORMALIZED to nullable (ADVICE
    * r20): footer inference in any other JVM (or after eviction) returns
    * all-nullable fields, so caching the writer's nullability would present
    * the same table with two schemas depending on which session reads it.
    */
  private def refreshWritten(name: String, written: StructType,
                             partitionBy: Seq[String]): Unit = {
    spark.catalog.refreshByPath(path(name))
    Warehouse.schemaCache.put(path(name), Warehouse.allNullable(
      StructType(written.filterNot(c => partitionBy.contains(c.name))))): Unit
  }

  /** Crash-safe APPEND for grow-only tables (fact_reviews, each row with
    * its `review_lang` tag, and the id map): only `df`'s rows are written,
    * never the existing ones. `df` materializes with Spark's committer into
    * the sibling `name__atmp` dir (same `partitionBy`), then each data file
    * is renamed to the same relative path under `name/` — part-file names
    * carry the write job's UUID, so they never collide with earlier
    * appends — and the staging dir is deleted. A crash before `_SUCCESS`
    * leaves an incomplete staging dir that [[recover]] drops; a crash while
    * promoting leaves a complete one that [[recover]] rolls forward, so
    * after recovery every append is all-or-nothing.
    *
    * Refused before any bytes move: a partitioned append into a table whose
    * root holds data files (or partition dirs under another column), an
    * unpartitioned append into a partitioned table, and a `df` whose
    * columns (names and types, in order) differ from the table's — so a
    * table written in an older layout (a fact_reviews without
    * `review_lang`) fails loudly instead of mixing file schemas.
    *
    * Each call adds files; a table fed daily grows a few files per
    * partition per day — [[compactSmallFiles]] is the remedy.
    */
  def append(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit = {
    recover(name)
    val base = new Path(path(name)); val f = fs(base)
    requireLayout(f, base, name, partitionBy.headOption, "append")
    val existed = hasData(name)
    if (existed) {
      val table = read(name).schema
      require(sameDataColumns(table, df.schema, partitionBy) &&
          partitionBy.forall(table.fieldNames.contains),
        differs("append", name, df.schema, table))
    }
    val staging = new Path(path(name) + "__atmp")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(staging.toString)
    f.mkdirs(base)
    promoteAppend(name, f, staging)
    // an existing table's cached schema was just checked: only its file
    // listing goes stale. A new table caches df's schema as write() does.
    if (existed) spark.catalog.refreshByPath(path(name))
    else refreshWritten(name, df.schema, partitionBy)
  }

  /** Whether `a` and `b` have the same data columns (those not in
    * `partitionBy`): names and types, in order; not nullability (footer
    * inference reads every column back nullable). */
  private def sameDataColumns(a: StructType, b: StructType, partitionBy: Seq[String]): Boolean = {
    def dataCols(s: StructType) = s.fields.toSeq.filterNot(c => partitionBy.contains(c.name))
      .map(c => c.name -> Warehouse.nullableType(c.dataType))
    dataCols(a) == dataCols(b)
  }

  private def differs(op: String, name: String, written: StructType, table: StructType): String =
    s"$op($name): schema ${written.simpleString} differs from the table's ${table.simpleString}"

  /** Move every data file of a complete [[append]] staging dir to the same
    * relative path under the table, then drop the staging dir. Files
    * already moved by an interrupted earlier promote are no longer there,
    * so a roll-forward moves exactly the rest.
    */
  private def promoteAppend(name: String, f: FileSystem, staging: Path): Unit = {
    val base = new Path(path(name))
    def move(dir: Path, rel: String): Unit = f.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) move(st.getPath, s"$rel$n/")
        else {
          val dest = new Path(base, rel + n)
          f.mkdirs(dest.getParent)
          if (!f.rename(st.getPath, dest))
            throw new java.io.IOException(s"append: promote failed for $name/$rel$n")
        }
      }
    }
    move(staging, "")
    f.delete(staging, true)
  }

  def read(name: String): DataFrame = {
    recover(name)
    // schema cached per PATH across Warehouse instances (instances are
    // cheap per-invocation objects): an uncached spark.read.parquet
    // re-infers from footers — one extra job per read of an immutable
    // index table. A write, a first append or a partition write into a
    // table of no other partitions sets the entry to the data columns it
    // wrote; a later append or partition write must match it; dropTable
    // clears it. So the cache can never serve a stale schema.
    val p = path(name)
    val cached = Warehouse.schemaCache.get(p)
    if (cached != null) spark.read.schema(cached).parquet(p)
    else {
      val df = spark.read.parquet(p)
      Warehouse.schemaCache.putIfAbsent(p, df.schema)
      df
    }
  }

  /** Refuse a write whose layout does not match the table's, before any
    * bytes move. With `partCol` (a per-partition write or a partitioned
    * append): a table root that holds data FILES (the [[write]] layout) or
    * partition dirs under a DIFFERENT column — root-level files beside
    * `partCol=` dirs break partition discovery on every later read
    * (CONFLICTING_PARTITION_COLUMN_NAMES / silently missing rows), and the
    * mix is only detectable at read time. A table that needs a whole-table
    * rewrite while staying partitioned (the periodic re-cap maintenance
    * shape, e.g. persisting Dedup.compactAnchorIndex output) must go through
    * `write(name, df, partitionBy = Seq(partCol))`, which preserves the
    * layout — after which per-partition writes remain valid. Without
    * `partCol` (an unpartitioned append): a table that has partition dirs.
    */
  private def requireLayout(f: FileSystem, base: Path, name: String,
                            partCol: Option[String], op: String): Unit =
    if (f.exists(base)) f.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      val hidden = n.startsWith("_") || n.startsWith(".")
      partCol match {
        case Some(c) =>
          if (st.isFile && !hidden)
            throw new IllegalStateException(
              s"$op($name): table root holds data file '$n' (the " +
              s"whole-table write() layout); a partition write would create a " +
              s"mixed layout that breaks partition discovery. Rewrite once via " +
              s"write(name, df, partitionBy = Seq(\"$c\")) first.")
          if (st.isDirectory && n.contains("=") && !n.startsWith(c + "=") && !hidden)
            throw new IllegalStateException(
              s"$op($name): table is partitioned by '${n.takeWhile(_ != '=')}', " +
              s"not '$c' — one table, one partition column.")
        case None =>
          if (st.isDirectory && n.contains("="))
            throw new IllegalStateException(
              s"$op($name): table is partitioned ('$n'); pass its partitionBy — " +
              s"root data files beside partition dirs break discovery.")
      }
    }

  /** Whether the table holds partitions besides the `parts` dirs. If it
    * does and its schema is cached, `written`'s data columns must match
    * that schema, as [[append]] requires, so no partition write changes
    * how the table reads; refused before any partition moves. A table of
    * only `parts` caches `written`'s columns afterwards, as [[write]]
    * does; other partitions with no cached schema leave none, and the next
    * [[read]] infers it from a footer.
    */
  private def requirePartitionColumns(name: String, f: FileSystem, base: Path,
      partCol: String, parts: Set[String], written: StructType): Boolean = {
    val others = f.listStatus(base).exists { st =>
      val n = st.getPath.getName
      st.isDirectory && n.startsWith(partCol + "=") && !parts.contains(n)
    }
    val table = Warehouse.schemaCache.get(path(name))
    if (others && table != null)
      require(sameDataColumns(table, written, Seq(partCol)),
        differs("writePartition", name, written, table))
    others
  }

  /** The per-partition writers' setup: heal, refuse a mixed layout, mkdirs. */
  private def partitionedRoot(name: String, partCol: String): (FileSystem, Path) = {
    recover(name)
    val base = new Path(path(name)); val f = fs(base)
    requireLayout(f, base, name, Some(partCol), "writePartition")
    f.mkdirs(base)
    (f, base)
  }

  /** Idempotent PER-PARTITION write: lands `df` as the single
    * `partCol=partValue` partition directory of `name`, leaving every
    * other partition untouched — the APPEND shape for grow-only tables
    * (streaming gates' per-batch vector/index appends), where [[write]]'s
    * whole-table swap would rewrite O(table) bytes per batch. The
    * partition is written to the sibling dir `name__ptmp_<part>`, then
    * swapped in ([[swapIn]], parked at `name__pold_<part>`); a replay of
    * the same `partValue` overwrites the same partition, so the
    * foreachBatch replay contract holds without any groupBy-dedupe pass.
    * Readers go through [[read]] as usual: partition discovery re-attaches
    * `partCol` from the directory names. The table's schema stays cached
    * ([[requirePartitionColumns]]), so the next read plans with no footer
    * job.
    */
  def writePartition(name: String, partCol: String, partValue: Long,
                     df: DataFrame): Unit = {
    val (f, base) = partitionedRoot(name, partCol)
    val part = s"$partCol=$partValue"
    // temp and park dirs live OUTSIDE the table root as siblings: a dir
    // inside the root that contains data files participates in partition
    // DISCOVERY regardless of an underscore prefix (a parked
    // `__old_batch_id=2` raised CONFLICTING_PARTITION_COLUMN_NAMES, and a
    // mid-write temp would race readers the same way)
    val others = requirePartitionColumns(name, f, base, partCol, Set(part), df.schema)
    val tmp = new Path(path(name) + s"__ptmp_$part")
    df.drop(partCol).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    swapIn(f, tmp, new Path(base, part), new Path(path(name) + s"__pold_$part"),
      s"$name/$part")
    if (others) spark.catalog.refreshByPath(path(name))
    else refreshWritten(name, df.schema, Seq(partCol))
  }

  /** Idempotent MULTI-partition write: lands every `partCol` partition
    * present in `df` (which must carry the column), leaving all other
    * partitions untouched — the TOUCHED-RANGE rewrite shape for indexes
    * whose rows change in place per batch (the kNN gate's cell-partitioned
    * edge store), where [[write]]'s whole-table swap rewrites O(table)
    * bytes per batch and [[writePartition]] can only append one new value.
    * One write job materializes all partitions into a sibling temp dir
    * (partition values become directory names via partitionBy), then each
    * partition dir swaps in through [[swapIn]] — every crash window leaves
    * each INDIVIDUAL partition either fully old or fully new, never mixed,
    * so a caller that stamps rows with the writing batch can detect and
    * skip already-committed partitions on replay (per-partition
    * idempotence). The schema is checked and cached as [[writePartition]]
    * does it. Returns the partition directory names written.
    */
  def writePartitions(name: String, partCol: String, df: DataFrame): Seq[String] = {
    val (f, base) = partitionedRoot(name, partCol)
    val tmpRoot = new Path(path(name) + "__ptmp_multi")
    if (f.exists(tmpRoot)) f.delete(tmpRoot, true)
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmpRoot.toString)
    val parts = f.listStatus(tmpRoot).map(_.getPath.getName)
      .filter(_.startsWith(partCol + "=")).toSeq
    val others =
      try requirePartitionColumns(name, f, base, partCol, parts.toSet, df.schema)
      catch { case e: IllegalArgumentException => f.delete(tmpRoot, true); throw e }
    parts.foreach { part =>
      swapIn(f, new Path(tmpRoot, part), new Path(base, part),
        new Path(path(name) + s"__pold_$part"), s"$name/$part")
    }
    f.delete(tmpRoot, true)
    if (others) spark.catalog.refreshByPath(path(name))
    else refreshWritten(name, df.schema, Seq(partCol))
    parts
  }

  /** (beyond ref) §2.11 maintenance — small-files compaction. Streaming
    * sinks, incremental upserts, appends and over-parallel writes leave
    * tables as thousands of KB-sized parquet files; at cluster scale that
    * means a task (and an object-store request) per tiny file on every
    * read. Each unit — every partition dir of a partitioned table, else the
    * table root — whose average data-file size falls below
    * `targetBytes / 2` is rewritten into ceil(totalBytes / targetBytes)
    * files and swapped in through [[swapIn]] (a crash mid-compaction can
    * never lose the table). A partitioned table is compacted per partition
    * so its layout survives: a whole-table rewrite would flatten the
    * partition column into root-level data files.
    *
    * Returns the data-file count after the call (unchanged when healthy —
    * the rewrite is skipped, not repeated, so scheduled compaction is
    * idempotent and cheap to run often).
    */
  def compactSmallFiles(name: String, targetBytes: Long = 128L << 20): Int = {
    recover(name)
    val dir = new Path(path(name)); val f = fs(dir)
    if (!f.exists(dir)) return 0
    def dataFilesUnder(root: Path) = {
      val it = f.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && !st.getPath.getName.startsWith("_")) buf += st
      }
      buf.toSeq
    }
    // (partition dir name or "" for the root, staging suffix, park suffix):
    // both dirs are siblings of the table root that recover() heals (see
    // writePartition — in-root dirs join partition discovery)
    val parts = f.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isDirectory && n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath.getName).toSeq
    val units = if (parts.isEmpty) Seq(("", "__tmp", "__old"))
                else parts.map(p => (p, s"__ptmp_$p", s"__pold_$p"))
    var swapped = false
    units.foreach { case (part, staged, park) =>
      val live = if (part.isEmpty) dir else new Path(dir, part)
      val files = dataFilesUnder(live)
      val total = files.map(_.getLen).sum
      if (files.length > 1 && total / files.length < targetBytes / 2) {
        val nOut = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
        // the root reads through read(), whose cached schema skips a footer
        // job; coalesce, not repartition: compaction must not pay a
        // shuffle — merging co-located small files is a narrow dependency
        val src = if (part.isEmpty) read(name) else spark.read.parquet(live.toString)
        val tmp = new Path(path(name) + staged)
        src.coalesce(nOut).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        swapIn(f, tmp, live, new Path(path(name) + park), s"$name/$part".stripSuffix("/"))
        swapped = true
      }
    }
    // the schema is unchanged, so only the file listing goes stale
    if (swapped) spark.catalog.refreshByPath(path(name))
    dataFilesUnder(dir).length
  }

  def readOrEmpty(name: String, schema: StructType): DataFrame = {
    // an EXISTING but EMPTY directory reads as an empty table too: a crash
    // between a per-partition writer's mkdirs and its first partition swap
    // leaves exactly that state, and spark.read.parquet on it would fail
    // schema inference instead of letting the replay proceed. "Empty"
    // means NO data entry (ADVICE r19): a whole-table write() of a
    // zero-partition DataFrame leaves a directory holding only _SUCCESS,
    // which has entries but still fails schema inference — so the guard
    // skips underscore/dot-prefixed metadata names, exactly the names
    // FileInputFormat hides from readers.
    if (hasData(name)) read(name)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def hasData(name: String): Boolean = {
    val p = new Path(path(name))
    exists(name) && fs(p).listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  def exists(name: String): Boolean = {
    recover(name)
    val p = new Path(path(name)); fs(p).exists(p)
  }

  /** Remove a table AND every swap stray beside it — `__tmp`, `__old`,
    * `__atmp` and the per-partition `__ptmp_*` / `__pold_*` siblings:
    * leaving strays would let a later recover() roll the dropped table
    * FORWARD from a pre-drop __tmp, roll a pre-drop partition park back, or
    * promote a pre-drop append into a recreated table. The one shared
    * deletion path for every truncate-like operation.
    */
  private def dropTable(name: String): Unit = {
    Warehouse.schemaCache.remove(path(name))
    val f = fs(new Path(path(name)))
    Seq("", "__tmp", "__old", "__atmp", "__ptmp_*", "__pold_*").foreach { s =>
      Option(f.globStatus(new Path(path(name) + s))).toSeq.flatten
        .foreach(st => f.delete(st.getPath, true))
    }
  }

  /** S10 — clear in FK order (facts → dims), like 00_prepare_tables.sql:5-10.
    * dim_listings_enriched goes too, and so do fact_reviews_enriched and
    * dim_hosts_enriched: older layouts wrote those full enriched copies
    * (their columns now live in fact_reviews and dim_hosts), and a truncate
    * must not leave them behind.
    */
  def truncateAll(): Unit =
    Seq("fact_reviews_enriched", "fact_calendar", "fact_reviews", "dim_listing_id_map",
        "dim_hosts_enriched", "dim_hosts", "dim_dates", "dim_listings_enriched",
        "dim_listings").foreach(dropTable)

  /** Schema/type migration (scripts/maintenance/convert_ids_to_bigint.py:
    * 119-135 — widen INT→BIGINT across FK-dependent tables): rewrite the
    * table with the named columns re-typed via `try_cast`, preserving
    * column order and every unnamed column. Where the reference's server-
    * side ALTER would abort on an unconvertible value, this quarantines the
    * offending ROWS to `<name>__rejects` (original schema — triage sees
    * the raw values) and migrates the rest; a purely-widening migration
    * quarantines nothing.
    *
    * Both rewrites go through the crash-recoverable swap ([[write]]): the
    * rejects table materializes FIRST, while the original table is still in
    * place, so no crash point can lose rows. Returns the quarantined count.
    * Scale: two scans of the table plus the rewrite — the same order of
    * work the reference's ALTER pays server-side, all distributed.
    */
  def migrateColumnTypes(name: String, casts: Map[String, String],
                         quarantineTo: String = ""): Long = {
    val df = read(name)
    val missing = casts.keySet -- df.columns.toSet
    require(missing.isEmpty, s"migrateColumnTypes: no such column(s) $missing in $name")
    val rejName = if (quarantineTo.nonEmpty) quarantineTo else s"${name}__rejects"
    // the quarantine target must not alias the source (or its swap dirs):
    // writing rejects over `name` would replace the table under the lazy
    // `df`, and the migration rewrite would then read back only the
    // rejects — total data loss from one typo. Fail loudly instead.
    require(rejName != name && rejName != s"${name}__tmp" && rejName != s"${name}__old",
      s"migrateColumnTypes: quarantine target $rejName aliases the source table")
    // a row fails iff some migrated column is non-null but its cast is null
    // (P4's try_cast validity gate, applied per migrated column)
    val bad = casts.map { case (c, t) =>
      col(c).isNotNull && expr(s"try_cast(`$c` AS $t)").isNull
    }.reduce(_ || _)
    // Quarantine is APPEND-ONLY and only touched when rows actually fail:
    // an overwrite would let a clean re-run (the idempotent-maintenance
    // case) replace the rejects table with an empty frame and destroy the
    // only remaining copy of previously quarantined rows. Schema drift
    // between runs (the original schema changes once a migration lands)
    // fails the unionByName loudly rather than silently coercing.
    val nBad = df.filter(bad).count()
    if (nBad > 0) {
      val rejects =
        if (exists(rejName)) read(rejName).unionByName(df.filter(bad))
        else df.filter(bad)
      write(rejName, rejects)
    }
    val migrated = df.filter(!bad).select(df.columns.toSeq.map { c =>
      casts.get(c) match {
        case Some(t) => expr(s"try_cast(`$c` AS $t)").as(c)
        case None    => col(c)
      }
    }: _*)
    write(name, migrated)
    nBad
  }

  /** Archive-then-truncate (scripts/maintenance/
    * archive_and_truncate_staging.py:29-32): park the table's rows in a
    * stamped archive table AND a pipe-gz csv export (the S7 sink — what the
    * reference writes to logs/), then truncate the original. The archive
    * writes complete BEFORE the truncate, so no crash point loses rows.
    * `stamp` is caller-supplied (the reference uses a UTC timestamp);
    * returns the archive table name.
    */
  def archiveAndTruncate(name: String, stamp: String, csvDir: String): String = {
    val archiveName = s"${name}_archive_$stamp"
    val df = read(name)
    write(archiveName, df)
    Sources.writePipeCsv(read(archiveName), s"$csvDir/${name}_$stamp")
    dropTable(name)
    archiveName
  }

  /** S11 — SQL script runner (modules/data_loader.py:532-568): split on ';',
    * execute each statement, tolerate failures only on DROP statements.
    */
  def runScript(sqlText: String): Unit =
    sqlText.split(";").map(_.trim).filter(_.nonEmpty).foreach { stmt =>
      try spark.sql(stmt).collect()
      catch {
        case e: Exception if stmt.toUpperCase.startsWith("DROP") => // idempotent drops
        case e: Exception => throw e
      }
    }

  private val tableNames =
    Seq("dim_listings", "dim_listing_id_map", "dim_hosts", "dim_dates",
        "fact_calendar", "fact_reviews")

  /** A6/F16 — the reference's post-load statistics
    * (modules/data_loader.py:570-578): table → row count. One Observation
    * of a per-table count over the union of the tables' name-tagged rows,
    * run through a `noop` write: one job and no shuffle. An empty table
    * counts 0.
    */
  def stats(): Map[String, Long] = {
    val present = tableNames.filter(exists)
    if (present.isEmpty) Map.empty
    else {
      val obs = org.apache.spark.sql.Observation()
      val counts = present.map(t => count(when(col("t") === t, 1)).as(t))
      present.map(t => read(t).select(lit(t).as("t"))).reduce(_ union _)
        .observe(obs, counts.head, counts.tail: _*)
        .write.format("noop").mode(SaveMode.Overwrite).save()
      obs.get.map { case (t, n) => t -> n.asInstanceOf[Long] }
    }
  }

  /** The reference's db-size report (scripts/analysis/db_size_check.py:22-46):
    * table → bytes on disk. Pure filesystem metadata — no scan.
    */
  def sizeStats(): Map[String, Long] =
    tableNames.filter(exists).map { t =>
      val p = new Path(path(t))
      t -> fs(p).getContentSummary(p).getLength
    }.toMap
}

object Warehouse {
  /** Footer-schema cache keyed by table PATH (Warehouse instances are
    * per-invocation value objects, so the cache lives here): one schema
    * inference job per table per JVM instead of per read. Set by
    * refreshWritten, cleared by dropTable.
    */
  private[graft] val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The all-nullable form footer inference would return (ADVICE r20) —
    * recursive, so nested fields/elements normalize too. (StructType's own
    * asNullable is private[sql].)
    */
  private[airbnb] def allNullable(st: StructType): StructType =
    nullableType(st).asInstanceOf[StructType]

  private def nullableType(dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullableType(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }
}
