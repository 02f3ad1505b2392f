package graft.fs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileStatus, Path}

/** Offline store: append-only, day-partitioned Parquet feature history with a
  * high-watermark checkpoint and small metadata tables.
  *
  * Reference shape: BigQuery `aq_data.aqi_info` appended per Spark run
  * (write_to_bigquery.py:113-118) over day-partitioned GCS Parquet discovered
  * by hand-rolled regex listing + date filter (write_to_bigquery.py:43-55) and
  * a `start_date.txt` watermark (write_to_bigquery.py:36-38,122-129).
  *
  * Spark-first: `partitionBy("year","month","day")` writes; reads go through
  * ONE scan of the table root with a partition-column predicate — Catalyst's
  * `PruneFileSourcePartitions` does the directory pruning the reference did
  * manually, and the per-day sequential driver loop (write_to_bigquery.py:73)
  * disappears into a single distributed job.
  */
final case class OfflineStore(spark: SparkSession, root: String) {

  private def tablePath(name: String) = s"$root/$name"
  // All store-root IO goes through the root path's OWN Hadoop FileSystem so
  // an HDFS/S3/GCS root works identically to a local one (java.nio against a
  // remote root silently "never exists" → full-history reprocessing).
  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  /** False for hidden entries: `_SUCCESS`, `.crc` checksums, `.`-prefixed
    * compaction tmp dirs. */
  private def isData(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    !n.startsWith(".") && !n.startsWith("_")
  }
  private def watermarkFile(name: String) = new Path(s"$root/_watermark_$name.txt")

  private def readSmallFile(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeSmallFile(p: Path, s: String): Unit = {
    val out = fs.create(p, true) // overwrite
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Append feature rows, partitioned by calendar day columns (must exist). */
  def append(name: String, df: DataFrame, partitionCols: Seq[String] = Seq("year", "month", "day")): Unit =
    df.write.mode("append").partitionBy(partitionCols: _*).parquet(tablePath(name))

  // Per table: the (relative path, length) of the data file whose footer
  // gave the schema, and that schema. Replaced whole, read without a lock.
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, ((String, Long), StructType)]

  /** Full-history read. Partition pruning applies to any filter the caller
    * adds on the partition columns.
    *
    * The schema is Spark's own inference, memoized per table. With
    * `mergeSchema` off, `spark.read.parquet` samples the footer of ONE
    * file: the first data file in sorted path order (`ParquetUtils.
    * inferSchema`); finding it costs a [[partitionListing]] walk (~3 ms)
    * where the footer read is a Spark job (72-79 ms against 11-13 ms for
    * the same read with a schema given, 4-vCPU VM, the benchmark's
    * ~15-day feature table). The memo is keyed by that file's (path,
    * length), so it is re-inferred when the file changes: an
    * [[expireOlderThan]] or a [[compactDay]] of the oldest day. It holds
    * only while `spark.sql.parquet.mergeSchema` is off (Spark's default;
    * this read passes no option), and is not used when it is on. The
    * partition columns keep the types first inferred for them: integers
    * for the day dirs that [[append]] writes. A table with no data file
    * reads, and fails, as `spark.read.parquet` does. */
  def read(name: String): DataFrame = {
    val path = tablePath(name)
    val sampled =
      if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean) None
      else partitionListing(name).toSeq.flatMap { case (group, files) =>
        files.map { case (file, len) => (if (group == file) file else s"$group/$file", len) }
      }.minByOption(_._1)
    sampled.fold(spark.read.parquet(path)) { file =>
      val schema = schemas.get(name).collect { case (`file`, s) => s }.getOrElse {
        val s = spark.read.parquet(path).schema
        schemas.put(name, (file, s))
        s
      }
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The table's data files grouped by partition directory: relative dir
    * path (`year=2025/month=5/day=1`) -> set of (file name, length). A
    * file directly under the table root is its own group, keyed by its
    * name; a leaf dir without data files is a group with an empty set.
    * Hidden entries (`.`/`_` prefixes: `_SUCCESS`, checksums, compaction
    * tmp dirs) are skipped at every level. Empty for a missing table.
    *
    * Built on `listStatus` only. `FileSystem.listFiles(recursive)` returns
    * `LocatedFileStatus`, whose permission load forks a shell per file on
    * the local FS: 110-120 ms a call on the benchmark's ~15-day feature
    * table against 2-3 ms for this walk (4-vCPU VM). */
  def partitionListing(name: String): Map[String, Set[(String, Long)]] = {
    val rootP = new Path(tablePath(name))
    def walk(dir: Path, rel: String): Seq[(String, Set[(String, Long)])] = {
      val (dirs, files) = fs.listStatus(dir).toSeq.filter(isData).partition(_.isDirectory)
      val here = files.map(f => (f.getPath.getName, f.getLen))
      val below = dirs.flatMap { d =>
        val n = d.getPath.getName
        walk(d.getPath, if (rel.isEmpty) n else s"$rel/$n")
      }
      val groups =
        if (rel.isEmpty) here.map(f => f._1 -> Set(f))
        else if (here.nonEmpty || dirs.isEmpty) Seq(rel -> here.toSet)
        else Nil
      groups ++ below
    }
    if (fs.exists(rootP)) walk(rootP, "").toMap else Map.empty
  }

  /** Rows of the named [[partitionListing]] groups only, read under
    * `schema` with the table root as `basePath` (partition columns come
    * from the dir names): no re-listing of the whole table, no schema
    * inference job. */
  def readPartitions(name: String, groups: Iterable[String], schema: StructType): DataFrame =
    spark.read.schema(schema).option("basePath", tablePath(name))
      .parquet(groups.map(g => s"${tablePath(name)}/$g").toSeq: _*)

  /** Incremental read: rows on/after the stored watermark date.
    * The filter is on partition columns → Catalyst prunes directories. */
  def readSince(name: String, sinceDate: java.time.LocalDate): DataFrame = {
    val d = sinceDate
    read(name).where(
      make_date(col("year"), col("month"), col("day")) >= to_date(lit(d.toString))
    )
  }

  /** Rows of the day partitions from `since` (none before it when absent)
    * through `until`, both inclusive: [[readSince]] with an upper bound,
    * pruned the same way. A day dir is the calendar date of the rows'
    * timestamp in the writer's session zone ([[expireOlderThan]] relies on
    * the same contract), so a caller bounding a timestamp widens its dates
    * by a day for a reader in another zone. */
  def readBetween(name: String, since: Option[java.time.LocalDate], until: java.time.LocalDate): DataFrame = {
    val day = make_date(col("year"), col("month"), col("day"))
    val upTo = day <= to_date(lit(until.toString))
    read(name).where(since.fold(upTo)(d => day >= to_date(lit(d.toString)) && upTo))
  }

  /** Current watermark (exclusive lower bound for the next run), if any. */
  def watermark(name: String): Option[java.time.LocalDate] = {
    val p = watermarkFile(name)
    if (fs.exists(p)) Some(java.time.LocalDate.parse(readSmallFile(p).trim)) else None
  }

  /** Advance the watermark to max(partition date) + 1 day, as the reference
    * does (write_to_bigquery.py:122-129). */
  def advanceWatermark(name: String, df: DataFrame): Option[java.time.LocalDate] = {
    val maxDate = df
      .agg(max(make_date(col("year"), col("month"), col("day"))).as("d"))
      .collect()(0)
      .getAs[java.sql.Date]("d")
    Option(maxDate).map { md =>
      val next = md.toLocalDate.plusDays(1)
      writeSmallFile(watermarkFile(name), next.toString)
      next
    }
  }

  /** Bucketed table write: co-locates rows by `bucketCol` (catalog table,
    * since bucketing metadata lives in the metastore). Downstream
    * aggregations and joins keyed on `bucketCol` read the bucketed layout
    * and skip their shuffle entirely — at 100 TB, pre-bucketing the feature
    * history on entity_id makes every latest-per-key snapshot and PIT join
    * shuffle-free (the single biggest cost in those plans). Sorting within
    * buckets by the timestamp sets up sort-based argmax/as-of scans. */
  def appendBucketed(
      table: String,
      df: DataFrame,
      bucketCol: String,
      buckets: Int,
      sortCol: Option[String] = None
  ): Unit = {
    // external table anchored under the store ROOT (a bare saveAsTable
    // would land in the session warehouse, invisible to this store and
    // colliding across stores that share a session)
    val w = df.write.mode("append").format("parquet")
      .option("path", tablePath(table))
      .bucketBy(buckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** Compact a day partition's small files in place. Incremental appends
    * (one file per batch per day, as the reference's loader wrote —
    * load.py:150-182) accumulate small files until listing and scan task
    * overhead dominate; at 100 TB-scale ingest this is THE operational
    * failure mode of append-only parquet stores. Rewrites exactly one
    * calendar-day partition directory to `targetFiles` files via an
    * atomic-enough tmp-dir swap (crash before the final rename leaves the
    * original partition intact; rerun to finish).
    *
    * Returns (filesBefore, filesAfter). */
  def compactDay(name: String, day: java.time.LocalDate, targetFiles: Int = 1): (Int, Int) = {
    require(targetFiles > 0, "targetFiles must be positive")
    val partDir = new Path(
      s"${tablePath(name)}/year=${day.getYear}/month=${day.getMonthValue}/day=${day.getDayOfMonth}")
    val tmp = new Path(partDir.getParent, s".${partDir.getName}_compact_tmp")
    val old = new Path(partDir.getParent, s".${partDir.getName}_compact_old")
    def must(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(s"compaction swap failed: $what")
    // Crash recovery first: died between the two renames → the day lives
    // only in the set-aside copy; restore it before anything else (the same
    // branch OnlineRefresh.start needs for its snapshot swap).
    if (!fs.exists(partDir) && fs.exists(old))
      must(fs.rename(old, partDir), s"recovery rename $old -> $partDir")
    require(fs.exists(partDir), s"no partition at $partDir")
    // Stale leftovers from a crash after the swap (partition intact, hidden
    // duplicate still holding the pre-compaction files): drop them NOW —
    // the early return below would otherwise strand them forever.
    fs.delete(tmp, true)
    fs.delete(old, true)
    def dataFiles(p: Path): Int = fs.listStatus(p).count(s => s.isFile && isData(s))
    def fileManifest(p: Path): Set[(String, Long)] =
      fs.listStatus(p).filter(s => s.isFile && isData(s))
        .map(s => (s.getPath.getName, s.getLen)).toSet
    val before = dataFiles(partDir)
    if (before <= targetFiles) return (before, before)
    // Writer exclusion: snapshot the partition's file manifest before the
    // rewrite read; if an append landed while we rewrote, the set-aside
    // copy holds files the rewrite never saw — deleting it would lose them.
    // Verified post-swap; on mismatch the swap is rolled back and the
    // caller retries. (A writer that STARTS after the partDir->old rename
    // recreates partDir; that path is detected by the exists() guard
    // before the tmp rename below and rolled back with the late appends
    // preserved — full exclusion needs transactional listing.)
    val preManifest = fileManifest(partDir)
    // partition-column values live in the directory name, not the files —
    // read/write the bare directory so the rewritten files stay schema-equal.
    // mergeSchema: a day whose batches evolved the schema must keep the
    // union (a single sampled footer would silently drop late columns).
    spark.read.option("mergeSchema", "true").parquet(partDir.toString)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    must(fs.rename(partDir, old), s"$partDir -> $old")
    if (fileManifest(old) != preManifest) {
      must(fs.rename(old, partDir), s"rollback $old -> $partDir")
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"concurrent append detected in $partDir during compaction; rolled back — rerun")
    }
    // A writer that started after the partDir->old rename may have
    // recreated partDir with fresh appends. rename(tmp, existingDir) only
    // fails on local FS — on HDFS it silently moves tmp INTO partDir as a
    // nested subdirectory. Detect the recreation explicitly, fold the late
    // appends into the set-aside copy (fresh part files have unique UUID
    // names), restore it to partDir, and make the caller retry — both
    // filesystems now fail loudly WITH the partition data in place.
    if (fs.exists(partDir)) {
      for (s <- fs.listStatus(partDir) if s.isFile && isData(s))
        must(fs.rename(s.getPath, new Path(old, s.getPath.getName)),
          s"fold late append ${s.getPath} -> $old")
      fs.delete(partDir, true)
      must(fs.rename(old, partDir), s"rollback $old -> $partDir")
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"concurrent writer recreated $partDir during compaction; rolled back — rerun")
    }
    must(fs.rename(tmp, partDir), s"$tmp -> $partDir")
    fs.delete(old, true)
    // drop the _SUCCESS marker so the partition dir holds only data files
    fs.delete(new Path(partDir, "_SUCCESS"), false)
    (before, dataFiles(partDir))
  }

  /** Drop calendar-day partitions strictly OLDER than `cutoff` — the
    * storage-level enforcement of the feature TTL (aqi_feature.py:20's 7-day
    * bound caps how far back the PIT join looks; expiring the partitions
    * caps what the store must keep and scan). Partition-directory deletes,
    * no file rewrite. Returns the number of day-partitions removed. */
  def expireOlderThan(name: String, cutoff: java.time.LocalDate): Int = {
    val day = raw"year=(\d+)/month=(\d+)/day=(\d+)".r
    partitionListing(name).keys.count {
      case rel @ day(y, m, d) =>
        java.time.LocalDate.of(y.toInt, m.toInt, d.toInt).isBefore(cutoff) &&
          fs.delete(new Path(tablePath(name), rel), true)
      case _ => false // not a day partition (e.g. a file under the root)
    }
  }

  /** Lineage metadata row. Ref: write_to_bigquery.py:139-147, load.py:87-93. */
  def appendLineage(name: String, version: String, source: String, transformationFile: String): Unit = {
    import spark.implicits._
    val ts = java.time.Instant.now.toString
    Seq((name, version, source, transformationFile, ts))
      .toDF("name", "version", "source", "transformation_file", "timestamp")
      .write.mode("append").parquet(tablePath("lineage"))
  }

  /** Feature metadata insert guarded by an existence check (idempotent).
    * Ref: dedup-checked insert load.py:60-102 (COUNT(*) guard → F4+A2).
    * The guard is best-effort single-writer (check-then-append is not atomic
    * under concurrent runs); readers wanting hard uniqueness should
    * `dropDuplicates("feature_name","version")` on read. */
  def registerFeatureMetadata(
      featureName: String,
      version: String,
      formula: String,
      description: String
  ): Boolean = {
    import spark.implicits._
    val path = tablePath("feature_metadata")
    val exists = fs.exists(new Path(path)) && !spark.read
      .parquet(path)
      .where(col("feature_name") === featureName && col("version") === version)
      .limit(1)
      .isEmpty
    if (!exists) {
      Seq((featureName, version, formula, description, java.time.Instant.now.toString))
        .toDF("feature_name", "version", "formula", "description", "created_at")
        .write.mode("append").parquet(path)
    }
    !exists
  }
}
