package graft.sources

import org.apache.spark.sql.DataFrame

/** Partitioned table sinks (reference writes every layer date-partitioned
  * — bronze_loader.py:33-37, silver_to_gold.py — via Delta; graft writes
  * plain parquet with the same layout guarantees, storage-format
  * agnostic).
  *
  * Scale notes: `overwritePartitions` uses DYNAMIC partition overwrite —
  * only partitions present in the batch are replaced, so an incremental
  * daily run rewrites one date directory, not the table. That plus
  * deterministic operator output is what makes re-runs idempotent without
  * a transaction log. `maxRecordsPerFile` bounds file sizes so a skewed
  * partition cannot produce a single multi-GB file.
  *
  * What a table format (Delta/Iceberg) would ADD over these sinks:
  * version pinning / time travel / rollback / vacuum — provided by
  * [[VersionedTable]] (manifest log + optimistic rename commit) since
  * round 9 — snapshot-isolated concurrent writers (VersionedTable's
  * rename guard serializes commits; `compactPartitions` keeps its
  * exclusive-access contract for the in-place path), and ACID MERGE
  * (re-expressed here as the oracle-checked key-window upsert,
  * `Scoring.upsertPredictions`). Every operator in this library
  * reads/writes through DataFrames, so swapping `parquet(path)` for
  * `format("delta")` is a sink-level change — no operator would notice.
  */
object Sinks {

  /** Full-table write, partitioned by the given columns. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed table write: rows hash-partitioned into `nBuckets` files per
    * partition by `bucketCol` and sorted within each bucket. Two tables
    * bucketed the same way equi-join with ZERO shuffle (and no sort) — at
    * 100 TB this turns every recurring fact-fact join on the bucket key
    * into a map-side merge. The catalog entry is what carries the bucket
    * spec; `path` keeps the data external to the warehouse dir. */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      bucketCol: String, nBuckets: Int = 32): Unit =
    writeBucketed(df, tableName, path, Seq(bucketCol), nBuckets)

  /** Multi-column variant: bucket + sort on a composite key, so an
    * equi-join on EXACTLY these columns (e.g. the (zone_id, hour) view
    * key of the revenue state) plans with no Exchange on this side. */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      bucketCols: Seq[String], nBuckets: Int): Unit =
    df.write
      .mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(tableName)

  /** ORC sink, partitioned like [[writePartitioned]] — one call swaps the
    * storage format without touching any operator. */
  def writeOrcPartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .orc(path)

  /** Small-file compaction for a date-partitioned parquet table — the
    * maintenance job every incremental pipeline needs at scale: a year of
    * hourly micro-batches leaves thousands of KB-sized files per
    * partition, and at 100 TB the NameNode/listing and per-file task
    * overheads dominate scans long before the data does (the problem
    * Delta's OPTIMIZE solves; re-expressed storage-agnostically).
    *
    * Only partitions whose file count exceeds `maxFilesPerPartition` are
    * rewritten — listing is driver-side metadata (one filesystem walk,
    * no data read), and the rewrite reads ONLY the affected partitions,
    * coalescing each to ⌈bytes / targetFileBytes⌉ files via a
    * per-partition repartition. Untouched partitions keep their files
    * byte-identical; the rewrite goes through [[overwritePartitions]]
    * so it is idempotent and replaces only what it read.
    *
    * CONCURRENCY CONTRACT (this is a plain-parquet table, no transaction
    * log): the caller must hold exclusive write access to the table for
    * the duration of the compaction. Each partition's rewrite is a
    * read-then-dynamic-overwrite — a writer appending to a partition
    * between the read and the commit has its rows replaced by the
    * earlier-read snapshot, and a crash DURING a partition's job commit
    * can leave that one partition incomplete (re-running the compaction
    * or the day's idempotent batch repairs it, which is why the rewrite
    * goes through [[overwritePartitions]]). Maintenance windows or a
    * table lock are how the reference's OPTIMIZE is scheduled too; a
    * table format (Delta/Iceberg) is the upgrade when concurrent
    * writers must stay live.
    *
    * Returns (partition value → files before) for the rewritten
    * partitions — the audit line the maintenance job logs. */
  def compactPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
      partitionCol: String, targetFileBytes: Long = 128L * 1024 * 1024,
      maxFilesPerPartition: Int = 8): Map[String, Int] = {
    // Hadoop FS, not java.io: the same walk works on HDFS/S3A/local
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(hPath)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partitionCol="))
    val oversplit = parts.flatMap { dir =>
      val files = fs.listStatus(dir.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      // directory names carry Hive path-escaping (space → %20 etc.); the
      // equality filter below compares COLUMN values, so unescape first —
      // an escaped value would silently match nothing and skip the
      // partition. The null partition (__HIVE_DEFAULT_PARTITION__) is
      // skipped outright: `col === value` can never select it.
      val raw = dir.getPath.getName.stripPrefix(s"$partitionCol=")
      val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(raw)
      if (files.length <= maxFilesPerPartition ||
          raw == "__HIVE_DEFAULT_PARTITION__") None
      else {
        val bytes = files.map(_.getLen).sum
        val target = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        Some((value, files.length, target))
      }
    }
    oversplit.foreach { case (value, _, target) =>
      val part = spark.read.parquet(path)
        .filter(org.apache.spark.sql.functions.col(partitionCol) === value)
        .repartition(target)
      overwritePartitions(part, path, Seq(partitionCol))
    }
    oversplit.map { case (value, before, _) => value -> before }.toMap
  }

  /** Incremental write: replaces ONLY the partitions present in `df`,
    * leaving the rest of the table untouched (idempotent re-run of one
    * day's batch). The mode is a per-write option, not the session conf,
    * so writes running concurrently in the same session keep their own
    * overwrite mode. */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
