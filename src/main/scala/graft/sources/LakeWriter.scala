package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lake landing writes with the reference's partition scheme and audit
  * columns (reference: pipelines/utils/tasks.py:707-809,936-1001 —
  * `ano_particao=YYYY/mes_particao=M/data_particao=YYYY-MM-DD` Hive dirs,
  * `loaded_at`/run-id stamps, append vs overwrite vs per-partition
  * overwrite).
  *
  * Scale notes: `partitionBy` writes one file per (task, partition) — we
  * repartition on the partition columns first so each day lands as a few
  * large files instead of numPartitions small ones (the small-files problem
  * is the classic 100 TB lake killer). Partition overwrite is DYNAMIC: only
  * the days present in the batch are replaced, which is what makes re-runs
  * idempotent without truncating the table.
  */
object LakeWriter {

  /** Audit columns: run timestamp and run id are explicit parameters (the
    * reference stamps datetime.now() inside the task — nondeterministic;
    * here determinism is the caller's choice).
    */
  def withAudit(df: DataFrame, runId: String, loadedAt: java.sql.Timestamp): DataFrame =
    df.withColumn("run_id", lit(runId))
      .withColumn("loaded_at", lit(loadedAt))

  /** Day-grain partition stamp columns from a date/timestamp column. */
  def withDatePartitions(df: DataFrame, dateCol: Column): DataFrame =
    df.withColumn("ano_particao", year(dateCol))
      .withColumn("mes_particao", month(dateCol))
      .withColumn("data_particao", to_date(dateCol).cast("string"))

  /** Month-grain variant (data_particao = first day of month). */
  def withMonthPartitions(df: DataFrame, dateCol: Column): DataFrame =
    df.withColumn("ano_particao", year(dateCol))
      .withColumn("mes_particao", month(dateCol))
      .withColumn("data_particao", trunc(dateCol, "month").cast("string"))

  private val partCols = Seq("ano_particao", "mes_particao", "data_particao")

  /** Append new days to the lake table. */
  def append(df: DataFrame, path: String, filesPerPartition: Int = 1): Unit =
    df.repartition(partCols.map(col) :+ (rand(42) * filesPerPartition).cast("int"): _*)
      .write.mode("append").partitionBy(partCols: _*).parquet(path)

  /** Replace ONLY the date partitions present in `df` (idempotent re-run
    * semantics — the reference's staged-delete + reload,
    * pipelines/utils/tasks.py:812-933, collapses to dynamic partition
    * overwrite).
    */
  def overwritePartitions(df: DataFrame, path: String): Unit =
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)

  /** Full overwrite (reference dump_mode=overwrite). */
  def overwriteAll(df: DataFrame, path: String): Unit =
    df.repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(path)

  /** The reference's all-string landing cast (pipelines/utils/
    * tasks.py:958-960): typing deferred to the transform layer.
    */
  def allString(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(s"`$c`").cast("string").as(c)): _*)

  /** Bucketed catalog table: pre-shuffles once at write time so every
    * subsequent equi-join/aggregation on `bucketCols` between co-bucketed
    * tables runs with NO exchange — the cheapest repeated-join strategy at
    * lake scale (pay the shuffle once, amortize it over every downstream
    * query). Requires a catalog (saveAsTable), not a bare path.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Idempotent drop of a managed catalog table INCLUDING a stale warehouse
    * directory left behind by a previous session — `saveAsTable` refuses to
    * write over a location the current catalog doesn't own
    * (LOCATION_ALREADY_EXISTS), so re-runs across sessions need both the
    * catalog entry and the directory gone.
    */
  def dropManagedTable(spark: org.apache.spark.sql.SparkSession, table: String): Unit = {
    // the hand-built warehouse location below is only correct for a bare
    // default-database name: `db.tbl` lives at <warehouse>/db.db/tbl (the
    // naive join would delete an unrelated path) and a backtick would break
    // out of the quoted identifier in the DROP
    require(!table.contains('.') && !table.contains('`'),
      s"dropManagedTable handles bare default-database names only, got '$table'")
    // prefer the catalog's own idea of the location when the table exists —
    // robust to a warehouse.dir that changed between sessions
    val catalogLoc: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(table))
        Some(new org.apache.hadoop.fs.Path(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
          .location))
      else None
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val p = catalogLoc.getOrElse(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Range-clustered layout: globally range-partition on `sortCols` and
    * sort within each output file, so every file covers a DISJOINT range of
    * the sort key. Parquet then stores tight min/max stats per file and
    * row group, and any reader filtering on the key skips whole files —
    * the data-skipping layout that turns a 100 TB scan-with-predicate into
    * reading a handful of files (what table formats call clustering /
    * Z-order collapses to this for a single key). `numFiles` controls
    * target file count; range boundaries come from Spark's reservoir
    * sampling, which balances file sizes under skew.
    */
  def writeRangeLayout(df: DataFrame, path: String, sortCols: Seq[Column],
      numFiles: Int, mode: String = "overwrite"): Unit =
    df.repartitionByRange(numFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode(mode).parquet(path)

  /** Z-value of two non-negative integer columns: interleave the low
    * `bits` of each (a's bit i → position 2i, b's → 2i+1). Points close in
    * BOTH dimensions get close z-values, so range-partitioning on the
    * z-value clusters files in both dimensions at once — multi-dimensional
    * data skipping, where a single-key range layout only skips on its one
    * key. Pure codegen'd bitwise ops.
    */
  def zValue2(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    (0 until bits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-order layout: range-partition + sort on [[zValue2]] of two key
    * columns, so every output file covers a compact rectangle in the 2-D
    * key space and parquet min/max stats prune on EITHER dimension.
    * Callers pre-normalize keys to non-negative ints (bucket ids, day
    * numbers, quantile ranks — `LayoutSpec` shows the pattern).
    */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
      numFiles: Int, bits: Int = 16, mode: String = "overwrite"): Unit =
    // the z-value is an EXPRESSION sort key: repartitionByRange/sort
    // evaluate it in flight, nothing extra lands in the files
    writeRangeLayout(df, path, Seq(zValue2(a, b, bits)), numFiles, mode)

  /** Small-files compaction: rewrite a parquet directory into files sized
    * close to `targetBytes`. File count is derived from the ACTUAL input
    * bytes (filesystem listing, no data pass); the rewrite itself is one
    * scan + one coalesce-free round-robin repartition. Writes to `outPath`
    * — swapping the directory in is the caller's (atomic-rename) move, so
    * a failed compaction never corrupts the live table.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetBytes: Long): Int = {
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = compactionFileCount(totalBytes, targetBytes)
    ParquetRead(spark, inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** The compaction sizing rule (shared with the versioned-lake retention
    * path in the streaming dedup flows): how many output files a rewrite
    * of `totalBytes` should target so each lands close to `targetBytes`.
    */
  def compactionFileCount(totalBytes: Long, targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
  }
}
