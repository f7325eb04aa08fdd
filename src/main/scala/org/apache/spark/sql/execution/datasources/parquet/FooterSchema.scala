package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{HadoopFSUtils, ThreadUtils}

/** Parquet schema inference on the DRIVER. A schema-less
  * `spark.read.parquet` infers through `ParquetUtils.inferSchema` →
  * `SchemaMergeUtils.mergeSchemasInParallel`, which runs a Spark job
  * (`parallelize(files).mapPartitions(readFooters).collect()`) even for
  * one footer. This is the same inference with the footers read here:
  * the same files touched (the sorted-first data file; every file under
  * `mergeSchema`), the same converter flags as the job's,
  * `readSchemaFromFooter`, `StructType.merge` under the session's case
  * sensitivity, and Spark's own errors. Parquet summary files
  * (`_metadata`, `_common_metadata`) get no precedence: nothing in the
  * engine writes them and Spark's summary level defaults to NONE. It
  * lives in Spark's parquet package because `readParquetFootersInParallel`
  * is `private[parquet]` (and the session state and error builders
  * `private[sql]`); nothing in Spark is modified. The result is the DATA
  * schema: partition columns are left to the reader's own path inference.
  */
object FooterSchema {

  /** The data schema `spark.read.options(options).parquet(paths: _*)`
    * infers. `literalFiles`: every path is a data FILE named literally (a
    * manifest's list) — no glob, no listing, and only the footers read are
    * stat'ed (concurrently, as the footers are read). Otherwise paths are
    * globbed per `__globPaths__`, each root is stat'ed once, and a
    * directory is listed with Spark's own file index (hidden-file and
    * partition-directory rules included).
    */
  def infer(spark: SparkSession, paths: Seq[String],
      options: Map[String, String], literalFiles: Boolean): StructType = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConfWithOptions(options)
    def stat(p: Path): FileStatus =
      try p.getFileSystem(hadoopConf).getFileStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        throw QueryCompilationErrors.dataPathNotExistError(p.toString) }
    def visible(p: Path) = !HadoopFSUtils.shouldFilterOutPathName(p.getName)

    // leaf files: paths, with whatever statuses a listing already produced
    val (leaves, listed) =
      if (literalFiles) {
        (paths.map { s =>
          val p = new Path(s)
          p.getFileSystem(hadoopConf).makeQualified(p)
        }.filter(visible), Map.empty[Path, FileStatus])
      } else {
        val glob = CaseInsensitiveMap(options).get(DataSource.GLOB_PATHS_KEY)
          .forall(_ == "true")
        val roots = DataSource.checkAndGlobPathIfNecessary(paths, hadoopConf,
          checkEmptyGlobPath = true, checkFilesExist = false,
          enableGlobbing = glob).map(stat)
        val files =
          if (roots.forall(_.isFile)) roots.filter(s => visible(s.getPath))
          else new InMemoryFileIndex(spark, roots.map(_.getPath), options,
            None).allFiles()
        (files.map(_.getPath), files.map(s => s.getPath -> s).toMap)
      }

    // ParquetUtils.inferSchema's choice of files to touch
    val sorted = leaves.sortBy(_.toString)
    val touch =
      if (new ParquetOptions(options, conf).mergeSchema) sorted
      else sorted.take(1)
    // each footer's status (its length locates the footer): the listing's,
    // or one stat per literal file, concurrent when there are several,
    // the first failure in path order thrown as itself
    val statuses =
      if (!literalFiles) touch.map(listed)
      else if (touch.size <= 1) touch.map(stat)
      else ThreadUtils.parmap(touch, "statingParquetFooters", 8)(p =>
        Try(stat(p))).map(_.get)

    // ParquetFileFormat.mergeSchemasInParallel's reader, on this thread
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    val footers = ParquetFileFormat.readParquetFootersInParallel(hadoopConf,
      statuses, new FileSourceOptions(CaseInsensitiveMap(options))
        .ignoreCorruptFiles)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduceLeftOption { (merged, next) =>
        try merged.merge(next, conf.caseSensitiveAnalysis)
        catch { case cause: SparkException =>
          throw QueryExecutionErrors.failedMergingSchemaError(merged, next,
            cause) }
      }
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError(
        "Parquet"))
  }
}
