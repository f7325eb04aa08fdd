package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** The engine's one schema-less parquet read. `spark.read.parquet(p)`
  * without a schema runs a Spark job to read footers (one task even for
  * one file); here the driver reads the footer(s) itself and hands the
  * reader the identical schema ([[FooterSchema]]), so building the
  * DataFrame launches no job. Everything else is the plain reader's:
  * listing, partition-column inference (`basePath`, PartitionFilters),
  * pushdown, and its errors for missing paths and unreadable footers.
  */
object ParquetRead {

  /** `spark.read.parquet(paths: _*)`: files, directories or globs. */
  def apply(spark: SparkSession, paths: String*): DataFrame =
    read(spark, paths, Map.empty, literalFiles = false)

  /** A read of an explicit data-file list (a manifest's): the names are
    * taken literally, never as glob patterns, and nothing is listed or
    * stat'ed beyond the footers the schema needs (the first file, or every
    * file under `mergeSchema`). `options` as on the reader (`basePath`,
    * `mergeSchema`).
    */
  def files(spark: SparkSession, files: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame =
    read(spark, files, options + ("__globPaths__" -> "false"),
      literalFiles = true)

  private def read(spark: SparkSession, paths: Seq[String],
      options: Map[String, String], literalFiles: Boolean): DataFrame =
    spark.read.options(options)
      .schema(FooterSchema.infer(spark, paths, options, literalFiles))
      .parquet(paths: _*)
}
