package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Test-lake table access: one parquet per table under an sf dir
  * (TESTDATA.md). Reads go through [[ParquetRead]]: the plain parquet
  * reader with the footer schema resolved on the driver (no Spark job per
  * read), so Catalyst still gets full pushdown (PushedFilters /
  * ReadSchema reach the parquet scan).
  */
object Lake {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The generated fixtures store events.ts as TIMESTAMP(MICROS), which
    // Spark reads natively, and the rebuild below does not fire for them.
    // A foreign events file may store it as TIMESTAMP(NANOS), which
    // Spark's reader rejects; the legacy flag surfaces it as a nanos
    // bigint, and we restore a real timestamp at microsecond grain with
    // exact integer division (a double `/` would lose precision past
    // 2^53 ns). Only ParquetReadSpec's hand-written NANOS file exercises
    // that branch.
    //
    // The flag is touched ONLY for events reads (never for the other nine
    // tables), and only when not already set — sessions that never read
    // events keep default nanos behavior everywhere. It cannot be restored
    // after this call returns: parquet reader conf is consumed lazily at
    // plan time (first action on the returned DataFrame), so a reset here
    // would make that action throw on a NANOS column. It is set BEFORE
    // the read: the footer schema is resolved under it.
    if (name == "events" &&
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = ParquetRead(spark, s"$dir/$name.parquet")
    if (name == "events" &&
        df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** Register every table as a temp view for `spark.sql` programs. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** Recursive file listing as a DataFrame (driver-side FS walk — listings
    * are metadata-sized; the data itself is never read).
    */
  def listFiles(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // FsWalk, not listFiles(recursive) — see FsWalk's scaladoc
    val rows = FsWalk.files(fs, new org.apache.hadoop.fs.Path(dir))
      .map(st => (st.getPath.toString, st.getModificationTime))
    rows.toDF("path", "mod_time")
  }

  /** Newest file per logical key (reference: keep max snapshot date per
    * (cnes, type) from a bucket listing — prontuario_gcs/tasks.py:378-414,
    * migrate/gcs_to_cloudsql/tasks.py:32-63): regex-extract key and version
    * from the path, then a latest-per-key window.
    */
  def newestFilePerKey(files: org.apache.spark.sql.DataFrame,
      keyRegex: String, versionRegex: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.Dedup.latestPerKey(
      files.withColumn("key", regexp_extract(col("path"), keyRegex, 1))
        .withColumn("version", regexp_extract(col("path"), versionRegex, 1)),
      Seq("key"), Seq(col("version"), col("path")))
  }
}
