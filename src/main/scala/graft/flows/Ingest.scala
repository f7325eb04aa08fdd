package graft.flows

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SchemaConform
import graft.operators.{JsonNormalize, Relational}
import graft.sources.{LakeWriter, ParquetRead}

/** Flow-family ingest bodies (SURVEY §7.1/5): the reference's ~33 extraction
  * flows share one landing shape — conform column names, cast everything to
  * string, stamp audit columns, write date-partitioned — differing only in
  * the source. These compose that shared body over any source DataFrame, so
  * a JDBC/CSV/DBF/API scan all land identically
  * (reference: pipelines/utils/tasks.py:936-1001 upload_df_to_datalake +
  * datalake/utils/tasks.py:69-117).
  */
object Ingest {

  final case class RunStamp(runId: String, loadedAt: Timestamp)

  /** The shared landing body: conform → all-string → audit stamps. */
  def conformForLanding(src: DataFrame, stamp: RunStamp): DataFrame =
    LakeWriter.withAudit(
      LakeWriter.allString(SchemaConform.conform(src)),
      stamp.runId, stamp.loadedAt)

  /** Relational-DB style ingest (reference extract_load/relational_db):
    * source rows land under day partitions derived from the load timestamp.
    * Guard: empty extraction skips the write entirely (the reference's
    * empty-DF skip, utils/tasks.py:950-951).
    */
  def landByLoadDate(src: DataFrame, stamp: RunStamp, path: String): Boolean = {
    val landed = LakeWriter.withDatePartitions(
      conformForLanding(src, stamp), col("loaded_at"))
    if (landed.isEmpty) false
    else { LakeWriter.overwritePartitions(landed, path); true }
  }

  /** API-JSON style ingest (reference extract_load/vitacare_api_v2): raw
    * payload columns packed into a single JSON-string `data` column beside
    * source metadata, landed under the target date's partition.
    */
  def landJsonPayload(src: DataFrame, payloadCols: Seq[String],
      metadata: Map[String, Column], targetDate: String, stamp: RunStamp,
      path: String): Unit = {
    val packed = metadata.foldLeft(JsonNormalize.pack(src, payloadCols, "data")) {
      case (df, (name, c)) => df.withColumn(name, c)
    }
    val stamped = LakeWriter.withAudit(packed, stamp.runId, stamp.loadedAt)
      .withColumn("_target_date", lit(targetDate))
    LakeWriter.overwritePartitions(
      LakeWriter.withDatePartitions(stamped, to_date(lit(targetDate))), path)
  }

  /** Post-load reconciliation (±tolerance) — the reference's hard count
    * check after Mongo/ES extractions.
    */
  def reconcile(path: String, expected: Long, spark: org.apache.spark.sql.SparkSession,
      tolerance: Double = 0.05): Unit =
    Relational.reconcileCount(ParquetRead(spark, path).count(), expected, tolerance)

  /** Cursor/scroll pagination harness — the engine half of the reference's
    * Elasticsearch scroll loop (reference:
    * pipelines/datalake/extract_load/sisreg_api/tasks.py scroll-and-drain
    * with count reconciliation): repeatedly call `fetch` with the previous
    * page's continuation cursor until the source returns none, with
    * per-page retries and a loud cap on runaway cursors. The transport is
    * the caller's lambda (HTTP client, Mongo cursor, ES scroll id — all
    * out-of-engine); THIS side owns the loop's correctness: termination,
    * retry, page accounting.
    *
    * Returns (all rows, page count). Driver-side by design — each page is
    * bounded (the remote enforces page size) and the result lands via
    * `landJsonPayload`/`conformForLanding` which ARE distributed.
    *
    * `retrySafe(cursor)` declares whether a FAILED fetch at that cursor may
    * be re-sent. Default true (idempotent transports: HTTP offset paging,
    * Mongo getMore on a stable cursor). FORWARD-ONLY cursors (ES scroll)
    * must pass `_.isEmpty`: a scroll POST whose response was lost after the
    * server advanced the context would, re-sent, fetch the NEXT batch and
    * silently drop a page — better to fail loudly and restart the
    * extraction than deliver a gap only the ±5% reconciliation might catch.
    */
  def scrollAll[A](fetch: Option[String] => (Seq[A], Option[String]),
      maxPages: Int = 100000, maxRetries: Int = 3,
      fatal: Throwable => Boolean = _ => false,
      retrySafe: Option[String] => Boolean = _ => true): (Seq[A], Int) = {
    val out = Seq.newBuilder[A]
    var cursor: Option[String] = None
    var pages = 0
    var done = false
    while (!done) {
      require(pages < maxPages,
        s"scroll exceeded $maxPages pages — runaway cursor or wrong maxPages")
      var attempt = 0
      var page: (Seq[A], Option[String]) = null
      while (page == null) {
        try page = fetch(cursor)
        catch {
          // `fatal` short-circuits the retry loop for errors retrying can't
          // fix (e.g. an ES shard-failure response — the reference raises
          // immediately, reference sisreg_api/tasks.py:117-119); so does a
          // cursor the transport declared non-idempotent via `retrySafe`
          case e: Exception if !fatal(e) && retrySafe(cursor) &&
              attempt < maxRetries =>
            attempt += 1 // transient page failure: retry the SAME cursor
          case e: Exception if !fatal(e) && !retrySafe(cursor) =>
            throw new java.io.IOException(
              s"page $pages failed on a forward-only cursor — not retrying " +
                "(a re-sent scroll could skip a batch); restart the extraction", e)
          case e: Exception if fatal(e) => throw e
          case e: Exception =>
            throw new java.io.IOException(
              s"page $pages failed after $maxRetries retries", e)
        }
      }
      out ++= page._1
      pages += 1
      cursor = page._2
      done = cursor.isEmpty
    }
    (out.result(), pages)
  }
}
