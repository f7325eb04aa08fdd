package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Resume ledger for idempotent re-runs across jobs (reference:
  * pipelines/utils/progress.py:22-140 — a BigQuery table of completed
  * operator keys; remaining work = candidates minus ledger via an
  * outer-merge anti join).
  *
  * Spark-native: a small versioned table of (operator_key, run_id,
  * done_at); `remaining` is a broadcast-able left_anti join. Appends are
  * idempotent in effect because resume always re-derives the pending set
  * from the distinct keys — duplicate marks are harmless and never read
  * back except through the anti join.
  *
  * COMMITS THROUGH [[graft.sources.VersionedLake]] (round 13 — the r12
  * group-commit question answered for the ledger), as the one member
  * `marks` of a group rooted at `path`: a plain parquet
  * append exposes a torn window (some part-files visible before job
  * commit finishes, and object-store renames aren't atomic), in which a
  * crash leaves a PARTIAL mark batch — never wrong results (a missing
  * mark only re-queues work the idempotent writers absorb), but a
  * silently split batch re-runs completed work on every resume until
  * someone notices. The versioned append is a pure metadata union with
  * an atomic manifest flip: a crash mid-commit leaves the previous
  * version intact and the whole batch either visible or not
  * (all-or-nothing, crash-interleaving pinned in ProgressLedgerSpec).
  *
  * Reads union the distinct `marks` files of EVERY committed version
  * ([[graft.sources.VersionedLake.snapshots]]: one manifest listing),
  * which the ledger's monotone, duplicate-tolerant semantics make exactly
  * right — and only those semantics: on an overwrite table the union
  * would resurrect replaced data. Two pipelines racing `markDone` on a
  * shared ledger may each chain their append from the same base (the
  * lake's documented append race — the later manifest omits the earlier
  * racer's files), and a latest-version read would silently lose a batch
  * of marks and re-queue its completed work on every resume; the union
  * read is immune, because every committed batch's files appear in at
  * least its OWN manifest, and serial chains listing the carried files
  * many times over cost nothing once made distinct. Per-batch crash
  * atomicity is unchanged (uncommitted `marks/_data/v{N}` dirs are in no
  * manifest).
  * The one operational corollary: never vacuum a ledger path past an
  * unmerged fork — vacuum keeps only files referenced by manifests ≥
  * `keepFrom`.
  *
  * LEGACY COMPATIBILITY: a ledger written before the versioned commit
  * (plain parquet part-files directly under `path`) keeps counting —
  * those files are unioned into every read, and `exists` sees them. They
  * are the plain files directly under `path`, while the lake keeps its
  * manifests and data in the `_manifests` and `marks` directories, so the
  * two layouts coexist at one path with no migration step. A ledger
  * committed in the lake's retired single-table manifest shape
  * (`{"version","files"}`) is not read: it fails loudly at parse.
  */
final case class ProgressLedger(spark: SparkSession, path: String) {
  import graft.sources.VersionedLake

  private val Marks = "marks"

  def exists: Boolean =
    VersionedLake.versions(spark, path).nonEmpty || legacyFiles.nonEmpty

  // plain parquet part-files directly under path — the pre-versioned
  // layout; Spark's `_`/`.`-hidden rule means reading them never sees the
  // manifest machinery, and the lake read never lists them
  private def legacyFiles: Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
  }

  /** All recorded keys (empty when no ledger has been committed):
    * all-versions union plus any legacy plain-parquet marks. One
    * manifest listing + one path listing per call — this runs on every
    * resume poll, so it must not pre-check existence with extra LISTs.
    */
  def done: Option[DataFrame] = {
    val snaps = VersionedLake.snapshots(spark, path)
    val versioned = snaps.lastOption.map(_.readFiles(
      snaps.flatMap(_.tables.getOrElse(Marks, Nil)).distinct))
    val legacy = {
      val lf = legacyFiles
      if (lf.nonEmpty) Some(graft.sources.ParquetRead.files(spark, lf)) else None
    }
    (versioned, legacy) match {
      case (Some(v), Some(l)) => Some(v.unionByName(l, allowMissingColumns = true))
      case (v, l) => v.orElse(l)
    }
  }

  /** Mark a batch of keys complete — ONE atomic versioned append per
    * batch. `doneAt` is an explicit parameter so runs stay deterministic
    * (the reference stamps now() internally).
    */
  def markDone(keys: DataFrame, keyCol: String, runId: String,
      doneAt: java.sql.Timestamp): Unit = {
    VersionedLake.commitAll(Seq(Marks ->
      keys.select(col(keyCol).cast("string").as("operator_key"))
        .distinct()
        .withColumn("run_id", lit(runId))
        .withColumn("done_at", lit(doneAt))),
      path, mode = "append")
    ()
  }

  /** Work remaining = candidates − ledger (left_anti on the key). */
  def remaining(candidates: DataFrame, keyCol: String): DataFrame = {
    val ledgerKeys = done.map(_.select(col("operator_key").as(keyCol)))
    Relational.remaining(
      candidates.withColumn(keyCol, col(keyCol).cast("string")),
      ledgerKeys, Seq(keyCol))
  }
}
