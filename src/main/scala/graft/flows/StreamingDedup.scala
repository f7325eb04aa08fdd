package graft.flows

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Dedup
import graft.sources.VersionedLake

/** STREAMING near-dup dedup — the arrival-path MinHash pipeline
  * (`Dedup.minHashIncrementalPairsPortable`, q81) as a continuously
  * running stream with EXACTLY-ONCE output, the ingestion shape a 100 TB
  * corpus actually runs: documents arrive, each micro-batch is LSH-joined
  * against the stored index only (never corpus²), survivors and the
  * batch's index rows land together.
  *
  * Drop rule (keep-lowest-id among ARRIVED docs — the engine's standard
  * order-free survivor rule, restricted to what has actually arrived):
  * a batch doc is dropped iff some LOWER-id doc with estimated Jaccard ≥
  * `jaccardThreshold` has arrived in an earlier batch or in the same
  * batch. A higher-id near-dup mate arriving EARLIER does not retract —
  * it was already emitted (append-only output, the streaming reality);
  * the late lower-id doc still survives on its own merits. Deterministic
  * given the batch assignment, and replayable in SQL (q116's oracle).
  *
  * Exactly-once: each micro-batch commits `hashed`/`banded` (append),
  * `survivors` (append), and `applied` (overwrite, the batch id) as ONE
  * [[VersionedLake]] group version — atomically visible or not at all. A
  * batch replayed after a crash (committed but not yet checkpointed)
  * short-circuits on the `applied` marker, so a kill at ANY point
  * between micro-batches re-lands the identical final state (q116b runs
  * the kill-and-resume proof against the same oracle).
  *
  * Scale shape per batch: one shingle+signature pass over the BATCH
  * (never the corpus), one bucket equi-join of the batch's band rows
  * against the stored band table PRUNED to the batch's touched layout
  * partitions, one anti join. The stored tables land Hive-partitioned
  * by the [[Dedup.layoutBanded]]/[[Dedup.layoutHashed]] prefix columns
  * with in-directory probe-key sort, and the arrival step
  * ([[Dedup.minHashIncrementalPairsPruned]]) reads them through two
  * bounded probe censuses — PartitionFilters prune untouched
  * directories, the pushed `In` probes skip row groups inside touched
  * ones — so per-batch state I/O follows the batch's bucket/candidate
  * footprint instead of re-scanning the full corpus-scale index (the
  * round-16 `weak`). The retention pass keeps the layout (partitioned +
  * sorted rewrite), so compaction never degrades the pruning.
  *
  * Retention: each micro-batch publishes one group version (append mode
  * is a metadata union — no data rewrite), so a long-running stream
  * accrues O(batches) manifests AND O(batches) small parquet files. The
  * opt-in `retainEvery` knob bounds both IN the flow: every N applied
  * batches, [[compactState]] group-commits an INCREMENTAL size-tiered
  * compaction — only the small-file tail accrued since the last pass is
  * bin-packed (the q90 sizing rule, [[LakeWriter.compactionFileCount]]);
  * already-compacted large files are carried verbatim, so per-cadence
  * I/O is O(new data), not O(state) — CARRIES the `applied` marker so
  * crash-replay short-circuiting is unaffected, and vacuums past a
  * `keepVersions`-deep horizon (default 2: an external reader that
  * resolved "latest" just before the pass keeps a readable snapshot for
  * a full cycle). State is row-identical before and after, so a resume
  * across a compaction boundary replays to the same survivors
  * (spec-pinned); a batch commit racing the pass aborts the compaction,
  * never loses the commit. Readers pinned below the horizon fail loudly
  * (`version not in …`); pick a cadence/horizon longer than any
  * time-travel window the deployment keeps.
  */
object StreamingDedup {

  /** Build the writer (caller starts it; AvailableNow trigger). `docs`
    * must be a STREAMING frame carrying `idCol` (integral) + `textCol`.
    *
    * `retainEvery` > 0 runs [[compactState]] after every N-th APPLIED
    * batch (batch ids are sequential per checkpoint, so the cadence is
    * deterministic; a batch replayed across a crash skips both the
    * apply and the compaction). Best-effort maintenance: a kill between
    * the batch commit and its compaction loses only that compaction —
    * the next cadence slot compacts the backlog wholesale.
    */
  def writer(docs: DataFrame, idCol: String, textCol: String,
      root: String, checkpoint: String, jaccardThreshold: Double,
      shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, retainEvery: Int = 0,
      retainTargetBytes: Long = 64L * 1024 * 1024,
      retainKeepVersions: Int = 2): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = applyBatch(batch, batchId, idCol, textCol, root,
          jaccardThreshold, shingleN, numHashes, bands)
        if (applied && retainEvery > 0 && (batchId + 1) % retainEvery == 0)
          compactState(batch.sparkSession, root, retainTargetBytes,
            retainKeepVersions)
        ()
      }

  /** One micro-batch: idempotence check → index read → LSH pairs →
    * survivors → atomic group commit. Public for spec-level direct
    * driving; the streaming writer is a thin shell over this. Returns
    * true iff the batch applied (false = replay short-circuit).
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, root: String, jaccardThreshold: Double,
      shingleN: Int, numHashes: Int, bands: Int): Boolean = {
    val spark = batch.sparkSession
    // resolve the version ONCE and pin every read in the batch to it:
    // group consistency even if another committer raced us (the flow is
    // single-writer by contract, but the reads shouldn't rely on that)
    val v = VersionedLake.versions(spark, root).lastOption
    // replay short-circuit: the marker committed ATOMICALLY with the data,
    // so "applied says done" ⟺ "this batch's rows are fully visible".
    // Driver-side read — one 8-byte value per batch never needs a Spark job
    val lastApplied = v.fold(-1L)(vv =>
      VersionedLake.readMarkerLong(spark, root, "applied", Some(vv),
        "batch_id"))
    if (batchId <= lastApplied) return false
    val docs = batch.select(col(idCol).cast("long").as("__doc_id"),
      col(textCol).as("__text"))
    // eager localCheckpoint (not lazy persist): the batch's index frames
    // feed FOUR downstream plans per commit (pairs→survivors + the two
    // layout writes); with a lazy persist each of those re-analyzes the
    // full shingle pipeline — measured as a ~0.6 s driver gap before
    // every group commit's write jobs (JobProfile q116, r17). Truncated
    // lineage makes each downstream plan a 1-node scan of the KB-scale
    // batch frames; the exactly-once marker keeps a replayed batch safe
    // if a checkpoint block is ever lost.
    val (nh, nb) = Dedup.minHashIndexPortable(docs, "__doc_id", "__text",
      shingleN, numHashes, bands,
      stabilize = Some(_.localCheckpoint()))
    try {
      val gc = VersionedLake.beginGroupCommit(spark, root)
      VersionedLake.runOrAbort(gc) {
        // explicit schemas: partition-column inference would read the ph/pb
        // dir values back as INT and the pruning filters' BIGINT literals
        // would cast the partition attribute, defeating PartitionFilters.
        // Path choice is the MEASURED state-size dial
        // ([[Dedup.pruneStoredReads]]): the pruned reads win once the
        // stored tables clear ~1 GiB; below that the full-scan join's two
        // passes cost less than the pruned path's fixed per-batch toll.
        val pairs = v match {
          case None =>
            Dedup.minHashIncrementalPairsFromIndexes(
              nh.limit(0), nb.limit(0), nh, nb)
          case Some(vv) =>
            val sh = VersionedLake.readTable(spark, root, "hashed", Some(vv),
              schemaDDL = "id BIGINT, hs ARRAY<BIGINT>, " +
                s"${Dedup.IdLayoutCol} BIGINT")
            val sb = VersionedLake.readTable(spark, root, "banded", Some(vv),
              schemaDDL = "id BIGINT, band INT, bucket BIGINT, " +
                s"${Dedup.BandLayoutCol} BIGINT")
            if (Dedup.pruneStoredReads(sh, sb))
              Dedup.minHashIncrementalPairsPruned(sh, sb, nh, nb)
            else
              Dedup.minHashIncrementalPairsFromIndexes(sh, sb, nh, nb)
        }
        val dropped = pairs
          .filter(col("jaccard") >= jaccardThreshold)
          .select(col("id_b")).distinct()
        val survivors = docs.select(col("__doc_id"))
          .join(dropped, col("__doc_id") === col("id_b"), "left_anti")
          .select(col("__doc_id").as(idCol), lit(batchId).as("batch_id"))
        // the three data tables are independent frames over the
        // checkpointed batch index — stage them concurrently (one write
        // job each), and the one-row marker lands driver-side (no job)
        gc.writeAll(Seq(
          ("hashed", Dedup.layoutHashed(nh), "append",
            Seq(Dedup.IdLayoutCol)),
          ("banded", Dedup.layoutBanded(nb), "append",
            Seq(Dedup.BandLayoutCol)),
          ("survivors", survivors, "append", Nil)))
        gc.writeMarkerLong("applied", "batch_id", batchId)
        gc.publish()
      }
      true
    } finally { nh.unpersist(); nb.unpersist(); () }
  }

  /** Retention pass ([[StreamingRetention.compactState]]): group-commit
    * an INCREMENTAL size-tiered compaction of the accrued tables
    * (`hashed`/`banded`/`survivors` — only the small-file tail since the
    * last pass is rewritten, already-compacted large files are carried
    * verbatim; `applied` CARRIED wholesale so the crash-replay
    * short-circuit is untouched), then vacuum past the
    * `keepVersions`-deep retention horizon. State is row-identical
    * across the pass — only the file layout changes — so the drop rule,
    * the oracle, and a checkpoint resume are all unaffected. The publish
    * is race-detected: a batch commit landing mid-rewrite aborts the
    * compaction (retried next cadence) instead of being silently
    * overwritten. Returns the latest version.
    */
  def compactState(spark: SparkSession, root: String,
      targetBytes: Long = 64L * 1024 * 1024,
      keepVersions: Int = 2): Long =
    StreamingRetention.compactState(spark, root, targetBytes,
      carryTables = Set("applied"),
      partitioned = Map(
        "hashed" -> Seq(Dedup.IdLayoutCol),
        "banded" -> Seq(Dedup.BandLayoutCol)),
      sortCols = Map(
        "hashed" -> Seq("id"),
        "banded" -> Seq("bucket", "band")),
      keepVersions = keepVersions)

  /** The deduped output after the stream drains: (idCol, batch_id) per
    * surviving document, read from the latest committed group version.
    */
  def survivors(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame =
    VersionedLake.readTable(spark, root, "survivors")
}
