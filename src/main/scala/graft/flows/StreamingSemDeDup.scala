package graft.flows

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Cluster
import graft.sources.VersionedLake

/** STREAMING semantic dedup — the SemDeDup arrival path
  * (`Cluster.incrementalSemDeDupStored`, q111) as a continuously running
  * stream with EXACTLY-ONCE output: the semantic twin of
  * [[StreamingDedup]]'s MinHash pipeline, completing the symmetry
  * batch / incremental / streaming × (lexical, semantic). Embeddings
  * arrive, each micro-batch is assigned against the ONE stored centroid
  * model (fit once at [[setup]] — the production shape: models retrain
  * on a cadence, not per batch), compared only to co-clustered stored
  * neighbors, and survivors + the batch's assignment rows land together.
  *
  * Drop rule (keep-first-arrival, mirroring q116's keep-lowest-id-among-
  * ARRIVED): a batch doc is dropped iff some co-clustered doc at cosine ≥
  * `tau` is in the STORED assignments (the setup corpus or ANY earlier
  * batch — arrival order outranks id order across batches) or is a
  * lower-id mate in the SAME batch. Dropped docs still append their
  * assignment rows — same discipline as the MinHash stream's
  * dropped-doc-still-indexes: near-dup status must not depend on whether
  * an intermediate mate survived.
  *
  * Exactly-once: each micro-batch commits `assignments` (append),
  * `survivors` (append), `applied` (overwrite, the batch id) and CARRIES
  * `centroids` forward as ONE [[VersionedLake]] group version — the
  * carry re-lists the fitted model's files in the new manifest for free,
  * no data rewrite. A batch replayed after a crash (committed but not
  * yet checkpointed) short-circuits on the `applied` marker; without the
  * marker a replay would find its OWN rows in `assignments` and drop the
  * whole batch against itself.
  *
  * Scale shape per batch: one k-row centroid read, one map-only batch
  * assign (no shuffle — the q105 pin), one assignments read partition-
  * pruned to the batch's ≤ k cids (the cid-partitioned layout turns
  * per-batch corpus I/O into directory reads), one bounded-occupancy
  * pair join. Per-batch cost is corpus-size-independent apart from the
  * pruned read — the same contract q111's oracle checks in one shot.
  *
  * Retention: same story as [[StreamingDedup]] — one group version per
  * micro-batch accrues O(batches) manifests and small files; the opt-in
  * `retainEvery` knob runs [[compactState]] on a deterministic cadence
  * (incrementally compacted `assignments`/`survivors` — small tail only,
  * carried large files — carried `centroids`/`applied`, horizon vacuum,
  * race-detected publish; row-identical state, resume-safe).
  */
object StreamingSemDeDup {

  /** Fit the centroid model on the initial corpus and commit model +
    * corpus assignments + the replay marker as group version 1. Must run
    * once before the stream starts; the stream never refits.
    */
  def setup(corpus: DataFrame, idCol: String, embCol: String, root: String,
      k: Int, iters: Int, scale: Int = Cluster.QuantScale): Unit = {
    val spark = corpus.sparkSession
    require(VersionedLake.versions(spark, root).isEmpty,
      s"streaming sem-dedup state already exists at $root")
    val gc = VersionedLake.beginGroupCommit(spark, root)
    gc.write("centroids",
      Cluster.fitCentroids(corpus, idCol, embCol, k, iters, scale))
    gc.write("assignments",
      Cluster.assignStored(corpus, idCol, embCol,
        gc.readStaged("centroids"), scale),
      partitionBy = Seq("cid"))
    gc.writeMarkerLong("applied", "batch_id", -1L)
    gc.publish()
    ()
  }

  /** Build the writer (caller starts it; AvailableNow trigger). `docs`
    * must be a STREAMING frame carrying `idCol` (integral) + `embCol`
    * (numeric array); [[setup]] must have committed v1 at `root`.
    *
    * `retainEvery` > 0 runs [[compactState]] after every N-th APPLIED
    * batch — same contract as [[StreamingDedup.writer]]: deterministic
    * cadence on the sequential batch ids, skipped on crash-replays,
    * best-effort (a kill between batch commit and compaction defers the
    * compaction to the next cadence slot).
    */
  def writer(docs: DataFrame, idCol: String, embCol: String,
      root: String, checkpoint: String, tau: Double,
      scale: Int = Cluster.QuantScale,
      maxClusterSize: Int = Cluster.DefaultSemClusterCap,
      retainEvery: Int = 0,
      retainTargetBytes: Long = 64L * 1024 * 1024,
      retainKeepVersions: Int = 2): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = applyBatch(batch, batchId, idCol, embCol, root, tau,
          scale, maxClusterSize)
        if (applied && retainEvery > 0 && (batchId + 1) % retainEvery == 0)
          compactState(batch.sparkSession, root, retainTargetBytes,
            retainKeepVersions)
        ()
      }

  /** One micro-batch: idempotence check → model + pruned-neighbor read →
    * semantic drop rule → atomic group commit. Public for spec-level
    * direct driving; the streaming writer is a thin shell over this.
    * Returns true iff the batch applied (false = replay short-circuit).
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String,
      embCol: String, root: String, tau: Double, scale: Int,
      maxClusterSize: Int): Boolean = {
    val spark = batch.sparkSession
    // one version resolve for EVERY read in the batch, marker included
    // (group consistency)
    val v = VersionedLake.versions(spark, root).last
    // replay short-circuit: the marker committed ATOMICALLY with the data,
    // so "applied says done" ⟺ "this batch's assignment rows are visible"
    // — and a replay past the marker would dedup the batch against itself
    val lastApplied = VersionedLake.readMarkerLong(spark, root, "applied",
      Some(v), "batch_id")
    if (batchId <= lastApplied) return false
    val centroids = VersionedLake.readTable(spark, root, "centroids", Some(v))
    // explicit schema: partition-column inference would read cid back as
    // INT and break the long contract downstream (same note as q111)
    val assignments = VersionedLake.readTable(spark, root, "assignments",
      Some(v),
      schemaDDL = s"$idCol BIGINT, q ARRAY<BIGINT>, dist BIGINT, cid BIGINT")
    // assign the batch ONCE (one quantize+argmin kernel pass, eagerly
    // checkpointed): the same frame serves the survivor rule AND the
    // assignments append — previously assignStored ran twice per batch
    // (once inside incrementalSemDeDupStored, once for the write), and
    // the write side re-planned the full kernel lineage per commit
    val batchA = Cluster.assignStored(batch, idCol, embCol, centroids,
      scale).localCheckpoint()
    try {
      val gc = VersionedLake.beginGroupCommit(spark, root)
      VersionedLake.runOrAbort(gc) {
        gc.carry("centroids")
        val survivors = Cluster.incrementalSemDeDupAssigned(assignments,
            batchA, idCol, tau, scale, maxClusterSize)
          .select(col(idCol), lit(batchId).as("batch_id"))
        // independent frames — staged concurrently; the marker lands
        // driver-side (see StreamingDedup.applyBatch)
        gc.writeAll(Seq(
          ("assignments", batchA, "append", Seq("cid")),
          ("survivors", survivors, "append", Nil)))
        gc.writeMarkerLong("applied", "batch_id", batchId)
        gc.publish()
      }
      true
    } finally {
      // release the checkpoint blocks (ADVICE r17: they otherwise linger
      // in the block manager until the ContextCleaner happens to GC the
      // RDD — a slow accumulation on long streams)
      batchA.unpersist(blocking = false); ()
    }
  }

  /** Retention pass ([[StreamingRetention.compactState]]): INCREMENTAL
    * size-tiered rewrite of the accrued `assignments` (keeping the
    * cid-partitioned pruned-read layout; small-file tail only, carried
    * large files verbatim) and `survivors`, CARRIES the fitted
    * `centroids` model and the `applied` replay marker wholesale, then
    * vacuums past the `keepVersions`-deep retention horizon.
    * Row-identical state; the publish is race-detected (a batch commit
    * landing mid-rewrite aborts the pass, retried next cadence).
    * Returns the latest version.
    */
  def compactState(spark: SparkSession, root: String,
      targetBytes: Long = 64L * 1024 * 1024,
      keepVersions: Int = 2): Long =
    StreamingRetention.compactState(spark, root, targetBytes,
      carryTables = Set("applied", "centroids"),
      partitioned = Map("assignments" -> Seq("cid")),
      keepVersions = keepVersions)

  /** The deduped output after the stream drains: (idCol, batch_id) per
    * surviving document, read from the latest committed group version.
    */
  def survivors(spark: SparkSession, root: String): DataFrame =
    VersionedLake.readTable(spark, root, "survivors")
}
