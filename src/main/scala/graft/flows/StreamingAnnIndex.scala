package graft.flows

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.{Cluster, Similarity}
import graft.sources.VersionedLake

/** STREAMING ingest for the persistent IVF-PQ index — [[AnnIndex]]'s
  * arrival path as a continuously running stream with EXACTLY-ONCE
  * appends, completing the streaming symmetry the dedup flows already
  * have ([[StreamingDedup]] lexical, [[StreamingSemDeDup]] semantic,
  * this: similarity). Vectors arrive, each micro-batch encodes MAP-ONLY
  * against the ONE stored model (fit once at [[setup]]; appends never
  * refit — the blue/green refit note on [[AnnIndex]] applies unchanged)
  * and lands its codes + quantized vectors atomically.
  *
  * Exactly-once: each micro-batch commits `encoded` (append,
  * cell-partitioned), `quant` (append), `applied` (overwrite, the batch
  * id) and CARRIES `coarse`/`codebooks` as ONE [[VersionedLake]] group
  * version. A batch replayed after a crash (committed but not yet
  * checkpointed) short-circuits on the `applied` marker; without it a
  * replay would append the same codes TWICE and a later search could
  * return duplicate ids inside its top-n. [[AnnIndex.append]] has no
  * marker by design — it is the driver-invoked batch API; this flow is
  * what a checkpointed stream must use.
  *
  * Scale shape per batch: one bounded model read (k + m·k rows collect
  * to encode literals inside [[Similarity.ivfPqEncode]]), one map-only
  * encode of the batch, two metadata-union appends — per-batch cost
  * independent of the stored corpus size, the same fixed-batch-flat
  * contract the dedup streams are probed for.
  *
  * Retention: one group version per micro-batch accrues O(batches)
  * manifests and small files per probed cell; the opt-in `retainEvery`
  * knob runs [[compactState]] on the deterministic batch-id cadence
  * (incremental per-DIRECTORY tiering keeps quiet cells untouched;
  * `coarse`/`codebooks`/`applied` carried; horizon vacuum; race-detected
  * publish — row-identical state, resume-safe).
  *
  * Search is [[AnnIndex.search]] verbatim: the layout is the same four
  * tables (plus the marker, which searches never read), so a streamed
  * index serves the identical nprobe-pruned IVFADC-R plan.
  */
object StreamingAnnIndex {

  /** Fit the coarse + PQ model on the initial corpus and commit model +
    * codes + quantized vectors + the replay marker as group version 1.
    * Must run once before the stream starts; the stream never refits.
    */
  def setup(corpus: DataFrame, idCol: String, vecCol: String, root: String,
      dims: Int, coarseK: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, scale: Int = Cluster.QuantScale): Unit = {
    val spark = corpus.sparkSession
    require(VersionedLake.versions(spark, root).isEmpty,
      s"streaming ANN state already exists at $root")
    // widen the id at the write boundary (AnnIndex.normalized): readers
    // pin BIGINT, and an INT-id ingest would die only at first search
    val src = AnnIndex.normalized(corpus, idCol, vecCol)
    val (coarse, books, encoded) = Similarity.ivfPqIndex(src, idCol,
      vecCol, dims, coarseK, coarseIters, m, k, iters, scale)
    val gc = VersionedLake.beginGroupCommit(spark, root)
    // all four data tables are independent frames (coarse/books are
    // bounded literal frames, encoded is materialized, quant is a map
    // over the corpus) — stage them concurrently; the marker lands
    // driver-side (no Spark job for one int64)
    gc.writeAll(Seq(
      ("coarse", coarse, "overwrite", Nil),
      ("codebooks", books, "overwrite", Nil),
      ("encoded", encoded, "overwrite", Seq("cell")),
      ("quant", src.select(col(idCol),
        Cluster.quantizeFloor(col(vecCol), scale).as("q")), "overwrite", Nil)))
    gc.writeMarkerLong("applied", "batch_id", -1L)
    gc.publish()
    ()
  }

  /** Build the writer (caller starts it; AvailableNow trigger). `vecs`
    * must be a STREAMING frame carrying `idCol` (integral) + `vecCol`
    * (numeric array); [[setup]] must have committed v1 at `root`.
    *
    * `retainEvery` > 0 runs [[compactState]] after every N-th APPLIED
    * batch — same contract as [[StreamingDedup.writer]]: deterministic
    * cadence on the sequential batch ids, skipped on crash-replays,
    * best-effort (a kill between batch commit and compaction defers the
    * compaction to the next cadence slot).
    */
  def writer(vecs: DataFrame, idCol: String, vecCol: String,
      root: String, checkpoint: String,
      scale: Int = Cluster.QuantScale, retainEvery: Int = 0,
      retainTargetBytes: Long = 64L * 1024 * 1024,
      retainKeepVersions: Int = 2): DataStreamWriter[Row] =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = applyBatch(batch, batchId, idCol, vecCol, root, scale)
        if (applied && retainEvery > 0 && (batchId + 1) % retainEvery == 0)
          compactState(batch.sparkSession, root, retainTargetBytes,
            retainKeepVersions)
        ()
      }

  /** One micro-batch: idempotence check → stored-model read → map-only
    * encode → atomic group commit. Public for spec-level direct driving;
    * the streaming writer is a thin shell over this. Returns true iff
    * the batch applied (false = replay short-circuit).
    *
    * RACE-DETECTED like [[AnnIndex.append]] (`publishIfBaseIs`, bounded
    * retry): a mid-stream [[AnnIndex.delete]] landing inside the batch's
    * claim→publish window would otherwise be superseded by a carry list
    * read before it — silently un-retiring documents. The marker check
    * re-runs per attempt at the retried base (the raced commit can never
    * be this stream's own batch — only this flow writes `applied`).
    */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, root: String, scale: Int, maxAttempts: Int = 5,
      raceWindow: () => Unit = () => ()): Boolean = {
    val spark = batch.sparkSession
    require(VersionedLake.versions(spark, root).nonEmpty,
      s"no streaming ANN state at $root (run setup first)")
    // eagerly checkpointed: `src` feeds TWO writes per commit (encoded +
    // quant) — and a lost-race retry re-reads it — so one materialized
    // KB-scale frame replaces two batch scans and their per-action
    // re-planning (same rationale as StreamingDedup.applyBatch)
    val src = AnnIndex.normalized(batch, idCol, vecCol).localCheckpoint()
    try applyBatchLoop(src, batchId, idCol, vecCol, root, scale,
      maxAttempts, raceWindow)
    finally {
      // release the checkpoint blocks (ADVICE r17: they otherwise linger
      // until the ContextCleaner GCs the RDD — slow accumulation on long
      // streams; mirrors StreamingDedup's nh/nb handling)
      src.unpersist(blocking = false); ()
    }
  }

  private def applyBatchLoop(src: DataFrame, batchId: Long, idCol: String,
      vecCol: String, root: String, scale: Int, maxAttempts: Int,
      raceWindow: () => Unit): Boolean = {
    val spark = src.sparkSession
    var attempt = 0
    while (attempt < maxAttempts) {
      val gc = VersionedLake.beginGroupCommit(spark, root)
      // Some(applied?) = this attempt resolved; None = raced, retry
      val outcome: Option[Boolean] = VersionedLake.runOrAbort(gc) {
        // one version — the commit's own base — for EVERY read in the
        // batch, marker included (group consistency)
        val v = gc.basedOn.get
        // replay short-circuit: the marker committed ATOMICALLY with the
        // data, so "applied says done" ⟺ "this batch's codes are visible"
        val lastApplied = VersionedLake.readMarkerLong(spark, root,
          "applied", Some(v), "batch_id")
        if (batchId <= lastApplied) { gc.abort(); Some(false) }
        else {
          val coarse = VersionedLake.readTable(spark, root, "coarse",
            Some(v))
          val books = VersionedLake.readTable(spark, root, "codebooks",
            Some(v))
          // carry EVERYTHING this commit does not write — model tables
          // AND a mid-stream retirement's tombstones
          // ([[AnnIndex.delete]]): a group manifest lists only staged
          // tables, so a hardcoded carry list would let the next
          // optional member silently vanish from batch commits
          VersionedLake.groupTableRelFiles(spark, root, Some(v)).keys
            .filterNot(Set("encoded", "quant", "applied")).toSeq.sorted
            .foreach(gc.carry)
          gc.writeAll(Seq(
            ("encoded",
              Similarity.ivfPqEncode(src, idCol, vecCol, coarse, books,
                scale), "append", Seq("cell")),
            ("quant", src.select(col(idCol),
              Cluster.quantizeFloor(col(vecCol), scale).as("q")),
              "append", Nil)))
          gc.writeMarkerLong("applied", "batch_id", batchId)
          raceWindow()
          gc.publishIfBaseIs(v).map(_ => true)
        }
      }
      outcome match {
        case Some(applied) => return applied
        case None => attempt += 1; AnnIndex.retryBackoff(attempt)
      }
    }
    throw new IllegalStateException(
      s"StreamingAnnIndex.applyBatch at $root lost the commit race " +
        s"$maxAttempts times (concurrent retirement running hot? retry)")
  }

  /** Retention pass ([[StreamingRetention.compactState]]): incremental
    * per-directory tiering over `encoded` (the `cell=` layout the nprobe
    * pruning depends on is preserved; quiet cells carried verbatim) and
    * `quant`; `coarse`/`codebooks`/`applied` carried wholesale; horizon
    * vacuum; race-detected publish. State is row-identical across the
    * pass, so searches and checkpoint resumes are unaffected.
    */
  def compactState(spark: SparkSession, root: String,
      targetBytes: Long = 64L * 1024 * 1024,
      keepVersions: Int = 2): Long =
    StreamingRetention.compactState(spark, root, targetBytes,
      carryTables = Set("coarse", "codebooks", "applied"),
      partitioned = Map("encoded" -> Seq("cell")),
      keepVersions = keepVersions)
}
