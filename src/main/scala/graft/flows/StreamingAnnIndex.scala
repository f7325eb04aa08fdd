package graft.flows

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

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
  * cell-partitioned) and `quant` (append) and CARRIES `coarse`/`codebooks`
  * as ONE [[VersionedLake]] group version whose manifest records the
  * batch id as its `applied` watermark, through the lake's one
  * race-detected commit loop ([[VersionedLake.commitLoop]]). Each attempt
  * reads the watermark from the base it chains from
  * ([[VersionedLake.GroupCommit.base]]'s `applied`); a batch replayed after
  * a crash (committed but not yet checkpointed) releases its claim and
  * publishes nothing — without that a replay would append the same codes
  * TWICE and a later search could return duplicate ids inside its top-n.
  * [[AnnIndex.append]] sets no watermark by design — it is the
  * driver-invoked batch API; this flow is what a checkpointed stream
  * must use.
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
  * `coarse`/`codebooks` carried; sticky watermark; horizon vacuum;
  * race-detected publish — row-identical state, resume-safe).
  *
  * Search is [[AnnIndex.search]] verbatim: the layout is the same four
  * tables, so a streamed index serves the identical nprobe-pruned
  * IVFADC-R plan.
  */
object StreamingAnnIndex {

  /** Fit the coarse + PQ model on the initial corpus and commit model +
    * codes + quantized vectors as group version 1 ([[AnnIndex.build]]; no
    * watermark yet: no batch has applied). Must run once before the
    * stream starts; the stream never refits.
    */
  def setup(corpus: DataFrame, idCol: String, vecCol: String, root: String,
      dims: Int, coarseK: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, scale: Int = Cluster.QuantScale): Unit = {
    AnnIndex.build(corpus, idCol, vecCol, root, dims, coarseK, coarseIters,
      m, k, iters, scale)
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
    StreamingRetention.writer(vecs, checkpoint, retainEvery,
      applyBatch(_, _, idCol, vecCol, root, scale),
      compactState(_, root, retainTargetBytes, retainKeepVersions))

  /** One micro-batch: idempotence check → stored-model read → map-only
    * encode → atomic group commit. Public for spec-level direct driving;
    * the streaming writer is a thin shell over this. Returns true iff
    * the batch applied (false = replay short-circuit).
    *
    * Commits through the lake's one race-detected loop
    * ([[VersionedLake.commitLoop]], up to `maxAttempts` tries): a
    * mid-stream [[AnnIndex.delete]] landing inside the batch's
    * claim→publish window would otherwise be superseded by a carry list
    * read before it — silently un-retiring documents. The watermark
    * check re-runs per attempt at the retried base (the raced commit can
    * never be this stream's own batch — only this flow marks `applied`).
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
    try AnnIndex.commitAppend(src, idCol, vecCol, root, scale, maxAttempts,
      raceWindow, "StreamingAnnIndex.applyBatch", Some(batchId)).isDefined
    finally {
      // release the checkpoint blocks (ADVICE r17: they otherwise linger
      // until the ContextCleaner GCs the RDD — slow accumulation on long
      // streams; mirrors StreamingDedup's nh/nb handling)
      src.unpersist(blocking = false); ()
    }
  }

  /** Retention pass — [[AnnIndex.maintain]] (the layout is the same):
    * incremental per-directory tiering over `encoded` (the `cell=` layout
    * the nprobe pruning depends on is preserved; quiet cells carried
    * verbatim) and `quant`; `coarse`/`codebooks` carried wholesale; the
    * sticky `applied` watermark rides along; horizon vacuum; race-detected
    * publish. State is row-identical across the pass, so searches and
    * checkpoint resumes are unaffected.
    */
  def compactState(spark: SparkSession, root: String,
      targetBytes: Long = 64L * 1024 * 1024,
      keepVersions: Int = 2): Long =
    AnnIndex.maintain(spark, root, targetBytes, keepVersions)
}
