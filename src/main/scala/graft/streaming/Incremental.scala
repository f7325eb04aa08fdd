package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming mappings for the reference's batch-simulated
  * incremental semantics (SURVEY §2.9): the datetime-window parameter flows
  * become watermarked tumbling windows; the progress-ledger resume becomes
  * checkpointing; per-window idempotent re-runs become foreachBatch upserts
  * into date partitions.
  *
  * The reference has no true streams (no Kafka), so these operate on any
  * streaming DataFrame (file source, rate source, or test MemoryStream) —
  * batch parity remains the correctness target, streaming is the
  * continuous-ingestion path a lake at scale eventually needs.
  */
object Incremental {

  /** ENGINE-LEVEL stream-parallelism policy: stateful streaming allocates
    * one state store per shuffle partition per stateful operator per
    * micro-batch, and `spark.sql.shuffle.partitions` at the FIRST batch
    * pins that count for the checkpoint's lifetime — so it must be sized
    * to stream volume, not inherited from the batch default (32 state
    * stores over a few thousand rows is pure per-batch overhead; measured
    * 2-3x on the parity harnesses). One partition per ~`targetRows` rows,
    * clamped to [2, the session's batch parallelism]: small streams get
    * small state, big streams saturate the session ceiling. AQE cannot do
    * this for streaming (coalescing would change the state-store count
    * mid-checkpoint), so the policy lives here instead of a per-query
    * hand-picked number. The session ceiling wins over the floor of 2
    * (a local[1] session keeps 1).
    */
  def statePartitions(sessionParallelism: Int, approxRows: Long,
      targetRows: Long = 15000L): Int = {
    require(targetRows > 0 && sessionParallelism > 0)
    val wanted = math.ceil(math.max(0L, approxRows).toDouble / targetRows).toInt
    // the session ceiling WINS over the floor of 2: a local[1] session
    // must never be handed more stream parallelism than its batch side
    math.min(sessionParallelism, math.max(2, wanted))
  }

  /** Run a streaming job under the [[statePartitions]] policy for its
    * observed input volume, restoring the session's batch parallelism
    * after. `approxRows` is cheap to obtain: a parquet-footer count of
    * the landed fixture, or any upstream cardinality estimate — the
    * policy only needs the order of magnitude.
    */
  def withStreamParallelism[T](s: org.apache.spark.sql.SparkSession,
      approxRows: Long)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions",
      statePartitions(prev.toInt, approxRows).toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Whether this streaming plan allocates STATE STORES when started:
    * streaming aggregation, streaming dedup, (flat)MapGroupsWithState, or
    * a stream-stream join. A stateless plan — a projection/filter relay
    * into a `foreachBatch` sink ([[cdcToSnapshot]], [[toPartitionedLake]])
    * — has no state stores, so the state-partition policy has no cost to
    * cut there and only throttles the per-batch BATCH work.
    */
  def plansStreamState(df: Dataset[_]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    if (!df.isStreaming) return false
    df.queryExecution.analyzed.exists {
      // node.isStreaming = a streaming subtree feeds it, i.e. THIS
      // aggregate/dedup runs incrementally with a state store; the same
      // node over a static side of the plan is plain batch work
      case a: Aggregate => a.isStreaming
      case d: Deduplicate => d.isStreaming
      case d: DeduplicateWithinWatermark => d.isStreaming
      case f: FlatMapGroupsWithState => f.isStreaming
      case j: Join => j.left.isStreaming && j.right.isStreaming
      case _ => false
    }
  }

  /** THE engine stream-parallelism decision ([[statePartitions]] sized to
    * `approxRows` when the plan keeps state, session parallelism when it
    * doesn't), applied around a `start()`/drain `body`. Statefulness is
    * DETECTED from the plan ([[plansStreamState]]) rather than declared at
    * the call site: stateless foreachBatch relays automatically ride the
    * session's batch parallelism (their per-batch merge IS batch work —
    * A/B-measured ~1.3-1.7x slower when throttled to stream-state counts),
    * while stateful plans get volume-derived state-store counts.
    * `approxRows` is by-name: the stateless path never evaluates it, so
    * callers can pass a counting job without paying for it.
    */
  def withStreamPolicy[T](stream: Dataset[_], approxRows: => Long)(body: => T): T =
    if (plansStreamState(stream))
      withStreamParallelism(stream.sparkSession, approxRows)(body)
    else body

  /** Tumbling-window aggregation with a watermark: the streaming analog of
    * the reference's per-window extraction totals (vitai_db year→window
    * split, reference: pipelines/datalake/extract_load/vitai_db/tasks.py:32-56).
    * State is bounded by the watermark — late rows beyond `lateness` are
    * dropped instead of growing state forever (the property that keeps a
    * continuous job alive at scale).
    */
  def windowedAgg(
      stream: DataFrame, tsCol: String, windowLen: String, lateness: String,
      aggs: Seq[Column], extraKeys: Seq[Column] = Nil): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen) +: extraKeys: _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Streaming dedup by key within the watermark horizon — the streaming
    * form of the Mongo `_id` keep-last idempotency (reference:
    * minhasaude_mongodb/tasks.py:128-130). State expires with the
    * watermark, so memory is bounded by (keys arriving within `lateness`).
    */
  def dedupWithinWatermark(
      stream: DataFrame, tsCol: String, lateness: String,
      keys: Seq[String]): DataFrame =
    stream.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** One input event for [[sessionize]]: `ts` is the event-time column the
    * caller's watermark is declared on (kept as a Timestamp so the
    * watermark metadata survives into the typed Dataset).
    */
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** One closed session. */
  final case class UserSession(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long, total_value: Double)

  /** Internal per-key accumulator (public: the state Encoder's generated
    * code must reach its accessors).
    */
  final case class SessionAcc(start: Long, end: Long, n: Long, total: Double)

  /** Custom keyed state via `flatMapGroupsWithState`: inactivity-gap
    * sessionization of a user event stream — the state shape the built-in
    * windowed aggregates can't express (a session's length is data-driven,
    * not clock-aligned). State per key is one fixed-size accumulator;
    * event-time timeout (watermark + `gapMs` past the last event) both
    * CLOSES the session and frees the state, so memory is bounded by
    * concurrently-active users — the property that keeps this alive on an
    * unbounded stream.
    *
    * Input must already carry a watermark on the event-time column backing
    * `ts_ms` (see the spec for the wiring).
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(user, s.start, s.end, s.n, s.total))
          } else {
            // events within a micro-batch are not ordered — fold min/max
            val closed = scala.collection.mutable.ListBuffer.empty[UserSession]
            var acc = state.getOption.orNull
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              acc match {
                case null =>
                  acc = SessionAcc(t, t, 1L, e.value)
                case a if t - a.end > gapMs =>
                  closed += UserSession(user, a.start, a.end, a.n, a.total)
                  acc = SessionAcc(t, t, 1L, e.value)
                case a =>
                  acc = SessionAcc(a.start, math.max(a.end, t), a.n + 1, a.total + e.value)
              }
            }
            state.update(acc)
            state.setTimeoutTimestamp(acc.end + gapMs)
            closed.iterator
          }
      }
  }

  /** Watermarked stream-stream interval join: match left rows to right rows
    * with the same `key` whose event time falls in
    * `[leftTs - lowerBound, leftTs + upperBound]`. BOTH sides carry
    * watermarks and the join condition is time-bounded — the two facts
    * Spark needs to know when buffered state can be evicted, which is what
    * keeps a continuous enrich (clicks←impressions, events←signups) alive
    * on unbounded streams instead of growing state forever. Columns must
    * not collide except `key` (the usual pre-join projection discipline).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, lateness: String,
      lowerBound: String, upperBound: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness).alias("l")
    val r = right.withWatermark(rightTs, lateness).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= expr(s"l.$leftTs - INTERVAL $lowerBound") &&
        col(s"r.$rightTs") <= expr(s"l.$leftTs + INTERVAL $upperBound"))
      .drop(col(s"r.$key"))
  }

  /** Idempotent micro-batch sink: each batch lands via dynamic partition
    * overwrite keyed by the batch's dates — re-processing a batch replaces
    * exactly the partitions it owns (the reference's staged-delete reload,
    * pipelines/utils/tasks.py:812-933, as a foreachBatch).
    */
  def toPartitionedLake(
      stream: DataFrame, dateCol: Column, path: String,
      checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.LakeWriter.overwritePartitions(
          graft.sources.LakeWriter.withDatePartitions(batch, dateCol), path)
      }

  /** Streaming CDC merge: fold a changelog STREAM into a parquet snapshot
    * — each micro-batch runs [[graft.operators.Relational.applyCdc]]
    * (latest-change-wins upsert/delete) against the current snapshot and
    * atomically swaps in the result (write-aside + backup-rename, so a
    * failed batch never corrupts the readable snapshot, and a crash
    * mid-swap recovers on the next batch). The continuous form of q68's
    * batch MERGE; with AvailableNow + checkpointing this IS the
    * reference's scheduled-upsert pattern minus the scheduler.
    *
    * Crash-safety of the swap: the live snapshot is renamed ASIDE (to
    * `__backup`), never deleted, until the staging→snap rename has
    * succeeded. The only windows a crash can hit leave either (a) snap
    * intact (before the aside-rename), (b) no snap but a backup (between
    * the two renames — the next batch restores the backup before merging),
    * or (c) snap = the new merge plus a stale backup (after the swap — the
    * backup is deleted before the next swap). In no window does a replayed
    * checkpoint batch see an EMPTY base: that would silently drop every
    * previously merged key not present in the replayed batch.
    *
    * Within one micro-batch, cross-batch ordering is the stream's problem
    * (late changes older than an already-applied key lose) — exactly the
    * semantics of sequential batch merges.
    */
  def cdcToSnapshot(
      changes: DataFrame, keys: Seq[String], order: Seq[Column], op: Column,
      payload: Seq[String], snapshotPath: String,
      checkpoint: String): DataStreamWriter[Row] =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(snapshotPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val snap = new org.apache.hadoop.fs.Path(snapshotPath)
        val backup = new org.apache.hadoop.fs.Path(snapshotPath + "__backup")
        // recovery: a prior batch crashed between `snap → backup` and
        // `staging → snap`. The backup IS the last durable snapshot —
        // restore it; merging against an empty base here would lose data.
        if (!fs.exists(snap) && fs.exists(backup) && !fs.rename(backup, snap))
          throw new java.io.IOException(
            s"snapshot recovery failed: $backup -> $snap")
        val base =
          if (fs.exists(snap)) graft.sources.ParquetRead(spark, snapshotPath)
          else batch.select(keys.map(col) ++ payload.map(col): _*).limit(0)
        val merged = graft.operators.Relational.applyCdc(
          base, batch, keys, order, op, payload)
        val staging = new org.apache.hadoop.fs.Path(
          snapshotPath + s"__staging_$batchId")
        // materializes the merge fully BEFORE any rename touches the live
        // snapshot — `base` reads lazily from `snap`, so the write must
        // finish while `snap` still exists
        merged.write.mode("overwrite").parquet(staging.toString)
        fs.delete(backup, true) // stale backup from a completed prior swap
        if (fs.exists(snap) && !fs.rename(snap, backup))
          throw new java.io.IOException(
            s"snapshot aside-rename failed: $snap -> $backup")
        if (!fs.rename(staging, snap)) {
          // put the old snapshot back so the path stays readable; the
          // checkpoint will replay this batch against the restored base
          if (fs.exists(backup)) fs.rename(backup, snap)
          throw new java.io.IOException(
            s"atomic swap failed: $staging -> $snap")
        }
        fs.delete(backup, true)
        ()
      }
}
