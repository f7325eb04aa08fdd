package graft.flows

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, hash, lit, pmod, struct, when}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.{LakeWriter, VersionedLake}

/** Shared retention pass for the append-accruing lake flows
  * ([[StreamingDedup]], [[StreamingSemDeDup]], [[AnnIndex.maintain]]):
  * each micro-batch publishes one [[VersionedLake]] group version
  * (appends are metadata unions), so a long-running stream accrues
  * O(batches) manifests AND O(batches) small parquet files. This pass bounds both, INCREMENTALLY
  * (size-tiered, round 15): per table it bin-packs only the small-file
  * tail accrued since the last pass into ~`targetBytes` files and CARRIES
  * already-compacted large files (≥ targetBytes/2) verbatim in the new
  * manifest — per-cadence I/O is O(new data since the last pass), not
  * O(accumulated state), so a stream's lifetime compaction cost is
  * O(state), not O(batches²). `carryTables` (a fitted centroid model)
  * are re-listed wholesale (the stream's `applied` watermark is a sticky
  * manifest field, republished without being named); a table whose tail
  * is ≤ 1 file is carried too (rewriting one file into one file bounds
  * nothing), and in a partitioned layout the same rule applies PER
  * PARTITION DIRECTORY — a dir whose tail is a single file is carried
  * verbatim, so a pass re-packs only the dirs that actually accrued a
  * multi-file tail. State is row-identical across the pass — only the file
  * layout changes — so drop rules, oracles, and checkpoint resumes are
  * unaffected.
  *
  * Vacuum keeps a RETENTION HORIZON of `keepVersions` committed versions
  * (default 2 — the compacted version plus its predecessor), the same
  * contract lakehouse vacuums ship: an external reader that resolved
  * "latest" just before the pass still has its manifest (and every file
  * it lists) intact for a full compaction cycle, instead of dying on
  * deleted data files mid-scan. Readers pinned below the horizon fail
  * loudly (`version $v not in …`).
  *
  * Concurrency: the publish is RACE-DETECTED
  * ([[VersionedLake.GroupCommit.publishIfBaseIs]]) — if a batch commit
  * lands (or is still in flight with a lower claim number) between this
  * pass's state read and its publish, the compaction aborts itself
  * (claim released, staged files swept) and retries on the next cadence,
  * so a racing commit is never silently overwritten. The flows still
  * call it single-writer (from the shared [[writer]] shell); the
  * detection turns that convention into a checked invariant.
  */
private[flows] object StreamingRetention {

  /** Compaction census of the last pass in this JVM — None until a pass
    * runs; then either the per-table carried/rewritten counts,
    * `"all tables carried"` (pure-metadata pass), or `"aborted: …"` (a
    * racing commit won). Published the same way as Dedup's census stats
    * so a deployment can see whether the tiering engages; under
    * concurrent passes the per-run log line is the attributable record.
    */
  @volatile private var lastStats: Option[String] = None
  def lastCompactionStats: Option[String] = lastStats

  /** Skew salt for a partitioned rewrite: 0 for every row of a partition
    * value whose small-tail bytes fit `targetBytes`; rows of a HOT value
    * salt by row-hash into ceil(bytes/target) buckets so the write splits
    * it into that many files. Per-value bytes are summed from the
    * manifest-relative paths (the `col=value` directory is the value) —
    * metadata only, no sampling job. Hot dirs that parse — single- or
    * multi-column, including the null-value `__HIVE_DEFAULT_PARTITION__`
    * dir (matched with isNull: a `===` literal compare is null-valued for
    * null rows and would silently skip them) — split; values whose
    * directory names carry Spark's %-escapes fall back to salt 0 with a
    * log line (the string round-trip is not reliable there; the file is
    * merely oversized, never wrong).
    */
  /** Partition directory of a manifest-relative path — the ONE place the
    * rel layout `table/_data/vN/<col=value[/...]>/file` is decomposed;
    * both the per-directory tiering and the hot-dir salt detection group
    * by this key, and they must agree.
    */
  private def partitionDirOf(rel: String): String =
    rel.split("/").drop(3).dropRight(1).mkString("/")

  private def skewSalt(df: DataFrame, small: Seq[String],
      sizes: Map[String, Long], pb: Seq[String],
      targetBytes: Long): Column = {
    val byDir = small.groupBy(partitionDirOf)
      .map { case (d, fs) => d -> fs.map(p => sizes.getOrElse(p, 0L)).sum }
    val hot = byDir.filter(_._2 > targetBytes)
    if (hot.isEmpty) return lit(0)
    val rowHash = hash(struct(df.columns.map(col): _*))
    hot.foldLeft(when(lit(false), lit(0))) {
      case (acc, (dir, bytes)) =>
        val parts = dir.split("/").map(_.split("=", 2))
        if (parts.length != pb.length || parts.exists(_.length != 2) ||
          dir.contains("%")) {
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"retention: partition dir '$dir' exceeds targetBytes " +
              s"($bytes B) but is not salt-splittable; writing oversized")
          acc
        } else {
          val cond = parts.map { case Array(c, v) =>
            if (v == "__HIVE_DEFAULT_PARTITION__") col(c).isNull
            else col(c).cast("string") === lit(v) }.reduce(_ && _)
          val buckets = LakeWriter.compactionFileCount(bytes, targetBytes)
          acc.when(cond, pmod(rowHash, lit(buckets)))
        }
    }.otherwise(lit(0))
  }

  /** The streaming shell every exactly-once flow shares: an AvailableNow
    * `foreachBatch` writer checkpointed at `checkpoint` that runs
    * `applyBatch` per micro-batch and, when `retainEvery` > 0, `compact`
    * after every N-th APPLIED batch (batch ids are sequential per
    * checkpoint, so the cadence is deterministic; a replayed batch skips
    * both).
    */
  def writer(input: DataFrame, checkpoint: String, retainEvery: Int,
      applyBatch: (DataFrame, Long) => Boolean,
      compact: SparkSession => Unit): DataStreamWriter[Row] =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (applyBatch(batch, batchId) && retainEvery > 0 &&
            (batchId + 1) % retainEvery == 0)
          compact(batch.sparkSession)
      }

  /** Apply micro-batch `batchId` to the group at `root` exactly once:
    * claim the next version and read the watermark from the base it
    * chains from. A replay (the base already holds the batch) releases the
    * claim, publishes nothing and returns false; otherwise `body` stages
    * the batch's tables and the commit publishes them with `batchId` as
    * its watermark, in one atomic event (true).
    */
  def applyOnce(spark: SparkSession, root: String, batchId: Long)(
      body: VersionedLake.GroupCommit => Unit): Boolean = {
    val gc = VersionedLake.beginGroupCommit(spark, root)
    VersionedLake.runOrAbort(gc) {
      if (gc.base.flatMap(_.applied).exists(batchId <= _)) { gc.abort(); false }
      else {
        body(gc)
        gc.markApplied(batchId)
        gc.publish()
        true
      }
    }
  }

  /** Compact + vacuum the group at `root`. Returns the latest version
    * (the compacted one, or the pre-existing latest when the pass
    * detected a racing commit and aborted — the caller's next cadence
    * retries). `partitioned(table)` keeps a Hive-partitioned layout; the
    * rewrite range-partitions on (partition cols, row hash) so a skewed
    * partition value splits across ~targetBytes files instead of forcing
    * one arbitrarily large file per value. `sortCols(table)` additionally
    * sorts the rewrite within each output task on (partition cols, those
    * columns) — the pass that keeps a probe-key-sorted layout's parquet
    * min/max stats tight (StreamingDedup's pruned index), so compaction
    * never degrades row-group skipping; row content is unchanged.
    * `raceWindow` is a test seam running between the state rewrite and
    * the publish (default no-op).
    */
  def compactState(spark: SparkSession, root: String, targetBytes: Long,
      carryTables: Set[String],
      partitioned: Map[String, Seq[String]] = Map.empty,
      sortCols: Map[String, Seq[String]] = Map.empty,
      keepVersions: Int = 2,
      raceWindow: () => Unit = () => ()): Long = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    require(VersionedLake.versions(spark, root).nonEmpty,
      s"no streaming state at $root")
    // claim first, then read everything at the commit's OWN base version:
    // a commit landing between a separately-read "latest" and the claim
    // would desync the carry lists from the rewrite reads (carry() throws
    // on a table the newer manifest dropped — a crash where the abort/
    // retry path belongs)
    val gc = VersionedLake.beginGroupCommit(spark, root)
    VersionedLake.runOrAbort(gc) {
    // the commit's base answers table listing AND tiering for the whole
    // pass — it was parsed once, at the claim
    val base = gc.base.get
    val v = base.version
    val relByTable = base.tables
    val f = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // batched sizing: ONE recursive listing per distinct version
    // directory instead of one getFileStatus RPC per data file — the
    // per-file form is O(accrued files) sequential namenode/object-store
    // calls per cadence hit, growing with exactly the small-file count
    // this pass exists to bound
    val rootPrefix = f.makeQualified(new Path(root)).toUri.getPath
    val versionDirs = relByTable.values.flatten
      .map(rel => rel.split("/").take(3).mkString("/")) // t/_data/vN
      .toSet
    val sizes: Map[String, Long] = versionDirs.flatMap { vd =>
      // FsWalk, not listFiles(recursive): the located listing's per-file
      // cost is exactly the O(accrued files) toll this batched sizing
      // exists to avoid (FsWalk scaladoc for the measured numbers)
      graft.sources.FsWalk.files(f, new Path(root, vd)).map(s =>
        s.getPath.toUri.getPath.stripPrefix(rootPrefix)
          .stripPrefix("/") -> s.getLen)
    }.toMap
    val carryThreshold = math.max(1L, targetBytes / 2)
    val census = Seq.newBuilder[String]
    // two-phase pass: decide per table first (metadata only), then issue
    // every rewrite CONCURRENTLY (writeAllWithCarried — the per-table
    // rewrite jobs of one cadence hit are independent small writes whose
    // sequential staging was pure queueing; guide §2.6), carries last
    val rewrites =
      Seq.newBuilder[(String, org.apache.spark.sql.DataFrame, Seq[String], Seq[String])]
    val carries = Seq.newBuilder[String]
    relByTable.keys.toSeq.sorted.foreach { table =>
      if (carryTables(table)) carries += table
      else {
        val files = relByTable(table)
        // size tiering: a file at ≥ targetBytes/2 is a previous pass's
        // (or an already-dense commit's) output — carry it verbatim; the
        // sub-threshold tail is what per-batch appends accrue
        val (large, smallAll) = files.partition(p =>
          sizes.getOrElse(p, 0L) >= carryThreshold)
        val pb = partitioned.getOrElse(table, Nil)
        // per-DIRECTORY tiering for a partitioned layout: partition dirs
        // are independent files-wise, so a dir whose small tail is a
        // single file gains nothing from a rewrite (one file in, one
        // file out — the same rationale as the ≤1-file table carry) and
        // is carried verbatim; only dirs that actually accrued a
        // multi-file tail are read and re-packed. A solo small file is
        // < targetBytes/2 by construction, so a solo dir is never hot.
        val (small, soloCarry) =
          if (pb.isEmpty) (smallAll, Seq.empty[String])
          else {
            val byDir = smallAll.groupBy(partitionDirOf)
            val (multi, solo) = byDir.partition(_._2.size >= 2)
            (multi.values.flatten.toSeq, solo.values.flatten.toSeq)
          }
        if (small.size <= 1) carries += table
        else {
          val smallBytes = small.map(p => sizes.getOrElse(p, 0L)).sum
          val n = LakeWriter.compactionFileCount(smallBytes, targetBytes)
          val df = base.readFiles(small)
          val repacked =
            if (pb.isEmpty) df.repartition(n)
            // hash on (partition cols, skew salt): one task group per
            // partition value, so the write emits ≤ one file per value —
            // EXCEPT values whose small-tail bytes exceed targetBytes,
            // which salt into ceil(bytes/target) buckets so a hot value
            // splits into target-sized files instead of one arbitrarily
            // large one. Per-value bytes come from the manifest paths
            // (col=value directories) — no sampling pass, unlike
            // repartitionByRange, whose per-rewrite sampling job showed
            // up as ~10% of q117c's wall at the worst cadence
            else df.repartition(n,
              pb.map(col) :+ skewSalt(df, small, sizes, pb, targetBytes): _*)
          val compacted = sortCols.get(table) match {
            case Some(sc) if sc.nonEmpty =>
              repacked.sortWithinPartitions((pb ++ sc).map(col): _*)
            case _ => repacked
          }
          rewrites += ((table, compacted, large ++ soloCarry, pb))
          census += s"$table: carried ${large.size + soloCarry.size}, " +
            s"rewrote ${small.size} (${smallBytes}B) -> $n"
        }
      }
    }
    gc.writeAllWithCarried(rewrites.result())
    carries.result().foreach(gc.carry)
    raceWindow()
    gc.publishIfBaseIs(v) match {
      case None =>
        lastStats = Some(s"aborted: commit raced past v$v")
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"retention at $root aborted: a commit landed past v$v during " +
            "the rewrite; retrying next cadence")
        VersionedLake.versions(spark, root).last
      case Some(nv) =>
        val stats = census.result().mkString("; ")
        lastStats = Some(if (stats.isEmpty) "all tables carried" else stats)
        // retention horizon: keep the last `keepVersions` committed
        // versions (carried files in older _data dirs stay alive because
        // kept manifests reference them — vacuum is manifest-driven)
        val committed = VersionedLake.versions(spark, root)
        VersionedLake.vacuumGroup(spark, root,
          keepFrom = committed.takeRight(keepVersions).head)
        nv
    }
    } // runOrAbort
  }
}
