package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}

import graft.operators.{Cluster, Similarity}
import graft.sources.VersionedLake

/** Persistent IVF-PQ ANN index — the PRODUCTION shape of
  * approximate-nearest-neighbor search at corpus scale, completing the
  * stored-state symmetry the MinHash family already has
  * ([[DedupIndex]]): the model is fitted ONCE, the index lives in the
  * lake, arrival batches append WITHOUT refitting, and every search
  * reads the stored tables — re-fitting codebooks per query
  * (q119/q119b/q119c's one-shot shape) is a correctness fixture, not a
  * deployment.
  *
  * Layout: `root` is ONE [[VersionedLake]] table group —
  *
  *  - `coarse` (cid, q): the coarse k-means centroids (IVF cells);
  *  - `codebooks` (sub, cid, q): the per-subspace PQ codebooks fitted on
  *    coarse residuals;
  *  - `encoded` (idCol, codes), Hive-partitioned by `cell`: each
  *    vector's m residual codes — the 64×-compressed scan body; the
  *    cell partitioning is what turns a search into an nprobe-directory
  *    read (PartitionFilters, plan-pinned) instead of a corpus scan;
  *  - `quant` (idCol, q): the grid-quantized vectors, stored beside the
  *    codes for IVFADC-R exact re-ranking (read c rows per search via
  *    the broadcast short-list join, never scanned);
  *  - `tombstones` (idCol) — OPTIONAL, created by the first [[delete]]:
  *    ids removed from the index merge-on-read style (an upstream dedup
  *    pass retires documents; rewriting a 100 TB index per retirement
  *    batch is not a production shape). Searches and probes anti-join
  *    it (broadcast — tombstones are the RETIRED minority); the codes
  *    stay physical until [[foldTombstones]] folds them out.
  *
  * All four tables publish as ONE atomic group version: a reader can
  * never observe appended codes beside a missing quant row or a torn
  * model. [[append]] carries `coarse`/`codebooks` (metadata re-list, no
  * rewrite) and appends `encoded`/`quant` (metadata union), so per-batch
  * cost is the batch's own map-only encode — independent of the stored
  * corpus size. Appends never refit: stored and arriving codes share one
  * geometry, which is exactly why [[search]] results over build+append
  * hash-match a one-shot encode of the union against the same model
  * (q119e's oracle replays fit-on-corpus + encode-union end to end).
  * The flip side of metadata-union appends is a small-file tail that
  * grows with O(batches) — [[maintain]] bounds it with the same
  * incremental size-tiered retention pass the streaming dedup flows run
  * ([[StreamingRetention.compactState]]), and search results are
  * file-layout-invariant through it (q119g's oracle is q119e's).
  *
  * Model drift at 100 TB: after enough appends the residual distribution
  * walks away from the fitted codebooks and recall decays — measured,
  * not guessed, by [[Similarity.annRecallAtK]] over a query set against
  * the brute-force exact top-k ([[Similarity.meanRecallAtK]] is the
  * grouped form); a deployment refits with [[refit]] — build a NEW
  * root, gate it on [[recallProbe]] vs a recall floor, and cut the
  * [[graft.sources.ServingPointer]] on pass (atomic, audited;
  * [[searchServing]] reads through it) or keep serving blue on fail —
  * the same blue/green shape as every stored model here, here as a
  * checked invariant rather than a caller-composed convention.
  *
  * Reference analog: the stored-progress / stored-state idioms
  * (reference: pipelines/utils/progress.py:22-140) — state lives in the
  * warehouse, arrivals are incremental, consumers read stored tables.
  */
object AnnIndex {

  /** Fit the model on `df` and commit model + codes + quantized vectors
    * as group version 1 at `root`. Must run once before any append or
    * search; refuses an existing index (build a new root and cut over —
    * an in-place refit would silently re-geometry stored codes).
    * `idCol` must be integral (stored BIGINT, same contract as the dedup
    * flows). Returns the committed version.
    */
  def build(df: DataFrame, idCol: String, vecCol: String, root: String,
      dims: Int, coarseK: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, scale: Int = Cluster.QuantScale): Long = {
    val spark = df.sparkSession
    require(VersionedLake.versions(spark, root).isEmpty,
      s"ANN index already exists at $root (build a new root and cut over)")
    val src = normalized(df, idCol, vecCol)
    val (coarse, books, encoded) = Similarity.ivfPqIndex(src, idCol, vecCol,
      dims, coarseK, coarseIters, m, k, iters, scale)
    val gc = VersionedLake.beginGroupCommit(spark, root)
    // independent frames (coarse/books are bounded literal frames,
    // encoded is materialized, quant re-maps the corpus) — staged
    // concurrently so the four write jobs overlap (guide §2.6)
    gc.writeAll(Seq(
      ("coarse", coarse, "overwrite", Nil),
      ("codebooks", books, "overwrite", Nil),
      ("encoded", encoded, "overwrite", Seq("cell")),
      ("quant", src.select(col(idCol),
        Cluster.quantizeFloor(col(vecCol), scale).as("q")), "overwrite", Nil)))
    gc.publish()
  }

  /** Pin the stored id type at the write boundary: every reader
    * (search/recallProbe and the group's schemaDDL contracts) reads the
    * id back as BIGINT, so a caller whose integral id is narrower (INT
    * vec ids are common) must land widened — otherwise ingest succeeds
    * and the first search dies on an unbranded parquet type-conversion
    * error far from the cause. Same defensive cast the dedup flows make.
    */
  private[flows] def normalized(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).cast("long").as(idCol), col(vecCol))

  /** Latest committed version, with the branded error a typo'd root or
    * an append-before-build deserves (a bare `.last` on the empty list
    * would surface as an unactionable "empty.last").
    */
  private def latestVersion(spark: SparkSession, root: String): Long = {
    val vs = VersionedLake.versions(spark, root)
    require(vs.nonEmpty, s"no ANN index at $root (build it first)")
    vs.last
  }

  /** Encode `batch` against the STORED model (map-only —
    * [[Similarity.ivfPqEncode]]) and append its codes + quantized
    * vectors as one new group version; the model tables are carried
    * (metadata re-list). Per-batch cost is independent of the stored
    * corpus size. Returns the committed version. This is the
    * driver-invoked batch API with NO replay marker — a checkpointed
    * stream must use [[StreamingAnnIndex]] instead, whose `applied`
    * marker makes crash-replayed batches no-ops. Pending tombstones are
    * carried (retirements survive every append).
    *
    * RACE-DETECTED like every other writer here (`publishIfBaseIs` with
    * a bounded retry): the carry list and model reads resolve at the
    * commit's own base version, and the publish aborts if any commit
    * lands (or holds an unexpired lower claim) inside the
    * claim→publish window. Without the detection, an append racing a
    * [[delete]] could publish a carry list read BEFORE the delete
    * landed — re-listing the pre-delete tombstone state (or omitting
    * the table entirely on a first delete) and silently dropping a
    * retirement the delete reported as committed. A retry re-encodes
    * the batch (map-only, O(batch)); races are per-commit-window rare.
    */
  def append(batch: DataFrame, idCol: String, vecCol: String, root: String,
      scale: Int = Cluster.QuantScale, maxAttempts: Int = 5,
      raceWindow: () => Unit = () => ()): Long = {
    val spark = batch.sparkSession
    latestVersion(spark, root) // branded require before claiming a number
    val src = normalized(batch, idCol, vecCol)
    var attempt = 0
    while (attempt < maxAttempts) {
      val gc = VersionedLake.beginGroupCommit(spark, root)
      VersionedLake.runOrAbort(gc) {
        // every read + carry resolves at the commit's OWN base (group
        // consistency; a separately-read "latest" can trail the claim)
        val v = gc.basedOn.get
        val coarse = VersionedLake.readTable(spark, root, "coarse", Some(v))
        val books = VersionedLake.readTable(spark, root, "codebooks", Some(v))
        // carry EVERYTHING this commit does not write (model tables,
        // pending tombstones, any future member): a group manifest lists
        // only staged tables, and a per-table carry list would let the
        // next optional table silently vanish from append commits
        VersionedLake.groupTableRelFiles(spark, root, Some(v)).keys
          .filterNot(Set("encoded", "quant")).toSeq.sorted.foreach(gc.carry)
        gc.writeAll(Seq(
          ("encoded",
            Similarity.ivfPqEncode(src, idCol, vecCol, coarse, books, scale),
            "append", Seq("cell")),
          ("quant", src.select(col(idCol),
            Cluster.quantizeFloor(col(vecCol), scale).as("q")),
            "append", Nil)))
        raceWindow()
        gc.publishIfBaseIs(v)
      } match {
        case Some(nv) => return nv
        case None => attempt += 1; retryBackoff(attempt)
      }
    }
    throw new IllegalStateException(
      s"AnnIndex.append at $root lost the commit race $maxAttempts times " +
        "(concurrent retirement/maintenance running hot? retry)")
  }

  /** Linear backoff between commit-race retries: the usual loser is a
    * writer whose publish window overlapped an in-flight LOWER claim
    * (lowest claim wins — see `publishIfBaseIs`); that winner publishes
    * within milliseconds of its own window closing, so a short wait
    * converts a burned attempt into a clean rebase instead of spinning
    * the bounded retry budget against a still-open window.
    */
  private[flows] def retryBackoff(attempt: Int): Unit =
    Thread.sleep(math.min(500L, 50L * attempt))

  private val Tombstones = "tombstones"

  /** The pending retirements at version `v`, or None before the first
    * [[delete]] (and again after a [[foldTombstones]] — a fold drops the
    * table rather than staging an empty one).
    */
  private def tombstonesOpt(spark: SparkSession, root: String, v: Long,
      idCol: String): Option[DataFrame] =
    if (VersionedLake.groupTableRelFiles(spark, root, Some(v))
        .contains(Tombstones))
      Some(VersionedLake.readTable(spark, root, Tombstones, Some(v),
        schemaDDL = s"$idCol BIGINT"))
    else None

  /** Exclude retired ids from an index read. The anti-join build side is
    * the broadcast tombstone set — the corpus side never shuffles, so a
    * tombstoned search keeps the same scan shape as a clean one (the
    * `cell` partition pruning pushes through the join; plan-pinned).
    */
  private def minusTombstones(df: DataFrame, tomb: Option[DataFrame],
      idCol: String): DataFrame =
    tomb.fold(df)(t => df.join(broadcast(t), Seq(idCol), "left_anti"))

  /** Retire `ids` from the index merge-on-read style: ONE group commit
    * appends them to the `tombstones` table and carries every other
    * table verbatim (metadata re-list — no data is read or rewritten, so
    * a retirement batch costs O(its own ids) regardless of corpus size).
    * Ids not present in the index are harmless (the anti-join never
    * matches them). [[search]] and [[recallProbe]] exclude tombstoned
    * ids from that version on; the physical codes remain until
    * [[foldTombstones]]. Deletes compose with [[StreamingAnnIndex]]
    * ingest from BOTH sides: [[StreamingAnnIndex.applyBatch]] carries
    * the tombstone table on every batch, and this commit publishes
    * race-DETECTED (`publishIfBaseIs` — the carry list was read at the
    * base version, so publishing past an interleaved batch commit would
    * silently drop that batch's appended files) with a bounded retry
    * from the new latest version; retirement batches are metadata-cheap,
    * so retrying is cheaper than a claim-ordering protocol. Returns the
    * committed version.
    */
  def delete(ids: DataFrame, idCol: String, root: String,
      maxAttempts: Int = 5,
      raceWindow: () => Unit = () => ()): Long = {
    val spark = ids.sparkSession
    latestVersion(spark, root) // branded require before claiming a number
    val retired = ids.select(col(idCol).cast("long").as(idCol)).distinct()
    var attempt = 0
    while (attempt < maxAttempts) {
      val gc = VersionedLake.beginGroupCommit(spark, root)
      VersionedLake.runOrAbort(gc) {
        // the carry set derives from the commit's OWN base version — a
        // separately-read latest can trail the claim (a fold landing in
        // the gap) and make carry() throw instead of retrying
        val v = gc.basedOn.get
        VersionedLake.groupTableRelFiles(spark, root, Some(v))
          .keys.filterNot(_ == Tombstones).toSeq.sorted.foreach(gc.carry)
        gc.write(Tombstones, retired, mode = "append")
        raceWindow()
        gc.publishIfBaseIs(v)
      } match {
        case Some(nv) => return nv
        case None => attempt += 1; retryBackoff(attempt)
      }
    }
    throw new IllegalStateException(
      s"AnnIndex.delete at $root lost the commit race $maxAttempts times " +
        "(concurrent ingest running hot? retry, or retire via a quieter window)")
  }

  /** Fold pending retirements into the data: rewrite `encoded` and
    * `quant` anti-joined against `tombstones` and DROP the tombstone
    * table, as one race-detected group commit. This is the
    * threshold-triggered compaction half of merge-on-read: every search
    * pays the (broadcast, cheap) anti-join until the retired fraction
    * makes the dead codes worth rewriting out — the fold itself is a
    * FULL rewrite of both tables, O(live state), so a deployment runs it
    * when tombstones cross a fraction of the corpus, not per retirement
    * batch ([[maintain]] stays the per-cadence pass; it compacts the
    * tombstone table's own small-file tail but never folds). Search
    * results are value-invariant across the fold (q119k's oracle IS
    * q119j's). Aborts — leaving the index at its pre-fold version, to
    * retry later — if any commit lands inside its read→publish window.
    * Returns the latest version (folded, or pre-existing on abort /
    * no-op when nothing is pending).
    */
  def foldTombstones(spark: SparkSession, root: String, idCol: String,
      keepVersions: Int = 2,
      raceWindow: () => Unit = () => ()): Long = {
    val v0 = latestVersion(spark, root)
    // no-op pre-check at the CURRENT latest, so a fold with nothing
    // pending never claims (and aborts) a version number
    if (tombstonesOpt(spark, root, v0, idCol).isEmpty) return v0
    val gc = VersionedLake.beginGroupCommit(spark, root)
    VersionedLake.runOrAbort(gc) {
      // re-resolve everything at the commit's OWN base: a commit landing
      // between the pre-check and the claim must not desync the carry
      // list from the rewrite reads
      val v = gc.basedOn.get
      tombstonesOpt(spark, root, v, idCol) match {
        case None => // folded in the gap — nothing pending at our base
          gc.abort()
          VersionedLake.versions(spark, root).last
        case Some(tomb) =>
          val rel = VersionedLake.groupTableRelFiles(spark, root, Some(v))
          val encoded = VersionedLake.readTable(spark, root, "encoded",
            Some(v),
            schemaDDL = s"$idCol BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
          val quant = VersionedLake.readTable(spark, root, "quant", Some(v),
            schemaDDL = s"$idCol BIGINT, q ARRAY<BIGINT>")
          rel.keys.filterNot(Set("encoded", "quant", Tombstones)).toSeq
            .sorted.foreach(gc.carry)
          gc.writeAll(Seq(
            ("encoded", minusTombstones(encoded, Some(tomb), idCol),
              "overwrite", Seq("cell")),
            ("quant", minusTombstones(quant, Some(tomb), idCol),
              "overwrite", Nil)))
          raceWindow()
          gc.publishIfBaseIs(v) match {
            case None => VersionedLake.versions(spark, root).last
            case Some(nv) =>
              val committed = VersionedLake.versions(spark, root)
              VersionedLake.vacuumGroup(spark, root,
                keepFrom = committed.takeRight(keepVersions).head)
              nv
          }
      }
    }
  }

  /** Bound the small-file tail arrival appends accrue: every [[append]]
    * is a metadata union, so a long-running ingest leaves O(batches)
    * parquet files (and manifests) under `encoded`/`quant` — at nprobe
    * read time that is O(batches) file opens per probed cell. One
    * incremental, size-tiered retention pass
    * ([[StreamingRetention.compactState]]) bin-packs only the
    * sub-threshold tail accrued since the last pass into ~`targetBytes`
    * files (the `cell` layout is preserved; a hot cell salt-splits
    * instead of forcing one oversized file), CARRIES already-compacted
    * large files AND the model tables verbatim, keeps `keepVersions`
    * committed versions readable for in-flight searches, and aborts
    * itself if an append commits inside its read→publish window — so
    * maintenance can run beside the ingest without losing a committed
    * batch. The tombstone table, when present, is bin-packed like any
    * other member (retirement batches accrue small files too) but never
    * folded — folding is [[foldTombstones]]' explicitly-invoked full
    * rewrite. State is row-identical across the pass: a maintained index
    * hash-matches an unmaintained one (q119g's oracle IS q119e's).
    * Returns the latest version (compacted, or pre-existing on abort).
    */
  def maintain(spark: SparkSession, root: String,
      targetBytes: Long = 64L * 1024 * 1024, keepVersions: Int = 2): Long = {
    latestVersion(spark, root) // branded require on a missing/typo'd root
    StreamingRetention.compactState(spark, root, targetBytes,
      carryTables = Set("coarse", "codebooks"),
      partitioned = Map("encoded" -> Seq("cell")),
      keepVersions = keepVersions)
  }

  /** [[maintain]] plus the tombstone-fraction fold policy the
    * merge-on-read scaladoc names ("fold when tombstones cross a
    * fraction of the corpus") — COMPUTED, not left to the caller: the
    * retired and stored row counts come from parquet FOOTERS of the
    * manifest-listed files ([[VersionedLake.tableRowCount]] — O(files)
    * driver-side metadata reads, no scan, no Spark job), and
    * [[foldTombstones]] runs only when retired/stored ≥ `foldAtFraction`.
    * Below the threshold the pass NEVER folds — searches keep paying the
    * (broadcast, cheap) anti-join, which is the merge-on-read deal. The
    * fold runs BEFORE the retention pass so the pass bin-packs the
    * fold's output tail in the same cadence hit. Retirement batches may
    * repeat ids across deletes; repeats inflate the dial toward an
    * EARLIER fold (the fold itself is id-exact — the anti-join
    * distincts), never a missed one. Returns the latest version.
    */
  def maintainAndFold(spark: SparkSession, root: String, idCol: String,
      foldAtFraction: Double = 0.2,
      targetBytes: Long = 64L * 1024 * 1024, keepVersions: Int = 2): Long = {
    require(foldAtFraction > 0.0 && foldAtFraction <= 1.0,
      s"foldAtFraction must be in (0, 1], got $foldAtFraction")
    val v = latestVersion(spark, root)
    if (VersionedLake.groupTableRelFiles(spark, root, Some(v))
        .contains(Tombstones)) {
      val dead = VersionedLake.tableRowCount(spark, root, Tombstones, Some(v))
      val stored = VersionedLake.tableRowCount(spark, root, "encoded", Some(v))
      if (stored > 0 && dead.toDouble / stored >= foldAtFraction) {
        foldTombstones(spark, root, idCol, keepVersions)
        ()
      }
    }
    maintain(spark, root, targetBytes, keepVersions)
  }

  /** Drift dial for the stored index: mean recall@`k` over a probe
    * query SET ([[Similarity.meanRecallAtK]] — per-query rows plus the
    * NULL-key mean row), each query's IVFADC-R search scored against its
    * own brute-force exact top-k over the stored `quant` table. This is
    * the "measured, not guessed" number the header's refit note points
    * at: appends never refit, so after enough arrivals the residual
    * distribution walks away from the fitted codebooks — a deployment
    * runs this probe on a cadence and refits when the mean sags below
    * its floor ([[refit]] is that composition).
    *
    * FRAME-DRIVEN (round 16): both sides are ONE job each, whatever the
    * probe-set size. The approx side is the table-driven batch search
    * ([[Similarity.ivfPqBatchTopKRerank]] over the probe frame — the
    * 2N-per-query-subplan loop this replaced was the same non-scaling
    * shape the batch search retired for arrival dedup); the exact side
    * broadcasts the probe frame over ONE `quant` scan and reduces with
    * bounded per-query top-k heaps ([[graft.plans.TopKPerKey]] — at
    * most k rows per (query, partition) reach the shuffle, never the
    * scored corpus). Retired ids leave BOTH sides: the approx side must
    * not surface them, and the exact side must not count a dead doc as
    * a miss the approx side was right to skip. All reads resolve ONE
    * pinned version. Probe ids must be unique (they key the per-query
    * windows — the batch contract).
    */
  def recallProbe(spark: SparkSession, root: String, idCol: String,
      queries: Seq[(Long, Array[Long])], k: Int, nprobe: Int,
      c: Int): DataFrame = {
    require(queries.nonEmpty, "recallProbe needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "recallProbe query ids must be unique (they key the per-query windows)")
    import spark.implicits._
    recallProbeQuantized(spark, root, idCol,
      queries.map { case (qid, qq) => (qid, qq.toSeq) }
        .toDF("query_id", "__q"), k, nprobe, c)
  }

  /** [[recallProbe]] over a probe FRAME — raw vectors
    * (`queryVecCol`, float/double array) grid-quantized in-plan with the
    * index's scale, ids cast long in-plan: the probe set never touches
    * driver memory, so a deployment can dial drift on tens of thousands
    * of held-out queries (the documented cadence shape) as cheaply as on
    * three. Same result row-for-row as the Seq form over the same
    * probes (spec-pinned). Query ids must be unique; the batch kernel
    * enforces that in-plan (the same contract [[searchBatch]] carries),
    * and an empty frame refuses loudly like the Seq form.
    */
  def recallProbeFrame(spark: SparkSession, root: String, idCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, nprobe: Int, c: Int,
      scale: Int = Cluster.QuantScale): DataFrame = {
    require(!queries.isEmpty, "recallProbeFrame needs at least one query")
    recallProbeQuantized(spark, root, idCol,
      queries.select(col(queryIdCol).cast("long").as("query_id"),
        Cluster.quantizeFloor(col(queryVecCol), scale).as("__q")),
      k, nprobe, c)
  }

  /** The shared probe core: `qdf` is (query_id BIGINT, __q quantized).
    * The probe frame is MATERIALIZED once up front (localCheckpoint —
    * one bounded job over the probe set, never the corpus): recall
    * compares an approx side against an exact side over the SAME probe
    * rows, and a non-deterministic probe source (a `sample()`, an
    * unordered `limit`) would otherwise present different probe sets to
    * the two fan-out evaluations and skew the reported recall.
    */
  private def recallProbeQuantized(spark: SparkSession, root: String,
      idCol: String, qdf0: DataFrame, k: Int, nprobe: Int,
      c: Int): DataFrame = {
    val qdf = qdf0.localCheckpoint()
    val v = latestVersion(spark, root)
    val coarse = VersionedLake.readTable(spark, root, "coarse", Some(v))
    val books = VersionedLake.readTable(spark, root, "codebooks", Some(v))
    val tomb = tombstonesOpt(spark, root, v, idCol)
    val encoded = minusTombstones(
      VersionedLake.readTable(spark, root, "encoded", Some(v),
        schemaDDL = s"$idCol BIGINT, codes ARRAY<BIGINT>, cell BIGINT"),
      tomb, idCol)
    val quant = minusTombstones(
      VersionedLake.readTable(spark, root, "quant", Some(v),
        schemaDDL = s"$idCol BIGINT, q ARRAY<BIGINT>"),
      tomb, idCol)
    val approx = Similarity.ivfPqBatchTopKRerank(encoded, quant, idCol,
      coarse, books, qdf, "query_id", "__q", nprobe, c, k)
      .select(col("query_id"), col(idCol))
    val exact = graft.plans.TopKPerKey(
      quant.crossJoin(broadcast(qdf))
        .select(col("query_id"), col(idCol),
          graft.functions.VectorFunctions.sqDistQ(col("q"), col("__q"))
            .as("__d"))
        // malformed stored rows leave the exact ranking, same null
        // policy as every other distance ranking in the family
        .filter(col("__d").isNotNull),
      Seq(col("query_id")), Seq(col("__d").asc, col(idCol).asc), k)
      .select(col("query_id"), col(idCol))
    Similarity.meanRecallAtK(approx, exact, idCol, "query_id", k)
  }

  /** IVFADC-R search over the stored index
    * ([[Similarity.ivfPqTopKRerank]]): nprobe cells of stored codes are
    * read partition-pruned (the `cell.isin` filter lands as
    * PartitionFilters on the Hive layout — directory reads, not a corpus
    * scan), the top-`c` ADC short-list broadcasts into the `quant` join
    * for the exact re-rank, and the final top-`n` compiles to
    * TakeOrderedAndProject. Reads resolve ONE pinned version for the
    * whole search. Explicit schemas pin the types a partition-column
    * inference would narrow (cell BIGINT, not INT).
    */
  def search(spark: SparkSession, root: String, idCol: String,
      queryQuant: Array[Long], nprobe: Int, c: Int, n: Int): DataFrame = {
    val v = latestVersion(spark, root)
    val coarse = VersionedLake.readTable(spark, root, "coarse", Some(v))
    val books = VersionedLake.readTable(spark, root, "codebooks", Some(v))
    // tombstoned ids are excluded BEFORE the ADC short-list forms — a
    // retired doc must not occupy one of the c slots and push a live
    // candidate out of the re-rank
    val tomb = tombstonesOpt(spark, root, v, idCol)
    val encoded = minusTombstones(
      VersionedLake.readTable(spark, root, "encoded", Some(v),
        schemaDDL = s"$idCol BIGINT, codes ARRAY<BIGINT>, cell BIGINT"),
      tomb, idCol)
    val quant = VersionedLake.readTable(spark, root, "quant", Some(v),
      schemaDDL = s"$idCol BIGINT, q ARRAY<BIGINT>")
    Similarity.ivfPqTopKRerank(encoded, quant, idCol, coarse, books,
      queryQuant, nprobe, c, n)
  }

  /** Batch search over the stored index
    * ([[Similarity.ivfPqBatchTopKRerank]]): ONE job answers a whole
    * query FRAME — the production arrival-dedup shape (a new crawl batch
    * asks "what are my top-n stored neighbors" for millions of vectors
    * at once; a driver loop of [[search]] plans stops scaling right
    * there). Per query the result is row-identical to [[search]] at the
    * same nprobe/c/n. Queries arrive RAW (`queryVecCol` float/double
    * array) and are grid-quantized in-plan with the index's scale; the
    * probed-cell union lands as an isin literal on the encoded scan
    * (PartitionFilters — unprobed cells are never read), candidate
    * decode is once-per-stored-row, and both top-k reductions shuffle
    * slim rows only. Tombstoned ids are excluded before the short-list,
    * same as [[search]]. All reads resolve ONE pinned version.
    * `queryIdCol` must be unique per query row.
    */
  def searchBatch(spark: SparkSession, root: String, idCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      nprobe: Int, c: Int, n: Int,
      scale: Int = Cluster.QuantScale): DataFrame = {
    val v = latestVersion(spark, root)
    val coarse = VersionedLake.readTable(spark, root, "coarse", Some(v))
    val books = VersionedLake.readTable(spark, root, "codebooks", Some(v))
    val tomb = tombstonesOpt(spark, root, v, idCol)
    val encoded = minusTombstones(
      VersionedLake.readTable(spark, root, "encoded", Some(v),
        schemaDDL = s"$idCol BIGINT, codes ARRAY<BIGINT>, cell BIGINT"),
      tomb, idCol)
    val quant = VersionedLake.readTable(spark, root, "quant", Some(v),
      schemaDDL = s"$idCol BIGINT, q ARRAY<BIGINT>")
    val q0 = queries.select(col(queryIdCol).cast("long").as(queryIdCol),
      Cluster.quantizeFloor(col(queryVecCol), scale).as("__q"))
    Similarity.ivfPqBatchTopKRerank(encoded, quant, idCol, coarse, books,
      q0, queryIdCol, "__q", nprobe, c, n)
  }

  /** The outcome of a [[refit]]: whether the candidate passed the gate
    * and was cut in, the measured mean recall, and the root now being
    * served (None when the gate failed and no pointer was ever set).
    */
  final case class RefitResult(cut: Boolean, meanRecall: Double,
      candidateRoot: String, servedRoot: Option[String])

  /** The COMPOSED blue/green refit — the checked form of the lifecycle
    * the header promises (build → gate → cut): fit a NEW index on `df`
    * at `candidateRoot` ([[build]] — roots are immutable once built, so
    * a refit is always a new root, never an in-place re-geometry), dial
    * it with [[recallProbe]] over `probes`, and
    *
    *  - mean recall ≥ `recallFloor`: cut the serving pointer to the
    *    candidate ([[graft.sources.ServingPointer.set]] — atomic;
    *    in-flight searches against the old root keep reading it, the
    *    blue/green contract);
    *  - below the floor: the POINTER IS NEVER TOUCHED — readers keep
    *    serving blue — and the failed candidate is swept from disk
    *    (`keepFailedCandidate = true` keeps it for debugging; either
    *    way it was never visible to a [[searchServing]] reader).
    *
    * A first deployment (pointer never set) cuts on pass like any
    * other — the gate applies from day one. The old root is NOT swept
    * on a successful cut: draining and retiring blue is the deployment's
    * out-of-band step (readers may still be mid-scan on it).
    */
  def refit(df: DataFrame, idCol: String, vecCol: String,
      candidateRoot: String, ptr: String, dims: Int, coarseK: Int,
      coarseIters: Int, m: Int, k: Int, iters: Int,
      probes: Seq[(Long, Array[Long])], probeK: Int, nprobe: Int, c: Int,
      recallFloor: Double, scale: Int = Cluster.QuantScale,
      keepFailedCandidate: Boolean = false): RefitResult = {
    // floors > 1 are allowed: mean recall clamps at 1.0, so they are the
    // explicit "never cut" switch (probe-only runs)
    require(recallFloor >= 0.0,
      s"recallFloor must be non-negative, got $recallFloor")
    val spark = df.sparkSession
    build(df, idCol, vecCol, candidateRoot, dims, coarseK, coarseIters,
      m, k, iters, scale)
    val dial = recallProbe(spark, candidateRoot, idCol, probes, probeK,
      nprobe, c)
    gateAndCut(spark, dial, candidateRoot, ptr, recallFloor,
      keepFailedCandidate)
  }

  /** [[refit]] with the probe set as a FRAME ([[recallProbeFrame]] — raw
    * vectors grid-quantized in-plan, ids cast in-plan, the probe set
    * never on the driver): the gated cutover at the same "tens of
    * thousands of held-out queries" scale the drift dial handles. Gate
    * and pointer semantics are identical to the Seq form (spec-pinned
    * frame ≡ Seq over the same probes).
    */
  def refitFrame(df: DataFrame, idCol: String, vecCol: String,
      candidateRoot: String, ptr: String, dims: Int, coarseK: Int,
      coarseIters: Int, m: Int, k: Int, iters: Int,
      probeFrame: DataFrame, queryIdCol: String, queryVecCol: String,
      probeK: Int, nprobe: Int, c: Int,
      recallFloor: Double, scale: Int = Cluster.QuantScale,
      keepFailedCandidate: Boolean = false): RefitResult = {
    require(recallFloor >= 0.0,
      s"recallFloor must be non-negative, got $recallFloor")
    val spark = df.sparkSession
    build(df, idCol, vecCol, candidateRoot, dims, coarseK, coarseIters,
      m, k, iters, scale)
    val dial = recallProbeFrame(spark, candidateRoot, idCol, probeFrame,
      queryIdCol, queryVecCol, probeK, nprobe, c, scale)
    gateAndCut(spark, dial, candidateRoot, ptr, recallFloor,
      keepFailedCandidate)
  }

  /** The shared gate → pointer-cut tail of both refit forms: read the
    * dial's mean-recall row, cut the serving pointer on pass, sweep (or
    * keep) the never-served candidate on hold.
    */
  private def gateAndCut(spark: SparkSession, dial: DataFrame,
      candidateRoot: String, ptr: String, recallFloor: Double,
      keepFailedCandidate: Boolean): RefitResult = {
    val mean = dial.filter(col("query_id").isNull).head.getDouble(3)
    val prevServed =
      if (VersionedLake.versions(spark,
        ptr).nonEmpty) Some(graft.sources.ServingPointer.resolve(spark, ptr))
      else None
    if (mean >= recallFloor) {
      graft.sources.ServingPointer.set(spark, ptr, candidateRoot)
      RefitResult(cut = true, mean, candidateRoot, Some(candidateRoot))
    } else {
      if (!keepFailedCandidate) {
        val p = new org.apache.hadoop.fs.Path(candidateRoot)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
        ()
      }
      RefitResult(cut = false, mean, candidateRoot, prevServed)
    }
  }

  /** The DECISIONS frame of [[semanticDedupAgainstIndex]]: one row per
    * batch doc — (batchIdCol, nn_id, nn_dist, dropped) — where nn_* is
    * the doc's single nearest STORED neighbor ([[searchBatch]] top-1,
    * ONE table-driven job for the whole batch) and `dropped` is the
    * replayable rule `nn_dist <= threshold` (exact squared L2 on the
    * quantized grid; a TIE at the threshold drops — the conservative
    * edge for a dedup gate). A batch doc with NO neighbor row — a
    * malformed vector, or every probed cell empty/tombstoned — is KEPT
    * with a null nn_id: a dedup pass must not retire a doc it could not
    * score (visible in the frame, never silently dropped). Exposed
    * separately from the survivor filter so the drop decisions are an
    * auditable, oracle-replayable artifact (the q108/q111 discipline).
    */
  def semanticDedupDecisions(spark: SparkSession, root: String,
      idCol: String, batch: DataFrame, batchIdCol: String,
      batchVecCol: String, nprobe: Int, c: Int, threshold: Long,
      scale: Int = Cluster.QuantScale): DataFrame = {
    require(batchIdCol != idCol,
      s"batchIdCol must differ from the index id column '$idCol' " +
        "(the decisions frame carries both)")
    val top1 = searchBatch(spark, root, idCol,
      batch.select(col(batchIdCol), col(batchVecCol)), batchIdCol,
      batchVecCol, nprobe, c, n = 1, scale)
      .select(col(batchIdCol), col(idCol).as("nn_id"),
        col("exact_dist").as("nn_dist"))
    batch.select(col(batchIdCol).cast("long").as(batchIdCol)).distinct()
      .join(top1, Seq(batchIdCol), "left")
      .withColumn("dropped",
        coalesce(col("nn_dist") <= lit(threshold), lit(false)))
  }

  /** Semantic arrival dedup against the STORED index — the production
    * shape [[searchBatch]] exists for: a new crawl batch asks "what is
    * my nearest stored neighbor" in ONE job and drops every doc whose
    * neighbor sits at `nn_dist <= threshold` on the quantized grid
    * (for unit-normalized embeddings, d² ≈ 2·(1 − cosine)·scale², so a
    * cosine-τ policy converts directly). Returns the SURVIVING batch
    * rows with every original column — the frame a corpus build's
    * semantic stage consumes ([[TrainingCorpus]] stage 3b is the
    * one-shot form over a full corpus; this is its per-arrival
    * counterpart, O(batch) against stored state like
    * [[graft.operators.Cluster.incrementalSemDeDupStored]] on the
    * cluster side). Unscoreable docs survive — see
    * [[semanticDedupDecisions]] for the audit trail and the rule.
    */
  def semanticDedupAgainstIndex(spark: SparkSession, root: String,
      idCol: String, batch: DataFrame, batchIdCol: String,
      batchVecCol: String, nprobe: Int, c: Int, threshold: Long,
      scale: Int = Cluster.QuantScale): DataFrame = {
    val dropped = semanticDedupDecisions(spark, root, idCol, batch,
      batchIdCol, batchVecCol, nprobe, c, threshold, scale)
      .filter(col("dropped"))
      .select(col(batchIdCol).as("__dropped_id"))
    // the dropped set is ≤ the batch (the small side by definition) —
    // broadcast it so the surviving-batch filter never shuffles the batch
    batch.join(broadcast(dropped),
      col(batchIdCol).cast("long") === col("__dropped_id"), "left_anti")
  }

  /** [[search]] through a [[graft.sources.ServingPointer]] — the reader
    * side of the blue/green refit ([[refit]] is the writer side: build a
    * new root, gate it on [[recallProbe]], cut on pass): a deployment's
    * queries name the POINTER and every subsequent search follows the
    * cut atomically (searches already planned against the old root keep
    * reading it — roots are immutable once built).
    */
  def searchServing(spark: SparkSession, ptr: String, idCol: String,
      queryQuant: Array[Long], nprobe: Int, c: Int, n: Int): DataFrame =
    search(spark, graft.sources.ServingPointer.resolve(spark, ptr), idCol,
      queryQuant, nprobe, c, n)
}
