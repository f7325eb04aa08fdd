package graft.flows

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Cluster, Dedup, Relational}
import graft.sources.VersionedLake

/** End-to-end training-corpus build: the full document → training-sample
  * path, composed entirely from the engine's operators so each stage keeps
  * its scale contract (bucketed candidate generation, bounded-state
  * clustering, one-exchange packing, pushdown-safe filters):
  *
  *  1. quality gate       — `TextFunctions.qualityScore` threshold
  *  2. exact dedup        — content-fingerprint keep-lowest-id
  *  3. near-dup dedup     — MinHash+LSH pairs → connected components →
  *                          keep each cluster's canonical (minimum-id) doc
  *  3b. semantic curation — OPTIONAL (when an embeddings frame is given):
  *                          one deterministic k-means shared by SemDeDup's
  *                          within-cluster near-dup drop and the
  *                          SSL-prototypes outlier gate — catches
  *                          paraphrase-level duplicates the lexical
  *                          MinHash stage can't see
  *  3c. embedding near-dup — OPTIONAL (`cosineNearDupThreshold > 0`):
  *                          cosine-LSH pairs over the surviving docs'
  *                          embeddings → connected components → keep each
  *                          cluster's minimum-id doc. Routed through
  *                          [[graft.operators.Dedup.cosineNearDupPairs]],
  *                          whose DEFAULT is bounded bucket occupancy —
  *                          at corpus scale density hot-spots are
  *                          guaranteed, so the flow inherits the bounded
  *                          scheme without a call-site knob
  *  4. PII redaction      — chained codegen'd regex
  *  5. chunking           — fixed-size overlapping token windows
  *  6. sequence packing   — per-language context bins
  *  7. split assignment   — md5-bucket train/val/test, keyed by DOCUMENT
  *                          so every chunk of a doc stays in one split
  *                          (chunk-level splits leak near-identical text
  *                          across train and eval)
  *
  * Returns one row per chunk: (doc_id, lang, start, n_tokens, chunk,
  * bin_id, offset_in_bin, split).
  */
object TrainingCorpus {

  def build(
      docs: DataFrame,
      minQuality: Double = 0.3,
      jaccardThreshold: Double = 0.8,
      chunkTokens: Int = 512,
      overlap: Int = 64,
      binCapacity: Long = 2048L,
      trainPct: Int = 90,
      valPct: Int = 5,
      // (doc_id, embedding): semantic stage runs only when present
      embeddings: Option[DataFrame] = None,
      semClusters: Int = 16,
      semIters: Int = 3,
      semTau: Double = 0.9,
      semPruneFrac: Double = 0.0,
      // stage 3c: 0 = off; > 0 needs `embeddings` and `embeddingDim`
      cosineNearDupThreshold: Double = 0.0,
      embeddingDim: Int = 0): DataFrame = {
    require(cosineNearDupThreshold <= 0 ||
      (embeddings.nonEmpty && embeddingDim > 0),
      "cosineNearDupThreshold needs an embeddings frame and embeddingDim")

    val quality = docs
      .filter(TextFunctions.qualityScore(col("text")) >= minQuality)

    val exact = Dedup.exactDedup(quality, "doc_id", "text")

    // near-dup: candidate pairs above the threshold → transitive clusters →
    // survivors are docs that are their own cluster minimum (docs absent
    // from the pair graph are singletons and survive by default)
    val pairs = Dedup.minHashCandidatePairs(exact, "doc_id", "text")
      .filter(col("jaccard") >= jaccardThreshold)
    val clusters = Dedup.duplicateClusters(pairs)
    val canonical = exact
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .drop("cluster_id")

    // semantic curation over the lexical survivors only (embeddings of
    // already-dropped docs must not influence clustering)
    val curated = embeddings match {
      case Some(emb) =>
        // the lexical pipeline (quality filter → exact dedup → cluster
        // join) is referenced four times below (clamp count, kmeans input,
        // rejected anti-join, final filter) — materialize it ONCE; at lake
        // scale this is the intermediate table the flow would land anyway
        val canon = canonical.localCheckpoint()
        val embKept = emb.join(canon.select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        // k-means init needs k vectors; a small (or empty) embedded subset
        // clamps k rather than failing the whole build
        val k = math.min(semClusters.toLong, embKept.count()).toInt
        val survivors =
          if (k == 0) embKept.select(col("doc_id"), lit(0L).as("cid"))
          else Cluster.semanticCurate(embKept, "doc_id", "embedding",
            k, semIters, semTau, semPruneFrac)
        // drop only docs the semantic stage JUDGED and rejected — a doc
        // with no embedding row passes through (absence of evidence)
        val rejected = embKept.select(col("doc_id"))
          .join(survivors.select(col("doc_id")), Seq("doc_id"), "left_anti")
        val afterSem = canon.join(rejected, Seq("doc_id"), "left_anti")
        if (cosineNearDupThreshold <= 0) afterSem
        else {
          // stage 3c over the semantic survivors only: cosine-LSH pairs
          // (bounded-occupancy default), transitive clusters, keep each
          // cluster's minimum-id doc; a doc with no embedding row passes
          // through, same evidence rule as 3b
          val embLeft = emb.join(afterSem.select(col("doc_id")),
            Seq("doc_id"), "left_semi")
          val cosPairs = Dedup.cosineNearDupPairs(embLeft, "doc_id",
            "embedding", embeddingDim, cosineNearDupThreshold)
          val cosClusters = Dedup.duplicateClusters(
            cosPairs.select(col("id_a"), col("id_b")))
          afterSem
            .join(cosClusters.withColumnRenamed("id", "doc_id"),
              Seq("doc_id"), "left")
            .filter(col("cluster_id").isNull ||
              col("cluster_id") === col("doc_id"))
            .drop("cluster_id")
        }
      case None => canonical
    }

    val redacted = curated
      .withColumn("clean_text", TextFunctions.redactPii(col("text")))

    val chunks = redacted
      .select(col("doc_id"), col("lang"),
        explode(TextFunctions.chunkByTokens(col("clean_text"),
          chunkTokens, overlap)).as("c"))
      .select(col("doc_id"), col("lang"), col("c.start").as("start"),
        col("c.n_tokens").as("chunk_tokens"), col("c.chunk").as("chunk"))

    // packSequences owns the `n_tokens` output name; feed it the chunk's
    // token count under a scratch name and drop it afterwards.
    Relational.packSequences(chunks, Seq("lang"),
        Seq(col("doc_id"), col("start")), col("chunk_tokens"), binCapacity)
      .select(col("doc_id"), col("lang"), col("start"), col("n_tokens"),
        col("chunk"), col("bin_id"), col("offset_in_bin"))
      .withColumn("split",
        Relational.splitAssign(col("doc_id"), trainPct, valPct))
  }

  // ===================== arrival-mode corpus build =====================

  /** One ARRIVAL batch of the corpus build — stages 1–3b of [[build]]
    * re-expressed against STORED state, so the end-to-end pipeline has a
    * per-batch shape, not just a one-shot one. Per batch:
    *
    *  1. quality gate (stateless);
    *  2. exact dedup — keep-lowest-id per fingerprint WITHIN the batch
    *     ([[graft.plans.TopKPerKey]]), then an anti-join against the
    *     stored fingerprint set (an earlier arrival always wins);
    *  3. incremental lexical near-dup — the batch's MinHash index joined
    *     against the STORED pruned-layout index
    *     ([[Dedup.minHashIncrementalPairsPruned]] — PartitionFilters +
    *     pushed In probes, per-batch I/O follows the batch's footprint),
    *     q116's keep-lowest-id-among-arrived drop rule;
    *  3b. index-backed semantic dedup — the lexical survivors' nearest
    *     STORED neighbor via [[AnnIndex.semanticDedupDecisions]] (ONE
    *     batch-search job), drop at `nn_dist <= semThreshold`; the FIRST
    *     batch bootstraps the index instead (nothing stored to compare
    *     against — within-batch semantic pairs are the one-shot build's
    *     job, the per-arrival contract is stored-only, same as q120);
    *  4–7. PII redaction, chunking, and packing CONTINUED from the
    *     stored per-language token totals (bin ids/offsets carry on
    *     exactly where the previous batch stopped — replayable as one
    *     global exclusive cumsum over (batch, doc, start)), split
    *     assignment keyed by document.
    *
    * State discipline mirrors the streaming flows: every state table
    * (`fps`, the pruned `hashed`/`banded`, `packstate`, `chunks`,
    * `survivors`) commits as ONE atomic [[VersionedLake]] group version
    * per batch, with the batch id as the manifest's `applied` watermark.
    * The batch claims its version first and reads the watermark from the
    * base it chains from ([[VersionedLake.GroupCommit.base]]); a
    * replayed batch id releases the claim and publishes nothing
    * (exactly-once). Index membership
    * follows the streams' "a dropped doc's near-dup status must not
    * depend on whether its mate survived": the lexical index gets every
    * exact-canonical quality-passer (lexically-dropped included), the
    * ANN index gets every LEXICAL survivor (semantically-dropped
    * included). ANN maintenance runs BEFORE the main commit and is made
    * idempotent by an anti-join against the already-indexed ids, so a
    * crash in the window between the two commits replays cleanly. The
    * ANN index is read at ONE snapshot per batch: the semantic decisions
    * and that anti-join see the same version.
    *
    * Returns true iff the batch applied (false = replay short-circuit).
    * Read results with [[arrivalChunks]]/[[arrivalSurvivors]].
    */
  def applyBatch(
      batch: DataFrame, batchId: Long, root: String,
      batchEmbeddings: Option[DataFrame] = None,
      annRoot: String = "",
      semThreshold: Long = 0L,
      minQuality: Double = 0.3,
      jaccardThreshold: Double = 0.8,
      chunkTokens: Int = 512, overlap: Int = 64,
      binCapacity: Long = 2048L, trainPct: Int = 90, valPct: Int = 5,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      dims: Int = 64, coarseK: Int = 4, coarseIters: Int = 2,
      m: Int = 4, k: Int = 4, iters: Int = 2,
      nprobe: Int = 2, c: Int = 50): Boolean = {
    require(semThreshold <= 0 ||
      (batchEmbeddings.nonEmpty && annRoot.nonEmpty),
      "semantic arrival dedup needs batchEmbeddings and annRoot")
    val spark = batch.sparkSession
    StreamingRetention.applyOnce(spark, root, batchId) { gc =>
      // every stored read at the commit's own base (None: first batch)
      val base = gc.base
      val docs = batch.select(col("doc_id").cast("long").as("doc_id"),
        col("lang"), col("text"))
      // quality + fingerprint, materialized once: feeds the exact stage,
      // the index build, and (through the survivors) the chunk stage
      val quality = docs
        .filter(TextFunctions.qualityScore(col("text")) >= minQuality)
        .withColumn("fp", TextFunctions.fingerprint(col("text")))
        .localCheckpoint()
      val batchCanon = graft.plans.TopKPerKey(quality,
        Seq(col("fp")), Seq(col("doc_id").asc), 1)
      val storedFps = base.fold(batchCanon.select(col("fp")).limit(0))(
        _.read("fps", schemaDDL = "fp STRING"))
      val exactKept = batchCanon.join(storedFps, Seq("fp"), "left_anti")
        .localCheckpoint()
      // eager localCheckpoint (same rationale as StreamingDedup.applyBatch):
      // nh/nb feed the pair plan AND the two layout writes per batch; a lazy
      // persist would re-analyze the full shingle pipeline per action
      val (nh, nb) = Dedup.minHashIndexPortable(exactKept, "doc_id", "text",
        shingleN, numHashes, bands,
        stabilize = Some(_.localCheckpoint()))
      var lexKept: DataFrame = null
      try {
        val droppedLex = Dedup.storedIncrementalPairs(base, nh, nb)
          .filter(col("jaccard") >= jaccardThreshold)
          .select(col("id_b")).distinct()
        lexKept = exactKept
          .join(droppedLex, col("doc_id") === col("id_b"), "left_anti")
          .localCheckpoint()
        // the ANN index at one version for the whole batch (None: the
        // bootstrap batch, nothing stored to compare against)
        val ann =
          if (semThreshold <= 0) None
          else VersionedLake.trySnapshot(spark, annRoot)
        val semKept = ann.fold(lexKept) { snap =>
          val embB = batchEmbeddings.get
            .select(col("doc_id").cast("long").as("doc_id"),
              col("embedding"))
            .join(lexKept.select(col("doc_id")), Seq("doc_id"), "left_semi")
          val droppedSem = AnnIndex.semanticDedupDecisions(snap,
              "corpus_id", embB, "doc_id", "embedding", nprobe, c,
              semThreshold, Cluster.QuantScale)
            .filter(col("dropped")).select(col("doc_id"))
          lexKept.join(droppedSem, Seq("doc_id"), "left_anti")
        }
        // ANN maintenance BEFORE the main commit (a crash between the two
        // replays the batch; the anti-join below makes the re-append a
        // no-op). Members: every LEXICAL survivor, semantically-dropped
        // included — see the scaladoc's index-membership discipline.
        if (semThreshold > 0) {
          val embIdx = batchEmbeddings.get
            .select(col("doc_id").cast("long").as("corpus_id"),
              col("embedding"))
            .join(lexKept.select(col("doc_id").as("corpus_id")),
              Seq("corpus_id"), "left_semi")
          ann match {
            case None =>
              if (!embIdx.isEmpty)
                AnnIndex.build(embIdx, "corpus_id", "embedding", annRoot,
                  dims, coarseK, coarseIters, m, k, iters)
            case Some(snap) =>
              val embNew = embIdx.join(AnnIndex.indexedIds(snap, "corpus_id"),
                Seq("corpus_id"), "left_anti")
              // the snapshot proves the index exists: no pre-check listing
              if (!embNew.isEmpty)
                AnnIndex.appendExisting(embNew, "corpus_id", "embedding",
                  annRoot)
          }
          ()
        }
        // chunk + pack CONTINUED from the stored per-language totals
        val chunked = semKept
          .withColumn("clean_text", TextFunctions.redactPii(col("text")))
          .select(col("doc_id"), col("lang"),
            explode(TextFunctions.chunkByTokens(col("clean_text"),
              chunkTokens, overlap)).as("c"))
          .select(col("doc_id"), col("lang"), col("c.start").as("start"),
            col("c.n_tokens").cast("long").as("n_tokens"),
            col("c.chunk").as("chunk"))
        val storedPack = base.fold(
            chunked.select(col("lang"), lit(0L).as("cum")).limit(0))(
          _.read("packstate", schemaDDL = "lang STRING, cum BIGINT"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("doc_id"), col("start"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        val packed = chunked
          .join(storedPack, Seq("lang"), "left")
          .withColumn("__cum", coalesce(col("cum"), lit(0L)) +
            coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("bin_id", expr(s"__cum DIV ${binCapacity}L"))
          .withColumn("offset_in_bin",
            col("__cum") - col("bin_id") * binCapacity)
          .withColumn("split",
            Relational.splitAssign(col("doc_id"), trainPct, valPct))
          .select(col("doc_id"), lit(batchId).as("batch_id"), col("lang"),
            col("start"), col("n_tokens"), col("chunk"), col("bin_id"),
            col("offset_in_bin"), col("split"))
        val newPack = storedPack.withColumnRenamed("cum", "cum0")
          .join(chunked.groupBy(col("lang"))
            .agg(sum(col("n_tokens")).as("add")), Seq("lang"), "full")
          .select(col("lang"), (coalesce(col("cum0"), lit(0L)) +
            coalesce(col("add"), lit(0L))).as("cum"))
        // the six data tables derive from already-materialized frames
        // (exactKept/lexKept/semKept are checkpointed, nh/nb persisted) —
        // stage them concurrently; the watermark rides in the manifest
        gc.writeAll(Seq(
          ("fps", exactKept.select(col("fp")), "append", Nil),
          ("hashed", Dedup.layoutHashed(nh), "append",
            Seq(Dedup.IdLayoutCol)),
          ("banded", Dedup.layoutBanded(nb), "append",
            Seq(Dedup.BandLayoutCol)),
          ("packstate", newPack, "overwrite", Nil),
          ("chunks", packed, "append", Nil),
          ("survivors",
            semKept.select(col("doc_id"), lit(batchId).as("batch_id")),
            "append", Nil)))
      } finally {
        nh.unpersist(); nb.unpersist()
        quality.unpersist(blocking = false)
        exactKept.unpersist(blocking = false)
        if (lexKept != null) lexKept.unpersist(blocking = false); ()
      }
    }
  }

  /** The accumulated packed-chunk output of the arrival build (one row
    * per chunk of every accepted doc, bins continuous across batches).
    */
  def arrivalChunks(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame =
    VersionedLake.readTable(spark, root, "chunks")

  /** The accepted documents per batch: (doc_id, batch_id). */
  def arrivalSurvivors(spark: org.apache.spark.sql.SparkSession,
      root: String): DataFrame =
    VersionedLake.readTable(spark, root, "survivors")
}
