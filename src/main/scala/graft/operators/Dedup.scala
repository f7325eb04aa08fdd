package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.sources.VersionedLake

/** Deduplication operators, from the reference's latest-record-per-key
  * pattern up to the MinHash/SimHash near-dup machinery a pretraining-data
  * pipeline needs. Everything shuffles at most once on the dedup key and
  * uses map-side-combinable aggregations; candidate generation for near-dup
  * is bucketed (LSH bands) so the join never goes quadratic.
  */
object Dedup {

  /** Portable 60-bit hash: first 15 md5 hex chars as an integer. The one
    * hash construction Spark, DuckDB, and most engines reproduce
    * bit-for-bit — the foundation of the `*Portable` dedup variants whose
    * oracles replay the pipeline in another engine.
    */
  private def md5h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** One-shot cache lifecycle: materialize `result` (localCheckpoint — one
    * eager job, the same work the caller's first action would have run; the
    * persisted index frames serve every internal plan reuse within it),
    * then unpersist the frames this operator created. Near-dup RESULTS are
    * tiny (surviving pairs), so holding them as materialized blocks is
    * cheap; the INDEX frames (per-doc hash arrays) are the ones that must
    * not outlive the call — across a long session leaked index caches
    * accumulate until block eviction makes every later query re-run its
    * whole shingle pipeline (observed: a 1.4 s clustering query ballooning
    * to 4.4 s by the time a 92-query bench session reached it).
    */
  private[operators] def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint()
    cached.foreach(_.unpersist(blocking = false))
    out
  }

  /** Latest record per key — the reference's `sort_values` +
    * `drop_duplicates(keep="last")` (reference:
    * pipelines/datalake/migrate/bq_to_subpav/utils.py:298-313,337-352).
    * pandas keep-last-after-sort is deterministic; Spark's `dropDuplicates`
    * after `orderBy` is NOT (partition order), so the correct translation
    * is a row_number window. Callers must make `order` a total order within
    * key (append a unique tiebreaker) for determinism.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    graft.plans.TopKPerKey(df, keys.map(col), order.map(_.desc), 1)

  /** The window formulation of [[latestPerKey]] — identical rows; sorts (and
    * spills) instead of heaping. The fallback for the k·distinctKeys ≫
    * memory regime documented on [[graft.plans.TopKPerKeyPlan]].
    */
  def latestPerKeyWindow(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicate groups by content hash: one row per distinct content
    * with the canonical (minimum) id and the duplicate count. Single
    * hash-aggregate — partial aggregation happens map-side, so the shuffle
    * carries one row per distinct hash, not per input row.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_dups"))

  /** Rows to keep after exact dedup (canonical = lowest id per fingerprint). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextFunctions.fingerprint(col(textCol)))
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** MinHash + LSH banding candidate pairs: signature of `numHashes`
    * minhashes split into `bands`; documents sharing any band bucket are
    * candidates. The band→bucket groupBy bounds comparisons to collisions
    * instead of the full n², which is what makes near-dup feasible at
    * corpus scale; the final Jaccard check runs only on candidates.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minHashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // tokens materialized FIRST (projection fence — see shinglesFromTokens),
    // then shingle strings hashed ONCE per doc; signatures remix the longs.
    // The empty-doc guard filters on TOKEN COUNT, not on size(shingles):
    // a filter over the shingle expression gets predicate-pushed below the
    // projection with the whole pipeline inlined into the lambda — per-
    // element re-evaluation, O(tokens²) regex per row. size(toks) >= n is
    // equivalent (n tokens always yield ≥1 shingle) and pushdown-safe.
    val toked = df.select(col(idCol).as("id"),
      TextFunctions.tokens(TextFunctions.normalized(col(textCol))).as("toks"))
      .filter(size(col("toks")) >= shingleN)
    // bind the hashed-shingle array before the k-family remix — the remix
    // references it k times and must read a column, not re-hash k times.
    // This (id, array<long>) table is the ONE intermediate worth keeping:
    // it feeds the banding path AND both sides of the candidate-Jaccard
    // join, and without a persist each consumer re-runs
    // normalize+tokenize+shingle+hash from the scan (observed: 4 file scans,
    // no exchange reuse). Longs are ~4× slimmer than the shingle strings —
    // this is also the artifact a 100 TB pipeline would WRITE as a
    // signature table instead of caching (the persist is for the ad-hoc,
    // single-query path and is released deterministically by
    // materializeAndRelease once the pair list is materialized).
    // PROJECTION FENCE (do not inline): shingles must be bound to a real
    // column BEFORE the transform — ArrayTransform re-evaluates its argument
    // subtree per element when inlined, turning this into O(shingles²)
    // regex+concat per row (observed as a minutes-long single-task stall).
    val base = toked.select(col("id"),
      TextFunctions.shinglesFromTokens(col("toks"), shingleN).as("shingles"))
    val hashed = base.select(col("id"),
      graft.functions.VectorFunctions.stringArrayHashes(col("shingles")).as("h"))
      .persist()
    val sig = hashed.select(col("id"),
      TextFunctions.minHashFromHashes(col("h"), numHashes).as("sig"))
    // slim (id, band, bucket) rows — the bucket join must NOT carry shingle
    // arrays, or the shuffle width scales with document size instead of 3
    // longs per row
    // persisted: BOTH sides of the candidate self-join read `banded`, and
    // without the persist each side re-runs the whole explode + min-agg
    // signature pipeline (observed in the formatted plan). 3 longs per
    // (doc, band) — the slimmest artifact in the operator.
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as(Seq("band", "bucket")))
      .persist()
    val candidates = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact Jaccard only for surviving candidates, over the hashed shingle
    // sets (set-identical to string shingles modulo xxhash64 collisions —
    // the same approximation MinHash itself rests on)
    val result = candidates
      .join(hashed.select(col("id").as("id_a"), col("h").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("h").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
    materializeAndRelease(result, hashed, banded)
  }

  /** SimHash-64 per document via explode + hash aggregate. Semantically
    * identical to [[TextFunctions.simHash64]] (per-bit ±1 votes over
    * distinct-token hashes) but expressed as a groupBy with 64 codegen'd
    * conditional sums instead of a per-row higher-order `aggregate`: HOFs
    * run interpreted with a 64-wide array per token, while this shape stays
    * in whole-stage codegen and combines map-side — the difference between
    * CPU-bound and interpreter-bound at corpus scale. Documents with no
    * tokens drop out (they have no signature to compare).
    */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashCore(df, idCol, textCol,
      graft.functions.VectorFunctions.stringArrayHashes, 64)

  /** Portable SimHash: identical vote/collapse algorithm but token hashes are
    * md5-derived 60-bit values ([[md5h60]] per element) and only bits 0–59
    * carry signal, so any engine with md5 (the q34 DuckDB oracle) replays
    * signatures bit-for-bit. Hamming semantics are unchanged — the four
    * always-zero top bits never differ.
    */
  def simHashSignaturesPortable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simHashCore(df, idCol, textCol,
      graft.functions.VectorFunctions.stringArrayMd5H60, 60)

  /** Narrow per-row signature: distinct tokens → hash array (one codegen'd
    * pass) → fused ±1 vote loop ([[graft.functions.SimHashFromHashes]]).
    * NO explode, NO `bits`-wide aggregation, NO shuffle — the signature is
    * computed inside the scan's project, which is the shape that matters
    * when the corpus is 100 TB: the only shuffle left in near-dup detection
    * is the (id, sim) chunk-bucket join. Empty/blank docs are dropped (they
    * have no signature to compare), matching the former explode semantics.
    */
  private def simHashCore(
      df: DataFrame, idCol: String, textCol: String,
      hashArr: Column => Column, bits: Int): DataFrame =
    df.select(col(idCol).as("id"),
      array_distinct(TextFunctions.tokens(TextFunctions.normalized(col(textCol)))).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"),
        graft.functions.VectorFunctions.simHashFromHashes(hashArr(col("toks")), bits).as("sim"))

  /** SimHash near-dup pairs within `maxHamming` bits, candidate-bounded by
    * chunk equality. Pigeonhole: a pair differing in ≤ maxHamming bits must
    * agree on at least one of maxHamming+1 chunks — so the chunk count is
    * DERIVED from maxHamming (a fixed 4-chunk split is only complete for
    * hamming ≤ 3 and silently loses pairs beyond that).
    */
  def simHashNearDups(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    simHashNearDupsFrom(simHashSignatures(df, idCol, textCol), maxHamming, 64)

  /** [[simHashNearDups]] over the portable md5-derived signatures (60
    * signal bits — see [[simHashSignaturesPortable]]); replayable by the
    * q34 DuckDB oracle.
    */
  def simHashNearDupsPortable(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    simHashNearDupsFrom(simHashSignaturesPortable(df, idCol, textCol), maxHamming, 60)

  private def simHashNearDupsFrom(
      sims: DataFrame, maxHamming: Int, bits: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      "maxHamming must be in [0, 32) — beyond that the chunks stop pruning")
    val numChunks = maxHamming + 1
    val baseBits = bits / numChunks
    // chunk i covers [i*baseBits, next) with the last chunk absorbing the
    // remainder — every bit belongs to exactly one chunk
    val chunkRanges = (0 until numChunks).map { i =>
      val lo = i * baseBits
      val hi = if (i == numChunks - 1) bits else (i + 1) * baseBits
      (lo, hi - lo)
    }
    // one row per doc, two longs wide — persisted so the a/b self-join does
    // not run the explode + 64-sum signature aggregation twice (no exchange
    // reuse across the differing chunk projections). Tiny even at corpus
    // scale; ContextCleaner drops it with the plan.
    val withSim = sims.persist()
    val chunked = withSim.select(col("id"), col("sim"),
      posexplode(array(chunkRanges.map { case (lo, width) =>
        val mask = if (width >= 64) -1L else (1L << width) - 1L
        shiftright(col("sim"), lo).bitwiseAND(mask)
      }: _*)).as(Seq("chunk", "key")))
    val a = chunked.select(col("chunk"), col("key"),
      col("id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("key"),
      col("id").as("id_b"), col("sim").as("sim_b"))
    val result = a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextFunctions.hamming64(col("sim_a"), col("sim_b")).as("hamming"))
      // hamming is a codegen'd xor+popcount — filter BEFORE the distinct so
      // the dedup shuffle carries only surviving near-dup pairs, not every
      // chunk collision
      .filter(col("hamming") <= maxHamming)
      .distinct()
    materializeAndRelease(result, withSim)
  }

  /** Mersenne prime modulus for the portable MinHash's universal-hash
    * family — products stay under 2^62, so BIGINT math is exact in every
    * engine.
    */
  val minHashP: Long = 2147483647L

  /** Deterministic affine coefficients (a_i, b_i) for the portable MinHash
    * remix family h_i(x) = (a_i·x + b_i) mod [[minHashP]]. Seeded — query
    * plans and oracle SQL embed the SAME literals.
    */
  def minHashCoeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((1L + math.abs(rnd.nextLong() % (minHashP - 1)),
      math.abs(rnd.nextLong() % minHashP)))
  }

  /** Portable (cross-engine-reproducible) MinHash+LSH candidate pairs: the
    * same shingle→signature→band→bucket→Jaccard pipeline as
    * [[minHashCandidatePairs]], but replayable bit-for-bit by any engine
    * with md5 and 64-bit integers (the q33 DuckDB oracle does exactly that):
    * base hash = first 15 md5 hex chars of the shingle as a 60-bit integer
    * ([[md5h60]], ONE md5 per shingle), then the k families are affine
    * universal-hash remixes (a_i·h + b_i) mod 2^31-1 — pure codegen'd
    * integer ops, exact in BIGINT. Signatures via explode + k min
    * aggregates: map-side combinable, no HOF lambdas. Only the per-shingle
    * md5 separates this from the xxhash64 fast path's cost.
    */
  /** The portable pipeline's PERSISTABLE index pieces for a corpus slice:
    * hashed shingle sets `(id, hs)` and banded LSH rows `(id, band,
    * bucket)` — the two tables a production pipeline stores append-only so
    * the historical corpus is shingled exactly once (see
    * [[minHashIncrementalPairsPortable]]). With `cache = true` (default)
    * both frames come back persisted and the CALLER owns their lifecycle —
    * unpersist after the downstream plan is materialized (the one-shot
    * wrappers in this object do exactly that via materializeAndRelease).
    */
  def minHashIndexPortable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, cache: Boolean = true,
      stabilize: Option[DataFrame => DataFrame] = None)
      : (DataFrame, DataFrame) = {
    // `stabilize = Some(_.localCheckpoint())` swaps the lazy persist for an
    // EAGER materialize-and-truncate: a lazy persist short-circuits
    // re-EXECUTION but every downstream action still re-ANALYZES and
    // re-OPTIMIZES the full shingle pipeline under it — measured on the
    // micro-batch flows as a ~0.6 s driver-side gap before each group
    // commit's write jobs (JobProfile q116, r17). A per-batch caller with
    // several downstream plans over the same tiny index frames pays that
    // per ACTION; truncating the lineage makes each downstream plan a
    // 1-node LogicalRDD. Batch replay + the exactly-once applied marker
    // make the non-fault-tolerant checkpoint blocks safe: a lost block
    // fails the batch, the stream retries it, the marker dedups.
    def cached(f: DataFrame): DataFrame = stabilize match {
      case Some(st) => st(f)
      case None => if (cache) f.persist() else f
    }
    require(numHashes % bands == 0, "bands must divide numHashes")
    val toked = df.select(col(idCol).as("id"),
      TextFunctions.tokens(TextFunctions.normalized(col(textCol))).as("toks"))
      .filter(size(col("toks")) >= shingleN)
    // hashed shingle sets — ONE md5 per shingle (codegen'd array pass), and
    // the only intermediate worth keeping: it feeds the signature path AND
    // both sides of the candidate-Jaccard join, 4× slimmer than the shingle
    // strings (same rationale as the fast path's `hashed`). Jaccard over
    // hashed sets ≡ Jaccard over strings modulo md5 collisions — the same
    // approximation MinHash itself rests on, and the oracle replays it.
    val hashed = cached(toked.select(col("id"),
      graft.functions.VectorFunctions.stringArrayMd5H60(
        TextFunctions.shinglesFromTokens(col("toks"), shingleN)).as("hs")))
    // persisted for the same reason as the fast path: the candidate
    // self-join reads `banded` twice, and signatures must compute once
    val banded = cached(bandedFromHashed(hashed, numHashes, bands))
    (hashed, banded)
  }

  /** `(id, band, bucket)` LSH rows derived from a `(id, hs)` hashed-shingle
    * table — the second half of [[minHashIndexPortable]], split out so a
    * stored-index pipeline can build the banded table FROM the already-
    * written hashed table instead of re-shingling the corpus
    * ([[graft.flows.DedupIndex]] does exactly that).
    */
  def bandedFromHashed(hashed: DataFrame, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val coeffs = minHashCoeffs(numHashes)
    // one row per (doc, shingle hash); k remixes as codegen'd integer exprs
    // inside a single hash aggregate (explode+agg — the same shape as the
    // fast path, no interpreted lambdas)
    val exploded = hashed.select(col("id"), explode(col("hs")).as("h0"))
      .select(col("id"), (col("h0") % minHashP).as("h"))
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % minHashP).as(s"m$i") }
    val sig = exploded.groupBy(col("id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
    sig.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        md5h60(concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand).cast("array<string>")))
      }: _*)).as(Seq("band", "bucket")))
  }

  /** Candidate pairs + exact Jaccard over an already-built `(id, hs)` /
    * `(id, band, bucket)` index — the read side of the stored-index flow
    * and the shared tail of every portable wrapper. Lazy: callers own the
    * index frames' lifecycle (cache, lake table, or plain plan).
    */
  def minHashPairsFromIndex(hashed: DataFrame, banded: DataFrame): DataFrame = {
    val candidates = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    jaccardOverHashed(candidates, hashed)
  }

  /** Exact Jaccard over hashed shingle sets for canonical candidate pairs. */
  private def jaccardOverHashed(candidates: DataFrame,
      hashed: DataFrame): DataFrame =
    candidates
      .join(hashed.select(col("id").as("id_a"), col("hs").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("hs").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))

  def minHashCandidatePairsPortable(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val (hashed, banded) = minHashIndexPortable(df, idCol, textCol,
      shingleN, numHashes, bands)
    materializeAndRelease(minHashPairsFromIndex(hashed, banded), hashed, banded)
  }

  /** The lazy (uncached, unmaterialized) plan of
    * [[minHashCandidatePairsPortable]] — for plan-shape inspection; the
    * public wrapper eagerly materializes and releases its caches, so its
    * returned plan is an opaque scan of the result blocks.
    */
  private[graft] def minHashCandidatePairsPortablePlan(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val (hashed, banded) = minHashIndexPortable(df, idCol, textCol,
      shingleN, numHashes, bands, cache = false)
    minHashPairsFromIndex(hashed, banded)
  }

  /** INCREMENTAL near-dup candidates: only pairs touching the NEW batch.
    * The production shape of dedup at corpus scale — the historical corpus
    * is never re-shingled; its `(id, hs)` and `(id, band, bucket)` index
    * tables (built once by [[minHashIndexPortable]], stored append-only)
    * are joined against the new batch's bands, so each batch costs
    * O(new docs) hashing + O(matching buckets) join, independent of
    * corpus size. Same bands ⇒ the result is EXACTLY the full run's pairs
    * restricted to (new × all) — which is what the q81 oracle checks.
    */
  def minHashIncrementalPairsPortable(
      oldHashed: DataFrame, oldBanded: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      layoutParts: Int = IndexLayoutParts,
      maxProbeKeys: Int = DefaultMaxProbeKeys,
      prunedStateMinBytes: Long = PrunedStateMinBytes): DataFrame = {
    val (newHashed, newBanded) = minHashIndexPortable(newDocs, idCol, textCol,
      shingleN, numHashes, bands)
    // stored frames carrying the pruned layout columns (pb/ph — a
    // DedupIndex v7+ or StreamingDedup state read) route through the
    // partition-pruned arrival path once the state clears the MEASURED
    // crossover ([[pruneStoredReads]] — below it, the full-scan join's
    // two passes cost less than the pruned path's fixed per-batch toll).
    // Release only the NEW batch's index — the old index is caller-owned
    // (a stored table or a cache the caller reuses across batches) — and
    // materialize ONCE (the lazy pruned form, so the wrapper's checkpoint
    // is the only one).
    if (pruneStoredReads(oldHashed, oldBanded, prunedStateMinBytes)) {
      val (result, candidates) = minHashIncrementalPairsPrunedLazy(
        oldHashed, oldBanded, newHashed, newBanded, layoutParts,
        maxProbeKeys, stabilize = _.localCheckpoint())
      materializeAndRelease(result, candidates, newHashed, newBanded)
    } else
      materializeAndRelease(
        minHashIncrementalPairsFromIndexes(oldHashed, oldBanded,
          newHashed, newBanded),
        newHashed, newBanded)
  }

  /** The LAZY pair plan of the arrival step, over PREBUILT index frames —
    * split out so a streaming caller ([[graft.flows.StreamingDedup]]) can
    * build the batch's (hashed, banded) once, compute pairs, AND append
    * the same frames to the stored index in one atomic group commit.
    * Candidates = new-batch band rows against (old ∪ new) band rows —
    * never old-vs-old (those were each other's batches' work) — so
    * per-batch cost is bounded by the batch's bucket occupancies.
    */
  def minHashIncrementalPairsFromIndexes(
      oldHashed: DataFrame, oldBanded: DataFrame,
      newHashed: DataFrame, newBanded: DataFrame): DataFrame = {
    // explicit column selection: stored frames may carry the pruned
    // layout's partition columns (pb/ph), which a bare unionByName with
    // the batch frames would refuse
    val allBanded = oldBanded.select(col("id"), col("band"), col("bucket"))
      .unionByName(newBanded.select(col("id"), col("band"), col("bucket")))
    val candidates = newBanded
      .select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(allBanded.select(col("band"), col("bucket"), col("id").as("id_o")),
        Seq("band", "bucket"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
    jaccardOverHashed(candidates,
      oldHashed.select(col("id"), col("hs"))
        .unionByName(newHashed.select(col("id"), col("hs"))))
  }

  // ================== stored lexical index — pruned layout ==================

  /** Partition fan-out of the stored lexical index layout. The stored
    * `banded` table is Hive-partitioned by [[BandLayoutCol]] (a hash
    * prefix of the LSH `(band, bucket)` key) and `hashed` by
    * [[IdLayoutCol]] (a hash prefix of the doc id), each with files
    * SORTED on the probe key inside every partition directory — so an
    * arrival batch's candidate join prunes to the touched prefix
    * directories (PartitionFilters) and the pushed `In` probe skips row
    * groups inside them (parquet min/max over the sorted key), instead of
    * scanning the full corpus-scale state per micro-batch. The default
    * is deliberately SMALL (8): every partitioned write pays ~file-count
    * × commit overhead per batch (measured: a two-table group commit at
    * 32 dirs/table costs ~1.6–1.9 s on local[32] vs ~0.6 s plain — pure
    * small-batch tax), while pruning granularity at deployment scale
    * comes mostly from the pushed `In` probes over the in-directory
    * sort, not the directory count. A 100 TB deployment raises it with
    * the corpus (the dial trades per-batch directory fan-in against
    * directory-level pruning) — all writers and the arrival probe of ONE
    * index must share the value, like `bands`/`numHashes` (it
    * parameterizes the layout the same way they parameterize the
    * signatures; DedupIndex folds it into the index key).
    */
  val IndexLayoutParts = 8

  /** Driver budget for the arrival probe/candidate censuses — O(batch ×
    * bands) rows at most; a batch whose census would exceed this falls
    * back to the full-scan join (bounded-default discipline: the pruned
    * path must never create driver state proportional to an unbounded
    * batch).
    */
  val DefaultMaxProbeKeys = 100000

  /** MEASURED crossover for the pruned arrival reads: below this much
    * stored state the full-scan join wins. The pruned path pays a fixed
    * per-batch toll — two probe-census actions, the candidate persist,
    * the subset checkpoint, and Catalyst planning over thousands-literal
    * `In` filters — measured at ~1.0–1.2 s on local[32] (12× fixed-batch
    * probe fixture, 49k-doc state: pruned 2.8–3.0 s vs full-scan
    * 1.8–2.3 s per arrival; BENCH_NOTES r17). The full scan's cost is
    * ~2 passes over the stored tables (the Jaccard join reads the fat
    * `hashed` from both pair sides), ≈ stateBytes/1 GB/s — so the toll
    * amortizes past ~1 GiB of state, exactly the regime the layout
    * exists for (at 100 TB the stored tables are TB-scale and a per-batch
    * full scan is the round-16 `weak`). [[pruneStoredReads]] applies the
    * dial from the scan stats (file-size metadata, no data pass); pass
    * 0 to force pruning (the spec/plan-pin path).
    */
  val PrunedStateMinBytes: Long = 1L << 30

  /** The dial: prune the stored-side reads iff the frames carry the
    * layout columns AND their scan size (optimizer stats = file bytes
    * for a parquet scan — driver metadata) reaches `minBytes`.
    */
  def pruneStoredReads(storedHashed: DataFrame, storedBanded: DataFrame,
      minBytes: Long = PrunedStateMinBytes): Boolean =
    storedHashed.columns.contains(IdLayoutCol) &&
      storedBanded.columns.contains(BandLayoutCol) &&
      (storedHashed.queryExecution.optimizedPlan.stats.sizeInBytes +
        storedBanded.queryExecution.optimizedPlan.stats.sizeInBytes
        >= minBytes)

  /** Partition-prefix column names of the stored layout. */
  val BandLayoutCol = "pb"
  val IdLayoutCol = "ph"

  /** Prefix of the LSH `(band, bucket)` key — the `banded` table's
    * partition value. A hash prefix (not a range of `bucket`): band rows
    * arrive uniformly across the hash space, so any prefix spreads them
    * evenly; what matters is that probe and storage agree exactly.
    */
  def bandLayoutCol(parts: Int = IndexLayoutParts): Column =
    pmod(xxhash64(col("band"), col("bucket")), lit(parts.toLong))

  /** Prefix of the doc id — the `hashed` table's partition value. Hashed
    * (not `id % parts`): ids may be assigned with strides that alias a
    * modulus, and the Jaccard probe's candidate ids are scattered anyway.
    */
  def idLayoutCol(parts: Int = IndexLayoutParts): Column =
    pmod(xxhash64(col("id")), lit(parts.toLong))

  /** Stamp the layout prefixes onto freshly built index frames and shape
    * the write: one task per prefix value (so a partitioned write emits
    * ONE file per touched directory, not one per task × directory) with
    * rows sorted on the probe key, giving parquet tight min/max stats for
    * the arrival path's pushed `In` probes.
    */
  def layoutHashed(hashed: DataFrame, parts: Int = IndexLayoutParts): DataFrame =
    hashed.withColumn(IdLayoutCol, idLayoutCol(parts))
      .repartition(parts, col(IdLayoutCol))
      .sortWithinPartitions(col(IdLayoutCol), col("id"))

  def layoutBanded(banded: DataFrame, parts: Int = IndexLayoutParts): DataFrame =
    banded.withColumn(BandLayoutCol, bandLayoutCol(parts))
      .repartition(parts, col(BandLayoutCol))
      .sortWithinPartitions(col(BandLayoutCol), col("bucket"), col("band"))

  /** The arrival pair step against a STORED index carrying the pruned
    * layout ([[layoutHashed]]/[[layoutBanded]]) — same rows as
    * [[minHashIncrementalPairsFromIndexes]], but the stored side is read
    * through two bounded probe censuses instead of scanned wholesale:
    *
    *  1. the batch's distinct `(pb, bucket)` prefixes (≤ batch × bands
    *     rows) prune the `banded` read to touched partition directories
    *     (PartitionFilters) and row groups (pushed `In(bucket)` over the
    *     in-directory sort — Spark 4 pushes large In lists natively via
    *     parquet `FilterApi.in`);
    *  2. the candidate pairs' distinct `(ph, id)` prefixes (bounded by
    *     the batch's bucket occupancy) prune the fat `hashed` read the
    *     same way before the Jaccard join — the table whose full-scan
    *     per batch was the 100 TB scale killer (the shingle-hash arrays
    *     dwarf every other column in the state).
    *
    * Both stored-side filters are SUPERSETS of the join keys (`pb`/`ph`
    * are functions of them), so the equi-joins return exactly the
    * unpruned rows — the oracle hash cannot move. A census exceeding
    * `maxProbeKeys` falls back to the full-scan join for that side: the
    * driver never holds state proportional to an unbounded batch.
    * `parts` must match the stored layout's value (it parameterizes the
    * layout like `bands` parameterizes the signatures).
    */
  def minHashIncrementalPairsPruned(
      storedHashed: DataFrame, storedBanded: DataFrame,
      newHashed: DataFrame, newBanded: DataFrame,
      parts: Int = IndexLayoutParts,
      maxProbeKeys: Int = DefaultMaxProbeKeys): DataFrame = {
    val (result, candidates) = minHashIncrementalPairsPrunedLazy(
      storedHashed, storedBanded, newHashed, newBanded, parts, maxProbeKeys,
      stabilize = _.localCheckpoint())
    materializeAndRelease(result, candidates)
  }

  /** The arrival pair step of the lake-backed lexical flows
    * ([[graft.flows.StreamingDedup]], [[graft.flows.TrainingCorpus]]):
    * the batch's index frames `nh`/`nb` against the `hashed`/`banded`
    * tables stored at group snapshot `base` — with no base yet (the first
    * batch), against nothing. Explicit schemas: partition-column
    * inference would read the ph/pb dir values back as INT and the pruning
    * filters' BIGINT literals would cast the partition attribute, defeating
    * PartitionFilters. The path is the measured state-size dial
    * ([[pruneStoredReads]]): the pruned reads win once the stored tables
    * clear ~1 GiB; below that the full-scan join's two passes cost less
    * than the pruned path's fixed per-batch toll.
    */
  private[graft] def storedIncrementalPairs(
      base: Option[VersionedLake.Snapshot], nh: DataFrame,
      nb: DataFrame): DataFrame =
    base match {
      case None =>
        minHashIncrementalPairsFromIndexes(nh.limit(0), nb.limit(0), nh, nb)
      case Some(snap) =>
        val sh = snap.read("hashed",
          schemaDDL = s"id BIGINT, hs ARRAY<BIGINT>, $IdLayoutCol BIGINT")
        val sb = snap.read("banded", schemaDDL =
          s"id BIGINT, band INT, bucket BIGINT, $BandLayoutCol BIGINT")
        if (pruneStoredReads(sh, sb))
          minHashIncrementalPairsPruned(sh, sb, nh, nb)
        else minHashIncrementalPairsFromIndexes(sh, sb, nh, nb)
    }

  /** The LAZY plan of [[minHashIncrementalPairsPruned]] plus the persisted
    * candidate frame the caller must release — split out so PlanShapeSpec
    * can pin the pruned stored-side scan shape (PartitionFilters on the
    * layout prefix, pushed `In` probes); the public wrapper eagerly
    * materializes, which makes its returned plan an opaque block scan.
    * The probe censuses (two bounded collects) run at CONSTRUCTION time.
    * `stabilize` wraps the candidate-bounded hashed SUBSET before the
    * Jaccard join reads it from both pair sides — the eager wrapper
    * localCheckpoints it so the fat stored table is scanned ONCE per
    * batch (the two id-side joins would otherwise each re-read it, the
    * dominant per-batch I/O term); the plan spec keeps the identity
    * default so the pruned scan stays inspectable.
    */
  private[graft] def minHashIncrementalPairsPrunedLazy(
      storedHashed: DataFrame, storedBanded: DataFrame,
      newHashed: DataFrame, newBanded: DataFrame,
      parts: Int = IndexLayoutParts,
      maxProbeKeys: Int = DefaultMaxProbeKeys,
      stabilize: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    require(storedBanded.columns.contains(BandLayoutCol) &&
      storedHashed.columns.contains(IdLayoutCol),
      s"stored index frames must carry the $BandLayoutCol/$IdLayoutCol " +
        "layout columns (DedupIndex v7+ / StreamingDedup state)")
    val bandProbe = newBanded
      .select(bandLayoutCol(parts).as(BandLayoutCol), col("bucket"))
      .distinct().limit(maxProbeKeys + 1).collect()
    val oldBanded =
      if (bandProbe.length > maxProbeKeys)
        storedBanded.select(col("id"), col("band"), col("bucket"))
      else {
        val pbs = bandProbe.map(_.getLong(0)).distinct.toSeq
        val buckets = bandProbe.map(_.getLong(1)).distinct.toSeq
        storedBanded
          .filter(col(BandLayoutCol).isin(pbs: _*) &&
            col("bucket").isin(buckets: _*))
          .select(col("id"), col("band"), col("bucket"))
      }
    val allBanded = oldBanded
      .unionByName(newBanded.select(col("id"), col("band"), col("bucket")))
    // persisted: the candidate frame feeds the id census AND the Jaccard
    // join probe — without it the bucket join runs twice per batch
    val candidates = newBanded
      .select(col("band"), col("bucket"), col("id").as("id_n"))
      .join(allBanded.select(col("band"), col("bucket"), col("id").as("id_o")),
        Seq("band", "bucket"))
      .filter(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
      .persist()
    val idProbe = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .select(idLayoutCol(parts).as(IdLayoutCol), col("id"))
      .limit(maxProbeKeys + 1).collect()
    val oldHashed =
      if (idProbe.length > maxProbeKeys)
        storedHashed.select(col("id"), col("hs"))
      else {
        val phs = idProbe.map(_.getLong(0)).distinct.toSeq
        // ids keep the corpus id type (the layout hash is type-agnostic)
        val ids = idProbe.map(_.get(1)).toSeq
        storedHashed
          .filter(col(IdLayoutCol).isin(phs: _*) && col("id").isin(ids: _*))
          .select(col("id"), col("hs"))
      }
    (jaccardOverHashed(candidates, stabilize(
      oldHashed.unionByName(newHashed.select(col("id"), col("hs"))))),
      candidates)
  }

  /** Connected components over a near-dup pair graph — the step that turns
    * PAIRS into dedup DECISIONS: every document gets `cluster_id` = the
    * minimum doc id reachable through near-dup edges, so keeping one row
    * per cluster_id dedups transitively (a~b, b~c ⇒ one survivor even when
    * a~c was never a candidate pair).
    *
    * Two execution paths, chosen by edge count:
    *
    *  - **Driver union-find** when the (deduped, canonical) edge list fits
    *    comfortably on the driver (`unionFindMaxEdges`, default 4M edges ≈
    *    64 MB). Post-threshold near-dup pair graphs are almost always tiny
    *    relative to the corpus — this turns the whole operator into one
    *    Spark action plus microseconds of path-compressed union-find,
    *    instead of N scheduler rounds over KB-sized frames.
    *  - **Distributed pointer-jumping min-label propagation** otherwise:
    *    each round unions (a) neighbor labels across edges and (b) the
    *    pointer jump `label ← label(label)`, then takes the per-node min.
    *    Jumping halves the remaining chain depth every round, so rounds are
    *    O(log diameter) — a million-node chain converges in ~20 rounds, not
    *    a million. The convergence probe is FUSED into the round's single
    *    action (carry the old label, aggregate `max(label ≠ old)`), so each
    *    round costs exactly one job. Frames are persisted per round and the
    *    previous round's dropped, keeping lineage flat.
    *
    * Non-convergence within `maxIters` throws (`require`) instead of
    * silently returning split clusters — wrong dedup labels must be loud.
    *
    * Returns (id, cluster_id) for every id APPEARING IN `pairs`; singleton
    * documents are absent — callers `coalesce(cluster_id, id)` after a left
    * join, keeping this operator proportional to the (small) near-dup
    * subgraph instead of the corpus.
    */
  def duplicateClusters(
      pairs: DataFrame, maxIters: Int = 25,
      unionFindMaxEdges: Long = 4000000L): DataFrame = {
    val spark = pairs.sparkSession
    // canonical (min, max) edges, deduped once — both paths start here, and
    // the persist fences the (expensive) upstream candidate-pair pipeline
    // from running once for the count and again for the collect/loop
    val canon = pairs.select(
        least(col("id_a").cast("long"), col("id_b").cast("long")).as("src"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().persist()
    val edgeCount = canon.count()

    if (edgeCount <= unionFindMaxEdges) {
      // ---- driver union-find (path compression + min-root union) ----
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      // collect, not toLocalIterator: toLocalIterator schedules ONE JOB PER
      // PARTITION — over a 32-way distinct output that is 32 sequential
      // ~40 ms scheduler round-trips for a KB-sized edge list (observed:
      // 2.1 s of a 1.9 s clustering query). One collect job is bounded by
      // the same `unionFindMaxEdges` cap that bounds the union-find map
      // itself, so driver memory is no worse than the algorithm already is.
      val it = canon.collect().iterator
      while (it.hasNext) {
        val row = it.next()
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        // attach the larger root under the smaller so roots stay the
        // component minimum — cluster_id = find(id) directly
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
        parent.putIfAbsent(a, find(a)); parent.putIfAbsent(b, find(b))
      }
      val nodes = parent.keySet().toArray(Array.empty[java.lang.Long])
      val out = nodes.map(n => (n.longValue(), find(n.longValue()))).toSeq
      canon.unpersist()
      import spark.implicits._
      out.toDF("id", "cluster_id")
    } else {
      // ---- distributed pointer-jumping label propagation ----
      // localCheckpoint (not persist) on every per-round frame: persist
      // caches DATA but keeps the logical plan, and each round references
      // the previous round's frame ~5 times (propagate join, jump join ×2,
      // union, old-label join) — nested plans grow 5^rounds and Catalyst
      // re-analysis becomes the bottleneck long before the data does
      // (observed: minutes of driver CPU inside plan-tree traversal by
      // round 9 of a 300-node chain). Checkpointing truncates the plan to
      // the materialized partitions, so every round analyzes a constant-
      // size tree. On a real cluster the executor-local blocks are the
      // standard iterative-graph tradeoff (GraphX/GraphFrames do the same);
      // a lost executor aborts-and-retries the operator, it never corrupts.
      val undirected = canon
        .union(canon.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
      // seed label = min(id, min neighbor): the first propagation round for free
      var labels = undirected.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("nbr"))
        .select(col("id"), least(col("id"), col("nbr")).as("label"))
        .localCheckpoint()
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val prop = undirected.join(labels, undirected("dst") === labels("id"))
          .select(undirected("src").as("id"), col("label"))
        val l2 = labels.select(col("id").as("jid"), col("label").as("jlabel"))
        val jumped = labels.join(l2, col("label") === col("jid"))
          .select(col("id"), col("jlabel").as("label"))
        val merged = labels.select(col("id"), col("label"))
          .union(prop).union(jumped)
          .groupBy(col("id")).agg(min(col("label")).as("label"))
        // the convergence flag is FUSED into the round's frame (carry the
        // old label through the join, compare once) — the eager checkpoint
        // is the round's one job; the max(__changed) probe below reads the
        // already-materialized blocks
        val next = merged
          .join(labels.select(col("id"), col("label").as("__old")), "id")
          .select(col("id"), col("label"), (col("label") =!= col("__old")).as("__changed"))
          .localCheckpoint()
        val probe = next.agg(max(col("__changed"))).first()
        converged = probe.isNullAt(0) || !probe.getBoolean(0)
        labels = next.drop("__changed")
        i += 1
      }
      canon.unpersist()
      require(converged,
        s"duplicateClusters did not converge in $maxIters pointer-jumping rounds — " +
          "component diameter exceeds 2^maxIters; raise maxIters rather than " +
          "accept silently split clusters")
      labels.select(col("id"), col("label").as("cluster_id"))
    }
  }

  /** Embedding-cosine near-dup pairs, LSH-bucketed: vectors sharing a
    * random-hyperplane signature are candidates; exact cosine then filters
    * to `threshold`. The bucket equi-join is what keeps this viable at
    * corpus scale — candidates ≈ Σ per-bucket n², never the full n² — at
    * the standard ANN-recall tradeoff (a near-dup pair split across
    * buckets is missed; more planes ⇒ fewer candidates and lower recall).
    * At 100 TB the signature is a stored column ([[Similarity.withLshBucket]]
    * at ingest) and this reduces to one shuffle on `lsh_bucket`.
    */
  /** Default occupancy cap for [[cosineNearDupPairs]]: pair work per
    * bucket is occupancy², so 4096 bounds any single bucket's candidate
    * generation at ~16M pairs — one healthy task, never a straggler. At
    * 100 TB density hot-spots (boilerplate clusters, template embeddings)
    * are guaranteed, so the BOUNDED scheme is the default; unbounded is
    * the `maxBucketSize = Int.MaxValue` opt-in.
    */
  val DefaultCosineBucketCap = 4096

  /** Over-cap buckets split on the most recent [[cosineNearDupPairs]] run
    * in this JVM (−1 before any run). Bounded occupancy trades recall
    * inside dense buckets for bounded pair work; this makes the trade-off
    * OBSERVABLE — a caller (or spec) can tell whether any bucket actually
    * split, instead of silently getting reduced dense-bucket recall. Also
    * logged per run. Driver-side only: the probe is an aggregate over the
    * already-persisted bucketed frame, ≤ 2^numPlanes rows.
    *
    * CONTRACT: JVM-global last-write-wins, like `lastProgress` on a Spark
    * stream — read it right after the run it should describe, from the
    * same thread. Concurrent bounded runs in one session each publish
    * their own count and the reader gets whichever finished last; a
    * deployment needing per-run attribution under concurrency should
    * keep the per-run log line (also emitted) instead.
    */
  private val oversizedSplits = new java.util.concurrent.atomic.AtomicLong(-1L)
  def lastOversizedBucketSplits: Long = oversizedSplits.get()

  /** Embedding-cosine near-dup pairs, BOUNDED-occupancy by default: a
    * bucket whose occupancy exceeds `maxBucketSize` is re-bucketed ONE
    * level deeper with `extraPlanes` additional hyperplanes (seed + 1),
    * shrinking its pair work up to ~4^extraPlanes-fold, while buckets
    * under the cap keep EXACTLY the base scheme's candidates. The refined
    * key packs `(base << (extraPlanes+1)) | isSplit | extraSig` into one
    * long, so split and unsplit keyspaces never collide and the pair step
    * stays a single hash equi-join. Recall inside a split bucket: a
    * near-dup pair survives iff it also agrees on the extra planes — the
    * same per-plane (1 − θ/π) acceptance the base scheme already prices
    * in; exact duplicates always survive (identical vectors share every
    * signature). Deterministic and oracle-replayable (q46, q46b).
    *
    * `maxBucketSize = Int.MaxValue` is the unbounded special case: no
    * bucket can exceed the cap, so no bucket splits and the candidates
    * are exactly the classic single-level LSH scheme's.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, numPlanes: Int = 6,
      seed: Long = 42L, maxBucketSize: Int = DefaultCosineBucketCap,
      extraPlanes: Int = 4): DataFrame = {
    require(maxBucketSize > 0 && extraPlanes > 0 && extraPlanes < 32)
    require(numPlanes + extraPlanes + 1 < 63,
      "refined bucket key must fit a long")
    // persisted: the occupancy probe and both sides of the bucket
    // self-join read it; without the persist each consumer re-scans the
    // source and recomputes every numPlanes×dim signature dot product
    val base = Similarity.withLshBucket(df, vecCol, numPlanes, dim, seed)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("lsh_bucket"))
      .persist()
    // split-count probe over the PERSISTED base (cached blocks, ≤
    // 2^numPlanes aggregate rows): one cheap extra job that makes the
    // bounded scheme's recall trade-off observable per run
    val splits =
      if (maxBucketSize == Int.MaxValue) 0L
      else base.groupBy("lsh_bucket").agg(count(lit(1)).as("__occ"))
        .filter(col("__occ") > maxBucketSize).count()
    oversizedSplits.set(splits)
    if (splits > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"cosineNearDupPairs: $splits bucket(s) over occupancy cap " +
          s"$maxBucketSize re-bucketed $extraPlanes plane(s) deeper " +
          "(reduced near-dup recall inside those buckets; " +
          "maxBucketSize = Int.MaxValue opts out)")
    val refined = refineOversizedBuckets(base, dim, seed, maxBucketSize,
      extraPlanes).persist()
    materializeAndRelease(
      cosinePairsFromBucketed(refined, threshold), refined, base)
  }

  /** The occupancy-bounding step shared by the executing path and the
    * lazy plan builder: ONE definition of the refinement, so plan pins
    * inspect exactly what callers run.
    */
  private def refineOversizedBuckets(base: DataFrame, dim: Int, seed: Long,
      maxBucketSize: Int, extraPlanes: Int): DataFrame = {
    val xplanes = graft.functions.VectorFunctions
      .seededPlanes(extraPlanes, dim, seed + 1)
    val shiftBy = extraPlanes + 1
    // occupancy via a map-side-combinable aggregate broadcast back — NOT
    // a window over lsh_bucket, which would funnel every row into at most
    // 2^numPlanes partitions and buffer the hot bucket in ONE task (the
    // exact skew this function exists to tame)
    val occ = broadcast(base.groupBy("lsh_bucket")
      .agg(count(lit(1)).as("__occ"))) // ≤ 2^numPlanes tiny rows
    base.join(occ, Seq("lsh_bucket"))
      .withColumn("lsh_bucket",
        when(col("__occ") <= maxBucketSize,
          shiftleft(col("lsh_bucket"), shiftBy))
          .otherwise(shiftleft(col("lsh_bucket"), shiftBy)
            .bitwiseOR(lit(1L << extraPlanes))
            .bitwiseOR(graft.functions.VectorFunctions
              .lshSignature(col("v"), xplanes))))
      .drop("__occ")
  }

  /** Source-compatible alias from when bounded occupancy was the opt-in
    * variant; [[cosineNearDupPairs]] IS the bounded scheme now.
    */
  def cosineNearDupPairsBounded(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, maxBucketSize: Int, numPlanes: Int = 6,
      extraPlanes: Int = 4, seed: Long = 42L): DataFrame =
    cosineNearDupPairs(df, idCol, vecCol, dim, threshold, numPlanes, seed,
      maxBucketSize, extraPlanes)

  /** Lazy plan of [[cosineNearDupPairs]] (no cache, no materialization) —
    * for plan-shape inspection. Mirrors the DEFAULT (bounded-occupancy)
    * path including the occupancy probe and conditional re-bucketing, so
    * plan pins cover what callers actually execute; pass
    * `maxBucketSize = Int.MaxValue` to inspect the unbounded special case.
    */
  private[graft] def cosineNearDupPairsPlan(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, threshold: Double, numPlanes: Int = 6,
      seed: Long = 42L,
      maxBucketSize: Int = DefaultCosineBucketCap,
      extraPlanes: Int = 4): DataFrame = {
    val base = Similarity.withLshBucket(df, vecCol, numPlanes, dim, seed)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("lsh_bucket"))
    cosinePairsFromBucketed(
      refineOversizedBuckets(base, dim, seed, maxBucketSize, extraPlanes),
      threshold)
  }

  private def cosinePairsFromBucketed(bucketed: DataFrame,
      threshold: Double): DataFrame = {
    val a = bucketed.select(col("lsh_bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = bucketed.select(col("lsh_bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("lsh_bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** N-gram Jaccard similarity for explicit candidate pairs (pairs given by
    * a join condition the caller controls — e.g. same-source blocking).
    */
  def ngramJaccard(a: Column, b: Column, n: Int): Column = {
    val sa = TextFunctions.wordShingles(a, n)
    val sb = TextFunctions.wordShingles(b, n)
    when(size(array_union(sa, sb)) > 0,
      size(array_intersect(sa, sb)).cast("double") /
        size(array_union(sa, sb)).cast("double"))
      .otherwise(lit(0.0))
  }

  /** CROSS-document boilerplate detection: per-document ratio of n-token
    * windows whose content recurs in ≥ `minDocs` DISTINCT documents —
    * headers, footers, navigation chrome, license blobs. Complements
    * [[graft.functions.TextFunctions.dupNgramRatio]] (within-doc
    * repetition): a crawl's per-site template scores ~0 within-doc but
    * ~1 here. Returns (id, n_windows, n_boiler, boiler_ratio).
    *
    * Scale shape: windows travel as 8-byte md5h60 longs (portable — the
    * oracle replays them); the doc-frequency aggregate is a map-side-
    * combinable distinct-count over (gram, doc) pairs; the per-doc tally is
    * one semi join + hash agg. Shuffle is O(corpus windows), never
    * pairwise, and no shuffle row carries text.
    */
  def crossDocBoilerplate(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, "boilerplate means shared by at least 2 docs")
    val toked = df.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    // bind the gram array before explode/size so the zip_with chain runs
    // once per doc (projection fence — see minHashCandidatePairs)
    val based = toked.select(col("id"),
      TextFunctions.wordNgramsFromTokens(col("toks"), n).as("grams"))
    val gh = based.select(col("id"), explode(col("grams")).as("g"))
      .select(col("id"), md5h60(col("g")).as("gh"))
    val boiler = gh.select(col("gh"), col("id")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gh"))
    val tally = gh.join(boiler, Seq("gh"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_boiler"))
    based.select(col("id"), size(col("grams")).as("n_windows"))
      .join(tally, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        col("n_windows").cast("long").as("n_windows"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(col("n_windows") > 0,
          coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("boiler_ratio"))
  }

  /** Boilerplate REMOVAL — the action to [[crossDocBoilerplate]]'s report:
    * drop every token covered by a cross-document-recurring n-token window
    * (site chrome, license blobs), keep the rest of the text intact.
    *
    * Same corpus aggregate as detection (windows as md5h60 longs,
    * doc-frequency filter); the removal itself is row-local — per doc the
    * boilerplate window STARTS come back as one small sorted array, expand
    * to a masked-position set, and one indexed `filter` keeps the uncovered
    * tokens. The (id, pos) shuffle rows are 12 bytes; nothing token-sized
    * shuffles. Returns (idCol, n_tokens, n_kept, clean_text).
    */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, "boilerplate means shared by at least 2 docs")
    val toked = df.select(col(idCol).as("id"),
      TextFunctions.tokens(col(textCol)).as("toks"))
    // projection fence: bind grams once per doc (see minHashCandidatePairs)
    val based = toked.select(col("id"), col("toks"),
      TextFunctions.wordNgramsFromTokens(col("toks"), n).as("grams"))
    // 0-based window start + window hash
    val gh = based.select(col("id"), posexplode(col("grams")).as(Seq("pos", "g")))
      .select(col("id"), col("pos"), md5h60(col("g")).as("gh"))
    val boiler = gh.select(col("gh"), col("id")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("gh"))
    val starts = gh.join(boiler, Seq("gh"), "left_semi")
      .groupBy(col("id")).agg(sort_array(collect_list(col("pos"))).as("ws"))
    val masked = array_distinct(flatten(transform(
      coalesce(col("ws"), array().cast("array<int>")),
      w => sequence(w, w + n - 1))))
    based.join(starts, Seq("id"), "left_outer")
      .withColumn("__m", masked)
      .withColumn("__kept",
        filter(col("toks"), (t, p) => !array_contains(col("__m"), p)))
      .select(col("id").as(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("clean_text"))
  }

  /** Test-set decontamination: drop every corpus document sharing ANY word
    * n-gram with the eval set — the standard guard against benchmark
    * leakage into training data. Grams travel as xxhash64 longs (8-byte
    * shuffle rows, not strings; a 2^-64-per-pair collision dropping one
    * extra doc is the accepted trade at corpus scale), the eval side
    * dedupes before the join (it's the small side — Catalyst broadcasts
    * it), and the verdict applies as one anti join. Shuffle is
    * O(corpus grams + eval grams), never pairwise.
    */
  def decontaminate(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    import graft.functions.TextFunctions
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(array_distinct(
        TextFunctions.wordNgrams(col(textCol), n))).as("__gram"))
      .select(col(idCol), xxhash64(col("__gram")).as("__gh"))
    val evalGrams = grams(eval).select(col("__gh")).distinct()
    val contaminated = grams(corpus)
      .join(evalGrams, "__gh")
      .select(col(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  // ---- exact substring-span duplication (suffix-array re-expressed) ----

  /** Every duplicated k-token window occurrence in the corpus: rows of
    * (idCol, `__pos` 0-based token offset, `__is_canon`) where the window's
    * k-gram occurs ≥ 2 times corpus-wide (across documents OR repeated
    * within one) and `__is_canon` marks the single canonical first
    * occurrence (minimum (id, pos)). The shared candidate step of the
    * ExactSubstr method (Lee et al. 2022, arXiv:2107.06499), re-expressed
    * shuffle-bounded: the paper's suffix array is a single-machine
    * structure, but its OUTPUT — "which k-token windows reoccur" — is
    * exactly a census over window fingerprints, which a shared-nothing
    * engine computes as one map-side-combinable aggregation.
    *
    * Scale shape: grams travel as (8-byte xxhash64, id, int pos) rows —
    * O(corpus tokens) of fixed width, never gram strings (a 2^-64
    * per-pair collision marking one extra span is the accepted trade, as
    * in [[decontaminate]]). The census side collapses via partial
    * aggregation BEFORE its exchange (distinct grams per partition, not
    * occurrences), and the verdict applies as one hash equi-join that AQE
    * can skew-split if a boilerplate gram goes hot — deliberately NOT a
    * window over the gram hash, which would funnel a hot gram's every
    * occurrence into one task (see [[refineOversizedBuckets]] for the same
    * reasoning). The gram pass runs twice (census build + join probe);
    * at corpus scale a second columnar scan beats caching O(tokens) rows.
    */
  /** Census-pressure stats of the most recent substring-dedup run in
    * this JVM whose census has EXECUTED (None before any run, or while
    * the last-built plan hasn't run yet): (gram occurrences emitted
    * corpus-wide, distinct grams, census rows surviving the ≥2 filter).
    * The same observability the bounded-occupancy family has
    * ([[lastOversizedBucketSplits]]): the census posexplodes one row per
    * token position corpus-wide by design, and a 100× run should SEE
    * that volume (and how hard the ≥2 filter cuts it) before it hurts,
    * not infer it. Zero extra passes — the metrics ride the census
    * aggregation itself as an observed node (post-partial-agg, so the
    * observation sees one row per distinct gram, not per occurrence).
    *
    * CONTRACT: JVM-global last-write-wins, same as
    * [[lastOversizedBucketSplits]] — read right after the run it should
    * describe; under concurrent runs the reader gets whichever query
    * registered last. Results land via Spark's async listener bus a
    * moment after the action returns, so a just-finished query may need
    * a beat (poll, or accept None) before the stats appear.
    */
  def lastSubstringCensusStats: Option[SubstringCensusStats] =
    Option(censusObservation.get).flatMap { obs =>
      // non-blocking: only read once the observed query has completed
      // (obs.get would block forever on a plan that was never executed)
      if (!obs.future.isCompleted) None
      else {
        val m = obs.get
        Some(SubstringCensusStats(
          gramOccurrences = m("gram_occurrences").asInstanceOf[Long],
          distinctGrams = m("distinct_grams").asInstanceOf[Long],
          censusSurvivors = m("census_survivors").asInstanceOf[Long]))
      }
    }

  final case class SubstringCensusStats(gramOccurrences: Long,
      distinctGrams: Long, censusSurvivors: Long)

  private val censusObservation =
    new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.Observation]()

  private def duplicatedWindows(df: DataFrame, idCol: String,
      textCol: String, k: Int, needCanon: Boolean): DataFrame = {
    require(k >= 2, s"substring windows need k >= 2 tokens, got $k")
    def grams = df.select(col(idCol),
        posexplode(TextFunctions.wordNgrams(col(textCol), k))
          .as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos"), xxhash64(col("__g")).as("__gh"))
    // the census groupBy is this operator's hottest exchange (one row per
    // gram occurrence corpus-wide): the min-struct canonical tracker only
    // rides it when the caller (the strip rewrite) actually needs it —
    // the profile path carries count-only aggregate state
    val aggCols = count(lit(1)).as("__cnt") +:
      (if (needCanon)
        Seq(min(struct(col(idCol), col("__pos"))).as("__canon"))
      else Nil)
    val obs = org.apache.spark.sql.Observation()
    censusObservation.set(obs)
    val census = grams.groupBy(col("__gh"))
      .agg(aggCols.head, aggCols.tail: _*)
      // observe BEFORE the ≥2 filter: Σ__cnt = occurrences emitted,
      // count = distinct grams, the conditional sum = survivors — all
      // three census-pressure numbers from one already-aggregated node
      .observe(obs,
        sum(col("__cnt")).as("gram_occurrences"),
        count(lit(1)).as("distinct_grams"),
        sum(when(col("__cnt") >= 2, 1L).otherwise(0L))
          .as("census_survivors"))
      .filter(col("__cnt") >= 2)
      .drop("__cnt")
    val joined = grams.join(census, Seq("__gh"))
    if (needCanon)
      joined.select(col(idCol), col("__pos"),
        (col("__canon")(idCol) === col(idCol) &&
          col("__canon")("__pos") === col("__pos")).as("__is_canon"))
    else joined.select(col(idCol), col("__pos"))
  }

  /** Merge duplicated-window starts into maximal covered spans per
    * document (gaps-and-islands): window starts p, q (p < q) belong to one
    * span iff q − p ≤ k, i.e. their k-token covers [p, p+k−1], [q, q+k−1]
    * overlap or touch, so each island covers exactly
    * [min(pos), max(pos)+k−1] with no interior hole. Rows in: only
    * DUPLICATED window starts (the skew-safe census already filtered);
    * the per-document window sort is bounded by document length.
    */
  private def mergeWindowSpans(wins: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    wins
      .withColumn("__brk",
        when(col("__pos") - lag(col("__pos"), 1).over(byDoc) <= k, lit(0))
          .otherwise(lit(1)))
      .withColumn("__isl", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + lit(k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("windows"))
  }

  /** Per-document duplicated-substring profile: how much of each document
    * is covered by k-token windows that reoccur anywhere in the corpus.
    * Columns: n_tokens, dup_windows (duplicated window starts), dup_spans
    * (maximal merged spans), covered_tokens (union size of their covers),
    * dup_coverage (covered/n_tokens). The measurement half of
    * substring-level dedup — a corpus curator gates on coverage (a doc
    * that is 80% reoccurring text is boilerplate or a copy) before paying
    * for the rewrite ([[stripDuplicatedSpans]]). Every document appears,
    * zeros when nothing reoccurs.
    */
  def substringDupProfile(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val wins = duplicatedWindows(df, idCol, textCol, k, needCanon = false)
    val perDoc = mergeWindowSpans(wins, idCol, k)
      .groupBy(col(idCol))
      .agg(sum(col("windows")).as("dup_windows"),
        count(lit(1)).as("dup_spans"),
        sum(col("span_end") - col("span_start") + lit(1))
          .as("covered_tokens"))
    df.select(col(idCol),
        // NULL text = empty document (0 tokens), NOT size(NULL) = -1 —
        // the oracle-replayable contract shared with the strip rewrite
        size(coalesce(TextFunctions.tokens(col(textCol)),
          array().cast("array<string>"))).cast("bigint").as("n_tokens"))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("dup_windows", "dup_spans", "covered_tokens"))
      .withColumn("dup_coverage",
        when(col("n_tokens") > 0,
          col("covered_tokens").cast("double") /
            col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Substring-level dedup rewrite (ExactSubstr, Lee et al. 2022): delete
    * every token covered by a duplicated k-token window, excluding (by
    * default) each gram's canonical first occurrence — min (id, pos) —
    * from the removable set; `keepCanonical = false` strips every
    * occurrence (the paper's remove-all variant). Canonical retention is
    * window-level, NOT a corpus-wide text guarantee: a canonical window
    * can still lose tokens to a DIFFERENT gram's removable span
    * overlapping it (e.g. "q r s" canonical in doc A while doc A's
    * "p q r" occurrence is removable — the splice deletes q,r there
    * regardless), the same behavior as the paper's span semantics.
    * Returns one row per input document:
    * (idCol, n_tokens, removed_tokens, clean_text), where clean_text is
    * the surviving tokens rejoined with single spaces (whitespace runs
    * normalize — the tokenizer's contract, same as every chunker here).
    *
    * Scale shape: spans collapse to ONE interval-array row per affected
    * document (intervals per doc ≤ doc length / k), the rewrite applies
    * row-locally — filter-with-index over the token array against the
    * interval array — so document TEXT never enters a shuffle; the only
    * wide plans are the census (partial-agg'd) and the doc-keyed span
    * merge. The splice lambda is interpreted (HOF), but it runs once per
    * document against O(spans) intervals — string building dominates, as
    * in [[TextFunctions.chunkByTokens]].
    */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, keepCanonical: Boolean = true): DataFrame = {
    val winsAll = duplicatedWindows(df, idCol, textCol, k,
      needCanon = keepCanonical)
    val wins = (if (keepCanonical) winsAll.filter(!col("__is_canon"))
      else winsAll).select(col(idCol), col("__pos"))
    val intervals = mergeWindowSpans(wins, idCol, k)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
          struct(col("span_start"), col("span_end")))).as("__iv"),
        sum(col("span_end") - col("span_start") + lit(1))
          .as("removed_tokens"))
    // tokenize ONCE per row (trim + regex split is the expensive part of
    // this projection) and coalesce NULL text to an empty token array, so
    // a NULL-text document reads as an empty one: n_tokens 0, clean_text
    // "" — the same contract the oracle replays
    df.join(intervals, Seq(idCol), "left")
      .withColumn("__toks", coalesce(TextFunctions.tokens(col(textCol)),
        array().cast("array<string>")))
      .select(col(idCol),
        size(col("__toks")).cast("bigint").as("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        when(col("__iv").isNull, array_join(col("__toks"), " "))
          .otherwise(array_join(
            filter(col("__toks"), (_, i) => !exists(col("__iv"),
              iv => i >= iv("span_start") && i <= iv("span_end"))),
            " ")).as("clean_text"))
  }
}
