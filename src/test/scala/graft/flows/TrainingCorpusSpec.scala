package graft.flows

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Lake

class TrainingCorpusSpec extends SparkSpec {

  test("end-to-end corpus build: dedup'd, chunk-bounded, doc-level splits") {
    val docs = Lake.table(spark, sfDir, "documents")
    val corpus = TrainingCorpus.build(docs,
      minQuality = 0.1, jaccardThreshold = 0.8,
      chunkTokens = 64, overlap = 8, binCapacity = 256L).cache()

    assert(corpus.count() > 0)
    assert(corpus.columns.toSeq == Seq("doc_id", "lang", "start", "n_tokens",
      "chunk", "bin_id", "offset_in_bin", "split"))

    // chunk windows respect the token bound
    assert(corpus.filter(col("n_tokens") > 64).count() == 0)
    // (doc, start) unique — no duplicated chunks
    assert(corpus.groupBy("doc_id", "start").count()
      .filter(col("count") > 1).count() == 0)
    // split is assigned per DOCUMENT: every chunk of a doc shares it
    assert(corpus.groupBy("doc_id")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count() == 0)
    // all three splits appear and train dominates
    val splits = corpus.select("doc_id", "split").distinct()
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"), splits.toString)
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
    corpus.unpersist()
  }

  test("semantic stage drops embedding near-dups; docs without embeddings pass through") {
    import spark.implicits._
    // three docs pass the lexical stages (distinct text); docs 1 and 2
    // carry near-identical embeddings → the semantic stage drops doc 2;
    // doc 3 has NO embedding row and must survive untouched
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river", "en"),
      (2L, "a completely different sentence with its own novel words here", "en"),
      (3L, "yet another unrelated document about trains and the weather", "en"))
      .toDF("doc_id", "text", "lang")
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.001f, 0.0f, 0.0f)))
      .toDF("doc_id", "embedding")

    val corpus = TrainingCorpus.build(docs,
      minQuality = 0.0, jaccardThreshold = 0.8,
      chunkTokens = 64, overlap = 8, binCapacity = 256L,
      embeddings = Some(emb), semClusters = 1, semIters = 2, semTau = 0.9)
    val kept = corpus.select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L))

    // asking for more clusters than embedded docs clamps k instead of
    // failing; with every point its own centroid nothing can drop
    val clamped = TrainingCorpus.build(docs,
      minQuality = 0.0, jaccardThreshold = 0.8,
      chunkTokens = 64, overlap = 8, binCapacity = 256L,
      embeddings = Some(emb), semClusters = 16, semIters = 2, semTau = 0.9)
    assert(clamped.select("doc_id").distinct().count() == 3)

    // without embeddings the same build keeps all three
    val plain = TrainingCorpus.build(docs,
      minQuality = 0.0, jaccardThreshold = 0.8,
      chunkTokens = 64, overlap = 8, binCapacity = 256L)
    assert(plain.select("doc_id").distinct().count() == 3)
  }

  test("stage 3c embedding near-dup: cosine clusters keep the minimum-id " +
    "doc; routed through the bounded-occupancy default") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river", "en"),
      (2L, "a completely different sentence with its own novel words here", "en"),
      (3L, "yet another unrelated document about trains and the weather", "en"),
      (4L, "one more standalone text concerning gardens and morning light", "en"))
      .toDF("doc_id", "text", "lang")
    // docs 1/2 near-identical directions (cosine ≈ 1), 3 orthogonal,
    // 4 has NO embedding row and must pass through
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.999f, 0.001f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("doc_id", "embedding")
    // semTau = 0 disables the 3b drop so the 3c stage is what's tested;
    // semClusters = 1 keeps everything in one k-means cluster
    val corpus = TrainingCorpus.build(docs,
      minQuality = 0.0, jaccardThreshold = 0.8,
      chunkTokens = 64, overlap = 8, binCapacity = 256L,
      embeddings = Some(emb), semClusters = 1, semIters = 1, semTau = 2.0,
      cosineNearDupThreshold = 0.95, embeddingDim = 4)
    val kept = corpus.select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L), kept.toString)

    // the knob guard: threshold without dim/embeddings fails loudly
    intercept[IllegalArgumentException](TrainingCorpus.build(docs,
      cosineNearDupThreshold = 0.9))
  }

  test("applyBatch: the arrival-mode build runs the stages in order " +
    "against stored state — quality gate, exact-vs-stored-fps, lexical " +
    "keep-lowest-id-among-arrived vs the pruned index, index-backed " +
    "semantic dedup, packing continued from stored totals; replays " +
    "short-circuit; index membership follows the streams' discipline") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("tc_arr").toString
    val root = s"$base/state"; val ann = s"$base/ann"
    // texts: 45 tokens with stopwords (quality ~0.7); near-dups are a
    // one-token suffix mutation (3-shingle jaccard ~0.87)
    def txt(tag: String): String =
      ((1 to 40).map(i => s"tok${tag}x$i") ++
        Seq("the", "of", "and", "in", "is")).mkString(" ")
    def mut(t: String): String = {
      val ts = t.split(" "); ts(5) = ts(5) + "zz"; ts.mkString(" ")
    }
    val (a, b, cTx) = (txt("a"), txt("b"), txt("c"))
    val junk = "!!! ???" // < 5 tokens, no stopwords, all punct → quality 0
    def v(x: Int*): Seq[Float] = x.map(_.toFloat)
    val b1 = Seq((10L, "pt", a), (12L, "pt", b), (14L, "pt", cTx),
      (16L, "pt", junk)).toDF("doc_id", "lang", "text")
    val b2 = Seq(
      (5L, "pt", a),          // exact dup of STORED 10 (lower id loses to
                              // an earlier arrival — stored fps win)
      (7L, "pt", mut(b)),     // near-dup of 12 but LOWER id → survives
                              // (keep-lowest-id-among-arrived: a higher-id
                              // mate arriving earlier does not retract)
      (21L, "pt", mut(b) + " qq"), // near-dup of 12, higher id → drops
      (23L, "pt", txt("d")),  // unique text, embedding == 14's → sem drop
      (25L, "pt", txt("e")),  // unique text, far embedding → kept
      (27L, "pt", txt("f")),  // unique text, NO embedding row → kept
      (31L, "pt", txt("g")), (33L, "pt", txt("g")) // within-batch exact
    ).toDF("doc_id", "lang", "text")
    val emb = Seq(
      (10L, v(0, 0, 1, 0)), (12L, v(0, 0, 0, 1)), (14L, v(1, 0, 0, 0)),
      (7L, v(0, 1, 1, 0)), (21L, v(1, 1, 1, 0)), (23L, v(1, 0, 0, 0)),
      (25L, v(0, 1, 0, 0)), (31L, v(1, 1, 0, 0))
    ).toDF("doc_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      TrainingCorpus.applyBatch(df, id, root,
        batchEmbeddings = Some(emb), annRoot = ann, semThreshold = 1000L,
        minQuality = 0.3, jaccardThreshold = 0.5,
        chunkTokens = 8, overlap = 2, binCapacity = 64L,
        dims = 4, coarseK = 2, coarseIters = 2, m = 2, k = 2, iters = 2,
        nprobe = 2, c = 10)
    assert(run(b1, 0L))
    assert(run(b2, 1L))
    // accepted docs: batch 1 = quality survivors (16 gated out); batch 2
    // = exact (5, 33 out) → lexical (21 out, 7 kept by id rule) →
    // semantic (23 out at dist 0 to stored 14; 27 kept with no evidence)
    val surv = TrainingCorpus.arrivalSurvivors(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(surv == Map(10L -> 0L, 12L -> 0L, 14L -> 0L,
      7L -> 1L, 25L -> 1L, 27L -> 1L, 31L -> 1L), surv.toString)
    // index membership discipline: the lexical index holds every
    // exact-canonical quality-passer (lexically-dropped 21 INCLUDED);
    // the ANN index holds every lexical survivor with an embedding
    // (semantically-dropped 23 INCLUDED, evidence-free 27 absent)
    val indexed = graft.sources.VersionedLake.readTable(spark, root,
        "hashed", schemaDDL = "id BIGINT, hs ARRAY<BIGINT>, ph BIGINT")
      .select("id").as[Long].collect().toSet
    assert(indexed == Set(10L, 12L, 14L, 7L, 21L, 23L, 25L, 27L, 31L),
      indexed.toString)
    val annIds = graft.sources.VersionedLake.readTable(spark, ann,
        "encoded",
        schemaDDL = "corpus_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .select("corpus_id").as[Long].collect().toSet
    assert(annIds == Set(10L, 12L, 14L, 7L, 23L, 25L, 31L), annIds.toString)
    // packing continuity: bins/offsets over (batch, doc, start) equal ONE
    // global exclusive cumsum — batch 2 continues exactly where batch 1's
    // stored totals stopped
    val chunks = TrainingCorpus.arrivalChunks(spark, root)
      .select("batch_id", "doc_id", "start", "n_tokens", "bin_id",
        "offset_in_bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2, t._3))
    var cum = 0L
    chunks.foreach { case (_, _, _, n, bin, off) =>
      assert(bin == cum / 64 && off == cum - (cum / 64) * 64,
        s"packing must continue across batches at cum=$cum")
      cum += n
    }
    assert(chunks.nonEmpty && cum > 64,
      "fixture must span multiple bins for the continuity check to bite")
    // exactly-once: a replayed batch id is a no-op
    val vBefore = graft.sources.VersionedLake.versions(spark, root).last
    assert(!run(b2, 1L))
    assert(graft.sources.VersionedLake.versions(spark, root).last == vBefore)
    // the replay released its claim: the next commit claims latest + 1
    val probe = graft.sources.VersionedLake.beginGroupCommit(spark, root)
    assert(probe.version == vBefore + 1)
    probe.abort()
    // misuse guard: a semantic threshold without embeddings/annRoot
    intercept[IllegalArgumentException](
      TrainingCorpus.applyBatch(b1, 9L, root, semThreshold = 5L))
    ()
  }

  test("applyBatch reads the ANN index at ONE snapshot per batch: the " +
    "semantic decisions and the membership anti-join share it, for one " +
    "listing and one manifest parse before the append claims") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("tc_annsnap").toString
    val root = s"$base/state"; val ann = s"$base/ann"
    def txt(tag: String): String =
      ((1 to 40).map(i => s"tok${tag}x$i") ++
        Seq("the", "of", "and", "in", "is")).mkString(" ")
    def docs(ids: Long*) =
      ids.map(i => (i, "pt", txt(i.toString))).toDF("doc_id", "lang", "text")
    def v(x: Int*): Seq[Float] = x.map(_.toFloat)
    val emb = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)),
      (5L, v(0, 0, 0, 1)),
      (3L, v(1, 0, 0, 0)), // == stored 1: semantically dropped
      (4L, v(0, 0, 1, 0))  // far from everything stored: kept
    ).toDF("doc_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      TrainingCorpus.applyBatch(df, id, root,
        batchEmbeddings = Some(emb), annRoot = ann, semThreshold = 1000L,
        chunkTokens = 8, overlap = 2, binCapacity = 64L,
        dims = 4, coarseK = 2, coarseIters = 2, m = 2, k = 2, iters = 2,
        nprobe = 2, c = 10)
    assert(run(docs(1L, 2L, 5L), 0L)) // bootstraps the index
    var applied = false
    val calls = graft.sources.ManifestCallLog.during(spark, ann) {
      applied = run(docs(3L, 4L), 1L)
    }
    assert(applied)
    // up to the append's claim (its listing of claimed numbers, then the
    // mkdirs that precedes the claim file), the ANN root was listed once
    // and its v1 manifest parsed once
    val dir = s"$ann/_manifests"
    val beforeClaim = calls.takeWhile(_._1 != "mkdirs")
    assert(beforeClaim.size < calls.size, calls)
    assert(beforeClaim == Seq("list" -> dir, "open" -> s"$dir/v1.json",
      "list" -> dir), calls)
    val surv = TrainingCorpus.arrivalSurvivors(spark, root)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(surv == Seq(1L, 2L, 4L, 5L))
    // the ANN index gets every lexical survivor, the dropped 3 included
    val snap = graft.sources.VersionedLake.snapshot(spark, ann)
    assert(snap.version == 2L)
    assert(AnnIndex.indexedIds(snap, "corpus_id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }
}
