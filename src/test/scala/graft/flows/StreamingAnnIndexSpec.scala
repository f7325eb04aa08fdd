package graft.flows

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{Lake, VersionedLake}

/** The streaming ANN ingest contracts: exactly-once appends via the
  * manifest's applied watermark (a crash-replayed batch is a no-op —
  * without it a replay would land its codes twice and poison top-n with
  * duplicate ids), model carried bit-identically across batches, a
  * streamed index search-identical to the batch-API build+append over
  * the same splits, and retention that carries model + watermark (q119h
  * proves the full kill/resume/compact chain against q119e's oracle;
  * this spec pins the API contracts the oracle can't see).
  */
class StreamingAnnIndexSpec extends SparkSpec {

  private def emb60 = Lake.table(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)

  private def quantOf(df: org.apache.spark.sql.DataFrame,
      vecId: Long): Array[Long] =
    df.filter(col("vec_id") === vecId)
      .select(graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
      .head.getSeq[Long](0).toArray

  private def codesCount(root: String): Long =
    VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count()

  test("exactly-once: a replayed batch id is a no-op (no duplicate codes, " +
    "no new version); the model is carried verbatim across batches; the " +
    "streamed index searches IDENTICALLY to the batch API over the same " +
    "splits") {
    val root = Files.createTempDirectory("sann").toString + "/index"
    val emb = emb60
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val b0 = emb.filter(col("vec_id") % 4 === 1)
    val b1 = emb.filter(col("vec_id") % 4 === 3)
    StreamingAnnIndex.setup(corpus, "vec_id", "embedding", root, dims = 64,
      coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2)
    val v1 = VersionedLake.versions(spark, root).last
    val model1 = VersionedLake.snapshot(spark, root, Some(v1)).tables
    assert(StreamingAnnIndex.applyBatch(b0, 0L, "vec_id", "embedding",
      root, graft.operators.Cluster.QuantScale))
    val afterB0 = codesCount(root)
    val vAfterB0 = VersionedLake.versions(spark, root).last
    // crash replay: same batch id short-circuits on the watermark
    assert(!StreamingAnnIndex.applyBatch(b0, 0L, "vec_id", "embedding",
      root, graft.operators.Cluster.QuantScale))
    assert(codesCount(root) == afterB0, "replay must not duplicate codes")
    assert(VersionedLake.versions(spark, root).last == vAfterB0,
      "replay must not publish a version")
    assert(StreamingAnnIndex.applyBatch(b1, 1L, "vec_id", "embedding",
      root, graft.operators.Cluster.QuantScale))
    assert(codesCount(root) == 60)
    // model carried verbatim through both batch commits
    val latest = VersionedLake.snapshot(spark, root).tables
    assert(latest("coarse") == model1("coarse"))
    assert(latest("codebooks") == model1("codebooks"))
    // the streamed index is search-identical to the batch API's
    // build + append over the same corpus/arrival split
    val ref = Files.createTempDirectory("sann_ref").toString + "/index"
    AnnIndex.build(corpus, "vec_id", "embedding", ref, dims = 64,
      coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2)
    AnnIndex.append(emb.filter(col("vec_id") % 2 =!= 0), "vec_id",
      "embedding", ref)
    val qq = quantOf(emb, 1L) // an arrival — exercises appended codes
    def top(r: String) = AnnIndex.search(spark, r, "vec_id", qq,
      nprobe = 2, c = 20, n = 10)
      .collect().map(x => (x.getLong(0), x.getLong(3))).toSeq
    assert(top(root) == top(ref))
  }

  test("retention on the streamed index: compactState carries model AND " +
    "marker (the replay short-circuit survives the pass), search results " +
    "are invariant, and the pass engages the per-directory tiering") {
    val root = Files.createTempDirectory("sann_ret").toString + "/index"
    val emb = emb60
    StreamingAnnIndex.setup(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    assert(StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 4 === 1),
      0L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale))
    assert(StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 4 === 3),
      1L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale))
    val qq = quantOf(emb, 1L)
    def top() = AnnIndex.search(spark, root, "vec_id", qq,
      nprobe = 2, c = 20, n = 10)
      .collect().map(x => (x.getLong(0), x.getLong(3))).toSeq
    val before = top()
    val vPre = VersionedLake.versions(spark, root).last
    val model = VersionedLake.snapshot(spark, root, Some(vPre)).tables
    val appliedPre = VersionedLake.snapshot(spark, root, Some(vPre)).applied
    val nv = StreamingAnnIndex.compactState(spark, root, keepVersions = 1)
    assert(nv > vPre)
    val after = VersionedLake.snapshot(spark, root, Some(nv)).tables
    assert(after("coarse") == model("coarse"))
    assert(after("codebooks") == model("codebooks"))
    // the watermark is a manifest field the compacting commit keeps
    assert(appliedPre == Some(1L))
    assert(VersionedLake.snapshot(spark, root, Some(nv)).applied == appliedPre)
    // each cell dir had 3 small files (setup + 2 batches) -> re-packed
    assert(after("encoded").size < model("encoded").size)
    assert(top() == before)
    // the sticky watermark still short-circuits a replay after the pass
    assert(!StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 4 === 3),
      1L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale))
    assert(codesCount(root) == 60)
  }

  test("setup refuses a root that already has committed state; applyBatch " +
    "on a missing root is branded") {
    val root = Files.createTempDirectory("sann_mis").toString + "/index"
    val emb = emb60
    StreamingAnnIndex.setup(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    val ex = intercept[IllegalArgumentException] {
      StreamingAnnIndex.setup(emb, "vec_id", "embedding", root, dims = 64,
        coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2)
    }
    assert(ex.getMessage.contains("already exists"))
    val ex2 = intercept[IllegalArgumentException] {
      StreamingAnnIndex.applyBatch(emb, 0L, "vec_id", "embedding",
        s"$root-nowhere", graft.operators.Cluster.QuantScale)
    }
    assert(ex2.getMessage.contains("no streaming ANN state"))
  }

  test("a retirement between micro-batches survives the ingest: every " +
    "subsequent applyBatch carries the tombstone table, searches exclude " +
    "the retired ids, and the in-flow retention pass keeps them pending") {
    val root = Files.createTempDirectory("sann_del").toString + "/index"
    val emb = emb60
    import spark.implicits._
    StreamingAnnIndex.setup(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    assert(StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 4 === 1),
      0L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale))
    // the upstream dedup pass retires two stored ids mid-stream; the
    // retirement commit keeps the stream's watermark without naming it
    val vPre = VersionedLake.versions(spark, root).last
    AnnIndex.delete(Seq(2L, 4L).toDF("vec_id"), "vec_id", root)
    val vDel = VersionedLake.versions(spark, root).last
    assert(vDel > vPre)
    assert(VersionedLake.snapshot(spark, root, Some(vDel)).applied == Some(0L))
    assert(VersionedLake.snapshot(spark, root, Some(vDel)).applied ==
      VersionedLake.snapshot(spark, root, Some(vPre)).applied)
    assert(!StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 4 === 1),
      0L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale),
      "a replay across the retirement must short-circuit")
    assert(VersionedLake.versions(spark, root).last == vDel)
    assert(StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 4 === 3),
      1L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale))
    val vLast = VersionedLake.versions(spark, root).last
    assert(VersionedLake.snapshot(spark, root, Some(vLast)).tables
      .contains("tombstones"),
      "the batch commit must carry the pending retirements")
    StreamingAnnIndex.compactState(spark, root,
      targetBytes = 1L * 1024 * 1024)
    val vC = VersionedLake.versions(spark, root).last
    assert(VersionedLake.snapshot(spark, root, Some(vC)).tables
      .contains("tombstones"),
      "retention compacts the tombstone table, never drops it")
    val top = AnnIndex.search(spark, root, "vec_id", quantOf(emb, 2L),
      nprobe = 2, c = 30, n = 10).collect().map(_.getLong(0)).toSeq
    assert(top.nonEmpty && !top.contains(2L) && !top.contains(4L),
      s"retired ids must not surface from the streamed index: $top")
  }

  test("a micro-batch RACED by an interleaved delete detects the race, " +
    "retries from the post-delete version, and loses neither the batch " +
    "nor the retirement (the naive publish would carry the pre-delete " +
    "tombstone state)") {
    val root = Files.createTempDirectory("sann_race").toString + "/index"
    val emb = emb60
    import spark.implicits._
    StreamingAnnIndex.setup(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    // the delete claims INSIDE the batch's claim→publish window (thread +
    // latch: the protocol serializes on claim numbers, so a nested
    // synchronous commit could never publish); the batch wins (lower
    // claim), the delete aborts its first publish and REBASES past the
    // committed batch — the advisor's lost-delete interleaving
    val deleteClaimed = new java.util.concurrent.CountDownLatch(1)
    @volatile var deleteErr: Throwable = null
    val deleter = new Thread(() =>
      try {
        AnnIndex.delete(Seq(2L).toDF("vec_id"), "vec_id", root,
          maxAttempts = 10, raceWindow = () => deleteClaimed.countDown())
        ()
      } catch { case e: Throwable => deleteErr = e })
    var fired = false
    assert(StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 2 === 1),
      0L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale,
      raceWindow = () => if (!fired) {
        fired = true
        deleter.start()
        deleteClaimed.await()
      }))
    deleter.join()
    assert(fired && deleteErr == null, s"delete thread failed: $deleteErr")
    val vLast = VersionedLake.versions(spark, root).last
    assert(VersionedLake.snapshot(spark, root, Some(vLast)).tables
      .contains("tombstones"),
      "the interleaved retirement must survive the batch commit")
    assert(codesCount(root) == 60, "the raced batch's codes must land")
    // and the watermark advanced, so a replay of batch 0 is still a no-op
    assert(!StreamingAnnIndex.applyBatch(emb.filter(col("vec_id") % 2 === 1),
      0L, "vec_id", "embedding", root, graft.operators.Cluster.QuantScale))
  }

  test("a batch that marks its watermark and then dies before publish " +
    "publishes nothing: the version, the watermark and the codes are " +
    "unchanged, and the batch applies cleanly on retry") {
    val root = Files.createTempDirectory("sann_kill").toString + "/index"
    val emb = emb60
    StreamingAnnIndex.setup(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    val b0 = emb.filter(col("vec_id") % 2 === 1)
    val v1 = VersionedLake.versions(spark, root).last
    assert(VersionedLake.snapshot(spark, root, Some(v1)).applied.isEmpty)
    // raceWindow runs after markApplied and before the publish
    val e = intercept[IllegalStateException] {
      StreamingAnnIndex.applyBatch(b0, 0L, "vec_id", "embedding", root,
        graft.operators.Cluster.QuantScale,
        raceWindow = () => throw new IllegalStateException("killed"))
    }
    assert(e.getMessage == "killed")
    assert(VersionedLake.versions(spark, root) == Seq(v1))
    assert(VersionedLake.snapshot(spark, root, Some(v1)).applied.isEmpty)
    assert(codesCount(root) == 30)
    assert(StreamingAnnIndex.applyBatch(b0, 0L, "vec_id", "embedding", root,
      graft.operators.Cluster.QuantScale))
    val v2 = VersionedLake.versions(spark, root).last
    assert(VersionedLake.snapshot(spark, root, Some(v2)).applied == Some(0L))
    assert(codesCount(root) == 60)
  }
}
