package graft.flows

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedLake

class StreamingSemDeDupSpec extends SparkSpec {
  import spark.implicits._

  // four well-separated directions plus near-copies: cosine between a
  // base vector and its +tail copy is ~1, across bases ~0
  private def vec(base: Int, jitter: Int): Array[Float] = {
    val v = new Array[Float](8)
    v(base) = 1000f
    v((base + 4) % 8) = jitter.toFloat
    v
  }

  test("setup + applyBatch: corpus and earlier arrivals drop later ones " +
    "regardless of id; same-batch ties break by id; replayed batch ids " +
    "are no-ops and centroids carry forward untouched") {
    val root = Files.createTempDirectory("ssem").toString + "/state"
    // corpus: two docs on distinct axes
    val corpus = Seq((100L, vec(0, 1)), (200L, vec(1, 1)))
      .toDF("vec_id", "embedding")
    StreamingSemDeDup.setup(corpus, "vec_id", "embedding", root,
      k = 2, iters = 2)
    val centroidsV1 = VersionedLake.readTable(spark, root, "centroids")
      .collect().map(_.toString).sorted.toSeq
    // batch 0: doc 50 ≈ corpus 100 (drops though 50 < 100 — corpus
    // outranks id); doc 60 on a fresh direction survives; doc 61 ≈ 60
    // same batch, higher id → drops
    val b0 = Seq((50L, vec(0, 2)), (60L, vec(2, 1)), (61L, vec(2, 2)))
      .toDF("vec_id", "embedding")
    StreamingSemDeDup.applyBatch(b0, 0L, "vec_id", "embedding", root,
      tau = 0.9, scale = graft.operators.Cluster.QuantScale,
      maxClusterSize = Int.MaxValue)
    // batch 1: doc 10 ≈ doc 60 — LOWER id but LATER arrival → drops
    // (arrival order outranks id order across batches)
    val b1 = Seq((10L, vec(2, 3)), (70L, vec(3, 1)))
      .toDF("vec_id", "embedding")
    StreamingSemDeDup.applyBatch(b1, 1L, "vec_id", "embedding", root,
      tau = 0.9, scale = graft.operators.Cluster.QuantScale,
      maxClusterSize = Int.MaxValue)
    def got() = StreamingSemDeDup.survivors(spark, root)
      .select("vec_id", "batch_id").as[(Long, Long)].collect().toSet
    assert(got() == Set((60L, 0L), (70L, 1L)))
    val vAfter = VersionedLake.versions(spark, root).last
    // replaying either batch changes nothing (the q117b crash path)
    assert(!StreamingSemDeDup.applyBatch(b0, 0L, "vec_id", "embedding",
      root, tau = 0.9, scale = graft.operators.Cluster.QuantScale,
      maxClusterSize = Int.MaxValue))
    assert(!StreamingSemDeDup.applyBatch(b1, 1L, "vec_id", "embedding",
      root, tau = 0.9, scale = graft.operators.Cluster.QuantScale,
      maxClusterSize = Int.MaxValue))
    assert(got() == Set((60L, 0L), (70L, 1L)))
    assert(VersionedLake.versions(spark, root).last == vAfter)
    // the replays released their claims: the next commit claims latest + 1
    val probe = VersionedLake.beginGroupCommit(spark, root)
    assert(probe.version == vAfter + 1)
    probe.abort()
    // dropped docs still indexed: 61 dropped in batch 0, yet a later ≈61
    // arrival must still drop against it — and every arrival's assignment
    // row is present exactly once
    val assigned = VersionedLake.readTable(spark, root, "assignments",
      schemaDDL = "vec_id BIGINT, q ARRAY<BIGINT>, dist BIGINT, cid BIGINT")
      .select("vec_id").as[Long].collect().toSeq
    assert(assigned.sorted == Seq(10L, 50L, 60L, 61L, 70L, 100L, 200L))
    // the carried centroid table is bit-identical to v1's across batches
    assert(VersionedLake.readTable(spark, root, "centroids")
      .collect().map(_.toString).sorted.toSeq == centroidsV1)
  }

  test("bounded occupancy through the streaming path: a roomy cap lands " +
    "the unbounded survivor set with 0 splits; a tight cap records its " +
    "splits and still commits every assignment row exactly once") {
    import graft.operators.Cluster
    def drive(root: String, cap: Int): Unit = {
      val corpus = Seq((100L, vec(0, 1)), (200L, vec(1, 1)))
        .toDF("vec_id", "embedding")
      StreamingSemDeDup.setup(corpus, "vec_id", "embedding", root,
        k = 2, iters = 2)
      val b0 = Seq((50L, vec(0, 2)), (60L, vec(2, 1)), (61L, vec(2, 2)))
        .toDF("vec_id", "embedding")
      StreamingSemDeDup.applyBatch(b0, 0L, "vec_id", "embedding", root,
        tau = 0.9, scale = Cluster.QuantScale, maxClusterSize = cap)
    }
    // roomy cap: no cluster exceeds it, so the refined key degenerates to
    // cid and the survivor set is the unbounded one (the main test's b0)
    val roomy = Files.createTempDirectory("ssemb1").toString + "/state"
    drive(roomy, cap = 100)
    assert(Cluster.lastOversizedClusterSplits == 0L)
    assert(StreamingSemDeDup.survivors(spark, roomy)
      .select("vec_id").as[Long].collect().toSet == Set(60L))
    // tight cap: every multi-member cluster re-buckets (corpus 100 +
    // arrival 50 share one; arrivals 60/61 another) — the split metric
    // must say so, and the group commit must stay consistent: every
    // arrival indexed exactly once, survivors ⊆ batch
    val tight = Files.createTempDirectory("ssemb2").toString + "/state"
    drive(tight, cap = 1)
    assert(Cluster.lastOversizedClusterSplits >= 1L)
    val assigned = VersionedLake.readTable(spark, tight, "assignments",
      schemaDDL = "vec_id BIGINT, q ARRAY<BIGINT>, dist BIGINT, cid BIGINT")
      .select("vec_id").as[Long].collect().toSeq
    assert(assigned.sorted == Seq(50L, 60L, 61L, 100L, 200L))
    val surv = StreamingSemDeDup.survivors(spark, tight)
      .select("vec_id").as[Long].collect().toSet
    assert(surv.subsetOf(Set(50L, 60L, 61L)) && surv.contains(60L))
  }

  test("retention: compactState carries the model bit-identically, keeps " +
    "the cid-partitioned assignment layout and the drop rule across the " +
    "boundary, bounds files, and vacuumed versions fail loudly") {
    def drive(root: String, compactAfterEach: Boolean): Unit = {
      val corpus = Seq((100L, vec(0, 1)), (200L, vec(1, 1)))
        .toDF("vec_id", "embedding")
      StreamingSemDeDup.setup(corpus, "vec_id", "embedding", root,
        k = 2, iters = 2)
      val batches = Seq(
        Seq((50L, vec(0, 2)), (60L, vec(2, 1)), (61L, vec(2, 2))),
        Seq((10L, vec(2, 3)), (70L, vec(3, 1))))
      batches.zipWithIndex.foreach { case (rows, i) =>
        StreamingSemDeDup.applyBatch(rows.toDF("vec_id", "embedding"),
          i.toLong, "vec_id", "embedding", root, tau = 0.9,
          scale = graft.operators.Cluster.QuantScale,
          maxClusterSize = Int.MaxValue)
        // keepVersions = 1: this test asserts the FULL reclaim shape; the
        // horizon default is covered by StreamingRetentionSpec
        if (compactAfterEach)
          StreamingSemDeDup.compactState(spark, root, keepVersions = 1)
      }
    }
    val plain = Files.createTempDirectory("ssem_p").toString + "/state"
    val tight = Files.createTempDirectory("ssem_c").toString + "/state"
    drive(plain, compactAfterEach = false)
    drive(tight, compactAfterEach = true)
    // (a) row-identical state: batch 1 deduped against COMPACTED batch-0
    // state lands the same survivors (10 drops against stored 60)
    def survivorsOf(root: String) = StreamingSemDeDup.survivors(spark, root)
      .select("vec_id", "batch_id").as[(Long, Long)].collect().toSet
    assert(survivorsOf(tight) == survivorsOf(plain))
    assert(survivorsOf(tight) == Set((60L, 0L), (70L, 1L)))
    // the carried centroid model is bit-identical to the uncompacted one
    // (fitCentroids is deterministic, so cross-root comparison holds)
    def centroidsOf(root: String) =
      VersionedLake.readTable(spark, root, "centroids")
        .collect().map(_.toString).sorted.toSeq
    assert(centroidsOf(tight) == centroidsOf(plain))
    // assignments survive the rewrite with the typed read AND the
    // Hive cid=… layout intact (partition dirs present on disk)
    val assigned = VersionedLake.readTable(spark, tight, "assignments",
      schemaDDL = "vec_id BIGINT, q ARRAY<BIGINT>, dist BIGINT, cid BIGINT")
    assert(assigned.select("vec_id").as[Long].collect().sorted.toSeq ==
      Seq(10L, 50L, 60L, 61L, 70L, 100L, 200L))
    val cidDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(tight))
    try assert(cidDirs.anyMatch(p =>
      p.getFileName.toString.startsWith("cid=")))
    finally cidDirs.close()
    // replay across the compaction boundary short-circuits on the
    // sticky watermark; a new near-dup arrival still drops
    val vAfter = VersionedLake.versions(spark, tight).last
    assert(!StreamingSemDeDup.applyBatch(
      Seq((10L, vec(2, 3)), (70L, vec(3, 1))).toDF("vec_id", "embedding"),
      1L, "vec_id", "embedding", tight, 0.9,
      graft.operators.Cluster.QuantScale, Int.MaxValue))
    assert(VersionedLake.versions(spark, tight).last == vAfter)
    assert(StreamingSemDeDup.applyBatch(
      Seq((90L, vec(3, 2))).toDF("vec_id", "embedding"),
      2L, "vec_id", "embedding", tight, 0.9,
      graft.operators.Cluster.QuantScale, Int.MaxValue))
    assert(survivorsOf(tight) == Set((60L, 0L), (70L, 1L))) // 90 ≈ 70 drops
    // (b)+(c) bounded files and loud vacuumed-version reads
    StreamingSemDeDup.compactState(spark, tight, keepVersions = 1)
    assert(VersionedLake.versions(spark, tight).size == 1)
    def parquetCount(root: String): Int = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try it.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally it.close()
    }
    // centroids 1 (carried) + survivors 1 + assignments ≤ one file per
    // occupied cid partition (the watermark is a manifest field, no file)
    assert(parquetCount(tight) <= 2 + 4,
      s"expected ≤6 compacted files, got ${parquetCount(tight)}")
    assert(parquetCount(plain) > parquetCount(tight))
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.readTable(spark, tight, "assignments", Some(1L))
    }
    assert(ex.getMessage.contains("version 1 not in"))
  }

  test("setup refuses a root that already has committed state") {
    val root = Files.createTempDirectory("ssem2").toString + "/state"
    val corpus = Seq((1L, vec(0, 1))).toDF("vec_id", "embedding")
    StreamingSemDeDup.setup(corpus, "vec_id", "embedding", root, 1, 1)
    intercept[IllegalArgumentException] {
      StreamingSemDeDup.setup(corpus, "vec_id", "embedding", root, 1, 1)
    }
  }
}
