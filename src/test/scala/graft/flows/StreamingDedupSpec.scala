package graft.flows

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VersionedLake

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 80).map(i => s"tok$i").mkString(" ")

  test("applyBatch: arrival-order drop rule across batches; a replayed " +
    "batch id is a no-op (the exactly-once marker)") {
    val root = Files.createTempDirectory("sdedup").toString + "/state"
    // batch 0: doc 10 (base text), doc 11 (distinct)
    val b0 = Seq((10L, base), (11L, "completely different words entirely"))
      .toDF("doc_id", "text")
    StreamingDedup.applyBatch(b0, 0L, "doc_id", "text", root,
      jaccardThreshold = 0.5, shingleN = 3, numHashes = 16, bands = 4)
    // batch 1: doc 20 near-dups doc 10 (higher id, arrived later → drop);
    // doc 5 near-dups doc 10 TOO but has the LOWER id → survives (its
    // mate was merely emitted first; append-only output never retracts)
    val b1 = Seq((20L, base + " extra"), (5L, base + " tail"))
      .toDF("doc_id", "text")
    StreamingDedup.applyBatch(b1, 1L, "doc_id", "text", root,
      jaccardThreshold = 0.5, shingleN = 3, numHashes = 16, bands = 4)
    def got() = StreamingDedup.survivors(spark, root)
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
    assert(got() == Set((10L, 0L), (11L, 0L), (5L, 1L)))
    val vAfter = VersionedLake.versions(spark, root).last
    // replaying EITHER batch id changes nothing — not the survivors, not
    // the index, not the version count (the crash-replay path of q116b)
    assert(!StreamingDedup.applyBatch(b1, 1L, "doc_id", "text", root,
      jaccardThreshold = 0.5, shingleN = 3, numHashes = 16, bands = 4))
    assert(!StreamingDedup.applyBatch(b0, 0L, "doc_id", "text", root,
      jaccardThreshold = 0.5, shingleN = 3, numHashes = 16, bands = 4))
    assert(got() == Set((10L, 0L), (11L, 0L), (5L, 1L)))
    assert(VersionedLake.versions(spark, root).last == vAfter)
    // the replays released their claims: the next commit claims latest + 1
    val probe = VersionedLake.beginGroupCommit(spark, root)
    assert(probe.version == vAfter + 1)
    probe.abort()
    // a genuinely NEW batch still applies after the replays
    val b2 = Seq((30L, base + " more extra")).toDF("doc_id", "text")
    StreamingDedup.applyBatch(b2, 2L, "doc_id", "text", root,
      jaccardThreshold = 0.5, shingleN = 3, numHashes = 16, bands = 4)
    assert(got() == Set((10L, 0L), (11L, 0L), (5L, 1L))) // 30 ≈ 10 → dropped
    // the index accrued every batch's rows exactly once
    val idxIds = VersionedLake.readTable(spark, root, "hashed")
      .select("id").as[Long].collect().toSet
    assert(idxIds == Set(10L, 11L, 20L, 5L, 30L))
  }

  test("retention: compactState is row-identical (same survivors + index " +
    "as an uncompacted run, drop rule intact across the boundary), bounds " +
    "the file count, and vacuumed versions fail loudly when pinned") {
    def drive(root: String, compactAfterEach: Boolean): Unit = {
      val batches = Seq(
        Seq((10L, base), (11L, "completely different words entirely")),
        Seq((20L, base + " extra"), (5L, base + " tail")),
        Seq((30L, base + " more extra")))
      batches.zipWithIndex.foreach { case (rows, i) =>
        StreamingDedup.applyBatch(rows.toDF("doc_id", "text"), i.toLong,
          "doc_id", "text", root, jaccardThreshold = 0.5, shingleN = 3,
          numHashes = 16, bands = 4)
        // keepVersions = 1: this test asserts the FULL reclaim shape
        // (single surviving version); the horizon default is covered by
        // StreamingRetentionSpec
        if (compactAfterEach)
          StreamingDedup.compactState(spark, root, keepVersions = 1)
      }
    }
    val plain = Files.createTempDirectory("sdedup_p").toString + "/state"
    val tight = Files.createTempDirectory("sdedup_c").toString + "/state"
    drive(plain, compactAfterEach = false)
    drive(tight, compactAfterEach = true)
    def survivorsOf(root: String) = StreamingDedup.survivors(spark, root)
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
    def indexIdsOf(root: String) =
      VersionedLake.readTable(spark, root, "hashed")
        .select("id").as[Long].collect().toSet
    // (a) state is row-identical: compacting after EVERY batch (so every
    // later batch deduped against compacted state) lands the exact same
    // survivors and index as never compacting
    assert(survivorsOf(tight) == survivorsOf(plain))
    assert(indexIdsOf(tight) == indexIdsOf(plain))
    // resume across the compaction boundary: a crash-replayed batch id
    // still short-circuits on the sticky watermark…
    val vAfter = VersionedLake.versions(spark, tight).last
    assert(!StreamingDedup.applyBatch(
      Seq((30L, base + " more extra")).toDF("doc_id", "text"), 2L,
      "doc_id", "text", tight, 0.5, 3, 16, 4))
    assert(VersionedLake.versions(spark, tight).last == vAfter)
    // …and a genuinely new near-dup arrival still drops against the
    // compacted index (the stored state really is the same state)
    assert(StreamingDedup.applyBatch(
      Seq((40L, base + " yet more")).toDF("doc_id", "text"), 3L,
      "doc_id", "text", tight, 0.5, 3, 16, 4))
    assert(survivorsOf(tight) == survivorsOf(plain))
    // (b) file count bounded: the compacted root holds ONE size-targeted
    // file per PARTITION DIRECTORY of the pruned-layout index tables
    // (hashed by ph, banded by pb) plus one survivors file (the applied
    // watermark is a manifest field, not a file) — the uncompacted root
    // accrues per-batch files beyond that. Count from the last
    // pre-append compaction point: recompact now.
    StreamingDedup.compactState(spark, tight, keepVersions = 1)
    def parquetCount(root: String): Int = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try it.filter(p => p.toString.endsWith(".parquet")).count().toInt
      finally it.close()
    }
    val layoutDirs =
      VersionedLake.readTable(spark, tight, "hashed",
          schemaDDL = "id BIGINT, hs ARRAY<BIGINT>, ph BIGINT")
        .select("ph").distinct().count().toInt +
      VersionedLake.readTable(spark, tight, "banded",
          schemaDDL = "id BIGINT, band INT, bucket BIGINT, pb BIGINT")
        .select("pb").distinct().count().toInt
    assert(parquetCount(tight) == layoutDirs + 1,
      s"expected one file per layout dir ($layoutDirs) + survivors, " +
        s"got ${parquetCount(tight)}")
    assert(parquetCount(plain) > parquetCount(tight))
    // (c) vacuum really reclaimed history: only the compacted version
    // remains, and a reader pinned to a vacuumed version fails loudly
    val vs = VersionedLake.versions(spark, tight)
    assert(vs.size == 1)
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.readTable(spark, tight, "hashed", Some(1L))
    }
    assert(ex.getMessage.contains("version 1 not in"))
  }

  test("a compaction that CRASHES mid-pass (version claimed, data staged, " +
    "no manifest) is invisible: reads resolve the committed version, the " +
    "stream keeps applying batches, and the next compaction supersedes " +
    "the orphan by skipping its burned version number") {
    val root = Files.createTempDirectory("sdedup_cr").toString + "/state"
    StreamingDedup.applyBatch(
      Seq((10L, base), (11L, "completely different words entirely"))
        .toDF("doc_id", "text"),
      0L, "doc_id", "text", root, 0.5, 3, 16, 4)
    val committed = VersionedLake.versions(spark, root).last
    // simulate the crash window of compactState: the group commit claimed
    // the next version and staged a rewritten table, but died before the
    // atomic manifest publish (and therefore before the vacuum)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val store = new graft.sources.HadoopManifestStore(fs, root)
    val burned = committed + 1
    assert(store.tryClaim(burned))
    VersionedLake.readTable(spark, root, "hashed", Some(committed))
      .write.parquet(s"$root/hashed/_data/v$burned")
    // the orphan is invisible to every reader and to the stream
    assert(VersionedLake.versions(spark, root) == Seq(committed))
    assert(StreamingDedup.applyBatch(
      Seq((5L, base + " tail")).toDF("doc_id", "text"),
      1L, "doc_id", "text", root, 0.5, 3, 16, 4))
    def got() = StreamingDedup.survivors(spark, root)
      .select("doc_id", "batch_id").as[(Long, Long)].collect().toSet
    assert(got() == Set((10L, 0L), (11L, 0L), (5L, 1L)))
    // the retry compaction claims PAST the burned number and lands the
    // same row-identical state; the crashed claim's staged data survives
    // the vacuum (in-flight TTL protection) without ever becoming visible
    val nv = StreamingDedup.compactState(spark, root, keepVersions = 1)
    assert(nv > burned)
    assert(VersionedLake.versions(spark, root) == Seq(nv))
    assert(got() == Set((10L, 0L), (11L, 0L), (5L, 1L)))
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.readTable(spark, root, "hashed", Some(burned))
    }
    assert(ex.getMessage.contains(s"version $burned not in"))
  }

  test("short docs (< shingleN tokens) pass through as survivors without " +
    "entering the index") {
    val root = Files.createTempDirectory("sdedup_short").toString + "/state"
    val b0 = Seq((1L, "just two"), (2L, base)).toDF("doc_id", "text")
    StreamingDedup.applyBatch(b0, 0L, "doc_id", "text", root,
      jaccardThreshold = 0.5, shingleN = 3, numHashes = 16, bands = 4)
    assert(StreamingDedup.survivors(spark, root)
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(VersionedLake.readTable(spark, root, "hashed")
      .select("id").as[Long].collect().toSet == Set(2L))
  }
}
