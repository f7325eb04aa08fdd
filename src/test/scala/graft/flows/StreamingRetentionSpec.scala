package graft.flows

import java.nio.file.Files

import graft.SparkSpec
import graft.sources.VersionedLake

/** The round-15 retention contracts: INCREMENTAL size-tiered compaction
  * (a second pass carries the first pass's large files verbatim instead
  * of rewriting state wholesale), the retention HORIZON (default
  * keepVersions = 2 keeps the prior version readable through a full
  * compaction cycle), and the compaction-vs-commit RACE detector (a
  * batch commit landing inside the pass's read→publish window aborts the
  * compaction instead of being silently overwritten).
  */
class StreamingRetentionSpec extends SparkSpec {
  import spark.implicits._

  private val base = (1 to 80).map(i => s"tok$i").mkString(" ")

  private def applyB(root: String, batchId: Long,
      rows: Seq[(Long, String)]): Boolean =
    StreamingDedup.applyBatch(rows.toDF("doc_id", "text"), batchId,
      "doc_id", "text", root, jaccardThreshold = 0.5, shingleN = 3,
      numHashes = 16, bands = 4)

  private def fileLen(root: String, rel: String): Long =
    new java.io.File(s"$root/$rel").length()

  private def mtime(root: String, rel: String): Long =
    new java.io.File(s"$root/$rel").lastModified()

  test("incremental compaction: the second pass CARRIES the first pass's " +
    "large output verbatim (same manifest path, untouched mtime) and " +
    "rewrites only the small tail accrued since") {
    val root = Files.createTempDirectory("sret_inc").toString + "/state"
    // drive the generic (unpartitioned) tiering path with a plain table —
    // the dedup flows now keep Hive-partitioned layouts, which the
    // per-directory tests below cover
    val pad = "y" * 200
    def commitRows(ids: Seq[Long], first: Boolean): Unit = {
      val gc = VersionedLake.beginGroupCommit(spark, root)
      gc.write("t", ids.map(i => (i, s"$pad$i")).toDF("id", "payload")
        .repartition(1), mode = if (first) "overwrite" else "append")
      if (first) gc.write("applied", Seq(0L).toDF("batch_id"))
      else gc.carry("applied")
      gc.publish()
      ()
    }
    def tFiles(): Seq[String] =
      VersionedLake.snapshot(spark, root).tables("t")
    // a fat first commit makes the pass-1 output strictly larger than any
    // later single-row append, so the size tiers are unambiguous whatever
    // the parquet footer overhead is
    commitRows((10L to 600L).toSeq, first = true)
    // pass 1: everything is below 64 MB/2 -> full rewrite, one file/table
    StreamingRetention.compactState(spark, root,
      targetBytes = 64L * 1024 * 1024, carryTables = Set("applied"))
    val Seq(compacted) = tFiles()
    val s = fileLen(root, compacted)
    val m0 = mtime(root, compacted)
    assert(s > 0)
    // two more commits accrue a small tail beyond the compacted file
    commitRows(Seq(1000L), first = false)
    commitRows(Seq(1001L), first = false)
    val smalls = tFiles().filterNot(_ == compacted)
    assert(smalls.size == 2) // one append per commit
    assert(smalls.forall(fileLen(root, _) < s),
      "precondition: the tail must tier below the pass-1 output")
    // pass 2 at targetBytes = 2s: carry threshold = s, so the pass-1
    // output tiers as LARGE (carried) and the two appends as small
    // (bin-packed together by the engine's own sizing rule)
    val expectTail = graft.sources.LakeWriter.compactionFileCount(
      smalls.map(fileLen(root, _)).sum, 2 * s)
    StreamingRetention.compactState(spark, root, targetBytes = 2 * s,
      carryTables = Set("applied"))
    val after = tFiles()
    assert(after.contains(compacted),
      s"pass-1 output $compacted was rewritten, not carried: $after")
    assert(mtime(root, compacted) == m0,
      "carried file's bytes were touched by the second pass")
    assert(after.size == 1 + expectTail,
      s"expected carried + $expectTail-file tail, got $after")
    val nv = VersionedLake.versions(spark, root).last
    assert(after.exists(_.startsWith(s"t/_data/v$nv/")),
      "merged tail must live in the new version's data dir")
    // state is row-identical through the tiered pass
    assert(VersionedLake.readTable(spark, root, "t")
      .select("id").as[Long].collect().toSet ==
      ((10L to 600L).toSet + 1000L + 1001L))
    // and a third pass with NO new tail is pure metadata: every file
    // carried verbatim
    StreamingRetention.compactState(spark, root, targetBytes = 2 * s,
      carryTables = Set("applied"))
    assert(tFiles().toSet == after.toSet)
    assert(StreamingRetention.lastCompactionStats.exists(
      _ == "all tables carried"))
  }

  test("skewed partition value: a value whose small tail exceeds " +
    "targetBytes salt-splits into several target-sized files (manifest-" +
    "derived, no sampling); small values keep one file each; rows " +
    "identical") {
    val root = Files.createTempDirectory("sret_skew").toString + "/state"
    // hot value cid=1 (4000 fat rows), cold cid=2 (20 rows)
    val pad = "x" * 400
    val rows = (1 to 4000).map(i => (i.toLong, s"$pad$i", 1L)) ++
      (1 to 20).map(i => (10000L + i, s"v$i", 2L))
    val gc = VersionedLake.beginGroupCommit(spark, root)
    // two staged writes would collide; stage as TWO versions so the small
    // tail holds several files (the rewrite path needs >= 2)
    gc.write("t", rows.take(2000).toDF("id", "payload", "cid")
      .repartition(4), partitionBy = Seq("cid"))
    gc.write("applied", Seq(0L).toDF("batch_id"))
    gc.publish()
    val gc2 = VersionedLake.beginGroupCommit(spark, root)
    gc2.write("t", rows.drop(2000).toDF("id", "payload", "cid")
      .repartition(4), mode = "append", partitionBy = Seq("cid"))
    gc2.carry("applied")
    gc2.publish()
    val hotBytes = VersionedLake.snapshot(spark, root).tables("t")
      .filter(_.contains("cid=1"))
      .map(rel => new java.io.File(s"$root/$rel").length()).sum
    // target chosen so the hot value MUST split (≥ 3 buckets) and the
    // cold value fits one file
    val target = hotBytes / 3
    val nv = StreamingRetention.compactState(spark, root, target,
      carryTables = Set("applied"), partitioned = Map("t" -> Seq("cid")),
      keepVersions = 1)
    val after = VersionedLake.snapshot(spark, root, Some(nv)).tables("t")
    val hotFiles = after.filter(_.contains("cid=1"))
    val coldFiles = after.filter(_.contains("cid=2"))
    assert(hotFiles.size >= 2,
      s"hot value must salt-split into multiple files: $after")
    assert(coldFiles.size == 1,
      s"cold value must stay a single file: $after")
    // rows identical through the salted rewrite
    assert(VersionedLake.readTable(spark, root, "t",
        schemaDDL = "id BIGINT, payload STRING, cid BIGINT")
      .select("id").as[Long].collect().toSet ==
      rows.map(_._1).toSet)
  }

  test("partitioned layout tiers PER DIRECTORY: a partition dir whose " +
    "small tail is a single file is carried verbatim (same path, " +
    "untouched mtime) while a dir that accrued a multi-file tail is " +
    "re-packed — a quiet partition never pays for a busy one") {
    val root = Files.createTempDirectory("sret_dir").toString + "/state"
    val rows = (1 to 200).map(i => (i.toLong, s"p$i", (i % 2 + 1).toLong))
    val gc = VersionedLake.beginGroupCommit(spark, root)
    gc.write("t", rows.toDF("id", "payload", "cid").repartition(2),
      partitionBy = Seq("cid"))
    gc.write("applied", Seq(0L).toDF("batch_id"))
    gc.publish()
    // pass 1 re-packs both dirs (2 files each) down to one file per value
    StreamingRetention.compactState(spark, root,
      targetBytes = 64L * 1024 * 1024, carryTables = Set("applied"),
      partitioned = Map("t" -> Seq("cid")), keepVersions = 1)
    def tFiles() = VersionedLake.snapshot(spark, root).tables("t")
    val Seq(quiet) = tFiles().filter(_.contains("cid=2"))
    val m0 = mtime(root, quiet)
    // one new append lands in cid=1 ONLY: cid=2 stays a solo-file dir
    val gc2 = VersionedLake.beginGroupCommit(spark, root)
    gc2.write("t", Seq((900L, "new", 1L)).toDF("id", "payload", "cid")
      .repartition(1), mode = "append", partitionBy = Seq("cid"))
    gc2.carry("applied")
    gc2.publish()
    StreamingRetention.compactState(spark, root,
      targetBytes = 64L * 1024 * 1024, carryTables = Set("applied"),
      partitioned = Map("t" -> Seq("cid")), keepVersions = 1)
    val after = tFiles()
    assert(after.contains(quiet),
      s"solo-file dir cid=2 must be carried verbatim: $after")
    assert(mtime(root, quiet) == m0, "carried file's bytes were touched")
    assert(after.count(_.contains("cid=1")) == 1,
      s"busy dir cid=1 (2-file tail) must re-pack to one file: $after")
    assert(StreamingRetention.lastCompactionStats.exists(_.contains(
      "carried 1, rewrote 2")), StreamingRetention.lastCompactionStats)
    // rows identical through the per-dir pass
    assert(VersionedLake.readTable(spark, root, "t",
        schemaDDL = "id BIGINT, payload STRING, cid BIGINT")
      .select("id").as[Long].collect().toSet ==
      (rows.map(_._1).toSet + 900L))
  }

  test("skew salting matches the NULL partition value: a hot " +
    "__HIVE_DEFAULT_PARTITION__ dir splits (isNull condition — a === " +
    "literal compare would silently skip every null row)") {
    val root = Files.createTempDirectory("sret_null").toString + "/state"
    val pad = "x" * 400
    val rows: Seq[(Long, String, java.lang.Long)] =
      (1 to 4000).map(i => (i.toLong, s"$pad$i", null: java.lang.Long)) ++
        (1 to 20).map(i => (10000L + i, s"v$i", java.lang.Long.valueOf(2L)))
    val gc = VersionedLake.beginGroupCommit(spark, root)
    gc.write("t", rows.take(2000).toDF("id", "payload", "cid")
      .repartition(4), partitionBy = Seq("cid"))
    gc.write("applied", Seq(0L).toDF("batch_id"))
    gc.publish()
    val gc2 = VersionedLake.beginGroupCommit(spark, root)
    gc2.write("t", rows.drop(2000).toDF("id", "payload", "cid")
      .repartition(4), mode = "append", partitionBy = Seq("cid"))
    gc2.carry("applied")
    gc2.publish()
    val hotBytes = VersionedLake.snapshot(spark, root).tables("t")
      .filter(_.contains("__HIVE_DEFAULT_PARTITION__"))
      .map(rel => new java.io.File(s"$root/$rel").length()).sum
    assert(hotBytes > 0, "fixture must land a null-partition dir")
    val nv = StreamingRetention.compactState(spark, root, hotBytes / 3,
      carryTables = Set("applied"), partitioned = Map("t" -> Seq("cid")),
      keepVersions = 1)
    val after = VersionedLake.snapshot(spark, root, Some(nv)).tables("t")
    assert(after.count(_.contains("__HIVE_DEFAULT_PARTITION__")) >= 2,
      s"hot NULL value must salt-split: $after")
    // rows (null cids included) survive the salted rewrite
    val back = VersionedLake.readTable(spark, root, "t",
      schemaDDL = "id BIGINT, payload STRING, cid BIGINT")
    assert(back.count() == 4020)
    assert(back.filter("cid IS NULL").count() == 4000)
  }

  test("retention horizon (default keepVersions = 2): the version " +
    "preceding the compaction stays readable — an external reader that " +
    "resolved latest just before the pass survives it; older versions " +
    "fail loudly") {
    val root = Files.createTempDirectory("sret_hz").toString + "/state"
    applyB(root, 0L, Seq((10L, base)))                       // v1
    applyB(root, 1L, Seq((11L, "quite different words here"))) // v2
    val vPre = VersionedLake.versions(spark, root).last
    val nv = StreamingDedup.compactState(spark, root)        // v3, default horizon
    assert(VersionedLake.versions(spark, root) == Seq(vPre, nv))
    // the pre-compaction snapshot is intact: same survivors at vPre
    assert(VersionedLake.readTable(spark, root, "survivors", Some(vPre))
      .select("doc_id").as[Long].collect().toSet == Set(10L, 11L))
    // below the horizon fails with the branded error
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.readTable(spark, root, "survivors", Some(1L))
    }
    assert(ex.getMessage.contains("version 1 not in"))
  }

  test("race detection: a batch commit landing between the compaction's " +
    "state read and its publish ABORTS the compaction — no committed row " +
    "is ever lost, the claim is released, and the next cadence compacts") {
    val root = Files.createTempDirectory("sret_race").toString + "/state"
    applyB(root, 0L, Seq((10L, base), (11L, "entirely different words here")))
    val v1 = VersionedLake.versions(spark, root).last
    // the racing commit fires inside the pass's read->publish window
    val ret = StreamingRetention.compactState(spark, root,
      targetBytes = 64L * 1024 * 1024, carryTables = Set("applied"),
      raceWindow = () =>
        assert(applyB(root, 1L, Seq((5L, base + " tail")))))
    // the compaction aborted: latest is the RACING COMMIT's version and
    // every committed row (batch 0 AND the raced batch 1) is visible
    assert(ret == VersionedLake.versions(spark, root).last)
    assert(StreamingDedup.survivors(spark, root)
      .select("doc_id").as[Long].collect().toSet == Set(10L, 11L, 5L))
    assert(VersionedLake.readTable(spark, root, "hashed")
      .select("id").as[Long].collect().toSet == Set(10L, 11L, 5L))
    assert(StreamingRetention.lastCompactionStats.exists(
      _.startsWith("aborted")))
    // the aborted claim was released + staged data swept: no version
    // number between v1 and latest is claimed, and the next cadence's
    // compaction publishes normally with full state
    val nv = StreamingDedup.compactState(spark, root, keepVersions = 1)
    assert(VersionedLake.versions(spark, root) == Seq(nv))
    assert(StreamingDedup.survivors(spark, root)
      .select("doc_id").as[Long].collect().toSet == Set(10L, 11L, 5L))
  }

  test("race detection: a still-in-flight LOWER-numbered claim (a slow " +
    "commit that claimed before the pass) aborts the publish; once the " +
    "claim expires past the TTL it no longer blocks") {
    val root = Files.createTempDirectory("sret_claim").toString + "/state"
    applyB(root, 0L, Seq((10L, base)))
    val v1 = VersionedLake.versions(spark, root).last
    // simulate a slow committer: claim the next number, publish nothing
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val store = new graft.sources.HadoopManifestStore(fs, root)
    val slow = v1 + 1
    assert(store.tryClaim(slow))
    val ret = StreamingRetention.compactState(spark, root,
      targetBytes = 64L * 1024 * 1024, carryTables = Set("applied"))
    assert(ret == v1, "compaction must abort while the claim is in flight")
    assert(VersionedLake.versions(spark, root) == Seq(v1))
    // age the claim past the TTL -> it reads as a crashed commit and the
    // pass proceeds
    assert(new java.io.File(s"$root/_manifests/v$slow.claim")
      .setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
    val nv = StreamingRetention.compactState(spark, root,
      targetBytes = 64L * 1024 * 1024, carryTables = Set("applied"),
      keepVersions = 1)
    assert(nv > slow)
    assert(VersionedLake.versions(spark, root) == Seq(nv))
    assert(VersionedLake.readTable(spark, root, "survivors")
      .select("doc_id").as[Long].collect().toSet == Set(10L))
  }
}
