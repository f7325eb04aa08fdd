package graft.state

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ProgressLedgerSpec extends SparkSpec {
  import spark.implicits._

  test("resume flow: all pending → mark some → remaining shrinks; re-mark is harmless") {
    val ledger = ProgressLedger(spark, Files.createTempDirectory("ledger").toString + "/p")
    val candidates = Seq("w1", "w2", "w3", "w4").toDF("op")
    assert(ledger.remaining(candidates, "op").count() == 4)
    val doneAt = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    ledger.markDone(Seq("w1", "w3").toDF("op"), "op", "run-1", doneAt)
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("w2", "w4"))
    // duplicate marks don't break resume
    ledger.markDone(Seq("w1").toDF("op"), "op", "run-2", doneAt)
    assert(ledger.remaining(candidates, "op").count() == 2)
    ledger.markDone(Seq("w2", "w4").toDF("op"), "op", "run-2", doneAt)
    assert(ledger.remaining(candidates, "op").count() == 0)
  }

  test("crash mid-append cannot tear a mark batch: data files without a " +
    "published manifest stay invisible, resume sees the previous version") {
    val root = Files.createTempDirectory("ledger").toString + "/p"
    val ledger = ProgressLedger(spark, root)
    val candidates = Seq("w1", "w2", "w3").toDF("op")
    val doneAt = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    ledger.markDone(Seq("w1").toDF("op"), "op", "run-1", doneAt)
    assert(ledger.remaining(candidates, "op").count() == 2)
    // simulate the crash window: a later markDone died AFTER writing its
    // version-directory data files but BEFORE publishing the manifest —
    // exactly where a plain parquet append would surface a torn batch
    Seq("w2").toDF("op").select(col("op").as("operator_key"))
      .withColumn("run_id", lit("run-died"))
      .withColumn("done_at", lit(doneAt))
      .write.parquet(s"$root/marks/_data/v99")
    // the orphaned files are INVISIBLE: w2 still pending, w1 still done
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("w2", "w3"))
    // and the next successful markDone proceeds normally past the orphan
    ledger.markDone(Seq("w2").toDF("op"), "op", "run-2", doneAt)
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).toSeq == Seq("w3"))
  }

  test("a pre-versioned plain-parquet ledger keeps counting: legacy marks " +
    "are read, and new versioned marks coexist at the same path") {
    val root = Files.createTempDirectory("ledger").toString + "/p"
    val doneAt = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    // the pre-round-13 layout: plain parquet part-files directly at path
    Seq("w1").toDF("op").select(col("op").as("operator_key"))
      .withColumn("run_id", lit("legacy-run"))
      .withColumn("done_at", lit(doneAt))
      .write.parquet(root)
    val ledger = ProgressLedger(spark, root)
    val candidates = Seq("w1", "w2", "w3").toDF("op")
    // an upgrade must NOT re-queue legacy-completed work
    assert(ledger.exists)
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("w2", "w3"))
    // new marks commit versioned; both layouts read together
    ledger.markDone(Seq("w2").toDF("op"), "op", "run-2", doneAt)
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).toSeq == Seq("w3"))
  }

  test("legacy → versioned migration through a TORN manifest: a crashed " +
    "commit's claim + data + unrenamed tmp manifest stays invisible, " +
    "resume sees exactly legacy ∪ committed, and the next append skips " +
    "the burned claim number") {
    import graft.sources.VersionedLake
    val root = Files.createTempDirectory("ledger").toString + "/p"
    val doneAt = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    // phase 1 — the pre-versioned layout: legacy plain parquet marks w1
    Seq("w1").toDF("op").select(col("op").as("operator_key"))
      .withColumn("run_id", lit("legacy-run"))
      .withColumn("done_at", lit(doneAt))
      .write.parquet(root)
    val ledger = ProgressLedger(spark, root)
    // phase 2 — versioned appends begin at the same path: v1 marks w2
    ledger.markDone(Seq("w2").toDF("op"), "op", "run-2", doneAt)
    // phase 3 — a commit CRASHES at the most-torn point: version claimed,
    // data files written, group manifest bytes staged as v2.json.tmp, but
    // the atomic rename (the ONLY visibility event) never happened
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val store = new graft.sources.HadoopManifestStore(fs, root)
    assert(store.tryClaim(2))
    Seq("w3").toDF("op").select(col("op").as("operator_key"))
      .withColumn("run_id", lit("run-died"))
      .withColumn("done_at", lit(doneAt))
      .write.parquet(s"$root/marks/_data/v2")
    val tornFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/marks/_data/v2"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => "\"marks/_data/v2/" + n + "\"").sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_manifests/v2.json.tmp"),
      tornFiles.mkString("{\"version\":2,\"tables\":{\"marks\":[", ",", "]}}")
        .getBytes("UTF-8"))
    // resume sees EXACTLY the committed union: legacy w1 + versioned w2;
    // the torn w3 is invisible (tmp manifest is not a committed version)
    assert(VersionedLake.versions(spark, root) == Seq(1L))
    val candidates = Seq("w1", "w2", "w3", "w4").toDF("op")
    assert(ledger.exists)
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("w3", "w4"))
    // phase 4 — the next successful append SKIPS the burned claim (v2
    // stays a tombstone) and the re-queued w3 completes normally
    ledger.markDone(Seq("w3").toDF("op"), "op", "run-3", doneAt)
    assert(VersionedLake.versions(spark, root) == Seq(1L, 3L))
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).toSeq == Seq("w4"))
  }

  test("racing appends that fork the version chain lose no marks: reads " +
    "union EVERY committed manifest, not just the latest") {
    import graft.sources.VersionedLake
    val root = Files.createTempDirectory("ledger").toString + "/p"
    val ledger = ProgressLedger(spark, root)
    val candidates = Seq("w1", "w2", "w3", "w4").toDF("op")
    val doneAt = java.sql.Timestamp.valueOf("2026-08-12 00:00:00")
    ledger.markDone(Seq("w1").toDF("op"), "op", "run-1", doneAt) // v1 {w1}
    ledger.markDone(Seq("w2").toDF("op"), "op", "run-2", doneAt) // v2 {w1,w2}
    // simulate the documented append race: a second pipeline claimed v3
    // while still seeing v1 as latest, so ITS manifest carries v1's files
    // plus its own — omitting v2's w2 batch entirely
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val store = new graft.sources.HadoopManifestStore(fs, root)
    Seq("w3").toDF("op").select(col("op").as("operator_key"))
      .withColumn("run_id", lit("run-racer"))
      .withColumn("done_at", lit(doneAt))
      .write.parquet(s"$root/marks/_data/v3")
    val racerFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/marks/_data/v3"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(n => s"marks/_data/v3/$n").sorted
    val v1Files = "\"([^\"]+)\"".r
      .findAllMatchIn(new String(store.readManifest(1), "UTF-8"))
      .map(_.group(1)).filter(_.startsWith("marks/_data/")).toSeq
    val manifest = (v1Files ++ racerFiles).map(p => "\"" + p + "\"")
      .mkString("{\"version\":3,\"tables\":{\"marks\":[", ",", "]}}")
    assert(store.tryClaim(3))
    assert(store.publish(3, manifest.getBytes("UTF-8")))
    // latest manifest (v3) omits w2 — the union read must still see it
    assert(VersionedLake.versions(spark, root).last == 3L)
    assert(ledger.remaining(candidates, "op")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("w4"))
  }
}

class AuditListenerSpec extends SparkSpec {
  import spark.implicits._

  test("records one audit row per action and flushes to parquet") {
    val listener = AuditListener.install(spark)
    try {
      Seq(1, 2, 3).toDF("x").filter(col("x") > 1).count()
      // listener delivery is async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshot.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.snapshot.exists(r => r.status == "success" && r.durationNs >= 0))
      val out = Files.createTempDirectory("audit").toString + "/log"
      listener.flushTo(spark, out, "run-1")
      val back = spark.read.parquet(out)
      assert(back.count() >= 1)
      assert(back.columns.toSet ==
        Set("run_id", "func", "duration_ns", "status", "error"))
    } finally spark.listenerManager.unregister(listener)
  }
}
