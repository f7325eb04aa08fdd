package graft.sources

import java.nio.file.Files
import graft.SparkSpec

class VersionedLakeSpec extends SparkSpec {
  import spark.implicits._

  test("commit/read: overwrite versions are isolated snapshots") {
    val tbl = Files.createTempDirectory("vlake").toString
    val v1 = VersionedLake.commit(Seq(1, 2, 3).toDF("x"), tbl)
    val v2 = VersionedLake.commit(Seq(10, 20).toDF("x"), tbl)
    assert((v1, v2) == ((1L, 2L)))
    assert(VersionedLake.read(spark, tbl).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(10, 20))                      // latest = v2
    assert(VersionedLake.read(spark, tbl, Some(1L)).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3)) // time travel
  }

  test("publish survives a stale tmp from a crashed committer: the retry " +
    "replaces it instead of throwing FileAlreadyExistsException") {
    val tbl = Files.createTempDirectory("vlake-staletmp").toString
    // simulate a committer that crashed AFTER creating v1.json.tmp but
    // BEFORE the rename — the claim made v1 exclusive, so a retry of the
    // same version must be able to re-publish over the stale tmp
    val mdir = new java.io.File(tbl, "_manifests")
    mdir.mkdirs()
    Files.write(new java.io.File(mdir, "v1.json.tmp").toPath,
      "{\"version\":1,\"files\":[]}".getBytes)
    val v1 = VersionedLake.commit(Seq(7, 8).toDF("x"), tbl)
    assert(v1 == 1L)
    assert(VersionedLake.read(spark, tbl).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(7, 8))
  }

  test("append mode unions files without rewriting data") {
    val tbl = Files.createTempDirectory("vlake2").toString
    VersionedLake.commit(Seq(1).toDF("x"), tbl)
    VersionedLake.commit(Seq(2).toDF("x"), tbl, mode = "append")
    assert(VersionedLake.read(spark, tbl).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2))
    // v1 unchanged by the append
    assert(VersionedLake.read(spark, tbl, Some(1L)).collect()
      .map(_.getInt(0)).toSeq == Seq(1))
  }

  test("schema evolution: append commit adds a column, reads merge permissively") {
    val tbl = Files.createTempDirectory("vlake-evolve").toString
    VersionedLake.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), tbl)
    // v2 appends files carrying an EXTRA column — drift, not a rewrite
    VersionedLake.commit(Seq((3, "c", 30.0)).toDF("k", "v", "score"), tbl,
      mode = "append")
    val latest = VersionedLake.read(spark, tbl)
    assert(latest.columns.sorted.toSeq == Seq("k", "score", "v"))
    val rows = latest.select("k", "v", "score").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
    // rows written before the column existed come back null, not an error
    assert(rows == Seq((1, "a", None), (2, "b", None), (3, "c", Some(30.0))))
    // pinned time travel to v1 returns exactly v1's schema — the new
    // column does not leak backwards
    val v1 = VersionedLake.read(spark, tbl, Some(1L))
    assert(v1.columns.sorted.toSeq == Seq("k", "v"))
    assert(v1.count() == 2)
  }

  test("partitioned commit: partition columns recovered, scan pruned, schemaDDL pins types") {
    val tbl = Files.createTempDirectory("vlake-part").toString
    VersionedLake.commit(
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 2L))
        .toDF("id", "payload", "cid"),
      tbl, partitionBy = Seq("cid"))
    // partition column comes back (basePath anchoring), typed by the DDL
    val df = VersionedLake.read(spark, tbl,
      schemaDDL = "id BIGINT, payload STRING, cid BIGINT")
    assert(df.schema("cid").dataType.typeName == "long")
    assert(df.count() == 4)
    // a cid filter prunes at the PARTITION level, not per-row
    val pruned = df.where($"cid" === 0L)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined, plan)
    // append of a new partition layout version still reads as one table
    VersionedLake.commit(Seq((9L, "z", 3L)).toDF("id", "payload", "cid"),
      tbl, mode = "append", partitionBy = Seq("cid"))
    assert(VersionedLake.read(spark, tbl,
      schemaDDL = "id BIGINT, payload STRING, cid BIGINT").count() == 5)
  }

  test("vacuum drops unreferenced files and old manifests, keeps live versions") {
    val tbl = Files.createTempDirectory("vlake3").toString
    VersionedLake.commit(Seq(1).toDF("x"), tbl)
    VersionedLake.commit(Seq(2).toDF("x"), tbl)
    val deleted = VersionedLake.vacuum(spark, tbl, keepFrom = 2L)
    assert(deleted >= 1)
    assert(VersionedLake.versions(spark, tbl) == Seq(2L))
    assert(VersionedLake.read(spark, tbl).collect().map(_.getInt(0))
      .toSeq == Seq(2))
    intercept[IllegalArgumentException](
      VersionedLake.read(spark, tbl, Some(1L)))
    // refusing to delete everything
    intercept[IllegalArgumentException](
      VersionedLake.vacuum(spark, tbl, keepFrom = 99L))
  }

  test("two interleaved committers: atomic version claims, unique version " +
    "numbers, every manifest a consistent snapshot") {
    val tbl = Files.createTempDirectory("vlakec").toString
    val perThread = 6
    val committed = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long)]())
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    // each committer writes overwrite snapshots whose row count encodes
    // (writer, iteration) — a torn commit would surface as a count outside
    // the valid set
    def runner(id: Int) = new Thread(() => {
      for (i <- 1 to perThread) {
        try {
          val rows = 100 * id + i
          val v = VersionedLake.commit(
            spark.range(rows.toLong).toDF("x"), tbl)
          committed.add(id -> v)
        } catch { case _: Throwable => failures.incrementAndGet() }
      }
    })
    val ts = Seq(runner(1), runner(2))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(failures.get() == 0, "claim retry must absorb every race")
    // every commit got a UNIQUE version number
    val vs = committed.toArray.map(_.asInstanceOf[(Int, Long)]._2).toSeq
    assert(vs.distinct.size == 2 * perThread)
    assert(VersionedLake.versions(spark, tbl).toSet == vs.toSet)
    // every version reads back as exactly one writer's snapshot — no
    // interleaved data dirs, no torn manifest
    val validCounts = (for (id <- 1 to 2; i <- 1 to perThread)
      yield (100 * id + i).toLong).toSet
    for (v <- vs)
      assert(validCounts.contains(
        VersionedLake.read(spark, tbl, Some(v)).count()))
  }

  test("vacuum spares an IN-FLIGHT commit's data files (claim ≥ keepFrom, " +
    "manifest not yet landed); a crashed claim below keepFrom is swept") {
    val tbl = Files.createTempDirectory("vlakeif").toString
    for (n <- Seq(10L, 20L, 30L))
      VersionedLake.commit(spark.range(n).toDF("x"), tbl)
    // simulate a committer mid-commit at v4: claim taken, data being
    // written, manifest NOT yet renamed in
    val manifests = new java.io.File(s"$tbl/_manifests")
    assert(new java.io.File(manifests, "v4.claim").createNewFile())
    val inflightDir = new java.io.File(s"$tbl/_data/v4")
    assert(inflightDir.mkdirs())
    val inflightFile = new java.io.File(inflightDir, "part-0.parquet")
    java.nio.file.Files.write(inflightFile.toPath, Array[Byte](1, 2, 3))
    VersionedLake.vacuum(spark, tbl, keepFrom = 3L)
    // the unreferenced-but-claimed v4 file SURVIVES — sweeping it would
    // corrupt v4 the moment its manifest lands
    assert(inflightFile.exists())
    assert(new java.io.File(manifests, "v4.claim").exists())
    VersionedLake.commit(spark.range(5L).toDF("x"), tbl) // lands as v5
    // below keepFrom but the claim is YOUNG (within the TTL): a slow
    // in-flight commit claimed before v5 landed — still protected
    VersionedLake.vacuum(spark, tbl, keepFrom = 5L)
    assert(inflightFile.exists())
    assert(new java.io.File(manifests, "v4.claim").exists())
    // below keepFrom AND TTL expired: a crashed commit — data swept,
    // claim removed, number stays burned
    VersionedLake.vacuum(spark, tbl, keepFrom = 5L, claimTtlMs = 0L)
    assert(!inflightFile.exists())
    assert(!new java.io.File(manifests, "v4.claim").exists())
    assert(VersionedLake.read(spark, tbl).count() == 5L)
  }

  test("readers stay consistent mid-vacuum; crashed claims burn a number " +
    "without wedging the table") {
    val tbl = Files.createTempDirectory("vlakev").toString
    for (n <- Seq(10L, 20L, 30L))
      VersionedLake.commit(spark.range(n).toDF("x"), tbl)
    // a reader resolved on the latest version is untouched by a vacuum
    // that drops older versions, even if the delete runs mid-read
    val pinned = VersionedLake.read(spark, tbl, Some(3L))
    assert(VersionedLake.vacuum(spark, tbl, keepFrom = 3L) > 0)
    assert(pinned.count() == 30L) // kept version: files all alive
    intercept[IllegalArgumentException](
      VersionedLake.read(spark, tbl, Some(1L))) // dropped version is gone
    // simulate a committer that died between claim and manifest
    val claims = new java.io.File(s"$tbl/_manifests")
    assert(new java.io.File(claims, "v4.claim").createNewFile())
    // the next commit skips the burned number instead of wedging
    assert(VersionedLake.commit(spark.range(5L).toDF("x"), tbl) == 5L)
    assert(VersionedLake.read(spark, tbl).count() == 5L)
    // vacuum sweeps the orphaned claim once it falls below keepFrom AND
    // its in-flight TTL expires (ttl=0 = "treat every stale claim as dead")
    VersionedLake.vacuum(spark, tbl, keepFrom = 5L, claimTtlMs = 0L)
    assert(!new java.io.File(claims, "v4.claim").exists())
    assert(VersionedLake.read(spark, tbl).count() == 5L)
  }

  /** Object-store fake: the three blob ops with REAL conditional-PUT
    * semantics — `putIfAbsent` is a single atomic ConcurrentHashMap
    * operation, so racing writers resolve exactly like an S3
    * `If-None-Match: *` precondition (one 200, the rest 412).
    */
  private final class InMemoryCasStore extends CasBlobStore {
    private val m = new java.util.concurrent.ConcurrentHashMap[
      String, (Array[Byte], Long)]()
    val putAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def putIfAbsent(key: String, bytes: Array[Byte]): Boolean = {
      putAttempts.incrementAndGet()
      m.putIfAbsent(key, (bytes, System.currentTimeMillis())) == null
    }
    def get(key: String): Option[Array[Byte]] = Option(m.get(key)).map(_._1)
    def list(prefix: String): Seq[String] = {
      import scala.jdk.CollectionConverters._
      m.keySet().asScala.toSeq.filter(_.startsWith(prefix)).sorted
    }
    def delete(key: String): Unit = m.remove(key)
    def modifiedAtMs(key: String): Option[Long] = Option(m.get(key)).map(_._2)
  }

  test("CAS manifest store: commit/read/append/time-travel round-trip with " +
    "conditional-PUT visibility (no rename anywhere)") {
    val tbl = Files.createTempDirectory("vlakecas").toString
    val blob = new InMemoryCasStore
    val store = Some(new CasManifestStore(blob): ManifestStore)
    val v1 = VersionedLake.commit(Seq(1, 2, 3).toDF("x"), tbl,
      manifestStore = store)
    val v2 = VersionedLake.commit(Seq(10).toDF("x"), tbl, mode = "append",
      manifestStore = store)
    assert((v1, v2) == ((1L, 2L)))
    assert(VersionedLake.read(spark, tbl, manifestStore = store)
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 10))
    assert(VersionedLake.read(spark, tbl, Some(1L), manifestStore = store)
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    // NO manifest artifacts on the filesystem: visibility lives in the blob
    assert(!new java.io.File(s"$tbl/_manifests").exists())
    assert(blob.list("_manifests/").size == 4) // 2 claims + 2 manifests
    // vacuum over the CAS store: v2 (append) CARRIES v1's data files, so
    // the live-set keeps them all — nothing data-bearing may die (the old
    // `>= 1` count was the swept _SUCCESS sidecar, which the session no
    // longer writes; see GraftSession's committer note). v2 stays readable
    assert(VersionedLake.vacuum(spark, tbl, keepFrom = 2L,
      manifestStore = store) >= 0)
    assert(VersionedLake.versions(spark, tbl, manifestStore = store)
      == Seq(2L))
    assert(VersionedLake.read(spark, tbl, manifestStore = store)
      .count() == 4L)
  }

  test("CAS manifest store: two interleaved committers resolve every " +
    "claim race via conditional PUT — unique versions, consistent snapshots") {
    val tbl = Files.createTempDirectory("vlakecasc").toString
    val blob = new InMemoryCasStore
    val store = Some(new CasManifestStore(blob): ManifestStore)
    val perThread = 6
    val committed = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long)]())
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    def runner(id: Int) = new Thread(() => {
      for (i <- 1 to perThread) {
        try {
          val rows = 100 * id + i
          val v = VersionedLake.commit(spark.range(rows.toLong).toDF("x"),
            tbl, manifestStore = store)
          committed.add(id -> v)
        } catch { case _: Throwable => failures.incrementAndGet() }
      }
    })
    val ts = Seq(runner(1), runner(2))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(failures.get() == 0, "claim retry must absorb every race")
    val vs = committed.toArray.map(_.asInstanceOf[(Int, Long)]._2).toSeq
    assert(vs.distinct.size == 2 * perThread)
    assert(VersionedLake.versions(spark, tbl, manifestStore = store)
      .toSet == vs.toSet)
    val validCounts = (for (id <- 1 to 2; i <- 1 to perThread)
      yield (100 * id + i).toLong).toSet
    for (v <- vs)
      assert(validCounts.contains(VersionedLake.read(spark, tbl, Some(v),
        manifestStore = store).count()))
  }

  test("CAS claim race: a pre-claimed version forces the committer to the " +
    "next number; a hijacked publish fails LOUDLY, never silently") {
    val tbl = Files.createTempDirectory("vlakecasr").toString
    val blob = new InMemoryCasStore
    val cas = new CasManifestStore(blob)
    val store = Some(cas: ManifestStore)
    // another committer already claimed v1: the conditional PUT rejects,
    // our commit retries and lands v2
    assert(cas.tryClaim(1L))
    assert(VersionedLake.commit(Seq(1).toDF("x"), tbl,
      manifestStore = store) == 2L)
    // a rival who claims each number BETWEEN our listing and our claim
    // makes every conditional PUT reject (the real race, not a stale
    // listing) → loud ConcurrentCommitException at maxAttempts, never a
    // silent overwrite
    val raced = new ManifestStore {
      def committedVersions() = cas.committedVersions()
      def claimedVersions() = cas.claimedVersions()
      def tryClaim(v: Long) = { cas.tryClaim(v); cas.tryClaim(v) }
      def publish(v: Long, m: Array[Byte]) = cas.publish(v, m)
      def readManifest(v: Long) = cas.readManifest(v)
      def deleteManifest(v: Long) = cas.deleteManifest(v)
      def deleteClaim(v: Long) = cas.deleteClaim(v)
      def claimModifiedAtMs(v: Long) = cas.claimModifiedAtMs(v)
    }
    intercept[VersionedLake.ConcurrentCommitException](
      VersionedLake.commit(Seq(2).toDF("x"), tbl, maxAttempts = 3,
        manifestStore = Some(raced)))
    // publish is ALSO first-writer-wins: a manifest that somehow exists at
    // our number (protocol violation) is an error, never a replacement
    assert(cas.publish(9L, "{\"version\":9,\"files\":[]}".getBytes))
    assert(!cas.publish(9L, "{\"version\":9,\"files\":[\"x\"]}".getBytes))
    assert(new String(cas.readManifest(9L)).contains("[]"))
  }

  test("group commit: one manifest spans every member table — atomic " +
    "visibility, time travel, staged derivation, append mode") {
    val root = Files.createTempDirectory("vlakeg").toString
    // v1 via the convenience wrapper
    val v1 = VersionedLake.commitAll(Seq(
      "dim" -> Seq((1, "a"), (2, "b")).toDF("k", "name"),
      "fact" -> Seq((1, 10.0), (2, 20.0)).toDF("k", "amt")), root)
    assert(v1 == 1L)
    assert(VersionedLake.readTable(spark, root, "dim").count() == 2)
    assert(VersionedLake.readTable(spark, root, "fact").count() == 2)
    // v2 via the staged path: the second table DERIVES from the first's
    // staged parquet, pre-publish; fact appends while dim overwrites
    val gc = VersionedLake.beginGroupCommit(spark, root)
    assert(gc.version == 2L)
    gc.write("dim", Seq((1, "a2"), (2, "b2"), (3, "c")).toDF("k", "name"))
    import org.apache.spark.sql.functions.col
    val derived = gc.readStaged("dim").select(col("k"),
      (col("k") * 100.0).as("amt"))
    gc.write("fact", derived, mode = "append")
    // NOTHING visible until publish: latest is still v1 for both tables
    assert(VersionedLake.versions(spark, root) == Seq(1L))
    assert(VersionedLake.readTable(spark, root, "dim").count() == 2)
    assert(gc.publish() == 2L)
    // after the single publish both tables move together
    assert(VersionedLake.readTable(spark, root, "dim").count() == 3)
    assert(VersionedLake.readTable(spark, root, "fact").count() == 5) // 2 + 3
    // pinned time travel reads the OLD pair consistently
    assert(VersionedLake.readTable(spark, root, "dim", Some(1L)).count() == 2)
    assert(VersionedLake.readTable(spark, root, "fact", Some(1L)).count() == 2)
    // unknown member table fails loudly
    intercept[java.io.FileNotFoundException](
      VersionedLake.readTable(spark, root, "nope"))
    // vacuumGroup: v1's files die, v2 stays fully readable (including the
    // appended fact files it carried from v1)
    assert(VersionedLake.vacuumGroup(spark, root, keepFrom = 2L) >= 0)
    assert(VersionedLake.readTable(spark, root, "fact").count() == 5)
    intercept[IllegalArgumentException](
      VersionedLake.readTable(spark, root, "dim", Some(1L)))
  }

  test("group commit carry: an unchanged table re-lists in the new " +
    "version with no data write; unknown tables and first versions " +
    "refuse loudly") {
    val root = Files.createTempDirectory("vlakec").toString
    // no previous version yet: nothing to carry from
    val gc0 = VersionedLake.beginGroupCommit(spark, root)
    intercept[IllegalArgumentException](gc0.carry("model"))
    gc0.write("model", Seq((0L, "m")).toDF("cid", "m"))
    gc0.write("rows", Seq((1L, 1.0)).toDF("id", "x"))
    assert(gc0.publish() == 1L)
    // v2 changes rows, carries model — the manifest must still list it
    val gc1 = VersionedLake.beginGroupCommit(spark, root)
    gc1.carry("model")
    intercept[IllegalArgumentException](gc1.carry("nope")) // not in v1
    gc1.write("rows", Seq((2L, 2.0)).toDF("id", "x"), mode = "append")
    assert(gc1.publish() == 2L)
    assert(VersionedLake.readTable(spark, root, "model").count() == 1)
    assert(VersionedLake.readTable(spark, root, "rows").count() == 2)
    // the carried listing points at v1's files — no duplicate data dirs
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/model/_data/v2")))
    // and vacuuming to keepFrom=2 must SPARE the carried v1 model files
    VersionedLake.vacuumGroup(spark, root, keepFrom = 2L)
    assert(VersionedLake.readTable(spark, root, "model").count() == 1)
  }

  test("manifest round-trips partition VALUES containing commas/brackets " +
    "(escapePathName leaves them raw) on both single tables and groups") {
    import org.apache.spark.sql.functions.col
    // `,` and `]` survive Spark's partition-path escaping verbatim, so a
    // split/regex manifest parser would shred these paths; the quote-aware
    // tokenizer must not
    val df = Seq(("a,b", 1), ("c]d", 2), ("plain", 3)).toDF("k", "v")
    val tbl = Files.createTempDirectory("vlake-comma").toString
    VersionedLake.commit(df, tbl, partitionBy = Seq("k"))
    val got = VersionedLake.read(spark, tbl, schemaDDL = "v INT, k STRING")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).sorted.toSeq
    assert(got == Seq(("a,b", 1), ("c]d", 2), ("plain", 3)))
    // vacuum's live-set must keep every referenced file despite the commas
    // (only unreferenced sidecars — _SUCCESS/.crc — may be swept): both
    // kept versions stay fully readable after the vacuum
    VersionedLake.commit(df.filter(col("v") === 1), tbl, partitionBy = Seq("k"))
    VersionedLake.vacuum(spark, tbl, keepFrom = 1L)
    assert(VersionedLake.read(spark, tbl, Some(1L),
      schemaDDL = "v INT, k STRING").count() == 3)
    assert(VersionedLake.read(spark, tbl, Some(2L),
      schemaDDL = "v INT, k STRING").count() == 1)
    val root = Files.createTempDirectory("vlakeg-comma").toString
    VersionedLake.commitAll(Seq("t" -> df), root)
    val gotG = VersionedLake.readTable(spark, root, "t",
      schemaDDL = "v INT, k STRING")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).sorted.toSeq
    assert(gotG == got)
    VersionedLake.vacuumGroup(spark, root, keepFrom = 1L)
    assert(VersionedLake.readTable(spark, root, "t",
      schemaDDL = "v INT, k STRING").count() == 3)
    // member tables may not collide with the store's metadata dirs
    intercept[IllegalArgumentException](
      VersionedLake.commitAll(Seq("_manifests" -> df), root))
    intercept[IllegalArgumentException](
      VersionedLake.commitAll(Seq("_data" -> df), root))
  }

  test("group commit: interleaved multi-table committers on BOTH stores — " +
    "a reader can never observe table A at version n and B at n-1") {
    def run(store: Option[ManifestStore], root: String): Unit = {
      val perThread = 4
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      // each commit writes BOTH tables with the same (writer, iteration)
      // tag encoded in the row count; a torn group would surface as a
      // version whose two tables decode different tags
      def runner(id: Int) = new Thread(() => {
        for (i <- 1 to perThread) {
          try {
            val rows = (100 * id + i).toLong
            VersionedLake.commitAll(Seq(
              "a" -> spark.range(rows).toDF("x"),
              "b" -> spark.range(rows * 2).toDF("x")), root,
              manifestStore = store)
          } catch { case _: Throwable => failures.incrementAndGet() }
        }
      })
      val ts = Seq(runner(1), runner(2))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(failures.get() == 0, "claim retry must absorb every race")
      val vs = VersionedLake.versions(spark, root, manifestStore = store)
      assert(vs.size == 2 * perThread)
      for (v <- vs) {
        val na = VersionedLake.readTable(spark, root, "a", Some(v),
          manifestStore = store).count()
        val nb = VersionedLake.readTable(spark, root, "b", Some(v),
          manifestStore = store).count()
        assert(nb == na * 2, s"torn group at v$v: a=$na b=$nb")
      }
    }
    run(None, Files.createTempDirectory("vlakegc1").toString)
    val blob = new InMemoryCasStore
    run(Some(new CasManifestStore(blob): ManifestStore),
      Files.createTempDirectory("vlakegc2").toString)
    // CAS path really went through the blob: claims + manifests live there
    assert(blob.list("_manifests/").count(_.endsWith(".json")) == 8)
  }

  test("group writeAll: a failing member write leaves nothing behind — " +
    "writeAll waits out every writer, the abort sweeps both tables and " +
    "releases the claim") {
    import org.apache.spark.sql.functions.{col, udf}
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("vlakegf").toString
    VersionedLake.commitAll(Seq(
      "a" -> Seq(1L).toDF("x"), "b" -> Seq(1L).toDF("x")), root)
    val before = VersionedLake.versions(spark, root)
    val boom = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom") else x)
    val slow = udf((x: Long) => { Thread.sleep(500); x })
    val gc = VersionedLake.beginGroupCommit(spark, root)
    val n = gc.version
    val t0 = System.nanoTime()
    val e = intercept[Exception](VersionedLake.runOrAbort(gc) {
      gc.writeAll(Seq(
        ("a", spark.range(0, 1, 1, 1).select(boom(col("id")).as("x")),
          "append", Nil),
        ("b", spark.range(0, 1, 1, 1).select(slow(col("id")).as("x")),
          "append", Nil)))
      gc.publish()
    })
    // the failure surfaced only after the slow sibling finished
    assert((System.nanoTime() - t0) / 1000000 >= 450)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def leftovers = Seq("a", "b")
      .filter(t => fs.exists(new Path(s"$root/$t/_data/v$n")))
    assert(leftovers.isEmpty)
    Thread.sleep(1000) // no zombie writer re-creates a swept directory
    assert(leftovers.isEmpty)
    assert(VersionedLake.versions(spark, root) == before)
    // the released claim is reused: the retry lands the same number clean
    val gc2 = VersionedLake.beginGroupCommit(spark, root)
    assert(gc2.version == n)
    gc2.writeAll(Seq(
      ("a", Seq(2L).toDF("x"), "append", Nil),
      ("b", Seq(3L).toDF("x"), "append", Nil)))
    assert(gc2.publish() == n)
    def rows(t: String) = VersionedLake.readTable(spark, root, t)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(rows("a") == Seq(1L, 2L))
    assert(rows("b") == Seq(1L, 3L))
  }

  test("duplicate-task-commit detector: a legal multi-file task output " +
    "(maxRecordsPerFile) publishes without a false positive") {
    val root = Files.createTempDirectory("vlakemrpf").toString
    val key = "spark.sql.files.maxRecordsPerFile"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val gc = VersionedLake.beginGroupCommit(spark, root)
      gc.write("t", spark.range(0, 5, 1, 1).toDF("x"))
      assert(gc.publish() == 1L)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // one task wrote five files: same partition number, same attempt UUID
    val partFile = "part-(\\d+)-([0-9a-fA-F-]{36})".r.unanchored
    val ids = VersionedLake.tableFiles(spark, root, "t")
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
      .collect { case partFile(num, uuid) => (num, uuid) }
    assert(ids.size == 5)
    assert(ids.distinct.size == 1, ids)
    assert(VersionedLake.readTable(spark, root, "t").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 5L))
  }
}
