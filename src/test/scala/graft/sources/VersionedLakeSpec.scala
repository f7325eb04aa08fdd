package graft.sources

import java.nio.file.Files
import graft.SparkSpec

class VersionedLakeSpec extends SparkSpec {
  import spark.implicits._

  // A single table is a one-member group: these specs commit member `t`.
  private def ints(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.collect().map(_.getInt(0)).sorted.toSeq

  private def readT(root: String, version: Option[Long] = None,
      schemaDDL: String = null): org.apache.spark.sql.DataFrame =
    VersionedLake.readTable(spark, root, "t", version, schemaDDL = schemaDDL)

  /** A one-member commit laid out Hive-style by `partitionBy`. */
  private def commitPartitioned(df: org.apache.spark.sql.DataFrame,
      root: String, partitionBy: Seq[String],
      mode: String = "overwrite"): Long = {
    val gc = VersionedLake.beginGroupCommit(spark, root)
    gc.write("t", df, mode, partitionBy)
    gc.publish()
  }

  test("commit/read: overwrite versions are isolated snapshots") {
    val tbl = Files.createTempDirectory("vlake").toString
    val v1 = VersionedLake.commitAll(Seq("t" -> Seq(1, 2, 3).toDF("x")), tbl)
    val v2 = VersionedLake.commitAll(Seq("t" -> Seq(10, 20).toDF("x")), tbl)
    assert((v1, v2) == ((1L, 2L)))
    assert(ints(readT(tbl)) == Seq(10, 20))                 // latest = v2
    assert(ints(readT(tbl, Some(1L))) == Seq(1, 2, 3))      // time travel
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
      "{\"version\":1,\"tables\":{\"t\":[]}}".getBytes)
    val v1 = VersionedLake.commitAll(Seq("t" -> Seq(7, 8).toDF("x")), tbl)
    assert(v1 == 1L)
    assert(ints(readT(tbl)) == Seq(7, 8))
  }

  test("append mode unions files without rewriting data") {
    val tbl = Files.createTempDirectory("vlake2").toString
    VersionedLake.commitAll(Seq("t" -> Seq(1).toDF("x")), tbl)
    VersionedLake.commitAll(Seq("t" -> Seq(2).toDF("x")), tbl, mode = "append")
    assert(ints(readT(tbl)) == Seq(1, 2))
    // v1 unchanged by the append
    assert(ints(readT(tbl, Some(1L))) == Seq(1))
  }

  test("schema evolution: append commit adds a column, reads merge permissively") {
    val tbl = Files.createTempDirectory("vlake-evolve").toString
    VersionedLake.commitAll(Seq("t" -> Seq((1, "a"), (2, "b")).toDF("k", "v")),
      tbl)
    // v2 appends files carrying an EXTRA column — drift, not a rewrite
    VersionedLake.commitAll(
      Seq("t" -> Seq((3, "c", 30.0)).toDF("k", "v", "score")), tbl,
      mode = "append")
    val latest = readT(tbl)
    assert(latest.columns.sorted.toSeq == Seq("k", "score", "v"))
    val rows = latest.select("k", "v", "score").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1).toSeq
    // rows written before the column existed come back null, not an error
    assert(rows == Seq((1, "a", None), (2, "b", None), (3, "c", Some(30.0))))
    // pinned time travel to v1 returns exactly v1's schema — the new
    // column does not leak backwards
    val v1 = readT(tbl, Some(1L))
    assert(v1.columns.sorted.toSeq == Seq("k", "v"))
    assert(v1.count() == 2)
  }

  test("partitioned commit: partition columns recovered, scan pruned, schemaDDL pins types") {
    val tbl = Files.createTempDirectory("vlake-part").toString
    commitPartitioned(
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 2L))
        .toDF("id", "payload", "cid"),
      tbl, Seq("cid"))
    // partition column comes back (basePath anchoring), typed by the DDL
    val df = readT(tbl, schemaDDL = "id BIGINT, payload STRING, cid BIGINT")
    assert(df.schema("cid").dataType.typeName == "long")
    assert(df.count() == 4)
    // a cid filter prunes at the PARTITION level, not per-row
    val pruned = df.where($"cid" === 0L)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cid".r.findFirstIn(plan).isDefined, plan)
    // append of a new partition layout version still reads as one table
    commitPartitioned(Seq((9L, "z", 3L)).toDF("id", "payload", "cid"),
      tbl, Seq("cid"), mode = "append")
    assert(readT(tbl,
      schemaDDL = "id BIGINT, payload STRING, cid BIGINT").count() == 5)
  }

  test("vacuum drops unreferenced files and old manifests, keeps live versions") {
    val tbl = Files.createTempDirectory("vlake3").toString
    VersionedLake.commitAll(Seq("t" -> Seq(1).toDF("x")), tbl)
    VersionedLake.commitAll(Seq("t" -> Seq(2).toDF("x")), tbl)
    val deleted = VersionedLake.vacuumGroup(spark, tbl, keepFrom = 2L)
    assert(deleted >= 1)
    assert(VersionedLake.versions(spark, tbl) == Seq(2L))
    assert(readT(tbl).collect().map(_.getInt(0)).toSeq == Seq(2))
    intercept[IllegalArgumentException](readT(tbl, Some(1L)))
    // refusing to delete everything
    intercept[IllegalArgumentException](
      VersionedLake.vacuumGroup(spark, tbl, keepFrom = 99L))
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
          val v = VersionedLake.commitAll(
            Seq("t" -> spark.range(rows.toLong).toDF("x")), tbl)
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
      assert(validCounts.contains(readT(tbl, Some(v)).count()))
  }

  test("vacuum spares an IN-FLIGHT commit's data files (claim ≥ keepFrom, " +
    "manifest not yet landed); a crashed claim below keepFrom is swept") {
    val tbl = Files.createTempDirectory("vlakeif").toString
    for (n <- Seq(10L, 20L, 30L))
      VersionedLake.commitAll(Seq("t" -> spark.range(n).toDF("x")), tbl)
    // simulate a committer mid-commit at v4: claim taken, data being
    // written, manifest NOT yet renamed in
    val manifests = new java.io.File(s"$tbl/_manifests")
    assert(new java.io.File(manifests, "v4.claim").createNewFile())
    val inflightDir = new java.io.File(s"$tbl/t/_data/v4")
    assert(inflightDir.mkdirs())
    val inflightFile = new java.io.File(inflightDir, "part-0.parquet")
    java.nio.file.Files.write(inflightFile.toPath, Array[Byte](1, 2, 3))
    VersionedLake.vacuumGroup(spark, tbl, keepFrom = 3L)
    // the unreferenced-but-claimed v4 file SURVIVES — sweeping it would
    // corrupt v4 the moment its manifest lands
    assert(inflightFile.exists())
    assert(new java.io.File(manifests, "v4.claim").exists())
    // lands as v5
    VersionedLake.commitAll(Seq("t" -> spark.range(5L).toDF("x")), tbl)
    // below keepFrom but the claim is YOUNG (within the TTL): a slow
    // in-flight commit claimed before v5 landed — still protected
    VersionedLake.vacuumGroup(spark, tbl, keepFrom = 5L)
    assert(inflightFile.exists())
    assert(new java.io.File(manifests, "v4.claim").exists())
    // below keepFrom AND TTL expired: a crashed commit — data swept,
    // claim removed, number stays burned
    VersionedLake.vacuumGroup(spark, tbl, keepFrom = 5L, claimTtlMs = 0L)
    assert(!inflightFile.exists())
    assert(!new java.io.File(manifests, "v4.claim").exists())
    assert(readT(tbl).count() == 5L)
  }

  test("readers stay consistent mid-vacuum; crashed claims burn a number " +
    "without wedging the table") {
    val tbl = Files.createTempDirectory("vlakev").toString
    for (n <- Seq(10L, 20L, 30L))
      VersionedLake.commitAll(Seq("t" -> spark.range(n).toDF("x")), tbl)
    // a reader resolved on the latest version is untouched by a vacuum
    // that drops older versions, even if the delete runs mid-read
    val pinned = readT(tbl, Some(3L))
    assert(VersionedLake.vacuumGroup(spark, tbl, keepFrom = 3L) > 0)
    assert(pinned.count() == 30L) // kept version: files all alive
    intercept[IllegalArgumentException](
      readT(tbl, Some(1L))) // dropped version is gone
    // simulate a committer that died between claim and manifest
    val claims = new java.io.File(s"$tbl/_manifests")
    assert(new java.io.File(claims, "v4.claim").createNewFile())
    // the next commit skips the burned number instead of wedging
    assert(VersionedLake.commitAll(Seq("t" -> spark.range(5L).toDF("x")),
      tbl) == 5L)
    assert(readT(tbl).count() == 5L)
    // vacuum sweeps the orphaned claim once it falls below keepFrom AND
    // its in-flight TTL expires (ttl=0 = "treat every stale claim as dead")
    VersionedLake.vacuumGroup(spark, tbl, keepFrom = 5L, claimTtlMs = 0L)
    assert(!new java.io.File(claims, "v4.claim").exists())
    assert(readT(tbl).count() == 5L)
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
    val v1 = VersionedLake.commitAll(Seq("t" -> Seq(1, 2, 3).toDF("x")), tbl,
      manifestStore = store)
    val v2 = VersionedLake.commitAll(Seq("t" -> Seq(10).toDF("x")), tbl,
      mode = "append", manifestStore = store)
    assert((v1, v2) == ((1L, 2L)))
    assert(ints(VersionedLake.readTable(spark, tbl, "t",
      manifestStore = store)) == Seq(1, 2, 3, 10))
    assert(ints(VersionedLake.readTable(spark, tbl, "t", Some(1L),
      manifestStore = store)) == Seq(1, 2, 3))
    // NO manifest artifacts on the filesystem: visibility lives in the blob
    assert(!new java.io.File(s"$tbl/_manifests").exists())
    assert(blob.list("_manifests/").size == 4) // 2 claims + 2 manifests
    // vacuum over the CAS store: v2 (append) CARRIES v1's data files, so
    // the live-set keeps them all — nothing data-bearing may die (the old
    // `>= 1` count was the swept _SUCCESS sidecar, which the session no
    // longer writes; see GraftSession's committer note). v2 stays readable
    assert(VersionedLake.vacuumGroup(spark, tbl, keepFrom = 2L,
      manifestStore = store) >= 0)
    assert(VersionedLake.versions(spark, tbl, manifestStore = store)
      == Seq(2L))
    assert(VersionedLake.readTable(spark, tbl, "t", manifestStore = store)
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
          val v = VersionedLake.commitAll(
            Seq("t" -> spark.range(rows.toLong).toDF("x")), tbl,
            manifestStore = store)
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
      assert(validCounts.contains(VersionedLake.readTable(spark, tbl, "t",
        Some(v), manifestStore = store).count()))
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
    assert(VersionedLake.commitAll(Seq("t" -> Seq(1).toDF("x")), tbl,
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
      VersionedLake.commitAll(Seq("t" -> Seq(2).toDF("x")), tbl,
        maxAttempts = 3, manifestStore = Some(raced)))
    // publish is ALSO first-writer-wins: a manifest that somehow exists at
    // our number (protocol violation) is an error, never a replacement
    assert(cas.publish(9L, "{\"version\":9,\"tables\":{\"t\":[]}}".getBytes))
    assert(!cas.publish(9L,
      "{\"version\":9,\"tables\":{\"t\":[\"x\"]}}".getBytes))
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
    // `,` survives Spark's partition-path escaping verbatim (`]` becomes
    // %5D), so a split/regex manifest parser would shred these paths; the
    // JSON codec must not
    val df = Seq(("a,b", 1), ("c]d", 2), ("plain", 3)).toDF("k", "v")
    val tbl = Files.createTempDirectory("vlake-comma").toString
    commitPartitioned(df, tbl, Seq("k"))
    val got = readT(tbl, schemaDDL = "v INT, k STRING")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).sorted.toSeq
    assert(got == Seq(("a,b", 1), ("c]d", 2), ("plain", 3)))
    // vacuum's live-set must keep every referenced file despite the commas
    // (only unreferenced sidecars — _SUCCESS/.crc — may be swept): both
    // kept versions stay fully readable after the vacuum
    commitPartitioned(df.filter(col("v") === 1), tbl, Seq("k"))
    VersionedLake.vacuumGroup(spark, tbl, keepFrom = 1L)
    assert(readT(tbl, Some(1L), schemaDDL = "v INT, k STRING").count() == 3)
    assert(readT(tbl, Some(2L), schemaDDL = "v INT, k STRING").count() == 1)
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

  test("commitAll: a member write that throws aborts the commit — no " +
    "claim and no _data/v{N} of its own stay behind, and the next commit " +
    "reuses the number") {
    import org.apache.spark.sql.functions.{col, udf}
    val root = Files.createTempDirectory("vlakeg-commitall-fail").toString
    VersionedLake.commitAll(Seq("t" -> Seq(1L).toDF("x")), root)
    val boom = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom") else x)
    // the first member stages cleanly, the second throws
    val e = intercept[Exception](VersionedLake.commitAll(Seq(
      "ok" -> Seq(5L).toDF("x"),
      "t" -> spark.range(0, 1, 1, 1).select(boom(col("id")).as("x"))),
      root, mode = "append"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")), e)
    val mdir = new java.io.File(root, "_manifests")
    assert(!new java.io.File(mdir, "v2.claim").exists(),
      mdir.list().toSeq.sorted)
    assert(!new java.io.File(root, "ok/_data/v2").exists())
    assert(!new java.io.File(root, "t/_data/v2").exists())
    assert(VersionedLake.versions(spark, root) == Seq(1L))
    // nothing is left to block the next writer at this root
    assert(VersionedLake.commitAll(Seq("t" -> Seq(2L).toDF("x")), root,
      mode = "append") == 2L)
    assert(readT(root).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
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
    val ids = VersionedLake.snapshot(spark, root).tables("t")
      .map(p => new org.apache.hadoop.fs.Path(p).getName)
      .collect { case partFile(num, uuid) => (num, uuid) }
    assert(ids.size == 5)
    assert(ids.distinct.size == 1, ids)
    assert(VersionedLake.readTable(spark, root, "t").collect()
      .map(_.getLong(0)).sorted.toSeq == (0L until 5L))
  }

  test("manifest codec: partition values with `,` `]` `\"` `\\` and " +
    "non-ASCII text round-trip through commit and GroupCommit") {
    val values = Seq("a,b", "c]d", "e\"f", "g\\h", "café 日本", "plain")
    val df = values.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).sorted.toSeq
    val want = rows(df)
    val tbl = Files.createTempDirectory("vlake-codec").toString
    commitPartitioned(df, tbl, Seq("k"))
    commitPartitioned(df.limit(0), tbl, Seq("k"),
      mode = "append") // the append re-parses v1's manifest
    val single = readT(tbl)
    assert(single.columns.toSeq.sorted == Seq("k", "v"))
    assert(rows(single) == want)
    val root = Files.createTempDirectory("vlakeg-codec").toString
    val gc = VersionedLake.beginGroupCommit(spark, root)
    gc.write("t", df, partitionBy = Seq("k"))
    gc.publish()
    val gc2 = VersionedLake.beginGroupCommit(spark, root)
    gc2.carry("t") // carry re-parses v1's group manifest
    gc2.publish()
    val group = VersionedLake.readTable(spark, root, "t")
    assert(group.columns.toSeq.sorted == Seq("k", "v"))
    assert(rows(group) == want)
    assert(VersionedLake.snapshot(spark, root, Some(2L)).tables ==
      VersionedLake.snapshot(spark, root, Some(1L)).tables)
  }

  test("manifest codec reads manifests in the exact bytes the hand-rolled " +
    "writer produced, for both shapes") {
    import org.apache.hadoop.fs.Path
    // That writer escaped only `\` and `"` and wrote everything else raw,
    // UTF-8 included. Spark %-escapes `]`, `"` and `\` in partition
    // directories, so its real output looks like `spark`; `odd` is a raw
    // `k=a,b]"q\z` directory, reachable only through a foreign writer,
    // that pins the two JSON escapes. The retired single-table shape
    // (`{"version","files"}`) is no longer read: it fails loudly.
    val spark3 = Seq("k=a,b", "k=c%5Dd", "k=café 日本")
    val oddJson = "k=a,b]\\\"q\\\\z"
    val oddRaw = "k=a,b]\"q\\z"
    val single = spark3.zipWithIndex.map { case (d, i) =>
      s"\"_data/v1/$d/part-0000$i-1.parquet\"" }
      .mkString("{\"version\":1,\"files\":[", ",", "]}")
    val group = "{\"version\":1,\"tables\":{" +
      s"\"t\":[\"t/_data/v1/$oddJson/part-00000-1.parquet\"]," +
      "\"u.x\":[\"u.x/_data/v1/k=café 日本/part-00000-3.parquet\"," +
      "\"u.x/_data/v1/k=a,b/part-00001-3.parquet\"]}}"
    val tbl = Files.createTempDirectory("vlake-legacy").toString
    val root = Files.createTempDirectory("vlakeg-legacy").toString
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one real parquet file copied to every path, so reads work
    val src = Files.createTempDirectory("vlake-legacy-src").toString + "/d"
    Seq(7).toDF("v").coalesce(1).write.parquet(src)
    val part = fs.listStatus(new Path(src)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    def place(base: String, rel: String): Unit = {
      val dst = new Path(base, rel)
      fs.mkdirs(dst.getParent)
      Files.copy(java.nio.file.Paths.get(part.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath)); ()
    }
    spark3.zipWithIndex.foreach { case (d, i) =>
      place(tbl, s"_data/v1/$d/part-0000$i-1.parquet") }
    val unlisted = s"t/_data/v1/$oddRaw/part-00009-9.parquet"
    Seq(s"t/_data/v1/$oddRaw/part-00000-1.parquet", unlisted,
      "u.x/_data/v1/k=café 日本/part-00000-3.parquet",
      "u.x/_data/v1/k=a,b/part-00001-3.parquet").foreach(place(root, _))
    for ((base, json) <- Seq(tbl -> single, root -> group)) {
      fs.mkdirs(new Path(base, "_manifests"))
      Files.write(java.nio.file.Paths.get(base, "_manifests", "v1.json"),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      fs.create(new Path(base, "_manifests/v1.claim")).close()
    }
    def kv(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Int]("v"))).sorted.toSeq
    // every reader of the retired shape fails with the same error, its
    // data files present or not — never an empty or partial read
    for (read <- Seq[() => Any](
        () => VersionedLake.readTable(spark, tbl, "t"),
        () => VersionedLake.trySnapshot(spark, tbl),
        () => VersionedLake.snapshots(spark, tbl))) {
      val ex = intercept[IllegalStateException](read())
      assert(ex.getMessage.contains(s"v1 of $tbl is not a group manifest"),
        ex.getMessage)
    }
    assert(VersionedLake.snapshot(spark, root, Some(1L)).tables == Map(
      "t" -> Seq(s"t/_data/v1/$oddRaw/part-00000-1.parquet"),
      "u.x" -> Seq("u.x/_data/v1/k=café 日本/part-00000-3.parquet",
        "u.x/_data/v1/k=a,b/part-00001-3.parquet")))
    assert(VersionedLake.snapshot(spark, root, Some(1L)).applied.isEmpty)
    assert(kv(VersionedLake.readTable(spark, root, "u.x",
      schemaDDL = "v INT, k STRING")) == Seq(("a,b", 7), ("café 日本", 7)))
    // the raw `]` and `\` are read as a literal path, not a glob pattern
    assert(kv(VersionedLake.readTable(spark, root, "t",
      schemaDDL = "v INT, k STRING")) == Seq(("a,b]\"q\\z", 7)))
    // the vacuum's live set is exactly the parsed list: the listed odd
    // file stays, its unlisted sibling goes
    assert(VersionedLake.vacuumGroup(spark, root, keepFrom = 1L) == 1)
    assert(!fs.exists(new Path(root, unlisted)))
    assert(fs.exists(new Path(root, s"t/_data/v1/$oddRaw/part-00000-1.parquet")))
  }

  test("markApplied: the watermark publishes with the group and is sticky " +
    "across commits that do not mark, vacuum included") {
    val root = Files.createTempDirectory("vlakeg-applied").toString
    VersionedLake.commitAll(Seq("t" -> Seq(1L).toDF("x")), root)
    assert(VersionedLake.snapshot(spark, root, Some(1L)).applied.isEmpty)
    val gc = VersionedLake.beginGroupCommit(spark, root)
    gc.write("t", Seq(2L).toDF("x"), mode = "append")
    gc.markApplied(5L)
    assert(gc.publish() == 2L)
    assert(VersionedLake.snapshot(spark, root, Some(2L)).applied == Some(5L))
    // carry-only and overwrite commits keep it without naming it
    val gc2 = VersionedLake.beginGroupCommit(spark, root)
    gc2.carry("t")
    gc2.publish()
    VersionedLake.commitAll(Seq("u" -> Seq(3L).toDF("x")), root)
    assert(VersionedLake.snapshot(spark, root, Some(4L)).applied == Some(5L))
    // the watermark survives the vacuum of every version that set it
    VersionedLake.vacuumGroup(spark, root, keepFrom = 4L)
    assert(VersionedLake.snapshot(spark, root, Some(4L)).applied == Some(5L))
  }

  test("staging writes run under the submitter's Spark job group, not " +
    "the one a pool thread inherited when it was created") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(e.properties.getProperty(
          "spark.jobGroup.id"))); ()
      }
    }
    // more members than the staging pool has threads: every pool thread
    // exists by the time group B submits
    val members = (0 until 10).map(i => s"t$i")
    val root = Files.createTempDirectory("vlakeg-jobgroup").toString
    def stageUnder(group: String): Unit = {
      sc.setJobGroup(group, s"staging under $group")
      try {
        val gc = VersionedLake.beginGroupCommit(spark, root)
        gc.writeAll(members.map(t => (t, Seq(1L).toDF("x"), "overwrite",
          Seq.empty[String])))
        gc.publish(); ()
      } finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      stageUnder("A")
      stageUnder("B")
      eventually(timeout(30.seconds)) {
        assert(groups.size >= 2 * members.size)
      }
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.forall(Set("A", "B")), seen)
    assert(seen.count(_ == "A") >= members.size, seen)
    assert(seen.count(_ == "B") >= members.size, seen)
    // and the pool threads did not keep the last submitter's group
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("commitLoop: a body raced on every attempt throws after " +
    "maxAttempts naming the writer, and leaves no claim and no data of " +
    "its own behind") {
    import org.apache.hadoop.fs.Path
    val root = Files.createTempDirectory("vlakeg-loop").toString
    VersionedLake.commitAll(Seq("t" -> Seq(1L).toDF("x")), root)
    var attempts = 0
    val ex = intercept[IllegalStateException] {
      VersionedLake.commitLoop(spark, root, "RacedWriter.append",
          maxAttempts = 3) { gc =>
        attempts += 1
        gc.carryAllExcept(Set("t"))
        gc.write("t", Seq(2L).toDF("x"), mode = "append")
        // a competing writer claims the next number and publishes first
        val rival = VersionedLake.beginGroupCommit(spark, root)
        rival.carryAllExcept(Set("c"))
        rival.write("c", Seq(attempts.toLong).toDF("x"))
        rival.publish()
        gc.publishIfBaseIs(gc.base.get.version)
      }
    }
    assert(attempts == 3)
    assert(ex.getMessage.contains("RacedWriter.append"), ex.getMessage)
    assert(ex.getMessage.contains("3 times"), ex.getMessage)
    // the loser's claims (v2, v4, v6) were released; the winners' stand
    val committed = VersionedLake.versions(spark, root)
    assert(committed == Seq(1L, 3L, 5L, 7L))
    val claims = new java.io.File(root, "_manifests").list().toSeq
      .filter(_.endsWith(".claim"))
      .map(_.stripPrefix("v").stripSuffix(".claim").toLong)
    assert(claims.forall(committed.contains), claims)
    // no `t/_data/v{N}` of the loser's survives its aborts
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tData = new Path(root, "t/_data")
    assert(fs.listStatus(tData).map(_.getPath.getName).toSeq == Seq("v1"))
    assert(VersionedLake.readTable(spark, root, "t").as[Long].collect()
      .toSeq == Seq(1L))
  }

  test("carryAllExcept carries every other base table through an append, " +
    "an optional member like tombstones included; with no base it is a " +
    "no-op") {
    val root = Files.createTempDirectory("vlakeg-carryall").toString
    val gc0 = VersionedLake.beginGroupCommit(spark, root)
    gc0.carryAllExcept(Set("encoded")) // no base: nothing to carry
    gc0.write("encoded", Seq(1L).toDF("id"))
    gc0.write("model", Seq(9L).toDF("m"))
    gc0.publish()
    val gc1 = VersionedLake.beginGroupCommit(spark, root)
    gc1.carryAllExcept(Set("tombstones"))
    gc1.write("tombstones", Seq(1L).toDF("id"), mode = "append")
    gc1.publish()
    val v2 = VersionedLake.snapshot(spark, root, Some(2L)).tables
    val gc2 = VersionedLake.beginGroupCommit(spark, root)
    gc2.carryAllExcept(Set("encoded"))
    gc2.write("encoded", Seq(2L).toDF("id"), mode = "append")
    gc2.publish()
    val v3 = VersionedLake.snapshot(spark, root, Some(3L)).tables
    assert(v3.keySet == Set("encoded", "model", "tombstones"))
    assert(v3("tombstones") == v2("tombstones"))
    assert(v3("model") == v2("model"))
    assert(VersionedLake.readTable(spark, root, "encoded").as[Long].collect()
      .sorted.toSeq == Seq(1L, 2L))
  }

  test("a read takes manifest paths literally: several directories with " +
    "glob metacharacters in one read return each listed file once") {
    import org.apache.hadoop.fs.Path
    val tbl = Files.createTempDirectory("vlake-glob").toString
    val src = Files.createTempDirectory("vlake-glob-src").toString + "/d"
    Seq(7).toDF("v").coalesce(1).write.parquet(src)
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(src)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dirs = Seq("a[1]", "b*{x}?", "c\\d", "plain")
    val rels = dirs.zipWithIndex.map { case (d, i) =>
      s"t/_data/v1/k=$d/part-0000$i-1.parquet" }
    rels.foreach { rel =>
      val dst = new Path(tbl, rel)
      fs.mkdirs(dst.getParent)
      Files.copy(java.nio.file.Paths.get(part.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath))
    }
    fs.mkdirs(new Path(tbl, "_manifests"))
    Files.write(java.nio.file.Paths.get(tbl, "_manifests", "v1.json"),
      rels.map(r => "\"" + r.replace("\\", "\\\\") + "\"")
        .mkString("{\"version\":1,\"tables\":{\"t\":[", ",", "]}}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val rows = readT(tbl, schemaDDL = "v INT, k STRING")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Int]("v")))
    assert(rows.sorted.toSeq == dirs.map(_ -> 7).sorted)
  }

  /** A [[HadoopManifestStore]] that counts committed-version listings and
    * manifest reads.
    */
  private final class CountingStore(inner: ManifestStore)
      extends ManifestStore {
    var listings = 0
    var reads = 0
    def committedVersions(): Seq[Long] = {
      listings += 1; inner.committedVersions()
    }
    def claimedVersions(): Seq[Long] = inner.claimedVersions()
    def tryClaim(version: Long): Boolean = inner.tryClaim(version)
    def publish(version: Long, manifest: Array[Byte]): Boolean =
      inner.publish(version, manifest)
    def readManifest(version: Long): Array[Byte] = {
      reads += 1; inner.readManifest(version)
    }
    def deleteManifest(version: Long): Unit = inner.deleteManifest(version)
    def deleteClaim(version: Long): Unit = inner.deleteClaim(version)
    def claimModifiedAtMs(version: Long): Option[Long] =
      inner.claimModifiedAtMs(version)
  }

  private def countingStore(root: String): CountingStore =
    new CountingStore(new HadoopManifestStore(new org.apache.hadoop.fs.Path(
      root).getFileSystem(spark.sparkContext.hadoopConfiguration), root))

  test("snapshot: one listing and one manifest read however many members " +
    "it reads; a group commit parses its base once") {
    val root = Files.createTempDirectory("vlakeg-snapcount").toString
    val gc0 = VersionedLake.beginGroupCommit(spark, root)
    gc0.writeAll(Seq("a", "b", "c").map(t =>
      (t, Seq(1L, 2L).toDF("x"), "overwrite", Seq.empty[String])))
    gc0.markApplied(3L)
    gc0.publish()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[Long].collect().sorted.toSeq
    val store = countingStore(root)
    val snap = VersionedLake.snapshot(spark, root,
      manifestStore = Some(store))
    assert(Seq("a", "b", "c").map(t => rows(snap.read(t))) ==
      Seq.fill(3)(Seq(1L, 2L)))
    assert(snap.rowCount("b") == 2L)
    assert(snap.applied == Some(3L))
    assert((store.listings, store.reads) == ((1, 1)))
    // the list-then-readTable prologue a snapshot replaces: one listing
    // to pick the version, then a listing and a manifest read per member
    // (the footer row count and the watermark read, done per call as
    // well, cost another listing and two reads: 5 and 5 in all)
    val perCall = countingStore(root)
    val v = VersionedLake.versions(spark, root, Some(perCall)).last
    Seq("a", "b", "c").foreach(t => VersionedLake.readTable(spark, root, t,
      Some(v), manifestStore = Some(perCall)).collect())
    assert((perCall.listings, perCall.reads) == ((4, 3)))
    // a writer reads, carries and publishes from its one parsed base
    val wstore = countingStore(root)
    val gc = VersionedLake.beginGroupCommit(spark, root,
      manifestStore = Some(wstore))
    val base = gc.base.get
    assert(base.version == 1L && base.applied == Some(3L))
    assert(rows(base.read("a")) == Seq(1L, 2L))
    gc.carryAllExcept(Set("a"))
    gc.write("a", Seq(5L).toDF("x"), mode = "append")
    assert(gc.publish() == 2L)
    assert(wstore.reads == 1)
    val latest = VersionedLake.snapshot(spark, root)
    assert(latest.applied == Some(3L)) // sticky through the commit
    assert(rows(latest.read("a")) == Seq(1L, 2L, 5L))
    assert(latest.tables("b") == snap.tables("b"))
  }

  test("a snapshot stays pinned: reads after a newer commit overwrote one " +
    "member and dropped another return the snapshot's version; an " +
    "unknown member is branded") {
    val root = Files.createTempDirectory("vlakeg-snappin").toString
    VersionedLake.commitAll(Seq("a" -> Seq(1L, 2L).toDF("x"),
      "b" -> Seq(7L).toDF("x")), root)
    val snap = VersionedLake.snapshot(spark, root)
    assert(snap.version == 1L)
    VersionedLake.commitAll(Seq("a" -> Seq(9L).toDF("x")), root)
    assert(snap.read("a").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(snap.read("b").as[Long].collect().toSeq == Seq(7L))
    val latest = VersionedLake.snapshot(spark, root)
    assert(latest.version == 2L && latest.tables.keySet == Set("a"))
    assert(latest.read("a").as[Long].collect().toSeq == Seq(9L))
    val ex = intercept[java.io.FileNotFoundException](snap.read("zzz"))
    assert(ex.getMessage.contains("table zzz not in group v1"),
      ex.getMessage)
    // and the version errors every reader shares
    val ex2 = intercept[IllegalArgumentException](
      VersionedLake.snapshot(spark, root, Some(5L)))
    assert(ex2.getMessage.contains("version 5 not in"), ex2.getMessage)
    val ex3 = intercept[IllegalArgumentException](
      VersionedLake.snapshot(spark, s"$root-nowhere"))
    assert(ex3.getMessage.contains("no committed versions at"),
      ex3.getMessage)
  }

  test("beginGroupCommit parses its base at the claim: a base that is not " +
    "a group manifest throws there and releases the claim") {
    val tbl = Files.createTempDirectory("vlake-notgroup").toString
    // a root committed in the retired single-table shape
    val mdir = new java.io.File(tbl, "_manifests")
    assert(mdir.mkdirs() && new java.io.File(mdir, "v1.claim").createNewFile())
    Files.write(new java.io.File(mdir, "v1.json").toPath,
      "{\"version\":1,\"files\":[\"_data/v1/part-00000-1.parquet\"]}"
        .getBytes)
    val ex = intercept[IllegalStateException](
      VersionedLake.beginGroupCommit(spark, tbl))
    assert(ex.getMessage.contains("is not a group manifest"), ex.getMessage)
    assert(new java.io.File(tbl, "_manifests").list().toSeq
      .filterNot(_.startsWith(".")).sorted == Seq("v1.claim", "v1.json"))
  }
}
