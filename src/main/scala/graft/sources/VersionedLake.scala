package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based versioned lake table — the minimal lakehouse commit
  * protocol (what table formats reduce to for a single unpartitioned
  * table): every commit writes NEW data files under `_data/` and then
  * atomically renames a manifest listing exactly the files visible in that
  * version. Readers resolve a manifest (latest or pinned) and read only its
  * files, so:
  *
  *  - writers never mutate visible data (a failed commit leaves orphaned
  *    data files, never a corrupt table);
  *  - concurrent readers see a consistent snapshot;
  *  - old versions remain readable (time travel / instant rollback) until
  *    vacuumed.
  *
  * This re-expresses the reference's staged-delete-then-reload upload mode
  * (reference: pipelines/utils/tasks.py:812-933) as an O(1) metadata swap
  * instead of a destructive window where the table is half-loaded.
  *
  * Manifest format: `_manifests/v{N}.json` = `{"version":N,"files":[...]}`
  * (relative paths). The ATOMICITY PRIMITIVE is pluggable via
  * [[ManifestStore]]: on HDFS-like filesystems ([[HadoopManifestStore]],
  * the default) a claim is create-no-overwrite and a manifest publish is
  * write-tmp-then-rename; on object stores ([[CasManifestStore]] over a
  * [[CasBlobStore]]) both are a conditional PUT (`If-None-Match: *`, the
  * S3/GCS first-writer-wins precondition) — no rename needed, because a
  * conditional PUT of the final key IS the visibility event. Data files
  * are plain parquet either way; only manifest/claim atomicity differs
  * per store.
  *
  * == Concurrency contract ==
  *
  *  - '''Committers''': each commit first CLAIMS its version number by
  *    creating `_manifests/v{N}.claim` with create-no-overwrite — atomic
  *    on HDFS and POSIX, so two committers racing to the same N produce
  *    exactly one winner; the loser recomputes N and retries (bounded by
  *    `maxAttempts`). The claim is taken BEFORE any data write, so no two
  *    commits ever share a `_data/v{N}` directory. A committer that
  *    crashes between claim and manifest burns its number (versions may
  *    be non-contiguous); later commits skip past it because the next
  *    number is computed over claims AND manifests.
  *  - '''Readers''': resolve a manifest (latest or pinned) and read only
  *    its immutable file list — a reader never observes a half-commit,
  *    because the manifest rename is the only visibility event.
  *  - '''Append mode''': an append carries the files of the latest
  *    version COMMITTED when it claimed. Serial appends (the stored-state
  *    pattern in [[graft.flows.DedupIndex]]) therefore chain completely;
  *    two appends racing each other may each chain from the same base —
  *    concurrent writers wanting strict append serialization must
  *    serialize externally (the same rule Delta's OCC enforces by
  *    aborting, surfaced here by version numbering).
  *  - '''Vacuum vs readers''': vacuum deletes files unreferenced by every
  *    manifest ≥ `keepFrom`; a reader of any KEPT version is unaffected
  *    mid-vacuum. A reader pinned BELOW `keepFrom` races with the delete
  *    by design — the caller owns picking a `keepFrom` older than any
  *    in-flight read (the same retention contract lakehouse formats ship).
  */
/** The atomicity surface the [[VersionedLake]] commit protocol needs from
  * manifest storage. `tryClaim` and `publish` MUST be first-writer-wins
  * atomic (exactly one of N racing callers returns true for a given
  * version); everything else is plain IO. Two implementations ship:
  * [[HadoopManifestStore]] (create-no-overwrite + rename — HDFS/POSIX) and
  * [[CasManifestStore]] (conditional PUT — S3/GCS-style object stores).
  */
trait ManifestStore {
  /** Committed versions, ascending (manifest present). */
  def committedVersions(): Seq[Long]
  /** All claimed versions (committed, in-flight, or crashed), ascending. */
  def claimedVersions(): Seq[Long]
  /** Atomically claim `version`; false = another committer won it. */
  def tryClaim(version: Long): Boolean
  /** Atomically publish `version`'s manifest; false = already published
    * (a protocol violation the caller surfaces loudly — claims make the
    * version number exclusive BEFORE publish).
    */
  def publish(version: Long, manifest: Array[Byte]): Boolean
  def readManifest(version: Long): Array[Byte]
  def deleteManifest(version: Long): Unit
  def deleteClaim(version: Long): Unit
  /** Claim mtime for the vacuum TTL heuristic; None = no claim found. */
  def claimModifiedAtMs(version: Long): Option[Long]
}

/** Filesystem-rename manifest store: claims are create-no-overwrite files,
  * manifest publish is write-`v{N}.json.tmp`-then-rename (the HDFS
  * atomicity primitive). On `file://` Hadoop's RawLocal/ChecksumFileSystem
  * implements create(overwrite=false) as a NON-atomic exists()-then-create
  * — two racing local committers could both "win" — so local tables claim
  * via `java.io.File.createNewFile`, which is O_EXCL-atomic.
  */
final class HadoopManifestStore(f: FileSystem, table: String)
    extends ManifestStore {
  private def dir = new Path(table, "_manifests")

  def committedVersions(): Seq[Long] = {
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName).toSeq
      .collect { case n if n.matches("v\\d+\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  def claimedVersions(): Seq[Long] = {
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName).toSeq
      .collect { case n if n.matches("v\\d+\\.(json|claim)") =>
        n.stripPrefix("v").takeWhile(_.isDigit).toLong }
      .distinct.sorted
  }

  def tryClaim(version: Long): Boolean = {
    f.mkdirs(dir)
    val claim = new Path(dir, s"v$version.claim")
    // base FileSystem.getScheme throws UnsupportedOperationException for
    // implementations that never override it — fall back to the URI
    val scheme =
      try f.getScheme
      catch { case _: UnsupportedOperationException => f.getUri.getScheme }
    if (scheme == "file")
      new java.io.File(f.makeQualified(claim).toUri.getPath).createNewFile()
    else
      try { f.create(claim, false).close(); true }
      catch {
        case _: java.io.IOException => false // FileAlreadyExists subsumed
      }
  }

  def publish(version: Long, manifest: Array[Byte]): Boolean = {
    f.mkdirs(dir)
    val tmp = new Path(dir, s"v$version.json.tmp")
    // overwrite=true: the CLAIM already made this version number exclusive,
    // so the only way tmp exists is a committer that crashed between create
    // and rename — a retry must replace the stale tmp, not throw
    // FileAlreadyExistsException.
    val out = f.create(tmp, true)
    try out.write(manifest) finally out.close()
    f.rename(tmp, new Path(dir, s"v$version.json"))
  }

  def readManifest(version: Long): Array[Byte] = {
    val in = f.open(new Path(dir, s"v$version.json"))
    try in.readAllBytes() finally in.close()
  }

  def deleteManifest(version: Long): Unit =
    f.delete(new Path(dir, s"v$version.json"), false)
  def deleteClaim(version: Long): Unit =
    f.delete(new Path(dir, s"v$version.claim"), false)

  def claimModifiedAtMs(version: Long): Option[Long] =
    try Some(f.getFileStatus(new Path(dir, s"v$version.claim"))
      .getModificationTime)
    catch { case _: java.io.IOException => None }
}

/** The three object-store operations [[CasManifestStore]] needs — the
  * subset of the S3/GCS blob API the commit protocol rides. `putIfAbsent`
  * is the atomic one: a conditional PUT with `If-None-Match: *` (S3) /
  * `x-goog-if-generation-match: 0` (GCS) that succeeds for exactly one of
  * N racing writers. Listing/delete/mtime are plain.
  */
trait CasBlobStore {
  /** Conditional PUT: write `key` iff absent; false = it already existed. */
  def putIfAbsent(key: String, bytes: Array[Byte]): Boolean
  def get(key: String): Option[Array[Byte]]
  def list(prefix: String): Seq[String]
  def delete(key: String): Unit
  def modifiedAtMs(key: String): Option[Long]
}

/** Conditional-PUT manifest store for object-store deployments: both the
  * claim and the manifest publish are `putIfAbsent` of their FINAL key —
  * no rename exists (or is atomic) on object stores, and none is needed,
  * because a conditional PUT of `v{N}.json` itself is the visibility
  * event. Data files remain plain parquet written by Spark's own
  * committer; only manifest/claim atomicity rides the CAS.
  */
final class CasManifestStore(blob: CasBlobStore,
    prefix: String = "_manifests") extends ManifestStore {
  private def key(name: String) = s"$prefix/$name"

  def committedVersions(): Seq[Long] =
    blob.list(key("v")).map(_.stripPrefix(key("")))
      .collect { case n if n.matches("v\\d+\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted

  def claimedVersions(): Seq[Long] =
    blob.list(key("v")).map(_.stripPrefix(key("")))
      .collect { case n if n.matches("v\\d+\\.(json|claim)") =>
        n.stripPrefix("v").takeWhile(_.isDigit).toLong }
      .distinct.sorted

  def tryClaim(version: Long): Boolean =
    blob.putIfAbsent(key(s"v$version.claim"), Array.emptyByteArray)

  def publish(version: Long, manifest: Array[Byte]): Boolean =
    blob.putIfAbsent(key(s"v$version.json"), manifest)

  def readManifest(version: Long): Array[Byte] =
    blob.get(key(s"v$version.json")).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no manifest for v$version under $prefix"))

  def deleteManifest(version: Long): Unit = blob.delete(key(s"v$version.json"))
  def deleteClaim(version: Long): Unit = blob.delete(key(s"v$version.claim"))

  def claimModifiedAtMs(version: Long): Option[Long] =
    blob.modifiedAtMs(key(s"v$version.claim"))
}

object VersionedLake {

  /** A lost version-claim race after `maxAttempts` tries. */
  final class ConcurrentCommitException(msg: String)
    extends java.io.IOException(msg)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** ONE shared daemon pool for group-commit staging writes (ADVICE r17:
    * allocating and tearing down a fresh pool per commit churned threads
    * on the hot per-batch path — several commits per micro-batch across
    * flows). Small fixed cap: staging writes are Spark ACTIONS — the
    * pool threads only submit jobs and wait, the cluster does the work —
    * so a handful of in-flight actions saturates the overlap win (guide
    * §2.6: "2-3 jobs in flight is plenty"). Daemon threads: the pool
    * must never hold the JVM open.
    */
  private lazy val stagingPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "lake-staging")
      t.setDaemon(true)
      t
    })

  private def storeFor(spark: SparkSession, table: String,
      override_ : Option[ManifestStore]): ManifestStore =
    override_.getOrElse(new HadoopManifestStore(fs(spark, table), table))

  /** Versions present, ascending (empty for a fresh path). */
  def versions(spark: SparkSession, table: String,
      manifestStore: Option[ManifestStore] = None): Seq[Long] =
    storeFor(spark, table, manifestStore).committedVersions()

  /** Claim the next free version number (create-no-overwrite / CAS loop,
    * bounded by `maxAttempts`).
    */
  private def claimNext(store: ManifestStore, at: String,
      maxAttempts: Int): Long = {
    var next = 0L
    var attempt = 0
    var claimed = false
    while (!claimed) {
      next = store.claimedVersions().lastOption.getOrElse(0L) + 1L
      claimed = store.tryClaim(next)
      attempt += 1
      if (!claimed && attempt >= maxAttempts)
        throw new ConcurrentCommitException(
          s"lost the version-claim race $maxAttempts times at $at")
    }
    next
  }

  /** Write `df` under `dataDir` and return the written parquet files as
    * paths relative to the root owning `relPrefix` (recursive: partitioned
    * layouts nest files under col=value dirs).
    *
    * TASK-COMMIT hardening for committer v2 ([[graft.GraftSession]]): v2
    * tasks rename straight into `dataDir`, so a task attempt retried
    * after a PARTIALLY completed task commit can leave BOTH attempts'
    * part files behind — and this manifest-building listing would publish
    * the duplicate rows. The manifest CAS substitutes only for
    * JOB-commit atomicity, not task-commit atomicity, so the listing
    * itself rejects the signature of a double task commit: two files in
    * one directory sharing a task partition number under DIFFERENT
    * attempt UUIDs (one attempt's multi-file output — maxRecordsPerFile
    * splits — shares a single UUID and stays legal). Failing here is
    * pre-manifest: nothing is published, the batch retries cleanly.
    */
  private def writeData(df: DataFrame, f: FileSystem, dataDir: Path,
      relPrefix: String, partitionBy: Seq[String]): Seq[String] = {
    val writer = df.write.mode("errorifexists")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dataDir.toString)
    val dataPrefix = f.makeQualified(dataDir).toUri.getPath
    // FsWalk (not listFiles(recursive)): this runs after EVERY table
    // write, and the located listing's per-file cost dominated small
    // commits on the local FS (see FsWalk's scaladoc for the numbers)
    val rels = FsWalk.files(f, dataDir).collect {
      case s if s.getPath.getName.endsWith(".parquet") =>
        val rel = s.getPath.toUri.getPath.stripPrefix(dataPrefix)
          .stripPrefix("/")
        s"$relPrefix/$rel"
    }.sorted
    val partFile = "part-(\\d+)-([0-9a-fA-F-]{36})".r.unanchored
    val dupes = rels.flatMap { rel =>
      val dir = rel.substring(0, rel.lastIndexOf('/'))
      rel.substring(rel.lastIndexOf('/') + 1) match {
        case partFile(num, uuid) => Some(((dir, num), uuid))
        case _ => None
      }
    }.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1)
    if (dupes.nonEmpty)
      throw new java.io.IOException(
        s"duplicate task-attempt output under $dataDir (a v2 task commit " +
          s"raced its retry): ${dupes.keys.take(3).mkString(", ")} — " +
          "aborting before the manifest publishes duplicate rows")
    rels
  }

  /** Commit `df` as the next version. `mode` is `"overwrite"` (the new
    * version is exactly `df`) or `"append"` (the new version = previous
    * files + `df`'s files — no data rewrite, pure metadata union).
    * `partitionBy` lays the version's data out Hive-style (`col=value`
    * directories) so reads prune partitions; the manifest records the
    * partition-relative file paths and [[read]] recovers the partition
    * columns per version directory. Returns the committed version number.
    *
    * Safe under concurrent committers (see the concurrency contract
    * above): the version number is claimed atomically before any data
    * write; a lost claim race retries at the next number up to
    * `maxAttempts` times, then throws [[ConcurrentCommitException]].
    */
  def commit(df: DataFrame, table: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil, maxAttempts: Int = 10,
      manifestStore: Option[ManifestStore] = None): Long = {
    require(mode == "overwrite" || mode == "append", s"unknown mode $mode")
    val spark = df.sparkSession
    val f = fs(spark, table)
    val store = storeFor(spark, table, manifestStore)
    val next = claimNext(store, table, maxAttempts)
    // the APPEND base is the latest manifest at claim time: under
    // concurrent appends each commit carries the files of the last
    // version it SAW — serial appends (the stored-state pattern) chain
    // completely
    val prev = store.committedVersions()
    // new files land under a per-version directory: never collides with
    // visible data, orphaned cleanly if the manifest rename fails
    val newFiles = writeData(df, f, new Path(table, s"_data/v$next"),
      s"_data/v$next", partitionBy)
    val carried = if (mode == "append" && prev.nonEmpty)
      manifestFiles(store, table, prev.last) else Seq.empty
    val files = carried ++ newFiles
    val json = files.map(p => "\"" + jsonEscape(p) + "\"").mkString(
      s"""{"version":$next,"files":[""", ",", "]}")
    if (!store.publish(next,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      throw new java.io.IOException(s"commit v$next lost the publish race")
    next
  }

  /** Tokenize the machine-written manifest JSON into structural characters
    * and (unescaped) string literals. File paths can contain commas,
    * brackets, quotes or backslashes the moment a partition VALUE carries
    * them (Spark's escapePathName escapes `/` but not `,`/`]`), so naive
    * split/regex extraction is not safe — this quote-aware scanner plus
    * the escaping writer keeps the no-JSON-library choice honest.
    */
  private def jsonTokens(json: String): Vector[Either[Char, String]] = {
    val out = Vector.newBuilder[Either[Char, String]]
    val sb = new java.lang.StringBuilder
    var i = 0
    var inStr = false
    while (i < json.length) {
      val c = json.charAt(i)
      if (inStr) c match {
        case '\\' if i + 1 < json.length =>
          sb.append(json.charAt(i + 1)); i += 1
        case '"' => inStr = false; out += Right(sb.toString)
        case other => sb.append(other)
      } else c match {
        case '"' => inStr = true; sb.setLength(0)
        case '{' | '}' | '[' | ']' | ':' | ',' => out += Left(c)
        case _ => () // digits / whitespace — not needed by the readers
      }
      i += 1
    }
    out.result()
  }

  private def jsonEscape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** The string elements of the array valued at `key`, starting the scan
    * at token index `from`.
    */
  private def stringArrayAt(ts: Vector[Either[Char, String]],
      from: Int): (Seq[String], Int) = {
    require(from + 1 < ts.length && ts(from) == Left(':') &&
      ts(from + 1) == Left('['), "malformed manifest: expected :[")
    val b = Seq.newBuilder[String]
    var i = from + 2
    while (i < ts.length && ts(i) != Left(']')) {
      ts(i) match {
        case Right(s) => b += s
        case Left(',') => ()
        case other => throw new IllegalStateException(
          s"malformed manifest: unexpected $other in file list")
      }
      i += 1
    }
    (b.result(), i + 1) // past the ]
  }

  private def manifestFiles(store: ManifestStore, table: String,
      version: Long): Seq[String] = {
    val json = new String(store.readManifest(version),
      java.nio.charset.StandardCharsets.UTF_8)
    val ts = jsonTokens(json)
    // "files" can only appear as the key: single-table paths all start
    // with "_data/"
    val ki = ts.indexOf(Right("files"))
    if (ki < 0) throw new IllegalStateException(
      s"malformed manifest v$version of $table")
    stringArrayAt(ts, ki + 1)._1
  }

  /** Read a version (default: latest). Missing table/version throws.
    *
    * Schema DRIFT across commits is tolerated permissively (`mergeSchema`,
    * on by default): an append-mode commit may add columns, and a merged
    * read returns the union schema with nulls for files written before the
    * column existed — `unionByName(allowMissingColumns)` semantics at the
    * scan, matching the reference's drift tolerance
    * (bq_to_subpav/utils.py:182-201). At 100 TB drift across thousands of
    * daily commits is guaranteed, so the permissive read is the default;
    * the cost is one footer read per distinct file at planning time. A
    * pinned time-travel read of an old version still returns exactly that
    * version's schema (its manifest lists only its own files).
    */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None, mergeSchema: Boolean = true,
      schemaDDL: String = null,
      manifestStore: Option[ManifestStore] = None): DataFrame = {
    val store = storeFor(spark, table, manifestStore)
    val v = resolveVersion(store, table, version)
    val files = manifestFiles(store, table, v)
    require(files.nonEmpty, s"version $v of $table lists no files")
    readFiles(spark, table, files, mergeSchema, schemaDDL)
  }

  /** Union read over EVERY committed version's file list (distinct
    * paths) — for MONOTONE, duplicate-tolerant, append-only tables (a
    * progress ledger, an audit trail), NOT a general time-travel read
    * (on an overwrite table it would resurrect replaced data).
    *
    * Why it exists: the append-mode concurrency contract lets two racing
    * appends each chain from the same base, so the LATER manifest omits
    * the earlier racer's files — a latest-version read silently loses
    * that batch. A union-over-all-manifests read is immune: every
    * committed batch's files appear in at least its OWN manifest, and a
    * duplicate-tolerant consumer doesn't care that serial chains list
    * the carried files many times over. Per-batch crash atomicity is
    * unchanged (uncommitted `_data` dirs are in no manifest). Corollary
    * for vacuum: don't vacuum such a table past an unmerged fork —
    * vacuum keeps only files referenced by manifests ≥ `keepFrom`.
    */
  def readAllVersions(spark: SparkSession, table: String,
      mergeSchema: Boolean = true, schemaDDL: String = null,
      manifestStore: Option[ManifestStore] = None): DataFrame =
    tryReadAllVersions(spark, table, mergeSchema, schemaDDL, manifestStore)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed versions at $table"))

  /** [[readAllVersions]] tolerating an uncommitted table (None) — ONE
    * manifest-directory listing answers both "does it exist" and "read
    * it", so a per-micro-batch resume poll doesn't pay a second LIST on
    * an object store just to pre-check emptiness.
    */
  def tryReadAllVersions(spark: SparkSession, table: String,
      mergeSchema: Boolean = true, schemaDDL: String = null,
      manifestStore: Option[ManifestStore] = None): Option[DataFrame] = {
    val store = storeFor(spark, table, manifestStore)
    val vs = store.committedVersions()
    if (vs.isEmpty) None
    else {
      val files = vs.flatMap(v => manifestFiles(store, table, v)).distinct
      require(files.nonEmpty, s"no files across versions $vs at $table")
      Some(readFiles(spark, table, files, mergeSchema, schemaDDL))
    }
  }

  /** Read an explicit manifest file list rooted at `root`, grouping by
    * per-version data directory and anchoring each group's read at its own
    * basePath: partitioned commits nest files under col=value dirs, and
    * basePath is what lets the scan recover the partition COLUMNS (and
    * prune on them — PartitionFilters) from a manifest's explicit file
    * list. An explicit `schemaDDL` pins column types — partition-column
    * type INFERENCE would e.g. read a bigint dir value back as INT, a
    * mismatch that breaks typed consumers downstream.
    */
  private def readFiles(spark: SparkSession, root: String,
      files: Seq[String], mergeSchema: Boolean, schemaDDL: String): DataFrame = {
    // version dir = everything up to and including the v{N} segment after
    // `_data` (single-table: `_data/vN`; group tables: `t/_data/vN`)
    def versionDir(rel: String): String = {
      val segs = rel.split("/")
      val i = segs.indexOf("_data")
      require(i >= 0 && i + 1 < segs.length, s"not a lake data path: $rel")
      segs.take(i + 2).mkString("/")
    }
    val byVersionDir = files.groupBy(versionDir)
    val parts = byVersionDir.toSeq.sortBy(_._1).map { case (vdir, fs0) =>
      val r0 = spark.read.option("basePath", new Path(root, vdir).toString)
      val r1 = if (schemaDDL != null) r0.schema(schemaDDL)
        else r0.option("mergeSchema", mergeSchema.toString)
      r1.parquet(fs0.map(rel => new Path(root, rel).toString): _*)
    }
    parts.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  // ===================== atomic multi-table groups =====================
  //
  // A table GROUP shares ONE manifest sequence at its root: every member
  // table's files for version N are listed in a single manifest published
  // by a single atomic event (rename or conditional PUT), so a reader can
  // NEVER observe table A at version n and table B at n−1 — the guarantee
  // the `_COMPLETE` marker pattern only approximated (a reader between the
  // last table write and the marker write saw a torn group).
  //
  // Layout: `<root>/_manifests/v{N}.json` =
  //   `{"version":N,"tables":{"a":["a/_data/vN/part…"],"b":[…]}}`
  // with data under `<root>/<table>/_data/v{N}/`. Claim/publish atomicity
  // is the SAME pluggable [[ManifestStore]] as single tables — one CAS
  // publish covers the whole group on object stores.

  // leading alphanumeric keeps member tables out of the store's own
  // metadata directories (`_manifests`, `_data`); the reserved words keep
  // the manifest's key scan unambiguous (member paths always contain "/",
  // so they can never collide with a bare key)
  private def tableNameOk(t: String): Boolean =
    t.nonEmpty && t.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") &&
      t != "version" && t != "tables" && t != "files"

  /** Per-table file lists of a group manifest. */
  private def groupManifestFiles(store: ManifestStore, root: String,
      version: Long): Map[String, Seq[String]] = {
    val json = new String(store.readManifest(version),
      java.nio.charset.StandardCharsets.UTF_8)
    val ts = jsonTokens(json)
    val ti = ts.indexOf(Right("tables"))
    if (ti < 0 || ti + 2 >= ts.length || ts(ti + 1) != Left(':') ||
      ts(ti + 2) != Left('{'))
      throw new IllegalStateException(
        s"v$version of $root is not a group manifest")
    val out = Map.newBuilder[String, Seq[String]]
    var i = ti + 3
    while (i < ts.length && ts(i) != Left('}')) {
      ts(i) match {
        case Right(name) =>
          val (files, next) = stringArrayAt(ts, i + 1)
          out += name -> files
          i = next
        case Left(',') => i += 1
        case other => throw new IllegalStateException(
          s"malformed group manifest v$version of $root: unexpected $other")
      }
    }
    out.result()
  }

  /** An in-flight atomic multi-table commit: the version number is already
    * claimed; [[write]] stages each member table's data under
    * `<root>/<table>/_data/v{N}`; [[readStaged]] reads data staged EARLIER
    * IN THIS COMMIT (so derived tables — an index built from a just-staged
    * base table — form one atomic group without re-computation or a
    * premature publish); [[publish]] makes every staged table visible in
    * one atomic event. A crash before publish leaves orphaned data and a
    * burned claim (swept by [[vacuumGroup]]'s TTL heuristic), never a
    * torn group.
    */
  final class GroupCommit private[VersionedLake] (spark: SparkSession,
      root: String, store: ManifestStore, val version: Long,
      val basedOn: Option[Long]) {
    // `basedOn` is the latest version COMMITTED when this commit claimed
    // its number — exposed so a writer derives its carry lists, reads,
    // and publishIfBaseIs base from the SAME version the commit chains
    // from. A separately-read "latest" can sit one commit behind the
    // claim (a fold landing in the gap), making carry() throw on a table
    // the manifest no longer lists — a loud crash where a retry belongs.
    private def prevVersion: Option[Long] = basedOn
    private val staged =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    // tables whose data THIS commit wrote (vs carried) — what abort() sweeps
    private val wroteData = scala.collection.mutable.LinkedHashSet.empty[String]
    private var published = false
    private var aborted = false

    private def requireOpen(): Unit =
      require(!published && !aborted, "group already published or aborted")

    private def requireUnstaged(table: String): Unit = {
      require(tableNameOk(table), s"invalid group table name '$table'")
      require(!staged.contains(table),
        s"table $table already staged in v$version")
    }

    def write(table: String, df: DataFrame, mode: String = "overwrite",
        partitionBy: Seq[String] = Nil): Unit =
      writeAll(Seq((table, df, mode, partitionBy)))

    /** Stage several INDEPENDENT tables CONCURRENTLY — one entry per
      * table as (name, df, mode, partitionBy), same semantics per entry
      * as [[write]]. The per-table `df.write.parquet` actions are
      * independent Spark jobs whose small-task tails leave most of the
      * pool idle; submitting them from a thread pool overlaps job
      * planning, the write tasks, and the commit/file-listing I/O
      * (optimization guide §2.6 — the micro-batch flows commit 2–7 small
      * tables per batch, and the sequential staging loop was a visible
      * slice of the per-batch lifecycle floor). Blocking: returns only
      * once every write has finished (see [[stage]]).
      */
    def writeAll(tables: Seq[(String, DataFrame, String, Seq[String])]): Unit = {
      tables.foreach { case (_, _, mode, _) =>
        require(mode == "overwrite" || mode == "append", s"unknown mode $mode")
      }
      // resolve the previous manifest ONCE for every append entry
      val prevFiles: Map[String, Seq[String]] =
        if (tables.exists(_._3 == "append") && prevVersion.nonEmpty)
          groupManifestFiles(store, root, prevVersion.get)
        else Map.empty
      stage(tables.map { case (t, df, mode, pb) =>
        (t, df, if (mode == "append") prevFiles.getOrElse(t, Seq.empty)
          else Seq.empty, pb)
      })
    }

    /** The parallel form of [[writeWithCarried]] — one entry per table as
      * (name, df, carriedFiles, partitionBy); same staging semantics per
      * entry, data writes submitted concurrently (see [[writeAll]]). The
      * retention pass uses it so the per-table rewrites of one compaction
      * cadence overlap instead of queueing.
      */
    def writeAllWithCarried(
        tables: Seq[(String, DataFrame, Seq[String], Seq[String])]): Unit = {
      tables.foreach { case (t, _, carriedFiles, _) =>
        require(carriedFiles.forall(_.startsWith(s"$t/_data/")),
          s"carried files must belong to $t (got " +
            s"${carriedFiles.filterNot(_.startsWith(s"$t/_data/")).take(3).mkString(", ")})")
      }
      stage(tables)
    }

    /** The one staging path: write each entry's `df` under
      * `<root>/<table>/_data/v{N}` on the shared pool, wait for EVERY
      * write (no timeout — a wedged write blocks like any other Spark
      * action), and only then stage the successes' file lists (carried ++
      * new) and rethrow the first failure. Because nothing returns while a
      * writer is still running, an [[abort]] sweep can never race a live
      * writer. Every attempted table is registered for that sweep up
      * front, so a partial failure leaves nothing behind after abort().
      * An interrupt does not cut the wait short; it is re-asserted once
      * every writer has finished.
      */
    private def stage(
        tables: Seq[(String, DataFrame, Seq[String], Seq[String])]): Unit = {
      requireOpen()
      tables.foreach { case (t, _, _, _) => requireUnstaged(t) }
      require(tables.map(_._1).distinct.size == tables.size,
        s"duplicate table in one staging batch: ${tables.map(_._1).mkString(", ")}")
      wroteData ++= tables.map(_._1)
      val f = fs(spark, root)
      val futures = tables.map { case (t, df, carried, pb) =>
        t -> stagingPool.submit(() => carried ++ writeData(df, f,
          new Path(root, s"$t/_data/v$version"), s"$t/_data/v$version", pb))
      }
      var interrupted = false
      val results = futures.map { case (t, fut) =>
        var r: Either[Throwable, Seq[String]] = null
        while (r == null)
          try r = Right(fut.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              r = Left(e.getCause)
            case _: InterruptedException => interrupted = true
          }
        t -> r
      }
      if (interrupted) Thread.currentThread().interrupt()
      results.foreach {
        case (t, Right(files)) => staged(t) = files
        case _ => ()
      }
      results.collectFirst { case (_, Left(e)) => throw e }
      ()
    }

    /** Stage a ONE-ROW marker table (e.g. a stream's `applied` batch id)
      * with a DRIVER-SIDE parquet write — no Spark job, no committer:
      * the row is a single int64 the exactly-once protocol consults once
      * per micro-batch, and routing it through a full distributed write
      * (plan → schedule → task → commit) was a fixed per-batch cost with
      * zero data on it. The file is a plain parquet file (parquet-mr
      * writer), so every existing reader — [[readTable]], an external
      * engine, the specs — reads it unchanged; [[readMarkerLong]] is the
      * matching driver-side fast read. Overwrite semantics (markers
      * supersede; nothing is carried).
      */
    def writeMarkerLong(table: String, column: String, value: Long): Unit = {
      requireOpen()
      requireUnstaged(table)
      val rel = s"$table/_data/v$version/part-00000-marker.parquet"
      val p = new Path(root, rel)
      wroteData += table
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        s"message marker { required int64 $column; }")
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
          p, spark.sparkContext.hadoopConfiguration))
        .withType(schema)
        .build()
      try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        schema).newGroup().append(column, value))
      finally w.close()
      staged(table) = Seq(rel)
    }

    /** Stage `table` as `carriedFiles` (prior data files re-listed
      * VERBATIM — no read, no rewrite) plus `df`'s freshly written files:
      * the incremental-compaction primitive. A size-tiered retention pass
      * carries the already-compacted large files of the previous version
      * and rewrites only the small-file tail, so its I/O is O(new data
      * since the last pass), not O(accumulated state). `carriedFiles` are
      * manifest-relative paths and must belong to `table` (enforced) —
      * they normally come from the previous group manifest
      * ([[groupTableRelFiles]]); the vacuum keeps them alive because the
      * published manifest references them, whichever `_data/v{K}`
      * directory they live in.
      */
    def writeWithCarried(table: String, df: DataFrame,
        carriedFiles: Seq[String], partitionBy: Seq[String] = Nil): Unit =
      writeAllWithCarried(Seq((table, df, carriedFiles, partitionBy)))

    /** Abandon the commit: best-effort delete of every `_data/v{N}`
      * directory this commit wrote, then release the version claim so
      * later committers (a retried compaction, the next batch) are not
      * blocked behind a burned number. The claim delete is safe — nothing
      * can have published this version (publish requires this object) and
      * a future committer re-claiming the number starts from clean data
      * directories.
      */
    def abort(): Unit = {
      require(!published, "group already published")
      if (!aborted) {
        aborted = true
        val f = fs(spark, root)
        wroteData.foreach { t =>
          f.delete(new Path(root, s"$t/_data/v$version"), true); () }
        store.deleteClaim(version)
      }
    }

    /** Publish ONLY if the group's latest committed version is still
      * `base` and no younger-numbered commit is in flight — the
      * compaction-vs-commit race detector. A maintenance pass reads state
      * at `base`, rewrites it, and must not become the latest version if
      * a data commit landed (or could still land with a number below
      * ours) in between: its rewrite would silently drop that commit's
      * rows from every latest-version read. Detection uses the claim
      * protocol itself — any version committed past `base`, or any
      * still-unexpired claim in `(base, version)` (a committer that
      * claimed before us and may yet publish BELOW our number), aborts
      * this commit (claim released, staged data swept) and returns None;
      * the caller retries on its next cadence. Claims NEWER than ours are
      * harmless: they carried `base`'s full manifest, so their publish
      * supersedes our compaction without losing rows. `claimTtlMs`
      * mirrors the vacuum heuristic — a dead claim older than the TTL is
      * a crashed commit, not an in-flight one.
      */
    def publishIfBaseIs(base: Long,
        claimTtlMs: Long = 24L * 3600 * 1000): Option[Long] = {
      requireOpen()
      val committedNow = store.committedVersions()
      val now = System.currentTimeMillis()
      val inFlightBelow = store.claimedVersions().filter(cv =>
        cv > base && cv < version && !committedNow.contains(cv) &&
          store.claimModifiedAtMs(cv).exists(now - _ <= claimTtlMs))
      if (committedNow.exists(_ > base) || inFlightBelow.nonEmpty) {
        abort(); None
      } else Some(publish())
    }

    /** Carry `table` forward UNCHANGED from the previous group version —
      * stages its prior file list verbatim, no data write. A group
      * manifest lists ONLY staged tables, so a commit that changes a
      * subset must carry the rest or they silently vanish from the new
      * version (the streaming arrival flows carry their fitted model
      * this way: centroids commit once, every batch re-lists them for
      * free).
      */
    def carry(table: String): Unit = {
      requireOpen()
      requireUnstaged(table)
      val prev = prevVersion.getOrElse(throw new IllegalArgumentException(
        s"no previous version at $root to carry $table from"))
      staged(table) = groupManifestFiles(store, root, prev).getOrElse(table,
        throw new IllegalArgumentException(
          s"table $table not present in v$prev of $root"))
      ()
    }

    /** Read a table staged in THIS commit (pre-publish). */
    def readStaged(table: String, mergeSchema: Boolean = true): DataFrame = {
      val files = staged.getOrElse(table, throw new IllegalArgumentException(
        s"table $table not staged in v$version (staged: ${staged.keys.mkString(", ")})"))
      readFiles(spark, root, files, mergeSchema, null)
    }

    /** Atomically publish every staged table as version [[version]]. */
    def publish(): Long = {
      requireOpen()
      require(staged.nonEmpty, "publish with no staged tables")
      val body = staged.map { case (t, files) =>
        "\"" + t + "\":" + files.map(p => "\"" + jsonEscape(p) + "\"")
          .mkString("[", ",", "]")
      }.mkString(s"""{"version":$version,"tables":{""", ",", "}}")
      if (!store.publish(version,
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        throw new java.io.IOException(
          s"group commit v$version lost the publish race at $root")
      published = true
      version
    }
  }

  /** Run `body` against an open [[GroupCommit]], aborting the commit
    * (staged data swept, claim released) if `body` throws before a
    * publish — without it, every writer that fails mid-stage leaves a
    * burned claim blocking race-detected publishers until the TTL
    * expires. A post-publish abort attempt is a no-op (swallowed), so
    * wrapping a body that publishes inside is safe.
    */
  private[graft] def runOrAbort[A](gc: GroupCommit)(body: => A): A =
    try body
    catch {
      case e: Throwable =>
        try gc.abort() catch { case _: Throwable => () }
        throw e
    }

  /** Open an atomic multi-table commit at `root` (claims the version
    * number immediately; see [[GroupCommit]]).
    */
  def beginGroupCommit(spark: SparkSession, root: String,
      maxAttempts: Int = 10,
      manifestStore: Option[ManifestStore] = None): GroupCommit = {
    val store = storeFor(spark, root, manifestStore)
    val next = claimNext(store, root, maxAttempts)
    new GroupCommit(spark, root, store, next,
      store.committedVersions().lastOption)
  }

  /** Commit several tables as ONE atomic version of the group at `root`.
    * Convenience over [[beginGroupCommit]] for callers with all frames in
    * hand; returns the committed version.
    */
  def commitAll(tables: Seq[(String, DataFrame)], root: String,
      mode: String = "overwrite", maxAttempts: Int = 10,
      manifestStore: Option[ManifestStore] = None): Long = {
    require(tables.nonEmpty, "commitAll with no tables")
    val gc = beginGroupCommit(tables.head._2.sparkSession, root,
      maxAttempts, manifestStore)
    tables.foreach { case (t, df) => gc.write(t, df, mode) }
    gc.publish()
  }

  /** Read one member table of the group at `root` (default: latest
    * version). The version resolves ONCE for the whole group, so two
    * `readTable` calls at the same pinned version are guaranteed mutually
    * consistent; callers wanting cross-table consistency at "latest"
    * resolve `versions(...).last` once and pin it.
    */
  def readTable(spark: SparkSession, root: String, table: String,
      version: Option[Long] = None, mergeSchema: Boolean = true,
      schemaDDL: String = null,
      manifestStore: Option[ManifestStore] = None): DataFrame = {
    val store = storeFor(spark, root, manifestStore)
    val v = resolveVersion(store, root, version)
    val files = memberFiles(store, root, v, table)
    require(files.nonEmpty, s"table $table of group v$v at $root lists no files")
    readFiles(spark, root, files, mergeSchema, schemaDDL)
  }

  /** Resolve a requested version against the committed list — the ONE
    * definition of "no versions" / "version not present" (the specs
    * assert on the `version $v not in` wording; every reader shares it).
    */
  private def resolveVersion(store: ManifestStore, at: String,
      version: Option[Long]): Long = {
    val vs = store.committedVersions()
    require(vs.nonEmpty, s"no committed versions at $at")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs at $at")
    v
  }

  /** One member table's file list, with the shared missing-table error. */
  private def memberFiles(store: ManifestStore, root: String, v: Long,
      table: String): Seq[String] =
    groupManifestFiles(store, root, v).getOrElse(table,
      throw new java.io.FileNotFoundException(
        s"table $table not in group v$v at $root"))

  /** Member tables of the group manifest at `version` (default: latest).
    * Maintenance jobs use this to discover which tables a retention pass
    * must rewrite or carry — a group manifest lists ONLY staged tables,
    * so a compacting commit that misses one drops it from the version.
    */
  def tables(spark: SparkSession, root: String,
      version: Option[Long] = None,
      manifestStore: Option[ManifestStore] = None): Seq[String] = {
    val store = storeFor(spark, root, manifestStore)
    groupManifestFiles(store, root,
      resolveVersion(store, root, version)).keys.toSeq.sorted
  }

  /** Absolute data-file paths of one member table at a version (default:
    * latest) — what a retention pass stats to size its compaction rewrite
    * (file COUNT and BYTES without reading any data).
    */
  def tableFiles(spark: SparkSession, root: String, table: String,
      version: Option[Long] = None,
      manifestStore: Option[ManifestStore] = None): Seq[String] = {
    val store = storeFor(spark, root, manifestStore)
    val v = resolveVersion(store, root, version)
    memberFiles(store, root, v, table)
      .map(rel => new Path(root, rel).toString)
  }

  /** DRIVER-SIDE read of a one-row int64 marker table (the `applied`
    * batch id the exactly-once flows consult before every micro-batch):
    * the manifest already names the file, and reading one 8-byte value
    * through a full Spark job (plan → schedule → task → collect) was a
    * fixed per-batch lifecycle cost. Reads the FIRST row's `column` via
    * parquet-mr — works on both Spark-written and
    * [[GroupCommit.writeMarkerLong]]-written files. Falls back to a
    * Spark read when the marker unexpectedly spans several files (a
    * foreign writer) — correctness never depends on the fast path.
    */
  def readMarkerLong(spark: SparkSession, root: String, table: String,
      version: Option[Long], column: String,
      manifestStore: Option[ManifestStore] = None): Long = {
    val files = tableFiles(spark, root, table, version, manifestStore)
    if (files.size == 1) {
      val conf = spark.sparkContext.hadoopConfiguration
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new Path(files.head))
        .withConf(conf).build()
      try {
        val g = reader.read()
        require(g != null, s"marker table $table at $root is empty")
        g.getLong(column, 0)
      } finally reader.close()
    } else
      readTable(spark, root, table, version, manifestStore = manifestStore)
        .select(column).head().getLong(0)
  }

  /** Row count of one member table at a version (default: latest) from
    * parquet FOOTERS only — O(files) driver-side footer reads (a few KB
    * each, summed row-group counts), no data pages, no executors, no
    * Spark job. What a maintenance policy reads to price a rewrite
    * decision (e.g. [[graft.flows.AnnIndex.maintainAndFold]]'s
    * tombstone-fraction dial) without paying a scan: at 100 TB the
    * manifest's file list is the bound, not the bytes.
    */
  def tableRowCount(spark: SparkSession, root: String, table: String,
      version: Option[Long] = None,
      manifestStore: Option[ManifestStore] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    tableFiles(spark, root, table, version, manifestStore).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Every member table's absolute data-file paths at a version (default:
    * latest) in ONE manifest read — the whole-group view a retention pass
    * iterates ([[graft.flows.StreamingRetention]]); per-table calls to
    * [[tableFiles]] would re-list and re-parse the manifest each time.
    */
  def groupTableFiles(spark: SparkSession, root: String,
      version: Option[Long] = None,
      manifestStore: Option[ManifestStore] = None): Map[String, Seq[String]] = {
    val store = storeFor(spark, root, manifestStore)
    groupManifestFiles(store, root, resolveVersion(store, root, version))
      .map { case (t, fs0) =>
        t -> fs0.map(rel => new Path(root, rel).toString) }
  }

  /** [[groupTableFiles]] with MANIFEST-RELATIVE paths — what
    * [[GroupCommit.writeWithCarried]] consumes (the manifest lists
    * relative paths; a retention pass that carried absolute ones would
    * publish a manifest no reader could resolve).
    */
  private[graft] def groupTableRelFiles(spark: SparkSession, root: String,
      version: Option[Long] = None,
      manifestStore: Option[ManifestStore] = None): Map[String, Seq[String]] = {
    val store = storeFor(spark, root, manifestStore)
    groupManifestFiles(store, root, resolveVersion(store, root, version))
  }

  /** Read an explicit SUBSET of a group's manifest-relative files — the
    * incremental-compaction read path: a retention pass reads only the
    * small-file tail it is about to rewrite, never the carried large
    * files. Partition columns are recovered per version directory exactly
    * as [[readTable]] does.
    */
  private[graft] def readRelFiles(spark: SparkSession, root: String,
      files: Seq[String], mergeSchema: Boolean = true,
      schemaDDL: String = null): DataFrame = {
    require(files.nonEmpty, s"readRelFiles with no files at $root")
    readFiles(spark, root, files, mergeSchema, schemaDDL)
  }

  /** Group analog of [[vacuum]]: delete member-table data files referenced
    * by NO group manifest ≥ `keepFrom`, plus older manifests and expired
    * crashed claims. Same in-flight protection as the single-table vacuum
    * (a manifest-less claim ≥ keepFrom or younger than `claimTtlMs` keeps
    * its data). Returns the number of deleted data files.
    */
  def vacuumGroup(spark: SparkSession, root: String, keepFrom: Long,
      claimTtlMs: Long = 24L * 3600 * 1000,
      manifestStore: Option[ManifestStore] = None): Int = {
    val f = fs(spark, root)
    val store = storeFor(spark, root, manifestStore)
    val vs = store.committedVersions()
    val keep = vs.filter(_ >= keepFrom)
    require(keep.nonEmpty, s"vacuum would delete every version of $root")
    val live = keep.flatMap(v => groupManifestFiles(store, root, v).values.flatten).toSet
    val now = System.currentTimeMillis()
    def claimAgeMs(v: Long): Long =
      store.claimModifiedAtMs(v).map(now - _).getOrElse(Long.MaxValue)
    val inFlight = store.claimedVersions()
      .filter(v => !vs.contains(v) &&
        (v >= keepFrom || claimAgeMs(v) <= claimTtlMs)).toSet
    val rootPrefix = f.makeQualified(new Path(root)).toUri.getPath
    var deleted = 0
    // member data roots: every first-level dir with a `_data` child (the
    // manifests' table keys cover committed tables; this sweep also finds
    // tables only ever staged by crashed commits)
    val tableDirs =
      if (!f.exists(new Path(root))) Seq.empty
      else f.listStatus(new Path(root)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName != "_manifests")
        .map(s => new Path(s.getPath, "_data"))
        .filter(f.exists)
    tableDirs.foreach { dataRoot =>
      // FsWalk, not listFiles(recursive) — the located listing's
      // per-file cost made each superseding vacuum a multi-second stall
      // on the local FS (FsWalk scaladoc)
      val victims = FsWalk.files(f, dataRoot).flatMap { s =>
        val rel = s.getPath.toUri.getPath
          .stripPrefix(rootPrefix).stripPrefix("/")
        // rel = <table>/_data/v{N}/…: leave in-flight versions alone
        val ver = rel.split("/").lift(2).collect {
          case v if v.matches("v\\d+") => v.drop(1).toLong
        }
        if (!live.contains(rel) && !ver.exists(inFlight.contains))
          Some(s.getPath)
        else None
      }
      victims.foreach { p => if (f.delete(p, false)) deleted += 1 }
    }
    vs.filterNot(keep.contains).foreach { v =>
      store.deleteManifest(v)
      store.deleteClaim(v)
    }
    store.claimedVersions()
      .filter(v => v < keepFrom && !vs.contains(v) && !inFlight.contains(v))
      .foreach(store.deleteClaim)
    deleted
  }

  /** Delete data files referenced by NO manifest ≥ `keepFrom` and all
    * older manifests — the vacuum step that bounds storage. Returns the
    * number of deleted data files.
    *
    * `claimTtlMs`: a manifest-less claim younger than this is an in-flight
    * commit whatever its version number — a SLOW commit claimed before a
    * newer version landed can legitimately sit below `keepFrom` while its
    * data write still runs, and sweeping it would corrupt the version the
    * moment its manifest lands. Only claims BOTH below keepFrom AND older
    * than the TTL are crashed commits. The same retention heuristic
    * lakehouse vacuums ship: pick a TTL longer than your longest commit.
    */
  def vacuum(spark: SparkSession, table: String, keepFrom: Long,
      claimTtlMs: Long = 24L * 3600 * 1000,
      manifestStore: Option[ManifestStore] = None): Int = {
    val f = fs(spark, table)
    val store = storeFor(spark, table, manifestStore)
    val vs = store.committedVersions()
    val keep = vs.filter(_ >= keepFrom)
    require(keep.nonEmpty, s"vacuum would delete every version of $table")
    val live = keep.flatMap(manifestFiles(store, table, _)).toSet
    // a commit IN FLIGHT (claim taken, manifest not yet published) has
    // data files no manifest references yet — its whole _data/v{N} dir is
    // off-limits. In flight = manifest-less AND (≥ keepFrom OR claim
    // younger than the TTL).
    val now = System.currentTimeMillis()
    def claimAgeMs(v: Long): Long =
      store.claimModifiedAtMs(v).map(now - _).getOrElse(Long.MaxValue)
    val inFlight = store.claimedVersions()
      .filter(v => !vs.contains(v) &&
        (v >= keepFrom || claimAgeMs(v) <= claimTtlMs)).toSet
    val dataRoot = new Path(table, "_data")
    // path-string relativization (URI.relativize silently fails across
    // scheme-qualified vs raw paths and would mark every file dead)
    val tablePrefix = f.makeQualified(new Path(table)).toUri.getPath
    var deleted = 0
    if (f.exists(dataRoot)) {
      // FsWalk, not listFiles(recursive) — see FsWalk's scaladoc
      val victims = FsWalk.files(f, dataRoot).flatMap { s =>
        val rel = s.getPath.toUri.getPath
          .stripPrefix(tablePrefix).stripPrefix("/")
        // rel = _data/v{N}/...: leave in-flight versions' files alone
        val ver = rel.split("/").lift(1).collect {
          case v if v.matches("v\\d+") => v.drop(1).toLong
        }
        if (!live.contains(rel) && !ver.exists(inFlight.contains))
          Some(s.getPath)
        else None
      }
      victims.foreach { p => if (f.delete(p, false)) deleted += 1 }
    }
    vs.filterNot(keep.contains).foreach { v =>
      store.deleteManifest(v)
      store.deleteClaim(v)
    }
    // claims below keepFrom whose manifest never appeared AND whose TTL
    // expired (crashed committers): their data dirs were just swept above,
    // drop the claims; in-flight claims keep both claim and data
    store.claimedVersions()
      .filter(v => v < keepFrom && !vs.contains(v) && !inFlight.contains(v))
      .foreach(store.deleteClaim)
    deleted
  }
}
