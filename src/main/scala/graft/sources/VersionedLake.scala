package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JArray, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

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

/** Manifest-based versioned lake — the minimal lakehouse commit protocol.
  * A root holds a GROUP of member tables (a single table is a one-member
  * group) under ONE manifest sequence: every commit writes NEW data files
  * under `<root>/<table>/_data/v{N}/` and then atomically publishes
  * `<root>/_manifests/v{N}.json`, which lists exactly the files of every
  * member visible in version N. Readers resolve a manifest (latest or
  * pinned) and read only its files, so:
  *
  *  - writers never mutate visible data (a failed commit leaves orphaned
  *    data files, never a corrupt table);
  *  - concurrent readers see a consistent snapshot across members: one
  *    publish covers the whole group, so a reader can NEVER observe table
  *    A at version n beside table B at n−1 (the guarantee the `_COMPLETE`
  *    marker pattern only approximated);
  *  - old versions remain readable (time travel / instant rollback) until
  *    vacuumed.
  *
  * This re-expresses the reference's staged-delete-then-reload upload mode
  * (reference: pipelines/utils/tasks.py:812-933) as an O(1) metadata swap
  * instead of a destructive window where the table is half-loaded.
  *
  * Manifest format:
  * `{"version":N,"tables":{"a":["a/_data/vN/part…"],"b":[…]},"applied":B}`
  * (root-relative paths), written and parsed with json4s: Spark leaves `,`
  * and non-ASCII text raw in partition directories and a foreign writer
  * may add quotes or backslashes, so the codec must be a real JSON one. A
  * manifest without `tables` fails loudly at parse (`is not a group
  * manifest`). `applied` is optional: the exactly-once watermark of the
  * stream that writes the group (the last micro-batch id whose data this
  * version holds — Delta's `txn` action reduced to one field). It is
  * STICKY: a commit that does not call [[GroupCommit.markApplied]]
  * republishes its base version's value, so compaction, retirements and
  * carry-only commits keep it unawares.
  *
  * The ATOMICITY PRIMITIVE is pluggable via [[ManifestStore]]: on
  * HDFS-like filesystems ([[HadoopManifestStore]], the default) a claim is
  * create-no-overwrite and a manifest publish is write-tmp-then-rename; on
  * object stores ([[CasManifestStore]] over a [[CasBlobStore]]) both are a
  * conditional PUT (`If-None-Match: *`, the S3/GCS first-writer-wins
  * precondition) — no rename needed, because a conditional PUT of the
  * final key IS the visibility event. Data files are plain parquet either
  * way; only manifest/claim atomicity differs per store.
  *
  * == Concurrency contract ==
  *
  *  - '''Committers''': each commit first CLAIMS its version number by
  *    creating `_manifests/v{N}.claim` with create-no-overwrite — atomic
  *    on HDFS and POSIX, so two committers racing to the same N produce
  *    exactly one winner; the loser recomputes N and retries (bounded by
  *    `maxAttempts`). The claim is taken BEFORE any data write, so no two
  *    commits ever share a `<table>/_data/v{N}` directory. A committer
  *    that fails before publishing aborts ([[runOrAbort]]: its data swept,
  *    its claim released); one that crashes between claim and manifest
  *    burns its number (versions may be non-contiguous), and later
  *    commits skip past it because the next number is computed over
  *    claims AND manifests.
  *  - '''Readers''': resolve a manifest (latest or pinned) and read only
  *    its immutable file lists — a reader never observes a half-commit,
  *    because the manifest publish is the only visibility event.
  *  - '''Append mode''': an append carries the member's files of the
  *    latest version COMMITTED when it claimed. Serial appends (the
  *    stored-state pattern in [[graft.flows.DedupIndex]]) therefore chain
  *    completely; two appends racing each other may each chain from the
  *    same base — concurrent writers wanting strict append serialization
  *    must serialize externally (the same rule Delta's OCC enforces by
  *    aborting, surfaced here by version numbering) or publish
  *    race-detected ([[GroupCommit.publishIfBaseIs]]).
  *  - '''Vacuum vs readers''': vacuum deletes files unreferenced by every
  *    manifest ≥ `keepFrom`; a reader of any KEPT version is unaffected
  *    mid-vacuum. A reader pinned BELOW `keepFrom` races with the delete
  *    by design — the caller owns picking a `keepFrom` older than any
  *    in-flight read (the same retention contract lakehouse formats ship).
  */
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
    * must never hold the JVM open. Its threads inherit Spark's local
    * properties from whichever thread created them, so every task runs
    * under its submitter's job scope ([[JobScopeProps]]), never a stale
    * inherited one.
    */
  private lazy val stagingPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8, r => {
      val t = new Thread(r, "lake-staging")
      t.setDaemon(true)
      t
    })

  /** The local properties that scope a Spark job to its caller: job group
    * (what `cancelJobGroup` matches), description, interrupt-on-cancel,
    * scheduler pool and job tags.
    */
  private val JobScopeProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool", "spark.job.tags")

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

  // ========================= manifest codec =========================
  //
  // A manifest is a json4s-rendered object; a reader parses the whole
  // manifest and pattern-matches the fields it needs.

  private def encodeManifest(fields: (String, JValue)*): Array[Byte] =
    JsonMethods.compact(JsonMethods.render(JObject(fields.toList)))
      .getBytes(UTF_8)

  private def fileArray(files: Seq[String]): JValue =
    JArray(files.map(JString(_)).toList)

  /** A manifest's top-level fields (empty if it is not a JSON object). */
  private def parseManifest(store: ManifestStore,
      version: Long): Map[String, JValue] =
    JsonMethods.parse(new String(store.readManifest(version), UTF_8)) match {
      case JObject(fields) => fields.toMap
      case _ => Map.empty
    }

  /** The string elements of a manifest file list; None if `v` is not one. */
  private def fileList(v: JValue): Option[Seq[String]] = v match {
    case JArray(xs) => Some(xs.map {
      case JString(p) => p
      case other => throw new IllegalStateException(
        s"malformed manifest: unexpected $other in file list")
    })
    case _ => None
  }

  /** Read an explicit manifest file list rooted at `root`, grouping by
    * per-version data directory and anchoring each group's read at its own
    * basePath: partitioned commits nest files under col=value dirs, and
    * basePath is what lets the scan recover the partition COLUMNS (and
    * prune on them — PartitionFilters) from a manifest's explicit file
    * list. An explicit `schemaDDL` pins column types — partition-column
    * type INFERENCE would e.g. read a bigint dir value back as INT, a
    * mismatch that breaks typed consumers downstream. Without one, the
    * data schema comes from the listed files' footers, read on the driver
    * ([[ParquetRead.files]]: the first file's, or every file's merged
    * under `mergeSchema`) — no schema-inference job, no listing.
    */
  private def readFiles(spark: SparkSession, root: String,
      files: Seq[String], mergeSchema: Boolean, schemaDDL: String): DataFrame = {
    // version dir = everything up to and including the v{N} segment after
    // `_data` (`t/_data/vN` for member table `t`)
    def versionDir(rel: String): String = {
      val segs = rel.split("/")
      val i = segs.indexOf("_data")
      require(i >= 0 && i + 1 < segs.length, s"not a lake data path: $rel")
      segs.take(i + 2).mkString("/")
    }
    val byVersionDir = files.groupBy(versionDir)
    val parts = byVersionDir.toSeq.sortBy(_._1).map { case (vdir, fs0) =>
      // listed paths are literal file names, never glob patterns: a raw
      // `[`, `{`, `*`, `?` or `\` in a foreign writer's partition directory
      // would otherwise be expanded and miss the file
      val basePath = "basePath" -> new Path(root, vdir).toString
      val paths = fs0.map(rel => new Path(root, rel).toString)
      if (schemaDDL != null)
        spark.read.options(Map(basePath, "__globPaths__" -> "false"))
          .schema(schemaDDL).parquet(paths: _*)
      else ParquetRead.files(spark, paths,
        Map(basePath, "mergeSchema" -> mergeSchema.toString))
    }
    parts.reduceLeft(_.unionByName(_, allowMissingColumns = true))
  }

  // ====================== snapshots and commits ======================

  // leading alphanumeric keeps member tables out of the store's own
  // metadata directories (`_manifests`, `_data`); the reserved words are
  // the manifests' own keys
  private def tableNameOk(t: String): Boolean =
    t.nonEmpty && t.matches("[A-Za-z0-9][A-Za-z0-9_.-]*") &&
      t != "version" && t != "tables"

  /** One committed version of the group at `root`, resolved and parsed
    * ONCE: every member table's MANIFEST-RELATIVE file list and the
    * `applied` stream watermark (None: no batch applied yet). A published
    * manifest is immutable, so every read through one snapshot is pinned
    * to [[version]] — mutually consistent across members, and unmoved by
    * any commit that lands after the snapshot was taken. A reader takes
    * ONE snapshot and reads every member it needs from it; a writer reads
    * its commit's base through [[GroupCommit.base]].
    */
  final class Snapshot private[VersionedLake] (spark: SparkSession,
      root: String, val version: Long, val tables: Map[String, Seq[String]],
      val applied: Option[Long]) {

    private def files(table: String): Seq[String] =
      tables.getOrElse(table, throw new java.io.FileNotFoundException(
        s"table $table not in group v$version at $root"))

    /** Read member `table`.
      *
      * Schema DRIFT across commits is tolerated permissively (`mergeSchema`,
      * on by default): an append-mode commit may add columns, and a merged
      * read returns the union schema with nulls for files written before
      * the column existed — `unionByName(allowMissingColumns)` semantics at
      * the scan, matching the reference's drift tolerance
      * (bq_to_subpav/utils.py:182-201). At 100 TB drift across thousands of
      * daily commits is guaranteed, so the permissive read is the default;
      * the cost is one footer read per distinct file at planning time. A
      * pinned time-travel read of an old version still returns exactly that
      * version's schema (its manifest lists only its own files). An
      * explicit `schemaDDL` pins the types instead (see `readFiles`).
      */
    def read(table: String, mergeSchema: Boolean = true,
        schemaDDL: String = null): DataFrame = {
      val fs = files(table)
      require(fs.nonEmpty,
        s"table $table of group v$version at $root lists no files")
      VersionedLake.readFiles(spark, root, fs, mergeSchema, schemaDDL)
    }

    /** Read an explicit list of manifest-relative files at this root,
      * normally a SUBSET of this snapshot's — the incremental-compaction
      * read path: a retention pass reads only the small-file tail it is
      * about to rewrite, never the carried large files. (The progress
      * ledger passes the union of every snapshot's files.) Partition
      * columns are recovered per version directory exactly as [[read]]
      * does.
      */
    def readFiles(rel: Seq[String]): DataFrame = {
      require(rel.nonEmpty, s"readFiles with no files at $root")
      VersionedLake.readFiles(spark, root, rel, mergeSchema = true,
        schemaDDL = null)
    }

    /** Row count of member `table` from parquet FOOTERS only — O(files)
      * driver-side footer reads (a few KB each, summed row-group counts),
      * no data pages, no executors, no Spark job. What a maintenance
      * policy reads to price a rewrite decision (e.g.
      * [[graft.flows.AnnIndex.maintainAndFold]]'s tombstone-fraction
      * dial) without paying a scan: at 100 TB the manifest's file list is
      * the bound, not the bytes.
      */
    def rowCount(table: String): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      files(table).map { rel =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(root, rel), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  private def groupSnapshot(spark: SparkSession, store: ManifestStore,
      root: String, version: Long): Snapshot = {
    val m = parseManifest(store, version)
    val tables = m.get("tables") match {
      case Some(JObject(fields)) => fields.map { case (t, v) =>
        t -> fileList(v).getOrElse(throw new IllegalStateException(
          s"malformed group manifest v$version of $root: table $t"))
      }.toMap
      case _ => throw new IllegalStateException(
        s"v$version of $root is not a group manifest")
    }
    new Snapshot(spark, root, version, tables,
      m.get("applied").collect { case JInt(b) => b.toLong })
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
      val base: Option[Snapshot]) {
    // `base` is the latest version COMMITTED when this commit claimed its
    // number, parsed once — a writer reads its state, its watermark
    // (`base.applied`) and its publishIfBaseIs version from it, so all
    // derive from the SAME version the commit chains from; append carry
    // lists, carry(), [[carryAllExcept]] and the sticky watermark read it
    // too. A separately-read "latest" can sit one commit behind the claim
    // (a fold landing in the gap), making carry() throw on a table the
    // manifest no longer lists — a loud crash where a retry belongs.
    private var applied: Option[Long] = None
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
        if (tables.exists(_._3 == "append")) base.fold(
          Map.empty[String, Seq[String]])(_.tables)
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
      // each write runs under THIS caller's job scope, and the pool
      // thread gets its own back afterwards (null unsets a property)
      val sc = spark.sparkContext
      def scope() = JobScopeProps.map(k => k -> sc.getLocalProperty(k))
      def enter(props: Seq[(String, String)]): Unit =
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val caller = scope()
      val futures = tables.map { case (t, df, carried, pb) =>
        t -> stagingPool.submit(() => {
          val own = scope()
          enter(caller)
          try carried ++ writeData(df, f,
            new Path(root, s"$t/_data/v$version"), s"$t/_data/v$version", pb)
          finally enter(own)
        })
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

    /** Record `batchId` as the stream watermark this commit publishes
      * (the group manifest's `applied` field). It becomes visible in the
      * same atomic publish as the batch's data, or not at all.
      */
    def markApplied(batchId: Long): Unit = {
      requireOpen()
      applied = Some(batchId)
    }

    /** Stage `table` as `carriedFiles` (prior data files re-listed
      * VERBATIM — no read, no rewrite) plus `df`'s freshly written files:
      * the incremental-compaction primitive. A size-tiered retention pass
      * carries the already-compacted large files of the previous version
      * and rewrites only the small-file tail, so its I/O is O(new data
      * since the last pass), not O(accumulated state). `carriedFiles` are
      * manifest-relative paths and must belong to `table` (enforced) —
      * they normally come from the base manifest ([[base]]'s `tables`);
      * the vacuum keeps them alive because the
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
      val prev = base.getOrElse(throw new IllegalArgumentException(
        s"no previous version at $root to carry $table from"))
      staged(table) = prev.tables.getOrElse(table,
        throw new IllegalArgumentException(
          s"table $table not present in v${prev.version} of $root"))
      ()
    }

    /** [[carry]] every base-version table except `written`, in sorted
      * order — optional members included (see [[carry]] for why).
      */
    def carryAllExcept(written: Set[String]): Unit =
      base.foreach(_.tables.keys.filterNot(written).toSeq.sorted.foreach(carry))

    /** Read a table staged in THIS commit (pre-publish). */
    def readStaged(table: String, mergeSchema: Boolean = true): DataFrame = {
      val files = staged.getOrElse(table, throw new IllegalArgumentException(
        s"table $table not staged in v$version (staged: ${staged.keys.mkString(", ")})"))
      readFiles(spark, root, files, mergeSchema, null)
    }

    /** Atomically publish every staged table as version [[version]], with
      * the [[markApplied]] watermark or, failing that, the base version's.
      */
    def publish(): Long = {
      requireOpen()
      require(staged.nonEmpty, "publish with no staged tables")
      val watermark = applied.orElse(base.flatMap(_.applied))
      val manifest = encodeManifest(Seq(
        "version" -> JInt(version),
        "tables" -> JObject(staged.toList.map { case (t, files) =>
          t -> fileArray(files) })) ++
        watermark.map(b => "applied" -> JInt(b)): _*)
      if (!store.publish(version, manifest))
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

  /** The one race-detected commit loop of the lake's writers: claim a
    * version, run `body` under [[runOrAbort]] and return its `Some`. A
    * `None` is a lost race (`body` ends in [[GroupCommit.publishIfBaseIs]],
    * which has already aborted): back off and retry at the new base, up
    * to `maxAttempts` times, then throw naming `writer`.
    */
  private[graft] def commitLoop[A](spark: SparkSession, root: String,
      writer: String, maxAttempts: Int)(body: GroupCommit => Option[A]): A =
    (1 to maxAttempts).iterator.map { attempt =>
      if (attempt > 1) retryBackoff(attempt - 1)
      val gc = beginGroupCommit(spark, root)
      val out = runOrAbort(gc)(body(gc))
      if (out.isEmpty) gc.abort()
      out
    }.collectFirst { case Some(a) => a }.getOrElse(
      throw new IllegalStateException(s"$writer at $root lost the commit " +
        s"race $maxAttempts times (a concurrent writer kept landing inside " +
        "its claim→publish window; retry)"))

  /** Linear backoff between commit-race retries: the usual loser is a
    * writer whose publish window overlapped an in-flight LOWER claim
    * (lowest claim wins — see `publishIfBaseIs`); that winner publishes
    * within milliseconds of its own window closing, so a short wait
    * converts a burned attempt into a clean rebase instead of spinning
    * the bounded retry budget against a still-open window.
    */
  private def retryBackoff(attempt: Int): Unit =
    Thread.sleep(math.min(500L, 50L * attempt))

  /** Open an atomic multi-table commit at `root` (claims the version
    * number immediately; see [[GroupCommit]]).
    */
  def beginGroupCommit(spark: SparkSession, root: String,
      maxAttempts: Int = 10,
      manifestStore: Option[ManifestStore] = None): GroupCommit = {
    val store = storeFor(spark, root, manifestStore)
    val next = claimNext(store, root, maxAttempts)
    // a base that fails to parse releases the claim it would have burned
    val base =
      try store.committedVersions().lastOption
        .map(groupSnapshot(spark, store, root, _))
      catch { case e: Throwable => store.deleteClaim(next); throw e }
    new GroupCommit(spark, root, store, next, base)
  }

  /** Commit several tables as ONE atomic version of the group at `root`
    * (one table: a one-member group). Convenience over [[beginGroupCommit]]
    * for callers with all frames in hand; `mode` applies to every table
    * (`"overwrite"`, or `"append"`: the new version lists the member's
    * base files plus the new ones — a pure metadata union, no rewrite).
    * A write that throws aborts the commit ([[runOrAbort]]). Returns the
    * committed version.
    */
  def commitAll(tables: Seq[(String, DataFrame)], root: String,
      mode: String = "overwrite", maxAttempts: Int = 10,
      manifestStore: Option[ManifestStore] = None): Long = {
    require(tables.nonEmpty, "commitAll with no tables")
    val gc = beginGroupCommit(tables.head._2.sparkSession, root,
      maxAttempts, manifestStore)
    runOrAbort(gc) {
      tables.foreach { case (t, df) => gc.write(t, df, mode) }
      gc.publish()
    }
  }

  /** The group at `root` at one version (default: latest): ONE
    * committed-version listing and ONE manifest parse, however many
    * members are then read (see [[Snapshot]]).
    */
  def snapshot(spark: SparkSession, root: String,
      version: Option[Long] = None,
      manifestStore: Option[ManifestStore] = None): Snapshot = {
    val store = storeFor(spark, root, manifestStore)
    groupSnapshot(spark, store, root, resolveVersion(store, root, version))
  }

  /** [[snapshot]] of the latest version, or None for an uncommitted root:
    * ONE listing answers both "does it exist" and "which version".
    */
  def trySnapshot(spark: SparkSession, root: String): Option[Snapshot] = {
    val store = storeFor(spark, root, None)
    store.committedVersions().lastOption
      .map(groupSnapshot(spark, store, root, _))
  }

  /** Every committed version of the group at `root`, ascending, each
    * parsed once — ONE listing for all of them (a [[snapshot]] per version
    * would re-list the manifests for each). Empty for an uncommitted root.
    */
  def snapshots(spark: SparkSession, root: String): Seq[Snapshot] = {
    val store = storeFor(spark, root, None)
    store.committedVersions().map(groupSnapshot(spark, store, root, _))
  }

  /** Read one member table of the group at `root` (default: latest
    * version). A caller reading more than one member takes one
    * [[snapshot]] instead, which pins them all to the same version.
    */
  def readTable(spark: SparkSession, root: String, table: String,
      version: Option[Long] = None, mergeSchema: Boolean = true,
      schemaDDL: String = null,
      manifestStore: Option[ManifestStore] = None): DataFrame =
    snapshot(spark, root, version, manifestStore)
      .read(table, mergeSchema, schemaDDL)

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

  /** Delete member-table data files referenced by NO manifest ≥
    * `keepFrom`, plus older manifests and expired crashed claims — the
    * vacuum step that bounds storage. Returns the number of deleted data
    * files.
    *
    * `claimTtlMs`: a manifest-less claim younger than this is an in-flight
    * commit whatever its version number — a SLOW commit claimed before a
    * newer version landed can legitimately sit below `keepFrom` while its
    * data write still runs, and sweeping it would corrupt the version the
    * moment its manifest lands. Only claims BOTH below keepFrom AND older
    * than the TTL are crashed commits. The same retention heuristic
    * lakehouse vacuums ship: pick a TTL longer than your longest commit.
    */
  def vacuumGroup(spark: SparkSession, root: String, keepFrom: Long,
      claimTtlMs: Long = 24L * 3600 * 1000,
      manifestStore: Option[ManifestStore] = None): Int = {
    val f = fs(spark, root)
    val store = storeFor(spark, root, manifestStore)
    val vs = store.committedVersions()
    val keep = vs.filter(_ >= keepFrom)
    require(keep.nonEmpty, s"vacuum would delete every version of $root")
    val live = keep.flatMap(v =>
      groupSnapshot(spark, store, root, v).tables.values.flatten).toSet
    // a commit IN FLIGHT (claim taken, manifest not yet published) has
    // data files no manifest references yet — its `<table>/_data/v{N}`
    // dirs are off-limits. In flight = manifest-less AND (≥ keepFrom OR
    // claim younger than the TTL).
    val now = System.currentTimeMillis()
    def claimAgeMs(v: Long): Long =
      store.claimModifiedAtMs(v).map(now - _).getOrElse(Long.MaxValue)
    val inFlight = store.claimedVersions()
      .filter(v => !vs.contains(v) &&
        (v >= keepFrom || claimAgeMs(v) <= claimTtlMs)).toSet
    // path-string relativization (URI.relativize silently fails across
    // scheme-qualified vs raw paths and would mark every file dead)
    val rootPrefix = f.makeQualified(new Path(root)).toUri.getPath
    var deleted = 0
    // member data roots: every first-level dir with a `_data` child (the
    // manifests' table keys cover committed tables; this sweep also finds
    // tables only ever staged by crashed commits)
    val dataRoots = if (!f.exists(new Path(root))) Seq.empty
      else f.listStatus(new Path(root)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName != "_manifests")
        .map(s => new Path(s.getPath, "_data"))
        .filter(f.exists)
    dataRoots.foreach { dataRoot =>
      // FsWalk, not listFiles(recursive) — the located listing's
      // per-file cost made each superseding vacuum a multi-second stall
      // on the local FS (FsWalk scaladoc)
      val victims = FsWalk.files(f, dataRoot).flatMap { s =>
        val rel = s.getPath.toUri.getPath
          .stripPrefix(rootPrefix).stripPrefix("/")
        // leave in-flight versions' files alone (the v{N} segment
        // follows `_data`, as in readFiles)
        val segs = rel.split("/")
        val ver = segs.lift(segs.indexOf("_data") + 1).collect {
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
