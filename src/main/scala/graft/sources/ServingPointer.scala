package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The blue/green cutover primitive for stored state: a tiny
  * [[VersionedLake]] group whose one member, `pointer`, holds ONE row —
  * the root currently being served. Every stored model here (the MinHash
  * dedup index, the IVF-PQ ANN index, the SemDeDup centroids) refits by
  * building a NEW root and cutting readers over; this is the cut. [[set]]
  * is an atomic one-member commit (manifest rename / conditional PUT —
  * the same CAS every commit uses), so a reader resolves either the old
  * root or the new one, never a torn in-between; readers that already
  * resolved the old root keep reading it untouched (roots are
  * immutable-once-built, and the pointer never deletes), which is exactly
  * the blue/green contract: drain, then retire the old root out of band.
  *
  * Why a lake table and not a config entry: the pointer inherits the
  * lake's durability, its version history ([[history]] — who served
  * when, the audit a cutover incident asks for first), and its store
  * abstraction (HDFS rename or object-store conditional PUT) with zero
  * new machinery.
  *
  * Reference analog: the stored-progress idiom that keys consumers off
  * warehouse state rather than deploy-time wiring (reference:
  * pipelines/utils/progress.py:22-140).
  */
object ServingPointer {

  private val Member = "pointer"
  private val schema =
    StructType(Seq(StructField("root", StringType, nullable = false)))

  private def servedRoot(snap: VersionedLake.Snapshot): String =
    snap.read(Member, schemaDDL = "root STRING").head.getString(0)

  /** Atomically point `ptr` at `root` (the cut). Returns the pointer's
    * committed version. The target is not validated here — a deployment
    * cuts over only after its own gate (e.g. [[graft.flows.AnnIndex
    * .recallProbe]] on the candidate root) passes, and a pointer to a
    * half-built root would fail loudly at first resolve+read anyway.
    */
  def set(spark: SparkSession, ptr: String, root: String): Long =
    VersionedLake.commitAll(Seq(Member ->
      spark.createDataFrame(java.util.List.of(Row(root)), schema)), ptr)

  /** The currently served root, or None when the pointer was never set
    * — one manifest-directory listing answers both.
    */
  def current(spark: SparkSession, ptr: String): Option[String] =
    VersionedLake.trySnapshot(spark, ptr).map(servedRoot)

  /** The currently served root. Branded on an unset pointer — a typo'd
    * pointer path must not surface as a bare "no committed versions".
    */
  def resolve(spark: SparkSession, ptr: String): String = {
    val root = current(spark, ptr)
    require(root.nonEmpty, s"no serving pointer at $ptr (set it first)")
    root.get
  }

  /** Every root this pointer has ever served, one row per cut in commit
    * order: (version, root). The cutover audit trail — one manifest
    * listing for all the cuts.
    */
  def history(spark: SparkSession, ptr: String): Seq[(Long, String)] = {
    val cuts = VersionedLake.snapshots(spark, ptr)
    require(cuts.nonEmpty, s"no serving pointer at $ptr (set it first)")
    cuts.map(snap => snap.version -> servedRoot(snap))
  }
}
