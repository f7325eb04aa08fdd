package graft.flows

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Dedup
import graft.sources.VersionedLake

/** Stored MinHash signature index — the PRODUCTION shape of near-dup
  * dedup at corpus scale: the `(id, hs)` hashed-shingle table and the
  * `(id, band, bucket)` LSH table are written to the lake ONCE per corpus
  * (at ingest time), and every downstream consumer — pair listing,
  * duplicate clustering, cluster retention, incremental batch dedup —
  * READS the stored tables instead of re-running the normalize → tokenize
  * → shingle → md5 pipeline, by far the most expensive stage. The hashed
  * table is written first and the banded table is derived FROM the staged
  * hashed table ([[Dedup.bandedFromHashed]]), so the corpus text is
  * shingled exactly once ever.
  *
  * Layout: `<root>/<key>` is ONE [[VersionedLake]] table GROUP holding the
  * `hashed`/`banded`/`pairs` member tables — all three are published by a
  * single atomic manifest commit, so a reader can never observe a torn
  * index (e.g. a new `hashed` beside a stale `pairs`), which the previous
  * `_COMPLETE`-marker gating only approximated between the last table
  * write and the marker write. A crash mid-build leaves no manifest and
  * the next call rebuilds from scratch. The key hashes the corpus
  * location and every parameter that shapes the index, plus a format
  * version.
  */
object DedupIndex {

  /** Bump when the on-disk layout or pipeline constants change — stale
    * indexes from an older build then miss and rebuild instead of being
    * read with wrong semantics. v6: the three tables form one atomic
    * [[VersionedLake]] group commit (no `_COMPLETE` marker). v7: `hashed`
    * and `banded` land Hive-partitioned by the [[Dedup.layoutHashed]]/
    * [[Dedup.layoutBanded]] prefix columns with in-directory probe-key
    * sort, so the arrival path reads only touched directories + row
    * groups instead of scanning O(state) per batch; `layoutParts` joins
    * the key spec (it parameterizes the layout like `bands` parameterizes
    * the signatures).
    */
  private val FormatVersion = 7

  private def defaultRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_minhash_index"

  /** Content stamp of the corpus location (total bytes, max modification
    * time, file count — one bounded recursive listing, the same metadata a
    * lake commit carries): folded into the index key so a corpus REWRITTEN
    * IN PLACE misses the old key and rebuilds, instead of silently serving
    * pairs computed from the previous data.
    */
  private def corpusStamp(spark: SparkSession, corpusPath: String): String = {
    val p = new Path(corpusPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      // FsWalk, not listFiles(recursive) — see FsWalk's scaladoc
      var len = 0L; var mt = 0L; var n = 0L
      graft.sources.FsWalk.files(fs, p).foreach { st =>
        len += st.getLen; mt = math.max(mt, st.getModificationTime); n += 1
      }
      s"$len|$mt|$n"
    }
  }

  private def key(spark: SparkSession, corpusPath: String, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int, bands: Int,
      subsetTag: String, layoutParts: Int): String = {
    val spec = s"v$FormatVersion|$corpusPath|${corpusStamp(spark, corpusPath)}|" +
      s"$idCol|$textCol|$shingleN|$numHashes|$bands|$subsetTag|$layoutParts"
    java.security.MessageDigest.getInstance("MD5")
      .digest(spec.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Build the index for `docs` under `dir`, superseding any prior index
    * at the same key. One [[VersionedLake.beginGroupCommit]] spans all
    * three tables: `hashed` is staged from the corpus text, `banded` is
    * derived from the STAGED hashed parquet (`readStaged` — one shingle
    * pass ever, and the banded job reads slim `(id, hs)` rows instead of
    * re-tokenizing documents), `pairs` from the staged pair of them; the
    * single publish makes the whole group visible atomically. Jaccard is
    * threshold-free, so one stored pair table serves every downstream
    * policy (cluster at 0.5, audit at 0.8, ...) with a single slim scan.
    * Returns the final index directory.
    */
  def build(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, corpusPath: String, root: String = defaultRoot,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      subsetTag: String = "",
      layoutParts: Int = Dedup.IndexLayoutParts): String = {
    val k = key(spark, corpusPath, idCol, textCol, shingleN, numHashes, bands,
      subsetTag, layoutParts)
    val finalDir = s"$root/$k"
    val gc = VersionedLake.beginGroupCommit(spark, finalDir)
    val (hashed, _) = Dedup.minHashIndexPortable(docs, idCol, textCol,
      shingleN, numHashes, bands, cache = false)
    gc.write("hashed", Dedup.layoutHashed(hashed, layoutParts),
      partitionBy = Seq(Dedup.IdLayoutCol))
    val storedHashed = gc.readStaged("hashed")
    gc.write("banded", Dedup.layoutBanded(
        Dedup.bandedFromHashed(storedHashed, numHashes, bands), layoutParts),
      partitionBy = Seq(Dedup.BandLayoutCol))
    val storedBanded = gc.readStaged("banded")
    gc.write("pairs", Dedup.minHashPairsFromIndex(storedHashed, storedBanded))
    val v = gc.publish()
    // a rebuild at an existing key (crash recovery, q93's explicit-build
    // timing) supersedes prior versions — vacuum bounds the store to the
    // build just committed
    VersionedLake.vacuumGroup(spark, finalDir, v)
    finalDir
  }

  /** Readers over one stored index: the per-doc hashed shingle sets, the
    * LSH band rows, and the corpus-level scored candidate pairs. `hashed`
    * and `banded` carry the v7 layout columns (`ph`/`pb`) — the arrival
    * path ([[Dedup.minHashIncrementalPairsPruned]], routed automatically
    * by `minHashIncrementalPairsPortable`) prunes its stored-side reads
    * on them; other consumers select their columns explicitly and ignore
    * the layout.
    */
  final case class Index(hashed: DataFrame, banded: DataFrame, pairs: DataFrame)

  /** Read-or-build: return readers over the stored index for the corpus at
    * `<sfDir>/<table>.parquet`, building it first if absent or incomplete.
    * Subsequent calls (and subsequent SESSIONS — the index outlives the JVM
    * like any lake table) skip straight to the parquet reads.
    *
    * `subset` restricts the indexed corpus to a deterministic slice (e.g.
    * the historical 80% in an incremental-dedup flow); `subsetTag` names
    * the slice and is folded into the index key so different slices of the
    * same table store as distinct indexes. The two must be supplied
    * together — the function can't hash a closure, so an untagged subset
    * would silently collide with the full-table index (enforced).
    */
  def ensure(spark: SparkSession, sfDir: String, table: String,
      idCol: String, textCol: String, root: String = defaultRoot,
      shingleN: Int = 3, numHashes: Int = 16,
      bands: Int = 4, subsetTag: String = "",
      subset: DataFrame => DataFrame = null,
      layoutParts: Int = Dedup.IndexLayoutParts): Index = synchronized {
    require((subset == null) == subsetTag.isEmpty,
      "DedupIndex.ensure: subset and subsetTag must be supplied together " +
        "(the tag is the only thing distinguishing the slice's index key)")
    val corpusPath = s"$sfDir/$table.parquet"
    val k = key(spark, corpusPath, idCol, textCol, shingleN, numHashes, bands,
      subsetTag, layoutParts)
    val finalDir = s"$root/$k"
    // completeness IS the group manifest: a crashed build publishes
    // nothing, so "no committed versions" means rebuild
    if (VersionedLake.versions(spark, finalDir).isEmpty) {
      val full = graft.sources.Lake.table(spark, sfDir, table)
      val docs = if (subset == null) full else subset(full)
      build(spark, docs, idCol, textCol, corpusPath, root, shingleN,
        numHashes, bands, subsetTag, layoutParts)
    }
    // one snapshot for all three reads — the group guarantee makes
    // the trio mutually consistent by construction. Explicit schemas on
    // the partitioned tables: partition-column INFERENCE would read the
    // ph/pb dir values back as INT, and the arrival path's typed pruning
    // filters (BIGINT literals) would then wrap the partition attribute
    // in a cast that defeats PartitionFilters.
    val idType = graft.sources.Lake.table(spark, sfDir, table)
      .schema(idCol).dataType.sql
    val snap = VersionedLake.snapshot(spark, finalDir)
    Index(
      snap.read("hashed", schemaDDL = s"id $idType, hs ARRAY<BIGINT>, " +
        s"${Dedup.IdLayoutCol} BIGINT"),
      snap.read("banded", schemaDDL = s"id $idType, band INT, " +
        s"bucket BIGINT, ${Dedup.BandLayoutCol} BIGINT"),
      snap.read("pairs"))
  }
}
