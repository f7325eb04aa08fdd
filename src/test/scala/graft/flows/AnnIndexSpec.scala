package graft.flows

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.sources.{Lake, VersionedLake}

/** The persistent IVF-PQ index contracts: build-once / append-no-refit /
  * search-the-stored-tables, with append+search value-invisible against
  * a one-shot encode of the union over the same model (q119e's oracle
  * proves the same thing against DuckDB; this spec proves it intra-
  * engine at fixture scale plus the API contracts the oracle can't see).
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def quantOf(df: org.apache.spark.sql.DataFrame,
      vecId: Long): Array[Long] =
    df.filter(col("vec_id") === vecId)
      .select(graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
      .head.getSeq[Long](0).toArray

  test("build + append + search over the stored index lands EXACTLY the " +
    "one-shot result: model fit on the corpus, union encoded against it, " +
    "same IVFADC-R top-n — and the appended codes are bit-identical to " +
    "what the builder itself would emit") {
    val root = Files.createTempDirectory("annix").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    AnnIndex.build(corpus, "vec_id", "embedding", root, dims = 64,
      coarseK = 4, coarseIters = 2, m = 4, k = 4, iters = 2)
    AnnIndex.append(batch, "vec_id", "embedding", root)
    val qq = quantOf(emb, 0L) // vec 0 is an ARRIVAL — searches appended codes
    val stored = AnnIndex.search(spark, root, "vec_id", qq,
      nprobe = 2, c = 30, n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // one-shot reference: the same fit (corpus only), one map-only encode
    // of the union, the same search — no lake round-trip
    val (coarse, books, _) = Similarity.ivfPqIndex(corpus, "vec_id",
      "embedding", dims = 64, coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2)
    val encodedAll = Similarity.ivfPqEncode(emb, "vec_id", "embedding",
      coarse, books)
    val quantAll = emb.select(col("vec_id"),
      graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
    val oneShot = Similarity.ivfPqTopKRerank(encodedAll, quantAll,
      "vec_id", coarse, books, qq, nprobe = 2, c = 30, n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(stored == oneShot)
    assert(stored.nonEmpty && stored.map(_._1).contains(0L),
      "the query vector itself (an appended row) must be findable")
    // the stored codes for the union match the encoder bit-for-bit
    val storedCodes = VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getSeq[Long](1)))
      .toSet
    val freshCodes = encodedAll
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .toSet
    assert(storedCodes == freshCodes)
  }

  test("append CARRIES the model (same manifest paths — no rewrite, no " +
    "refit) and appends codes + quant as a metadata union; build refuses " +
    "an existing root") {
    val root = Files.createTempDirectory("annix2").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    val v1 = VersionedLake.versions(spark, root).last
    val filesBefore = VersionedLake.snapshot(spark, root, Some(v1)).tables
    AnnIndex.append(emb.filter(col("vec_id") % 2 =!= 0), "vec_id",
      "embedding", root)
    val v2 = VersionedLake.versions(spark, root).last
    assert(v2 == v1 + 1)
    val filesAfter = VersionedLake.snapshot(spark, root, Some(v2)).tables
    // model tables: IDENTICAL file lists (carried verbatim)
    assert(filesAfter("coarse") == filesBefore("coarse"))
    assert(filesAfter("codebooks") == filesBefore("codebooks"))
    // data tables: prior files still listed (append = metadata union)
    assert(filesBefore("encoded").toSet.subsetOf(filesAfter("encoded").toSet))
    assert(filesAfter("encoded").exists(_.contains(s"_data/v$v2")))
    assert(filesBefore("quant").toSet.subsetOf(filesAfter("quant").toSet))
    // every vector is searchable after the append
    assert(VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count() == 60)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.build(emb, "vec_id", "embedding", root, dims = 64,
        coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2)
    }
    assert(ex.getMessage.contains("already exists"))
    // the inverse misuse is branded too: append/search on a missing root
    val ex2 = intercept[IllegalArgumentException] {
      AnnIndex.append(emb, "vec_id", "embedding", s"$root-nowhere")
    }
    assert(ex2.getMessage.contains("no ANN index"))
    val ex3 = intercept[IllegalArgumentException] {
      AnnIndex.search(spark, s"$root-nowhere", "vec_id",
        Array.fill(64)(0L), nprobe = 1, c = 10, n = 10)
    }
    assert(ex3.getMessage.contains("no ANN index"))
  }

  test("maintain bounds the append tail without changing a row: encoded " +
    "keeps its cell= layout and shrinks to ~one file per cell, the model " +
    "tables are carried verbatim, search results are identical pre/post, " +
    "the pre-compaction version survives the horizon, and a tail-less " +
    "second pass is pure metadata") {
    val root = Files.createTempDirectory("annix3").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2)
    // two arrival batches accrue a small-file tail in encoded + quant
    AnnIndex.append(emb.filter(col("vec_id") % 10 === 0), "vec_id",
      "embedding", root)
    AnnIndex.append(emb.filter(col("vec_id") % 10 === 5), "vec_id",
      "embedding", root)
    val vPre = VersionedLake.versions(spark, root).last
    val before = VersionedLake.snapshot(spark, root, Some(vPre)).tables
    val qq = quantOf(emb, 0L)
    def searchNow() = AnnIndex.search(spark, root, "vec_id", qq,
      nprobe = 2, c = 50, n = 20)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val preCompact = searchNow()
    val nv = AnnIndex.maintain(spark, root)
    val after = VersionedLake.snapshot(spark, root, Some(nv)).tables
    // model carried verbatim; data tables bin-packed below the old count
    assert(after("coarse") == before("coarse"))
    assert(after("codebooks") == before("codebooks"))
    assert(after("encoded").size < before("encoded").size)
    assert(after("quant").size < before("quant").size)
    // the Hive cell layout survives the rewrite (nprobe pruning depends
    // on it) and covers every cell the pre-compaction layout had
    def cells(fs: Seq[String]) =
      fs.flatMap(_.split("/").find(_.startsWith("cell="))).toSet
    assert(cells(after("encoded")) == cells(before("encoded")))
    // search is file-layout-invariant
    assert(searchNow() == preCompact)
    // horizon (default keepVersions = 2): the pre-compaction version is
    // still fully readable for an in-flight search
    assert(VersionedLake.versions(spark, root) == Seq(vPre, nv))
    assert(VersionedLake.readTable(spark, root, "encoded", Some(vPre),
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count() == emb.count())
    // no new tail -> the next pass carries everything (pure metadata)
    AnnIndex.maintain(spark, root)
    assert(StreamingRetention.lastCompactionStats
      .exists(_ == "all tables carried"))
    assert(searchNow() == preCompact)
    // misuse is branded, same as append/search
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.maintain(spark, s"$root-nowhere")
    }
    assert(ex.getMessage.contains("no ANN index"))
  }

  test("recallProbe: the drift dial off the STORED index — one row per " +
    "probe plus the NULL-key mean, invariant across a maintenance pass; " +
    "an empty probe set refuses loudly") {
    val root = Files.createTempDirectory("annix4").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    AnnIndex.append(emb.filter(col("vec_id") % 2 =!= 0), "vec_id",
      "embedding", root)
    val probes = Seq(0L, 1L).map(q => q -> quantOf(emb, q))
    def dial() = AnnIndex.recallProbe(spark, root, "vec_id", probes,
      k = 10, nprobe = 2, c = 20)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    val d0 = dial()
    assert(d0.map(_._1) == Seq(-1L, 0L, 1L), s"probe rows + mean row: $d0")
    // mean row (qid -1) carries TOTAL hits across probes; per-query rows
    // clamp at k
    assert(d0.forall { case (qid, k, hits, rec) =>
      k == 10L && hits >= 0L && rec >= 0.0 && rec <= 1.0 &&
        hits <= (if (qid == -1L) 10L * probes.size else 10L) })
    // the exact top-10 always contains the probe vector itself (distance
    // 0), and both probes are stored — so the dial can never read 0 here
    assert(d0.forall(_._3 >= 1L))
    // file layout is not part of the measurement
    AnnIndex.maintain(spark, root)
    assert(dial() == d0)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.recallProbe(spark, root, "vec_id", Seq.empty, 10, 2, 20)
    }
    assert(ex.getMessage.contains("at least one query"))
    // duplicate probe ids would interleave two queries' windows — refused
    val ex2 = intercept[IllegalArgumentException] {
      AnnIndex.recallProbe(spark, root, "vec_id",
        probes ++ probes.take(1), 10, 2, 20)
    }
    assert(ex2.getMessage.contains("unique"))
    // FRAME-DRIVEN pin: ONE batch plan whatever the probe-set size — the
    // stored codes are decoded once per plan (one pq_reconstruct
    // projection = one encoded scan), NOT once per query; the
    // 2N-per-query-subplan loop this replaced scanned encoded N times
    def decodes(n: Int): Int = {
      val ps = (0 until n).map(i => probes(i % probes.size)._2)
        .zipWithIndex.map { case (q, i) => (i.toLong, q) }
      val plan = AnnIndex.recallProbe(spark, root, "vec_id", ps,
        k = 10, nprobe = 2, c = 20).queryExecution.optimizedPlan.toString
      "pq_reconstruct".r.findAllIn(plan).size
    }
    // the optimizer may inline the decode expression into a pushed
    // filter (a constant factor); the pin is that the count does NOT
    // scale with the probe-set size
    val d1 = decodes(1)
    assert(d1 == decodes(2) && d1 == decodes(3) && d1 <= 2,
      s"probe plan must not grow with the probe-set size (got $d1, " +
        s"${decodes(2)}, ${decodes(3)})")
  }

  test("recallProbeFrame: the dial over a probe FRAME — raw vectors " +
    "quantized in-plan, ids cast in-plan, zero driver-side probe state — " +
    "lands row-identical to the Seq form over the same probes; an empty " +
    "frame refuses loudly") {
    val root = Files.createTempDirectory("annix4f").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    AnnIndex.build(emb, "vec_id", "embedding", root, dims = 64,
      coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2)
    val probeIds = Seq(0L, 1L, 2L)
    val seqForm = AnnIndex.recallProbe(spark, root, "vec_id",
      probeIds.map(q => q -> quantOf(emb, q)), k = 10, nprobe = 2, c = 20)
    val frameForm = AnnIndex.recallProbeFrame(spark, root, "vec_id",
      emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding")),
      "query_id", "embedding", k = 10, nprobe = 2, c = 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    assert(rows(frameForm) == rows(seqForm),
      "the frame-driven dial must be the Seq dial, row for row")
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.recallProbeFrame(spark, root, "vec_id",
        emb.filter(col("vec_id") < 0)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", "embedding", k = 10, nprobe = 2, c = 20)
    }
    assert(ex.getMessage.contains("at least one query"))
  }

  test("semanticDedupAgainstIndex: searchBatch top-1 + threshold as the " +
    "drop rule — an exact duplicate drops at any threshold, a TIE at the " +
    "threshold drops, one grid-step below keeps; an unscoreable doc " +
    "survives with a null neighbor; survivors keep every original column") {
    val root = Files.createTempDirectory("annix_sd").toString + "/index"
    // vectors on the exact 2^20 grid: value n/1024 quantizes to n·1024,
    // so every distance below is a hand-checkable integer
    def v(a: Int*): Seq[Float] = a.map(_.toFloat / 1024f)
    val stored = Seq(
      (100L, v(0, 0, 0, 0)), (101L, v(64, 0, 0, 0)),
      (102L, v(0, 64, 0, 0)), (103L, v(64, 64, 0, 0)),
      (104L, v(0, 0, 64, 0)), (105L, v(0, 0, 0, 64)))
      .toDF("vec_id", "embedding")
    AnnIndex.build(stored, "vec_id", "embedding", root, dims = 4,
      coarseK = 2, coarseIters = 2, m = 2, k = 2, iters = 2)
    val batch = Seq(
      (1L, v(0, 0, 0, 0), "dup-exact"),    // nn 100 at dist 0
      (2L, v(1, 0, 0, 0), "near"),         // nn 100 at dist 1024² = 1048576
      (3L, v(32, 32, 32, 32), "far"),      // nearest at 4·32768² ≫ T
      (4L, Seq(0.1f, 0.2f), "malformed")   // wrong dims — unscoreable
    ).toDF("doc_id", "embedding", "tag")
    // nprobe = coarseK and c ≥ corpus: the short-list covers every
    // stored row, so the top-1 is the EXACT nearest stored neighbor
    def decide(t: Long) = AnnIndex.semanticDedupDecisions(spark, root,
      "vec_id", batch, "doc_id", "embedding", nprobe = 2, c = 10,
      threshold = t)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3))).toMap
    val atTie = decide(1048576L)
    assert(atTie(1L) == ((Some(100L), Some(0L), true)), s"$atTie")
    assert(atTie(2L) == ((Some(100L), Some(1048576L), true)),
      "a tie AT the threshold drops (<= — the conservative dedup edge)")
    assert(!atTie(3L)._3 && atTie(3L)._1.nonEmpty)
    assert(atTie(4L) == ((None, None, false)),
      "an unscoreable doc is KEPT, visibly null — never silently retired")
    val below = decide(1048575L)
    assert(below(1L)._3 && !below(2L)._3,
      "one grid-step below the tie keeps the near doc")
    // the survivor frame: originals minus dropped, columns intact
    val surv = AnnIndex.semanticDedupAgainstIndex(spark, root, "vec_id",
      batch, "doc_id", "embedding", nprobe = 2, c = 10,
      threshold = 1048576L)
    assert(surv.columns.toSeq == Seq("doc_id", "embedding", "tag"))
    assert(surv.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(3L, 4L))
    assert(surv.filter(col("doc_id") === 3L).head.getString(2) == "far")
    // batch id colliding with the index id column is refused (the
    // decisions frame carries both)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.semanticDedupDecisions(spark, root, "vec_id",
        batch.withColumnRenamed("doc_id", "vec_id"), "vec_id",
        "embedding", nprobe = 2, c = 10, threshold = 0L)
    }
    assert(ex.getMessage.contains("must differ"))
  }

  test("refit composes the blue/green lifecycle: a candidate passing the " +
    "recall gate cuts the serving pointer (searchServing follows); a " +
    "candidate BELOW the floor leaves the pointer untouched and is swept " +
    "from disk (or kept for debugging on request); the audit history " +
    "records every cut") {
    val base = Files.createTempDirectory("annix_refit").toString
    val ptr = s"$base/serving"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val probes = Seq(0L, 1L, 2L).map(q => q -> quantOf(emb, q))
    // FIRST deployment: the gate applies from day one — floor 0 always
    // passes (recall is in [0,1]), pointer gets set
    val r1 = AnnIndex.refit(emb, "vec_id", "embedding", s"$base/blue",
      ptr, dims = 64, coarseK = 2, coarseIters = 2, m = 4, k = 2,
      iters = 2, probes, probeK = 10, nprobe = 2, c = 20,
      recallFloor = 0.0)
    assert(r1.cut && r1.servedRoot.contains(s"$base/blue"))
    assert(r1.meanRecall >= 0.0 && r1.meanRecall <= 1.0)
    assert(graft.sources.ServingPointer.resolve(spark, ptr) == s"$base/blue")
    val qq = quantOf(emb, 0L)
    def serving() = AnnIndex.searchServing(spark, ptr, "vec_id", qq,
      nprobe = 2, c = 20, n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val blueTop = serving()
    assert(blueTop.nonEmpty)
    // FAILED gate: an impossible floor — the pointer must not move and
    // the candidate root is swept (it was never reader-visible)
    val r2 = AnnIndex.refit(emb, "vec_id", "embedding", s"$base/green",
      ptr, dims = 64, coarseK = 2, coarseIters = 2, m = 4, k = 2,
      iters = 2, probes, probeK = 10, nprobe = 2, c = 20,
      recallFloor = 1.1)
    assert(!r2.cut && r2.servedRoot.contains(s"$base/blue"))
    assert(graft.sources.ServingPointer.resolve(spark, ptr) == s"$base/blue")
    assert(serving() == blueTop, "readers keep serving blue")
    assert(VersionedLake.versions(spark, s"$base/green").isEmpty,
      "the failed candidate must be swept")
    // FAILED gate, kept for debugging: root stays on disk, pointer still
    // untouched — and a later PASSING refit at a fresh root cuts over
    val r3 = AnnIndex.refit(emb, "vec_id", "embedding", s"$base/green2",
      ptr, dims = 64, coarseK = 2, coarseIters = 2, m = 4, k = 2,
      iters = 2, probes, probeK = 10, nprobe = 2, c = 20,
      recallFloor = 1.1, keepFailedCandidate = true)
    assert(!r3.cut)
    assert(VersionedLake.versions(spark, s"$base/green2").nonEmpty,
      "keepFailedCandidate must leave the root readable")
    assert(graft.sources.ServingPointer.resolve(spark, ptr) == s"$base/blue")
    val r4 = AnnIndex.refit(emb, "vec_id", "embedding", s"$base/green3",
      ptr, dims = 64, coarseK = 4, coarseIters = 2, m = 4, k = 4,
      iters = 2, probes, probeK = 10, nprobe = 4, c = 30,
      recallFloor = 0.5)
    assert(r4.cut && r4.meanRecall >= 0.5)
    assert(graft.sources.ServingPointer.resolve(spark, ptr) == s"$base/green3")
    assert(serving().nonEmpty, "searchServing follows the cut")
    // blue is NOT swept on a successful cut (drain is out-of-band)
    assert(VersionedLake.versions(spark, s"$base/blue").nonEmpty)
    // the audit trail records both cuts in order
    assert(graft.sources.ServingPointer.history(spark, ptr).map(_._2) ==
      Seq(s"$base/blue", s"$base/green3"))
    // misuse: a candidate root that already exists refuses (build's
    // contract — a refit is always a NEW root)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.refit(emb, "vec_id", "embedding", s"$base/green2", ptr,
        dims = 64, coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2,
        probes, probeK = 10, nprobe = 2, c = 20, recallFloor = 0.0)
    }
    assert(ex.getMessage.contains("already exists"))
  }

  test("refitFrame: the gated cutover driven by a probe FRAME lands the " +
    "same gate verdict, mean recall, and pointer state as the Seq form " +
    "over the same probes — pass cuts, hold sweeps and never touches " +
    "the pointer") {
    val base = Files.createTempDirectory("annix_refitf").toString
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    val probes = Seq(0L, 1L, 2L).map(q => q -> quantOf(emb, q))
    val probeFrame = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def seqRefit(root: String, ptr: String, floor: Double) =
      AnnIndex.refit(emb, "vec_id", "embedding", root, ptr, dims = 64,
        coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2, probes,
        probeK = 10, nprobe = 2, c = 20, recallFloor = floor)
    def frameRefit(root: String, ptr: String, floor: Double) =
      AnnIndex.refitFrame(emb, "vec_id", "embedding", root, ptr, dims = 64,
        coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2, probeFrame,
        "query_id", "embedding", probeK = 10, nprobe = 2, c = 20,
        recallFloor = floor)
    // PASS: both forms cut, identical measured recall (the builds are
    // deterministic), pointer follows in both worlds
    val sp = seqRefit(s"$base/sp", s"$base/ptr_s", 0.5)
    val fp = frameRefit(s"$base/fp", s"$base/ptr_f", 0.5)
    assert(fp.cut && sp.cut)
    assert(fp.meanRecall == sp.meanRecall,
      s"frame gate must measure the Seq gate's recall " +
        s"(${fp.meanRecall} vs ${sp.meanRecall})")
    assert(graft.sources.ServingPointer.resolve(spark, s"$base/ptr_f")
      == s"$base/fp")
    // HOLD: the frame form leaves the pointer untouched and sweeps the
    // candidate, exactly like the Seq form
    val fh = frameRefit(s"$base/fh", s"$base/ptr_f", 1.1)
    assert(!fh.cut && fh.servedRoot.contains(s"$base/fp"))
    assert(graft.sources.ServingPointer.resolve(spark, s"$base/ptr_f")
      == s"$base/fp")
    assert(VersionedLake.versions(spark, s"$base/fh").isEmpty,
      "the failed frame-gated candidate must be swept")
  }

  test("meanRecallAtK: per-query rows + the NULL-key mean row; a query " +
    "missing from approx scores 0; over-long/duplicated input clamps at " +
    "recall 1.0") {
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 99L)).toDF("query_id", "vec_id")
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 7L), (3L, 8L)).toDF("query_id", "vec_id")
    val rows = Similarity.meanRecallAtK(approx, exact, "vec_id",
      "query_id", k = 2).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    // q1 intersects {10,11,12}∩{10,11} = 2 hits but clamps at k=2 ->
    // recall exactly 1.0 (the duplicate 11 and the extra 12 buy nothing);
    // q2 = 1 hit (0.5); q3 absent from approx = 0 hits (0.0)
    assert(rows.toSeq == Seq(
      (-1L, 2L, 3L, 0.5), // mean row: total hits 3, mean(1.0, 0.5, 0.0)
      (1L, 2L, 2L, 1.0),
      (2L, 2L, 1L, 0.5),
      (3L, 2L, 0L, 0.0)))
    // an EMPTY query set returns zero rows — not one all-NULL summary row
    assert(Similarity.meanRecallAtK(approx, exact.limit(0), "vec_id",
      "query_id", k = 2).count() == 0)
  }

  test("delete is merge-on-read: one metadata-only commit tombstones the " +
    "retired ids, search equals a one-shot re-rank over the LIVE set " +
    "(a dead doc never holds a short-list slot), appends carry pending " +
    "tombstones, and retiring absent ids is harmless") {
    val root = Files.createTempDirectory("annix5").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") % 5 =!= 0)
    AnnIndex.build(corpus, "vec_id", "embedding", root, dims = 64,
      coarseK = 4, coarseIters = 2, m = 4, k = 4, iters = 2)
    val qq = quantOf(emb, 0L)
    def searchNow() = AnnIndex.search(spark, root, "vec_id", qq,
      nprobe = 2, c = 50, n = 20)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    // retire two ids that sit INSIDE the pre-delete top-20 (the hardest
    // case: the short-list must refill with live candidates, not just
    // filter the final n) plus one id that was never indexed
    val pre = searchNow()
    val victims = pre.map(_._1).filter(_ != 0L).take(2)
    val vBefore = VersionedLake.versions(spark, root).last
    val before = VersionedLake.snapshot(spark, root, Some(vBefore)).tables
    AnnIndex.delete((victims :+ 999999L).toDF("vec_id"), "vec_id", root)
    val vAfter = VersionedLake.versions(spark, root).last
    val after = VersionedLake.snapshot(spark, root, Some(vAfter)).tables
    // metadata-only: every pre-existing table's file list is carried
    // verbatim; the commit added ONLY the tombstone table
    before.keys.foreach(t => assert(after(t) == before(t), s"table $t"))
    assert(after.keys.toSet == before.keys.toSet + "tombstones")
    val post = searchNow()
    assert(post.size == 20 && !post.map(_._1).exists(victims.contains),
      s"retired ids must not surface: $post")
    // equals the one-shot re-rank with the retired ids excluded BEFORE
    // the ADC short-list (the oracle's exclusion point, q119j)
    val (coarse, books, encodedAll) = Similarity.ivfPqIndex(corpus,
      "vec_id", "embedding", dims = 64, coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2)
    val quantAll = corpus.select(col("vec_id"),
      graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
    val live = Similarity.ivfPqTopKRerank(
      encodedAll.filter(!col("vec_id").isin(victims: _*)), quantAll,
      "vec_id", coarse, books, qq, nprobe = 2, c = 50, n = 20)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(post == live)
    // an APPEND carries the pending tombstones (an unmentioned group
    // table would silently vanish) and stays excluded from its searches
    AnnIndex.append(emb.filter(col("vec_id") % 5 === 0), "vec_id",
      "embedding", root)
    val vApp = VersionedLake.versions(spark, root).last
    assert(VersionedLake.snapshot(spark, root, Some(vApp)).tables
      .contains("tombstones"))
    assert(!searchNow().map(_._1).exists(victims.contains))
    // misuse is branded like the rest of the API
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.delete(Seq(1L).toDF("vec_id"), "vec_id", s"$root-nowhere")
    }
    assert(ex.getMessage.contains("no ANN index"))
    // a delete and an append racing the same window BOTH land: every
    // writer is race-detected (publishIfBaseIs — lowest claim wins), so
    // the append, claiming inside the delete's open window, aborts its
    // first publish and REBASES past the committed delete. Neither the
    // appended batch nor the retirement is lost (a naive append publish
    // would re-list the pre-delete file lists and drop the retirement).
    // The append runs on a THREAD: the protocol serializes on claim
    // numbers, so a commit nested synchronously inside another's window
    // can never publish — that refusal IS the correctness property.
    val total = VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count()
    val extra = emb.filter(col("vec_id") === 0)
      .select(col("vec_id") + 2000000, col("embedding"))
      .toDF("vec_id", "embedding")
    val appendClaimed = new java.util.concurrent.CountDownLatch(1)
    @volatile var appendErr: Throwable = null
    val appender = new Thread(() =>
      try {
        AnnIndex.append(extra, "vec_id", "embedding", root,
          maxAttempts = 10, raceWindow = () => appendClaimed.countDown())
        ()
      } catch { case e: Throwable => appendErr = e })
    var fired = false
    AnnIndex.delete(Seq(2000000L).toDF("vec_id"), "vec_id", root,
      raceWindow = () => if (!fired) {
        fired = true
        appender.start()
        // hold the delete's window open until the append has CLAIMED
        // inside it (its raceWindow runs post-claim, pre-publish)
        appendClaimed.await()
      })
    appender.join()
    assert(fired && appendErr == null, s"append thread failed: $appendErr")
    assert(VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count() == total + 1, "the raced append's row must survive")
    assert(VersionedLake.readTable(spark, root, "tombstones",
        schemaDDL = "vec_id BIGINT")
      .collect().map(_.getLong(0)).toSet
        .contains(2000000L), "the retirement must land")
  }

  test("an append RACED by a concurrent delete loses neither side: the " +
    "delete claims inside the append's window, aborts its first publish " +
    "(lowest claim wins), and REBASES past the committed append — the " +
    "retirement lands on top of the appended state (the advisor's " +
    "lost-delete interleaving, the mirror of the delete-window test)") {
    val root = Files.createTempDirectory("annix8").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2)
    val victim = emb.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id")).orderBy(col("vec_id")).head.getLong(0)
    val deleteClaimed = new java.util.concurrent.CountDownLatch(1)
    @volatile var deleteErr: Throwable = null
    val deleter = new Thread(() =>
      try {
        AnnIndex.delete(Seq(victim).toDF("vec_id"), "vec_id", root,
          maxAttempts = 10, raceWindow = () => deleteClaimed.countDown())
        ()
      } catch { case e: Throwable => deleteErr = e })
    var fired = false
    AnnIndex.append(emb.filter(col("vec_id") % 5 === 0), "vec_id",
      "embedding", root,
      raceWindow = () => if (!fired) {
        fired = true
        deleter.start()
        deleteClaimed.await() // the delete has claimed inside our window
      })
    deleter.join()
    assert(fired && deleteErr == null, s"delete thread failed: $deleteErr")
    val vLast = VersionedLake.versions(spark, root).last
    val rel = VersionedLake.snapshot(spark, root, Some(vLast)).tables
    assert(rel.contains("tombstones"),
      "the concurrent retirement must survive the append")
    assert(VersionedLake.readTable(spark, root, "tombstones",
        schemaDDL = "vec_id BIGINT")
      .collect().map(_.getLong(0)).toSet == Set(victim))
    // and the append's own rows landed too
    assert(VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count() == emb.count())
    val top = AnnIndex.search(spark, root, "vec_id", quantOf(emb, victim),
      nprobe = 4, c = 50, n = 20).collect().map(_.getLong(0)).toSeq
    assert(top.nonEmpty && !top.contains(victim))
  }

  test("foldTombstones rewrites the dead codes out — value-invisible to " +
    "search and recallProbe, tombstone table dropped, counts shrink; " +
    "maintain bin-packs but never folds; a raced fold aborts without " +
    "losing the interleaved commit; an empty fold is a no-op") {
    val root = Files.createTempDirectory("annix6").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2)
    AnnIndex.append(emb.filter(col("vec_id") % 5 === 0), "vec_id",
      "embedding", root)
    val total = emb.count()
    val retiring = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    val nRetired = retiring.count()
    AnnIndex.delete(retiring.filter(col("vec_id") % 2 === 0), "vec_id", root)
    // maintain with pending tombstones: compacted/carried, NEVER folded
    AnnIndex.maintain(spark, root)
    val vM = VersionedLake.versions(spark, root).last
    assert(VersionedLake.snapshot(spark, root, Some(vM)).tables
      .contains("tombstones"))
    AnnIndex.delete(retiring.filter(col("vec_id") % 2 === 1), "vec_id", root)
    val qq = quantOf(emb, 0L)
    def searchNow() = AnnIndex.search(spark, root, "vec_id", qq,
      nprobe = 2, c = 50, n = 20)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val probes = Seq(0L, 1L).map(q => q -> quantOf(emb, q))
    def dial() = AnnIndex.recallProbe(spark, root, "vec_id", probes,
      k = 10, nprobe = 2, c = 20)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
    val preSearch = searchNow()
    val preDial = dial()
    // a fold RACED by a concurrent append aborts (claim-window
    // detection: the append claimed BEFORE the fold published, so the
    // fold's rewrite could bury the batch), keeps the tombstones
    // pending, and loses nothing from either commit. The append runs on
    // a thread, paused holding its claim open across the whole fold —
    // the deterministic form of "an ingest is mid-commit while
    // maintenance publishes".
    val extra = emb.filter(col("vec_id") === 0).select(col("vec_id") + 1000000,
      col("embedding")).toDF("vec_id", "embedding")
    val appendClaimed = new java.util.concurrent.CountDownLatch(1)
    val foldDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var appendErr: Throwable = null
    val appender = new Thread(() =>
      try {
        AnnIndex.append(extra, "vec_id", "embedding", root,
          raceWindow = () => {
            appendClaimed.countDown()
            foldDone.await() // hold the claim open across the fold
          })
        ()
      } catch { case e: Throwable => appendErr = e })
    appender.start()
    appendClaimed.await()
    val vRaced = AnnIndex.foldTombstones(spark, root, "vec_id")
    foldDone.countDown()
    appender.join()
    assert(appendErr == null, s"append thread failed: $appendErr")
    val racedRel = VersionedLake.snapshot(spark, root, Some(vRaced)).tables
    assert(racedRel.contains("tombstones"),
      "aborted fold must leave the retirements pending")
    assert(VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count() == total + 1, "the raced append's row must survive")
    AnnIndex.delete(Seq(1000000L).toDF("vec_id"), "vec_id", root)
    // the real fold: search and dial are value-invariant across it —
    // merge-on-read (anti-join) and fold-on-write (rewrite) are the
    // same index
    val folded = AnnIndex.foldTombstones(spark, root, "vec_id")
    val rel = VersionedLake.snapshot(spark, root, Some(folded)).tables
    assert(!rel.contains("tombstones"))
    assert(VersionedLake.readTable(spark, root, "encoded",
        schemaDDL = "vec_id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
      .count() == total - nRetired)
    assert(VersionedLake.readTable(spark, root, "quant",
        schemaDDL = "vec_id BIGINT, q ARRAY<BIGINT>")
      .count() == total - nRetired)
    assert(searchNow() == preSearch)
    assert(dial() == preDial)
    // nothing pending -> no-op, same version
    assert(AnnIndex.foldTombstones(spark, root, "vec_id") == folded)
  }

  test("maintainAndFold prices the fold from parquet FOOTERS (manifest-" +
    "listed files, no scan): below the threshold the pass compacts but " +
    "NEVER folds; above it the fold runs first and search stays value-" +
    "invariant (q119k's contract); the footer counts match real counts") {
    val root = Files.createTempDirectory("annix_mf").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    AnnIndex.append(emb.filter(col("vec_id") % 2 =!= 0), "vec_id",
      "embedding", root)
    // footer-summed counts == real counts on the multi-version layout
    assert(VersionedLake.snapshot(spark, root).rowCount("encoded") == 60L)
    assert(VersionedLake.snapshot(spark, root).rowCount("quant") == 60L)
    // retire 2 of 60 (3.3%): under the default 20% threshold
    AnnIndex.delete(Seq(7L, 9L).toDF("vec_id"), "vec_id", root)
    assert(VersionedLake.snapshot(spark, root).rowCount("tombstones") == 2L)
    val qq = quantOf(emb, 0L)
    def searchNow() = AnnIndex.search(spark, root, "vec_id", qq,
      nprobe = 2, c = 30, n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val pre = searchNow()
    AnnIndex.maintainAndFold(spark, root, "vec_id")
    assert(VersionedLake.snapshot(spark, root).tables
      .contains("tombstones"),
      "3.3% retired must stay merge-on-read under the 20% default")
    assert(searchNow() == pre)
    // a threshold below the measured fraction triggers the fold: dead
    // codes rewritten out, tombstone table dropped, search invariant
    AnnIndex.maintainAndFold(spark, root, "vec_id", foldAtFraction = 0.02)
    val rel = VersionedLake.snapshot(spark, root).tables
    assert(!rel.contains("tombstones"), "2/60 >= 2% must fold")
    assert(VersionedLake.snapshot(spark, root).rowCount("encoded") == 58L)
    assert(searchNow() == pre,
      "merge-on-read and fold-on-write are the same index")
    // idempotent: nothing pending, the next pass is compaction-only
    AnnIndex.maintainAndFold(spark, root, "vec_id", foldAtFraction = 0.02)
    assert(searchNow() == pre)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.maintainAndFold(spark, root, "vec_id", foldAtFraction = 0.0)
    }
    assert(ex.getMessage.contains("foldAtFraction"))
  }

  test("searchBatch: ONE table-driven job equals the single-vector " +
    "search per query (same nprobe/c/n); a malformed query vector " +
    "yields zero rows without poisoning the batch; retirements apply; " +
    "misuse refuses") {
    val root = Files.createTempDirectory("annix7").toString + "/index"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0), "vec_id",
      "embedding", root, dims = 64, coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2)
    AnnIndex.append(emb.filter(col("vec_id") % 5 === 0), "vec_id",
      "embedding", root)
    val qids = (0L until 5L).toSeq
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def batchRows(qs: org.apache.spark.sql.DataFrame) =
      AnnIndex.searchBatch(spark, root, "vec_id", qs, "query_id",
        "embedding", nprobe = 2, c = 30, n = 10)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(t => (t._4, t._1))
          .toSeq).toMap
    def singleRows(qid: Long) =
      AnnIndex.search(spark, root, "vec_id", quantOf(emb, qid),
        nprobe = 2, c = 30, n = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val batch = batchRows(queries)
    qids.foreach { qid =>
      assert(batch(qid) == singleRows(qid), s"query $qid")
    }
    // a malformed query (wrong dims) scores null everywhere -> ZERO rows
    // for that id, the rest of the batch untouched
    import spark.implicits._
    val withBad = queries.unionByName(
      Seq((99L, Seq(1.0f, 2.0f, 3.0f))).toDF("query_id", "embedding"))
    val mixed = batchRows(withBad)
    assert(!mixed.contains(99L), "malformed query must yield no rows")
    qids.foreach(qid => assert(mixed(qid) == batch(qid)))
    // retirements exclude from the batch path exactly as from search
    val victims = batch(0L).map(_._1).filter(_ != 0L).take(2)
    AnnIndex.delete(victims.toDF("vec_id"), "vec_id", root)
    val post = batchRows(queries)
    qids.foreach { qid =>
      assert(!post(qid).map(_._1).exists(victims.contains))
      assert(post(qid) == singleRows(qid), s"query $qid post-delete")
    }
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.searchBatch(spark, root, "vec_id", queries, "query_id",
        "embedding", nprobe = 2, c = 5, n = 10)
    }
    assert(ex.getMessage.contains("must be >= n"))
    // a duplicate query id would interleave two queries' candidates in
    // one window — refused loudly, not returned as garbage ranks
    val dup = queries.unionByName(queries.filter(col("query_id") === 0))
    val ex2 = intercept[IllegalArgumentException] {
      AnnIndex.searchBatch(spark, root, "vec_id", dup, "query_id",
        "embedding", nprobe = 2, c = 30, n = 10)
    }
    assert(ex2.getMessage.contains("must be unique"))
  }

  test("meanRecallAtK splits queries that differ in recall: the mean " +
    "sits strictly between a perfect and an imperfect query") {
    val emb = Lake.table(spark, sfDir, "embeddings")
    val (coarse, books, encoded) = Similarity.ivfPqIndex(emb, "vec_id",
      "embedding", dims = 64, coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2)
    val quant = emb.select(col("vec_id"),
      graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
    // query A: full re-rank pipeline (high recall); query B: a DEGENERATE
    // approx (nprobe=1, c=n — no re-rank slack) for the same query vector,
    // tagged as a different query id so the two recalls can differ
    val qq = quantOf(emb.select(col("vec_id"), col("embedding")), 0L)
    def exactTop(qid: Long) = quant
      .select(col("vec_id"),
        graft.functions.VectorFunctions.sqDistToLit(col("q"), qq.toSeq)
          .as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(20)
      .select(lit(qid).as("query_id"), col("vec_id"))
    val good = Similarity.ivfPqTopKRerank(encoded, quant, "vec_id",
      coarse, books, qq, nprobe = 4, c = 100, n = 20)
      .select(lit(1L).as("query_id"), col("vec_id"))
    val rough = Similarity.ivfPqTopK(encoded, "vec_id", coarse, books,
      qq, nprobe = 1, n = 20)
      .select(lit(2L).as("query_id"), col("vec_id"))
    val out = Similarity.meanRecallAtK(good.unionByName(rough),
      exactTop(1L).unionByName(exactTop(2L)), "vec_id", "query_id", k = 20)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getDouble(3))).toMap
    assert(out(1L) >= out(2L), s"re-ranked recall must dominate: $out")
    val mean = out(-1L)
    assert(math.abs(mean - (out(1L) + out(2L)) / 2) < 1e-12,
      s"mean row must be the mean of per-query recalls: $out")
  }
}
