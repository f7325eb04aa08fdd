package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.flows.AnnIndex

/** The blue/green cutover primitive: an atomic, audited pointer to the
  * root currently served — plus the full refit walk on the ANN index
  * (build green, cut, searches follow; the blue root stays readable for
  * drained readers).
  */
class ServingPointerSpec extends SparkSpec {

  test("set/resolve/history: atomic cuts in commit order; an unset " +
    "pointer is branded") {
    val ptr = Files.createTempDirectory("sptr").toString + "/serving"
    val ex = intercept[IllegalArgumentException] {
      ServingPointer.resolve(spark, ptr)
    }
    assert(ex.getMessage.contains("no serving pointer"))
    val v1 = ServingPointer.set(spark, ptr, "/lake/index_blue")
    assert(ServingPointer.resolve(spark, ptr) == "/lake/index_blue")
    val v2 = ServingPointer.set(spark, ptr, "/lake/index_green")
    assert(v2 > v1)
    assert(ServingPointer.resolve(spark, ptr) == "/lake/index_green")
    // the audit trail keeps every cut, in order
    assert(ServingPointer.history(spark, ptr) ==
      Seq(v1 -> "/lake/index_blue", v2 -> "/lake/index_green"))
  }

  test("history lists the pointer's manifests once and parses each cut " +
    "once, however many cuts there are") {
    val ptr = Files.createTempDirectory("sptr-hist").toString + "/serving"
    val cuts = (1 to 3).map(i => ServingPointer.set(spark, ptr, s"/lake/r$i"))
    var history = Seq.empty[(Long, String)]
    val calls = ManifestCallLog.during(spark, ptr) {
      history = ServingPointer.history(spark, ptr)
    }
    assert(history == cuts.zip((1 to 3).map(i => s"/lake/r$i")))
    val dir = s"$ptr/_manifests"
    assert(calls == ("list" -> dir) +: cuts.map(v => "open" -> s"$dir/v$v.json"),
      calls)
  }

  test("blue/green refit on the ANN index: searches name the POINTER; " +
    "building the green root changes nothing until the cut; after the " +
    "cut searchServing follows it and the blue root stays intact") {
    val base = Files.createTempDirectory("sptr2").toString
    val ptr = s"$base/serving"
    val emb = Lake.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 60)
    def quantOf(vecId: Long): Array[Long] =
      emb.filter(col("vec_id") === vecId)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q")).head.getSeq[Long](0).toArray
    // blue: fitted on the even half only (the "drifted" model)
    AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", s"$base/blue", dims = 64, coarseK = 2, coarseIters = 2,
      m = 4, k = 2, iters = 2)
    ServingPointer.set(spark, ptr, s"$base/blue")
    val qq = quantOf(0L)
    def serve() = AnnIndex.searchServing(spark, ptr, "vec_id", qq,
      nprobe = 2, c = 20, n = 10).collect().map(_.getLong(0)).toSeq
    val blueTop = serve()
    def direct(root: String) = AnnIndex.search(spark, root, "vec_id", qq,
      nprobe = 2, c = 20, n = 10).collect().map(_.getLong(0)).toSeq
    assert(blueTop == direct(s"$base/blue"))
    // green: refit over the FULL set — built, probed, not yet serving
    AnnIndex.build(emb, "vec_id", "embedding", s"$base/green", dims = 64,
      coarseK = 2, coarseIters = 2, m = 4, k = 2, iters = 2)
    assert(serve() == blueTop, "an un-cut green root must change nothing")
    // the gate a deployment runs before cutting (recall over the
    // candidate), then the atomic cut
    val probe = AnnIndex.recallProbe(spark, s"$base/green", "vec_id",
      Seq(0L -> qq), k = 10, nprobe = 2, c = 20)
    assert(probe.count() == 2) // per-query row + mean row
    ServingPointer.set(spark, ptr, s"$base/green")
    val greenTop = serve()
    assert(greenTop == direct(s"$base/green"))
    // green indexes the odd half too: vec 1's own vector is findable
    // only post-cut (blue never stored it, so blue CANNOT return it)
    val qq1 = quantOf(1L)
    def serve1() = AnnIndex.searchServing(spark, ptr, "vec_id", qq1,
      nprobe = 2, c = 20, n = 10).collect().map(_.getLong(0)).toSeq
    assert(serve1().contains(1L))
    // blue is untouched: a reader that resolved pre-cut drains safely
    assert(direct(s"$base/blue") == blueTop)
  }
}
