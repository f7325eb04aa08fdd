package graft
object Bench {
  /** Reference wall-clock of the micro-calibration workload (cpus=32
    * threads × 2^27 xorshift64 steps, median of 5) measured on the round-12
    * reference host. `host_factor = calib_sec / CalibRefSec` in the bench
    * JSON: >1 means this run's host was that much slower than the
    * reference, and `normalized_value` divides it back out.
    */
  val CalibRefSec = 0.295

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // session policy (shuffle partitions = cores, AQE defaults for batch,
    // artifact isolation off) lives in ONE place: GraftSession's scaladoc
    // carries the A/B evidence for each decision
    val spark = GraftSession.local(cpus.toInt, appName = "graft-bench")
    // optional comma-separated filter for profiling single queries
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Untimed warmup pass over every selected query: first execution of a
    // query shape is dominated by whole-stage-codegen compilation + JIT
    // (measured ~3× steady-state for the wide-aggregate shapes), a fixed
    // per-shape cost that amortizes to noise on any long-running cluster
    // job. Timing the second pass measures the engine, not the compiler —
    // standard steady-state practice (JMH et al.). Each timed query below
    // still executes its full data path.
    selected.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // SPARK_GRAFT_EXPLAIN=1: dump each selected query's formatted physical
    // plan to stderr after warmup — the probe runs use this to read
    // PartitionFilters / scan shapes on non-default fixtures without
    // touching the timed loop.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      selected.foreach { case (name, fn) =>
        try {
          System.err.println(s"==== plan $name ====")
          System.err.println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case _: Throwable => () }
      }
    // ---- micro-calibration: pure-CPU, engine-free host-factor probe ----
    // A fixed workload (cpus threads × 2^27 xorshift64 steps each, pinned
    // iteration count, result published through an AtomicLong so the JIT
    // cannot elide it) measures THIS host's compute speed at bench time.
    // Round-over-round bench drift then decomposes: if calib moved by the
    // same factor as the query totals, the drift is the HOST (thermal /
    // co-tenant / governor), not the engine. `CalibRefSec` pins the value
    // measured on the reference machine the day this landed; the emitted
    // `host_factor` = calib/ref and `normalized_value` = total/host_factor
    // make the comparison a recorded number instead of a narrative.
    val blackhole = new java.util.concurrent.atomic.AtomicLong(0L)
    def calibRep(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { t =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + t
          var s = 0L
          var i = 0
          while (i < (1 << 27)) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x
            i += 1
          }
          blackhole.addAndGet(s)
          ()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val calibSec = {
      calibRep(cpus.toInt) // JIT warmup rep, untimed
      median((1 to 5).map(_ => calibRep(cpus.toInt)))
    }
    System.err.println(f"[bench] calibration $calibSec%8.3f s (blackhole ${blackhole.get()}%d)")

    // ---- streaming lifecycle-floor measurement (round 13; round 14
    // moved it HERE, before the timed loop) ----
    // The streaming queries' wall is dominated by a fixed micro-batch
    // lifecycle floor that masks per-row regressions; measure the floor
    // directly by running the SAME queries against the smallest fixture
    // (sf0.001: row work negligible, lifecycle is not). Measured EARLY —
    // right after warmup + calibration — because a 25-minute 140-query
    // run degrades the end-of-run environment (host co-tenancy, JVM
    // state) enough to inflate an end-positioned probe ~3x past the very
    // medians it is subtracted from (observed in the first r14 run:
    // floor 6.8 s vs a 2.5 s sfDir median for the same query). Each
    // probe is gated on the table ITS query actually reads, takes one
    // untimed floor-fixture warmup plus min-of-2, and any probe that
    // can't run lands in streaming_floor_skipped — a partial floor map
    // is distinguishable from a complete one. per_row = median(sfDir) −
    // floor (clamped at 0) is derived after the timed loop below.
    val streamingQs: Seq[(String, String)] = Seq(
      "q112_stream_sessionize" -> "events",
      "q113_stream_interval_join" -> "events",
      "q114_stream_cdc" -> "events",
      "q115_stream_cdc_resume" -> "events",
      "q116_stream_dedup" -> "documents",
      "q116b_stream_dedup_resume" -> "documents",
      "q116c_stream_dedup_retention" -> "documents",
      "q117_stream_semdedup" -> "embeddings",
      "q117b_stream_semdedup_resume" -> "embeddings",
      "q117c_stream_semdedup_retention" -> "embeddings",
      "q119h_stream_ann" -> "embeddings")
    val floorDir = sys.env.getOrElse("SPARK_GRAFT_FLOOR_DIR",
      "/root/testdata/sf0.001")
    val floorSkipped = scala.collection.mutable.ListBuffer.empty[String]
    val floorRaw: Seq[(String, Double)] =
      if (only.nonEmpty) {
        // filtered/profiling run: no probes run at all — record every
        // probe-eligible query as skipped so the artifact's empty floor
        // map is visibly partial, never mistakable for a complete one
        streamingQs.foreach { case (n, _) => floorSkipped += n }
        Seq.empty
      } else streamingQs.flatMap { case (name, table) =>
        if (!new java.io.File(s"$floorDir/$table.parquet").exists()) {
          System.err.println(
            s"[bench] floor probe $name skipped: no $table.parquet in $floorDir")
          floorSkipped += name
          None
        } else SparkEntry.queries.get(name) match {
          case None =>
            floorSkipped += name
            None
          case Some(fn) =>
            try {
              fn(spark, floorDir).count() // untimed floor-fixture warmup
              val ts = (1 to 2).map { _ =>
                System.gc()
                val t0 = System.nanoTime()
                fn(spark, floorDir).count()
                (System.nanoTime() - t0) / 1e9
              }
              Some((name, ts.min))
            } catch { case e: Throwable =>
              System.err.println(s"[bench] floor probe $name failed: ${e.getMessage}")
              floorSkipped += name
              None
            }
        }
      }

    // A failed query must not masquerade as a fast one: report its timing as
    // -1 and list it under "failed" so regressions are visible in the JSON.
    // Each query is timed `timedIters` times (default 3); the MIN is
    // reported in `queries` (JMH-style, continuity with earlier rounds) and
    // the MEDIAN in `queries_median` — the median is the robust
    // round-over-round comparator (the min can ride one lucky scheduler
    // slot; the median can't), so drift analysis reads medians.
    val timedIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Sub-second queries carry the worst relative jitter (scheduler + JIT
    // layout dominate a 100-300ms measurement), so they earn extra
    // iterations: after the base `timedIters`, queries whose best is under
    // `extraBelowSec` run up to `extraIters` more.
    val extraIters = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA", "2").toInt
    val extraBelowSec = 1.5
    val results = selected.map { case (name, fn) =>
      val times = scala.collection.mutable.ListBuffer.empty[Double]
      var ok = true
      var i = 0
      val maxIters = timedIters + extraIters
      def best: Double = if (times.isEmpty) Double.MaxValue else times.min
      def wantMore: Boolean =
        i < timedIters || (i < maxIters && best < extraBelowSec)
      while (ok && wantMore) {
        // full GC between queries (JMH-style): expunges stale ThreadLocalMap
        // entries in the executor threads (see build.sbt G1PeriodicGCInterval
        // note) and keeps one query's garbage out of the next one's timing
        System.gc()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          failed += name; ok = false
        }
        times += (System.nanoTime() - t0) / 1e9
        i += 1
      }
      val reportedMin = if (ok) times.min else -1.0
      val reportedMed = if (ok) median(times.toSeq) else -1.0
      System.err.println(f"[bench] $name%-22s $reportedMin%8.2f s (median $reportedMed%8.2f)")
      (name, reportedMin, reportedMed)
    }
    // derive the floor split now that the sfDir medians exist: per_row =
    // median(sfDir) − floor, clamped at 0; a change that grows per_row is
    // a state-sizing regression even if the total hides inside lifecycle
    // jitter. A query whose median went missing (failed run) drops to the
    // skipped list rather than reporting a floor with no split.
    val medByName = results.collect { case (n, _, m) if m >= 0 => n -> m }.toMap
    val floorMap: Seq[(String, Double, Double)] = floorRaw.flatMap {
      case (name, floor) => medByName.get(name) match {
        case Some(med) => Some((name, floor, math.max(0.0, med - floor)))
        case None => floorSkipped += name; None
      }
    }
    floorMap.foreach { case (n, fl, pr) =>
      System.err.println(f"[bench] $n%-26s lifecycle $fl%6.2f s + per-row $pr%6.2f s")
    }
    val floorJson = floorMap.map { case (n, fl, _) => s"\"$n\":$fl" }
      .mkString("{", ",", "}")
    val perRowJson = floorMap.map { case (n, _, pr) => s"\"$n\":$pr" }
      .mkString("{", ",", "}")
    val floorSkippedJson = floorSkipped.map("\"" + _ + "\"")
      .mkString("[", ",", "]")

    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMed = results.map { case (k, _, m) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val totalMed = results.collect { case (_, _, m) if m >= 0 => m }.sum
    val hostFactor = calibSec / Bench.CalibRefSec
    val normalized = total / hostFactor
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // both iteration knobs recorded: sub-1.5s queries run up to
    // iters+extra_sub_sec_iters, so the artifact states the actual
    // methodology instead of implying min-of-iters for every query
    val json = s"""{"metric":"total","value":$total,"unit":"sec","value_median":$totalMed,"calib_sec":$calibSec,"calib_ref_sec":${Bench.CalibRefSec},"host_factor":$hostFactor,"normalized_value":$normalized,"iters":$timedIters,"extra_sub_sec_iters":$extraIters,"emitter":"bench","queries":$qs,"queries_median":$qsMed,"streaming_floor":$floorJson,"streaming_per_row":$perRowJson,"streaming_floor_skipped":$floorSkippedJson,"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // Persist the FULL per-query timing map to a file as well: the driver
    // captures a bounded stdout tail, and a truncated tail silently drops
    // query timings from the recorded artifact — the committed file is the
    // reproducible record.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    def write(path: String): Unit =
      try {
        val w = new java.io.PrintWriter(path, "UTF-8")
        try w.println(json) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    write(outPath)
    // Also emit the ROUND-STAMPED artifact BENCH_r{N}.json, but only when
    // SPARK_GRAFT_ROUND names the round: the driver's own round file is
    // reconstructed from a bounded stdout tail and has shipped with a
    // truncated queries map — this one is complete. A guessed round number
    // once filed an 8-core run as the next round, so there is no default.
    // Skipped for filtered/profiling runs (partial map) AND for runs with
    // an explicit BENCH_OUT (scale probes on non-default fixtures must not
    // masquerade as the round's sf0.1 record).
    if (only.isEmpty && sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty)
      // zero-pad numeric rounds so BENCH_r9.json and BENCH_r09.json never
      // fork one round's artifacts
      sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
        val padded = if (r.nonEmpty && r.forall(_.isDigit)) f"${r.toInt}%02d" else r
        write(s"BENCH_r$padded.json")
      }
    spark.stop()
  }
}
