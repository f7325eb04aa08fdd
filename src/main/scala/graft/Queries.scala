package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Cpf, SchemaConform, TextFunctions}
import graft.operators.{Corpus, Dedup, MultiModal, Relational, Similarity}
import graft.sources.{FixedWidthReader, Lake}

/** The engine's query inventory: one named query per SURVEY §2 operator
  * class, each paired (in [[Queries.oracles]]) with ANSI SQL the driver runs
  * in DuckDB over the same parquet tables for a hash-match check.
  *
  * Determinism conventions (required for cross-engine hash equality):
  *  - every query ends in a total-order `orderBy`, and the oracle carries the
  *    same ORDER BY;
  *  - every aggregate/computed column is aliased identically on both sides;
  *  - double SUMs go through DECIMAL(18,2) so the sum is associative (Spark's
  *    partial aggregation adds in partition order, DuckDB sequentially —
  *    decimal makes both exact), then back to double, rounded;
  *  - AVGs are written sum/count from the decimal sum for the same reason;
  *  - raw double *columns* pass through untouched (bit-identical in parquet).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Lake.table(s, dir, name)

  /** Ids feeding the synthetic-media kernels (q40b–q40j). The per-row
    * encode+decode work downstream is orders of magnitude heavier than
    * the id scan, and the compact documents file arrives as ONE
    * maxPartitionBytes-sized scan split — without redistribution the
    * whole media family ran on a single core no matter how many the
    * session had (optimization guide §2.5's repartition-after-
    * unsplittable-input rule; measured r17 with the ImageIO cache fix:
    * q40i 5.21 → 0.69 s, q40b 2.35 → 0.40 s at local[32]). Repartitioned
    * to the session's default parallelism — scale-adaptive, never a
    * constant — for 8 bytes of shuffle per row.
    *
    * The AUDIO kernels (q40c/q40g) fan out through here too since the
    * r17 MIDI-prober fix: their initial A/B read 32-way fan-out SLOWER
    * than one core, but thread dumps traced that to the JDK's
    * SoftMidiAudioFileReader probing every payload under a class-level
    * lock (see MultiModal.audioFileReaders) — with MIDI probers ordered
    * last, audio decode scales like the image kernels (q40g 0.54 →
    * 0.24 s, q40c 0.36 → 0.27 s at sf0.1, and ~10× single-thread).
    */
  private def mediaIds(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** [[mediaIds]] WITHOUT the fan-out Exchange, for the LIGHT media
    * kernels (q40d/q40e/q40h — header-only container walks, ~µs/row):
    * there the repartition costs more than the kernel saves (r17 driver
    * bench: q40e 0.26 → 0.52 s, q40d 0.13 → 0.20 s after the
    * unconditional fan-out; VERDICT r17 "what's wrong" #1). Cost-aware,
    * not local-tuned: the narrow scan's parallelism grows naturally with
    * the input (maxPartitionBytes splits), and the heavy codec kernels
    * (ImageIO encode/decode, PCM sample streaming) keep the fan-out where
    * the per-row work dwarfs one 8-byte/row Exchange.
    */
  private def mediaIdsNarrow(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id")).as[Long]
  }

  /** Associative (decimal-backed) sum of a 2-dp double column, as double. */
  private def sumDec(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")).cast("double"), 2)

  /** Deterministic mean of a 2-dp double column (decimal sum / count). */
  private def avgDec(c: Column): Column =
    round(sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1)), 6)

  /** Pin the session timezone to UTC for the duration of `body` — the
    * engine's event-time policy (SURVEY §7.4, SessionTzSpec): the lake's
    * TIMESTAMP_NTZ columns carry UTC wall-clock, and `cast("timestamp")`
    * interprets NTZ in the SESSION timezone, so a user session running
    * under America/Sao_Paulo would silently shift every derived epoch by
    * -03:00. Queries that cast lake NTZ event time wrap the cast (and the
    * streaming machinery consuming it) in this pin; downstream epoch-long
    * outputs are then session-TZ-invariant.
    */
  private def withUtcEventTime[T](s: SparkSession)(body: => T): T = {
    val prev = s.conf.get("spark.sql.session.timeZone")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    try body finally s.conf.set("spark.sql.session.timeZone", prev)
  }

  /** Stamp an explicit, strictly-increasing mtime onto a fixture
    * directory's NEWLY WRITTEN files (shared by the streaming harnesses —
    * q112's sentinel feed and q115's chunked changelog):
    * `FileStreamSource` orders files by modification time, and a
    * coarse-mtime filesystem could tie writes and process them out of
    * order. Stamps sit in 2001 (1e12 ms), far below any real write's
    * mtime, so "mtime above the stamp ceiling" identifies the
    * not-yet-stamped files on each pass.
    */
  private def stampFreshMtimes(dir: String, epochMs: Long): Unit = {
    val ft = java.nio.file.attribute.FileTime.fromMillis(epochMs)
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try listing.forEach { f =>
      if (java.nio.file.Files.getLastModifiedTime(f).toMillis > 1100000000000L)
        java.nio.file.Files.setLastModifiedTime(f, ft)
    } finally listing.close()
  }

  /** Land N mtime-ordered arrival-chunk files CONCURRENTLY: each chunk
    * writes to its own scratch subdir (one single-task writer job each,
    * overlapped — the sequential per-chunk loop serialized 3-4 such jobs
    * per streaming query body; guide §2.6), `alongside` runs on the
    * calling thread while they write (the q117 family's model-fit setup
    * rides there), then the files MOVE into `dir` in chunk order, each
    * stamped with the chunk's explicit mtime. Deterministic batch
    * assignment is unchanged: FileStreamSource orders by the same
    * stamped mtimes the sequential loop produced ([[stampFreshMtimes]]),
    * and a move preserves bytes. Stage dirs are `_`-prefixed (hidden to
    * any parquet listing) and removed before return.
    */
  private def writeArrivalChunks(dir: String,
      chunks: Seq[org.apache.spark.sql.DataFrame],
      baseEpochMs: Long = 1000000000000L, stepMs: Long = 60000L)(
      alongside: => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chunks.size)
    try {
      val futs = chunks.zipWithIndex.map { case (df, c) =>
        pool.submit(new Runnable {
          def run(): Unit =
            df.coalesce(1).write.parquet(s"$dir/_stage$c")
        })
      }
      try alongside
      catch {
        case e: Throwable =>
          // drain every writer before surfacing the failure: a writer's own
          // failure rides along as suppressed, never abandoned to shutdown()
          futs.foreach { f =>
            try f.get()
            catch {
              case w: java.util.concurrent.ExecutionException =>
                e.addSuppressed(w.getCause)
            }
          }
          throw e
      }
      futs.foreach(_.get())
    } finally { pool.shutdown(); () }
    for (c <- chunks.indices) {
      val stage = java.nio.file.Paths.get(dir, s"_stage$c")
      val listing = java.nio.file.Files.list(stage)
      try listing.forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(f,
            java.nio.file.Paths.get(dir, f.getFileName.toString))
          ()
        }
      } finally listing.close()
      deleteRecursively(stage)
      stampFreshMtimes(dir, baseEpochMs + c * stepMs)
    }
  }

  /** Recreate a per-query scratch dir (delete, then mkdir): repeated bench
    * iterations within one JVM reuse one disk footprint instead of
    * accumulating a fresh temp copy per run, and streaming checkpoints
    * start clean each time (a REUSED checkpoint would mark the fixture
    * files already-processed and the re-run would land nothing). The path
    * is namespaced by PID so two concurrent JVMs cannot delete each
    * other's in-flight stream input, and a shutdown hook removes the
    * JVM's dirs on exit.
    */
  private val scratchHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close() // an unclosed walk stream leaks directory FDs
    }
  private def freshScratchDir(name: String): String = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"${name}_${ProcessHandle.current().pid()}")
    deleteRecursively(p)
    java.nio.file.Files.createDirectories(p)
    if (scratchHooked.add(p.toString))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteRecursively(p)))
    p.toString
  }

  /** Shared kill/resume harness for the streaming failure queries
    * (q115/q116b/q116c/q117b/q117c/q119h): start the writer, kill it as
    * soon as the FIRST micro-batch reports progress (committed but
    * possibly not yet checkpointed — the worst crash point), then
    * resume a fresh writer from the same checkpoint and drain it. The
    * timing-sensitive poll lives in ONE place so every kill/resume
    * oracle exercises the same crash window.
    */
  private def runKillResume(
      mk: () => org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]): Unit = {
    val q1 = mk().start()
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (q1.recentProgress.isEmpty && q1.isActive &&
        System.nanoTime() < deadline) Thread.sleep(10)
    } finally q1.stop()
    q1.awaitTermination()
    val q2 = mk().start()
    try q2.awaitTermination() finally q2.stop()
  }

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P1/P2/P9: projection + predicate, pushed to the parquet scan.
    "q01_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_returnflag"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // P4: conjunctive multi-predicate filter (isin + range + non-null).
    "q02_multi_predicate" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderstatus").isin("O", "F") &&
          col("o_totalprice") > 150000 && col("o_orderdate").isNotNull)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // A11/A3: hash aggregate with partial (map-side) combine — TPC-H Q1 shape.
    "q03_agg_q1" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sumDec(col("l_quantity")).as("sum_qty"),
          sumDec(col("l_extendedprice")).as("sum_base"),
          avgDec(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // A1: collect_list per group (sorted for determinism).
    "q04_collect_list" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("c_custkey"))),
            _.cast("string"))).as("cust_ids"),
          count(lit(1)).as("n_custs"))
        .orderBy(col("c_nationkey"))
    }),

    // A2/A3: per-group + global rates in ONE pass via ROLLUP grouping sets.
    "q05_rate_rollup" -> ((s, dir) => {
      Relational.rateRollup(t(s, dir, "events"), "event_type",
          Map("high" -> (col("value") > 100)))
        .select(col("event_type"), round(col("high_rate"), 6).as("high_rate"),
          col("n"))
        .orderBy(col("event_type").asc_nulls_first)
    }),

    // A6/A10: exact COUNT(DISTINCT) per group.
    "q06_count_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // A5/A7: min/max extremes per group (freshness-style query).
    "q07_minmax" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(min(col("o_orderdate")).cast("string").as("min_date"),
          max(col("o_orderdate")).cast("string").as("max_date"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // J7: star-schema join — both dims broadcast (no shuffle of the fact).
    "q08_star_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), sumDec(col("c_acctbal")).as("tot_bal"))
        .orderBy(col("r_name"))
    }),

    // J1: resume-ledger anti join (customers with no high-value order = the
    // "work remaining" set against a done-ledger).
    "q09_anti_join" -> ((s, dir) => {
      val done = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
        .select(col("o_custkey").as("c_custkey"))
      Relational.remaining(t(s, dir, "customer"), Some(done), Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // J5/P8: semi join (customers with at least one open order).
    "q10_semi_join" -> ((s, dir) => {
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      val c = t(s, dir, "customer")
      c.join(open, c("c_custkey") === open("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // J6: band (range-membership) join against a broadcast interval table.
    "q11_band_join" -> ((s, dir) => {
      import s.implicits._
      val ranges = Seq(("small", 1, 10), ("medium", 11, 25), ("large", 26, 50))
        .toDF("band", "lo", "hi")
      Relational.bandJoin(t(s, dir, "part"), ranges, col("p_size"), "lo", "hi")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"), sumDec(col("p_retailprice")).as("sum_price"))
        .orderBy(col("band"))
    }),

    // W1: latest record per key via row_number window (NOT dropDuplicates).
    "q12_latest_per_key" -> ((s, dir) => {
      Dedup.latestPerKey(t(s, dir, "orders"), Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("string").as("o_orderdate"),
          col("o_totalprice"))
        .orderBy(col("o_custkey"))
    }),

    // Dedup (exact): content-hash duplicate groups over documents.
    "q13_exact_dedup" -> ((s, dir) => {
      Dedup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    // O3: top-k — TakeOrderedAndProject, no global sort.
    "q14_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(50)
    }),

    // U1: union-by-name accumulation (overlap kept, as in pd.concat).
    "q15_union" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val p1 = o.filter(col("o_totalprice") > 200000)
        .select(col("o_orderkey"), lit("high").as("src"))
      val p2 = o.filter(year(col("o_orderdate")) === 1995)
        .select(col("o_orderkey"), lit("y1995").as("src"))
      Relational.unionAll(Seq(p1, p2)).orderBy(col("o_orderkey"), col("src"))
    }),

    // U3/A10: distinct tuples.
    "q16_distinct" -> ((s, dir) => {
      t(s, dir, "events").select(col("event_type"), col("user_id")).distinct()
        .orderBy(col("event_type"), col("user_id"))
    }),

    // F10/S6: JSON payload point-access + aggregate.
    "q17_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy(col("k"))
    }),

    // T3/K3: day-grain temporal grouping (tumbling daily window).
    "q18_date_group" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy(col("d"))
    }),

    // F7: deterministic surrogate key (uuid5 analog = sha2 over joined keys).
    "q19_surrogate_key" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          Relational.surrogateKey(Seq(col("o_orderkey"), col("o_custkey"))).as("sk"))
        .orderBy(col("o_orderkey"))
    }),

    // F5: CPF mod-11 checksum as a codegen'd Catalyst Expression.
    "q20_cpf_valid" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          lpad(col("c_custkey").cast("string"), 11, "0").as("cpf"))
        .withColumn("valid", Cpf.isValid(col("cpf")))
        .orderBy(col("c_custkey"))
    }),

    // S20: fixed-width record projection (pure substring codegen).
    "q21_fixed_width" -> ((s, dir) => {
      val lined = t(s, dir, "customer").select(
        concat(rpad(col("c_custkey").cast("string"), 12, " "),
          rpad(col("c_mktsegment"), 12, " "),
          rpad(col("c_name"), 25, " ")).as("line"))
      FixedWidthReader.project(lined, "line",
          FixedWidthReader.dictionary(Seq("custkey" -> 12, "seg" -> 12, "name" -> 25)))
        .orderBy(col("custkey"))
    }),

    // F1/F2: schema conformance (accent-strip + snake-case rename).
    "q22_schema_conform" -> ((s, dir) => {
      val messy = t(s, dir, "customer").select(
        col("c_custkey").as("C Custkey"),
        col("c_name").as("Nome Ação"),
        col("c_mktsegment").as("Conta$Segmento"))
      SchemaConform.conform(messy).orderBy(col("c_custkey"))
    }),

    // UDTF-analog: parent/child explosion with deterministic child keys
    // (posexplode generator — no custom UDTF needed).
    "q23_explode_child" -> ((s, dir) => {
      val parents = t(s, dir, "documents")
        .select(col("doc_id"),
          slice(TextFunctions.tokens(col("text")), 1, 5).as("kids"))
      operators.JsonNormalize.explodeChild(parents, "kids", col("doc_id"))
        .select(col("doc_id"), col("child").cast("string").as("child"),
          col("child_key"))
        .orderBy(col("doc_id"), col("child_key"))
    }),

    // F10 + flatten: JSON payload → typed struct → flattened columns.
    "q24_json_flatten" -> ((s, dir) => {
      val parsed = t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("p"))
      operators.JsonNormalize.flattenStructs(parsed)
        .orderBy(col("event_id"))
    }),

    // T1/T2: relative-date window resolution (anchor is an explicit
    // parameter — never now()) driving a partition-prunable filter.
    "q25_relative_window" -> ((s, dir) => {
      import java.time.LocalDate
      val anchor = LocalDate.of(2024, 1, 20)
      val (start, end) = graft.functions.RelativeDate.range("D-7", "yesterday", anchor)
      t(s, dir, "events")
        .filter(to_date(col("ts")).between(
          lit(graft.functions.RelativeDate.fmt(start)),
          lit(graft.functions.RelativeDate.fmt(end))))
        .groupBy(to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("d"))
    }),

    // W4: presentation sort with NULLS LAST over a coalesce-style key.
    "q26_sort_nulls_last" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderpriority") === "3-MEDIUM", lit(null).cast("string"))
            .otherwise(col("o_orderpriority")).as("pr"))
        .orderBy(col("pr").asc_nulls_last, col("o_orderkey"))
    }),

    // F3: multi-format date parsing (ANSI-safe dispatch on shape).
    "q27_multi_format_dates" -> ((s, dir) => {
      val shaped = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 2 === 0,
          date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .otherwise(date_format(col("o_orderdate"), "dd/MM/yyyy")).as("raw"))
      shaped.select(col("o_orderkey"), col("raw"),
          when(col("raw").rlike("^\\d{4}-"), to_date(col("raw"), "yyyy-MM-dd"))
            .otherwise(to_date(col("raw"), "dd/MM/yyyy"))
            .cast("string").as("parsed"))
        .orderBy(col("o_orderkey"))
    }),

    // S19: SQL-dump scan — dump text generated from the table, then parsed
    // back through the statement-splitting reader (roundtrip vs oracle).
    "q28_sql_dump" -> ((s, dir) => {
      // '' -escape values so the generated text matches the parser's escape
      // handling even if a value carries a quote (TPC-H values never do, but
      // the roundtrip must not desync on one). The collect() is inherent to
      // the fixture: the dump is a driver-written temp file feeding the
      // reader under test, not a data-path operator.
      def esc(v: String) = v.replace("'", "''")
      val dump = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .collect()
        .map(r => s"INSERT INTO public.customer (c_custkey, c_name, c_mktsegment) " +
          s"VALUES (${r.getLong(0)}, '${esc(r.getString(1))}', '${esc(r.getString(2))}');")
        .mkString("\n")
      val tmp = java.nio.file.Files.createTempDirectory("dump")
      java.nio.file.Files.writeString(tmp.resolve("c.sql"), dump)
      sources.SqlDumpReader.read(s, tmp.resolve("c.sql").toString, "customer", 3)
        .select(col("c0"), col("c1"), col("c2"))
        .orderBy(col("c0"), col("c1"))
    }),

    // F4/F6: age-at-date and CPF presentation formatting.
    "q29_age_cpf_format" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          functions.Dates.ageYears(
            date_add(to_date(lit("2000-06-15")), (col("c_custkey") % 365).cast("int")),
            to_date(lit("2026-08-12"))).as("age"),
          functions.Cpf.format(
            lpad(col("c_custkey").cast("string"), 11, "0")).as("cpf_fmt"))
        .orderBy(col("c_custkey"))
    }),

    // Text: token counting (whitespace + BPE-ish regex).
    "q30_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    // Text: quality scoring (length/punct/stopword ratios).
    "q31_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"),
          round(TextFunctions.meanTokenLen(col("text")), 6).as("mean_token_len"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Text: n-gram-marker language ID heuristic.
    "q32_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"),
          col("lang").as("actual_lang"))
        .orderBy(col("doc_id"))
    }),

    // Dedup (near): MinHash+LSH banded candidate pairs in PORTABLE hash
    // mode — every hash md5-derived, so the DuckDB oracle replays the whole
    // shingle→signature→band→bucket→Jaccard pipeline bit-for-bit. The
    // xxhash64 fast path stays the production default
    // (Dedup.minHashCandidatePairs, spec-pinned).
    "q33_minhash_pairs" -> ((s, dir) => {
      Dedup.minHashCandidatePairsPortable(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup (near): SimHash chunked near-dup pairs in PORTABLE hash mode
    // (md5-derived 60-bit token hashes — the DuckDB oracle replays votes,
    // signature collapse, chunk candidates, and hamming filter exactly).
    // maxHamming=3 is the textbook near-dup radius — 4 chunks of 15 bits
    // keep the candidate join selective. The xxhash64 64-bit fast path
    // stays the production default (Dedup.simHashNearDups, spec-pinned).
    "q34_simhash_pairs" -> ((s, dir) => {
      Dedup.simHashNearDupsPortable(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup (near): n-gram Jaccard over source-blocked candidate pairs.
    // Shingles are computed ONCE per document before the pair join (not once
    // per pair), and intersect/union are bound once per pair.
    "q35_ngram_jaccard" -> ((s, dir) => {
      val toked = t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
        .select(col("source"), col("doc_id"),
          TextFunctions.tokens(TextFunctions.normalized(col("text"))).as("toks"))
      val docs = toked.select(col("source"), col("doc_id"),
        TextFunctions.shinglesFromTokens(col("toks"), 3).as("sh"))
      val a = docs.select(col("source"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select(col("source"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
        .select(col("source"), col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).as("nix"),
          size(array_union(col("sh_a"), col("sh_b"))).as("nun"))
        .select(col("source"), col("id_a"), col("id_b"),
          round(when(col("nun") > 0,
            col("nix").cast("double") / col("nun").cast("double"))
            .otherwise(lit(0.0)), 6).as("jaccard"))
        .orderBy(col("source"), col("id_a"), col("id_b"))
    }),

    // ANN: exact cosine top-k per query over a broadcast query set.
    "q36_knn_per_query" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.topKPerQuery(emb, qs, "vec_id", "embedding", "q_id", "q_vec", 5)
        .select(col("q_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("q_id"), col("vec_id"))
    }),

    // ANN: brute-force cosine top-k against one literal query vector.
    "q37_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 20)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // ANN: LSH-bucketed approximate top-k. Oracle-backed: the seeded planes
    // are embedded in the SQL as literals, so DuckDB recomputes signatures,
    // probe buckets, the escalation tier, and the final top-k identically.
    "q38_lsh_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.annTopK(emb, "vec_id", "embedding", qv, k = 20, numPlanes = 12)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
    }),

    // ANN: IVF coarse quantization with one-hot unit centroids — the cell
    // assignment is the scale path (queries scan only their cells).
    "q39_ivf_cells" -> ((s, dir) => {
      val centroids = Seq(0, 16, 32, 48).map(i =>
        Seq.tabulate(64)(j => if (j == i) 1.0 else 0.0))
      Similarity.withIvfCell(t(s, dir, "embeddings"), "embedding", centroids)
        .select(col("vec_id"), col("ivf_cell"))
        .orderBy(col("vec_id"))
    }),

    // As-of join: every event enriched with the user's latest signup at or
    // before the event time (union + running-last; one shuffle).
    "q44_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cp = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("cp_ts"),
          col("ts").cast("string").as("last_signup"))
      Relational.asOfJoin(ev, cp, Seq("user_id"), "ts", "cp_ts", Seq("last_signup"))
        .select(col("event_id"), col("last_signup"))
        .orderBy(col("event_id"))
    }),

    // A2 (full grouping sets): CUBE over two dimensions in one pass.
    "q42_cube" -> ((s, dir) => {
      t(s, dir, "events")
        .cube(col("event_type"), to_date(col("ts")).cast("string").as("d"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy(col("event_type").asc_nulls_first, col("d").asc_nulls_first)
    }),

    // T3 (data-side tumbling window): epoch-aligned 6-hour buckets.
    "q43_tumbling_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .select(col("window.start").cast("string").as("ws"), col("n"), col("sum_value"))
        .orderBy(col("ws"))
    }),

    // F12: geodesic reprojection EPSG:31983 → 4326 over synthetic UTM
    // points. Oracle-backed: the inverse-Krüger series is transcribed
    // term-for-term into DuckDB SQL (same literals, same left-assoc float
    // op order), hash-matching at 6 decimals; GeoSpec round-trips pin the
    // math independently.
    "q41_geo_reproject" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          (lit(600000.0) + (col("c_custkey") % 100000)).as("e"),
          (lit(7400000.0) + (col("c_custkey") % 50000)).as("n"))
        .select(col("c_custkey"),
          round(functions.Geo.latFromUtm23S(col("e"), col("n")), 6).as("lat"),
          round(functions.Geo.lonFromUtm23S(col("e"), col("n")), 6).as("lon"))
        .orderBy(col("c_custkey"))
    }),

    // Multimodal: binary payload → deterministic feature extraction.
    // These payloads are text bytes, so the real image/video decoders
    // decline them and every row takes the STUB path (format='stub') — the
    // stub's dimensions are md5-derived and its n_frames is a constant 1
    // (never a fabricated frame count), so the DuckDB oracle replays
    // byte_len, checksum and dimensions exactly; the Spark-side plumbing
    // (binary schema, typed Dataset, mapPartitions batching) is the real
    // scale path.
    "q40_media_features" -> ((s, dir) => {
      val media = MultiModal.fromText(s, t(s, dir, "documents"), "doc_id", "text")
      MultiModal.extractFeatures(media).toDF().orderBy(col("media_id"))
    }),

    // Multimodal: REAL image decode round-trip. Payloads are actual
    // PNG/JPEG bytes (encoded through ImageIO from dimensions that are a
    // pure function of doc_id), decoded back by the ImageIO header reader
    // on executors — the oracle replays the dimension formula, so a fake
    // decode cannot pass. Header-only read: no pixel raster materializes.
    "q40b_image_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIds(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val w = 8 + (id % 64).toInt
        val h = 8 + ((id * 3) % 64).toInt
        val png = id % 2 == 0
        MultiModal.MediaRow(id, "image",
          if (png) "image/png" else "image/jpeg",
          MultiModal.encodeImage(w, h, if (png) "png" else "jpg"))
      })
      MultiModal.extractFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("format"))
        .orderBy(col("media_id"))
    }),

    // Multimodal: REAL audio decode round-trip. Payloads are actual 16-bit
    // PCM WAV bytes (hand-rolled RIFF container from rate/channel/frame
    // formulas over doc_id), decoded back by the JDK sound stack's header
    // parser on executors; the oracle replays the formulas, so a fake
    // decode cannot pass. Header-only: no sample data is decoded.
    "q40c_audio_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIds(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val rate = 8000 + (id % 8).toInt * 1000
        val channels = 1 + (id % 2).toInt
        val frames = 500 + (id % 1000).toInt
        MultiModal.MediaRow(id, "audio", "audio/wav",
          MultiModal.encodeWavPcm16(rate, channels, frames))
      })
      MultiModal.extractAudioFeatures(media).toDF().orderBy(col("media_id"))
    }),

    // Multimodal: REAL video container decode round-trip. Payloads are
    // actual MP4/ISO-BMFF bytes (hand-rolled ftyp/moov/mvhd/trak/tkhd/
    // stts trees from duration/size/frame formulas over doc_id, half with
    // a second audio track, a fifth using the 64-bit version-1 layouts),
    // parsed back by the pure-JVM box walker on executors; the oracle
    // replays the formulas, so a fake decode cannot pass. moov-header-only:
    // the mdat payload is never read.
    "q40d_video_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIdsNarrow(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val w = 160 + (id % 32).toInt * 8
        val h = 90 + (id % 24).toInt * 6
        val dur = 1000L + (id % 600) * 100L
        val frames = 24L + id % 1000
        MultiModal.MediaRow(id, "video", "video/mp4",
          MultiModal.encodeMp4(dur, w, h, frames,
            withAudioTrack = id % 2 == 0, version1 = id % 5 == 0))
      })
      MultiModal.extractVideoFeatures(media).toDF().orderBy(col("media_id"))
    }),

    // Multimodal: frame-sampling PLAN over REAL container metadata — the
    // metadata-only expansion that fans per-frame decode work out to
    // downstream kernels. n_frames comes from the actual stts parse (the
    // generic decode() video route), so the oracle's replay of the
    // sampling arithmetic also re-checks the box parser through a second
    // path. Every-7th frame, capped at 16 per video.
    "q40e_frame_sampling" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIdsNarrow(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val w = 160 + (id % 32).toInt * 8
        val h = 90 + (id % 24).toInt * 6
        val frames = 24L + id % 1000
        MultiModal.MediaRow(id, "video", "video/mp4",
          MultiModal.encodeMp4(1000L, w, h, frames))
      })
      val feats = MultiModal.extractFeatures(media).toDF()
      MultiModal.sampleFrameIndexes(feats, stride = 7, maxFrames = 16)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_sampled"), max(col("frame_idx")).as("max_idx"))
        .orderBy(col("media_id"))
    }),

    // Multimodal: REAL pixel-level decode. Payloads are lossless PNG/BMP
    // rasters (fill = (x*31 + y*7) & 0xffffff) decoded back to pixels via
    // ImageIO; the engine emits the exact channel sum and the
    // integer-exact block-mean perceptual hash, and the oracle replays
    // the fill + quantization + cross-multiplied bits pixel-for-pixel —
    // a fake or header-only decode cannot pass.
    "q40f_pixel_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIds(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val w = 8 + (id % 24).toInt
        val h = 8 + ((id * 5) % 24).toInt
        val png = id % 2 == 0
        MultiModal.MediaRow(id, "image",
          if (png) "image/png" else "image/bmp",
          MultiModal.encodeImage(w, h, if (png) "png" else "bmp"))
      })
      MultiModal.extractPixelFeatures(media).toDF().orderBy(col("media_id"))
    }),

    // Multimodal: REAL audio SAMPLE decode (beyond q40c's header): every
    // 16-bit PCM sample streams through the JDK sound stack and folds
    // into exact sum/peak/count; the oracle replays the sample formula
    // ((i*31) & 0xffff) - 32768 per index.
    "q40g_audio_samples" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIds(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val rate = 8000 + (id % 4).toInt * 1000
        val channels = 1 + (id % 2).toInt
        val frames = 200 + (id % 300).toInt
        MultiModal.MediaRow(id, "audio", "audio/wav",
          MultiModal.encodeWavPcm16(rate, channels, frames))
      })
      MultiModal.extractAudioSamples(media).toDF().orderBy(col("media_id"))
    }),

    // Multimodal: REAL frame extraction (beyond q40d's header): the
    // stsz/stsc/stco sample tables resolve every frame's byte range
    // (chunked 3 per chunk — partial tail chunks exercise the two-run
    // stsc), and each frame's exact size and byte sum fan out one row per
    // frame; the oracle replays the frame-count/size/byte formulas.
    "q40h_frame_extract" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIdsNarrow(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val nf = 3 + (id % 6).toInt
        val frames = (0 until nf).map { i =>
          val size = 10 + ((id + i) % 7).toInt * 4
          Array.tabulate[Byte](size)(j => ((id + i * 7 + j * 13) % 256).toByte)
        }
        MultiModal.MediaRow(id, "video", "video/mp4",
          MultiModal.encodeMp4Frames(64, 48, frames, samplesPerChunk = 3))
      })
      MultiModal.extractFrameBytes(media).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // Multimodal: REAL per-frame PIXEL decode of image-codec video
    // (PNG-coded MP4, stsd 'png '): the sample tables resolve each
    // frame's bytes and ImageIO decodes the raster — per-frame channel
    // sums and block-mean hashes that the oracle replays pixel-for-pixel
    // from the fill formula. Compressed-video frame decode with zero
    // codec dependencies; inter-frame codecs stay behind the same seam.
    "q40i_video_frame_pixels" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIds(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val nf = 2 + (id % 4).toInt
        val frames = (0 until nf).map { i =>
          val w = 8 + ((id + i) % 16).toInt
          val h = 8 + ((id * 3 + i) % 16).toInt
          MultiModal.encodeImage(w, h, "png")
        }
        MultiModal.MediaRow(id, "video", "video/mp4",
          MultiModal.encodeMp4Frames(24, 24, frames, samplesPerChunk = 3))
      })
      MultiModal.extractFramePixels(media).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // Multimodal: REAL INTER-FRAME codec decode — QuickTime Animation
    // ("rle ", 24-bit), a published codec whose delta frames carry only
    // changed line bands and copy every other line from the PREVIOUS
    // frame. The engine must run the sample tables, the RLE entropy
    // layer, AND the temporal composite chain to reproduce each frame's
    // full raster; the oracle replays the expected rasters directly from
    // the band-fill formulas (frame i shows delta bands 1..i over the
    // base fill), so a stateless or fake decode cannot match. This is
    // the extractFrameBytes→codec seam exercised by a real temporal
    // codec; H.264-class entropy decoding remains the documented
    // deployment dependency.
    "q40j_interframe_video_pixels" -> ((s, dir) => {
      import s.implicits._
      val ids = mediaIds(s, dir)
      val media = ids.mapPartitions(_.map { id =>
        val w = 8 + (id % 9).toInt
        val h = 8
        val nf = 2 + (id % 4).toInt
        def base(x: Int, y: Int): Int =
          ((x * 31 + y * 7 + id * 13) % 16777216).toInt
        def dfill(x: Int, y: Int, j: Int): Int =
          ((x * 17 + y * 29 + j * 101 + id * 7) % 16777216).toInt
        val cur = Array.tabulate(w * h)(i => base(i % w, i / w))
        val rasters = Seq.newBuilder[Array[Int]]
        rasters += cur.clone()
        for (j <- 1 until nf) {
          for (y <- (j - 1) * 2 until j * 2; x <- 0 until w)
            cur(y * w + x) = dfill(x, y, j)
          rasters += cur.clone()
        }
        MultiModal.MediaRow(id, "video", "video/mp4",
          MultiModal.encodeQtRleVideo(w, h, rasters.result(),
            samplesPerChunk = 3))
      })
      MultiModal.extractFramePixels(media).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // Dedup (near): embedding-cosine near-dup pairs, LSH-bucketed candidates
    // + exact cosine threshold (oracle replays planes/buckets/cosine).
    // maxBucketSize = Int.MaxValue pins the UNBOUNDED special case the
    // oracle replays; the engine default is bounded occupancy (q46b).
    "q46_cosine_dedup" -> ((s, dir) => {
      Dedup.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.30, numPlanes = 6,
        maxBucketSize = Int.MaxValue)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup (near): BOUNDED-occupancy LSH — buckets past maxBucketSize
    // re-bucket one level deeper with 4 extra planes (seed 43), so a
    // density hot-spot's pair work shrinks ~16x instead of going
    // quadratic; under-cap buckets keep exactly q46's candidates. The
    // oracle replays the occupancy decision and both plane sets.
    "q46b_cosine_dedup_bounded" -> ((s, dir) => {
      Dedup.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, threshold = 0.30, maxBucketSize = 120,
          numPlanes = 6, extraPlanes = 4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Text: PII redaction (anonymization scrub) — deterministic PII spans
    // fabricated from doc_id, then redacted with typed markers; audit
    // counts per pattern. The scrub a health-data pipeline runs before
    // text leaves the secure zone.
    "q47_pii_redact" -> ((s, dir) => {
      val fabricated = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" Contato: "), functions.Cpf.format(
            lpad(col("doc_id").cast("string"), 11, "0")),
          lit(" user"), col("doc_id"), lit("@saude.rio.gov.br"),
          lit(" (21) 9"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit("-"), lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")
        ).as("text"))
      val counts = TextFunctions.piiCounts(col("text"))
      fabricated.select(
          col("doc_id") +: counts.map { case (m, c) =>
            c.as("n_" + m.substring(1, m.length - 1).toLowerCase) } :+
            TextFunctions.redactPii(col("text")).as("redacted"): _*)
        .select(col("doc_id"), col("n_cpf"), col("n_email"), col("n_phone"),
          expr("right(redacted, 60)").as("tail"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified hash-sampling: urgent orders kept at 50%,
    // the rest at 10%, reproducibly (same key → same verdict on any
    // engine/partitioning — the discipline behind stable held-out splits).
    "q48_hash_sample" -> ((s, dir) => {
      val pct = when(col("o_orderpriority") === "1-URGENT", 50L).otherwise(10L)
      Relational.hashSample(t(s, dir, "orders"), col("o_orderkey"), pct)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Dedup decision layer: near-dup PAIRS → transitive duplicate CLUSTERS
    // (connected components over the thresholded pair graph; every doc gets
    // the min reachable id as cluster_id, singletons cluster with
    // themselves). Keeping min(id) per cluster_id is the final dedup.
    "q50_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashCandidatePairsPortable(docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      val clusters = Dedup.duplicateClusters(pairs)
      docs.select(col("doc_id"))
        .join(clusters, docs("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // q50's DISTRIBUTED fallback, forced: unionFindMaxEdges = 0 pushes
    // duplicateClusters past the driver union-find cap onto the
    // pointer-jumping (label-propagation) path — the route a 100-TB pair
    // graph takes. Same oracle as q50: the two paths must agree exactly,
    // and this entry records the distributed path's wall-clock in every
    // bench and the sf1 ratio gate instead of leaving it spec-only.
    "q50b_dup_clusters_distributed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashCandidatePairsPortable(docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.5)
      val clusters = Dedup.duplicateClusters(pairs, unionFindMaxEdges = 0L)
      docs.select(col("doc_id"))
        .join(clusters, docs("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // Batch sessionization: per-user event-time sessions with a 30-min
    // gap (lag + running-sum window, one shuffle), then per-session
    // rollup. Batch complement of the streaming sessionize operator.
    // withUtcEventTime: sessionize casts the lake's NTZ ts internally —
    // under a DST-transitioning session TZ the gap math would shift
    // (SessionTzSpec pins the policy; America/Sao_Paulo is fixed-offset
    // since 2019 but the pin must not depend on that)
    "q49_sessionize" -> ((s, dir) => withUtcEventTime(s) {
      Relational.sessionize(t(s, dir, "events"), Seq("user_id"), col("ts"),
          Seq(col("ts"), col("event_id")), gapSeconds = 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).cast("string").as("session_start"),
          max(col("ts")).cast("string").as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // dbt-analog model-DAG runner: staging → intermediate → mart, executed
    // through ModelRunner.run (topo order, mart materialized as a written
    // parquet table and read BACK from disk — the result must survive the
    // materialization round-trip, not just the in-memory plan).
    "q51_model_dag" -> ((s, dir) => {
      Lake.registerAll(s, dir)
      val mart = java.nio.file.Files.createTempDirectory("graft-mart")
        .toString + "/mart_nation_rev"
      val runner = new graft.flows.ModelRunner(Seq(
        graft.flows.Model("stg_fin_orders",
          "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
          tests = Seq(graft.flows.ModelTest("positive_price",
            "SELECT * FROM stg_fin_orders WHERE o_totalprice <= 0"))),
        graft.flows.Model("int_cust_rev",
          "SELECT c.c_nationkey, o.o_totalprice FROM stg_fin_orders o " +
            "JOIN customer c ON c.c_custkey = o.o_custkey"),
        graft.flows.Model("mart_nation_rev",
          "SELECT n.n_name AS nation, count(*) AS n_orders, " +
            "round(CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue " +
            "FROM int_cust_rev i JOIN nation n ON n.n_nationkey = i.c_nationkey " +
            "GROUP BY n.n_name",
          materialization = graft.flows.Materialization.Table(mart))))
      runner.build(s, select = "+mart_nation_rev")
      s.sql("SELECT nation, n_orders, revenue FROM mart_nation_rev ORDER BY nation")
    }),

    // F11 HTML block parse: deterministic HTML fabricated from (doc_id,
    // text), then table-flagging → block split → tag strip → entity/NBSP
    // cleanup → whitespace squeeze → irrelevant-block filter, all as
    // codegen'd column expressions. The '...'-only and blank-only
    // paragraphs exercise the irrelevant/empty filters.
    "q52_html_blocks" -> ((s, dir) => {
      import graft.functions.HtmlFunctions
      val docs = t(s, dir, "documents")
      val html = concat(
        lit("<html><body> <h1>Doc&nbsp;"), col("doc_id").cast("string"),
        lit("</h1><table><tr><td>a</td><td>b</td></tr></table>" +
          "<p align=\"center\">SECTION "), col("doc_id").cast("string"),
        lit("</p>\n<p> "), substring(col("text"), 1, 60),
        lit("  &amp; tail </p><br><div>fim</div><p>...</p><p> \r\n </p></body></html>"))
      docs.select(col("doc_id"), HtmlFunctions.htmlBlocks(html).as("blocks"))
        .select(col("doc_id"),
          size(col("blocks")).cast("bigint").as("n_blocks"),
          element_at(col("blocks"), 1).as("first_block"),
          array_join(col("blocks"), "\n").as("full_text"))
        .orderBy(col("doc_id"))
    }),

    // Custom whole-operator path: top-2 lineitems per order by price via the
    // engine's TopKPerKeyPlan/Strategy/Exec (bounded per-partition heaps →
    // survivors-only shuffle; no full sort, no window). Total order via the
    // (price DESC, linenumber ASC) tiebreak.
    "q45_topk_per_key" -> ((s, dir) => {
      graft.plans.TopKPerKey(t(s, dir, "lineitem"),
        Seq(col("l_orderkey")),
        Seq(col("l_extendedprice").desc, col("l_linenumber").asc), 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        // l_linenumber is NOT unique within an order in this corpus — the
        // price column makes the output order total (oracle-compare is
        // positional)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // KMV distinct-count sketch (custom TypedImperativeAggregate): bounded
    // O(k) state per group regardless of input size — shuffle is
    // O(groups × k), not O(distinct values) like exact COUNT DISTINCT.
    // The portable md5-derived hash makes the ESTIMATE itself replayable
    // bit-for-bit in DuckDB; exact count alongside for reference.
    "q53_kmv_distinct" -> ((s, dir) => {
      import graft.functions.SketchFunctions
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          SketchFunctions.kmvDistinct(col("l_partkey"), 128).as("est_partkeys"),
          countDistinct(col("l_partkey")).as("n_exact"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Keyword extraction: tf × odds-idf over the portable alpha tokenizer,
    // top-3 terms per document. The idf surrogate is BM25's idf ARGUMENT
    // with the ln omitted — (n_docs - df + 0.5) / (df + 0.5), same
    // monotone rare-term weighting — because ln is NOT correctly rounded
    // under IEEE 754 (a 1-ulp libm difference between JVM and DuckDB could
    // flip a rounded score), while integer arithmetic and one double
    // division ARE exactly specified, so the score is bit-identical in any
    // engine. score = tf·(2(n_docs-df)+1) / (2df+1): exact integer
    // numerator (< 2^53), one correctly-rounded division. Document
    // frequency is a WINDOW COUNT over the token partitioning (tf is one
    // row per (doc, token), so rows-per-token = df) — no separate df
    // aggregation, no join back; plus one broadcast single-row corpus
    // count. No driver-side action.
    "q54_tfidf_keywords" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("token"))))
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          (col("tf") * (lit(2L) * (col("n_docs") - col("df")) + lit(1L))).cast("double")
            / (lit(2L) * col("df") + lit(1L)).cast("double"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token").asc)
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("token"))
    }),

    // SCD2 history: collapse each user's event-type observations into
    // validity intervals (one row per consecutive run of identical state).
    // Single shuffle — every window shares the user_id partitioning.
    "q55_scd2" -> ((s, dir) => {
      Relational.scd2(t(s, dir, "events"),
        keys = Seq("user_id"), ts = col("ts"),
        order = Seq(col("ts"), col("event_id")),
        tracked = Seq("event_type"))
        .orderBy(col("user_id"), col("version"))
    }),

    // Single-pass profiler: per-column nulls / KMV distinct estimate /
    // min/max in ONE scan + one single-row agg (no per-column jobs).
    "q56_profile" -> ((s, dir) => {
      graft.operators.Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"), 256)
        .orderBy(col("col_name"))
    }),

    // Exact grouped percentiles via order statistics — the "disc"
    // definition SELECTS an input value (no interpolation), so doubles
    // pass through bit-identical and the rank math is the same IEEE
    // ceil(p*n) in both engines.
    "q57_percentiles" -> ((s, dir) => {
      Relational.exactPercentiles(t(s, dir, "events"),
        Seq("event_type"), col("value"), Seq(0.5, 0.95, 0.99))
        .orderBy(col("event_type"))
    }),

    // Document → training-sample chunking: 64-token windows, 16-token
    // overlap, short tail kept. One row per (doc, chunk).
    "q58_token_chunks" -> ((s, dir) => {
      // repartition before the chunk kernel: the compact documents file
      // arrives as ONE scan split, and tokenize+chunk+explode is the
      // heavy per-row work here — without redistribution the whole
      // query ran on a single core (same §2.5 shape and fix as
      // mediaIds; the sf1 gate caught it at 12.6× wall on 10× rows,
      // linear single-core growth). Scale-adaptive, 0 result impact
      // (total-order sort below).
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(TextFunctions.chunkByTokens(col("text"), 64, 16)).as("c"))
        .select(col("doc_id"), col("c.start").as("start"),
          col("c.n_tokens").as("n_tokens"), col("c.chunk").as("chunk"))
        .orderBy(col("doc_id"), col("start"))
    }),

    // Sequence packing: per-language shards, docs in doc_id order packed
    // into 2048-token context bins by exclusive running count (offset
    // packing — pure integer math, replayable anywhere).
    "q59_seq_packing" -> ((s, dir) => {
      Relational.packSequences(t(s, dir, "documents"),
        shardKeys = Seq("lang"), order = Seq(col("doc_id")),
        tokens = TextFunctions.tokenCount(col("text")), capacity = 2048L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("bin_id"), col("offset_in_bin"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Deterministic split assignment: md5-bucket → train/val/test, same
    // key → same split across tables/runs/engines. Pure column expr.
    "q60_split_assign" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          Relational.splitAssign(col("doc_id"), 90, 5).as("split"))
        .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("split"))
    }),

    // Deterministic fixed-N sample: smallest-hash keys via
    // TakeOrderedAndProject (bounded heaps, no global sort).
    "q61_eval_sample" -> ((s, dir) => {
      Relational.deterministicSample(t(s, dir, "documents"), col("doc_id"), 200)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Two-pass heavy hitters: MG sketch (bounded state, O(k) shuffle) →
    // candidate superset → exact recount of candidates only → strict
    // threshold filter. The MG superset guarantee makes the FINAL answer
    // exactly the set of tokens with count > n/(k+1), independent of the
    // sketch's order-dependent internals — so the query is oracle-exact
    // even though the sketch isn't, and the oracle doubles as a standing
    // check on the guarantee itself.
    "q62_heavy_hitters" -> ((s, dir) => {
      import graft.functions.SketchFunctions
      val k = 200
      val toks = t(s, dir, "documents")
        .select(explode(expr(
          "regexp_extract_all(lower(text), '[a-z]+', 0)")).as("token"))
      val cands = toks
        .agg(SketchFunctions.heavyHitters(col("token"), k).as("hh"))
        .selectExpr("explode(hh) AS e").select(col("e.item").as("token"))
      val n = toks.agg(count(lit(1)).as("n"))
      toks.join(broadcast(cands), "token")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(n))
        .filter(col("cnt").cast("double") >
          col("n").cast("double") / lit(k + 1).cast("double"))
        .select(col("token"), col("cnt"))
        .orderBy(col("token"))
    }),

    // Skew-salted join, oracle-backed end-to-end: the salt is an internal
    // mechanism (left rows salted by row hash, right side replicated
    // saltFactor ways, equi-join on keys + salt), so the RESULT is exactly
    // the plain equi-join — which is precisely what the DuckDB oracle
    // computes. Row identity of the salted plan vs the plain join IS the
    // correctness contract for the skew strategy.
    "q63_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_extendedprice"))
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Relational.saltedJoin(li, p, Seq("l_partkey"), saltFactor = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("p_brand"))
    }),

    // Bucketed co-located join, oracle-backed end-to-end: both sides are
    // written with writeBucketed (same bucket count, same key), then
    // joined — Spark's bucketed-scan join plans NO exchange on either side
    // (pinned by ScaleStrategySpec); the oracle replays the same join from
    // the raw parquet, proving the bucketed layout changes the plan, not
    // the answer.
    "q64_bucketed_join" -> ((s, dir) => {
      import graft.sources.LakeWriter
      LakeWriter.dropManagedTable(s, "graft_q64_orders")
      LakeWriter.dropManagedTable(s, "graft_q64_customer")
      LakeWriter.writeBucketed(
        t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice")),
        "graft_q64_orders", Seq("o_custkey"), numBuckets = 8)
      LakeWriter.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "graft_q64_customer", Seq("c_custkey"), numBuckets = 8)
      val o = s.table("graft_q64_orders")
      val c = s.table("graft_q64_customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sumDec(col("o_totalprice")).as("tot_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // Partition-pruned lake read — the reference's single most common read
    // pattern (a report filtering one month of a Hive-partitioned lake
    // table): land orders under ano/mes/data_particao dirs, read back with
    // a filter on the partition columns. The filter resolves at PLANNING
    // time against the directory listing (PartitionFilters, pinned by
    // PlanShapeSpec) — at 100 TB the scan touches one month's files and
    // nothing else. MONTH-grain stamps: this corpus spans ~7 years, and
    // day-grain would mean ~2,400 directories of KB-sized files — the
    // small-files anti-pattern the partition grain must be sized against
    // (day-grain is right when a day is GBs, not rows). Oracle replays the
    // same month from the raw table.
    "q65_partition_pruned" -> ((s, dir) => {
      import graft.sources.LakeWriter
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q65_lake"
      LakeWriter.overwriteAll(
        LakeWriter.withMonthPartitions(
          t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
          col("o_orderdate")),
        path)
      s.read.parquet(path)
        .filter(col("ano_particao") === 1995 && col("mes_particao") === 3)
        .groupBy(to_date(col("o_orderdate")).cast("string").as("order_date"))
        .agg(count(lit(1)).as("n_orders"),
          sumDec(col("o_totalprice")).as("tot_price"))
        .orderBy(col("order_date"))
    }),

    // Bloom-pruned join: filter the fact side through a bloom filter built
    // over a selective dim side BEFORE the join shuffles. False positives
    // are dropped by the real join, so the result is exactly the plain
    // join (= the oracle); only the never-matching bulk is shed early —
    // at 100 TB that's most of the scan never reaching the exchange.
    "q66_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"))
      val sup = t(s, dir, "supplier").filter(col("s_nationkey") === 3)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      Relational.bloomPrunedJoin(li, sup, Seq("l_suppkey"),
          expectedItems = 10000L)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_suppkey"))
    }),

    // Stratified fixed-N sample: 10 docs per source by smallest portable
    // md5 hash — TopKPerKey bounded heaps, survivors-only shuffle, no
    // per-group sort. Deterministic across runs/engines.
    "q67_group_sample" -> ((s, dir) => {
      Relational.sampleFixedNPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("source"), col("doc_id"), 10)
        .orderBy(col("source"), col("doc_id"))
    }),

    // CDC apply / MERGE: roll the events changelog (event_type = new
    // status; 'error' = tombstone) into the customer snapshot — latest
    // change per key wins, deletes drop the row, untouched keys keep
    // their base row.
    "q68_cdc_apply" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("status"))
      val changes = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("status"),
          col("ts"), col("event_id"))
      Relational.applyCdc(base, changes, Seq("user_id"),
          order = Seq(col("ts"), col("event_id")),
          op = when(col("status") === "error", "delete").otherwise("upsert"),
          payload = Seq("status"))
        .orderBy(col("user_id"))
    }),

    // STREAMING/batch parity (T3/W analogs, SURVEY §2.9): the streaming
    // sessionize (flatMapGroupsWithState + event-time timeout) over the
    // same events the batch q49 sessionizes — the oracle replays the
    // session structure in SQL, so the stateful streaming path is held to
    // the same hash-match bar as every batch operator. Fully distributed
    // feed: a file-source stream with maxFilesPerTrigger=1 reads one data
    // file then two LATER sentinel files (mod-time order), so the
    // watermark advances across micro-batches and every real session's
    // event-time timeout fires before the AvailableNow stream ends — no
    // driver-side collect of the fixture.
    "q112_stream_sessionize" -> ((s, dir) => withUtcEventTime(s) {
      import s.implicits._
      val tmp = freshScratchDir("graft_q112")
      // events.ts is TIMESTAMP_NTZ in the lake; the watermark machinery
      // needs TIMESTAMP — withUtcEventTime pins the cast's interpretation
      // to UTC whatever the user session's timezone (SessionTzSpec).
      // ONE data file: all real events share a batch, so the 0-second
      // watermark delay can never drop a late-arriving real event.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("value"))
      ev.coalesce(1).write.parquet(s"$tmp/in")
      // max(ts) + row count from the just-written single file in ONE job —
      // no second source scan; the count feeds the engine's
      // state-partition policy (Incremental.statePartitions)
      val agg0 = s.read.parquet(s"$tmp/in")
        .agg(max(col("ts")), count(lit(1))).head()
      val maxTs = agg0.getTimestamp(0)
      val nRows = agg0.getLong(1)
      // FileStreamSource orders files by MODIFICATION TIME; a coarse-mtime
      // filesystem could tie the data file with a sentinel and process the
      // sentinel first, dropping every real event as late — so each write
      // gets an explicitly stamped, strictly increasing mtime
      stampFreshMtimes(s"$tmp/in", 1000000000000L) // data file's fixed epoch
      // two sentinel files with later mod times: the watermark advances
      // off the PREVIOUS batch's max event time, so closing every real
      // session needs the second one
      for ((offsetMs, i) <- Seq(3600000L, 7200000L).zipWithIndex) {
        Seq((-1L, new java.sql.Timestamp(maxTs.getTime + offsetMs), 0.0))
          .toDF("user_id", "ts", "value")
          .coalesce(1).write.mode("append").parquet(s"$tmp/in")
        stampFreshMtimes(s"$tmp/in", 1000000000000L + (i + 1) * 60000L)
      }
      // FIXED sink name, prior run's table dropped: a per-run UUID name
      // would leak one memory-sink result set per bench iteration
      val name = "q112_sessions"
      s.catalog.dropTempView(name)
      // parallelism from the ENGINE policy: the plan keeps state
      // (flatMapGroupsWithState), so withStreamPolicy sizes state stores
      // to the observed stream volume — not a per-query hand-picked number
      val events = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
        .withWatermark("ts", "0 seconds")
        .as[graft.streaming.Incremental.SessionEvent]
      val sessions = graft.streaming.Incremental.sessionize(events, gapMs = 1800000L)
      graft.streaming.Incremental.withStreamPolicy(sessions, nRows) {
        val q = sessions
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      s.table(name).filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start_ms"),
          col("session_end_ms"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy(col("user_id"), col("session_start_ms"))
    }),

    // STREAMING/batch parity: watermarked stream-stream interval join
    // (purchases within 1h after each click, same user) in AvailableNow
    // mode over file-source streams — the oracle is the plain SQL
    // time-bounded join, so the stateful join must match it row-for-row.
    "q113_stream_interval_join" -> ((s, dir) => withUtcEventTime(s) {
      val tmp = freshScratchDir("graft_q113")
      val ev = t(s, dir, "events")
      // ts cast NTZ→TIMESTAMP (interpretation pinned to UTC by
      // withUtcEventTime): the watermark machinery rejects TIMESTAMP_NTZ
      // event-time columns
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp").as("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").cast("timestamp").as("pts"))
      clicks.write.parquet(s"$tmp/clicks")
      purchases.write.parquet(s"$tmp/purchases")
      // footer-only count of the bigger landed side feeds the engine's
      // state-partition policy — no data scan
      val nRows = math.max(s.read.parquet(s"$tmp/clicks").count(),
        s.read.parquet(s"$tmp/purchases").count())
      val name = "q113_joined"
      s.catalog.dropTempView(name)
      val cs = s.readStream.schema(clicks.schema).parquet(s"$tmp/clicks")
      val ps = s.readStream.schema(purchases.schema).parquet(s"$tmp/purchases")
      val joined = graft.streaming.Incremental.intervalJoin(cs, ps, "user_id",
          leftTs = "ts", rightTs = "pts", lateness = "1 hour",
          lowerBound = "0 seconds", upperBound = "1 hour")
        .select(col("user_id"), col("event_id"), col("purchase_id"))
      // stream-stream join keeps state → the policy sizes its stores
      graft.streaming.Incremental.withStreamPolicy(joined, nRows) {
        val q = joined
          .writeStream.format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }
      s.table(name)
        .orderBy(col("user_id"), col("event_id"), col("purchase_id"))
    }),


    // STREAMING/batch parity: cdcToSnapshot (foreachBatch CDC merge with
    // the crash-safe snapshot swap) folding the events changelog into the
    // customer snapshot — same fixtures and same oracle as the batch q68,
    // so stream-MERGE ≡ batch-MERGE is driver-checked.
    "q114_stream_cdc" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q114")
      val snapshotPath = s"$tmp/snap"
      t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("status"))
        .write.parquet(snapshotPath)
      val changes = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("status"),
          col("ts"), col("event_id"))
      changes.write.parquet(s"$tmp/changes")
      // withStreamPolicy DETECTS this plan as stateless (pure relay into a
      // foreachBatch merge — no state stores) and rides session
      // parallelism; the approxRows job is by-name and never runs
      val stream = s.readStream.schema(changes.schema)
        .parquet(s"$tmp/changes")
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/changes").count()) {
        val q = graft.streaming.Incremental.cdcToSnapshot(stream,
            keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
            op = when(col("status") === "error", "delete").otherwise("upsert"),
            payload = Seq("status"), snapshotPath = snapshotPath,
            checkpoint = s"$tmp/ckpt")
          .start()
        try q.awaitTermination() finally q.stop()
      }
      s.read.parquet(snapshotPath).orderBy(col("user_id"))
    }),

    // STREAMING exactly-once THROUGH FAILURE: the same CDC merge as q114,
    // but the stream is KILLED mid-run (stop() as soon as the first
    // micro-batch commits, with three more batches still pending) and then
    // resumed from the checkpoint — the final snapshot must STILL
    // hash-match the batch oracle. The changelog is split into four
    // TIME-ORDERED chunk files (mtime-sequenced, maxFilesPerTrigger=1), so
    // sequential per-batch latest-wins composes to the global latest-wins
    // whatever batch boundary the kill lands on; the foreachBatch merge is
    // idempotent per batch, so a batch replayed across the kill (applied
    // but not yet checkpoint-committed) re-lands the same snapshot.
    "q115_stream_cdc_resume" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tmp = freshScratchDir("graft_q115")
      val snapshotPath = s"$tmp/snap"
      t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("status"))
        .write.parquet(snapshotPath)
      val changes = t(s, dir, "events")
        .select(col("user_id"), col("event_type").as("status"),
          col("ts"), col("event_id"))
      // four time-ordered chunks — ntile over the global change order is
      // fixture prep, not engine path; PERSISTED so the single-task sort
      // runs once, not once per chunk write
      val chunked = changes.withColumn("chunk",
        ntile(4).over(Window.orderBy(col("ts"), col("event_id"))))
        .localCheckpoint() // eager: the 4 concurrent chunk writers below
                           // must not race the single-task sort
      try writeArrivalChunks(s"$tmp/changes",
        (1 to 4).map(c => chunked.filter(col("chunk") === c).drop("chunk")),
        baseEpochMs = 1000000000000L + 60000L)(())
      finally chunked.unpersist()
      val changeStream = s.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/changes")
      def merge() = graft.streaming.Incremental.cdcToSnapshot(changeStream,
        keys = Seq("user_id"), order = Seq(col("ts"), col("event_id")),
        op = when(col("status") === "error", "delete").otherwise("upsert"),
        payload = Seq("status"), snapshotPath = snapshotPath,
        checkpoint = s"$tmp/ckpt")
      // the policy detects the stateless relay and keeps session
      // parallelism for both lifecycles (same detection as q114)
      graft.streaming.Incremental.withStreamPolicy(changeStream,
        s.read.parquet(s"$tmp/changes").count()) {
        // kill after the first batch lands, resume from the same
        // checkpoint, drain (the shared crash window — runKillResume)
        runKillResume(() => merge())
      }
      s.read.parquet(snapshotPath).orderBy(col("user_id"))
    }),

    // STREAMING near-dup dedup (beyond-reference §2.9): the q81 arrival
    // path as a LIVE stream — documents arrive in three mtime-ordered
    // chunk files (chunk = doc_id % 3, one micro-batch each via
    // maxFilesPerTrigger=1), every batch LSH-joins against the stored
    // index only, and survivors + the batch's index rows commit as ONE
    // atomic VersionedLake group version per batch (exactly-once; the
    // applied-marker makes replays idempotent). Drop rule = keep-lowest-
    // id among ARRIVED docs; the oracle replays it from the full pair
    // set with batch(a) <= batch(b) as the arrival predicate.
    "q116_stream_dedup" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q116")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      writeArrivalChunks(s"$tmp/in",
        (0 until 3).map(c => docs.filter(col("doc_id") % 3 === c)))(())
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/in").count()) {
        val q = graft.flows.StreamingDedup.writer(stream, "doc_id", "text",
          s"$tmp/state", s"$tmp/ckpt", jaccardThreshold = 0.5).start()
        try q.awaitTermination() finally q.stop()
      }
      graft.flows.StreamingDedup.survivors(s, s"$tmp/state")
        .orderBy(col("doc_id"))
    }),

    // q116 THROUGH FAILURE: the stream is killed as soon as the first
    // micro-batch commits (two chunks still pending) and resumed from
    // the checkpoint — the survivor table must STILL hash-match the same
    // oracle. The group-committed applied-marker is what makes a batch
    // replayed across the kill idempotent (committed-but-not-
    // checkpointed => short-circuit, nothing double-appends).
    "q116b_stream_dedup_resume" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q116b")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      writeArrivalChunks(s"$tmp/in",
        (0 until 3).map(c => docs.filter(col("doc_id") % 3 === c)))(())
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      def dedup() = graft.flows.StreamingDedup.writer(stream, "doc_id",
        "text", s"$tmp/state", s"$tmp/ckpt", jaccardThreshold = 0.5)
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/in").count()) {
        runKillResume(() => dedup())
      }
      graft.flows.StreamingDedup.survivors(s, s"$tmp/state")
        .orderBy(col("doc_id"))
    }),

    // q116 THROUGH RETENTION + FAILURE: retainEvery=1 runs the
    // INCREMENTAL size-tiered compaction + horizon vacuum after EVERY
    // applied batch (worst cadence — a deployment compacts every Nth),
    // the stream is killed after the first batch's commit+compaction,
    // and the resume must land the SAME oracle: tiered state is
    // row-identical, the CARRIED applied-marker still short-circuits the
    // replay, and later batches dedup correctly against compacted-and-
    // vacuumed history. retainTargetBytes is pinned at 1 MiB so the
    // fixture's state spans multiple target files and the bench measures
    // the incremental path (carried tier + small tail) instead of
    // degenerate single-file rewrites — per-cadence I/O is then O(new
    // data since the last pass), the contract the sf1 per-row gate
    // watches.
    "q116c_stream_dedup_retention" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q116c")
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      writeArrivalChunks(s"$tmp/in",
        (0 until 3).map(c => docs.filter(col("doc_id") % 3 === c)))(())
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      def dedup() = graft.flows.StreamingDedup.writer(stream, "doc_id",
        "text", s"$tmp/state", s"$tmp/ckpt", jaccardThreshold = 0.5,
        retainEvery = 1, retainTargetBytes = 1L * 1024 * 1024)
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/in").count()) {
        runKillResume(() => dedup())
      }
      graft.flows.StreamingDedup.survivors(s, s"$tmp/state")
        .orderBy(col("doc_id"))
    }),

    // STREAMING SEMANTIC dedup (beyond-reference §2.9): the q111 arrival
    // path as a LIVE stream — the semantic twin of q116, completing the
    // batch/incremental/streaming × (lexical, semantic) grid. Setup fits
    // the centroid model on the corpus (vec_id % 5 <> 0) and commits
    // model + assignments as group v1; embeddings then arrive in three
    // mtime-ordered chunks (chunk = vec_id % 3, one micro-batch each),
    // every batch assigns map-only against the STORED centroids, drops
    // against co-clustered stored neighbors (corpus + all earlier
    // arrivals — arrival order outranks id order across batches, id
    // order breaks same-batch ties), and survivors + the batch's
    // assignment rows + the replay marker commit as ONE atomic group
    // version with the centroids CARRIED forward (no model rewrite).
    // maxClusterSize pinned unbounded for oracle exactness (the q106
    // note); the bounded default is the engine-side contract.
    "q117_stream_semdedup" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q117")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val arriving = emb.filter(col("vec_id") % 5 === 0)
      // the model-fit setup is independent of the arrival-chunk landing —
      // it runs on this thread while the chunk writers stage (guide 2.6)
      writeArrivalChunks(s"$tmp/in",
        (0 until 3).map(c => arriving.filter(col("vec_id") % 3 === c))) {
        graft.flows.StreamingSemDeDup.setup(
          emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          s"$tmp/state", k = 4, iters = 3)
      }
      val stream = s.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/in").count()) {
        val q = graft.flows.StreamingSemDeDup.writer(stream, "vec_id",
          "embedding", s"$tmp/state", s"$tmp/ckpt", tau = 0.45,
          maxClusterSize = Int.MaxValue).start()
        try q.awaitTermination() finally q.stop()
      }
      graft.flows.StreamingSemDeDup.survivors(s, s"$tmp/state")
        .orderBy(col("vec_id"))
    }),

    // q117 THROUGH FAILURE: killed as soon as the first micro-batch
    // commits, resumed from the checkpoint — the survivor table must
    // STILL hash-match the same oracle. The carried-centroids group
    // commit plus the applied-marker short-circuit is what makes the
    // replay idempotent (a replay past the marker would find its own
    // assignment rows and drop the whole batch against itself).
    "q117b_stream_semdedup_resume" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q117b")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val arriving = emb.filter(col("vec_id") % 5 === 0)
      // the model-fit setup is independent of the arrival-chunk landing —
      // it runs on this thread while the chunk writers stage (guide 2.6)
      writeArrivalChunks(s"$tmp/in",
        (0 until 3).map(c => arriving.filter(col("vec_id") % 3 === c))) {
        graft.flows.StreamingSemDeDup.setup(
          emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          s"$tmp/state", k = 4, iters = 3)
      }
      val stream = s.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      def dedup() = graft.flows.StreamingSemDeDup.writer(stream, "vec_id",
        "embedding", s"$tmp/state", s"$tmp/ckpt", tau = 0.45,
        maxClusterSize = Int.MaxValue)
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/in").count()) {
        runKillResume(() => dedup())
      }
      graft.flows.StreamingSemDeDup.survivors(s, s"$tmp/state")
        .orderBy(col("vec_id"))
    }),

    // q117 THROUGH RETENTION + FAILURE: the semantic twin of q116c —
    // retainEvery=1 incrementally compacts assignments/survivors
    // (keeping the cid-partitioned layout; carried tier + small tail,
    // 1 MiB target for the same bench-scale reason as q116c), CARRIES
    // centroids + applied, and vacuums past the horizon after every
    // applied batch; killed after the first batch, resumed, same
    // oracle. Proves the fitted model survives carry-through-compaction
    // bit-identically.
    "q117c_stream_semdedup_retention" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q117c")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val arriving = emb.filter(col("vec_id") % 5 === 0)
      // the model-fit setup is independent of the arrival-chunk landing —
      // it runs on this thread while the chunk writers stage (guide 2.6)
      writeArrivalChunks(s"$tmp/in",
        (0 until 3).map(c => arriving.filter(col("vec_id") % 3 === c))) {
        graft.flows.StreamingSemDeDup.setup(
          emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          s"$tmp/state", k = 4, iters = 3)
      }
      val stream = s.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      def dedup() = graft.flows.StreamingSemDeDup.writer(stream, "vec_id",
        "embedding", s"$tmp/state", s"$tmp/ckpt", tau = 0.45,
        maxClusterSize = Int.MaxValue, retainEvery = 1,
        retainTargetBytes = 1L * 1024 * 1024)
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/in").count()) {
        runKillResume(() => dedup())
      }
      graft.flows.StreamingSemDeDup.survivors(s, s"$tmp/state")
        .orderBy(col("vec_id"))
    }),

    // Gopher-style repetition signal: fraction of word 2-/3-grams that
    // repeat within the document. Pure per-row array math (slice+zip, no
    // explode, no shuffle); integer counts + one IEEE division replay
    // bit-for-bit in any engine.
    "q69_dup_ngrams" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.dupNgramRatio(col("text"), 2).as("dup_2gram_ratio"),
          TextFunctions.dupNgramRatio(col("text"), 3).as("dup_3gram_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Fixed-width histogram over event values: one map-side-combinable
    // aggregation, O(bins) shuffle; bucket math is sub/div/floor — all
    // correctly rounded, so engines agree on every bin.
    "q70_histogram" -> ((s, dir) => {
      Relational.histogram(t(s, dir, "events"), col("value"), 0.0, 500.0, 25)
        .orderBy(col("bin"))
    }),

    // Training-batch assembly: pack documents into 2048-token bins (q59's
    // offset packing), then materialize each bin's text — docs in doc_id
    // order via array_sort over collected (doc_id, text) structs, since
    // collect_list order is partition-dependent. The chunk→pack→assemble
    // tail of the corpus pipeline.
    "q71_bin_assembly" -> ((s, dir) => {
      val packed = Relational.packSequences(t(s, dir, "documents"),
        shardKeys = Seq("lang"), order = Seq(col("doc_id")),
        tokens = TextFunctions.tokenCount(col("text")), capacity = 2048L)
      packed.groupBy(col("lang"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          concat_ws("\n",
            transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
              e => e("text"))).as("bin_text"))
        .orderBy(col("lang"), col("bin_id"))
    }),

    // PIVOT: per-user event-type counts as columns (explicit value list =
    // one pass, no distinct-values pre-scan; missing combos coalesced to 0
    // to match SQL conditional counts).
    "q72_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("user_id") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
        .orderBy(col("user_id"))
    }),

    // Z-score standardization per group — feature scaling for training
    // data. Moments from exact decimal sums (order-independent), then
    // mean/var/std/z via correctly-rounded double ops only (÷, ×, −,
    // sqrt), so every engine reproduces each z bit-for-bit.
    "q73_zscore" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
      val dec = col("value").cast("decimal(18,2)")
      val n = count(lit(1)).over(w).cast("double")
      val mean = (sum(dec).over(w).cast("double")) / n
      val sumsq = sum(dec * dec).over(w).cast("double")
      val std = sqrt(sumsq / n - mean * mean)
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("value") - mean) / std).as("z"))
        .orderBy(col("event_id"))
    }),

    // Lag features per key — time-series deltas and a 3-row moving
    // average. The moving sum is decimal-backed (sliding-window float
    // sums re-associate differently per engine; decimal is exact), the
    // delta is one correctly-rounded subtraction.
    "q74_lag_features" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val w3 = w.rowsBetween(-2, Window.currentRow)
      val dec = col("value").cast("decimal(18,2)")
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"),
          (sum(dec).over(w3).cast("double") / count(lit(1)).over(w3)).as("mov3"))
        .orderBy(col("event_id"))
    }),

    // Test-set decontamination: drop every training doc that shares ANY
    // word 5-gram with the (deterministic) eval sample — the benchmark-
    // leakage guard every pretraining pipeline needs. Grams shuffle as
    // xxhash64 longs, eval side dedupes then broadcasts, verdict is one
    // anti join — O(grams) shuffle, never pairwise.
    "q75_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val evalSet = Relational.deterministicSample(docs, col("doc_id"), 20)
      Dedup.decontaminate(docs, evalSet, "doc_id", "text", 5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Winsorization: clip values to the exact per-group [p5, p95] — the
    // outlier-capping step before scaling/training. Thresholds come from
    // exactPercentiles (order statistics SELECT input doubles, bit-exact
    // cross-engine); the tiny threshold table broadcasts.
    "q76_winsorize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val pct = Relational.exactPercentiles(ev, Seq("event_type"),
        col("value"), Seq(0.05, 0.95))
      ev.join(broadcast(pct.select(col("event_type"), col("p5"), col("p95"))),
          "event_type")
        .select(col("event_id"), col("event_type"), col("value"),
          least(greatest(col("value"), col("p5")), col("p95")).as("clipped"))
        .orderBy(col("event_id"))
    }),

    // Session funnel: per-user conversion (a view followed by a purchase
    // inside one session). TWO logical groupings, ONE exchange — the
    // session window partitions by user_id, and both downstream groupBys
    // cluster on user_id-prefixed keys, so Spark reuses the partitioning.
    "q77_funnel" -> ((s, dir) => {
      val sess = Relational.sessionize(t(s, dir, "events"), Seq("user_id"),
        col("ts"), Seq(col("ts"), col("event_id")), gapSeconds = 1800L)
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("first_view"),
          min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          count(col("first_view")).as("n_view_sessions"),
          sum(when(col("first_purchase").isNotNull && col("first_view").isNotNull
            && col("first_view") <= col("first_purchase"), 1L).otherwise(0L))
            .as("n_converted"))
        .orderBy(col("user_id"))
    }),

    // Retention cohorts: users bucketed by first-activity DAY (the corpus
    // spans one month), activity counted per (cohort day, day offset).
    // Integer epoch-day arithmetic — replayable anywhere.
    "q78_retention" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      val withCohort = ev.withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col("user_id"))))
      withCohort
        .select(col("user_id"), col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .distinct()
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // Grouped mode: most frequent event_type per user, deterministic
    // lexicographic tiebreak. ONE exchange: partitioning by user_id up
    // front satisfies BOTH the (user_id, event_type) groupBy (subset
    // rule: every group lives in one partition) and the ranking window's
    // user_id clustering — grouping first would partition on (user, type),
    // which does NOT colocate a user for the window, forcing a second
    // shuffle of the counts.
    "q79_mode" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = t(s, dir, "events")
        .repartition(col("user_id"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("cnt").desc, col("event_type").asc)
      counts.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type").as("top_type"), col("cnt"))
        .orderBy(col("user_id"))
    }),

    // Versioned-lake read: orders committed as v1 (even keys) + an
    // APPEND v2 (odd keys — a pure metadata union, no rewrite), then read
    // through the manifest protocol. The agg over the resolved snapshot
    // must equal the raw table — the read-path correctness of the commit
    // protocol, oracle-proven.
    "q80_versioned_read" -> ((s, dir) => {
      import graft.sources.VersionedLake
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_q80_vlake"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      VersionedLake.commit(orders.filter(col("o_orderkey") % 2 === 0), tbl)
      VersionedLake.commit(orders.filter(col("o_orderkey") % 2 === 1), tbl,
        mode = "append")
      VersionedLake.read(s, tbl)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("tot"))
        .orderBy(col("o_orderpriority"))
    }),

    // Incremental near-dup dedup, production shape: the 80% "historical"
    // slice's (id, hs) + (id, band, bucket) tables are STORED lake tables
    // (DedupIndex.ensure — built once per corpus, amortized across the
    // session like q93/q103/q104); the 20% "new batch" is shingled and
    // joined against stored-index ∪ itself — O(batch) work per arrival,
    // independent of corpus size, and the corpus text is never re-shingled.
    // Same bands ⇒ result ≡ the full run's pairs restricted to pairs
    // touching the new batch, which is exactly what the oracle computes.
    "q81_incremental_dedup" -> ((s, dir) => {
      val newDocs = t(s, dir, "documents").filter(col("doc_id") % 5 === 0)
      val idx = graft.flows.DedupIndex.ensure(s, dir, "documents",
        "doc_id", "text", subsetTag = "hist_mod5ne0",
        subset = _.filter(col("doc_id") % 5 =!= 0))
      Dedup.minHashIncrementalPairsPortable(
          idx.hashed, idx.banded, newDocs, "doc_id", "text")
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Corpus data card: per-language doc/token counts, mean quality, and
    // exact-duplicate incidence in one rollup — the summary table a
    // training-data release ships with. Quality is 1-dp by construction,
    // so its decimal sum is exact; dup counts come from one fp aggregation
    // joined back (fp shuffle, then lang rollup).
    "q82_data_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.fingerprint(col("text")).as("fp"))
      val dupCounts = docs.groupBy(col("fp")).agg(count(lit(1)).as("n_fp"))
      docs.join(dupCounts, "fp")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(sum(col("quality").cast("decimal(18,1)")).cast("double")
            / count(lit(1)), 6).as("mean_quality"),
          sum(when(col("n_fp") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
        .orderBy(col("lang"))
    }),

    // Length-quartile batch shaping: NTILE over a TOTAL order (tokens,
    // doc_id) per language — equal-size buckets with the remainder rule,
    // identical in any engine given the total order. The batching-by-
    // length step that keeps padding waste down in training.
    "q83_length_quartiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_tokens"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        .withColumn("quartile", ntile(4).over(w))
        .groupBy(col("lang"), col("quartile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy(col("lang"), col("quartile"))
    }),

    // Native set ops: customers with an open order MINUS customers with a
    // high-value order, and the INTERSECT of both — Spark's except/
    // intersect compile to left-anti/left-semi over distinct inputs, same
    // as the SQL set semantics DuckDB applies.
    "q84_set_ops" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val open = orders.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val high = orders.filter(col("o_totalprice") > 200000)
        .select(col("o_custkey"))
      val only = open.except(high).withColumn("set_kind", lit("open_only"))
      val both = open.intersect(high).withColumn("set_kind", lit("open_and_high"))
      only.unionByName(both)
        .orderBy(col("set_kind"), col("o_custkey"))
    }),

    // UNPIVOT (melt): q72's wide per-user counts folded back to long form —
    // the reshape that takes a spreadsheet-shaped source into a lake table.
    "q85_unpivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +:
          types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
      wide.unpivot(Array(col("user_id")),
          types.map(col).toArray, "event_type", "n")
        .filter(col("n") > 0)
        .orderBy(col("user_id"), col("event_type"))
    }),

    // GROUPING SETS in its general form (an arbitrary set list, not the
    // rollup/cube prefixes q05/q42 cover), through the SQL surface over
    // registered lake views — S14's read path. grouping_id disambiguates
    // the all-NULL rows.
    "q86_grouping_sets" -> ((s, dir) => {
      Lake.registerAll(s, dir)
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS INT) AS g_status,
          CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderpriority), ())
        ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority
      """)
    }),

    // Rank-based normalization: percent_rank and cume_dist per group —
    // both are exact rationals computed with one correctly-rounded
    // division from integer ranks, so engines agree bit-for-bit.
    "q87_rank_normalize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("event_id"))
    }),

    // Date-spine gap filling: a generated calendar left-joined against
    // sparse daily counts so quiet days report 0 instead of vanishing —
    // the reporting pattern behind every continuous time series. The
    // spine generates from the data's own bounds (one tiny agg, broadcast).
    "q88_date_spine" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val daily = ev.filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = ev
        .agg(to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      spine.join(daily, Seq("day"), "left_outer")
        .select(col("day").cast("string").as("day"),
          coalesce(col("n"), lit(0L)).as("n_purchases"))
        .orderBy(col("day"))
    }),

    // Cluster retention policy — near-dup pairs → connected components →
    // ONE survivor per cluster by (quality DESC, doc_id): the step that
    // turns dedup PAIRS into keep/drop DECISIONS. Survivor selection runs
    // through TopKPerKey (k=1, bounded heaps), so even a pathological
    // mega-cluster never sorts.
    "q89_cluster_retention" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // production shape: read the STORED index's scored pair table (built
      // once per corpus at ingest — DedupIndex.ensure builds on first
      // touch) instead of re-shingling the corpus. Same deterministic
      // pipeline, so the pairs are identical to the in-memory q50 path's;
      // the expensive text + candidate-join stages are paid once per
      // corpus, not once per query — retention is ONE slim scan + clusters.
      val index =
        graft.flows.DedupIndex.ensure(s, dir, "documents", "doc_id", "text")
      val pairs = index.pairs.filter(col("jaccard") >= 0.5)
      val clusters = Dedup.duplicateClusters(pairs)
      // quality is projected ON THE SCAN (codegen + CSE next to the parquet
      // reader) and the join carries the computed double — evaluating the
      // token-array expression above the join measured ~5× slower
      val docsQ = docs.select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val withCluster = docsQ
        .join(clusters, docsQ("doc_id") === clusters("id"), "left_outer")
        .select(docsQ("doc_id"), col("lang"),
          coalesce(col("cluster_id"), docsQ("doc_id")).as("cluster_id"),
          col("quality"))
      graft.plans.TopKPerKey(withCluster, Seq(col("cluster_id")),
          Seq(col("quality").desc, col("doc_id").asc), 1)
        .select(col("cluster_id"), col("doc_id"), col("quality"))
        .orderBy(col("cluster_id"))
    }),

    // Compaction data-identity: land events deliberately fragmented
    // (16 small files), compact to size-targeted files, and prove the
    // rewritten table aggregates identically to the raw source.
    "q90_compaction" -> ((s, dir) => {
      import graft.sources.LakeWriter
      import org.apache.hadoop.fs.Path
      val tmp = System.getProperty("java.io.tmpdir")
      val inPath = s"$tmp/graft_q90_in"
      val outPath = s"$tmp/graft_q90_out"
      val fs = new Path(tmp).getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new Path(inPath), true)
      fs.delete(new Path(outPath), true)
      t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"))
        .repartition(16).write.parquet(inPath)
      LakeWriter.compact(s, inPath, outPath, targetBytes = 64L * 1024 * 1024)
      s.read.parquet(outPath)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // Content-defined chunking: shared CDC blocks across documents —
    // boundaries move with the content (rolling-window hash mask), so
    // partially-overlapping docs share block hashes even when the overlap
    // sits at different offsets, the case fixed chunks and whole-doc
    // hashes both miss. One explode + one hash aggregate; block hashes are
    // 8-byte shuffle rows.
    "q91_cdc_blocks" -> ((s, dir) => {
      val blocks = t(s, dir, "documents")
        // projection boundary: bind the token array BEFORE the CDC
        // lambdas — HOFs re-evaluate referenced subtrees per element, and
        // an inline tokens(text) would re-run the regex split per block
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          explode(TextFunctions.cdcBlocksFromTokens(col("toks"), w = 4, maskBits = 4)).as("b"))
        .select(col("doc_id"), col("b.block_hash").as("block_hash"),
          col("b.n_tokens").as("n_tokens"))
      blocks.groupBy(col("block_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          max(col("n_tokens")).as("n_tokens"))
        .filter(col("n_docs") > 1)
        .orderBy(col("block_hash"))
    }),

    // LOCF forward-fill imputation, engine-portably: the running COUNT of
    // non-null observations partitions each key's timeline into groups
    // holding exactly one observation (its first row), so a per-group MAX
    // carries it forward — no IGNORE NULLS extension needed, identical in
    // any engine with window counts. Nulls are fabricated deterministically
    // (event_id % 7 = 0) since the corpus has none; leading nulls before
    // the first observation stay null, as LOCF defines.
    "q92_locf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val runW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("v"))
      ev.withColumn("__grp", count(col("v")).over(runW))
        .withColumn("v_filled",
          max(col("v")).over(Window.partitionBy(col("user_id"), col("__grp"))))
        .select(col("event_id"), col("user_id"), col("v"), col("v_filled"))
        .orderBy(col("event_id"))
    }),

    // Stored-index lifecycle, write side: force-build the MinHash signature
    // index into its own lake location (staging write + atomic rename,
    // banded derived from the STORED hashed table — one shingle pass), then
    // produce the near-dup pair list purely from the stored tables. Result
    // must be identical to the in-memory pipeline (q33's oracle replays
    // the full pipeline from raw text).
    "q93_stored_index_pairs" -> ((s, dir) => {
      val root = System.getProperty("java.io.tmpdir") + "/graft_q93_index"
      val docs = t(s, dir, "documents")
      graft.flows.DedupIndex.build(s, docs, "doc_id", "text",
        corpusPath = s"$dir/documents.parquet", root = root)
      val index = graft.flows.DedupIndex.ensure(
        s, dir, "documents", "doc_id", "text", root = root)
      index.pairs
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Schema evolution across lake commits: v1 lands orders WITHOUT the
    // status column; an append-mode v2 adds rows that carry it. The merged
    // read resolves the union schema with nulls for pre-drift files
    // (unionByName-with-missing-columns semantics at the scan), so the
    // status count only sees post-drift rows — the reference's permissive
    // drift tolerance (bq_to_subpav/utils.py:182-201) as one metadata-only
    // lake operation. The oracle replays the drift arithmetically: the
    // status column is non-null only where v2 wrote it (odd order keys).
    "q94_schema_evolution" -> ((s, dir) => {
      import graft.sources.VersionedLake
      val tbl = s"${System.getProperty("java.io.tmpdir")}/graft_q94_vlake"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val orders = t(s, dir, "orders")
      VersionedLake.commit(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
        tbl)
      VersionedLake.commit(
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
            col("o_orderstatus")),
        tbl, mode = "append")
      VersionedLake.read(s, tbl)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          count(col("o_orderstatus")).as("n_status"),
          sumDec(col("o_totalprice")).as("tot"))
        .orderBy(col("o_orderpriority"))
    }),

    // Salted join over DELIBERATELY skewed data (q63's l_partkey is
    // uniform; here ~90% of lineitem lands on one synthetic key — the
    // shape where a plain hash join puts the whole fact table in one
    // task). saltFactor 16 spreads the hot key over 16 tasks; the result
    // is row-identical to the plain join, which is exactly what the
    // oracle replays. ScaleStrategySpec pins the partition-balance
    // mechanism and the AQE skew-join alternative.
    "q95_skew_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(
          when(col("l_orderkey") % 100 < 90, 0L)
            .otherwise(col("l_orderkey") % 100).as("skew_key"),
          col("l_extendedprice"))
      val dim = s.range(100)
        .select(col("id").as("skew_key"), (col("id") % 5).as("grp"))
      graft.operators.Relational.saltedJoin(li, dim, Seq("skew_key"),
          saltFactor = 16)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_items"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("grp"))
    }),

    // Skew-SAMPLED salted join: same query as q95, but the salt plan comes
    // from the engine's one-aggregate Misra-Gries probe — only the hot key
    // (90% of rows land on skew_key 0) is salted, each cold key joins
    // un-replicated. Row-identical to the plain join (same oracle as q95).
    "q95b_adaptive_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(
          when(col("l_orderkey") % 100 < 90, 0L)
            .otherwise(col("l_orderkey") % 100).as("skew_key"),
          col("l_extendedprice"))
      val dim = s.range(100)
        .select(col("id").as("skew_key"), (col("id") % 5).as("grp"))
      graft.operators.Relational.adaptiveSaltedJoin(li, dim, Seq("skew_key"),
          targetRowsPerTask = 10000L)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_items"),
          sumDec(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("grp"))
    }),

    // Cross-document boilerplate: ratio of 6-token windows recurring in
    // ≥3 distinct documents (site templates, license blobs) — the ACROSS-
    // corpus complement of q69's within-doc repetition. Windows travel as
    // md5h60 longs, so the oracle replays doc frequencies and tallies
    // exactly.
    "q96_boilerplate" -> ((s, dir) => {
      Dedup.crossDocBoilerplate(t(s, dir, "documents"), "doc_id", "text",
          n = 6, minDocs = 3)
        .select(col("doc_id"), col("n_windows"), col("n_boiler"),
          round(col("boiler_ratio"), 6).as("boiler_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Mixture rebalance: down-sample three sources to a 50/30/20 mix —
    // the domain-weights step of corpus assembly. Rates derive from per-
    // source counts via one fixed expression shape and rows are picked by
    // portable md5 ppm-bucket, so the oracle recomputes the rates AND
    // replays the exact row picks.
    "q97_mixture_rebalance" -> ((s, dir) => {
      Relational.rebalanceMixture(t(s, dir, "documents"), "source",
          col("doc_id"),
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary coverage: per-document OOV rate against the corpus top-16
    // vocabulary (count desc, token asc — a total order, so the cut is
    // engine-independent). The vocab is bounded by construction and embeds
    // as a literal; the per-doc count is a codegen'd array filter on the
    // scan — the only shuffle is the vocabulary aggregate itself.
    "q98_vocab_oov" -> ((s, dir) => {
      Corpus.vocabOov(t(s, dir, "documents"), "doc_id", "text", vocabSize = 16)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("oov_rate"), 6).as("oov_rate"))
        .orderBy(col("doc_id"))
    }),

    // Per-source quality gate: drop the bottom 30% of each source by the
    // q31 quality score (cume_dist over a (score, id) total order — the
    // survivor set is deterministic and the oracle replays it). A global
    // cut would let a high-quality source's floor displace a low-quality
    // source's best; the per-group window is the corpus-assembly shape.
    "q99_quality_gate" -> ((s, dir) => {
      Corpus.qualityGate(t(s, dir, "documents"), "doc_id", "source",
          TextFunctions.qualityScore(col("text")), dropFrac = 0.3)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic quantized k-means over the embeddings: floor-quantized
    // vectors (exact power-of-two multiply), integer distances, lowest-id
    // init, floor(sum/count) centroid updates — every step engine-portable,
    // so the oracle replays all three iterations and the final assignment
    // hash-matches. See Cluster.scala for the scale shape (broadcast
    // centroids, one k-row aggregate per iteration).
    "q100_kmeans" -> ((s, dir) => {
      graft.operators.Cluster.kmeansQuantized(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, iters = 3)
        .select(col("vec_id"), col("cid"))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup: within-cluster semantic near-dup removal (cosine ≥ 0.45 to
    // a lower-id cluster-mate → dropped). The pairwise work is an equi-join
    // on the cluster id — Σ|cluster|² candidates, never corpus². The
    // UNBOUNDED classic scheme is the explicit opt-in here (mirroring q46):
    // the engine default is q101b's bounded occupancy.
    "q101_semdedup" -> ((s, dir) => {
      graft.operators.Cluster.semDeDup(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, iters = 3, tau = 0.45,
          maxClusterSize = Int.MaxValue)
        .select(col("vec_id"), col("cid"))
        .orderBy(col("vec_id"))
    }),

    // SemDeDup with BOUNDED cluster occupancy: clusters past
    // maxClusterSize re-bucket one level deeper via sign bits of exact
    // integer dot products against quantized seeded planes — the sf3
    // density gate's q101 watch-item answered in-engine (Σ|cluster|² pair
    // work capped), same scheme as q46b's LSH occupancy bound. The
    // oracle replays occupancy, planes, signs and the refined pair key.
    "q101b_semdedup_bounded" -> ((s, dir) => {
      graft.operators.Cluster.semDeDupBounded(t(s, dir, "embeddings"),
          "vec_id", "embedding", dims = 64, k = 4, iters = 3, tau = 0.45,
          maxClusterSize = 100, extraBits = 3)
        .select(col("vec_id"), col("cid"))
        .orderBy(col("vec_id"))
    }),

    // Semantic outlier pruning (SSL-prototypes): drop the 20% of each
    // k-means cluster farthest from its centroid. The distance is the
    // exact integer from the assignment step, so the per-cluster
    // cume_dist cut replays byte-for-byte.
    "q102_semantic_prune" -> ((s, dir) => {
      graft.operators.Cluster.semanticPrune(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, iters = 3, dropFrac = 0.2)
        .orderBy(col("vec_id"))
    }),

    // Leakage-safe split: the split key is the near-dup CLUSTER id, so a
    // document and its near-duplicates always land in the same split —
    // the per-doc q60 split would leak train text into eval through dups.
    // Pairs come from the STORED signature index (DedupIndex, built once
    // per corpus — q93 proves pairs-from-index ≡ the full pipeline), the
    // production shape: downstream policies read slim stored pair rows
    // instead of re-shingling the corpus.
    "q103_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.flows.DedupIndex
        .ensure(s, dir, "documents", "doc_id", "text").pairs
        .filter(col("jaccard") >= 0.5)
      Corpus.leakageSafeSplit(docs, "doc_id",
          Dedup.duplicateClusters(pairs), trainPct = 90, valPct = 5)
        .orderBy(col("doc_id"))
    }),

    // Cross-source duplication matrix: near-dup pair counts per unordered
    // source pair — the data-card cell that exposes mirrored scrapes
    // before mixture weights double-count them. Same stored-index read as
    // q103: one shingle pass per corpus, ever.
    "q104_dup_source_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.flows.DedupIndex
        .ensure(s, dir, "documents", "doc_id", "text").pairs
        .filter(col("jaccard") >= 0.5)
      Corpus.dupSourceMatrix(pairs, docs, "doc_id", "source")
        .orderBy(col("src_lo"), col("src_hi"))
    }),

    // Fit-once / assign-many: centroids land in the lake as a k-row table,
    // then the corpus is assigned with ONE stateless map-only scan (no
    // iterations, no shuffle) — the production shape for clustering a
    // 100 TB corpus or an incremental batch against a frozen model. The
    // stored roundtrip must be invisible: the oracle is q100's.
    "q105_kmeans_assign_stored" -> ((s, dir) => {
      import graft.operators.Cluster
      val root = System.getProperty("java.io.tmpdir") + "/graft_q105_centroids"
      val emb = t(s, dir, "embeddings")
      Cluster.fitCentroids(emb, "vec_id", "embedding", k = 4, iters = 3)
        .write.mode("overwrite").parquet(root)
      Cluster.assignStored(emb, "vec_id", "embedding", s.read.parquet(root))
        .select(col("vec_id"), col("cid"))
        .orderBy(col("vec_id"))
    }),

    // Combined semantic curation: ONE k-means feeding both the SemDeDup
    // within-cluster drop and the outlier gate over the survivors — the
    // single-pass form TrainingCorpus uses (stage 3b). Equals q101's drop
    // then q102's gate restricted to the remaining members.
    "q106_semantic_curate" -> ((s, dir) => {
      // maxClusterSize pinned to the UNBOUNDED special case (mirroring
      // q101/q46): this oracle replays the CLASSIC pair join on plain
      // cid, so the query must not ride the engine's moving bounded
      // default — a fixture dense enough to cross the default cap would
      // otherwise hash-mismatch and be misread as an engine bug. The
      // bounded default is oracle-proven by q106b's forced split.
      graft.operators.Cluster.semanticCurate(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, iters = 3, tau = 0.45, dropFrac = 0.2,
          maxClusterSize = Int.MaxValue)
        .orderBy(col("vec_id"))
    }),

    // q106 with a FORCED split (cap 100 < every cluster at sf0.01):
    // proves the bounded pair key — now the semanticCurate DEFAULT — as a
    // hash-checked oracle result, not just a spec. The oracle replays
    // occupancy, plane signs, the refined rcid, the drop rule, and the
    // cume_dist gate over the (possibly larger) survivor set.
    "q106b_semantic_curate_bounded" -> ((s, dir) => {
      graft.operators.Cluster.semanticCurate(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 4, iters = 3, tau = 0.45, dropFrac = 0.2,
          maxClusterSize = 100, extraBits = 3)
        .orderBy(col("vec_id"))
    }),

    // Boilerplate removal — the action to q96's report: drop every token
    // covered by a ≥3-doc-recurring 6-token window, keep the rest. Window
    // hashes and positions travel as longs/ints; the splice is row-local.
    "q107_strip_boilerplate" -> ((s, dir) => {
      Dedup.stripBoilerplate(t(s, dir, "documents"), "doc_id", "text",
          n = 6, minDocs = 3)
        .orderBy(col("doc_id"))
    }),

    // Incremental SemDeDup: the model is fit on the historical corpus
    // (vec_id % 5 <> 0), the arriving batch (vec_id % 5 = 0) is assigned
    // by one map-only scan and compared only to co-clustered corpus
    // members and lower-id co-clustered batch mates — per-batch cost is
    // corpus-size-independent given stored assignments (the semantic
    // analog of q81's incremental MinHash).
    "q108_incremental_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // unbounded pinned for oracle exactness (see q106's note); the
      // bounded arrival path is oracle-proven by q108b's forced split
      graft.operators.Cluster.incrementalSemDeDup(
          emb.filter(col("vec_id") % 5 =!= 0),
          emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", k = 4, iters = 3, tau = 0.45,
          maxClusterSize = Int.MaxValue)
        .orderBy(col("vec_id"))
    }),

    // q108 with a FORCED split (cap 100): the arrival path's bounded pair
    // key — occupancy counted over the neighbor side (pruned corpus +
    // batch), both join sides re-bucketed by the same plane signs — as a
    // hash-checked oracle result. Batch docs identical to a corpus member
    // still drop (identical vectors share every sign).
    "q108b_incremental_semdedup_bounded" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Cluster.incrementalSemDeDup(
          emb.filter(col("vec_id") % 5 =!= 0),
          emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", k = 4, iters = 3, tau = 0.45,
          maxClusterSize = 100, extraBits = 3)
        .orderBy(col("vec_id"))
    }),

    // Token diversity: Simpson index 1 − Σc²/n² per doc — the
    // repetitiveness signal entropy would give, but as a RATIONAL of exact
    // integer sums (ln is only ulp-accurate and differs across libm
    // implementations; the q54 odds-idf lesson). One explode + two
    // map-side-combinable aggregates.
    "q109_token_diversity" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      counts.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(when(col("n_tokens") > 0,
            lit(1.0) - col("s2").cast("double") /
              (col("n_tokens") * col("n_tokens")).cast("double"))
            .otherwise(lit(0.0)), 6).as("simpson"))
        .orderBy(col("doc_id"))
    }),

    // Soft dedup: instead of dropping near-duplicates, weight each doc by
    // 1/|its dup cluster| so a family of n near-copies contributes one
    // doc's worth of loss — the reweighting alternative when removal is
    // too aggressive. Clusters from the stored signature index.
    "q110_soft_dedup_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.flows.DedupIndex
        .ensure(s, dir, "documents", "doc_id", "text").pairs
        .filter(col("jaccard") >= 0.5)
      val clusters = Dedup.duplicateClusters(pairs)
      val withCluster = docs.select(col("doc_id"))
        .join(clusters, docs("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val sizes = withCluster.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cl_n"))
      withCluster.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"),
          round(lit(1.0) / col("cl_n").cast("double"), 6).as("weight"))
        .orderBy(col("doc_id"))
    }),

    // Incremental SemDeDup from STORED state — q108's production shape:
    // the model (fitCentroids) and the historical-corpus assignments
    // (assignStored) are lake tables written once; the per-batch plan is
    // one map-only batch scan + one co-cluster join against the slim
    // stored rows, with NO corpus-wide fit/quantize/assign (plan-pinned
    // in PlanShapeSpec). Result ≡ q108, so the oracle is q108's. The
    // store step runs once per corpus stamp (ensure-style marker), so
    // the timed path is the per-batch arrival cost.
    "q111_incremental_semdedup_stored" -> ((s, dir) => {
      import graft.operators.Cluster
      import org.apache.hadoop.fs.Path
      val emb = t(s, dir, "embeddings")
      // key the stored state on the corpus location AND content stamp
      // (bytes|mtime|files — same idea as DedupIndex) so a corpus
      // rewritten in place rebuilds instead of serving stale assignments
      val fsSrc = new Path(s"$dir/embeddings.parquet")
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val stamp = {
        // FsWalk, not listFiles(recursive) — see FsWalk's scaladoc
        var len = 0L; var mt = 0L; var nf = 0L
        graft.sources.FsWalk.files(fsSrc,
            new Path(s"$dir/embeddings.parquet")).foreach { st =>
          len += st.getLen
          mt = math.max(mt, st.getModificationTime); nf += 1
        }
        // v4: centroid+assignment pair commits as ONE atomic VersionedLake
        // GROUP (no marker) — the version prefix makes stale v1-v3 stores
        // miss and rebuild
        s"v4|$dir|$len|$mt|$nf"
      }
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(stamp.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val root = System.getProperty("java.io.tmpdir") + s"/graft_q111_$key"
      import graft.sources.VersionedLake
      if (VersionedLake.versions(s, root).isEmpty) {
        // one group commit spans both tables: assignments derive from the
        // STAGED centroids, and the single publish means no reader can see
        // new centroids beside stale assignments (or vice versa)
        val hist = emb.filter(col("vec_id") % 5 =!= 0)
        val gc = VersionedLake.beginGroupCommit(s, root)
        gc.write("centroids",
          Cluster.fitCentroids(hist, "vec_id", "embedding", k = 4, iters = 3))
        // partitioned by cluster id: incrementalSemDeDupStored filters the
        // read to the batch's ≤ k cids, so this layout turns the per-batch
        // corpus I/O into partition-pruned directory reads
        gc.write("assignments",
          Cluster.assignStored(hist, "vec_id", "embedding",
            gc.readStaged("centroids")),
          partitionBy = Seq("cid"))
        gc.publish()
      }
      // one version resolve for both reads (group consistency by
      // construction). Explicit schema: partition-column type inference
      // would read cid back as INT (values 0..k-1), and the long-vs-int
      // mismatch both breaks assignStored's (id, q, cid) long contract
      // downstream and wraps the partition column in a cast that can
      // defeat pruning
      val v = VersionedLake.versions(s, root).last
      val assignments = VersionedLake.readTable(s, root, "assignments",
        Some(v),
        schemaDDL = "vec_id BIGINT, q ARRAY<BIGINT>, dist BIGINT, cid BIGINT")
      // unbounded pinned for oracle exactness (see q106's note); the
      // bounded arrival path is oracle-proven by q108b's forced split
      Cluster.incrementalSemDeDupStored(
          assignments,
          emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding",
          VersionedLake.readTable(s, root, "centroids", Some(v)),
          tau = 0.45, maxClusterSize = Int.MaxValue)
        .orderBy(col("vec_id"))
    }),

    // Substring-level duplication profile (ExactSubstr census, Lee et al.
    // 2022): fraction of each document covered by 8-token windows that
    // reoccur anywhere in the corpus. Grams shuffle as 8-byte hashes, the
    // census partial-aggregates before its exchange, spans merge per-doc
    // (gaps-and-islands); the oracle replays the windows as strings —
    // same equivalence classes unless xxhash64 collides (2^-64/pair).
    "q118_substring_dup_spans" -> ((s, dir) => {
      Dedup.substringDupProfile(t(s, dir, "documents"), "doc_id", "text",
          k = 8)
        .orderBy(col("doc_id"))
    }),

    // The rewrite half: strip every duplicated 8-token span, excluding
    // each gram's canonical first occurrence (min (doc_id, pos)) from the
    // removable set (window-level retention — an overlapping OTHER gram's
    // removable span can still take tokens from it). Document text never
    // shuffles — spans collapse to one interval array per doc and the
    // splice is row-local filter-with-index.
    "q118b_substring_strip" -> ((s, dir) => {
      Dedup.stripDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
          k = 8, keepCanonical = true)
        .orderBy(col("doc_id"))
    }),

    // Product-quantization ANN (Jégou et al. 2011): fit m=4 per-subspace
    // codebooks (ONE fused aggregate per iteration — k·(dims+m) cells, the
    // cost of a single k-means pass), encode every vector as 4 codes
    // (64-fold compression), ADC top-20 for vec 0 via a driver-computed
    // m×k lookup table. Integer-exact end to end on the floor(x·2^20)
    // grid, so the oracle replays fit, codes, and distances bit-for-bit.
    "q119_pq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.pqFitCodebooks(emb, "vec_id", "embedding",
        dims = 64, m = 4, k = 4, iters = 3)
      val encoded = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      Similarity.pqAdcTopK(encoded, "vec_id", books, qq, n = 20)
    }),

    // IVF-PQ — the composition that makes PQ a 100 TB index (IVFADC,
    // Jégou et al. 2011 §IV): coarse k-means cells prune the scan to
    // nprobe partitions, codes store each vector's RESIDUAL against its
    // cell, and the ADC table is built per probed cell from the query's
    // residual. Exact integers end to end; the oracle replays the coarse
    // chain, the residuals, all four sub-codebook chains, the probe
    // ranking, and the per-cell lookup tables.
    "q119b_ivfpq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (coarse, books, encoded) = Similarity.ivfPqIndex(emb, "vec_id",
        "embedding", dims = 64, coarseK = 4, coarseIters = 2,
        m = 4, k = 4, iters = 2)
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      Similarity.ivfPqTopK(encoded, "vec_id", coarse, books, qq,
        nprobe = 2, n = 20)
    }),

    // IVFADC-R (Jégou et al. 2011 §V-A): the production completion of
    // q119b — short-list the top-c ADC candidates, re-rank them by EXACT
    // integer distance against the stored quantized vectors (read c full
    // vectors, not the corpus — the broadcast-candidates join), return
    // the exact top-n. Same grid end to end, so the oracle replays the
    // short-list AND the re-rank; c > n so the re-rank genuinely
    // reorders past the ADC approximation instead of rubber-stamping it.
    "q119c_ivfpq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (coarse, books, encoded) = Similarity.ivfPqIndex(emb, "vec_id",
        "embedding", dims = 64, coarseK = 4, coarseIters = 2,
        m = 4, k = 4, iters = 2)
      val quant = emb.select(col("vec_id"),
        graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      Similarity.ivfPqTopKRerank(encoded, quant, "vec_id", coarse, books,
        qq, nprobe = 2, c = 50, n = 20)
    }),

    // ANN recall@k — the tuning measurement the whole PQ family exists
    // to be judged by: |IVFADC-R top-20 ∩ exact top-20| / 20, both sides
    // on the same integer grid so the oracle replays approximate path,
    // exact path, AND the intersection. A deployment turns nprobe/c
    // until this number meets its bar; here it is a recorded, replayable
    // quantity instead of a guess.
    "q119d_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (coarse, books, encoded) = Similarity.ivfPqIndex(emb, "vec_id",
        "embedding", dims = 64, coarseK = 4, coarseIters = 2,
        m = 4, k = 4, iters = 2)
      val quant = emb.select(col("vec_id"),
        graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      val approx = Similarity.ivfPqTopKRerank(encoded, quant, "vec_id",
        coarse, books, qq, nprobe = 2, c = 50, n = 20)
      val exact = quant
        .select(col("vec_id"),
          graft.functions.VectorFunctions.sqDistToLit(col("q"), qq.toSeq)
            .as("d"))
        .orderBy(col("d").asc, col("vec_id").asc)
        .limit(20)
      Similarity.annRecallAtK(approx, exact, "vec_id", k = 20)
    }),

    // PERSISTENT IVF-PQ index (flows/AnnIndex): the PRODUCTION ANN shape
    // — fit once on the corpus (vec_id % 5 <> 0), STORE model + codes +
    // quantized vectors as ONE atomic lake group, append the arrival
    // batch (vec_id % 5 = 0) encoded MAP-ONLY against the stored model
    // (appends never refit), then IVFADC-R-search the stored index for
    // vec 0 — itself an arrival, so the search exercises appended codes.
    // The oracle replays fit-on-corpus + encode-union + search:
    // build-then-append must be value-invisible against a one-shot
    // encode of the union over the same model.
    "q119e_ann_index" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q119e")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.flows.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$tmp/index", dims = 64, coarseK = 4,
        coarseIters = 2, m = 4, k = 4, iters = 2)
      graft.flows.AnnIndex.append(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", s"$tmp/index")
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      graft.flows.AnnIndex.search(s, s"$tmp/index", "vec_id", qq,
        nprobe = 2, c = 50, n = 20)
    }),

    // Index MAINTENANCE is value-invisible: same build as q119e but the
    // arrivals land as TWO append batches with an incremental retention
    // pass (AnnIndex.maintain — small-file tail bin-packed, model tables
    // and already-compacted files carried, older versions vacuumed to
    // the horizon) run between them and again after; the search result
    // must hash-match q119e's oracle EXACTLY — compaction changes the
    // file layout, never a row.
    "q119g_ann_maintain" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q119g")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.flows.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$tmp/index", dims = 64, coarseK = 4,
        coarseIters = 2, m = 4, k = 4, iters = 2)
      graft.flows.AnnIndex.append(emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", s"$tmp/index")
      graft.flows.AnnIndex.maintain(s, s"$tmp/index")
      graft.flows.AnnIndex.append(emb.filter(col("vec_id") % 10 === 5),
        "vec_id", "embedding", s"$tmp/index")
      graft.flows.AnnIndex.maintain(s, s"$tmp/index")
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      graft.flows.AnnIndex.search(s, s"$tmp/index", "vec_id", qq,
        nprobe = 2, c = 50, n = 20)
    }),

    // STREAMING ANN ingest THROUGH RETENTION + FAILURE: q119e's arrivals
    // as a LIVE checkpointed stream (flows/StreamingAnnIndex — the
    // similarity leg of the streaming symmetry). Setup fits the model on
    // the corpus (vec_id % 5 <> 0) and commits model + codes + marker as
    // group v1; arrivals stream in three mtime-ordered chunks, each
    // batch encoding MAP-ONLY against the stored model and committing
    // codes + quant + the replay marker atomically with the model
    // CARRIED. retainEvery=1 compacts after EVERY applied batch (worst
    // cadence), the stream is killed after the first batch and resumed —
    // and the final search must STILL hash-match q119e's oracle
    // verbatim: exactly-once appends, compaction, and the kill/resume
    // are all value-invisible.
    "q119h_stream_ann" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q119h")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val arriving = emb.filter(col("vec_id") % 5 === 0)
      // model-fit setup rides alongside the chunk landing (guide 2.6)
      writeArrivalChunks(s"$tmp/in",
        (0 until 3).map(c => arriving.filter(col("vec_id") % 3 === c))) {
        graft.flows.StreamingAnnIndex.setup(
          emb.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
          s"$tmp/index", dims = 64, coarseK = 4, coarseIters = 2,
          m = 4, k = 4, iters = 2)
      }
      val stream = s.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      def ingest() = graft.flows.StreamingAnnIndex.writer(stream, "vec_id",
        "embedding", s"$tmp/index", s"$tmp/ckpt", retainEvery = 1,
        retainTargetBytes = 1L * 1024 * 1024)
      graft.streaming.Incremental.withStreamPolicy(stream,
        s.read.parquet(s"$tmp/in").count()) {
        runKillResume(() => ingest())
      }
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      graft.flows.AnnIndex.search(s, s"$tmp/index", "vec_id", qq,
        nprobe = 2, c = 50, n = 20)
    }),

    // Mean recall@20 over a QUERY SET — the number a deployment tunes
    // nprobe/c by (one query's recall is an anecdote; the mean is the
    // dial): three query vectors run the full IVFADC-R path against ONE
    // fitted model, each is scored against its own brute-force exact
    // top-20, and meanRecallAtK returns per-query rows plus the NULL-key
    // summary row carrying the mean. Integer-exact end to end, so the
    // oracle replays every per-query chain AND the mean.
    "q119f_ann_mean_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val (coarse, books, encoded) = Similarity.ivfPqIndex(emb, "vec_id",
        "embedding", dims = 64, coarseK = 4, coarseIters = 2,
        m = 4, k = 4, iters = 2)
      val quant = emb.select(col("vec_id"),
        graft.operators.Cluster.quantizeFloor(col("embedding")).as("q"))
      val perQuery = Seq(0L, 1L, 2L).map { qid =>
        val qq = emb.filter(col("vec_id") === qid)
          .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
            .as("q"))
          .head.getSeq[Long](0).toArray
        val approx = Similarity.ivfPqTopKRerank(encoded, quant, "vec_id",
          coarse, books, qq, nprobe = 2, c = 50, n = 20)
          .select(lit(qid).as("query_id"), col("vec_id"))
        val exact = quant
          .select(col("vec_id"),
            graft.functions.VectorFunctions.sqDistToLit(col("q"), qq.toSeq)
              .as("d"))
          .orderBy(col("d").asc, col("vec_id").asc)
          .limit(20)
          .select(lit(qid).as("query_id"), col("vec_id"))
        (approx, exact)
      }
      Similarity.meanRecallAtK(
        perQuery.map(_._1).reduce(_.unionByName(_)),
        perQuery.map(_._2).reduce(_.unionByName(_)),
        "vec_id", "query_id", k = 20)
        .orderBy(col("query_id").asc_nulls_last)
    }),

    // The DRIFT DIAL on the persistent index (AnnIndex.recallProbe):
    // q119f's mean-recall measurement read off the STORED tables — build
    // the index over the full set, then probe queries {0,1,2} against
    // the lake-resident codes + quant. Must hash-match q119f's oracle
    // verbatim: the lake round-trip is value-invisible, so the number a
    // deployment's refit cadence watches is exactly the one-shot
    // measurement.
    "q119i_ann_recall_probe" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q119i")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.flows.AnnIndex.build(emb, "vec_id", "embedding", s"$tmp/index",
        dims = 64, coarseK = 4, coarseIters = 2, m = 4, k = 4, iters = 2)
      val probes = Seq(0L, 1L, 2L).map { qid =>
        qid -> emb.filter(col("vec_id") === qid)
          .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
            .as("q"))
          .head.getSeq[Long](0).toArray
      }
      graft.flows.AnnIndex.recallProbe(s, s"$tmp/index", "vec_id", probes,
        k = 20, nprobe = 2, c = 50)
        .orderBy(col("query_id").asc_nulls_last)
    }),

    // MERGE-ON-READ DELETES on the persistent index (AnnIndex.delete):
    // q119e's build+append, then ONE retirement batch tombstones every
    // vec_id % 7 = 3 (a metadata-only group commit — no index data read
    // or rewritten), and the search must return the top-20 over the
    // LIVE set only. The oracle is q119e's chain with the retired ids
    // excluded BEFORE the ADC short-list forms — a dead doc must not
    // occupy one of the c slots and push a live candidate out of the
    // re-rank.
    "q119j_ann_delete" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q119j")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.flows.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$tmp/index", dims = 64, coarseK = 4,
        coarseIters = 2, m = 4, k = 4, iters = 2)
      graft.flows.AnnIndex.append(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", s"$tmp/index")
      graft.flows.AnnIndex.delete(
        emb.filter(col("vec_id") % 7 === 3).select(col("vec_id")),
        "vec_id", s"$tmp/index")
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      graft.flows.AnnIndex.search(s, s"$tmp/index", "vec_id", qq,
        nprobe = 2, c = 50, n = 20)
    }),

    // FOLDING tombstones (AnnIndex.foldTombstones) is value-invisible:
    // q119j's retirements landed as TWO delete batches with a
    // maintenance pass between (the tombstone table's own small-file
    // tail is bin-packed, never folded), then the full fold — the
    // race-detected rewrite that drops the dead codes physically and
    // the tombstone table with them. The search result must STILL
    // hash-match q119j's oracle: merge-on-read and fold-on-write are
    // the same index.
    "q119k_ann_fold" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q119k")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.flows.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$tmp/index", dims = 64, coarseK = 4,
        coarseIters = 2, m = 4, k = 4, iters = 2)
      graft.flows.AnnIndex.append(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", s"$tmp/index")
      val retiring = emb.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
      graft.flows.AnnIndex.delete(
        retiring.filter(col("vec_id") % 2 === 0), "vec_id", s"$tmp/index")
      graft.flows.AnnIndex.maintain(s, s"$tmp/index")
      graft.flows.AnnIndex.delete(
        retiring.filter(col("vec_id") % 2 === 1), "vec_id", s"$tmp/index")
      graft.flows.AnnIndex.foldTombstones(s, s"$tmp/index", "vec_id")
      val qq = emb.filter(col("vec_id") === 0)
        .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
          .as("q"))
        .head.getSeq[Long](0).toArray
      graft.flows.AnnIndex.search(s, s"$tmp/index", "vec_id", qq,
        nprobe = 2, c = 50, n = 20)
    }),

    // TABLE-DRIVEN batch search over the persistent index
    // (AnnIndex.searchBatch → Similarity.ivfPqBatchTopKRerank): q119e's
    // build+append, then ONE job answers the whole query FRAME (vec_id
    // 0–2 read from the table — no per-query literals, no driver loop):
    // map-only probe ranking, probed-cell isin pruning on the stored
    // scan, once-per-row candidate decode, slim-row top-k windows. Each
    // query's 20 rows must hash-match the single-vector search chain the
    // oracle replays per query — the batch plan is a pure re-shaping.
    "q119l_ann_batch" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q119l")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.flows.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$tmp/index", dims = 64, coarseK = 4,
        coarseIters = 2, m = 4, k = 4, iters = 2)
      graft.flows.AnnIndex.append(emb.filter(col("vec_id") % 5 === 0),
        "vec_id", "embedding", s"$tmp/index")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.flows.AnnIndex.searchBatch(s, s"$tmp/index", "vec_id",
        queries, "query_id", "embedding", nprobe = 2, c = 50, n = 20)
        .orderBy(col("query_id").asc, col("exact_dist").asc,
          col("vec_id").asc)
    }),

    // SEMANTIC ARRIVAL DEDUP against the stored index — the production
    // composition the batch search was built for (AnnIndex.
    // semanticDedupDecisions → searchBatch top-1 + a threshold drop
    // rule): the corpus (vec_id % 5 <> 0) is indexed once; an arrival
    // batch (vec_id % 5 = 0, < 30) asks for its nearest STORED neighbor
    // in ONE job and each doc's decision is the replayable rule
    // nn_dist <= T on the exact integer grid. The oracle replays every
    // per-query chain (fit-on-corpus base, probe, short-list over
    // CORPUS candidates only, exact re-rank top-1) AND the drop
    // verdicts — the q108/q111 discipline applied to the index-backed
    // arrival path.
    "q120_ann_arrival_dedup" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q120")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      graft.flows.AnnIndex.build(emb.filter(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", s"$tmp/index", dims = 64, coarseK = 4,
        coarseIters = 2, m = 4, k = 4, iters = 2)
      val batch = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") < 30)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      graft.flows.AnnIndex.semanticDedupDecisions(s, s"$tmp/index",
        "vec_id", batch, "doc_id", "embedding", nprobe = 2, c = 50,
        threshold = AnnDedupThreshold)
        .orderBy(col("doc_id"))
    }),

    // BLUE/GREEN REFIT GATE replayed as decisions (AnnIndex.refit): two
    // refits over the same corpus/probes — one whose floor the measured
    // mean recall clears (the cut: pointer lands on the candidate) and
    // one with an impossible floor (the hold: pointer NEVER moves, the
    // candidate is swept). The emitted frame carries the gate rule
    // (mean >= floor) AND the OBSERVED pointer state, so the oracle
    // replays the measured mean (q119f's chain), the cut/hold verdicts,
    // and which root a searchServing reader would hit after the dust
    // settles — the q108/q120 decisions discipline applied to the
    // deployment lifecycle itself.
    "q121_ann_refit_gate" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q121")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val probes = Seq(0L, 1L, 2L).map { qid =>
        qid -> emb.filter(col("vec_id") === qid)
          .select(graft.operators.Cluster.quantizeFloor(col("embedding"))
            .as("q"))
          .head.getSeq[Long](0).toArray
      }
      val ptr = s"$tmp/serving"
      def refitAt(root: String, floor: Double) =
        graft.flows.AnnIndex.refit(emb, "vec_id", "embedding", root, ptr,
          dims = 64, coarseK = 4, coarseIters = 2, m = 4, k = 4, iters = 2,
          probes, probeK = 20, nprobe = 2, c = 50, recallFloor = floor)
      val pass = refitAt(s"$tmp/green", AnnRefitFloorPass)
      val hold = refitAt(s"$tmp/cand2", AnnRefitFloorHold)
      // the OBSERVED serving root (not the RefitResult's claim): "" when
      // no refit ever cut — the frame must reflect what a reader sees
      val serving =
        if (graft.sources.VersionedLake.versions(s, ptr).nonEmpty)
          graft.sources.ServingPointer.resolve(s, ptr)
        else ""
      import s.implicits._
      Seq(
        ("floor_hold", AnnRefitFloorHold, hold.cut, hold.meanRecall,
          serving == s"$tmp/cand2"),
        ("floor_pass", AnnRefitFloorPass, pass.cut, pass.meanRecall,
          serving == s"$tmp/green"))
        .toDF("scenario", "floor", "cut", "mean_recall",
          "serving_is_candidate")
        .orderBy(col("scenario"))
    }),

    // THE FOLD DIAL replayed as decisions (AnnIndex.maintainAndFold):
    // the tombstone-fraction trigger computed from parquet footers — a
    // retirement batch at 4% of the corpus must NOT fold (merge-on-read
    // keeps paying the broadcast anti-join), a second batch pushing the
    // dial to ~29% must. `folded` is OBSERVED (the tombstone table's
    // presence at the latest version), the counts are the footer reads
    // the dial consumes, and the oracle replays rule and counts in SQL —
    // including the documented row-count inflation when retirement
    // batches repeat ids (%100==25 ids sit in BOTH batches and count
    // twice, biasing toward an EARLIER fold, never a missed one).
    "q122_ann_fold_dial" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q122")
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val root = s"$tmp/index"
      graft.flows.AnnIndex.build(emb, "vec_id", "embedding", root,
        dims = 64, coarseK = 4, coarseIters = 2, m = 4, k = 4, iters = 2)
      def stage(retireWhere: Column): (Long, Long, Boolean) = {
        graft.flows.AnnIndex.delete(
          emb.filter(retireWhere).select(col("vec_id")), "vec_id", root)
        val v = graft.sources.VersionedLake.versions(s, root).last
        val dead = graft.sources.VersionedLake.tableRowCount(s, root,
          "tombstones", Some(v))
        val stored = graft.sources.VersionedLake.tableRowCount(s, root,
          "encoded", Some(v))
        graft.flows.AnnIndex.maintainAndFold(s, root, "vec_id",
          foldAtFraction = 0.2)
        val folded = !graft.sources.VersionedLake
          .groupTableRelFiles(s, root, None).contains("tombstones")
        (dead, stored, folded)
      }
      val (d1, s1, f1) = stage(col("vec_id") % 25 === 0)
      // the oracle HARD-CODES that stage 1 holds (stored_rows stays the
      // full corpus, stage-2 dead rows accumulate d1+d2): if a fixture
      // change ever pushes the first retirement batch across the dial,
      // fail loudly HERE at the assumption, not downstream as an
      // unexplained hash mismatch
      require(d1.toDouble / s1 < 0.2,
        s"q122 fixture drift: stage-1 dead/stored = $d1/$s1 crosses the " +
          "0.2 fold dial the oracle assumes it stays under")
      val (d2, s2, f2) = stage(col("vec_id") % 4 === 1)
      require(d2.toDouble / s2 >= 0.2,
        s"q122 fixture drift: stage-2 dead/stored = $d2/$s2 no longer " +
          "crosses the 0.2 fold dial the oracle assumes it exceeds")
      import s.implicits._
      Seq((1, d1, s1, f1), (2, d2, s2, f2))
        .toDF("stage", "dead_rows", "stored_rows", "folded")
        .orderBy(col("stage"))
    }),

    // ARRIVAL-MODE corpus build (TrainingCorpus.applyBatch): the
    // end-to-end pipeline's per-batch shape — quality gate → exact dedup
    // vs stored fingerprints → incremental lexical near-dup vs the
    // stored PRUNED MinHash index → index-backed semantic dedup vs the
    // stored ANN index → redact/chunk → packing CONTINUED from stored
    // per-language token totals — driven for two batches (even ids
    // bootstrap the state, odd ids < 20 arrive against it), each batch
    // ONE atomic group commit. The oracle replays the whole survivor
    // derivation AND the packed chunks in SQL: quality arithmetic
    // (q99's), fingerprints (q13's), the q116 keep-lowest-id-among-
    // arrived lexical rule over membership-filtered pairs, per-arrival
    // ANN chains fit on batch-1's lexical survivors (q120's block shape
    // with the fit/candidate sets as CTE subqueries), q47's redaction,
    // q58's chunking, and q59's packing as one global cumsum over
    // (batch, doc, start).
    "q123_corpus_arrival" -> ((s, dir) => {
      val tmp = freshScratchDir("graft_q123")
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      def run(where: Column, id: Long): Unit = {
        graft.flows.TrainingCorpus.applyBatch(
          docs.filter(where), id, s"$tmp/state",
          batchEmbeddings = Some(emb), annRoot = s"$tmp/ann",
          semThreshold = CorpusArrivalThreshold,
          minQuality = 0.3, jaccardThreshold = 0.5,
          chunkTokens = 64, overlap = 16)
        ()
      }
      run(col("doc_id") % 2 === 0, 0L)
      run(col("doc_id") % 2 === 1 && col("doc_id") < 20, 1L)
      graft.flows.TrainingCorpus.arrivalChunks(s, s"$tmp/state")
        .select(col("doc_id"), col("batch_id"), col("lang"), col("start"),
          col("n_tokens"), col("chunk"), col("bin_id"),
          col("offset_in_bin"), col("split"))
        .orderBy(col("batch_id"), col("doc_id"), col("start"))
    })
  )

  /** q120's drop threshold on the floor(x·2^20) squared-distance grid —
    * chosen to split the sf0.01 fixture's six arrival docs across both
    * verdicts (3 drop at 1.40–1.44e12, 3 keep at 1.47–1.61e12), so the
    * oracle hash covers drop AND keep branches. Shared with the oracle
    * SQL (ONE constant, embedded both sides).
    */
  private val AnnDedupThreshold: Long = 1450000000000L

  /** q121's two gate floors — ONE constant pair embedded in both the
    * refit calls and the oracle SQL. The pass floor sits well under the
    * fixture's measured mean recall (~0.97 at sf0.01; the body guards
    * the no-cut case anyway), the hold floor above 1.0 where mean recall
    * clamps — the refit scaladoc's explicit "never cut" switch.
    */
  private val AnnRefitFloorPass: Double = 0.5
  private val AnnRefitFloorHold: Double = 1.5

  /** q123's semantic drop threshold on the floor(x·2^20) squared-distance
    * grid — ONE constant embedded in both the applyBatch call and the
    * oracle SQL, chosen (same discipline as [[AnnDedupThreshold]]) so the
    * fixture's batch-2 arrivals split across drop AND keep verdicts.
    */
  private val CorpusArrivalThreshold: Long = 1450000000000L

  // ---------------------------------------------------------------- oracles

  private val stopwordsSql =
    "('the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by','be','this','that','from')"

  /** q38's oracle: the seeded hyperplanes are plan-time constants, so they
    * embed as SQL literals and DuckDB replays the whole ANN path — per-row
    * signature, query signature, 1-bit/2-bit probe enumeration, the
    * data-dependent escalation tier, and the exact top-k — independently.
    */
  /** Seeded hyperplanes as DuckDB VALUES literals — the same constants the
    * Spark plans embed, so oracles replay signatures independently.
    */
  /** Quantized (integer-grid) planes as DuckDB VALUES — the q101b split
    * key's literals, from the SAME Scala constants the engine embeds.
    */
  private def quantPlaneValuesSql(n: Int, dims: Int, seed: Long): String =
    graft.operators.Cluster.quantizedPlanes(n, dims, seed).zipWithIndex
      .map { case (p, j) => s"($j, [${p.mkString(", ")}]::BIGINT[])" }
      .mkString(",\n")

  private def planeValuesSql(numPlanes: Int, seed: Long = 42L): String = {
    val planes = graft.functions.VectorFunctions.seededPlanes(numPlanes, 64, seed)
    planes.zipWithIndex.map { case (p, i) =>
      s"($i, [${p.mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n")
  }

  /** q100/q101's oracle prefix: the deterministic quantized k-means of
    * [[graft.operators.Cluster.kmeansQuantized]] as a generated CTE chain —
    * `e` (floor-quantized vectors), `c0` (lowest-k-ids init), then per
    * iteration `aN` (nearest-centroid assignment, ties to the lowest cid)
    * and `cN` (floor(sum/count) centroid update, empty cluster keeps the
    * previous centroid). Every intermediate is exact integer math (sums
    * < 2^53), so DuckDB replays the Spark run bit-for-bit.
    */
  /** The shared k-means-replay init CTE: the k lowest-id vectors of
    * `src`, cids 0..k−1 — ONE definition for every oracle chain
    * ([[kmeansCtesSql]], [[pqCtesSql]], [[ivfPqCtesSql]]), mirroring the
    * engine's `Cluster.fitOnQuantized` init.
    */
  private def kmInitCteSql(name: String, src: String, k: Int): String =
    s"""$name AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q
       |  FROM (SELECT vec_id, q FROM $src ORDER BY vec_id LIMIT $k)
       |)""".stripMargin

  /** The shared floored-mean centroid-update CTE (empty cluster keeps its
    * previous centroid via the LEFT JOIN + COALESCE) — the oracle twin of
    * `Cluster.fitOnQuantized`'s update step, one definition for every
    * replay chain so a convention fix can never diverge the oracles.
    */
  private def kmUpdateCteSql(name: String, prev: String, asg: String,
      dims: Int): String =
    s"""$name AS (
       |  SELECT p.cid, COALESCE(n.q, p.q) AS q FROM $prev p LEFT JOIN (
       |    SELECT cid, list(s ORDER BY d) AS q FROM (
       |      SELECT cid, d, CAST(floor(CAST(sum(q[d]) AS DOUBLE) / count(*)) AS BIGINT) AS s
       |      FROM $asg CROSS JOIN range(1, ${dims + 1}) t(d)
       |      GROUP BY cid, d) GROUP BY cid) n USING (cid)
       |)""".stripMargin

  private def kmeansCtesSql(k: Int, iters: Int, dims: Int, scale: Int,
      fitWhere: String = ""): String = {
    val fitSrc = if (fitWhere.isEmpty) "e" else "ef"
    val sb = new StringBuilder
    sb.append(
      s"""e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
         |  FROM embeddings
         |)""".stripMargin)
    if (fitWhere.nonEmpty)
      sb.append(s",\nef AS (SELECT * FROM e WHERE $fitWhere)")
    sb.append(",\n" + kmInitCteSql("c0", fitSrc, k))
    for (it <- 1 to iters) {
      sb.append(
        s""",
           |a$it AS (${assignCteSql(fitSrc, s"c${it - 1}", dims)})""".stripMargin)
      if (it < iters)
        sb.append(",\n" + kmUpdateCteSql(s"c$it", s"c${it - 1}", s"a$it", dims))
    }
    "WITH " + sb.toString
  }

  /** q108/q111's shared oracle: fit on the corpus subset (ef), assign
    * EVERYTHING against the final centroids (af — the assignStored
    * replay), then the corpus-or-lower-batch-id neighbor drop rule. q111
    * stores the model + historical assignments as lake tables and reads
    * them back, which must be value-invisible — hence the same SQL.
    */
  private lazy val incrementalSemDedupOracle: String =
    kmeansCtesSql(k = 4, iters = 3, dims = 64,
      scale = 1 << 20, fitWhere = "vec_id % 5 <> 0") +
      s""",
         |af AS (${assignCteSql("e", "c2", 64)}),
         |nn AS (
         |  SELECT vec_id, cid, q,
         |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
         |  FROM af
         |),
         |ba AS (SELECT * FROM nn WHERE vec_id % 5 = 0),
         |nb AS (
         |  SELECT vec_id, cid, q, nrm, TRUE AS is_corpus FROM nn WHERE vec_id % 5 <> 0
         |  UNION ALL
         |  SELECT vec_id, cid, q, nrm, FALSE AS is_corpus FROM ba
         |),
         |drp AS (
         |  SELECT DISTINCT b.vec_id AS id_b
         |  FROM nb a JOIN ba b ON a.cid = b.cid AND (a.is_corpus OR a.vec_id < b.vec_id)
         |  WHERE a.nrm > 0 AND b.nrm > 0
         |    AND CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |        / (a.nrm * b.nrm) >= 0.45
         |)
         |SELECT vec_id, cid FROM ba WHERE vec_id NOT IN (SELECT id_b FROM drp)
         |ORDER BY vec_id""".stripMargin

  /** q117/q117b's shared oracle: q108's fit/assign replay with the
    * STREAMING arrival predicate — a stream doc (vec_id % 5 = 0, batch =
    * vec_id % 3) drops against any co-clustered cosine-≥-τ neighbor that
    * is corpus, arrived in an EARLIER batch (arrival order outranks id
    * order), or is a lower-id SAME-batch mate. Identical for the straight
    * run and the kill-and-resume run: crash recovery must be
    * output-invisible.
    */
  private lazy val streamingSemDedupOracle: String =
    kmeansCtesSql(k = 4, iters = 3, dims = 64,
      scale = 1 << 20, fitWhere = "vec_id % 5 <> 0") +
      s""",
         |af AS (${assignCteSql("e", "c2", 64)}),
         |nn AS (
         |  SELECT vec_id, cid, q,
         |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
         |  FROM af
         |),
         |ba AS (SELECT * FROM nn WHERE vec_id % 5 = 0),
         |nb AS (
         |  SELECT vec_id, cid, q, nrm, TRUE AS is_corpus FROM nn WHERE vec_id % 5 <> 0
         |  UNION ALL
         |  SELECT vec_id, cid, q, nrm, FALSE AS is_corpus FROM ba
         |),
         |drp AS (
         |  SELECT DISTINCT b.vec_id AS id_b
         |  FROM nb a JOIN ba b ON a.cid = b.cid AND (a.is_corpus
         |    OR a.vec_id % 3 < b.vec_id % 3
         |    OR (a.vec_id % 3 = b.vec_id % 3 AND a.vec_id < b.vec_id))
         |  WHERE a.nrm > 0 AND b.nrm > 0
         |    AND CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |        / (a.nrm * b.nrm) >= 0.45
         |)
         |SELECT vec_id, vec_id % 3 AS batch_id FROM ba
         |WHERE vec_id NOT IN (SELECT id_b FROM drp)
         |ORDER BY vec_id""".stripMargin

  /** One nearest-centroid assignment of `src` rows against centroid CTE
    * `cents` — the argmin-with-lowest-cid-tie-break shape shared by the
    * fit iterations and q108's final full-corpus assignment.
    */
  /** q119's oracle chain: per subspace s, an independent k-means replay
    * over the sliced quantized vectors (same init / assign / floored-mean
    * update CTEs as [[kmeansCtesSql]], sd dims instead of 64), then the
    * ADC machinery — per-subspace lookup tables `l{s}` of exact integer
    * squared distances from vec 0's sub-vector to the FINAL sub-centroids,
    * and final assigns `s{s}a{iters}` carrying each vector's code.
    */
  private def pqCtesSql(m: Int, k: Int, iters: Int, dims: Int,
      scale: Int): String = {
    val sd = dims / m
    val sb = new StringBuilder
    sb.append(
      s"""e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
         |  FROM embeddings
         |)""".stripMargin)
    for (s <- 0 until m) {
      sb.append(
        s""",
           |s$s AS (SELECT vec_id, q[${s * sd + 1}:${(s + 1) * sd}] AS q FROM e),
           |""".stripMargin + kmInitCteSql(s"s${s}c0", s"s$s", k))
      for (it <- 1 to iters) {
        sb.append(
          s""",
             |s${s}a$it AS (${assignCteSql(s"s$s", s"s${s}c${it - 1}", sd)})""".stripMargin)
        if (it < iters)
          sb.append(",\n" + kmUpdateCteSql(s"s${s}c$it", s"s${s}c${it - 1}",
            s"s${s}a$it", sd))
      }
      sb.append(
        s""",
           |qv$s AS (SELECT q FROM s$s WHERE vec_id = 0),
           |l$s AS (
           |  SELECT c.cid, CAST(list_sum(list_transform(range(1, ${sd + 1}),
           |    i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i]))) AS BIGINT) AS d
           |  FROM s${s}c${iters - 1} c CROSS JOIN qv$s v
           |)""".stripMargin)
    }
    "WITH " + sb.toString
  }

  /** q119b's oracle: the coarse k-means chain (cc*), per-vector integer
    * residuals against the final coarse centroids, one PQ chain per
    * subspace over the SLICED residuals (r{s}*), the probe ranking (qd →
    * probe), per-probed-cell query residuals (qres) and lookup tables
    * (l{s}), and the final per-cell ADC join. Shares [[assignCteSql]]
    * with every other k-means replay.
    */
  /** The query-independent half of the IVF-PQ replay: quantize, coarse
    * fit (optionally on the `fitWhere` subset — the persistent-index
    * shape, where arrivals are encoded against a model they never
    * influenced), FULL-corpus residual encode, per-subspace PQ fits over
    * the (subset) residuals and full-corpus code assigns. The final
    * assignment CTEs (`cca{N}`, `r{s}a{N}`) always cover EVERY vector —
    * the downstream ADC joins read them as the stored codes.
    */
  private def ivfPqBaseCtes(coarseK: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, scale: Int,
      fitWhere: String = ""): Seq[String] = {
    val sd = dims / m
    val fitE = if (fitWhere.isEmpty) "e" else "ef"
    val parts = scala.collection.mutable.ListBuffer(
      s"""e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT)) AS q
         |  FROM embeddings
         |)""".stripMargin)
    if (fitWhere.nonEmpty)
      parts += s"ef AS (SELECT * FROM e WHERE $fitWhere)"
    parts += kmInitCteSql("cc0", fitE, coarseK)
    for (it <- 1 to coarseIters) {
      // fit iterations assign the FIT subset; the last assignment is the
      // encode and always covers everything (the engine's fit/encode
      // split: fitOnQuantized iterates, ivfPqEncode maps)
      val src = if (it == coarseIters) "e" else fitE
      parts += s"cca$it AS (${assignCteSql(src, s"cc${it - 1}", dims)})"
      if (it < coarseIters)
        parts += kmUpdateCteSql(s"cc$it", s"cc${it - 1}", s"cca$it", dims)
    }
    val fcc = s"cc${coarseIters - 1}"
    parts +=
      s"""res AS (
         |  SELECT a.vec_id, a.cid AS cell,
         |    list_transform(range(1, ${dims + 1}), i -> a.q[i] - c.q[i]) AS q
         |  FROM cca$coarseIters a JOIN $fcc c ON a.cid = c.cid
         |)""".stripMargin
    if (fitWhere.nonEmpty)
      parts += s"resf AS (SELECT * FROM res WHERE $fitWhere)"
    val fitR = if (fitWhere.isEmpty) "r" else "rf"
    for (s <- 0 until m) {
      parts += s"r$s AS (SELECT vec_id, q[${s * sd + 1}:${(s + 1) * sd}] AS q FROM res)"
      if (fitWhere.nonEmpty)
        parts += s"rf$s AS (SELECT vec_id, q[${s * sd + 1}:${(s + 1) * sd}] AS q FROM resf)"
      parts += kmInitCteSql(s"r${s}c0", s"$fitR$s", k)
      for (it <- 1 to iters) {
        val src = if (it == iters) s"r$s" else s"$fitR$s"
        parts += s"r${s}a$it AS (${assignCteSql(src, s"r${s}c${it - 1}", sd)})"
        if (it < iters)
          parts += kmUpdateCteSql(s"r${s}c$it", s"r${s}c${it - 1}",
            s"r${s}a$it", sd)
      }
    }
    parts.toSeq
  }

  /** The per-query half: the query row, its exact coarse-cell ranking,
    * the nprobe cell set, the per-probed-cell query residuals, and the
    * per-subspace ADC lookup tables — all CTE names suffixed so a
    * multi-query oracle (q119f) stacks one block per query over ONE
    * shared base chain.
    */
  private def ivfPqQueryCtes(queryVecId: Long, sfx: String,
      coarseIters: Int, m: Int, iters: Int, dims: Int,
      nprobe: Int): Seq[String] = {
    val sd = dims / m
    val fcc = s"cc${coarseIters - 1}"
    val parts = scala.collection.mutable.ListBuffer(
      s"qrow$sfx AS (SELECT q FROM e WHERE vec_id = $queryVecId)")
    parts +=
      s"""qd$sfx AS (
         |  SELECT c.cid AS cell, list_sum(list_transform(range(1, ${dims + 1}),
         |    i -> (v.q[i] - c.q[i]) * (v.q[i] - c.q[i]))) AS d
         |  FROM $fcc c CROSS JOIN qrow$sfx v
         |)""".stripMargin
    parts += s"probe$sfx AS (SELECT cell FROM qd$sfx ORDER BY d, cell LIMIT $nprobe)"
    parts +=
      s"""qres$sfx AS (
         |  SELECT c.cid AS cell, list_transform(range(1, ${dims + 1}), i -> v.q[i] - c.q[i]) AS q
         |  FROM $fcc c CROSS JOIN qrow$sfx v
         |  WHERE c.cid IN (SELECT cell FROM probe$sfx)
         |)""".stripMargin
    for (s <- 0 until m) {
      val off = s * sd
      parts +=
        s"""l$s$sfx AS (
           |  SELECT r.cell, b.cid, CAST(list_sum(list_transform(range(1, ${sd + 1}),
           |    i -> (r.q[i + $off] - b.q[i]) * (r.q[i + $off] - b.q[i]))) AS BIGINT) AS d
           |  FROM qres$sfx r CROSS JOIN r${s}c${iters - 1} b
           |)""".stripMargin
    }
    parts.toSeq
  }

  private def ivfPqCtesSql(coarseK: Int, coarseIters: Int, m: Int, k: Int,
      iters: Int, dims: Int, scale: Int, nprobe: Int,
      fitWhere: String = ""): String =
    "WITH " + (ivfPqBaseCtes(coarseK, coarseIters, m, k, iters, dims, scale,
      fitWhere) ++
      ivfPqQueryCtes(0L, "", coarseIters, m, iters, dims, nprobe))
      .mkString(",\n")

  /** q119c/q119d's shared tail over [[ivfPqCtesSql]]'s chain (m=4,
    * iters=2 — the same fixed shape the q119b body joins): `adc` = the
    * per-cell ADC join as a top-`c` short-list, `rr` = the IVFADC-R
    * exact re-rank of that short-list down to `n`. ONE definition so a
    * future short-list/re-rank fix can never make the two oracles
    * silently replay different algorithms.
    */
  private def ivfPqRerankCtesSql(c: Int, n: Int, dims: Int,
      sfx: String = "", deleteWhere: String = ""): String = {
    val dead =
      if (deleteWhere.isEmpty) "" else s"\n    AND NOT ($deleteWhere)"
    s""",
       |adc$sfx AS (
       |  SELECT f0.vec_id, a.cell,
       |    CAST(l0$sfx.d + l1$sfx.d + l2$sfx.d + l3$sfx.d AS BIGINT) AS adc_dist
       |  FROM r0a2 f0
       |  JOIN r1a2 f1 USING (vec_id) JOIN r2a2 f2 USING (vec_id)
       |  JOIN r3a2 f3 USING (vec_id)
       |  JOIN (SELECT vec_id, cell FROM res) a USING (vec_id)
       |  JOIN l0$sfx ON l0$sfx.cell = a.cell AND l0$sfx.cid = f0.cid
       |  JOIN l1$sfx ON l1$sfx.cell = a.cell AND l1$sfx.cid = f1.cid
       |  JOIN l2$sfx ON l2$sfx.cell = a.cell AND l2$sfx.cid = f2.cid
       |  JOIN l3$sfx ON l3$sfx.cell = a.cell AND l3$sfx.cid = f3.cid
       |  WHERE a.cell IN (SELECT cell FROM probe$sfx)$dead
       |  ORDER BY adc_dist, f0.vec_id LIMIT $c
       |),
       |rr$sfx AS (
       |  SELECT a.vec_id, a.cell, a.adc_dist,
       |    CAST(list_sum(list_transform(range(1, ${dims + 1}),
       |      i -> (e.q[i] - v.q[i]) * (e.q[i] - v.q[i]))) AS BIGINT) AS exact_dist
       |  FROM adc$sfx a JOIN e ON e.vec_id = a.vec_id CROSS JOIN qrow$sfx v
       |  ORDER BY exact_dist, a.vec_id LIMIT $n
       |)""".stripMargin
  }

  private def assignCteSql(src: String, cents: String, dims: Int): String =
    s"""
       |  SELECT vec_id, q, cid FROM (
       |    SELECT s.vec_id, s.q, c.cid,
       |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
       |        list_sum(list_transform(range(1, ${dims + 1}), i -> (s.q[i] - c.q[i]) * (s.q[i] - c.q[i]))) ASC,
       |        c.cid ASC) AS rn
       |    FROM $src s CROSS JOIN $cents c) WHERE rn = 1
       |""".stripMargin

  /** q33's oracle: replays the PORTABLE MinHash+LSH pipeline —
    * normalize→tokenize→shingle→md5-derived 60-bit hashes→k min-remixes→
    * band buckets→candidate join→exact Jaccard — entirely in DuckDB SQL.
    * Every hash is `int(md5(s)[0:15], 16)`, the one primitive both engines
    * share bit-for-bit (Spark `conv(substring(md5,1,15),16,10)`, DuckDB
    * `CAST('0x'||substr(md5,1,15) AS BIGINT)`).
    */
  /** The portable-MinHash pipeline as a reusable CTE chain ending in
    * `pairs(id_a, id_b, jaccard)` — shared by q33 (pair listing) and q50
    * (duplicate clustering over the pair graph).
    */
  private def minHashPairsCtes: String = {
    val numHashes = 16; val bands = 4; val rpb = numHashes / bands
    val p = Dedup.minHashP
    def h60(e: String) = s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
    val mins = Dedup.minHashCoeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      s"    min((h * $a + $b) % $p) AS m$i" }.mkString(",\n")
    val sigArr = (0 until numHashes).map(i => s"m$i").mkString("[", ", ", "]")
    s"""toked AS (
       |  SELECT doc_id AS id,
       |    regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\S+') AS toks
       |  FROM documents
       |), base AS (
       |  SELECT id,
       |    list_transform(
       |      list_distinct(list_transform(range(len(toks)-2),
       |        i -> array_to_string(toks[i+1:i+3], ' '))),
       |      s -> ${h60("s")}) AS hs
       |  FROM toked WHERE len(toks) >= 3
       |), ex AS (
       |  SELECT id, h0 % $p AS h
       |  FROM (SELECT id, unnest(hs) AS h0 FROM base)
       |), mins AS (
       |  SELECT id,
       |$mins
       |  FROM ex GROUP BY id
       |), siga AS (
       |  SELECT id, $sigArr AS sig FROM mins
       |), banded AS (
       |  SELECT id, b.band,
       |    ${h60(s"array_to_string(list_transform(sig[b.band*$rpb+1:b.band*$rpb+$rpb], x -> CAST(x AS VARCHAR)), ',')")} AS bucket
       |  FROM siga, (SELECT unnest(range($bands)) AS band) b
       |), cand AS (
       |  SELECT DISTINCT a.id AS id_a, b2.id AS id_b
       |  FROM banded a JOIN banded b2
       |    ON a.band = b2.band AND a.bucket = b2.bucket AND a.id < b2.id
       |), pairs AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(ba.hs, bb.hs)) AS DOUBLE)
       |      / CAST(len(list_distinct(list_concat(ba.hs, bb.hs))) AS DOUBLE) AS jaccard
       |  FROM cand c
       |  JOIN base ba ON ba.id = c.id_a
       |  JOIN base bb ON bb.id = c.id_b
       |)""".stripMargin
  }

  private def q33Oracle: String =
    s"""WITH $minHashPairsCtes
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
       |ORDER BY id_a, id_b""".stripMargin

  /** q116/q116b's oracle: the streaming keep-lowest-id-among-ARRIVED rule
    * replayed from the full pair set — a doc is dropped iff a lower-id
    * near-dup mate (jaccard ≥ 0.5 over the same hashed-shingle sets the
    * engine compares) arrived in an earlier or the same micro-batch,
    * where batch = doc_id % 3 is exactly the fixture's chunk assignment.
    * Docs under the shingle threshold never pair and always survive.
    * Identical for the straight run and the kill-and-resume run: crash
    * recovery must be output-invisible.
    */
  private def q116Oracle: String =
    s"""WITH $minHashPairsCtes,
       |drp AS (
       |  SELECT DISTINCT p.id_b FROM pairs p
       |  WHERE p.jaccard >= 0.5 AND (p.id_a % 3) <= (p.id_b % 3)
       |)
       |SELECT d.doc_id, d.doc_id % 3 AS batch_id
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT id_b FROM drp)
       |ORDER BY d.doc_id""".stripMargin

  /** q81's oracle: the full pair set restricted to pairs touching the
    * "new batch" (doc_id % 5 = 0) — incremental indexing with identical
    * bands must reproduce exactly this subset.
    */
  private def q81Oracle: String =
    s"""WITH $minHashPairsCtes
       |SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM pairs
       |WHERE id_a % 5 = 0 OR id_b % 5 = 0
       |ORDER BY id_a, id_b""".stripMargin

  /** q89's oracle: q50's connected-components replay + q31's quality
    * replay, then one survivor per cluster by (quality DESC, doc_id).
    */
  private def q89Oracle: String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |fpairs AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |edges2 AS (
       |  SELECT id_a AS src, id_b AS dst FROM fpairs
       |  UNION SELECT id_b, id_a FROM fpairs
       |), nodes AS (SELECT DISTINCT src AS nid FROM edges2),
       |reach(nid, label) AS (
       |  SELECT nid, nid FROM nodes
       |  UNION
       |  SELECT e.src, r.label FROM reach r JOIN edges2 e ON e.dst = r.nid
       |), comp AS (SELECT nid, min(label) AS cluster_id FROM reach GROUP BY nid),
       |cl AS (
       |  SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.nid = d.doc_id
       |), qt AS (
       |  SELECT doc_id,
       |    regexp_extract_all(lower(text), '\\S+') AS ltoks,
       |    regexp_extract_all(text, '\\S+') AS toks2, text
       |  FROM documents
       |), qual AS (
       |  SELECT doc_id,
       |    round((CASE WHEN len(toks2) BETWEEN 5 AND 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
       |      + (CASE WHEN (CASE WHEN len(ltoks) > 0
       |            THEN CAST(len(list_filter(ltoks, x -> x IN $stopwordsSql)) AS DOUBLE) / CAST(len(ltoks) AS DOUBLE)
       |            ELSE CAST(0.0 AS DOUBLE) END) >= 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
       |      + (CASE WHEN (CASE WHEN length(text) > 0
       |            THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
       |            ELSE CAST(0.0 AS DOUBLE) END) <= 0.2 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS quality
       |  FROM qt
       |), ranked AS (
       |  SELECT cl.cluster_id, cl.doc_id, qual.quality,
       |    row_number() OVER (PARTITION BY cl.cluster_id
       |      ORDER BY qual.quality DESC, cl.doc_id) AS rn
       |  FROM cl JOIN qual USING (doc_id)
       |)
       |SELECT cluster_id, doc_id, quality FROM ranked WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** q50's oracle: duplicate clustering = connected components over the
    * thresholded pair graph, replayed with a recursive CTE (min-label
    * transitive closure, then per-node min) — fixpoint semantics identical
    * to the Spark iterative propagation.
    */
  private def q50Oracle: String =
    s"""WITH RECURSIVE $minHashPairsCtes,
       |fpairs AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |edges2 AS (
       |  SELECT id_a AS src, id_b AS dst FROM fpairs
       |  UNION SELECT id_b, id_a FROM fpairs
       |), nodes AS (SELECT DISTINCT src AS nid FROM edges2),
       |reach(nid, label) AS (
       |  SELECT nid, nid FROM nodes
       |  UNION
       |  SELECT e.src, r.label FROM reach r JOIN edges2 e ON e.dst = r.nid
       |), comp AS (SELECT nid, min(label) AS cluster_id FROM reach GROUP BY nid)
       |SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
       |FROM documents d LEFT JOIN comp c ON c.nid = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q34's oracle: replays the PORTABLE SimHash pipeline — distinct tokens →
    * md5-derived 60-bit hashes → per-bit ±1 votes → sign collapse → 15-bit
    * chunk candidate join → hamming ≤ 3 — in DuckDB SQL (same bit ops,
    * verified sign/shift semantics).
    */
  private def q34Oracle: String = {
    val bits = 60; val maxHamming = 3
    val numChunks = maxHamming + 1; val baseBits = bits / numChunks
    def h60(e: String) = s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"
    val bitSums = (0 until bits).map(b =>
      s"    sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b").mkString(",\n")
    val simExpr = (0 until bits).map(b =>
      s"(CASE WHEN b$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .grouped(6).map(_.mkString(" + ")).mkString("\n    + ")
    val keyCases = (0 until numChunks).map { i =>
      val lo = i * baseBits
      val width = if (i == numChunks - 1) bits - lo else baseBits
      val mask = (1L << width) - 1L
      s"WHEN $i THEN (sim >> $lo) & CAST($mask AS BIGINT)"
    }.mkString(" ")
    s"""WITH toked AS (
       |  SELECT doc_id AS id,
       |    list_distinct(regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\S+')) AS toks
       |  FROM documents
       |), ex AS (
       |  SELECT id, ${h60("t")} AS h
       |  FROM (SELECT id, unnest(toks) AS t FROM toked)
       |), votes AS (
       |  SELECT id,
       |$bitSums
       |  FROM ex GROUP BY id
       |), sims AS (
       |  SELECT id, $simExpr AS sim
       |  FROM votes
       |), chunked AS (
       |  SELECT id, sim, c.chunk,
       |    CASE c.chunk $keyCases END AS key
       |  FROM sims, (SELECT unnest(range($numChunks)) AS chunk) c
       |)
       |SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
       |  bit_count(xor(a.sim, b2.sim)) AS hamming
       |FROM chunked a JOIN chunked b2
       |  ON a.chunk = b2.chunk AND a.key = b2.key AND a.id < b2.id
       |WHERE bit_count(xor(a.sim, b2.sim)) <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  private def q38Oracle: String = {
    val planeRows = planeValuesSql(12)
    s"""WITH c AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), planes(i, p) AS (VALUES
       |$planeRows
       |), q AS (
       |  SELECT v AS qv FROM c WHERE vec_id = 0
       |), sig AS (
       |  SELECT c.vec_id,
       |    SUM(CASE WHEN list_inner_product(c.v, pl.p) >= 0 THEN (CAST(1 AS BIGINT) << pl.i) ELSE 0 END) AS sig
       |  FROM c CROSS JOIN planes pl GROUP BY c.vec_id
       |), qsig AS (
       |  SELECT SUM(CASE WHEN list_inner_product(q.qv, pl.p) >= 0 THEN (CAST(1 AS BIGINT) << pl.i) ELSE 0 END) AS qs
       |  FROM q CROSS JOIN planes pl
       |), bits AS (SELECT unnest(range(12)) AS b),
       |narrow AS (
       |  SELECT qs AS p FROM qsig
       |  UNION ALL SELECT xor(qs, CAST(1 AS BIGINT) << b) FROM qsig, bits
       |), wide AS (
       |  SELECT p FROM narrow
       |  UNION ALL
       |  SELECT xor(xor(qs, CAST(1 AS BIGINT) << b1.b), CAST(1 AS BIGINT) << b2.b)
       |  FROM qsig, bits b1, bits b2 WHERE b1.b < b2.b
       |), nc AS (SELECT count(*) AS n FROM sig WHERE sig IN (SELECT p FROM narrow)),
       |wc AS (SELECT count(*) AS n FROM sig WHERE sig IN (SELECT p FROM wide)),
       |cand AS (
       |  SELECT c.vec_id, c.v FROM c JOIN sig USING (vec_id)
       |  WHERE CASE
       |    WHEN (SELECT n FROM nc) >= 20 THEN sig.sig IN (SELECT p FROM narrow)
       |    WHEN (SELECT n FROM wc) >= 20 THEN sig.sig IN (SELECT p FROM wide)
       |    ELSE TRUE END
       |), s AS (
       |  SELECT cand.vec_id,
       |    CASE WHEN sqrt(list_inner_product(cand.v, cand.v)) * sqrt(list_inner_product(q.qv, q.qv)) > 0
       |      THEN list_inner_product(cand.v, q.qv)
       |        / (sqrt(list_inner_product(cand.v, cand.v)) * sqrt(list_inner_product(q.qv, q.qv)))
       |      ELSE CAST(0.0 AS DOUBLE) END AS cos
       |  FROM cand CROSS JOIN q
       |)
       |SELECT vec_id, round(cos, 6) AS cosine FROM s
       |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin
  }

  /** DuckDB-dialect ANSI SQL equivalents, keyed like [[queries]]. Omitted
    * keys (minhash/simhash/media) are non-SQL-expressible (xxhash64 / Java
    * long-wraparound checksums don't exist in DuckDB) → the driver records
    * a weaker rows-only check for them.
    */
  val oracles: Map[String, String] = Map(

    "q38_lsh_ann" -> q38Oracle,

    "q33_minhash_pairs" -> q33Oracle,
    "q81_incremental_dedup" -> q81Oracle,
    "q89_cluster_retention" -> q89Oracle,
    // q93 lands the signature index as stored tables and derives the pairs
    // from them — the pair list must equal the full in-memory pipeline's.
    "q93_stored_index_pairs" -> q33Oracle,

    // q94: drift simulated arithmetically — the status column exists only
    // for rows the post-drift commit wrote (odd keys).
    "q94_schema_evolution" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END) AS n_status,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS tot
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // q96: replay 6-token windows as md5h60 longs, doc-frequency filter at
    // ≥3 distinct docs, per-doc tally. Same tokenization as q69.
    "q96_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(toks) - 4),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |           toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]) AS grams
        |  FROM t
        |), h AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gh
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
        |), b AS (
        |  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM h GROUP BY gh)
        |  WHERE nd >= 3
        |), c AS (
        |  SELECT doc_id, count(*) AS n_boiler FROM h
        |  WHERE gh IN (SELECT gh FROM b) GROUP BY doc_id
        |)
        |SELECT g.doc_id, len(grams) AS n_windows,
        |  COALESCE(n_boiler, 0) AS n_boiler,
        |  round(CASE WHEN len(grams) > 0
        |    THEN CAST(COALESCE(n_boiler, 0) AS DOUBLE) / len(grams)
        |    ELSE 0.0 END, 6) AS boiler_ratio
        |FROM g LEFT JOIN c USING (doc_id) ORDER BY g.doc_id""".stripMargin,

    // q97: recompute the ppm rates from counts + target literals with the
    // identical expression shape AND numeric type — every step CAST to
    // DOUBLE, because Spark computes t and ppm in binary double while
    // DuckDB would otherwise use exact DECIMAL for the 0.5/0.3/0.2
    // literals, and a boundary ppm (e.g. 999999.999… vs 1000000) would
    // floor differently.
    "q97_mixture_rebalance" ->
      """WITH tgt(source, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
        |cnt AS (
        |  SELECT source, count(*) AS n FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
        |), tt AS (
        |  SELECT min(CAST(n AS DOUBLE) / CAST(w AS DOUBLE)) AS t
        |  FROM cnt JOIN tgt USING (source)
        |), rate AS (
        |  SELECT source,
        |    CAST(floor(CAST(1000000 AS DOUBLE) * CAST(w AS DOUBLE) * t / CAST(n AS DOUBLE)) AS BIGINT) AS ppm
        |  FROM cnt JOIN tgt USING (source) CROSS JOIN tt
        |)
        |SELECT doc_id, source FROM documents JOIN rate USING (source)
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |  % 1000000 < ppm
        |ORDER BY doc_id""".stripMargin,

    // q98: replay the top-16 vocabulary cut (count desc, token asc — total
    // order) and the per-doc OOV tally, duplicates counted.
    "q98_vocab_oov" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS token FROM t
        |), v AS (
        |  SELECT token FROM (SELECT token, count(*) AS cnt FROM tok GROUP BY token)
        |  ORDER BY cnt DESC, token ASC LIMIT 16
        |), o AS (
        |  SELECT doc_id, count(*) AS n_oov FROM tok
        |  WHERE token NOT IN (SELECT token FROM v) GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  COALESCE(n_oov, 0) AS n_oov,
        |  round(CASE WHEN len(toks) > 0
        |    THEN CAST(COALESCE(n_oov, 0) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS oov_rate
        |FROM t LEFT JOIN o USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q99: recompute the q31 quality score, then replay the per-source
    // cume_dist cut over the same (score, doc_id) total order.
    "q99_quality_gate" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, text,
        |    regexp_extract_all(lower(text), '\\S+') AS ltoks,
        |    regexp_extract_all(text, '\\S+') AS toks
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, source,
        |    round((CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
        |      + (CASE WHEN (CASE WHEN len(ltoks) > 0
        |            THEN CAST(len(list_filter(ltoks, x -> x IN $stopwordsSql)) AS DOUBLE) / CAST(len(ltoks) AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END) >= 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
        |      + (CASE WHEN (CASE WHEN length(text) > 0
        |            THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |            ELSE CAST(0.0 AS DOUBLE) END) <= 0.2 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS quality
        |  FROM t
        |), w AS (
        |  SELECT doc_id, source,
        |    cume_dist() OVER (PARTITION BY source ORDER BY quality, doc_id) AS cd
        |  FROM r
        |)
        |SELECT doc_id, source FROM w WHERE cd > 0.3 ORDER BY doc_id""".stripMargin,

    // q100: replay the full deterministic k-means — floor-quantization,
    // integer distances, lowest-cid tie-break, floor(sum/count) updates,
    // empty-cluster carry-over — iteration by iteration (CTE chain built by
    // kmeansCtesSql, mirroring Cluster.kmeansQuantized step for step).
    "q100_kmeans" -> (kmeansCtesSql(k = 4, iters = 3, dims = 64, scale = 1 << 20) +
      "\nSELECT vec_id, cid FROM a3 ORDER BY vec_id"),

    // q105: fit/assign through the stored model must equal the in-memory
    // run — same oracle as q100.
    "q105_kmeans_assign_stored" -> (kmeansCtesSql(k = 4, iters = 3, dims = 64, scale = 1 << 20) +
      "\nSELECT vec_id, cid FROM a3 ORDER BY vec_id"),

    // q101: the same k-means chain, then per-row norms and the within-
    // cluster (lower-id, cosine ≥ τ) drop rule.
    "q101_semdedup" -> (kmeansCtesSql(k = 4, iters = 3, dims = 64, scale = 1 << 20) +
      """,
        |nn AS (
        |  SELECT vec_id, cid, q,
        |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
        |  FROM a3
        |),
        |drp AS (
        |  SELECT DISTINCT b.vec_id AS id_b
        |  FROM nn a JOIN nn b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
        |        / (a.nrm * b.nrm) >= 0.45
        |)
        |SELECT vec_id, cid FROM a3 WHERE vec_id NOT IN (SELECT id_b FROM drp)
        |ORDER BY vec_id""".stripMargin),

    // q101b: q101's chain with the BOUNDED pair key — per-cid occupancy,
    // quantized-plane sign bits (exact integer dots, literals identical
    // to the engine's), refined rcid = cid·16 + 8·isSplit + sig, and the
    // same lower-id drop rule joined on rcid.
    "q101b_semdedup_bounded" -> (kmeansCtesSql(k = 4, iters = 3, dims = 64, scale = 1 << 20) +
      s""",
        |occ AS (SELECT cid, COUNT(*) AS n FROM a3 GROUP BY cid),
        |pq(j, p) AS (VALUES
        |${quantPlaneValuesSql(3, 64, 101L)}
        |),
        |sg AS (
        |  SELECT a.vec_id,
        |    CAST(SUM(CASE WHEN CAST(list_sum(list_transform(range(1, 65),
        |        i -> a.q[i] * p.p[i])) AS BIGINT) >= 0
        |      THEN 1 << p.j ELSE 0 END) AS BIGINT) AS sig
        |  FROM a3 a CROSS JOIN pq p GROUP BY a.vec_id
        |),
        |r AS (
        |  SELECT a.vec_id, a.cid, a.q,
        |    CASE WHEN o.n <= 100 THEN a.cid * 16
        |         ELSE a.cid * 16 + 8 + s.sig END AS rcid
        |  FROM a3 a JOIN occ o USING (cid) JOIN sg s USING (vec_id)
        |),
        |nn AS (
        |  SELECT vec_id, cid, rcid, q,
        |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
        |  FROM r
        |),
        |drp AS (
        |  SELECT DISTINCT b.vec_id AS id_b
        |  FROM nn a JOIN nn b ON a.rcid = b.rcid AND a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
        |        / (a.nrm * b.nrm) >= 0.45
        |)
        |SELECT vec_id, cid FROM a3 WHERE vec_id NOT IN (SELECT id_b FROM drp)
        |ORDER BY vec_id""".stripMargin),

    // q102: the k-means chain, then exact integer distance to the FINAL
    // centroid (c2) and the per-cluster cume_dist cut over the
    // (−dist, vec_id) total order — identical machinery to q99's gate.
    "q102_semantic_prune" -> (kmeansCtesSql(k = 4, iters = 3, dims = 64, scale = 1 << 20) +
      """,
        |dd AS (
        |  SELECT a.vec_id, a.cid,
        |    CAST(list_sum(list_transform(range(1, 65), i -> (a.q[i] - c.q[i]) * (a.q[i] - c.q[i]))) AS BIGINT) AS dist
        |  FROM a3 a JOIN c2 c USING (cid)
        |),
        |w AS (
        |  SELECT vec_id, cid, dist,
        |    cume_dist() OVER (PARTITION BY cid ORDER BY -dist ASC, vec_id ASC) AS cd
        |  FROM dd
        |)
        |SELECT vec_id, cid, dist FROM w WHERE cd > 0.2 ORDER BY vec_id""".stripMargin),

    // q106: q101's within-cluster drop, then q102's distance gate computed
    // over the SURVIVORS only.
    "q106_semantic_curate" -> (kmeansCtesSql(k = 4, iters = 3, dims = 64, scale = 1 << 20) +
      """,
        |nn AS (
        |  SELECT vec_id, cid, q,
        |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
        |  FROM a3
        |),
        |drp AS (
        |  SELECT DISTINCT b.vec_id AS id_b
        |  FROM nn a JOIN nn b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
        |        / (a.nrm * b.nrm) >= 0.45
        |),
        |sv AS (
        |  SELECT vec_id, cid, q FROM a3
        |  WHERE vec_id NOT IN (SELECT id_b FROM drp)
        |),
        |dd AS (
        |  SELECT s.vec_id, s.cid,
        |    CAST(list_sum(list_transform(range(1, 65), i -> (s.q[i] - c.q[i]) * (s.q[i] - c.q[i]))) AS BIGINT) AS dist
        |  FROM sv s JOIN c2 c USING (cid)
        |),
        |w AS (
        |  SELECT vec_id, cid, dist,
        |    cume_dist() OVER (PARTITION BY cid ORDER BY -dist ASC, vec_id ASC) AS cd
        |  FROM dd
        |)
        |SELECT vec_id, cid, dist FROM w WHERE cd > 0.2 ORDER BY vec_id""".stripMargin),

    // q106b: q106's chain with q101b's BOUNDED pair key — per-cid
    // occupancy, plane-sign split (cap 100), refined rcid join — then the
    // same cume_dist gate over the (possibly larger) survivor set.
    "q106b_semantic_curate_bounded" -> (kmeansCtesSql(k = 4, iters = 3, dims = 64, scale = 1 << 20) +
      s""",
        |occ AS (SELECT cid, COUNT(*) AS n FROM a3 GROUP BY cid),
        |pq(j, p) AS (VALUES
        |${quantPlaneValuesSql(3, 64, 101L)}
        |),
        |sg AS (
        |  SELECT a.vec_id,
        |    CAST(SUM(CASE WHEN CAST(list_sum(list_transform(range(1, 65),
        |        i -> a.q[i] * p.p[i])) AS BIGINT) >= 0
        |      THEN 1 << p.j ELSE 0 END) AS BIGINT) AS sig
        |  FROM a3 a CROSS JOIN pq p GROUP BY a.vec_id
        |),
        |r AS (
        |  SELECT a.vec_id, a.cid, a.q,
        |    CASE WHEN o.n <= 100 THEN a.cid * 16
        |         ELSE a.cid * 16 + 8 + s.sig END AS rcid
        |  FROM a3 a JOIN occ o USING (cid) JOIN sg s USING (vec_id)
        |),
        |nn AS (
        |  SELECT vec_id, cid, rcid, q,
        |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
        |  FROM r
        |),
        |drp AS (
        |  SELECT DISTINCT b.vec_id AS id_b
        |  FROM nn a JOIN nn b ON a.rcid = b.rcid AND a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0
        |    AND CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
        |        / (a.nrm * b.nrm) >= 0.45
        |),
        |sv AS (
        |  SELECT vec_id, cid, q FROM a3
        |  WHERE vec_id NOT IN (SELECT id_b FROM drp)
        |),
        |dd AS (
        |  SELECT s.vec_id, s.cid,
        |    CAST(list_sum(list_transform(range(1, 65), i -> (s.q[i] - c.q[i]) * (s.q[i] - c.q[i]))) AS BIGINT) AS dist
        |  FROM sv s JOIN c2 c USING (cid)
        |),
        |w AS (
        |  SELECT vec_id, cid, dist,
        |    cume_dist() OVER (PARTITION BY cid ORDER BY -dist ASC, vec_id ASC) AS cd
        |  FROM dd
        |)
        |SELECT vec_id, cid, dist FROM w WHERE cd > 0.2 ORDER BY vec_id""".stripMargin),

    // q108: fit on the corpus subset (ef), assign EVERYTHING against the
    // final centroids (af — the assignStored replay), then the
    // corpus-or-lower-batch-id neighbor drop rule.
    "q108_incremental_semdedup" -> incrementalSemDedupOracle,

    // q108b: the arrival path with the BOUNDED pair key forced (cap 100):
    // occupancy counted over the neighbor side (corpus + batch per cid),
    // both join sides re-bucketed by the same plane signs, then the same
    // corpus-or-lower-batch-id drop rule on rcid.
    "q108b_incremental_semdedup_bounded" ->
      (kmeansCtesSql(k = 4, iters = 3, dims = 64,
        scale = 1 << 20, fitWhere = "vec_id % 5 <> 0") +
      s""",
         |af AS (${assignCteSql("e", "c2", 64)}),
         |nb0 AS (
         |  SELECT vec_id, cid, q, TRUE AS is_corpus FROM af WHERE vec_id % 5 <> 0
         |  UNION ALL
         |  SELECT vec_id, cid, q, FALSE AS is_corpus FROM af WHERE vec_id % 5 = 0
         |),
         |occ AS (SELECT cid, COUNT(*) AS n FROM nb0 GROUP BY cid),
         |pq(j, p) AS (VALUES
         |${quantPlaneValuesSql(3, 64, 101L)}
         |),
         |sg AS (
         |  SELECT a.vec_id,
         |    CAST(SUM(CASE WHEN CAST(list_sum(list_transform(range(1, 65),
         |        i -> a.q[i] * p.p[i])) AS BIGINT) >= 0
         |      THEN 1 << p.j ELSE 0 END) AS BIGINT) AS sig
         |  FROM af a CROSS JOIN pq p GROUP BY a.vec_id
         |),
         |nbr AS (
         |  SELECT n.vec_id, n.cid, n.q, n.is_corpus,
         |    CASE WHEN o.n <= 100 THEN n.cid * 16
         |         ELSE n.cid * 16 + 8 + s.sig END AS rcid,
         |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> n.q[i] * n.q[i])) AS DOUBLE)) AS nrm
         |  FROM nb0 n JOIN occ o USING (cid) JOIN sg s USING (vec_id)
         |),
         |drp AS (
         |  SELECT DISTINCT b.vec_id AS id_b
         |  FROM nbr a JOIN nbr b ON a.rcid = b.rcid
         |    AND NOT b.is_corpus AND (a.is_corpus OR a.vec_id < b.vec_id)
         |  WHERE a.nrm > 0 AND b.nrm > 0
         |    AND CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS DOUBLE)
         |        / (a.nrm * b.nrm) >= 0.45
         |)
         |SELECT vec_id, cid FROM af
         |WHERE vec_id % 5 = 0 AND vec_id NOT IN (SELECT id_b FROM drp)
         |ORDER BY vec_id""".stripMargin),

    // q111: identical result contract to q108 — the stored-model /
    // stored-assignments plumbing must be invisible to the oracle.
    "q111_incremental_semdedup_stored" -> incrementalSemDedupOracle,

    // q109: same explode + exact-integer sums; docs with no tokens vanish
    // from BOTH engines' group-bys identically.
    "q109_token_diversity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+')) AS token
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |  round(CASE WHEN sum(c) > 0
        |    THEN 1.0 - CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS simpson
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q110: q50's components replay + cluster sizes + 1/n weights.
    "q110_soft_dedup_weights" ->
      s"""WITH RECURSIVE $minHashPairsCtes,
         |fpairs AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |edges2 AS (
         |  SELECT id_a AS src, id_b AS dst FROM fpairs
         |  UNION SELECT id_b, id_a FROM fpairs
         |), nodes AS (SELECT DISTINCT src AS nid FROM edges2),
         |reach(nid, label) AS (
         |  SELECT nid, nid FROM nodes
         |  UNION
         |  SELECT e.src, r.label FROM reach r JOIN edges2 e ON e.dst = r.nid
         |), comp AS (SELECT nid, min(label) AS cluster_id FROM reach GROUP BY nid),
         |cl AS (
         |  SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON c.nid = d.doc_id
         |), sz AS (SELECT cluster_id, count(*) AS cl_n FROM cl GROUP BY cluster_id)
         |SELECT doc_id, cluster_id, round(1.0 / CAST(cl_n AS DOUBLE), 6) AS weight
         |FROM cl JOIN sz USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,

    // q107: q96's window/doc-frequency machinery with positions carried
    // through (struct-unnest), then the per-doc mask union and the indexed
    // token filter — 1-based here, 0-based in Spark, each self-consistent.
    "q107_strip_boilerplate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, toks,
        |    list_transform(range(1, len(toks) - 4),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |           toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]) AS grams
        |  FROM t
        |), h0 AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(grams) + 1),
        |    i -> {'i': i, 'gh': CAST(('0x' || substr(md5(grams[i]), 1, 15)) AS BIGINT)})) AS u
        |  FROM g
        |), h AS (
        |  SELECT doc_id, u.i AS i, u.gh AS gh FROM h0
        |), b AS (
        |  SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM h GROUP BY gh)
        |  WHERE nd >= 3
        |), w AS (
        |  SELECT doc_id, list(i ORDER BY i) AS ws FROM h
        |  WHERE gh IN (SELECT gh FROM b) GROUP BY doc_id
        |), m AS (
        |  SELECT g.doc_id, g.toks,
        |    list_distinct(flatten(list_transform(COALESCE(w.ws, []), i -> range(i, i + 6)))) AS masked
        |  FROM g LEFT JOIN w USING (doc_id)
        |), k AS (
        |  SELECT doc_id, toks,
        |    list_filter(toks, (x, p) -> NOT list_contains(masked, p)) AS kept
        |  FROM m
        |)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
        |  COALESCE(array_to_string(kept, ' '), '') AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // q103: q50's connected-components replay, then the md5-bucket split
    // keyed on cluster_id (q60's CASE, cluster-id input).
    "q103_leakage_safe_split" ->
      s"""WITH RECURSIVE $minHashPairsCtes,
         |fpairs AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |edges2 AS (
         |  SELECT id_a AS src, id_b AS dst FROM fpairs
         |  UNION SELECT id_b, id_a FROM fpairs
         |), nodes AS (SELECT DISTINCT src AS nid FROM edges2),
         |reach(nid, label) AS (
         |  SELECT nid, nid FROM nodes
         |  UNION
         |  SELECT e.src, r.label FROM reach r JOIN edges2 e ON e.dst = r.nid
         |), comp AS (SELECT nid, min(label) AS cluster_id FROM reach GROUP BY nid),
         |cl AS (
         |  SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON c.nid = d.doc_id
         |)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, cluster_id,
         |        CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
         |      FROM cl)
         |ORDER BY doc_id""".stripMargin,

    // q104: the portable pair pipeline, thresholded, joined to sources on
    // both ends, normalized to an unordered pair, counted.
    "q104_dup_source_matrix" ->
      s"""WITH $minHashPairsCtes,
         |fp AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5)
         |SELECT least(da.source, db.source) AS src_lo,
         |  greatest(da.source, db.source) AS src_hi, count(*) AS n_pairs
         |FROM fp
         |JOIN documents da ON da.doc_id = fp.id_a
         |JOIN documents db ON db.doc_id = fp.id_b
         |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin,

    // q95: salting is invisible in the result — the oracle is the plain
    // skewed join.
    "q95_skew_salted_join" ->
      """SELECT grp, count(*) AS n_items,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM (SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
        |             ELSE l_orderkey % 100 END AS skew_key, l_extendedprice
        |      FROM lineitem) l
        |JOIN (SELECT range AS skew_key, range % 5 AS grp FROM range(100)) r
        |  USING (skew_key)
        |GROUP BY grp ORDER BY grp""".stripMargin,

    // q95b: selective salting is pure layout — same result as q95.
    "q95b_adaptive_salted_join" ->
      """SELECT grp, count(*) AS n_items,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM (SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
        |             ELSE l_orderkey % 100 END AS skew_key, l_extendedprice
        |      FROM lineitem) l
        |JOIN (SELECT range AS skew_key, range % 5 AS grp FROM range(100)) r
        |  USING (skew_key)
        |GROUP BY grp ORDER BY grp""".stripMargin,

    // q90: the compacted table must aggregate identically to the source.
    "q90_compaction" ->
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q91 replays content-defined chunking: same 4-token windows, same
    // md5h60 mask rule (1-based i ↔ Spark's 0-based i: cut = i+3 ↔ i+4),
    // same block slices and hashes.
    "q91_cdc_blocks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_transform(range(1, greatest(len(toks) - 2, 1)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS grams
        |  FROM t
        |), c AS (
        |  SELECT doc_id, toks, n,
        |    list_filter(list_transform(range(1, len(grams) + 1),
        |      i -> CASE WHEN CAST(('0x' || substr(md5(grams[i]), 1, 15)) AS BIGINT) % 16 = 0
        |           THEN i + 3 ELSE -1 END),
        |      x -> x >= 0 AND x < n) AS cuts
        |  FROM g
        |), b AS (
        |  SELECT doc_id, toks,
        |    list_prepend(0, cuts) AS starts,
        |    list_append(cuts, n) AS ends
        |  FROM c
        |), e AS (
        |  SELECT doc_id, toks, unnest(list_filter(
        |    list_transform(range(1, len(starts) + 1),
        |      j -> struct_pack(s := starts[j], e := ends[j])),
        |    st -> st.e > st.s)) AS blk
        |  FROM b
        |), blocks AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(array_to_string(toks[blk.s + 1 : blk.e], ' ')), 1, 15)) AS BIGINT) AS block_hash,
        |    CAST(blk.e - blk.s AS BIGINT) AS n_tokens
        |  FROM e
        |)
        |SELECT block_hash, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_occurrences, max(n_tokens) AS n_tokens
        |FROM blocks GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
        |ORDER BY block_hash""".stripMargin,

    // q92 replays LOCF with the same count-partition trick — the filled
    // doubles are SELECTED inputs, bit-exact.
    "q92_locf" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events
        |), g AS (
        |  SELECT event_id, user_id, v,
        |    count(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM e
        |)
        |SELECT event_id, user_id, v,
        |  max(v) OVER (PARTITION BY user_id, grp) AS v_filled
        |FROM g ORDER BY event_id""".stripMargin,

    // q82 replays the data card: q31's quality replay + q13's fingerprint
    // replay + q59's token count, rolled up per language.
    "q82_data_card" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang, text,
        |    regexp_extract_all(lower(text), '\\S+') AS ltoks,
        |    regexp_extract_all(text, '\\S+') AS toks,
        |    CAST(len(regexp_extract_all(trim(text), '\\S+')) AS BIGINT) AS n_tokens,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang, n_tokens, fp, len(toks) AS nt,
        |    CASE WHEN length(text) > 0
        |      THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS p_ratio,
        |    CASE WHEN len(ltoks) > 0
        |      THEN CAST(len(list_filter(ltoks, x -> x IN $stopwordsSql)) AS DOUBLE) / CAST(len(ltoks) AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS sw_ratio
        |  FROM t
        |), q AS (
        |  SELECT doc_id, lang, n_tokens, fp,
        |    round((CASE WHEN nt BETWEEN 5 AND 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
        |        + (CASE WHEN sw_ratio >= 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
        |        + (CASE WHEN p_ratio <= 0.2 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS quality
        |  FROM r
        |), d AS (
        |  SELECT fp, count(*) AS n_fp FROM q GROUP BY 1
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(CAST(quality AS DECIMAL(18,1))) AS DOUBLE) / count(*), 6) AS mean_quality,
        |  CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        |FROM q JOIN d USING (fp)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // q83 replays the quartiles: same total order, same NTILE remainder
    // rule (both engines put the remainder in the earliest buckets).
    "q83_length_quartiles" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, lang, n_tokens,
        |    ntile(4) OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS quartile
        |  FROM t
        |)
        |SELECT lang, quartile, count(*) AS n_docs,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM n GROUP BY 1, 2 ORDER BY lang, quartile""".stripMargin,

    "q84_set_ops" ->
      """WITH open_c AS (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |), high_c AS (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |)
        |SELECT * FROM (
        |  SELECT o_custkey, 'open_only' AS set_kind
        |  FROM (SELECT o_custkey FROM open_c EXCEPT SELECT o_custkey FROM high_c)
        |  UNION ALL
        |  SELECT o_custkey, 'open_and_high' AS set_kind
        |  FROM (SELECT o_custkey FROM open_c INTERSECT SELECT o_custkey FROM high_c)
        |) ORDER BY set_kind, o_custkey""".stripMargin,

    // q85: pivot then melt back; zero-count combos are dropped on both
    // sides, so the long forms agree.
    "q85_unpivot" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2
        |ORDER BY user_id, event_type""".stripMargin,

    "q86_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin,

    // q87: percent_rank = (rank-1)/(n-1) and cume_dist = peers/n — the
    // same definition in both engines, one exact division each.
    "q87_rank_normalize" ->
      """SELECT event_id, event_type, value,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,

    "q88_date_spine" ->
      """WITH b AS (
        |  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b
        |), d AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |)
        |SELECT CAST(s.day AS VARCHAR) AS day,
        |  CAST(coalesce(d.n, 0) AS BIGINT) AS n_purchases
        |FROM spine s LEFT JOIN d USING (day) ORDER BY day""".stripMargin,

    "q34_simhash_pairs" -> q34Oracle,

    "q50_dup_clusters" -> q50Oracle,
    // same oracle: the distributed pointer-jumping path must agree with
    // the driver union-find exactly
    "q50b_dup_clusters_distributed" -> q50Oracle,

    // q52 replays the HTML pipeline in DuckDB: same fabricated markup, same
    // regex chain (RE2 'g' flag = Java replace-all). The fabricated HTML has
    // no literal NBSP chars (only the &nbsp; entity → plain space), so the
    // NBSP class in Spark's cleanText is identity and the oracle skips it.
    "q52_html_blocks" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><body> <h1>Doc&nbsp;' || CAST(doc_id AS VARCHAR)
        |    || '</h1><table><tr><td>a</td><td>b</td></tr></table>'
        |    || '<p align="center">SECTION ' || CAST(doc_id AS VARCHAR)
        |    || '</p>' || chr(10) || '<p> ' || substr(text, 1, 60)
        |    || '  &amp; tail </p><br><div>fim</div><p>...</p><p> '
        |    || chr(13) || chr(10) || ' </p></body></html>' AS html
        |  FROM documents
        |), marked AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(html, '(?is)<table.*?</table>', '<p>[tabela]</p>', 'g'),
        |      '(?i)<(?:/?(?:p|div|h[1-6]|li|tr)(?:\s[^>]*)?|br\s*/?)>', chr(1), 'g') AS m
        |  FROM h
        |), cleaned AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(m, '<[^>]*>', '', 'g'),
        |      '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        |      '\n', ' ', 'g'), '\r', '', 'g') AS t
        |  FROM marked
        |), blocks AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(string_split(t, chr(1)),
        |        b -> trim(regexp_replace(b, '\s{2,}', ' ', 'g'))),
        |      b -> len(b) > 0 AND NOT regexp_matches(b, '^[.\s]+$')) AS bl
        |  FROM cleaned
        |)
        |SELECT doc_id, CAST(len(bl) AS BIGINT) AS n_blocks, bl[1] AS first_block,
        |  array_to_string(bl, chr(10)) AS full_text
        |FROM blocks ORDER BY doc_id""".stripMargin,

    // q51 replays the model DAG as flattened CTEs — same staging filter,
    // same joins, same decimal-backed revenue sum.
    "q51_model_dag" ->
      """WITH stg_fin_orders AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        |), int_cust_rev AS (
        |  SELECT c.c_nationkey, o.o_totalprice FROM stg_fin_orders o
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |)
        |SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM int_cust_rev i JOIN nation n ON n.n_nationkey = i.c_nationkey
        |GROUP BY n.n_name
        |ORDER BY nation""".stripMargin,

    // q53 replays the KMV estimate exactly: distinct portable hashes per
    // group, k-th smallest via window rank, floor((k-1)·2^60 / h_k). All
    // doubles involved are identically rounded in both engines.
    "q53_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag, l_linestatus,
        |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM lineitem
        |), r AS (
        |  SELECT l_returnflag, l_linestatus, h,
        |    row_number() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS cnt
        |  FROM h
        |), e AS (
        |  SELECT l_returnflag, l_linestatus, max(cnt) AS cnt,
        |    max(CASE WHEN rn = 128 THEN h END) AS hk
        |  FROM r GROUP BY 1, 2
        |), x AS (
        |  SELECT l_returnflag, l_linestatus, count(DISTINCT l_partkey) AS n_exact
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT e.l_returnflag, e.l_linestatus,
        |  CASE WHEN e.cnt < 128 THEN e.cnt
        |    ELSE CAST(floor(127.0 * 1152921504606846976.0 / e.hk) AS BIGINT) END AS est_partkeys,
        |  x.n_exact
        |FROM e JOIN x USING (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // q54 replays tf × odds-idf: same tokenizer regex, same rational score
    // (exact integer numerator, one correctly-rounded IEEE division — no
    // libm ln, so the doubles match bit-for-bit), same (score DESC, token)
    // ranking.
    "q54_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(tf.tf * (2 * (n.n_docs - df.df) + 1) AS DOUBLE)
        |      / CAST(2 * df.df + 1 AS DOUBLE) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        |  FROM scored
        |)
        |SELECT doc_id, token, tf, df, score FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, token""".stripMargin,

    // q55 replays SCD2: same null-safe change detection, same running-sum
    // version ordinal, same forward-min valid_to, same per-run count.
    "q55_scd2" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN (event_type IS DISTINCT FROM lag(event_type) OVER w)
        |           OR row_number() OVER w = 1
        |      THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), r AS (
        |  SELECT *,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS version,
        |    min(CASE WHEN chg = 1 THEN ts END) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS valid_to
        |  FROM o
        |), c AS (
        |  SELECT *, count(*) OVER (PARTITION BY user_id, version) AS n_obs
        |  FROM r
        |)
        |SELECT user_id, event_type, CAST(version AS BIGINT) AS version,
        |  ts AS valid_from, valid_to, n_obs
        |FROM c WHERE chg = 1
        |ORDER BY user_id, version""".stripMargin,

    // q56 replays the profile per column (the single-pass constraint is a
    // Spark-side property; the oracle may scan per column). KMV replay:
    // distinct portable hashes ascending, LIMIT k, then count/max.
    "q56_profile" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .map { c =>
        s"""SELECT '$c' AS col_name,
           |  (SELECT count(*) FROM orders) AS n_rows,
           |  (SELECT count(*) - count($c) FROM orders) AS n_nulls,
           |  (SELECT CASE WHEN count(*) < 256 THEN count(*)
           |     ELSE CAST(floor(255.0 * 1152921504606846976.0 / max(h)) AS BIGINT) END
           |   FROM (SELECT DISTINCT CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           |         FROM orders WHERE $c IS NOT NULL
           |         ORDER BY h LIMIT 256)) AS est_distinct,
           |  (SELECT min(CAST($c AS VARCHAR)) FROM orders) AS min_value,
           |  (SELECT max(CAST($c AS VARCHAR)) FROM orders) AS max_value""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    // q58 replays the chunker: same whitespace tokens, same 1-indexed
    // start grid (step = 64 - 16 = 48, truncated at the first start whose
    // window reaches end-of-doc), same slice-and-join.
    "q58_token_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1,
        |      greatest(CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) * 48, 0) + 1,
        |      48)) AS s1
        |  FROM t
        |)
        |SELECT doc_id, CAST(s1 - 1 AS BIGINT) AS start,
        |  CAST(least(64, len(toks) - s1 + 1) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[s1 : s1 + 63], ' ') AS chunk
        |FROM s ORDER BY doc_id, start""".stripMargin,

    // q59 replays offset packing: exclusive running sum per lang shard in
    // doc_id order, integer division for the bin.
    "q59_seq_packing" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM c
        |)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(cum // 2048 AS BIGINT) AS bin_id,
        |  CAST(cum - (cum // 2048) * 2048 AS BIGINT) AS offset_in_bin
        |FROM r ORDER BY lang, doc_id""".stripMargin,

    // q60/q61 replay the portable md5 bucket / smallest-hash ordering.
    "q60_split_assign" ->
      """WITH b AS (
        |  SELECT lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |)
        |SELECT lang,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM b GROUP BY 1, 2
        |ORDER BY lang, split""".stripMargin,

    "q61_eval_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM documents ORDER BY h, doc_id LIMIT 200)
        |ORDER BY doc_id""".stripMargin,

    // q62's oracle is the EXACT heavy-hitter set — the sketch pass only
    // prunes, and its superset guarantee means pruning loses nothing above
    // the threshold.
    "q62_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
        |  FROM documents
        |), n AS (
        |  SELECT count(*) AS n FROM toks
        |), c AS (
        |  SELECT token, count(*) AS cnt FROM toks GROUP BY 1
        |)
        |SELECT token, cnt FROM c CROSS JOIN n
        |WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) / CAST(201 AS DOUBLE)
        |ORDER BY token""".stripMargin,

    // q63/q64: the skew-salt and bucketed layouts are plan-level
    // strategies that must NOT change results — both oracles are the plain
    // equi-join the strategies re-express.
    "q63_salted_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q64_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS tot_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // q65 replays the pruned month from the raw table: the partition
    // stamps are pure functions of o_orderdate, so filtering on them
    // equals filtering the source month.
    "q65_partition_pruned" ->
      """SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
        |  count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS tot_price
        |FROM orders
        |WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q66: the bloom is pruning-only, so the oracle is the plain join.
    "q66_bloom_join" ->
      """SELECT l_suppkey, count(*) AS n_items,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q67 replays the per-group sample: same portable md5 rank, same
    // (hash, key) tiebreak.
    "q67_group_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |             doc_id) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, source FROM r WHERE rn <= 10
        |ORDER BY source, doc_id""".stripMargin,

    // q68 replays the MERGE: latest change per key by (ts, event_id),
    // 'error' = delete, full outer vs the base snapshot.
    "q68_cdc_apply" ->
      """WITH ch AS (
        |  SELECT user_id, event_type AS status,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), latest AS (
        |  SELECT user_id, status, op FROM ch WHERE rn = 1
        |), base AS (
        |  SELECT c_custkey AS user_id, c_mktsegment AS status FROM customer
        |)
        |SELECT coalesce(b.user_id, l.user_id) AS user_id,
        |  CASE WHEN l.op IS NOT NULL THEN l.status ELSE b.status END AS status
        |FROM base b FULL JOIN latest l ON b.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'delete'
        |ORDER BY user_id""".stripMargin,

    // q69 replays the n-gram repetition ratios: same whitespace tokens,
    // same sliding windows, integer counts + one exact IEEE division.
    "q69_dup_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) AS g2,
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN len(g2) > 0
        |    THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
        |    ELSE 0.0 END AS dup_2gram_ratio,
        |  CASE WHEN len(g3) > 0
        |    THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
        |    ELSE 0.0 END AS dup_3gram_ratio
        |FROM g ORDER BY doc_id""".stripMargin,

    // q70 replays the bucket math: sub/div/floor/clamp, all correctly
    // rounded under IEEE 754.
    "q70_histogram" ->
      """SELECT CAST(least(greatest(floor((value - 0.0) / ((500.0 - 0.0) / 25)), 0), 24) AS BIGINT) AS bin,
        |  count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q71 replays pack → assemble: q59's exclusive running sum for the
    // bin, then an ORDER BY string_agg per bin.
    "q71_bin_assembly" ->
      """WITH c AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(regexp_extract_all(trim(text), '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM c
        |)
        |SELECT lang, CAST(cum // 2048 AS BIGINT) AS bin_id,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  string_agg(text, chr(10) ORDER BY doc_id) AS bin_text
        |FROM r GROUP BY 1, 2 ORDER BY lang, bin_id""".stripMargin,

    // q72 replays the pivot as conditional counts.
    "q72_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q73 replays the z-score with the same op order: exact decimal
    // moments, then ÷ × − sqrt — all correctly rounded, bit-identical.
    "q73_zscore" ->
      """WITH m AS (
        |  SELECT event_id, event_type, value,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY event_type) AS DOUBLE) AS s,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      OVER (PARTITION BY event_type) AS DOUBLE) AS sq
        |  FROM events
        |)
        |SELECT event_id, event_type, value,
        |  (value - s / n) / sqrt(sq / n - (s / n) * (s / n)) AS z
        |FROM m ORDER BY event_id""".stripMargin,

    // q74 replays the lag features: decimal moving sum (exact under any
    // association), correctly-rounded delta and division.
    "q74_lag_features" ->
      """SELECT event_id, user_id, value,
        |  value - lag(value, 1) OVER w AS delta,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |      OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov3
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    // q75 replays decontamination on RAW grams (the engine joins on
    // xxhash64 of the gram — same verdict absent a 2^-64 collision, which
    // this compare would catch).
    "q75_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
        |  FROM documents
        |), ev AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY
        |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |      doc_id) AS rn
        |    FROM documents) WHERE rn <= 20
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |         toks[i+3] || ' ' || toks[i+4]))) AS gram
        |  FROM t
        |), evg AS (
        |  SELECT DISTINCT gram FROM g JOIN ev USING (doc_id)
        |), cont AS (
        |  SELECT DISTINCT g.doc_id FROM g JOIN evg USING (gram)
        |)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM cont)
        |ORDER BY doc_id""".stripMargin,

    // q76 replays winsorization: q57's order-statistic thresholds, then a
    // pure least/greatest clip of pass-through doubles.
    "q76_winsorize" ->
      """WITH f AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM f
        |), pct AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = ceil(n * CAST(0.05 AS DOUBLE)) THEN value END) AS p5,
        |    max(CASE WHEN rn = ceil(n * CAST(0.95 AS DOUBLE)) THEN value END) AS p95
        |  FROM r GROUP BY event_type
        |)
        |SELECT event_id, e.event_type, value,
        |  least(greatest(value, p5), p95) AS clipped
        |FROM events e JOIN pct USING (event_type)
        |ORDER BY event_id""".stripMargin,

    // q77 replays the funnel over q49's session replay.
    "q77_funnel" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts, event_type,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |), per_session AS (
        |  SELECT user_id, session_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        |  FROM s GROUP BY user_id, session_id
        |)
        |SELECT user_id, count(*) AS n_sessions,
        |  count(first_view) AS n_view_sessions,
        |  CAST(sum(CASE WHEN first_purchase IS NOT NULL AND first_view IS NOT NULL
        |    AND first_view <= first_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q78 replays the cohorts with the same integer epoch-day index.
    "q78_retention" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS day
        |  FROM events
        |), c AS (
        |  SELECT user_id, day,
        |    min(day) OVER (PARTITION BY user_id) AS cohort_day
        |  FROM e
        |), d AS (
        |  SELECT DISTINCT user_id, cohort_day, day - cohort_day AS day_offset FROM c
        |)
        |SELECT cohort_day, day_offset, count(DISTINCT user_id) AS n_users
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q79 replays the grouped mode with the same (count DESC, type)
    // tiebreak.
    "q79_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY cnt DESC, event_type) AS rn
        |  FROM c
        |)
        |SELECT user_id, event_type AS top_type, cnt FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // q80: the versioned read must equal the raw table.
    "q80_versioned_read" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS tot
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // q57 replays the order-statistic percentiles: same rank window, same
    // IEEE ceil(p*n) rank selection, doubles selected not computed.
    "q57_percentiles" ->
      """WITH f AS (
        |  SELECT event_type, value FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM f
        |)
        |SELECT event_type,
        |  max(CASE WHEN rn = ceil(n * CAST(0.5 AS DOUBLE)) THEN value END) AS p50,
        |  max(CASE WHEN rn = ceil(n * CAST(0.95 AS DOUBLE)) THEN value END) AS p95,
        |  max(CASE WHEN rn = ceil(n * CAST(0.99 AS DOUBLE)) THEN value END) AS p99,
        |  max(n) AS n_values
        |FROM r GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q47_pii_redact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    text || ' Contato: '
        |      || substr(lpad(CAST(doc_id AS VARCHAR), 11, '0'), 1, 3) || '.'
        |      || substr(lpad(CAST(doc_id AS VARCHAR), 11, '0'), 4, 3) || '.'
        |      || substr(lpad(CAST(doc_id AS VARCHAR), 11, '0'), 7, 3) || '-'
        |      || substr(lpad(CAST(doc_id AS VARCHAR), 11, '0'), 10, 2)
        |      || ' user' || CAST(doc_id AS VARCHAR) || '@saude.rio.gov.br'
        |      || ' (21) 9' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\d{3}\.\d{3}\.\d{3}-\d{2}')) AS BIGINT) AS n_cpf,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\(\d{2}\)\s?\d{4,5}-\d{4}')) AS BIGINT) AS n_phone,
        |  right(regexp_replace(regexp_replace(regexp_replace(text,
        |    '\d{3}\.\d{3}\.\d{3}-\d{2}', '[CPF]', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\(\d{2}\)\s?\d{4,5}-\d{4}', '[PHONE]', 'g'), 60) AS tail
        |FROM f ORDER BY doc_id""".stripMargin,

    "q49_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(min(ts) AS VARCHAR) AS session_start,
        |  CAST(max(ts) AS VARCHAR) AS session_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q48_hash_sample" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |  < CASE WHEN o_orderpriority = '1-URGENT' THEN 50 ELSE 10 END
        |ORDER BY o_orderkey""".stripMargin,

    // q112 replays the STREAMING sessionize: gap decisions on epoch-MILLIS
    // (Timestamp.getTime truncates micros — the probe confirmed no gap in
    // this data falls inside the 1ms ambiguity window around 1800s, so ms
    // and µs semantics agree); double sums rounded to 2dp on both sides to
    // absorb addition-order drift.
    "q112_stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN epoch_ms(ts) - epoch_ms(lag(ts) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g
        |)
        |SELECT user_id, min(epoch_ms(ts)) AS session_start_ms,
        |  max(epoch_ms(ts)) AS session_end_ms,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,

    "q113_stream_interval_join" ->
      """SELECT c.user_id, c.event_id, p.event_id AS purchase_id
        |FROM events c JOIN events p ON p.user_id = c.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY 1, 2, 3""".stripMargin,

    // q116/q116b: streaming keep-lowest-id-among-arrived dedup; the
    // resume variant shares the oracle — crash recovery must be
    // output-invisible.
    "q116_stream_dedup" -> q116Oracle,
    "q116b_stream_dedup_resume" -> q116Oracle,
    // q116c: retention (compact+vacuum every batch) + kill-and-resume
    // must land the identical survivor table — same oracle by design
    "q116c_stream_dedup_retention" -> q116Oracle,

    // q117/q117b: streaming semantic dedup (stored model, carried
    // centroids, per-batch group commits); the resume variant shares the
    // oracle — crash recovery must be output-invisible.
    "q117_stream_semdedup" -> streamingSemDedupOracle,
    "q117b_stream_semdedup_resume" -> streamingSemDedupOracle,
    // q117c: retention with carried model + kill-and-resume, same oracle
    "q117c_stream_semdedup_retention" -> streamingSemDedupOracle,

    // q115 shares the same oracle as q114/q68: a kill + checkpoint-resume
    // must land the identical final snapshot (exactly-once through
    // failure).
    "q115_stream_cdc_resume" ->
      """WITH ch AS (
        |  SELECT user_id, event_type AS status,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), latest AS (
        |  SELECT user_id, status, op FROM ch WHERE rn = 1
        |), base AS (
        |  SELECT c_custkey AS user_id, c_mktsegment AS status FROM customer
        |)
        |SELECT coalesce(b.user_id, l.user_id) AS user_id,
        |  CASE WHEN l.op IS NOT NULL THEN l.status ELSE b.status END AS status
        |FROM base b FULL JOIN latest l ON b.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'delete'
        |ORDER BY user_id""".stripMargin,

    // q114 shares q68's oracle: stream-MERGE must equal batch-MERGE.
    "q114_stream_cdc" ->
      """WITH ch AS (
        |  SELECT user_id, event_type AS status,
        |    CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), latest AS (
        |  SELECT user_id, status, op FROM ch WHERE rn = 1
        |), base AS (
        |  SELECT c_custkey AS user_id, c_mktsegment AS status FROM customer
        |)
        |SELECT coalesce(b.user_id, l.user_id) AS user_id,
        |  CASE WHEN l.op IS NOT NULL THEN l.status ELSE b.status END AS status
        |FROM base b FULL JOIN latest l ON b.user_id = l.user_id
        |WHERE l.op IS NULL OR l.op <> 'delete'
        |ORDER BY user_id""".stripMargin,

    "q40_media_features" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents
        |)
        |SELECT media_id, modality, byte_len, h AS checksum,
        |  CAST(16 + (h % 1024) AS INTEGER) AS width,
        |  CAST(16 + ((h // 7) % 1024) AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_frames,
        |  'stub' AS format
        |FROM b ORDER BY media_id""".stripMargin,

    "q40b_image_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8 + doc_id % 64 AS INTEGER) AS width,
        |  CAST(8 + (doc_id * 3) % 64 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_frames,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY media_id""".stripMargin,

    "q40c_audio_decode" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    CAST(8000 + (doc_id % 8) * 1000 AS INTEGER) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    CAST(500 + doc_id % 1000 AS BIGINT) AS n_frames
        |  FROM documents
        |)
        |SELECT media_id, sample_rate, channels, n_frames,
        |  n_frames * 1000 // sample_rate AS duration_ms,
        |  'wave' AS format
        |FROM p ORDER BY media_id""".stripMargin,

    // q40e: the stride/cap arithmetic over the REAL stts frame counts.
    "q40e_frame_sampling" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id, 24 + doc_id % 1000 AS frames
        |  FROM documents
        |)
        |SELECT media_id,
        |  CAST(least(frames - 1, 105) // 7 + 1 AS BIGINT) AS n_sampled,
        |  CAST((least(frames - 1, 105) // 7) * 7 AS BIGINT) AS max_idx
        |FROM p ORDER BY media_id""".stripMargin,

    "q40d_video_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(1000 + (doc_id % 600) * 100 AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
        |    AS n_tracks,
        |  CAST(160 + (doc_id % 32) * 8 AS INTEGER) AS width,
        |  CAST(90 + (doc_id % 24) * 6 AS INTEGER) AS height,
        |  CAST(24 + doc_id % 1000 AS BIGINT) AS n_frames,
        |  'isom' AS format
        |FROM documents ORDER BY media_id""".stripMargin,

    // q40f: full pixel replay — the fill formula, the 8x8 cell
    // quantization and the cross-multiplied block-mean bits, all integer
    // exact (PNG and BMP are lossless, so the decoded raster IS the fill).
    "q40f_pixel_decode" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    CAST(8 + doc_id % 24 AS INTEGER) AS w,
        |    CAST(8 + (doc_id * 5) % 24 AS INTEGER) AS h
        |  FROM documents
        |), xs AS (
        |  SELECT media_id, w, h, unnest(range(0, w)) AS x FROM p
        |), px AS (
        |  SELECT media_id, w, h, x, unnest(range(0, h)) AS y FROM xs
        |), lum AS (
        |  SELECT media_id,
        |    (((x*31 + y*7) % 16777216) // 65536) % 256
        |      + (((x*31 + y*7) % 16777216) // 256) % 256
        |      + ((x*31 + y*7) % 16777216) % 256 AS l,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS k
        |  FROM px
        |), cells AS (
        |  SELECT media_id, k, SUM(l) AS cs, COUNT(*) AS cc
        |  FROM lum GROUP BY 1, 2
        |), tot AS (
        |  SELECT media_id, SUM(l) AS ts, COUNT(*) AS ta FROM lum GROUP BY 1
        |), hs AS (
        |  SELECT c.media_id,
        |    string_agg(CASE WHEN c.cs * t.ta > t.ts * c.cc
        |      THEN '1' ELSE '0' END, '' ORDER BY c.k) AS ahash
        |  FROM cells c JOIN tot t USING (media_id) GROUP BY c.media_id
        |)
        |SELECT p.media_id, p.w AS width, p.h AS height,
        |  CAST(t.ts AS BIGINT) AS sum_rgb, hs.ahash,
        |  CASE WHEN p.media_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format
        |FROM p JOIN tot t USING (media_id) JOIN hs USING (media_id)
        |ORDER BY media_id""".stripMargin,

    // q40g: per-sample replay of ((i*31) & 0xffff) - 32768 over
    // frames*channels indexes.
    "q40g_audio_samples" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    (1 + doc_id % 2) * (200 + doc_id % 300) AS n
        |  FROM documents
        |), i AS (
        |  SELECT media_id, n, unnest(range(0, n)) AS i FROM p
        |), v AS (
        |  SELECT media_id, n, ((i * 31) % 65536) - 32768 AS smp FROM i
        |)
        |SELECT media_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(SUM(smp) AS BIGINT) AS sum_samples,
        |  CAST(MAX(abs(smp)) AS INTEGER) AS peak,
        |  'wave' AS format
        |FROM v GROUP BY media_id, n ORDER BY media_id""".stripMargin,

    // q40i: q40f's full pixel replay per FRAME — dims from the frame
    // formulas, fill/quantization/hash bits identical to the still-image
    // oracle, grouped by (media, frame).
    "q40i_video_frame_pixels" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id, 2 + doc_id % 4 AS nf FROM documents
        |), f AS (
        |  SELECT media_id, unnest(range(0, nf)) AS frame_idx FROM p
        |), d AS (
        |  SELECT media_id, frame_idx,
        |    CAST(8 + (media_id + frame_idx) % 16 AS INTEGER) AS w,
        |    CAST(8 + (media_id * 3 + frame_idx) % 16 AS INTEGER) AS h
        |  FROM f
        |), xs AS (
        |  SELECT media_id, frame_idx, w, h, unnest(range(0, w)) AS x FROM d
        |), px AS (
        |  SELECT media_id, frame_idx, w, h, x, unnest(range(0, h)) AS y
        |  FROM xs
        |), lum AS (
        |  SELECT media_id, frame_idx,
        |    (((x*31 + y*7) % 16777216) // 65536) % 256
        |      + (((x*31 + y*7) % 16777216) // 256) % 256
        |      + ((x*31 + y*7) % 16777216) % 256 AS l,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS k
        |  FROM px
        |), cells AS (
        |  SELECT media_id, frame_idx, k, SUM(l) AS cs, COUNT(*) AS cc
        |  FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT media_id, frame_idx, SUM(l) AS ts, COUNT(*) AS ta
        |  FROM lum GROUP BY 1, 2
        |), hs AS (
        |  SELECT c.media_id, c.frame_idx,
        |    string_agg(CASE WHEN c.cs * t.ta > t.ts * c.cc
        |      THEN '1' ELSE '0' END, '' ORDER BY c.k) AS ahash
        |  FROM cells c JOIN tot t USING (media_id, frame_idx)
        |  GROUP BY c.media_id, c.frame_idx
        |)
        |SELECT d.media_id, CAST(d.frame_idx AS BIGINT) AS frame_idx,
        |  d.w AS width, d.h AS height,
        |  CAST(t.ts AS BIGINT) AS sum_rgb, hs.ahash, 'png' AS format
        |FROM d JOIN tot t USING (media_id, frame_idx)
        |  JOIN hs USING (media_id, frame_idx)
        |ORDER BY media_id, frame_idx""".stripMargin,

    // q40j: the INTER-FRAME replay — frame i's expected raster is the
    // base fill with delta bands 1..i applied (bands are disjoint 2-row
    // strips, so the composite is directly computable per pixel without
    // sequential state); sums/hash bits then run the q40f machinery. The
    // engine reaches the same numbers only through the real RLE decode +
    // temporal composite chain.
    "q40j_interframe_video_pixels" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    CAST(8 + doc_id % 9 AS INTEGER) AS w,
        |    CAST(8 AS INTEGER) AS h,
        |    2 + doc_id % 4 AS nf
        |  FROM documents
        |), f AS (
        |  SELECT media_id, w, h, nf, unnest(range(0, nf)) AS frame_idx FROM p
        |), xs AS (
        |  SELECT media_id, w, h, nf, frame_idx, unnest(range(0, w)) AS x FROM f
        |), px AS (
        |  SELECT media_id, w, h, nf, frame_idx, x, unnest(range(0, h)) AS y
        |  FROM xs
        |), v AS (
        |  SELECT media_id, w, h, frame_idx, x, y,
        |    CASE WHEN (y // 2 + 1) <= LEAST(frame_idx, nf - 1)
        |      THEN (x*17 + y*29 + (y // 2 + 1)*101 + media_id*7) % 16777216
        |      ELSE (x*31 + y*7 + media_id*13) % 16777216 END AS val
        |  FROM px
        |), lum AS (
        |  SELECT media_id, frame_idx,
        |    (val // 65536) % 256 + (val // 256) % 256 + val % 256 AS l,
        |    (y * 8 // h) * 8 + (x * 8 // w) AS k
        |  FROM v
        |), cells AS (
        |  SELECT media_id, frame_idx, k, SUM(l) AS cs, COUNT(*) AS cc
        |  FROM lum GROUP BY 1, 2, 3
        |), tot AS (
        |  SELECT media_id, frame_idx, SUM(l) AS ts, COUNT(*) AS ta
        |  FROM lum GROUP BY 1, 2
        |), hs AS (
        |  SELECT c.media_id, c.frame_idx,
        |    string_agg(CASE WHEN c.cs * t.ta > t.ts * c.cc
        |      THEN '1' ELSE '0' END, '' ORDER BY c.k) AS ahash
        |  FROM cells c JOIN tot t USING (media_id, frame_idx)
        |  GROUP BY c.media_id, c.frame_idx
        |)
        |SELECT p.media_id, CAST(t.frame_idx AS BIGINT) AS frame_idx,
        |  p.w AS width, p.h AS height,
        |  CAST(t.ts AS BIGINT) AS sum_rgb, hs.ahash, 'rle' AS format
        |FROM p JOIN tot t USING (media_id)
        |  JOIN hs ON hs.media_id = t.media_id AND hs.frame_idx = t.frame_idx
        |ORDER BY media_id, frame_idx""".stripMargin,

    // q40h: per-frame replay of the count/size/byte formulas the fixture
    // encoder used — the engine must recover them through the sample
    // tables, not from the formulas.
    "q40h_frame_extract" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id, 3 + doc_id % 6 AS nf FROM documents
        |), f AS (
        |  SELECT media_id, unnest(range(0, nf)) AS frame_idx FROM p
        |), sz AS (
        |  SELECT media_id, frame_idx,
        |    10 + ((media_id + frame_idx) % 7) * 4 AS size
        |  FROM f
        |), b AS (
        |  SELECT media_id, frame_idx, size, unnest(range(0, size)) AS j
        |  FROM sz
        |)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(size AS INTEGER) AS size,
        |  CAST(SUM((media_id + frame_idx * 7 + j * 13) % 256) AS BIGINT)
        |    AS sum_bytes
        |FROM b GROUP BY media_id, frame_idx, size
        |ORDER BY media_id, frame_idx""".stripMargin,

    "q46_cosine_dedup" -> {
      val planeRows = planeValuesSql(6)
      s"""WITH c AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), planes(i, p) AS (VALUES
         |$planeRows
         |), sig AS (
         |  SELECT c.vec_id,
         |    SUM(CASE WHEN list_inner_product(c.v, pl.p) >= 0 THEN (CAST(1 AS BIGINT) << pl.i) ELSE 0 END) AS sig
         |  FROM c CROSS JOIN planes pl GROUP BY c.vec_id
         |), j AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CASE WHEN sqrt(list_inner_product(ca.v, ca.v)) * sqrt(list_inner_product(cb.v, cb.v)) > 0
         |      THEN list_inner_product(ca.v, cb.v)
         |        / (sqrt(list_inner_product(ca.v, ca.v)) * sqrt(list_inner_product(cb.v, cb.v)))
         |      ELSE CAST(0.0 AS DOUBLE) END AS cos
         |  FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |  JOIN c ca ON ca.vec_id = a.vec_id
         |  JOIN c cb ON cb.vec_id = b.vec_id
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cosine FROM j
         |WHERE cos >= 0.30
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q46b_cosine_dedup_bounded" -> {
      val planeRows = planeValuesSql(6)
      val xplaneRows = planeValuesSql(4, seed = 43L)
      s"""WITH c AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), planes(i, p) AS (VALUES
         |$planeRows
         |), xplanes(i, p) AS (VALUES
         |$xplaneRows
         |), sig AS (
         |  SELECT c.vec_id,
         |    SUM(CASE WHEN list_inner_product(c.v, pl.p) >= 0 THEN (CAST(1 AS BIGINT) << pl.i) ELSE 0 END) AS sig
         |  FROM c CROSS JOIN planes pl GROUP BY c.vec_id
         |), xsig AS (
         |  SELECT c.vec_id,
         |    SUM(CASE WHEN list_inner_product(c.v, pl.p) >= 0 THEN (CAST(1 AS BIGINT) << pl.i) ELSE 0 END) AS x
         |  FROM c CROSS JOIN xplanes pl GROUP BY c.vec_id
         |), occ AS (
         |  SELECT sig AS b, count(*) AS n FROM sig GROUP BY sig
         |), refined AS (
         |  SELECT s.vec_id,
         |    CASE WHEN o.n <= 120 THEN s.sig * 32
         |         ELSE s.sig * 32 + 16 + x.x END AS bkt
         |  FROM sig s JOIN occ o ON o.b = s.sig JOIN xsig x ON x.vec_id = s.vec_id
         |), j AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CASE WHEN sqrt(list_inner_product(ca.v, ca.v)) * sqrt(list_inner_product(cb.v, cb.v)) > 0
         |      THEN list_inner_product(ca.v, cb.v)
         |        / (sqrt(list_inner_product(ca.v, ca.v)) * sqrt(list_inner_product(cb.v, cb.v)))
         |      ELSE CAST(0.0 AS DOUBLE) END AS cos
         |  FROM refined a JOIN refined b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
         |  JOIN c ca ON ca.vec_id = a.vec_id
         |  JOIN c cb ON cb.vec_id = b.vec_id
         |)
         |SELECT id_a, id_b, round(cos, 6) AS cosine FROM j
         |WHERE cos >= 0.30
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q45_topk_per_key" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |QUALIFY row_number() OVER (
        |  PARTITION BY l_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber) <= 2
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "q41_geo_reproject" ->
      """WITH pts AS (
        |  SELECT c_custkey,
        |         600000.0 + (c_custkey % 100000) AS e,
        |         7400000.0 + (c_custkey % 50000) AS n
        |  FROM customer
        |), k AS (
        |  SELECT 6378137.0 AS a, 1.0/298.257222101 AS f, 0.9996 AS k0
        |), k2 AS (
        |  SELECT a, k0, f*(2-f) AS e2, (f*(2-f))/(1-(f*(2-f))) AS ep2 FROM k
        |), s1 AS (
        |  SELECT p.c_custkey, k2.*, p.e - 500000.0 AS x, p.n - 10000000.0 AS y
        |  FROM pts p CROSS JOIN k2
        |), s2 AS (
        |  SELECT *, (y/k0) / (a*(1 - e2/4 - 3*e2*e2/64 - 5*e2*e2*e2/256)) AS mu,
        |         (1-sqrt(1-e2))/(1+sqrt(1-e2)) AS e1 FROM s1
        |), s3 AS (
        |  SELECT *, mu + (3*e1/2 - 27*pow(e1,3)/32)*sin(2*mu)
        |             + (21*e1*e1/16 - 55*pow(e1,4)/32)*sin(4*mu)
        |             + (151*pow(e1,3)/96)*sin(6*mu)
        |             + (1097*pow(e1,4)/512)*sin(8*mu) AS phi1 FROM s2
        |), s4 AS (
        |  SELECT *, sin(phi1) AS sin1, cos(phi1) AS cos1, sin(phi1)/cos(phi1) AS tan1 FROM s3
        |), s5 AS (
        |  SELECT *, ep2*cos1*cos1 AS cc1, tan1*tan1 AS t1,
        |         a/sqrt(1-e2*sin1*sin1) AS n1,
        |         a*(1-e2)/pow(1-e2*sin1*sin1, 1.5) AS r1 FROM s4
        |), s6 AS (
        |  SELECT *, x/(n1*k0) AS d FROM s5
        |)
        |SELECT c_custkey,
        |  round(degrees(phi1 - (n1*tan1/r1)*(d*d/2 - (5 + 3*t1 + 10*cc1 - 4*cc1*cc1 - 9*ep2)*pow(d,4)/24 + (61 + 90*t1 + 298*cc1 + 45*t1*t1 - 252*ep2 - 3*cc1*cc1)*pow(d,6)/720)), 6) AS lat,
        |  round(degrees(radians(-45.0) + (d - (1 + 2*t1 + cc1)*pow(d,3)/6 + (5 - 2*cc1 + 28*t1 - 3*cc1*cc1 + 8*ep2 + 24*t1*t1)*pow(d,5)/120)/cos1), 6) AS lon
        |FROM s6
        |ORDER BY c_custkey""".stripMargin,

    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_multi_predicate" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('O','F') AND o_totalprice > 150000
        |  AND o_orderdate IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "q03_agg_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q04_collect_list" ->
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(c_custkey)), ',') AS cust_ids,
        |  count(*) AS n_custs
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q05_rate_rollup" ->
      """SELECT event_type,
        |  round(avg(CASE WHEN value > 100 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS high_rate,
        |  count(*) AS n
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type NULLS FIRST""".stripMargin,

    "q06_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q07_minmax" ->
      """SELECT o_orderpriority, CAST(min(o_orderdate) AS VARCHAR) AS min_date,
        |  CAST(max(o_orderdate) AS VARCHAR) AS max_date, max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q08_star_join" ->
      """SELECT r_name, count(*) AS n_cust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS tot_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q09_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    "q10_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q11_band_join" ->
      """SELECT band, count(*) AS n_parts,
        |  round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
        |FROM part
        |JOIN (VALUES ('small',1,10),('medium',11,25),('large',26,50)) AS b(band,lo,hi)
        |  ON p_size BETWEEN lo AND hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q12_latest_per_key" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate,
        |  o_totalprice FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
        |ORDER BY o_custkey""".stripMargin,

    "q13_exact_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS canonical_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    "q14_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    "q15_union" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, 'high' AS src FROM orders WHERE o_totalprice > 200000
        |  UNION ALL
        |  SELECT o_orderkey, 'y1995' AS src FROM orders WHERE year(o_orderdate) = 1995
        |) ORDER BY o_orderkey, src""".stripMargin,

    "q16_distinct" ->
      """SELECT DISTINCT event_type, user_id FROM events
        |ORDER BY event_type, user_id""".stripMargin,

    "q17_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "q18_date_group" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY d""".stripMargin,

    "q19_surrogate_key" ->
      """SELECT o_orderkey, sha256(concat_ws('|',
        |  coalesce(CAST(o_orderkey AS VARCHAR), ' '),
        |  coalesce(CAST(o_custkey AS VARCHAR), ' '))) AS sk
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q20_cpf_valid" ->
      """WITH g AS (
        |  SELECT c_custkey, lpad(CAST(c_custkey AS VARCHAR), 11, '0') AS cpf FROM customer
        |), d AS (
        |  SELECT c_custkey, cpf,
        |    CAST(substr(cpf,1,1) AS INT) AS d1, CAST(substr(cpf,2,1) AS INT) AS d2,
        |    CAST(substr(cpf,3,1) AS INT) AS d3, CAST(substr(cpf,4,1) AS INT) AS d4,
        |    CAST(substr(cpf,5,1) AS INT) AS d5, CAST(substr(cpf,6,1) AS INT) AS d6,
        |    CAST(substr(cpf,7,1) AS INT) AS d7, CAST(substr(cpf,8,1) AS INT) AS d8,
        |    CAST(substr(cpf,9,1) AS INT) AS d9, CAST(substr(cpf,10,1) AS INT) AS d10,
        |    CAST(substr(cpf,11,1) AS INT) AS d11
        |  FROM g
        |)
        |SELECT c_custkey, cpf,
        |  (NOT (d2=d1 AND d3=d1 AND d4=d1 AND d5=d1 AND d6=d1 AND d7=d1
        |        AND d8=d1 AND d9=d1 AND d10=d1 AND d11=d1))
        |  AND (NOT (d2=(d1+1)%10 AND d3=(d1+2)%10 AND d4=(d1+3)%10 AND d5=(d1+4)%10
        |        AND d6=(d1+5)%10 AND d7=(d1+6)%10 AND d8=(d1+7)%10 AND d9=(d1+8)%10
        |        AND d10=(d1+9)%10 AND d11=(d1+10)%10))
        |  AND ((CASE WHEN ((d1*10+d2*9+d3*8+d4*7+d5*6+d6*5+d7*4+d8*3+d9*2)*10)%11 = 10
        |        THEN 0 ELSE ((d1*10+d2*9+d3*8+d4*7+d5*6+d6*5+d7*4+d8*3+d9*2)*10)%11 END) = d10)
        |  AND ((CASE WHEN ((d1*11+d2*10+d3*9+d4*8+d5*7+d6*6+d7*5+d8*4+d9*3+d10*2)*10)%11 = 10
        |        THEN 0 ELSE ((d1*11+d2*10+d3*9+d4*8+d5*7+d6*6+d7*5+d8*4+d9*3+d10*2)*10)%11 END) = d11)
        |  AS valid
        |FROM d ORDER BY c_custkey""".stripMargin,

    "q21_fixed_width" ->
      """SELECT trim(substr(line, 1, 12)) AS custkey,
        |  trim(substr(line, 13, 12)) AS seg,
        |  trim(substr(line, 25, 25)) AS name
        |FROM (SELECT rpad(CAST(c_custkey AS VARCHAR), 12, ' ')
        |        || rpad(c_mktsegment, 12, ' ') || rpad(c_name, 25, ' ') AS line
        |      FROM customer)
        |ORDER BY custkey""".stripMargin,

    "q22_schema_conform" ->
      """SELECT c_custkey, c_name AS nome_acao, c_mktsegment AS conta_segmento
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q23_explode_child" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(text, '\S+')[1:5] AS l FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    unnest(list_zip(l, list_transform(range(len(l)), i -> i))) AS z
        |  FROM t
        |)
        |SELECT doc_id, CAST(z[1] AS VARCHAR) AS child,
        |  sha256(concat_ws('|',
        |    coalesce(CAST(doc_id AS VARCHAR), ' '),
        |    coalesce(CAST(z[2] AS VARCHAR), ' '))) AS child_key
        |FROM u ORDER BY doc_id, child_key""".stripMargin,

    "q24_json_flatten" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS p_k
        |FROM events ORDER BY event_id""".stripMargin,

    "q25_relative_window" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, count(*) AS n
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-13' AND DATE '2024-01-19'
        |GROUP BY 1 ORDER BY d""".stripMargin,

    "q26_sort_nulls_last" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
        |       ELSE o_orderpriority END AS pr
        |FROM orders ORDER BY pr ASC NULLS LAST, o_orderkey""".stripMargin,

    "q27_multi_format_dates" ->
      """WITH s AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 2 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |         ELSE strftime(o_orderdate, '%d/%m/%Y') END AS raw
        |  FROM orders
        |)
        |SELECT o_orderkey, raw,
        |  CASE WHEN regexp_matches(raw, '^\d{4}-')
        |       THEN CAST(CAST(strptime(raw, '%Y-%m-%d') AS DATE) AS VARCHAR)
        |       ELSE CAST(CAST(strptime(raw, '%d/%m/%Y') AS DATE) AS VARCHAR) END AS parsed
        |FROM s ORDER BY o_orderkey""".stripMargin,

    "q39_ivf_cells" ->
      """WITH c AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), s AS (
        |  SELECT vec_id, sqrt(list_inner_product(v, v)) AS nrm,
        |    v[1] AS e0, v[17] AS e16, v[33] AS e32, v[49] AS e48
        |  FROM c
        |)
        |SELECT vec_id,
        |  (list_sort([
        |    {'sim': CASE WHEN nrm > 0 THEN e0 / nrm ELSE CAST(0.0 AS DOUBLE) END, 'cell': 0},
        |    {'sim': CASE WHEN nrm > 0 THEN e16 / nrm ELSE CAST(0.0 AS DOUBLE) END, 'cell': 1},
        |    {'sim': CASE WHEN nrm > 0 THEN e32 / nrm ELSE CAST(0.0 AS DOUBLE) END, 'cell': 2},
        |    {'sim': CASE WHEN nrm > 0 THEN e48 / nrm ELSE CAST(0.0 AS DOUBLE) END, 'cell': 3}
        |  ]))[4].cell AS ivf_cell
        |FROM s ORDER BY vec_id""".stripMargin,

    "q28_sql_dump" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS c0, c_name AS c1,
        |  c_mktsegment AS c2
        |FROM customer ORDER BY c0, c1""".stripMargin,

    "q29_age_cpf_format" ->
      """WITH b AS (
        |  SELECT c_custkey,
        |    DATE '2000-06-15' + CAST(c_custkey % 365 AS INTEGER) AS birth,
        |    lpad(CAST(c_custkey AS VARCHAR), 11, '0') AS cpf
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  CAST(year(DATE '2026-08-12') - year(birth)
        |    - CASE WHEN (month(DATE '2026-08-12') < month(birth))
        |        OR (month(DATE '2026-08-12') = month(birth)
        |            AND day(DATE '2026-08-12') < day(birth))
        |      THEN 1 ELSE 0 END AS INTEGER) AS age,
        |  substr(cpf,1,3) || '.' || substr(cpf,4,3) || '.' ||
        |    substr(cpf,7,3) || '-' || substr(cpf,10,2) AS cpf_fmt
        |FROM b ORDER BY c_custkey""".stripMargin,

    "q44_asof_join" ->
      """WITH cp AS (
        |  SELECT user_id, ts AS cp_ts FROM events WHERE event_type = 'signup'
        |)
        |SELECT e.event_id, CAST(cp.cp_ts AS VARCHAR) AS last_signup
        |FROM events e ASOF LEFT JOIN cp
        |  ON e.user_id = cp.user_id AND e.ts >= cp.cp_ts
        |ORDER BY e.event_id""".stripMargin,

    "q42_cube" ->
      """SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY CUBE(event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
        |ORDER BY event_type NULLS FIRST, d NULLS FIRST""".stripMargin,

    "q43_tumbling_window" ->
      """SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS VARCHAR) AS ws,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY ws""".stripMargin,

    "q30_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q31_quality" ->
      s"""WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(lower(text), '\\S+') AS ltoks,
        |    regexp_extract_all(text, '\\S+') AS toks
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN length(text) > 0
        |      THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS p_ratio,
        |    CASE WHEN len(ltoks) > 0
        |      THEN CAST(len(list_filter(ltoks, x -> x IN $stopwordsSql)) AS DOUBLE) / CAST(len(ltoks) AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS sw_ratio,
        |    CASE WHEN len(toks) > 0
        |      THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS mt_len
        |  FROM t
        |)
        |SELECT doc_id, round(p_ratio, 6) AS punct_ratio,
        |  round(sw_ratio, 6) AS stopword_ratio,
        |  round(mt_len, 6) AS mean_token_len,
        |  round((CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
        |      + (CASE WHEN sw_ratio >= 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
        |      + (CASE WHEN p_ratio <= 0.2 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS quality
        |FROM r ORDER BY doc_id""".stripMargin,

    "q32_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '\S+') AS toks FROM documents
        |), sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('o','os','de','que','e'))) AS s_pt
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN s_en = greatest(s_en,s_es,s_fr,s_de,s_pt) AND s_en > 0 THEN 'en'
        |       WHEN s_es = greatest(s_en,s_es,s_fr,s_de,s_pt) AND s_es > 0 THEN 'es'
        |       WHEN s_fr = greatest(s_en,s_es,s_fr,s_de,s_pt) AND s_fr > 0 THEN 'fr'
        |       WHEN s_de = greatest(s_en,s_es,s_fr,s_de,s_pt) AND s_de > 0 THEN 'de'
        |       WHEN s_pt = greatest(s_en,s_es,s_fr,s_de,s_pt) AND s_pt > 0 THEN 'pt'
        |       ELSE 'und' END AS pred_lang,
        |  lang AS actual_lang
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q35_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    list_distinct(list_transform(range(greatest(len(toks)-2, 0)),
        |      i -> array_to_string(toks[i+1:i+3], ' '))) AS sh
        |  FROM (SELECT source, doc_id,
        |          regexp_extract_all(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\S+') AS toks
        |        FROM documents WHERE doc_id % 20 = 0)
        |)
        |SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
        |    THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
        |    ELSE CAST(0.0 AS DOUBLE) END, 6) AS jaccard
        |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
        |ORDER BY source, id_a, id_b""".stripMargin,

    "q36_knn_per_query" ->
      """WITH c AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), q AS (
        |  SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id < 8
        |), s AS (
        |  SELECT q.q_id, c.vec_id,
        |    CASE WHEN sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.qv, q.qv)) > 0
        |      THEN list_inner_product(c.v, q.qv)
        |        / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.qv, q.qv)))
        |      ELSE CAST(0.0 AS DOUBLE) END AS cos
        |  FROM c CROSS JOIN q
        |)
        |SELECT q_id, vec_id, round(cos, 6) AS cosine FROM s
        |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) <= 5
        |ORDER BY q_id, vec_id""".stripMargin,

    "q37_cosine_topk" ->
      """WITH c AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), q AS (
        |  SELECT v AS qv FROM c WHERE vec_id = 0
        |), s AS (
        |  SELECT c.vec_id,
        |    CASE WHEN sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.qv, q.qv)) > 0
        |      THEN list_inner_product(c.v, q.qv)
        |        / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.qv, q.qv)))
        |      ELSE CAST(0.0 AS DOUBLE) END AS cos
        |  FROM c CROSS JOIN q
        |)
        |SELECT vec_id, round(cos, 6) AS cosine FROM s
        |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    // q118 replays the ExactSubstr census with the window STRINGS as the
    // dup key (the engine ships xxhash64 of the same strings — identical
    // equivalence classes barring a 2^-64 collision), then the same
    // gaps-and-islands merge: starts p < q share a span iff q − p ≤ 8.
    "q118_substring_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, coalesce(regexp_extract_all(trim(text), '\S+'),
        |    CAST([] AS VARCHAR[])) AS toks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |), d AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt FROM w
        |  ) WHERE cnt >= 2
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |      THEN 0 ELSE 1 END AS brk
        |  FROM d
        |), grp AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, isl_id, min(pos) AS s, max(pos) + 7 AS e,
        |    count(*) AS wins
        |  FROM grp GROUP BY doc_id, isl_id
        |), per_doc AS (
        |  SELECT doc_id, CAST(sum(wins) AS BIGINT) AS dup_windows,
        |    CAST(count(*) AS BIGINT) AS dup_spans,
        |    CAST(sum(e - s + 1) AS BIGINT) AS covered_tokens
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  coalesce(dup_windows, 0) AS dup_windows,
        |  coalesce(dup_spans, 0) AS dup_spans,
        |  coalesce(covered_tokens, 0) AS covered_tokens,
        |  CASE WHEN len(toks) > 0
        |    THEN CAST(coalesce(covered_tokens, 0) AS DOUBLE) / len(toks)
        |    ELSE 0.0 END AS dup_coverage
        |FROM t LEFT JOIN per_doc USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q118b replays the rewrite: removable = every occurrence of a
    // duplicated 8-gram EXCEPT the canonical first (min (doc_id, pos) —
    // row_number over that order), spans merge as in q118, covered
    // positions delete, survivors rejoin with single spaces.
    "q118b_substring_strip" ->
      """WITH t AS (
        |  SELECT doc_id, coalesce(regexp_extract_all(trim(text), '\S+'),
        |    CAST([] AS VARCHAR[])) AS toks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS g
        |  FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |), r AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS cnt,
        |      row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM w
        |  ) WHERE cnt >= 2 AND rn > 1
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |      THEN 0 ELSE 1 END AS brk
        |  FROM r
        |), grp AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
        |  FROM grp GROUP BY doc_id, isl_id
        |), cov AS (
        |  SELECT doc_id, u.p AS pos
        |  FROM spans, unnest(generate_series(s, e)) AS u(p)
        |), tok AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS tk
        |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)
        |), agg AS (
        |  SELECT tok.doc_id,
        |    string_agg(tok.tk, ' ' ORDER BY tok.pos) AS clean_text
        |  FROM tok LEFT JOIN cov
        |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |  WHERE cov.pos IS NULL
        |  GROUP BY tok.doc_id
        |), rem AS (
        |  SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS removed_tokens
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  coalesce(rem.removed_tokens, 0) AS removed_tokens,
        |  coalesce(agg.clean_text, '') AS clean_text
        |FROM t LEFT JOIN agg USING (doc_id) LEFT JOIN rem USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q119 replays the full PQ pipeline — 4 independent 16-dim k-means
    // fits over the sliced integer grid, final-centroid codes, vec 0's
    // ADC lookup tables — and ranks by the same exact integer distance.
    "q119_pq_ann" -> (pqCtesSql(m = 4, k = 4, iters = 3, dims = 64,
      scale = 1 << 20) +
      """
        |SELECT f0.vec_id,
        |  CAST(l0.d + l1.d + l2.d + l3.d AS BIGINT) AS adc_dist
        |FROM s0a3 f0
        |JOIN s1a3 f1 USING (vec_id) JOIN s2a3 f2 USING (vec_id)
        |JOIN s3a3 f3 USING (vec_id)
        |JOIN l0 ON f0.cid = l0.cid JOIN l1 ON f1.cid = l1.cid
        |JOIN l2 ON f2.cid = l2.cid JOIN l3 ON f3.cid = l3.cid
        |ORDER BY adc_dist, f0.vec_id LIMIT 20""".stripMargin),

    // q119b replays IVF-PQ end to end: coarse chain, residual encode,
    // probe ranking, per-cell lookup tables, per-cell ADC join.
    "q119b_ivfpq_ann" -> (ivfPqCtesSql(coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2, dims = 64, scale = 1 << 20, nprobe = 2) +
      """
        |SELECT f0.vec_id, a.cell,
        |  CAST(l0.d + l1.d + l2.d + l3.d AS BIGINT) AS adc_dist
        |FROM r0a2 f0
        |JOIN r1a2 f1 USING (vec_id) JOIN r2a2 f2 USING (vec_id)
        |JOIN r3a2 f3 USING (vec_id)
        |JOIN (SELECT vec_id, cell FROM res) a USING (vec_id)
        |JOIN l0 ON l0.cell = a.cell AND l0.cid = f0.cid
        |JOIN l1 ON l1.cell = a.cell AND l1.cid = f1.cid
        |JOIN l2 ON l2.cell = a.cell AND l2.cid = f2.cid
        |JOIN l3 ON l3.cell = a.cell AND l3.cid = f3.cid
        |WHERE a.cell IN (SELECT cell FROM probe)
        |ORDER BY adc_dist, f0.vec_id LIMIT 20""".stripMargin),

    // q119c replays IVFADC-R: the q119b ADC body becomes a top-c
    // short-list CTE, then the re-rank joins the survivors back to the
    // quantized vectors (e) and scores exact integer distance to the
    // query row (qrow) — same ORDER BY discipline, final top-n. The
    // shared adc/rr tail lives in ivfPqRerankCtesSql (one definition
    // for q119c AND q119d).
    "q119c_ivfpq_rerank" -> (ivfPqCtesSql(coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2, dims = 64, scale = 1 << 20, nprobe = 2) +
      ivfPqRerankCtesSql(c = 50, n = 20, dims = 64) +
      """
        |SELECT vec_id, cell, adc_dist, exact_dist
        |FROM rr ORDER BY exact_dist, vec_id""".stripMargin),

    // q119d replays recall@20: the shared short-list + re-rank tail, the
    // brute-force exact top-20 as CTE ex, then the intersection count.
    "q119d_ann_recall" -> (ivfPqCtesSql(coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2, dims = 64, scale = 1 << 20, nprobe = 2) +
      ivfPqRerankCtesSql(c = 50, n = 20, dims = 64) +
      """,
        |ex AS (
        |  SELECT e.vec_id
        |  FROM e CROSS JOIN qrow v
        |  ORDER BY list_sum(list_transform(range(1, 65),
        |    i -> (e.q[i] - v.q[i]) * (e.q[i] - v.q[i]))), e.vec_id LIMIT 20
        |)
        |SELECT CAST(20 AS BIGINT) AS k, count(*) AS hits,
        |  count(*) / 20.0 AS recall
        |FROM rr JOIN ex USING (vec_id)""".stripMargin),

    // q119e replays the persistent index end to end: the coarse and PQ
    // fits run over the CORPUS subset only (ef / rf* — arrivals never
    // influence the model, exactly the append-no-refit contract), the
    // encode assigns cover the UNION, and the short-list + re-rank tail
    // is byte-shared with q119c — so build+append+search hash-matching
    // this proves the stored index is value-invisible against a one-shot
    // encode over the same model.
    "q119e_ann_index" -> (ivfPqCtesSql(coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2, dims = 64, scale = 1 << 20, nprobe = 2,
      fitWhere = "vec_id % 5 <> 0") +
      ivfPqRerankCtesSql(c = 50, n = 20, dims = 64) +
      """
        |SELECT vec_id, cell, adc_dist, exact_dist
        |FROM rr ORDER BY exact_dist, vec_id""".stripMargin),

    // q119g shares q119e's oracle verbatim: two appends + two
    // maintenance passes must be value-invisible against the same
    // one-shot fit-on-corpus + encode-union chain — the compaction
    // rewrites files, never rows.
    "q119g_ann_maintain" -> (ivfPqCtesSql(coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2, dims = 64, scale = 1 << 20, nprobe = 2,
      fitWhere = "vec_id % 5 <> 0") +
      ivfPqRerankCtesSql(c = 50, n = 20, dims = 64) +
      """
        |SELECT vec_id, cell, adc_dist, exact_dist
        |FROM rr ORDER BY exact_dist, vec_id""".stripMargin),

    // q119h shares q119e's oracle verbatim too: a checkpointed stream of
    // the same arrivals — killed, resumed, compacted after every batch —
    // must land the identical searchable index.
    "q119h_stream_ann" -> (ivfPqCtesSql(coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2, dims = 64, scale = 1 << 20, nprobe = 2,
      fitWhere = "vec_id % 5 <> 0") +
      ivfPqRerankCtesSql(c = 50, n = 20, dims = 64) +
      """
        |SELECT vec_id, cell, adc_dist, exact_dist
        |FROM rr ORDER BY exact_dist, vec_id""".stripMargin),

    // q119f replays mean recall@20 over the query set {0,1,2}: ONE
    // shared base chain (model + codes), one suffixed query block +
    // re-rank tail + exact top-20 per query, then per-query hits and the
    // NULL-key mean row (CAST(sum) — DuckDB sums go HUGEINT).
    "q119f_ann_mean_recall" -> annMeanRecallSql,

    // q119i shares q119f's oracle verbatim: the PERSISTENT index's
    // recallProbe over the same query set must land the same per-query
    // hits and mean — the lake round-trip is value-invisible, so the
    // drift dial a deployment reads off the STORED index is exactly the
    // one-shot measurement.
    "q119i_ann_recall_probe" -> annMeanRecallSql,

    // q119j replays merge-on-read deletes: q119e's chain with the
    // retired ids (vec_id % 7 = 3) excluded from the ADC candidates
    // BEFORE the LIMIT c — the engine's broadcast anti-join forms the
    // short-list over live docs only, so a dead doc can never displace
    // a live candidate from the re-rank.
    "q119j_ann_delete" -> annDeleteSql,

    // q119k shares q119j's oracle verbatim: two retirement batches, a
    // maintenance pass, and the full tombstone fold must land the
    // identical search — the fold rewrites files and drops dead codes,
    // never a live row.
    "q119k_ann_fold" -> annDeleteSql,

    // q119l replays the BATCH search per query: the engine answers the
    // query frame {0,1,2} in ONE table-driven job; the oracle runs each
    // query's single-vector chain (q119e's fit-on-corpus base + the
    // shared probe/short-list/re-rank tail) and unions the three — a
    // batch row set must be exactly the per-query searches stacked.
    "q119l_ann_batch" -> annBatchSql,

    // q120 replays the index-backed arrival-dedup DECISIONS: per batch
    // doc the full single-vector chain (fit-on-corpus base, probe,
    // short-list restricted to CORPUS candidates — the batch is not
    // indexed, so the oracle's full-encode CTEs exclude it the same way
    // the delete oracle excludes tombstones — exact re-rank top-1), and
    // the drop verdict nn_dist <= T as a replayed boolean.
    "q120_ann_arrival_dedup" -> annArrivalDedupSql,

    // q121 replays the blue/green refit GATE: the measured mean recall
    // (q119f's chain — refit's dial is that exact number), the cut/hold
    // verdicts as the rule mean >= floor, and the serving root a reader
    // observes after both refits (last cut wins the pointer).
    "q121_ann_refit_gate" -> annRefitGateSql,

    // q122 replays the maintainAndFold dial: the footer-read dead/stored
    // counts per stage (retirement batches ACCUMULATE rows — overlapping
    // ids count twice, the documented early-fold bias) and the observed
    // fold verdict as the rule dead/stored >= 0.2.
    "q122_ann_fold_dial" -> annFoldDialSql,

    // q123 replays the two-batch ARRIVAL corpus build end to end:
    // quality gate, exact dedup with batch precedence, the q116 lexical
    // arrival rule over membership-filtered pairs, per-arrival ANN
    // verdicts fit on batch-1's lexical survivors (CTE-subquery fit and
    // candidate sets), then redact → chunk → pack as one global
    // per-language cumsum over (batch, doc, start) and the md5 split.
    "q123_corpus_arrival" -> corpusArrivalSql
  )

  /** q120's oracle: q119e's subset-fit base chain, one suffixed query
    * block + top-1 re-rank tail per arrival doc with the short-list
    * candidates restricted to the CORPUS (deleteWhere — arrivals are
    * queries, not index members), then the per-doc decisions unioned
    * with the threshold verdict computed in SQL.
    */
  private lazy val annArrivalDedupSql: String = {
    val qids = Seq(0L, 5L, 10L, 15L, 20L, 25L)
    val sb = new StringBuilder("WITH " + ivfPqBaseCtes(coarseK = 4,
      coarseIters = 2, m = 4, k = 4, iters = 2, dims = 64,
      scale = 1 << 20, fitWhere = "vec_id % 5 <> 0").mkString(",\n"))
    qids.foreach { q =>
      sb.append(",\n" + ivfPqQueryCtes(q, s"_$q", coarseIters = 2,
        m = 4, iters = 2, dims = 64, nprobe = 2).mkString(",\n"))
      sb.append(ivfPqRerankCtesSql(c = 50, n = 1, dims = 64,
        sfx = s"_$q", deleteWhere = "f0.vec_id % 5 = 0"))
    }
    sb.append("\n" + qids.map(q =>
      s"SELECT CAST($q AS BIGINT) AS doc_id, vec_id AS nn_id, " +
        s"exact_dist AS nn_dist, " +
        s"exact_dist <= $AnnDedupThreshold AS dropped FROM rr_$q")
      .mkString("\nUNION ALL\n"))
    sb.append("\nORDER BY doc_id")
    sb.toString
  }

  /** q119l's oracle: q119e's subset-fit base chain, one suffixed query
    * block + re-rank tail per query id, and the per-query top-20s
    * unioned under their query ids.
    */
  private lazy val annBatchSql: String = {
    val qids = Seq(0L, 1L, 2L)
    val sb = new StringBuilder("WITH " + ivfPqBaseCtes(coarseK = 4,
      coarseIters = 2, m = 4, k = 4, iters = 2, dims = 64,
      scale = 1 << 20, fitWhere = "vec_id % 5 <> 0").mkString(",\n"))
    qids.foreach { q =>
      sb.append(",\n" + ivfPqQueryCtes(q, s"_$q", coarseIters = 2,
        m = 4, iters = 2, dims = 64, nprobe = 2).mkString(",\n"))
      sb.append(ivfPqRerankCtesSql(c = 50, n = 20, dims = 64,
        sfx = s"_$q"))
    }
    sb.append("\n" + qids.map(q =>
      s"SELECT CAST($q AS BIGINT) AS query_id, vec_id, cell, adc_dist, " +
        s"exact_dist FROM rr_$q").mkString("\nUNION ALL\n"))
    sb.append("\nORDER BY query_id, exact_dist, vec_id")
    sb.toString
  }

  /** q119j/q119k's shared oracle: q119e's fit-on-corpus + encode-union
    * chain with the retired ids excluded before the ADC short-list
    * forms (merge-on-read deletes; the fold is value-invisible against
    * the same exclusion).
    */
  private lazy val annDeleteSql: String =
    ivfPqCtesSql(coarseK = 4, coarseIters = 2,
      m = 4, k = 4, iters = 2, dims = 64, scale = 1 << 20, nprobe = 2,
      fitWhere = "vec_id % 5 <> 0") +
      ivfPqRerankCtesSql(c = 50, n = 20, dims = 64,
        deleteWhere = "f0.vec_id % 7 = 3") +
      """
        |SELECT vec_id, cell, adc_dist, exact_dist
        |FROM rr ORDER BY exact_dist, vec_id""".stripMargin

  /** The shared recall-measurement chain (q119f/q119i/q121): model +
    * codes, one suffixed query block + re-rank tail + exact top-20 per
    * query in {0,1,2}, ending in `per(query_id, hits)` — the per-query
    * hit counts every recall consumer reduces.
    */
  private lazy val annRecallPerCtes: String = {
      val qids = Seq(0L, 1L, 2L)
      val sb = new StringBuilder("WITH " + ivfPqBaseCtes(coarseK = 4,
        coarseIters = 2, m = 4, k = 4, iters = 2, dims = 64,
        scale = 1 << 20).mkString(",\n"))
      qids.foreach { q =>
        sb.append(",\n" + ivfPqQueryCtes(q, s"_$q", coarseIters = 2,
          m = 4, iters = 2, dims = 64, nprobe = 2).mkString(",\n"))
        sb.append(ivfPqRerankCtesSql(c = 50, n = 20, dims = 64,
          sfx = s"_$q"))
        sb.append(
          s""",
             |ex_$q AS (
             |  SELECT e.vec_id
             |  FROM e CROSS JOIN qrow_$q v
             |  ORDER BY list_sum(list_transform(range(1, 65),
             |    i -> (e.q[i] - v.q[i]) * (e.q[i] - v.q[i]))), e.vec_id LIMIT 20
             |)""".stripMargin)
      }
      sb.append(
        s""",
           |per AS (
           |${qids.map(q =>
               s"  SELECT CAST($q AS BIGINT) AS query_id, count(*) AS hits " +
                 s"FROM rr_$q JOIN ex_$q USING (vec_id)")
             .mkString("\n  UNION ALL\n")}
           |)""".stripMargin)
      sb.toString
  }

  /** q119f/q119i's shared oracle: per-query hits and the NULL-key mean
    * row (CAST(sum) — DuckDB sums go HUGEINT) over [[annRecallPerCtes]].
    */
  private lazy val annMeanRecallSql: String =
    annRecallPerCtes +
      """
        |SELECT query_id, CAST(20 AS BIGINT) AS k, hits, hits / 20.0 AS recall FROM per
        |UNION ALL
        |SELECT NULL, CAST(20 AS BIGINT), CAST(sum(hits) AS BIGINT), avg(hits / 20.0) FROM per
        |ORDER BY query_id NULLS LAST""".stripMargin

  /** q121's oracle: the measured mean over [[annRecallPerCtes]] (the
    * identical avg(hits/20.0) the q119f mean row carries — refit's dial
    * IS that number), then both gate verdicts as replayed rules:
    * cut = mean >= floor, and the serving root a reader sees afterwards —
    * the pass candidate serves only if it cut AND the later hold refit
    * did not (sequencing: the last cut wins the pointer).
    */
  private lazy val annRefitGateSql: String =
    annRecallPerCtes +
      s""",
         |m AS (SELECT avg(hits / 20.0) AS mean FROM per)
         |SELECT 'floor_hold' AS scenario,
         |  CAST($AnnRefitFloorHold AS DOUBLE) AS floor,
         |  mean >= $AnnRefitFloorHold AS cut, mean AS mean_recall,
         |  (mean >= $AnnRefitFloorHold) AS serving_is_candidate FROM m
         |UNION ALL
         |SELECT 'floor_pass', CAST($AnnRefitFloorPass AS DOUBLE),
         |  mean >= $AnnRefitFloorPass, mean,
         |  (mean >= $AnnRefitFloorPass) AND NOT (mean >= $AnnRefitFloorHold)
         |  FROM m
         |ORDER BY scenario""".stripMargin

  /** q122's oracle: the fold dial's counts and rule in SQL — dead rows
    * accumulate across retirement batches (ids in BOTH batches count
    * twice, the documented inflation), stored rows stay the full corpus
    * until a fold lands, and folded replays dead/stored >= 0.2 per stage.
    */
  private lazy val annFoldDialSql: String =
    """WITH d1 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 25 = 0),
      |d2 AS (SELECT count(*) AS c FROM embeddings WHERE vec_id % 4 = 1),
      |n AS (SELECT count(*) AS c FROM embeddings)
      |SELECT CAST(1 AS INT) AS stage, CAST(d1.c AS BIGINT) AS dead_rows,
      |  CAST(n.c AS BIGINT) AS stored_rows,
      |  CAST(d1.c AS DOUBLE) / CAST(n.c AS DOUBLE) >= 0.2 AS folded
      |FROM d1, n
      |UNION ALL
      |SELECT 2, CAST(d1.c + d2.c AS BIGINT), CAST(n.c AS BIGINT),
      |  CAST(d1.c + d2.c AS DOUBLE) / CAST(n.c AS DOUBLE) >= 0.2
      |FROM d1, d2, n
      |ORDER BY stage""".stripMargin

  /** q123's oracle: the full two-batch arrival corpus build in one SQL.
    * Survivor derivation: q99's quality arithmetic, q13's fingerprints
    * with batch-then-id precedence, the q116 keep-lowest-id-among-arrived
    * lexical rule over the standard pair CTEs membership-filtered to
    * exact survivors, and one q120-style ANN chain per fixed batch-2
    * arrival id — fit AND candidate sets are the batch-1 lexical-survivor
    * CTE (`b1lex`), exactly the index applyBatch bootstraps. Output:
    * q47's redaction, q58's chunking (64/16), q59's packing as ONE
    * global per-language exclusive cumsum over (batch, doc, start) —
    * which is precisely "continue from the stored totals" — and q60's
    * md5 split.
    */
  private lazy val corpusArrivalSql: String = {
    val qids = Seq(1L, 3L, 5L, 7L, 9L, 11L, 13L, 15L, 17L, 19L)
    val fitW = "vec_id IN (SELECT doc_id FROM b1lex)"
    val delW = "f0.vec_id NOT IN (SELECT doc_id FROM b1lex)"
    val sb = new StringBuilder("WITH " + minHashPairsCtes)
    sb.append(s""",
      |arr AS (
      |  SELECT doc_id, lang, text,
      |    CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS batch
      |  FROM documents
      |  WHERE doc_id % 2 = 0 OR doc_id < 20
      |),
      |qt AS (
      |  SELECT doc_id, lang, text, batch,
      |    regexp_extract_all(lower(text), '\\S+') AS ltoks,
      |    regexp_extract_all(text, '\\S+') AS toks
      |  FROM arr
      |),
      |qlt AS (
      |  SELECT doc_id, lang, text, batch,
      |    round((CASE WHEN len(toks) BETWEEN 5 AND 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      |      + (CASE WHEN (CASE WHEN len(ltoks) > 0
      |            THEN CAST(len(list_filter(ltoks, x -> x IN $stopwordsSql)) AS DOUBLE) / CAST(len(ltoks) AS DOUBLE)
      |            ELSE CAST(0.0 AS DOUBLE) END) >= 0.05 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
      |      + (CASE WHEN (CASE WHEN length(text) > 0
      |            THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
      |            ELSE CAST(0.0 AS DOUBLE) END) <= 0.2 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 1) AS quality
      |  FROM qt
      |),
      |fpd AS (
      |  SELECT doc_id, lang, text, batch,
      |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |  FROM qlt WHERE quality >= 0.3
      |),
      |exk AS (
      |  SELECT f.* FROM fpd f
      |  WHERE NOT EXISTS (SELECT 1 FROM fpd g WHERE g.fp = f.fp
      |    AND (g.batch < f.batch OR (g.batch = f.batch AND g.doc_id < f.doc_id)))
      |),
      |lexdrop AS (
      |  SELECT DISTINCT p.id_b FROM pairs p
      |  JOIN exk a ON a.doc_id = p.id_a
      |  JOIN exk b ON b.doc_id = p.id_b
      |  WHERE p.jaccard >= 0.5 AND a.batch <= b.batch
      |),
      |lexk AS (
      |  SELECT * FROM exk WHERE doc_id NOT IN (SELECT id_b FROM lexdrop)
      |),
      |b1lex AS (SELECT doc_id FROM lexk WHERE batch = 0)""".stripMargin)
    sb.append(",\n" + ivfPqBaseCtes(coarseK = 4, coarseIters = 2, m = 4,
      k = 4, iters = 2, dims = 64, scale = 1 << 20, fitWhere = fitW)
      .mkString(",\n"))
    qids.foreach { q =>
      sb.append(",\n" + ivfPqQueryCtes(q, s"_$q", coarseIters = 2,
        m = 4, iters = 2, dims = 64, nprobe = 2).mkString(",\n"))
      sb.append(ivfPqRerankCtesSql(c = 50, n = 1, dims = 64,
        sfx = s"_$q", deleteWhere = delW))
    }
    sb.append(",\nnnv AS (\n" + qids.map(q =>
      s"  SELECT CAST($q AS BIGINT) AS doc_id, exact_dist FROM rr_$q")
      .mkString("\n  UNION ALL\n") + "\n)")
    sb.append(s""",
      |semdrop AS (
      |  SELECT doc_id FROM nnv WHERE exact_dist <= $CorpusArrivalThreshold
      |),
      |acc AS (
      |  SELECT * FROM lexk
      |  WHERE batch = 0 OR doc_id NOT IN (SELECT doc_id FROM semdrop)
      |),
      |red AS (
      |  SELECT doc_id, batch, lang,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '\\d{3}\\.\\d{3}\\.\\d{3}-\\d{2}', '[CPF]', 'g'),
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '\\(\\d{2}\\)\\s?\\d{4,5}-\\d{4}', '[PHONE]', 'g') AS text
      |  FROM acc
      |),
      |tkk AS (
      |  SELECT doc_id, batch, lang,
      |    regexp_extract_all(trim(text), '\\S+') AS toks
      |  FROM red
      |),
      |stt AS (
      |  SELECT doc_id, batch, lang, toks,
      |    unnest(generate_series(1,
      |      greatest(CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) * 48, 0) + 1,
      |      48)) AS s1
      |  FROM tkk
      |),
      |chh AS (
      |  SELECT doc_id, batch, lang, CAST(s1 - 1 AS BIGINT) AS start,
      |    CAST(least(64, len(toks) - s1 + 1) AS BIGINT) AS n_tokens,
      |    array_to_string(toks[s1 : s1 + 63], ' ') AS chunk
      |  FROM stt
      |),
      |pkk AS (
      |  SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY lang
      |    ORDER BY batch, doc_id, start
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |  FROM chh
      |)
      |SELECT doc_id, CAST(batch AS BIGINT) AS batch_id, lang, start,
      |  n_tokens, chunk,
      |  CAST(cum // 2048 AS BIGINT) AS bin_id,
      |  CAST(cum - (cum // 2048) * 2048 AS BIGINT) AS offset_in_bin,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
      |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM pkk
      |ORDER BY batch_id, doc_id, start""".stripMargin)
    // MATERIALIZE every CTE: DuckDB inlines CTEs by default, and with ten
    // per-arrival ANN blocks whose fit/candidate sets are themselves the
    // lexical-survivor chain, inlining re-expands the whole upstream
    // pipeline per reference — observed as a file-handle explosion on the
    // documents/embeddings views. Materialization is semantics-neutral
    // (each CTE computes once); the regex rewrites only CTE definition
    // sites (start-of-line or "), " + name + " AS (").
    sb.toString.replaceAll(
      "(?m)(^|\\), )([A-Za-z_]\\w*) AS \\(", "$1$2 AS MATERIALIZED (")
  }
}
