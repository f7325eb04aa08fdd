package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** The JVM side of the benchmark (`perfbench/run.py` drives it).
  *
  * `setup`: build the session and exit; run.py times process start to the
  * `READY` line.
  *
  * `run <fixtureDir> <outDir> <seconds> <trace> <minPasses> <op,op,...>`:
  * one closed loop on one client: a cold pass, then steady passes until
  * `seconds` have elapsed (at least `minPasses`), then one verification
  * pass that writes every result to parquet for the oracle check. Each
  * timed operation is `fn(spark, dir)`, then `queryExecution.executedPlan`,
  * then a `noop` write of the complete result, which executes every
  * column, sort and window. With trace = 1 the steady passes interleave
  * untraced ones and traced ones, during which the [[Tracer]] records.
  * Results go to `outDir/harness.json` and spans to `outDir/spans.jsonl`.
  *
  * `guardtest <fixtureDir> <op>`: the self-test of the timed-plan guard.
  */
object Harness {
  val cpus = Runtime.getRuntime.availableProcessors

  def session(): SparkSession =
    GraftSession.local(cpus, timeZone = Some("UTC"), appName = "perfbench")

  def main(args: Array[String]): Unit = args.toList match {
    case List("setup") =>
      session()
      println("READY"); System.out.flush()
      Runtime.getRuntime.halt(0) // only the set-up is measured
    case "run" :: dir :: out :: secs :: trace :: minPasses :: ops :: Nil =>
      val spark = session()
      println("READY"); System.out.flush()
      new Run(spark, dir, out, ops.split(",").toSeq).main(
        secs.toDouble, trace == "1", minPasses.toInt)
      spark.stop()
    case List("guardtest", dir, op) =>
      val spark = session()
      val ok = guardTest(spark, dir, op)
      spark.stop()
      if (!ok) sys.exit(1)
    case _ =>
      System.err.println("usage: setup | run <dir> <out> <seconds> <trace> " +
        "<minPasses> <ops> | guardtest <dir> <op>")
      sys.exit(2)
  }

  // ---- timed-plan guard ----

  /** The global sort at the top of a plan, looking through the nodes that
    * keep row order (projections, filters, limits, aliases). */
  def topSort(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort if s.global => Some(s)
    case n @ (_: Project | _: Filter | _: GlobalLimit | _: LocalLimit |
              _: SubqueryAlias) => topSort(n.children.head)
    case _ => None
  }

  /** What the guard expects of an operation's timed plan. */
  final case class Expect(schema: String, sortKeys: Int)

  def expect(df: DataFrame): Expect =
    Expect(df.schema.catalogString,
      topSort(df.queryExecution.optimizedPlan).map(_.order.size).getOrElse(0))

  /** None when `qe` (the timed action) is a noop write of the complete
    * result: the query's full output schema and its top-level sort. */
  def violation(want: Expect, qe: Option[QueryExecution]): Option[String] =
    qe.map(_.optimizedPlan) match {
      case Some(w: V2WriteCommand)
          if w.table.toString.toLowerCase.contains("noop") =>
        val got = w.query.schema.catalogString
        val sort = topSort(w.query).map(_.order.size).getOrElse(0)
        if (got != want.schema) Some(s"timed schema $got != query schema ${want.schema}")
        else if (sort != want.sortKeys)
          Some(s"timed plan sorts on $sort keys, query sorts on ${want.sortKeys}")
        else None
      case Some(p) => Some(s"timed action is not a noop write: ${p.nodeName}")
      case None => Some("no timed action observed")
    }

  /** Captures the last action's QueryExecution on the session. */
  final class LastAction extends QueryExecutionListener {
    @volatile var last: Option[QueryExecution] = None
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = last = Some(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = last = Some(qe)
  }

  /** The guard accepts the noop write and rejects `count()`, a column
    * subset and a write that drops the top-level sort (`op` must sort). */
  def guardTest(spark: SparkSession, dir: String, op: String): Boolean = {
    val fn = SparkEntry.queries(op)
    val cap = new LastAction
    spark.listenerManager.register(cap)
    def observe(act: DataFrame => Unit): Option[String] = {
      val df = fn(spark, dir)
      val want = expect(df)
      cap.last = None
      act(df)
      org.apache.spark.BusDrain(spark.sparkContext)
      violation(want, cap.last)
    }
    val noop = (d: DataFrame) => d.write.format("noop").mode("overwrite").save()
    val cases = Seq(
      "noop write" -> (observe(noop), true),
      "count()" -> (observe(d => { d.count(); () }), false),
      "first column only" -> (observe(d => noop(d.select(d.columns.head))), false),
      "sort dropped" -> (observe(d => noop(d.repartition(1))), false))
    var ok = expect(fn(spark, dir)).sortKeys > 0
    if (!ok) println(s"FAIL $op has no top-level sort to guard")
    cases.foreach { case (name, (v, accept)) =>
      val pass = v.isEmpty == accept
      ok &&= pass
      println(s"${if (pass) "ok  " else "FAIL"} $name: ${v.getOrElse("accepted")}")
    }
    ok
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def js(v: Any): String = json.writeValueAsString(v)
}

/** One benchmark run inside one JVM. */
final class Run(spark: SparkSession, dir: String, out: String, ops: Seq[String]) {
  import Harness._

  private val fns = ops.map(n => n -> SparkEntry.queries.getOrElse(n,
    throw new IllegalArgumentException(s"unknown operation $n"))).toMap
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def epochNs(t: Long): Long = epochNs0 + (t - nano0)

  private val spans = mutable.ArrayBuffer.empty[String]
  private var nextSpan = 0L
  private def span(parent: Long, op: Long, name: String, kind: String,
      startNs: Long, endNs: Long, attrs: Map[String, Any] = Map.empty): Long = {
    nextSpan += 1
    // an operation span (op = 0) carries its own id as the operation id
    spans += js(Map("id" -> nextSpan, "parent" -> parent,
      "op_id" -> (if (op == 0) nextSpan else op),
      "name" -> name, "kind" -> kind, "start_ns" -> startNs, "end_ns" -> endNs) ++ attrs)
    nextSpan
  }

  /** Timing record of one operation execution. */
  private def opRecord(name: String, pass: Int, traced: Boolean,
      guard: Option[LastAction], tracer: Option[Tracer]): Map[String, Any] = {
    val fn = fns(name)
    var t1, t2 = -1L
    var error: Option[String] = None
    var want: Option[Expect] = None
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir)
      t1 = System.nanoTime()
      df.queryExecution.executedPlan
      t2 = System.nanoTime()
      if (guard.isDefined) { want = Some(expect(df)); guard.get.last = None }
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => error = Some(e.toString.take(500)) }
    val t3 = System.nanoTime()
    if (t1 < 0) t1 = t3
    if (t2 < 0) t2 = t3
    val guardMsg = for (g <- guard; w <- want) yield {
      org.apache.spark.BusDrain(spark.sparkContext)
      violation(w, g.last)
    }
    val base = Map[String, Any]("op" -> name, "pass" -> pass,
      "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
      "exec_s" -> (t3 - t2) / 1e9, "wall_s" -> (t3 - t0) / 1e9,
      "error" -> error, "guard" -> guardMsg.flatten)
    tracer match {
      case Some(tr) if traced =>
        val l = tr.next()
        val fsNow = CountingFs.snapshot()
        val fsDelta = fsNow.zip(fsLast).map { case (a, b) => a - b }
        fsLast = fsNow
        val wNow = CountingFs.bytesWritten()
        val written = wNow - writtenLast
        writtenLast = wNow
        val opId = span(0, 0, name, "op", epochNs(t0), epochNs(t3), Map("pass" -> pass))
        span(opId, opId, "build", "build", epochNs(t0), epochNs(t1))
        span(opId, opId, "plan", "plan", epochNs(t1), epochNs(t2))
        val ex = span(opId, opId, "execute", "execute", epochNs(t2), epochNs(t3))
        // a job's parent is the phase it started in: flows run jobs while
        // they build their result, not only in the final write
        val plan0 = epochNs(t1) / 1000000L
        val exec0 = epochNs(t2) / 1000000L
        val jobSpan = l.jobs.map { case (id, s, e) =>
          val parent = if (s < plan0) opId + 1 else if (s < exec0) opId + 2 else ex
          id -> span(parent, opId, s"job $id", "job", s * 1000000L, e * 1000000L)
        }.toMap
        l.stages.foreach { case (sid, jid, s, e, n, failed) =>
          span(jobSpan.getOrElse(jid, ex), opId, s"stage $sid", "stage",
            s * 1000000L, e * 1000000L, Map("tasks" -> n, "failed" -> failed))
        }
        base ++ Map(
          "op_id" -> opId,
          "spark.jobs" -> l.jobs.size, "spark.stages" -> l.stages.size,
          "spark.tasks" -> l.tasks, "spark.failed_tasks" -> l.failedTasks,
          "spark.job_busy_s" -> l.jobBusyS,
          "exec.task_run_s" -> l.taskRunMs / 1e3, "exec.task_cpu_s" -> l.taskCpuNs / 1e9,
          "exec.gc_s" -> l.gcMs / 1e3, "exec.spill_mb" -> l.spillBytes / 1e6,
          "scan.files_mb" -> l.scanFileBytes / 1e6, "scan.rows" -> l.scanRows,
          "scan.fixture_mb" -> l.fixtureBytes / 1e6,
          "shuffle.write_mb" -> l.shuffleWrite / 1e6, "shuffle.read_mb" -> l.shuffleRead / 1e6,
          "shuffle.fetch_wait_s" -> l.fetchWaitMs / 1e3,
          "lake.list_ops" -> fsDelta(0), "lake.create_ops" -> fsDelta(1),
          "lake.rename_ops" -> fsDelta(2), "lake.delete_ops" -> fsDelta(3),
          "lake.status_ops" -> fsDelta(4), "lake.write_mb" -> written / 1e6,
          "stream.batches" -> l.batches, "stream.addbatch_s" -> l.addBatchMs / 1e3,
          "stream.planning_s" -> l.planningMs / 1e3, "stream.wal_s" -> l.walMs / 1e3,
          "stream.state_rows" -> l.stateByQuery.values.map(_._1).sum,
          "stream.state_mb" -> l.stateByQuery.values.map(_._2).sum / 1e6,
          "stream.trigger_s" -> l.triggerMs.map(_ / 1e3))
      case _ => base
    }
  }

  private var fsLast = CountingFs.snapshot()
  private var writtenLast = CountingFs.bytesWritten()

  private def pass(i: Int, traced: Boolean, guard: Option[LastAction],
      tracer: Option[Tracer]): Map[String, Any] = {
    System.gc() // same heap state at every pass start; outside the timing
    tracer.foreach { tr =>
      tr.active = traced
      if (traced) {
        tr.next()
        fsLast = CountingFs.snapshot()
        writtenLast = CountingFs.bytesWritten()
      }
    }
    val recs = ops.map(opRecord(_, i, traced, guard, tracer))
    Map("pass" -> i, "traced" -> traced,
      "wall_s" -> recs.map(_("wall_s").asInstanceOf[Double]).sum, "ops" -> recs)
  }

  def main(seconds: Double, trace: Boolean, minPasses: Int): Unit = {
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val guard = new LastAction
    spark.listenerManager.register(guard)
    passes += pass(0, traced = false, Some(guard), None)
    spark.listenerManager.unregister(guard)
    // Steady passes until `seconds` have elapsed and at least `minPasses`
    // ran. A traced run interleaves untraced and traced passes in ABBA
    // order, so the two see the same JIT warmth on average and their ratio
    // is the tracing overhead.
    val tracer = if (trace) {
      val tr = new Tracer(spark, new java.io.File(dir).getAbsolutePath)
      tr.start()
      Some(tr)
    } else None
    val perPass = if (trace) 2 else 1
    val t0 = System.nanoTime()
    var n = 0
    while (n < minPasses * perPass || (System.nanoTime() - t0) / 1e9 < seconds * perPass) {
      passes += pass(passes.size, traced = trace && (n % 4 == 1 || n % 4 == 2), None, tracer)
      n += 1
    }
    tracer.foreach(_.active = false)
    // Verification pass, outside every timed region: each complete result
    // goes to parquet (one file, as the engine's Verify main writes it) for
    // the oracle comparison.
    val verify = ops.map { name =>
      val err = try {
        fns(name)(spark, dir).coalesce(1).write
          .mode("overwrite").parquet(s"$out/verify/$name")
        None
      } catch { case e: Throwable => Some(e.toString.take(500)) }
      name -> err
    }.toMap
    val poolPeaks = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.map(p => p.getName -> p.getPeakUsage.getUsed / 1e6).toMap
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0)
    val result = Map(
      "cpus" -> cpus,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "peak_rss_mb" -> rss, "pool_peak_mb" -> poolPeaks,
      "passes" -> passes, "verify" -> verify)
    Files.writeString(Paths.get(s"$out/harness.json"), js(result))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      js(SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }))
    if (trace) Files.writeString(Paths.get(s"$out/spans.jsonl"), spans.mkString("", "\n", "\n"))
  }
}
