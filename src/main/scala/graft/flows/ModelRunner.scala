package graft.flows

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.{LakeWriter, ParquetRead}

/** How a model's result is persisted after its SQL runs. */
sealed trait Materialization
object Materialization {

  /** Temp view only — recomputed by downstream consumers (dbt `view`). */
  case object View extends Materialization

  /** Full parquet overwrite at `path`; downstream models read the WRITTEN
    * files (dbt `table` — the materialization fence that stops a hot
    * upstream from recomputing once per consumer).
    */
  final case class Table(path: String) extends Materialization

  /** Dynamic partition overwrite at `path`, day-partitioned on `dateCol`
    * (dbt `incremental` with insert_overwrite): only the date partitions
    * present in this run's frame are replaced, so per-day re-runs are
    * idempotent and a 100 TB table never rewrites history to load a day.
    */
  final case class Incremental(path: String, dateCol: String) extends Materialization
}

/** A model "data test" (dbt semantics): `sql` SELECTs the VIOLATING rows —
  * zero rows = pass, each returned row = one failure.
  */
final case class ModelTest(name: String, sql: String)

/** A named SQL model. Dependencies on other models are discovered by
  * scanning `sql` for their names (the Spark-SQL analog of dbt's `ref()`
  * graph — models reference each other as plain view names); `extraDeps`
  * adds edges the scan can't see (e.g. a dependency used only through a
  * registered function).
  */
final case class Model(
    name: String,
    sql: String,
    materialization: Materialization = Materialization.View,
    tests: Seq[ModelTest] = Nil,
    extraDeps: Seq[String] = Nil)

/** dbt-analog model-DAG runner: topologically orders named SQL models,
  * supports dbt-style `--select` / `--exclude` graph selectors, and
  * materializes each model as a view, table, or incremental
  * partition-overwrite (reference:
  * pipelines/datalake/transform/dbt/tasks.py:94-148 — `dbtRunner().invoke(
  * ["run"|"test"|"build", "--select", …, "--exclude", …])`). The executor
  * half was already native (`spark.sql` over registered lake views +
  * engine functions); this is the orchestration half, re-expressed as a
  * driver-side DAG walk — each model body stays a single declarative
  * Catalyst plan, so pushdown/broadcast/AQE apply per model exactly as in
  * any other query.
  *
  * Selector syntax (comma/space-separated union, each token optionally
  * `+`-prefixed/suffixed, mirroring dbt graph operators):
  *   `m`    the model alone
  *   `+m`   m and all its ancestors
  *   `m+`   m and all its descendants
  *   `+m+`  both
  * `exclude` uses the same syntax and is subtracted after `select`.
  */
final class ModelRunner(val models: Seq[Model]) {
  require(models.map(_.name).distinct.size == models.size,
    "duplicate model names")

  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap

  /** Direct dependencies of `m`: other model names appearing in its SQL as
    * standalone identifiers (not substrings, not `schema.`-qualified
    * members), plus declared `extraDeps`.
    */
  def depsOf(m: Model): Set[String] = {
    val scanned = models.iterator.map(_.name).filter { n =>
      n != m.name &&
        Pattern.compile("(?i)(?<![\\w.`])" + Pattern.quote(n) + "(?![\\w`])")
          .matcher(m.sql).find()
    }.toSet
    scanned ++ m.extraDeps.filter(byName.contains)
  }

  private lazy val depGraph: Map[String, Set[String]] =
    models.map(m => m.name -> depsOf(m)).toMap
  private lazy val revGraph: Map[String, Set[String]] =
    models.map(m => m.name ->
      models.filter(o => depGraph(o.name).contains(m.name)).map(_.name).toSet).toMap

  /** All models in dependency order (deterministic: name-sorted among
    * ready). Fails loudly on cycles.
    */
  lazy val topoOrder: Seq[Model] = {
    val indeg = scala.collection.mutable.Map.from(
      models.map(m => m.name -> depGraph(m.name).size))
    val ready = scala.collection.mutable.TreeSet.from(
      indeg.collect { case (n, 0) => n })
    val out = Seq.newBuilder[Model]
    var done = 0
    while (ready.nonEmpty) {
      val n = ready.head; ready.remove(n)
      out += byName(n); done += 1
      revGraph(n).foreach { c =>
        indeg(c) -= 1
        if (indeg(c) == 0) ready += c
      }
    }
    require(done == models.size, {
      val stuck = indeg.collect { case (n, d) if d > 0 => n }.toSeq.sorted
      s"model DAG has a cycle through: ${stuck.mkString(", ")}"
    })
    out.result()
  }

  private def closure(seed: String, next: String => Set[String]): Set[String] = {
    var acc = Set(seed)
    var frontier = Set(seed)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(next) -- acc
      acc ++= frontier
    }
    acc
  }

  private def parseSelector(spec: String): Set[String] =
    spec.split("[,\\s]+").iterator.map(_.trim).filter(_.nonEmpty).flatMap { tok =>
      val up = tok.startsWith("+"); val down = tok.endsWith("+")
      val name = tok.stripPrefix("+").stripSuffix("+")
      require(byName.contains(name), s"unknown model in selector: $name")
      Set(name) ++
        (if (up) closure(name, depGraph) else Set.empty) ++
        (if (down) closure(name, revGraph) else Set.empty)
    }.toSet

  /** Resolve `--select` / `--exclude` to the set of model names to run;
    * empty select = all models.
    */
  def selection(select: String = "", exclude: String = ""): Set[String] = {
    val base =
      if (select.trim.isEmpty) models.map(_.name).toSet else parseSelector(select)
    if (exclude.trim.isEmpty) base else base -- parseSelector(exclude)
  }

  private def materialize(spark: SparkSession, m: Model): DataFrame = {
    val df = spark.sql(m.sql)
    m.materialization match {
      case Materialization.View =>
        df.createOrReplaceTempView(m.name); df
      case Materialization.Table(path) =>
        df.write.mode("overwrite").parquet(path)
        val back = ParquetRead(spark, path)
        back.createOrReplaceTempView(m.name); back
      case Materialization.Incremental(path, dateCol) =>
        LakeWriter.overwritePartitions(
          LakeWriter.withDatePartitions(df, col(dateCol)), path)
        val back = ParquetRead(spark, path)
        back.createOrReplaceTempView(m.name); back
    }
  }

  private def orderedSelection(
      spark: SparkSession, select: String, exclude: String): Seq[Model] = {
    val chosen = selection(select, exclude)
    val ordered = topoOrder.filter(m => chosen(m.name))
    // a selected model may lean on an UNselected upstream only if that
    // upstream is already materialized (dbt: previously-built state)
    ordered.foreach { m =>
      (depGraph(m.name) -- chosen).foreach { d =>
        require(spark.catalog.tableExists(d),
          s"model ${m.name} depends on unselected model $d which is not " +
            "materialized — run it first or widen --select")
      }
    }
    ordered
  }

  /** `dbt run`: materialize the selected models in dependency order.
    * Returns the executed model names, in execution order.
    */
  def run(spark: SparkSession, select: String = "", exclude: String = ""): Seq[String] =
    orderedSelection(spark, select, exclude).map { m =>
      materialize(spark, m); m.name
    }

  /** `dbt test`: run every test of the selected models against their
    * CURRENT materializations. Returns failure counts per
    * `model.test` (0 = pass).
    */
  def test(spark: SparkSession, select: String = "", exclude: String = ""): Map[String, Long] =
    orderedSelection(spark, select, exclude).flatMap { m =>
      m.tests.map(t => s"${m.name}.${t.name}" -> spark.sql(t.sql).count())
    }.toMap

  /** `dbt build`: run each selected model then IMMEDIATELY its tests, in
    * DAG order, failing loudly on the first model whose tests report
    * violations — downstream models never build on data that just failed
    * validation.
    */
  def build(spark: SparkSession, select: String = "", exclude: String = ""): Seq[String] =
    orderedSelection(spark, select, exclude).map { m =>
      materialize(spark, m)
      val fails = m.tests.map(t => t.name -> spark.sql(t.sql).count())
        .filter(_._2 > 0)
      require(fails.isEmpty,
        s"model ${m.name} failed tests: " +
          fails.map { case (n, c) => s"$n ($c rows)" }.mkString(", "))
      m.name
    }
}
