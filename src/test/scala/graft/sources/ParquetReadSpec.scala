package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.LongType
import graft.SparkSpec

/** [[ParquetRead]] resolves the schema a schema-less `spark.read.parquet`
  * infers, on the driver: the same schema, and no Spark job to build the
  * DataFrame.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so once a sentinel job submitted afterwards has been seen,
    * every job `body` started has been counted.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.add(String.valueOf(e.properties.getProperty(
          "spark.job.description"))); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      eventually(timeout(30.seconds))(assert(started.contains("sentinel")))
      import scala.jdk.CollectionConverters._
      (out, started.asScala.takeWhile(_ != "sentinel").size)
    } finally sc.removeSparkListener(listener)
  }

  /** `read` and Spark's schema-less `plain` give the same schema; `read`
    * builds its DataFrame without a job, where `plain` needs one.
    */
  private def sameSchemaNoJob(read: => DataFrame,
      plain: => DataFrame): DataFrame = {
    val (df, jobs) = jobsDuring(read)
    val (expected, plainJobs) = jobsDuring(plain)
    assert(df.schema == expected.schema)
    assert(jobs == 0)
    assert(plainJobs >= 1) // the count above is not vacuous
    df
  }

  test("an events table with a TIMESTAMP(NANOS) column: the legacy flag " +
    "is set before the schema is resolved, and Lake.table rebuilds ts") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("pread-nanos").toString
    val path = s"$dir/events.parquet"
    val schema = MessageTypeParser.parseMessageType("message events { " +
      "required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(path), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1500000000123456789L))
    finally w.close()
    val (events, jobs) = jobsDuring(Lake.table(spark, dir, "events"))
    assert(jobs == 0)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val raw = sameSchemaNoJob(ParquetRead(spark, path),
      spark.read.parquet(path))
    assert(raw.schema("ts").dataType == LongType)
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(events.select($"ts".cast("string")).as[String].head() ==
      "2017-07-14 02:40:00.123456")
  }

  test("a Spark-written directory of several files: `_` and `.` files " +
    "(_SUCCESS, .crc, a sorted-first hidden file) are skipped") {
    val dir = Files.createTempDirectory("pread-dir").toString + "/t"
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "s", "d")
      .repartition(3).write.parquet(dir)
    // not parquet: reading either footer would throw
    Files.write(java.nio.file.Paths.get(dir, "_aaa.parquet"), "x".getBytes)
    Files.write(java.nio.file.Paths.get(dir, ".aaa.parquet"), "x".getBytes)
    // the engine session skips the _SUCCESS marker; a foreign writer's
    Files.write(java.nio.file.Paths.get(dir, "_SUCCESS"), Array[Byte]())
    assert(new java.io.File(dir).list().exists(_.endsWith(".crc")))
    val df = sameSchemaNoJob(ParquetRead(spark, dir), spark.read.parquet(dir))
    assert(df.as[(Long, String, Double)].collect().map(_._1).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("mergeSchema across two VersionedLake versions, the second adding " +
    "a column: the footers fold in file order, as Spark's merge does") {
    import org.apache.hadoop.fs.Path
    val tbl = Files.createTempDirectory("pread-merge").toString
    VersionedLake.commitAll(Seq("t" -> Seq(1L).toDF("x")), tbl)
    VersionedLake.commitAll(Seq("t" -> Seq((2L, "b")).toDF("x", "y")), tbl,
      mode = "append")
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Seq("v1", "v2").flatMap(v =>
      fs.listStatus(new Path(tbl, s"t/_data/$v")).map(_.getPath.toString)
        .filter(_.endsWith(".parquet")))
    for (merge <- Seq("true", "false")) {
      val opts = Map("mergeSchema" -> merge)
      sameSchemaNoJob(ParquetRead.files(spark, files, opts),
        spark.read.options(opts).parquet(files: _*))
    }
    val (df, jobs) = jobsDuring(VersionedLake.readTable(spark, tbl, "t"))
    assert(jobs == 0)
    assert(df.schema.fieldNames.toSeq == Seq("x", "y"))
    assert(df.as[(Long, Option[String])].collect().sortBy(_._1).toSeq ==
      Seq((1L, None), (2L, Some("b"))))
  }

  test("a partitioned version directory: partition columns keep Spark's " +
    "inferred type and place, and a filter on one prunes partitions") {
    import org.apache.hadoop.fs.Path
    val tbl = Files.createTempDirectory("pread-part").toString
    val gc = VersionedLake.beginGroupCommit(spark, tbl)
    gc.write("t", Seq((1L, 7, "a"), (2L, 8, "b"), (3L, 7, "c"))
      .toDF("id", "cell", "s"), partitionBy = Seq("cell"))
    gc.publish()
    val vdir = new Path(tbl, "t/_data/v1").toString
    val fs = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = FsWalk.files(fs, new Path(vdir)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    val opts = Map("basePath" -> vdir, "mergeSchema" -> "true")
    val df = sameSchemaNoJob(VersionedLake.readTable(spark, tbl, "t"),
      spark.read.options(opts + ("__globPaths__" -> "false"))
        .parquet(files: _*))
    assert(df.schema.fieldNames.toSeq == Seq("id", "s", "cell"))
    assert(df.schema("cell").dataType == org.apache.spark.sql.types.IntegerType)
    sameSchemaNoJob(ParquetRead(spark, vdir), spark.read.parquet(vdir))
    val pruned = df.filter($"cell" === 7)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell") &&
      plan.contains("(cell#"), plan)
    assert(pruned.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("a path with no data files, or none at all, raises Spark's own " +
    "error") {
    val empty = Files.createTempDirectory("pread-empty").toString
    Files.write(java.nio.file.Paths.get(empty, "_SUCCESS"), Array[Byte]())
    for (path <- Seq(empty, s"$empty/missing")) {
      val ours = intercept[AnalysisException](ParquetRead(spark, path))
      val spark_ = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition == spark_.getCondition)
      assert(ours.getMessage == spark_.getMessage)
    }
    assert(intercept[AnalysisException](ParquetRead(spark, empty))
      .getCondition == "UNABLE_TO_INFER_SCHEMA")
  }

  /** A schema-less parquet read in a `.read` chain: options and a parquet
    * format may come between `.read` and `.parquet(` / `.load(`, a
    * `.schema(` may not.
    */
  private val SchemaLessRead = ("""\.read\b(?:\s*\.(?:options?\((?:[^()]|""" +
    """\([^()]*\))*\)|format\(\s*"parquet"\s*\)))*\s*\.(?:parquet|load)\(""").r

  test("src/main has no schema-less parquet read: every one goes through " +
    "ParquetRead, so no read launches a schema-inference job") {
    val bad = Seq("spark.read.parquet(p)", "s.read.load(p)",
      "s.read.option(\"basePath\", b)\n  .option(\"k\", f(1)).parquet(p)",
      "spark.read.format(\"parquet\").load(p)")
    val fine = Seq("spark.read.schema(t).parquet(p)",
      "spark.read.options(o).schema(t).parquet(p: _*)",
      "spark.read.format(\"binaryFile\").load(p)", "x.readStream.load(p)")
    assert(bad.forall(SchemaLessRead.findFirstIn(_).nonEmpty))
    assert(fine.forall(SchemaLessRead.findFirstIn(_).isEmpty))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def sources(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq
      .flatMap(f => if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val found = sources(root).flatMap { f =>
      val code = new String(Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
      SchemaLessRead.findAllIn(code).map(m => s"${f.getPath}: $m")
    }
    assert(sources(root).size > 50 && found.isEmpty, found.mkString("\n"))
  }
}
