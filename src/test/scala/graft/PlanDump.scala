package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Scratch tool: dump queries' finalized physical plans to files.
  * Usage: sbt "Test/runMain graft.PlanDump <queryName> <sfDir> <outFile>"
  * or, for several queries in one session,
  * sbt "Test/runMain graft.PlanDump <q1,q2,...> <sfDir> <outDir>" (writes
  * `<outDir>/<query>.txt`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(names, sfDir, out) = args
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val many = names.contains(",")
    names.split(",").foreach { name =>
      val df = Queries.queries(name)(spark, sfDir)
      df.count()
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val file = if (many) s"$out/$name.txt" else out
      java.nio.file.Files.write(java.nio.file.Paths.get(file), p.getBytes)
      println(s"[plandump] $name -> $file (${p.length} chars)")
    }
    spark.stop()
  }
}
