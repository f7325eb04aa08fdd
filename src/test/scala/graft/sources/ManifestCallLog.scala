package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The local `file:` file system, logging each listing (`list`), open
  * (`open`) and mkdirs (`mkdirs`) under a `_manifests` directory, in call
  * order, as (op, path without scheme).
  */
class ManifestCallLog extends LocalFileSystem {
  import ManifestCallLog.note
  override def listStatus(f: Path): Array[FileStatus] = {
    note("list", f); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    note("open", f); super.open(f, bufferSize)
  }
  override def mkdirs(f: Path): Boolean = {
    note("mkdirs", f); super.mkdirs(f)
  }
}

object ManifestCallLog {
  private val calls = new ConcurrentLinkedQueue[(String, String)]

  private def note(op: String, f: Path): Unit = {
    val p = Path.getPathWithoutSchemeAndAuthority(f).toString
    if (p.contains("/_manifests")) calls.add(op -> p)
  }

  /** Run `body` with every `file:` path of the session served by this
    * file system (installed as `fs.file.impl`, its instances uncached so
    * none made before is reused), and return the manifest calls it made
    * under `root`.
    */
  def during(spark: SparkSession, root: String)(
      body: => Unit): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[ManifestCallLog].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    calls.clear()
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    calls.asScala.toSeq.filter(_._2.startsWith(s"$root/_manifests"))
  }
}
