package graft

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.sql.SparkSession
import graft.sources.GraftRawLocalFileSystem

/** Paths every listing, rename and open went to while
  * [[CountingFs.during]] ran, from any thread of the JVM, Spark tasks
  * included (local mode runs them in it). */
object CountingFs {
  final case class Ops(lists: Seq[String], renames: Seq[String], opens: Seq[String])

  private val lists = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val renames = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val opens = new java.util.concurrent.ConcurrentLinkedQueue[String]

  private[graft] def listed(p: Path): Unit = { lists.add(p.toUri.getPath); () }
  private[graft] def renamed(p: Path): Unit = { renames.add(p.toUri.getPath); () }
  private[graft] def opened(p: Path): Unit = { opens.add(p.toUri.getPath); () }

  /** Run `body` with the session's `file://` filesystem counting; the
    * FS cache is bypassed meanwhile, so every `FileSystem.get` — the
    * staging tasks' included — builds a counting instance. */
  def during(spark: SparkSession)(body: => Unit): Ops = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val prior = keys.map(k => k -> Option(conf.get(k)))
    lists.clear(); renames.clear(); opens.clear()
    conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally prior.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    import scala.jdk.CollectionConverters._
    Ops(lists.asScala.toList, renames.asScala.toList, opens.asScala.toList)
  }
}

class CountingRawLocalFs extends GraftRawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = { CountingFs.listed(f); super.listStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { CountingFs.renamed(src); super.rename(src, dst) }
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingFs.opened(f); super.open(f, bufferSize)
  }
}

class CountingLocalFs extends LocalFileSystem(new CountingRawLocalFs)
