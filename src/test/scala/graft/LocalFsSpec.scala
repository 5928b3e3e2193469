package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraftLocalFileSystem, VersionedTable}

/** The local filesystem graft sessions write through: installed on
  * every session, the same file modes as Hadoop's stock local FS, and
  * no process forked by the write path. */
class LocalFsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-localfs-test", cores = 4)

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def oct(s: String) = Integer.parseInt(s, 8)
  private def perm(octal: String) = new FsPermission(oct(octal).toShort)

  test("local FS: the session's file:// FS is graft's") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[GraftLocalFileSystem], fs.getClass)
  }

  test("local FS: created files and dirs carry the stock local FS's modes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val graftFs = new GraftLocalFileSystem
    graftFs.initialize(URI.create("file:///"), conf)
    val stockFs = new LocalFileSystem
    stockFs.initialize(URI.create("file:///"), conf)
    val base = Files.createTempDirectory("graft_fsmode")
    /** Every path's mode bits, sticky bit included, after the same calls through `fs`. */
    def modes(fs: FileSystem, name: String): Map[String, Int] = {
      val dir = new Path(base.resolve(name).toUri)
      fs.mkdirs(new Path(dir, "a/b"))
      val out = fs.create(new Path(dir, "a/b/f.bin"))
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      val f600 = new Path(dir, "f600")
      fs.create(f600).close()
      fs.setPermission(f600, perm("600"))
      val d700 = new Path(dir, "d700")
      fs.mkdirs(d700)
      fs.setPermission(d700, perm("700"))
      val sticky = new Path(dir, "sticky")
      fs.mkdirs(sticky)
      fs.setPermission(sticky, perm("1777"))
      val root = base.resolve(name)
      val walk = Files.walk(root)
      try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString -> mode(p)).toMap
      finally walk.close()
    }
    val graft = modes(graftFs, "graft")
    val stock = modes(stockFs, "stock")
    // the checksummed create also wrote `.f.bin.crc` and friends
    assert(graft.keySet.exists(_.endsWith(".crc")), graft.keySet)
    assert(graft == stock)
    assert(graft("f600") == oct("600"))
    assert(graft("d700") == oct("700"))
    assert(graft("sticky") == oct("1777"))
  }

  test("local FS: write verbs, a checkpoint and vacuum start no chmod, ls, stat or readlink process") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_forks").toString
    val (pRoot, mRoot, lRoot) = (s"$tmp/p", s"$tmp/m", s"$tmp/lex")
    def docs(ids: Range) = ids.map(i => (i.toLong, s"alpha beta w$i gamma")).toDF("doc_id", "text")
    graft.operators.LexIndex.build(spark, lRoot, docs(0 until 6))
    def rows(ids: Range, part: String) = ids.map(i => (i.toLong, part, i * 1.5)).toDF("id", "bucket", "qty")
    // warm write, then take the merge table to v8 so the recorded
    // merge and append land v9 and the checkpointing v10
    (0 to 8).foreach(v => VersionedTable.append(spark, mRoot, rows(v to v, "a"), v - 1L))
    val rec = new jdk.jfr.Recording()
    val starts =
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        VersionedTable.commitPartitioned(spark, pRoot, rows(0 until 6, "x") union rows(6 until 9, "y"),
                                         "bucket", -1L)
        VersionedTable.appendPartitioned(spark, pRoot, rows(9 until 12, "z"), "bucket", 0L)
        VersionedTable.mergePartitioned(spark, pRoot, rows(7 until 9, "y"), Seq("id"), "bucket")
        VersionedTable.compactPartitioned(spark, pRoot)
        VersionedTable.merge(spark, mRoot, rows(0 until 2, "b"), Seq("id"))
        VersionedTable.append(spark, mRoot, rows(20 until 21, "c"), 9L)
        VersionedTable.vacuum(spark, mRoot, keepLast = 1)
        // three table commits, then the manifest flip
        graft.operators.LexIndex.ingest(spark, lRoot, docs(6 until 9))
        rec.stop()
        val dump = Files.createTempFile("graft_forks", ".jfr")
        rec.dump(dump)
        import scala.jdk.CollectionConverters._
        jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command"))
      } finally rec.close()
    assert(VersionedTable.read(spark, pRoot).count() == 12)
    assert(VersionedTable.currentVersion(spark, mRoot).contains(10L))
    assert(Files.exists(Paths.get(s"$mRoot/_log/v00000010.checkpoint")))
    assert(VersionedTable.read(spark, mRoot).count() == 10)
    assert(graft.operators.LexIndex.probe(spark, lRoot,
      Seq((100L, "w7")).toDF("doc_id", "text")).collect().map(_.getAs[Long]("doc_id")).contains(7L))
    val forbidden = Set("chmod", "ls", "stat", "readlink")
    val forks = starts.filter(c => forbidden(c.trim.split("\\s+").head.split('/').last))
    assert(forks.size == 0, s"of ${starts.size} process starts, e.g. ${forks.take(3).mkString("; ")}")
  }
}
