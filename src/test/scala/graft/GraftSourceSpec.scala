package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DataSkipping, GraftFileIndex, VersionedTable}

/** `format("graft")` — the versioned table as a first-class Spark
  * source/sink: snapshot + time-travel batch reads whose file listing
  * prunes from sidecar stats against Catalyst's pushed filters, a
  * commit-log streaming source (committed dirs only, version
  * offsets), and an idempotent streaming sink (`#txn` markers). */
class GraftSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("graft-source-test", cores = 4)

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/t"

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  // ── batch relation ────────────────────────────────────────────────

  test("format(graft): head read equals VersionedTable.read; versionAsOf equals readAsOf") {
    val root = tmp("src_head")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 5).toDF("id"), -1L)
    VersionedTable.append(spark, root, spark.range(5, 9).toDF("id"), v0)

    assert(ids(spark.read.format("graft").load(root)) == (0L until 9L).toSet)
    assert(ids(spark.read.format("graft").option("versionAsOf", "0").load(root))
      == (0L until 5L).toSet)
    // a far-future timestamp resolves to the head; a prehistoric one fails loudly
    assert(ids(spark.read.format("graft")
      .option("timestampAsOf", (System.currentTimeMillis() + 3600L * 1000).toString)
      .load(root)) == (0L until 9L).toSet)
    intercept[java.io.FileNotFoundException] {
      spark.read.format("graft").option("timestampAsOf", "1000").load(root)
    }
  }

  test("format(graft) resolves DSv2: BatchScan/ParquetScan batch, MicroBatchScan stream") {
    // regression pin for the v2 migration: a capability or option
    // drift that silently dropped reads back to the v1 relation would
    // keep results correct but lose the v2 scan machinery (engine-
    // reported pushdown, columnar batches, admission control) — so
    // pin the PHYSICAL shape, not just the rows
    import org.apache.spark.sql.functions._
    val root = tmp("src_v2")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 10).toDF("id"), -1L)
    VersionedTable.append(spark, root, spark.range(10, 20).toDF("id"), v0)
    val df = spark.read.format("graft").load(root).filter(col("id") >= 5L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan") && p.contains("ParquetScan"),
      s"batch read fell back to the v1 relation:\n$p")
    assert(p.contains("GraftPartitioningAwareIndex"),
      "v2 scan is not listing through the graft sidecar index")
    // streaming: v2 micro-batch (Spark 4.1 does not negotiate column
    // pruning for micro-batch scans — the scan carries the full
    // schema and a Project sits above it; pin the scan NODE, which is
    // the v2-vs-v1 evidence)
    val cp = java.nio.file.Files.createTempDirectory("graft_v2cp").toString
    val wide = spark.range(0, 5).toDF("id")
      .withColumn("payload", concat(lit("p"), col("id")))
    val root2 = tmp("src_v2s")
    VersionedTable.commit(spark, root2, wide, -1L)
    val q = spark.readStream.format("graft").load(root2).select("id")
      .writeStream.format("memory").queryName("graft_v2_pin")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val sp = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(sp.contains("MicroBatchScan"),
        s"stream fell back to the v1 source:\n$sp")
      assert(spark.table("graft_v2_pin").count() == 5)
    } finally q.stop()
  }

  test("format(graft): pushed filters prune dirs via min/max stats, result stays exact") {
    import org.apache.spark.sql.functions._
    val root = tmp("src_prune")
    // three dirs with DISJOINT id ranges, stats written at append time
    // (the final ensureStats covers the v0 dir too)
    VersionedTable.commit(spark, root, spark.range(0, 100).toDF("id"), -1L)
    DataSkipping.appendWithStats(spark, root,
      spark.range(100, 200).toDF("id"), Seq("id"))
    DataSkipping.appendWithStats(spark, root,
      spark.range(200, 300).toDF("id"), Seq("id"))

    val hit = spark.read.format("graft").load(root).filter(col("id") === 250L)
    assert(ids(hit) == Set(250L))
    assert(GraftFileIndex.lastDirsTotal == 3 && GraftFileIndex.lastDirsKept == 1,
      s"point probe must open 1/3 dirs, opened ${GraftFileIndex.lastDirsKept}")

    val range = spark.read.format("graft").load(root)
      .filter(col("id") >= 150L && col("id") < 220L)
    assert(range.count() == 70)
    assert(GraftFileIndex.lastDirsKept == 2,
      "range straddling two dirs must open exactly those two")

    val or = spark.read.format("graft").load(root)
      .filter(col("id") === 10L || col("id") === 290L)
    assert(ids(or) == Set(10L, 290L))
    assert(GraftFileIndex.lastDirsKept == 2, "disjunction keeps the union of arms")

    val miss = spark.read.format("graft").load(root).filter(col("id") === 999L)
    assert(miss.count() == 0)
    assert(GraftFileIndex.lastDirsKept == 0, "provably-empty probe opens no dir")

    // the same filters reach the parquet reader too (row-group tier)
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,250)"),
      s"filter must push to the parquet scan:\n$plan")
  }

  test("format(graft): a stats-less table never prunes (no stats never means no data)") {
    import org.apache.spark.sql.functions._
    val root = tmp("src_nostats")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 50).toDF("id"), -1L)
    VersionedTable.append(spark, root, spark.range(50, 100).toDF("id"), v0)
    val got = spark.read.format("graft").load(root).filter(col("id") === 75L)
    assert(ids(got) == Set(75L))
    assert(GraftFileIndex.lastDirsKept == GraftFileIndex.lastDirsTotal)
  }

  test("format(graft): bloom tier prunes point probes on unclustered string keys") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tmp("src_bloom")
    // high-cardinality digests in arrival order: min/max ranges all
    // overlap, only the bloom can prune
    def batch(seed: Int) = (0 until 200)
      .map(i => (s"sha-${(i * 2654435761L + seed * 40503L) % 100000}%05d", seed))
      .toDF("digest", "gen")
    val v0 = VersionedTable.commit(spark, root, batch(1), -1L)
    val v1 = VersionedTable.append(spark, root, batch(2), v0)
    VersionedTable.append(spark, root, batch(3), v1)

    val probe = batch(3).select("digest").as[String].head()
    val got = spark.read.format("graft")
      .option("ensureBloom", "digest").load(root)
      .filter(col("digest") === probe)
    assert(got.count() >= 1)
    assert(GraftFileIndex.lastDirsKept < GraftFileIndex.lastDirsTotal,
      s"bloom must prune some of the ${GraftFileIndex.lastDirsTotal} dirs " +
        s"on a point probe (kept ${GraftFileIndex.lastDirsKept})")
  }

  test("format(graft): partition-native tables prune exactly on the partition column") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tmp("src_part")
    def day(d: Int, lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"2024-01-0$d")).toDF("id", "day")
    val v0 = VersionedTable.commitPartitioned(spark, root, day(1, 0, 10), "day", -1L)
    VersionedTable.appendPartitioned(spark, root,
      day(2, 10, 20).union(day(3, 20, 30)), "day", v0)

    val hit = spark.read.format("graft").load(root)
      .filter(col("day") === "2024-01-02")
    assert(hit.select("id").collect().map(_.getLong(0)).toSet == (10L until 20L).toSet)
    assert(GraftFileIndex.lastDirsKept == 1 && GraftFileIndex.lastDirsTotal == 3,
      s"partition probe must open 1/3 dirs, opened ${GraftFileIndex.lastDirsKept}")

    val in2 = spark.read.format("graft").load(root)
      .filter(col("day").isin("2024-01-01", "2024-01-03"))
    assert(in2.count() == 20)
    assert(GraftFileIndex.lastDirsKept == 2)

    val range = spark.read.format("graft").load(root)
      .filter(col("day") >= "2024-01-03")
    assert(range.count() == 10)
    assert(GraftFileIndex.lastDirsKept == 1)

    // maintenance preserves the marker: compaction then a partition
    // merge, pruning must still work at the new head
    VersionedTable.compactPartitioned(spark, root)
    VersionedTable.mergePartitioned(spark, root,
      Seq((25L, "2024-01-03")).toDF("id", "day"), Seq("id"), "day")
    val afterMaint = spark.read.format("graft").load(root)
      .filter(col("day") === "2024-01-03")
    assert(afterMaint.count() == 10)
    assert(GraftFileIndex.lastDirsKept == 1 && GraftFileIndex.lastDirsTotal == 3,
      "compact + merge must carry the #partcol marker forward")
  }

  test("format(graft): numeric partition values compare numerically, not lexically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = tmp("src_part_num")
    val v0 = VersionedTable.commitPartitioned(spark, root,
      (0 until 5).map(i => (i, 2)).toDF("id", "bucket"), "bucket", -1L)
    VersionedTable.appendPartitioned(spark, root,
      (5 until 10).map(i => (i, 10)).toDF("id", "bucket"), "bucket", v0)
    // lexically "10" < "2" — a string compare would prune the wrong dir
    val got = spark.read.format("graft").load(root).filter(col("bucket") >= 10)
    assert(got.count() == 5)
    assert(GraftFileIndex.lastDirsKept == 1)
    assert(spark.read.format("graft").load(root)
      .filter(col("bucket") === 2).count() == 5)
    assert(GraftFileIndex.lastDirsKept == 1)
  }

  test("format(graft): a long append chain lists distributed, reads exact") {
    import org.apache.spark.sql.functions._
    val root = tmp("src_many")
    var v = VersionedTable.commit(spark, root, spark.range(0, 10).toDF("id"), -1L)
    (1 until 40).foreach { g =>
      v = VersionedTable.append(spark, root,
        spark.range(g * 10L, g * 10L + 10).toDF("id"), v)
    }
    // a log written before commits listed files: readers list its dirs
    stripFileLines(root)
    val df = spark.read.format("graft").load(root)
    assert(df.count() == 400)
    assert(GraftFileIndex.lastListingDistributed,
      "40 dirs must take the distributed listing path")
    assert(ids(df.filter(col("id") === 250L)) == Set(250L))
  }

  test("format(graft): z-ordered tables prune range filters on either cluster column") {
    import org.apache.spark.sql.functions._
    val root = tmp("src_zord")
    val data = spark.range(0, 4000).toDF("id")
      .withColumn("x", col("id") % 64)
      .withColumn("y", (col("id") / lit(64)).cast("long"))
    DataSkipping.zOrderCommit(spark, root, data, "x", "y", nDirs = 16, base = -1L)
    val onX = spark.read.format("graft").load(root)
      .filter(col("x") >= 0 && col("x") <= 3)
    assert(onX.count() == data.filter(col("x") <= 3).count())
    val keptX = GraftFileIndex.lastDirsKept
    assert(keptX < GraftFileIndex.lastDirsTotal,
      s"x-range must prune a z-ordered layout (kept $keptX)")
    val onY = spark.read.format("graft").load(root)
      .filter(col("y") >= 0 && col("y") <= 3)
    assert(onY.count() == data.filter(col("y") <= 3).count())
    assert(GraftFileIndex.lastDirsKept < GraftFileIndex.lastDirsTotal,
      "y-range must prune too — that is what the z-curve buys over linear sort")
  }

  test("format(graft): repeated reads of one version share a cached listing") {
    val root = tmp("src_cache")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 5).toDF("id"), -1L)
    stripFileLines(root)
    assert(spark.read.format("graft").load(root).count() == 5)
    assert(spark.read.format("graft").load(root).count() == 5)
    assert(GraftFileIndex.lastListingCached,
      "second read of the same version must not re-list the filesystem")
    // a NEW version is a different snapshot: misses, then caches
    VersionedTable.append(spark, root, spark.range(5, 8).toDF("id"), v0)
    stripFileLines(root)
    assert(spark.read.format("graft").load(root).count() == 8)
    assert(!GraftFileIndex.lastListingCached)
    assert(spark.read.format("graft").load(root).count() == 8)
    assert(GraftFileIndex.lastListingCached)
  }

  // ── file-level log: commits name each dir's files ─────────────────

  /** Every commit and checkpoint of `root` rewritten as a log from
    * before commits listed files: each entry keeps only its dir and
    * partition value. */
  private def stripFileLines(root: String): Unit = {
    val log = java.nio.file.Paths.get(root, "_log")
    def strip(entry: String): String = entry.split("\t") match {
      case Array(rel, pv, _) => if (pv.isEmpty) rel else s"$rel\t$pv"
      case _ => entry
    }
    val walk = java.nio.file.Files.list(log)
    try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(f => f.getFileName.toString.matches("v\\d{8}\\.(commit|checkpoint)")).foreach { f =>
        val cp = f.getFileName.toString.endsWith(".checkpoint")
        val lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split("\n").map { l =>
          if (l.startsWith("#")) l
          else if (cp) { val i = l.indexOf('\t'); l.substring(0, i + 1) + strip(l.substring(i + 1)) }
          else strip(l)
        }
        java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      }
    finally walk.close()
  }

  /** Listings of data dirs (not of `_log`) in `ops`. */
  private def dataListings(ops: CountingFs.Ops): Seq[String] =
    ops.lists.filterNot(_.contains("/_log"))

  test("format(graft): a long append chain reads from the log, listing nothing") {
    import org.apache.spark.sql.functions._
    val root = tmp("src_many_log")
    var v = VersionedTable.commit(spark, root, spark.range(0, 10).toDF("id"), -1L)
    (1 until 40).foreach { g =>
      v = VersionedTable.append(spark, root,
        spark.range(g * 10L, g * 10L + 10).toDF("id"), v)
    }
    var n = 0L
    var hit = Set.empty[Long]
    val ops = CountingFs.during(spark) {
      val df = spark.read.format("graft").load(root)
      n = df.count()
      hit = ids(df.filter(col("id") === 250L))
    }
    assert(n == 400 && hit == Set(250L))
    assert(dataListings(ops).isEmpty, s"a log-fed read listed ${dataListings(ops).take(3)}")
  }

  test("format(graft): repeated reads and a new version's read list nothing") {
    val root = tmp("src_cache_log")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 5).toDF("id"), -1L)
    val ops = CountingFs.during(spark) {
      assert(spark.read.format("graft").load(root).count() == 5)
      assert(spark.read.format("graft").load(root).count() == 5)
      VersionedTable.append(spark, root, spark.range(5, 8).toDF("id"), v0)
      assert(spark.read.format("graft").load(root).count() == 8)
      assert(VersionedTable.read(spark, root).count() == 8)
    }
    assert(dataListings(ops).isEmpty, s"reads listed ${dataListings(ops).take(3)}")
  }

  test("file log: a stray file in a published dir is invisible to every read, stream and stats build") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = tmp("stray")
    def rows(lo: Int, n: Int) = (lo until lo + n).map(i => (i.toLong, s"p${i % 3}", i * 1.0)).toDF("id", "part", "x")
    val v0 = VersionedTable.commitPartitioned(spark, root, rows(0, 30), "part", -1L)
    val v1 = VersionedTable.appendPartitioned(spark, root, rows(30, 12), "part", v0)
    val flat = tmp("stray_flat")
    val u0 = VersionedTable.commit(spark, flat, rows(0, 30), -1L)
    VersionedTable.append(spark, flat, rows(30, 12), u0)
    // a failed or zombie task attempt's leftovers in every published
    // dir: a whole parquet file (rows that would double) and a
    // truncated one (a footer that would fail any reader)
    for (t <- Seq(root, flat); rel <- VersionedTable.dirsOf(spark, t, VersionedTable.headVersion(spark, t))) {
      val dir = java.nio.file.Paths.get(t, rel)
      val logged = java.nio.file.Files.list(dir)
      val file = try logged.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get finally logged.close()
      java.nio.file.Files.copy(file, dir.resolve("part-7-1.parquet"))
      java.nio.file.Files.write(dir.resolve("part-7-0.parquet"), "PAR1 truncated".getBytes("UTF-8"))
    }
    assert(VersionedTable.read(spark, root).count() == 42)
    assert(VersionedTable.readAsOf(spark, root, v0).count() == 30)
    assert(VersionedTable.readPartition(spark, root, "p1").count() == 14)
    assert(spark.read.format("graft").load(root).filter(col("part") === "p2").count() == 14)
    assert(spark.read.format("graft").load(flat).count() == 42)
    assert(VersionedTable.read(spark, flat).count() == 42)
    val q = spark.readStream.format("graft").load(flat)
      .writeStream.format("memory").queryName("graft_stray_s").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_stray_s").count() == 42)
    } finally q.stop()
    val stats = DataSkipping.ensureStats(spark, root, v1, Seq("id"))
    assert(stats.values.map(_("id")._2).max == 41.0 && stats.values.map(_("id")._1).min == 0.0)
    val blooms = DataSkipping.ensureBloom(spark, flat, VersionedTable.headVersion(spark, flat), "part")
    assert(blooms.size == 2)
  }

  test("file log: a legacy log without file lines reads identically through the listing") {
    import spark.implicits._
    val root = tmp("legacy")
    val flat = tmp("legacy_flat")
    def rows(lo: Int, n: Int) = (lo until lo + n).map(i => (i.toLong, s"p${i % 3}", i * 1.0)).toDF("id", "part", "x")
    var v = VersionedTable.commitPartitioned(spark, root, rows(0, 9), "part", -1L)
    (1 to 11).foreach(w => v = VersionedTable.appendPartitioned(spark, root, rows(w * 9, 9), "part", v))
    var u = VersionedTable.commit(spark, flat, rows(0, 5), -1L)
    u = VersionedTable.append(spark, flat, rows(5, 5), u)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_log", "v00000010.checkpoint")))
    def snapshot(): Seq[Set[String]] =
      ((0L to v).map(VersionedTable.readAsOf(spark, root, _)) ++
        Seq(VersionedTable.read(spark, root), VersionedTable.readPartition(spark, root, "p2"),
            spark.read.format("graft").load(root), VersionedTable.read(spark, flat),
            spark.read.format("graft").load(flat)))
        .map(_.collect().map(_.toString).toSet)
    val before = snapshot()
    stripFileLines(root)
    stripFileLines(flat)
    assert(VersionedTable.entriesOf(spark, root, v).forall(_.files.isEmpty))
    assert(snapshot() == before)
    // a write on top carries the legacy entries as they are
    val v2 = VersionedTable.appendPartitioned(spark, root, rows(200, 3), "part", v)
    val es = VersionedTable.entriesOf(spark, root, v2)
    assert(es.count(_.files.isDefined) == 3 && es.count(_.files.isEmpty) == 36)
    assert(VersionedTable.read(spark, root).count() == 111)
  }

  test("file log: file lines survive the checkpoint and vacuum") {
    val root = tmp("cp_files")
    var v = VersionedTable.commit(spark, root, spark.range(0, 3).toDF("id"), -1L)
    (1 to 10).foreach(g => v = VersionedTable.append(spark, root, spark.range(g * 3L, g * 3L + 3).toDF("id"), v))
    assert(v == 10L)
    def text(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_log", name)), "UTF-8").split("\n").toSeq
    val head = text("v00000010.commit").filterNot(_.startsWith("#"))
    assert(head.size == 11 && head.forall(_.split("\t").length == 3), head.take(2))
    // the checkpoint holds the same entry lines, file fields included
    val cp = text("v00000010.checkpoint").filter(_.startsWith("10\t")).map(_.stripPrefix("10\t"))
    assert(cp == head)
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_log", "v00000009.commit")))
    val kept = VersionedTable.entriesOf(spark, root, 10L)
    assert(kept.map(_.line) == head)
    kept.foreach(e => e.files.get.foreach { case (name, len) =>
      assert(java.nio.file.Files.size(java.nio.file.Paths.get(root, e.rel, name)) == len) })
    assert(ids(VersionedTable.read(spark, root)) == (0L until 33L).toSet)
    val v11 = VersionedTable.append(spark, root, spark.range(33, 36).toDF("id"), 10L)
    assert(VersionedTable.entriesOf(spark, root, v11).forall(_.files.exists(_.nonEmpty)))
    assert(VersionedTable.read(spark, root).count() == 36)
  }

  test("file log: an empty write logs zero files and reads 0 rows with the logged schema") {
    import spark.implicits._
    val root = tmp("empty_write")
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
    val v0 = VersionedTable.commit(spark, root, df, -1L)
    val v1 = VersionedTable.deleteKeys(spark, root, df.select("id"), Seq("id"))
    val e1 = VersionedTable.entriesOf(spark, root, v1)
    assert(e1.size == 1 && e1.head.files.contains(Nil), e1)
    assert(VersionedTable.read(spark, root).count() == 0)
    assert(VersionedTable.read(spark, root).schema == org.apache.spark.sql.graft.SqlShim.nullable(df.schema))
    assert(VersionedTable.readAsOf(spark, root, v0).count() == 2)
    val empty = tmp("empty_commit")
    val e0 = VersionedTable.commit(spark, empty, df.limit(0), -1L)
    assert(VersionedTable.entriesOf(spark, empty, e0).map(_.files) == Seq(Some(Nil)))
    assert(spark.read.format("graft").load(empty).count() == 0)
    assert(spark.read.format("graft").load(empty).schema == org.apache.spark.sql.graft.SqlShim.nullable(df.schema))
    VersionedTable.append(spark, empty, df, e0)
    assert(VersionedTable.read(spark, empty).count() == 2)
  }

  test("staging: the writer's files match df.write.parquet's footer schema and row counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    def footers(dir: String): Seq[(org.apache.parquet.schema.MessageType, Long, Option[String])] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      val files = try ls.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq finally ls.close()
      files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try (r.getFileMetaData.getSchema, r.getRecordCount,
             Option(r.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")))
        finally r.close()
      }.sortBy(_._2)
    }
    val df = (0 until 300).map(i => (i.toLong, if (i % 7 == 0) null else s"s$i", i * 0.5,
        BigDecimal(i) / 100, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Seq(i, i + 1), s"p${i % 3}"))
      .toDF("id", "s", "x", "d", "ts", "arr", "part")
      .withColumn("st", struct(col("id"), col("s")))
      .repartition(3)
    val reference = tmp("footer_ref")
    df.write.parquet(reference)
    val root = tmp("footer")
    val v = VersionedTable.commit(spark, root, df, -1L)
    val rel = VersionedTable.dirsOf(spark, root, v).head
    assert(footers(s"$root/$rel") == footers(reference))
    // partition-scoped: each value's one file carries the same schema
    // and that value's rows
    val proot = tmp("footer_part")
    val pv = VersionedTable.commitPartitioned(spark, proot, df, "part", -1L)
    val refSchema = footers(reference).head._1
    VersionedTable.entriesOf(spark, proot, pv).foreach { e =>
      val got = footers(s"$proot/${e.rel}")
      assert(got.map(_._1) == Seq(refSchema), e.rel)
      assert(got.map(_._2).sum == 100)
    }
  }

  test("staging: a write starts no output committer, renames nothing and lists no data dir") {
    import spark.implicits._
    val root = tmp("no_committer")
    val flat = tmp("no_committer_flat")
    def rows(lo: Int, n: Int) = (lo until lo + n).map(i => (i.toLong, s"p${i % 4}", i * 1.0)).toDF("id", "part", "x")
    val ops = CountingFs.during(spark) {
      val v0 = VersionedTable.commitPartitioned(spark, root, rows(0, 40), "part", -1L)
      val v1 = VersionedTable.appendPartitioned(spark, root, rows(40, 8).repartition(2), "part", v0)
      VersionedTable.mergePartitioned(spark, root, rows(0, 6), Seq("id"), "part")
      VersionedTable.compactPartitioned(spark, root)
      val u0 = VersionedTable.commit(spark, flat, rows(0, 10).repartition(3), -1L)
      VersionedTable.append(spark, flat, rows(10, 5), u0)
      VersionedTable.appendRebase(spark, flat, rows(15, 5))
      assert(v1 == 1L)
    }
    assert(ops.renames.isEmpty, s"renames: ${ops.renames.take(3)}")
    assert(dataListings(ops).isEmpty, s"listings: ${dataListings(ops).take(3)}")
    for (t <- Seq(root, flat)) {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      val names = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
                  finally walk.close()
      assert(!names.exists(n => n.contains("_temporary") || n.contains("_SUCCESS")), names)
    }
    assert(VersionedTable.read(spark, root).count() == 48)
    assert(VersionedTable.read(spark, flat).count() == 20)
  }

  test("staging: the write runs under one SQL execution described `graft stage <root> v<next>`") {
    import spark.implicits._
    val root = tmp("stage_desc")
    val v0 = VersionedTable.commitPartitioned(spark, root,
      (0 until 20).map(i => (i.toLong, s"p${i % 2}")).toDF("id", "part"), "part", -1L)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add((j.properties.getProperty("spark.job.description"),
                  j.properties.getProperty("spark.sql.execution.id"))); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    // an exchange below the write: its stage job and the write job
    val batch = (20 until 60).map(i => (i.toLong, s"p${i % 3}")).toDF("id", "part")
      .groupBy("part").agg(org.apache.spark.sql.functions.max("id").as("id"))
      .select("id", "part")
    try { VersionedTable.appendPartitioned(spark, root, batch, "part", v0); Thread.sleep(500) }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toList
    assert(seen.size >= 2, seen)
    assert(seen.forall(_._1 == s"graft stage $root v1"), seen)
    assert(seen.map(_._2).distinct.size == 1 && seen.head._2 != null, seen)
    assert(VersionedTable.read(spark, root).count() == 23)
  }

  test("format(graft): merge-schema evolution serves the union schema with nulls") {
    import spark.implicits._
    val root = tmp("src_evo")
    val v0 = VersionedTable.commit(spark, root,
      Seq((1L, "a")).toDF("id", "s"), -1L)
    VersionedTable.append(spark, root,
      Seq((2L, "b", 9.5)).toDF("id", "s", "score"), v0)
    val df = spark.read.format("graft").load(root)
    assert(df.columns.toSet == Set("id", "s", "score"))
    assert(df.filter("id = 1").select("score").collect().head.isNullAt(0))
  }

  // ── log-fed read path ─────────────────────────────────────────────

  /** Jobs started while `body` runs (the listener pattern of the
    * bloom-backfill spec: events drain asynchronously). */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  private def commitText(root: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$root/_log/v$v%08d.commit")), "UTF-8")

  /** A partition-native table of `waves` appends over `parts` values:
    * `waves * parts` dirs at the head. */
  private def chain(tag: String, waves: Int, parts: Int): String = {
    import spark.implicits._
    val root = tmp(tag)
    def wave(w: Int) = (0 until parts).map(p => ((w * parts + p).toLong, s"p$p")).toDF("id", "part")
    var v = VersionedTable.commitPartitioned(spark, root, wave(0), "part", -1L)
    (1 until waves).foreach(w => v = VersionedTable.appendPartitioned(spark, root, wave(w), "part", v))
    root
  }

  test("log-fed reads: a first read of a version runs at most 1 job before its action, a repeat none") {
    // 40 dirs (above the 32-dir parallel-listing threshold), and 1 dir
    val wide = chain("jobs_wide", waves = 10, parts = 4)
    val narrow = chain("jobs_narrow", waves = 1, parts = 1)
    VersionedTable.commitPartitioned(spark, narrow,
      VersionedTable.read(spark, narrow), "part", 0L) // v1: one dir again
    assert(VersionedTable.dirsOf(spark, wide, 9L).size == 40)
    for ((root, rows) <- Seq(wide -> 40L, narrow -> 1L)) {
      val head = VersionedTable.currentVersion(spark, root).get
      val reads: Seq[(String, () => DataFrame)] = Seq(
        "read" -> (() => VersionedTable.read(spark, root)),
        "readAsOf(older)" -> (() => VersionedTable.readAsOf(spark, root, head - 1)),
        "readPartition" -> (() => VersionedTable.readPartition(spark, root, "p0")),
        "format(graft)" -> (() => spark.read.format("graft").load(root)))
      for ((name, r) <- reads) {
        // everything before the action: resolve, schema, file listing
        val first = jobsDuring(r().inputFiles)
        val again = jobsDuring(r().inputFiles)
        assert(first <= 1, s"$name of ${VersionedTable.dirsOf(spark, root, head).size} dirs: " +
          s"first read ran $first jobs before its action")
        assert(again == 0, s"$name: repeat read ran $again jobs before its action")
      }
      assert(VersionedTable.read(spark, root).count() == rows)
    }
  }

  test("log-fed reads: two reads of one version are equal relations (sameResult, cache hits)") {
    val root = chain("eq", waves = 2, parts = 2)
    def plan(df: DataFrame) = df.queryExecution.analyzed
    val a = VersionedTable.read(spark, root)
    val b = VersionedTable.read(spark, root)
    assert(plan(a).sameResult(plan(b)), "two reads of one version must be the same relation")
    assert(plan(VersionedTable.readAsOf(spark, root, 1L)).sameResult(plan(a)))
    assert(!plan(VersionedTable.readAsOf(spark, root, 0L)).sameResult(plan(a)))
    assert(plan(VersionedTable.readPartition(spark, root, "p0"))
      .sameResult(plan(VersionedTable.readPartition(spark, root, "p0"))))
    assert(!plan(VersionedTable.readPartition(spark, root, "p0"))
      .sameResult(plan(VersionedTable.readPartition(spark, root, "p1"))))
    a.persist()
    try assert(b.queryExecution.withCachedData.toString.contains("InMemoryRelation"),
      "a second read of a cached version must hit the cache")
    finally a.unpersist()
  }

  test("schema log: an evolving append chain logs the footer-merged union, same order; old rows read null") {
    import spark.implicits._
    val root = tmp("slog_evo")
    val v0 = VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"), -1L)
    val v1 = VersionedTable.append(spark, root, Seq((2L, 9.5, "b")).toDF("id", "score", "s"), v0)
    val v2 = VersionedTable.append(spark, root, Seq((3L, "c", 7)).toDF("id", "s", "n"), v1)
    val footers = spark.read.option("mergeSchema", "true")
      .parquet(VersionedTable.dirsOf(spark, root, v2).map(r => s"$root/$r"): _*).schema
    val logged = VersionedTable.read(spark, root).schema
    assert(logged == footers, s"logged $logged, footer merge $footers")
    assert(logged.fieldNames.toSeq == Seq("id", "s", "score", "n"))
    assert(commitText(root, v2).split("\n").exists(_.startsWith("#schema\t")))
    val byId = VersionedTable.read(spark, root).collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).isNullAt(2) && byId(1L).isNullAt(3) && byId(2L).isNullAt(3))
    assert(byId(3L).getInt(3) == 7)
    // each version keeps its own schema
    assert(VersionedTable.readAsOf(spark, root, v0).columns.toSeq == Seq("id", "s"))
  }

  test("schema log: readPartition serves the version's schema, null where a partition lacks a column") {
    import spark.implicits._
    val root = tmp("slog_part")
    val v0 = VersionedTable.commitPartitioned(spark, root,
      Seq((1L, "a", "p0"), (2L, "b", "p1")).toDF("id", "s", "part"), "part", -1L)
    VersionedTable.appendPartitioned(spark, root,
      Seq((3L, "c", "p1", 4.5)).toDF("id", "s", "part", "score"), "part", v0)
    val p0 = VersionedTable.readPartition(spark, root, "p0")
    assert(p0.columns.toSeq == Seq("id", "s", "part", "score"))
    val only = p0.collect()
    assert(only.length == 1 && only.head.getLong(0) == 1L && only.head.isNullAt(3))
  }

  test("schema log: a type-conflicting append fails at commit with Spark's merge error") {
    import spark.implicits._
    val root = tmp("slog_conflict")
    val v0 = VersionedTable.append(spark, root, Seq((1L, "a")).toDF("id", "s"), -1L)
    val e = intercept[Exception] {
      VersionedTable.append(spark, root, Seq((2L, 5)).toDF("id", "s"), v0)
    }
    assert(e.getMessage.toLowerCase.contains("merge"), e.getMessage)
    val pv0 = VersionedTable.commitPartitioned(spark, s"${root}_p",
      Seq((1L, "a", "p0")).toDF("id", "s", "part"), "part", -1L)
    intercept[Exception] {
      VersionedTable.appendPartitioned(spark, s"${root}_p",
        Seq((2L, 5, "p0")).toDF("id", "s", "part"), "part", pv0)
    }
    // nothing published, nothing staged
    assert(VersionedTable.currentVersion(spark, root).contains(v0))
    assert(VersionedTable.currentVersion(spark, s"${root}_p").contains(pv0))
    assert(new java.io.File(s"$root/data").list().length == 1)
    assert(new java.io.File(s"${root}_p/data").list().length == 1)
    assert(VersionedTable.read(spark, root).count() == 1)
  }

  test("schema log: a log without #schema lines reads the same rows and schema") {
    import spark.implicits._
    val root = tmp("slog_legacy")
    val v0 = VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "s"), -1L)
    val v1 = VersionedTable.append(spark, root, Seq((2L, 9.5, "b")).toDF("id", "score", "s"), v0)
    def snapshot(v: Long) = {
      val df = VersionedTable.readAsOf(spark, root, v)
      (df.schema, df.collect().map(_.toString).toSet)
    }
    val before = Seq(v0, v1).map(snapshot)
    Seq(v0, v1).foreach { v =>
      val stripped = commitText(root, v).split("\n").filterNot(_.startsWith("#schema\t"))
      java.nio.file.Files.write(java.nio.file.Paths.get(f"$root/_log/v$v%08d.commit"),
        stripped.mkString("\n").getBytes("UTF-8"))
      assert(!commitText(root, v).contains("#schema"))
    }
    assert(Seq(v0, v1).map(snapshot) == before)
    assert(spark.read.format("graft").load(root).schema == before.last._1)
    // the next write logs base ∪ staged again
    val v2 = VersionedTable.append(spark, root, Seq((3L, "c")).toDF("id", "s"), v1)
    assert(commitText(root, v2).split("\n").exists(_.startsWith("#schema\t")))
    assert(VersionedTable.read(spark, root).schema == before.last._1)
  }

  test("format(graft) write path: save modes map to the commit protocol") {
    val root = tmp("src_write")
    spark.range(0, 3).toDF("id").write.format("graft").save(root) // ErrorIfExists default
    assert(ids(spark.read.format("graft").load(root)) == (0L until 3L).toSet)
    intercept[IllegalStateException] {
      spark.range(0, 3).toDF("id").write.format("graft").save(root)
    }
    spark.range(3, 6).toDF("id").write.format("graft").mode("append").save(root)
    assert(ids(spark.read.format("graft").load(root)) == (0L until 6L).toSet)
    spark.range(9, 11).toDF("id").write.format("graft").mode("overwrite").save(root)
    assert(ids(spark.read.format("graft").load(root)) == Set(9L, 10L))
    spark.range(0, 99).toDF("id").write.format("graft").mode("ignore").save(root)
    assert(ids(spark.read.format("graft").load(root)) == Set(9L, 10L),
      "ignore mode must leave an existing table untouched")
    // overwrite was a NEW version — history stays travelable
    assert(ids(spark.read.format("graft").option("versionAsOf", "1").load(root))
      == (0L until 6L).toSet)
  }

  test("SQL front door: CREATE TABLE ... USING graft, then plain SELECT") {
    val root = tmp("src_ddl")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 7).toDF("id"), -1L)
    VersionedTable.append(spark, root, spark.range(7, 10).toDF("id"), v0)
    spark.sql(s"CREATE TABLE graft_ddl_t USING graft OPTIONS (path '$root')")
    try {
      val got = spark.sql(
        "SELECT count(*) AS n, sum(id) AS s FROM graft_ddl_t WHERE id >= 5")
        .collect().head
      assert(got.getLong(0) == 5 && got.getLong(1) == (5 to 9).sum)
    } finally spark.sql("DROP TABLE graft_ddl_t")
  }

  test("INSERT INTO a graft table lands as a LOGGED commit, never a stray file") {
    // under DSv1 Spark planned INSERT INTO over a HadoopFsRelation as
    // a direct file write next to the commit log — invisible to every
    // reader — so the connector had to reject it (GraftGuardedParquet,
    // which still guards any residual v1 path). Under DSv2 the insert
    // routes through the connector's WriteBuilder, so it is now a
    // FIRST-CLASS transactional append: a new committed version, rows
    // visible, nothing dropped beside the log, history travelable.
    val root = tmp("src_ins")
    VersionedTable.commit(spark, root, spark.range(0, 5).toDF("id"), -1L)
    spark.sql(s"CREATE TABLE graft_ins_t USING graft OPTIONS (path '$root')")
    try {
      spark.sql("INSERT INTO graft_ins_t VALUES (99)")
      assert(VersionedTable.currentVersion(spark, root).contains(1L),
        "insert must land as one new committed version")
      assert(ids(spark.read.format("graft").load(root)) == (0L until 5L).toSet + 99L)
      // nothing leaked next to the log: the table root holds only the
      // log and data dirs
      val stray = new java.io.File(root).listFiles()
        .map(_.getName).filterNot(n => n == "_log" || n == "data" || n.startsWith("."))
      assert(stray.isEmpty, s"no stray files in the table root, got ${stray.toSeq}")
      // pre-insert state stays travelable
      assert(ids(spark.read.format("graft").option("versionAsOf", "0").load(root))
        == (0L until 5L).toSet)
      // INSERT OVERWRITE maps to the overwrite commit — a NEW version,
      // history intact
      spark.sql("INSERT OVERWRITE graft_ins_t VALUES (7)")
      assert(ids(spark.read.format("graft").load(root)) == Set(7L))
      assert(ids(spark.read.format("graft").option("versionAsOf", "1").load(root))
        == (0L until 5L).toSet + 99L)
    } finally spark.sql("DROP TABLE graft_ins_t")
  }

  // ── streaming source ──────────────────────────────────────────────

  test("graft stream: appends deliver exactly once from the commit log") {
    val root = tmp("src_stream")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 3).toDF("id"), -1L)
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("graft_src_s1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(ids(spark.table("graft_src_s1")) == (0L until 3L).toSet)
      VersionedTable.append(spark, root, spark.range(3, 7).toDF("id"), v0)
      q.processAllAvailable()
      val got = spark.table("graft_src_s1")
      assert(ids(got) == (0L until 7L).toSet)
      assert(got.count() == 7, "no duplicate delivery")
      // quiet trigger delivers nothing new
      q.processAllAvailable()
      assert(spark.table("graft_src_s1").count() == 7)
    } finally q.stop()
  }

  test("graft stream: a batch reads each commit of its version range once") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = tmp("src_stream_reads")
    var v = VersionedTable.commit(spark, root, spark.range(0, 2).toDF("id"), -1L)
    (1 to 4).foreach(i =>
      v = VersionedTable.append(spark, root, spark.range(i * 2L, i * 2L + 2).toDF("id"), v))
    val src = new graft.sources.GraftStreamSource(spark, root,
      VersionedTable.read(spark, root).schema, startingVersion = 0L, skipChangeCommits = false)
    def commitsRead(start: Option[Long], end: Long): Seq[String] =
      CountingFs.during(spark) { src.getBatch(start.map(LongOffset(_)), LongOffset(end)); () }
        .opens.filter(_.endsWith(".commit"))
    // (1, 4]: commit 1 for its dirs, then 2, 3 and 4, each once
    val mid = commitsRead(Some(1L), 4L)
    assert(mid.size == 4 && mid.distinct.size == 4, s"(1, 4] read $mid")
    // from the start of the log there is no predecessor to read
    val all = commitsRead(None, 4L)
    assert(all.size == 5 && all.distinct.size == 5, s"(-1, 4] read $all")
  }

  test("graft stream: change commits fail by default, skipChangeCommits skips them") {
    val root = tmp("src_stream_chg")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 4).toDF("id"), -1L)
    VersionedTable.append(spark, root, spark.range(4, 6).toDF("id"), v0)
    VersionedTable.compact(spark, root)
    val head = VersionedTable.currentVersion(spark, root).get
    VersionedTable.append(spark, root, spark.range(6, 9).toDF("id"), head)

    // default: the compact in the replayed history is a loud failure
    val strict = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("graft_src_s2")
      .outputMode("append").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        strict.processAllAvailable()
      }
      assert(e.getMessage.contains("skipChangeCommits") ||
             Option(e.getCause).exists(_.getMessage.contains("skipChangeCommits")))
    } finally strict.stop()

    // skipChangeCommits: every row exactly once (the compacted dir is
    // skipped precisely because its rows streamed from the originals)
    val lenient = spark.readStream.format("graft")
      .option("skipChangeCommits", "true").load(root)
      .writeStream.format("memory").queryName("graft_src_s3")
      .outputMode("append").start()
    try {
      lenient.processAllAvailable()
      val got = spark.table("graft_src_s3")
      assert(ids(got) == (0L until 9L).toSet)
      assert(got.count() == 9, "compaction must not re-deliver rows")
    } finally lenient.stop()
  }

  test("graft stream: startingVersion bounds the replay") {
    val root = tmp("src_stream_sv")
    val v0 = VersionedTable.commit(spark, root, spark.range(0, 5).toDF("id"), -1L)
    VersionedTable.append(spark, root, spark.range(5, 8).toDF("id"), v0)
    val q = spark.readStream.format("graft")
      .option("startingVersion", "1").load(root)
      .writeStream.format("memory").queryName("graft_src_s4")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(ids(spark.table("graft_src_s4")) == (5L until 8L).toSet)
    } finally q.stop()
  }

  test("graft CDC stream: merges and overwrites arrive as keyed change rows") {
    import spark.implicits._
    val root = tmp("src_cdc")
    VersionedTable.commit(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "s", "v"), -1L)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("keys", "id").load(root)
      .writeStream.format("memory").queryName("graft_cdc_s1")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_cdc_s1").count() == 0,
        "startingVersion is the base snapshot — its rows do not stream")
      // one merge: update id=2, insert id=4 (merge = non-append commit)
      VersionedTable.merge(spark, root,
        Seq((2L, "b2", 22.0), (4L, "d", 40.0)).toDF("id", "s", "v"), Seq("id"))
      q.processAllAvailable()
      val afterMerge = spark.table("graft_cdc_s1")
        .select("id", "change_type").as[(Long, String)].collect().toSet
      assert(afterMerge == Set((2L, "updated"), (4L, "inserted")),
        s"got $afterMerge")
      // an overwrite that drops id=1 streams a delete
      val head = VersionedTable.currentVersion(spark, root).get
      VersionedTable.commit(spark, root,
        VersionedTable.read(spark, root).filter("id != 1"), head)
      q.processAllAvailable()
      val all = spark.table("graft_cdc_s1")
        .select("id", "change_type").as[(Long, String)].collect().toSet
      assert(all == Set((2L, "updated"), (4L, "inserted"), (1L, "deleted")),
        s"got $all")
      // images carry the payloads
      val upd = spark.table("graft_cdc_s1").filter("id = 2")
        .selectExpr("_old.s", "_new.s").as[(String, String)].head()
      assert(upd == ("b", "b2"))
    } finally q.stop()
  }

  test("graft CDC stream: a multi-commit trigger window coalesces to net changes") {
    import spark.implicits._
    val root = tmp("src_cdc_net")
    val v0 = VersionedTable.commit(spark, root,
      Seq((1L, 10.0)).toDF("id", "v"), -1L)
    // two commits BEFORE the stream drains: insert then update id=2
    VersionedTable.merge(spark, root, Seq((2L, 5.0)).toDF("id", "v"), Seq("id"))
    VersionedTable.merge(spark, root, Seq((2L, 7.0)).toDF("id", "v"), Seq("id"))
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("keys", "id")
      .option("startingVersion", v0.toString).load(root)
      .writeStream.format("memory").queryName("graft_cdc_s2")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_cdc_s2")
        .selectExpr("id", "change_type", "_new.v").as[(Long, String, Double)]
        .collect().toSet
      assert(got == Set((2L, "inserted", 7.0)),
        s"two commits on one key must coalesce to the net change, got $got")
    } finally q.stop()
  }

  test("graft stream: maxVersionsPerTrigger bounds catch-up batches, restart-safe") {
    val root = tmp("src_rate")
    var v = VersionedTable.commit(spark, root, spark.range(0, 10).toDF("id"), -1L)
    (1 until 6).foreach { g =>
      v = VersionedTable.append(spark, root,
        spark.range(g * 10L, g * 10L + 10).toDF("id"), v)
    }
    val dst = tmp("src_rate_dst")
    val cp = java.nio.file.Files.createTempDirectory("graft_rate_cp").toString
    def start() = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "2").load(root)
      .writeStream.format("graft")
      .option("checkpointLocation", cp).option("txnAppId", "rate-1")
      .start(dst)

    val q = start()
    try {
      q.processAllAvailable()
      assert(ids(VersionedTable.read(spark, dst)) == (0L until 60L).toSet)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3,
        s"6 versions at 2/trigger must drain in >=3 batches, took $batches")
    } finally q.stop()

    // restart under the rate limit: the engine's recovery getBatch
    // feeds the gate the checkpointed offset — new appends stream,
    // nothing re-delivers, the cap never regresses below the checkpoint
    VersionedTable.append(spark, root, spark.range(60, 70).toDF("id"),
      VersionedTable.currentVersion(spark, root).get)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = VersionedTable.read(spark, dst)
      assert(ids(got) == (0L until 70L).toSet)
      assert(got.count() == 70, "restart must not re-deliver under rate limiting")
    } finally q2.stop()
  }

  test("graft stream after vacuum: a new consumer drains every row once, a lagging one fails") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val root = tmp("src_vac")
    var v = VersionedTable.commit(spark, root, spark.range(0, 10).toDF("id"), -1L)
    v = VersionedTable.append(spark, root, spark.range(10, 20).toDF("id"), v)
    // consumers that count the rows they are delivered, each resuming
    // from its own checkpoint
    final class Consumer(tag: String) {
      private val cp = java.nio.file.Files.createTempDirectory(s"graft_vac_$tag").toString
      val rows = new java.util.concurrent.atomic.AtomicLong()
      def start() = spark.readStream.format("graft").load(root)
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch { (b: DataFrame, _: Long) => rows.addAndGet(b.count()); () }
        .start()
      def drain(): Long = { val q = start(); try q.processAllAvailable() finally q.stop(); rows.get }
    }
    // one consumer drains v0 and v1, then falls behind
    val lagging = new Consumer("lag")
    assert(lagging.drain() == 20)
    (2 until 5).foreach { g =>
      v = VersionedTable.append(spark, root, spark.range(g * 10L, g * 10L + 10).toDF("id"), v)
    }
    // another is caught up with the head when the vacuum runs
    val caughtUp = new Consumer("head")
    assert(caughtUp.drain() == 50)
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(VersionedTable.oldestVersion(spark, root).contains(v))
    // a new stream's first batch is the retained version's snapshot
    val q = VersionedTable.streamAppends(spark, root)
      .writeStream.format("memory").queryName("graft_src_vac").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(ids(spark.table("graft_src_vac")) == (0L until 50L).toSet)
      assert(spark.table("graft_src_vac").count() == 50, "no row delivered twice")
      v = VersionedTable.append(spark, root, spark.range(50, 55).toDF("id"), v)
      q.processAllAvailable()
      assert(ids(spark.table("graft_src_vac")) == (0L until 55L).toSet)
      assert(spark.table("graft_src_vac").count() == 55)
    } finally q.stop()
    // the caught-up consumer's offset is the retained head: it resumes
    assert(caughtUp.drain() == 55)
    // under a rate cap the first batch still reaches the snapshot
    // version, then the later commits stream one by one
    VersionedTable.append(spark, root, spark.range(55, 60).toDF("id"), v)
    VersionedTable.vacuum(spark, root, keepLast = 2)
    val q2 = spark.readStream.format("graft").option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("memory").queryName("graft_src_vac_rate").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(ids(spark.table("graft_src_vac_rate")) == (0L until 60L).toSet)
      assert(spark.table("graft_src_vac_rate").count() == 60)
    } finally q2.stop()
    // the lagging consumer's next range lies below the cutoff: its
    // unseen rows cannot be told from the ones it has, so it fails
    val e = intercept[StreamingQueryException](lagging.drain())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("expired by vacuum")), e.getMessage)
  }

  test("graft CDC stream: rate-limited windows still converge to the final images") {
    import spark.implicits._
    val root = tmp("src_cdc_rate")
    val v0 = VersionedTable.commit(spark, root,
      Seq((1L, 10.0)).toDF("id", "v"), -1L)
    // three merges on overlapping keys BEFORE the drain
    VersionedTable.merge(spark, root, Seq((1L, 11.0), (2L, 20.0)).toDF("id", "v"), Seq("id"))
    VersionedTable.merge(spark, root, Seq((2L, 21.0), (3L, 30.0)).toDF("id", "v"), Seq("id"))
    VersionedTable.merge(spark, root, Seq((3L, 31.0)).toDF("id", "v"), Seq("id"))
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("keys", "id")
      .option("startingVersion", v0.toString)
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("memory").queryName("graft_cdc_rate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3, s"3 merges at 1 version/trigger must drain in >=3 batches, got $batches")
      // per-window CDC at 1 version/trigger delivers each window's net
      // change — the exact image sets are deterministic:
      // (v0,v1]: 1→11 upd, 2→20 ins; (v1,v2]: 2→21 upd, 3→30 ins;
      // (v2,v3]: 3→31 upd
      val images = spark.table("graft_cdc_rate")
        .selectExpr("id", "_new.v AS v").as[(Long, Double)]
        .collect().groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).toSet }
      assert(images == Map(1L -> Set(11.0), 2L -> Set(20.0, 21.0),
        3L -> Set(30.0, 31.0)), s"got $images")
    } finally q.stop()
  }

  // ── streaming sink ────────────────────────────────────────────────

  test("graft sink: a replayed batch id is skipped, not double-appended") {
    val root = tmp("sink_txn")
    val sink = new graft.sources.GraftSink(spark, root, "app-A")
    sink.addBatch(0, spark.range(0, 4).toDF("id"))
    sink.addBatch(0, spark.range(0, 4).toDF("id")) // restart replay
    assert(ids(VersionedTable.read(spark, root)) == (0L until 4L).toSet)
    assert(VersionedTable.read(spark, root).count() == 4)
    sink.addBatch(1, spark.range(4, 6).toDF("id"))
    assert(VersionedTable.read(spark, root).count() == 6)
    assert(VersionedTable.lastTxnBatch(spark, root, "app-A").contains(1L))
    // a DIFFERENT app's marker namespace is independent
    assert(VersionedTable.lastTxnBatch(spark, root, "app-B").isEmpty)
    // interleaved foreign appends do not confuse the walk
    VersionedTable.appendRebase(spark, root, spark.range(6, 7).toDF("id"))
    assert(VersionedTable.lastTxnBatch(spark, root, "app-A").contains(1L))
  }

  test("graft end-to-end: stream one versioned table into another") {
    import org.apache.spark.sql.functions._
    val src = tmp("pipe_src")
    val dst = tmp("pipe_dst")
    val cp = java.nio.file.Files.createTempDirectory("graft_pipe_cp").toString
    val v0 = VersionedTable.commit(spark, src, spark.range(0, 5).toDF("id"), -1L)
    val q = spark.readStream.format("graft").load(src)
      .withColumn("doubled", col("id") * 2)
      .writeStream.format("graft")
      .option("checkpointLocation", cp)
      .option("txnAppId", "pipe-1")
      .start(dst)
    try {
      q.processAllAvailable()
      VersionedTable.append(spark, src, spark.range(5, 8).toDF("id"), v0)
      q.processAllAvailable()
      val got = VersionedTable.read(spark, dst)
      assert(ids(got) == (0L until 8L).toSet)
      assert(got.count() == 8)
      assert(got.filter("doubled != id * 2").isEmpty)
    } finally q.stop()

    // restart from the same checkpoint: nothing re-delivered
    val q2 = spark.readStream.format("graft").load(src)
      .withColumn("doubled", col("id") * 2)
      .writeStream.format("graft")
      .option("checkpointLocation", cp)
      .option("txnAppId", "pipe-1")
      .start(dst)
    try {
      q2.processAllAvailable()
      assert(VersionedTable.read(spark, dst).count() == 8,
        "checkpoint restart must not duplicate rows")
    } finally q2.stop()
  }
}
