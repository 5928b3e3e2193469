package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.graft.SqlShim
import org.apache.spark.sql.types.{DataType, StructType}

/** A versioned parquet table with an append-only commit log — the
  * transactional semantics the reference gets from delta-rs
  * (services/workers/tasks/queue_for_delta.py:680-799: ACID merge
  * commits into a versioned Delta table), rebuilt on nothing but a
  * filesystem with atomic rename:
  *
  * Layout:
  * {{{
  *   <root>/_log/v00000003.commit      // one file per version; content =
  *                                     // one line per data dir it reads:
  *                                     // dir<TAB>partValue<TAB>files, files
  *                                     // = name:bytes,... ("-" for none);
  *                                     // then meta lines (#partcol, #txn,
  *                                     // #schema<TAB><StructType JSON>)
  *   <root>/_log/v00000009.checkpoint  // full log state every N commits
  *   <root>/_log/_last_checkpoint      // pointer to the newest checkpoint
  *   <root>/data/v00000003-<uuid>/     // immutable parquet snapshot:
  *     part-<task>-<attempt>.parquet   //   unscoped, or one p=<enc(v)>/
  *                                     //   dir per partition value
  * }}}
  *
  * Protocol (optimistic concurrency, the same shape Delta's log
  * uses):
  *  1. read the current version `b` (max committed log entry);
  *  2. stage the new snapshot under a WRITER-UNIQUE data dir — two
  *     racing writers can never collide on staging paths. Each task
  *     writes its files straight into that dir and reports them
  *     ([[StagingWriter]]): no output committer, no rename, no listing;
  *  3. write the commit CONTENT (the dir list with each dir's files)
  *     to a writer-unique temp
  *     file, then publish by renaming it to `_log/v{b+1}.commit` with
  *     rename-no-replace — the lose-or-win point. Because the content
  *     is complete BEFORE the name exists, no reader can ever observe
  *     a committed version with a missing/partial dir list (the gap
  *     the old create-then-write publish had); a crash before the
  *     rename leaves only an invisible temp file. The loser gets
  *     [[VersionConflictException]], cleans up its staged dir, and can
  *     retry against the fresh snapshot ([[merge]] does exactly that).
  *     Defensively, a zero-length commit file (a legacy writer's crash
  *     window) is treated as UNCOMMITTED everywhere.
  *
  *     The no-replace arbiter is KERNEL/NAMENODE-atomic on the two
  *     filesystems this class runs on: link(2) (`Files.createLink`)
  *     on file:// — EEXIST vs link resolve in one syscall — and
  *     `FileContext.rename` without OVERWRITE on HDFS
  *     ([[atomicNoReplace]]). Object stores without atomic
  *     put-if-absent need external coordination — the same caveat
  *     Delta handles with per-store LogStore implementations (S3
  *     needs a coordination service; Azure/GCS rename is atomic).
  *     All `_log` marker IO additionally runs on the RAW filesystem
  *     ([[logFs]]), so on a ChecksumFileSystem no `.crc` sidecar
  *     exists to interleave across concurrent publishes.
  *
  * What this buys over [[LakehouseWriter.mergeInto]]'s
  * merge-and-rewrite: readers NEVER observe a window where the table
  * is absent or half-swapped (a version is invisible until its commit
  * file exists, and data dirs are immutable); concurrent writers are
  * detected instead of silently racing the rename swap; and every
  * historical version stays readable ([[readAsOf]] — time travel)
  * until [[vacuum]] reclaims it.
  *
  * A commit file lists the data dirs a version reads, one per line:
  * `dir<TAB>partitionValue<TAB>files` (the partition value empty for
  * an unscoped dir). The files field is what a read opens — a reader
  * lists nothing, and a file the log does not name (a failed task
  * attempt's leftover) is never read. A line written before commits
  * listed files is `dir` or `dir<TAB>partitionValue`, and readers list
  * that dir. [[commit]]/[[merge]] publish a single full snapshot;
  * [[append]] adds ONLY the new rows' dir to the predecessor's list —
  * the add-file action that makes appends O(delta) — and
  * [[mergePartitioned]] rewrites ONLY the partition dirs the source
  * batch touches, carrying every untouched partition dir forward
  * unchanged (the copy-on-write file pruning delta-rs does: upsert
  * cost is O(touched partitions), not O(table)). [[compact]] folds a
  * long chain back into one snapshot and [[vacuum]] deletes only dirs
  * no retained version reaches.
  *
  * Every commit also logs its version's schema (`#schema`, all fields
  * nullable, as a parquet read reports them): a full snapshot logs
  * its staged frame's schema; a commit that carries base entries
  * logs base ∪ staged under `StructType.merge`, the rule Spark's
  * parquet `mergeSchema` applies, so an evolved append chain serves
  * the widened union with nulls for pre-evolution rows, and a type
  * conflict fails the write instead of every later read (Delta keeps
  * the schema in its log the same way). Every read is then one
  * relation over [[GraftFileIndex]] built from the commit text alone
  * ([[relation]]): no footer-merge job and, for dirs whose files the
  * log names, no listing. A commit written before the schema line existed
  * gets its schema inferred from footers ([[schemaOf]]); the table's
  * next write logs it.
  *
  * Log checkpointing: every [[CheckpointInterval]]-th commit also
  * writes a `.checkpoint` file holding the FULL version->dirs state
  * and repoints `_last_checkpoint` at it (Delta's checkpoint
  * pattern). [[currentVersion]] then resolves by reading the pointer
  * and probing forward over at most one interval of commit files —
  * O(1) + tail instead of listing unbounded history — and [[vacuum]]
  * reads one checkpoint + the tail instead of every commit file ever
  * written. Checkpoints are a cache of commit content, written AFTER
  * the commit wins: a crash between commit and checkpoint only costs
  * the fallback listing path, never correctness.
  */
object VersionedTable {

  final class VersionConflictException(val version: Long)
    extends RuntimeException(s"version $version was committed concurrently")

  final class ConstraintViolationException(val name: String, msg: String)
    extends RuntimeException(msg)

  /** Write a log checkpoint every N commits. */
  val CheckpointInterval = 10

  /** Log files read (pointer + probes, or 1 for a full listing) by the
    * most recent [[currentVersion]] call — spec-pinned evidence that
    * resolution is O(1)+tail on a checkpointed log, not O(history). */
  @volatile var lastResolveLogReads: Int = 0

  private def fs(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** The filesystem `_log` MARKER IO runs on. On Hadoop's local FS
    * (a ChecksumFileSystem) every create writes a hidden `.f.crc`
    * sidecar and every open verifies against it — so a marker file
    * and its sidecar are two separate objects that concurrent
    * publishes can interleave, leaving a committed marker carrying a
    * foreign checksum (permanently unreadable = a poisoned commit;
    * reproduced by the interleaved-committers spec). Markers are
    * tiny, written whole behind an atomic arbiter, and their content
    * is self-validating (version-named, line-structured), so
    * client-side checksumming buys nothing here: route ALL `_log`
    * reads/writes through the RAW filesystem — no sidecar can ever
    * exist, so none can ever poison. HDFS and object stores are not
    * ChecksumFileSystems; there this is the plain FS. Data-file IO
    * (parquet snapshots) keeps the checksummed FS untouched. In a
    * graft session the local FS is
    * [[GraftLocalFileSystem]], so the raw FS unwrapped here is
    * [[GraftRawLocalFileSystem]]. */
  private def logFs(spark: SparkSession, root: String): org.apache.hadoop.fs.FileSystem =
    fs(spark, root) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  private def p(s: String) = new org.apache.hadoop.fs.Path(s)

  private def verName(v: Long) = f"v$v%08d"

  /** One published data dir: its root-relative path, the partition
    * value it holds when the dir is partition-scoped, and its parquet
    * files with their byte sizes. `files` is None only for a dir
    * committed before commits listed files; readers list such a dir. */
  private[graft] final case class Entry(rel: String, part: Option[String],
                                        files: Option[Seq[StagingWriter.File]] = None) {
    def line: String = files.fold(part.fold(rel)(pv => s"$rel\t$pv")) { fs =>
      s"$rel\t${part.getOrElse("")}\t" +
        (if (fs.isEmpty) NoFiles else fs.map { case (n, len) => s"$n:$len" }.mkString(","))
    }
  }

  /** The file field of a dir that staged no rows (a line's trailing
    * empty field would not survive the parse). */
  private val NoFiles = "-"

  private def parseEntry(line: String): Entry = line.split("\t") match {
    case Array(rel)     => Entry(rel, None)
    case Array(rel, pv) => Entry(rel, Some(pv))
    case Array(rel, pv, fs) =>
      Entry(rel, Some(pv).filter(_.nonEmpty), Some(
        if (fs == NoFiles) Nil
        else fs.split(",").toSeq.map { f =>
          val i = f.lastIndexOf(':')
          (f.substring(0, i), f.substring(i + 1).toLong)
        }))
    // partition values are URL-encoded (no raw tabs), so 4+ fields can
    // only mean a future format extension — fail loudly rather than
    // silently dropping fields through a checkpoint round-trip
    case _ => throw new IllegalStateException(s"malformed commit entry: $line")
  }

  private def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")

  /** Partition-native writes address dirs BY partition value, so a
    * null value has nowhere to live, and an empty one would vanish
    * from its entry line (`rel<TAB>` loses its last field on parse) —
    * fail loudly, naming which, instead of silently dropping the rows
    * (Hive/Delta route both to a default partition; we reject them so
    * the caller decides the encoding). `values` are string casts of
    * the partition column. */
  private def requireRoutable(values: Iterable[String], partitionCol: String): Unit = {
    require(!values.exists(_ == null),
      s"null $partitionCol values cannot be partition-routed; " +
      "coalesce them to a sentinel value before the write")
    require(!values.exists(_.isEmpty),
      s"empty-string $partitionCol values cannot be partition-routed; " +
      "map them to a sentinel value before the write")
  }

  private def commitPath(root: String, v: Long) = p(s"$root/_log/${verName(v)}.commit")

  /** A commit exists and is non-empty (zero-length = a legacy writer
    * crashed between create and content write = uncommitted). */
  private def committed(f: org.apache.hadoop.fs.FileSystem, root: String, v: Long): Boolean =
    try f.getFileStatus(commitPath(root, v)).getLen > 0
    catch { case _: java.io.FileNotFoundException => false }

  /** Version the newest checkpoint covers, if a readable pointer
    * exists. Best-effort: any failure falls back to the listing.
    * Raw-FS reads ([[logFs]]): the pointer is create-overwrite, so a
    * checksummed read racing a rewrite could fail on a stale sidecar. */
  private def lastCheckpointVersion(spark: SparkSession,
                                    root: String): Option[Long] =
    try {
      val f = logFs(spark, root)
      val in = f.open(p(s"$root/_log/_last_checkpoint"))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
      val v = s.toLong
      if (f.exists(p(s"$root/_log/${verName(v)}.checkpoint"))) Some(v) else None
    } catch { case _: Exception => None }

  /** Full version->entries state at the newest checkpoint, if any. */
  private def checkpointState(spark: SparkSession,
                              root: String): Option[Map[Long, Seq[Entry]]] =
    lastCheckpointVersion(spark, root).map { cp =>
      val f = logFs(spark, root)
      val in = f.open(p(s"$root/_log/${verName(cp)}.checkpoint"))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
        .map { line =>
          val i = line.indexOf('\t')
          (line.substring(0, i).toLong, parseEntry(line.substring(i + 1)))
        }
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    }

  /** Highest committed version, or None for an absent/empty table.
    * With a checkpoint: read the pointer, probe forward from it —
    * O(1) + commits-since-checkpoint file reads. Without: one log
    * listing. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    lastCheckpointVersion(spark, root) match {
      case Some(cp) =>
        var v = cp
        var reads = 1 // the pointer
        while ({ reads += 1; committed(f, root, v + 1) }) v += 1
        lastResolveLogReads = reads
        Some(v)
      case None =>
        lastResolveLogReads = 1 // one listing
        committedVersions(f, root).lastOption
    }
  }

  /** Oldest version whose commit is still in the log ([[vacuum]]
    * expires the older ones), or None for a table with no commit. One
    * log listing. */
  private[graft] def oldestVersion(spark: SparkSession, root: String): Option[Long] =
    committedVersions(fs(spark, root), root).headOption

  /** The versions with a non-empty commit file, ascending (one log
    * listing; empty when the log is absent). */
  private def committedVersions(f: org.apache.hadoop.fs.FileSystem, root: String): Seq[Long] = {
    val ld = p(s"$root/_log")
    if (!f.exists(ld)) Nil
    else f.listStatus(ld)
      .filter(st => st.getPath.getName.matches("v\\d{8}\\.commit") && st.getLen > 0)
      .map(_.getPath.getName.stripPrefix("v").stripSuffix(".commit").toLong)
      .sorted.toSeq
  }

  /** [[currentVersion]], or FileNotFoundException for a table with no
    * committed version. */
  private[graft] def headVersion(spark: SparkSession, root: String): Long =
    currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))

  /** Root-relative data dirs of a version — the set the stats and
    * bloom sidecar builds ([[DataSkipping]]) cover. */
  private[graft] def dirsOf(spark: SparkSession, root: String, v: Long): Seq[String] =
    entriesOf(spark, root, v).map(_.rel)

  /** Whether every dir of `v` carries a partition annotation — the
    * precondition for partition-addressed reads/writes; callers that
    * would silently misbehave on an unscoped table check this and
    * fail loudly (or fall back) instead. */
  private[graft] def partitionNative(spark: SparkSession, root: String, v: Long): Boolean =
    entriesOf(spark, root, v).forall(_.part.isDefined)

  /** Encoded form of a partition value, as it appears in commit
    * entries and [[entriesOf]] — for callers matching raw values
    * against entry pairs. */
  private[graft] def encodePartition(v: String): String = enc(v)

  /** Read a committed marker's text — through the raw FS ([[logFs]]),
    * so on the local filesystem no `.crc` sidecar is ever consulted
    * (markers written by the current protocol never have one; a
    * legacy sidecar from an older layout is simply ignored). The
    * bounded ChecksumException retry below is kept purely as
    * DOCUMENTED DEFENSE for checksummed remote stores where a
    * replication-lagged replica can serve a transient mismatch; with
    * raw local marker IO it cannot trigger locally. Persistent
    * mismatch IS corruption and must surface. */
  private def readCommitText(spark: SparkSession, root: String,
                             v: Long): String = {
    val f = logFs(spark, root)
    var attempt = 0
    while (true) {
      try {
        val in = f.open(commitPath(root, v))
        try return scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(10L << attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The entries a version's commit file publishes — what a write
    * carries forward (file lists included). Lines starting
    * with `#` are commit METADATA (e.g. the `#txn` idempotence marker
    * the streaming sink writes), not data entries — skipped here, and
    * never copied into checkpoints or carried entry lists. */
  private[graft] def entriesOf(spark: SparkSession, root: String, v: Long): Seq[Entry] =
    commitOf(spark, root, v).entries

  /** A version's commit file, parsed once: its data entries plus the
    * `#partcol` and `#schema` meta values (still encoded / JSON). */
  private final case class Commit(entries: Seq[Entry], partCol: Option[String],
                                  schemaJson: Option[String])

  private def commitOf(spark: SparkSession, root: String, v: Long): Commit = {
    val lines = readCommitText(spark, root, v).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    def meta(tag: String) =
      lines.find(_.startsWith(s"#$tag\t")).map(_.substring(tag.length + 2))
    Commit(lines.filterNot(_.startsWith("#")).map(parseEntry),
      meta("partcol").map(java.net.URLDecoder.decode(_, "UTF-8")), meta("schema"))
  }

  /** The `#txn` markers a version's commit file carries:
    * (appId, batchId) pairs, committed ATOMICALLY with the version's
    * entry list (same rename) — the exactly-once hook the streaming
    * sink's replay check reads. */
  private[graft] def txnOf(spark: SparkSession, root: String,
                           v: Long): Seq[(String, Long)] =
    readCommitText(spark, root, v)
      .split("\n").map(_.trim).filter(_.startsWith("#txn\t")).toSeq
      .map { l =>
        val parts = l.split("\t", -1)
        (java.net.URLDecoder.decode(parts(1), "UTF-8"), parts(2).toLong)
      }

  /** `#partcol` metadata line: partition-native commits record WHICH
    * column their entry annotations partition by, so a reader
    * (GraftFileIndex) can prune dirs on partition predicates without
    * being told the column out of band. Maintenance commits that
    * preserve the annotations (compact/restore/carrying writes)
    * inherit the marker from the version they derive from. */
  private def partColMetaLine(c: String) = s"#partcol\t${enc(c)}"

  private def schemaMetaLine(s: StructType) = s"#schema\t${s.json}"

  /** The schema of version `v`: its logged `#schema` line, or, for a
    * commit written before commits logged one, the footer-merged
    * schema of its dirs (one Spark job, the pre-log read's cost). */
  private[graft] def schemaOf(spark: SparkSession, root: String, v: Long): StructType =
    schemaOf(spark, root, commitOf(spark, root, v))

  private def schemaOf(spark: SparkSession, root: String, c: Commit): StructType =
    c.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType]).getOrElse(
      spark.read.option("mergeSchema", "true")
        .parquet(c.entries.map(e => s"$root/${e.rel}"): _*).schema)

  /** The `#schema` a commit logs for a staged batch. A full snapshot
    * (`carried` None: nothing carried) logs the batch's schema; a
    * commit that carries entries of the base commit `carried` logs
    * base ∪ batch by `StructType.merge`, so the logged schema never
    * narrows. A type conflict throws Spark's merge error before the
    * commit publishes, after `cleanup` reclaims the staged data. */
  private def stagedSchema(spark: SparkSession, root: String, carried: Option[Commit],
                           staged: StructType, cleanup: () => Unit): StructType =
    try carried.fold(SqlShim.nullable(staged))(c =>
      SqlShim.mergeSchemas(spark, schemaOf(spark, root, c), staged))
    catch { case e: Throwable => cleanup(); throw e }

  /** The most recent batchId `appId` committed, walking the log head
    * → 0 and stopping at the first marker. O(versions since the
    * app's last commit) commit-file reads — at a sink's restart, the
    * distance is "commits by OTHER writers since our last batch",
    * typically small; vacuumed log prefixes end the walk (a marker
    * older than retention is unfindable, stated honestly — Delta's
    * txn retention has the same bound). */
  private[graft] def lastTxnBatch(spark: SparkSession, root: String,
                                  appId: String): Option[Long] = {
    val head = currentVersion(spark, root).getOrElse(return None)
    val f = fs(spark, root)
    var v = head
    while (v >= 0) {
      if (committed(f, root, v)) {
        val hit = txnOf(spark, root, v).collect { case (a, b) if a == appId => b }
        if (hit.nonEmpty) return Some(hit.max)
        v -= 1
      } else return None // vacuumed prefix — nothing older survives
    }
    None
  }

  /** The relation every read of version `v` builds: a parquet
    * `HadoopFsRelation` over [[GraftFileIndex]], fed from ONE read of
    * the commit text (entries, `#partcol`, `#schema`). `parts` (encoded
    * partition values) keeps only those partitions' dirs, so a
    * partition read never touches another partition. No footer is read
    * and no Spark job runs to build it; the index takes its files from
    * the entries (listing only a dir logged without them). */
  private[graft] def relation(spark: SparkSession, root: String, v: Long,
                              parts: Option[Set[String]] = None): HadoopFsRelation =
    relationOf(spark, root, v, commitOf(spark, root, v), parts)

  private def relationOf(spark: SparkSession, root: String, v: Long, c: Commit,
                         parts: Option[Set[String]]): HadoopFsRelation = {
    val picked = parts.fold(c.entries)(want => c.entries.filter(_.part.exists(want)))
    if (picked.isEmpty) throw new java.io.FileNotFoundException(parts.fold(
      s"no data dirs at $root@v$v")(ps => s"no dirs for partitions ${ps.mkString(",")} at $root@v$v"))
    relationOver(spark, root, v, c, picked)
  }

  /** A read of only the dirs `rels` of version `v`, with the version's
    * logged schema — the dir-subset read [[DataSkipping]]'s stats
    * builds and stats-pruned merges take. No `rels` is an empty frame
    * of that schema. */
  private[graft] def readDirs(spark: SparkSession, root: String, v: Long,
                              rels: Seq[String]): DataFrame = {
    val c = commitOf(spark, root, v)
    val want = rels.toSet
    spark.baseRelationToDataFrame(
      relationOver(spark, root, v, c, c.entries.filter(e => want(e.rel))))
  }

  /** The file index over every dir of version `v` — the pruning a
    * read of `v` applies, for callers choosing dirs without a scan.
    * `stats`, when given, are `v`'s range stats in place of its
    * sidecar (a caller that just built them reads no file twice). */
  private[sources] def fileIndex(spark: SparkSession, root: String, v: Long,
                                 stats: Option[Map[String, Map[String, DataSkipping.Stat]]] = None
                                ): GraftFileIndex = {
    val c = commitOf(spark, root, v)
    new GraftFileIndex(spark, root, v, c.entries, c.partCol, stats)
  }

  private def relationOver(spark: SparkSession, root: String, v: Long, c: Commit,
                           picked: Seq[Entry]): HadoopFsRelation =
    HadoopFsRelation(
      location = new GraftFileIndex(spark, root, v, picked, c.partCol),
      partitionSchema = new StructType(),
      dataSchema = schemaOf(spark, root, c),
      bucketSpec = None,
      fileFormat = new GraftGuardedParquet,
      options = Map.empty)(spark)

  private def scan(spark: SparkSession, root: String, v: Long,
                   parts: Option[Set[String]] = None): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, root, v, parts))

  /** [[scan]] of version `v` from its already-parsed commit `c`. */
  private def scanOf(spark: SparkSession, root: String, v: Long, c: Commit,
                     parts: Option[Set[String]]): DataFrame =
    spark.baseRelationToDataFrame(relationOf(spark, root, v, c, parts))


  /** Time travel: the immutable snapshot a given version published,
    * with the version's logged schema: an append chain whose later
    * commits added columns serves the evolved schema with nulls for
    * pre-evolution rows. */
  def readAsOf(spark: SparkSession, root: String, version: Long): DataFrame =
    scan(spark, root, version)

  /** The latest committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    scan(spark, root, headVersion(spark, root))

  /** Dir-level partition pruning for a partition-native table: read
    * ONLY the dirs holding `partValue` — a reader of one partition
    * never lists or opens any other partition's files. The schema is
    * the version's (a column no dir of this partition carries reads
    * as null). Absent partition => FileNotFoundException, like an
    * absent table. */
  def readPartition(spark: SparkSession, root: String, partValue: String,
                    version: Option[Long] = None): DataFrame =
    readPartitions(spark, root, Seq(partValue), version)

  /** Dir-pruned read across MULTIPLE partition values in ONE scan —
    * the plural [[readPartition]]: all matching dirs go into a single
    * relation (one file index, one scan node) instead of a per-value
    * union. Values with no dirs are simply absent from the result;
    * throws only when NONE match. */
  def readPartitions(spark: SparkSession, root: String, partValues: Seq[String],
                     version: Option[Long] = None): DataFrame =
    scan(spark, root, version.getOrElse(headVersion(spark, root)), Some(partValues.map(enc).toSet))

  /** Stage `df` and atomically publish it as version `base + 1`.
    * Throws [[VersionConflictException]] (after cleaning up the staged
    * snapshot) if another writer committed `base + 1` first. `base` is
    * the version the caller's snapshot was READ at (-1 for creating an
    * absent table) — passing it explicitly is what makes the check an
    * optimistic-concurrency guard rather than a last-writer-wins race.
    */
  def commit(spark: SparkSession, root: String, df: DataFrame, base: Long): Long =
    stageAndCommit(spark, root, df, base, carried = None)

  /** O(delta) APPEND: stage ONLY the new rows and publish a commit
    * whose dir list = the base version's dirs + the new dir. The
    * delta-rs analogue of an add-file action: an append of B rows to
    * a T-row table writes O(B), not O(T) — the path a landing-zone
    * ingest loop should take at 100 TB, where daily arrivals are a
    * fraction of a percent of the table. Readers are unchanged
    * (readAsOf unions the dir list); [[compact]] folds a long append
    * chain back into one dir when small-file count starts to hurt
    * scan planning. Same optimistic-concurrency protocol as
    * [[commit]].
    */
  def append(spark: SparkSession, root: String, df: DataFrame, base: Long,
             txn: Option[(String, Long)] = None): Long = {
    val c = if (base < 0) None else Some(commitOf(spark, root, base))
    stageAndCommit(spark, root, df, base, carried = c,
                   carryOver = c.fold(Seq.empty[Entry])(_.entries), meta = txnLines(txn))
  }

  /** The `#txn appId batchId` meta line an idempotent write carries
    * in its atomic commit (see [[appendRebaseTxn]]), if any. */
  private def txnLines(txn: Option[(String, Long)]): Seq[String] =
    txn.toSeq.map { case (a, b) =>
      s"#txn\t${java.net.URLEncoder.encode(a, "UTF-8")}\t$b" }

  /** Append with AUTOMATIC conflict rebase — Delta's append-only
    * conflict rule realized on this log: a pure add-file commit reads
    * NOTHING from the snapshot it staged against, so losing the
    * publish race never invalidates the staged data. The loser
    * re-reads the new head's dir list and republishes the SAME staged
    * dir against it — staging happens ONCE, only the O(1) publish
    * retries (a [[merge]]/[[commit]] loser must instead re-run its
    * logic against the new snapshot; that is merge's retry path, not
    * this one). This is what lets many independent ingest writers land
    * on one table without coordinating: appends commute. Bounded
    * attempts guard a pathologically hot log; on give-up the staged
    * dir is reclaimed and the conflict rethrown. */
  def appendRebase(spark: SparkSession, root: String, df: DataFrame,
                   maxAttempts: Int = 10): Long =
    appendRebaseFrom(spark, root, df,
      currentVersion(spark, root).getOrElse(-1L), maxAttempts)

  /** [[appendRebase]] carrying a `#txn appId batchId` marker in the
    * SAME atomic commit — Delta's `txnAppId`/`txnVersion` idempotent
    * write: a re-executed batch (streaming sink restart, retried
    * foreachBatch) checks [[lastTxnBatch]] and skips instead of
    * double-appending. The marker rides the commit file's rename, so
    * there is no window where data landed but the marker did not. */
  def appendRebaseTxn(spark: SparkSession, root: String, df: DataFrame,
                      appId: String, batchId: Long,
                      maxAttempts: Int = 10): Long =
    appendRebaseFrom(spark, root, df,
      currentVersion(spark, root).getOrElse(-1L), maxAttempts,
      meta = Seq(s"#txn\t${java.net.URLEncoder.encode(appId, "UTF-8")}\t$batchId"))

  /** [[appendRebase]] with the FIRST attempt pinned to a caller-read
    * (possibly stale) base — the read-then-race window made explicit,
    * and the seam the conflict spec drives deterministically. */
  private[graft] def appendRebaseFrom(spark: SparkSession, root: String,
                                      df: DataFrame, firstBase: Long,
                                      maxAttempts: Int = 10,
                                      meta: Seq[String] = Nil): Long = {
    val f = fs(spark, root)
    val rel = s"data/append-${java.util.UUID.randomUUID()}"
    val staged = s"$root/$rel"
    val entry = stageUnscoped(spark, root, df, rel, firstBase + 1)
    var attempt = 0
    var base = firstBase
    while (true) {
      attempt += 1
      val c = if (base < 0) None else Some(commitOf(spark, root, base))
      try {
        // no-op conflict cleanup: the staged dir survives a lost race
        // for the rebase; it is reclaimed only on final give-up
        publish(spark, root, base + 1, c.fold(Seq.empty[Entry])(_.entries) :+ entry,
                stagedSchema(spark, root, c, df.schema, () => f.delete(p(staged), true)),
                onConflictCleanup = () => (), meta = meta)
        return base + 1
      } catch {
        case e: VersionConflictException =>
          if (attempt >= maxAttempts) { f.delete(p(staged), true); throw e }
          base = currentVersion(spark, root).getOrElse(-1L)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** TIMESTAMP AS OF resolution: the newest version whose commit file
    * was published at or before `tsMillis` — commit-file modification
    * time is the publication clock, exactly Delta's timestamp-travel
    * rule (and with the same honest caveat: writer clock skew can move
    * the boundary between adjacent versions, never the version order
    * itself). One log listing; a resolved-but-vacuumed version fails
    * on read like any expired version. */
  def versionAtTimestamp(spark: SparkSession, root: String,
                         tsMillis: Long): Option[Long] = {
    val f = fs(spark, root)
    val ld = p(s"$root/_log")
    if (!f.exists(ld)) return None
    val vs = f.listStatus(ld)
      .filter(st => st.getPath.getName.matches("v\\d{8}\\.commit") &&
              st.getLen > 0 && st.getModificationTime <= tsMillis)
      .map(_.getPath.getName.stripPrefix("v").stripSuffix(".commit").toLong)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Time travel by wall clock: [[readAsOf]] at
    * [[versionAtTimestamp]]'s resolution; throws when the table has no
    * version that old (Delta's TIMESTAMP AS OF contract). */
  def readAsOfTimestamp(spark: SparkSession, root: String,
                        tsMillis: Long): DataFrame =
    readAsOf(spark, root, versionAtTimestamp(spark, root, tsMillis).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no version committed at or before $tsMillis at $root")))

  /** STREAMING reads of the table's appends — the Delta-streaming-
    * source capability (a versioned table doubles as a stream of its
    * appends): the log-fed `readStream.format("graft")` source
    * ([[GraftStreamSource]]). Offsets are committed versions, and each
    * micro-batch reads the files the commits in its version range
    * logged, so an uncommitted dir or a file no commit names is never
    * delivered, and each consumer tracks its offset in its own
    * checkpoint with no coordination with writers. A history with a
    * rewriting commit ([[merge]], [[compact]], [[restore]]) fails the
    * stream loudly at that version; consume the change feed for
    * non-append workloads. After [[vacuum]] expired the log's oldest
    * commits, a new consumer's first batch is the oldest retained
    * version's snapshot; a consumer whose offset lies below the cutoff
    * fails, as the rows it has not seen can no longer be told apart. */
  def streamAppends(spark: SparkSession, root: String): DataFrame =
    spark.readStream.format("graft").load(root)

  /** Fold the current version's dir list into a single full snapshot
    * — commits a NEW version (history stays time-travelable until
    * vacuum). The maintenance pass that bounds small-file growth
    * under an append-heavy workload. NOTE: publishes an UNSCOPED
    * snapshot — on a partition-native table use
    * [[compactPartitioned]] instead, or the partition annotations
    * (and with them [[mergePartitioned]]) are lost. */
  def compact(spark: SparkSession, root: String): Long = {
    val base = headVersion(spark, root)
    commit(spark, root, readAsOf(spark, root, base), base)
  }

  /** RESTORE: roll the table back to `toVersion` by publishing that
    * version's file entries as a NEW head commit (Delta's RESTORE
    * semantic). Pure metadata — O(1), zero bytes staged or copied —
    * and history-preserving: the undone versions stay time-travelable,
    * their commits stay in the log, and [[vacuum]]'s reachability walk
    * keeps the restored dirs alive because the new head references
    * them. Roll-FORWARD is the same call with a later `toVersion`
    * (undo the undo). Concurrency: the publish races like any commit —
    * a concurrent writer landing first throws [[VersionConflictException]]
    * and the caller re-resolves, so a restore can never silently drop
    * a commit it didn't see. */
  def restore(spark: SparkSession, root: String, toVersion: Long): Long = {
    val cur = headVersion(spark, root)
    require(committed(fs(spark, root), root, toVersion),
      s"cannot restore $root to uncommitted version $toVersion")
    val next = cur + 1
    val c = commitOf(spark, root, toVersion)
    publish(spark, root, next, c.entries, schemaOf(spark, root, c), () => (),
            meta = c.partCol.map(partColMetaLine).toSeq)
    next
  }

  /** Partition-scoped O(delta) APPEND: stage ONLY the new rows, one
    * dir per touched partition value, and carry every base entry
    * forward — the add-file action for a partition-native table.
    * Repeated appends build per-partition dir chains (readers union
    * them; [[readPartition]] prunes to one partition's chain);
    * [[compactPartitioned]] folds fragmented chains without losing
    * the partition layout. Same optimistic-concurrency protocol as
    * [[append]]. */
  def appendPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partitionCol: String, base: Long,
                        txn: Option[(String, Long)] = None): Long = {
    val f = fs(spark, root)
    val next = base + 1
    val c = if (base < 0) None else Some(commitOf(spark, root, base))
    val carry = c.fold(Seq.empty[Entry])(_.entries)
    require(carry.forall(_.part.isDefined),
      s"appendPartitioned requires a partition-native table; $root@v$base has unscoped dirs")
    // ONE staging write (see stagePartitionsOrEmpty): a small batch in
    // one task, one file per value; the value list, null/empty check and
    // emptiness come back from what the tasks wrote — no pre-write
    // checkpoint/isEmpty/distinct jobs
    enforceConstraints(spark, root, df)
    stagePartitionsOrEmpty(spark, root, df, partitionCol, next) match {
      case None =>
        // an EMPTY append is a marker-only commit (carry + meta,
        // nothing staged, so the base's data and schema) — an idle
        // streaming micro-batch still lands its txn marker instead of
        // crashing the loop
        require(base >= 0,
          s"cannot create a partitioned table at $root from an empty append")
        publish(spark, root, next, carry, schemaOf(spark, root, c.get),
                onConflictCleanup = () => (),
                meta = Seq(partColMetaLine(partitionCol)) ++ txnLines(txn))
      case Some((parent, entries)) =>
        val cleanup = () => { f.delete(p(s"$root/$parent"), true); () }
        publish(spark, root, next, carry ++ entries,
                stagedSchema(spark, root, c, df.schema, cleanup),
                onConflictCleanup = cleanup,
                meta = Seq(partColMetaLine(partitionCol)) ++ txnLines(txn))
    }
    next
  }

  /** Partition-preserving compaction: fold each partition's dir CHAIN
    * (one base dir + appended/merged dirs accumulated over versions)
    * into a single dir per partition, keeping the partition
    * annotations so [[mergePartitioned]]/[[readPartition]] keep
    * working. Partitions whose chain is already a single dir are
    * carried forward UNTOUCHED (byte-for-byte entry lines) — compact
    * cost scales with the fragmented partitions, not the table. */
  def compactPartitioned(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val base = headVersion(spark, root)
    val c = commitOf(spark, root, base)
    require(c.entries.forall(_.part.isDefined),
      s"compactPartitioned requires a partition-native table; $root@v$base has unscoped dirs")
    val next = base + 1
    // folding only re-packs the base's rows: the base schema carries
    val schema = schemaOf(spark, root, c)
    val meta = c.partCol.map(partColMetaLine).toSeq
    val byPart = c.entries.groupBy(_.part.get).toSeq.sortBy(_._1)
    val carried = byPart.collect { case (_, es) if es.size == 1 => es.head }
    val fragmented = byPart.collect { case (pv, es) if es.size > 1 => pv }
    if (fragmented.isEmpty) { // nothing to fold: every dir carries
      publish(spark, root, next, carried, schema, onConflictCleanup = () => (), meta = meta)
      return next
    }
    // one read of every fragmented chain + one staging wave — rows
    // route to their partition's fresh dir by column value (the
    // stagePartitions discipline; one file per value when small)
    // instead of a read+write job pair per fragmented partition; the
    // scan of immutable dirs is evaluated once, by the write, so it
    // needs no checkpoint. A legacy table without the #partcol marker
    // (so the column name is unknown) takes the per-partition fold it
    // always got
    c.partCol match {
      case Some(pc) =>
        val src = scanOf(spark, root, base, c, Some(fragmented.toSet))
        enforceConstraints(spark, root, src)
        val (parent, staged) = stagePartitions(spark, root, src, pc, next)
        publish(spark, root, next, carried ++ staged, schema,
                onConflictCleanup = () => f.delete(p(s"$root/$parent"), true), meta = meta)
      case None =>
        val parent = s"data/${verName(next)}-${java.util.UUID.randomUUID()}"
        val staged =
          try fragmented.map { pv =>
            stageUnscoped(spark, root, scanOf(spark, root, base, c, Some(Set(pv))),
                          s"$parent/${StagingWriter.valueDir(pv)}", next).copy(part = Some(pv))
          }
          catch { case e: Throwable => f.delete(p(s"$root/$parent"), true); throw e }
        publish(spark, root, next, carried ++ staged, schema,
                onConflictCleanup = () => f.delete(p(s"$root/$parent"), true), meta = meta)
    }
    next
  }

  // ---- CHECK constraints (Delta's table constraints) -------------------

  /** Registered CHECK constraints: (name, SQL predicate) pairs from the
    * `_constraints` sidecar. Empty when the file is absent. */
  def constraints(spark: SparkSession, root: String): Seq[(String, String)] = {
    val f = fs(spark, root)
    val path = p(s"$root/_constraints")
    if (!f.exists(path)) Nil
    else {
      val in = f.open(path)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        .filter(_.nonEmpty).map { l =>
          val Array(n, pr) = l.split("\t", 2); (n, pr)
        }
      finally in.close()
    }
  }

  /** Register a CHECK constraint: every FUTURE staged batch must
    * satisfy `predicate` (a boolean SQL expression over the table's
    * columns) or the write throws [[ConstraintViolationException]]
    * BEFORE anything is staged — the table never holds a violating
    * version. Like Delta's `ALTER TABLE ADD CONSTRAINT`, the EXISTING
    * snapshot is scanned first and a constraint the current data
    * already violates is rejected — a gate that starts out broken
    * guards nothing. Same single-writer sidecar contract as the index
    * meta files (concurrent addConstraint calls race the file, not
    * the log). */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    predicate: String): Unit = {
    require(!name.contains("\t") && !predicate.contains("\t") &&
      !name.contains("\n") && !predicate.contains("\n"),
      "constraint names/predicates must not contain tabs or newlines")
    import org.apache.spark.sql.functions.{expr, not, coalesce, lit}
    currentVersion(spark, root).foreach { v =>
      val bad = readAsOf(spark, root, v)
        .filter(not(coalesce(expr(predicate), lit(false)))).count()
      if (bad > 0) throw new ConstraintViolationException(name,
        s"cannot add constraint '$name' ($predicate): $bad existing rows " +
          s"in $root@v$v already violate it")
    }
    val all = constraints(spark, root) :+ (name -> predicate)
    val out = fs(spark, root).create(p(s"$root/_constraints"), /* overwrite */ true)
    try out.write(all.map { case (n, pr) => s"$n\t$pr" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Commit-time gate, called by every staging funnel BEFORE bytes are
    * written: one combined-predicate pass over the batch in the common
    * (clean) case, a per-constraint pass to NAME the violated gate
    * only on failure. A null predicate result counts as a violation
    * (the Delta rule: CHECK must evaluate to true). Cost is one scan
    * of the staged batch — callers staging an expensive plan should
    * checkpoint first (the ingest paths already do). */
  private def enforceConstraints(spark: SparkSession, root: String,
                                 df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{expr, not, coalesce, lit}
    val cs = constraints(spark, root)
    if (cs.nonEmpty) {
      def holds(pred: String) = coalesce(expr(pred), lit(false))
      val combined = cs.map(_._2).map(pr => s"($pr)").mkString(" AND ")
      if (!df.filter(not(holds(combined))).isEmpty) {
        val (name, pred) = cs.find { case (_, pr) =>
          !df.filter(not(holds(pr))).isEmpty
        }.get
        val sample = df.filter(not(holds(pred))).head()
        throw new ConstraintViolationException(name,
          s"constraint '$name' ($pred) violated by staged batch, e.g. $sample")
      }
    }
  }

  /** Stage `df` and publish `base + 1` with `carryOver` entries ahead
    * of the staged dir. `carried` is the parsed base commit those
    * entries come from (its schema widens the logged one); None for a
    * full snapshot. */
  private def stageAndCommit(spark: SparkSession, root: String, df: DataFrame,
                             base: Long, carried: Option[Commit],
                             carryOver: Seq[Entry] = Nil, meta: Seq[String] = Nil): Long = {
    enforceConstraints(spark, root, df)
    val f = fs(spark, root)
    val next = base + 1
    val rel = s"data/${verName(next)}-${java.util.UUID.randomUUID()}"
    val entry = stageUnscoped(spark, root, df, rel, next)
    val cleanup = () => { f.delete(p(s"$root/$rel"), true); () }
    publish(spark, root, next, carryOver :+ entry,
            stagedSchema(spark, root, carried, df.schema, cleanup),
            onConflictCleanup = cleanup, meta = meta)
    next
  }

  private def stageDesc(root: String, next: Long) = s"graft stage $root v$next"

  /** Stage `df` as the ONE unscoped dir `rel` of version `next`
    * ([[StagingWriter.stageDir]]); the dir is removed if the write
    * fails. */
  private def stageUnscoped(spark: SparkSession, root: String, df: DataFrame,
                            rel: String, next: Long): Entry =
    try Entry(rel, None, Some(StagingWriter.stageDir(spark, root, df, rel, stageDesc(root, next))))
    catch { case e: Throwable => fs(spark, root).delete(p(s"$root/$rel"), true); throw e }

  /** The lose-or-win point: move `tmp` onto `target` iff `target`
    * does not exist, ATOMICALLY. On file:// the arbiter is link(2)
    * via `Files.createLink` — the kernel resolves EEXIST vs link
    * inside one syscall, so two same-instant publishers get exactly
    * one winner. (Hadoop's local rename and Java's `Files.move`
    * without REPLACE_EXISTING both pre-check existence in userspace —
    * a check-then-act window this path used to have; two
    * barrier-released committers both passed it and double-published,
    * reproduced by the interleaved-committers spec.) On HDFS,
    * `FileContext.rename` without OVERWRITE is atomic in the
    * NameNode; object stores need external coordination (Delta's
    * LogStore caveat — class doc). Returns whether we won; the link
    * arbiter intentionally leaves `tmp` for the caller to remove. */
  private def atomicNoReplace(spark: SparkSession,
                              f: org.apache.hadoop.fs.FileSystem,
                              tmp: org.apache.hadoop.fs.Path,
                              target: org.apache.hadoop.fs.Path): Boolean = {
    val uri = f.makeQualified(target).toUri
    if (uri.getScheme == "file") {
      val src = java.nio.file.Paths.get(f.makeQualified(tmp).toUri)
      try { java.nio.file.Files.createLink(java.nio.file.Paths.get(uri), src); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      org.apache.hadoop.fs.FileContext.getFileContext(uri,
        spark.sparkContext.hadoopConfiguration).rename(tmp, target)
      true
    }
  }

  /** The atomic publish: full commit content (entries, meta lines,
    * the `#schema` line) to a writer-unique temp file (raw FS — [[logFs]] — so no checksum sidecar ever exists to
    * race), then [[atomicNoReplace]] onto the commit name. Also
    * writes the periodic log checkpoint after winning. */
  private def publish(spark: SparkSession, root: String, next: Long,
                      entries: Seq[Entry], schema: StructType,
                      onConflictCleanup: () => Unit, meta: Seq[String] = Nil): Unit = {
    val f = logFs(spark, root)
    f.mkdirs(p(s"$root/_log"))
    val tmp = p(s"$root/_log/.tmp-${verName(next)}-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, /* overwrite = */ false)
    try out.write((entries.map(_.line) ++ meta :+ schemaMetaLine(schema))
                    .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val target = commitPath(root, next)
    // fast-path pre-check (skip the arbiter when the version is
    // visibly taken), then the ATOMIC no-replace arbiter decides.
    // A ZERO-LENGTH target is a crashed legacy writer's garbage, which
    // currentVersion already treats as uncommitted — it must not win
    // the pre-check or the version would be permanently unwritable
    // (every writer re-resolving to the same base and conflicting
    // forever); delete it and let the arbiter arbitrate.
    val won =
      try {
        val existingLen =
          try Some(f.getFileStatus(target).getLen)
          catch { case _: java.io.FileNotFoundException => None }
        if (existingLen.exists(_ > 0)) false
        else {
          existingLen.foreach(_ => f.delete(target, false))
          atomicNoReplace(spark, f, tmp, target)
        }
      } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    f.delete(tmp, false) // link arbiter leaves tmp behind; no-op after a rename
    if (!won) {
      onConflictCleanup()
      throw new VersionConflictException(next)
    }
    if (next > 0 && next % CheckpointInterval == 0) writeCheckpoint(spark, root, next)
  }

  /** Best-effort checkpoint at version `v`: full version->entries
    * state of every commit currently in the log, published through
    * [[atomicNoReplace]], then `_last_checkpoint` repointed at it.
    * The pointer moves whenever `v`'s checkpoint exists afterwards,
    * also when an earlier call published it and crashed before the
    * pointer write: a checkpoint is written whole before its name
    * exists, so any file under that name holds `v`'s state. A pointer
    * left behind would let [[vacuum]] expire the commits above it and
    * then resolve the head to a deleted version. Failure here never
    * fails the commit — the fallback listing path stays correct. */
  private def writeCheckpoint(spark: SparkSession, root: String, v: Long): Unit =
    try {
      val f = logFs(spark, root)
      val prior = checkpointState(spark, root).getOrElse(Map.empty)
      val versions = committedVersions(f, root)
      val lines = versions.flatMap { ver =>
        prior.getOrElse(ver, entriesOf(spark, root, ver)).map(e => s"$ver\t${e.line}")
      }
      val cpTmp = p(s"$root/_log/.tmp-cp-${java.util.UUID.randomUUID()}")
      val cp = p(s"$root/_log/${verName(v)}.checkpoint")
      try {
        val out = f.create(cpTmp, false)
        try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
        try atomicNoReplace(spark, f, cpTmp, cp)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      } finally f.delete(cpTmp, false)
      if (f.exists(cp)) {
        val ptr = f.create(p(s"$root/_log/_last_checkpoint"), /* overwrite = */ true)
        try ptr.write(v.toString.getBytes("UTF-8")) finally ptr.close()
      }
    } catch { case _: Exception => () }

  /** A deterministic winner order even when the caller passes no
    * tieBreak and a batch carries duplicate keys: every non-key column
    * in name order. Without this, re-executions of the same merge (the
    * view-maintenance path re-runs mergeUpsert) could pick different
    * winners and silently diverge. */
  private def effectiveTieBreak(source: DataFrame, keys: Seq[String],
                                tieBreak: Seq[String]): Seq[String] =
    if (tieBreak.nonEmpty) tieBreak
    else source.columns.filterNot(keys.contains).sorted.toSeq

  /** MERGE `source` into the table under optimistic concurrency: read
    * the latest snapshot, upsert with the shared
    * [[graft.operators.Relational.mergeUpsert]] (so winner semantics
    * cannot drift from the rest of the write path), attempt the
    * commit; on conflict, re-read the FRESH snapshot and retry — the
    * loser's work is recomputed against the winner's table, never
    * silently dropped or doubled. Replaying an already-applied batch
    * commits a new version with identical content (idempotent by
    * latest-wins), mirroring the reference's retried Celery merges.
    * Rewrites the FULL snapshot — use [[mergePartitioned]] when a
    * stable partition column exists.
    *
    * `columnUpdate = true` switches matched-row semantics from
    * whole-row replace to COLUMN-LEVEL update (delta-rs
    * `whenMatchedUpdate`, queue_for_delta.py:741-799): only the
    * columns the batch carries are written; every other target column
    * is carried from the matched row. A batch column the table does
    * not have yet still requires `allowSchemaEvolution` (it widens
    * the table; unmatched rows get typed nulls) — but a NARROW batch
    * under columnUpdate needs no flag and loses nothing, which is the
    * partial-column upsert the reference's workers do.
    */
  def merge(spark: SparkSession, root: String, source: DataFrame,
            keys: Seq[String], tieBreak: Seq[String] = Nil,
            maxRetries: Int = 3, allowSchemaEvolution: Boolean = false,
            columnUpdate: Boolean = false): Long = {
    val tb = effectiveTieBreak(source, keys, tieBreak)
    var attempt = 0
    while (true) {
      val base = currentVersion(spark, root).getOrElse(-1L)
      val merged =
        // creation dedupes the batch itself with merge semantics — a
        // duplicate-key first batch must not seed more rows than any
        // later merge would leave, or a change-feed consumer seeded
        // from v0 diverges from recompute on the first update
        if (base < 0)
          graft.operators.Relational.mergeUpsert(source.limit(0), source, keys, tb)
        else if (columnUpdate) {
          val target = readAsOf(spark, root, base)
          val shared = target.columns.toSet.intersect(source.columns.toSet)
          shared.foreach { c =>
            require(target.schema(c).dataType == source.schema(c).dataType,
              s"column-level merge cannot reconcile column '$c': " +
                s"${target.schema(c).dataType} vs ${source.schema(c).dataType}")
          }
          val newCols = source.columns.filterNot(target.columns.contains)
          require(allowSchemaEvolution || newCols.isEmpty,
            s"batch carries new columns ${newCols.mkString(", ")} — " +
              "pass allowSchemaEvolution=true to widen the table")
          require(keys.forall(source.columns.contains),
            s"batch must carry every merge key (${keys.mkString(", ")})")
          graft.operators.Relational.mergeUpdateColumns(target, source, keys, tb)
        } else {
          val target = readAsOf(spark, root, base)
          val (t2, s2) =
            if (allowSchemaEvolution) alignSchemas(target, source)
            else (target, source) // mismatched schemas fail LOUDLY in unionByName
          graft.operators.Relational.mergeUpsert(t2, s2, keys, tb)
        }
      try return commit(spark, root, merged, base)
      catch {
        case _: VersionConflictException if attempt < maxRetries =>
          attempt += 1
      }
    }
    -1L // unreachable
  }

  /** Schema evolution for [[merge]] (Delta's autoMerge, opt-in): both
    * frames widened to the UNION of their columns, absent columns as
    * typed nulls; a column present on both sides with DIFFERENT types
    * is rejected loudly (silent cast would corrupt). Semantics caveat,
    * stated plainly: this merge is WHOLE-ROW replace — a source batch
    * narrower than the table overwrites its keys' rows with nulls in
    * the columns it does not carry (Delta's column-level `UPDATE SET
    * source.*` keeps target values instead). The spec pins the
    * narrow-batch behavior so the divergence is a documented contract,
    * not a surprise. */
  private def alignSchemas(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, lit}
    val shared = a.columns.toSet.intersect(b.columns.toSet)
    shared.foreach { c =>
      require(a.schema(c).dataType == b.schema(c).dataType,
        s"schema evolution cannot reconcile column '$c': " +
          s"${a.schema(c).dataType} vs ${b.schema(c).dataType}")
    }
    val all = (a.columns ++ b.columns.filterNot(a.columns.contains)).toSeq
    def widen(df: DataFrame, other: DataFrame) = {
      val have = df.columns.toSet
      df.select(all.map { c =>
        if (have(c)) col(c) else lit(null).cast(other.schema(c).dataType).as(c)
      }: _*)
    }
    (widen(a, b), widen(b, a))
  }

  /** Stage one dir per distinct partition value of `src` under a
    * fresh writer-unique parent for version `next`. Cleans up the
    * parent and rethrows on any write failure. Shared by every
    * partition-native write path so staging (encoding, layout,
    * cleanup) cannot drift between them. */
  private def stagePartitions(spark: SparkSession, root: String, src: DataFrame,
                              partitionCol: String, next: Long): (String, Seq[Entry]) =
    stagePartitionsOrEmpty(spark, root, src, partitionCol, next).getOrElse(
      throw new IllegalArgumentException(s"no $partitionCol values to stage"))

  /** Stage `src` one dir per partition value under a fresh parent for
    * version `next`; None when the batch is EMPTY (nothing was
    * written — callers publish a marker-only/carry-only commit).
    *
    * ONE staging write ([[StagingWriter.stagePartitioned]]),
    * evaluating `src` exactly once: each task writes its rows straight
    * into `<parent>/p=<enc(v)>/` and reports the values it saw with the
    * files it wrote, so the entries (files included) come from the
    * tasks' reports — no dir is renamed and nothing is listed, and the
    * first read of the new version lists nothing either. A null or
    * empty value stages no file; its report fails the write here,
    * naming which, before anything publishes.
    *
    * Why one task for a small input: a task writes one file per value
    * it holds, so a batch of T tasks over V values would stage up to
    * T×V small files, and both the writer's per-file setup and every
    * later read's per-file footer and reader setup scale with that
    * count. When the optimizer estimates the whole input at or under
    * AQE's advisory partition size — the size AQE would coalesce a
    * shuffle of it down to one partition at — the write runs as one
    * task (`coalesce(1)`, no exchange), so each touched value stages
    * exactly one file. A larger input is written as it comes;
    * clustering it (a REBALANCE on the value) would add a full shuffle
    * that no workload here measures yet. */
  private def stagePartitionsOrEmpty(
      spark: SparkSession, root: String, src: DataFrame,
      partitionCol: String, next: Long): Option[(String, Seq[Entry])] = {
    val parent = s"data/${verName(next)}-${java.util.UUID.randomUUID()}"
    try {
      val values = StagingWriter.stagePartitioned(spark, root, src, partitionCol, parent,
                                                  stageDesc(root, next))
      requireRoutable(values.map(_._1), partitionCol)
      if (values.isEmpty) None
      else Some((parent, values.map { case (v, files) =>
        Entry(s"$parent/${StagingWriter.valueDir(enc(v))}", Some(enc(v)), Some(files))
      }))
    }
    catch { case e: Throwable => fs(spark, root).delete(p(s"$root/$parent"), true); throw e }
  }

  /** Publish `df` as a PARTITION-NATIVE snapshot: one immutable dir
    * per distinct `partitionCol` value (the value is kept as a normal
    * data column inside the files, so readers never depend on Spark
    * partition-discovery). This is the layout [[mergePartitioned]]
    * requires; partition cardinality is assumed bounded (record_type,
    * period, tenant — the reference partitions by record_type/period,
    * queue_for_delta.py), since every value's dir is one commit entry.
    */
  def commitPartitioned(spark: SparkSession, root: String, df: DataFrame,
                        partitionCol: String, base: Long): Long =
    commitPartitionedCarrying(spark, root, df, partitionCol, base, carried = Nil)

  /** Stage `df` as ONE unscoped dir and publish `base + 1` carrying
    * `carried` entries (from [[entriesOf]]) forward
    * byte-for-byte — the unscoped sibling of
    * [[commitPartitionedCarrying]], and the publish primitive a
    * file-level (stats-pruned) merge needs: the rewritten dirs'
    * replacement is a single fresh dir, every untouched dir rides
    * along with its annotation (partition-scoped or not) intact. */
  private[graft] def commitCarrying(spark: SparkSession, root: String,
                                    df: DataFrame, base: Long,
                                    carried: Seq[Entry]): Long = {
    val c = if (base < 0) None else Some(commitOf(spark, root, base))
    stageAndCommit(spark, root, df, base, carried = c.filter(_ => carried.nonEmpty),
                   carryOver = carried,
                   meta = c.flatMap(_.partCol).map(partColMetaLine).toSeq)
  }

  /** KEYED DELETE: commit a new version holding every current row
    * whose key does NOT appear in `victims` — the `whenMatchedDelete`
    * half of the reference's merge (queue_for_delta.py tombstones),
    * as its own verb. O(table) rewrite by design (the simple tier;
    * [[mergePartitioned]] with a tombstone column is the O(touched)
    * tier) under the same optimistic-concurrency publish as
    * [[merge]]. Returns the new version. */
  def deleteKeys(spark: SparkSession, root: String, victims: DataFrame,
                 keys: Seq[String]): Long = {
    val base = headVersion(spark, root)
    val kept = readAsOf(spark, root, base)
      .join(victims.select(keys.map(org.apache.spark.sql.functions.col): _*)
              .distinct(),
            keys, "left_anti")
    commit(spark, root, kept, base)
  }

  /** The shared PARTITION-SCOPED REWRITE primitive: stage `df` one dir
    * per touched partition value, and publish `base + 1` with
    * `carried` entries (from [[entriesOf]], minus the touched
    * values) carried forward byte-for-byte. Callers own the carry
    * list — this is what a partition-scoped merge, SCD2 merge, or
    * delta recluster have in common: O(touched) staging, O(1) carry.
    * Same optimistic-concurrency publish as every other write. */
  private[graft] def commitPartitionedCarrying(
      spark: SparkSession, root: String, df: DataFrame, partitionCol: String,
      base: Long, carried: Seq[Entry]): Long = {
    val f = fs(spark, root)
    val next = base + 1
    lazy val c = commitOf(spark, root, base)
    // ONE staging write (see stagePartitionsOrEmpty): a small batch in
    // one task, one file per value, evaluating df once — no pre-write
    // checkpoint/isEmpty/null jobs
    enforceConstraints(spark, root, df)
    stagePartitionsOrEmpty(spark, root, df, partitionCol, next) match {
      case None =>
        // a deletion can empty every touched partition — the commit is
        // then pure carry (the touched dirs simply leave the entry list)
        require(carried.nonEmpty,
          s"refusing to publish a dir-less version at $root (empty rewrite, empty carry)")
        publish(spark, root, next, carried, schemaOf(spark, root, c), onConflictCleanup = () => (),
                meta = Seq(partColMetaLine(partitionCol)))
      case Some((parent, entries)) =>
        val cleanup = () => { f.delete(p(s"$root/$parent"), true); () }
        publish(spark, root, next, carried ++ entries,
                stagedSchema(spark, root, if (carried.nonEmpty && base >= 0) Some(c) else None,
                             df.schema, cleanup),
                onConflictCleanup = cleanup,
                meta = Seq(partColMetaLine(partitionCol)))
    }
    next
  }

  /** PARTITION-SCOPED merge — the copy-on-write file pruning the
    * delta-rs merge does (queue_for_delta.py:680-799 rewrites only
    * touched files): rewrite ONLY the partition dirs the source batch
    * touches; every untouched partition's dirs are carried forward in
    * the commit's entry list byte-for-byte. An upsert touching 1 of N
    * partitions stages O(1 partition) bytes, not O(table).
    *
    * Contract: `partitionCol` must be STABLE per key (a key's rows
    * never move between partitions — true of the reference's
    * record_type/period partitioning, where the partition columns are
    * part of the merge key); then per-partition merging is exactly
    * global merging. The table must be partition-native (created by
    * [[commitPartitioned]] / this method). Same optimistic-concurrency
    * retry as [[merge]]; winner determinism follows the same
    * [[effectiveTieBreak]] contract.
    */
  /** True when the most recent [[mergePartitioned]] landed its staged
    * dirs through the DISJOINT-partition rebase (no restaging) — the
    * spec's evidence that the stage-once path actually ran. */
  @volatile var lastMergeRebased: Boolean = false

  def mergePartitioned(spark: SparkSession, root: String, source: DataFrame,
                       keys: Seq[String], partitionCol: String,
                       tieBreak: Seq[String] = Nil, maxRetries: Int = 3): Long =
    mergePartitionedFrom(spark, root, source, keys, partitionCol, tieBreak,
                         maxRetries, firstBase = None)

  /** [[mergePartitioned]] with the first attempt pinned to a
    * caller-read (possibly stale) base — the deterministic seam the
    * concurrency specs drive, mirroring [[appendRebaseFrom]]. */
  private[graft] def mergePartitionedFrom(
      spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], partitionCol: String, tieBreak: Seq[String],
      maxRetries: Int, firstBase: Option[Long]): Long = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, root)
    val tb = effectiveTieBreak(source, keys, tieBreak)
    // ONE job materializes the (lazy) checkpoint — stable slices across
    // retries — and returns the touched values, per-task distinct with
    // no exchange; the null/empty check reads that list
    val src = source.localCheckpoint(eager = false)
    val touched = src.select(col(partitionCol).cast("string"))
      .as(org.apache.spark.sql.Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(org.apache.spark.sql.Encoders.STRING)
      .collect().distinct
    requireRoutable(touched, partitionCol)
    enforceConstraints(spark, root, src) // merge updates come from src
    lastMergeRebased = false
    var attempt = 0
    var pinned = firstBase
    while (true) {
      val base = pinned.getOrElse(currentVersion(spark, root).getOrElse(-1L))
      pinned = None // only the first attempt is pinned
      if (base < 0) {
        // creating: dedupe the batch itself with merge semantics; a
        // creation RACE is a conflict like any other — retry against
        // the winner's table instead of propagating
        val deduped = graft.operators.Relational.mergeUpsert(
          src.limit(0), src, keys, tb)
        try return commitPartitioned(spark, root, deduped, partitionCol, base)
        catch {
          case _: VersionConflictException if attempt < maxRetries =>
            attempt += 1
        }
      } else {
      val baseCommit = commitOf(spark, root, base)
      val baseEntries = baseCommit.entries
      require(baseEntries.forall(_.part.isDefined),
        s"mergePartitioned requires a partition-native table; $root@v$base has unscoped dirs " +
        "(create it with commitPartitioned, or compact via mergePartitioned only)")
      val next = base + 1
      // ONE merge + ONE staging wave over all touched partitions,
      // not a sequential merge+write job pair per partition (the
      // stagePartitions discipline): under this method's stability
      // contract (a key's rows never move between partitions) the
      // global latest-wins window equals the per-partition one, so
      // merging the union of touched dirs with the whole batch and
      // letting stagePartitions route rows by their partition value
      // is the same result at O(1) job launches instead of
      // O(touched).
      val touchedEnc = touched.map(enc).toSet
      val target =
        if (!baseEntries.exists(_.part.exists(touchedEnc.contains))) src.limit(0)
        else scanOf(spark, root, base, baseCommit, Some(touchedEnc))
      // the staging write evaluates the merge once; a retry that must
      // recompute builds a new one against the fresh head
      val merged = graft.operators.Relational.mergeUpsert(target, src, keys, tb)
      val (parent, staged) = stagePartitions(spark, root, merged, partitionCol, next)
      // publish loop: on conflict, REBASE the same staged dirs if the
      // winners' commits left every touched partition untouched
      // (Delta's disjoint-file conflict rule at partition granularity:
      // our merge read only the touched partitions, so a head that
      // changed none of them cannot invalidate the staged result —
      // republish against it, staging exactly once). Overlap, or an
      // unscoped head we cannot reason about, falls back to the
      // recompute path.
      var pubBase = base
      var pubCommit = baseCommit
      var recompute = false
      while (!recompute) {
        val carried = pubCommit.entries.filterNot(e => e.part.exists(touchedEnc.contains))
        try {
          publish(spark, root, pubBase + 1, carried ++ staged,
                  stagedSchema(spark, root, Some(pubCommit), merged.schema,
                               () => f.delete(p(s"$root/$parent"), true)),
                  onConflictCleanup = () => (),
                  meta = Seq(partColMetaLine(partitionCol)))
          lastMergeRebased = pubBase != base
          return pubBase + 1
        } catch {
          case e: VersionConflictException =>
            if (attempt >= maxRetries) { f.delete(p(s"$root/$parent"), true); throw e }
            attempt += 1
            val newBase = currentVersion(spark, root).getOrElse(-1L)
            val newCommit = commitOf(spark, root, newBase)
            val newEntries = newCommit.entries
            val disjoint = newEntries.forall(_.part.isDefined) && {
              def slice(es: Seq[Entry], pv: String) =
                es.filter(_.part.contains(pv)).map(_.rel).toSet
              touchedEnc.forall(pv => slice(newEntries, pv) == slice(baseEntries, pv))
            }
            if (disjoint) { pubBase = newBase; pubCommit = newCommit }
            else { f.delete(p(s"$root/$parent"), true); recompute = true }
        }
      }
      }
    }
    -1L // unreachable
  }

  /** CHANGE DATA FEED between two committed versions — the real
    * version of what q37 ([[graft.operators.Relational.snapshotDiff]])
    * demonstrates on synthetic snapshots: every row inserted, deleted,
    * or updated going from `fromVersion` to `toVersion`, classified by
    * full-outer join on the key columns (unchanged rows are dropped —
    * a feed consumer only wants the delta). `_old`/`_new` carry the
    * pre/post images of the non-key columns as structs.
    *
    * Scale shape: one shuffle of each snapshot on the key. Both sides
    * are snapshots of the SAME table written by the same path, so at
    * 100 TB they share partition layout and the join co-locates; the
    * unchanged-row filter drops the overwhelming majority of rows
    * before anything downstream. Struct comparison is null-safe
    * (`<=>`), and a `_present` marker distinguishes a join miss from
    * an all-null payload (and keeps the struct lit-valid for
    * key-only tables).
    */
  def changeFeed(spark: SparkSession, root: String,
                 fromVersion: Long, toVersion: Long,
                 keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val oldDf = readAsOf(spark, root, fromVersion)
    val newDf = readAsOf(spark, root, toVersion)
    // image structs are built over the UNION of both versions' columns
    // (missing = typed null), so the feed survives schema evolution
    // between the versions: a column added with all-null backfill
    // compares equal on untouched rows instead of failing the struct
    // comparison on mismatched types
    val colType = (oldDf.schema ++ newDf.schema).map(f => f.name -> f.dataType).toMap
    val dataCols = (oldDf.columns ++ newDf.columns).distinct.toSeq
      .filterNot(keys.contains)
    def imaged(df: DataFrame, as: String) = {
      val fields = dataCols.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(colType(c)).as(c)
      }
      df.select(keys.map(col) :+
        struct(lit(1).as("_present") +: fields: _*).as(as): _*)
    }
    imaged(oldDf, "_old")
      .join(imaged(newDf, "_new"), keys, "full_outer")
      .withColumn("change_type",
        when(col("_old").isNull, "inserted")
          .when(col("_new").isNull, "deleted")
          .when(!(col("_old") <=> col("_new")), "updated")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
  }

  /** Reclaim history: drop all but the last `keepLast` versions (their
    * log entries, and any data dir no RETAINED version still
    * references — append chains share dirs across versions, so
    * reachability, not ownership, decides what dies). The current
    * version is always kept. With a checkpoint, dir lists of old
    * versions come from the checkpoint map instead of one read per
    * commit file — O(1) content reads + tail. Checkpoint files below
    * the cutoff are dropped too, except the newest (still the pointer
    * target). */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1): Unit = {
    val f = fs(spark, root)
    currentVersion(spark, root).foreach { cur =>
      val cutoff = cur - math.max(1, keepLast) + 1
      val ld = p(s"$root/_log")
      val names = f.listStatus(ld).map(_.getPath.getName)
      val versions = names.filter(_.matches("v\\d{8}\\.commit"))
        .map(_.stripPrefix("v").stripSuffix(".commit").toLong)
      val cpMap = checkpointState(spark, root).getOrElse(Map.empty)
      def entries(v: Long): Seq[Entry] =
        cpMap.getOrElse(v, entriesOf(spark, root, v))
      // refresh the checkpoint to the current version BEFORE expiring
      // anything (Delta's log-cleanup order: checkpoint, THEN expire):
      // a pointer below vacuumed commits would wedge the forward probe
      // at the gap and resolve currentVersion to a deleted version —
      // after which a writer could commit over it and shadow the real
      // head. With this order a crash mid-vacuum only redoes deletions.
      if (lastCheckpointVersion(spark, root).exists(_ < cur))
        writeCheckpoint(spark, root, cur)
      val retained: Set[String] = versions.filter(_ >= cutoff)
        .flatMap(v => entries(v).map(_.rel)).toSet
      versions.filter(_ < cutoff).foreach { v =>
        val rels = entries(v).map(_.rel)
        // sidecar BEFORE commit file: expiry is derived from the
        // commit listing, so the reverse order + a crash between the
        // two would orphan the sidecar forever
        f.delete(p(s"$root/_log/${verName(v)}.stats"), false)
        f.delete(commitPath(root, v), false)
        rels.filterNot(retained).foreach(r => f.delete(p(s"$root/$r"), true))
      }
      // sweep sidecars a previous crashed vacuum orphaned (their
      // commit file is already gone, so the loop above never sees them)
      names.filter(_.matches("v\\d{8}\\.stats"))
        .map(_.stripPrefix("v").stripSuffix(".stats").toLong)
        .filter(v => v < cutoff)
        .foreach(v => f.delete(p(s"$root/_log/${verName(v)}.stats"), false))
      val newestCp = lastCheckpointVersion(spark, root).getOrElse(Long.MinValue)
      names.filter(_.matches("v\\d{8}\\.checkpoint"))
        .map(_.stripPrefix("v").stripSuffix(".checkpoint").toLong)
        .filter(v => v != newestCp && v != cur)
        .foreach(v => f.delete(p(s"$root/_log/${verName(v)}.checkpoint"), false))
    }
  }

  // ---- SQL front door: time travel as table-valued functions ----------

  /** The SQL reachability layer the path-based Scala API lacks (the
    * reference serves its lake through one uniform query surface,
    * services/api/views/): three TVFs that make a graft table — at
    * HEAD, `VERSION AS OF`, or `TIMESTAMP AS OF` — addressable from
    * pure SQL, composing with any downstream SQL (joins, filters,
    * aggregates):
    *
    *   SELECT * FROM graft_table('/path/to/t')
    *   SELECT * FROM graft_table_at_version('/path/to/t', 3)
    *   SELECT * FROM graft_table_at_timestamp('/path/to/t', '2026-08-13 14:00:00')
    *
    * Arguments must be literals (the builder runs at analysis time —
    * the same restriction Spark's own `range(...)` TVF has). The
    * returned plan is the ANALYZED plan of the corresponding
    * [[read]]/[[readAsOf]]/[[readAsOfTimestamp]] frame, so SQL and
    * Scala readers cannot drift. Registration: programmatic via
    * [[registerSqlTimeTravel]], or config-based via
    * `spark.sql.extensions=graft.GraftExtensions` for spark-sql /
    * Thrift / notebook sessions.
    */
  private def litString(e: org.apache.spark.sql.catalyst.expressions.Expression,
                        what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }

  private def litMillis(e: org.apache.spark.sql.catalyst.expressions.Expression,
                        what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, dt) => dt match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        v.asInstanceOf[Long] / 1000L // stored micros -> millis
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType =>
        v.asInstanceOf[Number].longValue()
      case org.apache.spark.sql.types.StringType =>
        // 'yyyy-MM-dd HH:mm:ss[.S]' interpreted in UTC — the pinned
        // session zone, so SQL text and versionAtTimestamp agree
        java.time.LocalDateTime
          .parse(v.toString.trim.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case _ => throw new IllegalArgumentException(
        s"$what must be a timestamp/long/string literal, got type $dt")
    }
    case other => throw new IllegalArgumentException(
      s"$what must be a literal, got: $other")
  }

  private def analyzed(df: DataFrame) = df.queryExecution.analyzed

  private[graft] def tableFn(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    require(es.length == 1, "graft_table(path) takes exactly 1 argument")
    analyzed(read(SparkSession.active, litString(es.head, "path")))
  }

  private[graft] def tableAtVersionFn(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    require(es.length == 2,
      "graft_table_at_version(path, version) takes exactly 2 arguments")
    val v = es(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(n: Number, _) =>
        n.longValue()
      case other => throw new IllegalArgumentException(
        s"version must be an integer literal, got: $other")
    }
    analyzed(readAsOf(SparkSession.active, litString(es.head, "path"), v))
  }

  private[graft] def tableAtTimestampFn(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    require(es.length == 2,
      "graft_table_at_timestamp(path, ts) takes exactly 2 arguments")
    analyzed(readAsOfTimestamp(SparkSession.active,
      litString(es.head, "path"), litMillis(es(1), "ts")))
  }

  /** `graft_table_changes(path, fromVersion, toVersion, keys)` — the
    * CHANGE FEED through the SQL front door. `keys` is a
    * comma-separated merge-key list (SQL has no string-array literal
    * that reaches a TVF builder cleanly); output is [[changeFeed]]'s
    * frame: key columns + `_old`/`_new` row images + `change_type`. */
  private[graft] def tableChangesFn(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    require(es.length == 4,
      "graft_table_changes(path, fromVersion, toVersion, keys) takes exactly 4 arguments")
    def longLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
                what: String): Long = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(n: Number, _) =>
        n.longValue()
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got: $other")
    }
    val keys = litString(es(3), "keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "keys must name at least one merge-key column")
    analyzed(changeFeed(SparkSession.active, litString(es.head, "path"),
      longLit(es(1), "fromVersion"), longLit(es(2), "toVersion"), keys))
  }

  /** Programmatic registration of the time-travel + change-feed TVFs
    * on a live session (the extensions class covers config-based
    * sessions). */
  def registerSqlTimeTravel(spark: SparkSession): Unit = {
    val r = spark.sessionState.tableFunctionRegistry
    r.createOrReplaceTempFunction("graft_table", tableFn _, "built-in")
    r.createOrReplaceTempFunction("graft_table_at_version", tableAtVersionFn _, "built-in")
    r.createOrReplaceTempFunction("graft_table_at_timestamp", tableAtTimestampFn _, "built-in")
    r.createOrReplaceTempFunction("graft_table_changes", tableChangesFn _, "built-in")
  }
}
