package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graft.SqlShim
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.SaveMode

/** `format("graft")` — the versioned table as a first-class Spark
  * data source, batch + streaming, read + write:
  *
  * {{{
  * spark.read.format("graft").load(root)                          // head snapshot
  * spark.read.format("graft").option("versionAsOf", 3).load(root) // time travel
  * spark.read.format("graft").option("timestampAsOf", millis).load(root)
  * spark.readStream.format("graft").load(root)                    // appends as a stream
  * df.writeStream.format("graft").option("checkpointLocation", cp).start(root)
  * }}}
  *
  * The batch relation is a `HadoopFsRelation` over [[GraftFileIndex]]:
  * Catalyst plans it exactly like a parquet table (whole-stage
  * codegen'd columnar scan, filters pushed to the parquet reader,
  * column pruning), EXCEPT the file listing consults the table's
  * stats/bloom sidecars against the pushed predicates — automatic
  * file-level skipping inside any query shape, no explicit
  * `DataSkipping.readWhere` call. This is the architecture Delta
  * Lake ships on Spark (log-backed file index under an ordinary
  * relation), rebuilt on this repo's commit log.
  *
  * The streaming source reads the COMMIT LOG, not the directory tree
  * (version offsets, committed dirs only) — closing the staged-dir
  * races the docstring of [[VersionedTable.streamAppends]] has to
  * disclaim: an uncommitted or lost-race dir is simply never listed,
  * and a batch is reproducible from its (start, end] version range
  * alone. The sink appends each micro-batch with a `#txn` marker in
  * the same atomic commit (Delta's txnAppId/txnVersion), so a
  * restarted query skips replayed batches instead of double-writing.
  *
  * Options — batch read: `versionAsOf` (long), `timestampAsOf`
  * (epoch millis), plus write-side stats opt-ins `ensureStats` /
  * `ensureBloom` (comma-separated columns — builds the sidecars the
  * index prunes with, same write-side lifecycle as
  * `appendWithStats`). Streaming read: `startingVersion` (first
  * version whose adds are delivered; default 0 = full history),
  * `skipChangeCommits` (skip rewriting commits instead of failing —
  * Delta's semantics). Streaming write: `txnAppId` (idempotence key;
  * defaults to the query's checkpoint location).
  */
final class GraftDataSource extends RelationProvider with DataSourceRegister
  with CreatableRelationProvider with StreamSourceProvider with StreamSinkProvider
  with org.apache.spark.sql.connector.catalog.TableProvider {

  import GraftDataSource.{rootOf, resolveVersion}

  override def shortName(): String = "graft"

  // ── DataSource V2 face (TableProvider) ────────────────────────────
  // Batch + micro-batch reads resolve through [[GraftTable]]; the CDC
  // mode and every write path return capability-less shells so Spark's
  // own resolution falls back to the v1 interfaces below (see the
  // GraftTableV2 scaladoc for the why of each boundary).

  /** Write paths pass the incoming frame's schema instead of calling
    * [[inferSchema]] — a save into a fresh root must not require a
    * committed version to infer from. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val params = GraftDataSource.asParams(options)
    val root = rootOf(params)
    if (GraftDataSource.isCdc(params))
      GraftDataSource.cdcSchema(spark, root, GraftDataSource.cdcKeys(params))
    else VersionedTable.schemaOf(spark, root, resolveVersion(spark, root, params))
  }

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties)
    val params = GraftDataSource.asParams(options)
    val root = rootOf(params)
    if (GraftDataSource.isCdc(params))
      new GraftDataSource.CapabilityLessTable(root, schema) // → v1 CDC source
    else new GraftTable(root, schema, options)
  }

  // ── batch ─────────────────────────────────────────────────────────

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val v = resolveVersion(spark, root, parameters)
    val rel = VersionedTable.relation(spark, root, v)
    GraftDataSource.runSidecarOptIns(spark, root, v, parameters, rel.dataSchema)
    rel
  }

  /** `df.write.format("graft").mode(...).save(root)` — the batch
    * write path, each mode mapped to the commit protocol it means:
    * Append → [[VersionedTable.appendRebase]] (O(batch) add-file
    * commit, auto-rebased under concurrent appenders; creates the
    * table when absent), Overwrite → [[VersionedTable.commit]] (a
    * NEW version whose entry list is just the batch — history stays
    * time-travelable, nothing is deleted), ErrorIfExists/Ignore →
    * their SQL contracts against table existence. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val existing = VersionedTable.currentVersion(spark, root)
    mode match {
      case SaveMode.Append =>
        VersionedTable.appendRebase(spark, root, data)
      case SaveMode.Overwrite =>
        VersionedTable.commit(spark, root, data, existing.getOrElse(-1L))
      case SaveMode.ErrorIfExists =>
        if (existing.isDefined) throw new IllegalStateException(
          s"graft table already exists at $root (mode ErrorIfExists)")
        VersionedTable.commit(spark, root, data, -1L)
      case SaveMode.Ignore =>
        if (existing.isEmpty) VersionedTable.commit(spark, root, data, -1L)
    }
    createRelation(sqlContext, parameters)
  }

  // ── streaming read ────────────────────────────────────────────────

  import GraftDataSource.{isCdc, cdcKeys, cdcSchema, headSchema}

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val inferred =
      if (isCdc(parameters)) cdcSchema(spark, root, cdcKeys(parameters))
      else headSchema(spark, root)
    (shortName(), schema.getOrElse(inferred))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val startingVersion =
      parameters.get("startingVersion").map(_.trim.toLong).getOrElse(0L)
    val maxVersions =
      parameters.get("maxVersionsPerTrigger").map(_.trim.toLong)
    if (isCdc(parameters)) {
      val keys = cdcKeys(parameters)
      new GraftChangeFeedSource(spark, root,
        schema.getOrElse(cdcSchema(spark, root, keys)), keys, startingVersion,
        maxVersionsPerTrigger = maxVersions)
    } else new GraftStreamSource(spark, root,
      schema.getOrElse(headSchema(spark, root)),
      startingVersion = startingVersion,
      skipChangeCommits = parameters.get("skipChangeCommits").exists(_.trim.toBoolean),
      maxVersionsPerTrigger = maxVersions)
  }

  // ── streaming write ───────────────────────────────────────────────

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink is append-only (got $outputMode): a versioned " +
        "table's streaming write is an append per micro-batch; use " +
        "foreachBatch + merge for update semantics")
    val root = rootOf(parameters)
    val appId = parameters.getOrElse("txnAppId",
      parameters.getOrElse("checkpointLocation", s"graft-sink-$root"))
    new GraftSink(sqlContext.sparkSession, root, appId)
  }
}

object GraftDataSource {

  private[sources] def asParams(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : Map[String, String] = {
    import scala.jdk.CollectionConverters._
    // lower-case keys: callers look up with lower-case names and the
    // v1 maps were CaseInsensitiveMap-backed
    options.asCaseSensitiveMap().asScala.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v
    }.toMap
  }

  private[sources] def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source needs a table root: .load(\"/path/to/table\")"))

  private[sources] def resolveVersion(spark: SparkSession, root: String,
                                      parameters: Map[String, String]): Long =
    parameters.get("versionasof").map(_.trim.toLong)
      .orElse(parameters.get("timestampasof").map { ts =>
        VersionedTable.versionAtTimestamp(spark, root, ts.trim.toLong).getOrElse(
          throw new java.io.FileNotFoundException(
            s"no version committed at or before $ts at $root"))
      })
      .getOrElse(VersionedTable.headVersion(spark, root))

  /** Opt-in sidecar builds (write-side lifecycle, exposed on the read
    * options for convenience): compute once, cached in the log,
    * inherited by future versions. */
  private[sources] def runSidecarOptIns(spark: SparkSession, root: String,
      v: Long, parameters: Map[String, String], schema: StructType): Unit = {
    parameters.get("ensurestats").foreach { cols =>
      DataSkipping.ensureStatsAuto(spark, root, v,
        cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq, schema)
    }
    parameters.get("ensurebloom").foreach { cols =>
      cols.split(",").map(_.trim).filter(_.nonEmpty)
        .foreach(c => DataSkipping.ensureBloom(spark, root, v, c))
    }
  }

  private[sources] def isCdc(parameters: Map[String, String]): Boolean =
    parameters.get("readchangefeed").exists(_.trim.toBoolean)

  private[sources] def cdcKeys(parameters: Map[String, String]): Seq[String] =
    parameters.getOrElse("keys", throw new IllegalArgumentException(
      "readChangeFeed mode needs option(\"keys\", \"k1,k2\") — the row " +
        "identity the change feed diffs on"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The dirs the commits in (startV, endV] added — one micro-batch
    * of the version-offset streams. A commit that drops prior entries
    * (merge/compact/restore) fails the stream, or with
    * `skipChangeCommits` is skipped whole: its adds re-package rows
    * already delivered. */
  private[sources] def addedDirs(spark: SparkSession, root: String, startV: Long,
                                 endV: Long, skipChangeCommits: Boolean): Seq[String] =
    (math.max(0L, startV + 1L) to endV).flatMap { v =>
      val prev = if (v == 0) Set.empty[String] else VersionedTable.dirsOf(spark, root, v - 1).toSet
      val cur = VersionedTable.dirsOf(spark, root, v)
      val removed = prev -- cur
      if (removed.isEmpty) cur.filterNot(prev)
      else if (skipChangeCommits) Nil
      else throw new IllegalStateException(
        s"graft stream over $root: version $v rewrites or removes " +
          s"data (${removed.size} dropped dirs — merge/compact/" +
          "restore). Set skipChangeCommits=true to skip such " +
          "commits (later appends still stream), or consume the " +
          "change feed (readChangeFeed / graft_table_changes) for CDC semantics.")
    }

  private[sources] def headSchema(spark: SparkSession, root: String): StructType =
    VersionedTable.schemaOf(spark, root, VersionedTable.headVersion(spark, root))

  private[sources] def cdcSchema(spark: SparkSession, root: String,
                                 keys: Seq[String]): StructType = {
    val head = VersionedTable.headVersion(spark, root)
    // a self-diff never executes — it is only the schema carrier
    VersionedTable.changeFeed(spark, root, head, head, keys).schema
  }

  /** A v2 table that declares NO capabilities: every path that asks
    * for one (batch read, micro-batch read, any write) falls back to
    * the v1 provider interfaces — how the CDC mode keeps its
    * DataFrame-returning v1 `Source`. */
  private[sources] final class CapabilityLessTable(root: String,
                                                   tschema: StructType)
    extends org.apache.spark.sql.connector.catalog.Table {
    override def name(): String = s"graft.`$root`"
    override def schema(): StructType = tschema
    override def capabilities()
        : java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
      java.util.Collections.emptySet()
  }
}

/** Parquet read machinery with DIRECT WRITES REJECTED: Spark plans
  * `INSERT INTO` over any HadoopFsRelation as a direct file write
  * into the relation's root path — which would drop files NEXT TO the
  * commit log, invisible to every reader (the log's entry lists, not
  * the directory, define the table). Without this guard the insert
  * "succeeds" and the rows silently vanish — the worst failure mode a
  * transactional table can have. `prepareWrite` is the one hook on
  * that path, so it throws with the correct alternative; reads are
  * untouched ParquetFileFormat. */
private[sources] final class GraftGuardedParquet
  extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def prepareWrite(
      sparkSession: org.apache.spark.sql.SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType)
    : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "direct file writes (INSERT INTO / insertInto) bypass the graft " +
        "commit log and would be invisible to readers — write through " +
        "df.write.format(\"graft\").mode(\"append\"), the streaming " +
        "sink, or the VersionedTable API instead")
  override def toString: String = "GraftParquet"
}

/** Catch-up rate limiting for the version-offset sources
  * (`maxVersionsPerTrigger`): bounds how many versions one
  * micro-batch may span, so a consumer that was down for a day
  * drains its backlog in bounded batches instead of one giant
  * catch-up batch (Delta's maxFilesPerTrigger concern, expressed in
  * versions — the unit this log meters by). Restart-safe through the
  * v1 recovery contract: on restart the engine re-invokes
  * `getBatch` with the checkpointed range before asking for a new
  * offset (the call FileStreamSource uses to rebuild its state), and
  * `getBatch` feeds this gate — so the cap advances from where the
  * query actually was, never from scratch (spec-pinned with a real
  * checkpoint restart). */
private[sources] final class VersionRateGate(startingVersion: Long,
                                             maxPerTrigger: Option[Long]) {
  @volatile private var lastSeen: Long = startingVersion - 1L
  def seen(v: Long): Unit = { if (v > lastSeen) lastSeen = v }
  def cap(head: Long): Long =
    maxPerTrigger.map(m => math.min(head, lastSeen + m)).getOrElse(head)
}

/** Version-offset streaming source over the commit log. Offsets are
  * COMMITTED VERSIONS (LongOffset of the head), so a micro-batch is
  * "the dirs the commits in (startV, endV] added" — pure metadata to
  * plan, reproducible on recovery from the offset range alone, and
  * immune to the staged-dir races directory listing is exposed to: a
  * dir that never committed is never delivered.
  *
  * Non-append commits (merge/compact/restore drop or re-reference
  * prior entries) fail the stream by default — their adds hold
  * already-delivered rows. With `skipChangeCommits` the whole commit
  * is skipped (Delta's option of the same name): correct for
  * compaction (the folded dir holds only delivered rows) and the
  * documented at-most-once caveat for merge (rewritten rows are not
  * re-delivered; consume the change feed for CDC).
  *
  * At 100 TB: per-trigger planning cost is O(commits since last
  * trigger) commit-file reads — independent of table size — and each
  * delivered batch reads exactly the appended bytes. */
final class GraftStreamSource(spark: SparkSession, root: String,
                              override val schema: StructType,
                              startingVersion: Long,
                              skipChangeCommits: Boolean,
                              maxVersionsPerTrigger: Option[Long] = None)
  extends Source {

  private val gate = new VersionRateGate(startingVersion, maxVersionsPerTrigger)

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  override def getOffset: Option[Offset] =
    VersionedTable.currentVersion(spark, root).map(h => LongOffset(gate.cap(h)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val startV = start.map(versionOf).getOrElse(startingVersion - 1L)
    val endV = versionOf(end)
    gate.seen(endV)
    val adds = GraftDataSource.addedDirs(spark, root, startV, endV, skipChangeCommits)
    if (adds.isEmpty) SqlShim.emptyStreamingFrame(spark, schema)
    else {
      val index = new GraftFileIndex(spark, root, endV, adds.map((_, None)), None)
      SqlShim.streamingFrame(spark, HadoopFsRelation(
        location = index,
        partitionSchema = new StructType(),
        dataSchema = schema,
        bucketSpec = None,
        fileFormat = new GraftGuardedParquet,
        options = Map.empty)(spark))
    }
  }

  override def stop(): Unit = ()
  override def toString: String = s"GraftStreamSource[$root]"
}

/** CDC streaming — `option("readChangeFeed", "true")`: each
  * micro-batch is [[VersionedTable.changeFeed]] over the batch's
  * version range (startV → endV), so merges, deletes and overwrites
  * stream as keyed `inserted`/`updated`/`deleted` rows with full
  * old/new images instead of failing the append-only source — the
  * declarative form of the MaterializedAgg.applyChangeFeed loop, and
  * what a downstream upsert sink (foreachBatch → merge) consumes.
  *
  * Delta's CDF contract on offsets too: `startingVersion` is the BASE
  * snapshot — changes of commits AFTER it stream; the base's own rows
  * do not (seed the consumer with a batch read at that version).
  *
  * Cost, stated honestly: this log stores dir lists, not row-level
  * change actions (Delta writes CDF files at commit time), so a
  * trigger window prices one snapshot diff — a co-located full-outer
  * join on the keys, cheap for the narrow trigger windows CDC runs
  * with but O(snapshot), not O(delta). Multi-commit windows COALESCE
  * to net changes by construction (a key updated twice emits once).
  * The append-only fast path stays with [[GraftStreamSource]]. */
final class GraftChangeFeedSource(spark: SparkSession, root: String,
                                  override val schema: StructType,
                                  keys: Seq[String],
                                  startingVersion: Long,
                                  maxVersionsPerTrigger: Option[Long] = None)
  extends Source {

  private val gate = new VersionRateGate(startingVersion + 1L, maxVersionsPerTrigger)

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  override def getOffset: Option[Offset] =
    VersionedTable.currentVersion(spark, root).map(h => LongOffset(gate.cap(h)))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val startV = math.max(0L, start.map(versionOf).getOrElse(startingVersion))
    val endV = versionOf(end)
    gate.seen(endV)
    if (endV <= startV) SqlShim.emptyStreamingFrame(spark, schema)
    else {
      // cast to the stream's pinned schema: a table whose columns
      // evolved mid-stream fails the cast LOUDLY (restart the stream
      // to adopt the new shape — Delta CDF's contract) instead of
      // mislabeling InternalRow layouts
      val feed = VersionedTable.changeFeed(spark, root, startV, endV, keys)
        .select(schema.fields.toSeq.map(f =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
      SqlShim.streamingRowsFrame(spark, SqlShim.internalRows(feed), schema)
    }
  }

  override def stop(): Unit = ()
  override def toString: String = s"GraftChangeFeedSource[$root]"
}

/** Append-per-micro-batch sink with exactly-once replay protection:
  * each batch lands through [[VersionedTable.appendRebaseTxn]], whose
  * `#txn appId batchId` marker commits in the SAME atomic rename as
  * the data entries. On restart the engine replays the last batch;
  * [[VersionedTable.lastTxnBatch]] sees the marker and the sink skips
  * — no double rows, no out-of-band state. Appends from other writers
  * interleave freely (append-only commits commute; the rebase loop
  * republishes the same staged dir). */
final class GraftSink(spark: SparkSession, root: String, appId: String)
  extends Sink {

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    if (VersionedTable.lastTxnBatch(spark, root, appId).exists(_ >= batchId)) return
    // the incoming frame's plan carries the streaming source and
    // refuses batch execution — re-wrap its computed rows (one
    // incremental execution, standard v1-sink shape)
    val rows = SqlShim.internalRows(data.asInstanceOf[DataFrame])
    val batch = SqlShim.batchFrame(spark, rows, data.schema)
    VersionedTable.appendRebaseTxn(spark, root, batch, appId, batchId)
    ()
  }

  override def toString: String = s"GraftSink[$root]"
}
