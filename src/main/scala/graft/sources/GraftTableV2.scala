package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => V2Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.{PartitionDirectory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face of the graft connector — [[GraftDataSource]]
  * implements `TableProvider` and hands reads to this table.
  *
  * Design: the scan machinery is Spark's own DSv2 parquet path
  * (`ParquetScanBuilder`/`ParquetScan` — vectorized columnar reader,
  * engine-native column pruning and filter pushdown REPORTED through
  * the v2 interfaces, row-group pruning from the same pushed
  * filters), pointed at the commit log through
  * [[GraftPartitioningAwareIndex]], whose `listFiles` is
  * [[GraftFileIndex]]'s sidecar-stat dir pruning. So the v2
  * migration changes WHO plans the scan (the v2 pushdown rules, not
  * FileSourceStrategy) while both the IO-pruning tier and the parquet
  * execution tier stay the proven ones.
  *
  * The streaming read is a first-class v2 `MicroBatchStream` over
  * version offsets ([[GraftMicroBatchStream]]) — and unlike the v1
  * `Source` contract it needs no `private[sql]` bridge for its
  * frames (the v1 shim's `isStreaming` constructors exist precisely
  * because v1 returns DataFrames; v2 returns partitions). Measured
  * honestly: Spark 4.1 negotiates NEITHER column pruning NOR filter
  * pushdown for micro-batch scans (the engine puts a Project/Filter
  * above a full-schema `MicroBatchScan` — spec-pinned), so the v2
  * stream's wins are the dropped shim, admission-control rate
  * limiting, and living on the API Spark actually evolves; per-batch
  * IO restriction still comes from the version-range dir list.
  *
  * Deliberate v1 fallbacks (capability-driven, same class serves
  * both): the CDC mode (`readChangeFeed` — its batch is a DERIVED
  * snapshot diff, a join, which v1's DataFrame-returning contract
  * expresses directly and v2's partition contract cannot without
  * materializing the diff twice), the streaming sink (driver-side
  * transactional append via `#txn` markers — the v1 `Sink.addBatch`
  * shape; Delta ships the same choice), and batch writes (the
  * `CreatableRelationProvider` save-mode surface incl. ErrorIfExists/
  * Ignore). Spark's resolution rules route each path: a table
  * without MICRO_BATCH_READ/BATCH_READ capabilities falls back to
  * the v1 provider interfaces automatically.
  */
final class GraftTable(root: String, tschema: StructType,
                       options: CaseInsensitiveStringMap)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = s"graft.`$root`"
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
                         TableCapability.MICRO_BATCH_READ,
                         TableCapability.V1_BATCH_WRITE,
                         TableCapability.TRUNCATE)

  /** The v2 batch-write face — what makes `INSERT INTO` a
    * FIRST-CLASS transactional append: under DSv1 Spark planned
    * inserts over a `HadoopFsRelation` as direct file writes next to
    * the commit log (which [[GraftGuardedParquet]] had to reject as
    * silent data loss); under v2 the insert routes through the
    * connector, so it lands as an ordinary logged commit. The write
    * itself bridges to the proven commit protocol via `V1Write`
    * (`InsertableRelation` — the same bridge Delta ships): append →
    * [[VersionedTable.appendRebase]] (O(batch) add-file commit,
    * auto-rebased under concurrent appenders), truncate/overwrite →
    * [[VersionedTable.commit]] (a NEW version; history stays
    * travelable — nothing is deleted). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwriteParam: Boolean): Unit = {
                val spark = data.sparkSession
                if (overwrite || overwriteParam)
                  VersionedTable.commit(spark, root, data,
                    VersionedTable.currentVersion(spark, root).getOrElse(-1L))
                else { VersionedTable.appendRebase(spark, root, data); () }
              }
            }
        }
    }

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    // scan options win over table-creation options (same key set)
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(scanOptions.asCaseSensitiveMap())
    val opts = new CaseInsensitiveStringMap(merged)
    val params = GraftDataSource.asParams(opts)
    val v = GraftDataSource.resolveVersion(spark, root, params)
    GraftDataSource.runSidecarOptIns(spark, root, v, params, tschema)
    val idx = new GraftPartitioningAwareIndex(spark,
      VersionedTable.relation(spark, root, v).location.asInstanceOf[GraftFileIndex])
    // tschema is the version's logged schema: the parquet reader
    // null-fills the columns an older dir's files lack, as the v1
    // relation does
    new GraftScanBuilder(spark, idx, tschema, opts, root,
      startingVersion = Option(opts.get("startingVersion")).map(_.trim.toLong).getOrElse(0L),
      skipChangeCommits = Option(opts.get("skipChangeCommits")).exists(_.trim.toBoolean),
      maxVersionsPerTrigger = Option(opts.get("maxVersionsPerTrigger")).map(_.trim.toLong))
  }
}

/** [[GraftFileIndex]] wearing the `PartitioningAwareFileIndex` type
  * the DSv2 parquet scan machinery requires. Every behavior delegates
  * to the underlying graft index — in particular `listFiles`, where
  * the sidecar-stat dir pruning lives, so the v2 scan prunes
  * identically to the v1 relation (and the same spec counters
  * observe it). Partition-column semantics are flat by design: graft
  * dirs carry their partition value IN the data files (the
  * `#partcol` annotation is a pruning hint, not a schema split), so
  * the v2 partition schema is empty just as the v1 relation's was. */
private[sources] final class GraftPartitioningAwareIndex(
    spark: SparkSession, val underlying: GraftFileIndex)
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
  override def partitionSchema: StructType = new StructType()

  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val m = mutable.LinkedHashMap.empty[Path, FileStatus]
    underlying.filesByDir.valuesIterator.flatten
      .foreach(st => m.put(st.getPath, st))
    m
  }

  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    underlying.filesByDir.map { case (_, files) =>
      files.headOption.map(_.getPath.getParent) match {
        case Some(dir) => dir -> files
        case None => new Path("/dev/null") -> files
      }
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    underlying.listFiles(partitionFilters, dataFilters)

  override def rootPaths: Seq[Path] = underlying.rootPaths
  override def inputFiles: Array[String] = underlying.inputFiles
  override def refresh(): Unit = underlying.refresh()
  override def sizeInBytes: Long = underlying.sizeInBytes
}

/** The v2 scan builder: Spark's own `ParquetScanBuilder` underneath
  * (so column pruning, filter pushdown and aggregate pushdown all
  * behave engine-natively — the pushdown interfaces forward to it),
  * with the built scan wrapped to add the streaming face.
  * Composition rather than subclassing because `ParquetScanBuilder
  * .build()` covariantly narrows its return type to `ParquetScan`. */
private[sources] final class GraftScanBuilder(
    spark: SparkSession, idx: GraftPartitioningAwareIndex,
    tschema: StructType, opts: CaseInsensitiveStringMap, root: String,
    startingVersion: Long, skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Option[Long])
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val inner = ParquetScanBuilder(spark, idx, tschema, tschema, opts)

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(requiredSchema)
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    inner.pushFilters(filters)
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    inner.pushAggregation(aggregation)
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    inner.supportCompletePushDown(aggregation)

  override def build(): Scan =
    new GraftScan(inner.build(), spark, root, startingVersion,
      skipChangeCommits, maxVersionsPerTrigger)
}

/** A built graft scan: batch execution IS the wrapped `ParquetScan`
  * (vectorized, codegen-friendly columnar batches); the streaming
  * face plans each micro-batch as the same parquet scan restricted
  * to the version range's added dirs. */
private[sources] final class GraftScan(
    val parquet: ParquetScan, spark: SparkSession, root: String,
    startingVersion: Long, skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Option[Long])
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.internal.connector.SupportsMetadata {

  override def readSchema(): StructType = parquet.readSchema()
  override def toBatch: Batch = parquet.toBatch
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(parquet, spark, root, startingVersion,
      skipChangeCommits, maxVersionsPerTrigger)
  override def description(): String = parquet.description()
  override def getMetaData(): Map[String, String] = parquet.getMetaData()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    parquet.estimateStatistics()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    parquet.supportedCustomMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    parquet.columnarSupportMode()

  // exchange/scan reuse keys on Scan equality
  override def equals(other: Any): Boolean = other match {
    case g: GraftScan => parquet == g.parquet
    case _ => false
  }
  override def hashCode(): Int = parquet.hashCode()
}

/** Version offset of the v2 stream — json-compatible with the v1
  * source's `LongOffset` (`json == version.toString`), so a
  * checkpoint written under the v1 source restarts cleanly under
  * this one. */
private[sources] final case class GraftOffset(v: Long) extends V2Offset {
  override def json(): String = v.toString
}

/** Version-offset micro-batch stream over the commit log — the v2
  * `MicroBatchStream` carrying the exact batch semantics of the v1
  * [[GraftStreamSource]] (committed dirs only; a batch is "the dirs
  * the commits in (startV, endV] added"; non-append commits fail
  * loudly unless `skipChangeCommits`), with a structural upgrade
  * the v1 contract could not express:
  *
  *  - rate limiting through `SupportsAdmissionControl.latestOffset
  *    (start, limit)` — the engine TELLS us the batch's start, so
  *    `maxVersionsPerTrigger` caps relative to the true stream
  *    position with no mutable gate state to rebuild on restart;
  *  - no `private[sql]` bridge anywhere in the delivery path: the
  *    engine consumes partitions, not pre-built DataFrames.
  *
  * At 100 TB: per-trigger planning is O(commits in range) commit-file
  * reads — independent of table size — and each batch reads exactly
  * the appended bytes through the same vectorized reader as batch
  * queries. */
private[sources] final class GraftMicroBatchStream(
    template: ParquetScan, spark: SparkSession, root: String,
    startingVersion: Long, skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Option[Long])
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): V2Offset = GraftOffset(startingVersion - 1L)
  override def deserializeOffset(json: String): V2Offset =
    GraftOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): V2Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) — this stream does admission control")

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val head = VersionedTable.currentVersion(spark, root).getOrElse(return null)
    val s = start.asInstanceOf[GraftOffset].v
    val capped = GraftDataSource.cappedEnd(spark, root, s, head, maxVersionsPerTrigger)
    if (capped <= s) null else GraftOffset(capped)
  }

  override def planInputPartitions(start: V2Offset, end: V2Offset): Array[InputPartition] = {
    val startV = start.asInstanceOf[GraftOffset].v
    val endV = end.asInstanceOf[GraftOffset].v
    val adds = GraftDataSource.addedDirs(spark, root, startV, endV, skipChangeCommits)
    if (adds.isEmpty) Array.empty
    else {
      val idx = new GraftPartitioningAwareIndex(spark,
        new GraftFileIndex(spark, root, endV, adds, None))
      template.copy(fileIndex = idx).toBatch.planInputPartitions()
    }
  }

  // the reader factory depends only on schemas/filters/conf — one
  // factory serves every batch's partitions
  override def createReaderFactory(): PartitionReaderFactory =
    template.toBatch.createReaderFactory()

  override def commit(end: V2Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftMicroBatchStream[$root]"
}
