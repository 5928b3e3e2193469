/** DSv1 streaming-source bridge.
  *
  * Spark's v1 `Source.getBatch` contract requires the returned
  * DataFrame to carry `isStreaming = true` (MicroBatchExecution
  * asserts it before splicing the batch into the trigger plan), but
  * the only constructors that produce such a frame are `private[sql]`.
  * Every file-backed v1 connector bridges this the same way — a thin
  * accessor object compiled inside the `org.apache.spark.sql`
  * namespace (Delta Lake's `DeltaSource`, Spark's own
  * `FileStreamSource`). This object is that bridge, plus the two
  * `private[sql]` schema helpers the commit log's `#schema` line needs
  * (the parquet `mergeSchema` rule and read-side nullability), and
  * NOTHING else: no state — the graft connector proper lives in
  * `graft.sources` against public APIs.
  */
package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

object SqlShim {

  private def classic(spark: SparkSession): ClassicSparkSession =
    spark.asInstanceOf[ClassicSparkSession]

  /** `relation` as a STREAMING logical plan — what a v1
    * `Source.getBatch` must return. */
  def streamingFrame(spark: SparkSession, relation: BaseRelation): DataFrame =
    ClassicDataset.ofRows(classic(spark),
      LogicalRelation(relation, isStreaming = true))

  /** A zero-row streaming frame of `schema` — the empty `getBatch`. */
  def emptyStreamingFrame(spark: SparkSession, schema: StructType): DataFrame = {
    val s = classic(spark)
    s.internalCreateDataFrame(
      s.sparkContext.emptyRDD[InternalRow], schema, isStreaming = true)
  }

  /** A streaming frame over a computed InternalRow RDD (lazy — the
    * RDD executes when the trigger runs) — the `getBatch` shape for
    * sources whose batch is a derived computation rather than a file
    * listing (the CDC mode's snapshot diff). */
  def streamingRowsFrame(spark: SparkSession, rows: RDD[InternalRow],
                         schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rows, schema, isStreaming = true)

  /** A plain BATCH frame over already-computed InternalRows — how a
    * v1 `Sink.addBatch` re-wraps the incremental result for a batch
    * writer (the incoming frame's plan still carries the streaming
    * source and rejects batch writes). */
  def batchFrame(spark: SparkSession, rows: RDD[InternalRow],
                 schema: StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rows, schema, isStreaming = false)

  /** `s` as a parquet read reports it: every field nullable, nested
    * types included (what `DataSource` applies to a file schema). */
  def nullable(s: StructType): StructType = s.asNullable

  /** `a` widened by `b` under the rule Spark's parquet `mergeSchema`
    * applies across footers (`StructType.merge`, with the session's
    * case sensitivity): `a`'s fields in order, then `b`'s new ones; a
    * type conflict throws Spark's merge error. */
  def mergeSchemas(spark: SparkSession, a: StructType, b: StructType): StructType =
    a.merge(b, classic(spark).sessionState.conf.caseSensitiveAnalysis).asNullable

  /** The executed InternalRow RDD of a sink's incoming batch frame. */
  def internalRows(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.toRdd
}
