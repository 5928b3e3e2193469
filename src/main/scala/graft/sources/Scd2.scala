package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Type-2 (history-preserving) MERGE over a [[VersionedTable]] — the
  * warehouse-grade upgrade of the reference's metadata upsert
  * (update_stock_metadata.py overwrites the stocks dim in place;
  * an SCD2 dim keeps every attribute version with validity ranges).
  * q29 shows the READ side (deriving SCD2 ranges from an event log);
  * this is the WRITE side: each merge closes the validity window of
  * changed keys and inserts the new version, so `asOf` reconstruction
  * is a filter, not a replay.
  *
  * Table layout: business columns + `valid_from`, `valid_to`
  * (null = open) and `is_current`. Merge semantics per batch key:
  * unchanged → untouched (its valid_from does NOT move); changed →
  * current row closed at `effTs`, new current row inserted; new key →
  * inserted current. Keys absent from the batch are untouched (an
  * SCD2 merge is an upsert, not a sync — deletions are a tombstone
  * attribute, not a row removal).
  *
  * Contracts, stated honestly: a batch must be strictly later than
  * the current valid_from of every key it CHANGES (checked; a batch
  * that would close a window at a time at or before its open is
  * rejected, not silently applied — while late NEW keys and
  * backdated changes to long-stable keys are legal SCD2 late data,
  * the streaming sink's normal cross-key event-time skew); a batch
  * whose every effect is already in the table — a REPLAY from the
  * Landing at-least-once crash window, or a no-op refresh — commits
  * nothing and returns the current version (idempotent); the source
  * is deduped per key deterministically (all non-key columns as
  * tie-break, the [[VersionedTable.merge]] convention) so re-executed
  * merges cannot diverge. Both merges run on
  * [[VersionedTable.rewrite]], the engine behind
  * [[VersionedTable.merge]] with the type-2 combine: [[mergeScd2]]
  * rewrites the whole table, [[mergeScd2Partitioned]] only the touched
  * partitions, and a lost publish race rebases or recomputes by the
  * engine's one rule.
  *
  * Scale shape: ONE shuffle of current rows + batch on the key
  * (change detection); history rows are unioned through untouched —
  * never joined, never compared.
  */
object Scd2 {
  val From = "valid_from"
  val To = "valid_to"
  val Current = "is_current"

  /** The timestamp literal, validated ON THE DRIVER before any plan
    * uses it. An unparseable string would cast to NULL, and null
    * comparisons make every downstream guard pass VACUOUSLY — the
    * monotonic-order require filters to empty, closed rows get a null
    * valid_to and inserts a null valid_from, after which [[asOf]]
    * returns BOTH versions of a changed key forever. Silent history
    * corruption from a typo'd timestamp; reject it loudly instead
    * (the module's fail-loud contract for out-of-order batches). */
  private def parsedTs(spark: SparkSession, ts: String) = {
    // one local 1-row job; under ANSI the bad cast throws instead of
    // nulling — either way the answer is "does not parse"
    val ok =
      try spark.range(1).select(lit(ts).cast("timestamp").isNotNull)
        .head.getBoolean(0)
      catch { case _: Exception => false }
    require(ok, s"'$ts' does not parse as a timestamp — an unparseable " +
      "effective time would null-cast and silently corrupt validity ranges")
    lit(ts).cast("timestamp")
  }

  /** Deterministic per-key dedupe of the batch (same convention as
    * VersionedTable.merge's default tie-break); the engine checkpoints
    * it once. */
  private def dedupedSource(source: DataFrame, keys: Seq[String]): DataFrame = {
    val attrs = source.columns.toSeq.filterNot(keys.contains)
    require(attrs.nonEmpty, "SCD2 needs at least one non-key attribute")
    graft.operators.Relational.mergeUpsert(source.limit(0), source, keys, attrs)
  }

  private def initFrame(src: DataFrame, ets: Column): DataFrame =
    src.withColumn(From, ets)
      .withColumn(To, lit(null).cast("timestamp"))
      .withColumn(Current, lit(true))

  /** The type-2 merge of `src` into snapshot `snap` at `ets`: None
    * when the batch is a no-op (a replay, or a pure refresh — commit
    * NOTHING, no version churn); otherwise the full post-merge
    * snapshot of the rows `snap` covered. Change detection runs FIRST
    * so only a batch with real changes is held to the monotonic-time
    * contract. */
  private def scd2Result(snap: DataFrame, src: DataFrame, keys: Seq[String],
                         ets: Column, effTs: String): Option[DataFrame] = {
    val attrs = src.columns.toSeq.filterNot(keys.contains)
    val cur = snap.filter(col(Current))
    val hist = snap.filter(!col(Current))
    val srcR = src.select(
      (keys.map(col) ++ attrs.map(c => col(c).as(s"${c}__new"))): _*)
    val cmp = cur.join(srcR, keys)
    val differs = attrs.map(c => !(col(c) <=> col(s"${c}__new")))
      .reduce(_ || _)
    val changedKeys = cmp.filter(differs).select(keys.map(col): _*)
      .localCheckpoint(eager = false)
    val newKeys = src.join(cur, keys, "left_anti")
    if (changedKeys.isEmpty && newKeys.isEmpty) return None
    // monotonic-time contract, scoped to the keys this batch CLOSES:
    // only a changed key gets its window closed at ets, so only those
    // keys can corrupt a validity range. A batch inserting a brand-new
    // key behind OTHER keys' valid_from is benign (normal cross-key
    // event-time skew in the streaming sink) and must not be rejected.
    require(cur.join(changedKeys, keys, "left_semi")
        .filter(col(From) >= ets).isEmpty,
      s"SCD2 merge at $effTs is not after a changed key's valid_from — " +
      "out-of-order batches would corrupt validity ranges")
    val closed = cur.join(changedKeys, keys, "left_semi")
      .withColumn(To, ets).withColumn(Current, lit(false))
    val keptCurrent = cur.join(changedKeys, keys, "left_anti")
    val inserts = newKeys
      .unionByName(src.join(changedKeys, keys, "left_semi"))
      .withColumn(From, ets)
      .withColumn(To, lit(null).cast("timestamp"))
      .withColumn(Current, lit(true))
    Some(hist.unionByName(closed).unionByName(keptCurrent)
      .unionByName(inserts))
  }

  /** SCD2-merge `source` (business columns only) at effective time
    * `effTs` (an ISO timestamp literal); returns the committed
    * version, or the current one when the batch changes nothing. */
  def mergeScd2(spark: SparkSession, root: String, source: DataFrame,
                keys: Seq[String], effTs: String): Long = {
    val ets = parsedTs(spark, effTs)
    VersionedTable.rewrite(spark, root, dedupedSource(source, keys), None, maxRetries = 3)(src =>
      VersionedTable.Rewrite(VersionedTable.allDirs, {
        case None => Some(initFrame(src, ets))
        case Some(snap) => scd2Result(snap, src, keys, ets, effTs)
      }))
  }

  /** PARTITION-SCOPED SCD2 merge — the engine's partition pick
    * ([[VersionedTable.touchedPartitions]], as
    * [[VersionedTable.mergePartitioned]] takes it) with the type-2
    * combine: only the partition dirs the batch touches are read and
    * rewritten (each touched partition's full history rides along in
    * its dir); every untouched partition's dirs are carried forward
    * byte-for-byte. A batch touching 1 of N partitions stages O(1
    * partition), not O(table) — the dominant write in the reference's
    * loop at its delta-rs cost.
    *
    * Contract: `partitionCol` must be one of `keys` (a key's rows —
    * current AND closed versions — then never leave their partition,
    * so per-partition type-2 merging equals global type-2 merging;
    * the reference's record_type layout). The table must be
    * partition-native (created by this method). Batch-idempotency and
    * the monotonic-time contract match [[mergeScd2]], with the
    * monotonic check scoped to the touched partitions (untouched
    * partitions are untouched evidence). */
  def mergeScd2Partitioned(spark: SparkSession, root: String, source: DataFrame,
                           keys: Seq[String], partitionCol: String,
                           effTs: String): Long = {
    require(keys.contains(partitionCol),
      s"$partitionCol must be part of the merge key — SCD2 rows of one key " +
      "(current and history) must never move between partitions")
    val ets = parsedTs(spark, effTs)
    VersionedTable.rewrite(spark, root, dedupedSource(source, keys), None, maxRetries = 3,
                           scope = _ => Some(partitionCol)) { src =>
      // an all-new-partition batch sees an empty (typed) snapshot, and
      // every row inserts
      VersionedTable.Rewrite(
        VersionedTable.touchedPartitions(root, src, partitionCol, "mergeScd2Partitioned"),
        snap => scd2Result(snap.getOrElse(initFrame(src, ets).limit(0)), src, keys, ets, effTs))
    }
  }

  /** foreachBatch body maintaining the type-2 dim FROM A STREAM — the
    * [[ServingView]] composition for a dimension: each micro-batch
    * collapses to its latest row per key (micro-batch granularity —
    * two updates of one key inside a batch become ONE version; the
    * intermediate is below the dim's time resolution, stated
    * honestly), takes the batch's max event time as the effective
    * time, and [[mergeScd2]]s. Replayed batches (the at-least-once
    * crash window) are idempotent no-ops through mergeScd2's
    * change-detection gate; a batch arriving with real changes BEHIND
    * the dim's newest valid_from fails loudly rather than corrupting
    * ranges (out-of-order micro-batches are a pipeline bug, not data).
    * Empty batches commit nothing.
    */
  def sink(spark: SparkSession, root: String, keys: Seq[String],
           eventTsCol: String)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val recs = batch.localCheckpoint()
    if (recs.isEmpty) return
    val attrs = recs.columns.toSeq.filterNot(c => keys.contains(c) || c == eventTsCol)
    // latest per key by event time, deterministically tie-broken on
    // the remaining columns (re-executed batches must pick the same
    // winner — the VersionedTable.merge convention)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(eventTsCol).desc +: attrs.sorted.map(col(_).desc): _*)
    val latest = recs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", eventTsCol)
    val effTs = recs.agg(max(col(eventTsCol)).cast("string")).head.getString(0)
    mergeScd2(spark, root, latest, keys, effTs)
    ()
  }

  /** The dimension as of time `ts` — a filter over validity ranges,
    * no replay: rows with valid_from <= ts < valid_to (open = ∞). */
  def asOf(spark: SparkSession, root: String, ts: String): DataFrame = {
    val t = parsedTs(spark, ts) // unparseable ts throws — never an empty frame
    VersionedTable.read(spark, root)
      .filter(col(From) <= t && (col(To).isNull || col(To) > t))
  }
}
