package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Landing, MaterializedAgg, VersionedTable}

/** e2e01: the reference's END-TO-END flow as ONE oracle-gated row —
  * the composition the system exists for, run through REAL persisted
  * state rather than verified piecewise:
  *
  *   fetch payloads land as files → [[graft.sources.Landing.ingest]]
  *   (manifest, retry, dead-letter; queue_for_fetch.py:74-310) →
  *   JSON flatten (q17's kernel; queue_for_delta.py:431-528) →
  *   sentinel null-normalize (q10's kernel) → upsert MERGE into a
  *   [[graft.sources.VersionedTable]] + tombstone delete pass
  *   (q08/q36; queue_for_delta.py:680-799) → per-key metadata upsert
  *   into a second table (q18; update_stock_metadata.py:195-291) →
  *   serving-view refresh from the commit CHANGE FEED (the
  *   cache-invalidation-on-write loop, api/signals.py +
  *   cache_utils.py:47-146) → state-transition audit (q22;
  *   models.py:12-33 / stock_ingestion_service.py:61-70).
  *
  * Every stage is an existing row's kernel reached through SHARED
  * code (t23's composition discipline applied to the reference
  * domain), so the composite cannot drift from its parts — what it
  * adds is exactly what piecewise oracles cannot see: stage-boundary
  * schema agreement, merge-vs-delete ordering, feed-vs-recompute
  * equality over the REAL commit history, metadata consistency with
  * the post-merge table.
  *
  * Determinism: money is converted to exact CENTS (one 0-dp round,
  * bit-identical across engines per [[Rounding]]) at the
  * flatten/normalize boundary, so every downstream sum — including
  * the serving view's INCREMENTAL accumulation, whose floating-point
  * fold order would otherwise differ from the oracle's recompute —
  * is exact integer arithmetic. The poison landing file dead-letters
  * with a pinned attempt count; its rows exist nowhere, so the
  * relational replay is untouched.
  *
  * Scale shape: the landing loop is per-file O(file) with a bounded
  * manifest anti-join; flatten/normalize are map-side projections on
  * the raw scan; the merge is the q08 single-shuffle window, run by
  * VersionedTable's one rewrite engine picking every dir here (a full
  * snapshot rewrite; mergePartitioned and mergeSkipping are the same
  * engine with a partition or a stats pick, exercised by their own
  * rows); the change feed
  * is one co-partitioned full-outer join that the serving refresh
  * consumes at O(feed) without rescanning the table; metadata and
  * audit are one window shuffle each on their natural keys. No
  * collect touches row data; the only driver-side values are commit
  * versions. */
object ReferenceE2E {

  private val Sentinels = Seq("N/A", "NA", "NULL", "NONE", "-")

  /** exact cents: one 0-dp round (HALF_UP == std::round away-from-zero
    * for the positive domain), then pure BIGINT arithmetic forever. */
  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  // the landed fixture is READ-ONLY downstream (flatten reads raw/,
  // the landing census reads manifest/; records/metadata live in a
  // per-run dir), so it caches per corpus stamp with no per-run copy
  private val fixtureCache = new Caching.BoundedCache[
      (SparkSession, String), String](2,
    onEvict = dir =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)))

  /** Build the LANDED fixture — what the reference's fetch workers
    * produce plus the Landing.ingest that consumes it: three arrival
    * shards, one correction feed (value restatements, error
    * tombstones, late inserts), one poison file, manifest-gated into
    * `raw/` with per-file retry (the poison dead-letters after
    * maxAttempts). All derived deterministically from `events` so
    * DuckDB replays the whole run. Returns the fixture dir holding
    * `manifest/` + `raw/`. */
  private def buildFixture(spark: SparkSession, events: DataFrame): String = {
    fixtureBuilds += 1
    val fix = java.nio.file.Files.createTempDirectory("graft-e2e01-fix").toString
    val land = s"$fix/landing"
    new java.io.File(land).mkdirs()
    val src = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
    val dirty = when(pmod(col("event_id"), lit(7)) === 0, lit("N/A"))
      .otherwise(col("event_type")) // upstream feeds encode null as 'N/A'
    val arrivals = src.select(col("event_id"), col("ts"), col("user_id"),
      dirty.as("status_raw"), col("value"), col("props"),
      lit(0).as("prio"), lit(false).as("deleted"))
    (0 to 2).foreach { b =>
      arrivals.filter(pmod(col("event_id"), lit(3)) === b)
        .coalesce(1).write.parquet(s"$land/fetch_00$b.parquet")
    }
    val corrections = src.filter(pmod(col("event_id"), lit(5)) === 0)
      .select(col("event_id"), col("ts"), col("user_id"),
        dirty.as("status_raw"), (col("value") + 1000.0).as("value"),
        col("props"), lit(1).as("prio"),
        (col("event_type") === "error").as("deleted"))
    // offset = 2^40: above any real event_id at ANY scale factor
    // (a colliding "insert" would silently become an update)
    val lateInserts = src.filter(pmod(col("event_id"), lit(97)) === 0)
      .select((col("event_id") + 1099511627776L).as("event_id"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"), col("user_id"),
        col("event_type").as("status_raw"), (col("value") + 5.0).as("value"),
        col("props"), lit(1).as("prio"), lit(false).as("deleted"))
    corrections.unionByName(lateInserts)
      .coalesce(1).write.parquet(s"$land/fetch_003.parquet")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$land/poison_004.parquet"),
      "not a parquet footer".getBytes("UTF-8"))
    // Landing ingest: manifest-gated, per-file retry, poison
    // dead-letters after maxAttempts and STOPS consuming retries
    Landing.ingest(spark, land, "*.parquet", s"$fix/manifest",
      process = df => { VersionedTable.appendRebase(spark, s"$fix/raw", df); () },
      maxAttempts = 2, backoffMs = 1)
    fix
  }

  /** Times the landed fixture was actually BUILT (not cache-served) —
    * the bench-cost evidence that repeated runs pay the FLOW. */
  @volatile var fixtureBuilds: Long = 0L

  def pipeline(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    def build() = buildFixture(spark, events)
    // planStamp, not bareScan+stamp: Tables.events normalizes the ts
    // type with a deterministic projection, which is cacheable but
    // not a leaf plan
    val stamp = Caching.planStamp(events)
    val (fix, ephemeral) =
      if (stamp.isEmpty) (build(), true)
      else (fixtureCache.getOrElseUpdate((spark, stamp))(build()), false)
    val manifest = s"$fix/manifest"
    val rawRoot = s"$fix/raw"
    val work = java.nio.file.Files.createTempDirectory("graft-e2e01").toString
    val recsRoot = s"$work/records"
    val metaRoot = s"$work/metadata"

    // ---- flatten + normalize (q17 + q10 kernels), money → exact cents
    val statusNorm = coalesce(
      when(upper(trim(col("status_raw"))).isin(Sentinels: _*), lit(null))
        .otherwise(col("status_raw")),
      lit("(null)"))
    val clean = VersionedTable.read(spark, rawRoot)
      .select(col("event_id"), col("ts"), col("user_id"),
        statusNorm.as("status"), cents(col("value")).as("value_cents"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("prio"), col("deleted"))
      .localCheckpoint()
    val recCols = Seq("event_id", "ts", "user_id", "status", "value_cents", "k")

    // ---- records table lifecycle: v0 = arrivals; merge corrections;
    // tombstone delete pass (q36's whenMatchedDelete half)
    // ---- metadata shape (q18): latest event per user + event count
    def metaOf(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("rn", row_number().over(w))
        .withColumn("n_events",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("latest_event_id"),
          col("ts").as("latest_ts"), col("status").as("latest_status"),
          col("value_cents").as("latest_cents"), col("n_events"))
    }
    val v0 = VersionedTable.commit(spark, recsRoot,
      clean.filter(col("prio") === 0).select(recCols.map(col): _*), -1L)
    // the serving-view seed and the metadata seed both read the PINNED
    // v0 snapshot (readAsOf — immutable dirs), so they are independent
    // of the records merge below: overlap them with it (guide §2.6,
    // overlap independent jobs) instead of running four sequential
    // stages. Awaited before first use; same frames, same commits.
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val prevAggF = scala.concurrent.Future {
      MaterializedAgg.fullAgg(
        VersionedTable.readAsOf(spark, recsRoot, v0), "status", "value_cents")
        .localCheckpoint() // the serving view, seeded at v0
    }
    val metaSeedF = scala.concurrent.Future {
      VersionedTable.commit(spark, metaRoot,
        metaOf(VersionedTable.readAsOf(spark, recsRoot, v0)), -1L)
    }
    val v1 = VersionedTable.merge(spark, recsRoot,
      clean.filter(col("prio") === 1 && !col("deleted"))
        .select(recCols.map(col): _*),
      keys = Seq("event_id"))
    val tomb = clean.filter(col("prio") === 1 && col("deleted"))
      .select(col("event_id")).distinct()
    val v2 = VersionedTable.commit(spark, recsRoot,
      VersionedTable.readAsOf(spark, recsRoot, v1)
        .join(tomb, Seq("event_id"), "left_anti"), v1)
    val finalRecs = VersionedTable.readAsOf(spark, recsRoot, v2).localCheckpoint()

    // ---- serving-view refresh: O(feed), never rescans the table —
    // the reference's write→invalidate→refresh cycle over real commits
    val feed = VersionedTable.changeFeed(spark, recsRoot, v0, v2,
      keys = Seq("event_id"))
    val prevAgg = scala.concurrent.Await.result(
      prevAggF, scala.concurrent.duration.Duration.Inf)
    val serving = MaterializedAgg.applyChangeFeed(
      prevAgg, feed, "status", "value_cents")

    // ---- metadata upsert (q18): seed at v0 (committed concurrently
    // above), merge post-state, drop users the delete pass emptied
    // (the metadata cleaner)
    scala.concurrent.Await.result(
      metaSeedF, scala.concurrent.duration.Duration.Inf)
    VersionedTable.merge(spark, metaRoot, metaOf(finalRecs),
      keys = Seq("user_id"))
    val mv = VersionedTable.currentVersion(spark, metaRoot).get
    VersionedTable.commit(spark, metaRoot,
      VersionedTable.read(spark, metaRoot)
        .join(finalRecs.select(col("user_id")).distinct(),
          Seq("user_id"), "left_semi"), mv)
    val finalMeta = VersionedTable.read(spark, metaRoot)

    // ---- transition audit (q22's kernel) over the final table
    val audit = Relational.transitionAudit(
      finalRecs.select(col("event_id"), col("user_id"), col("ts"),
        col("status").as("event_type")))

    // ---- one census frame across every stage
    def out(stage: String, k1: org.apache.spark.sql.Column,
            k2: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column,
            v: org.apache.spark.sql.Column)(df: DataFrame) =
      df.select(lit(stage).as("stage"), k1.cast("string").as("k1"),
        k2.cast("string").as("k2"), n.cast("long").as("n"),
        v.cast("double").as("v"))
    val landOut = out("landing", col("file"), col("state"), col("rows"),
      col("attempts"))(VersionedTable.read(spark, manifest))
    val mergeOut = out("merge", col("status"), col("kmod"), col("n"),
      col("cts") / 100.0)(
      finalRecs.withColumn("kmod", col("k") % 10)
        .groupBy(col("status"), col("kmod"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("cts")))
    val servingOut = out("serving", col("grp"), lit(""), col("n"),
      col("total") / 100.0)(serving)
    val metaOut = out("meta", col("latest_status"), lit(""), col("n"),
      col("cts") / 100.0)(
      finalMeta.groupBy(col("latest_status"))
        .agg(count(lit(1)).as("n"), sum(col("latest_cents")).as("cts")))
    val auditOut = out("audit", col("prev_type"), col("event_type"),
      col("n"), when(col("is_valid"), 1.0).otherwise(0.0))(audit)
    val res = landOut.unionByName(mergeOut).unionByName(servingOut)
      .unionByName(metaOut).unionByName(auditOut)
      .orderBy(col("stage"), col("k1"), col("k2"))
      .localCheckpoint() // materialize BEFORE the state dirs are reclaimed
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
    if (ephemeral)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fix))
    res
  }

  /** DuckDB replay of the whole run from `events` — the fetch-writer
    * fixture, flatten/normalize, merge+delete, metadata, the serving
    * view (as a recompute: the incremental feed path must land on
    * exactly this), and the audit, unioned into the same census. */
  def oracle: String = {
    val branches = Relational.allowedTransitions.map { case (from, tos) =>
      val set = tos.map(t => s"'$t'").mkString(", ")
      s"WHEN prev_type = '$from' THEN event_type IN ($set)"
    }.mkString("\n              ")
    s"""WITH srce AS (SELECT event_id, ts, user_id, event_type, value, props
           FROM events),
       payload AS (
         SELECT event_id, ts, user_id,
                CASE WHEN event_id % 7 = 0 THEN 'N/A' ELSE event_type END AS status_raw,
                value, props, 0 AS prio, FALSE AS deleted
         FROM srce),
       corr AS (
         SELECT event_id, ts, user_id,
                CASE WHEN event_id % 7 = 0 THEN 'N/A' ELSE event_type END AS status_raw,
                value + 1000.0 AS value, props, 1 AS prio,
                (event_type = 'error') AS deleted
         FROM srce WHERE event_id % 5 = 0
         UNION ALL
         SELECT event_id + 1099511627776, ts + INTERVAL 1 HOUR, user_id,
                event_type, value + 5.0, props, 1, FALSE
         FROM srce WHERE event_id % 97 = 0),
       rawt AS (SELECT * FROM payload UNION ALL SELECT * FROM corr),
       clean AS (
         SELECT event_id, ts, user_id,
                coalesce(CASE WHEN upper(trim(status_raw))
                    IN ('N/A','NA','NULL','NONE','-') THEN NULL
                    ELSE status_raw END, '(null)') AS status,
                CAST(round(value * 100) AS BIGINT) AS value_cents,
                CAST(json_extract(props, '$$.k') AS BIGINT) AS k,
                prio, deleted
         FROM rawt),
       uni AS (SELECT * FROM clean WHERE NOT (prio = 1 AND deleted)),
       merged AS (SELECT *, row_number() OVER (PARTITION BY event_id
                    ORDER BY prio DESC) AS rn FROM uni),
       final AS (SELECT event_id, ts, user_id, status, value_cents, k
         FROM merged WHERE rn = 1 AND event_id NOT IN
           (SELECT event_id FROM clean WHERE prio = 1 AND deleted)),
       meta AS (SELECT user_id, status AS latest_status,
                       value_cents AS latest_cents
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn FROM final) t
         WHERE rn = 1),
       aud AS (SELECT coalesce(prev_type, '(start)') AS prev_type,
                      event_type, is_valid, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT prev_type, event_type,
                 CASE WHEN prev_type IS NULL THEN TRUE
                   $branches
                   ELSE TRUE END AS is_valid
               FROM (SELECT status AS event_type, lag(status) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
                     FROM final) g) v
         GROUP BY 1, 2, 3)
       SELECT 'landing' AS stage, 'fetch_000.parquet' AS k1, 'done' AS k2,
         (SELECT count(*) FROM srce WHERE event_id % 3 = 0) AS n, 1e0 AS v
       UNION ALL SELECT 'landing', 'fetch_001.parquet', 'done',
         (SELECT count(*) FROM srce WHERE event_id % 3 = 1), 1e0
       UNION ALL SELECT 'landing', 'fetch_002.parquet', 'done',
         (SELECT count(*) FROM srce WHERE event_id % 3 = 2), 1e0
       UNION ALL SELECT 'landing', 'fetch_003.parquet', 'done',
         (SELECT count(*) FROM corr), 1e0
       UNION ALL SELECT 'landing', 'poison_004.parquet', 'dead', -1, 2e0
       UNION ALL SELECT 'merge', status, CAST(k % 10 AS VARCHAR),
         CAST(count(*) AS BIGINT), sum(value_cents) / 1e2
         FROM final GROUP BY status, k % 10
       UNION ALL SELECT 'serving', status, '', CAST(count(*) AS BIGINT),
         sum(value_cents) / 1e2 FROM final GROUP BY status
       UNION ALL SELECT 'meta', latest_status, '', CAST(count(*) AS BIGINT),
         sum(latest_cents) / 1e2 FROM meta GROUP BY latest_status
       UNION ALL SELECT 'audit', prev_type, event_type, n,
         CASE WHEN is_valid THEN 1e0 ELSE 0e0 END FROM aud
       ORDER BY stage, k1, k2"""
  }
}
