package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / ETL operator library — the reference's query surface
  * (raulstechtips/stock-data-etl-pipeline) re-expressed as pure
  * DataFrame transforms.
  *
  * Every operator is `(DataFrame...) => DataFrame` so Catalyst sees a
  * single logical plan end-to-end: filters land in the parquet scan as
  * PushedFilters, projections prune the ReadSchema, aggregates get
  * map-side partial aggregation, and small dimension sides are
  * broadcast explicitly. No RDDs, no driver-side collection.
  */
object Relational {

  /** Multi-aggregate pricing summary (TPC-H Q1 shape).
    *
    * Mirrors the reference's aggregation rollups
    * (services/api/serializers.py:341-360). Doubles are rounded at the
    * end for cross-engine (DuckDB oracle) stability; the group-by runs
    * with map-side combine so at 100 TB the shuffle carries only
    * #groups x #partitions rows.
    */
  def pricingSummary(lineitem: DataFrame, cutoff: String = "1998-09-02"): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= to_timestamp(lit(cutoff)))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Rounding.roundN(sum(col("l_quantity")), 2).as("sum_qty"),
        Rounding.roundN(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        Rounding.roundN(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        Rounding.roundN(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
        Rounding.roundN(avg(col("l_quantity")), 4).as("avg_qty"),
        Rounding.roundN(avg(col("l_extendedprice")), 4).as("avg_price"),
        Rounding.roundN(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Date-range + equality filter with full pushdown (reference
    * created_after/created_before filters, services/api/filters.py:136-137).
    * The plan must show both predicates in PushedFilters.
    */
  def dateRangeFilter(orders: DataFrame, lo: String, hi: String, status: String): DataFrame =
    orders
      .filter(col("o_orderdate") >= to_timestamp(lit(lo)) &&
              col("o_orderdate") <= to_timestamp(lit(hi)) &&
              col("o_orderstatus") === status)
      .select(col("o_orderkey"), col("o_custkey"), Rounding.roundN(col("o_totalprice"), 2).as("o_totalprice"),
              col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  /** Star join fact->dims with explicit broadcast of every dimension
    * (reference stock x sector x exchange joins via select_related,
    * services/api/views/list_views.py). At 100 TB the fact side
    * streams map-side against broadcast hash tables — zero shuffle for
    * the joins; the only wide op is the final aggregate.
    */
  def starJoinRevenue(orders: DataFrame, customer: DataFrame,
                      nation: DataFrame, region: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
           Rounding.roundN(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("r_name"), col("n_name"))

  /** Latest row per key (reference get_latest_for_stock,
    * services/api/models.py:247-262): window row_number with a
    * deterministic tiebreak. Single shuffle on the key; at scale this
    * is the standard top-1-per-group pattern AQE handles well.
    */
  def latestPerKey(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("custkey"),
              col("o_orderkey").as("latest_orderkey"),
              col("o_orderdate").as("latest_orderdate"),
              Rounding.roundN(col("o_totalprice"), 2).as("latest_totalprice"))
      .orderBy(col("custkey"))
  }

  /** Count-by-state rollup (reference state_counts annotate,
    * services/api/serializers.py:347-359). */
  def stateCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Exclude terminal states (reference get_active_runs,
    * services/api/models.py:281-289). NOT IN over a small literal set
    * is codegen'd and pushed to the scan.
    */
  def activeRuns(events: DataFrame, terminal: Seq[String]): DataFrame =
    events
      .filter(!col("event_type").isin(terminal: _*))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
              Rounding.roundN(col("value"), 4).as("value"))
      .orderBy(col("event_id"))

  /** Case-insensitive exact + contains filters (reference iexact /
    * icontains, services/api/filters.py). upper()/instr are
    * whole-stage-codegen'd; the scan still prunes columns.
    */
  def ciSearch(part: DataFrame, brandIexact: String, nameIcontains: String): DataFrame =
    part
      .filter(upper(col("p_brand")) === brandIexact.toUpperCase &&
              lower(col("p_name")).contains(nameIcontains.toLowerCase))
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"))
      .orderBy(col("p_partkey"))

  /** MERGE/upsert on a composite key, latest-wins (the reference's
    * Delta merge on (ticker, record_type, period_end_date),
    * services/workers/tasks/queue_for_delta.py:741-757).
    *
    * Spark-first shape: tag source/target with a priority, union, and
    * take row_number()=1 per key ordered by priority — exactly one
    * shuffle on the merge key, the same shape Delta's own merge
    * produces, and it scales linearly because the union never
    * materializes more than the combined inputs. The table-write path
    * ([[graft.sources.VersionedTable]]'s merges) drops that shuffle
    * for a union under AQE's advisory partition size: it coalesces the
    * union to one partition ([[mergeUpsertOver]]), which already
    * satisfies the window's clustering.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String],
                  tieBreak: Seq[String] = Nil): DataFrame =
    mergeUpsertOver(target, source, keys, tieBreak)(identity)

  /** [[mergeUpsert]] with `input` applied to the tagged union below
    * the window. */
  private[graft] def mergeUpsertOver(target: DataFrame, source: DataFrame, keys: Seq[String],
                                     tieBreak: Seq[String])
                                    (input: DataFrame => DataFrame): DataFrame = {
    val t = target.withColumn("_prio", lit(0))
    val s = source.withColumn("_prio", lit(1))
    // tieBreak columns make the winner deterministic when the inputs
    // themselves carry duplicate keys (the synthetic corpus does).
    val ord = col("_prio").desc +: tieBreak.map(col(_).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    input(t.unionByName(s))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_prio", "_rn")
  }

  /** COLUMN-LEVEL merge update — delta-rs `whenMatchedUpdate` /
    * Delta `UPDATE SET source.*` semantics (reference:
    * services/workers/tasks/queue_for_delta.py:741-799): matched keys
    * take the source's values for the columns the BATCH CARRIES
    * (including explicit nulls — UPDATE SET, not coalesce) and keep
    * the target's values for every other column; unmatched source
    * keys insert with typed nulls in the uncarried columns; unmatched
    * target rows ride through untouched. Contrast [[mergeUpsert]],
    * which is whole-row replace.
    *
    * Shape: the batch dedupes to one winner per key (same
    * deterministic-tiebreak discipline as [[mergeUpsert]]), then ONE
    * full-outer shuffle join on the merge key — the batch-side window
    * and the join share the key partitioning. Source columns absent
    * from the target append as new columns (the caller gates that on
    * its schema-evolution policy).
    */
  def mergeUpdateColumns(target: DataFrame, source: DataFrame,
                         keys: Seq[String],
                         tieBreak: Seq[String] = Nil): DataFrame = {
    val updateCols = source.columns.filterNot(keys.contains).toSeq
    val ord = (if (tieBreak.nonEmpty) tieBreak else updateCols.sorted)
      .map(col(_).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val s1 = source
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(keys.map(col) ++
        updateCols.map(c => col(c).as(s"_src_$c")) :+
        lit(1).as("_matched"): _*)
    val joined = target.join(s1, keys, "full_outer")
    val carried = target.columns.toSeq.map { c =>
      if (!keys.contains(c) && updateCols.contains(c))
        when(col("_matched") === 1, col(s"_src_$c")).otherwise(col(c)).as(c)
      else col(c)
    }
    val appended = updateCols.filterNot(target.columns.contains)
      .map(c => col(s"_src_$c").as(c))
    joined.select(carried ++ appended: _*)
  }

  /** The bound merge demo used by the verify gate: updates = R-flagged
    * lines with bumped quantity; result summarized per returnflag.
    * (A min_by-over-ordering-struct merge was measured as an
    * alternative and plans as SortAggregate — struct-valued aggregates
    * don't hash-aggregate — landing at the same cost as this window
    * form, which already gets a map-side WindowGroupLimit.)
    */
  def mergeUpsertSummary(lineitem: DataFrame): DataFrame = {
    val cols = Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val target = lineitem.select(cols.map(col): _*)
    val source = lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
              (col("l_quantity") + 100.0).as("l_quantity"))
    mergeUpsert(target, source, Seq("l_orderkey", "l_linenumber"),
                tieBreak = Seq("l_returnflag", "l_quantity"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), Rounding.roundN(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Trailing-4-quarter (TTM) rolling metrics per supplier (reference
    * TTM rollups, services/workers/tasks/queue_for_delta.py:550-597).
    * Aggregate to (key, quarter) first — so the window runs over the
    * small pre-aggregated frame, not the raw fact table.
    */
  def ttmRolling(lineitem: DataFrame): DataFrame = {
    val q = lineitem
      .groupBy(col("l_suppkey"), date_trunc("quarter", col("l_shipdate")).as("qtr"))
      .agg(sum(col("l_quantity")).as("qty_raw"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("qtr"))
      .rowsBetween(-3, Window.currentRow)
    q.withColumn("ttm_raw", sum(col("qty_raw")).over(w))
      .select(col("l_suppkey"), col("qtr"),
              Rounding.roundN(col("qty_raw"), 2).as("qty"),
              Rounding.roundN(col("ttm_raw"), 2).as("ttm_qty"))
      .orderBy(col("l_suppkey"), col("qtr"))
  }

  /** Null-string normalization + numeric coercion (reference
    * NULL_STRINGS + Float64 cast, queue_for_delta.py:459-641): the
    * sentinel set {"N/A","NA","NULL","NONE","-"} becomes real nulls in
    * one projection, ints widen to double.
    */
  val NullStrings: Seq[String] = Seq("N/A", "NA", "NULL", "NONE", "-")

  def normalizeNullStrings(c: Column): Column =
    when(upper(trim(c)).isin(NullStrings: _*), lit(null)).otherwise(c)

  def nullNormalizeSummary(documents: DataFrame): DataFrame =
    documents
      .withColumn("src_norm", coalesce(normalizeNullStrings(col("source")), lit("(null)")))
      .withColumn("n_chars_d", col("n_chars").cast("double"))
      .groupBy(col("src_norm"))
      .agg(count(lit(1)).as("n"), Rounding.roundN(avg(col("n_chars_d")), 4).as("avg_chars"))
      .orderBy(col("src_norm"))

  /** order_by + limit/offset pagination (reference DRF paginator +
    * ordering). Catalyst plans orderBy+limit as TakeOrderedAndProject —
    * no full sort materialization.
    */
  def topNPage(orders: DataFrame, offset: Int, pageSize: Int): DataFrame =
    orders
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_custkey"),
              Rounding.roundN(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderdate"))
      .offset(offset)
      .limit(pageSize)

  /** Cursor (keyset) pagination (reference StandardCursorPagination,
    * services/api/views/paginator.py:24-29: cursor over -created_at).
    * Unlike offset pagination, the cursor predicate pushes into the
    * scan — page N costs the same as page 1 at 100 TB, which is why
    * the reference uses cursors for its list endpoints.
    */
  def cursorPage(orders: DataFrame, cursorDate: String, cursorId: Long,
                 pageSize: Int): DataFrame =
    orders
      .filter(col("o_orderdate") < to_timestamp(lit(cursorDate)) ||
              (col("o_orderdate") === to_timestamp(lit(cursorDate)) &&
               col("o_orderkey") < cursorId))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
              Rounding.roundN(col("o_totalprice"), 2).as("o_totalprice"))
      .limit(pageSize)

  /** Conditional-count statistics (reference BulkQueueRun
    * queued/skipped/error counts, services/api/models.py:190-241):
    * sum(when) conditional aggregation, one pass, map-side combined.
    */
  def bulkStats(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_done"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_partial"))
      .withColumn("pct_open", Rounding.roundN(col("n_open").cast("double") / col("total"), 4))
      .orderBy(col("o_orderpriority"))

  /** Skip-already-active anti-join (reference queue_all skip logic,
    * services/workers/tasks/queue_all_stocks_for_fetch.py): customers
    * with no open order. The open-order side is reduced to DISTINCT
    * keys before the join — bounded by |customers with an open order|,
    * not by open-order row count — and the join is HINT-FREE: open
    * orders are a data-dependent fraction of the fact table, so a
    * forced broadcast would OOM at 100 TB instead of falling back;
    * AQE broadcasts the distinct-key set exactly when it actually
    * fits (PlanShapeSpec pins both halves).
    */
  def queueSkipAntiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(col("o_orderstatus") === "O").select(col("o_custkey")).distinct(),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** As-of lookup: latest order at-or-before each event's timestamp for
    * the event's user (reference get_latest_done_run "latest DONE run
    * before now", services/api/models.py:291-298).
    *
    * Composition: equi-join on the key (so it shuffles/broadcasts on
    * user, never a nested-loop), inequality as a post-join filter,
    * max() per event. Skewed users would be salted at 100 TB; AQE skew
    * join covers moderate skew.
    */
  def asOfLatest(events: DataFrame, orders: DataFrame): DataFrame =
    events
      .join(orders, col("user_id") === col("o_custkey") &&
                    col("o_orderdate") <= col("ts"))
      .groupBy(col("event_id"), col("user_id"), col("ts"))
      .agg(max(col("o_orderdate")).as("asof_orderdate"))
      .orderBy(col("event_id"))

  /** Generic AS-OF join — for every left row, the single right row
    * with the greatest `rightTs <= leftTs` (backward; `forward` flips
    * to least `rightTs >= leftTs`) per key, with an optional match
    * tolerance (pandas merge_asof semantics; the reference's
    * "latest record at-or-before" lookups — q14's asOfLatest is this
    * with a max() reduction — generalized to carry the full payload).
    *
    * Scale shape — the part that matters: NOT the naive
    * equi-join + inequality filter (which materializes every earlier
    * right row per left row: O(left x right-per-key) intermediate,
    * unbounded for hot keys). Instead left and right are UNIONED,
    * tagged, and sorted once per key: a running `last(payload,
    * ignoreNulls)` over (ts, tag, tie) gives each left row its
    * predecessor right row in ONE shuffle of left+right on the key —
    * linear in input, zero row amplification, no broadcast, at any
    * scale. (The same merge-sorted sweep QuestDB/kdb execute
    * natively; window state is one payload struct per partition
    * sweep.) Ties at equal ts resolve right-before-left (inclusive
    * at-or-before) then by `tieBreak` ascending, so the winner is the
    * max (ts, tieBreak) — deterministic cross-engine.
    *
    * Tolerance: a match further than `toleranceSec` from the left ts
    * is nulled out — correct for as-of, because any OTHER candidate
    * is strictly further away than the one the sweep picked.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               tieBreak: String, toleranceSec: Option[Long] = None,
               forward: Boolean = false): DataFrame = {
    val fields = (rightTs +: tieBreak +: payload).distinct
    val lStruct = struct(left.columns.map(col).toIndexedSeq: _*)
    val rStruct = struct(fields.map(col).toIndexedSeq: _*)
    val lType = left.select(lStruct.as("s")).schema("s").dataType
    val rType = right.select(rStruct.as("s")).schema("s").dataType
    val keyCols = keys.map(col)
    val lu = left.select(keyCols ++ Seq(
      col(leftTs).cast("timestamp").as("_ats"), lit(1).as("_tag"),
      lit(null).cast(right.schema(tieBreak).dataType).as("_tie"),
      lStruct.as("_lrow"), lit(null).cast(rType).as("_rrow")): _*)
    val ru = right.select(keyCols ++ Seq(
      col(rightTs).cast("timestamp").as("_ats"), lit(0).as("_tag"),
      col(tieBreak).as("_tie"),
      lit(null).cast(lType).as("_lrow"), rStruct.as("_rrow")): _*)
    val ord = if (forward) -unix_micros(col("_ats")) else unix_micros(col("_ats"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord.asc, col("_tag").asc, col("_tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sweep = lu.unionByName(ru)
      .withColumn("_m", last(col("_rrow"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
    val inTol = toleranceSec match {
      case None => col("_m").isNotNull
      case Some(tol) =>
        val gapUs = if (forward)
          unix_micros(col("_m").getField(rightTs).cast("timestamp")) - unix_micros(col("_ats"))
        else unix_micros(col("_ats")) -
          unix_micros(col("_m").getField(rightTs).cast("timestamp"))
        col("_m").isNotNull && gapUs <= tol * 1000000L
    }
    val matched = sweep.withColumn("_mt", when(inTol, col("_m")))
    matched.select(
      left.columns.map(c => col("_lrow").getField(c).as(c)) ++
        payload.map(p => col("_mt").getField(p).as(s"asof_$p")): _*)
  }

  /** q44: [[asofJoin]] bound to the attribution lookup — every event
    * enriched with the same user's latest PURCHASE event at-or-before
    * its timestamp, within a 24-hour tolerance, carrying the full
    * purchase payload (q14 generalized from "the max date" to "the
    * row": the difference between an audit timestamp and an
    * enrichment). Left-outer semantics: events with no in-tolerance
    * purchase keep null payload columns (~2/3 of the corpus at test
    * SF — both populations live). Inclusive at-or-before means a
    * purchase event attributes to ITSELF — the fixpoint the spec
    * pins.
    */
  def asofEnrich(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_id"), col("user_id"), col("ts"),
                           col("event_type"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    asofJoin(ev, purchases, keys = Seq("user_id"), leftTs = "ts",
        rightTs = "ts", payload = Seq("event_id", "ts", "value"),
        tieBreak = "event_id", toleranceSec = Some(86400L))
      .orderBy(col("event_id"))
  }

  val asofEnrichOracle: String =
    """WITH p AS (SELECT user_id, ts, event_id, value FROM events
           WHERE event_type = 'purchase'),
       j AS (SELECT e.event_id, p.event_id AS p_eid, p.ts AS p_ts,
           p.value AS p_val,
           row_number() OVER (PARTITION BY e.event_id
             ORDER BY p.ts DESC, p.event_id DESC) AS rn
         FROM events e JOIN p ON e.user_id = p.user_id
           AND p.ts <= e.ts AND p.ts >= e.ts - INTERVAL 24 HOUR),
       m AS (SELECT * FROM j WHERE rn = 1)
       SELECT e.event_id, e.user_id, e.ts, e.event_type,
         m.p_eid AS asof_event_id, m.p_ts AS asof_ts,
         m.p_val AS asof_value
       FROM events e LEFT JOIN m USING (event_id)
       ORDER BY e.event_id"""

  /** Daily state pivot (reference dashboard cards): conditional counts
    * per day x state. Explicit value list keeps the plan static (no
    * driver-side distinct pass) — required for both scale and oracle
    * column-name parity.
    */
  def dailyPivot(events: DataFrame, states: Seq[String]): DataFrame = {
    val aggs = states.map(st =>
      count(when(col("event_type") === st, 1)).as(st))
    // day as midnight-UTC timestamp, not DATE: both engines agree on
    // timestamp parquet/pandas round-trips, DATE round-trips shakily.
    events
      .groupBy(to_date(col("ts")).cast("timestamp").as("day"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("day"))
  }

  /** Key normalization dedup (reference Exchange/Stock save()
    * upper+trim normalization, services/api/models.py:61-70,172-181).
    */
  def keyNormalizeDedup(customer: DataFrame): DataFrame =
    customer
      .groupBy(upper(trim(col("c_mktsegment"))).as("segment"))
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("first_id"))
      .orderBy(col("segment"))

  /** Dim enrichment from the latest fact row per key (reference
    * update_stock_metadata: the Stock row is refreshed from the
    * lakehouse's latest metadata record,
    * services/workers/tasks/update_stock_metadata.py:292-345).
    * The latest-per-key frame is one row per customer-with-orders —
    * bounded by the USER population, the same class q40's stage frames
    * are — so the join is HINT-FREE: at 10^8-10^9 users a forced
    * broadcast cannot fall back, while an unhinted join degrades to
    * shuffle-on-key and AQE upgrades to broadcast when the frame
    * actually fits (PlanShapeSpec pins both halves).
    */
  def metadataUpsert(customer: DataFrame, orders: DataFrame): DataFrame = {
    val latest = latestPerKey(orders) // custkey, latest_orderkey, latest_orderdate, latest_totalprice
    customer
      .join(latest, col("c_custkey") === col("custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
              col("latest_orderdate"), col("latest_totalprice"),
              col("latest_orderkey").isNotNull.as("has_orders"))
      .orderBy(col("c_custkey"))
  }

  /** TTM record synthesis: one trailing-twelve-month row per key,
    * stamped with the latest quarterly period date (the reference
    * replaces the "TTM" placeholder date with the newest quarterly
    * period_end_date, queue_for_delta.py:550-597).
    */
  def ttmRecord(lineitem: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("qtr").desc)
    ttmRolling(lineitem)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_suppkey"), lit("ttm").as("record_type"),
              col("qtr").as("period_end_date"), col("ttm_qty"))
      .orderBy(col("l_suppkey"))
  }

  /** Unified-table union: financials + ttm + metadata records in one
    * frame keyed by (key, record_type, period_end_date) — the
    * reference's single Delta stocks table layout
    * (queue_for_delta.py:680-714). Schema-aligned unionByName with
    * explicit nulls where a record type lacks a column.
    */
  def unifiedRecords(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val fin = lineitem
      .groupBy(col("l_suppkey").as("suppkey"),
               date_trunc("quarter", col("l_shipdate")).as("period_end_date"))
      .agg(Rounding.roundN(sum(col("l_quantity")), 2).as("qty"))
      .withColumn("record_type", lit("financials"))
      .withColumn("name", lit(null).cast("string"))
    val ttm = ttmRecord(lineitem)
      .select(col("l_suppkey").as("suppkey"), col("record_type"),
              col("period_end_date"), col("ttm_qty").as("qty"))
      .withColumn("name", lit(null).cast("string"))
    val meta = supplier
      .select(col("s_suppkey").as("suppkey"), lit("metadata").as("record_type"),
              lit(null).cast("timestamp").as("period_end_date"),
              lit(null).cast("double").as("qty"), col("s_name").as("name"))
    fin.unionByName(ttm).unionByName(meta)
      .select(col("suppkey"), col("record_type"), col("period_end_date"),
              col("qty"), col("name"))
      .orderBy(col("suppkey"), col("record_type"), col("period_end_date").asc_nulls_first)
  }

  /** Skew-safe equi-join: the big side gets a random-free deterministic
    * salt (key-hash modulo), the small side is exploded across all
    * salts — the standard remedy when one hot key would swamp a single
    * reducer at 100 TB. AQE's skew handling covers moderate cases;
    * this is the explicit big-hammer variant. Result is identical to
    * the unsalted join (asserted in GraftSpec).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
                 smallKey: String, salts: Int = 8): DataFrame = {
    // the salt must vary PER ROW of the big side — deriving it from the
    // join key would map a hot key to a single salt and change nothing
    val salted = big.withColumn("_salt", pmod(monotonically_increasing_id(), lit(salts.toLong)))
    val exploded = small
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
    salted.join(exploded,
      salted(bigKey) === exploded(smallKey) && salted("_salt") === exploded("_salt"))
      .drop("_salt")
  }

  /** State-transition audit over the per-user event sequence
    * (reference VALID_TRANSITIONS state machine,
    * services/api/services/stock_ingestion_service.py:61-70: each state
    * has an allowed successor set; anything else is invalid). Windows
    * give the predecessor per key; the allowed-set test is a literal
    * CASE — one shuffle on the key, audit runs at scan speed.
    * The event stream's types play the states: a "session flow" graph
    * signup -> view -> click -> purchase, error reachable from any.
    */
  val allowedTransitions: Map[String, Seq[String]] = Map(
    "signup" -> Seq("view", "error"),
    "view" -> Seq("view", "click", "error"),
    "click" -> Seq("view", "click", "purchase", "error"),
    "purchase" -> Seq("view", "error"),
    "error" -> Seq("signup", "view"))

  def transitionAudit(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val allowed = allowedTransitions.foldLeft(when(lit(false), lit(false))) {
      case (acc, (from, tos)) =>
        acc.when(col("prev_type") === from, col("event_type").isin(tos: _*))
    }.otherwise(lit(true)) // first event of a key has no predecessor
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("is_valid", when(col("prev_type").isNull, lit(true)).otherwise(allowed))
      .groupBy(col("prev_type"), col("event_type"), col("is_valid"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prev_type", coalesce(col("prev_type"), lit("(start)")))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Per-group z-score outliers (monitoring analytics over the event
    * stream — the reference surfaces failure/error statistics per
    * state, serializers.py:341-360; this is the metric-anomaly form).
    * Moments come from sum/sum-of-squares conditional aggregates (one
    * map-side-combined pass), broadcast back onto the stream; z-scores
    * are rounded so cross-engine accumulation-order noise (~1e-12)
    * can't flip a hash compare.
    */
  def valueOutliers(events: DataFrame, minAbsZ: Double = 2.5): DataFrame = {
    val stats = events.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"),
           sum(col("value")).as("s1"),
           sum(col("value") * col("value")).as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("sd", sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)))
      // degenerate groups (n=1 or all-equal values): Spark's double
      // division yields Inf/NaN where DuckDB yields NULL — exclude
      // them identically on both sides instead
      .filter(col("n") > 1 && col("sd") > 0.0)
    events
      .join(broadcast(stats), col("event_type") === col("et"))
      .withColumn("z", Rounding.roundN((col("value") - col("mean")) / col("sd"), 3))
      .filter(abs(col("z")) >= minAbsZ)
      .select(col("event_id"), col("event_type"), Rounding.roundN(col("value"), 4).as("value"),
              col("z"))
      .orderBy(col("event_id"))
  }

  /** Exact distinct-count rollup (dashboard "active stocks/users per
    * day"). Exact distinct is the scale-sensitive aggregate: Catalyst
    * plans it as a two-phase partial-distinct aggregation (Expand +
    * partial + final) so the shuffle carries distinct (day, user)
    * pairs, not events. At extreme cardinality swap in
    * approx_count_distinct (HLL) — kept exact here for the oracle.
    */
  def dailyDistinct(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("distinct_users"),
           countDistinct(col("event_type")).as("distinct_types"))
      .orderBy(col("day"))

  /** Raw JSON -> typed rows (reference _transform_data_to_polars,
    * queue_for_delta.py:431-528): schema-on-read with from_json, then
    * relational ops over the extracted fields. The JSON parse is
    * codegen'd; no UDFs.
    */
  def jsonFlatten(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("kmod", col("k") % 10)
      .groupBy(col("kmod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("kmod"))

  /** Non-uniform price bands for the range join below — deliberately
    * NOT equal-width, so no floor()-trick equi-join can express it. */
  val priceBands: Seq[(String, Double, Double)] = Seq(
    ("p0_budget", 0.0, 20000.0), ("p1_value", 20000.0, 45000.0),
    ("p2_mid", 45000.0, 70000.0), ("p3_premium", 70000.0, 90000.0),
    ("p4_luxury", 90000.0, 1e9))

  /** q25: range (band) join — classify every lineitem into a price
    * band by interval containment, then roll up per band.
    *
    * Scale shape: a range join between a huge fact and a TINY interval
    * dim is a broadcast nested-loop join — each fact row scans 5
    * broadcast intervals, a constant, so the plan is a single narrow
    * pass with no shuffle before the aggregate. (For range joins
    * between two LARGE tables the right shape is interval bucketing +
    * equi-join on bucket, which q14's as-of join demonstrates; never
    * let a large-large range join plan as a cartesian.)
    */
  def priceBandJoin(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val bands = priceBands.toDF("band", "lo", "hi")
    lineitem
      .join(broadcast(bands),
            col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
           Rounding.roundN(sum(col("l_extendedprice")), 2).as("total_price"),
           Rounding.roundN(avg(col("l_discount")), 4).as("avg_disc"))
      .orderBy(col("band"))
  }

  def priceBandJoinOracle: String = {
    val values = priceBands
      .map { case (b, lo, hi) => s"('$b', $lo, $hi)" }.mkString(", ")
    s"""SELECT band, count(*) AS n,
       round(sum(l_extendedprice), 2) AS total_price,
       round(avg(l_discount), 4) AS avg_disc
       FROM lineitem
       JOIN (VALUES $values) b(band, lo, hi)
         ON l_extendedprice >= lo AND l_extendedprice < hi
       GROUP BY band ORDER BY band"""
  }

  /** q26: event-time RANGE-frame rolling aggregate — for each event,
    * the count/sum of the same user's events in the preceding hour.
    * A RANGE frame (all peers within the time interval) is not
    * expressible as a ROWS frame when event spacing is irregular;
    * this is the standard "activity in the last N minutes" feature
    * shape. One shuffle on user_id, then a sorted single pass with a
    * sliding frame — linear at any scale, no self-join.
    */
  def rollingHourly(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-hourUs, Window.currentRow)
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(col("value")).over(w))
      .select(col("event_id"), col("user_id"), col("ts"),
              col("n_1h"), Rounding.roundN(col("sum_1h"), 2).as("sum_1h"))
      .orderBy(col("event_id"))
  }

  val rollingHourlyOracle: String =
    """SELECT event_id, user_id, ts,
       count(*) OVER w AS n_1h,
       round(sum("value") OVER w, 2) AS sum_1h
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
       ORDER BY event_id"""

  /** q28: incremental aggregate maintenance — the 100 TB aggregation
    * pattern: history is aggregated ONCE and kept as a compact
    * per-key state table; each new batch aggregates alone and merges
    * into it by summing mergeable state (count/sum here; any
    * commutative monoid works). Demonstrated by splitting the fact
    * table at a cutoff date and proving history-agg + delta-agg ==
    * the full recompute (the oracle aggregates the whole table). The
    * merge input is two tiny keyed frames — the raw history is never
    * rescanned.
    */
  def incrementalAgg(lineitem: DataFrame, cutoff: String = "1997-01-01"): DataFrame = {
    def aggOf(df: DataFrame) =
      df.groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
    val history = aggOf(lineitem.filter(col("l_shipdate") < lit(cutoff)))
    val delta = aggOf(lineitem.filter(col("l_shipdate") >= lit(cutoff)))
    history.unionByName(delta)
      .groupBy(col("flag"))
      .agg(sum(col("n")).as("n"), Rounding.roundN(sum(col("qty")), 2).as("qty"))
      .orderBy(col("flag"))
  }

  val incrementalAggOracle: String =
    """SELECT l_returnflag AS flag, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
       FROM lineitem GROUP BY 1 ORDER BY flag"""

  /** q29: SCD type-2 history — turn the event log into validity
    * ranges: each (user, state) row is valid from its own timestamp
    * until the user's next event (open-ended for the current state).
    * One shuffle on the key, then `lead` over the sorted partition —
    * the standard dimension-history build, linear at any scale.
    * Deterministic tie-break on event_id (the corpus carries
    * same-microsecond events).
    */
  def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("event_type"), col("event_id"),
              col("ts").as("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  val scd2HistoryOracle: String =
    """SELECT user_id, event_type, event_id, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
       FROM events
       ORDER BY user_id, valid_from, event_id"""

  /** q30: ratio-to-report — each state's share of its day's total,
    * the dashboard "percent of traffic" column. The denominator is a
    * window sum over the ALREADY-AGGREGATED frame (days x types), so
    * no second scan and no join: one partial agg over the facts, then
    * a window over a tiny frame partitioned by day.
    */
  def shareOfTotal(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("day"))
    events
      .groupBy(to_date(col("ts")).cast("timestamp").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("day_total", sum(col("n")).over(w))
      .select(col("day"), col("event_type"), col("n"),
              Rounding.roundN(col("n") / col("day_total"), 4).as("share"))
      .orderBy(col("day"), col("event_type"))
  }

  val shareOfTotalOracle: String =
    """WITH c AS (SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
         event_type, count(*) AS n FROM events GROUP BY 1, 2)
       SELECT day, event_type, n,
         round(n / CAST(sum(n) OVER (PARTITION BY day) AS DOUBLE), 4) AS share
       FROM c ORDER BY day, event_type"""

  /** q27: ROLLUP hierarchy totals — per (event_type, day), per
    * event_type, and grand total in ONE pass (the dashboard "cards +
    * drill-down" query). Spark plans rollup as a single Expand +
    * two-phase aggregate: each input row fans out to its grouping
    * sets map-side and partial-aggregates before the shuffle, so the
    * exchange carries #groups x #sets rows — one scan regardless of
    * how many subtotal levels, vs one scan per level if computed
    * naively.
    */
  def rollupCounts(events: DataFrame): DataFrame =
    events
      .rollup(col("event_type"), to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n"), Rounding.roundN(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  val rollupCountsOracle: String =
    """SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
       count(*) AS n, round(sum("value"), 2) AS sum_value
       FROM events
       GROUP BY ROLLUP(event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP))
       ORDER BY event_type NULLS FIRST, day NULLS FIRST"""

  // ---- q31: interval concurrency (runs in flight per day) -------------

  /** q31: how many ingestion runs are IN FLIGHT each day — the
    * interval-overlap / max-concurrency question every run dashboard
    * asks (reference: active-run monitoring, models.py:281). Each run
    * spans [o_orderdate, o_orderdate + duration); durations are a
    * deterministic synthetic (orderkey % 28 + 1 days) standing in for
    * the reference's started_at..finished_at.
    *
    * Scale shape: the classic sweep-line turned distributive — each
    * interval becomes a +1 (start) and a -1 (end) event, events
    * aggregate per day (map-side partials; the shuffle carries one row
    * per distinct day), and the running sum over the DAILY frame gives
    * the open-run count. The unpartitioned cumulative window runs on
    * the post-agg frame, whose size is bounded by the calendar (~10^3
    * rows) no matter how many billions of intervals feed it — this is
    * the only safe place for a global window at 100 TB.
    */
  def intervalConcurrency(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val starts = orders.select(
      to_date(col("o_orderdate")).as("day"),
      lit(1L).as("delta"), lit(1L).as("s"), lit(0L).as("e"))
    val ends = orders.select(
      date_add(to_date(col("o_orderdate")),
        (col("o_orderkey") % 28 + 1).cast("int")).as("day"),
      lit(-1L).as("delta"), lit(0L).as("s"), lit(1L).as("e"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    starts.union(ends)
      .groupBy(col("day"))
      .agg(sum(col("s")).as("n_starts"), sum(col("e")).as("n_ends"),
           sum(col("delta")).as("net"))
      .withColumn("open_runs", sum(col("net")).over(w))
      .select(col("day").cast("timestamp").as("day"),
              col("n_starts"), col("n_ends"), col("open_runs"))
      .orderBy(col("day"))
  }

  val intervalConcurrencyOracle: String =
    """WITH se AS (
         SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta, 1 AS s, 0 AS e
         FROM orders
         UNION ALL
         SELECT CAST(o_orderdate AS DATE) + CAST(o_orderkey % 28 + 1 AS INTEGER),
                -1, 0, 1
         FROM orders),
       d AS (SELECT day, CAST(sum(s) AS BIGINT) AS n_starts,
                    CAST(sum(e) AS BIGINT) AS n_ends, sum(delta) AS net
             FROM se GROUP BY day)
       SELECT CAST(day AS TIMESTAMP) AS day, n_starts, n_ends,
         CAST(sum(net) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_runs
       FROM d ORDER BY day"""

  // ---- q32: grouping sets (non-hierarchical subtotal panel) -----------

  /** q32: GROUPING SETS — the dashboard subtotal panel where the sets
    * are NOT a rollup hierarchy: (flag,status) detail, (flag)
    * subtotals, and the grand total in ONE pass. Catalyst plans a
    * single Expand over the scan (each input row fans out once per
    * set) feeding one partial agg — one scan and one shuffle for all
    * three levels, vs. three scans for three separate GROUP BYs.
    * Null group markers are label-coalesced so the output is
    * engine-neutral.
    */
  def groupingSetsCounts(lineitem: DataFrame): DataFrame =
    lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
           Rounding.roundN(sum(col("l_quantity")), 2).as("qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
              coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
              col("n"), col("qty"))
      .orderBy(col("rf"), col("ls"))

  val groupingSetsCountsOracle: String =
    """SELECT coalesce(l_returnflag, '(all)') AS rf,
       coalesce(l_linestatus, '(all)') AS ls,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       ORDER BY rf, ls"""

  // ---- q33: semi join (dims with matching facts) ----------------------

  /** q33: LEFT SEMI join — "customers with at least one open order",
    * the existence-filter dual of q13's anti join (reference:
    * stocks-with-active-runs filters). Semi join never duplicates the
    * left side and never materializes right-side columns: the
    * build side carries only the join key, and with AQE the orders
    * side's distinct keys broadcast when small. At 100 TB the status
    * filter reaches the parquet scan (PushedFilters) so only open
    * orders' key column is read at all.
    */
  def semiJoinActive(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(col("o_orderstatus") === "O"),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  val semiJoinActiveOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
         WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
       ORDER BY c_custkey"""

  // ---- q34: ranking-function panel ------------------------------------

  /** q34: the full SQL ranking-function surface in one pass — rank,
    * dense_rank, percent_rank, cume_dist over price within priority
    * (tie-STABLE: rows with equal prices get equal values, so the
    * output is deterministic without a physical-order tiebreak), plus
    * ntile quartiles over a fully tie-broken window (ntile depends on
    * row order, so it gets the deterministic key). One shuffle on the
    * partition key, one sort, all five functions evaluated in the
    * same Window operators — the API-listing comparison every
    * reference user runs (ordering + pagination + percentile-of-peer
    * views, list_views.py).
    */
  def rankPanel(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTie = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    val wFull = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(
      col("o_orderkey"), col("o_orderpriority"),
      Rounding.roundN(col("o_totalprice"), 2).as("price"),
      rank().over(wTie).cast("long").as("rnk"),
      dense_rank().over(wTie).cast("long").as("drnk"),
      Rounding.roundN(percent_rank().over(wTie), 6).as("prnk"),
      Rounding.roundN(cume_dist().over(wTie), 6).as("cdist"),
      ntile(4).over(wFull).cast("long").as("quartile"))
      .orderBy(col("o_orderkey"))
  }

  val rankPanelOracle: String =
    """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 2) AS price,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       round(percent_rank() OVER w, 6) AS prnk,
       round(cume_dist() OVER w, 6) AS cdist,
       CAST(ntile(4) OVER (PARTITION BY o_orderpriority
         ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
       FROM orders
       WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)
       ORDER BY o_orderkey"""

  // ---- q35: sketch-based distinct counting (the 100 TB path) ----------

  /** q35: per-day users via HyperLogLog++ `approx_count_distinct`
    * next to the exact count — the sketch IS the 100 TB design
    * (exact distinct shuffles every distinct key; the sketch shuffles
    * a fixed few-KB buffer per group and merges associatively, and is
    * what q23's exact rollup becomes when the key cardinality
    * explodes). A sketch can't hash-match a DuckDB oracle, so this
    * query has NO oracleSql (rows-only driver check, like m01) and
    * its accuracy contract — relative error within the configured rsd
    * against the exact count — is asserted in GraftSpec instead.
    */
  def approxDistinct(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .groupBy(to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("exact_users"),
           approx_count_distinct(col("user_id"), rsd).as("approx_users"))
      .orderBy(col("day"))

  // ---- q51: deep multi-join (the join-reorder stress shape) -----------

  /** q51: regional supply-chain revenue — the TPC-H Q5 SHAPE: six
    * tables (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈
    * region) with the LOCAL-SUPPLY constraint c_nationkey =
    * s_nationkey (the join no star schema has: two independent
    * fact-to-dim paths meeting on a non-key equality), a selective
    * region filter, and a two-year date window. This is the
    * join-DEPTH representative of the battery: the plan quality is
    * Catalyst's to find — every join is hint-free, the dims are
    * broadcast because AQE measures them small (not because we said
    * so), the region/date filters push into the scans, and the
    * co-nation constraint rides the supplier join as a post-condition
    * rather than forcing a nation-keyed shuffle of lineitem.
    *
    * Scale shape: ONE fact-sized shuffle (lineitem ⋈ orders on
    * orderkey); everything after joins against broadcast dims. At
    * 100 TB the orderkey join is the whole cost, which is exactly
    * where bucketing both facts on orderkey (Bucketing.scala) takes
    * the plan shuffle-free. */
  def regionalRevenue(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, supplier: DataFrame,
                      nation: DataFrame, region: DataFrame,
                      regionName: String = "ASIA"): DataFrame =
    lineitem
      .join(orders.filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region.filter(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(Rounding.roundN(
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** DuckDB twin of [[regionalRevenue]] — the declarative form; both
    * engines are free to pick their own join order, the results must
    * agree anyway. */
  def regionalRevenueOracle(regionName: String = "ASIA"): String =
    s"""SELECT n_name,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
         count(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey
         AND c_nationkey = s_nationkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = '$regionName'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1998-01-01'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name"""

  // ---- q49: KMV distinct sketch (the oracle-able sketch) --------------

  /** q49: per-event-type distinct users via a K-MINIMUM-VALUES sketch
    * — the sketch whose state is RELATIONAL content: the k smallest
    * distinct values of a deterministic hash are a top-k query, so
    * unlike q35's HLL register file the whole sketch AND its estimate
    * hash-match a DuckDB oracle exactly (what d11 does for Jaccard,
    * done for cardinality). Estimator: with U(k) = h_k / P the k-th
    * minimum of a uniform hash, D̂ = (k−1)·P div h_k (integer form —
    * engine-identical); below k distinct hashes the sketch is exact
    * by construction. The exact count rides along so the row carries
    * its own measured error (the s06/d11 discipline: accuracy is
    * DATA, not an assertion in a spec).
    *
    * Scale shape: the sketch arm shuffles ≤ k·partitions hash values
    * per group (distinct + rank-limit gets WindowGroupLimit map-side
    * top-k, plan-pinned); a merge of two sketches is just the top-k
    * of the union, which is why KMV scales out associatively. The
    * exact arm is the evaluation column only — at 100 TB the sketch
    * column is the product.
    */
  def kmvDistinct(events: DataFrame, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = 2147483647L
    val h = events
      .select(col("event_type"),
        ((col("user_id") * lit(1103515245L) + lit(12345L)) % P).as("h"))
      .distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = h.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("kth_hash"))
    val exact = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("user_id")).as("exact_distinct"))
    exact.join(sk, "event_type")
      .withColumn("est",
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(expr(s"(${k - 1}L * ${P}L) div kth_hash")))
      .select(col("event_type"), col("n_rows"), col("exact_distinct"),
        col("kth_hash"), col("est"),
        Rounding.roundN(
          (col("est") - col("exact_distinct")).cast("double")
            / col("exact_distinct").cast("double"), 4).as("rel_err"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin of [[kmvDistinct]]: the identical hash, top-k, and
    * integer estimator. */
  def kmvDistinctOracle(k: Int = 64): String = {
    val P = 2147483647L
    s"""WITH h AS (SELECT DISTINCT event_type,
           (user_id * 1103515245 + 12345) % $P AS h FROM events),
       r AS (SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         FROM h),
       sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch,
           CAST(max(h) AS BIGINT) AS kth_hash FROM r WHERE rk <= $k
         GROUP BY 1),
       ex AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
         FROM events GROUP BY 1),
       e AS (SELECT event_type, n_rows, exact_distinct, kth_hash,
           CAST(CASE WHEN n_sketch < $k THEN n_sketch
                ELSE (CAST(${k - 1} AS BIGINT) * $P) // kth_hash
                END AS BIGINT) AS est
         FROM ex JOIN sk USING (event_type))
       SELECT event_type, n_rows, exact_distinct, kth_hash, est,
         round(CAST(est - exact_distinct AS DOUBLE)
               / CAST(exact_distinct AS DOUBLE), 4) AS rel_err
       FROM e ORDER BY event_type"""
  }

  // ---- q52: KMV sketch SET ALGEBRA (union / intersection) -------------

  /** q52: set operations on KMV sketches — the reason a platform
    * keeps sketches at all: estimate the DISTINCT-user union,
    * intersection and Jaccard of every event-type pair from the
    * types' persisted 64-value sketches alone (audience overlap,
    * cross-corpus contamination, segment reach — at 100 TB these
    * questions must be answered WITHOUT re-scanning raw events, and
    * sketch algebra is what answers them). Extends q49's "the sketch
    * IS relational content" argument from one sketch to the algebra:
    * merge = k smallest of the hash-set union (associative), the
    * standard KMV estimators on top:
    *   union_est = (k−1)·P div kth(merged)          (q49's estimator)
    *   ρ = |merged ∩ A ∩ B| / |merged|              (match fraction)
    *   inter_est = (matches · union_est) div |merged|
    * — all INTEGER arithmetic on sketch content, so the whole algebra
    * (not just its inputs) replays under the DuckDB hash gate; the
    * exact union/intersection ride along so every pair carries its
    * own measured error (accuracy as DATA — the s06/d11/q49
    * discipline).
    *
    * Scale shape: the only corpus-scale work is the two distinct
    * passes (hash sketch build = q49's shuffle; (type, user) distinct
    * for the exact arm — which a production job would SKIP, it exists
    * here as the oracle's ground truth). Everything pair-wise runs on
    * types × k sketch rows (tiny, localCheckpointed once), and the
    * pair frame is types² — grid-bounded, never data-bounded.
    */
  def kmvSetOps(events: DataFrame, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = 2147483647L
    // ONE corpus-scale distinct pass: the exact arm's (type, user)
    // distinct is computed first and the hash sketch derives from it
    // (distinct(type, h(user)) over distinct(type, user) is the same
    // set — h is a pure function of user_id), where the round-13
    // shape shuffled the full events scan twice
    val ut = events.select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint()
    val h = ut
      .select(col("event_type"),
        ((col("user_id") * lit(1103515245L) + lit(12345L)) % P).as("h"))
      .distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = h.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("event_type"), col("h"))
      .localCheckpoint() // the persisted sketch store: types × k rows
    val types = sk.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    // merged sketch per pair: k smallest of the two sketches' hash-set
    // union (a hash in both sketches counts once)
    val mh = pairs
      .join(sk, col("event_type") === col("type_a") ||
                col("event_type") === col("type_b"))
      .select(col("type_a"), col("type_b"), col("h")).distinct()
    val wm = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("h"))
    val merged = mh.withColumn("mrank", row_number().over(wm))
      .filter(col("mrank") <= k)
    val ms = merged.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_merged"), max(col("h")).as("kth_m"))
    // matches: merged-sketch hashes present in BOTH source sketches
    val matches = merged
      .join(sk.select(col("event_type").as("type_a"), col("h")),
            Seq("type_a", "h"))
      .join(sk.select(col("event_type").as("type_b"), col("h")),
            Seq("type_b", "h"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("matches"))
    // exact arms (ground truth) reuse the SAME checkpointed distinct
    val nd = ut.groupBy(col("event_type")).agg(count(lit(1)).as("nd"))
    val interExact = ut.select(col("event_type").as("type_a"), col("user_id"))
      .join(ut.select(col("event_type").as("type_b"), col("user_id")),
            Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("exact_inter"))
    pairs
      .join(nd.withColumnRenamed("event_type", "type_a")
              .withColumnRenamed("nd", "nd_a"), Seq("type_a"))
      .join(nd.withColumnRenamed("event_type", "type_b")
              .withColumnRenamed("nd", "nd_b"), Seq("type_b"))
      .join(interExact, Seq("type_a", "type_b"), "left")
      .join(ms, Seq("type_a", "type_b"))
      .join(matches, Seq("type_a", "type_b"), "left")
      .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
      .withColumn("matches", coalesce(col("matches"), lit(0L)))
      .withColumn("union_est",
        when(col("n_merged") < k, col("n_merged"))
          .otherwise(expr(s"(${k - 1}L * ${P}L) div kth_m")))
      .select(col("type_a"), col("type_b"),
        (col("nd_a") + col("nd_b") - col("exact_inter")).as("exact_union"),
        col("exact_inter"), col("n_merged"), col("union_est"),
        col("matches"),
        expr("(matches * union_est) div n_merged").as("inter_est"),
        Rounding.roundN(col("matches").cast("double")
          / col("n_merged").cast("double"), 4).as("jac_est"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** DuckDB twin of [[kmvSetOps]]: the identical hash, sketches,
    * merge, match counting and integer estimators. */
  def kmvSetOpsOracle(k: Int = 64): String = {
    val P = 2147483647L
    s"""WITH h AS (SELECT DISTINCT event_type,
           (user_id * 1103515245 + 12345) % $P AS h FROM events),
       sk AS (SELECT event_type, h FROM (
           SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
           FROM h) z WHERE rk <= $k),
       ty AS (SELECT DISTINCT event_type FROM sk),
       pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
         FROM ty a JOIN ty b ON a.event_type < b.event_type),
       mh AS (SELECT DISTINCT p.type_a, p.type_b, s.h
         FROM pairs p JOIN sk s
           ON s.event_type = p.type_a OR s.event_type = p.type_b),
       merged AS (SELECT type_a, type_b, h FROM (
           SELECT type_a, type_b, h, row_number() OVER (
             PARTITION BY type_a, type_b ORDER BY h) AS mrank FROM mh) z
         WHERE mrank <= $k),
       ms AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_merged,
           CAST(max(h) AS BIGINT) AS kth_m
         FROM merged GROUP BY 1, 2),
       mt AS (SELECT m.type_a, m.type_b, CAST(count(*) AS BIGINT) AS matches
         FROM merged m
         JOIN sk a ON a.event_type = m.type_a AND a.h = m.h
         JOIN sk b ON b.event_type = m.type_b AND b.h = m.h
         GROUP BY 1, 2),
       ut AS (SELECT DISTINCT event_type, user_id FROM events),
       nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd
         FROM ut GROUP BY 1),
       ix AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS exact_inter
         FROM ut a JOIN ut b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
         GROUP BY 1, 2),
       e AS (SELECT p.type_a, p.type_b,
           na.nd + nb.nd - coalesce(ix.exact_inter, 0) AS exact_union,
           coalesce(ix.exact_inter, 0) AS exact_inter,
           ms.n_merged, ms.kth_m,
           coalesce(mt.matches, 0) AS matches,
           CAST(CASE WHEN ms.n_merged < $k THEN ms.n_merged
                ELSE (CAST(${k - 1} AS BIGINT) * $P) // ms.kth_m
                END AS BIGINT) AS union_est
         FROM pairs p
         JOIN nd na ON na.event_type = p.type_a
         JOIN nd nb ON nb.event_type = p.type_b
         LEFT JOIN ix ON ix.type_a = p.type_a AND ix.type_b = p.type_b
         JOIN ms ON ms.type_a = p.type_a AND ms.type_b = p.type_b
         LEFT JOIN mt ON mt.type_a = p.type_a AND mt.type_b = p.type_b)
       SELECT type_a, type_b,
         CAST(exact_union AS BIGINT) AS exact_union,
         CAST(exact_inter AS BIGINT) AS exact_inter,
         n_merged, union_est, matches,
         CAST((matches * union_est) // n_merged AS BIGINT) AS inter_est,
         round(CAST(matches AS DOUBLE) / CAST(n_merged AS DOUBLE), 4) AS jac_est
       FROM e ORDER BY type_a, type_b"""
  }

  // ---- q50: CUSUM changepoint detection -------------------------------

  /** q50: one-sided CUSUM drift detection over per-type daily event
    * counts — the sequential changepoint monitor (Page 1954) a data
    * platform runs on its ingest volumes: per event type, each day's
    * count folds into S_d = max(0, S_{d-1} + x_d − μ − μ/4) and an
    * ALARM fires when S crosses 2μ — a sustained upward shift trips
    * it, a one-day blip decays away. The recursion RELATIONALIZED via
    * the classic prefix-sum closed form S_d = P_d − min(0, min_{j≤d}
    * P_j), so the whole statistic is two running windows (sum + min)
    * over one partitioning — no fold, no UDF, no state. Everything is
    * scaled by 4·D (D = the type's day count) to stay in EXACT BIGINT
    * arithmetic: a_d = 4·D·x_d − 5·T, threshold 8·T (μ = T/D never
    * materializes as a double).
    *
    * Scale shape: day-granular aggregates are calendar-bounded
    * (types × days rows, not event rows) — one shuffle to daily
    * counts, then windows over the per-type partitioning. */
  def cusumChangepoint(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"),
        to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy(col("event_type"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("d_days", count(lit(1)).over(wAll))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("a",
        lit(4L) * col("d_days") * col("n") - lit(5L) * col("total"))
      .withColumn("p", sum(col("a")).over(wRun))
      .withColumn("m", least(lit(0L), min(col("p")).over(wRun)))
      .select(col("event_type"), col("day"), col("n"),
        (col("p") - col("m")).as("cusum"),
        (col("p") - col("m") > lit(8L) * col("total")).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB twin of [[cusumChangepoint]]: the identical scaled
    * prefix-sum/running-min construction. */
  val cusumChangepointOracle: String =
    """WITH daily AS (SELECT event_type,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
       w AS (SELECT event_type, day, n,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS d_days,
           CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
         FROM daily),
       a AS (SELECT *, 4 * d_days * n - 5 * total AS a FROM w),
       p AS (SELECT *, CAST(sum(a) OVER (PARTITION BY event_type
               ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
             FROM a),
       m AS (SELECT *, least(CAST(0 AS BIGINT),
               min(p) OVER (PARTITION BY event_type
                 ORDER BY day ROWS UNBOUNDED PRECEDING)) AS m FROM p)
       SELECT event_type, day, n, p - m AS cusum,
         (p - m) > 8 * total AS alarm
       FROM m ORDER BY event_type, day"""

  // ---- st14 kernel: SEQUENTIAL cusum monitor + alert transitions ------

  /** The SEQUENTIAL form of [[cusumChangepoint]] — the kernel the
    * st14 alert sink runs per micro-batch. q50 is retrospective
    * analysis: its mean is estimated over the WHOLE window, so a
    * day's alarm can flip as later data arrives. An ALERT pipeline
    * cannot re-decide the past (the notification already went out —
    * the reference fires one Discord message per state transition,
    * send_discord_notification.py:55), so the monitor must be
    * PREFIX-STABLE: day d's statistic may depend only on days ≤ d.
    * Textbook Page CUSUM achieves that with a reference window: μ is
    * estimated from each type's first `trainDays` days (the
    * pre-change training period — fixed once observed, since days
    * arrive chronologically), and monitoring starts after it. Scaled
    * by 4·K (K = training days) everything stays exact BIGINT:
    * a_d = 4·K·x_d − 5·T_K, threshold 8·T_K — same discipline as
    * q50. `alert` marks the off→on transitions: exactly the rows the
    * sink materializes, once each.
    *
    * Prefix-stability is what makes the streaming sink ORACLE-EXACT:
    * alerts accumulated over any day-aligned, chronological batch
    * sequence equal the transitions of one full recompute — so the
    * incremental pipeline sits under the same DuckDB gate as batch.
    *
    * Scale shape: identical to q50 — one shuffle to calendar-bounded
    * daily counts, one 1-row-per-type training aggregate joined back
    * (AQE broadcasts it), running windows over the per-type
    * partitioning. */
  def cusumMonitor(events: DataFrame, trainDays: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"),
        to_date(col("ts")).cast("timestamp").as("day"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val ranked = daily.withColumn("rk", row_number().over(wOrd))
    val train = ranked.filter(col("rk") <= trainDays)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("t_train"), count(lit(1)).as("k_train"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked.join(train, "event_type")
      .filter(col("rk") > trainDays)
      .withColumn("a",
        lit(4L) * col("k_train") * col("n") - lit(5L) * col("t_train"))
      .withColumn("p", sum(col("a")).over(wRun))
      .withColumn("m", least(lit(0L), min(col("p")).over(wRun)))
      .withColumn("cusum", col("p") - col("m"))
      .withColumn("alarm", col("cusum") > lit(8L) * col("t_train"))
      .withColumn("alert",
        col("alarm") && !lag(col("alarm"), 1, false).over(wOrd))
      .select(col("event_type"), col("day"), col("n"), col("cusum"),
        col("alarm"), col("alert"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB twin of [[cusumMonitor]]. */
  def cusumMonitorOracle(trainDays: Int = 10): String =
    s"""WITH daily AS (SELECT event_type,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
       r AS (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY day) AS rk FROM daily),
       tr AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t_train,
                CAST(count(*) AS BIGINT) AS k_train
              FROM r WHERE rk <= $trainDays GROUP BY 1),
       mon AS (SELECT r.event_type, r.day, r.n, tr.t_train, tr.k_train,
                 4 * tr.k_train * r.n - 5 * tr.t_train AS a
               FROM r JOIN tr USING (event_type) WHERE r.rk > $trainDays),
       p AS (SELECT *, CAST(sum(a) OVER (PARTITION BY event_type
               ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
             FROM mon),
       m AS (SELECT *, least(CAST(0 AS BIGINT),
               min(p) OVER (PARTITION BY event_type
                 ORDER BY day ROWS UNBOUNDED PRECEDING)) AS m FROM p),
       c AS (SELECT event_type, day, n, p - m AS cusum,
               (p - m) > 8 * t_train AS alarm FROM m),
       f AS (SELECT *, alarm AND NOT coalesce(lag(alarm)
               OVER (PARTITION BY event_type ORDER BY day), false) AS alert
             FROM c)
       SELECT event_type, day, n, cusum, alarm, alert
       FROM f ORDER BY event_type, day"""

  // ---- q36: merge with tombstone deletes ------------------------------

  /** q36: the full three-way MERGE — updates AND deletes against the
    * target in one pass (the reference's delta merge surface includes
    * whenMatchedDelete; q08 covers the update/insert half). Source
    * rows carry a tombstone flag; latest-wins window semantics pick
    * the source row per composite key, then tombstoned keys drop out.
    * Same single-shuffle shape as q08 — delete is just one more
    * column on the same merge, not a second pass, which is the point:
    * at 100 TB you cannot afford a separate anti-join for deletes.
    * Tie-break is total (prio, tombstone, flag, qty): lineitem has
    * duplicate (orderkey, linenumber) keys.
    */
  def mergeDeleteSummary(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = Seq(col("l_orderkey"), col("l_linenumber"))
    val tgt = lineitem.select(key ++ Seq(col("l_returnflag"), col("l_quantity"),
      lit(0).as("_prio"), lit(0).as("_del")): _*)
    val upd = lineitem.filter(col("l_returnflag") === "R")
      .select(key ++ Seq(col("l_returnflag"), (col("l_quantity") + 100.0).as("l_quantity"),
        lit(1).as("_prio"), lit(0).as("_del")): _*)
    val del = lineitem.filter(col("l_returnflag") === "A")
      .select(key ++ Seq(col("l_returnflag"), col("l_quantity"),
        lit(1).as("_prio"), lit(1).as("_del")): _*)
    val w = Window.partitionBy(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("_prio").desc, col("_del").desc,
               col("l_returnflag").asc, col("l_quantity").asc)
    tgt.union(upd).union(del)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("_del") === 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), Rounding.roundN(sum(col("l_quantity")), 2).as("qty"))
      .orderBy(col("l_returnflag"))
  }

  val mergeDeleteSummaryOracle: String =
    """WITH upd AS (
         SELECT l_orderkey, l_linenumber, l_returnflag,
                l_quantity + 100.0 AS l_quantity, 1 AS _prio, 0 AS _del
         FROM lineitem WHERE l_returnflag = 'R'),
       del AS (
         SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, 1, 1
         FROM lineitem WHERE l_returnflag = 'A'),
       uni AS (
         SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                0 AS _prio, 0 AS _del
         FROM lineitem
         UNION ALL SELECT * FROM upd
         UNION ALL SELECT * FROM del),
       merged AS (
         SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
           ORDER BY _prio DESC, _del DESC, l_returnflag ASC, l_quantity ASC) AS rn
         FROM uni)
       SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
       FROM merged WHERE rn = 1 AND _del = 0
       GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---- q37: snapshot diff (CDC / change data feed) --------------------

  /** q37: change-data-capture between two table versions — the diff a
    * lakehouse CHANGE DATA FEED serves (inserted / deleted / updated /
    * unchanged, with the post-image aggregate). The two snapshots are
    * deterministic slices of orders (membership by key hash, prices
    * perturbed on part of the new side) so the census is DuckDB-
    * checkable; the same classify kernel running on REAL committed
    * versions of a transactional table is
    * [[graft.sources.VersionedTable.changeFeed]]. Full-outer join on
    * the key, classify per row, census per change type. One shuffle on
    * the key; at 100 TB both snapshots are bucketed/partitioned the
    * same way, so the join co-locates and the diff is map-side.
    */
  def snapshotDiff(orders: DataFrame): DataFrame = {
    val snapOld = orders.filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("k_old"), col("o_totalprice").as("p_old"))
    val snapNew = orders.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k_new"),
        (col("o_totalprice") + (col("o_orderkey") % 3).cast("double")).as("p_new"))
    snapOld.join(snapNew, col("k_old") === col("k_new"), "full_outer")
      .withColumn("change_type",
        when(col("k_old").isNull, "inserted")
        .when(col("k_new").isNull, "deleted")
        .when(col("p_old") =!= col("p_new"), "updated")
        .otherwise("unchanged"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"),
           Rounding.roundN(sum(coalesce(col("p_new"), lit(0.0))), 2).as("new_total"))
      .orderBy(col("change_type"))
  }

  val snapshotDiffOracle: String =
    """WITH o AS (SELECT o_orderkey AS k_old, o_totalprice AS p_old
           FROM orders WHERE o_orderkey % 10 <> 0),
       n AS (SELECT o_orderkey AS k_new,
               o_totalprice + CAST(o_orderkey % 3 AS DOUBLE) AS p_new
           FROM orders WHERE o_orderkey % 7 <> 0),
       d AS (SELECT k_old, k_new, p_old, p_new,
           CASE WHEN k_old IS NULL THEN 'inserted'
                WHEN k_new IS NULL THEN 'deleted'
                WHEN p_old <> p_new THEN 'updated'
                ELSE 'unchanged' END AS change_type
         FROM o FULL OUTER JOIN n ON k_old = k_new)
       SELECT change_type, count(*) AS n,
         round(sum(coalesce(p_new, 0.0)), 2) AS new_total
       FROM d GROUP BY change_type ORDER BY change_type"""

  // ---- q38: fixed-width value histogram -------------------------------

  /** q38: per-type value histograms — the distribution profile behind
    * every monitoring dashboard and data-quality check. Fixed-width
    * binning is a pure projection (floor of a division), so the
    * histogram is ONE partial->final aggregate whose shuffle carries
    * (type, bin) partial counts — cardinality bounded by the bin
    * grid, independent of row count. The percentile family (t05) sorts
    * per group; this never sorts.
    */
  def valueHistogram(events: DataFrame, binWidth: Double = 10.0): DataFrame =
    events
      .groupBy(col("event_type"),
               floor(col("value") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", Rounding.roundN(col("bin") * binWidth, 2))
      .select(col("event_type"), col("bin"), col("bin_lo"), col("n"))
      .orderBy(col("event_type"), col("bin"))

  val valueHistogramOracle: String =
    """SELECT event_type, CAST(floor("value" / 10.0) AS BIGINT) AS bin,
       round(CAST(floor("value" / 10.0) AS BIGINT) * 10.0, 2) AS bin_lo,
       count(*) AS n
       FROM events GROUP BY 1, 2, 3 ORDER BY event_type, bin"""

  // ---- q39: one-pass data profile -------------------------------------

  /** q39: the table profiler — null count and exact distinct count for
    * every column in ONE scan (the data-quality snapshot every ingest
    * batch publishes). All counts are computed as a single
    * multi-aggregate (Spark plans distinct aggs with a shared Expand),
    * then unpivoted with stack() — contrast with the naive
    * one-query-per-column profiler that scans the table N times.
    */
  def dataProfile(orders: DataFrame): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                   "o_totalprice", "o_orderdate", "o_orderpriority")
    val aggs = cols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"d_$c"),
          sum(col(c).isNull.cast("long")).as(s"n_$c"))
    }
    val stackArgs = cols.map(c => s"'$c', d_$c, n_$c").mkString(", ")
    orders.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.length}, $stackArgs) AS (col_name, n_distinct, n_nulls)"))
      .orderBy(col("col_name"))
  }

  val dataProfileOracle: String =
    """SELECT col_name, n_distinct, n_nulls FROM (
         SELECT 'o_orderkey' AS col_name,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
         FROM orders
         UNION ALL SELECT 'o_custkey', CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_orderstatus', CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_totalprice', CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_orderdate', CAST(count(DISTINCT o_orderdate) AS BIGINT),
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_orderpriority', CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
       ) t ORDER BY col_name"""

  // ---- q40: conversion funnel -----------------------------------------

  /** q40: the ordered multi-step funnel — users who viewed, then
    * clicked at-or-after their first view, then purchased at-or-after
    * that click, with stage conversion rates. Implemented as cascaded
    * per-user min-timestamp aggregates: each stage's frame is at most
    * one row per user (bounded by the user population, not the event
    * count), so each stage costs one partial->final agg over a
    * filtered scan. The stage joins carry NO broadcast hint: a
    * per-user frame is only small relative to the event log — at the
    * 100 TB design point distinct users are 10^8-10^9 and a forced
    * broadcast would OOM rather than fall back, so the join degrades
    * gracefully to shuffle-on-user_id and AQE upgrades it to broadcast
    * whenever the runtime stage size actually fits the threshold. The
    * window/sessionize alternative (st02) sorts every event; this
    * never sorts, which is the right trade when the funnel has few
    * stages and events are 100 TB.
    */
  def conversionFunnel(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = events.filter(col("event_type") === "click").as("e")
      .join(v, col("e.user_id") === v("user_id") && col("ts") >= col("v_ts"))
      .groupBy(col("e.user_id")).agg(min(col("ts")).as("c_ts"))
    val p = events.filter(col("event_type") === "purchase").as("e2")
      .join(c, col("e2.user_id") === c("user_id") && col("ts") >= col("c_ts"))
      .groupBy(col("e2.user_id")).agg(min(col("ts")).as("p_ts"))
    val counts = v.agg(count(lit(1)).as("n_viewed"))
      .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
    // zero-stage guard: 0.0/0 is NaN in Spark but engine-dependent in
    // DuckDB — emit NULL on an empty upstream stage on both sides
    counts.select(
      col("n_viewed"), col("n_clicked"), col("n_purchased"),
      when(col("n_viewed") > 0,
        Rounding.roundN(col("n_clicked").cast("double") / col("n_viewed"), 4))
        .otherwise(lit(null).cast("double")).as("view_to_click"),
      when(col("n_clicked") > 0,
        Rounding.roundN(col("n_purchased").cast("double") / col("n_clicked"), 4))
        .otherwise(lit(null).cast("double")).as("click_to_purchase"))
  }

  val conversionFunnelOracle: String =
    """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
           WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
           JOIN v ON e.user_id = v.user_id AND e.ts >= v.v_ts
           WHERE e.event_type = 'click' GROUP BY e.user_id),
       p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
           JOIN c ON e.user_id = c.user_id AND e.ts >= c.c_ts
           WHERE e.event_type = 'purchase' GROUP BY e.user_id),
       k AS (SELECT (SELECT count(*) FROM v) AS n_viewed,
                    (SELECT count(*) FROM c) AS n_clicked,
                    (SELECT count(*) FROM p) AS n_purchased)
       SELECT n_viewed, n_clicked, n_purchased,
         CASE WHEN n_viewed > 0
           THEN round(CAST(n_clicked AS DOUBLE) / n_viewed, 4) END AS view_to_click,
         CASE WHEN n_clicked > 0
           THEN round(CAST(n_purchased AS DOUBLE) / n_clicked, 4) END AS click_to_purchase
       FROM k"""

  // ---- q41: time-weighted average -------------------------------------

  /** q41: per-user TIME-weighted average of the value signal — the
    * correct average for state-over-time metrics (a value that held
    * for an hour must weigh 60x one that held a minute; the plain
    * avg() every naive dashboard computes is wrong the moment
    * sampling is irregular). Weight = microseconds until the user's
    * next event (lead window, integer arithmetic in both engines);
    * the final sample has no duration and drops out. One shuffle on
    * user_id, one sorted pass, then the weighted agg reuses the same
    * partitioning — no further exchange.
    */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("dt_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("dt_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_weighted"),
           Rounding.roundN(sum(col("value") * col("dt_us")) / sum(col("dt_us")), 4)
             .as("tw_avg"))
      .orderBy(col("user_id"))
  }

  val timeWeightedAvgOracle: String =
    """WITH w AS (SELECT user_id, "value",
         epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           - epoch_us(ts) AS dt_us
       FROM events)
       SELECT user_id, CAST(count(*) AS BIGINT) AS n_weighted,
         round(sum("value" * dt_us) / sum(dt_us), 4) AS tw_avg
       FROM w WHERE dt_us IS NOT NULL
       GROUP BY user_id ORDER BY user_id"""

  // ---- q42: gaps and islands ------------------------------------------

  /** q42: consecutive-day activity streaks per user (gaps-and-islands)
    * — retention's favorite query. The island key is the classic
    * `day - dense_rank(day)` trick: consecutive days share a constant
    * difference, so the streak id is a pure window projection and the
    * whole pattern is one shuffle on user_id + a sorted pass; both
    * downstream aggregates group on refinements of that partitioning,
    * so neither adds an exchange.
    */
  def gapsIslands(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("grp", date_sub(col("day"), dense_rank().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("streak"))
      .groupBy(col("user_id"))
      .agg(max(col("streak")).as("longest_streak"),
           sum(col("streak")).as("n_active_days"))
      .orderBy(col("user_id"))
  }

  val gapsIslandsOracle: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       g AS (SELECT user_id, day,
           day - CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
         FROM d),
       s AS (SELECT user_id, grp, count(*) AS streak FROM g GROUP BY user_id, grp)
       SELECT user_id, CAST(max(streak) AS BIGINT) AS longest_streak,
         CAST(sum(streak) AS BIGINT) AS n_active_days
       FROM s GROUP BY user_id ORDER BY user_id"""

  // ---- q43: cohort retention matrix -----------------------------------

  /** q43: cohort retention — users bucketed by their FIRST active day,
    * counted per (cohort, day-offset) cell; the matrix behind every
    * retention curve dashboard. Same skeleton as q42: distinct
    * (user, day) shrinks the stream before anything wide, the cohort
    * day is a min-window over the user partition, and the final
    * aggregate's shuffle carries only (cohort, offset) partial counts
    * — bounded by the calendar grid squared, independent of user
    * count, so the matrix agg is grid-cheap at any scale.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort_day").cast("timestamp").as("cohort_day"),
               datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val cohortRetentionOracle: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
       c AS (SELECT user_id, day,
               min(day) OVER (PARTITION BY user_id) AS cohort_day FROM d)
       SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
         CAST(day - cohort_day AS INTEGER) AS day_offset,
         CAST(count(*) AS BIGINT) AS n_users
       FROM c GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---- q45: exact group quantiles -------------------------------------

  /** q45: EXACT per-group quantiles (p50/p90/p99 of event value per
    * type) — the latency/size-distribution readout every ops
    * dashboard serves. Exactness is the point AND the cost: an exact
    * quantile needs the group's full value multiset (Spark's
    * `percentile` buffers a value->count map per group — bounded by
    * DISTINCT values, fine for bounded-cardinality metrics, unbounded
    * for continuous ones), where t15's `approx_percentile` sketch is
    * the fixed-memory 100 TB path. The two rows are the same pairing
    * as q23 (exact distinct) vs q35 (HLL): exact when the group fits,
    * sketch when it can't — this row pins the exact side so the
    * sketch has a measurable reference.
    *
    * Cross-engine: both engines implement SQL-standard
    * percentile_cont (index p*(n-1), linear interpolation between
    * adjacent order statistics); 4-dp rounding absorbs the
    * interpolation-arithmetic ulp.
    */
  def groupQuantiles(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           Rounding.roundN(expr("percentile(value, 0.5D)"), 4).as("p50"),
           Rounding.roundN(expr("percentile(value, 0.9D)"), 4).as("p90"),
           Rounding.roundN(expr("percentile(value, 0.99D)"), 4).as("p99"))
      .orderBy(col("event_type"))

  val groupQuantilesOracle: String =
    """SELECT event_type, count(*) AS n,
       round(quantile_cont("value", 0.5), 4) AS p50,
       round(quantile_cont("value", 0.9), 4) AS p90,
       round(quantile_cont("value", 0.99), 4) AS p99
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** Exact global rank of every row under a total order
    * (valueCol asc, idCol asc) — DISTRIBUTED, no single-partition
    * sort anywhere over the data.
    *
    * Shape: range-partition on the order key (partitions hold
    * disjoint, ordered key ranges) → sortWithinPartitions →
    * `monotonically_increasing_id` assigns pid<<33 + local position
    * in post-sort row order, so local rank falls out of a narrow
    * projection with NO window and NO second shuffle. Per-partition
    * row counts (cardinality = #partitions, metadata-scale) are
    * cumulated into start offsets and broadcast-joined back:
    * global rank = offset(pid) + local. The only single-partition
    * exchange in the plan carries the ~#partitions-row offset table,
    * the same class as a dir-listing collect. Bounds (documented
    * Spark id layout): < 2^31 partitions, < 2^33 rows/partition —
    * both satisfied by any sane 100 TB partition sizing.
    *
    * Determinism: range boundaries are sampled deterministically for
    * a given input, and the exchange feeding the counts branch and
    * the rank branch is deduplicated by ReuseExchange, so both see
    * identical partitions; ids are assigned post-sort, so the rank is
    * the exact row_number over (valueCol, idCol) — bit-identical to
    * the serial definition because the order key is unique.
    */
  private[operators] def withGlobalRank(in: DataFrame, valueCol: String,
                                        idCol: String, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val localMask = (1L << 33) - 1
    val sorted = in
      .repartitionByRange(col(valueCol).asc, col(idCol).asc)
      .sortWithinPartitions(col(valueCol).asc, col(idCol).asc)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33))
      .withColumn("__local", col("__mid").bitwiseAND(lit(localMask)) + lit(1L))
    val offsets = sorted
      .groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(
          Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("__off"))
    sorted.join(broadcast(offsets), Seq("__pid"))
      .withColumn(out, col("__local") + col("__off"))
      .drop("__pid", "__mid", "__local", "__off")
  }

  /** q47: Spearman rank correlation between two document metrics
    * (chars vs whitespace tokens) — the dependence profile a data
    * audit reports when Pearson on raw doubles would not replay
    * cross-engine (double co-moment sums are partial-agg-order
    * dependent and catastrophically cancel at large magnitudes).
    *
    * Parity design: ranks are the exact row_number permutation over
    * (metric, doc_id) — ties broken by id, the documented divergence
    * from tie-averaged Spearman — so d = rx - ry and sum(d^2) are
    * pure BIGINT: associative, order-free, bit-identical under
    * Spark's partial aggs and DuckDB's serial fold. The only double
    * op is the final 1 - 6*S/(n*(n^2-1)), correctly rounded from
    * exact integers. Bounds: n <= 2^21 keeps 6*S < 2^63.
    *
    * Scale shape: two range-partitioned rank passes ([[withGlobalRank]]
    * — distributed sort + per-partition offset broadcast, NO
    * single-partition sort over the data) + one integer agg. The
    * production variant may still run on a uniform sample (rank
    * statistics converge at O(1/sqrt(n))), but the exact form now
    * scales too.
    */
  def rankCorrelation(documents: DataFrame): DataFrame = {
    val m = documents.select(col("doc_id"),
      col("n_chars").cast("long").as("x"),
      expr("size(split(trim(text), ' '))").cast("long").as("y"))
    val rx = withGlobalRank(m, "x", "doc_id", "rx")
    val rxy = withGlobalRank(rx, "y", "doc_id", "ry")
    rxy.withColumn("d", col("rx") - col("ry"))
      .agg(count(lit(1)).as("n"), sum(col("d") * col("d")).as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        Rounding.roundN(lit(1.0) -
          lit(6.0) * col("sum_d2").cast("double") /
            (col("n").cast("double") * (col("n") * col("n") - lit(1L)).cast("double")),
          6).as("rho"))
  }

  val rankCorrelationOracle: String =
    """WITH m AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS y
       FROM documents),
       r AS (SELECT doc_id,
         CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT) AS rx,
         CAST(row_number() OVER (ORDER BY y, doc_id) AS BIGINT) AS ry
       FROM m),
       s AS (SELECT count(*) AS n,
         CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2 FROM r)
       SELECT n, sum_d2,
         round(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(n * n - 1 AS DOUBLE)), 6) AS rho
       FROM s"""

  /** q48: an analytics query through the `format("graft")` DATA SOURCE
    * — the lake scan as Catalyst sees it in production. The table is
    * landed as three stat-covered generations split by quantity band;
    * the query is then ordinary DataFrame code over
    * `spark.read.format("graft")`: the pushed-down `l_quantity >= 40`
    * reaches [[graft.sources.GraftFileIndex]], which opens 1 of the 3
    * dirs (min/max sidecar pruning, asserted in GraftSourceSpec), and
    * the parquet reader gets the same filter for row-group pruning —
    * skipping as an engine feature of every filtered read, not an API
    * users must remember to invoke. */
  def lakeScanPruned(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    val root =
      java.nio.file.Files.createTempDirectory("graft-lake-q48").toString + "/t"
    // first line per order only: the row prices the land+stats+query
    // LIFECYCLE, and a 1/7th slice carries the same pruning evidence
    // as the full table at 1/7th the landing cost (oracle mirrors)
    val base = lineitem.filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"), col("l_extendedprice"))
    graft.sources.VersionedTable.commit(spark, root,
      base.filter(col("l_quantity") < 20), -1L)
    graft.sources.DataSkipping.appendWithStats(spark, root,
      base.filter(col("l_quantity") >= 20 && col("l_quantity") < 35),
      Seq("l_quantity"))
    graft.sources.DataSkipping.appendWithStats(spark, root,
      base.filter(col("l_quantity") >= 35), Seq("l_quantity"))
    spark.read.format("graft").load(root)
      .filter(col("l_quantity") >= 40)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           Rounding.roundN(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val lakeScanPrunedOracle: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         round(sum(l_extendedprice), 2) AS revenue
       FROM lineitem WHERE l_linenumber = 1 AND l_quantity >= 40
       GROUP BY l_returnflag ORDER BY l_returnflag"""
}
