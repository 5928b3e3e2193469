package graft.tools

import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.operators._
import graft.sources.{Formats, LakehouseWriter}

/** End-to-end pipeline walkthrough — the reference's full ETL story
  * (land raw JSON -> normalize -> unified records -> lakehouse merge ->
  * dim refresh -> serve queries) composed from the graft operators, the
  * way a user migrating off raulstechtips/stock-data-etl-pipeline
  * would run it.
  *
  * Usage: runMain graft.tools.Demo [sfDir] [workDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = if (args.length > 1) args(1)
               else java.nio.file.Files.createTempDirectory("graft_demo").toString
    val spark = GraftSession.local("graft-demo", 8)
    import spark.implicits._

    println(s"== graft demo: $sf -> $work")

    // 1. LAND: raw facts arrive as JSON in the landing zone
    //    (reference: fetch task writes raw JSON to MinIO)
    val rawOrders = Tables.orders(spark, sf)
    Formats.writeJson(rawOrders, s"$work/landing/orders")
    val landed = Formats.readJson(spark, s"$work/landing/orders", rawOrders.schema)
    println(s"1. landed ${landed.count()} raw order records as JSON")

    // 2. TRANSFORM: normalize + build the unified records table
    //    (reference: _transform_data_to_polars -> unified stocks frame)
    val unified = Relational.unifiedRecords(Tables.lineitem(spark, sf), Tables.supplier(spark, sf))
    println(s"2. unified records: ${unified.count()} rows " +
      s"(${unified.select("record_type").distinct().as[String].collect().sorted.mkString("/")})")

    // 3. MERGE: write the lakehouse table, then upsert a delta batch
    //    (reference: Delta MERGE on (ticker, record_type, period_end_date))
    val lake = s"$work/lake/records"
    LakehouseWriter.writeUnified(unified, lake)
    val delta = unified.filter(col("record_type") === "ttm")
      .withColumn("qty", col("qty") + 1.0)
    LakehouseWriter.mergeInto(spark, lake, delta,
      keys = Seq("suppkey", "record_type", "period_end_date"), tieBreak = Seq("qty"))
    println(s"3. lakehouse merged: ${spark.read.parquet(lake).count()} rows across " +
      s"${new java.io.File(lake).listFiles().count(_.getName.startsWith("record_type="))} partitions")

    // 4. REFRESH DIMS: latest-fact metadata back onto the dim table
    //    (reference: update_stock_metadata)
    val dims = Relational.metadataUpsert(Tables.customer(spark, sf), Tables.orders(spark, sf))
    println(s"4. dim refresh: ${dims.filter(col("has_orders")).count()} customers enriched")

    // 5. SERVE: the API query surface
    val latest = Relational.latestPerKey(Tables.orders(spark, sf))
    val stats = Relational.bulkStats(Tables.orders(spark, sf))
    val page = Relational.topNPage(Tables.orders(spark, sf), 0, 5)
    println(s"5. serve: latest-per-key=${latest.count()} rows, " +
      s"bulk-stats=${stats.count()} groups, page-1=${page.count()} rows")

    // 6. CORPUS OPS: dedup + quality over the document store
    val dups = Dedup.minhashLsh(Tables.documents(spark, sf))
    val quality = TextOps.qualityScore(Tables.documents(spark, sf))
    val avgQ = quality.agg(avg(col("quality"))).head.getDouble(0)
    println(f"6. corpus: ${dups.count()} near-dup pairs, avg quality=$avgQ%.3f")

    // 7. CORPUS BUILD: pairs -> clusters -> admission filter ->
    //    deterministic split -> token-budget packing (the training-set
    //    assembly line downstream of dedup)
    val clusters = Dedup.dedupClusters(Tables.documents(spark, sf))
    val nClusters = clusters.select("cluster_id").distinct().count()
    val kept = TextOps.qualityFilter(Tables.documents(spark, sf))
      .filter(col("reason") === "keep").agg(sum(col("n"))).head.getLong(0)
    val splits = TextOps.splitSample(Tables.documents(spark, sf)).count()
    val batches = TextOps.sequencePack(Tables.documents(spark, sf))
      .select("lang", "batch_id").distinct().count()
    println(s"7. corpus build: ${clusters.count()} near-dup docs in $nClusters clusters, " +
      s"$kept docs pass admission, $splits splits, $batches training batches")

    // 8. TRANSACTIONAL LAYER: versioned commits, O(delta) appends,
    //    change feed, CDC-maintained serving view (reference:
    //    delta-rs versioned MERGE + serving-cache invalidation)
    import graft.sources.{MaterializedAgg, VersionedTable}
    val vt = s"$work/versioned/records"
    val vkeys = Seq("suppkey", "record_type", "period_end_date")
    VersionedTable.merge(spark, vt,
      unified.filter(col("record_type") =!= "ttm"), vkeys, Seq("qty"))
    var view = MaterializedAgg
      .fullAgg(VersionedTable.read(spark, vt), "record_type", "qty").localCheckpoint()
    val base = VersionedTable.currentVersion(spark, vt).get
    VersionedTable.append(spark, vt,
      unified.filter(col("record_type") === "ttm"), base) // O(delta) add-file commit
    val feed = VersionedTable.changeFeed(spark, vt, base, base + 1, vkeys)
    view = MaterializedAgg.applyChangeFeed(view, feed, "record_type", "qty")
    def aggMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    val viewOk = aggMap(view) == aggMap(
      MaterializedAgg.fullAgg(VersionedTable.read(spark, vt), "record_type", "qty"))
    println(s"8. transactional: v${base + 1} appended O(delta), feed=${feed.count()} changes, " +
      s"CDC-maintained view == full recompute: $viewOk")

    // 8b. SCD2 DIM HISTORY: the metadata dim as a type-2 table — the
    //     reference overwrites stock metadata in place; here each
    //     refresh preserves history and any as-of is a range filter
    import graft.sources.Scd2
    val dimRoot = s"$work/versioned/dim_scd2"
    val meta = Tables.customer(spark, sf)
      .select(col("c_custkey").as("custkey"), col("c_acctbal").as("acctbal"))
    Scd2.mergeScd2(spark, dimRoot, meta, Seq("custkey"), "2024-01-01 00:00:00")
    Scd2.mergeScd2(spark, dimRoot,
      meta.orderBy(col("custkey")).limit(50).withColumn("acctbal", col("acctbal") + 100.0),
      Seq("custkey"), "2024-02-01 00:00:00")
    val histRows = graft.sources.VersionedTable.read(spark, dimRoot)
      .filter(!col(Scd2.Current)).count()
    val asOfJan = Scd2.asOf(spark, dimRoot, "2024-01-15 00:00:00").count()
    println(s"8b. scd2 dim: $histRows closed history rows after a 50-key refresh, " +
      s"as-of-January slice has $asOfJan rows (range filter, no replay)")

    // 9. INCREMENTAL INGEST OPS: new-batch dedup probe against the
    //    corpus band index + content-defined chunk dedup census
    val probe = Dedup.dedupIncremental(Tables.documents(spark, sf))
    val chunks = Multimodal.cdcChunks(Tables.documents(spark, sf))
    val sharedChunks = chunks.filter(col("n_shared") > 1).count()
    println(s"9. incremental: batch-vs-index near-dups=${probe.count()}, " +
      s"cdc chunks=${chunks.count()} of which $sharedChunks store-once shared")

    // 10. PARTITION-SCOPED MERGE: the delta-rs copy-on-write shape —
    //     a ttm-only delta rewrites ONLY the ttm partition dirs; the
    //     other record_type partitions are carried forward untouched
    val pt = s"$work/versioned/partitioned"
    VersionedTable.mergePartitioned(spark, pt, unified, vkeys, "record_type")
    val ttmDelta = unified.filter(col("record_type") === "ttm")
      .withColumn("qty", col("qty") + 1.0)
    val pv = VersionedTable.mergePartitioned(spark, pt, ttmDelta, vkeys, "record_type")
    def lines(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$pt/_log/v${"%08d".format(v)}.commit")), "UTF-8").split("\n")
    val carried = lines(pv).toSet.intersect(lines(pv - 1).toSet).size
    println(s"10. partition-scoped merge: v$pv staged ${lines(pv).length - carried} " +
      s"partition dir(s), carried $carried untouched (upsert cost = O(touched partition))")

    // 11. CLOSED DEDUP INGEST LOOP: persisted band index — probe the
    //     arriving batch, admit the novel docs, append their bands so
    //     the NEXT batch sees them (no corpus recompute anywhere)
    val idxRoot = s"$work/bandindex"
    val docs = Tables.documents(spark, sf)
    BandIndex.build(spark, idxRoot, docs.filter(col("doc_id") % 17 =!= 0))
    val (admitted, pairs) = BandIndex.ingest(spark, idxRoot, docs.filter(col("doc_id") % 17 === 0))
    println(s"11. dedup ingest loop: ${pairs.count()} near-dup pairs vs index, " +
      s"${admitted.count()} admitted docs appended to the index")

    // 12. SUBSTRING DEDUP: duplicated verbatim spans between document
    //     pairs — the modality doc-level Jaccard misses (quotes,
    //     boilerplate, truncations show up here)
    val spans = Dedup.dupSpans(docs)
    val longSpan = Option(spans.agg(max(col("span_toks"))).head.get(0))
      .fold(0L)(_.asInstanceOf[Long]) // empty span set on a clean corpus
    println(s"12. substring dedup: ${spans.count()} duplicated spans " +
      s"(longest $longSpan tokens) across ${spans.select("doc_a", "doc_b").distinct().count()} doc pairs")

    // 12b. INCREMENTAL SUBSTRING DEDUP: the same arrival batch probes
    //     the persisted gram posting index — span detection with no
    //     corpus re-tokenization (GramIndex = d15's engine)
    val gidx = s"$work/gramindex"
    GramIndex.build(spark, gidx, docs.filter(col("doc_id") % 17 =!= 0))
    val crossSpans = GramIndex.probe(spark, gidx, docs.filter(col("doc_id") % 17 === 0))
    println(s"12b. incremental spans: ${crossSpans.count()} batch-vs-corpus spans " +
      "from the persisted posting index")

    // 13. DATA SKIPPING: z-order the order facts by (custkey, total),
    //     then range-read each column — both prune dirs, the full scan
    //     doesn't
    import graft.sources.{DataSkipping, GraftFileIndex}
    // the dirs a filtered read's scan opens, from the file index
    def dirsKept(df: org.apache.spark.sql.DataFrame): Int = { df.count(); GraftFileIndex.lastDirsKept }
    val zRoot = s"$work/versioned/zorders"
    DataSkipping.zOrderCommit(spark, zRoot, rawOrders.select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "o_custkey", "o_totalprice", nDirs = 8, base = -1L)
    val allDirs = VersionedTable.dirsOf(spark, zRoot, 0L).size
    val custDirs = dirsKept(VersionedTable.read(spark, zRoot)
      .filter(col("o_custkey").between(0, 50)))
    val priceDirs = dirsKept(VersionedTable.read(spark, zRoot)
      .filter(col("o_totalprice").between(0, 20000)))
    println(s"13. data skipping: custkey range opens $custDirs/$allDirs dirs, " +
      s"totalprice range opens $priceDirs/$allDirs — either column prunes under z-order")

    // 14. OPTIMIZE TIERS: an append degrades skipping; the DELTA
    //     recluster (O(appends)) folds only the loose dirs into a
    //     fresh tight generation, carrying the clustered dirs — the
    //     full recluster stays the periodic deep pass
    val zAppend = rawOrders.select(
      col("o_orderkey") + lit(10000000L), col("o_custkey"), col("o_totalprice"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    VersionedTable.append(spark, zRoot, zAppend, 0L)
    val dv = DataSkipping.reclusterDelta(spark, zRoot, "o_custkey", "o_totalprice", nDirs = 4)
    val dirsNow = VersionedTable.dirsOf(spark, zRoot, dv).size
    val custDirs2 = dirsKept(VersionedTable.readAsOf(spark, zRoot, dv)
      .filter(col("o_custkey").between(0, 50)))
    println(s"14. optimize tiers: delta recluster v$dv scanned " +
      s"${DataSkipping.lastStatsDirsScanned} new dir(s) for stats, " +
      s"custkey range now opens $custDirs2/$dirsNow dirs across generations")

    // 14b. STRING SKIPPING: an arrival-date append chain prunes
    //      day-range reads on the STRING day column — the Landing
    //      layout's read path
    val sRoot = s"$work/versioned/bydate"
    var sv = VersionedTable.commit(spark, sRoot,
      rawOrders.orderBy(col("o_orderkey")).limit(100)
        .withColumn("day", lit("2024-01-01")), -1L)
    sv = VersionedTable.append(spark, sRoot,
      rawOrders.orderBy(col("o_orderkey")).limit(100)
        .withColumn("day", lit("2024-01-02")), sv)
    sv = VersionedTable.append(spark, sRoot,
      rawOrders.orderBy(col("o_orderkey")).limit(100)
        .withColumn("day", lit("2024-01-03")), sv)
    DataSkipping.ensureStatsAuto(spark, sRoot, sv, Seq("day"),
      VersionedTable.schemaOf(spark, sRoot, sv))
    val dayDirs = dirsKept(VersionedTable.read(spark, sRoot)
      .filter(col("day").between("2024-01-02", "2024-01-02")))
    println(s"14b. string skipping: one-day range opens $dayDirs/3 dirs " +
      "(min/max string stats on the append chain)")

    // 15. PARTITION-SCOPED SCD2: the type-2 dim merged per record_type
    //     partition — a one-type refresh stages one partition dir and
    //     carries the rest (history included) untouched
    val sp = s"$work/versioned/dim_scd2_part"
    val typed = unified.select(col("record_type"), col("suppkey"), col("qty"))
    Scd2.mergeScd2Partitioned(spark, sp,
      typed, Seq("record_type", "suppkey"), "record_type", "2024-01-01 00:00:00")
    val ttmOnly = typed.filter(col("record_type") === "ttm")
      .withColumn("qty", col("qty") + 1.0)
    val spv = Scd2.mergeScd2Partitioned(spark, sp,
      ttmOnly, Seq("record_type", "suppkey"), "record_type", "2024-02-01 00:00:00")
    def spLines(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$sp/_log/v${"%08d".format(v)}.commit")), "UTF-8").split("\n")
    val spCarried = spLines(spv).toSet.intersect(spLines(spv - 1).toSet).size
    val spHist = Scd2.asOf(spark, sp, "2024-01-15 00:00:00")
      .filter(col("record_type") === "ttm").count()
    println(s"15. scd2 partition-scoped: v$spv staged ${spLines(spv).length - spCarried} " +
      s"dir(s), carried $spCarried; ttm as-of-January still serves $spHist rows")

    // 15b. INDEX MAINTENANCE SIGNAL: the gram index tracks append
    //      drift and says when the periodic rebuild is due
    GramIndex.append(spark, gidx, docs.filter(col("doc_id") % 17 === 0))
    println(s"15b. gram index rebuild due after batch appends: " +
      s"${GramIndex.rebuildRecommended(spark, gidx)} " +
      "(df-cap drift is tracked, not guessed)")

    // 16. ANN INGEST LOOP: persisted IVF index — the arriving vector
    //     batch probes cell-partitioned inverted lists (a probe opens
    //     only its probed cells' dirs), appends O(batch), and the next
    //     arrivals find the just-ingested vectors
    import graft.operators.VecIndex
    val vRoot = s"$work/vecindex"
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    VecIndex.build(spark, vRoot, emb.filter(col("vec_id") % 19 =!= 0))
    val vBatch = emb.filter(col("vec_id") % 19 === 0)
    val vHits = VecIndex.probe(spark, vRoot, vBatch).count()
    VecIndex.ingest(spark, vRoot, vBatch)
    val reArrivals = vBatch.orderBy(col("vec_id")).limit(3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val selfHits = VecIndex.probe(spark, vRoot, reArrivals, k = 1)
      .filter(col("cos") >= 0.9999).count()
    println(s"16. ann ingest loop: $vHits probe hits vs the persisted index; " +
      s"batch appended O(batch); $selfHits/3 re-arrivals match their " +
      "just-ingested originals at cos~1 (the loop is closed)")

    // 16b. SURVIVOR POLICY + SPLIT GUARD: quality-keep vs min-id, and
    //      the cluster-keyed split that cannot leak near-dups across
    //      train/val/test
    val bk = Dedup.dedupBestKeep(docs)
    val bkDiffers = bk.filter(col("policy_differs")).count()
    val splitCensus = Dedup.leakSafeSplit(docs).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    println(s"16b. survivor policy: $bkDiffers/${bk.count()} clusters keep a " +
      s"better-than-min-id doc; leakage-safe split census: $splitCensus")

    // 17. CONCURRENT WRITERS: two appends staged against the SAME base
    //     — the loser's publish race is rebased (appends commute), so
    //     independent ingest writers need no coordination
    val cw = s"$work/versioned/multiwriter"
    val b0 = VersionedTable.commit(spark, cw, rawOrders.orderBy(col("o_orderkey")).limit(10), -1L)
    val w1 = VersionedTable.appendRebaseFrom(spark, cw, rawOrders.orderBy(col("o_orderkey")).limit(5), b0)
    val w2 = VersionedTable.appendRebaseFrom(spark, cw, rawOrders.orderBy(col("o_orderkey")).limit(7), b0)
    println(s"17. concurrent writers: stale-base appends landed as v$w1 and v$w2 " +
      s"(${VersionedTable.read(spark, cw).count()} rows — the lost race " +
      "republished the staged dir, nothing recomputed)")

    // 17b. TIME TRAVEL BY CLOCK: TIMESTAMP AS OF over commit mtimes
    val w1Ts = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$cw/_log/v${"%08d".format(w1)}.commit")).toMillis
    val pastRows = VersionedTable.readAsOfTimestamp(spark, cw, w1Ts).count()
    println(s"17b. timestamp travel: as of v$w1's publication clock the table " +
      s"reads $pastRows rows (now ${VersionedTable.read(spark, cw).count()})")

    // 18. FILE-LEVEL MERGE: a narrow-key batch against a key-clustered
    //     table rewrites ONLY the dirs whose key-range stats intersect
    //     it — the delta-rs merge boundary without a partition column
    val fm = s"$work/versioned/filemerge"
    val fmRows = rawOrders
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      .withColumn("bucket", (col("k") / lit(1000)).cast("long").cast("string"))
    VersionedTable.commitPartitioned(spark, fm, fmRows, "bucket", -1L)
    val fmKeys = fmRows.orderBy(col("k")).limit(3).select(col("k")).as[Long].collect()
    val fmBatch = fmRows.filter(col("k").isin(fmKeys: _*))
      .withColumn("v", col("v") * -1)
    DataSkipping.mergeSkipping(spark, fm, fmBatch, Seq("k"), "k")
    println(s"18. file-level merge: batch of ${fmKeys.length} keys rewrote " +
      s"${DataSkipping.lastMergeRewrote} dir(s), carried " +
      s"${DataSkipping.lastMergeCarried} byte-for-byte (stats-pruned boundary)")

    // 19. BUCKETED JOIN: both fact tables written bucketed by the join
    //     key — the fact-fact join plans with ZERO shuffles
    import graft.sources.Bucketing
    Bucketing.writeBucketed(spark, "demo_bk_orders", s"$work/bk/o",
      rawOrders.select("o_orderkey", "o_custkey", "o_totalprice"), "o_orderkey", 8)
    Bucketing.writeBucketed(spark, "demo_bk_lineitem", s"$work/bk/l",
      Tables.lineitem(spark, sf).select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity"), col("l_extendedprice")), "o_orderkey", 8)
    val bj = Bucketing.coLocatedJoin(spark, "demo_bk_orders", "demo_bk_lineitem", "o_orderkey")
    val bjRows = bj.count()
    val bjPlan = bj.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val needle = "Exchange hashpartitioning"
    val bjShuffles = bjPlan.sliding(needle.length).count(_ == needle)
    println(s"19. bucketed join: $bjRows joined rows with $bjShuffles shuffles " +
      "(the join-key shuffle was paid once at write time, never per query)")

    // 20. RETRIEVAL PIPELINE: hybrid lexical+vector recall, predicate-
    //     filtered ANN, MMR redundancy collapse — the RAG serving stack
    val embs = Tables.embeddings(spark, sf)
    val hybrid = Similarity.hybridRrf(docs, embs).cache()
    val vecOnly = hybrid.filter(col("lex_rank").isNull).count()
    val lexOnly = hybrid.filter(col("vec_rank").isNull).count()
    val filtQ = Similarity.ivfFilteredTopK(embs)
      .select("q_id").distinct().count()
    val mmrPicks = Similarity.mmrDiversify(embs).count()
    println(s"20. retrieval: hybrid RRF fused ${hybrid.count()} picks " +
      s"($vecOnly vector-only, $lexOnly lexical-only — each arm finds what " +
      s"the other misses), filtered ANN served $filtQ queries within-class, " +
      s"MMR collapsed redundancy to $mmrPicks diversified picks")
    hybrid.unpersist()

    // 21. RESTORE: the bad overwrite from a broken job undone in O(1)
    //     metadata — no data copied, history still travelable
    val rr = s"$work/versioned/restore"
    VersionedTable.commit(spark, rr, rawOrders.select("o_orderkey", "o_totalprice"), -1L)
    VersionedTable.commit(spark, rr,
      rawOrders.select("o_orderkey", "o_totalprice")
        .orderBy(col("o_orderkey")).limit(1), 0L) // oops
    val badRows = VersionedTable.read(spark, rr).count()
    val rv = VersionedTable.restore(spark, rr, 0L)
    println(s"21. restore: bad overwrite left $badRows rows; restore(v0) " +
      s"published v$rv with ${VersionedTable.read(spark, rr).count()} rows back " +
      s"(bad v1 still travelable: ${VersionedTable.readAsOf(spark, rr, 1L).count()} rows)")

    // 22. POINT LOOKUP at scale: an unclustered high-cardinality key
    //     defeats min/max pruning (every dir spans the domain); the
    //     bloom tier answers "which dirs can hold this key" from
    //     per-dir filters with zero IO
    val br = s"$work/versioned/bloomed"
    var bv = VersionedTable.commit(spark, br,
      rawOrders.filter(col("o_orderkey") % 4 === 0)
        .select("o_orderkey", "o_totalprice"), -1L)
    (1 to 3).foreach { i =>
      bv = VersionedTable.append(spark, br,
        rawOrders.filter(col("o_orderkey") % 4 === i)
          .select("o_orderkey", "o_totalprice"), bv)
    }
    // a mid-range key: every dir's [min, max] straddles it (key 0
    // would sit on the dir minimums and let range stats prune)
    val needleKey = rawOrders.filter(col("o_orderkey") >= 1000)
      .select("o_orderkey").head.getLong(0)
    def lookup = VersionedTable.read(spark, br).filter(col("o_orderkey") === needleKey)
    DataSkipping.ensureStats(spark, br, bv, Seq("o_orderkey"))
    val rangeKeptDirs = dirsKept(lookup)
    DataSkipping.ensureBloom(spark, br, bv, "o_orderkey")
    val hit = lookup.count()
    val bloomDirs = GraftFileIndex.lastDirsKept
    println(s"22. bloom skipping: range stats keep $rangeKeptDirs dirs for key " +
      s"$needleKey (interleaved layout), blooms keep $bloomDirs; " +
      s"lookup returned $hit row(s)")

    // 23. STREAMING FEED: the versioned table doubles as a stream of
    //     its appends — a downstream consumer drains committed rows
    //     exactly once through its own checkpoint
    val fr = s"$work/versioned/feed"
    val fck = s"$work/feed_ck"
    // deterministic row sets: unordered limit() re-evaluates per action
    // and may pick different rows, which would overlap the append with
    // the committed snapshot and break the "second drain = only the
    // append" claim. o_orderkey is unique in orders, so sorted limits
    // are stable across evaluations.
    val feedFirst = rawOrders.orderBy("o_orderkey").limit(100)
      .select("o_orderkey", "o_totalprice")
    val feedSecond = rawOrders.orderBy("o_orderkey").limit(150)
      .select("o_orderkey", "o_totalprice").except(feedFirst)
    VersionedTable.commit(spark, fr, feedFirst, -1L)
    val drained = new java.util.concurrent.atomic.AtomicLong()
    def drainFeed(): Unit = {
      val q = VersionedTable.streamAppends(spark, fr)
        .writeStream.option("checkpointLocation", fck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          drained.addAndGet(b.count()); ()
        }.start()
      q.awaitTermination()
    }
    drainFeed()
    val afterFirst = drained.get()
    VersionedTable.appendRebase(spark, fr, feedSecond)
    drainFeed()
    println(s"23. streaming feed: first drain $afterFirst rows, second drain " +
      s"${drained.get() - afterFirst} (only the append's rows — the consumer's " +
      "checkpoint, not the table, tracks the offset)")

    // 24. THE CONNECTOR: the same lake as a first-class Spark source —
    //     format("graft") reads plan like parquet but the file listing
    //     prunes from the stats sidecars against the PUSHED filters
    //     (no explicit skipping API), and the stream is the commit log
    val cr = s"$work/versioned/connector"
    rawOrders.filter(col("o_orderkey") % 3 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.format("graft").save(cr)
    graft.sources.DataSkipping.appendWithStats(spark, cr,
      rawOrders.filter(col("o_orderkey") % 3 === 1)
        .select("o_orderkey", "o_totalprice"), Seq("o_orderkey"))
    graft.sources.DataSkipping.appendWithStats(spark, cr,
      rawOrders.filter(col("o_orderkey") % 3 === 2)
        .select("o_orderkey", "o_totalprice"), Seq("o_orderkey"))
    val probeKey = rawOrders.orderBy(desc("o_orderkey")).limit(1)
      .select("o_orderkey").as[Long].head()
    val found = spark.read.format("graft").load(cr)
      .filter(col("o_orderkey") === probeKey).count()
    val connKept = graft.sources.GraftFileIndex.lastDirsKept
    val connTotal = graft.sources.GraftFileIndex.lastDirsTotal
    val v0Rows = spark.read.format("graft")
      .option("versionAsOf", "0").load(cr).count()
    // CDC: a merge streams as keyed change rows, not a failure
    // (merge BEFORE the drain — AvailableNow snapshots its end offset
    // at start, so a commit racing the drain lands in the NEXT one)
    val cdcSink = s"$work/connector_cdc_rows"
    val cdcBase = graft.sources.VersionedTable.currentVersion(spark, cr).get
    graft.sources.VersionedTable.merge(spark, cr,
      rawOrders.orderBy("o_orderkey").limit(5)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice")),
      Seq("o_orderkey"))
    val cdcQ = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("keys", "o_orderkey")
      .option("startingVersion", cdcBase.toString)
      .load(cr)
      .writeStream.option("checkpointLocation", s"$work/connector_cdc_ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Formats.writeJson(b.select(col("o_orderkey"), col("change_type")), cdcSink)
        ()
      }.start()
    cdcQ.awaitTermination()
    val cdcRows = spark.read.json(cdcSink).count()
    println(s"24. connector: point probe opened $connKept/$connTotal dirs " +
      s"($found row), versionAsOf(0)=$v0Rows rows, merge streamed " +
      s"$cdcRows change rows through readChangeFeed")

    // 25. THE ERASURE LIFECYCLE: every persisted index supports
    //     retirement (GDPR / takedown / retired corpus slices).
    //     VecIndex deletes eagerly (home cell computed map-side ->
    //     O(touched cells) rewrite); Band/Gram indexes tombstone
    //     (content-scattered postings) and fold on compact
    val victimDoc = docs.filter(col("doc_id") % 17 =!= 0)
      .orderBy("doc_id").limit(1)
    val victimId = victimDoc.select("doc_id").as[Long].head()
    BandIndex.retire(spark, idxRoot, victimDoc.select("doc_id"))
    GramIndex.retire(spark, gidx, victimDoc.select("doc_id"))
    val victimVec = emb.filter(col("vec_id") % 19 =!= 0).orderBy("vec_id").limit(1)
    val preDel = graft.sources.VersionedTable.read(spark, s"$vRoot/vectors").count()
    VecIndex.delete(spark, vRoot, victimVec)
    val postDel = graft.sources.VersionedTable.read(spark, s"$vRoot/vectors").count()
    BandIndex.compactRetired(spark, idxRoot)
    GramIndex.compactRetired(spark, gidx)
    val bandGone = graft.sources.VersionedTable.read(spark, s"$idxRoot/bands")
      .filter(col("doc_id") === victimId).count()
    println(s"25. erasure: doc $victimId tombstoned in band+gram indexes " +
      s"(probes exclude it immediately), compact folded it out " +
      s"($bandGone band rows remain); vector delete rewrote only its " +
      s"home cell (${preDel - postDel} vector removed, old versions " +
      "still time-travelable)")

    // 26. TRAINING-DATA ARTIFACTS: the tokenizer and the codec — BPE
    //     merge induction over the corpus (the artifact a tokenizer
    //     ships as) and the real PNG decode path (render -> encode ->
    //     decode -> features, corrupt media degrading to flagged rows)
    val bpe = graft.operators.TextOps.bpeMerges(docs, iters = 3).collect()
      .map(r => s"${r.getAs[String]("a")}+${r.getAs[String]("b")}" +
        s"(${r.getAs[Long]("cnt")})").mkString(", ")
    val decoded = graft.operators.Multimodal.imageDecode(docs.orderBy(col("doc_id")).limit(64))
    val okRows = decoded.filter(col("decode_ok")).count()
    val thumb = decoded.orderBy("doc_id").limit(1).collect().head
    println(s"26. artifacts: BPE merges learned [$bpe]; PNG codec " +
      s"round-trip decoded $okRows/64 images (doc ${thumb.getAs[Long]("doc_id")}: " +
      s"${thumb.getAs[Long]("width")}x${thumb.getAs[Long]("height")} -> " +
      s"thumb ${thumb.getAs[Long]("thumb_width")}x${thumb.getAs[Long]("thumb_height")})")

    // 27. MEASUREMENT LAYER: the audio codec, source drift, and the
    //     streaming sketch — WAV round trip through the JDK's RIFF
    //     parser, pairwise JSD saying which sources have drifted
    //     apart, and a KMV distinct sketch whose stream state is
    //     <= 64 longs per group yet lands bit-identical to batch
    val aud = graft.operators.Multimodal.audioDecode(docs.orderBy(col("doc_id")).limit(64))
      .orderBy("doc_id").limit(1).collect().head
    val jsd = graft.operators.TextOps.domainDivergence(docs)
      .orderBy(col("jsd").desc).limit(1).collect().head
    val kmv = graft.streaming.StreamOps.streamKmvDrain(
      Tables.events(spark, sf)).collect()
    println(s"27. measurement: WAV decode doc ${aud.getAs[Long]("doc_id")} " +
      s"(${aud.getAs[Long]("frames")} frames @ ${aud.getAs[Long]("sample_rate")} Hz, " +
      s"peak ${aud.getAs[Long]("peak_abs")}); most-drifted source pair " +
      s"${jsd.getAs[String]("src_a")}<->${jsd.getAs[String]("src_b")} " +
      s"jsd=${jsd.getAs[Double]("jsd")}; streaming KMV over " +
      s"${kmv.length} event types, distinct-user estimates " +
      kmv.map(r => s"${r.getAs[String]("event_type")}:${r.getAs[Long]("est")}")
        .mkString(", "))

    println("== demo complete")
    spark.stop()
  }
}
