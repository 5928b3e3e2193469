package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps

class GraftSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("graft-test", cores = 4)

  // every declared query must run and return rows at sf0.001
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name returns rows") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("every query key has an oracle or documented exemption") {
    val exempt = Set("m01_multimodal_meta", "q35_approx_distinct",
      "t15_approx_percentile")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- exempt
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q01 aggregates match a hand check") {
    val row = SparkEntry.queries("q01_pricing_summary")(spark, sf)
      .filter("l_returnflag = 'A'").collect()
    assert(row.nonEmpty)
    assert(row.forall(_.getAs[Long]("count_order") > 0))
  }

  test("q04 latest_per_key is unique per customer") {
    val df = SparkEntry.queries("q04_latest_per_key")(spark, sf)
    assert(df.count() == df.select("custkey").distinct().count())
  }

  test("d02 minhash pairs are ordered and above threshold") {
    val rows = SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b")))
    assert(rows.forall(r => r.getAs[Double]("jac") >= 0.3))
  }

  test("s01 brute-force ranks are 1..k and cos within [-1,1]") {
    val rows = SparkEntry.queries("s01_ann_bruteforce_topk")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 5))
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-9))
  }

  test("s05 multi-probe never finds a worse best-match than single-probe s03") {
    val best3 = SparkEntry.queries("s03_ann_ivf_topk")(spark, sf)
      .filter("rank = 1").collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    val best5 = SparkEntry.queries("s05_ann_ivf_multiprobe")(spark, sf)
      .filter("rank = 1").collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Double]("cos")).toMap
    assert(best3.keySet.subsetOf(best5.keySet))
    best3.foreach { case (q, c) => assert(best5(q) >= c - 1e-9) }
  }

  test("st01 streaming windowed counts == batch twin") {
    val streamed = StreamOps.windowedCountsStream(spark, sf).collect().toSeq
    val batch = StreamOps.windowedCountsBatch(Tables.events(spark, sf)).collect().toSeq
    assert(streamed == batch)
  }

  test("st02 flatMapGroupsWithState sessionizer closes sessions on gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minutes: Long, user: Long) =
      StreamOps.Ev(id, new java.sql.Timestamp(minutes * 60000L), user)
    val input = MemoryStream[StreamOps.Ev]
    val sessions = StreamOps.sessionizeStream(input.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_st02_test").start()
    try {
      // user 1: two events 10 min apart (one session), then an event
      // 2h later -> first session must be emitted closed with 2 events.
      // Times start at t=60min, not 0: an event whose time equals the
      // current watermark (initial watermark = epoch 0) is dropped as
      // late by the stateful-op filter.
      input.addData(ev(1, 60, 1), ev(2, 70, 1))
      q.processAllAvailable()
      input.addData(ev(3, 190, 1))
      q.processAllAvailable()
      val out = spark.table("graft_st02_test").as[StreamOps.Session].collect()
      assert(out.length == 1)
      assert(out.head.user_id == 1 && out.head.n_events == 2)
      assert(out.head.session_start.getTime == 60 * 60000L)
      assert(out.head.session_end.getTime == 70 * 60000L)
      // idle-key timeout: a far-future event from ANOTHER user advances
      // the watermark past user 1's last+gap; the next batch fires the
      // event-time timeout and emits user 1's still-open session —
      // without this, streaming would diverge from sessionizeBatch
      input.addData(ev(4, 1060, 2))
      q.processAllAvailable()
      input.addData(ev(5, 1061, 2))
      q.processAllAvailable()
      val all = spark.table("graft_st02_test").as[StreamOps.Session].collect()
      val u1 = all.filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(u1.length == 2)
      assert(u1(1).session_start.getTime == 190 * 60000L && u1(1).n_events == 1)
    } finally q.stop()
  }

  test("st01 watermarked append-mode windows emit after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minutes: Long, user: Long) =
      StreamOps.Ev(id, new java.sql.Timestamp(minutes * 60000L), user)
    val input = MemoryStream[StreamOps.Ev]
    val agg = StreamOps.windowedCountsWatermarked(input.toDS(), "10 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_st01_wm").start()
    try {
      // two events land in window [0,5); nothing can emit yet
      input.addData(ev(1, 1, 7), ev(2, 3, 7))
      q.processAllAvailable()
      assert(spark.table("graft_st01_wm").count() == 0)
      // an event at t=60min pushes the watermark to 50min -> [0,5) closes
      input.addData(ev(3, 60, 7))
      q.processAllAvailable()
      val out = spark.table("graft_st01_wm").collect()
      assert(out.length == 1)
      assert(out.head.getAs[Long]("n") == 2)
      assert(out.head.getAs[java.sql.Timestamp]("window_start").getTime == 0L)
    } finally q.stop()
  }

  test("st03 streaming dedup keeps one row per key with bounded state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minutes: Long, user: Long) =
      StreamOps.Ev(id, new java.sql.Timestamp(minutes * 60000L), user)
    val input = MemoryStream[StreamOps.Ev]
    val deduped = StreamOps.dedupStream(input.toDS(), "10 minutes")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_st03_test").start()
    try {
      // three users, duplicates for user 1 and 2 across micro-batches
      input.addData(ev(1, 60, 1), ev(2, 61, 2), ev(3, 62, 1))
      q.processAllAvailable()
      input.addData(ev(4, 63, 2), ev(5, 64, 3))
      q.processAllAvailable()
      val out = spark.table("graft_st03_test").as[StreamOps.Ev].collect()
      assert(out.map(_.user_id).sorted.toSeq == Seq(1L, 2L, 3L))
      // first arrival wins: user 1 keeps event 1, user 2 keeps event 2
      assert(out.filter(_.user_id == 1).head.event_id == 1L)
      assert(out.filter(_.user_id == 2).head.event_id == 2L)
    } finally q.stop()
  }

  test("mergeUpsert is null-safe on key columns (reference's null-safe date equality)") {
    import spark.implicits._
    // reference MERGE matches on (ticker, record_type, period_end_date)
    // with null-safe equality on the date: a null-dated source row must
    // UPDATE the null-dated target row, not insert a second one
    val target = Seq[(String, Option[String], Double)](
      ("A", Some("2020-01-01"), 1.0), ("A", None, 2.0)).toDF("key", "pd", "v")
    val source = Seq[(String, Option[String], Double)](
      ("A", None, 99.0)).toDF("key", "pd", "v")
    val merged = graft.operators.Relational
      .mergeUpsert(target, source, Seq("key", "pd")).collect()
    assert(merged.length == 2)
    val nullRow = merged.filter(_.isNullAt(1))
    assert(nullRow.length == 1 && nullRow.head.getDouble(2) == 99.0)
  }

  test("st04 stream-stream interval join matches the interval predicate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minutes: Long, user: Long) =
      StreamOps.Ev(id, new java.sql.Timestamp(minutes * 60000L), user)
    val clicks = MemoryStream[StreamOps.Ev]
    val views = MemoryStream[StreamOps.Ev]
    val joined = StreamOps.intervalJoinStream(clicks.toDS(), views.toDS(), 30)
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_st04_test").start()
    try {
      // views at t=60,70 and a stale one at t=10; click at t=75 joins
      // only the two within [45, 75]
      views.addData(ev(101, 10, 1), ev(102, 60, 1), ev(103, 70, 1))
      q.processAllAvailable()
      clicks.addData(ev(201, 75, 1))
      q.processAllAvailable()
      val out = spark.table("graft_st04_test").collect()
      assert(out.map(_.getAs[Long]("view_id")).sorted.toSeq == Seq(102L, 103L))
      assert(out.forall(_.getAs[Long]("click_id") == 201L))
    } finally q.stop()
  }

  test("s14 MMR: step 1 is the relevance argmax, picks are distinct, and diversification is LIVE") {
    val mmr = SparkEntry.queries("s14_mmr_diversify")(spark, sf).collect()
    val byQ = mmr.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.nonEmpty)
    val top = SparkEntry.queries("s01_ann_bruteforce_topk")(spark, sf).collect()
    val rank1 = top.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("neighbor_id")).toMap
    val top5 = top.filter(_.getAs[Long]("rank") <= 5L)
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("step")).sorted.toSeq == (1L to 5L))
      assert(rows.map(_.getAs[Long]("neighbor_id")).distinct.length == 5)
      assert(rows.find(_.getAs[Long]("step") == 1L).get
        .getAs[Long]("neighbor_id") == rank1(q),
        s"q$q step 1 is not the relevance argmax")
    }
    // redundancy actually repels: somewhere the MMR set differs from
    // plain top-5 (measured 10/40 picks at sf0.001 before pinning)
    val picks = mmr.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(picks.diff(top5).nonEmpty, "MMR never diverged from top-5 — diversification is dead")
  }

  test("q44 asofJoin: inclusive backward pick, max-tie at equal ts, tolerance nulls, forward flip — and agrees with q14") {
    import spark.implicits._
    import graft.operators.Relational
    import org.apache.spark.sql.functions.expr
    def tsf(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, expr(s"timestamp_seconds($c)"))
    val left = tsf(Seq((1L, 100L), (1L, 200L), (2L, 100L)).toDF("k", "lts"), "lts")
    val right = tsf(Seq((1L, 90L, 1L, "a"), (1L, 100L, 2L, "b"), (1L, 100L, 3L, "c"),
                        (1L, 150L, 4L, "d"), (2L, 999L, 5L, "e"))
      .toDF("k", "rts", "rid", "v"), "rts")
    def run(tol: Option[Long], fwd: Boolean): Map[(Long, Long), Option[Long]] =
      Relational.asofJoin(left, right, Seq("k"), "lts", "rts",
          payload = Seq("rid", "v"), tieBreak = "rid",
          toleranceSec = tol, forward = fwd)
        .collect().map { r =>
          (r.getAs[Long]("k"),
           r.getAs[java.sql.Timestamp]("lts").toInstant.getEpochSecond) ->
            Option(r.getAs[Any]("asof_rid")).map(_.asInstanceOf[Long])
        }.toMap
    val back = run(None, fwd = false)
    assert(back((1L, 100L)).contains(3L), "inclusive at-or-before + max tie")
    assert(back((1L, 200L)).contains(4L))
    assert(back((2L, 100L)).isEmpty, "right row strictly after must not match backward")
    val tol40 = run(Some(40L), fwd = false)
    assert(tol40((1L, 200L)).isEmpty, "50s gap beyond 40s tolerance must null out")
    assert(tol40((1L, 100L)).contains(3L), "0s gap survives tolerance")
    val fwd = run(None, fwd = true)
    assert(fwd((1L, 100L)).contains(3L), "inclusive at-or-after")
    assert(fwd((1L, 200L)).isEmpty, "nothing at-or-after must not match forward")
    assert(fwd((2L, 100L)).contains(5L))
    // the bound row: every purchase event attributes to ITSELF
    // (inclusive at-or-before fixpoint), both matched and null
    // populations are live, and no match is ever a FUTURE event
    val q44 = SparkEntry.queries("q44_asof_enrich")(spark, sf).collect()
    assert(q44.exists(r => !r.isNullAt(r.fieldIndex("asof_event_id"))))
    assert(q44.exists(r => r.isNullAt(r.fieldIndex("asof_event_id"))))
    q44.foreach { r =>
      if (r.getAs[String]("event_type") == "purchase")
        assert(r.getAs[Long]("asof_event_id") == r.getAs[Long]("event_id"),
          s"purchase event must attribute to itself: $r")
      if (!r.isNullAt(r.fieldIndex("asof_ts"))) {
        val gap = r.getAs[java.sql.Timestamp]("ts").getTime -
          r.getAs[java.sql.Timestamp]("asof_ts").getTime
        assert(gap >= 0 && gap <= 86400L * 1000, s"match outside window: $r")
      }
    }
  }

  test("s15 hybrid RRF: both arms contribute, rrf is consistent with the arm ranks, fusion diverges from each single arm") {
    val rows = SparkEntry.queries("s15_hybrid_rrf")(spark, sf).collect()
    assert(rows.nonEmpty)
    def optRank(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    rows.foreach { r =>
      val lex = optRank(r, "lex_rank"); val vec = optRank(r, "vec_rank")
      assert(lex.isDefined || vec.isDefined)
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-5,
        s"rrf inconsistent with arm ranks at $r")
    }
    // each modality surfaces picks the other's top-nArm missed — the
    // one-arm rows full_outer exists for (measured live at sf0.001)
    assert(rows.exists(r => optRank(r, "lex_rank").isEmpty),
      "no vector-only pick — lexical arm dominated everything")
    assert(rows.exists(r => optRank(r, "vec_rank").isEmpty),
      "no lexical-only pick — vector arm dominated everything")
    // fusion is LIVE: the fused top-k is neither arm's own ordering
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.exists { case (_, rs) =>
      val fusedOrder = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("doc_id")).toSeq
      val lexOrder = rs.filter(!_.isNullAt(rs.head.fieldIndex("lex_rank")))
        .sortBy(_.getAs[Long]("lex_rank")).map(_.getAs[Long]("doc_id")).toSeq
      fusedOrder != lexOrder
    })
  }

  test("s23 BM25 arm: tf saturation + length norm invert a TF-IDF ranking; fused output diverges from s15") {
    import spark.implicits._
    // (1) the two saturations, engineered to flip a ranking: doc 10
    // SPAMS the query term (tf=30) inside a very long doc; doc 11
    // mentions it twice in a short doc. TF-IDF's linear tf makes the
    // spam doc win; BM25's concave tf (asymptote idf·(k1+1)) plus the
    // b·dl/avgdl length penalty makes the short doc win. Filler docs
    // keep idf > 0 for both weightings.
    val spam = Array.fill(30)("zebra").mkString(" ") + " " +
      (1 to 2000).map(i => s"g$i").mkString(" ")
    val short2 = "zebra zebra tiny"
    val synthDocs = (Seq(0L -> "zebra", 10L -> spam, 11L -> short2) ++
      (12L to 19L).map(i => i -> (1 to 50).map(j => s"f${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val synthEmbs = (Seq(0L, 10L, 11L) ++ (12L to 19L))
      .map(i => (i, Array(1f, i * 0.001f), "l")).toDF("vec_id", "embedding", "label")
    def lexRankOf(rows: Array[org.apache.spark.sql.Row], doc: Long): Long =
      rows.find(r => r.getAs[Long]("q_id") == 0L && r.getAs[Long]("doc_id") == doc)
        .filter(!_.isNullAt(rows.head.fieldIndex("lex_rank")))
        .map(_.getAs[Long]("lex_rank")).getOrElse(Long.MaxValue)
    val tfidf = graft.operators.Similarity
      .hybridRrf(synthDocs, synthEmbs, maxQueryId = 1, nArm = 10, kOut = 11).collect()
    val bm25 = graft.operators.Similarity
      .hybridBm25(synthDocs, synthEmbs, maxQueryId = 1, nArm = 10, kOut = 11).collect()
    assert(lexRankOf(tfidf, 10L) < lexRankOf(tfidf, 11L),
      "TF-IDF's linear tf should rank the spam doc first")
    assert(lexRankOf(bm25, 11L) < lexRankOf(bm25, 10L),
      "BM25 saturation + length norm should rank the short doc first")

    // (2) on the real corpus: same schema and bounds as s15, rrf
    // consistent with the arm ranks, and the fused output DIVERGES
    // from s15's (the arm upgrade is live, not a rename)
    val a = SparkEntry.queries("s15_hybrid_rrf")(spark, sf).collect()
    val b = SparkEntry.queries("s23_hybrid_bm25")(spark, sf).collect()
    assert(b.nonEmpty && a.head.schema.fieldNames.sameElements(b.head.schema.fieldNames))
    val perQ = b.groupBy(_.getAs[Long]("q_id"))
    assert(perQ.values.forall(_.length <= 10)) // kOut bound
    b.foreach { r =>
      def optRank(c: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
      val expect = optRank("lex_rank").map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        optRank("vec_rank").map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getAs[Double]("rrf") - expect) < 1e-5)
    }
    def fusedSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"))).toSet
    assert(fusedSet(a) != fusedSet(b),
      "BM25 fused output is identical to TF-IDF's — weighting change not live")
    // ...but they rank the SAME corpus: per-query pick overlap is real
    val aDocs = a.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))).toSet
    val bDocs = b.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"))).toSet
    assert((aDocs intersect bDocs).nonEmpty)
  }

  test("s24 LexIndex: persisted-postings probe is BIT-IDENTICAL to the from-scratch BM25 arm; ingest re-weights globally") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{LexIndex, Similarity}
    val docs = Tables.documents(spark, sf)
    def armSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("lex_rank"))).toSet
    // (1) the central contract: probe == from-scratch arm, exactly
    val root1 = java.nio.file.Files.createTempDirectory("graft_lexidx").toString + "/ix"
    LexIndex.build(spark, root1, docs)
    val probed = LexIndex.probe(spark, root1, docs.filter(col("doc_id") < 8))
    val scratch = Similarity.bm25Arm(docs, 8, 20, 2.0, 1.2, 0.75)
    assert(armSet(probed) == armSet(scratch),
      "index probe diverged from the from-scratch BM25 arm")

    // (2) ingest re-weights GLOBALLY: build on 4/5 of the corpus,
    // ingest the held-out 1/5 — df/avgdl/n_docs all shift, every
    // doc's score legitimately changes, and the probe must equal a
    // from-scratch build on the FULL corpus with no rescoring pass
    val root2 = java.nio.file.Files.createTempDirectory("graft_lexidx2").toString + "/ix"
    LexIndex.build(spark, root2, docs.filter(col("doc_id") % 5 =!= 0))
    LexIndex.ingest(spark, root2, docs.filter(col("doc_id") % 5 === 0))
    val probedGrown = LexIndex.probe(spark, root2, docs.filter(col("doc_id") < 8))
    assert(armSet(probedGrown) == armSet(scratch),
      "probe after ingest diverged from a from-scratch build on the grown corpus")

    // (3) probe-only discipline (the d12 evidence): repeated s24 runs
    // hit the cached indexes — no rebuild per query
    val embs = Tables.embeddings(spark, sf)
    Similarity.hybridBm25IndexedAuto(docs, embs).count()
    val before = LexIndex.indexBuilds
    Similarity.hybridBm25IndexedAuto(docs, embs).count()
    assert(LexIndex.indexBuilds == before, "lexical index rebuilt instead of probed")

    // (4) the corpus is not scanned at query time: a probe with an
    // in-memory query frame must not touch documents.parquet
    import spark.implicits._
    val qframe = Seq((3L, "the of and")).toDF("doc_id", "text")
    val qdf = LexIndex.probe(spark, root1, qframe)
    qdf.collect()
    val plan = qdf.queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      s"probe read the corpus instead of the index:\n$plan")
  }

  test("s24 LexIndex delete: partition-scoped erasure re-weights globally and is idempotent") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{LexIndex, Similarity}
    val docs = Tables.documents(spark, sf)
    def armSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("lex_rank"))).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_lexdel").toString + "/ix"
    LexIndex.build(spark, root, docs)
    // tokenized victims, query docs kept (the delete contract: a
    // zero-token victim has no detectable index state)
    val victims = docs.filter(col("doc_id") % 7 === 3 &&
      col("doc_id") >= 8 && col("n_chars") > 0)
    LexIndex.delete(spark, root, victims)
    val queries = docs.filter(col("doc_id") < 8)
    val remaining = docs.join(victims.select(col("doc_id").as("v")),
      col("doc_id") === col("v"), "left_anti").drop("v")
    // after erasure the probe equals a FROM-SCRATCH build on
    // corpus-minus-victims: df, avgdl and n_docs all shifted, every
    // surviving doc re-weighted with no rescoring pass
    val scratch = Similarity.bm25Arm(remaining, 8, 20, 2.0, 1.2, 0.75)
    assert(armSet(LexIndex.probe(spark, root, queries)) == armSet(scratch),
      "post-delete probe diverged from a from-scratch build on the shrunken corpus")
    // idempotent: absent victims force no rewrite and no drift
    LexIndex.delete(spark, root, victims)
    assert(armSet(LexIndex.probe(spark, root, queries)) == armSet(scratch),
      "re-deleting absent victims changed the index")
    // compaction folds ingest/delete fragmentation, moves no rows
    LexIndex.compact(spark, root)
    assert(armSet(LexIndex.probe(spark, root, queries)) == armSet(scratch),
      "compaction changed probe results")
  }

  test("s24 LexIndex manifest: probes pin one snapshot (orphan commits invisible, superseded by the next ingest); txn replay is a no-op") {
    import org.apache.spark.sql.functions._
    import graft.operators.{LexIndex, Similarity, TextOps}
    import graft.sources.VersionedTable
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def armSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("lex_rank"))).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_lexman").toString + "/ix"
    LexIndex.build(spark, root, docs.filter(col("doc_id") % 5 =!= 0))
    val queries = docs.filter(col("doc_id") < 8)
    val probed = LexIndex.probe(spark, root, queries)
    // one type on every exit path (the rrfFusion contract)
    assert(probed.schema("lex_rank").dataType ==
      org.apache.spark.sql.types.LongType)
    val p1 = armSet(probed)
    // simulate a CRASHED ingest: postings committed, manifest never
    // flipped — doc 3's postings land a second time at the raw head.
    // If probes read the head instead of the manifest pin, doc 3's
    // doubled tf shifts its score against every query.
    val tf3 = TextOps.tfFrame(docs.filter(col("doc_id") === 3))
    val dl3 = tf3.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val junk = tf3.join(dl3, Seq("doc_id")).withColumn("bucket",
      pmod(hash(col("term")), lit(LexIndex.NumBuckets)).cast("string"))
    val pRoot = s"$root/postings"
    VersionedTable.appendPartitioned(spark, pRoot, junk, "bucket",
      VersionedTable.currentVersion(spark, pRoot).get)
    assert(armSet(LexIndex.probe(spark, root, queries)) == p1,
      "a crashed ingest's orphan commit leaked into a probe")
    // the next SUCCESSFUL ingest carries the MANIFEST-pinned entries,
    // so the orphan is superseded: the grown index equals a
    // from-scratch build on the true corpus (no doubled doc 3)
    val before = LexIndex.ingests
    LexIndex.ingest(spark, root, docs.filter(col("doc_id") % 5 === 0),
      txn = Some(("lexman_app", 7L)))
    val p3 = armSet(LexIndex.probe(spark, root, queries))
    assert(p3 == armSet(Similarity.bm25Arm(docs, 8, 20, 2.0, 1.2, 0.75)),
      "post-ingest probe diverged from from-scratch — orphan resurrected or pins stale")
    assert(p3 != p1, "ingest did not change the served snapshot")
    // replayed micro-batch (same appId, batchId ≤ recorded): no-op —
    // no double postings, no double-counted scalars, counter untouched
    LexIndex.ingest(spark, root, docs.filter(col("doc_id") % 5 === 0),
      txn = Some(("lexman_app", 7L)))
    LexIndex.ingest(spark, root, docs.filter(col("doc_id") % 5 === 0),
      txn = Some(("lexman_app", 3L)))
    assert(LexIndex.ingests - before == 1,
      s"replayed txn batches re-ingested: ${LexIndex.ingests - before} ingests")
    assert(armSet(LexIndex.probe(spark, root, queries)) == p3,
      "replayed txn batch changed the index")
    // a SECOND writer's commit must not evict the first's replay
    // guard (per-appId map, not a single last-writer slot): app2
    // commits, then app1's batch 7 replays — still a no-op
    LexIndex.ingest(spark, root, docs.filter(col("doc_id") < 0),
      txn = Some(("lexman_app2", 1L)))
    LexIndex.ingest(spark, root, docs.filter(col("doc_id") % 5 === 0),
      txn = Some(("lexman_app", 7L)))
    assert(LexIndex.ingests - before == 2, // app2's one real ingest only
      "a second app's commit evicted the first's txn marker")
    assert(armSet(LexIndex.probe(spark, root, queries)) == p3,
      "interleaved-writer replay changed the index")
  }

  test("GraphIndex.bucketOfId replicates the SQL bucket expression exactly (the driver-side dir resolution)") {
    import org.apache.spark.sql.functions._
    import graft.operators.GraphIndex
    // the probe resolves candidate buckets driver-side (zero jobs per
    // pass); the table was WRITTEN with pmod(hash(vec_id), 32) — the
    // two must agree on every long or a probe opens the wrong dirs.
    // Wide range incl. negatives, boundaries, and large magnitudes.
    val ids = (-3L to 4096L) ++ Seq(Long.MinValue, Long.MinValue + 1,
      -987654321098765L, 987654321098765L, Int.MaxValue.toLong,
      Int.MaxValue + 1L, Long.MaxValue - 1, Long.MaxValue)
    import spark.implicits._
    val sqlSide = ids.toDF("vec_id")
      .select(col("vec_id"),
        pmod(hash(col("vec_id")), lit(GraphIndex.NumBuckets))
          .cast("string").as("b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    ids.foreach { id =>
      assert(GraphIndex.bucketOfId(id) == sqlSide(id),
        s"bucketOfId($id) = ${GraphIndex.bucketOfId(id)} != SQL ${sqlSide(id)}")
    }
  }

  test("s25 graph-ANN: persisted-graph probe equals the inline walk; hops are dir-pruned; repeated probes build nothing") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{GraphIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    def rset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_gidx").toString + "/ix"
    GraphIndex.build(spark, root, emb)
    val probed = Similarity.graphAnnTopK(emb)
    assert(rset(GraphIndex.probe(spark, root, emb)) == rset(probed),
      "persisted-graph probe diverged from the inline walk")
    // dir-pruning, pinned on the actual per-pass IO: each pass makes
    // ONE node-record fetch opening ≤ the pass's candidate-id buckets
    // (entry: ≤ 8 seeds; each hop: ≤ beam·graphK = 12 fresh ids for a
    // single query) — a corpus or full-index scan would need all
    // NumBuckets, and a split edges/vectors layout would need TWO
    // fetches per hop
    GraphIndex.probe(spark, root, emb, maxQueryId = 1).collect()
    assert(GraphIndex.lastProbeBucketCounts.size == 4,
      s"expected entry + 3 hop fetches: ${GraphIndex.lastProbeBucketCounts}")
    assert(GraphIndex.lastProbeBucketCounts.head > 0 &&
      GraphIndex.lastProbeBucketCounts.head <= 8,
      s"entry fetch opened ${GraphIndex.lastProbeBucketCounts.head} buckets for 8 seeds")
    GraphIndex.lastProbeBucketCounts.tail.foreach { c =>
      assert(c <= 12, s"hop fetched $c buckets for ≤12 fresh candidates")
    }
    // repeated retrieval is probe-only
    val before = GraphIndex.indexBuilds
    GraphIndex.probe(spark, root, emb).collect()
    assert(GraphIndex.indexBuilds == before, "graph index rebuilt instead of probed")
    // the walk finds REAL neighbors: nonzero overlap with the exact
    // top-k NEIGHBOR SETS (rank-free — the walk may order hits apart)
    def pairs(s: Set[(Long, Long, Long)]) = s.map(t => (t._1, t._3))
    val exact = rset(Similarity.bruteForceTopK(emb, 8, 3))
    assert((pairs(rset(probed)) intersect pairs(exact)).nonEmpty,
      "graph walk found none of the exact top-k")
  }

  test("s29 PQ-navigated walk: indexed probe equals the inline arm; hop reads never touch the embedding column; the re-rank is one bounded fetch") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{GraphIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    def rset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_gpq").toString + "/ix"
    GraphIndex.build(spark, root, emb, withCodes = true)
    val inline = Similarity.graphPqTopK(emb)
    assert(rset(GraphIndex.probePq(spark, root, emb)) == rset(inline),
      "PQ-navigated indexed probe diverged from the inline walk")
    // the DiskANN split, pinned on actual IO: per-pass fetches are
    // dir-pruned (entry ≤ 8 seed buckets, hops ≤ beam·graphK = 12,
    // re-rank ≤ visited buckets = NumBuckets) and the hop fetch's
    // scan plan reads ONLY (vec_id, nbrs, codes) — the fat embedding
    // column is touched once, by the final exact re-rank
    GraphIndex.probePq(spark, root, emb, maxQueryId = 1).collect()
    assert(GraphIndex.lastProbeBucketCounts.size == 5, // entry + 3 hops + rerank
      s"expected entry + 3 hops + rerank: ${GraphIndex.lastProbeBucketCounts}")
    assert(GraphIndex.lastProbeBucketCounts.head <= 8 &&
      GraphIndex.lastProbeBucketCounts.slice(1, 4).forall(_ <= 12),
      s"unpruned pass: ${GraphIndex.lastProbeBucketCounts}")
    val schemaLine = GraphIndex.lastNavReadSchema.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(schemaLine.nonEmpty && !schemaLine.contains("embedding"),
      s"hop fetch reads the embedding column: $schemaLine")
    // a plain (code-less) index refuses PQ probes instead of failing
    // deep inside the walk
    val bare = java.nio.file.Files.createTempDirectory("graft_gpqb").toString + "/ix"
    GraphIndex.build(spark, bare, emb)
    intercept[IllegalArgumentException] {
      GraphIndex.probePq(spark, bare, emb)
    }
    // the ADC-guided walk finds REAL neighbors: nonzero overlap with
    // the exact top-k neighbor sets (rank-free)
    def pairs(s: Set[(Long, Long, Long)]) = s.map(t => (t._1, t._3))
    val exact = rset(Similarity.bruteForceTopK(emb, 8, 3))
    assert((pairs(rset(inline)) intersect pairs(exact)).nonEmpty,
      "PQ-guided walk found none of the exact top-k")
  }

  test("Caching.planStamp: equal derivations share a stamp, different ones never collide, synthetic frames are uncacheable") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Caching
    import spark.implicits._
    val a = Tables.events(spark, sf)
    val b = Tables.events(spark, sf) // separately-built identical plan
    assert(Caching.planStamp(a).nonEmpty)
    assert(Caching.planStamp(a) == Caching.planStamp(b),
      "identical derivations got different stamps — cache can never hit")
    // same files, different derivation: must NOT share (the wrong-hit
    // hazard bareScan existed to prevent)
    assert(Caching.planStamp(a.filter(col("event_id") % 2 === 0)) !=
      Caching.planStamp(a), "a filtered frame collided with its scan")
    assert(Caching.planStamp(a.select(col("event_id"))) !=
      Caching.planStamp(a), "a projection collided with its scan")
    // no input files = no identity = uncacheable
    assert(Caching.planStamp(Seq((1L, "x")).toDF("k", "v")).isEmpty)
  }

  test("s28 indexed filtered probe equals the inline arm (the build-once serving path the bench row takes)") {
    import graft.operators.{GraphIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    def rset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"),
        r.getAs[Int]("label"))).toSet
    assert(rset(GraphIndex.probeFilteredAuto(emb)) ==
           rset(Similarity.graphFilteredTopK(emb)),
      "indexed filtered probe diverged from the inline walk")
  }

  test("s28 filtered graph-ANN: ineligible nodes carry connectivity, results rank eligible only") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // query 0 (label 0) sits inside a tight INELIGIBLE cluster
    // (10/11/13, label 1); its eligible twin 99 is inside that same
    // cluster. Every walk step toward 99 passes through label-1
    // nodes — a frontier that dropped them would never arrive.
    val rows = Seq(
      (0L, v(0.9, 0.1, 0.0, 0.0), 0),   // the query, label 0
      (1L, v(1.0, 0.0, 0.0, 0.0), 1),   // centroid A
      (2L, v(0.0, 1.0, 0.0, 0.0), 1),   // centroid B
      (10L, v(0.88, 0.12, 0.0, 0.0), 1), // ineligible, nearest to 0
      (11L, v(0.86, 0.14, 0.0, 0.0), 1), // ineligible
      (13L, v(0.84, 0.16, 0.02, 0.0), 1), // ineligible
      (99L, v(0.89, 0.11, 0.0, 0.0), 0), // the eligible twin
      (12L, v(0.1, 0.9, 0.0, 0.1), 0),  // far eligible
      (14L, v(0.0, 0.95, 0.2, 0.1), 0)  // far eligible
    ).toDF("vec_id", "embedding", "label")
    val res = Similarity.graphFilteredTopK(rows, maxQueryId = 1, k = 3,
      nSeeds = 4, centIds = Seq(1L, 2L))
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(res.nonEmpty, "filtered walk returned nothing")
    assert(res.forall(_.getAs[Int]("label") == 0),
      s"ineligible label leaked into results: ${res.toSeq}")
    assert(res.head.getAs[Long]("neighbor_id") == 99L,
      s"eligible twin not found through the ineligible cluster: ${res.toSeq}")
  }

  test("s30 hierarchical graph-ANN: the layered descent localizes the entry a flat walk misses; levels are geometric and the walk is budget-bounded") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // Three clusters on an arc (A=0°, B=50°, C=80°), 4+ nodes each, so
    // every node's level-0 top-3 stays INSIDE its cluster — no flat
    // path crosses clusters. Levels are id-derived (the LCG hash):
    // exactly ids 2/5/10 sit on level >= 2 (one per cluster, the only
    // non-level-0 ids in the corpus), so the upper-level kNN graphs are
    // forced cross-cluster (a sparse layer's neighbors CANNOT be local)
    // — the long-range links the hierarchy claims to provide.
    val rows = Seq(
      (0L, v(0.170, 0.9855, 0.0, 0.0), 0),  // the query, cluster C
      (2L, v(1.0, 0.0, 0.0, 0.0), 0),       // a2: level>=2, cluster A
      (3L, v(0.999, 0.045, 0.0, 0.0), 0),   // centroid A (level 0)
      (4L, v(0.998, 0.063, 0.0, 0.0), 0),
      (7L, v(0.9995, 0.0314, 0.0, 0.0), 0),
      (5L, v(0.643, 0.766, 0.0, 0.0), 0),   // b2: level>=2, cluster B
      (8L, v(0.646, 0.763, 0.0, 0.0), 0),   // centroid B (level 0)
      (11L, v(0.640, 0.768, 0.01, 0.0), 0),
      (12L, v(0.649, 0.760, 0.0, 0.01), 0),
      (10L, v(0.172, 0.9851, 0.0, 0.0), 0), // c2: level>=2, cluster C
      (15L, v(0.176, 0.9844, 0.0, 0.0), 0), // centroid C (level 0)
      (16L, v(0.180, 0.9837, 0.0, 0.0), 0),
      (19L, v(0.184, 0.9829, 0.0, 0.0), 0),
      (23L, v(0.171, 0.9853, 0.0, 0.0), 0)  // the query's twin, cluster C
    ).toDF("vec_id", "embedding", "label")
    val cents = Seq(3L, 8L, 15L)
    // FLAT walk at the same level-0 budget: k-center entry (pick 1 is
    // the query itself, excluded; pick 2 is the farthest node = cluster
    // A) — stuck in A because no level-0 edge leaves a cluster
    val flat = Similarity.graphAnnTopK(rows, maxQueryId = 1, k = 3,
        nSeeds = 2, centIds = cents)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(flat.nonEmpty && !flat.contains(23L),
      s"flat walk reached the twin — the corpus does not isolate clusters: $flat")
    // HIERARCHICAL walk, same level-0 budget: enters at {2,5} on the
    // top layer, descends A->B->C through the forced long-range edges,
    // and the level-0 walk starts INSIDE cluster C
    val hier = Similarity.graphHierTopK(rows, maxQueryId = 1, k = 3,
        centIds = cents)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(hier.nonEmpty && hier.head.getAs[Long]("neighbor_id") == 23L,
      s"hierarchical descent did not localize the entry: ${hier.toSeq}")
    // level membership is GEOMETRIC on the real corpus (p=1/2 per
    // level, the HNSW shape) — the id-hash is a real level sampler
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toDouble
    val n1 = emb.filter(org.apache.spark.sql.functions.expr(
      Similarity.levelCondSql(1))).count().toDouble
    val n2 = emb.filter(org.apache.spark.sql.functions.expr(
      Similarity.levelCondSql(2))).count().toDouble
    assert(math.abs(n1 / n - 0.5) < 0.1, s"level>=1 fraction ${n1 / n}")
    assert(math.abs(n2 / n - 0.25) < 0.1, s"level>=2 fraction ${n2 / n}")
    // the whole descent is budget-bounded: per query, visited <=
    // (2 + uH*uB*gk) + (maxLevel-1)*(1 + uH*uB*gk) + (1 + hops*beam*gk)
    // = 52 at the defaults — never a corpus-shaped frame
    val vis = Similarity.graphHierWalk(emb, maxQueryId = 8, beam = 4,
        hops = 3, graphK = 3, nProbe = 2, maxLevel = 2, upperBeam = 1,
        upperHops = 2, Similarity.centroidIds)
      .groupBy(col("q_id")).count().collect()
    assert(vis.nonEmpty && vis.forall(_.getAs[Long]("count") <= 52),
      s"visited exceeded the hop budget: ${vis.map(_.getAs[Long]("count")).max}")
  }

  test("s30 persisted hierarchy: indexed descent == inline bit-identical; fetches dir-pruned; deletes suppress; plain index refuses") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{GraphIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    def rset(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
       r.getAs[Long]("neighbor_id"))).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_ghier").toString + "/ix"
    GraphIndex.buildHier(spark, root, emb)
    val indexed = GraphIndex.probeHier(spark, root, emb)
    assert(rset(indexed) == rset(Similarity.graphHierTopK(emb)),
      "persisted hierarchical probe diverged from the inline descent")
    // dir-pruning pinned on actual IO: every fetch (upper vec + upper
    // adj + level-0) opens <= the pass's candidate-id buckets — entry
    // <= 2 top ids, upper hops <= upperBeam*graphK, level-0 hops <=
    // beam*graphK = 12 — never the full bucket set
    GraphIndex.probeHier(spark, root, emb, maxQueryId = 1).collect()
    val counts = GraphIndex.lastProbeBucketCounts
    // per upper level: entry + upperHops passes = 3 (one bucket list
    // serves BOTH tables' fragments); level 0: entry + 3 hops = 4
    assert(counts.size == 10, s"unexpected fetch passes: $counts")
    assert(counts.forall(_ <= 12), s"unpruned fetch: $counts")
    // a delete is total across ALL levels: the victim (an upper-level
    // id guaranteed by the hash) vanishes from hier probes
    val victim = indexed.collect().map(_.getAs[Long]("neighbor_id")).head
    GraphIndex.delete(spark, root,
      spark.range(victim, victim + 1).select(col("id").as("vec_id")))
    val after = GraphIndex.probeHier(spark, root, emb)
    assert(!after.collect().map(_.getAs[Long]("neighbor_id")).contains(victim),
      s"retired id $victim still served by the hierarchical probe")
    // a hierarchy-less index REFUSES hier probes instead of walking
    // a half-built layout
    val bare = java.nio.file.Files.createTempDirectory("graft_ghb").toString + "/ix"
    GraphIndex.build(spark, bare, emb)
    intercept[IllegalArgumentException] {
      GraphIndex.probeHier(spark, bare, emb)
    }
  }

  test("t30 chunk windows: full coverage, stride-bounded overlap, clamped full-width tail, one chunk for short docs") {
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    import spark.implicits._
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"w$i").mkString(" "))
    // n=10 (one stride past the window), n=3 (short), n=13 (clamped
    // tail), n=8 (exactly the window), n=9 (minimal overflow)
    val docs = Seq(doc(1, 10), doc(2, 3), doc(3, 13), doc(4, 8), doc(5, 9))
      .toDF("doc_id", "text")
    val W = 8; val S = 4
    val out = TextOps.chunkWindows(docs, window = W, stride = S).collect()
    val byDoc = out.groupBy(_.getAs[Long]("doc_id")).view
      .mapValues(_.sortBy(_.getAs[Long]("chunk_id"))).toMap
    // short doc: exactly one chunk, the whole doc
    assert(byDoc(2L).length == 1 && byDoc(2L).head.getAs[Long]("n_tok") == 3
      && byDoc(2L).head.getAs[String]("chunk_text") == "w1 w2 w3")
    // exactly-window doc: one full chunk
    assert(byDoc(4L).length == 1 && byDoc(4L).head.getAs[Long]("n_tok") == W)
    // minimal overflow (n=W+1): two chunks, the second clamped to
    // start 1 — NOT stride-aligned, still full-width
    assert(byDoc(5L).map(_.getAs[Long]("start_tok")).toSeq == Seq(0L, 1L))
    byDoc.foreach { case (id, chunks) =>
      val n = docs.filter(col("doc_id") === id).select(
        org.apache.spark.sql.functions.expr("size(split(trim(text), '\\\\s+'))"))
        .head().getInt(0).toLong
      // every token index is inside some chunk window
      val covered = chunks.flatMap { c =>
        val st = c.getAs[Long]("start_tok")
        st until (st + c.getAs[Long]("n_tok"))
      }.toSet
      assert(covered == (0L until n).toSet, s"doc $id coverage hole")
      // chunks over the window are ALWAYS full-width (the clamp's
      // point: no degenerate tail), consecutive starts advance by <= S
      if (n > W) assert(chunks.forall(_.getAs[Long]("n_tok") == W), s"doc $id short tail")
      chunks.map(_.getAs[Long]("start_tok")).sliding(2).foreach {
        case Array(a, b) => assert(b > a && b - a <= S, s"doc $id stride gap $a->$b")
        case _ =>
      }
      // chunk text IS the token slice (reconstruction, not a digest)
      val c0 = chunks.head
      assert(c0.getAs[String]("chunk_text") ==
        (1 to math.min(W.toLong, n).toInt).map(i => s"w$i").mkString(" "))
    }
    // amplification at the defaults on the real corpus is the designed
    // window/stride ratio, not an accident: chunks/doc stays bounded
    val real = TextOps.chunkWindows(Tables.documents(spark, sf))
    val docsN = Tables.documents(spark, sf).count()
    val chunksN = real.count()
    assert(chunksN >= docsN, "fewer chunks than documents")
    val tokSum = Tables.documents(spark, sf).select(
      org.apache.spark.sql.functions.expr(
        "sum(size(split(trim(text), '\\\\s+')))")).head().getLong(0)
    // upper bound: one chunk per stride of corpus tokens + one
    // clamped tail per doc
    assert(chunksN <= tokSum / 24 + 2 * docsN,
      s"chunk blowup: $chunksN chunks for $tokSum tokens / $docsN docs")
  }

  test("s27 GraphIndex ingest: an arrival is invisible pre-ingest and serves as top-1 for its twin query after bidirectional insertion") {
    import org.apache.spark.sql.functions.col
    import graft.operators.GraphIndex
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray // FLOAT[]: VecDot reads getFloat
    // engineered corpus: query 0's EXACT twin arrives as id 99 — its
    // true rank is 1, but a walk can only reach it if ingest added
    // edges pointing AT it (the bidirectional-insertion claim)
    val rows = Seq(
      (0L, v(0.9, 0.1, 0.0, 0.0), 0L),  // the query
      (1L, v(1.0, 0.0, 0.0, 0.0), 0L),  // centroid A
      (2L, v(0.0, 1.0, 0.0, 0.0), 0L),  // centroid B
      (10L, v(0.8, 0.3, 0.1, 0.0), 0L),
      (11L, v(0.7, 0.2, 0.2, 0.0), 0L),
      (12L, v(0.1, 0.9, 0.0, 0.1), 0L),
      (13L, v(0.2, 0.8, 0.1, 0.0), 0L),
      (14L, v(0.6, 0.4, 0.0, 0.1), 0L),
      (99L, v(0.9, 0.1, 0.0, 0.0), 0L)  // the arrival: the query's twin
    ).toDF("vec_id", "embedding", "label")
    val old = rows.filter(col("vec_id") =!= 99L)
    val root = java.nio.file.Files.createTempDirectory("graft_ging").toString + "/ix"
    GraphIndex.build(spark, root, old, graphK = 3, nProbe = 2, nSeeds = 4,
      centIds = Seq(1L, 2L))
    val pre = GraphIndex.probe(spark, root, rows, maxQueryId = 1, k = 3).collect()
    assert(pre.nonEmpty &&
      !pre.map(_.getAs[Long]("neighbor_id")).contains(99L),
      "unindexed arrival surfaced before ingest")
    GraphIndex.ingest(spark, root, rows, rows.filter(col("vec_id") === 99L),
      graphK = 3, nProbe = 2, centIds = Seq(1L, 2L))
    val post = GraphIndex.probe(spark, root, rows, maxQueryId = 1, k = 3)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(post.head.getAs[Long]("neighbor_id") == 99L,
      s"arrival not served as top-1 after ingest: ${post.toSeq}")
  }

  test("GraphIndex hierarchy-aware ingest: a high-level arrival routes entries immediately; ingested hierarchy equals a from-scratch rebuild") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{GraphIndex, Similarity}
    import graft.sources.VersionedTable
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // the s30 arc fixture: clusters A/B/C, level-0 edges never cross
    // clusters; ids 2/5/10 are the only level>=1 ids (one per
    // cluster). Build WITHOUT cluster C's upper node (10) and the
    // query's twin (23) — then ingest both. Pre-fix, ingest appended
    // level 0 only: the descent entered at {2,5}, no upper edge led
    // to C, and the twin stayed unreachable until the next buildHier.
    val rows = Seq(
      (0L, v(0.170, 0.9855, 0.0, 0.0), 0),
      (2L, v(1.0, 0.0, 0.0, 0.0), 0),
      (3L, v(0.999, 0.045, 0.0, 0.0), 0),
      (4L, v(0.998, 0.063, 0.0, 0.0), 0),
      (7L, v(0.9995, 0.0314, 0.0, 0.0), 0),
      (5L, v(0.643, 0.766, 0.0, 0.0), 0),
      (8L, v(0.646, 0.763, 0.0, 0.0), 0),
      (11L, v(0.640, 0.768, 0.01, 0.0), 0),
      (12L, v(0.649, 0.760, 0.0, 0.01), 0),
      (10L, v(0.172, 0.9851, 0.0, 0.0), 0), // arrival: level>=2, cluster C
      (15L, v(0.176, 0.9844, 0.0, 0.0), 0),
      (16L, v(0.180, 0.9837, 0.0, 0.0), 0),
      (19L, v(0.184, 0.9829, 0.0, 0.0), 0),
      (23L, v(0.171, 0.9853, 0.0, 0.0), 0)  // arrival: level 0, the twin
    ).toDF("vec_id", "embedding", "label")
    val cents = Seq(3L, 8L, 15L)
    val old = rows.filter(!col("vec_id").isin(10L, 23L))
    val root = java.nio.file.Files.createTempDirectory("graft_hing").toString + "/ix"
    GraphIndex.buildHier(spark, root, old, nSeeds = 2, centIds = cents)
    val pre = GraphIndex.probeHier(spark, root, rows, maxQueryId = 1, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(!pre.contains(23L) && !pre.contains(10L),
      s"unindexed arrivals surfaced before ingest: $pre")
    GraphIndex.ingest(spark, root, rows, rows.filter(col("vec_id").isin(10L, 23L)),
      centIds = cents)
    // the high-level arrival routes entries NOW: the descent crosses
    // to cluster C through 10's upper-level (reverse) edges and the
    // level-0 walk finds the twin
    val post = GraphIndex.probeHier(spark, root, rows, maxQueryId = 1, k = 3)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(post.nonEmpty && post.head.getAs[Long]("neighbor_id") == 23L,
      s"descent did not route through the ingested upper node: ${post.toSeq}")
    // ...and it was the HIERARCHY that did it: the flat walk over the
    // same ingested index (same level-0 budget, build-time seeds)
    // still cannot cross into cluster C
    val flat = GraphIndex.probe(spark, root, rows, maxQueryId = 1, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert(!flat.contains(23L),
      s"flat walk reached the twin — the fixture no longer isolates: $flat")
    // hierarchy row census: the arrival owns a row per touched level,
    // and its upper-level peers carry reverse fragments pointing at it
    val hn = VersionedTable.read(spark, s"$root/hnodes")
    for (l <- 1 to 2) {
      assert(!hn.filter(col("vec_id") === 10L && col("lvl") === l).isEmpty,
        s"ingested arrival missing its level-$l record")
      assert(!hn.filter(col("lvl") === l &&
          org.apache.spark.sql.functions.array_contains(col("nbrs"), 10L) &&
          col("vec_id") =!= 10L).isEmpty,
        s"no reverse edge to the arrival at level $l")
    }
    // level-0 arrival (23) must NOT leak into the hierarchy
    assert(hn.filter(col("vec_id") === 23L).isEmpty,
      "level-0 arrival got hierarchy rows")
    // on this fixture the ingested hierarchy's edge SET equals a
    // from-scratch buildHier on the grown corpus (upper subsets are
    // {2,5,10}, graphK=3 keeps every mutual pair), so the descent
    // must match the rebuild bit-for-bit
    val root2 = java.nio.file.Files.createTempDirectory("graft_hing2").toString + "/ix"
    GraphIndex.buildHier(spark, root2, rows, nSeeds = 2, centIds = cents)
    def rset(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
       r.getAs[Long]("neighbor_id"))).toSet
    assert(rset(GraphIndex.probeHier(spark, root, rows, maxQueryId = 1, k = 3))
        == rset(GraphIndex.probeHier(spark, root2, rows, maxQueryId = 1, k = 3)),
      "ingested hierarchy diverged from the from-scratch rebuild")
  }

  test("GraphIndex ingest refreshes the pinned hierarchy entries: a top-layer arrival with a lower id becomes an entry pin; level-0 ingest leaves pins alone") {
    import org.apache.spark.sql.functions.col
    import graft.operators.GraphIndex
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // the arc fixture again, but built WITHOUT id 2 — the only
    // level>=2 ids then are {5, 10}, so buildHier pins htop=[5,10].
    // Ingesting 2 (level 2, LOWER than both pins) must move the pins
    // to [2,5] — exactly what a from-scratch buildHier on the grown
    // corpus picks (two lowest of the grown top layer).
    val rows = Seq(
      (0L, v(0.170, 0.9855, 0.0, 0.0), 0),
      (2L, v(1.0, 0.0, 0.0, 0.0), 0),     // arrival: level 2
      (3L, v(0.999, 0.045, 0.0, 0.0), 0),
      (4L, v(0.998, 0.063, 0.0, 0.0), 0),
      (7L, v(0.9995, 0.0314, 0.0, 0.0), 0),
      (5L, v(0.643, 0.766, 0.0, 0.0), 0),
      (8L, v(0.646, 0.763, 0.0, 0.0), 0),
      (11L, v(0.640, 0.768, 0.01, 0.0), 0),
      (12L, v(0.649, 0.760, 0.0, 0.01), 0),
      (10L, v(0.172, 0.9851, 0.0, 0.0), 0),
      (15L, v(0.176, 0.9844, 0.0, 0.0), 0),
      (16L, v(0.180, 0.9837, 0.0, 0.0), 0),
      (23L, v(0.171, 0.9853, 0.0, 0.0), 0) // arrival: level 0
    ).toDF("vec_id", "embedding", "label")
    val cents = Seq(3L, 8L, 15L)
    val old = rows.filter(!col("vec_id").isin(2L, 23L))
    val root = java.nio.file.Files.createTempDirectory("graft_hpin").toString + "/ix"
    GraphIndex.buildHier(spark, root, old, nSeeds = 2, centIds = cents)
    assert(GraphIndex.readHierMeta(spark, root).map(_._2) == Some(Seq(5L, 10L)),
      "build-time pins are not the two lowest top-layer ids")
    // a level-0 arrival must not rewrite the meta
    GraphIndex.ingest(spark, root, rows.filter(col("vec_id") =!= 2L),
      rows.filter(col("vec_id") === 23L), centIds = cents)
    assert(GraphIndex.readHierMeta(spark, root).map(_._2) == Some(Seq(5L, 10L)),
      "a level-0 ingest moved the entry pins")
    // the top-layer arrival becomes a pin (two lowest of the grown top)
    GraphIndex.ingest(spark, root, rows,
      rows.filter(col("vec_id") === 2L), centIds = cents)
    assert(GraphIndex.readHierMeta(spark, root).map(_._2) == Some(Seq(2L, 5L)),
      "a top-layer ingest did not refresh the entry pins")
    // ...and the refreshed pins serve: descent equals a from-scratch
    // buildHier on the grown corpus (which pins [2,5] at build)
    val root2 = java.nio.file.Files.createTempDirectory("graft_hpin2").toString + "/ix"
    GraphIndex.buildHier(spark, root2, rows, nSeeds = 2, centIds = cents)
    def rset(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
       r.getAs[Long]("neighbor_id"))).toSet
    assert(rset(GraphIndex.probeHier(spark, root, rows, maxQueryId = 1, k = 3))
        == rset(GraphIndex.probeHier(spark, root2, rows, maxQueryId = 1, k = 3)),
      "pin-refreshed descent diverged from the from-scratch rebuild")
    // exactly-once across the TWO commits (nodes + hnodes): simulate
    // the replay of an ingest that crashed between the hierarchy
    // append and the node append — the hier marker exists, the node
    // marker does not. The replay must SKIP the hierarchy (no
    // duplicate upper rows) and still land the nodes; a second full
    // replay must then change neither table.
    import graft.sources.VersionedTable
    val root3 = java.nio.file.Files.createTempDirectory("graft_hpin3").toString + "/ix"
    GraphIndex.buildHier(spark, root3, old, nSeeds = 2, centIds = cents)
    val hnT = s"$root3/hnodes"
    val hv0 = VersionedTable.currentVersion(spark, hnT).get
    VersionedTable.appendPartitioned(spark, hnT, // plant the crash point
      VersionedTable.read(spark, hnT).limit(0), // the table's own columns
      "bucket", hv0, txn = Some(("st16x#hier", 0L)))
    GraphIndex.ingest(spark, root3, rows.filter(col("vec_id") =!= 23L),
      rows.filter(col("vec_id") === 2L), centIds = cents,
      txn = Some(("st16x", 0L)))
    val ndT = s"$root3/nodes"
    assert(VersionedTable.currentVersion(spark, hnT).get == hv0 + 1,
      "a replay with the hier marker present re-appended hierarchy rows")
    val nv1 = VersionedTable.currentVersion(spark, ndT).get
    assert(VersionedTable.read(spark, ndT)
        .filter(col("vec_id") === 2L).count() >= 1,
      "the crash-point replay did not land the node records")
    GraphIndex.ingest(spark, root3, rows.filter(col("vec_id") =!= 23L),
      rows.filter(col("vec_id") === 2L), centIds = cents,
      txn = Some(("st16x", 0L)))
    assert(VersionedTable.currentVersion(spark, ndT).get == nv1 &&
           VersionedTable.currentVersion(spark, hnT).get == hv0 + 1,
      "a full replay after the commit point wrote again")
  }

  test("st16 streaming graph ingest: drain equals the batch twin; a non-seed arrival is served; ingest is txn-idempotent per commit") {
    import org.apache.spark.sql.functions._
    import graft.operators.{GraphIndex, Similarity}
    import graft.sources.VersionedTable
    def rset(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
       r.getAs[Long]("neighbor_id"))).toSet
    val out = SparkEntry.queries("st16_stream_graph_ingest")(spark, sf).collect()
    // batch twin: the same build → ingest(commit 0) → ingest(commit 1)
    // → probe sequence through the public API outside any stream
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
    val root = java.nio.file.Files.createTempDirectory("graft_st16_twin")
      .toString + "/ix"
    GraphIndex.build(spark, root, emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      centIds = Similarity.streamIngestCentroids)
    GraphIndex.ingest(spark, root, emb.filter(pmod(col("vec_id"), lit(3)) =!= 2),
      emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      centIds = Similarity.streamIngestCentroids)
    val nvAfter1 = VersionedTable.currentVersion(spark, s"$root/nodes").get
    // txn idempotence: replaying commit 0's ingest appends NOTHING
    GraphIndex.ingest(spark, root, emb.filter(pmod(col("vec_id"), lit(3)) =!= 2),
      emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      centIds = Similarity.streamIngestCentroids, txn = Some(("st16_twin", 0L)))
    // (the first ingest carried no marker, so batch 0 must be
    // replayed ONCE with the marker to establish it, then skipped)
    val nvMarked = VersionedTable.currentVersion(spark, s"$root/nodes").get
    GraphIndex.ingest(spark, root, emb.filter(pmod(col("vec_id"), lit(3)) =!= 2),
      emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      centIds = Similarity.streamIngestCentroids, txn = Some(("st16_twin", 0L)))
    assert(VersionedTable.currentVersion(spark, s"$root/nodes").get == nvMarked,
      "a replayed txn-marked ingest appended a new version")
    assert(nvMarked == nvAfter1 + 1, "marker-establishing ingest did not append")
    // rebuild the twin cleanly (the marker experiment double-ingested
    // batch 1's edges — harmless for reachability, wrong for equality)
    val root2 = java.nio.file.Files.createTempDirectory("graft_st16_twin2")
      .toString + "/ix"
    GraphIndex.build(spark, root2, emb.filter(pmod(col("vec_id"), lit(3)) === 0),
      centIds = Similarity.streamIngestCentroids)
    GraphIndex.ingest(spark, root2, emb.filter(pmod(col("vec_id"), lit(3)) =!= 2),
      emb.filter(pmod(col("vec_id"), lit(3)) === 1),
      centIds = Similarity.streamIngestCentroids)
    GraphIndex.ingest(spark, root2, emb,
      emb.filter(pmod(col("vec_id"), lit(3)) === 2),
      centIds = Similarity.streamIngestCentroids)
    val twin = GraphIndex.probe(spark, root2, Tables.embeddings(spark, sf))
      .collect()
    assert(rset(out) == rset(twin),
      s"stream drain diverged from the batch twin")
    // the ingested arrivals are LIVE in the served results: some
    // non-seed id (an arrival from either commit) ranks in the top-k
    assert(out.exists(_.getAs[Long]("neighbor_id") % 3 != 0),
      "no arrival served — the ingest rows are dead weight")
  }

  test("st17 streaming gram ingest: drain equals the batch twin; batch-2 spans reach batch-1 docs; append is txn-idempotent") {
    import org.apache.spark.sql.functions._
    import graft.operators.GramIndex
    import graft.sources.VersionedTable
    import spark.implicits._
    val out = SparkEntry.queries("st17_stream_gram_ingest")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4), r.getLong(5))).toSet
    // batch twin: build seed → probe b1 → append b1 → probe b2 outside
    // any stream
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_st17_twin")
      .toString + "/gx"
    GramIndex.build(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 0))
    def spansOf(mod: Int, b: Long): Set[(Long, Long, Long, Long, Long, Long)] =
      GramIndex.probe(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === mod))
        .collect().map(r => (b, r.getAs[Long]("batch_doc"),
          r.getAs[Long]("corpus_doc"), r.getAs[Long]("b_start"),
          r.getAs[Long]("c_start"), r.getAs[Long]("span_toks"))).toSet
    val s1 = spansOf(1, 0L)
    GramIndex.append(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 1))
    val vAfter = VersionedTable.currentVersion(spark, root).get
    // txn idempotence: a marked replay of the same batch is a no-op
    GramIndex.append(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 1),
      txn = Some(("st17_twin", 0L)))
    val vMarked = VersionedTable.currentVersion(spark, root).get
    assert(vMarked == vAfter + 1, "marker-establishing append did not commit")
    GramIndex.append(spark, root, docs.filter(pmod(col("doc_id"), lit(3)) === 1),
      txn = Some(("st17_twin", 0L)))
    assert(VersionedTable.currentVersion(spark, root).get == vMarked,
      "a replayed txn-marked append committed a new version")
    // the marker experiment double-appended batch 1 — rebuild cleanly
    val root2 = java.nio.file.Files.createTempDirectory("graft_st17_twin2")
      .toString + "/gx"
    GramIndex.build(spark, root2, docs.filter(pmod(col("doc_id"), lit(3)) === 0))
    def spansOf2(mod: Int, b: Long): Set[(Long, Long, Long, Long, Long, Long)] =
      GramIndex.probe(spark, root2, docs.filter(pmod(col("doc_id"), lit(3)) === mod))
        .collect().map(r => (b, r.getAs[Long]("batch_doc"),
          r.getAs[Long]("corpus_doc"), r.getAs[Long]("b_start"),
          r.getAs[Long]("c_start"), r.getAs[Long]("span_toks"))).toSet
    val s1b = spansOf2(1, 0L)
    assert(s1 == s1b)
    GramIndex.append(spark, root2, docs.filter(pmod(col("doc_id"), lit(3)) === 1))
    val s2 = spansOf2(2, 1L)
    assert(out == (s1b ++ s2), "stream drain diverged from the batch twin")
    // cross-batch reachability, engineered: a 20-token span shared by
    // a batch-1 doc (id%3==1) and a batch-2 doc (id%3==2), seed
    // unrelated — batch 2's probe must match THROUGH batch 1's
    // appended postings
    val shared = (1 to 20).map(i => s"xq$i").mkString(" ")
    val mini = Seq(
      (3L, "seed words only nothing shared here at all " +
        (1 to 12).map(i => s"z$i").mkString(" ")),
      (7L, s"prefix one $shared suffix one"),
      (11L, s"other lead-in $shared and a tail")
    ).toDF("doc_id", "text")
    val root3 = java.nio.file.Files.createTempDirectory("graft_st17_x")
      .toString + "/gx"
    GramIndex.build(spark, root3, mini.filter(col("doc_id") === 3L))
    assert(GramIndex.probe(spark, root3,
      mini.filter(col("doc_id") === 7L)).isEmpty)
    GramIndex.append(spark, root3, mini.filter(col("doc_id") === 7L))
    val cross = GramIndex.probe(spark, root3, mini.filter(col("doc_id") === 11L))
      .collect()
    assert(cross.nonEmpty &&
      cross.forall(_.getAs[Long]("corpus_doc") == 7L) &&
      cross.exists(_.getAs[Long]("span_toks") >= 16L),
      s"batch-2 probe did not reach the batch-1 doc: ${cross.toSeq}")
  }

  test("GraphIndex delete: retirement is O(batch) and total — victims vanish from probes; compact purges physically and changes nothing") {
    import org.apache.spark.sql.functions.col
    import graft.operators.GraphIndex
    import graft.sources.VersionedTable
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray // FLOAT[]: VecDot reads getFloat
    val rows = Seq(
      (0L, v(0.9, 0.1, 0.0, 0.0), 0L),
      (1L, v(1.0, 0.0, 0.0, 0.0), 0L),
      (2L, v(0.0, 1.0, 0.0, 0.0), 0L),
      (10L, v(0.8, 0.3, 0.1, 0.0), 0L),
      (11L, v(0.7, 0.2, 0.2, 0.0), 0L),
      (12L, v(0.1, 0.9, 0.0, 0.1), 0L),
      (13L, v(0.2, 0.8, 0.1, 0.0), 0L),
      (14L, v(0.6, 0.4, 0.0, 0.1), 0L),
      (99L, v(0.9, 0.1, 0.0, 0.0), 0L)
    ).toDF("vec_id", "embedding", "label")
    val root = java.nio.file.Files.createTempDirectory("graft_gdel").toString + "/ix"
    // 6 entry points: the query's own cluster must be enterable
    // WITHOUT the query (a query is never its own entry point)
    GraphIndex.build(spark, root, rows, graphK = 3, nProbe = 2, nSeeds = 6,
      centIds = Seq(1L, 2L))
    def rset() = GraphIndex.probe(spark, root, rows, maxQueryId = 1, k = 3)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val r0 = rset()
    assert(r0.exists { case (r, n) => r == 1L && n == 99L },
      s"twin not served pre-delete: $r0")
    GraphIndex.delete(spark, root, Seq(99L).toDF("vec_id"))
    val afterDel = rset()
    assert(!afterDel.exists(_._2 == 99L), "retired vector still served")
    GraphIndex.delete(spark, root, Seq(99L).toDF("vec_id")) // idempotent
    assert(rset() == afterDel, "re-retiring changed results")
    GraphIndex.compact(spark, root)
    assert(rset() == afterDel, "compact changed probe results")
    import org.apache.spark.sql.functions.{array_contains, explode}
    val nodes = VersionedTable.read(spark, s"$root/nodes")
    assert(nodes.filter(col("vec_id") === 99L ||
        array_contains(col("nbrs"), 99L)).isEmpty,
      "compact left the retired node or dangling edges in the table")
    // compact also FOLDS fragments: one record per survivor, each
    // carrying its vector (the read-merge contract collapses to 1:1)
    assert(nodes.filter(col("embedding").isNull).isEmpty &&
      nodes.groupBy(col("vec_id")).count()
        .filter(col("count") > 1).isEmpty,
      "compact left vector-less or duplicate record fragments")
  }

  test("GraphIndex rebuild signal: churn (ingests + retirements) trips rebuildRecommended; rebuild resets it AND the graveyard") {
    import org.apache.spark.sql.functions.col
    import graft.operators.GraphIndex
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, v(0.9, 0.1, 0.0, 0.0), 0L),
      (1L, v(1.0, 0.0, 0.0, 0.0), 0L),
      (2L, v(0.0, 1.0, 0.0, 0.0), 0L),
      (10L, v(0.8, 0.3, 0.1, 0.0), 0L),
      (11L, v(0.7, 0.2, 0.2, 0.0), 0L),
      (12L, v(0.1, 0.9, 0.0, 0.1), 0L),
      (13L, v(0.2, 0.8, 0.1, 0.0), 0L),
      (14L, v(0.6, 0.4, 0.0, 0.1), 0L),
      (99L, v(0.9, 0.1, 0.0, 0.0), 0L)
    ).toDF("vec_id", "embedding", "label")
    val old = rows.filter(col("vec_id") =!= 99L)
    val root = java.nio.file.Files.createTempDirectory("graft_gsig").toString + "/ix"
    // fresh build: no churn
    GraphIndex.build(spark, root, old, graphK = 3, nProbe = 2, nSeeds = 6,
      centIds = Seq(1L, 2L))
    assert(!GraphIndex.rebuildRecommended(spark, root), "fresh build flagged")
    // one arrival into 8 built = 12.5% churn — under the 25% threshold
    GraphIndex.ingest(spark, root, rows, rows.filter(col("vec_id") === 99L),
      graphK = 3, nProbe = 2, centIds = Seq(1L, 2L))
    assert(!GraphIndex.rebuildRecommended(spark, root),
      "sub-threshold churn flagged")
    // +2 retirements = 3/8 — the holes compact can't re-fill: over
    GraphIndex.delete(spark, root, Seq(13L, 14L).toDF("vec_id"))
    assert(GraphIndex.rebuildRecommended(spark, root),
      "37.5% churn not flagged")
    // compact purges physically but cannot re-rank: still due
    GraphIndex.compact(spark, root)
    assert(GraphIndex.rebuildRecommended(spark, root),
      "compact cleared the rebuild signal")
    // retire the twin, then REBUILD over a corpus that still holds it:
    // rebuild resets churn AND the graveyard (every list re-ranked
    // from the given corpus — a retained id is live again)
    GraphIndex.delete(spark, root, Seq(99L).toDF("vec_id"))
    GraphIndex.build(spark, root, rows, graphK = 3, nProbe = 2, nSeeds = 6,
      centIds = Seq(1L, 2L))
    assert(!GraphIndex.rebuildRecommended(spark, root), "rebuild left signal up")
    val served = GraphIndex.probe(spark, root, rows, maxQueryId = 1, k = 3)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    assert(served.contains((1L, 99L)),
      s"rebuild inherited the graveyard — twin still suppressed: ${served.toSeq}")
  }

  test("e2e01 reference flow: poison dead-letters once, incremental serving equals recompute, audit covers the final table") {
    val out = SparkEntry.queries("e2e01_reference_flow")(spark, sf).collect()
    assert(out.map(_.getAs[String]("stage")).toSet ==
      Set("landing", "merge", "serving", "meta", "audit"))
    // landing: all four payload files landed exactly once (first try),
    // the poison file dead-lettered after its retry budget with rows=-1
    val landing = out.filter(_.getAs[String]("stage") == "landing")
    assert(landing.count(r => r.getAs[String]("k2") == "done" &&
      r.getAs[Double]("v") == 1.0) == 4)
    val poison = landing.find(_.getAs[String]("k1") == "poison_004.parquet").get
    assert(poison.getAs[String]("k2") == "dead" &&
      poison.getAs[Double]("v") == 2.0 && poison.getAs[Long]("n") == -1L)
    // the serving view — refreshed INCREMENTALLY from the change feed,
    // never rescanning the table — equals the recompute (the merge
    // census collapsed over kmod; cents arithmetic makes this exact)
    val merge = out.filter(_.getAs[String]("stage") == "merge")
    val recompute = merge.groupBy(_.getAs[String]("k1")).map { case (st, rs) =>
      (st, rs.map(_.getAs[Long]("n")).sum,
        rs.map(r => math.round(r.getAs[Double]("v") * 100)).sum)
    }.toSet
    val serving = out.filter(_.getAs[String]("stage") == "serving")
      .map(r => (r.getAs[String]("k1"), r.getAs[Long]("n"),
        math.round(r.getAs[Double]("v") * 100))).toSet
    assert(serving == recompute,
      "feed-refreshed serving view diverged from a recompute of the final table")
    // audit saw BOTH verdicts and covers every row of the final table
    val audit = out.filter(_.getAs[String]("stage") == "audit")
    assert(audit.map(_.getAs[Double]("v")).toSet == Set(0.0, 1.0),
      "audit did not observe both valid and invalid transitions")
    assert(audit.map(_.getAs[Long]("n")).sum == merge.map(_.getAs[Long]("n")).sum,
      "audit row count != final table size")
    // repeated runs on the same corpus pay the FLOW, not the
    // fetch-writer setup: the landed fixture is cache-served
    val builds = graft.operators.ReferenceE2E.fixtureBuilds
    val again = SparkEntry.queries("e2e01_reference_flow")(spark, sf).collect()
    assert(graft.operators.ReferenceE2E.fixtureBuilds == builds,
      "second e2e01 run rebuilt the landed fixture")
    assert(again.map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet ==
      out.map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet,
      "cache-served fixture changed the census")
  }

  test("SQL front door: the LexIndex lifecycle driven end-to-end by CALL procedures only") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    spark.conf.set("spark.sql.catalog.graft_sys",
      "graft.sources.GraftProcedureCatalog")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 5 =!= 0).createOrReplaceTempView("lexsql_seed")
    docs.filter(col("doc_id") % 5 === 0).createOrReplaceTempView("lexsql_batch")
    docs.filter(col("doc_id") < 8).createOrReplaceTempView("lexsql_queries")
    val root = java.nio.file.Files.createTempDirectory("graft_lexsql").toString + "/ix"
    def armSet(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("lex_rank"))).toSet
    // build on 4/5 of the corpus, ingest the held-out 1/5 — PURE SQL
    val b = spark.sql(
      s"CALL graft_sys.lex_build(root => '$root', source => 'lexsql_seed')")
      .collect()
    assert(b.length == 1 && b.head.getString(0).contains("built"))
    spark.sql(
      s"CALL graft_sys.lex_ingest(root => '$root', source => 'lexsql_batch')")
      .collect()
    // the SQL probe must equal the from-scratch arm on the FULL corpus
    // (LexIndex's central contract, now reachable without Scala)
    val probed = spark.sql(
      s"CALL graft_sys.lex_probe(root => '$root', source => 'lexsql_queries')")
    val scratch = Similarity.bm25Arm(docs, 8, 20, 2.0, 1.2, 0.75)
    assert(armSet(probed.collect()) == armSet(scratch.collect()),
      "SQL-driven lifecycle diverged from the from-scratch BM25 arm")
    // compact via SQL moves bytes, not rows
    spark.sql(s"CALL graft_sys.lex_compact(root => '$root')").collect()
    assert(armSet(spark.sql(
      s"CALL graft_sys.lex_probe(root => '$root', source => 'lexsql_queries')")
      .collect()) == armSet(scratch.collect()),
      "SQL compact changed probe results")
  }

  test("SQL front door: the VecIndex lifecycle driven end-to-end by CALL procedures only") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import graft.operators.VecIndex
    spark.conf.set("spark.sql.catalog.graft_sys",
      "graft.sources.GraftProcedureCatalog")
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // corpus keeps the oracle-pinned centroid grid (100..107); the
    // query batch stays OUT of the corpus (VecIndex.probe does not
    // self-exclude); arrivals avoid the centroid ids (> 107)
    val corpus = emb.filter(pmod(col("vec_id"), lit(19)) =!= 0)
    val batch = emb.filter(pmod(col("vec_id"), lit(19)) === 0)
    val arrivals = corpus.filter(
      pmod(col("vec_id"), lit(13)) === 0 && col("vec_id") > 107)
    val seed = corpus.except(arrivals)
    seed.createOrReplaceTempView("vecsql_seed")
    arrivals.createOrReplaceTempView("vecsql_arrivals")
    batch.createOrReplaceTempView("vecsql_queries")
    arrivals.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select(col("vec_id"), col("embedding"))
      .createOrReplaceTempView("vecsql_victims")
    val root = java.nio.file.Files.createTempDirectory("graft_vecsql")
      .toString + "/ix"
    def rset(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    def sqlProbe() = rset(spark.sql(
      s"CALL graft_sys.vec_probe(root => '$root', source => 'vecsql_queries')")
      .collect())
    val b = spark.sql(
      s"CALL graft_sys.vec_build(root => '$root', source => 'vecsql_seed')")
      .collect()
    assert(b.length == 1 && b.head.getString(0).contains("built"))
    spark.sql(
      s"CALL graft_sys.vec_ingest(root => '$root', source => 'vecsql_arrivals')")
      .collect()
    // from-scratch arm: a FRESH index built on the grown corpus — the
    // ingest contract (appends against the persisted grid) makes the
    // two identical, now reachable without Scala
    val scratch = java.nio.file.Files.createTempDirectory("graft_vecsql2")
      .toString + "/ix"
    VecIndex.build(spark, scratch, corpus)
    assert(sqlProbe() == rset(VecIndex.probe(spark, scratch, batch).collect()),
      "SQL-driven vec lifecycle diverged from the from-scratch rebuild")
    // delete via SQL == an index that never held the victims
    spark.sql(
      s"CALL graft_sys.vec_delete(root => '$root', source => 'vecsql_victims')")
      .collect()
    val scratch2 = java.nio.file.Files.createTempDirectory("graft_vecsql3")
      .toString + "/ix"
    VecIndex.build(spark, scratch2, corpus.except(
      arrivals.filter(pmod(col("vec_id"), lit(2)) === 0)))
    assert(sqlProbe() == rset(VecIndex.probe(spark, scratch2, batch).collect()),
      "SQL vec_delete diverged from a never-held-victim index")
  }

  test("SQL front door: the GraphIndex lifecycle driven end-to-end by CALL procedures only") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_sys",
      "graft.sources.GraftProcedureCatalog")
    // the inline-walk parity half runs on the real corpus: SQL build +
    // SQL probe must equal the from-scratch beam walk (no index)
    val emb = Tables.embeddings(spark, sf)
    emb.createOrReplaceTempView("graphsql_corpus")
    val root = java.nio.file.Files.createTempDirectory("graft_graphsql")
      .toString + "/ix"
    def rset(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    spark.sql(
      s"CALL graft_sys.graph_build(root => '$root', source => 'graphsql_corpus')")
      .collect()
    assert(rset(spark.sql(
        s"CALL graft_sys.graph_probe(root => '$root', source => 'graphsql_corpus')")
        .collect()) ==
      rset(Similarity.graphAnnTopK(emb).collect()),
      "SQL-driven graph lifecycle diverged from the from-scratch walk")
    // the s29 PQ tier through SQL only: build with stored codes, probe
    // PQ-navigated, equal to the from-scratch inline ADC walk
    val rootPq = java.nio.file.Files.createTempDirectory("graft_graphsqlpq")
      .toString + "/ix"
    spark.sql(s"CALL graft_sys.graph_build(root => '$rootPq', " +
      "source => 'graphsql_corpus', with_codes => 1)").collect()
    assert(rset(spark.sql(
        s"CALL graft_sys.graph_probe_pq(root => '$rootPq', " +
        "source => 'graphsql_corpus')").collect()) ==
      rset(Similarity.graphPqTopK(emb).collect()),
      "SQL-driven PQ-navigated probe diverged from the inline ADC walk")
    // the s30 hierarchy tier through SQL only: build with levels,
    // probe the layered descent, equal to the from-scratch inline one
    val rootH = java.nio.file.Files.createTempDirectory("graft_graphsqlh")
      .toString + "/ix"
    spark.sql(s"CALL graft_sys.graph_build(root => '$rootH', " +
      "source => 'graphsql_corpus', with_hier => 2)").collect()
    assert(rset(spark.sql(
        s"CALL graft_sys.graph_probe_hier(root => '$rootH', " +
        "source => 'graphsql_corpus')").collect()) ==
      rset(Similarity.graphHierTopK(emb).collect()),
      "SQL-driven hierarchical probe diverged from the inline descent")
    // the s27 live property, replayed through SQL only: a twin arrival
    // is invisible pre-ingest, top-1 post-ingest, gone post-delete
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, v(0.9, 0.1, 0.0, 0.0), 0L),
      (1L, v(1.0, 0.0, 0.0, 0.0), 0L),
      (2L, v(0.0, 1.0, 0.0, 0.0), 0L),
      (10L, v(0.8, 0.3, 0.1, 0.0), 0L),
      (11L, v(0.7, 0.2, 0.2, 0.0), 0L),
      (12L, v(0.1, 0.9, 0.0, 0.1), 0L),
      (13L, v(0.2, 0.8, 0.1, 0.0), 0L),
      (14L, v(0.6, 0.4, 0.0, 0.1), 0L),
      (99L, v(0.9, 0.1, 0.0, 0.0), 0L)  // query 0's exact twin
    ).toDF("vec_id", "embedding", "label")
    rows.createOrReplaceTempView("graphsql_grown")
    rows.filter(col("vec_id") =!= 99L).createOrReplaceTempView("graphsql_old")
    rows.filter(col("vec_id") === 99L).createOrReplaceTempView("graphsql_batch")
    Seq(99L).toDF("vec_id").createOrReplaceTempView("graphsql_victims")
    val root2 = java.nio.file.Files.createTempDirectory("graft_graphsql2")
      .toString + "/ix"
    spark.sql(s"CALL graft_sys.graph_build(root => '$root2', " +
      "source => 'graphsql_old', n_seeds => 6, cent_ids => '1,2')").collect()
    def probe2() = spark.sql(s"CALL graft_sys.graph_probe(root => '$root2', " +
      "source => 'graphsql_grown', max_query_id => 1)").collect()
    assert(!probe2().map(_.getAs[Long]("neighbor_id")).contains(99L),
      "unindexed arrival surfaced before SQL ingest")
    spark.sql(s"CALL graft_sys.graph_ingest(root => '$root2', " +
      "corpus => 'graphsql_grown', source => 'graphsql_batch', " +
      "cent_ids => '1,2')").collect()
    assert(probe2().sortBy(_.getAs[Long]("rank")).head
      .getAs[Long]("neighbor_id") == 99L,
      "arrival not served top-1 after SQL ingest")
    spark.sql(s"CALL graft_sys.graph_delete(root => '$root2', " +
      "source => 'graphsql_victims')").collect()
    val afterDel = probe2()
    assert(!afterDel.map(_.getAs[Long]("neighbor_id")).contains(99L),
      "retired vector still served after SQL delete")
    spark.sql(s"CALL graft_sys.graph_compact(root => '$root2')").collect()
    assert(probe2().map(r => (r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet ==
      afterDel.map(r => (r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet,
      "SQL compact changed graph probe results")
  }

  test("SQL front door: the GramIndex lifecycle driven end-to-end by CALL procedures only") {
    import spark.implicits._
    import graft.operators.GramIndex
    spark.conf.set("spark.sql.catalog.graft_sys",
      "graft.sources.GraftProcedureCatalog")
    val quote = (1 to 20).map(i => s"q$i")
    val docA = ((1 to 30).map(i => s"a$i") ++ quote).mkString(" ")
    val docB = ((1 to 30).map(i => s"b$i") ++ quote).mkString(" ")
    val novelDoc = ((1 to 30).map(i => s"b$i") ++ (1 to 20).map(i => s"z$i")).mkString(" ")
    val probeDoc = "intro words " + quote.mkString(" ")
    Seq((10L, docA), (11L, docB)).toDF("doc_id", "text")
      .createOrReplaceTempView("gramsql_seed")
    Seq((21L, novelDoc)).toDF("doc_id", "text")
      .createOrReplaceTempView("gramsql_batch")
    Seq((20L, probeDoc)).toDF("doc_id", "text")
      .createOrReplaceTempView("gramsql_queries")
    Seq(10L).toDF("doc_id").createOrReplaceTempView("gramsql_victims")
    val root = java.nio.file.Files.createTempDirectory("graft_gramsql")
      .toString + "/ix"
    def spans(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    def sqlProbe() = spans(spark.sql(
      s"CALL graft_sys.gram_probe(root => '$root', source => 'gramsql_queries')")
      .collect())
    spark.sql(
      s"CALL graft_sys.gram_build(root => '$root', source => 'gramsql_seed')")
      .collect()
    spark.sql(
      s"CALL graft_sys.gram_ingest(root => '$root', source => 'gramsql_batch')")
      .collect()
    assert(sqlProbe().map(_._2) == Set(10L, 11L),
      "SQL gram probe missed a quoting corpus doc")
    spark.sql(
      s"CALL graft_sys.gram_delete(root => '$root', source => 'gramsql_victims')")
      .collect()
    spark.sql(s"CALL graft_sys.gram_compact(root => '$root')").collect()
    // from-scratch arm: an index that never held doc 10
    val clean = java.nio.file.Files.createTempDirectory("graft_gramsql2")
      .toString + "/ix"
    GramIndex.build(spark, clean,
      Seq((11L, docB), (21L, novelDoc)).toDF("doc_id", "text"))
    assert(sqlProbe() == spans(GramIndex.probe(spark, clean,
        Seq((20L, probeDoc)).toDF("doc_id", "text")).collect()),
      "SQL-driven gram lifecycle diverged from the never-held-victim rebuild")
  }

  test("SQL front door: VersionedTable DML (merge/delete/zorder/compact/vacuum) driven by CALL procedures only, pinned to the Scala arm") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{DataSkipping, VersionedTable}
    spark.conf.set("spark.sql.catalog.graft_sys",
      "graft.sources.GraftProcedureCatalog")
    val base = java.nio.file.Files.createTempDirectory("graft_tblsql").toString
    val rootSql = s"$base/sqlarm"; val rootSc = s"$base/scalaarm"
    def tbl(rows: (Long, String, Double)*) = rows.toSeq.toDF("k", "rt", "qty")
    val seed = tbl((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
    val upd = tbl((2L, "a", 25.0), (4L, "b", 40.0)) // update + insert
    val vic = Seq(3L).toDF("k")
    seed.createOrReplaceTempView("tblsql_seed")
    upd.createOrReplaceTempView("tblsql_upd")
    vic.createOrReplaceTempView("tblsql_vic")
    // SQL arm: the reference's whole write lifecycle (keyed merge =
    // queue_for_delta.py's op, tombstone delete, layout maintenance,
    // history reclaim) with no Scala in the loop
    spark.sql(s"CALL graft_sys.table_merge(root => '$rootSql', " +
      "source => 'tblsql_seed', keys => 'k', tie_break => 'qty')").collect()
    spark.sql(s"CALL graft_sys.table_merge(root => '$rootSql', " +
      "source => 'tblsql_upd', keys => 'k', tie_break => 'qty')").collect()
    spark.sql(s"CALL graft_sys.table_delete(root => '$rootSql', " +
      "source => 'tblsql_vic', keys => 'k')").collect()
    spark.sql(s"CALL graft_sys.table_zorder(root => '$rootSql', " +
      "c1 => 'k', c2 => 'qty', n_dirs => 4)").collect()
    spark.sql(s"CALL graft_sys.table_compact(root => '$rootSql')").collect()
    spark.sql(s"CALL graft_sys.table_vacuum(root => '$rootSql', " +
      "keep_last => 1)").collect()
    // Scala arm: the SAME methods, called directly
    VersionedTable.merge(spark, rootSc, seed, Seq("k"), Seq("qty"))
    VersionedTable.merge(spark, rootSc, upd, Seq("k"), Seq("qty"))
    VersionedTable.deleteKeys(spark, rootSc, vic, Seq("k"))
    DataSkipping.zOrderCommit(spark, rootSc, VersionedTable.read(spark, rootSc),
      "k", "qty", 4, VersionedTable.currentVersion(spark, rootSc).get)
    VersionedTable.compactPartitioned(spark, rootSc)
    VersionedTable.vacuum(spark, rootSc, keepLast = 1)
    def rows(root: String) = VersionedTable.read(spark, root)
      .select(col("k"), col("rt"), col("qty")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows(rootSql) == rows(rootSc),
      "SQL-driven table DML diverged from the Scala arm")
    assert(rows(rootSql) ==
      Set((1L, "a", 10.0), (2L, "a", 25.0), (4L, "b", 40.0)))
    // vacuum reclaimed history but kept the head readable
    intercept[Exception] {
      VersionedTable.readAsOf(spark, rootSql, 0L).collect()
    }
  }

  test("SQL front door: the BandIndex lifecycle driven end-to-end by CALL procedures only") {
    import spark.implicits._
    import graft.operators.BandIndex
    spark.conf.set("spark.sql.catalog.graft_sys",
      "graft.sources.GraftProcedureCatalog")
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val tC = "red orange yellow green blue indigo violet black white gray pink brown"
    Seq((10L, tA), (11L, tB)).toDF("doc_id", "text")
      .createOrReplaceTempView("bandsql_seed")
    Seq((20L, tA), (21L, tC)).toDF("doc_id", "text") // 20 dups the live 10
      .createOrReplaceTempView("bandsql_batch")
    Seq((30L, tA)).toDF("doc_id", "text")
      .createOrReplaceTempView("bandsql_queries")
    Seq(10L).toDF("doc_id").createOrReplaceTempView("bandsql_victims")
    val root = java.nio.file.Files.createTempDirectory("graft_bandsql")
      .toString + "/ix"
    def pairs(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getAs[Long]("corpus_doc"), r.getAs[Double]("jac"))).toSet
    def sqlProbe() = pairs(spark.sql(
      s"CALL graft_sys.band_probe(root => '$root', source => 'bandsql_queries')")
      .collect())
    spark.sql(
      s"CALL graft_sys.band_build(root => '$root', source => 'bandsql_seed')")
      .collect()
    // dedup-gated ingest via SQL: 20 (dup of live 10) rejected, 21 in
    val ing = spark.sql(
      s"CALL graft_sys.band_ingest(root => '$root', source => 'bandsql_batch')")
      .collect()
    assert(ing.head.getString(0).contains("admitted 1"),
      s"band_ingest admission gate dead: ${ing.head.getString(0)}")
    assert(sqlProbe().map(_._1) == Set(10L), "query twin should match doc 10")
    spark.sql(
      s"CALL graft_sys.band_delete(root => '$root', source => 'bandsql_victims')")
      .collect()
    spark.sql(s"CALL graft_sys.band_compact(root => '$root')").collect()
    // from-scratch arm: an index that never held doc 10
    val clean = java.nio.file.Files.createTempDirectory("graft_bandsql2")
      .toString + "/ix"
    BandIndex.build(spark, clean,
      Seq((11L, tB), (21L, tC)).toDF("doc_id", "text"))
    assert(sqlProbe() == pairs(BandIndex.probe(spark, clean,
        Seq((30L, tA)).toDF("doc_id", "text")).collect()),
      "SQL-driven band lifecycle diverged from the never-held-victim rebuild")
  }

  test("s26 phrase BM25: adjacency is enforced — out-of-order, gapped, and single-term docs are excluded") {
    import org.apache.spark.sql.functions.col
    import graft.operators.LexIndex
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta probe query text"),
      (10L, "prefix alpha beta suffix words"),    // adjacent → match
      (11L, "beta words alpha words more"),       // both terms, REVERSED
      (12L, "alpha gap beta words here"),         // both terms, gapped
      (13L, "alpha only words here today"),       // one term only
      (14L, "some alpha beta and alpha beta again") // adjacent twice
    ).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_lexph").toString + "/ix"
    LexIndex.build(spark, root, docs)
    val res = LexIndex.probePhrase(spark, root, docs.filter(col("doc_id") === 0L))
    assert(res.schema("lex_rank").dataType == org.apache.spark.sql.types.LongType)
    val hits = res.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(hits == Set(10L, 14L),
      s"phrase filter admitted the wrong docs: $hits — order/adjacency not enforced")
  }

  test("s24 LexIndex probe is DIR-PRUNED: only the query terms' bucket dirs are opened") {
    import org.apache.spark.sql.functions._
    import graft.operators.LexIndex
    val docs = Tables.documents(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_lexdp").toString + "/ix"
    LexIndex.build(spark, root, docs)
    // a single short query doc: its few terms map to a few buckets —
    // the probe must open THOSE postings dirs and no others (the
    // posting-lists-are-partition-dirs claim, checked on actual IO)
    import spark.implicits._
    val qtext = docs.filter(col("doc_id") === 3L)
      .select(col("text")).head.getString(0).split(" ").take(3).mkString(" ")
    val qframe = Seq((3L, qtext)).toDF("doc_id", "text")
    val probed = LexIndex.probe(spark, root, qframe)
    probed.collect()
    val postingFiles = probed.inputFiles.filter(_.contains("/postings/"))
    assert(postingFiles.nonEmpty, "probe read no postings files")
    val openedBuckets = postingFiles.flatMap(
      "/p=([0-9]+)/".r.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(openedBuckets.nonEmpty, s"no bucket dir in the postings paths: ${postingFiles.toSeq}")
    val termBuckets = qframe
      .select(explode(split(lower(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .select(pmod(hash(col("term")), lit(LexIndex.NumBuckets)).cast("string").as("b"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(openedBuckets.subsetOf(termBuckets),
      s"probe opened non-query buckets: $openedBuckets vs terms' $termBuckets")
    assert(openedBuckets.size < LexIndex.NumBuckets,
      "probe opened every bucket — dir pruning is not happening")
    // the corpus-sized doclens table is NOT in the query path at all
    // (dl rides the postings). The stats read is dir-pruned the same
    // way structurally (readPartitions over the query terms' buckets)
    // but sits behind the budget frame's localCheckpoint, so its
    // files don't surface in this lineage.
    assert(!probed.inputFiles.exists(_.contains("/doclens/")),
      "probe read the doclens table — the length norm should ride the postings")
  }

  test("st15 streaming lex ingest: one micro-batch per arrival commit; drained index equals the batch arm") {
    import graft.operators.{LexIndex, Similarity}
    val docs = Tables.documents(spark, sf)
    val before = LexIndex.ingests
    val drained = SparkEntry.queries("st15_stream_lex_ingest")(spark, sf).collect()
    // commit-gated draining: exactly one ingest per arrival commit
    assert(LexIndex.ingests - before == 2,
      s"expected 2 micro-batch ingests, saw ${LexIndex.ingests - before}")
    // convergence: the incrementally-built index serves the same BM25
    // ranking as the from-scratch arm on the whole corpus
    val scratch = Similarity.bm25Arm(docs, 8, 20, 2.0, 1.2, 0.75).collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("doc_id"), r.getAs[Long]("lex_rank"))
    assert(drained.map(key).toSet == scratch.map(key).toSet,
      "streamed index diverged from the batch BM25 arm")
  }

  test("s15 impact pruning is LIVE: budgeted probe touches fewer postings, recall delta measured not assumed") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val embs = Tables.embeddings(spark, sf)
    // default budget (2.0·n_docs) vs an effectively-unbounded budget:
    // same operator, only the WAND-style prune differs
    val pruned = graft.operators.Similarity.hybridRrf(docs, embs).collect()
    val full = graft.operators.Similarity.hybridRrf(docs, embs, probeDfBudgetFrac = 1e9).collect()
    def topk(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getAs[Long]("q_id"))
        .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    val p = topk(pruned); val f = topk(full)
    // the prune actually dropped terms on THIS corpus (30 of 31 terms
    // sit in ~78% of docs; a 2.0·n budget keeps only the most
    // selective few) — the fused output must differ somewhere, or the
    // guard is dead code at test scale
    assert(p != f, "budgeted probe produced identical fusion — prune not live at this SF")
    // ...but the recall effect is bounded: RRF still fuses the intact
    // vector arm, so per-query top-k overlap stays majority
    val overlaps = p.keys.map { q =>
      val a = p(q); val b = f.getOrElse(q, Set.empty[Long])
      a.intersect(b).size.toDouble / math.max(a.size, 1)
    }.toSeq
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.5, s"pruned-vs-full fused overlap collapsed: mean=$mean")
    // the lexical arm survives the prune (budget admits each query's
    // most selective terms — the reason a budget beats a df cap here)
    assert(pruned.exists(r => !r.isNullAt(r.fieldIndex("lex_rank"))),
      "lexical arm died under the probe budget")
  }

  test("s15 RAG composition: a persisted VecIndex serves the vector arm, fused output tracks the exact form") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val embs = Tables.embeddings(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_s15idx").toString + "/vidx"
    graft.operators.VecIndex.build(spark, root, embs)
    val indexed = graft.operators.Similarity
      .hybridRrfIndexed(spark, docs, embs, root).collect()
    val exact = graft.operators.Similarity.hybridRrf(docs, embs).collect()
    assert(indexed.nonEmpty)
    // same contract: schema, per-query bound, rank consistency
    assert(indexed.head.schema.fieldNames.toSeq ==
           exact.head.schema.fieldNames.toSeq)
    indexed.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      assert(rs.length <= 10)
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // fused top-k overlap vs the exact arm, measured live: IVF probe
    // at nProbe=2 over the oracle-pinned centroid grid recalls most
    // of the exact top-20, and RRF's lexical arm is identical, so the
    // fused sets stay majority-overlapping per query
    val byQ = exact.groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    val overlaps = indexed.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      val got = rs.map(_.getAs[Long]("doc_id")).toSet
      val want = byQ.getOrElse(q, Set.empty)
      got.intersect(want).size.toDouble / math.max(want.size, 1)
    }.toSeq
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.5, s"indexed-vs-exact fused overlap collapsed: mean=$mean")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
  }

  test("PlaneBucket codegen: the generated loops compile and match the interpreted kernel bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import graft.functions.GraftFunctions._
    val df = Tables.embeddings(spark, sf)
      .select(col("vec_id"), plane_bucket(col("embedding"), 16).as("b"))
    def run(): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prev = spark.conf.get("spark.sql.codegen.factoryMode")
    try {
      // CODEGEN_ONLY turns a codegen bug into a thrown error instead of
      // a silent interpreted fallback — the pin that doGenCode WORKS
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      val generated = run()
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = run()
      assert(generated.nonEmpty && generated == interpreted)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("st06 native session_window stream: sessions emit once the watermark passes, matching batch cuts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minutes: Long, user: Long) =
      StreamOps.Ev(id, new java.sql.Timestamp(minutes * 60000L), user)
    val input = MemoryStream[StreamOps.Ev]
    val q = StreamOps.sessionWindowStream(input.toDS(), gapMinutes = 20)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_st06_test").start()
    try {
      // user 1: 60/70 merge (10 < gap); 90 is EXACTLY gap after 70 and
      // still merges (adjacent windows coalesce — the convention the
      // oracle must encode as a strictly-greater island break); 111 is
      // 21 min after 90 and starts a new session
      input.addData(ev(1, 60, 1), ev(2, 70, 1), ev(3, 90, 1), ev(6, 111, 1))
      q.processAllAvailable()
      // watermark mover: a far-future event closes user 1's sessions
      input.addData(ev(4, 1000, 2))
      q.processAllAvailable()
      input.addData(ev(5, 1001, 2))
      q.processAllAvailable()
      val out = spark.table("graft_st06_test")
        .select("user_id", "session_start", "session_end", "n_events")
        .collect().filter(_.getLong(0) == 1L)
        .map(r => (r.getTimestamp(1).getTime / 60000L,
                   r.getTimestamp(2).getTime / 60000L, r.getLong(3)))
        .sortBy(_._1)
      assert(out.toSeq == Seq((60L, 90L, 3L), (111L, 111L, 1L)), s"got ${out.toSeq}")
    } finally q.stop()
  }

  test("q46 SQL surface: the spark.sql path is row-identical to the DataFrame path — one engine, two front doors") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    val viaSql = SparkEntry.queries("q46_sql_api")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jac")))
    assert(viaSql.nonEmpty)
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 40)
      .select(col("doc_id"), col("lang"), word_bigrams(col("text")).as("bg"))
    val viaDf = docs.select(col("doc_id").as("doc_a"), col("lang"), col("bg").as("bg_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("lang"), col("bg").as("bg_b")),
            Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              graft.operators.Rounding.roundN(
                arr_jaccard(col("bg_a"), col("bg_b")), 4).as("jac"))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jac")))
    assert(viaSql.toSet == viaDf.toSet,
      s"SQL and DataFrame paths diverged: ${viaSql.toSet.diff(viaDf.toSet).take(3)}")
  }

  test("asofJoin: randomized brute-force equivalence across direction x tolerance (seeded)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    import graft.operators.Relational
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 2; fwd <- Seq(false, true); tol <- Seq(None, Some(50L))) {
      val lefts = (1L to 60L).map(lid => (lid, rnd.nextInt(5).toLong, rnd.nextInt(300).toLong))
      val rights = (1L to 80L).map(rid => (rnd.nextInt(5).toLong, rnd.nextInt(300).toLong, rid))
      val l = lefts.toDF("lid", "k", "lts")
        .withColumn("lts", expr("timestamp_seconds(lts)"))
      val r = rights.toDF("k", "rts", "rid")
        .withColumn("rts", expr("timestamp_seconds(rts)"))
      val got = Relational.asofJoin(l, r, Seq("k"), "lts", "rts",
          payload = Seq("rid"), tieBreak = "rid", toleranceSec = tol, forward = fwd)
        .collect().map(row => row.getAs[Long]("lid") ->
          Option(row.getAs[Any]("asof_rid")).map(_.asInstanceOf[Long])).toMap
      lefts.foreach { case (lid, k, lts) =>
        val cands = rights.filter { case (rk, rts, _) =>
          rk == k && (if (fwd) rts >= lts else rts <= lts) &&
            tol.forall(t => math.abs(rts - lts) <= t)
        }
        val want =
          if (cands.isEmpty) None
          else if (fwd) {
            val m = cands.map(_._2).min
            Some(cands.filter(_._2 == m).map(_._3).max)
          } else {
            val m = cands.map(_._2).max
            Some(cands.filter(_._2 == m).map(_._3).max)
          }
        assert(got(lid) == want,
          s"trial=$trial fwd=$fwd tol=$tol lid=$lid k=$k lts=$lts: got ${got(lid)}, want $want")
      }
    }
  }

  test("s16 filtered ANN: every hit satisfies the predicate, full k where eligible, and post-filtering would lose results") {
    val filtered = SparkEntry.queries("s16_filtered_ann")(spark, sf).collect()
    assert(filtered.nonEmpty)
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    filtered.foreach { r =>
      assert(r.getAs[Int]("label") == labels(r.getAs[Long]("q_id")),
        s"hit with wrong label: $r")
      assert(labels(r.getAs[Long]("neighbor_id")) == labels(r.getAs[Long]("q_id")))
    }
    // pre-filter returns the k best ELIGIBLE rows; the naive
    // post-filter (s05 top-k then predicate) must lose rows for at
    // least one query on this corpus — the loss is live, not assumed
    val post = SparkEntry.queries("s05_ann_ivf_multiprobe")(spark, sf).collect()
      .filter(r => labels(r.getAs[Long]("neighbor_id")) == labels(r.getAs[Long]("q_id")))
      .groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length).toMap
    val pre = filtered.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length).toMap
    assert(pre.exists { case (q, n) => n > post.getOrElse(q, 0) },
      s"post-filtering lost nothing anywhere (pre=$pre post=$post) — the predicate never bit")
  }

  test("t21 stratified sample: EXACT k per stratum, deterministic, and a real permutation (not head-of-table)") {
    val rows = SparkEntry.queries("t21_stratified_sample")(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.size > 1)
    byLang.foreach { case (lang, rs) =>
      assert(rs.length == 20, s"stratum $lang: expected exactly 20, got ${rs.length}")
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 20L))
    }
    // deterministic: a second run picks the identical rows
    val again = SparkEntry.queries("t21_stratified_sample")(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
    assert(again.toSet == rows.map(r => (r.getAs[String]("lang"),
      r.getAs[Long]("rank"), r.getAs[Long]("doc_id"))).toSet)
    // the hash rank is a PERMUTATION, not id order: some stratum's
    // sample must differ from its lowest-k doc_ids
    val livesPermuted = byLang.exists { case (lang, rs) =>
      val sampled = rs.map(_.getAs[Long]("doc_id")).sorted.toSeq
      val firstK = Tables.documents(spark, sf)
        .filter(org.apache.spark.sql.functions.col("lang") === lang)
        .select("doc_id").collect().map(_.getLong(0)).sorted.take(20).toSeq
      sampled != firstK
    }
    assert(livesPermuted, "sample equals head-of-table in every stratum — hash rank is dead")
  }

  test("d19 prefix dedup: finds boilerplate-head families exact dedup cannot see (live divergence from d06)") {
    val prefix = SparkEntry.queries("d19_dedup_prefix")(spark, sf).collect()
    val exact = SparkEntry.queries("d06_dedup_digest")(spark, sf).collect()
    val prefixFamilies = prefix.count(_.getAs[Long]("n_copies") > 1)
    val exactFamilies = exact.count(_.getAs[Long]("n_copies") > 1)
    // the corpus has prefix families but (at this SF) no exact dups —
    // the two rows answer different questions, and the arm is live
    assert(prefixFamilies > 0, "prefix dedup found nothing — dead arm")
    assert(prefixFamilies > exactFamilies,
      s"prefix families ($prefixFamilies) must exceed exact families ($exactFamilies)")
    // every group's canonical is its own minimum (the d01/d06 convention)
    val total = prefix.map(_.getAs[Long]("n_copies")).sum
    assert(total == Tables.documents(spark, sf).count(),
      "every document must belong to exactly one prefix family")
  }

  test("t23 curation pipeline: composite equals its stages replayed, both arms live") {
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("t23_curation_pipeline")(spark, sf).collect()
    val nDocs = out.map(_.getAs[Long]("n_docs")).sum
    val nDup = out.map(_.getAs[Long]("n_dups_dropped")).sum
    val docs = Tables.documents(spark, sf)
    // replay from the already-oracle-verified parts
    val kept = SparkEntry.queries("t20_filter_battery")(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size < docs.count(), "battery arm dead: nothing rejected")
    assert(nDup > 0, "dedup arm dead: no near-dup family lost a member")
    assert(nDocs + nDup == kept.size,
      s"census must cover the admitted set exactly: $nDocs+$nDup != ${kept.size}")
    val clusterOf = graft.operators.Dedup.pipeline(docs, 0.3).clusters.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val survivors = kept.groupBy(id => clusterOf.getOrElse(id, id)).values.map(_.min).toSet
    assert(nDocs == survivors.size, "survivor count != per-cluster min-id replay")
    // contamination-safe routing: survivors land where their CLUSTER key routes
    def splitOf(k: Long): String = {
      val b = (k * 1103515245L + 12345L) % graft.operators.TextOps.P % 1000
      if (b < 800) "train" else if (b < 900) "val" else "test"
    }
    val bySplit = survivors.groupBy(id => splitOf(clusterOf.getOrElse(id, id)))
      .view.mapValues(_.size.toLong).toMap
    val outBySplit = out.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(outBySplit == bySplit, s"cluster-keyed routing diverged: $outBySplit vs $bySplit")
  }

  test("st08 update-mode agg: changed groups re-emit revised totals, unchanged groups stay silent") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, t: String, v: Double) =
      StreamOps.EvT(id, new java.sql.Timestamp(id * 60000L), 1L, t, v)
    val input = MemoryStream[StreamOps.EvT]
    val q = StreamOps.typeTotalsStream(input.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("graft_st08_test").start()
    try {
      def rows() = spark.table("graft_st08_test").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"),
                   r.getAs[Double]("total")))
      input.addData(ev(1, "click", 1.5), ev(2, "click", 2.5), ev(3, "view", 4.0))
      q.processAllAvailable()
      val b1 = rows()
      assert(b1.toSet == Set(("click", 2L, 4.0), ("view", 1L, 4.0)))
      // batch 2 touches only click: view must NOT re-emit; click
      // re-emits with the REVISED lifetime total
      input.addData(ev(4, "click", 6.0))
      q.processAllAvailable()
      val b2 = rows()
      assert(b2.count(_._1 == "view") == 1, "unchanged group re-emitted in update mode")
      assert(b2.toSet.contains(("click", 3L, 10.0)),
        s"revised click total missing: ${b2.toSet}")
    } finally q.stop()
  }

  test("st07 left-outer stream-stream join: matches emit eagerly, null-extended rows only after watermark expiry") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, minutes: Long, user: Long) =
      StreamOps.Ev(id, new java.sql.Timestamp(minutes * 60000L), user)
    val clicks = MemoryStream[StreamOps.Ev]
    val views = MemoryStream[StreamOps.Ev]
    val q = StreamOps.intervalLeftJoinStream(clicks.toDS(), views.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("graft_st07_test").start()
    try {
      def rows() = spark.table("graft_st07_test")
        .collect().map(r => (r.getAs[Long]("click_id"),
          Option(r.getAs[Any]("view_id")).map(_.asInstanceOf[Long]))).toSet
      // user 1's click at t=100 has a view at t=90 (inside 30 min);
      // user 2's click at t=100 has NO view — the outer candidate
      clicks.addData(ev(1, 100, 1), ev(2, 100, 2))
      views.addData(ev(10, 90, 1))
      q.processAllAvailable()
      val early = rows()
      assert(early.contains((1L, Some(10L))), s"matched row must emit eagerly: $early")
      assert(!early.exists(_._1 == 2L),
        s"outer row emitted BEFORE the watermark could prove no match: $early")
      // watermark movers on BOTH sides push past 100 + 30min interval
      // + 10min watermark; two batches so the new watermark then
      // evicts + emits
      clicks.addData(ev(3, 500, 9)); views.addData(ev(11, 500, 9))
      q.processAllAvailable()
      clicks.addData(ev(4, 600, 9)); views.addData(ev(12, 600, 9))
      q.processAllAvailable()
      val late = rows()
      assert(late.contains((2L, None)),
        s"unmatched click must surface null-extended after expiry: $late")
      assert(late.count(_._1 == 2L) == 1, "outer row must emit exactly once")
    } finally q.stop()
  }

  test("s13 range search: contains every s05 top-k hit above the radius; window-free reduction") {
    val range = SparkEntry.queries("s13_range_search")(spark, sf)
    val rRows = range.collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(rRows.nonEmpty)
    // s05 at the same probe setting: every hit at or above the radius
    // must appear in the range result (same cells, same scoring)
    val topk = SparkEntry.queries("s05_ann_ivf_multiprobe")(spark, sf)
      .filter("cos >= 0.2").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(topk.subsetOf(rRows), s"missing ${topk.diff(rRows)}")
    // the reduction is a filter, not a rank: the only windows are the
    // two cell-ASSIGNMENT top-1s (corpus + probe) — s05's third,
    // per-query rank window is gone
    val p = range.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val windows = p.sliding("Window [".length).count(_ == "Window [")
    assert(windows == 2, s"expected 2 assignment windows, got $windows")
  }

  test("st02 batch sessionizer session counts sum to event count") {
    val events = Tables.events(spark, sf)
    val sessions = StreamOps.sessionizeBatch(events)
    val total = sessions.agg(org.apache.spark.sql.functions.sum("n_events")).head.getLong(0)
    assert(total == events.count())
  }

  test("m01 multimodal pipeline: batch shape, checksum determinism") {
    val out = SparkEntry.queries("m01_multimodal_meta")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n_bytes") > 0))
    val again = SparkEntry.queries("m01_multimodal_meta")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("checksum")).toSeq ==
           again.map(_.getAs[Long]("checksum")).toSeq)
  }

  test("saltedJoin result equals the unsalted join") {
    import org.apache.spark.sql.functions._
    val orders = Tables.orders(spark, sf)
    val customer = Tables.customer(spark, sf)
    val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.operators.Relational
      .saltedJoin(orders, customer, "o_custkey", "c_custkey", salts = 8)
      .groupBy(col("c_mktsegment")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("schema evolution: mergeSchema reads old and new batches as one table") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString
    // batch 1 written before the schema grew; batch 2 adds a column —
    // the reference's financial API does exactly this between quarters
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/b1")
    Seq((2L, "y", 3.5)).toDF("id", "a", "score").write.parquet(s"$dir/b2")
    val all = spark.read.option("mergeSchema", "true").parquet(s"$dir/b1", s"$dir/b2")
    assert(all.columns.sorted.toSeq == Seq("a", "id", "score"))
    assert(all.count() == 2)
    // old rows surface the new column as null, not an error
    assert(all.filter(col("id") === 1L).head.isNullAt(all.columns.indexOf("score")))
  }

  test("d18 bloom gate: NULL-text rows are definitely-new, matching the oracle's ternary logic") {
    import spark.implicits._
    // NULL text -> NULL digest. The oracle's NOT EXISTS admits such a
    // row (NULL = x is never true); the bloom probe's NULL would have
    // silently dropped it from both arms before the fix.
    val docs = Seq[(Long, String)]((0L, null), (17L, "aa bb"), (34L, "cc dd"),
        (1L, "cc dd"), (2L, "aa bb"), (3L, "ee ff"))
      .toDF("doc_id", "text")
    val ids = graft.operators.Dedup.dedupBloomGate(docs)
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(0L), "NULL-text batch row must be admitted as definitely new")
    assert(!ids.contains(17L), "batch row duplicating corpus text must be dropped")
    assert(!ids.contains(34L), "batch row duplicating corpus text must be dropped")
  }

  test("VersionedTable: streamAppends' append-only contract is detected, not just documented") {
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_aoh").toString + "/t"
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
    val v0 = VersionedTable.commit(spark, root, mk(0, 5), -1L)
    VersionedTable.append(spark, root, mk(5, 8), v0)
    def drain(name: String): Long = {
      val q = VersionedTable.streamAppends(spark, root)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try { q.processAllAvailable(); spark.table(name).count() } finally q.stop()
    }
    assert(drain("graft_aoh_appends") == 8, "commit + append history streams every row once")
    // a compact re-packages delivered rows: the stream fails at that
    // version instead of re-delivering them
    VersionedTable.compact(spark, root)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain("graft_aoh_compact"))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("skipChangeCommits")), e.getMessage)
  }

  test("bloom skipping: a dir predating the column (merge-schema evolution) stays unpruned, not an error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_bse").toString + "/t"
    val v0 = VersionedTable.commit(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "qty"), -1L)
    // the appended dir carries a NEW column; the v0 dir does not
    VersionedTable.append(spark, root,
      Seq((3L, 30.0, "eu-1"), (4L, 40.0, "us-9")).toDF("k", "qty", "region"), v0)
    val head = VersionedTable.currentVersion(spark, root).get
    // before the fix this threw AnalysisException on the v0 dir
    val blooms = DataSkipping.ensureBloom(spark, root, head, "region")
    val dirs = VersionedTable.dirsOf(spark, root, head)
    assert(blooms.size == 1, "only the dir carrying the column gets a filter")
    def probe(r: String) = VersionedTable.read(spark, root).filter(col("region") === r)
    // pruning keeps the filterless old dir (no-stats-never-means-no-data)
    val kept = keptDirs(root, probe("eu-1"))
    assert(kept.size == 2 && kept == dirs.toSet,
      "the pre-evolution dir must always be kept")
    // a miss still prunes the dir that HAS the filter
    val missed = keptDirs(root, probe("zz-0")).toSeq
    assert(missed.size == 1 && !blooms.contains(missed.head),
      "bloom must prune the covered dir on a miss while keeping the uncovered one")
    // and the skipped read still returns the right rows
    val got = probe("eu-1").select(col("k")).collect().map(_.getLong(0)).toSet
    assert(got == Set(3L))
  }

  test("VersionedTable.streamAppends: committed appends reach a streaming consumer exactly once") {
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_feed").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_feed_ck").toString
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("v", col("id") * 10)
    var v = VersionedTable.commit(spark, root, mk(0, 5), -1L)
    val got = new scala.collection.concurrent.TrieMap[Long, Long]()
    def drain(): Unit = {
      val q = VersionedTable.streamAppends(spark, root)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach { r =>
            val id = r.getAs[Long]("id")
            // a re-delivered id would overwrite with the same value;
            // track multiplicity explicitly instead
            got.put(id, got.getOrElse(id, 0L) + 1L)
          }; ()
        }.start()
      q.awaitTermination()
    }
    drain()
    assert(got.keySet == (0L until 5L).toSet, s"initial snapshot not delivered: $got")
    // two more appends — one through the race-rebase path, which
    // republishes the SAME staged dir (the no-orphan theorem the
    // exactly-once contract rests on)
    v = VersionedTable.append(spark, root, mk(5, 8), v)
    VersionedTable.appendRebaseFrom(spark, root, mk(8, 10), v - 1) // stale base
    drain()
    assert(got.keySet == (0L until 10L).toSet, s"appends not delivered: $got")
    assert(got.values.forall(_ == 1L),
      s"a row was delivered more than once: ${got.filter(_._2 > 1)}")
    // the consumer's offset is its own checkpoint: a third drain with
    // nothing new delivers nothing
    val before = got.size
    drain()
    assert(got.size == before && got.values.forall(_ == 1L))
    // partition-scoped appends nest one dir level deeper — the feed
    // must still see them (each commit logs its p=<value> dirs and
    // their files), with the partition column intact from the file
    // bytes
    val proot = java.nio.file.Files.createTempDirectory("graft_feedp").toString
    val pck = java.nio.file.Files.createTempDirectory("graft_feedp_ck").toString
    val pdf = mk(0, 4).withColumn("pv", (col("id") % 2).cast("string"))
    val pv0 = VersionedTable.commitPartitioned(spark, proot, pdf, "pv", -1L)
    VersionedTable.appendPartitioned(spark, proot,
      mk(4, 6).withColumn("pv", (col("id") % 2).cast("string")), "pv", pv0)
    val prows = new scala.collection.concurrent.TrieMap[Long, String]()
    val q2 = VersionedTable.streamAppends(spark, proot)
      .writeStream.option("checkpointLocation", pck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => prows.put(r.getAs[Long]("id"), r.getAs[String]("pv"))); ()
      }.start()
    q2.awaitTermination()
    assert(prows.keySet == (0L until 6L).toSet,
      s"partition-scoped dirs not delivered: $prows")
    assert(prows.forall { case (id, pv) => pv == (id % 2).toString })
  }

  test("streaming ingest lands in the lakehouse via foreachBatch merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("graft_stream_lake").toString + "/records"
    // seed the serving table with one stale row per key
    val seed = Seq[(Long, String, Option[String], Double, Option[String])](
      (1L, "financials", Some("2020-03-31"), 10.0, None),
      (2L, "financials", Some("2020-03-31"), 20.0, None))
      .toDF("suppkey", "record_type", "period_end_date", "qty", "name")
      .withColumn("period_end_date", col("period_end_date").cast("timestamp"))
    graft.sources.LakehouseWriter.writeUnified(seed, lake)
    // stream micro-batches of updates; each batch MERGEs into the lake
    // (the reference's continuous ingest -> Delta MERGE loop)
    val input = MemoryStream[(Long, Double)]
    val q = input.toDS().toDF("suppkey", "qty")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val records = batch
          .withColumn("record_type", lit("financials"))
          .withColumn("period_end_date", lit("2020-03-31").cast("timestamp"))
          .withColumn("name", lit(null).cast("string"))
          .select("suppkey", "record_type", "period_end_date", "qty", "name")
        graft.sources.LakehouseWriter.mergeInto(spark, lake, records,
          keys = Seq("suppkey", "record_type", "period_end_date"), tieBreak = Seq("qty"))
      }
      .start()
    try {
      input.addData((1L, 11.0))
      q.processAllAvailable()
      input.addData((2L, 22.0))
      q.processAllAvailable()
    } finally q.stop()
    val after = spark.read.parquet(lake)
    assert(after.count() == 2) // merged, not appended
    assert(after.filter(col("suppkey") === 1L).head.getAs[Double]("qty") == 11.0)
    assert(after.filter(col("suppkey") === 2L).head.getAs[Double]("qty") == 22.0)
  }

  test("streaming curation: battery filter + cross-batch near-dup admission land a curated corpus from a stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{BandIndex, TextOps}
    import graft.sources.VersionedTable
    // crafted against the t20 thresholds: A and C pass every rule and
    // are NOT near-dups of each other (char-5 Jaccard 0.05); B fails
    // the word-count rule
    val docA = "the amber river turns and slips past quiet stony banks where " +
      "small boats drift to the old port town under clear calm skies while " +
      "eager birds circle warm sand dunes"
    val docB = "tiny gnat"
    val docC = "the steel motor hums and spins inside large brick halls where " +
      "heavy iron gears drive long cable lines to the far hill yards under " +
      "faint lamp glow every cold night shift"
    def asDocs(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("en")).withColumn("source", lit("stream"))
    // precondition (loud, not flaky): the battery itself admits A and
    // C and rejects B — if the corpus-tuned thresholds move, this
    // line says so instead of the stream assertions below misleading
    val pre = TextOps.filterBattery(asDocs(Seq((1L, docA), (2L, docB), (3L, docC))))
      .select("doc_id", "keep").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(pre == Map(1L -> true, 2L -> false, 3L -> true), s"battery moved: $pre")
    val work = java.nio.file.Files.createTempDirectory("graft_stream_cur").toString
    val idx = s"$work/bandindex"
    val corpus = s"$work/corpus"
    // seed with one unrelated doc (a partition-native table can't be
    // built from zero rows — and a real curation loop always has a
    // corpus before it has an admission gate)
    BandIndex.build(spark, idx, Seq((100L,
      "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa"))
      .toDF("doc_id", "text"))
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val docs = batch
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("lang", lit("en")).withColumn("source", lit("stream"))
        val keptIds = TextOps.filterBattery(docs)
          .filter(col("keep")).select("doc_id")
        val kept = docs.join(keptIds, "doc_id").select("doc_id", "text")
        val (admitted, _) = BandIndex.ingest(spark, idx, kept)
        if (!admitted.isEmpty)
          VersionedTable.currentVersion(spark, corpus) match {
            case Some(v) => VersionedTable.append(spark, corpus, admitted, v)
            case None    => VersionedTable.commit(spark, corpus, admitted, -1L)
          }
        ()
      }
      .start()
    try {
      // batch 1: A admitted, B battery-rejected
      input.addData((1L, docA), (2L, docB))
      q.processAllAvailable()
      // batch 2: doc 3 duplicates A — REJECTED by the index probe
      // against batch 1's append (the cross-batch curation property);
      // C is novel and admitted
      input.addData((3L, docA), (4L, docC))
      q.processAllAvailable()
    } finally q.stop()
    val landed = VersionedTable.read(spark, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(landed == Set(1L, 4L),
      s"curated corpus must hold exactly the novel battery-passing docs, got $landed")
  }

  test("st11 streaming curation drain: census replays from verified parts; cross-batch-only rejections live") {
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("st11_stream_curation")(spark, sf).collect()
    val landedPerBatch = out.groupBy(_.getAs[Long]("arrival_batch")).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    // replay the admission sequence from the already-oracle-verified
    // battery (t20) and near-dup pair (d02) rows
    val kept = SparkEntry.queries("t20_filter_battery")(spark, sf)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val all = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val seed = all.filter(_ % 3 == 0).toSet
    val b1 = all.filter(id => id % 3 == 1 && kept(id))
    val b2 = all.filter(id => id % 3 == 2 && kept(id))
    def hits(id: Long, idx: Set[Long]): Boolean =
      adj.getOrElse(id, Set.empty).exists(idx)
    val adm1 = b1.filterNot(hits(_, seed)).toSet
    val adm2 = b2.filterNot(hits(_, seed ++ adm1)).toSet
    assert(landedPerBatch == Map(0L -> adm1.size.toLong, 1L -> adm2.size.toLong),
      s"landed census $landedPerBatch != replayed admissions (${adm1.size}, ${adm2.size})")
    // the property st-rows exist to pin, live: at least one batch-2
    // doc is rejected ONLY because of a batch-1 admission (no seed
    // pair) — through the O(batch) index append, not the build
    val crossOnly = b2.filter(id => hits(id, adm1) && !hits(id, seed))
    assert(crossOnly.nonEmpty,
      "no cross-batch-only rejection on this corpus — the arm is dead")
  }

  test("st12 streaming ANN ingest: census equals the batch-twin replay; cross-batch-only rejections live") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Similarity, VecIndex}
    val out = SparkEntry.queries("st12_stream_ann_ingest")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // batch twin: the same admission sequence through the public
    // VecIndex API outside any stream
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label"))
    val root = java.nio.file.Files.createTempDirectory("graft_st12_twin").toString
    VecIndex.build(spark, root,
      emb.filter(pmod(col("vec_id"), lit(3)) === 0).select("vec_id", "embedding"),
      centIds = Similarity.streamIngestCentroids)
    val seedRoot = java.nio.file.Files.createTempDirectory("graft_st12_seed").toString
    VecIndex.build(spark, seedRoot,
      emb.filter(pmod(col("vec_id"), lit(3)) === 0).select("vec_id", "embedding"),
      centIds = Similarity.streamIngestCentroids)
    def drain(r: String, mod: Int): Set[Long] = {
      val b = emb.filter(pmod(col("vec_id"), lit(3)) === mod)
        .select(col("vec_id"), col("embedding"))
      val (adm, _) = VecIndex.ingestDedup(spark, r, b,
        maxCos = Similarity.StreamIngestMaxCos, nProbe = 2)
      adm.select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val adm1 = drain(root, 1)
    val adm2 = drain(root, 2)
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val twin = (adm1.toSeq.map(v => (0L, labelOf(v))) ++
                adm2.toSeq.map(v => (1L, labelOf(v))))
      .groupBy(identity).map { case ((b, l), xs) => (b, l, xs.size.toLong) }.toSet
    assert(out == twin, s"stream census diverged from batch twin:\n$out\nvs\n$twin")
    // the arms are live: batch 1 rejected someone...
    val b1All = emb.filter(pmod(col("vec_id"), lit(3)) === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(adm1 != b1All, "batch-1 admission arm dead: nothing rejected")
    // ...and some batch-2 rejection is CROSS-BATCH-ONLY: admitted by
    // the seed-only index (never ingested batch 1) but rejected by
    // the real one — the O(batch) cell append did the turning away
    val adm2SeedOnly = drain(seedRoot, 2)
    assert((adm2SeedOnly -- adm2).nonEmpty,
      "no cross-batch-only rejection — the property st12 exists to pin is dead")
  }

  test("write-path composition: lakehouse upsert drives an incremental aggregate refresh") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lake = java.nio.file.Files.createTempDirectory("graft_mv").toString + "/records"
    val keys = Seq("suppkey", "record_type", "period_end_date")
    val seed = Seq((1L, "financials", "2020-03-31", 10.0),
                   (2L, "financials", "2020-06-30", 20.0),
                   (3L, "ttm", "2020-06-30", 30.0))
      .toDF("suppkey", "record_type", "period_end_date", "qty")
      .withColumn("period_end_date", col("period_end_date").cast("timestamp"))
      .withColumn("name", lit(null).cast("string"))
    graft.sources.LakehouseWriter.writeUnified(seed, lake)
    // snapshot the pre-merge table + view (the merge rewrites the dir,
    // so lazy plans over it must be pinned first)
    val before = spark.read.parquet(lake).drop("period_month").localCheckpoint()
    val view = graft.sources.MaterializedAgg
      .fullAgg(before, "record_type", "qty").localCheckpoint()
    // batch: update (2, financials) 20 -> 25, insert a new ttm row
    val batch = Seq((2L, "financials", "2020-06-30", 25.0),
                    (4L, "ttm", "2020-09-30", 40.0))
      .toDF("suppkey", "record_type", "period_end_date", "qty")
      .withColumn("period_end_date", col("period_end_date").cast("timestamp"))
      .withColumn("name", lit(null).cast("string"))
    graft.sources.LakehouseWriter.mergeInto(spark, lake, batch, keys, Seq("qty"))
    val refreshed = graft.sources.MaterializedAgg
      .refreshAfterUpsert(view, before, batch, keys, Seq("qty"), "record_type", "qty")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val recomputed = graft.sources.MaterializedAgg
      .fullAgg(spark.read.parquet(lake), "record_type", "qty")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(refreshed.keySet == recomputed.keySet)
    refreshed.foreach { case (g, (n, total)) =>
      assert(n == recomputed(g)._1, s"group $g count")
      assert(math.abs(total - recomputed(g)._2) < 1e-9, s"group $g sum")
    }
    assert(refreshed("financials") == ((2L, 35.0)))
    assert(refreshed("ttm") == ((2L, 70.0)))
  }

  test("refresh-on-write: streaming ingest keeps the aggregate view incrementally fresh") {
    import spark.implicits._
    import graft.sources.{MaterializedAgg, VersionedTable}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_row").toString + "/t"
    val keys = Seq("suppkey", "record_type")
    val seed = Seq((1L, "financials", 10.0), (2L, "ttm", 20.0))
      .toDF("suppkey", "record_type", "qty")
    VersionedTable.merge(spark, root, seed, keys, Seq("qty"))
    var view = MaterializedAgg
      .fullAgg(VersionedTable.read(spark, root), "record_type", "qty").localCheckpoint()
    // the reference invalidates its serving cache on every write
    // (cache_utils.py + signals.py); here each micro-batch's merge
    // refreshes the view from the batch + affected slice only
    val input = MemoryStream[(Long, String, Double)]
    val q = input.toDS().toDF("suppkey", "record_type", "qty")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val recs = batch.localCheckpoint()
        if (recs.count() > 0) {
          val before = VersionedTable.read(spark, root).localCheckpoint()
          VersionedTable.merge(spark, root, recs, keys, Seq("qty"))
          view = MaterializedAgg.refreshAfterUpsert(
            view, before, recs, keys, Seq("qty"), "record_type", "qty")
            .localCheckpoint()
        }
      }
      .start()
    def viewMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    try {
      input.addData((1L, "financials", 15.0), (3L, "financials", 30.0))
      q.processAllAvailable()
      assert(viewMap(view) == viewMap(MaterializedAgg.fullAgg(
        VersionedTable.read(spark, root), "record_type", "qty")))
      assert(viewMap(view)("financials") == ((2L, 45.0)))
      input.addData((2L, "ttm", 22.0))
      q.processAllAvailable()
      assert(viewMap(view) == viewMap(MaterializedAgg.fullAgg(
        VersionedTable.read(spark, root), "record_type", "qty")))
      assert(viewMap(view)("ttm") == ((1L, 22.0)))
    } finally q.stop()
  }

  test("ServingView: per-micro-batch commit + change-feed refresh equals full recompute") {
    import spark.implicits._
    import graft.sources.{MaterializedAgg, ServingView, VersionedTable}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sv").toString + "/t"
    val keys = Seq("suppkey")
    def tbl(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("suppkey", "record_type", "qty")
    VersionedTable.merge(spark, root, tbl((1L, "financials", 10.0), (2L, "ttm", 20.0)), keys)
    val sv = new ServingView(spark, root, keys, "record_type", "qty")
    val input = MemoryStream[(Long, String, Double)]
    val q = input.toDS().toDF("suppkey", "record_type", "qty")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => sv.sink(b, id); () }
      .start()
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def recomputed = m(MaterializedAgg.fullAgg(
      VersionedTable.read(spark, root), "record_type", "qty"))
    try {
      // update key 1 + insert key 3: feed carries one update, one insert
      input.addData((1L, "financials", 15.0), (3L, "financials", 30.0))
      q.processAllAvailable()
      assert(m(sv.view) == recomputed)
      assert(m(sv.view) == Map("financials" -> ((2L, 45.0)), "ttm" -> ((1L, 20.0))))
      assert(sv.version == 1L)
      // key 2 MOVES groups (ttm -> financials): retract + add in one feed
      // row; the emptied group must drop out entirely
      input.addData((2L, "financials", 22.0))
      q.processAllAvailable()
      assert(m(sv.view) == recomputed)
      assert(m(sv.view) == Map("financials" -> ((3L, 67.0))))
      // a FOREIGN writer commits outside the loop; the next batch's feed
      // spans both versions and folds it in (snapshot diff = net delta)
      VersionedTable.merge(spark, root, tbl((4L, "ttm", 5.0)), keys)
      input.addData((5L, "ttm", 7.0))
      q.processAllAvailable()
      assert(m(sv.view) == recomputed)
      assert(m(sv.view)("ttm") == ((2L, 12.0)))
    } finally q.stop()
  }

  test("capstone: landed files -> manifest-gated ingest -> versioned merge -> CDC-served view") {
    // the reference's entire loop in one composition: files arrive in
    // the landing zone, the manifest gates ingest (replay = no-op),
    // every file merges into the versioned table (idempotent sink =>
    // end-to-end exactly-once per the Landing contract), and the
    // serving aggregate is maintained from the change feed alone
    import spark.implicits._
    import graft.sources.{Landing, MaterializedAgg, ServingView, VersionedTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toString
    val landing = s"$dir/landing"; val manifest = s"$dir/manifest"
    val table = s"$dir/table"
    def tbl(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("suppkey", "record_type", "qty")
    tbl((1L, "financials", 10.0)).write.parquet(s"$landing/a.parquet")
    tbl((1L, "financials", 15.0), (2L, "ttm", 20.0)).write.parquet(s"$landing/b.parquet")
    val sv = new ServingView(spark, table, Seq("suppkey"), "record_type", "qty")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def recomputed = m(MaterializedAgg.fullAgg(
      VersionedTable.read(spark, table), "record_type", "qty"))
    assert(Landing.ingest(spark, landing, "*.parquet", manifest,
      df => sv.sink(df, 0L)) == Seq("a.parquet", "b.parquet"))
    assert(m(sv.view) == recomputed)
    assert(m(sv.view) == Map("financials" -> ((1L, 15.0)), "ttm" -> ((1L, 20.0))))
    // whole-run replay: no new table versions, no view drift
    val v = VersionedTable.currentVersion(spark, table)
    assert(Landing.ingest(spark, landing, "*.parquet", manifest,
      df => sv.sink(df, 0L)).isEmpty)
    assert(VersionedTable.currentVersion(spark, table) == v && m(sv.view) == recomputed)
    // a late arrival is the only thing the next run touches
    tbl((3L, "ttm", 5.0)).write.parquet(s"$landing/c.parquet")
    assert(Landing.ingest(spark, landing, "*.parquet", manifest,
      df => sv.sink(df, 0L)) == Seq("c.parquet"))
    assert(m(sv.view) == recomputed)
    assert(m(sv.view)("ttm") == ((2L, 25.0)))
  }

  test("streaming state on RocksDB: sessionizer behaves identically on the production store") {
    // local[32] runs the default HDFS-backed store; a 1000-executor
    // cluster runs RocksDB so per-key state spills off-heap/disk and
    // stays bounded. Pin that the stateful sessionizer (custom
    // flatMapGroupsWithState state, event-time timeouts) is
    // provider-agnostic by re-running the st02 scenario on RocksDB and
    // checking the query REALLY ran on it.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ev(id: Long, minutes: Long, user: Long) =
        StreamOps.Ev(id, new java.sql.Timestamp(minutes * 60000L), user)
      val input = MemoryStream[StreamOps.Ev]
      val q = StreamOps.sessionizeStream(input.toDS(), gapMinutes = 30)
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("graft_st02_rocksdb").start()
      try {
        input.addData(ev(1, 60, 1), ev(2, 70, 1))
        q.processAllAvailable()
        input.addData(ev(3, 190, 1))
        q.processAllAvailable()
        input.addData(ev(4, 1060, 2))
        q.processAllAvailable()
        input.addData(ev(5, 1061, 2))
        q.processAllAvailable()
        val out = spark.table("graft_st02_rocksdb").as[StreamOps.Session].collect()
        val u1 = out.filter(_.user_id == 1).sortBy(_.session_start.getTime)
        assert(u1.length == 2)
        assert(u1(0).n_events == 2 && u1(0).session_end.getTime == 70 * 60000L)
        assert(u1(1).session_start.getTime == 190 * 60000L && u1(1).n_events == 1)
        // evidence the state really lived in RocksDB, not the default
        val sops = q.lastProgress.stateOperators
        assert(sops.nonEmpty &&
          sops(0).customMetrics.keySet.toArray.exists(_.toString.contains("rocksdb")),
          "query did not run on the RocksDB state store")
      } finally q.stop()
      // st04: the stream-stream join's buffered state (both sides
      // retained up to the watermark bound) on the same provider
      val clicks = MemoryStream[StreamOps.Ev]
      val views = MemoryStream[StreamOps.Ev]
      val qj = StreamOps.intervalJoinStream(clicks.toDS(), views.toDS(), 30)
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("graft_st04_rocksdb").start()
      try {
        views.addData(ev(101, 10, 1), ev(102, 60, 1), ev(103, 70, 1))
        qj.processAllAvailable()
        clicks.addData(ev(201, 75, 1))
        qj.processAllAvailable()
        val out = spark.table("graft_st04_rocksdb").collect()
        assert(out.map(_.getAs[Long]("view_id")).sorted.toSeq == Seq(102L, 103L))
        val sops = qj.lastProgress.stateOperators
        assert(sops.nonEmpty &&
          sops(0).customMetrics.keySet.toArray.exists(_.toString.contains("rocksdb")),
          "join state did not live in RocksDB")
      } finally qj.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming append sink: each micro-batch is one O(delta) add-file commit") {
    import spark.implicits._
    import graft.sources.VersionedTable
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sta").toString + "/t"
    val input = MemoryStream[(Long, Double)]
    val q = input.toDS().toDF("k", "v")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val recs = batch.localCheckpoint()
        if (recs.count() > 0) {
          val base = VersionedTable.currentVersion(spark, root).getOrElse(-1L)
          VersionedTable.append(spark, root, recs, base)
          ()
        }
      }
      .start()
    try {
      input.addData((1L, 10.0), (2L, 20.0)); q.processAllAvailable()
      input.addData((3L, 30.0)); q.processAllAvailable()
      // two micro-batches -> two versions, two delta dirs, union content
      assert(VersionedTable.currentVersion(spark, root).contains(1L))
      assert(new java.io.File(s"$root/data").listFiles.count(_.isDirectory) == 2)
      assert(VersionedTable.read(spark, root).count() == 3)
      // batch boundary is time-travelable
      assert(VersionedTable.readAsOf(spark, root, 0L).count() == 2)
    } finally q.stop()
  }

  test("mergeInto is idempotent: replaying the same batch is exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val lake = java.nio.file.Files.createTempDirectory("graft_idem").toString + "/records"
    val keys = Seq("suppkey", "record_type", "period_end_date")
    val seed = Seq((1L, "financials", "2020-03-31", 10.0),
                   (2L, "financials", "2020-06-30", 20.0))
      .toDF("suppkey", "record_type", "period_end_date", "qty")
      .withColumn("period_end_date", col("period_end_date").cast("timestamp"))
      .withColumn("name", lit(null).cast("string"))
    graft.sources.LakehouseWriter.writeUnified(seed, lake)
    val batch = Seq((2L, "financials", "2020-06-30", 25.0),
                    (3L, "ttm", "2020-09-30", 40.0))
      .toDF("suppkey", "record_type", "period_end_date", "qty")
      .withColumn("period_end_date", col("period_end_date").cast("timestamp"))
      .withColumn("name", lit(null).cast("string"))
    def snapshot(): Set[(Long, String, Double)] =
      spark.read.parquet(lake)
        .select(col("suppkey"), col("record_type"), col("qty"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    graft.sources.LakehouseWriter.mergeInto(spark, lake, batch, keys, Seq("qty"))
    val once = snapshot()
    // a retried/replayed batch (the reference's Celery retry story,
    // queue_for_delta.py's once-per-batch idempotent merge) must not
    // duplicate or alter rows
    graft.sources.LakehouseWriter.mergeInto(spark, lake, batch, keys, Seq("qty"))
    assert(snapshot() == once)
    assert(once.size == 3)
    // no leftover staging/old/marker artifacts after a clean merge
    val parent = new java.io.File(lake).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.endsWith("_staging") || f.getName.endsWith("_old") ||
      f.getName.endsWith("_MERGE_INPROGRESS")))
  }

  test("VersionedTable: atomic commits, time travel, and invisible uncommitted staging") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vt").toString + "/t"
    val keys = Seq("suppkey")
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    assert(VersionedTable.merge(spark, root, tbl(1L -> 10.0, 2L -> 20.0), keys, Seq("qty")) == 0L)
    assert(VersionedTable.merge(spark, root, tbl(2L -> 25.0, 3L -> 30.0), keys, Seq("qty")) == 1L)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(snap(VersionedTable.read(spark, root)) ==
      Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    // time travel: version 0 is still the pre-merge snapshot
    assert(snap(VersionedTable.readAsOf(spark, root, 0L)) == Map(1L -> 10.0, 2L -> 20.0))
    // a staged-but-never-committed snapshot (crashed writer) is
    // invisible: no log entry -> not a version
    tbl(9L -> 99.0).write.parquet(s"$root/data/v00000099-deadbeef")
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(snap(VersionedTable.read(spark, root)) ==
      Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
  }

  test("VersionedTable: change feed between versions serves the real insert/update/delete delta") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtcf").toString + "/t"
    val keys = Seq("suppkey")
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    // v0: {1,2,3}; v1: 2 updated, 3 gone (commit replaces), 4 inserted
    VersionedTable.merge(spark, root, tbl(1L -> 10.0, 2L -> 20.0, 3L -> 30.0),
      keys, Seq("qty"))
    VersionedTable.commit(spark, root, tbl(1L -> 10.0, 2L -> 25.0, 4L -> 40.0),
      base = 0L)
    val feed = VersionedTable.changeFeed(spark, root, 0L, 1L, keys)
      .select(col("suppkey"), col("change_type"),
        col("_old.qty").as("q_old"), col("_new.qty").as("q_new"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    // unchanged row 1 is NOT in the feed; pre/post images are correct
    assert(feed == Map(
      2L -> ("updated", Some(20.0), Some(25.0)),
      3L -> ("deleted", Some(30.0), None),
      4L -> ("inserted", None, Some(40.0))))
    // the feed replays: v0 minus deletes plus inserts/updates == v1
    val replayed = VersionedTable.readAsOf(spark, root, 0L)
      .join(feed.keys.toSeq.toDF("suppkey"), Seq("suppkey"), "left_anti")
      .union(VersionedTable.changeFeed(spark, root, 0L, 1L, keys)
        .filter(col("change_type") =!= "deleted")
        .select(col("suppkey"), col("_new.qty").as("qty")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(replayed == VersionedTable.readAsOf(spark, root, 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
  }

  test("VersionedTable: merge schema evolution is opt-in, widens with typed nulls, and whole-row semantics are pinned") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtse").toString + "/t"
    VersionedTable.merge(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("suppkey", "qty"), Seq("suppkey"))   // v0
    // widening batch WITHOUT the flag fails loudly, table unchanged
    intercept[Exception] {
      VersionedTable.merge(spark, root,
        Seq((2L, 25.0, "EU")).toDF("suppkey", "qty", "region"), Seq("suppkey"))
    }
    assert(VersionedTable.currentVersion(spark, root).contains(0L))
    // with the flag: schema widens, untouched rows get typed nulls
    VersionedTable.merge(spark, root,
      Seq((2L, 25.0, "EU")).toDF("suppkey", "qty", "region"), Seq("suppkey"),
      allowSchemaEvolution = true)                                           // v1
    val v1 = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), Option(r.getString(2)))).toMap
    assert(v1 == Map(1L -> (10.0, None), 2L -> (25.0, Some("EU"))))
    // change feed across the evolution stays green (documented claim)
    val feed = VersionedTable.changeFeed(spark, root, 0L, 1L, Seq("suppkey"))
      .collect().map(_.getAs[String]("change_type"))
    assert(feed.toSeq == Seq("updated"))
    // whole-row contract: a NARROW batch under evolution overwrites its
    // key's row with null in the columns it does not carry
    VersionedTable.merge(spark, root, Seq((2L, 26.0)).toDF("suppkey", "qty"),
      Seq("suppkey"), allowSchemaEvolution = true)                           // v2
    val v2 = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), Option(r.getString(2)))).toMap
    assert(v2(2L) == (26.0, None), "whole-row replace must null uncarried columns")
    // conflicting types for a shared column are rejected, not cast
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, Seq((3L, "oops")).toDF("suppkey", "qty"),
        Seq("suppkey"), allowSchemaEvolution = true)
    }
  }

  test("VersionedTable: SQL time travel TVFs match the Scala readers exactly") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtsql").toString + "/t"
    VersionedTable.merge(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("suppkey", "qty"), Seq("suppkey"))   // v0
    VersionedTable.merge(spark, root,
      Seq((2L, 25.0), (3L, 30.0)).toDF("suppkey", "qty"), Seq("suppkey"))   // v1
    VersionedTable.registerSqlTimeTravel(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("suppkey"), r.getAs[Double]("qty"))).toSet
    // VERSION AS OF — both versions, equal to readAsOf
    assert(rows(spark.sql(s"SELECT * FROM graft_table_at_version('$root', 0)")) ==
           rows(VersionedTable.readAsOf(spark, root, 0L)))
    assert(rows(spark.sql(s"SELECT * FROM graft_table_at_version('$root', 1)")) ==
           rows(VersionedTable.readAsOf(spark, root, 1L)))
    // HEAD
    assert(rows(spark.sql(s"SELECT * FROM graft_table('$root')")) ==
           rows(VersionedTable.read(spark, root)))
    // TIMESTAMP AS OF: now resolves to the latest version (commit-file
    // mtime clock, same rule as versionAtTimestamp)
    val now = System.currentTimeMillis() + 60000
    assert(rows(spark.sql(
      s"SELECT * FROM graft_table_at_timestamp('$root', $now)")) ==
      rows(VersionedTable.readAsOfTimestamp(spark, root, now)))
    // the TVF is a real relation: composes with SQL filters/aggregates
    val agg = spark.sql(
      s"""SELECT count(*) AS n, sum(qty) AS s
          FROM graft_table_at_version('$root', 1) WHERE qty > 15""").head
    assert(agg.getLong(0) == 2 && math.abs(agg.getDouble(1) - 55.0) < 1e-9)
    // a pre-table timestamp fails loudly (Delta's TIMESTAMP AS OF contract)
    intercept[java.io.FileNotFoundException] {
      spark.sql(s"SELECT * FROM graft_table_at_timestamp('$root', 1000)").collect()
    }
    // change feed through SQL == the Scala changeFeed, and it composes
    val feed = spark.sql(
      s"""SELECT suppkey, change_type
          FROM graft_table_changes('$root', 0, 1, 'suppkey')
          ORDER BY suppkey""").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(feed == Seq((2L, "updated"), (3L, "inserted")))
  }

  test("VersionedTable: columnUpdate merge carries uncarried columns (delta-rs whenMatchedUpdate semantics)") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtcu").toString + "/t"
    VersionedTable.merge(spark, root,
      Seq((1L, 10.0, "EU"), (2L, 20.0, "US")).toDF("suppkey", "qty", "region"),
      Seq("suppkey"))                                                        // v0
    // NARROW batch, columnUpdate: matched row updates ONLY qty and keeps
    // region; the new key inserts with a typed null region. No
    // schema-evolution flag needed — nothing widens.
    VersionedTable.merge(spark, root,
      Seq((2L, 25.0), (3L, 30.0)).toDF("suppkey", "qty"),
      Seq("suppkey"), columnUpdate = true)                                   // v1
    def snap() = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(r.fieldIndex("qty"))).map(_.asInstanceOf[Double]),
         Option(r.getString(r.fieldIndex("region"))))).toMap
    assert(snap() == Map(
      1L -> (Some(10.0), Some("EU")),
      2L -> (Some(25.0), Some("US")), // region carried — the whole point
      3L -> (Some(30.0), None)))
    // UPDATE SET, not coalesce: an explicit null in a carried column WRITES
    VersionedTable.merge(spark, root,
      Seq((1L, Option.empty[Double])).toDF("suppkey", "qty"),
      Seq("suppkey"), columnUpdate = true)                                   // v2
    assert(snap()(1L) == (None, Some("EU")),
      "explicit null must overwrite qty but region must survive")
    // a batch column the table lacks still needs the evolution flag
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq((2L, 0.9)).toDF("suppkey", "score"),
        Seq("suppkey"), columnUpdate = true)
    }
    // with the flag: the table widens, matched row keeps EVERYTHING else
    VersionedTable.merge(spark, root,
      Seq((2L, 0.9)).toDF("suppkey", "score"),
      Seq("suppkey"), columnUpdate = true, allowSchemaEvolution = true)      // v3
    val v3 = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(r.fieldIndex("qty"))),
         Option(r.getString(r.fieldIndex("region"))),
         Option(r.get(r.fieldIndex("score"))))).toMap
    assert(v3(2L) == (Some(25.0), Some("US"), Some(0.9)))
    assert(v3(1L) == (None, Some("EU"), None))
    assert(v3(3L) == (Some(30.0), None, None))
  }

  test("VersionedTable: DISJOINT-partition merges rebase staged dirs (stage once); overlapping merges recompute and stay correct") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtmr").toString + "/t"
    def tbl(rows: (Long, Double, String)*) = rows.toSeq.toDF("suppkey", "qty", "pb")
    def snap() = VersionedTable.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    VersionedTable.commitPartitioned(spark, root,
      tbl((1L, 10.0, "a"), (2L, 20.0, "b")), "pb", -1L)          // v0
    VersionedTable.mergePartitioned(spark, root, tbl((1L, 11.0, "a")),
      Seq("suppkey"), "pb")                                       // v1: A updates a
    assert(!VersionedTable.lastMergeRebased)
    // writer B staged against the STALE v0, touching only b: the
    // conflict with A resolves by REBASE — same staged dir republished
    val vb = VersionedTable.mergePartitionedFrom(spark, root,
      tbl((3L, 30.0, "b")), Seq("suppkey"), "pb", Nil, 3, firstBase = Some(0L))
    assert(vb == 2L && VersionedTable.lastMergeRebased,
      "disjoint-partition conflict must land via rebase, not recompute")
    assert(snap() == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
    // writer C staged against v0 but touching a — OVERLAPS A's write:
    // its stale staged merge (a = {1->10.0, 4->40.0}) would LOSE A's
    // update if rebased; the overlap check forces the recompute path
    val vc = VersionedTable.mergePartitionedFrom(spark, root,
      tbl((4L, 40.0, "a")), Seq("suppkey"), "pb", Nil, 3, firstBase = Some(0L))
    assert(vc == 3L && !VersionedTable.lastMergeRebased,
      "overlapping-partition conflict must recompute")
    assert(snap() == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0),
      "recompute must merge against the HEAD's partition state, preserving A's update")
  }

  test("VersionedTable: stale-base mergeSkipping rebases over a disjoint key range, recomputes over an overlap; a stale deleteKeys lands") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_vt_msrace").toString + "/t"
    def bucketed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", (col("k") / lit(100)).cast("long").cast("string"))
    def batch(rows: (Long, Long)*) = bucketed(rows.toSeq.toDF("k", "v"))
    def snap() = VersionedTable.read(spark, root).select("k", "v").as[(Long, Long)].collect().toMap
    VersionedTable.commitPartitioned(spark, root,
      bucketed(spark.range(0, 1000, 2).toDF("k")).withColumn("v", col("k") * 10), "bucket", -1L) // v0
    // the winner rewrites bucket 2's dir ([250, 250])
    assert(DataSkipping.mergeSkipping(spark, root, batch(250L -> -1L), Seq("k"), "k") == 1L)
    // staged against the stale v0 for [700, 701]: the head picks the
    // same dir (bucket 7's), so the staged dir republishes over v1
    assert(DataSkipping.mergeSkippingFrom(spark, root, batch(700L -> -7L, 701L -> -8L),
      Seq("k"), "k", Nil, 3, firstBase = Some(0L)) == 2L)
    assert(VersionedTable.lastMergeRebased, "a disjoint key range must land by rebase")
    assert(DataSkipping.lastMergeRewrote == 1 && DataSkipping.lastMergeCarried == 9)
    // the winner rewrites the merged bucket-2 dir again (252 -> -3)
    assert(DataSkipping.mergeSkipping(spark, root, batch(252L -> -3L), Seq("k"), "k") == 3L)
    // staged against the stale v2 for [254, 255], whose pick (v2's
    // bucket-2 dir) v3 replaced: it recomputes against v3
    assert(DataSkipping.mergeSkippingFrom(spark, root, batch(254L -> -4L, 255L -> -5L),
      Seq("k"), "k", Nil, 3, firstBase = Some(2L)) == 4L)
    assert(!VersionedTable.lastMergeRebased, "an overlapping key range must recompute")
    val got = snap()
    assert(got.size == 502)
    assert(Seq(250L, 252L, 254L, 255L, 700L, 701L).map(got) == Seq(-1L, -3L, -4L, -5L, -7L, -8L),
      "the recompute must keep the winner's update")
    assert(got(256L) == 2560L && got(702L) == 7020L)
    // a keyed delete staged against a stale base: the head picks
    // other dirs, so it recomputes and lands instead of throwing
    val droot = java.nio.file.Files.createTempDirectory("graft_vt_delrace").toString + "/t"
    VersionedTable.commit(spark, droot, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), -1L)  // v0
    VersionedTable.append(spark, droot, Seq((3L, "c")).toDF("id", "v"), 0L)             // v1
    assert(VersionedTable.deleteKeysFrom(spark, droot, Seq(1L, 3L).toDF("id"), Seq("id"),
      firstBase = Some(0L)) == 2L)
    assert(!VersionedTable.lastMergeRebased)
    assert(VersionedTable.read(spark, droot).as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("VersionedTable: whole-table writes keep a partition-native layout, so mergePartitioned works after them") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vt_layout").toString + "/t"
    def tbl(rows: (Long, String, Double)*) = rows.toSeq.toDF("k", "part", "x")
    VersionedTable.commitPartitioned(spark, root,
      tbl((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "c", 4.0)), "part", -1L)   // v0
    VersionedTable.deleteKeys(spark, root, Seq(2L).toDF("k"), Seq("k"))                  // v1
    VersionedTable.merge(spark, root, tbl((3L, "b", 30.0), (5L, "c", 5.0)), Seq("k"))    // v2
    VersionedTable.appendRebase(spark, root, tbl((6L, "d", 6.0)))                        // v3
    for (v <- 1L to 3L)
      assert(VersionedTable.partitionNative(spark, root, v),
        s"v$v published an unscoped dir: ${VersionedTable.entriesOf(spark, root, v)}")
    assert(VersionedTable.mergePartitioned(spark, root,
      tbl((1L, "a", 10.0), (7L, "b", 7.0)), Seq("k"), "part") == 4L)
    def part(pv: String) =
      VersionedTable.readPartition(spark, root, pv).as[(Long, String, Double)].collect().toSet
    assert(part("a") == Set((1L, "a", 10.0)))
    assert(part("b") == Set((3L, "b", 30.0), (7L, "b", 7.0)))
    assert(part("c") == Set((4L, "c", 4.0), (5L, "c", 5.0)))
    assert(part("d") == Set((6L, "d", 6.0)))
    // a null partition value in such a write is rejected by name, and
    // leaves nothing staged
    val dirs = new java.io.File(s"$root/data").listFiles().length
    val e = intercept[IllegalArgumentException](VersionedTable.merge(spark, root,
      Seq((8L, None: Option[String], 8.0)).toDF("k", "part", "x"), Seq("k")))
    assert(e.getMessage.contains("null part values"), e.getMessage)
    assert(VersionedTable.currentVersion(spark, root).contains(4L))
    assert(new java.io.File(s"$root/data").listFiles().length == dirs)
    // a delete that empties the table still publishes a readable version
    assert(VersionedTable.deleteKeys(spark, root, (1L to 7L).toDF("k"), Seq("k")) == 5L)
    assert(VersionedTable.read(spark, root).count() == 0L)
    assert(VersionedTable.read(spark, root).columns.toSeq == Seq("k", "part", "x"))
  }

  test("VersionedTable: CHECK constraints gate every write path BEFORE staging; broken-at-birth constraints are rejected") {
    import spark.implicits._
    import graft.sources.VersionedTable
    import VersionedTable.ConstraintViolationException
    val root = java.nio.file.Files.createTempDirectory("graft_vtck").toString + "/t"
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    VersionedTable.commit(spark, root, tbl(1L -> 10.0, 2L -> 20.0), base = -1L)
    VersionedTable.addConstraint(spark, root, "qty_nonneg",
      "qty IS NOT NULL AND qty >= 0")
    // violating append throws NAMING the constraint; nothing staged,
    // version unchanged
    val e = intercept[ConstraintViolationException] {
      VersionedTable.append(spark, root, tbl(3L -> -5.0), base = 0L)
    }
    assert(e.name == "qty_nonneg")
    assert(VersionedTable.currentVersion(spark, root).contains(0L))
    val dataDirs = new java.io.File(s"$root/data").listFiles().length
    assert(dataDirs == 1, "violating batch must not leave a staged dir")
    // a null qty is a violation too (CHECK must evaluate TRUE)
    intercept[ConstraintViolationException] {
      VersionedTable.append(spark, root,
        Seq((4L, Option.empty[Double])).toDF("suppkey", "qty"), base = 0L)
    }
    // clean writes pass on BOTH funnels (unscoped + partitioned table)
    assert(VersionedTable.append(spark, root, tbl(3L -> 30.0), base = 0L) == 1L)
    // a constraint the existing data already violates is rejected and
    // NOT registered
    val e2 = intercept[ConstraintViolationException] {
      VersionedTable.addConstraint(spark, root, "qty_small", "qty < 25")
    }
    assert(e2.name == "qty_small")
    assert(VersionedTable.constraints(spark, root).map(_._1) == Seq("qty_nonneg"))
    // the rebasing appends, the streaming sink's txn append and a
    // format("graft") append pass the same gate: each throws, the
    // version stays, and nothing is left staged
    val dirsBefore = new java.io.File(s"$root/data").listFiles().length
    Seq[(String, () => Any)](
      "appendRebase" -> (() => VersionedTable.appendRebase(spark, root, tbl(5L -> -1.0))),
      "appendRebaseTxn" -> (() =>
        VersionedTable.appendRebaseTxn(spark, root, tbl(5L -> -1.0), "ck_app", 0L)),
      "format(graft) append" -> (() =>
        tbl(5L -> -1.0).write.format("graft").mode("append").save(root))
    ).foreach { case (path, write) =>
      val ev = intercept[ConstraintViolationException](write())
      assert(ev.name == "qty_nonneg", path)
      assert(VersionedTable.currentVersion(spark, root).contains(1L), path)
      assert(new java.io.File(s"$root/data").listFiles().length == dirsBefore,
        s"$path left a staged dir")
    }
    // partitioned path: the same gate fires in stagePartitions
    val proot = java.nio.file.Files.createTempDirectory("graft_vtckp").toString + "/t"
    val pdf = Seq((1L, 5.0, "a"), (2L, 6.0, "b")).toDF("suppkey", "qty", "pb")
    VersionedTable.commitPartitioned(spark, proot, pdf, "pb", -1L)
    VersionedTable.addConstraint(spark, proot, "qty_pos", "qty > 0")
    intercept[ConstraintViolationException] {
      VersionedTable.appendPartitioned(spark, proot,
        Seq((3L, 0.0, "a")).toDF("suppkey", "qty", "pb"), "pb", 0L)
    }
    assert(VersionedTable.currentVersion(spark, proot).contains(0L))
  }

  test("VersionedTable: RESTORE republishes an old version as the head — metadata-only, history intact, vacuum-safe") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtres").toString + "/t"
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    def snap(v: Option[Long] = None) =
      (v match { case Some(x) => VersionedTable.readAsOf(spark, root, x)
                 case None => VersionedTable.read(spark, root) })
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    VersionedTable.commit(spark, root, tbl(1L -> 10.0), base = -1L)      // v0
    VersionedTable.append(spark, root, tbl(2L -> 20.0), base = 0L)       // v1
    VersionedTable.commit(spark, root, tbl(9L -> 90.0), base = 1L)       // v2: bad overwrite
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val rv = VersionedTable.restore(spark, root, 1L)                     // v3 == v1 content
    assert(rv == 3L && VersionedTable.currentVersion(spark, root).contains(3L))
    val after = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => p.toString.endsWith(".parquet")).count()
    assert(after == before, "restore must stage ZERO data files (metadata-only)")
    assert(snap() == Map(1L -> 10.0, 2L -> 20.0))
    // history preserved: the undone version is still travelable
    assert(snap(Some(2L)) == Map(9L -> 90.0))
    // restore target out of uncommitted space fails loudly
    intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, root, 7L)
    }
    // roll-forward is the same primitive: restore to the undone v2...
    assert(VersionedTable.restore(spark, root, 2L) == 4L)
    assert(snap() == Map(9L -> 90.0))
    // ...and back; vacuum then keeps the restored dirs — the head
    // REACHES them even though their staging version is ancient
    assert(VersionedTable.restore(spark, root, 1L) == 5L)
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(snap() == Map(1L -> 10.0, 2L -> 20.0),
      "vacuum reclaimed dirs the restored head still references")
  }

  test("VersionedTable: O(delta) appends, compaction, and reachability-aware vacuum") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vta").toString + "/t"
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    def snap(v: Long) = VersionedTable.readAsOf(spark, root, v)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def nDirs = {
      val d = new java.io.File(s"$root/data")
      if (d.exists) d.listFiles.count(_.isDirectory) else 0
    }
    assert(VersionedTable.append(spark, root, tbl(1L -> 10.0), base = -1L) == 0L)
    assert(VersionedTable.append(spark, root, tbl(2L -> 20.0), base = 0L) == 1L)
    assert(VersionedTable.append(spark, root, tbl(3L -> 30.0), base = 1L) == 2L)
    // each append staged ONLY its delta (3 dirs, not 1+2+3 snapshots)
    assert(nDirs == 3)
    assert(snap(2L) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    assert(snap(1L) == Map(1L -> 10.0, 2L -> 20.0)) // time travel intact
    // a stale appender hits the same optimistic-concurrency guard
    intercept[VersionedTable.VersionConflictException] {
      VersionedTable.append(spark, root, tbl(9L -> 90.0), base = 1L)
    }
    // vacuum keeps v1+v2: v1's dirs are SHARED with v2 via the append
    // chain, so dropping v0's log entry must delete NO data dir
    VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(nDirs == 3 && snap(1L) == Map(1L -> 10.0, 2L -> 20.0))
    // compact folds the chain into one snapshot; content unchanged
    assert(VersionedTable.compact(spark, root) == 3L)
    assert(snap(3L) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // now only the compacted dir is reachable — vacuum reclaims the chain
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(nDirs == 1)
    assert(snap(3L) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("VersionedTable: partition-scoped merge stages O(touched partition), carries the rest") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtp").toString + "/t"
    val keys = Seq("suppkey", "record_type") // partition col is part of the key => stable
    def tbl(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("suppkey", "record_type", "qty")
    // entry lines only: '#'-prefixed lines are commit metadata
    // (#partcol / #txn), not dir entries — same rule the reader applies
    def commitLines(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/v${"%08d".format(v)}.commit")), "UTF-8")
      .split("\n").toSeq.filterNot(_.startsWith("#"))
    // v0: three partitions A/B/C, one dir each
    assert(VersionedTable.mergePartitioned(spark, root,
      tbl((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 30.0), (4L, "C", 40.0)),
      keys, "record_type") == 0L)
    val v0Lines = commitLines(0L)
    assert(v0Lines.size == 3)
    // v1: source touches ONLY partition B
    assert(VersionedTable.mergePartitioned(spark, root,
      tbl((3L, "B", 35.0), (5L, "B", 50.0)), keys, "record_type") == 1L)
    val v1Lines = commitLines(1L)
    // A and C dirs carried forward BYTE-FOR-BYTE; exactly one new dir (B)
    val carried = v1Lines.filter(v0Lines.contains)
    assert(carried.size == 2, s"expected A+C carried, got $v1Lines vs $v0Lines")
    assert(v1Lines.size == 3)
    val newLines = v1Lines.filterNot(v0Lines.contains)
    assert(newLines.size == 1 && newLines.head.contains("p=B"),
      s"new dir is not partition B: $newLines")
    // merged content is the GLOBAL merge result
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(snap(VersionedTable.read(spark, root).select("suppkey", "record_type", "qty")) ==
      Map((1L, "A") -> 10.0, (2L, "A") -> 20.0, (3L, "B") -> 35.0,
          (4L, "C") -> 40.0, (5L, "B") -> 50.0))
    // time travel across a partition-scoped merge
    assert(snap(VersionedTable.readAsOf(spark, root, 0L)
      .select("suppkey", "record_type", "qty")) ==
      Map((1L, "A") -> 10.0, (2L, "A") -> 20.0, (3L, "B") -> 30.0, (4L, "C") -> 40.0))
    // change feed across a partition-scoped merge sees only partition B's delta
    val feed = VersionedTable.changeFeed(spark, root, 0L, 1L, keys)
      .select(col("suppkey"), col("change_type")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feed == Map(3L -> "updated", 5L -> "inserted"))
    // partition-pruned read opens ONLY B's dirs
    val bOnly = VersionedTable.readPartition(spark, root, "B")
    assert(bOnly.inputFiles.forall(_.contains("p=B")))
    assert(snap(bOnly.select("suppkey", "record_type", "qty")) ==
      Map((3L, "B") -> 35.0, (5L, "B") -> 50.0))
  }

  test("VersionedTable: partitioned append chains + partition-preserving compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtpa").toString + "/t"
    def tbl(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("suppkey", "record_type", "qty")
    def entryLines(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/v${"%08d".format(v)}.commit")), "UTF-8")
      .split("\n").toSeq
    VersionedTable.commitPartitioned(spark, root,
      tbl((1L, "A", 10.0), (2L, "B", 20.0)), "record_type", base = -1L)
    // two O(delta) appends touch ONLY partition B -> B builds a 3-dir
    // chain while A's single entry is carried byte-for-byte
    VersionedTable.appendPartitioned(spark, root, tbl((3L, "B", 30.0)), "record_type", 0L)
    VersionedTable.appendPartitioned(spark, root, tbl((4L, "B", 40.0)), "record_type", 1L)
    val v2 = entryLines(2L)
    assert(v2.count(_.contains("p=B")) == 3 && v2.count(_.contains("p=A")) == 1)
    assert(entryLines(0L).filter(_.contains("p=A")) == v2.filter(_.contains("p=A")))
    // pruned read of B sees the whole chain
    assert(VersionedTable.readPartition(spark, root, "B")
      .agg(sum(col("qty"))).head.getDouble(0) == 90.0)
    // compaction folds B to one dir, carries A untouched, keeps layout
    assert(VersionedTable.compactPartitioned(spark, root) == 3L)
    val v3 = entryLines(3L)
    assert(v3.count(_.contains("p=B")) == 1 && v3.filter(_.contains("p=A")) == v2.filter(_.contains("p=A")))
    assert(VersionedTable.read(spark, root).count() == 4)
    assert(VersionedTable.readAsOf(spark, root, 1L).count() == 3) // time travel intact
    // still partition-native: a further partition-scoped merge works
    VersionedTable.mergePartitioned(spark, root, tbl((4L, "B", 45.0)),
      Seq("suppkey", "record_type"), "record_type")
    assert(VersionedTable.readPartition(spark, root, "B")
      .agg(sum(col("qty"))).head.getDouble(0) == 95.0)
    assert(VersionedTable.readPartition(spark, root, "A")
      .agg(sum(col("qty"))).head.getDouble(0) == 10.0)
  }

  test("VersionedTable: schema evolution — an appended column is served, not silently dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtse").toString + "/t"
    VersionedTable.append(spark, root,
      Seq((1L, 10.0)).toDF("suppkey", "qty"), base = -1L)
    // the delta arrives with a NEW column; union-on-read must serve it
    // with nulls for pre-evolution rows (plain parquet reads would
    // silently drop it depending on which file's schema won)
    VersionedTable.append(spark, root,
      Seq((2L, 20.0, "eur")).toDF("suppkey", "qty", "currency"), base = 0L)
    val cur = VersionedTable.read(spark, root)
    assert(cur.columns.toSet == Set("suppkey", "qty", "currency"))
    val byKey = cur.collect().map(r =>
      r.getAs[Long]("suppkey") -> Option(r.getAs[String]("currency"))).toMap
    assert(byKey == Map(1L -> None, 2L -> Some("eur")))
    // time travel serves each version's OWN schema
    assert(VersionedTable.readAsOf(spark, root, 0L).columns.toSet == Set("suppkey", "qty"))
    // the change feed crosses the evolution: row 1's null-backfilled
    // new column is NOT a change; only the insert appears
    val feed = VersionedTable.changeFeed(spark, root, 0L, 1L, Seq("suppkey"))
      .select(col("suppkey"), col("change_type")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(feed == Map(2L -> "inserted"))
  }

  test("DataSkipping: z-order prunes on EITHER column; linear sort only on its leading one") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val base = java.nio.file.Files.createTempDirectory("graft_skip").toString
    val zRoot = s"$base/z"; val linRoot = s"$base/lin"
    // x uniform, y a decorrelated permutation-ish hash of x
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("x", col("id"))
      .withColumn("y", (col("id") * 2654435761L) % 10000)
    DataSkipping.zOrderCommit(spark, zRoot, df, "x", "y", nDirs = 16, base = -1L)
    VersionedTable.commitPartitioned(spark, linRoot,
      df.withColumn("zb", floor(col("x") / 625).cast("string")), "zb", -1L)
    // write-time stats: the z-order write published its sidecar, so
    // asking for its columns' stats triggers no build
    val builds0 = DataSkipping.statsBuilds
    DataSkipping.ensureStats(spark, zRoot, 0L, Seq("x", "y"))
    assert(DataSkipping.statsBuilds == builds0,
      "first read after a z-order write rebuilt stats the write already published")
    def range(root: String, c: String, lo: Long, hi: Long) =
      VersionedTable.read(spark, root).filter(col(c).between(lo, hi))
    val zx = keptDirs(zRoot, range(zRoot, "x", 0, 624)).size
    val zy = keptDirs(zRoot, range(zRoot, "y", 0, 624)).size
    DataSkipping.ensureStats(spark, linRoot, 0L, Seq("x", "y"))
    val lx = keptDirs(linRoot, range(linRoot, "x", 0, 624)).size
    val ly = keptDirs(linRoot, range(linRoot, "y", 0, 624)).size
    assert(lx == 1, s"linear layout should be exact on its sort column, opened $lx")
    assert(ly == 16, "y is decorrelated from the linear sort — nothing should prune")
    // the z-order point: a 1/16 range on EITHER column touches ~one
    // column/row of the 4x4 Morton grid, not the whole table
    assert(zx <= 6 && zy <= 6, s"z-order opened x:$zx y:$zy of 16 dirs")
    // parity: the pruned read equals the full-scan filter exactly
    val got = range(zRoot, "y", 0, 624)
      .select("id").collect().map(_.getLong(0)).toSet
    val exp = df.filter(col("y").between(0, 624)).select("id").collect().map(_.getLong(0)).toSet
    assert(got == exp && got.nonEmpty)
    // stats are computed once per (version, column) and served from
    // the sidecar afterwards — reads of other ranges rebuild nothing
    val builds = DataSkipping.statsBuilds
    keptDirs(zRoot, range(zRoot, "y", 2000, 3000))
    keptDirs(zRoot, range(zRoot, "x", 9000, 9999))
    DataSkipping.ensureStats(spark, zRoot, 0L, Seq("x", "y"))
    assert(DataSkipping.statsBuilds == builds, "stats sidecar was rebuilt on a cached read")
    // an out-of-range predicate opens nothing but keeps the schema
    val none = range(zRoot, "x", 20000, 30000)
    assert(none.collect().isEmpty && keptDirs(zRoot, none).isEmpty)
    assert(none.schema == VersionedTable.read(spark, zRoot).schema)
    // vacuum: an expired version's stats sidecar dies with its commit
    VersionedTable.commitPartitioned(spark, linRoot,
      df.withColumn("zb", floor(col("x") / 625).cast("string")), "zb", 0L)
    DataSkipping.ensureStats(spark, linRoot, 1L, Seq("x")) // builds v1 stats
    assert(new java.io.File(s"$linRoot/_log/v00000000.stats").exists)
    VersionedTable.vacuum(spark, linRoot)
    assert(!new java.io.File(s"$linRoot/_log/v00000000.stats").exists,
      "vacuumed version's stats sidecar was orphaned")
    assert(new java.io.File(s"$linRoot/_log/v00000001.stats").exists)
  }

  test("Scd2: type-2 merge closes changed windows, keeps history, reconstructs any as-of") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{Scd2, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_scd2").toString + "/dim"
    def dim(rows: (String, Double)*) = rows.toSeq.toDF("ticker", "pe")
    Scd2.mergeScd2(spark, root, dim("A" -> 1.0, "B" -> 2.0), Seq("ticker"), "2024-01-01 00:00:00")
    // t2: A changes, B unchanged (must stay untouched), C is new
    Scd2.mergeScd2(spark, root, dim("A" -> 10.0, "B" -> 2.0, "C" -> 3.0),
      Seq("ticker"), "2024-02-01 00:00:00")
    // t3: C changes again
    Scd2.mergeScd2(spark, root, dim("C" -> 30.0), Seq("ticker"), "2024-03-01 00:00:00")
    val all = VersionedTable.read(spark, root).collect()
      .map(r => (r.getAs[String]("ticker"), r.getAs[Double]("pe"),
        Option(r.getAs[java.sql.Timestamp]("valid_to")).isEmpty,
        r.getAs[Boolean]("is_current")))
    // exactly one current row per key; closed rows are not current
    assert(all.count(_._4) == 3)
    all.foreach { case (_, _, open, cur) => assert(open == cur) }
    // A carries its full history; B's window never moved
    val a = all.filter(_._1 == "A").sortBy(_._2)
    assert(a.map(x => (x._2, x._4)).toSeq == Seq((1.0, false), (10.0, true)))
    val b = VersionedTable.read(spark, root).filter(col("ticker") === "B").head()
    assert(b.getAs[java.sql.Timestamp]("valid_from").toString.startsWith("2024-01-01"))
    // as-of reconstruction is a FILTER: the dim at each batch time
    def at(ts: String) = Scd2.asOf(spark, root, ts).collect()
      .map(r => r.getAs[String]("ticker") -> r.getAs[Double]("pe")).toMap
    assert(at("2024-01-15 00:00:00") == Map("A" -> 1.0, "B" -> 2.0))
    assert(at("2024-02-15 00:00:00") == Map("A" -> 10.0, "B" -> 2.0, "C" -> 3.0))
    assert(at("2024-03-15 00:00:00") == Map("A" -> 10.0, "B" -> 2.0, "C" -> 30.0))
    // out-of-order batches that would CORRUPT a validity range are
    // rejected: changing A at/behind its own current valid_from would
    // close a window at a time <= its open. (The guard is scoped
    // per-key: a backdated change to a key whose own window opened
    // earlier, or a late new key, is legal SCD2 late data.)
    intercept[IllegalArgumentException] {
      Scd2.mergeScd2(spark, root, dim("A" -> 99.0), Seq("ticker"), "2024-01-15 00:00:00")
    }
    // ...but a REPLAYED (already-applied) batch is an idempotent
    // no-op — no new version, no window churn (the Landing
    // at-least-once crash window composes safely)
    val v = Scd2.mergeScd2(spark, root, dim("C" -> 30.0), Seq("ticker"), "2024-03-01 00:00:00")
    assert(v == 2L)
    assert(VersionedTable.currentVersion(spark, root).contains(2L))
  }

  test("bloom backfill is ONE wave: job count independent of dir count") {
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_bloomwave").toString
    def mk(i: Int) = spark.range(0, 2400).toDF("k")
      .filter(col("k") % 12 === i).withColumn("payload", col("k") * 3)
    var v = VersionedTable.commit(spark, root, mk(0), -1L)
    (1 until 12).foreach { i => v = VersionedTable.append(spark, root, mk(i), v) }
    val dirs = VersionedTable.dirsOf(spark, root, v)
    assert(dirs.size >= 12)
    // cold backfill over all dirs: the per-dir path this replaced
    // launched 2 jobs per dir (>= 24 here); the grouped build is a
    // sizes pass + a partials/merge pass however many dirs exist
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val blooms = try {
      val b = DataSkipping.ensureBloom(spark, root, v, "k")
      Thread.sleep(500) // let queued listener events drain
      b
    } finally spark.sparkContext.removeSparkListener(listener)
    val jobs = counter.get()
    assert(jobs <= 8,
      s"bloom backfill of ${dirs.size} dirs launched $jobs jobs — the one-wave build regressed")
    // and the filters are real: every dir covered, a point probe
    // keeps its holding dir and prunes others
    assert(blooms.keySet == dirs.toSet)
    val needle = VersionedTable.read(spark, root).filter(col("k") === 1777L)
    assert(keptDirs(root, needle).size < dirs.size, "backfilled filters prune nothing")
    assert(needle.collect().map(_.getAs[Long]("payload")).toSeq == Seq(1777L * 3))
  }

  test("DataSkipping bloom tier: equality probes prune where min/max cannot") {
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    // every dir holds keys k % 8 == i over 0..7999: each dir's
    // [min, max] spans ~the whole domain, the layout range stats
    // cannot prune — the bloom tier's exact target (point lookups on
    // an unclustered high-cardinality key)
    def mk(i: Int) = spark.range(0, 8000).toDF("k")
      .filter(col("k") % 8 === i).withColumn("payload", col("k") * 7)
    var v = VersionedTable.commit(spark, root, mk(0), -1L)
    (1 until 8).foreach { i => v = VersionedTable.append(spark, root, mk(i), v) }
    val nDirs = VersionedTable.dirsOf(spark, root, v).size
    val probe = 4437L // lives in exactly one dir (4437 % 8 == 5)
    def needle(k: Long) = VersionedTable.read(spark, root).filter(col("k") === k)
    // before any bloom sidecar exists the index prunes on range stats
    // alone, and those cannot split an interleaved layout
    DataSkipping.ensureStats(spark, root, v, Seq("k"))
    assert(keptDirs(root, VersionedTable.read(spark, root).filter(col("k").between(4437, 4437)))
      .size == nDirs, "range stats pruned an interleaved layout — test premise broken")
    DataSkipping.ensureBloom(spark, root, v, "k")
    val kept = keptDirs(root, needle(probe))
    // no false negative: the holding dir is kept; and the filter
    // actually prunes (at 1% fpp over 8 dirs, spurious keeps are
    // possible but 8 would mean the filters carry no signal)
    assert(kept.size < nDirs, s"bloom kept all $nDirs dirs")
    val viaBloom = needle(probe).collect()
    val full = spark.range(0, 8000).toDF("k").withColumn("payload", col("k") * 7)
      .filter(col("k") === probe).collect()
    assert(viaBloom.map(_.toString).sorted.sameElements(full.map(_.toString).sorted))
    assert(viaBloom.length == 1 && viaBloom.head.getAs[Long]("payload") == probe * 7)
    // absent key: still zero rows through whatever dirs fpp keeps
    assert(needle(123456789L).collect().isEmpty)
    // filters are per-dir artifacts: an append builds ONLY the new
    // dir's filter (inheritance seeds the rest), and a repeat probe
    // builds nothing
    val builds0 = DataSkipping.bloomBuilds
    DataSkipping.ensureBloom(spark, root, v, "k")
    assert(DataSkipping.bloomBuilds == builds0, "repeat probe rebuilt bloom filters")
    v = VersionedTable.append(spark, root,
      spark.range(8000, 8100).toDF("k").withColumn("payload", col("k") * 7), v)
    DataSkipping.ensureBloom(spark, root, v, "k")
    assert(DataSkipping.bloomBuilds == builds0 + 1)
    assert(DataSkipping.lastBloomDirsScanned == 1,
      s"append bloom job scanned ${DataSkipping.lastBloomDirsScanned} dirs, want 1")
    val kept2 = keptDirs(root, needle(8050L))
    assert(kept2.nonEmpty && kept2.size < nDirs + 1)
    assert(needle(8050L).collect().map(_.getAs[Long]("payload")).toSeq == Seq(8050L * 7))
  }

  test("DataSkipping bloom: NULL-only dirs build ONCE as empty filters and prune exactly") {
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_bloom_null").toString
    // dir 0: real keys; dir 1: the column exists but every value is
    // NULL (a late-arriving feed whose enrichment hasn't run yet)
    val v0 = VersionedTable.commit(spark, root,
      spark.range(0, 100).toDF("id").withColumn("k", concat(lit("key-"), col("id"))), -1L)
    val v = VersionedTable.append(spark, root,
      spark.range(100, 200).toDF("id").withColumn("k", lit(null).cast("string")), v0)
    val builds0 = DataSkipping.bloomBuilds
    val blooms = DataSkipping.ensureBloom(spark, root, v, "k")
    assert(DataSkipping.bloomBuilds == builds0 + 1)
    assert(blooms.size == 2,
      "the NULL-only dir must get a (empty) sidecar entry — build-once")
    // build-once: a repeat build launches NO further build
    DataSkipping.ensureBloom(spark, root, v, "k")
    assert(DataSkipping.bloomBuilds == builds0 + 1,
      "NULL-only dir re-entered the build set on a repeat probe")
    // and the empty filter is EXACT for equality: nulls can never
    // match `k = value`, so the NULL-only dir prunes outright
    val needle = graft.sources.VersionedTable.read(spark, root).filter(col("k") === "key-5")
    val kept = keptDirs(root, needle)
    assert(kept.size == 1, s"equality probe must open only the data dir, kept $kept")
    assert(needle.collect().map(_.getAs[Long]("id")).toSeq == Seq(5L))
  }

  test("DataSkipping bloom: percent-encoded partition dir names survive the grouped build") {
    import spark.implicits._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_bloom_enc").toString + "/t"
    // partition values that URL-encode to %XX dir names — the shapes
    // input_file_name() re-encodes and a raw endsWith match misses
    val df = Seq(("a b", 1L), ("a b", 2L), ("c%d", 3L), ("c%d", 4L), ("plain", 5L))
      .toDF("pv", "id")
    val v = VersionedTable.commitPartitioned(spark, root, df, "pv", -1L)
    val blooms = DataSkipping.ensureBloom(spark, root, v, "id")
    // every committed dir mapped: no crash, no dropped dir
    assert(blooms.keySet == VersionedTable.dirsOf(spark, root, v).toSet,
      s"grouped build lost dirs: ${blooms.keySet}")
    val needle = VersionedTable.read(spark, root).filter(org.apache.spark.sql.functions.col("id") === 3L)
    val kept = keptDirs(root, needle)
    assert(kept.size < 3, "filters over encoded dirs prune nothing")
    assert(needle.collect().map(_.getAs[String]("pv")).toSeq == Seq("c%d"))
  }

  test("DataSkipping.recluster: appends degrade pruning; OPTIMIZE restores it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_opt").toString + "/t"
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("x", col("id"))
      .withColumn("y", (col("id") * 2654435761L) % 10000)
    DataSkipping.zOrderCommit(spark, root, mk(0, 8000), "x", "y", nDirs = 16, base = -1L)
    // dirs a y-range read of version `v` opens (stats built first: the
    // index never builds them)
    def yRange(v: Long) = {
      DataSkipping.ensureStats(spark, root, v, Seq("y"))
      VersionedTable.readAsOf(spark, root, v).filter(col("y").between(0, 624))
    }
    val prunedV0 = keptDirs(root, yRange(0L)).size
    assert(prunedV0 < 16)
    // a plain append lands ONE dir whose y spans the whole space — its
    // stats can never prune it, so every y-range read now opens it too
    VersionedTable.append(spark, root, mk(8000, 10000), 0L)
    val prunedV1 = keptDirs(root, yRange(1L)).size
    assert(prunedV1 == prunedV0 + 1, "the unclustered append should always survive pruning")
    // OPTIMIZE: one z-ordered rewrite folds the table back into tight
    // dirs as a new version; pruning recovers, parity holds
    val v2 = DataSkipping.recluster(spark, root, "x", "y", nDirs = 16)
    assert(VersionedTable.dirsOf(spark, root, v2).size == 16)
    // repartitionByRange's sampled bounds wobble a dir either way, so
    // pin the property (a 1/16 range opens at most half the table,
    // vs 16/16 unclustered) rather than an exact grid count
    val prunedV2 = keptDirs(root, yRange(v2)).size
    assert(prunedV2 <= 8, s"post-OPTIMIZE y-range still opens $prunedV2/16 dirs")
    val got = yRange(v2).select("id").collect().map(_.getLong(0)).toSet
    val exp = mk(0, 10000)
      .filter(col("y").between(0, 624)).select("id").collect().map(_.getLong(0)).toSet
    assert(got == exp && got.nonEmpty)
  }

  test("DataSkipping.reclusterDelta: O(appends) OPTIMIZE — carried dirs byte-identical, stats inherited") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_optd").toString + "/t"
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("x", col("id"))
      .withColumn("y", (col("id") * 2654435761L) % 10000)
    DataSkipping.zOrderCommit(spark, root, mk(0, 8000), "x", "y", nDirs = 16, base = -1L)
    VersionedTable.append(spark, root, mk(8000, 10000), 0L)
    val baseEntries = VersionedTable.entriesOf(spark, root, 1L)
    val clustered = baseEntries.filter(_.part.isDefined)
    // the delta pass rewrites ONLY the appended dir into a fresh tight
    // generation; all 16 clustered dirs are carried forward unchanged
    val v2 = DataSkipping.reclusterDelta(spark, root, "x", "y", nDirs = 4)
    assert(v2 == 2L)
    val after = VersionedTable.entriesOf(spark, root, v2)
    assert(clustered.forall(after.contains), "clustered dirs must carry byte-for-byte")
    val fresh = after.filterNot(baseEntries.contains)
    assert(fresh.nonEmpty && fresh.size <= 4 &&
      fresh.forall(_.part.exists(_.startsWith("g1-"))),
      s"delta generation mis-staged: $fresh")
    // the stats job after the delta pass scanned ONLY the delta dirs —
    // the 16 carried dirs' bounds were inherited from the base sidecar
    assert(DataSkipping.lastStatsDirsScanned <= 4,
      s"stats rescanned ${DataSkipping.lastStatsDirsScanned} dirs — inheritance broken")
    // pruning works ACROSS generations (both are tight), and the
    // pruned read equals the full filter
    val xRange = VersionedTable.readAsOf(spark, root, v2).filter(col("x").between(8200, 8800))
    val pruned = keptDirs(root, xRange)
    assert(pruned.size < after.size, "nothing pruned post-delta-recluster")
    val got = xRange.select("id").collect().map(_.getLong(0)).toSet
    assert(got == (8200L to 8800L).toSet)
    // no loose dirs left -> a second delta pass is a commitless no-op
    assert(DataSkipping.reclusterDelta(spark, root, "x", "y", nDirs = 4) == v2)
  }

  test("DataSkipping.mergeSkipping: file-level merge — only key-range-intersecting dirs rewritten") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_fmerge").toString + "/t"
    // entry lines only: '#'-prefixed lines are commit metadata
    // (#partcol / #txn), not dir entries — same rule the reader applies
    def commitLines(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/v${"%08d".format(v)}.commit")), "UTF-8")
      .split("\n").toSeq.filterNot(_.startsWith("#"))
    // a key-clustered table: 10 dirs, each holding one disjoint key
    // century (EVEN keys only, so inserts inside a century exist)
    val base = spark.range(0, 1000, 2).toDF("k")
      .withColumn("bucket", (col("k") / lit(100)).cast("long").cast("string"))
      .withColumn("v", col("k") * 10)
    VersionedTable.commitPartitioned(spark, root, base, "bucket", -1L)
    val v0Lines = commitLines(0L)
    assert(v0Lines.size == 10)
    // narrow batch: updates 250/252, insert 251 — range [250, 252]
    // intersects ONLY the bucket-2 dir
    val batch = Seq((250L, "2", -1L), (251L, "2", -2L), (252L, "2", -3L))
      .toDF("k", "bucket", "v")
    val v1 = DataSkipping.mergeSkipping(spark, root, batch, Seq("k"), "k")
    assert(v1 == 1L)
    assert(DataSkipping.lastMergeRewrote == 1,
      s"rewrote ${DataSkipping.lastMergeRewrote} dirs, expected 1")
    assert(DataSkipping.lastMergeCarried == 9)
    // the 9 non-intersecting dirs ride along byte-for-byte
    val v1Lines = commitLines(1L)
    assert(v1Lines.filter(v0Lines.contains).size == 9, s"$v1Lines")
    assert(v1Lines.size == 10)
    // content equals the global merge recompute
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = snap(graft.operators.Relational.mergeUpsert(
      base, batch, Seq("k"), Seq("bucket", "v")))
    assert(snap(VersionedTable.read(spark, root)) == expect)
    assert(expect(250L) == -1L && expect(251L) == -2L)
    // time travel across the file-level merge
    assert(snap(VersionedTable.readAsOf(spark, root, 0L)) == snap(base))
    // the fresh dir got write-time stats: a second narrow merge in a
    // DIFFERENT century prunes against v1's 10 dirs (9 carried + the
    // merged dir, whose [200, 298] bounds exclude it) — again 1 rewrite
    val batch2 = Seq((700L, "7", -7L)).toDF("k", "bucket", "v")
    val builds = DataSkipping.statsBuilds
    assert(DataSkipping.mergeSkipping(spark, root, batch2, Seq("k"), "k") == 2L)
    assert(DataSkipping.lastMergeRewrote == 1 && DataSkipping.lastMergeCarried == 9)
    assert(DataSkipping.statsBuilds <= builds + 1,
      "second merge re-scanned carried dirs for stats instead of inheriting")
    assert(snap(VersionedTable.read(spark, root))(700L) == -7L)
  }

  test("DataSkipping.mergeSkipping: a batch shaped before a column evolution merges into the evolved table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_fmerge_evo").toString + "/t"
    val v0 = VersionedTable.commit(spark, root, (0L until 100L).map(k => (k, k)).toDF("k", "v"), -1L)
    // an untouched later dir carries the evolved column
    val v1 = VersionedTable.append(spark, root,
      (1000L until 1100L).map(k => (k, k)).toDF("k", "v").withColumn("note", lit("n")), v0)
    // the batch lacks `note`; its [50, 51] range touches only the first dir
    val batch = Seq((50L, -1L), (51L, -2L)).toDF("k", "v")
    assert(DataSkipping.mergeSkipping(spark, root, batch, Seq("k"), "k") == v1 + 1)
    assert(DataSkipping.lastMergeRewrote == 1 && DataSkipping.lastMergeCarried == 1)
    val got = VersionedTable.read(spark, root).select("k", "v", "note")
      .as[(Long, Long, Option[String])].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 200)
    assert(got(50L) == ((-1L, None)) && got(51L) == ((-2L, None)) && got(52L) == ((52L, None)))
    assert(got(1000L) == ((1000L, Some("n"))))
  }

  test("DataSkipping.mergeSkipping reads its base commit once per attempt") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_fmerge_once").toString + "/t"
    VersionedTable.commitPartitioned(spark, root, spark.range(0, 1000, 2).toDF("k")
      .withColumn("bucket", (col("k") / lit(100)).cast("long").cast("string"))
      .withColumn("v", col("k") * 10), "bucket", -1L)
    val batch = Seq((250L, "2", -1L), (251L, "2", -2L)).toDF("k", "bucket", "v")
    // the base has no stats yet, so the attempt builds them too
    val ops = CountingFs.during(spark) {
      assert(DataSkipping.mergeSkipping(spark, root, batch, Seq("k"), "k") == 1L)
    }
    def opens(v: Long) = ops.opens.count(_.endsWith(f"/_log/v$v%08d.commit"))
    assert(opens(0L) == 1, s"the base commit was opened ${opens(0L)} times")
    // the new version's write-time stats read its own commit once
    assert(opens(1L) == 1, s"the new commit was opened ${opens(1L)} times")
    assert(DataSkipping.lastMergeRewrote == 1 && DataSkipping.lastMergeCarried == 9)
    assert(VersionedTable.read(spark, root).filter(col("k") === 251L).select("v")
      .as[Long].collect().toSeq == Seq(-2L))
  }

  test("DataSkipping: an append's stats cost is O(new dirs) — prior versions' bounds are inherited") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_inh").toString + "/t"
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("x", col("id")).withColumn("y", col("id") % 100)
    DataSkipping.zOrderCommit(spark, root, mk(0, 4000), "x", "y", nDirs = 8, base = -1L)
    VersionedTable.append(spark, root, mk(4000, 4100), 0L)
    val builds = DataSkipping.statsBuilds
    DataSkipping.ensureStats(spark, root, 1L, Seq("x"))
    // exactly one build, and it scanned exactly the ONE new dir: the 8
    // z-dirs' bounds came from v0's sidecar, not a table re-scan
    assert(DataSkipping.statsBuilds == builds + 1)
    assert(DataSkipping.lastStatsDirsScanned == 1,
      s"append stats scanned ${DataSkipping.lastStatsDirsScanned} dirs, expected 1")
  }

  test("DataSkipping string stats: range reads prune dirs and equal the unpruned filter") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_sstr").toString + "/t"
    // an arrival-date append chain: each day lands as its own dir —
    // the layout Landing/VersionedTable produce — so day-range reads
    // should open only the matching days' dirs
    def day(d: Int, n: Int) = (1 to n).map(i =>
      (s"2024-01-0$d", d * 1000L + i, s"evt-$i")).toDF("day", "id", "tag")
    var v = VersionedTable.commit(spark, root, day(1, 50), -1L)
    v = VersionedTable.append(spark, root, day(2, 50), v)
    v = VersionedTable.append(spark, root, day(3, 50), v)
    // string stats for column `c` of the table at `r` (the index
    // prunes from them and never builds them), then a range read
    def stats(r: String, c: String): Unit = DataSkipping.ensureStatsAuto(spark, r,
      VersionedTable.currentVersion(spark, r).get, Seq(c), VersionedTable.read(spark, r).schema)
    def between(r: String, c: String, lo: String, hi: String) =
      VersionedTable.read(spark, r).filter(col(c).between(lo, hi))
    stats(root, "day")
    val keep = keptDirs(root, between(root, "day", "2024-01-02", "2024-01-02"))
    assert(keep.size == 1, s"day predicate opened ${keep.size}/3 dirs")
    val got = between(root, "day", "2024-01-02", "2024-01-03")
      .select("id").collect().map(_.getLong(0)).toSet
    val exp = (1 to 3).map(day(_, 50)).reduce(_ union _)
      .filter(col("day").between("2024-01-02", "2024-01-03"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == exp && got.nonEmpty)
    // disjoint range: everything pruned, schema-correct empty result
    val disjoint = between(root, "day", "2025-01-01", "2025-12-31")
    assert(disjoint.isEmpty && keptDirs(root, disjoint).isEmpty)
    // truncation safety: >32-char strings share a prefix; bounds are
    // widened (min-prefix + max-prefix￿), so the dir is KEPT for any
    // in-prefix range — truncation may keep extra dirs, never drops one
    val root2 = java.nio.file.Files.createTempDirectory("graft_sstr2").toString + "/t"
    val longA = "a" * 40 + "early"; val longB = "a" * 40 + "zlate"
    VersionedTable.commit(spark, root2,
      Seq((longA, 1L), (longB, 2L)).toDF("k", "id"), -1L)
    stats(root2, "k")
    val got2 = between(root2, "k", longA, longA)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got2 == Set(1L))
    // the truncation killer: the real max CONTINUES with U+FFFF past
    // the prefix, so prefix+U+FFFF would be a FALSE upper bound (it
    // compares below the max) — the incremented bound keeps the dir
    val root3 = java.nio.file.Files.createTempDirectory("graft_sstr3").toString + "/t"
    val evil = "a" * 32 + "￿" + "x"
    VersionedTable.commit(spark, root3, Seq((evil, 9L)).toDF("k", "id"), -1L)
    stats(root3, "k")
    val got3 = between(root3, "k", evil, evil)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got3 == Set(9L), "truncated max pruned a dir containing its own maximum")
  }

  test("DataSkipping.appendWithStats: the new dir's bounds land at write time — first read is job-free") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.DataSkipping
    val root = java.nio.file.Files.createTempDirectory("graft_aws").toString + "/t"
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")
      .withColumn("x", col("id")).withColumn("day", lit("2024-01-0" + (lo / 1000 + 1)))
    DataSkipping.zOrderCommit(spark, root, mk(0, 1000), "x", "day", nDirs = 4, base = -1L)
    val v = DataSkipping.appendWithStats(spark, root, mk(1000, 2000),
      numCols = Seq("x"), strCols = Seq("day"))
    assert(DataSkipping.lastStatsDirsScanned == 1,
      s"write-time stats scanned ${DataSkipping.lastStatsDirsScanned} dirs, expected 1")
    // the read side then has everything: NO stats job on first use,
    // numeric and string pruning both live
    val builds = DataSkipping.statsBuilds
    val head = graft.sources.VersionedTable.readAsOf(spark, root, v)
    DataSkipping.ensureStatsAuto(spark, root, v, Seq("x", "day"), head.schema)
    assert(keptDirs(root, head.filter(col("x").between(1200, 1300))).size == 1)
    assert(keptDirs(root, head.filter(col("day").between("2024-01-02", "2024-01-02"))).size == 1)
    assert(DataSkipping.statsBuilds == builds, "pruned read rebuilt write-time stats")
  }

  test("zOrderCommit clusters STRING keys: prefix-stripped surrogates prune day ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.DataSkipping
    // every day string shares the '2024-01-' prefix — without the
    // common-prefix strip all values collapse to one rank and nothing
    // prunes; with it, day ranges prune like numeric ranges
    val rows = spark.range(0, 4000).toDF("id")
      .withColumn("day", concat(lit("2024-01-"),
        lpad(((col("id") % 16) + 1).cast("string"), 2, "0")))
      .withColumn("amt", (col("id") * 2654435761L) % 10000)
    val root = java.nio.file.Files.createTempDirectory("graft_zstr").toString + "/t"
    val v = DataSkipping.zOrderCommit(spark, root, rows, "day", "amt", nDirs = 16, base = -1L)
    val days = graft.sources.VersionedTable.readAsOf(spark, root, v)
      .filter(col("day").between("2024-01-03", "2024-01-04"))
    val dayDirs = keptDirs(root, days).size
    val amtDirs = keptDirs(root, graft.sources.VersionedTable.readAsOf(spark, root, v)
      .filter(col("amt").between(0, 624))).size
    assert(dayDirs <= 8, s"day range opened $dayDirs/16 dirs — string surrogate not clustering")
    assert(amtDirs <= 8, s"amt range opened $amtDirs/16 dirs")
    val got = days.select("id").collect().map(_.getLong(0)).toSet
    val exp = rows.filter(col("day").between("2024-01-03", "2024-01-04"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == exp && got.nonEmpty)
  }

  /** Root-relative dirs the graft scan under `df` keeps for its pushed
    * filters, asked of the scan's own file index (planned, not run). */
  private def keptDirs(root: String, df: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = df.queryExecution.executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no file scan in\n$plan"))
    val base = new org.apache.hadoop.fs.Path(root).toUri.getPath + "/"
    scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files).map(_.getPath.getParent.toUri.getPath.stripPrefix(base)).toSet
  }

  test("index skipping, numeric range: keeps exactly the dirs whose [min, max] meets the range") {
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_ixnum").toString + "/t"
    // four dirs holding the disjoint id bands [0,100) .. [300,400)
    var v = VersionedTable.commit(spark, root, spark.range(0, 100).toDF("id"), -1L)
    (1 until 4).foreach(i =>
      v = VersionedTable.append(spark, root, spark.range(i * 100, i * 100 + 100).toDF("id"), v))
    DataSkipping.ensureStats(spark, root, v, Seq("id"))
    val dirs = VersionedTable.dirsOf(spark, root, v)
    Seq((150L, 220L) -> Set(1, 2), (0L, 0L) -> Set(0), (99L, 100L) -> Set(0, 1),
        (400L, 900L) -> Set.empty[Int], (-50L, 1000L) -> Set(0, 1, 2, 3)).foreach {
      case ((lo, hi), want) =>
        val kept = keptDirs(root, VersionedTable.read(spark, root).filter(col("id").between(lo, hi)))
        assert(kept == want.map(dirs), s"[$lo, $hi] kept $kept")
    }
  }

  test("index skipping, string range: truncated >32-char maxes and a U+FFFF tail stay valid bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    def chain(tag: String, parts: Seq[Seq[String]]): (String, Seq[String]) = {
      val root = java.nio.file.Files.createTempDirectory(tag).toString + "/t"
      var v = VersionedTable.commit(spark, root, parts.head.toDF("k"), -1L)
      parts.tail.foreach(p => v = VersionedTable.append(spark, root, p.toDF("k"), v))
      DataSkipping.ensureStatsAuto(spark, root, v, Seq("k"), VersionedTable.read(spark, root).schema)
      root -> VersionedTable.dirsOf(spark, root, v)
    }
    def check(root: String, dirs: Seq[String], lo: String, hi: String, want: Set[Int]): Unit = {
      val kept = keptDirs(root, VersionedTable.read(spark, root).filter(col("k").between(lo, hi)))
      assert(kept == want.map(dirs), s"[$lo, $hi] kept $kept")
    }
    val (days, dayDirs) = chain("graft_ixstr", (1 to 3).map(d => Seq(s"2024-01-0$d")))
    check(days, dayDirs, "2024-01-02", "2024-01-02", Set(1))
    check(days, dayDirs, "2024-01-02", "2024-01-03", Set(1, 2))
    check(days, dayDirs, "2023-12-01", "2024-01-01", Set(0))
    check(days, dayDirs, "2025-01-01", "2025-12-31", Set.empty)
    // >32 chars: the first dir's max is stored truncated (bumped past
    // its prefix), which must still cover its own values
    val longA = "a" * 40 + "early"; val longB = "a" * 40 + "zlate"
    val (long, longDirs) = chain("graft_ixstr2", Seq(Seq(longA, longB), Seq("b" * 40 + "x")))
    check(long, longDirs, longA, longA, Set(0))
    check(long, longDirs, longB, longB, Set(0))
    check(long, longDirs, "b" * 40, "c", Set(1))
    // the max continues with U+FFFF past the prefix: prefix + U+FFFF
    // would sort below it, so only the bumped bound keeps the dir
    val evil = "a" * 32 + "￿" + "x"
    val (ev, evDirs) = chain("graft_ixstr3", Seq(Seq(evil), Seq("b" * 33)))
    check(ev, evDirs, evil, evil, Set(0))
  }

  test("index skipping, bloom equality: a point probe keeps the holding dir, range stats alone keep all") {
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_ixbloom").toString + "/t"
    // dir i holds k % 8 == i over 0..7999: every [min, max] spans the domain
    def mk(i: Int) = spark.range(0, 8000).toDF("k").filter(col("k") % 8 === i)
    var v = VersionedTable.commit(spark, root, mk(0), -1L)
    (1 until 8).foreach(i => v = VersionedTable.append(spark, root, mk(i), v))
    val dirs = VersionedTable.dirsOf(spark, root, v)
    def probe(k: Long) = keptDirs(root, VersionedTable.read(spark, root).filter(col("k") === k))
    DataSkipping.ensureStats(spark, root, v, Seq("k"))
    assert(probe(4437L) == dirs.toSet, "range stats pruned an interleaved layout")
    DataSkipping.ensureBloom(spark, root, v, "k")
    Seq(4437L -> Set(5), 1777L -> Set(1), 123456789L -> Set.empty[Int]).foreach { case (k, want) =>
      val kept = probe(k)
      assert(kept == want.map(dirs), s"k = $k kept $kept")
    }
  }

  test("index skipping: all-null and pre-column dirs carry the NaN sentinel and are always kept") {
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_ixnan").toString + "/t"
    def band(i: Int) = spark.range(i * 100, i * 100 + 100).toDF("id")
    // dir 0 predates x; dir 2's x is all null; dirs 1 and 3 hold x = id
    var v = VersionedTable.commit(spark, root, band(0), -1L)
    v = VersionedTable.append(spark, root, band(1).withColumn("x", col("id")), v)
    v = VersionedTable.append(spark, root, band(2).withColumn("x", lit(null).cast("long")), v)
    v = VersionedTable.append(spark, root, band(3).withColumn("x", col("id")), v)
    val stats = DataSkipping.ensureStats(spark, root, v, Seq("x"))
    val dirs = VersionedTable.dirsOf(spark, root, v)
    assert(Seq(0, 2).forall(i => stats(dirs(i))("x")._1.isNaN), s"sentinels missing: $stats")
    Seq((150L, 160L) -> Set(0, 1, 2), (500L, 600L) -> Set(0, 2), (0L, 1000L) -> Set(0, 1, 2, 3)).foreach {
      case ((lo, hi), want) =>
        val kept = keptDirs(root, VersionedTable.read(spark, root).filter(col("x").between(lo, hi)))
        assert(kept == want.map(dirs), s"[$lo, $hi] kept $kept")
    }
  }

  test("MaterializedAgg.applyChangeFeedMax: max maintained from the feed; only retracted-max groups rescan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{MaterializedAgg, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_mmx").toString + "/t"
    def tbl(rows: (Long, String, Double)*) = rows.toSeq.toDF("id", "grp_c", "v")
    val keys = Seq("id")
    VersionedTable.merge(spark, root, tbl(
      (1L, "a", 10.0), (2L, "a", 10.0), (3L, "a", 5.0), (4L, "b", 7.0)), keys)
    var view = MaterializedAgg.fullMax(
      VersionedTable.read(spark, root), "grp_c", "v").localCheckpoint()
    var at = VersionedTable.currentVersion(spark, root).get
    def step(batch: org.apache.spark.sql.DataFrame): Unit = {
      val to = VersionedTable.merge(spark, root, batch, keys)
      val feed = VersionedTable.changeFeed(spark, root, at, to, keys)
      view = MaterializedAgg.applyChangeFeedMax(
        view, feed, VersionedTable.readAsOf(spark, root, to), "grp_c", "v")
        .localCheckpoint()
      at = to
    }
    def check(): Unit = {
      val exp = MaterializedAgg.fullMax(VersionedTable.read(spark, root), "grp_c", "v")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      val got = view.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == exp, s"view $got != recompute $exp")
    }
    // 1. monotone raise + new group: NO table rescan
    step(tbl((5L, "a", 20.0), (6L, "c", 1.0)))
    assert(MaterializedAgg.lastMaxDirtyGroups == 0, "a pure raise rescanned the table")
    check()
    // 2. retract the max of 'a' (row 5 drops to 2.0): exactly one
    // dirty group — the duplicate-10.0 pair is what the rescan finds
    step(tbl((5L, "a", 2.0)))
    assert(MaterializedAgg.lastMaxDirtyGroups == 1)
    check()
    // 3. delete one of the duplicate maxima (update row 1 far down):
    // max must STAY 10.0 via row 2 — the indistinguishability case
    // that makes the rescan necessary at all
    step(tbl((1L, "a", 0.5)))
    assert(MaterializedAgg.lastMaxDirtyGroups == 1)
    check()
    assert(view.filter(col("grp") === "a").head.getDouble(2) == 10.0)
    // 4. group MOVE of b's only row: b drops out, c raises
    step(tbl((4L, "c", 9.0)))
    check()
    assert(view.collect().map(_.getString(0)).toSet == Set("a", "c"))
    // 5. raising the CURRENT max in place is not a retraction: no
    // group may rescan (the pure-raise-never-reads-the-table claim)
    step(tbl((2L, "a", 50.0)))
    assert(MaterializedAgg.lastMaxDirtyGroups == 0,
      "an in-place raise of the max rescanned its group")
    check()
    // 6. a NULL group is a group like any other: it must flow through
    // refresh (raise, then max retraction) instead of silently
    // nulling its max through the equi-joins
    def checkN(): Unit = {
      val exp = MaterializedAgg.fullMax(VersionedTable.read(spark, root), "grp_c", "v")
        .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet
      val got = view.collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet
      assert(got == exp, s"view $got != recompute $exp")
    }
    step(Seq[(Long, Option[String], Double)]((10L, None, 3.0), (11L, None, 8.0))
      .toDF("id", "grp_c", "v"))
    checkN()
    step(Seq[(Long, Option[String], Double)]((11L, None, 1.0))
      .toDF("id", "grp_c", "v")) // retract the null group's max
    assert(MaterializedAgg.lastMaxDirtyGroups == 1)
    checkN()
    assert(view.filter(col("grp").isNull).head.getDouble(2) == 3.0)
  }

  test("Scd2.mergeScd2Partitioned: rewrites ONLY touched partitions; semantics match global merge") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{Scd2, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_scd2p").toString + "/dim"
    def dim(rows: (String, String, Double)*) =
      rows.toSeq.toDF("record_type", "ticker", "pe")
    // partitionCol must be part of the key (rows never change partition)
    intercept[IllegalArgumentException] {
      Scd2.mergeScd2Partitioned(spark, root, dim(("eps", "A", 1.0)),
        Seq("ticker"), "record_type", "2024-01-01 00:00:00")
    }
    val keys = Seq("record_type", "ticker")
    Scd2.mergeScd2Partitioned(spark, root,
      dim(("eps", "A", 1.0), ("eps", "B", 2.0), ("rev", "A", 100.0), ("fcf", "A", 7.0)),
      keys, "record_type", "2024-01-01 00:00:00")
    val v0Entries = VersionedTable.entriesOf(spark, root, 0L)
    assert(v0Entries.size == 3 && v0Entries.forall(_.part.isDefined))
    // batch touches ONLY eps: one staged dir; rev and fcf dirs carried
    // forward byte-for-byte (the delta-rs copy-on-write boundary)
    val v1 = Scd2.mergeScd2Partitioned(spark, root,
      dim(("eps", "A", 10.0), ("eps", "C", 3.0)),
      keys, "record_type", "2024-02-01 00:00:00")
    val v1Entries = VersionedTable.entriesOf(spark, root, v1)
    val carried = v0Entries.filterNot(_.part.contains("eps"))
    assert(carried.forall(v1Entries.contains), "untouched partitions must carry")
    assert(v1Entries.filterNot(v0Entries.contains).size == 1,
      "a 1-of-3-partition batch must stage exactly one partition dir")
    // type-2 semantics across the scoped merge: A's history, B
    // untouched, C inserted — and a partition the table has never
    // seen inserts cleanly
    val v2 = Scd2.mergeScd2Partitioned(spark, root,
      dim(("div", "A", 0.5)), keys, "record_type", "2024-03-01 00:00:00")
    def at(ts: String) = Scd2.asOf(spark, root, ts).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(at("2024-01-15 00:00:00") == Map(("eps", "A") -> 1.0, ("eps", "B") -> 2.0,
      ("rev", "A") -> 100.0, ("fcf", "A") -> 7.0))
    assert(at("2024-03-15 00:00:00") == Map(("eps", "A") -> 10.0, ("eps", "B") -> 2.0,
      ("eps", "C") -> 3.0, ("rev", "A") -> 100.0, ("fcf", "A") -> 7.0,
      ("div", "A") -> 0.5))
    // replayed batch: idempotent no-op, no version churn
    assert(Scd2.mergeScd2Partitioned(spark, root,
      dim(("div", "A", 0.5)), keys, "record_type", "2024-03-01 00:00:00") == v2)
    // out-of-order with real changes in a touched partition: rejected
    intercept[IllegalArgumentException] {
      Scd2.mergeScd2Partitioned(spark, root,
        dim(("eps", "A", 99.0)), keys, "record_type", "2024-01-15 00:00:00")
    }
  }

  test("Scd2.sink: a type-2 dim maintained from a stream equals batch replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.sources.{Scd2, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_scd2s").toString + "/dim"
    val input = MemoryStream[(String, Double, String)]
    val q = input.toDS().toDF("ticker", "pe", "ts")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Scd2.sink(spark, root, Seq("ticker"), "ts")(batch, id)
      }
      .start()
    try {
      input.addData(("A", 1.0, "2024-01-01 09:00:00"), ("B", 2.0, "2024-01-01 09:30:00"))
      q.processAllAvailable()
      // two updates of A inside ONE micro-batch collapse to the latest
      input.addData(("A", 5.0, "2024-02-01 09:00:00"), ("A", 10.0, "2024-02-01 10:00:00"),
        ("C", 3.0, "2024-02-01 08:00:00"))
      q.processAllAvailable()
      input.addData() // empty micro-batch: no commit
      q.processAllAvailable()
      input.addData(("C", 30.0, "2024-03-01 09:00:00"))
      q.processAllAvailable()
    } finally q.stop()
    def at(ts: String) = Scd2.asOf(spark, root, ts).collect()
      .map(r => r.getAs[String]("ticker") -> r.getAs[Double]("pe")).toMap
    assert(at("2024-01-15 00:00:00") == Map("A" -> 1.0, "B" -> 2.0))
    assert(at("2024-02-15 00:00:00") == Map("A" -> 10.0, "B" -> 2.0, "C" -> 3.0))
    assert(at("2024-04-01 00:00:00") == Map("A" -> 10.0, "B" -> 2.0, "C" -> 30.0))
    // exactly one version per non-empty effective batch — the empty
    // micro-batch committed nothing
    assert(VersionedTable.currentVersion(spark, root).contains(2L))
    // the dim's history carries BOTH of A's versions with closed ranges
    val aHist = VersionedTable.read(spark, root).filter(col("ticker") === "A").count()
    assert(aHist == 2)
  }

  test("VersionedTable: null partition values are rejected, not silently dropped") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtn").toString + "/t"
    val bad = Seq((1L, Some("A"), 10.0), (2L, None, 20.0))
      .toDF("suppkey", "record_type", "qty")
    intercept[IllegalArgumentException] {
      VersionedTable.commitPartitioned(spark, root, bad, "record_type", base = -1L)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.mergePartitioned(spark, root, bad,
        Seq("suppkey", "record_type"), "record_type")
    }
  }

  test("VersionedTable: duplicate-key batch with no tieBreak merges DETERMINISTICALLY") {
    import spark.implicits._
    import graft.sources.VersionedTable
    // same dup-key batch merged into two fresh tables must pick the
    // same winner — the view-maintenance path re-executes mergeUpsert
    // in a separate execution and would silently diverge otherwise
    def run(): Map[Long, (Double, String)] = {
      val root = java.nio.file.Files.createTempDirectory("graft_vtd").toString + "/t"
      VersionedTable.merge(spark, root,
        Seq((1L, 0.0, "seed"), (2L, 0.0, "seed")).toDF("suppkey", "qty", "tag"),
        keys = Seq("suppkey"))
      val batch = Seq((1L, 10.0, "x"), (1L, 10.0, "b"), (1L, 7.0, "z"), (2L, 5.0, "y"))
        .toDF("suppkey", "qty", "tag")
      VersionedTable.merge(spark, root, batch, keys = Seq("suppkey")) // tieBreak = Nil
      VersionedTable.read(spark, root).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    }
    val a = run()
    // the default order is ALL non-key columns ascending by name:
    // (qty, tag) asc => (7.0, "z") beats both 10.0 rows for key 1
    assert(a == Map(1L -> ((7.0, "z")), 2L -> ((5.0, "y"))))
    assert(a == run()) // and a re-execution picks the same winners
    // CREATION dedupes too: a dup-key FIRST batch seeds one row per
    // key (a v0 with extra duplicate rows would desync any change-feed
    // consumer seeded from it on the first subsequent merge)
    val root2 = java.nio.file.Files.createTempDirectory("graft_vtd0").toString + "/t"
    VersionedTable.merge(spark, root2,
      Seq((1L, 10.0, "x"), (1L, 7.0, "z"), (2L, 5.0, "y")).toDF("suppkey", "qty", "tag"),
      keys = Seq("suppkey"))
    assert(VersionedTable.read(spark, root2).count() == 2)
  }

  test("VersionedTable: log checkpoint bounds resolve cost; empty commit files are uncommitted") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtl").toString + "/t"
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    var base = -1L
    (0 to 14).foreach { i =>
      base = VersionedTable.append(spark, root, tbl(i.toLong -> i.toDouble), base)
    }
    // checkpoint landed at v10 and the pointer names it
    assert(new java.io.File(s"$root/_log/v00000010.checkpoint").exists())
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/_last_checkpoint")), "UTF-8").trim == "10")
    // resolution = pointer + forward probes, never a full history read:
    // probe 11..15 (4 hits + 1 miss) + pointer = 6 log reads for a
    // 15-commit log; the bound is the interval, not the history length
    assert(VersionedTable.currentVersion(spark, root).contains(14L))
    assert(VersionedTable.lastResolveLogReads <= VersionedTable.CheckpointInterval + 2,
      s"resolve read ${VersionedTable.lastResolveLogReads} log files")
    // a zero-length commit file (legacy crash window) is UNCOMMITTED:
    // it neither becomes current NOR blocks the next writer — publish
    // reclaims the garbage name and commits over it
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/_log/v00000015.commit"))
    assert(VersionedTable.currentVersion(spark, root).contains(14L))
    base = VersionedTable.append(spark, root, tbl(15L -> 15.0), base)
    assert(base == 15L)
    assert(VersionedTable.read(spark, root).count() == 16)
    // vacuum with a checkpoint present: correctness (reachability) holds
    VersionedTable.vacuum(spark, root, keepLast = 2)
    assert(VersionedTable.read(spark, root).count() == 16)
    assert(VersionedTable.readAsOf(spark, root, 14L).count() == 15)
    intercept[Exception] { VersionedTable.readAsOf(spark, root, 5L).collect() }
    // vacuum refreshed the checkpoint BEFORE expiring commits (the
    // order that makes a mid-vacuum crash harmless): the pointer now
    // names the current version, so the probe can never wedge below it
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/_last_checkpoint")), "UTF-8").trim == "15")
    base = VersionedTable.append(spark, root, tbl(99L -> 99.0), base)
    assert(VersionedTable.currentVersion(spark, root).contains(16L))
  }

  test("VersionedTable: a checkpoint left without its pointer is adopted, so vacuum never resolves the head to a deleted version") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtcp").toString + "/t"
    var base = -1L
    (0 to 20).foreach { i =>
      base = VersionedTable.append(spark, root, Seq(i.toLong -> i.toDouble).toDF("suppkey", "qty"), base)
    }
    val ptr = java.nio.file.Paths.get(s"$root/_log/_last_checkpoint")
    def pointer = new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8").trim
    assert(pointer == "20")
    // a crash between publishing v20's checkpoint and writing the
    // pointer: the file exists, the pointer still names v10
    java.nio.file.Files.write(ptr, "10".getBytes("UTF-8"))
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(VersionedTable.currentVersion(spark, root).contains(20L))
    assert(VersionedTable.read(spark, root).count() == 21)
    assert(pointer == "20")
    val logNames = new java.io.File(s"$root/_log").list().toSeq
    assert(!logNames.exists(_.startsWith(".tmp-cp-")), logNames)
    // the next writer commits v21, not over the head
    assert(VersionedTable.append(spark, root, Seq(21L -> 21.0).toDF("suppkey", "qty"), 20L) == 21L)
    assert(VersionedTable.read(spark, root).count() == 22)
  }

  test("CDC consumer: aggregate maintained from the change feed ALONE matches full recompute") {
    import spark.implicits._
    import graft.sources.{MaterializedAgg, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_cdc").toString + "/t"
    val keys = Seq("suppkey")
    def tbl(rows: (Long, String, Double)*) =
      rows.toSeq.toDF("suppkey", "record_type", "qty")
    VersionedTable.commit(spark, root,
      tbl((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0)), base = -1L)
    // v1 exercises every branch: 1 deleted, 2 updated in place,
    // 3 MOVES group b->a (retract+add), 4 inserted
    VersionedTable.commit(spark, root,
      tbl((2L, "a", 25.0), (3L, "a", 30.0), (4L, "b", 40.0)), base = 0L)
    VersionedTable.commit(spark, root,
      tbl((2L, "a", 25.0), (3L, "a", 33.0), (4L, "b", 40.0), (5L, "b", 50.0)), base = 1L)
    def viewSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // seed from v0, then consume ONLY the feed — no snapshot reads
    var view = MaterializedAgg.fullAgg(
      VersionedTable.readAsOf(spark, root, 0L), "record_type", "qty").localCheckpoint()
    for (v <- 1L to 2L) {
      val feed = VersionedTable.changeFeed(spark, root, v - 1, v, keys)
      view = MaterializedAgg.applyChangeFeed(view, feed, "record_type", "qty")
        .localCheckpoint()
      assert(viewSet(view) == viewSet(MaterializedAgg.fullAgg(
        VersionedTable.readAsOf(spark, root, v), "record_type", "qty")),
        s"feed-maintained view diverged at version $v")
    }
    assert(viewSet(view) == Set(("a", 2L, 58.0), ("b", 2L, 90.0)))
  }

  test("VersionedTable: concurrent writers — loser detects the conflict and retry merges BOTH") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vtc").toString + "/t"
    val keys = Seq("suppkey")
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    VersionedTable.merge(spark, root, tbl(1L -> 10.0), keys, Seq("qty"))
    // writer W1 snapshots base=0 ... then W2 commits first
    val w1base = VersionedTable.currentVersion(spark, root).get
    VersionedTable.merge(spark, root, tbl(2L -> 20.0), keys, Seq("qty")) // W2 wins v1
    // W1's stale commit must FAIL atomically, not clobber W2
    intercept[VersionedTable.VersionConflictException] {
      VersionedTable.commit(spark, root, tbl(3L -> 30.0), w1base)
    }
    assert(VersionedTable.read(spark, root).count() == 2) // W2 intact
    // W1 retries through merge(): recomputed against the FRESH
    // snapshot, so both writers' rows land
    assert(VersionedTable.merge(spark, root, tbl(3L -> 30.0), keys, Seq("qty")) == 2L)
    val rows = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // vacuum keeps the current version readable, reclaims history
    VersionedTable.vacuum(spark, root, keepLast = 1)
    assert(VersionedTable.read(spark, root).count() == 3)
    intercept[Exception] { VersionedTable.readAsOf(spark, root, 0L).collect() }
  }

  test("VersionedTable: INTERLEAVED committers — publish race has exactly one winner; rebase loses no commit") {
    import spark.implicits._
    import graft.sources.VersionedTable
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val root = java.nio.file.Files.createTempDirectory("graft_vtr").toString + "/t"
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    assert(VersionedTable.append(spark, root, tbl(0L -> 0.0), base = -1L) == 0L)

    // Phase 1: two LIVE committers race the same base through the
    // rename itself (a barrier releases both threads; the earlier
    // conflict specs serialize the loser AFTER the winner, so they
    // never exercise the in-flight window). Both target v1, so the
    // outcome is deterministic even though the race isn't: EXACTLY one
    // returns v1, the other throws VersionConflictException — never
    // two winners (a silently dropped commit) and never zero (a
    // deadlocked log).
    val pool = Executors.newFixedThreadPool(10)
    val gate1 = new CyclicBarrier(2)
    val outcomes = (1 to 2).map { i =>
      pool.submit(new Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          gate1.await(60, TimeUnit.SECONDS)
          try Right(VersionedTable.appendRebaseFrom(
            spark, root, tbl(i.toLong -> i * 10.0), firstBase = 0L, maxAttempts = 1))
          catch { case e: Throwable => Left(e) }
        }
      })
    }.map(_.get(180, TimeUnit.SECONDS))
    assert(outcomes.collect { case Right(v) => v } == Seq(1L),
      s"exactly one racer must win exactly v1: $outcomes")
    val losers = outcomes.collect { case Left(e) => e }
    assert(losers.size == 1 &&
      losers.head.isInstanceOf[VersionedTable.VersionConflictException])
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(VersionedTable.read(spark, root).count() == 2) // v0 row + winner's

    // Phase 2: 8 interleaved committers through appendRebase's retry
    // loop. Every committer must land its own version: the returned
    // versions are exactly the contiguous range v2..v9 (no gap = no
    // dropped commit, no duplicate = no double-publish), and every
    // row is present at the head.
    val n = 8
    val gate2 = new CyclicBarrier(n)
    val versions = (1 to n).map { i =>
      pool.submit(new Callable[Long] {
        def call(): Long = {
          gate2.await(60, TimeUnit.SECONDS)
          VersionedTable.appendRebase(
            spark, root, tbl((100 + i).toLong -> i.toDouble), maxAttempts = 50)
        }
      })
    }.map(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.sorted == (2L to (n + 1).toLong),
      s"contiguous versions, one per committer: ${versions.sorted}")
    val keys = VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSet
    assert((1 to n).forall(i => keys.contains(100L + i)))
    // log protocol intact under the race: each version's dir list is
    // its predecessor's plus exactly its own append, and every
    // historical snapshot stays readable (append-only chain)
    for (v <- 0L to (n + 1).toLong) {
      assert(VersionedTable.entriesOf(spark, root, v).size == v + 1)
      assert(VersionedTable.readAsOf(spark, root, v).count() == v + 1)
    }
  }

  test("VersionedTable: publish arbiter STRESS — 50 barrier-released races, " +
       "one winner each, no marker ever carries a foreign checksum") {
    // The round-13 failure mode: the old exists-check-then-rename
    // arbiter let two barrier-released committers BOTH pass the
    // pre-check; the marker and its ChecksumFileSystem .crc sidecar
    // interleaved across the two winners, leaving a committed marker
    // permanently unreadable (ChecksumException) and a silent
    // double-publish. The fix is structural (link(2) arbiter + raw-FS
    // marker IO), so the proof is a stress loop, not a single shot.
    import spark.implicits._
    import graft.sources.VersionedTable
    import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}
    val root = java.nio.file.Files.createTempDirectory("graft_vtstress").toString + "/t"
    def tbl(rows: (Long, Double)*) = rows.toSeq.toDF("suppkey", "qty")
    assert(VersionedTable.append(spark, root, tbl(0L -> 0.0), base = -1L) == 0L)
    val pool = Executors.newFixedThreadPool(2)
    val rounds = 50
    for (r <- 0 until rounds) {
      val gate = new CyclicBarrier(2)
      val outcomes = (1 to 2).map { i =>
        pool.submit(new Callable[Either[Throwable, Long]] {
          def call(): Either[Throwable, Long] = {
            gate.await(60, TimeUnit.SECONDS)
            try Right(VersionedTable.appendRebaseFrom(
              spark, root, tbl((1000L * (r + 1) + i) -> i.toDouble),
              firstBase = r.toLong, maxAttempts = 1))
            catch { case e: Throwable => Left(e) }
          }
        })
      }.map(_.get(180, TimeUnit.SECONDS))
      assert(outcomes.collect { case Right(v) => v } == Seq(r + 1L),
        s"round $r: exactly one racer must win exactly v${r + 1}: $outcomes")
      assert(outcomes.collect { case Left(e) => e }.forall(
        _.isInstanceOf[VersionedTable.VersionConflictException]),
        s"round $r: the loser must lose with VersionConflictException: $outcomes")
    }
    pool.shutdown()
    assert(VersionedTable.currentVersion(spark, root).contains(rounds.toLong))
    assert(VersionedTable.read(spark, root).count() == rounds + 1L)
    // no foreign checksum, structurally: marker IO runs on the raw FS,
    // so no commit marker may have a .crc sidecar at all (raw listing
    // shows hidden sidecars; the checksummed listing filters them)...
    val conf = spark.sparkContext.hadoopConfiguration
    val lfs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val raw = lfs.getRawFileSystem
    val logDir = new org.apache.hadoop.fs.Path(s"$root/_log")
    val rawNames = raw.listStatus(logDir).map(_.getPath.getName).toSeq
    assert(rawNames.exists(_.matches("v\\d{8}\\.commit")))
    assert(!rawNames.exists(_.endsWith(".commit.crc")),
      s"a commit marker carries a checksum sidecar: $rawNames")
    // ...and behaviorally: every marker opens clean through the
    // CHECKSUMMED local FS (a poisoned marker would throw
    // ChecksumException here), with intact content — each version's
    // entry list is its predecessor's plus exactly one dir.
    for (v <- 0L to rounds.toLong) {
      val in = lfs.open(new org.apache.hadoop.fs.Path(
        f"$root/_log/v$v%08d.commit"))
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      assert(text.linesIterator.count(l => l.nonEmpty && !l.startsWith("#")) == v + 1)
    }
  }

  test("Landing: manifest-gated ingest is exactly-once, resumes after failures, retries flaky sinks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{Landing, VersionedTable}
    val base = java.nio.file.Files.createTempDirectory("graft_land").toString
    val landing = s"$base/landing"; val manifest = s"$base/manifest"
    val target = s"$base/tbl"
    Seq((1L, 10.0)).toDF("k", "v").write.parquet(s"$landing/a.parquet")
    Seq((2L, 20.0)).toDF("k", "v").write.parquet(s"$landing/b.parquet")
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      VersionedTable.merge(spark, target, df, keys = Seq("k"), tieBreak = Seq("v"))
    // first run consumes both files
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, sink)
      == Seq("a.parquet", "b.parquet"))
    assert(VersionedTable.read(spark, target).count() == 2)
    // replay is a no-op: nothing pending, target unchanged
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, sink).isEmpty)
    assert(VersionedTable.read(spark, target).count() == 2)
    // a late-arriving file is picked up alone
    Seq((3L, 30.0)).toDF("k", "v").write.parquet(s"$landing/c.parquet")
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, sink)
      == Seq("c.parquet"))
    assert(VersionedTable.read(spark, target).count() == 3)
    // transient failures: fail twice then succeed — the ingest survives
    // and the manifest records the attempt count
    Seq((4L, 40.0)).toDF("k", "v").write.parquet(s"$landing/d.parquet")
    var calls = 0
    val flaky = (df: org.apache.spark.sql.DataFrame) => {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient 503")
      sink(df)
    }
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, flaky, backoffMs = 1)
      == Seq("d.parquet"))
    assert(VersionedTable.read(spark, target).count() == 4)
    val entry = VersionedTable.read(spark, manifest)
      .filter(col("file") === "d.parquet").head
    assert(entry.getAs[Long]("attempts") == 3L)
    // permanent failure: retries exhaust → the file DEAD-LETTERS (its
    // manifest entry records state/error/attempts) and stops
    // consuming retries on subsequent runs — it is no longer pending
    Seq((5L, 50.0)).toDF("k", "v").write.parquet(s"$landing/e.parquet")
    var eCalls = 0
    assert(Landing.ingest(spark, landing, "*.parquet", manifest,
      _ => { eCalls += 1; throw new RuntimeException("hard down") },
      backoffMs = 1).isEmpty)
    assert(eCalls == 3, "exhaustion must consume exactly maxAttempts")
    assert(Landing.pending(spark, landing, "*.parquet", manifest).isEmpty,
      "a dead-lettered file must stop being pending")
    val dead = Landing.deadLetters(spark, manifest).collect()
    assert(dead.length == 1 && dead.head.getAs[String]("file") == "e.parquet")
    assert(dead.head.getAs[String]("error").contains("hard down"))
    assert(dead.head.getAs[Long]("attempts") == 3L)
    // a replayed run does NOT re-invoke process for the dead file
    assert(Landing.ingest(spark, landing, "*.parquet", manifest,
      _ => { eCalls += 1; throw new RuntimeException("hard down") },
      backoffMs = 1).isEmpty)
    assert(eCalls == 3, "dead-lettered file consumed retries on replay")
  }

  test("Landing taxonomy: NonRetryable dead-letters immediately; redrive re-admits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{Landing, VersionedTable}
    val base = java.nio.file.Files.createTempDirectory("graft_land_dlq").toString
    val landing = s"$base/landing"; val manifest = s"$base/manifest"
    val target = s"$base/table"
    new java.io.File(landing).mkdirs()
    Seq((1L, 1.0)).toDF("k", "v").write.parquet(s"$landing/a.parquet")
    Seq((2L, 2.0)).toDF("k", "v").write.parquet(s"$landing/b.parquet")
    // a.parquet: permanently malformed (auth/bad-payload class) —
    // NonRetryableError must dead-letter on the FIRST attempt, and
    // the run must continue to b.parquet (per-file isolation)
    var aCalls = 0
    val sink = (df: org.apache.spark.sql.DataFrame) => {
      if (df.select("k").as[Long].head() == 1L) {
        aCalls += 1
        throw new Landing.NonRetryableError("schema contract violated")
      }
      VersionedTable.append(spark, target, df,
        VersionedTable.currentVersion(spark, target).getOrElse {
          VersionedTable.commit(spark, target, df.limit(0), -1L)
        })
      ()
    }
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, sink,
      maxAttempts = 5, backoffMs = 1) == Seq("b.parquet"))
    assert(aCalls == 1, "NonRetryable must not burn the retry budget")
    val dead = Landing.deadLetters(spark, manifest).collect()
    assert(dead.length == 1 && dead.head.getAs[String]("file") == "a.parquet")
    assert(dead.head.getAs[Long]("attempts") == 1L)
    // redrive: the operator fixes the upstream contract and re-admits;
    // the file becomes pending again with a FRESH retry budget
    assert(Landing.redrive(spark, manifest) == Seq("a.parquet"))
    assert(Landing.pending(spark, landing, "*.parquet", manifest) == Seq("a.parquet"))
    var fixed = false
    assert(Landing.ingest(spark, landing, "*.parquet", manifest,
      df => { fixed = true; () }, backoffMs = 1) == Seq("a.parquet"))
    assert(fixed)
    assert(Landing.deadLetters(spark, manifest).isEmpty,
      "a successfully redriven file must leave the dead-letter queue")
    // and the manifest gate still holds: nothing pending, replay no-op
    assert(Landing.pending(spark, landing, "*.parquet", manifest).isEmpty)
  }

  test("Landing: sharded manifest — pending reads only the listed shards' partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.{Landing, VersionedTable}
    val base = java.nio.file.Files.createTempDirectory("graft_land_shard").toString
    val landing = s"$base/landing"; val manifest = s"$base/manifest"
    val shardOf = Some((name: String) => name.take(10)) // arrival-date prefix
    var processed = List.empty[Long]
    def sink(df: org.apache.spark.sql.DataFrame): Unit =
      processed = processed ++ df.select("k").collect().map(_.getLong(0))
    Seq((1L, 1.0)).toDF("k", "v").write.parquet(s"$landing/2024-01-01_a.parquet")
    Seq((2L, 2.0)).toDF("k", "v").write.parquet(s"$landing/2024-01-01_b.parquet")
    Seq((3L, 3.0)).toDF("k", "v").write.parquet(s"$landing/2024-01-02_c.parquet")
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, sink, shardOf = shardOf)
      .size == 3)
    // the manifest is partition-native by shard: each day's entries
    // live in their own partition dirs
    assert(VersionedTable.readPartition(spark, manifest, "2024-01-01")
      .select("file").collect().map(_.getString(0)).toSet
      == Set("2024-01-01_a.parquet", "2024-01-01_b.parquet"))
    // a next-day run lists only that day's prefix and its anti-join
    // frame opens ONLY that shard's manifest partition — years of
    // manifest history never get scanned
    Seq((4L, 4.0)).toDF("k", "v").write.parquet(s"$landing/2024-01-02_d.parquet")
    val slice = Landing.manifestSlice(spark, manifest, Seq("2024-01-02")).get
    assert(slice.inputFiles.nonEmpty &&
      slice.inputFiles.forall(_.contains("p=2024-01-02")),
      s"manifest slice opened foreign shards: ${slice.inputFiles.mkString(",")}")
    assert(Landing.pending(spark, landing, "2024-01-02*.parquet", manifest, shardOf)
      == Seq("2024-01-02_d.parquet"))
    assert(Landing.ingest(spark, landing, "2024-01-02*.parquet", manifest, sink,
      shardOf = shardOf) == Seq("2024-01-02_d.parquet"))
    // replay across the whole landing zone is still a no-op, and a
    // never-seen shard in the listing doesn't break the slice
    Seq((5L, 5.0)).toDF("k", "v").write.parquet(s"$landing/2024-01-03_e.parquet")
    assert(Landing.pending(spark, landing, "*.parquet", manifest, shardOf)
      == Seq("2024-01-03_e.parquet"))
    assert(processed.sorted == List(1L, 2L, 3L, 4L))
    assert(VersionedTable.read(spark, manifest)
      .filter(col("shard") === "2024-01-02").count() == 2)
    // an UNSHARDED manifest + shardOf must fail loudly, not silently
    // report every recorded file as pending (which would re-run their
    // side effects)
    val flat = s"$base/manifest_flat"
    Landing.ingest(spark, landing, "2024-01-01*.parquet", flat, sink)
    intercept[IllegalArgumentException] {
      Landing.pending(spark, landing, "*.parquet", flat, shardOf)
    }
  }

  test("LakehouseWriter round-trips partitioned unified records") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_lake").toString + "/stocks"
    val records = graft.operators.Relational.unifiedRecords(
      Tables.lineitem(spark, sf), Tables.supplier(spark, sf))
    graft.sources.LakehouseWriter.writeUnified(records, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == records.count())
    // partition pruning: record_type filter must prune directories
    val meta = back.filter(col("record_type") === "metadata")
    assert(meta.count() == Tables.supplier(spark, sf).count())
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("record_type=")))
    // merge: bump one supplier's ttm row, re-read, verify the update won
    val src = records.filter(col("record_type") === "ttm")
      .limit(1).withColumn("qty", lit(99999.0))
    graft.sources.LakehouseWriter.mergeInto(spark, dir, src,
      keys = Seq("suppkey", "record_type", "period_end_date"), tieBreak = Seq("qty"))
    val after = spark.read.parquet(dir)
    assert(after.count() == records.count())
    assert(after.filter(col("qty") === 99999.0).count() == 1)
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.orders(spark, sf).write
        .bucketBy(4, "o_custkey").sortBy("o_custkey")
        .option("path", s"$dir/b_orders").mode("overwrite").saveAsTable("b_orders")
      Tables.customer(spark, sf).write
        .bucketBy(4, "c_custkey").sortBy("c_custkey")
        .option("path", s"$dir/b_customer").mode("overwrite").saveAsTable("b_customer")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.sparkPlan.toString
      // co-located bucketed join: SortMergeJoin with NO shuffle exchange
      assert(plan.contains("SortMergeJoin"), plan.take(500))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(1000))
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("m01 resize + frame-sample plumbing preserves schema and counts") {
    import org.apache.spark.sql.functions._
    val media = graft.operators.Multimodal.attachPayload(Tables.documents(spark, sf))
    val resized = graft.operators.Multimodal.resizeStub(media, targetBytes = 128)
    assert(resized.count() == media.count())
    assert(resized.select(max(length(col("payload")))).head.getInt(0) == 128)
    val frames = graft.operators.Multimodal.frameSample(media, frameBytes = 64, stride = 2)
    assert(frames.count() >= media.count()) // at least one frame per doc
    assert(frames.filter(f => f.frame_idx % 2 != 0).count() == 0) // stride respected
  }

  test("format round-trips: JSON, CSV, ORC preserve rows and values") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_formats").toString
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val checksum = orders.agg(sum(col("o_orderkey")), round(sum(col("o_totalprice")), 2)).head
    val schema = orders.schema
    graft.sources.Formats.writeJson(orders, s"$dir/j")
    graft.sources.Formats.writeCsv(orders, s"$dir/c")
    graft.sources.Formats.writeOrc(orders, s"$dir/o")
    for (back <- Seq(
        graft.sources.Formats.readJson(spark, s"$dir/j", schema),
        graft.sources.Formats.readCsv(spark, s"$dir/c", schema),
        graft.sources.Formats.readOrc(spark, s"$dir/o"))) {
      assert(back.count() == orders.count())
      assert(back.agg(sum(col("o_orderkey")), round(sum(col("o_totalprice")), 2)).head == checksum)
    }
  }

  test("streaming file sink: windowed counts land as parquet") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val events = Tables.events(spark, sf)
    // drive a real file-source -> file-sink stream over the events table
    // (nanosAsLong comes from GraftSession's builder)
    val src = StreamOps.eventsStreamSource(spark, sf)
    val q = src.select(col("event_id"), col("event_type"), col("ts"))
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(s"$base/out")
    assert(back.count() == events.count())
  }

  test("m01 decode stub is explicit about missing codecs") {
    intercept[UnsupportedOperationException] {
      graft.operators.Multimodal.decodeMedia(Array[Byte](1, 2), "image/png")
    }
  }

  test("q31 interval concurrency: open_runs is a consistent running sum, never negative") {
    val rows = SparkEntry.queries("q31_interval_concurrency")(spark, sf)
      .collect() // already ordered by day
    var running = 0L
    rows.foreach { r =>
      running += r.getAs[Long]("n_starts") - r.getAs[Long]("n_ends")
      assert(r.getAs[Long]("open_runs") == running)
      assert(running >= 0L)
    }
    // every started run eventually ends
    assert(running == 0L)
  }

  test("q32 grouping sets: subtotal levels are consistent") {
    val rows = SparkEntry.queries("q32_grouping_sets")(spark, sf).collect()
    val detail = rows.filter(r => r.getAs[String]("rf") != "(all)" && r.getAs[String]("ls") != "(all)")
    val byFlag = rows.filter(r => r.getAs[String]("rf") != "(all)" && r.getAs[String]("ls") == "(all)")
    val total = rows.filter(r => r.getAs[String]("rf") == "(all)" && r.getAs[String]("ls") == "(all)")
    assert(total.length == 1)
    assert(detail.map(_.getAs[Long]("n")).sum == total.head.getAs[Long]("n"))
    assert(byFlag.map(_.getAs[Long]("n")).sum == total.head.getAs[Long]("n"))
    detail.groupBy(_.getAs[String]("rf")).foreach { case (rf, rs) =>
      val sub = byFlag.find(_.getAs[String]("rf") == rf).get
      assert(rs.map(_.getAs[Long]("n")).sum == sub.getAs[Long]("n"))
    }
  }

  test("q33 semi join: every kept customer has an open order; no duplicates") {
    val kept = SparkEntry.queries("q33_semi_join")(spark, sf)
    assert(kept.count() == kept.select("c_custkey").distinct().count())
    val open = Tables.orders(spark, sf).filter("o_orderstatus = 'O'")
      .select("o_custkey").distinct()
    val orphans = kept.join(open, kept("c_custkey") === open("o_custkey"), "left_anti")
    assert(orphans.count() == 0)
  }

  test("d10 dedup apply: kept+removed == corpus, removed docs are non-canonical cluster members") {
    val census = SparkEntry.queries("d10_dedup_apply")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(census.map(r => r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed")).sum == nDocs)
    val clusters = graft.operators.Dedup.dedupClusters(Tables.documents(spark, sf)).collect()
    val expectedRemoved = clusters.count(r => r.getAs[Long]("doc_id") != r.getAs[Long]("cluster_id"))
    assert(census.map(_.getAs[Long]("n_removed")).sum == expectedRemoved)
  }

  test("s06 ann recall: recall in [0,1] and hits never exceed k") {
    val rows = SparkEntry.queries("s06_ann_recall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_hits") <= r.getAs[Long]("k_eval"))
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("m03 frame sample: stride-2 indices, full frames except the tail, digest parity with bytes") {
    val rows = SparkEntry.queries("m03_frame_sample")(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("frame_idx") % 2 == 0))
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    byDoc.foreach { case (_, frames) =>
      val sorted = frames.sortBy(_.getAs[Long]("frame_idx"))
      // all but the last sampled frame must be exactly frameBytes long
      sorted.init.foreach(f => assert(f.getAs[Long]("frame_len") == 64L))
      assert(sorted.last.getAs[Long]("frame_len") <= 64L)
    }
    // digest of doc 0 frame 0 == sha256 of the first 64 text bytes
    val txt = Tables.documents(spark, sf).filter("doc_id = 0")
      .collect().head.getAs[String]("text")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expect = md.digest(txt.getBytes("UTF-8").take(64))
      .map("%02x".format(_)).mkString
    val got = rows.find(r => r.getAs[Long]("doc_id") == 0L && r.getAs[Long]("frame_idx") == 0L)
    assert(got.exists(_.getAs[String]("frame_digest") == expect))
  }

  test("m06 image decode: real PNG bytes, codec round trip, corrupt payloads degrade not crash") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    // the encode half writes REAL PNGs (magic header, parseable by the
    // same JDK codec any consumer would use)
    val pngs = Multimodal.renderPng(Tables.documents(spark, sf))
      .limit(5).collect()
    pngs.foreach { r =>
      val b = r.getAs[Array[Byte]]("png")
      assert(b.length > 8 && (b(0) & 0xff) == 0x89 &&
        b(1) == 'P'.toByte && b(2) == 'N'.toByte && b(3) == 'G'.toByte)
    }
    // decoded features equal the render parameters (the oracle pins
    // this corpus-wide; here one row verified in-process against the
    // spec constants so a broken oracle can't mask a broken decode)
    val row = SparkEntry.queries("m06_image_decode")(spark, sf)
      .filter(col("doc_id") === 3L).collect().head
    val (w, h, split) = (Multimodal.imgW(3), Multimodal.imgH(3), Multimodal.imgW(3) / 2)
    val (ra, _, _) = Multimodal.colA(3); val (rb, _, _) = Multimodal.colB(3)
    assert(row.getAs[Boolean]("decode_ok"))
    assert(row.getAs[Long]("width") == w && row.getAs[Long]("height") == h)
    assert(row.getAs[Long]("sum_r") == h.toLong * (split * ra + (w - split) * rb))
    // corrupt bytes flow through as decode_ok=false rows — the
    // 100 TB contract: bad media is data, not a dead executor
    import spark.implicits._
    val garbage = Seq((1L, Array[Byte](1, 2, 3)),
                      (2L, "not a png".getBytes("UTF-8")))
      .toDF("doc_id", "png")
    val out = Multimodal.decodeFeatures(garbage).collect()
    assert(out.length == 2 && out.forall(!_.getAs[Boolean]("decode_ok")))
    assert(out.forall(_.getAs[Long]("width") == 0L))
  }

  test("m07 audio decode: real WAV bytes, codec round trip, corrupt payloads degrade not crash") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    // the encode half writes REAL WAVs (RIFF/WAVE magic, parseable by
    // the same JDK codec any consumer would use)
    val wavs = Multimodal.renderWav(Tables.documents(spark, sf))
      .limit(5).collect()
    wavs.foreach { r =>
      val b = r.getAs[Array[Byte]]("wav")
      assert(b.length > 44 &&
        new String(b, 0, 4, "US-ASCII") == "RIFF" &&
        new String(b, 8, 4, "US-ASCII") == "WAVE")
    }
    // decoded features equal the waveform spec recomputed in-process
    // (the oracle pins this corpus-wide; one row verified here so a
    // broken oracle can't mask a broken decode)
    val row = SparkEntry.queries("m07_audio_decode")(spark, sf)
      .filter(col("doc_id") === 3L).collect().head
    val n = Multimodal.audioFrames(3)
    val samples = (0 until n).map(Multimodal.audioSample(3, _))
    assert(row.getAs[Boolean]("decode_ok"))
    assert(row.getAs[Long]("frames") == n.toLong)
    assert(row.getAs[Long]("sample_rate") == 8000L &&
      row.getAs[Long]("channels") == 1L && row.getAs[Long]("bits") == 16L)
    assert(row.getAs[Long]("sum_v") == samples.map(_.toLong).sum)
    assert(row.getAs[Long]("sum_abs") == samples.map(v => math.abs(v.toLong)).sum)
    assert(row.getAs[Long]("peak_abs") == samples.map(v => math.abs(v.toLong)).max)
    assert(row.getAs[Long]("zero_cross") ==
      samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
    // corrupt bytes flow through as decode_ok=false rows — the 100 TB
    // contract: bad media is data, not a dead executor
    import spark.implicits._
    val garbage = Seq((1L, Array[Byte](1, 2, 3)),
                      (2L, "not a wav".getBytes("UTF-8")))
      .toDF("doc_id", "wav")
    val out = Multimodal.decodeAudioFeatures(garbage).collect()
    assert(out.length == 2 && out.forall(!_.getAs[Boolean]("decode_ok")))
    assert(out.forall(_.getAs[Long]("frames") == 0L))
  }

  test("m09 video decode: container round trip, order-sensitive motion, corrupt degrade") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    // container magic + embedded REAL PNG frames
    val v = Multimodal.renderVideo(Tables.documents(spark, sf))
      .limit(1).collect().head.getAs[Array[Byte]]("video")
    assert(new String(v.slice(0, 4), "US-ASCII") == "GVID")
    // one doc's features recomputed from the spec constants
    val row = SparkEntry.queries("m09_video_frames")(spark, sf)
      .filter(col("doc_id") === 3L).collect().head
    val (w, h, split) = (Multimodal.imgW(3), Multimodal.imgH(3), Multimodal.imgW(3) / 2)
    val nf = Multimodal.videoFrameCount(3)
    assert(row.getAs[Boolean]("decode_ok") && row.getAs[Long]("n_frames") == nf)
    val sumR = (0 until nf).map { f =>
      h.toLong * (split * Multimodal.frameColA(3, f)._1 +
        (w - split) * Multimodal.frameColB(3, f)._1)
    }.sum
    assert(row.getAs[Long]("sum_r") == sumR)
    val motion = (1 until nf).map { f =>
      val (ra, ga, ba) = Multimodal.frameColA(3, f)
      val (pa, pga, pba) = Multimodal.frameColA(3, f - 1)
      val (rb, gb, bb) = Multimodal.frameColB(3, f)
      val (pb, pgb, pbb) = Multimodal.frameColB(3, f - 1)
      h.toLong * (split * (math.abs(ra - pa) + math.abs(ga - pga) + math.abs(ba - pba)) +
        (w - split) * (math.abs(rb - pb) + math.abs(gb - pgb) + math.abs(bb - pbb)))
    }.sum
    assert(row.getAs[Long]("motion") == motion, "motion energy mismatch")
    // corrupt container AND corrupt embedded frame both degrade
    import spark.implicits._
    val goodHeader = v.slice(0, 8) ++ Array.fill[Byte](16)(7)
    val out = Multimodal.decodeVideoFeatures(Seq(
      (1L, Array[Byte](1, 2, 3)), (2L, goodHeader))
      .toDF("doc_id", "video")).collect()
    assert(out.length == 2 && out.forall(!_.getAs[Boolean]("decode_ok")))
  }

  test("m10 GOP video: keyframe cadence, stateful delta reconstruction, P-first corrupt degrade") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // container structure: magic, then an I/P marker stream with
    // exactly the per-doc GOP cadence
    val v = Multimodal.renderGopVideo(Tables.documents(spark, sf))
      .filter(col("doc_id") === 3L).collect().head.getAs[Array[Byte]]("video")
    assert(new String(v.slice(0, 4), "US-ASCII") == "GVIP")
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(v))
    in.skipBytes(4)
    val nf = in.readInt()
    assert(nf == Multimodal.gopFrameCount(3))
    val g = Multimodal.gopSize(3)
    val markers = (0 until nf).map { _ =>
      val m = in.readByte().toChar
      val len = in.readInt(); in.skipBytes(len)
      m
    }
    assert(markers.zipWithIndex.forall { case (m, f) =>
      m == (if (f % g == 0) 'I' else 'P') }, s"GOP cadence broke: $markers")
    // reconstruction exactness: the decoded features can only match
    // the closed form if every P-frame delta was applied to the
    // previous RECONSTRUCTED frame (doc 3 has 7 frames, 4 keyframes)
    val row = SparkEntry.queries("m10_gop_video")(spark, sf)
      .filter(col("doc_id") === 3L).collect().head
    val (w, h, split) = (Multimodal.imgW(3), Multimodal.imgH(3), Multimodal.imgW(3) / 2)
    assert(row.getAs[Boolean]("decode_ok") && row.getAs[Long]("n_frames") == nf)
    assert(row.getAs[Long]("n_key") == (0 until nf).count(_ % g == 0))
    val sumR = (0 until nf).map { f =>
      h.toLong * (split * Multimodal.frameColA(3, f)._1 +
        (w - split) * Multimodal.frameColB(3, f)._1)
    }.sum
    assert(row.getAs[Long]("sum_r") == sumR, "delta reconstruction drifted")
    val motion = (1 until nf).map { f =>
      val (ra, ga, ba) = Multimodal.frameColA(3, f)
      val (pa, pga, pba) = Multimodal.frameColA(3, f - 1)
      val (rb, gb, bb) = Multimodal.frameColB(3, f)
      val (pb, pgb, pbb) = Multimodal.frameColB(3, f - 1)
      h.toLong * (split * (math.abs(ra - pa) + math.abs(ga - pga) + math.abs(ba - pba)) +
        (w - split) * (math.abs(rb - pb) + math.abs(gb - pgb) + math.abs(bb - pbb)))
    }.sum
    assert(row.getAs[Long]("motion") == motion, "motion over reconstructed frames mismatch")
    // inter-frame failure modes degrade, never kill: a P-frame with no
    // reference to predict from, and plain garbage
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GVIP"); out.writeInt(1); out.writeByte('P')
    // borrow doc 3's first embedded PNG as the orphan P payload
    val pin = new java.io.DataInputStream(new java.io.ByteArrayInputStream(v))
    pin.skipBytes(9)
    val plen = pin.readInt(); val png = new Array[Byte](plen); pin.readFully(png)
    out.writeInt(plen); out.write(png)
    val bad = Multimodal.decodeGopFeatures(Seq(
      (1L, bos.toByteArray), (2L, Array[Byte](9, 9, 9)))
      .toDF("doc_id", "video")).collect()
    assert(bad.length == 2 && bad.forall(!_.getAs[Boolean]("decode_ok")))
  }

  test("m11 image resize: floor-mapping resample, re-encode round trip, up and down both exact") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // doc 1: 9x9 source → 6x6 target (downsample); doc 12: 11x13
    // source → 17x6 target (upsample wide, downsample tall at once)
    val rows = SparkEntry.queries("m11_image_resize")(spark, sf)
      .filter(col("doc_id").isin(1L, 12L)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 12L).foreach { id =>
      val r = rows(id)
      val (w, split) = (Multimodal.imgW(id), Multimodal.imgW(id) / 2)
      val (tw, th) = (Multimodal.resizeW(id), Multimodal.resizeH(id))
      assert(r.getAs[Boolean]("decode_ok"))
      assert(r.getAs[Long]("out_w") == tw && r.getAs[Long]("out_h") == th)
      val nA = (0 until tw).count(x => x.toLong * w / tw < split)
      val sumR = th.toLong * (nA * Multimodal.colA(id)._1 +
        (tw - nA) * Multimodal.colB(id)._1)
      assert(r.getAs[Long]("sum_r") == sumR,
        s"doc $id: resample read the wrong source columns")
    }
    // the emitted bytes are a REAL PNG of the resized raster
    val png = Tables.documents(spark, sf).filter(col("doc_id") === 1L)
      .transform(Multimodal.renderPng).collect().head.getAs[Array[Byte]]("png")
    val resized = Multimodal.resizeKernel(png,
      Multimodal.resizeW(1), Multimodal.resizeH(1)).get
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized))
    assert(img.getWidth == Multimodal.resizeW(1) &&
      img.getHeight == Multimodal.resizeH(1))
    // corrupt payloads come back as NULL from the library surface and
    // decode_ok=false from the feature op — data, not dead executors
    assert(Multimodal.resizeKernel("junk".getBytes("UTF-8"), 4, 4).isEmpty)
    val viaDf = Multimodal.resizePng(
      Seq((9L, "junk".getBytes("UTF-8"))).toDF("doc_id", "png"), 4, 4)
      .collect().head
    assert(viaDf.isNullAt(viaDf.fieldIndex("png")))
  }

  test("m12 audio resample: ZOH index mapping at 4/16/6 kHz, header rate round trip, corrupt degrade") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // docs 0/1/2 hit the three rates: 4 kHz (down), 16 kHz (up),
    // 6 kHz (the non-integral 3:4 ratio)
    val rows = SparkEntry.queries("m12_audio_resample")(spark, sf)
      .filter(col("doc_id").isin(0L, 1L, 2L)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(0L, 1L, 2L).foreach { id =>
      val r = rows(id)
      val n = Multimodal.audioFrames(id)
      val dst = Multimodal.resampleRate(id)
      val m = (n.toLong * dst / 8000).toInt
      assert(r.getAs[Boolean]("decode_ok"))
      assert(r.getAs[Long]("out_rate") == dst.toLong,
        s"doc $id: RIFF header lost the new rate")
      assert(r.getAs[Long]("out_frames") == m.toLong,
        s"doc $id: frame-count rounding drifted")
      val samples = (0 until m).map(j =>
        Multimodal.audioSample(id, (j.toLong * 8000 / dst).toInt))
      assert(r.getAs[Long]("sum_v") == samples.map(_.toLong).sum &&
        r.getAs[Long]("sum_abs") == samples.map(v => math.abs(v.toLong)).sum,
        s"doc $id: ZOH index mapping drifted")
      assert(r.getAs[Long]("zero_cross") ==
        samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
    }
    // library surface: corrupt bytes → NULL payload; kernel → None
    assert(Multimodal.resampleKernel("junk".getBytes("UTF-8"), 4000).isEmpty)
    val viaDf = Multimodal.resampleWav(
      Seq((9L, "junk".getBytes("UTF-8"))).toDF("doc_id", "wav"), 4000)
      .collect().head
    assert(viaDf.isNullAt(viaDf.fieldIndex("wav")))
  }

  test("m13 GOP extract: decode cost equals the merged keyframe chains, sampled sums exact, pruning real") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.{col, sum}
    import spark.implicits._
    val df = SparkEntry.queries("m13_gop_extract")(spark, sf)
    // the pruning is REAL: across the corpus the extractor decodes
    // strictly fewer frames than a decode-everything pass would
    val tot = df.agg(sum("n_decoded").as("d"), sum("n_frames").as("f"))
      .collect().head
    assert(tot.getAs[Long]("d") < tot.getAs[Long]("f"),
      "extractor decoded as much as a full pass — no seek savings")
    // doc 4 (nf=8, g=3, samples 1/4/7): chains [0,1],[3,4],[6,7] = 6
    // decodes; doc 2 (nf=6, g=4, samples 1/4): [0,1],[4] = 3
    val rows = df.filter(col("doc_id").isin(2L, 4L)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(2L).getAs[Long]("n_decoded") == 3L &&
      rows(2L).getAs[Long]("n_sampled") == 2L)
    assert(rows(4L).getAs[Long]("n_decoded") == 6L &&
      rows(4L).getAs[Long]("n_sampled") == 3L)
    // sampled-frame sums from the reconstruction match the spec
    // constants (frame 4 of doc 2 reconstructs through its OWN
    // keyframe, not the chain from frame 1 — mid-GOP restart works)
    val (w, h, split) = (Multimodal.imgW(2), Multimodal.imgH(2), Multimodal.imgW(2) / 2)
    val sumR = Seq(1, 4).map { f =>
      h.toLong * (split * Multimodal.frameColA(2, f)._1 +
        (w - split) * Multimodal.frameColB(2, f)._1)
    }.sum
    assert(rows(2L).getAs[Long]("sum_r") == sumR)
    // corrupt containers degrade
    val bad = Multimodal.extractGopFrames(
      Seq((1L, Array[Byte](0, 1, 2))).toDF("doc_id", "video"), 3).collect()
    assert(bad.length == 1 && !bad.head.getAs[Boolean]("decode_ok"))
  }

  test("q50 CUSUM: a sustained shift alarms, a flat series and the pre-shift days never do") {
    import spark.implicits._
    import graft.operators.Relational
    // 20 flat days at 10/day, then a sustained step to 100/day:
    // mu = 40, the flat increments are negative (S pins at 0), the
    // step accumulates 6000/day scaled vs threshold 8T = 9600 ->
    // first alarm on the SECOND step day, never before the step
    def mk(day: Int, n: Int, tag: String) = (1 to n).map(i =>
      (day * 1000L + i, java.sql.Timestamp.valueOf(
        f"2024-01-${day}%02d 12:00:00"), i.toLong, tag, 1.0))
    val evs = ((1 to 20).flatMap(d => mk(d, 10, "steady")) ++
      (21 to 30).flatMap(d => mk(d, 100, "steady")))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val rows = Relational.cusumChangepoint(evs).collect()
    val byDay = rows.map(r => r.getAs[java.sql.Timestamp]("day")
      .toLocalDateTime.getDayOfMonth -> r.getAs[Boolean]("alarm")).toMap
    assert((1 to 21).forall(!byDay(_)), "alarm before the shift could settle")
    assert((22 to 30).forall(byDay(_)), "sustained shift not detected")
    // cusum is pinned at 0 through the flat stretch (negative drift)
    val flat = rows.filter(_.getAs[java.sql.Timestamp]("day")
      .toLocalDateTime.getDayOfMonth <= 20)
    assert(flat.forall(_.getAs[Long]("cusum") == 0L))
  }

  test("d20 ER score: agreement raises, disagreement lowers, verdicts threshold correctly") {
    import spark.implicits._
    import graft.operators.Dedup
    // three near-name records: 1-2 agree on everything (a true dup),
    // 1-3 agree on nothing but the name block (a coincidence)
    val cust = Seq(
      (1L, "Acme Corp", 7, 100.0, "AUTO"),
      (2L, "Acme Corpx", 7, 150.0, "AUTO"),   // 1 edit, same fields
      (3L, "Acme Corz", 3, 5000.0, "STEEL"),  // 1 edit, all different
      (4L, "Zzz Unrelated", 1, 1.0, "FOOD"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val rows = Dedup.erScore(cust).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("match_key")) -> r)
      .toMap
    val dup = rows((1L, 2L))
    assert(dup.getAs[Boolean]("agree_nation") &&
      dup.getAs[Boolean]("agree_segment") && dup.getAs[Boolean]("agree_balance"))
    assert(!dup.getAs[Boolean]("exact_name"))
    val co = rows((1L, 3L))
    assert(!co.getAs[Boolean]("agree_nation") && !co.getAs[Boolean]("agree_segment"))
    // the likelihood ratio separates them, and the verdict follows
    // the rounded-score thresholds exactly
    assert(dup.getAs[Double]("score") > co.getAs[Double]("score"))
    rows.values.foreach { r =>
      val (s, v) = (r.getAs[Double]("score"), r.getAs[String]("verdict"))
      assert(v == (if (s >= 4.6) "match" else if (s <= -4.6) "non_match"
                   else "possible"))
    }
    // u-estimates live in (0, 1]: a field agreeing at random cannot
    // produce an infinite or NaN weight
    assert(rows.values.forall(r => !r.getAs[Double]("score").isNaN &&
      !r.getAs[Double]("score").isInfinite))
  }

  test("t28 Heaps growth: beta in (0,1] on real text, exact fit on a constructed power law") {
    import spark.implicits._
    import graft.operators.TextOps
    val rows = TextOps.heapsGrowth(Tables.documents(spark, sf)).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // vocab never shrinks as tokens accumulate, so the log-log
      // slope is >= 0; a source whose vocab has SATURATED at this SF
      // legitimately fits beta = 0 (the generator's closed vocabulary)
      val b = r.getAs[Double]("beta")
      assert(b >= 0.0 && b <= 1.0,
        s"implausible Heaps exponent $b for ${r.getAs[String]("source")}")
      assert(r.getAs[Long]("vocab") <= r.getAs[Long]("n_tokens"))
    }
    // a corpus where every doc is entirely new words has V(N) = N:
    // the log-log fit must return beta = 1, k = 1 EXACTLY
    val novel = (1 to 20).map(d => (d.toLong,
      (1 to 5).map(j => s"w${d}_$j").mkString(" "), "s")).toDF(
      "doc_id", "text", "source")
    val n = TextOps.heapsGrowth(novel).collect().head
    assert(n.getAs[Double]("beta") == 1.0 && n.getAs[Double]("k") == 1.0)
  }

  test("BPE trainer persist point: t24/t25/t27 share one training run per corpus") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    val before = TextOps.bpeTrainerRuns
    SparkEntry.queries("t24_bpe_merges")(spark, sf).collect()
    SparkEntry.queries("t25_bpe_encode")(spark, sf).collect()
    SparkEntry.queries("t27_bpe_fertility")(spark, sf).collect()
    val runs = TextOps.bpeTrainerRuns - before
    assert(runs <= 1L, s"trainer ran $runs times for three views of one corpus")
    // a synthetic frame is NOT cache-eligible (no stable identity) and
    // must get its own trainer, never a stale hit
    import spark.implicits._
    val b2 = TextOps.bpeTrainerRuns
    TextOps.bpeMerges(Seq((0L, "zq zq")).toDF("doc_id", "text"), 1).collect()
    assert(TextOps.bpeTrainerRuns == b2 + 1)
  }

  test("t27 BPE fertility: bounds, conservation, and the no-merge limit") {
    import spark.implicits._
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    val rows = TextOps.bpeFertility(docs, 4).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, t) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"))
      // a word is at least one token and at most one token per char
      assert(t >= w, s"fertility below 1 for ${r.getAs[String]("lang")}")
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Double]("chars_per_token") >= 1.0)
    }
    // zero merges -> every symbol is one character: fertility ==
    // chars/word and chars_per_token == 1 exactly
    val base = TextOps.bpeFertility(
      Seq((1L, "ab abc a", "en")).toDF("doc_id", "text", "lang"), 0).collect()
    assert(base.head.getAs[Long]("n_tokens") == 6L) // 2+3+1 chars
    assert(base.head.getAs[Double]("chars_per_token") == 1.0)
  }

  test("st14 alert sink: one alert row per transition, exactly once across replays") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.sources.VersionedTable
    import graft.streaming.StreamOps
    // three regimes over 25 days, training = first 10:
    //  steady: 5/day throughout            → never alarms
    //  drift : 5/day, then 15/day from d16 → sustained shift, alarms at
    //          d17 (S: 350 @d16 < 8·T=400, 700 @d17) and STAYS on —
    //          exactly ONE transition
    //  blip  : 5/day, 11 on d16 only       → S=190 peak, decays, never alarms
    def rows(tpe: String, day: Int, n: Int): Seq[(Long, java.sql.Timestamp, String)] =
      (0 until n).map(i => (day * 1000L + i,
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), tpe))
    def dayCount(tpe: String, d: Int): Int = tpe match {
      case "drift" if d >= 16 => 15
      case "blip" if d == 16 => 11
      case _ => 5
    }
    def batch(days: Range) = days.flatMap(d =>
      Seq("steady", "drift", "blip").flatMap(t => rows(t, d, dayCount(t, d))))
      .toDF("event_id", "ts", "event_type")
    val work = java.nio.file.Files.createTempDirectory("graft_st14").toString
    val eventsRoot = s"$work/events"; val alertsRoot = s"$work/alerts"
    StreamOps.alertBatch(spark, eventsRoot, alertsRoot, "t", 0L, batch(1 to 10))
    assert(VersionedTable.currentVersion(spark, alertsRoot).isEmpty,
      "training days alone must not alert")
    StreamOps.alertBatch(spark, eventsRoot, alertsRoot, "t", 1L, batch(11 to 20))
    val a1 = VersionedTable.read(spark, alertsRoot).collect()
    assert(a1.length == 1, s"exactly one transition, got ${a1.toSeq}")
    assert(a1.head.getAs[String]("event_type") == "drift")
    assert(a1.head.getAs[java.sql.Timestamp]("day").toString.startsWith("2024-01-17"))
    // REPLAY of batch 1 (foreachBatch retry / checkpoint restart): the
    // txn gate must skip it whole — no new events version, no new alert
    val ev1 = VersionedTable.currentVersion(spark, eventsRoot).get
    val al1 = VersionedTable.currentVersion(spark, alertsRoot).get
    StreamOps.alertBatch(spark, eventsRoot, alertsRoot, "t", 1L, batch(11 to 20))
    assert(VersionedTable.currentVersion(spark, eventsRoot).get == ev1,
      "replayed batch re-appended events")
    assert(VersionedTable.currentVersion(spark, alertsRoot).get == al1,
      "replayed batch re-committed alerts")
    // later days: alarm STAYS on — no second transition, and the
    // already-fired alert row is byte-identical (prefix stability)
    StreamOps.alertBatch(spark, eventsRoot, alertsRoot, "t", 2L, batch(21 to 25))
    val a2 = VersionedTable.read(spark, alertsRoot).collect()
    assert(a2.length == 1, s"alarm-stays-on must not re-alert, got ${a2.toSeq}")
    assert(a2.head == a1.head, "re-evaluation changed a fired alert row")
    // the monitor view agrees end to end: one transition, alarm on
    // from d17 through d25 for drift only
    val mon = graft.operators.Relational.cusumMonitor(
      VersionedTable.read(spark, eventsRoot)).collect()
    assert(mon.count(r => r.getAs[Boolean]("alert")) == 1)
    assert(mon.count(r => r.getAs[Boolean]("alarm")) == 9,
      "drift must alarm on days 17..25")
    assert(!mon.exists(r => r.getAs[String]("event_type") != "drift"
      && r.getAs[Boolean]("alarm")))
  }

  test("st13 streaming KMV: bounded state across batches equals the batch sketch") {
    import graft.streaming.StreamOps
    val events = Tables.events(spark, sf)
    val streamed = StreamOps.streamKmvDrain(events).collect()
    // the memory bound IS the contract: no group's sketch exceeds k
    streamed.foreach(r => assert(r.getAs[Long]("n_sketch") <= 64L))
    // two micro-batches (maxVersionsPerTrigger=1 over two commits)
    // land bit-identical to the one-shot batch sketch: KMV is
    // order-insensitive and merge-associative
    val batch = graft.operators.Relational.kmvDistinct(events).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("kth_hash"), r.getAs[Long]("est")))).toMap
    assert(streamed.length == batch.size)
    streamed.foreach { r =>
      val (kth, est) = batch(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("kth_hash") == kth, s"kth drifted for ${r}")
      assert(r.getAs[Long]("est") == est)
    }
  }

  test("q49 KMV: exact below k, estimator form above k, error is data") {
    import spark.implicits._
    import graft.operators.Relational
    // 10 distinct users < k=64: the sketch holds everything -> est is
    // EXACTLY the distinct count, rel_err 0
    val small = (1 to 40).map(i => (i.toLong, (i % 10).toLong, "a"))
      .toDF("event_id", "user_id", "event_type")
    val s = Relational.kmvDistinct(small).collect().head
    assert(s.getAs[Long]("exact_distinct") == 10L &&
      s.getAs[Long]("est") == 10L && s.getAs[Double]("rel_err") == 0.0)
    // 5000 distinct users >> k: the estimator kicks in; the KMV bound
    // says rel err ~ 1/sqrt(k-1) = 12.6%; assert a loose 3x envelope
    // plus the exact integer estimator form (k-1)*P div h_k
    val big = (1 to 5000).map(i => (i.toLong, i.toLong, "b"))
      .toDF("event_id", "user_id", "event_type")
    val b = Relational.kmvDistinct(big).collect().head
    assert(b.getAs[Long]("exact_distinct") == 5000L)
    assert(b.getAs[Long]("est") ==
      63L * 2147483647L / b.getAs[Long]("kth_hash"))
    assert(math.abs(b.getAs[Double]("rel_err")) < 0.38,
      s"KMV estimate off: ${b.getAs[Long]("est")} vs 5000")
  }

  test("m08 audio windows: window arithmetic matches the spec, partial tail counts") {
    import graft.operators.Multimodal
    import org.apache.spark.sql.functions.col
    val row = SparkEntry.queries("m08_audio_windows")(spark, sf)
      .filter(col("doc_id") === 3L).collect().head
    val n = Multimodal.audioFrames(3)
    val energies = (0 until n).map(Multimodal.audioSample(3, _))
      .map(v => math.abs(v.toLong)).grouped(32).map(_.sum).toSeq
    assert(row.getAs[Boolean]("decode_ok"))
    // the partial tail window counts: ceil(n/32), not n/32
    assert(row.getAs[Long]("n_windows") == (n + 31) / 32)
    assert(row.getAs[Long]("n_active") == energies.count(_ > 32768L))
    assert(row.getAs[Long]("peak_energy") == energies.max)
    assert(row.getAs[Long]("peak_window") == energies.indexOf(energies.max))
    // corrupt bytes degrade, not crash
    import spark.implicits._
    val out = Multimodal.windowFeatures(
      Seq((9L, Array[Byte](0, 1, 2))).toDF("doc_id", "wav")).collect()
    assert(out.length == 1 && !out.head.getAs[Boolean]("decode_ok"))
  }

  test("t26 domain divergence: JSD identities on a controlled corpus") {
    import spark.implicits._
    import graft.operators.TextOps
    // A and B have IDENTICAL distributions -> jsd 0 (and the -0.0
    // residual normalizes); C shares half its vocab with A
    val docs = Seq(
      (1L, "x y z x", "A"), (2L, "x y z x", "B"),
      (3L, "x q q r", "C"))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.domainDivergence(docs).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) -> r)
      .toMap
    assert(rows.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    val ab = rows(("A", "B"))
    assert(ab.getAs[Double]("jsd") == 0.0)
    assert(java.lang.Double.doubleToRawLongBits(
      ab.getAs[Double]("jsd")) == 0L, "-0.0 leaked through")
    assert(ab.getAs[Long]("vocab_a") == 3L &&
      ab.getAs[Long]("vocab_b") == 3L && ab.getAs[Long]("vocab_shared") == 3L)
    val ac = rows(("A", "C"))
    assert(ac.getAs[Long]("vocab_shared") == 1L) // only "x"
    assert(ac.getAs[Double]("jsd") > 0.0 && ac.getAs[Double]("jsd") <= 1.0)
    // symmetry of the measure itself: B's distribution == A's, so
    // jsd(A,C) == jsd(B,C)
    assert(ac.getAs[Double]("jsd") == rows(("B", "C")).getAs[Double]("jsd"))
  }

  test("t24 BPE: greedy non-overlap merge semantics on overlapping runs") {
    import spark.implicits._
    import graft.operators.TextOps
    // "aaa": pairs (a,a)x2 per word; the greedy rule merges ONLY the
    // head occurrence -> [aa, a], so iteration 2's best pair must be
    // (aa, a). A broken overlap rule yields [a, aa] or [aa, aa] and a
    // different second merge.
    val m = TextOps.bpeMerges(Seq((0L, "aaa aaa b")).toDF("doc_id", "text"),
                              iters = 2).collect()
    assert(m.map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
                       r.getAs[Long]("cnt"))).toSeq ==
      Seq(("a", "a", 4L), ("aa", "a", 2L)))
    // "aaaa": an even run — matches at 1,2,3 form one island, every
    // other applies -> [aa, aa]; iteration 2 sees (aa, aa)
    val m3 = TextOps.bpeMerges(Seq((0L, "aaaa")).toDF("doc_id", "text"),
                               iters = 2).collect()
    assert(m3.map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq ==
      Seq(("a", "a"), ("aa", "aa")))
    assert(m3.head.getAs[Long]("cnt") == 3L)
    // "abab": two DISJOINT occurrences both merge in one pass
    val m2 = TextOps.bpeMerges(Seq((0L, "abab")).toDF("doc_id", "text"),
                               iters = 2).collect()
    assert(m2.map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq ==
      Seq(("a", "b"), ("ab", "ab")))
  }

  test("t25 BPE encode: character conservation and closed token set") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    val enc = TextOps.bpeEncode(docs, 4, Int.MaxValue).collect()
    // every multi-char token is one of the learned merges (merges are
    // the ONLY way symbols grow), and no token count is zero
    val merges = TextOps.bpeMerges(docs, 4).collect()
      .map(_.getAs[String]("merged")).toSet
    enc.foreach { r =>
      val t = r.getAs[String]("token")
      assert(r.getAs[Long]("n") > 0L)
      if (t.codePointCount(0, t.length) > 1)
        assert(merges.contains(t), s"token '$t' is not a learned merge")
    }
    // merging never creates or destroys characters: sum over tokens of
    // n * len(token) == total characters over all word occurrences
    val got = enc.map(r => r.getAs[Long]("n") *
      r.getAs[String]("token").codePointCount(0, r.getAs[String]("token").length)).sum
    val expected = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(sum(length(col("w")))).head.getLong(0)
    assert(got == expected, s"character mass changed: $got != $expected")
  }

  test("t11 repetition: fractions in [0,1], distinct <= tokens, top_count sane") {
    val rows = SparkEntry.queries("t11_repetition")(spark, sf).collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_tokens"); val d = r.getAs[Long]("n_distinct")
      assert(d >= 1 && d <= n)
      assert(r.getAs[Long]("top_count") >= 1 && r.getAs[Long]("top_count") <= n)
      Seq("dup_token_frac", "top_token_frac", "dup_bigram_frac").foreach { c =>
        val v = r.getAs[Double](c); assert(v >= 0.0 && v <= 1.0, s"$c=$v")
      }
    }
  }

  test("t15 approx percentile: sketch value's RANK within the guaranteed error window") {
    // approx_percentile(accuracy = a) guarantees the returned value is
    // an actual sample whose rank is within eps*n (eps = 1/a) of the
    // target rank — the contract is on RANK, not on the interpolated
    // value (at a jump in the distribution the sketch value can sit
    // far from the interpolated percentile while being rank-exact)
    import org.apache.spark.sql.functions.col
    val eps = 1.0 / 1000
    val docs = Tables.documents(spark, sf)
    val rows = SparkEntry.queries("t15_approx_percentile")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lang = r.getString(0)
      val n = r.getAs[Long]("n_docs").toDouble
      for ((q, field) <- Seq((0.5, "approx_median"), (0.9, "approx_p90"))) {
        val v = r.getAs[Long](field)
        val le = docs.filter(col("lang") === lang && col("n_chars") <= v).count().toDouble
        val lt = docs.filter(col("lang") === lang && col("n_chars") < v).count().toDouble
        // v occupies ranks (lt, le]; some occupied rank must fall within
        // the error window around the target rank q*n (+1 rank slack
        // for the discrete boundary)
        val slack = eps * n + 1
        assert(q * n >= lt - slack && q * n <= le + slack,
          s"lang=$lang $field=$v occupies ranks ($lt, $le] of $n — " +
          s"target ${q * n} outside the ±$slack window")
      }
    }
  }

  test("q35 approx distinct: sketch within 3x rsd of the exact count") {
    val rows = SparkEntry.queries("q35_approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_users").toDouble
      val approx = r.getAs[Long]("approx_users").toDouble
      assert(math.abs(approx - exact) / exact <= 3 * 0.02,
        s"approx=$approx exact=$exact")
    }
  }

  test("q34 rank panel: tied prices share rank; quartiles partition each priority") {
    val rows = SparkEntry.queries("q34_rank_panel")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("o_orderpriority")).foreach { case (_, rs) =>
      // equal price => equal rank & dense_rank
      rs.groupBy(_.getAs[Double]("price")).foreach { case (_, same) =>
        assert(same.map(_.getAs[Long]("rnk")).distinct.length == 1)
        assert(same.map(_.getAs[Long]("drnk")).distinct.length == 1)
      }
      val qs = rs.map(_.getAs[Long]("quartile"))
      assert(qs.forall(q => q >= 1 && q <= 4))
      // ntile balance: group sizes differ by at most 1
      val sizes = qs.groupBy(identity).values.map(_.size)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("st05 stream-static join: streaming result == batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sf)
    val customer = Tables.customer(spark, sf)
    val evs = events.select("event_id", "ts", "user_id", "value")
      .as[StreamOps.EvV].collect().toSeq
    val stream = MemoryStream[StreamOps.EvV]
    val q = StreamOps.streamStaticJoinStream(stream.toDS(), customer)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("graft_st05").start()
    try {
      // two micro-batches: the static side is re-joined per batch
      val (b1, b2) = evs.splitAt(evs.length / 2)
      stream.addData(b1); q.processAllAvailable()
      stream.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("graft_st05")
      .orderBy("segment").collect().map(_.toSeq)
    val batch = StreamOps.streamStaticJoinBatch(events, customer)
      .collect().map(_.toSeq)
    assert(streamed.sameElements(batch))
  }

  test("q36 merge-delete: no 'A' keys survive; totals exceed q08's R-updated totals") {
    val rows = SparkEntry.queries("q36_merge_delete")(spark, sf).collect()
    // every surviving composite key's winner is a non-tombstone; flag A
    // rows all had tombstones at higher prio, so A cannot appear
    assert(!rows.exists(_.getAs[String]("l_returnflag") == "A"))
    assert(rows.map(_.getAs[String]("l_returnflag")).toSet.subsetOf(Set("N", "R")))
  }

  test("q37 snapshot diff: every change type consistent with the key-slice arithmetic") {
    val rows = SparkEntry.queries("q37_snapshot_diff")(spark, sf).collect()
      .map(r => r.getAs[String]("change_type") -> r.getAs[Long]("n")).toMap
    val keys = Tables.orders(spark, sf).select("o_orderkey").collect()
      .map(_.getLong(0))
    assert(rows("inserted") == keys.count(k => k % 10 == 0 && k % 7 != 0))
    assert(rows("deleted") == keys.count(k => k % 10 != 0 && k % 7 == 0))
    val both = keys.filter(k => k % 10 != 0 && k % 7 != 0)
    assert(rows("updated") == both.count(_ % 3 != 0))
    assert(rows("unchanged") == both.count(_ % 3 == 0))
  }

  test("t13 entropy: bounds 0 <= H <= ln(distinct); evenness in [0,1]") {
    val rows = SparkEntry.queries("t13_token_entropy")(spark, sf).collect()
    rows.foreach { r =>
      val h = r.getAs[Double]("entropy")
      val d = r.getAs[Long]("n_distinct").toDouble
      // h is rounded to 4dp, so allow the half-step 5e-5 above ln(d)
      assert(h >= -1e-9 && h <= math.log(d) + 5e-5)
      val ev = r.getAs[Double]("evenness")
      assert(ev >= 0.0 && ev <= 1.0 + 5e-5)
    }
  }

  test("s07 knn: one prediction per query; votes bounded by k") {
    val rows = SparkEntry.queries("s07_knn_classify")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("q_id")).distinct.length == rows.length)
    rows.foreach { r =>
      val v = r.getAs[Long]("votes")
      assert(v >= 1 && v <= 5)
    }
  }

  test("q38 histogram: bin counts sum to the row count; bins match values") {
    val events = Tables.events(spark, sf)
    val rows = SparkEntry.queries("q38_value_histogram")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n")).sum == events.count())
    rows.foreach { r =>
      assert(r.getAs[Double]("bin_lo") == r.getAs[Long]("bin") * 10.0)
    }
  }

  test("q39 profile: one row per column; distinct counts match direct queries") {
    val rows = SparkEntry.queries("q39_data_profile")(spark, sf).collect()
    assert(rows.length == 6)
    val byCol = rows.map(r => r.getAs[String]("col_name") -> r).toMap
    val orders = Tables.orders(spark, sf)
    assert(byCol("o_orderkey").getAs[Long]("n_distinct") ==
      orders.select("o_orderkey").distinct().count())
    assert(byCol("o_orderstatus").getAs[Long]("n_distinct") ==
      orders.select("o_orderstatus").distinct().count())
    assert(rows.forall(_.getAs[Long]("n_nulls") == 0L)) // corpus has no nulls
  }

  test("q40 funnel: stages are monotone non-increasing; rates consistent") {
    val r = SparkEntry.queries("q40_funnel")(spark, sf).collect().head
    val (v, c, p) = (r.getAs[Long]("n_viewed"), r.getAs[Long]("n_clicked"),
                     r.getAs[Long]("n_purchased"))
    assert(v >= c && c >= p && p >= 0)
    assert(math.abs(r.getAs[Double]("view_to_click") - c.toDouble / v) < 1e-4)
  }

  test("q41 tw-avg: weighted mean lies within each user's value range") {
    val rows = SparkEntry.queries("q41_time_weighted_avg")(spark, sf).collect()
    val bounds = Tables.events(spark, sf).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.min("value").as("lo"),
           org.apache.spark.sql.functions.max("value").as("hi"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    rows.foreach { r =>
      val (lo, hi) = bounds(r.getAs[Long]("user_id"))
      val tw = r.getAs[Double]("tw_avg")
      assert(tw >= lo - 1e-4 && tw <= hi + 1e-4)
    }
  }

  test("q42 streaks: longest <= active days; active days == distinct event days") {
    val rows = SparkEntry.queries("q42_gaps_islands")(spark, sf).collect()
    val distinctDays = Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(ts AS DATE) AS day").distinct()
      .groupBy("user_id").count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      assert(r.getAs[Long]("longest_streak") <= r.getAs[Long]("n_active_days"))
      assert(r.getAs[Long]("n_active_days") == distinctDays(u))
    }
  }

  test("s19 multi-table LSH: OR-amplified recall >= single-table, smaller buckets, one score per pair") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sf)
    val exact = SparkEntry.queries("s01_ann_bruteforce_topk")(spark, sf)
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(key: String): Double = {
      val got = SparkEntry.queries(key)(spark, sf)
        .select(col("q_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    // the amplification claim, measured live (0.208 vs 0.083 at
    // sf0.001): a true neighbor is a candidate if it collides in ANY
    // of the 3 tables, and each table's 6-plane buckets are 4x
    // smaller than s02's single 4-plane table
    assert(recallOf("s19_ann_lsh_multitable") >= recallOf("s02_ann_lsh_topk"))
    // bucket refinement: table 0's planes EXTEND s02's planes 0-3, so
    // its buckets partition s02's — max occupancy can only fall; the
    // other tables are independent plane draws, asserted <= too (the
    // skew-spreading the census motivated)
    val single = Similarity.bucketCensus(e, Similarity.NumPlanes)
      .head.getAs[Long]("max_occ")
    val multi = Similarity.multiTableCensus(e).collect()
    assert(multi.length == Similarity.NumTables)
    multi.foreach { r =>
      assert(r.getAs[Long]("max_occ") <= single,
        s"table ${r.getAs[Int]("tbl")} max ${r.getAs[Long]("max_occ")} > single-table $single")
    }
    // a pair colliding in several tables is scored ONCE: ranks are
    // dense and distinct per query
    val rows = SparkEntry.queries("s19_ann_lsh_multitable")(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.size).toSeq)
    }
  }

  test("recall sweep: probe widening is monotone in recall AND cost; LSH prunes the corpus") {
    val emb = Tables.embeddings(spark, sf)
    val rows = graft.operators.Similarity.recallSweep(emb, nQueries = 32, k = 5)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val ivf = rows.keys.filter(_.startsWith("ivf[")).toSeq.sortBy(
      k => k.split("probe=")(1).stripSuffix("]").toInt)
    assert(ivf.size == 3)
    // widening the probe can only ADD candidates per query, so recall
    // and candidate fraction are both non-decreasing — a deterministic
    // property of the sweep, not a data accident
    ivf.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 >= rows(a)._1 - 1e-9, s"recall fell $a -> $b: $rows")
      assert(rows(b)._2 >= rows(a)._2 - 1e-9, s"cand cost fell $a -> $b: $rows")
    }
    rows.values.foreach { case (rec, frac) =>
      assert(rec >= 0.0 && rec <= 1.0 && frac > 0.0 && frac <= 1.0)
    }
    // the point of the index: no method hands the exact scorer the
    // whole corpus (PQ's cand_frac is the re-rank shortlist R/n)
    rows.foreach { case (m, (_, frac)) =>
      assert(frac < 0.9, s"$m scored ${frac * 100}%% of the corpus — no pruning")
    }
    // PQ shortlist widening is monotone in recall and cost too — and
    // its recall floor is the whole reason the shortlist exists
    val pq = rows.keys.filter(_.startsWith("pq")).toSeq.sortBy(
      k => k.split("R=")(1).stripSuffix("]").toInt)
    assert(pq.size == 3)
    pq.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 >= rows(a)._1 - 1e-9, s"pq recall fell $a -> $b: $rows")
      assert(rows(b)._2 >= rows(a)._2 - 1e-9, s"pq cost fell $a -> $b: $rows")
    }
    assert(rows(pq.last)._1 >= 0.3, s"pq widest shortlist carries no signal: $rows")
    // IVF-PQ vs flat PQ at the same shortlist R: NOT a true ordering
    // invariant in either direction — pruning restricts the candidate
    // POOL to probed cells, but top-R WITHIN that pool can pick up
    // exact neighbors whose global ADC rank is worse than R (pruning
    // evicts distractors), so cell pruning can raise recall as easily
    // as lose it. What is deterministic: every IVF-PQ candidate lies
    // in a probed cell. What we pin here is the tolerance-band
    // regression guard — the two methods rank by the SAME ADC over
    // nested pools, so their recalls cannot be wildly apart — plus
    // probe-widening sanity (also tolerance-banded: at fixed R a
    // wider pool can evict a sub-R true neighbor from the top-R).
    val ivfpq = rows.keys.filter(_.startsWith("ivfpq[")).toSeq.sortBy(
      k => k.split("probe=")(1).split(",")(0).toInt)
    assert(ivfpq.size == 3)
    ivfpq.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 >= rows(a)._1 - 0.15, s"ivfpq recall collapsed widening $a -> $b: $rows")
    }
    val flatR = ivfpq.head.split("R=")(1).stripSuffix("]")
    rows.get(s"pq-l2[R=$flatR]").foreach { case (flatRec, _) =>
      ivfpq.foreach(m => assert(math.abs(rows(m)._1 - flatRec) <= 0.35,
        s"$m diverged from flat PQ at the same shortlist beyond tolerance: $rows"))
    }
    // the residual variant (s10's encoding) runs at the SAME operating
    // points; same tolerance-band treatment (neither direction is an
    // invariant), and its cost axis must equal the non-residual row's
    // (identical probed cells)
    val ivfpqRes = rows.keys.filter(_.startsWith("ivfpq-res[")).toSeq.sortBy(
      k => k.split("probe=")(1).split(",")(0).toInt)
    assert(ivfpqRes.size == 3)
    ivfpqRes.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 >= rows(a)._1 - 0.15, s"ivfpq-res recall collapsed widening $a -> $b: $rows")
    }
    ivfpq.zip(ivfpqRes).foreach { case (m, mr) =>
      assert(math.abs(rows(m)._2 - rows(mr)._2) <= 1e-9,
        s"residual row's cand_frac drifted from the non-residual row: $m vs $mr")
    }
    // TRAINED codebook (s11) at the same operating points: identical
    // cost axis (same probed cells — structural), and a REGRESSION
    // band against the untrained-residual row. Improvement is the
    // measured result (RecallHarness: +0.01..+0.03 at every probe),
    // not an invariant — two Lloyd rounds on a pathological corpus
    // could tread water — so the band says "training never makes
    // residual codes much WORSE", which IS near-deterministic: the
    // floor-mean centers minimize the same quantization objective the
    // seed entries only sample.
    val ivfpqTr = rows.keys.filter(_.startsWith("ivfpq-tr[")).toSeq.sortBy(
      k => k.split("probe=")(1).split(",")(0).toInt)
    assert(ivfpqTr.size == 3)
    ivfpq.zip(ivfpqTr).foreach { case (m, mt) =>
      assert(math.abs(rows(m)._2 - rows(mt)._2) <= 1e-9,
        s"trained row's cand_frac drifted from the non-residual row: $m vs $mt")
    }
    ivfpqRes.zip(ivfpqTr).foreach { case (mr, mt) =>
      assert(rows(mt)._1 >= rows(mr)._1 - 0.05,
        s"training REGRESSED residual recall beyond tolerance: $mr -> $mt: $rows")
    }
  }

  test("d11 minhash estimate: observed error within 3 sigma of the 16-perm estimator") {
    val rows = SparkEntry.queries("d11_minhash_estimate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jac")
      val sigma = math.sqrt(j * (1 - j) / graft.operators.Dedup.NumPerms)
      assert(r.getAs[Double]("abs_err") <= 3 * sigma + 1e-4,
        s"err=${r.getAs[Double]("abs_err")} jac=$j sigma=$sigma")
    }
  }

  test("BandIndex: closed ingest loop — successive batches see each other's admitted docs") {
    import spark.implicits._
    import graft.operators.BandIndex
    val root = java.nio.file.Files.createTempDirectory("graft_bidx").toString
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val tC = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa"
    BandIndex.build(spark, root,
      Seq((10L, tA), (11L, tB)).toDF("doc_id", "text"))
    // batch 1: doc 20 duplicates corpus doc 10 (matched, NOT admitted);
    // doc 21 is novel (admitted -> appended to the index)
    val (adm1, pairs1) = BandIndex.ingest(spark, root,
      Seq((20L, tA), (21L, tC)).toDF("doc_id", "text"))
    assert(adm1.select("doc_id").collect().map(_.getLong(0)).toSet == Set(21L))
    assert(pairs1.select("batch_doc", "corpus_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((20L, 10L)))
    // batch 2: doc 30 duplicates doc 21 — admitted only one batch ago;
    // the probe must see it through the index APPEND, proving the loop
    // is closed without any corpus recompute
    val (adm2, pairs2) = BandIndex.ingest(spark, root,
      Seq((30L, tC)).toDF("doc_id", "text"))
    assert(pairs2.select("batch_doc", "corpus_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((30L, 21L)))
    assert(adm2.count() == 0)
    // the index grew by ONE O(batch) add-file commit: batch 1's
    // admission appended (v0 -> v1); batch 2 admitted nothing, so it
    // committed NOTHING (no empty-version churn in steady state)
    import graft.sources.VersionedTable
    assert(VersionedTable.currentVersion(spark, s"$root/bands").contains(1L))
    assert(VersionedTable.read(spark, s"$root/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L, 11L, 21L))
  }

  test("BandIndex: retire tombstones immediately, compact folds physically, probe equals a never-held index") {
    import spark.implicits._
    import graft.operators.BandIndex
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_bidx_ret").toString
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "one two three four five six seven eight nine ten eleven twelve thirteen"
    BandIndex.build(spark, root,
      Seq((10L, tA), (11L, tB)).toDF("doc_id", "text"))
    // a duplicate of doc 10 is rejected while 10 is live
    val probe0 = BandIndex.probe(spark, root, Seq((20L, tA)).toDF("doc_id", "text"))
    assert(probe0.collect().map(_.getAs[Long]("corpus_doc")).toSet == Set(10L))
    // retire doc 10: ONE O(batch) tombstone commit — the band/shingle
    // tables do not move
    val bandsV = VersionedTable.currentVersion(spark, s"$root/bands").get
    val shV = VersionedTable.currentVersion(spark, s"$root/shingles").get
    BandIndex.retire(spark, root, Seq(10L).toDF("doc_id"))
    assert(VersionedTable.currentVersion(spark, s"$root/bands").contains(bandsV))
    assert(VersionedTable.currentVersion(spark, s"$root/shingles").contains(shV))
    // the probe no longer matches the retired doc — its duplicate is
    // now ADMISSIBLE (the erasure took effect at tombstone time)
    val (adm, pairs) = BandIndex.ingest(spark, root,
      Seq((20L, tA)).toDF("doc_id", "text"))
    assert(pairs.count() == 0, "retired doc still matched")
    assert(adm.select("doc_id").collect().map(_.getLong(0)).toSet == Set(20L))
    // compact: bands/shingles physically drop doc 10, tombstones clear
    BandIndex.compactRetired(spark, root)
    assert(VersionedTable.read(spark, s"$root/bands")
      .filter($"doc_id" === 10L).count() == 0)
    assert(VersionedTable.read(spark, s"$root/shingles")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L, 20L))
    assert(VersionedTable.read(spark, s"$root/retired").count() == 0)
    // post-compact probe == an index that never held doc 10
    val clean = java.nio.file.Files.createTempDirectory("graft_bidx_ret2").toString
    BandIndex.build(spark, clean,
      Seq((11L, tB), (20L, tA)).toDF("doc_id", "text"))
    val have = BandIndex.probe(spark, root, Seq((30L, tA)).toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("corpus_doc"), r.getAs[Double]("jac"))).toSet
    val want = BandIndex.probe(spark, clean, Seq((30L, tA)).toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("corpus_doc"), r.getAs[Double]("jac"))).toSet
    assert(have == want && have.map(_._1) == Set(20L), s"have=$have want=$want")
    // pre-compact versions stay time-travelable
    assert(VersionedTable.readAsOf(spark, s"$root/shingles", shV)
      .filter($"doc_id" === 10L).count() > 0)
  }

  test("BandIndex: probe's shingle read opens ONLY the candidate partitions (IO pruning)") {
    import spark.implicits._
    import graft.operators.BandIndex
    val root = java.nio.file.Files.createTempDirectory("graft_bidx_prune").toString
    // 64 corpus docs spanning every shingle partition (doc_id 0..63 →
    // pb 0..15 all occupied), pairwise-distinct texts
    val corpus = (0L until 64L)
      .map(i => (i, s"corpus doc $i " + (1 to 12).map(k => s"w${i}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    BandIndex.build(spark, root, corpus)
    // batch doc 1000 duplicates corpus doc 5 — its only candidates
    // live in pb = 5, so verification must read exactly one of the 16
    // partition dirs
    val dup5 = corpus.filter($"doc_id" === 5L).head().getString(1)
    val pairs = BandIndex.probe(spark, root,
      Seq((1000L, dup5)).toDF("doc_id", "text"))
    assert(pairs.select("batch_doc", "corpus_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1000L, 5L)))
    val shingleParts = pairs.inputFiles.filter(_.contains("/shingles/"))
      .flatMap(_.split("/").find(_.startsWith("p=")))
      .toSet
    assert(shingleParts == Set("p=5"),
      s"probe opened shingle partitions $shingleParts, expected only p=5 of 16")
    // a candidate-less probe reads no shingle partition at all
    val none = BandIndex.probe(spark, root,
      Seq((2000L, "totally unrelated text with no shared vocabulary at all")).toDF("doc_id", "text"))
    assert(none.collect().isEmpty)
    assert(!none.inputFiles.exists(_.contains("/shingles/")))
  }

  test("GramIndex: appended postings make a doc probeable by the next batch") {
    import spark.implicits._
    import graft.operators.GramIndex
    val root = java.nio.file.Files.createTempDirectory("graft_gidx").toString
    val quote = (1 to 20).map(i => s"q$i")
    val corpusDoc = ((1 to 30).map(i => s"a$i") ++ quote).mkString(" ")
    val novelDoc = ((1 to 30).map(i => s"b$i") ++ (1 to 20).map(i => s"z$i")).mkString(" ")
    val quotingDoc = ((1 to 30).map(i => s"c$i") ++ (1 to 20).map(i => s"z$i")).mkString(" ")
    GramIndex.build(spark, root, Seq((10L, corpusDoc)).toDF("doc_id", "text"))
    // batch 1: doc 20 shares the quote with corpus doc 10 (one span,
    // exact coordinates); doc 21 is novel — append its postings
    val p1 = GramIndex.probe(spark, root,
      Seq((20L, "intro words " + quote.mkString(" ")), (21L, novelDoc)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(p1.toSeq == Seq((20L, 10L, 2L, 30L, 20L)))
    GramIndex.append(spark, root, Seq((21L, novelDoc)).toDF("doc_id", "text"))
    // batch 2: doc 30 quotes doc 21's z-run — visible only through the
    // O(batch) append, no corpus rebuild anywhere
    val p2 = GramIndex.probe(spark, root,
      Seq((30L, quotingDoc)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(p2.toSeq == Seq((30L, 21L, 20L)))
  }

  test("GramIndex: retire tombstones a doc's postings; compact folds; probe equals a never-held index") {
    import spark.implicits._
    import graft.operators.GramIndex
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_gidx_ret").toString
    val quote = (1 to 20).map(i => s"q$i")
    val docA = ((1 to 30).map(i => s"a$i") ++ quote).mkString(" ")
    val docB = ((1 to 30).map(i => s"b$i") ++ quote).mkString(" ")
    val probeDoc = "intro words " + quote.mkString(" ")
    GramIndex.build(spark, root, Seq((10L, docA), (11L, docB)).toDF("doc_id", "text"))
    assert(GramIndex.probe(spark, root, Seq((20L, probeDoc)).toDF("doc_id", "text"))
      .collect().map(_.getAs[Long]("corpus_doc")).toSet == Set(10L, 11L))
    // retire doc 10: the posting table does not move, the span is gone
    val pv = VersionedTable.currentVersion(spark, root).get
    GramIndex.retire(spark, root, Seq(10L).toDF("doc_id"))
    assert(VersionedTable.currentVersion(spark, root).contains(pv))
    assert(GramIndex.probe(spark, root, Seq((20L, probeDoc)).toDF("doc_id", "text"))
      .collect().map(_.getAs[Long]("corpus_doc")).toSet == Set(11L))
    // compact physically removes doc 10's postings and clears the list
    GramIndex.compactRetired(spark, root)
    assert(VersionedTable.read(spark, root).filter($"doc_id" === 10L).count() == 0)
    assert(VersionedTable.read(spark, s"$root/_retired").count() == 0)
    // post-compact probe == an index that never held doc 10
    val clean = java.nio.file.Files.createTempDirectory("graft_gidx_ret2").toString
    GramIndex.build(spark, clean, Seq((11L, docB)).toDF("doc_id", "text"))
    val have = GramIndex.probe(spark, root, Seq((20L, probeDoc)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = GramIndex.probe(spark, clean, Seq((20L, probeDoc)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(have == want, s"have=$have want=$want")
    // retirement churn trips the rebuild signal (1 of 2 built docs)
    GramIndex.retire(spark, root, Seq(11L).toDF("doc_id"))
    assert(GramIndex.rebuildRecommended(spark, root))
  }

  test("GramIndex: append drift surfaces a rebuild-recommended signal; build clears it") {
    import spark.implicits._
    import graft.operators.GramIndex
    val root = java.nio.file.Files.createTempDirectory("graft_gidx_meta").toString
    def doc(id: Long, tag: String) =
      (id, (1 to 24).map(i => s"$tag$i").mkString(" "))
    // built over 4 docs: no drift, no recommendation
    GramIndex.build(spark, root,
      Seq(doc(1, "a"), doc(2, "b"), doc(3, "c"), doc(4, "d")).toDF("doc_id", "text"))
    assert(!GramIndex.rebuildRecommended(spark, root))
    // one appended doc = 25% of the built corpus — at the threshold,
    // not past it
    GramIndex.append(spark, root, Seq(doc(5, "e")).toDF("doc_id", "text"))
    assert(!GramIndex.rebuildRecommended(spark, root))
    // a second append pushes drift past RebuildFraction: the cap can
    // now be stale enough that the periodic re-level is DUE
    GramIndex.append(spark, root, Seq(doc(6, "f")).toDF("doc_id", "text"))
    assert(GramIndex.rebuildRecommended(spark, root))
    // rebuilding re-levels the cap and resets the drift counter
    GramIndex.build(spark, root,
      (1L to 6L).map(i => doc(i, ('a' + i.toInt - 1).toChar.toString))
        .toDF("doc_id", "text"))
    assert(!GramIndex.rebuildRecommended(spark, root))
    // an index with NO meta (built before tracking) has unknown drift:
    // recommend conservatively instead of silently degrading
    val legacy = java.nio.file.Files.createTempDirectory("graft_gidx_leg").toString
    graft.sources.VersionedTable.commit(spark, legacy,
      Seq((1L, 0L, 42L)).toDF("doc_id", "pos", "gram"), -1L)
    assert(GramIndex.rebuildRecommended(spark, legacy))
  }

  test("Scd2: an unparseable effective timestamp is rejected loudly, never null-cast") {
    import spark.implicits._
    import graft.sources.{Scd2, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_scd2_ts").toString + "/dim"
    Scd2.mergeScd2(spark, root, Seq(("A", 1.0)).toDF("ticker", "pe"),
      Seq("ticker"), "2024-01-01 00:00:00")
    // a typo'd timestamp would cast to NULL: the monotonic require
    // passes vacuously, closed rows get valid_to=null and inserts
    // valid_from=null, and asOf returns BOTH versions of the key
    // forever — silent history corruption. It must throw instead.
    intercept[IllegalArgumentException] {
      Scd2.mergeScd2(spark, root, Seq(("A", 9.0)).toDF("ticker", "pe"),
        Seq("ticker"), "2024-02-31 99:00:00")
    }
    intercept[IllegalArgumentException] {
      Scd2.mergeScd2(spark, root, Seq(("A", 9.0)).toDF("ticker", "pe"),
        Seq("ticker"), "not a timestamp")
    }
    intercept[IllegalArgumentException] { Scd2.asOf(spark, root, "bogus") }
    // the table is untouched: one version, one open row
    assert(VersionedTable.currentVersion(spark, root).contains(0L))
    assert(Scd2.asOf(spark, root, "2024-06-01 00:00:00").count() == 1)
    // the monotonic guard is scoped to the keys a batch CLOSES: a
    // brand-new key arriving with an event time behind OTHER keys'
    // valid_from is normal cross-key skew in the streaming sink and
    // must insert, not kill the query...
    Scd2.mergeScd2(spark, root, Seq(("Z", 7.0)).toDF("ticker", "pe"),
      Seq("ticker"), "2023-12-01 00:00:00")
    assert(Scd2.asOf(spark, root, "2024-06-01 00:00:00").count() == 2)
    // ...while CHANGING an existing key behind its own valid_from
    // stays rejected (that batch would corrupt a validity range)
    intercept[IllegalArgumentException] {
      Scd2.mergeScd2(spark, root, Seq(("A", 99.0)).toDF("ticker", "pe"),
        Seq("ticker"), "2023-12-15 00:00:00")
    }
  }

  test("BandIndex.ingest on a LEGACY (unscoped) shingle store: tables advance together") {
    import spark.implicits._
    import graft.operators.BandIndex
    import graft.sources.VersionedTable
    import org.apache.spark.sql.functions._
    // a store persisted by the pre-partitioned layout: probe already
    // falls back to a full read; the WRITE side must match — the old
    // behavior committed the bands append, then hard-failed
    // appendPartitioned's partition-native require, leaving bands and
    // shingles one version out of step mid-cycle
    val root = java.nio.file.Files.createTempDirectory("graft_bidx_leg").toString
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tC = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa"
    val corpus = Seq((10L, tA)).toDF("doc_id", "text")
    // seed the index via build, then REPLACE the shingle store with a
    // legacy unscoped snapshot of the same rows (the old layout)
    BandIndex.build(spark, root, corpus)
    val legacyShingles = VersionedTable.read(spark, s"$root/shingles")
      .select(col("doc_id"), col("hs")).localCheckpoint()
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/shingles"))
    VersionedTable.commit(spark, s"$root/shingles", // UNSCOPED dirs
      legacyShingles, -1L)
    val (adm, pairs) = BandIndex.ingest(spark, root,
      Seq((20L, tA), (21L, tC)).toDF("doc_id", "text"))
    assert(adm.select("doc_id").collect().map(_.getLong(0)).toSet == Set(21L))
    assert(pairs.select("batch_doc", "corpus_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((20L, 10L)))
    // BOTH tables advanced exactly one version — no divergence window
    assert(VersionedTable.currentVersion(spark, s"$root/bands").contains(1L))
    assert(VersionedTable.currentVersion(spark, s"$root/shingles").contains(1L))
    // and the NEXT batch still sees the admitted doc through the
    // legacy store's fallback read path
    val (_, pairs2) = BandIndex.ingest(spark, root, Seq((30L, tC)).toDF("doc_id", "text"))
    assert(pairs2.select("batch_doc", "corpus_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((30L, 21L)))
  }

  test("streaming dedup ingest: each micro-batch probes, admits and appends via the band index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.BandIndex
    import graft.sources.VersionedTable
    // the arrival side of the reference's continuous ingest loop, with
    // admission control: every micro-batch probes the PERSISTED index,
    // only novel docs enter, and an admitted doc is visible to the
    // very next micro-batch — no corpus recompute anywhere (the
    // streaming twin of the two-batch BandIndex spec; ServingView
    // closes the serving side the same way)
    val root = java.nio.file.Files.createTempDirectory("graft_bidx_stream").toString
    val tA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val tB = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val tC = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec papa"
    BandIndex.build(spark, root, Seq((10L, tA)).toDF("doc_id", "text"))
    var dupLog = List.empty[(Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val (_, pairs) = BandIndex.ingest(spark, root, batch)
          dupLog = dupLog ++ pairs.select("batch_doc", "corpus_doc").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    try {
      input.addData((20L, tB)) // novel: admitted + appended
      q.processAllAvailable()
      input.addData((30L, tB), (31L, tC)) // 30 dups the doc admitted ONE batch ago
      q.processAllAvailable()
      input.addData((40L, tC)) // dups 31 from batch 2
      q.processAllAvailable()
    } finally q.stop()
    assert(dupLog.toSet == Set((30L, 20L), (40L, 31L)))
    // the index holds the seed corpus + admitted docs only — every
    // duplicate was turned away at the gate
    assert(VersionedTable.read(spark, s"$root/shingles").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(10L, 20L, 31L))
  }

  test("t14 surprisal: off-distribution docs score above corpus-typical docs") {
    import spark.implicits._
    val docs = ((1L to 8L).map(i => (i, "the cat sat on the mat")) :+
      (9L, "zqx wvu jkl pqr mno abc")).toDF("doc_id", "text")
    val out = graft.operators.TextOps.surprisal(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_nll")).toMap
    // every token of doc 9 is corpus-rare -> strictly the highest nll;
    // docs 1-8 are identical so their scores coincide
    assert(out(9L) > out(1L))
    assert((1L to 8L).map(out).distinct.size == 1)
    // ppl = exp(avg_nll) rounded from the rounded avg
    val r9 = graft.operators.TextOps.surprisal(docs).collect().find(_.getLong(0) == 9L).get
    assert(math.abs(r9.getAs[Double]("ppl") - math.exp(r9.getAs[Double]("avg_nll"))) < 0.005 + 1e-9)
  }

  test("Landing + append: replay-safe O(delta) ingest (one add-file commit per landed file)") {
    import spark.implicits._
    import graft.sources.{Landing, VersionedTable}
    val base = java.nio.file.Files.createTempDirectory("graft_landa").toString
    val landing = s"$base/landing"; val manifest = s"$base/manifest"
    val target = s"$base/tbl"
    Seq((1L, 10.0)).toDF("k", "v").write.parquet(s"$landing/a.parquet")
    Seq((2L, 20.0)).toDF("k", "v").write.parquet(s"$landing/b.parquet")
    // append-mode sink: arrivals are new keys, so each file is one
    // O(delta) add-file commit instead of a full snapshot rewrite.
    // NOTE the delivery contract (Landing class doc): a blind append is
    // NOT idempotent, so a crash between process and manifest commit
    // would double-append — whole-run REPLAY (tested here) is gated by
    // the manifest; crash-window exactly-once needs a keyed merge sink
    // (tested in the manifest-gated ingest spec above)
    def sink(df: org.apache.spark.sql.DataFrame): Unit = {
      val b = VersionedTable.currentVersion(spark, target).getOrElse(-1L)
      VersionedTable.append(spark, target, df, b)
    }
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, sink).size == 2)
    assert(VersionedTable.read(spark, target).count() == 2)
    // replay is a no-op: no new versions, no re-appended rows
    val v = VersionedTable.currentVersion(spark, target).get
    assert(Landing.ingest(spark, landing, "*.parquet", manifest, sink).isEmpty)
    assert(VersionedTable.currentVersion(spark, target).contains(v))
    // each ingest staged only its file's rows: dir count == file count
    assert(new java.io.File(s"$target/data").listFiles.count(_.isDirectory) == 2)
  }

  test("s08 quantization frontier: int8 recall dominates int4, both eval full k") {
    val rows = SparkEntry.queries("s08_quantized_recall")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("k_eval") == 5L))
    val m8 = rows.map(_.getAs[Double]("recall_int8")).sum / rows.length
    val m4 = rows.map(_.getAs[Double]("recall_int4")).sum / rows.length
    assert(m8 >= m4, s"int8 mean recall $m8 below int4 $m4")
    assert(m8 >= 0.9, s"int8 mean recall $m8 — quantizer is broken, not lossy")
    assert(m4 >= 0.4, s"int4 mean recall $m4 — 3-bit-magnitude codes collapsed")
  }

  test("s09 PQ shortlist recall lands far above the random-shortlist baseline") {
    // 64x-compressed 4-bit codes with an UNTRAINED (stride) codebook:
    // top-k agreement would be near zero, but shortlist membership —
    // the operative contract, since production PQ feeds an exact
    // re-rank — must beat random by a wide margin. Random 50-of-500
    // shortlist => expected recall 0.1; observed (deterministic
    // arithmetic) is 0.6.
    val rows = SparkEntry.queries("s09_pq_recall")(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[Long]("k_eval") == 5L))
    val mean = rows.map(_.getAs[Double]("recall_short")).sum / rows.length
    assert(mean >= 0.3, s"mean PQ shortlist recall $mean — codes carry no signal")
  }

  test("s10 IVF-PQ: residual-coded shortlist recall beats the random baseline") {
    // true IVF-PQ: codes quantize RESIDUALS from the cell centroid.
    // Cell restriction is an equi-join on cell id — structural, every
    // candidate lives in a probed cell by construction (the property
    // that IS deterministic, per round-5 ADVICE). What needs evidence
    // is that residual codes carry ranking signal: a random
    // shortlist over the probed cells' members would land well under
    // the observed recall.
    val rows = SparkEntry.queries("s10_ivfpq_recall")(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[Long]("k_eval") == 5L))
    val mean = rows.map(_.getAs[Double]("recall_short")).sum / rows.length
    assert(mean >= 0.2, s"mean IVF-PQ shortlist recall $mean — residual codes carry no signal")
  }

  test("s11 trained IVF-PQ: integer Lloyd training preserves the recall contract") {
    // The trained path re-derives the codebook with two k-means rounds
    // over integer-snapped residuals — every post-snap operation is
    // BIGINT arithmetic, which is what lets the DuckDB oracle replay
    // training bit-for-bit (the hash-match IS the determinism spec).
    // Here we pin the recall contract (same shape/bands as s10) and
    // the band vs the untrained residual variant at the SAME pinned
    // operating point — a regression guard, not an ordering invariant.
    val rows = SparkEntry.queries("s11_ivfpq_trained")(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.forall(_.getAs[Long]("k_eval") == 5L))
    val mean = rows.map(_.getAs[Double]("recall_short")).sum / rows.length
    assert(mean >= 0.2, s"mean trained IVF-PQ recall $mean — trained codes carry no signal")
    val untrained = SparkEntry.queries("s10_ivfpq_recall")(spark, sf).collect()
      .map(_.getAs[Double]("recall_short"))
    val meanU = untrained.sum / untrained.length
    assert(mean >= meanU - 0.1,
      s"training regressed recall beyond tolerance: trained $mean vs untrained $meanU")
    // the index build (train + encode) is a persist point: a second
    // query against the same corpus must probe the cached artifacts,
    // not retrain — the amortization production IVF-PQ lives on
    val builds = graft.operators.Similarity.trainedPqBuilds
    SparkEntry.queries("s11_ivfpq_trained")(spark, sf).count()
    assert(graft.operators.Similarity.trainedPqBuilds == builds,
      "repeat s11 query retrained the codebook instead of probing the cached index")
  }

  test("s17 rerank: exact re-rank of the shortlist is its optimal ordering, and the correction is live") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val k = 5
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("neighbor_id"))
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    val exact = sets(Similarity.exactL2TopK(emb, 8, k))
    val adc = sets(Similarity.pqTopK(emb, 8, k))
    val rerank = sets(SparkEntry.queries("s17_pq_rerank")(spark, sf))
    assert(rerank.keySet == exact.keySet && adc.keySet == exact.keySet)
    // SET-THEORETIC invariant (not a tolerance): the re-ranked top-k
    // contains EVERY exact-top-k member present in the R-shortlist,
    // which is the maximum any ordering of that shortlist can achieve
    // — so per-query recall can never be below the ADC ordering's.
    exact.keys.foreach { q =>
      val rr = (rerank(q) & exact(q)).size
      val ad = (adc(q) & exact(q)).size
      assert(rr >= ad, s"query $q: rerank recall $rr/$k < ADC $ad/$k")
    }
    // liveness: at sf0.001 the re-rank visibly corrects ADC's top-k
    // for at least one query (else the stage under test is dead code)
    assert(exact.keys.exists(q => rerank(q) != adc(q)),
      "re-rank never changed any query's top-k — stage is not exercised")
    // output is ordered by true distance: l2 non-decreasing in rank
    val rows = SparkEntry.queries("s17_pq_rerank")(spark, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
    rows.values.foreach { rs =>
      val byRank = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("l2"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b })
    }
  }

  test("d17 semdedup: keep-first within cells, and the cross-cell recall boundary is real") {
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("d17_semdedup")(spark, sf).collect()
    assert(rows.nonEmpty, "no within-cell near-dups at sf0.001 — threshold dead")
    // survivor rule: keeper is strictly lower id and cos above threshold
    assert(rows.forall(r => r.getAs[Long]("keeper_id") < r.getAs[Long]("vec_id")))
    assert(rows.forall(r => r.getAs[Double]("cos") >= 0.3 - 1e-9))
    // keepers are never themselves pruned BY A LOWER keeper in the same
    // output only if they had no lower near-dup — i.e. pruned set and
    // global min-id survivors are consistent: a keeper may appear as a
    // pruned vec_id only with a strictly lower keeper of its own
    val pruned = rows.map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(pruned.forall { case (v, k) => !pruned.contains(k) || pruned(k) < k })
    // the SemDeDup trade stated honestly: at least one near-dup pair
    // straddles a Voronoi boundary and is invisible to the operator
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", vec_norm(col("embedding")))
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("eb"), col("nrm").as("nb"))
    val allPairs = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("cos", vec_dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.3)
      .select(col("ia"), col("ib")).collect()
      .map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"))).toSet
    val seen = rows.map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("vec_id"))).toSet
    assert(allPairs.nonEmpty && (allPairs -- seen).nonEmpty,
      "every global near-dup pair was within-cell — the boundary honesty check is vacuous here")
  }

  test("t22 perplexity buckets: per-source terciles are balanced and ordered by perplexity") {
    val rows = SparkEntry.queries("t22_perplexity_bucket")(spark, sf).collect()
    assert(rows.nonEmpty)
    val bySrc = rows.groupBy(r => Option(r.getAs[String]("source")))
    bySrc.foreach { case (srcName, rs) =>
      val sizes = rs.groupBy(_.getAs[String]("bucket")).view.mapValues(_.length).toMap
      if (rs.length >= 3) {
        // ntile balance: bucket sizes differ by at most 1 within a source
        assert(sizes.size == 3, s"source $srcName missing a bucket: $sizes")
        assert(sizes.values.max - sizes.values.min <= 1, s"source $srcName unbalanced: $sizes")
        // ordering: head never has higher perplexity than tail
        val head = rs.filter(_.getAs[String]("bucket") == "head").map(_.getAs[Double]("ppl"))
        val tail = rs.filter(_.getAs[String]("bucket") == "tail").map(_.getAs[Double]("ppl"))
        assert(head.max <= tail.min + 1e-9,
          s"source $srcName: head max ppl ${head.max} above tail min ${tail.min}")
      }
    }
    // train slice must be absent: scored docs are held-out only
    assert(rows.forall(_.getAs[Long]("doc_id") % 7 != 0))
  }

  test("q47 rank correlation: BIGINT Spearman matches an independent recompute") {
    val row = SparkEntry.queries("q47_rank_corr")(spark, sf).collect().head
    val n = row.getAs[Long]("n")
    val sumD2 = row.getAs[Long]("sum_d2")
    val rho = row.getAs[Double]("rho")
    assert(rho >= -1.0 && rho <= 1.0)
    // chars and whitespace tokens must correlate strongly positively
    assert(rho > 0.5, s"rho $rho — length metrics decorrelated, ranks are wrong")
    // independent in-memory recompute of the permutation ranks
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "CAST(n_chars AS LONG) x",
        "CAST(size(split(trim(text), ' ')) AS LONG) y").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rx = docs.sortBy(t => (t._2, t._1)).zipWithIndex.map { case (t, i) => t._1 -> (i + 1L) }.toMap
    val ry = docs.sortBy(t => (t._3, t._1)).zipWithIndex.map { case (t, i) => t._1 -> (i + 1L) }.toMap
    val expected = docs.map(t => { val d = rx(t._1) - ry(t._1); d * d }).sum
    assert(n == docs.length && sumD2 == expected,
      s"sum_d2 $sumD2 != recomputed $expected (n=$n vs ${docs.length})")
  }

  test("m05 shard pack: store-once accounting and the byte budget hold") {
    val shards = SparkEntry.queries("m05_shard_pack")(spark, sf).collect()
    assert(shards.nonEmpty)
    // store-once: total packed chunks == distinct digests in the m04
    // manifest (duplicates become pointers, not payload)
    val m04 = SparkEntry.queries("m04_cdc_chunks")(spark, sf)
    val distinctDigests = m04.select("digest").distinct().count()
    val packedChunks = shards.map(_.getAs[Long]("n_chunks")).sum
    assert(packedChunks == distinctDigests,
      s"packed $packedChunks chunks != $distinctDigests unique digests")
    val dupes = m04.count() - distinctDigests
    assert(dupes > 0, "no shared chunks at sf0.001 — the dedup arm is untested")
    // greedy budget rule: a shard only exceeds the budget by its final
    // chunk (first prefix >= budget closes it), so shard_bytes <
    // budget + max single chunk; every non-final shard in a stream
    // reaches the budget's neighborhood (> 0 is all ntile guarantees;
    // assert non-degenerate: at least one stream packs multiple shards)
    val maxChunk = m04.agg(org.apache.spark.sql.functions.max("n_bytes")).head.getLong(0)
    assert(shards.forall(_.getAs[Long]("shard_bytes") < 4096 + maxChunk))
    assert(shards.groupBy(_.getAs[Long]("pb")).values.exists(_.length > 1),
      "every stream fit in one shard — budget not exercised")
  }

  test("d18 bloom gate: result equals exact membership, both gate arms are live, replays never slip") {
    import org.apache.spark.sql.functions._
    val admitted = SparkEntry.queries("d18_dedup_bloom_gate")(spark, sf).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // exact recompute without any bloom: admitted == batch ∖ corpus digests
    val dig = Tables.documents(spark, sf)
      .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("digest"))
    val corpus = dig.filter(col("doc_id") % 17 =!= 0)
    val batch = dig.filter(col("doc_id") % 17 === 0)
      .unionByName(corpus.filter(col("doc_id") % 13 === 0))
    val exact = batch.join(corpus.select("digest").distinct(), Seq("digest"), "left_anti")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(admitted == exact, "bloom gate changed the admitted set — semantics leak")
    // the gate's arms: rebuild the same deterministic filter and count
    val nc = corpus.count()
    val bloom = corpus.stat.bloomFilter("digest", math.max(nc, 1024L), 0.01)
    val flags = batch.collect().map { r =>
      (r.getAs[Long]("doc_id"), bloom.mightContainString(r.getAs[String]("digest")))
    }
    val replayIds = corpus.filter(col("doc_id") % 13 === 0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(flags.exists(!_._2), "definite-new arm dead: bloom flagged every batch row")
    assert(flags.exists(_._2), "confirm arm dead: bloom flagged nothing")
    // no false negative: every replayed corpus doc MUST be flagged
    assert(flags.filter(f => replayIds.contains(f._1)).forall(_._2),
      "a replayed (seen) digest passed the bloom as definitely-new")
    // and no replay was admitted
    assert(admitted.intersect(replayIds).isEmpty)
  }

  test("t16 domain mixture: sqrt damping flattens shares toward the tail domains") {
    // Temperature sampling theorems (alpha < 1), data-independent as
    // long as domains differ in token mass: weights sum to 1; the
    // weight/raw_share ratio is strictly decreasing in tokens, so the
    // largest domain is downsampled (epochs < 1 impossible to assert
    // only if all domains equal) and the smallest upsampled relative
    // to it; epochs is monotone non-increasing in token mass.
    val rows = SparkEntry.queries("t16_domain_mixture")(spark, sf).collect()
      .sortBy(_.getAs[Long]("tokens"))
    assert(rows.length >= 2)
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wsum - 1.0) < 1e-3, s"weights sum to $wsum")
    val ssum = rows.map(_.getAs[Double]("raw_share")).sum
    assert(math.abs(ssum - 1.0) < 1e-3, s"raw shares sum to $ssum")
    // epochs non-increasing as token mass grows; smallest domain is
    // upsampled at least as much as the largest
    rows.map(_.getAs[Double]("epochs")).sliding(2).foreach { case Array(a, b) =>
      assert(a >= b - 1e-9, s"epochs not monotone in token mass: $a then $b")
    }
    if (rows.head.getAs[Long]("tokens") < rows.last.getAs[Long]("tokens")) {
      assert(rows.head.getAs[Double]("epochs") > rows.last.getAs[Double]("epochs"),
        "sqrt damping failed to upsample the smallest domain relative to the largest")
    }
  }

  test("m04 CDC chunking: boundaries re-sync after a prefix edit; fixed framing loses all alignment") {
    import spark.implicits._
    // aperiodic but deterministic 240-char payload
    val base = (1 to 240).map(i => ('a' + ((i * i * 31 + i * 7) % 26)).toChar).mkString
    val docs = Seq((1L, base), (2L, "X" + base)).toDF("doc_id", "text")
    val ch = graft.operators.Multimodal.cdcChunks(docs).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(1)).map(_.getAs[String]("digest")).toSeq).toMap
    // content-defined boundaries depend only on the local window, so
    // the boundary set shifts uniformly with the edit and every chunk
    // AFTER the first re-aligns digest-for-digest
    assert(ch(1L).size == ch(2L).size)
    assert(ch(1L).head != ch(2L).head) // the edited head chunk changed
    assert(ch(1L).tail == ch(2L).tail,
      "chunks after the edit failed to re-sync digest-for-digest")
    // the fixed-frame path (m03) loses every frame on the same edit
    val fr = graft.operators.Multimodal.frameSampleSummary(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getAs[String]("frame_digest")).toSet).toMap
    assert(fr(1L).intersect(fr(2L)).isEmpty)
  }

  test("d13 containment finds subset-dups the symmetric Jaccard gate structurally misses") {
    val d13 = SparkEntry.queries("d13_dedup_containment")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        math.max(r.getAs[Double]("contain_ab"), r.getAs[Double]("contain_ba"))).toMap
    val d02 = SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jac")).toMap
    assert(d13.nonEmpty)
    // containment >= Jaccard on any shared pair (set identity)
    d13.foreach { case (k, c) =>
      d02.get(k).foreach(j => assert(c >= j - 1e-9, s"pair $k contain $c < jac $j")) }
    // and the point of the operator: pairs the jac >= 0.3 gate never saw
    assert((d13.keySet -- d02.keySet).nonEmpty,
      "containment surfaced no subset-dup beyond the symmetric gate")
  }

  test("d14 dup-spans pins exact coordinates of a verbatim quote the document-level gate never sees") {
    import spark.implicits._
    val quote = (1 to 20).map(i => s"q$i")
    val short = (1 to 10).map(i => s"c$i") // 10 < minTokens: must be suppressed
    val fillA = (1 to 60).map(i => s"a$i")
    val fillB = (1 to 60).map(i => s"b$i")
    val textA = (fillA.take(10) ++ quote ++ fillA.slice(10, 40) ++ short ++ fillA.drop(40)).mkString(" ")
    val textB = (fillB.take(35) ++ quote ++ fillB.slice(35, 50) ++ short ++ fillB.drop(50)).mkString(" ")
    val docs = Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
    val spans = graft.operators.Dedup.dupSpans(docs).collect()
    // exactly the 20-token quote, at its exact token coordinates in
    // EACH document — the sub-threshold 10-token run is filtered, and
    // boundary grams (straddling fill|quote) differ between docs so
    // the span is tight, not inflated
    assert(spans.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      == Seq((1L, 2L, 10L, 35L, 20L)))
    // and the pair is invisible to document-level similarity: 20 shared
    // tokens in ~90-token documents sits far below the d02 gate
    assert(graft.operators.Dedup.minhashLsh(docs).collect().isEmpty,
      "quote pair unexpectedly visible to the document-level Jaccard gate")
  }

  test("d21 scrub removes the later occurrence, keeps the earliest, merges overlapping intervals") {
    import spark.implicits._
    val quote = (1 to 20).map(i => s"q$i")
    val fillA = (1 to 60).map(i => s"a$i")
    val fillB = (1 to 60).map(i => s"b$i")
    val textA = (fillA.take(10) ++ quote ++ fillA.drop(10)).mkString(" ")
    val textB = (fillB.take(35) ++ quote ++ fillB.drop(35)).mkString(" ")
    val textC = "z1 z2 " + quote.mkString(" ") + " z3 z4"
    val docs = Seq((1L, textA), (2L, textB), (3L, textC)).toDF("doc_id", "text")
    val out = graft.operators.Dedup.spanScrub(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1 holds the earliest occurrence in both of its pairs — untouched
    assert(out(1L).getAs[Long]("toks_removed") == 0L)
    assert(out(1L).getAs[String]("text_scrubbed") == textA)
    // doc 2: exactly the 20-token quote excised at [35, 55)
    assert(out(2L).getAs[Long]("n_spans") == 1L)
    assert(out(2L).getAs[Long]("toks_removed") == 20L)
    assert(out(2L).getAs[String]("text_scrubbed") == fillB.mkString(" "))
    // doc 3: pairs (1,3) AND (2,3) schedule the SAME range — the
    // interval union merges them into one island, counted once
    assert(out(3L).getAs[Long]("n_spans") == 1L)
    assert(out(3L).getAs[Long]("toks_removed") == 20L)
    assert(out(3L).getAs[String]("text_scrubbed") == "z1 z2 z3 z4")
  }

  test("d21 corpus invariants: token conservation, both arms live, scrub set == d14's doc_b set") {
    val rows = SparkEntry.queries("d21_span_scrub")(spark, sf).collect()
    assert(rows.length.toLong == Tables.documents(spark, sf).count())
    // removed + kept == original, for every document (the union never
    // double-counts overlapping spans; reconstruction drops exactly
    // the scheduled tokens)
    rows.foreach { r =>
      val nt = r.getAs[Long]("n_tokens"); val tr = r.getAs[Long]("toks_removed")
      val ts = r.getAs[String]("text_scrubbed")
      val kept = if (ts.isEmpty) 0L else ts.split(" ", -1).length.toLong
      assert(kept == nt - tr, s"doc ${r.getLong(0)}: kept $kept != $nt - $tr")
    }
    // both arms live on the real corpus: some docs scrubbed, some not
    assert(rows.exists(_.getAs[Long]("toks_removed") > 0), "no doc was scrubbed")
    assert(rows.exists(_.getAs[Long]("toks_removed") == 0), "every doc was scrubbed")
    // exactly the docs appearing as the LATER side of a detected span
    // pair get rewritten — keep-earliest, applied corpus-wide
    val scrubbed = rows.filter(_.getAs[Long]("n_spans") > 0).map(_.getLong(0)).toSet
    val d14b = SparkEntry.queries("d14_dup_spans")(spark, sf).collect()
      .map(_.getAs[Long]("doc_b")).toSet
    assert(scrubbed == d14b)
  }

  test("s20 knn-join covers the corpus; its restriction to the s05 query set IS the s05 result") {
    val s20 = SparkEntry.queries("s20_knn_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byVec = s20.groupBy(_._1)
    // every vector gets neighbors (every probed cell has company at
    // this corpus), at most k each, ranks dense from 1
    assert(byVec.size.toLong == Tables.embeddings(spark, sf).count())
    byVec.foreach { case (v, es) =>
      assert(es.length <= 3, s"vec $v has ${es.length} > k edges")
      assert(es.map(_._3).sorted.toSeq == (1L to es.length).toSeq, s"vec $v ranks not dense")
    }
    // the graph is s05's search with the query side widened to the
    // corpus — restricting it back must reproduce s05 exactly
    val s05 = SparkEntry.queries("s05_ann_ivf_multiprobe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(s20.filter(_._1 < 8).toSet == s05)
  }

  test("s21 k-center seeding: ranks dense, radii non-increasing, and the whole greedy replays in-process") {
    val out = SparkEntry.queries("s21_kcenter_seed")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == (1L to 8L))
    assert(out.map(_._2).distinct.length == 8, "a center was selected twice")
    // farthest-first invariant: each selection distance is <= the one
    // before it (the k-vs-cover-radius curve is non-increasing)
    out.sliding(2).drop(1).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 + 1e-12, s"radius grew: $a -> $b") }
    // full in-process twin of the greedy, same fold order as vec_dot
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def d2(a: Array[Float], b: Array[Float]): Double =
      (dot(a, a) + dot(b, b)) - (2.0 * dot(a, b))
    var md = vecs.map { case (id, v) => (id, v, d2(v, vecs.head._2)) }
    val picks = scala.collection.mutable.ArrayBuffer[Long](vecs.head._1)
    for (_ <- 2 to 8) {
      val best = md.maxBy { case (id, _, m) => (m, -id) }
      picks += best._1
      md = md.map { case (id, v, m) => (id, v, math.min(m, d2(v, best._2))) }
    }
    assert(out.map(_._2).toSeq == picks.toSeq,
      "Spark selection order diverges from the in-process greedy")
  }

  test("s22 pagerank: the exact integer recursion replays in-process; ranks dense; mass bounded") {
    val out = SparkEntry.queries("s22_knn_pagerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length.toLong == n)
    assert(out.map(_._3).sorted.toSeq == (1L to n))
    // rank order is exactly (pr desc, vec_id asc)
    out.sortBy(_._3).sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1), s"rank order broken: $a before $b")
    case _ => () }
    // floor divisions only ever LOSE mass, and only crumbs of it
    val mass = out.map(_._2).sum
    assert(mass <= 1000000000000L, "mass was created from nothing")
    assert(mass > 999000000000L, s"mass leak beyond floor crumbs: $mass")
    // full in-process twin of the integer recursion over the s20 edges
    val edges = SparkEntry.queries("s20_knn_join")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val odeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val ids = out.map(_._1)
    val s0 = 1000000000000L / n
    var pr = ids.map(_ -> s0).toMap
    for (_ <- 1 to 5) {
      val m = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (s, d) => m(d) += pr(s) / odeg(s) }
      pr = ids.map(id => id -> ((15L * s0) / 100L + (85L * m(id)) / 100L)).toMap
    }
    out.foreach { case (id, p, _) =>
      assert(pr(id) == p, s"vec $id: engine $p != twin ${pr(id)}") }
  }

  test("m14 phash: census consistent; double-size render hashes IDENTICAL (scale invariance); corrupt degrades") {
    import spark.implicits._
    val rows = SparkEntry.queries("m14_image_phash")(spark, sf).collect()
    assert(rows.length.toLong == Tables.documents(spark, sf).count())
    val byBucket = rows.groupBy(r => (r.getLong(2), r.getLong(3)))
    assert(byBucket.size > 1, "hash space collapsed to one bucket")
    byBucket.foreach { case (_, rs) =>
      val minId = rs.map(_.getLong(0)).min
      assert(rs.forall(_.getLong(4) == minId), "keeper is not the bucket min")
      assert(rs.forall(_.getLong(5) == rs.length.toLong), "bucket size wrong")
    }
    // the PERCEPTUAL property: doc 2's image rendered at DOUBLE size
    // (splits double with it) hashes bit-identically — the floor
    // mapping gives (x·2w)//8 < 2s ⟺ x·w < 8s ⟺ (x·w)//8 < s — while
    // the PNG bytes are completely different (d06's sha-256 would
    // split them into two "documents"); that gap is what a perceptual
    // key buys
    val m = graft.operators.Multimodal
    val origPng = m.renderQuadPng(Seq(2L).toDF("doc_id"))
      .collect().head.getAs[Array[Byte]]("png")
    val (w, h) = (10, 10) // imgW(2), imgH(2)
    val img = new java.awt.image.BufferedImage(
      2 * w, 2 * h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val cols = Seq((10, 14, 26), (6, 22, 34), (38, 46, 58), (74, 82, 86))
    for (y <- 0 until 2 * h; x <- 0 until 2 * w) {
      val q = (if (y < h) 0 else 2) + (if (x < w) 0 else 1)
      val (r, g, b) = cols(q)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val big = bos.toByteArray
    assert(!java.util.Arrays.equals(big, origPng), "test images share bytes")
    val hashes = m.phashFeatures(
      Seq((2L, origPng), (200L, big)).toDF("doc_id", "png")).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2), r.getLong(3))).toMap
    assert(hashes(2L)._1 && hashes(200L)._1)
    assert(hashes(2L)._2 == hashes(200L)._2 && hashes(2L)._3 == hashes(200L)._3,
      s"double-size render changed the perceptual hash: ${hashes}")
    // corrupt payload is data, not a dead executor
    val bad = m.phashFeatures(
      Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "png")).collect().head
    assert(!bad.getBoolean(1) && bad.getLong(2) == 0L && bad.getLong(3) == 0L)
  }

  test("q52 kmv set algebra: sub-k pairs exact, saturated pairs within sketch error, invariants hold") {
    val rows = SparkEntry.queries("q52_kmv_set_ops")(spark, sf).collect()
    val nTypes = Tables.events(spark, sf).select("event_type").distinct().count()
    assert(rows.length.toLong == nTypes * (nTypes - 1) / 2)
    rows.foreach { r =>
      val eu = r.getAs[Long]("exact_union"); val ei = r.getAs[Long]("exact_inter")
      val nm = r.getAs[Long]("n_merged"); val ue = r.getAs[Long]("union_est")
      val mt = r.getAs[Long]("matches"); val ie = r.getAs[Long]("inter_est")
      val j = r.getAs[Double]("jac_est")
      assert(nm <= 64 && mt <= nm && ie <= ue)
      assert(j >= 0.0 && j <= 1.0)
      // below k the merged sketch IS the whole union — algebra exact
      if (nm < 64) { assert(ue == eu, s"sub-k union $ue != $eu")
                     assert(ie == ei, s"sub-k inter $ie != $ei") }
      else { assert(math.abs(ue - eu).toDouble / eu <= 0.5)
             assert(math.abs(ie - ei).toDouble / math.max(ei, 1L) <= 0.5) }
    }
    // saturated arm, constructed: 225 users across two types with a
    // 75-user overlap — the merged sketch truncates at k=64 and the
    // estimators must land within the KMV error envelope (3/sqrt(k))
    import spark.implicits._
    val ev = ((0 until 150).map(u => ("a", u.toLong))
      ++ (75 until 225).map(u => ("b", u.toLong))).toDF("event_type", "user_id")
    val s = graft.operators.Relational.kmvSetOps(ev).collect().head
    assert(s.getAs[Long]("n_merged") == 64L, "constructed pair did not saturate")
    assert(math.abs(s.getAs[Long]("union_est") - 225L).toDouble / 225.0 <= 0.375)
    assert(math.abs(s.getAs[Long]("inter_est") - 75L).toDouble / 75.0 <= 0.75)
  }

  test("t29 zipf: an exact power-law corpus fits slope -2 / C 1296; real sources are head-heavy") {
    import spark.implicits._
    // counts 1296/r^2 are INTEGER for ranks 1..4 (1296, 324, 144, 81),
    // so the log-log points are exactly collinear: OLS must recover
    // slope -2 and C = 1296 to rounding
    val text = (1 to 4).flatMap(r => Seq.fill(1296 / (r * r))(s"tk$r")).mkString(" ")
    val docs = Seq((1L, text, "en", "s1", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = graft.operators.TextOps.zipfSlope(docs).collect().head
    assert(f.getAs[Long]("n_ranks") == 4L)
    assert(f.getAs[Double]("slope") == -2.0, s"slope ${f.getAs[Double]("slope")}")
    assert(math.abs(f.getAs[Double]("c") - 1296.0) < 0.01)
    // the real corpus: every source's head is heavier than flat, and
    // the fit uses min(topR, vocab) ranks
    val rows = SparkEntry.queries("t29_zipf_slope")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("slope") < 0.0, s"flat source: $r")
      assert(r.getAs[Long]("n_ranks") == math.min(32L, r.getAs[Long]("vocab"))) }
  }

  test("d12 incremental probe equals the full-corpus edge set restricted to batch-corpus pairs") {
    // the index-probe path must find EXACTLY the d02 pairs with one
    // batch member — losing any would mean incremental ingest admits
    // duplicates the batch-mode pipeline would have caught
    val d12 = SparkEntry.queries("d12_dedup_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cross = SparkEntry.queries("d02_dedup_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a % 17 == 0) != (b % 17 == 0) }
      .map { case (a, b, j) => if (a % 17 == 0) (a, b, j) else (b, a, j) }.toSet
    assert(d12.nonEmpty)
    assert(d12 == cross)
  }

  test("d09 deletion-neighborhood blocking finds mid-string ED-1 pairs prefix blocking missed") {
    import spark.implicits._
    // ACME/ACNE differ at position 3: round 3's "all but the last
    // char" prefix blocking never let them meet; the deletion
    // neighborhood must (both deletion-at-3 variants are "ACE CORP")
    val c = Seq((1L, "ACME CORP"), (2L, "ACNE CORP"), (3L, "ZETA LLC"))
      .toDF("c_custkey", "c_name")
    val out = graft.operators.Dedup.fuzzyKeys(c).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("c_custkey") == 1L)
    assert(out.head.getAs[Long]("first_match") == 2L)
    assert(out.head.getAs[Long]("n_fuzzy") == 1L)
  }

  test("d09 positional classification: inserts match, deletes match, shared-variant ED-2 rejected") {
    import spark.implicits._
    // 1-2: pure insert (i=0 side);  1-3: equal keys (i=j=0);
    // 4-5: "ABC"/"BCA" share deletion variant "BC" at DIFFERENT
    // positions (i=1 vs j=3) but are ED 2 — the i≠j>0 rejection is
    // what keeps the no-levenshtein path exact
    val c = Seq((1L, "ACME"), (2L, "ACMES"), (3L, "acme "),
                (4L, "ABC CO"), (5L, "BCA CO"))
      .toDF("c_custkey", "c_name")
    val out = graft.operators.Dedup.fuzzyKeys(c).collect()
      .map(r => r.getAs[Long]("c_custkey") ->
        (r.getAs[Long]("n_fuzzy"), r.getAs[Long]("first_match"))).toMap
    assert(out == Map(1L -> (2L, 2L), 2L -> (1L, 3L)))
  }

  test("ANN sizing: derived planes/centroids keep bucket occupancy bounded at every SF") {
    // the sub-quadratic evidence for s02/s03/d05 at scale: with planes
    // = planesFor(n) the EXPECTED occupancy is <= the 64-doc target
    // (avg asserts it) and even the worst clustered bucket stays
    // within 8x target (probed: max 80/76/171 across the three SFs;
    // the largest bucket plateaus because near-identical vectors share
    // every sign bit). IVF with sqrt(n) stride centroids is balanced
    // to ~1.4x the mean cell (probed max 31/34/59).
    import graft.operators.Similarity
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")) {
      val e = Tables.embeddings(spark, dir)
      val n = e.count()
      val p = Similarity.planesFor(n)
      val b = Similarity.bucketCensus(e, p).head
      assert(b.getAs[Double]("avg_occ") <= 64.0 + 1e-9, s"$dir avg=${b}")
      assert(b.getAs[Long]("max_occ") <= 8 * 64, s"$dir max=${b}")
      val cents = Similarity.centroidIdsFor(n)
      val c = Similarity.cellCensus(e, cents).head
      assert(c.getAs[Long]("max_occ") <= 3L * n / cents.size, s"$dir cells=$c")
    }
    // the index must GROW with the corpus — the property the fixed
    // round-3 constant lacked
    assert(Similarity.planesFor(2000) > Similarity.planesFor(500))
    assert(Similarity.planesFor(1L << 30) == 24)
    assert(Similarity.centroidIdsFor(1000000).size == 1000)
  }

  test("centroidIdsRanked: sparse id domains keep every centroid slot LIVE where the affine formula loses them") {
    import spark.implicits._
    import graft.operators.Similarity
    // a gapped id space (the 10× key-shifted corpus shape: ids live
    // in islands separated by decades): the affine pick i·n/k lands
    // mostly on ABSENT ids; the ranked pick selects existing vectors
    // by construction, so effective K — and with it the N²/K
    // candidate bound — survives the id-space shape
    val ids = (0L until 250L) ++ (100000L until 100750L)
    val embs = ids.map { i =>
      val e = new Array[Float](4)
      e((i % 4).toInt) = 1f + (i % 31) * 0.01f
      e(((i + 1) % 4).toInt) = 0.5f + (i % 17) * 0.01f
      (i, e, "l")
    }.toDF("vec_id", "embedding", "label")
    val present = ids.toSet
    val affine = Similarity.centroidIdsFor(1000)
    val ranked = Similarity.centroidIdsRanked(embs)
    assert(ranked.size == affine.size) // same K ~ sqrt(n) sizing
    assert(ranked.forall(present), "ranked pick selected a nonexistent id")
    assert(ranked.toSet.size == ranked.size, "ranked pick has duplicates")
    // the failure mode being guarded: most affine picks don't exist
    assert(affine.count(present) < affine.size / 2,
      s"test corpus no longer sparse enough to exercise the guard: $affine")
    // both islands are represented — the pick spans the domain
    assert(ranked.exists(_ < 250L) && ranked.exists(_ >= 100000L))
  }

  test("t12 pii scrub: all masks fire and no residual digits survive") {
    val rows = SparkEntry.queries("t12_pii_scrub")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L)
      assert(r.getAs[Long]("n_phones") == 1L)
      val s = r.getAs[String]("scrubbed")
      assert(!s.exists(_.isDigit), s"digits survived scrub: $s")
      assert(s.contains("[EMAIL]") && s.contains("[PHONE]") && s.contains("[NUM]"))
    }
  }

  test("t17 mixture materialize: epoch-expansion theorems hold") {
    val rows = SparkEntry.queries("t17_mixture_materialize")(spark, sf).collect()
    // Bernoulli rounding bounds: every source emits between
    // n_docs*floor(e) and n_docs*ceil(e) documents
    rows.foreach { r =>
      val te = r.getAs[Double]("target_epochs")
      val nd = r.getAs[Long]("n_docs"); val nOut = r.getAs[Long]("n_out")
      assert(nOut >= nd * math.floor(te).toLong,
        s"${r.getAs[String]("source")}: n_out $nOut below floor bound")
      assert(nOut <= nd * math.ceil(te).toLong,
        s"${r.getAs[String]("source")}: n_out $nOut above ceil bound")
    }
    // realized token shares partition the materialized corpus
    val shares = rows.map(_.getAs[Double]("realized_share")).sum
    assert(math.abs(shares - 1.0) < 1e-3, s"realized shares sum to $shares")
    // sqrt damping upsamples the smallest domain RELATIVE to the
    // largest (the whole point of temperature sampling)
    val byTok = rows.sortBy(_.getAs[Long]("tokens_in"))
    assert(byTok.head.getAs[Double]("target_epochs") >=
           byTok.last.getAs[Double]("target_epochs"))
    // an upsampled (epochs >= 1) source keeps every document at least once
    rows.filter(_.getAs[Double]("target_epochs") >= 1.0).foreach { r =>
      assert(r.getAs[Long]("n_out") >= r.getAs[Long]("n_docs"))
    }
    // both regimes are live on this corpus, or the bounds above are vacuous
    assert(rows.exists(_.getAs[Double]("target_epochs") < 1.0))
    assert(rows.exists(_.getAs[Double]("target_epochs") > 1.0))
  }

  test("t18 bigram surprisal: held-out scoring with a live backoff path") {
    val rows = SparkEntry.queries("t18_bigram_surprisal")(spark, sf).collect()
    // the train slice is never scored (scoring it would be resubstitution)
    assert(rows.forall(_.getAs[Long]("doc_id") % 7 != 0))
    assert(rows.forall(r =>
      r.getAs[Long]("oov_bigrams") <= r.getAs[Long]("n_bigrams")))
    assert(rows.forall(_.getAs[Double]("avg_nll") > 0.0))
    // stupid backoff actually fires on this corpus — without unseen
    // bigrams the CASE chain's backoff arms are untested dead code
    assert(rows.exists(_.getAs[Long]("oov_bigrams") > 0L),
      "no held-out bigram was unseen in training; backoff path untested")
    // ppl is exp(avg_nll) under the shared multiply-round convention
    rows.foreach { r =>
      val expect = math.round(math.exp(r.getAs[Double]("avg_nll")) * 100) / 100.0
      assert(math.abs(r.getAs[Double]("ppl") - expect) < 1e-9)
    }
  }

  test("VecIndex: closed ingest loop — a probed batch sees the previous batch's vectors") {
    import spark.implicits._
    import graft.operators.VecIndex
    import graft.sources.VersionedTable
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val root = java.nio.file.Files.createTempDirectory("graft_vidx").toString
    val corpus = Seq(
      (100L, v(1, 0, 0, 0)), (101L, v(0, 1, 0, 0)),
      (1L, v(0.9, 0.1, 0, 0)), (2L, v(0.1, 0.9, 0, 0)))
      .toDF("vec_id", "embedding")
    VecIndex.build(spark, root, corpus, centIds = Seq(100L, 101L))
    // batch 1 lands in cell 100; its neighbors are exactly that cell's
    // corpus vectors, nearest first
    val p1 = VecIndex.probe(spark, root,
      Seq((200L, v(0.95, 0.05, 0, 0))).toDF("vec_id", "embedding"), k = 2, nProbe = 1)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    assert(p1.toSet == Set((1L, 100L), (2L, 1L)), s"got ${p1.toSeq}")
    VecIndex.ingest(spark, root,
      Seq((200L, v(0.95, 0.05, 0, 0))).toDF("vec_id", "embedding"))
    // batch 2 points exactly along batch 1's vector: rank-1 must be the
    // vector ingested one batch ago — visible through the O(batch)
    // append, no corpus recompute anywhere
    val p2 = VecIndex.probe(spark, root,
      Seq((300L, v(0.19, 0.01, 0, 0))).toDF("vec_id", "embedding"), k = 1, nProbe = 1)
      .collect().map(r => r.getAs[Long]("neighbor_id"))
    assert(p2.toSeq == Seq(200L), s"got ${p2.toSeq}")
    // the ingest was ONE add-file commit on the vectors table
    assert(VersionedTable.currentVersion(spark, s"$root/vectors").contains(1L))
    assert(VersionedTable.currentVersion(spark, s"$root/centroids").contains(0L))
  }

  test("VecIndex: probe opens ONLY the probed cells' partition dirs (IO pruning)") {
    import spark.implicits._
    import graft.operators.VecIndex
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val root = java.nio.file.Files.createTempDirectory("graft_vidx_prune").toString
    val corpus = Seq(
      (100L, v(1, 0, 0, 0)), (101L, v(0, 1, 0, 0)),
      (1L, v(0.9, 0.1, 0, 0)), (2L, v(0.1, 0.9, 0, 0)))
      .toDF("vec_id", "embedding")
    VecIndex.build(spark, root, corpus, centIds = Seq(100L, 101L))
    // a query near centroid 101 with nProbe=1 probes exactly one cell:
    // the inverted-list read must open one of the two partition dirs
    val res = VecIndex.probe(spark, root,
      Seq((400L, v(0.05, 0.95, 0, 0))).toDF("vec_id", "embedding"), k = 2, nProbe = 1)
    assert(res.collect().map(_.getAs[Long]("neighbor_id")).toSet == Set(101L, 2L))
    val cellDirs = res.inputFiles.filter(_.contains("/vectors/"))
      .flatMap(_.split("/").find(_.startsWith("p=")))
      .toSet
    assert(cellDirs == Set("p=101"),
      s"probe opened cell partitions $cellDirs, expected only p=101")
  }

  test("partition staging is ONE write wave, not a job per partition value") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_wave").toString + "/t"
    // 24 partition values: the per-value staging this replaced would
    // launch >=24 write jobs; the wave path launches a small constant
    // (the partitionBy write; values, emptiness and the null check
    // come from the staged dir listing)
    val df = (0 until 240).map(i => (i.toLong, s"p${i % 24}", i * 1.0))
      .toDF("k", "part", "v")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      VersionedTable.commitPartitioned(spark, root, df, "part", -1L)
      Thread.sleep(500) // let queued listener events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    val jobs = counter.get()
    assert(jobs <= 8,
      s"commitPartitioned of 24 partitions launched $jobs jobs — the one-wave staging regressed")
    // and the result is a correct partition-native table
    assert(VersionedTable.entriesOf(spark, root, 0L).size == 24)
    assert(VersionedTable.readPartition(spark, root, "p3").count() == 10)
    assert(VersionedTable.read(spark, root).count() == 240)
  }

  /** Parquet files in the dirs version `v` publishes that `base` did
    * not: what one partition-native write staged, by partition value. */
  private def stagedFiles(root: String, v: Long, base: Long): Map[String, Int] = {
    import graft.sources.VersionedTable
    val old = if (base < 0) Set.empty[String] else VersionedTable.dirsOf(spark, root, base).toSet
    VersionedTable.entriesOf(spark, root, v).filterNot(e => old(e.rel)).map { e =>
      java.net.URLDecoder.decode(e.part.get, "UTF-8") ->
        new java.io.File(s"$root/${e.rel}").listFiles().count(_.getName.endsWith(".parquet"))
    }.toMap
  }

  /** Spark jobs launched and shuffle bytes written while `body` ran. */
  private def sparkWork(body: => Unit): (Int, Long) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Option(s.stageInfo.taskMetrics).foreach { m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(500) } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get(), shuffled.get())
  }

  private def jobsDuring(body: => Unit): Int = sparkWork(body)._1

  /** `body` with AQE's advisory partition size set to `size`. */
  private def withAdvisory[T](size: String)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, size)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("partition staging writes ONE file per touched value, whatever the input's task count") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_1file").toString + "/t"
    // 4 input tasks, each holding all 6 values: an unclustered
    // partitionBy write would stage up to 24 files
    def batch(lo: Int, n: Int) =
      (lo until lo + n).map(i => (i.toLong, s"v${i % 6}", i * 1.0)).toDF("k", "part", "x")
        .repartition(4)
    val v0 = VersionedTable.appendPartitioned(spark, root, batch(0, 240), "part", -1L)
    assert(stagedFiles(root, v0, -1L) == (0 until 6).map(i => s"v$i" -> 1).toMap)
    val v1 = VersionedTable.appendPartitioned(spark, root, batch(240, 240), "part", v0)
    assert(stagedFiles(root, v1, v0) == (0 until 6).map(i => s"v$i" -> 1).toMap)
    // a merge touching 3 values restages those 3, one file each
    val upd = (0 until 120).map(i => (i.toLong * 2, s"v${(i * 2) % 6}", -1.0)).toDF("k", "part", "x")
      .repartition(4)
    val v2 = VersionedTable.mergePartitioned(spark, root, upd, Seq("k"), "part")
    assert(stagedFiles(root, v2, v1) == Seq("v0", "v2", "v4").map(_ -> 1).toMap)
    // compaction folds the 3 still-fragmented chains, one file each
    val v3 = VersionedTable.compactPartitioned(spark, root)
    assert(stagedFiles(root, v3, v2) == Seq("v1", "v3", "v5").map(_ -> 1).toMap)
    val rows = VersionedTable.read(spark, root).as[(Long, String, Double)].collect()
    assert(rows.length == 480 && rows.map(_._1).distinct.length == 480)
    assert(rows.filter(_._3 == -1.0).map(_._1).toSet == (0 until 120).map(_ * 2L).toSet)
  }

  test("a batch estimated above the advisory partition size stages as it comes, with no added job") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_big").toString
    // 4 input tasks, each holding all 6 values, ~105 KB by the
    // optimizer's estimate
    val df = (0 until 2400).map(i => (i.toLong, s"v${i % 6}", i * 1.0)).toDF("k", "part", "x")
      .repartition(4)
    val small = jobsDuring(VersionedTable.commitPartitioned(spark, s"$root/a", df, "part", -1L))
    val big = withAdvisory("64k")(
      jobsDuring(VersionedTable.commitPartitioned(spark, s"$root/b", df, "part", -1L)))
    assert(big == small, s"$big jobs above the advisory size, $small under it: " +
      "staging a large batch must add no exchange")
    assert(stagedFiles(s"$root/a", 0L, -1L) == (0 until 6).map(i => s"v$i" -> 1).toMap)
    // above it, each input task writes its own file per value
    assert(stagedFiles(s"$root/b", 0L, -1L) == (0 until 6).map(i => s"v$i" -> 4).toMap)
    for (t <- Seq("a", "b"))
      assert(VersionedTable.read(spark, s"$root/$t").as[(Long, String, Double)].collect().toSet ==
        (0 until 2400).map(i => (i.toLong, s"v${i % 6}", i * 1.0)).toSet, t)
  }

  test("partition values that need escaping stage through the one path, one file each") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_esc").toString + "/t"
    val values = Seq("a b", "c%d", "x/y", "plain", "__HIVE_DEFAULT_PARTITION__")
    val df = (0 until 100).map(i => (i.toLong, values(i % values.size))).toDF("id", "pv")
      .repartition(4)
    val v = VersionedTable.commitPartitioned(spark, root, df, "pv", -1L)
    assert(stagedFiles(root, v, -1L) == values.map(_ -> 1).toMap)
    values.foreach { pv =>
      val got = VersionedTable.readPartition(spark, root, pv).as[(Long, String)].collect()
      assert(got.map(_._1).toSet == (0 until 100).filter(i => values(i % values.size) == pv)
        .map(_.toLong).toSet && got.forall(_._2 == pv), s"partition '$pv' read back wrong")
    }
    assert(VersionedTable.read(spark, root).count() == 100)
  }

  test("mergePartitioned of a small batch launches exactly 1 job") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_mjobs").toString + "/t"
    VersionedTable.commitPartitioned(spark, root,
      (0 until 200).map(i => (i.toLong, s"p${i % 8}", 0.0)).toDF("k", "part", "x"), "part", -1L)
    val batch = (0 until 40).map(i => (i.toLong * 5, s"p${(i * 5) % 8}", 1.0)).toDF("k", "part", "x")
    // a driver-local batch needs no checkpoint and its touched values
    // collect on the driver; the union of the touched slice and the
    // batch is under the advisory size, so the merge's window runs in
    // the one staging task with no exchange: the write is the only job
    val (jobs, shuffled) =
      sparkWork(VersionedTable.mergePartitioned(spark, root, batch, Seq("k"), "part"))
    assert(jobs == 1, s"mergePartitioned of a 40-row batch launched $jobs jobs")
    assert(shuffled == 0L, s"mergePartitioned of a 40-row batch shuffled $shuffled bytes")
    assert(VersionedTable.read(spark, root).filter($"x" === 1.0).count() == 40)
    assert(VersionedTable.read(spark, root).count() == 200)
  }

  test("merge of a small batch launches exactly 1 job") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_mjobs1").toString + "/t"
    VersionedTable.commit(spark, root,
      (0 until 200).map(i => (i.toLong, 0.0)).toDF("k", "x"), -1L)
    val batch = (0 until 40).map(i => (i.toLong * 10, 1.0)).toDF("k", "x")
    val (jobs, shuffled) = sparkWork(VersionedTable.merge(spark, root, batch, Seq("k")))
    assert(jobs == 1, s"merge of a 40-row batch launched $jobs jobs")
    assert(shuffled == 0L, s"merge of a 40-row batch shuffled $shuffled bytes")
    // creation takes the same one-job path
    val created = java.nio.file.Files.createTempDirectory("graft_mjobs0").toString + "/t"
    assert(jobsDuring(VersionedTable.merge(spark, created, batch, Seq("k"))) == 1)
    // 20 keys updated, 20 inserted
    assert(VersionedTable.read(spark, root).filter($"x" === 1.0).count() == 40)
    assert(VersionedTable.read(spark, root).count() == 220)
    assert(VersionedTable.read(spark, created).count() == 40)
  }

  test("mergeSkipping of a small driver-local batch on a table with stats launches 1 job and shuffles nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_msjobs").toString + "/t"
    VersionedTable.commitPartitioned(spark, root, spark.range(0, 1000, 2).toDF("k")
      .withColumn("bucket", (col("k") / lit(100)).cast("long").cast("string"))
      .withColumn("v", col("k") * 10), "bucket", -1L)
    DataSkipping.ensureStats(spark, root, 0L, Seq("k"))
    val batch = Seq((250L, "2", -1L), (251L, "2", -2L)).toDF("k", "bucket", "v")
    // the batch's key range is read on the driver, the merge of the one
    // picked dir with the batch runs in the staging task, and the fresh
    // dir's stats come from the picked dir's and the batch's range: the
    // write is the only job
    val (jobs, shuffled) =
      sparkWork(DataSkipping.mergeSkipping(spark, root, batch, Seq("k"), "k"))
    assert(jobs == 1, s"mergeSkipping of a 2-row batch launched $jobs jobs")
    assert(shuffled == 0L, s"mergeSkipping of a 2-row batch shuffled $shuffled bytes")
    assert(DataSkipping.lastMergeRewrote == 1 && DataSkipping.lastMergeCarried == 9)
    assert(VersionedTable.read(spark, root).filter(col("k") === 251L).select("v")
      .as[Long].collect().toSeq == Seq(-2L))
    assert(VersionedTable.read(spark, root).count() == 501)
    // the fresh dir's logged bounds are the min and max of its rows
    val fresh = VersionedTable.dirsOf(spark, root, 1L)
      .filterNot(VersionedTable.dirsOf(spark, root, 0L).toSet)
    assert(fresh.size == 1)
    val (mn, mx) = spark.read.parquet(s"$root/${fresh.head}").agg(min("k"), max("k"))
      .as[(Long, Long)].head()
    assert((mn, mx) == ((200L, 298L)))
    assert(DataSkipping.ensureStats(spark, root, 1L, Seq("k"))(fresh.head) ==
      Map("k" -> ((200.0, 298.0))))
  }

  /** One merge scenario run twice into fresh tables: under the default
    * advisory size (the one-partition merge) and at 64k, where its
    * inputs are estimated above it and the merge keeps its exchange.
    * `write` builds the table at the root it is given. The two tables
    * must hold the same rows; they are returned, with the shuffle
    * bytes the small run wrote (0 unless its source shuffles). */
  private def smallAndExchangeMerge(tag: String)(write: String => Unit)
      : (Seq[org.apache.spark.sql.Row], Long) = {
    import graft.sources.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val (_, small) = sparkWork(write(s"$dir/small"))
    val (_, big) = withAdvisory("64k")(sparkWork(write(s"$dir/big")))
    assert(big > small, s"$tag: the merge above the advisory size ran no exchange " +
      s"($big shuffle bytes, $small under it)")
    def rows(t: String) = VersionedTable.read(spark, s"$dir/$t").collect().toSeq
    val got = rows("small")
    assert(got.sortBy(_.toString) == rows("big").sortBy(_.toString),
      s"$tag: the one-partition merge and the exchange merge wrote different tables")
    (got, small)
  }

  /** [[smallAndExchangeMerge]] of a driver-local source: the small run
    * shuffles nothing. */
  private def smallAndExchangeLocal(tag: String)(write: String => Unit)
      : Seq[org.apache.spark.sql.Row] = {
    val (got, small) = smallAndExchangeMerge(tag)(write)
    assert(small == 0L, s"$tag: the merge under the advisory size shuffled $small bytes")
    got
  }

  test("merges above the advisory size keep their exchange and write the same table as small ones") {
    import spark.implicits._
    import graft.sources.VersionedTable
    // ~105 KB by the optimizer's estimate for the batch alone
    def base = (0 until 2000).map(i => (i.toLong, s"p${i % 8}", 0.0)).toDF("k", "part", "x")
    def batch = (0 until 2400).map(i => (i.toLong * 2, s"p${(i * 2) % 8}", 1.0))
      .toDF("k", "part", "x")
    val want = ((0 until 2000).map(i => (i.toLong, if (i % 2 == 0) 1.0 else 0.0)) ++
      (1000 until 2400).map(i => (i.toLong * 2, 1.0))).toSet
    def got(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(got(smallAndExchangeLocal("graft_adv_mp") { root =>
      VersionedTable.commitPartitioned(spark, root, base, "part", -1L)
      VersionedTable.mergePartitioned(spark, root, batch, Seq("k"), "part")
      ()
    }) == want)
    assert(got(smallAndExchangeLocal("graft_adv_m") { root =>
      VersionedTable.commit(spark, root, base, -1L)
      VersionedTable.merge(spark, root, batch, Seq("k"))
      ()
    }) == want)
  }

  private type Row6 = (String, String, java.sql.Date, Double, Long, String)

  test("merge parity: keys with a null date merge alike on the one-partition and exchange paths") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val d = (q: Int) => java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusMonths(3L * q))
    // per ticker: 11 dated financials rows and one metadata row whose
    // date is null; the window groups the nulls of a key together
    def rows(b: Long, tickers: Range, q: Int => Boolean) = for {
      t <- tickers; (rt, qs) <- Seq("financials" -> (0 until 11), "metadata" -> Seq(-1)); i <- qs
      if q(i)
    } yield (f"TK$t%04d", rt, if (i < 0) null else d(i), b * 100.0 + i, b, s"b${t % 8}")
    def tbl(rs: Seq[(String, String, java.sql.Date, Double, Long, String)]) =
      rs.toDF("ticker", "record_type", "period_end_date", "value", "batch_id", "bucket")
    val keys = Seq("ticker", "record_type", "period_end_date")
    val base = rows(0L, 0 until 200, _ => true)
    // restates every null-date key and every even quarter, and adds
    // the null-date key of 40 new tickers
    val batch = rows(1L, 0 until 200, i => i < 0 || (i % 2 == 0)) ++ rows(1L, 500 until 540, _ < 0)
    def latest(rs: Seq[Row6]) = rs.map(r => (r._1, r._2, Option(r._3)) -> r).toMap
    val want = (latest(base) ++ latest(batch)).values.toSet
    for (partitioned <- Seq(true, false)) {
      val got = smallAndExchangeLocal(s"graft_par_null_$partitioned") { root =>
        if (partitioned) {
          VersionedTable.commitPartitioned(spark, root, tbl(base), "bucket", -1L)
          VersionedTable.mergePartitioned(spark, root, tbl(batch), keys, "bucket", Seq("batch_id"))
        } else {
          VersionedTable.commit(spark, root, tbl(base), -1L)
          VersionedTable.merge(spark, root, tbl(batch), keys, Seq("batch_id"))
        }
        ()
      }.map(r => (r.getString(0), r.getString(1), r.getDate(2), r.getDouble(3), r.getLong(4),
                  r.getString(5)))
      assert(got.size == want.size && got.toSet == want, s"partitioned=$partitioned")
    }
  }

  test("merge parity: in-batch duplicate keys resolve by tieBreak alike on both paths") {
    import spark.implicits._
    import graft.sources.VersionedTable
    def tbl(rs: Seq[(Long, String, Double, Long)]) = rs.toDF("k", "part", "x", "seq")
    val base = (0 until 2000).map(i => (i.toLong, s"p${i % 8}", 0.0, 0L))
    // every batch key three times: seq 3, 1, 2 in that order; the
    // lowest seq wins
    val batch = for (i <- 0 until 1200; s <- Seq(3L, 1L, 2L))
      yield (i.toLong * 3, s"p${(i * 3) % 8}", s * 10.0 + i, s)
    val won = batch.filter(_._4 == 1L).map(r => r._1 -> r).toMap
    val want = (base.map(r => r._1 -> r).toMap ++ won).values.toSet
    for (partitioned <- Seq(true, false)) {
      val got = smallAndExchangeLocal(s"graft_par_dup_$partitioned") { root =>
        if (partitioned) {
          VersionedTable.commitPartitioned(spark, root, tbl(base), "part", -1L)
          VersionedTable.mergePartitioned(spark, root, tbl(batch), Seq("k"), "part", Seq("seq"))
        } else {
          VersionedTable.commit(spark, root, tbl(base), -1L)
          VersionedTable.merge(spark, root, tbl(batch), Seq("k"), Seq("seq"))
        }
        ()
      }.map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      assert(got.size == want.size && got.toSet == want, s"partitioned=$partitioned")
      // creation from a duplicate-key batch dedupes by the same rule
      val created = smallAndExchangeLocal(s"graft_par_dup0_$partitioned") { root =>
        if (partitioned) VersionedTable.mergePartitioned(spark, root, tbl(batch), Seq("k"), "part", Seq("seq"))
        else VersionedTable.merge(spark, root, tbl(batch), Seq("k"), Seq("seq"))
        ()
      }.map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      assert(created.toSet == won.values.toSet && created.size == won.size, s"partitioned=$partitioned")
    }
  }

  test("merge parity: a non-local source is checkpointed once and survives a stale-base retry on both paths") {
    import spark.implicits._
    import graft.sources.VersionedTable
    def tbl(rs: (Long, Double, String)*) = rs.toSeq.toDF("k", "x", "pb")
    val evaluated = spark.sparkContext.longAccumulator("graft_par_src")
    // a repartitioned source: not driver-local, so it is checkpointed;
    // each row it evaluates counts once
    def counted(rs: (Long, Double, String)*) = {
      val (acc, df) = (evaluated, tbl(rs: _*))
      df.repartition(4).map { r => acc.add(1); r }(df.encoder)
    }
    val aRows = (0 until 1500).map(i => (i.toLong * 2, -1.0, "a"))
    val bRows = (0 until 1500).map(i => (i.toLong * 2 + 1, -2.0, "b"))
    val rebased = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val (got, _) = smallAndExchangeMerge("graft_par_ckpt") { root =>
      VersionedTable.commitPartitioned(spark, root,
        tbl((0 until 3000).map(i => (i.toLong, 0.0, if (i % 2 == 0) "a" else "b")): _*), "pb", -1L) // v0
      VersionedTable.mergePartitioned(spark, root, tbl((0L, 5.0, "a")), Seq("k"), "pb")         // v1
      // staged against the stale v0, touching only b: rebases
      evaluated.reset()
      assert(VersionedTable.mergePartitionedFrom(spark, root, counted(bRows: _*), Seq("k"), "pb",
        Nil, 3, firstBase = Some(0L)) == 2L)
      rebased += VersionedTable.lastMergeRebased
      assert(evaluated.sum == bRows.size, s"source evaluated ${evaluated.sum} rows")
      // staged against v0 but touching a, which v1 changed: recomputes
      // against the head, re-reading the checkpoint, not the source
      evaluated.reset()
      assert(VersionedTable.mergePartitionedFrom(spark, root, counted(aRows: _*), Seq("k"), "pb",
        Nil, 3, firstBase = Some(0L)) == 3L)
      rebased += VersionedTable.lastMergeRebased
      assert(evaluated.sum == aRows.size, s"source evaluated ${evaluated.sum} rows")
      ()
    }
    assert(rebased == Seq(true, false, true, false))
    val want = ((0 until 3000).map(i => i.toLong -> (if (i % 2 == 0) -1.0 else -2.0))).toMap
    assert(got.map(r => r.getLong(0) -> r.getDouble(1)).toMap == want && got.size == 3000)
  }

  test("empty-string partition values are rejected by name in every partition-native write") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vte").toString + "/t"
    val bad = Seq((1L, "", 1.0), (2L, "x", 2.0)).toDF("k", "part", "x")
    def rejects(write: => Long): Unit = {
      val e = intercept[IllegalArgumentException](write)
      assert(e.getMessage.contains("empty-string part values"), e.getMessage)
    }
    rejects(VersionedTable.commitPartitioned(spark, root, bad, "part", -1L))
    assert(VersionedTable.currentVersion(spark, root).isEmpty)
    rejects(VersionedTable.mergePartitioned(spark, root, bad, Seq("k"), "part"))
    val v0 = VersionedTable.commitPartitioned(spark, root, bad.filter($"part" =!= ""), "part", -1L)
    rejects(VersionedTable.appendPartitioned(spark, root, bad, "part", v0))
    rejects(VersionedTable.mergePartitioned(spark, root, bad, Seq("k"), "part"))
    assert(VersionedTable.currentVersion(spark, root).contains(v0))
    // a null is still named as a null, not as an empty value
    val e = intercept[IllegalArgumentException](VersionedTable.appendPartitioned(spark, root,
      Seq((3L, None: Option[String], 3.0)).toDF("k", "part", "x"), "part", v0))
    assert(e.getMessage.contains("null part values"), e.getMessage)
    // and nothing staged is left behind by the rejected writes
    assert(new java.io.File(s"$root/data").listFiles().length == 1)
  }

  test("DataSkipping's dir-subset reads are log-fed: the version's schema, no listing or footer-merge job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.{DataSkipping, VersionedTable}
    val root = java.nio.file.Files.createTempDirectory("graft_dsk_log").toString + "/t"
    def wave(w: Int) = (0 until 4).map(p => ((w * 4 + p).toLong, s"p$p")).toDF("id", "part")
    // 44 dirs, above the 32-dir parallel-listing threshold; the last
    // wave adds a column
    var v = VersionedTable.commitPartitioned(spark, root, wave(0), "part", -1L)
    (1 until 10).foreach(w => v = VersionedTable.appendPartitioned(spark, root, wave(w), "part", v))
    v = VersionedTable.appendPartitioned(spark, root, wave(10).withColumn("note", lit("n")), "part", v)
    // staging seeded every dir's listing and the schema is logged: the
    // stats build is its own aggregation (map stage + result) alone
    val jobs = jobsDuring(DataSkipping.ensureStats(spark, root, v, Seq("id")))
    assert(jobs <= 2, s"stats build over 44 fresh dirs launched $jobs jobs")
    // a pruned read keeping only pre-evolution dirs serves the version's
    // schema, the evolved column as null
    def ids(lo: Long, hi: Long) = VersionedTable.read(spark, root).filter(col("id").between(lo, hi))
    val got = ids(0, 3)
    assert(keptDirs(root, got).size == 4, "the read must keep only the first wave's dirs")
    assert(got.schema == VersionedTable.readAsOf(spark, root, 0L).schema.add("note", "string"))
    assert(got.as[(Long, String, String)].collect().toSet ==
      (0 until 4).map(p => (p.toLong, s"p$p", null: String)).toSet)
    assert(keptDirs(root, ids(100, 200)).isEmpty && ids(100, 200).schema == got.schema)
  }

  test("VecIndex: delete rewrites only the victim's cell, is idempotent, and equals an index never holding the victim") {
    import spark.implicits._
    import graft.operators.VecIndex
    import graft.sources.VersionedTable
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val root = java.nio.file.Files.createTempDirectory("graft_vidx_del").toString
    val corpus = Seq(
      (100L, v(1, 0, 0, 0)), (101L, v(0, 1, 0, 0)),
      (1L, v(0.9, 0.1, 0, 0)), (2L, v(0.1, 0.9, 0, 0)),
      (3L, v(0.8, 0.2, 0, 0)))
      .toDF("vec_id", "embedding")
    VecIndex.build(spark, root, corpus, centIds = Seq(100L, 101L))
    val q = Seq((500L, v(0.95, 0.05, 0, 0))).toDF("vec_id", "embedding")
    assert(VecIndex.probe(spark, root, q, k = 4, nProbe = 1).collect()
      .map(_.getAs[Long]("neighbor_id")).contains(1L))
    // delete vec 1 (home cell 100): only that cell's dir is rewritten;
    // cell 101's inverted list must be CARRIED byte-for-byte
    val before = VersionedTable.entriesOf(spark, s"$root/vectors", 0L)
    val nv = VecIndex.delete(spark, root, Seq((1L, v(0.9, 0.1, 0, 0)))
      .toDF("vec_id", "embedding"))
    assert(nv == 1L)
    val after = VersionedTable.entriesOf(spark, s"$root/vectors", nv)
    val carried101 = before.filter(_.part.contains("101"))
    assert(carried101.nonEmpty && carried101.forall(after.contains),
      s"cell 101 dirs must be carried untouched: before=$before after=$after")
    assert(after.filter(_.part.contains("100")) != before.filter(_.part.contains("100")),
      "cell 100 must have been rewritten")
    // the probe no longer returns the victim; survivors unchanged
    val got = VecIndex.probe(spark, root, q, k = 4, nProbe = 1).collect()
      .map(_.getAs[Long]("neighbor_id")).toSet
    assert(got == Set(100L, 3L), s"got $got")
    // equals an index that NEVER held the victim (same centroids, so
    // the Voronoi grid is identical)
    val clean = java.nio.file.Files.createTempDirectory("graft_vidx_del2").toString
    VecIndex.build(spark, clean, corpus.filter($"vec_id" =!= 1L),
      centIds = Seq(100L, 101L))
    val want = VecIndex.probe(spark, clean, q, k = 4, nProbe = 1).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    val have = VecIndex.probe(spark, root, q, k = 4, nProbe = 1).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"))).toSet
    assert(have == want, s"deleted index diverged: $have vs $want")
    // re-deleting an absent victim publishes NOTHING (idempotent)
    val again = VecIndex.delete(spark, root, Seq((1L, v(0.9, 0.1, 0, 0)))
      .toDF("vec_id", "embedding"))
    assert(again == nv, "idempotent re-delete must not commit a version")
    // time travel still sees the pre-delete list
    assert(VersionedTable.readAsOf(spark, s"$root/vectors", 0L)
      .filter($"vec_id" === 1L).count() == 1L)
    // deletions count as churn toward the rebuild signal
    VecIndex.delete(spark, root, Seq((2L, v(0.1, 0.9, 0, 0)))
      .toDF("vec_id", "embedding"))
    assert(VecIndex.rebuildRecommended(spark, root),
      "2 deletions on a 5-vector build must trip the churn signal")
  }

  test("VecIndex: append drift surfaces a rebuild-recommended signal; build clears it") {
    import spark.implicits._
    import graft.operators.VecIndex
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val root = java.nio.file.Files.createTempDirectory("graft_vidx_meta").toString
    val corpus = Seq(
      (100L, v(1, 0, 0, 0)), (101L, v(0, 1, 0, 0)),
      (1L, v(0.9, 0.1, 0, 0)), (2L, v(0.1, 0.9, 0, 0)))
      .toDF("vec_id", "embedding")
    VecIndex.build(spark, root, corpus, centIds = Seq(100L, 101L))
    assert(!VecIndex.rebuildRecommended(spark, root))
    // one appended vector = 25% of the built corpus — at the
    // threshold, not past it
    VecIndex.ingest(spark, root, Seq((200L, v(0.95, 0.05, 0, 0))).toDF("vec_id", "embedding"))
    assert(!VecIndex.rebuildRecommended(spark, root))
    // a second append pushes drift past RebuildFraction: the centroids
    // are now stale enough that re-training is DUE
    VecIndex.ingest(spark, root, Seq((201L, v(0.05, 0.95, 0, 0))).toDF("vec_id", "embedding"))
    assert(VecIndex.rebuildRecommended(spark, root))
    // rebuilding from the grown corpus resets the drift counter
    VecIndex.build(spark, root,
      corpus.unionByName(Seq((200L, v(0.95, 0.05, 0, 0)),
        (201L, v(0.05, 0.95, 0, 0))).toDF("vec_id", "embedding")),
      centIds = Seq(100L, 101L))
    assert(!VecIndex.rebuildRecommended(spark, root))
    // an index with NO meta (built before tracking) has unknown drift:
    // recommend conservatively instead of silently degrading
    val legacy = java.nio.file.Files.createTempDirectory("graft_vidx_leg").toString
    assert(VecIndex.rebuildRecommended(spark, legacy))
  }

  test("d16 best-keep: the survivor maximizes quality and the policy diverges from min-id") {
    val t02 = SparkEntry.queries("t02_quality_score")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    val members = SparkEntry.queries("d07_dedup_clusters")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id")))
      .groupBy(_._2).map { case (c, xs) => c -> xs.map(_._1).toSet }
    val rows = SparkEntry.queries("d16_dedup_best_keep")(spark, sf).collect()
    assert(rows.length == members.size)
    rows.foreach { r =>
      val mem = members(r.getAs[Long]("cluster_id"))
      val kept = r.getAs[Long]("kept_doc")
      assert(r.getAs[Long]("n_members") == mem.size)
      // the survivor is the quality argmax (ties -> lowest id),
      // re-derived independently from the t02 frame
      val best = mem.toSeq.map(d => (t02(d), d)).sortBy { case (q, d) => (-q, d) }.head._2
      assert(kept == best, s"cluster ${r.getAs[Long]("cluster_id")}: kept $kept, best $best")
      assert(r.getAs[Long]("minid_doc") == mem.min)
      assert(r.getAs[Boolean]("policy_differs") == (kept != mem.min))
    }
    // the policy MATTERS on this corpus — otherwise the column is vacuous
    assert(rows.exists(_.getAs[Boolean]("policy_differs")),
      "quality-keep never diverged from min-id")
  }

  test("t19 leakage-safe split: clusters move as units; the naive doc-hash split leaks") {
    val clusterOf = SparkEntry.queries("d07_dedup_clusters")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toMap
    val docIds = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    def bucket(k: Long) = ((k * 1103515245L + 12345L) % 2147483647L) % 1000L
    def splitOf(k: Long) =
      if (bucket(k) < 800) "train" else if (bucket(k) < 900) "val" else "test"
    // independent reconstruction of the census
    val assigned = docIds.map { d =>
      val c = clusterOf.get(d)
      (splitOf(c.getOrElse(d)), c)
    }
    val expect = assigned.groupBy(_._1).map { case (s, xs) =>
      s -> ((xs.length.toLong, xs.count(_._2.isDefined).toLong,
             xs.flatMap(_._2).distinct.length.toLong))
    }
    val rows = SparkEntry.queries("t19_leakage_split")(spark, sf).collect()
    rows.foreach { r =>
      val (nd, ncd, nc) = expect(r.getAs[String]("split"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_clustered_docs") == ncd)
      assert(r.getAs[Long]("n_clusters") == nc)
    }
    // no cluster straddles splits: each cluster is counted in exactly
    // ONE split, so the per-split cluster counts sum to the total
    assert(rows.map(_.getAs[Long]("n_clusters")).sum ==
           clusterOf.values.toSet.size.toLong)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docIds.length.toLong)
    // and the t07-style PER-DOC hash split really does leak: at least
    // one near-dup cluster straddles train/val/test under it — the bug
    // this operator exists to remove is live on this corpus
    val naiveLeaky = clusterOf.toSeq.groupBy(_._2)
      .count { case (_, xs) => xs.map(x => splitOf(x._1)).distinct.length > 1 }
    assert(naiveLeaky > 0, "naive per-doc split did not leak; spec corpus too clean")
  }

  test("streaming vector ingest: each micro-batch probes, admits and appends via the IVF index") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.VecIndex
    import graft.sources.VersionedTable
    // the embedding twin of the streaming dedup-ingest capstone: every
    // micro-batch probes the PERSISTED IVF index, only novel vectors
    // enter (near-dups at cos >= 0.999 are turned away), and an
    // admitted vector is visible to the very next micro-batch
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val root = java.nio.file.Files.createTempDirectory("graft_vidx_stream").toString
    VecIndex.build(spark, root, Seq(
      (100L, v(1, 0, 0, 0)), (101L, v(0, 1, 0, 0)),
      (1L, v(0.9, 0.1, 0, 0)), (2L, v(0.1, 0.9, 0, 0)))
      .toDF("vec_id", "embedding"), centIds = Seq(100L, 101L))
    var dupLog = List.empty[(Long, Long)]
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDS().toDF("vec_id", "embedding")
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val (_, pairs) = VecIndex.ingestDedup(spark, root, batch)
          dupLog = dupLog ++ pairs.select("q_id", "neighbor_id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    try {
      // batch 1: 200 points a novel direction (admitted); 201 exactly
      // duplicates corpus vector 100 (rejected at the gate)
      input.addData((200L, v(0, 0, 1, 0)), (201L, v(1, 0, 0, 0)))
      q.processAllAvailable()
      // batch 2: 300 duplicates the vector admitted ONE batch ago
      // (rejected against 200 — the loop is closed); 301 is novel
      input.addData((300L, v(0, 0, 2, 0)), (301L, v(0, 0, 0, 1)))
      q.processAllAvailable()
    } finally q.stop()
    assert(dupLog.toSet == Set((201L, 100L), (300L, 200L)), s"got $dupLog")
    // the index holds the seed corpus + admitted vectors only
    assert(VersionedTable.read(spark, s"$root/vectors").select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(100L, 101L, 1L, 2L, 200L, 301L))
  }

  test("t20 filter battery: every rule has live pass AND fail populations; keep is their conjunction") {
    val rows = SparkEntry.queries("t20_filter_battery")(spark, sf).collect()
    assert(rows.length > 0)
    for (rule <- Seq("r_len", "r_wordlen", "r_repeat", "r_stop")) {
      val pass = rows.count(_.getAs[Boolean](rule))
      assert(pass > 0 && pass < rows.length,
        s"$rule is a dead arm: $pass/${rows.length} pass — threshold no longer bites this corpus")
    }
    rows.foreach { r =>
      val conj = Seq("r_len", "r_wordlen", "r_repeat", "r_stop")
        .forall(r.getAs[Boolean](_))
      assert(r.getAs[Boolean]("keep") == conj)
    }
    // the composite itself is live both ways
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length)
  }

  test("VersionedTable: appendRebase republishes a staged append over a concurrent commit") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vt_rebase").toString + "/t"
    VersionedTable.commit(spark, root, Seq((1L, "a")).toDF("id", "v"), -1L)
    // a concurrent writer lands v1 after our appender read base = v0
    VersionedTable.commit(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    // a plain append against the stale base loses the race and gives up
    intercept[VersionedTable.VersionConflictException] {
      VersionedTable.append(spark, root, Seq((3L, "c")).toDF("id", "v"), 0L)
    }
    // appendRebase loses the SAME race, then republishes the SAME
    // staged dir against the new head: appends commute, so no restage,
    // no recompute, no data loss
    val v = VersionedTable.appendRebaseFrom(spark, root,
      Seq((4L, "d")).toDF("id", "v"), firstBase = 0L)
    assert(v == 2L)
    val rows = VersionedTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (4L, "d")))
    // stage-once, retry-publish: exactly ONE append dir was written
    val dataDir = new java.io.File(s"$root/data")
    assert(dataDir.listFiles().count(_.getName.startsWith("append-")) == 1)
  }

  test("VersionedTable: TIMESTAMP AS OF resolves by commit publication time") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val root = java.nio.file.Files.createTempDirectory("graft_vt_ts").toString + "/t"
    VersionedTable.commit(spark, root, Seq((1L, "old")).toDF("id", "v"), -1L)
    VersionedTable.append(spark, root, Seq((2L, "new")).toDF("id", "v"), 0L)
    // pin publication times explicitly (adjacent test commits land
    // within the local FS clock's resolution)
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root),
      spark.sparkContext.hadoopConfiguration)
    def pin(v: Long, t: Long): Unit = f.setTimes(
      new org.apache.hadoop.fs.Path(root + "/_log/" + f"v$v%08d" + ".commit"), t, -1)
    pin(0L, 1000L); pin(1L, 2000L)
    assert(VersionedTable.versionAtTimestamp(spark, root, 500L).isEmpty)
    assert(VersionedTable.versionAtTimestamp(spark, root, 1500L).contains(0L))
    assert(VersionedTable.versionAtTimestamp(spark, root, 2000L).contains(1L))
    assert(VersionedTable.readAsOfTimestamp(spark, root, 1500L).count() == 1L)
    assert(VersionedTable.readAsOfTimestamp(spark, root, 9999L).count() == 2L)
    intercept[java.io.FileNotFoundException] {
      VersionedTable.readAsOfTimestamp(spark, root, 500L)
    }
  }
}
