package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The PERSISTED lexical (inverted) index — BM25 retrieval in the
  * same incremental-ingest shape [[VecIndex]] gives ANN search and
  * [[BandIndex]] gives dedup: build once, probe per query batch,
  * append new batches without recomputing the corpus. Until this
  * index the hybrid stack's lexical arm (s15/s18/s23) recomputed
  * postings from the corpus scan on every query; at 100 TB the
  * postings ARE the asset. Three [[VersionedTable]]s under one root:
  *
  *  - `<root>/postings`: (term, doc_id, tf, dl) partition-native on
  *    `bucket = pmod(hash(term), NumBuckets)` — THE POSTING LISTS ARE
  *    PARTITION DIRS: a probe computes its query terms' buckets and
  *    opens only those dirs (dir-pruned IO before any scan), the
  *    VecIndex discipline applied to terms. The doc length `dl` is
  *    DENORMALIZED onto every posting (the forward-index trick), so
  *    the probe's BM25 length norm never scans a corpus-sized side
  *    table; dl is per-doc immutable (delete+reingest is the update
  *    path), so no anomaly. Rows are immutable facts; appends are
  *    O(batch) add-file commits into touched buckets.
  *  - `<root>/stats`: (term, df) — document frequencies, vocab-
  *    bounded (Heaps' law: ~V(N) ≪ N rows), partition-native on the
  *    SAME term bucket: probes dir-prune the df lookup to their own
  *    terms' buckets, and ingest/delete rewrite ONLY the buckets a
  *    batch's terms touch (the rest of the vocab carries
  *    byte-for-byte).
  *  - `<root>/doclens`: (doc_id, dl) partition-native on a doc-id
  *    bucket — the delete-accounting registry (not in the query
  *    path), appended O(batch), erased partition-scoped.
  *
  * Corpus scalars (n_docs, doclen rows, total tokens) AND the three
  * tables' pinned versions live in a MANIFEST (`_lex_meta`) written
  * atomically (temp file + rename-with-overwrite) as the LAST step of
  * every mutation. The manifest is the index's consistency point:
  * a probe reads it ONCE and reads every table AT the pinned version,
  * so a probe concurrent with build/ingest/delete sees a wholly-old
  * or wholly-new snapshot — never new postings with stale
  * df/n_docs/avgdl, and never a torn scalar file. A mutation that
  * crashes between its table commits and the manifest flip leaves
  * only ORPHAN versions no probe can reach; the next successful
  * mutation supersedes them (it carries forward the MANIFEST-pinned
  * entry lists, not the orphan head's). The probe recomputes avgdl
  * with the same double division as the from-scratch arm, so scores
  * are bit-identical to [[Similarity.hybridBm25]]'s (the central
  * contract, spec-pinned: probe == from-scratch BM25 on every score).
  *
  * BM25's global weights (df, avgdl, n_docs) drift with every ingest;
  * unlike vector cells, ALL docs' scores legitimately change when the
  * corpus grows. The design absorbs that correctly by construction:
  * postings/doclens rows are per-doc immutable facts, every GLOBAL
  * quantity is resolved at probe time from current stats — so a probe
  * after ingest equals a from-scratch build on the grown corpus with
  * no rescoring pass (spec-pinned).
  *
  * Ingest contract (the [[VecIndex.ingest]] rule): batch doc_ids must
  * be NEW — re-ingesting a doc would double its postings. The d12
  * probe-then-ingest loop or d06 digest gate is the dedup layer.
  */
object LexIndex {

  /** Times a lexical index was actually BUILT (not probed) — the
    * d12-style evidence that repeated retrieval runs are probe-only. */
  @volatile var indexBuilds: Long = 0L

  /** Times [[ingest]] ran — the st15 spec's evidence that the
    * streaming drain really fed the index one micro-batch per
    * arrival commit. */
  @volatile var ingests: Long = 0L

  /** Posting-list bucket count: probes open ≤ min(queryTerms, this)
    * dirs. 32 keeps test dirs readable; production sizes this so a
    * bucket dir is a few GB (the maxPartitionBytes split does the
    * rest). */
  val NumBuckets = 32

  private def postRoot(root: String) = s"$root/postings"
  private def statsRoot(root: String) = s"$root/stats"
  private def dlRoot(root: String) = s"$root/doclens"
  private def metaPath(root: String) = s"$root/_lex_meta"

  private def bucketCol = pmod(hash(col("term")), lit(NumBuckets)).cast("string")

  /** ONE tokenize pass producing tf AND the positional payload
    * together: per (doc, term), the term frequency (exactly
    * [[TextOps.tfFrame]]'s count — same split, same empty-token
    * filter) plus the sorted 1-based RAW split positions (empty tokens
    * occupy a raw position but never emit a posting, so adjacency
    * means "adjacent in the raw token stream", a fixed cross-engine
    * contract). Build/ingest used to run tfFrame AND a separate
    * positions pass — two full explode+shuffle passes over the same
    * text for columns of the same posting row; fused, the batch is
    * tokenized and shuffled ONCE (guide §2.4: two operations keyed the
    * same way share one exchange). The positions payload is READ only
    * by [[probePhrase]]'s two-term candidate join — the BM25 scoring
    * path projects it away, so score probes never shuffle position
    * arrays. */
  private def tfPosFrame(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("p0", "term")))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"),
           sort_array(collect_list(col("p0") + 1)).as("positions"))

  /** doclens partition key: doc-id bucket, so [[delete]] rewrites only
    * the victims' home buckets — never the whole doclen table. */
  private def docBucketCol = pmod(hash(col("doc_id")), lit(NumBuckets)).cast("string")

  private def hfs(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** The index's atomic consistency point: the three tables' pinned
    * versions + the corpus scalars + the streaming sinks' idempotence
    * markers, flipped in ONE rename. `txn` maps each writer appId to
    * the highest batchId it has committed — PER-APP, like the
    * txnAppId/txnVersion tracking Delta's reference implementation
    * keeps, so two interleaved streaming writers (or a restarted
    * second app) cannot evict each other's replay guard: a single
    * last-writer slot would let app A's replayed batch slip through
    * after app B's commit overwrote the marker. */
  private[graft] final case class Manifest(
      postingsV: Long, statsV: Long, doclensV: Long,
      nDocs: Long, nDoclens: Long, totalTokens: Long,
      txn: Map[String, Long])

  private[graft] def readManifest(spark: SparkSession, root: String): Manifest = {
    val f = hfs(spark, root)
    val in = f.open(new org.apache.hadoop.fs.Path(metaPath(root)))
    val kv = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .split("\n").map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    finally in.close()
    Manifest(kv("postings_v").toLong, kv("stats_v").toLong,
      kv("doclens_v").toLong, kv("n_docs").toLong, kv("n_doclens").toLong,
      kv("total_tokens").toLong,
      kv.collect { case (k, v) if k.startsWith("txnapp.") =>
        java.net.URLDecoder.decode(k.stripPrefix("txnapp."), "UTF-8") ->
          v.toLong })
  }

  /** Atomic manifest flip: write a temp file, rename over the live
    * path with OVERWRITE (atomic on HDFS and POSIX — a concurrent
    * [[readManifest]] sees the old file or the new one, never a
    * half-written mix). */
  private def writeManifest(spark: SparkSession, root: String,
                            m: Manifest): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(metaPath(root))
    val tmp = new org.apache.hadoop.fs.Path(
      metaPath(root) + ".tmp-" + java.util.UUID.randomUUID())
    val f = hfs(spark, root)
    val out = f.create(tmp, true)
    val txnLines = m.txn.toSeq.sortBy(_._1).map { case (a, b) =>
      s"txnapp.${java.net.URLEncoder.encode(a, "UTF-8")}=$b\n" }.mkString
    try out.write(
      (s"postings_v=${m.postingsV}\nstats_v=${m.statsV}\n" +
       s"doclens_v=${m.doclensV}\nn_docs=${m.nDocs}\n" +
       s"n_doclens=${m.nDoclens}\ntotal_tokens=${m.totalTokens}\n" +
       txnLines).getBytes("UTF-8"))
    finally out.close()
    val fc = try org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI(root), conf)
      catch { case _: Exception =>
        org.apache.hadoop.fs.FileContext.getFileContext(conf) }
    fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Build (or rebuild) the index from a corpus: one tokenize pass
    * (the t10 tf kernel — shared with every lexical row, so the
    * index and the from-scratch arm CANNOT tokenize differently),
    * postings committed partition-native on the term bucket, stats +
    * doclens committed alongside, scalars to the meta sidecar. */
  def build(spark: SparkSession, root: String, documents: DataFrame): Unit = {
    indexBuilds += 1
    // one fused tokenize pass (tf + positions together); dls, the
    // postings join and the df aggregate are all views over it
    val tfp = tfPosFrame(documents).localCheckpoint()
    val dls = tfp.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint()
    // dl DENORMALIZED into every posting row (the forward-index trick
    // real engines use): the probe's length norm reads it off the
    // posting itself — no corpus-sized doclens scan+join per query.
    // dl is a per-doc immutable fact (a doc's text never changes in
    // place — delete+reingest is the update path), so there is no
    // update anomaly; the cost is 8 bytes per posting.
    // the three table commits are independent (visibility is the
    // manifest flip below) — run them concurrently, like [[ingest]]
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val postingsF = scala.concurrent.Future {
      val pv0 = VersionedTable.currentVersion(spark, postRoot(root)).getOrElse(-1L)
      VersionedTable.commitPartitioned(spark, postRoot(root),
        tfp.join(dls, Seq("doc_id"))
          .select(col("doc_id"), col("term"), col("tf"), col("dl"),
                  col("positions"))
          .withColumn("bucket", bucketCol), "bucket", pv0)
    }
    // stats partition-native on the SAME term bucket: a probe
    // dir-prunes the df lookup to its query terms' buckets instead of
    // scanning the vocab table
    val statsF = scala.concurrent.Future {
      val dfr = tfp.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val sv0 = VersionedTable.currentVersion(spark, statsRoot(root)).getOrElse(-1L)
      VersionedTable.commitPartitioned(spark, statsRoot(root),
        dfr.withColumn("bucket", bucketCol), "bucket", sv0)
    }
    val doclensF = scala.concurrent.Future {
      val dv0 = VersionedTable.currentVersion(spark, dlRoot(root)).getOrElse(-1L)
      VersionedTable.commitPartitioned(spark, dlRoot(root),
        dls.withColumn("dbucket", docBucketCol), "dbucket", dv0)
    }
    val scalarsF = scala.concurrent.Future {
      (dls.agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head,
       documents.count())
    }
    import scala.concurrent.duration.Duration
    val pv = scala.concurrent.Await.result(postingsF, Duration.Inf)
    val sv = scala.concurrent.Await.result(statsF, Duration.Inf)
    val dv = scala.concurrent.Await.result(doclensF, Duration.Inf)
    val (agg, nDocs) = scala.concurrent.Await.result(scalarsF, Duration.Inf)
    // manifest flips LAST: until this rename, probes keep reading the
    // previous pinned snapshot (or nothing, on a first build); a txn
    // marker from a prior index generation dies with the rebuild
    writeManifest(spark, root, Manifest(pv, sv, dv,
      nDocs, agg.getAs[Long]("n"), agg.getAs[Long]("t"),
      Map.empty))
  }

  /** BM25 top-`nArm` per query doc over ONLY the probed buckets'
    * partition dirs. Query terms come from the query docs' own text
    * (the s15 query-by-document shape); df/budget/idf resolve against
    * the PERSISTED stats (dir-pruned to the query terms' buckets);
    * the length norm rides the postings rows themselves — neither the
    * corpus nor any corpus-sized side table is read at query time.
    * Scores are bit-identical to the from-scratch
    * [[Similarity.hybridBm25]] arm: same kernels, same fold order,
    * same 6-dp round-then-rank.
    *
    * Scale shape: both index reads are dir-pruned by the query's own
    * term buckets; the postings join touches ≤ budget·n_docs rows per
    * query by the same budget window; per-pair fold and rank are
    * result-bounded. Driver-side collects = the distinct bucket
    * lists, bounded by query terms.
    *
    * Snapshot consistency: ONE manifest read pins stats version,
    * postings version, and every scalar for the whole probe — a
    * concurrent ingest/delete (the serve-while-append pattern) cannot
    * mix its new postings into this probe's stale weights. */
  def probe(spark: SparkSession, root: String, queryDocs: DataFrame,
            nArm: Int = 20, probeDfBudgetFrac: Double = 2.0,
            k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rankScored(probeScoredAt(spark, root, readManifest(spark, root),
      queryDocs, probeDfBudgetFrac, k1, b), nArm)

  /** Top-`nArm` rank over a scored frame — long lex_rank on BOTH exit
    * classes (the empty early-returns emit typed empties, the ranked
    * path casts row_number's IntegerType away). */
  private def rankScored(scored: DataFrame, nArm: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wLex = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .filter(col("lex_rank") <= nArm)
      .select(col("q_id"), col("doc_id"), col("lex_rank"))
  }

  /** The probe's BM25-scored pair frame `(q_id, doc_id, score)` at ONE
    * pinned manifest snapshot — shared by [[probe]] and
    * [[probePhrase]] so the phrase arm cannot score differently, and
    * so one manifest read covers BOTH the scoring and the phrase
    * candidate fetch (no cross-stage snapshot skew). */
  private def probeScoredAt(spark: SparkSession, root: String, man: Manifest,
                            queryDocs: DataFrame, probeDfBudgetFrac: Double,
                            k1: Double, b: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (nDocs, nDl, totTok) = (man.nDocs, man.nDoclens, man.totalTokens)
    val qtf = TextOps.tfFrame(queryDocs)
      .select(col("doc_id").as("q_id"), col("term"), col("tf").as("tfq"))
      .localCheckpoint()
    val emptyScored = qtf.select(col("q_id"), col("q_id").as("doc_id"),
      lit(0.0).as("score")).limit(0)
    // df lookup is dir-pruned too: ALL query terms' buckets (the
    // budget window needs every term's df before it prunes), still
    // bounded by the query's own term count — never a vocab scan
    val qBuckets = qtf.select(bucketCol.as("b")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (qBuckets.isEmpty) return emptyScored
    val stats =
      try VersionedTable.readPartitions(spark, statsRoot(root), qBuckets, Some(man.statsV))
            .select(col("term"), col("df"))
      catch { case _: java.io.FileNotFoundException => return emptyScored }
    val wBudget = Window.partitionBy(col("q_id"))
      .orderBy(col("df").asc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qw = qtf.join(stats, Seq("term"))
      .withColumn("cum_df", sum(col("df")).over(wBudget))
      .filter(col("cum_df").cast("double") <=
        lit(probeDfBudgetFrac) * lit(nDocs).cast("double"))
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs).cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))))
      .select(col("q_id"), col("term"), col("tfq"), col("idf"))
      .localCheckpoint(eager = false)
    val buckets = qw.select(bucketCol.as("bucket")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (buckets.isEmpty) return emptyScored
    val postings =
      try VersionedTable.readPartitions(spark, postRoot(root), buckets, Some(man.postingsV))
      catch { case _: java.io.FileNotFoundException => return emptyScored }
    val avgdl = lit(totTok).cast("double") / lit(nDl).cast("double")
    // dl rides each posting row — no doclens read in the query path;
    // the explicit select also projects the positional payload away,
    // so score probes never shuffle position arrays
    postings.select(col("term"), col("doc_id"), col("tf"), col("dl"))
      .join(qw, Seq("term")).filter(col("doc_id") =!= col("q_id"))
      .withColumn("contrib",
        col("idf") *
        (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") + lit(k1) *
          (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl)) *
        col("tfq").cast("double"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(collect_list(struct(col("term"), col("contrib"))).as("cs"))
      .withColumn("score", Rounding.roundN(
        expr("""aggregate(array_sort(cs), CAST(0 AS DOUBLE),
                 (acc, s) -> acc + s.contrib)"""), 6))
      .select(col("q_id"), col("doc_id"), col("score"))
  }

  /** s26: PHRASE-CONSTRAINED BM25 — the first unsupported query a real
    * search user types against a bag-of-words index. Each query's
    * phrase is its first two non-empty tokens; a candidate doc matches
    * iff it contains them ADJACENTLY (position of t2 = position of t1
    * + 1 in the raw token stream — out-of-order or gapped occurrences
    * are excluded, spec-pinned). Matching reads the POSITIONAL
    * postings dir-pruned to the two phrase terms' buckets (≤ 2 dirs
    * per distinct phrase term — the cheapest probe in the file);
    * scoring is [[probeScoredAt]] — s23's BM25 over the budgeted query
    * terms — semi-joined to the matched pairs and re-ranked, so the
    * result is "the BM25 ranking, restricted to exact-phrase docs".
    * One manifest read snapshots both stages. */
  def probePhrase(spark: SparkSession, root: String, queryDocs: DataFrame,
                  nArm: Int = 20, probeDfBudgetFrac: Double = 2.0,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val man = readManifest(spark, root)
    val toksNe = org.apache.spark.sql.functions.filter(
      split(lower(col("text")), " "), x => length(x) > 0)
    val qp = queryDocs.select(col("doc_id").as("q_id"), toksNe.as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("q_id"), element_at(col("tk"), 1).as("t1"),
        element_at(col("tk"), 2).as("t2"))
      .localCheckpoint()
    val empty = qp.select(col("q_id"), col("q_id").as("doc_id"),
      lit(0L).as("lex_rank")).limit(0)
    val pBuckets = qp.select(col("t1").as("term"))
      .unionByName(qp.select(col("t2").as("term")))
      .select(bucketCol.as("b")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (pBuckets.isEmpty) return empty
    val slice =
      try VersionedTable.readPartitions(spark, postRoot(root), pBuckets, Some(man.postingsV))
      catch { case _: java.io.FileNotFoundException => return empty }
    val a = slice.select(col("term"), col("doc_id"), col("positions").as("pa"))
      .join(qp.select(col("q_id"), col("t1").as("term")), Seq("term"))
    val b2 = slice.select(col("term"), col("doc_id"), col("positions").as("pb"))
      .join(qp.select(col("q_id"), col("t2").as("term")), Seq("term"))
    val matched = a.select(col("q_id"), col("doc_id"), col("pa"))
      .join(b2.select(col("q_id"), col("doc_id"), col("pb")),
        Seq("q_id", "doc_id"))
      .filter(arrays_overlap(
        transform(col("pa"), x => x + 1), col("pb")))
      .filter(col("doc_id") =!= col("q_id"))
      .select(col("q_id"), col("doc_id")).distinct()
    val scored = probeScoredAt(spark, root, man, queryDocs,
      probeDfBudgetFrac, k1, b)
    rankScored(scored.join(matched, Seq("q_id", "doc_id"), "left_semi"), nArm)
  }

  /** Fold each bucket's append-fragmented dir CHAIN back into one dir
    * per bucket (small-file hygiene after an ingest run — the
    * [[graft.sources.VersionedTable.compactPartitioned]] contract:
    * cost scales with the FRAGMENTED buckets, untouched buckets carry
    * byte-for-byte; history stays time-travelable). Probe results are
    * unchanged by construction — compaction moves bytes, not rows;
    * the manifest re-pins to the compacted versions (scalars and the
    * streaming txn marker carry unchanged). Refuses to run over
    * orphan versions left by a crashed mutation (compacting the raw
    * head would fold orphan data in) — a subsequent ingest/delete
    * supersedes orphans, after which compact is legal again. */
  def compact(spark: SparkSession, root: String): Unit = {
    val man = readManifest(spark, root)
    def headOf(r: String) = VersionedTable.currentVersion(spark, r).getOrElse(-1L)
    require(headOf(postRoot(root)) == man.postingsV &&
            headOf(statsRoot(root)) == man.statsV &&
            headOf(dlRoot(root)) == man.doclensV,
      s"orphan versions ahead of the manifest at $root — run an ingest or " +
      "delete (which supersedes them) before compacting")
    val pv = VersionedTable.compactPartitioned(spark, postRoot(root))
    val sv = VersionedTable.compactPartitioned(spark, statsRoot(root))
    val dv = VersionedTable.compactPartitioned(spark, dlRoot(root))
    writeManifest(spark, root,
      man.copy(postingsV = pv, statsV = sv, doclensV = dv))
  }

  /** DELETE documents from the index (the [[VecIndex.delete]]
    * lifecycle op for the lexical side — GDPR erasure, retired corpus
    * slices). Victims carry (doc_id, text) AS INGESTED: the tokenizer
    * is deterministic, so each victim's postings buckets and doclen
    * bucket are recomputed MAP-SIDE from its own text — no corpus
    * scan to locate anything. Only buckets that actually hold a
    * victim are rewritten (absent victims are a no-op — idempotent);
    * df stats decrement by the present victims' term memberships
    * (vocab-bounded rewrite, terms reaching df=0 leave the table);
    * meta scalars drop by the present victims' exact counts. After
    * delete, a probe scores the shrunken corpus with its NEW global
    * weights — same resolve-at-probe-time property as [[ingest]],
    * spec-pinned against a from-scratch build on corpus-minus-victims.
    *
    * Contract notes: victims must be passed as ingested (stale text
    * would leave orphan postings). A victim with ZERO tokens occupies
    * no postings/doclen state and its presence cannot be detected
    * here, so its n_docs contribution persists — deleting tokenless
    * docs exactly would need a doc registry (accept the one-count idf
    * skew or rebuild). The three table commits are not one atomic
    * transaction, but the MANIFEST flip is: probes keep the old
    * snapshot until the last rename, and a crash mid-delete leaves
    * only orphan versions the next mutation supersedes (everything
    * here reads and carries from the manifest-pinned versions, never
    * the raw head). Single-writer rule for mutations, like build. */
  def delete(spark: SparkSession, root: String, victims: DataFrame): Unit = {
    val man = readManifest(spark, root)
    val pv = man.postingsV
    val vtf = TextOps.tfFrame(victims).localCheckpoint()
    val buckets = vtf.select(bucketCol.as("b")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (buckets.isEmpty) return
    val slice =
      try VersionedTable.readPartitions(spark, postRoot(root), buckets, version = Some(pv))
      catch { case _: java.io.FileNotFoundException => return }
    val presentDocs = slice
      .join(vtf.select(col("doc_id")).distinct(), Seq("doc_id"))
      .select(col("doc_id")).distinct().localCheckpoint()
    val nPresent = presentDocs.count()
    if (nPresent == 0) return
    // postings: rewrite only buckets holding a victim row
    val hitBuckets = slice.join(presentDocs, Seq("doc_id"))
      .select(col("bucket")).distinct()
      .collect().map(_.getString(0)).toSet
    val rewrite = slice.filter(col("bucket").isin(hitBuckets.toSeq: _*))
      .join(presentDocs, Seq("doc_id"), "left_anti")
    val hitEnc = hitBuckets.map(VersionedTable.encodePartition)
    val carried = VersionedTable.entryPairsOf(spark, postRoot(root), pv)
      .filterNot { case (_, p) => p.exists(hitEnc.contains) }
    val pHead = VersionedTable.currentVersion(spark, postRoot(root)).getOrElse(pv)
    val newPv = VersionedTable.commitPartitionedCarrying(
      spark, postRoot(root), rewrite, "bucket", pHead, carried)
    // stats: df -= present victims' term memberships, df=0 rows leave
    // — partition-SCOPED like ingest's merge (only the victims'
    // term buckets are rewritten)
    val dec = vtf.join(presentDocs, Seq("doc_id"))
      .groupBy(col("term")).agg(count(lit(1)).as("dec"))
      .localCheckpoint()
    val decBuckets = dec.select(bucketCol.as("b")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val sv = man.statsV
    val newSv = if (decBuckets.isEmpty) sv else {
      val oldSlice = VersionedTable.readPartitions(spark, statsRoot(root), decBuckets, Some(sv))
        .select(col("term"), col("df"))
      val newStats = oldSlice.join(dec, Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("dec"), lit(0L))).as("df"))
        .filter(col("df") > 0)
        .withColumn("bucket", bucketCol)
      val decEnc = decBuckets.map(VersionedTable.encodePartition).toSet
      val sCarried = VersionedTable.entryPairsOf(spark, statsRoot(root), sv)
        .filterNot { case (_, p) => p.exists(decEnc.contains) }
      val sHead = VersionedTable.currentVersion(spark, statsRoot(root)).getOrElse(sv)
      VersionedTable.commitPartitionedCarrying(
        spark, statsRoot(root), newStats, "bucket", sHead, sCarried)
    }
    // doclens: rewrite only the victims' home doc-buckets
    val dv = man.doclensV
    val dBuckets = presentDocs.select(docBucketCol.as("b")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val dslice = VersionedTable.readPartitions(spark, dlRoot(root), dBuckets, version = Some(dv))
    val victimLens = dslice.join(presentDocs, Seq("doc_id"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head
    val dRewrite = dslice.join(presentDocs, Seq("doc_id"), "left_anti")
    val dEnc = dBuckets.map(VersionedTable.encodePartition).toSet
    val dCarried = VersionedTable.entryPairsOf(spark, dlRoot(root), dv)
      .filterNot { case (_, p) => p.exists(dEnc.contains) }
    val dHead = VersionedTable.currentVersion(spark, dlRoot(root)).getOrElse(dv)
    val newDv = VersionedTable.commitPartitionedCarrying(
      spark, dlRoot(root), dRewrite, "dbucket", dHead, dCarried)
    // manifest flips LAST; the streaming txn marker survives a delete
    // (a sink restart after maintenance must still skip its last batch)
    writeManifest(spark, root, Manifest(newPv, newSv, newDv,
      man.nDocs - nPresent,
      man.nDoclens - victimLens.getAs[Long]("n"),
      man.totalTokens -
        (if (victimLens.isNullAt(1)) 0L else victimLens.getAs[Long]("t")),
      man.txn))
  }

  /** Append a NEW document batch: O(batch) postings add-files into
    * the touched bucket dirs, O(batch) doclen appends, one
    * vocab-bounded stats rewrite (df = old + batch increments), the
    * manifest flipped LAST with the new pins + scalars. The next
    * [[probe]] scores the grown corpus with current global weights —
    * no rescoring pass exists or is needed (weights resolve at probe
    * time).
    *
    * `txn` is the streaming sink's idempotence marker (Delta's
    * txnAppId/txnVersion, the [[VersionedTable.appendRebaseTxn]]
    * contract applied to an index whose commit point is the
    * manifest): a retried or restarted micro-batch whose (appId,
    * batchId) is ≤ the manifest's recorded pair SKIPS instead of
    * double-appending postings and double-counting scalars. Because
    * the marker rides the manifest — the flip that makes a batch
    * visible — a batch is replayed iff it never became visible:
    * exactly-once on the probe-visible state. The guard is PER
    * appId: interleaved commits from a second writer never evict the
    * first's marker. */
  def ingest(spark: SparkSession, root: String, newDocs: DataFrame,
             txn: Option[(String, Long)] = None): Unit = {
    val man = readManifest(spark, root)
    txn.foreach { case (appId, batchId) =>
      if (man.txn.get(appId).exists(_ >= batchId))
        return // replayed batch: no-op
    }
    ingests += 1
    val manTxn = txn.fold(man.txn) { case (a, b) => man.txn + (a -> b) }
    // ONE map-side length pass serves the doclen rows, the manifest's
    // scalar deltas AND the batch doc count: dl per doc is a pure
    // array expression over the same split (size of the non-empty
    // tokens == sum(tf), the tokenize contract), so the old shape's
    // separate ndl groupBy+checkpoint, isEmpty probe, scalar agg and
    // newDocs.count() jobs collapse into one cheap scan + one tiny agg
    val toksNe = org.apache.spark.sql.functions.filter(
      split(lower(col("text")), " "), x => length(x) > 0)
    val perDoc = newDocs.select(col("doc_id"),
      size(toksNe).cast("long").as("dl")).localCheckpoint()
    val sc = perDoc.agg(count(lit(1)).as("docs"),
      count(when(col("dl") > 0, 1)).as("n"),
      sum(when(col("dl") > 0, col("dl"))).as("t")).head
    val batchDocs = sc.getAs[Long]("docs")
    if (sc.getAs[Long]("n") == 0L) { // an all-tokenless batch still counts as docs
      writeManifest(spark, root,
        man.copy(nDocs = man.nDocs + batchDocs, txn = manTxn))
      return
    }
    val ndl = perDoc.filter(col("dl") > 0)
    // ONE fused tokenize pass (tf + positions together — tfPosFrame):
    // it feeds the postings join and the df increments; un-fused, the
    // old shape tokenized and shuffled the batch twice per micro-batch
    val ntfp = tfPosFrame(newDocs).localCheckpoint()
    val pv = man.postingsV
    if (pv < 0) throw new IllegalStateException(s"no lexical index built at $root")
    // The three tables' commits are INDEPENDENT writes: visibility is
    // the manifest flip below (a crash before it leaves only orphan
    // versions the next mutation supersedes — class doc), so their
    // relative commit order carries no semantics. Run them as three
    // CONCURRENT driver threads (guide §2.6: overlap independent
    // jobs) — the three staged-write jobs back-fill each other's task
    // tails instead of running strictly in sequence; the wall cost of
    // an ingest drops from the SUM of three commit latencies to ~the
    // max. Inputs (ntfp, ndl) are checkpointed, so no subtree is
    // computed twice across threads.
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // postings append: new bucket dirs + the MANIFEST-pinned entry
    // list carried byte-for-byte (never the raw head's — a crashed
    // prior attempt's orphan dirs must not resurrect here)
    val postingsF = scala.concurrent.Future {
      val pCarried = VersionedTable.entryPairsOf(spark, postRoot(root), pv)
      val pHead = VersionedTable.currentVersion(spark, postRoot(root)).getOrElse(pv)
      VersionedTable.commitPartitionedCarrying(spark, postRoot(root),
        ntfp.join(ndl, Seq("doc_id"))
          .select(col("doc_id"), col("term"), col("tf"), col("dl"),
                  col("positions"))
          .withColumn("bucket", bucketCol),
        "bucket", pHead, pCarried)
    }
    // df merge, partition-SCOPED: only buckets holding a batch term
    // are rewritten; the rest of the vocab carries byte-for-byte
    val statsF = scala.concurrent.Future {
      val inc = ntfp.groupBy(col("term")).agg(count(lit(1)).as("dfi"))
        .localCheckpoint()
      val hitBuckets = inc.select(bucketCol.as("b")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val sv = man.statsV
      if (hitBuckets.isEmpty) sv else {
        val oldSlice = VersionedTable.readPartitions(spark, statsRoot(root), hitBuckets, Some(sv))
          .select(col("term"), col("df"))
        val merged = oldSlice.join(inc, Seq("term"), "full_outer")
          .select(col("term"),
            (coalesce(col("df"), lit(0L)) + coalesce(col("dfi"), lit(0L))).as("df"))
          .withColumn("bucket", bucketCol)
        val hitEnc = hitBuckets.map(VersionedTable.encodePartition).toSet
        val carried = VersionedTable.entryPairsOf(spark, statsRoot(root), sv)
          .filterNot { case (_, p) => p.exists(hitEnc.contains) }
        val sHead = VersionedTable.currentVersion(spark, statsRoot(root)).getOrElse(sv)
        VersionedTable.commitPartitionedCarrying(
          spark, statsRoot(root), merged, "bucket", sHead, carried)
      }
    }
    val doclensF = scala.concurrent.Future {
      val dv = man.doclensV
      val dCarried = VersionedTable.entryPairsOf(spark, dlRoot(root), dv)
      val dHead = VersionedTable.currentVersion(spark, dlRoot(root)).getOrElse(dv)
      VersionedTable.commitPartitionedCarrying(spark, dlRoot(root),
        ndl.withColumn("dbucket", docBucketCol), "dbucket", dHead, dCarried)
    }
    import scala.concurrent.duration.Duration
    val newPv = scala.concurrent.Await.result(postingsF, Duration.Inf)
    val newSv = scala.concurrent.Await.result(statsF, Duration.Inf)
    val newDv = scala.concurrent.Await.result(doclensF, Duration.Inf)
    // manifest flips LAST, after all three commits have landed —
    // scalars came from the one perDoc agg above, no extra jobs here
    writeManifest(spark, root, Manifest(newPv, newSv, newDv,
      man.nDocs + batchDocs,
      man.nDoclens + sc.getAs[Long]("n"),
      man.totalTokens + sc.getAs[Long]("t"), manTxn))
  }
}
