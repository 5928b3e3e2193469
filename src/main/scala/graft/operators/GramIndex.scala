package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The PERSISTED positional-gram posting index — d14's substring-span
  * detection in the incremental-ingest shape d12/BandIndex give
  * document-level dedup: the corpus's (gram, doc, pos) postings live
  * as a [[VersionedTable]], a new batch's postings probe them with NO
  * corpus re-tokenization or re-hashing, and admitted docs' postings
  * APPEND as O(batch) add-file commits so the next batch sees them.
  *
  * The hot-gram cap (grams in more than `dfCap` corpus docs are
  * dropped at BUILD time) is the same skew guard as d14's gate — the
  * standard inverted-index discipline: boilerplate grams explode the
  * probe join quadratically and carry no dedup signal. Appends do not
  * re-apply the cap (an appended doc could push a gram past it);
  * periodic [[build]] from the full corpus re-levels it, and
  * [[rebuildRecommended]] says WHEN that is due (appended-doc count
  * tracked in a meta sidecar) — the same compaction-refresh contract
  * as the band index, with an explicit degradation signal.
  *
  * At 100 TB the posting table gets bucketed by gram (the BandIndex
  * buildBucketed treatment) so probes never shuffle the index side;
  * the VersionedTable layout here keeps time travel + atomic appends.
  */
object GramIndex {

  /** Times a posting index was BUILT (not probed) — the d12-style
    * evidence that repeated incremental runs are probe-only. */
  @volatile var indexBuilds: Long = 0L

  /** Recommend a rebuild when appends have grown the corpus past this
    * fraction of its size at the last [[build]]. */
  val RebuildFraction = 0.25

  private def metaPath(root: String) = s"$root/_gram_meta"

  private def hfs(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def retiredRoot(root: String) = s"$root/_retired"

  private def readMeta(spark: SparkSession, root: String): Option[(Long, Long, Long)] =
    try {
      val f = hfs(spark, root)
      val in = f.open(new org.apache.hadoop.fs.Path(metaPath(root)))
      val kv = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n").map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v.toLong }.toMap
      finally in.close()
      // retired_docs is absent on pre-retire indexes — read it as 0
      Some((kv("built_docs"), kv("appended_docs"), kv.getOrElse("retired_docs", 0L)))
    } catch { case _: Exception => None }

  private def writeMeta(spark: SparkSession, root: String, builtDocs: Long,
                        appendedDocs: Long, retiredDocs: Long = 0L): Unit = {
    // temp + rename (GraphIndex's meta discipline): a reader racing a
    // concurrent maintenance pass sees old-or-new, never a torn file
    val f = hfs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(
      s"${metaPath(root)}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, /* overwrite = */ false)
    try out.write(
      s"built_docs=$builtDocs\nappended_docs=$appendedDocs\nretired_docs=$retiredDocs\n"
      .getBytes("UTF-8"))
    finally out.close()
    val target = new org.apache.hadoop.fs.Path(metaPath(root))
    f.delete(target, false)
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"could not publish gram meta at $root")
    }
  }

  /** Whether the periodic [[build]] is DUE: appends never re-apply the
    * hot-gram cap, so a long append chain can push boilerplate grams
    * arbitrarily past `dfCap` and quadratically degrade every probe
    * join — and without a signal nobody knows when "periodic" has
    * arrived. Build/append track corpus doc counts in a meta sidecar;
    * the recommendation fires when appended docs exceed
    * [[RebuildFraction]] of the built corpus (the cap can drift by at
    * most that factor before re-leveling). An index with no meta (one
    * built before tracking, so its drift is UNKNOWN) recommends
    * conservatively. Same single-ingest-loop write contract as
    * [[BandIndex.ingest]] — concurrent appends would race the meta
    * rewrite, not corrupt the index itself. The DataSkipping analogue:
    * recluster is the degradation response for z-order, this is the
    * degradation response for the posting cap. */
  def rebuildRecommended(spark: SparkSession, root: String): Boolean =
    readMeta(spark, root) match {
      case Some((built, appended, retired)) =>
        // retirements are churn like appends: tombstoned postings
        // still ride every probe join until the fold
        appended + retired > built.max(1L) * RebuildFraction
      case None => true
    }

  private def postings(docs: DataFrame, n: Int): DataFrame = {
    import graft.functions.GraftFunctions._
    docs.select(col("doc_id"),
        posexplode(word_gram_pos_hashes(col("text"), n)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("gram"))
  }

  /** Build (or rebuild) the index: one tokenize+hash pass over the
    * corpus, hot grams dropped, committed as the table's next
    * version. */
  def build(spark: SparkSession, root: String, corpus: DataFrame,
            n: Int = 8, dfCap: Int = 64): Unit = {
    indexBuilds += 1
    // one tokenize+hash pass: the hot-gram aggregate AND the anti-join
    // side both read this frame (without the checkpoint the subtree
    // executes twice per build)
    val g = postings(corpus, n).localCheckpoint(eager = false)
    val hot = g.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > dfCap).select(col("gram"))
    val idx = g.join(hot, Seq("gram"), "left_anti")
    val v = VersionedTable.currentVersion(spark, root).getOrElse(-1L)
    VersionedTable.commit(spark, root, idx, v)
    writeMeta(spark, root, corpus.select(col("doc_id")).distinct().count(), 0L, 0L)
  }

  /** Append a batch's postings (no cap re-check — see class doc;
    * [[rebuildRecommended]] says when the drift is due a re-level):
    * O(batch) add-file commit. `txn`: an (appId, batchId) idempotence
    * marker riding the posting table's atomic commit — a re-executed
    * micro-batch (streaming sink restart, retried foreachBatch) is
    * detected via [[VersionedTable.lastTxnBatch]] and skipped whole
    * (no double-appended postings, no double-counted churn meta). */
  def append(spark: SparkSession, root: String, docs: DataFrame, n: Int = 8,
             txn: Option[(String, Long)] = None): Unit = {
    if (txn.exists { case (app, b) =>
          VersionedTable.lastTxnBatch(spark, root, app).exists(_ >= b) })
      return
    val v = VersionedTable.currentVersion(spark, root).getOrElse(-1L)
    // the churn-meta count is independent of the commit — overlap it
    // with the append's staging job (guide §2.6, the GraphIndex/
    // VecIndex ingest discipline)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val batchDocsF = scala.concurrent.Future {
      docs.select(col("doc_id")).distinct().count()
    }
    VersionedTable.append(spark, root, postings(docs, n), v, txn = txn)
    val batchDocs = scala.concurrent.Await.result(
      batchDocsF, scala.concurrent.duration.Duration.Inf)
    readMeta(spark, root).foreach { case (built, appended, retired) =>
      writeMeta(spark, root, built, appended + batchDocs, retired)
    }
  }

  /** The current tombstone list, if any [[retire]] has ever run. The
    * table lives under `<root>/_retired` — outside the posting
    * table's entry lists, so posting reads never see it. */
  private def retiredIds(spark: SparkSession, root: String): Option[DataFrame] =
    VersionedTable.currentVersion(spark, retiredRoot(root))
      .map(_ => VersionedTable.read(spark, retiredRoot(root)))

  /** RETIRE documents' postings — the [[BandIndex.retire]] trade for
    * the span index: postings are gram-keyed and content-scattered, so
    * eager removal would rewrite O(table) per batch. One O(batch)
    * tombstone commit; [[probe]] anti-joins the corpus side against it
    * from that moment; [[compactRetired]] folds. Retired docs count
    * toward [[rebuildRecommended]]'s churn. */
  def retire(spark: SparkSession, root: String, docIds: DataFrame): Unit = {
    val df = docIds.select(col("doc_id")).distinct()
    VersionedTable.currentVersion(spark, retiredRoot(root)) match {
      case Some(rv) => VersionedTable.append(spark, retiredRoot(root), df, rv)
      case None     => VersionedTable.commit(spark, retiredRoot(root), df, -1L)
    }
    val n = df.count()
    readMeta(spark, root).foreach { case (built, appended, retired) =>
      writeMeta(spark, root, built, appended, retired + n)
    }
  }

  /** Fold tombstones into the physical postings — ONE O(table)
    * rewrite amortizing many [[retire]] batches, then clear the list.
    * (The per-doc churn counter stays until the next [[build]]
    * re-levels the cap — a fold removes rows but does not re-check
    * hot grams.) */
  def compactRetired(spark: SparkSession, root: String): Unit = {
    val rOpt = retiredIds(spark, root)
    if (rOpt.isEmpty) return
    val retired = rOpt.get.select(col("doc_id")).distinct().localCheckpoint()
    if (retired.isEmpty) return
    val v = VersionedTable.currentVersion(spark, root).getOrElse(-1L)
    if (v >= 0) {
      val kept = VersionedTable.read(spark, root)
        .join(retired, Seq("doc_id"), "left_anti")
      VersionedTable.commit(spark, root, kept, v)
    }
    val rv = VersionedTable.currentVersion(spark, retiredRoot(root)).get
    VersionedTable.commit(spark, retiredRoot(root), retired.limit(0), rv)
  }

  /** Duplicated spans of `batch` against the PERSISTED index: batch
    * postings (tokenized fresh — the only text work) equi-join the
    * stored postings on gram, matched coordinates merge into maximal
    * spans by gaps-and-islands per (pair, diagonal) — d14's kernel
    * with the corpus side read, never recomputed. Output:
    * (batch_doc, corpus_doc, b_start, c_start, span_toks).
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame,
            n: Int = 8, minTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = postings(batch, n)
      .select(col("doc_id").as("batch_doc"), col("pos").as("pos_b"), col("gram"))
    val allIdx = VersionedTable.read(spark, root)
      .select(col("doc_id").as("corpus_doc"), col("pos").as("pos_c"), col("gram"))
    // tombstoned docs must not match (their text has left the corpus);
    // the id-only list is tiny — AQE broadcasts the anti-join
    val idx = retiredIds(spark, root) match {
      case Some(r) =>
        allIdx.join(r.select(col("doc_id").as("corpus_doc")),
                    Seq("corpus_doc"), "left_anti")
      case None => allIdx
    }
    val w = Window.partitionBy(col("batch_doc"), col("corpus_doc"), col("diag"))
      .orderBy(col("pos_b"))
    bg.join(idx, Seq("gram"))
      .select(col("batch_doc"), col("corpus_doc"), col("pos_b"), col("pos_c"))
      .withColumn("diag", col("pos_b") - col("pos_c"))
      .withColumn("isl", col("pos_b") - row_number().over(w))
      .groupBy(col("batch_doc"), col("corpus_doc"), col("diag"), col("isl"))
      .agg(min(col("pos_b")).as("b_start"), min(col("pos_c")).as("c_start"),
           (max(col("pos_b")) - min(col("pos_b")) + lit(n.toLong)).as("span_toks"))
      .filter(col("span_toks") >= minTokens)
      .select(col("batch_doc"), col("corpus_doc"), col("b_start"),
              col("c_start"), col("span_toks"))
  }
}
