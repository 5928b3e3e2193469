package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The PERSISTED LSH corpus index — how incremental dedup actually
  * runs at 100 TB (the reference's analogue is the queue-skip gate
  * over already-landed records, queue_all_stocks_for_fetch.py: new
  * work probes persisted state, it never recomputes it). Two
  * [[VersionedTable]]s under one root:
  *
  *  - `<root>/bands`:    (doc_id, band, bkey) — the LSH band index
  *  - `<root>/shingles`: (doc_id, hs, pb)     — shingle sets for
  *    verification, so candidate verification never re-reads (or
  *    re-shingles) corpus documents; partition-native on
  *    pb = doc_id mod [[ShingleParts]] so a probe opens only the
  *    partition dirs its candidates live in
  *
  * The ingest cycle is probe -> admit -> index-append:
  * [[probe]] bands ONLY the batch and equi-joins it against the
  * persisted band table (at cluster scale you would write this as a
  * (band,bkey)-bucketed table so the probe co-locates; here the
  * VersionedTable layout + AQE covers the local case), verifies
  * candidates with true Jaccard over the persisted shingle store, and
  * [[ingest]] appends the ADMITTED docs' bands+shingles as O(batch)
  * add-file commits ([[VersionedTable.append]]) so the next batch sees
  * them — no corpus re-banding, no corpus re-pairing, ever. Banding
  * comes from the same [[Dedup.bandFrame]] the batch pipeline uses, so
  * index and probe cannot drift on which pairs ever meet.
  *
  * The two appends are separate commits (bands first); a crash between
  * them leaves admitted docs band-visible but unverifiable until the
  * next ingest retries — replaying the same batch is idempotent at the
  * pair level because banding is deterministic.
  */
object BandIndex {

  /** Times a corpus index was actually BUILT (not probed) — the
    * spec-pinned evidence that repeated d12 runs are probe-only. */
  @volatile var indexBuilds: Long = 0L

  private def bandsRoot(root: String) = s"$root/bands"
  private def shinglesRoot(root: String) = s"$root/shingles"
  private def retiredRoot(root: String) = s"$root/retired"

  /** Shingle-store partition fan-out: the store is partition-native on
    * pb = doc_id mod ShingleParts, so a probe reads ONLY the partition
    * dirs its candidate corpus docs live in — verification prunes IO,
    * not just compute. The probe's partition-id collection is bounded
    * by this constant (same bounded-collect class as
    * mergePartitioned's touched-partition list), never by data. */
  val ShingleParts = 16

  private def shinglePart = pmod(col("doc_id"), lit(ShingleParts.toLong)).cast("string")

  private def shingleFrame(docs: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions._
    docs.select(col("doc_id"), shingle_set(col("text")).as("hs"),
      shinglePart.as("pb"))
  }

  /** Build (or rebuild) the index from a corpus: one banding + one
    * shingling pass, committed as the two tables' next versions. The
    * shingle store is partition-native on pb ([[ShingleParts]]). */
  def build(spark: SparkSession, root: String, corpus: DataFrame): Unit = {
    indexBuilds += 1
    val bv = VersionedTable.currentVersion(spark, bandsRoot(root)).getOrElse(-1L)
    VersionedTable.commit(spark, bandsRoot(root), Dedup.bandFrame(corpus), bv)
    val sv = VersionedTable.currentVersion(spark, shinglesRoot(root)).getOrElse(-1L)
    VersionedTable.commitPartitioned(spark, shinglesRoot(root), shingleFrame(corpus), "pb", sv)
  }

  /** Verified near-dup pairs (batch_doc, corpus_doc, jac) of a batch
    * against the PERSISTED index. Only the batch is banded/shingled
    * from text; the corpus side is two index reads: candidates from
    * the band equi-join (never all-pairs), and shingles read ONLY
    * from the partition dirs the candidates' corpus docs live in
    * (the store is partition-native on doc_id mod [[ShingleParts]] —
    * verification prunes IO, not just compute; a probe whose
    * candidates hit 2 of 16 partitions opens 2 dirs). The remaining
    * O(corpus) term is the columnar scan of the BAND table — that is
    * what the (band,bkey)-bucketed layout ([[buildBucketed]]) is for.
    *
    * The candidate frame materializes at call time (its partition ids
    * drive the pruned read — a driver-side list bounded by
    * ShingleParts, never by data).
    */
  def probe(spark: SparkSession, root: String, batch: DataFrame,
            minJaccard: Double = 0.3): DataFrame = {
    import graft.functions.GraftFunctions._
    val batchBands = Dedup.bandFrame(batch)
      .select(col("doc_id").as("batch_doc"), col("band"), col("bkey"))
    // ORDERING INVARIANT (serve-while-mutate, the LexIndex-manifest
    // concern solved by commit order here): the BAND version must
    // resolve BEFORE the shingle version. ingest commits bands first,
    // shingles second, and both are append-only — so a bands-first
    // probe can only pair bands@k with shingles@≥k, and every band
    // candidate finds its shingles (newer shingle rows are simply
    // unused). Resolving shingles first could pair newer bands with
    // older shingles and silently DROP verified pairs. compact (the
    // one remover) stays under the single-writer maintenance rule.
    val allBands = VersionedTable.read(spark, bandsRoot(root))
      .select(col("doc_id").as("corpus_doc"), col("band"), col("bkey"))
    // retired docs are tombstoned, not yet physically removed: a probe
    // must not match them (their text has left the corpus). The
    // tombstone list is id-only and tiny relative to the index — the
    // anti-join broadcasts from its real size under AQE.
    val idxBands = retiredIds(spark, root) match {
      case Some(r) =>
        allBands.join(r.select(col("doc_id").as("corpus_doc")),
                      Seq("corpus_doc"), "left_anti")
      case None => allBands
    }
    // materialized once (the candidate stage is a storage boundary,
    // exactly like DedupPipeline.candidates): three consumers below —
    // without this the candidate subtree re-executes per consumer.
    // Lazy: the checkpoint fills on the partition-id pass below
    val cand = batchBands.join(idxBands, Seq("band", "bkey"))
      .select(col("batch_doc"), col("corpus_doc"))
      .distinct()
      .localCheckpoint(eager = false)
    val parts = cand
      .select(pmod(col("corpus_doc"), lit(ShingleParts.toLong)).cast("string").as("pb"))
      .distinct().collect().map(_.getString(0)).sorted
    if (parts.isEmpty) // no candidates: nothing to verify, no store read
      return cand.select(col("batch_doc"), col("corpus_doc"), lit(0.0).as("jac")).limit(0)
    // a store persisted by the pre-partitioned layout (unscoped dirs)
    // stays readable: fall back to the full scan it always got —
    // pruning is an optimization, not a format break
    val shV = VersionedTable.currentVersion(spark, shinglesRoot(root))
    val shStore =
      if (shV.exists(v => VersionedTable.partitionNative(spark, shinglesRoot(root), v)))
        VersionedTable.readPartitions(spark, shinglesRoot(root), parts, shV)
      else VersionedTable.read(spark, shinglesRoot(root))
    val shB = batch
      .join(cand.select(col("batch_doc").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("batch_doc"), shingle_set(col("text")).as("hs_b"))
    val shC = shStore
      .join(cand.select(col("corpus_doc").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("corpus_doc"), col("hs").as("hs_c"))
    cand.join(shB, "batch_doc").join(shC, "corpus_doc")
      .withColumn("jac", arr_jaccard(col("hs_b"), col("hs_c")))
      .filter(col("jac") >= minJaccard)
      .select(col("batch_doc"), col("corpus_doc"), Rounding.roundN(col("jac"), 4).as("jac"))
  }

  /** The current tombstone list, if any retire has ever run. */
  private def retiredIds(spark: SparkSession, root: String): Option[DataFrame] =
    VersionedTable.currentVersion(spark, retiredRoot(root))
      .map(_ => VersionedTable.read(spark, retiredRoot(root)))

  /** RETIRE documents from the index (corpus deletions: GDPR erasure,
    * takedowns, d10-style cluster prunes). Band rows are keyed by
    * CONTENT (band, bkey) and scattered across the whole table, so
    * eager physical removal would rewrite O(table) per batch; instead
    * the doc ids land on a tombstone table in ONE O(batch) commit
    * (the deletion-vector trade Delta makes), [[probe]] anti-joins
    * candidates against it from that moment on, and
    * [[compactRetired]] is the periodic fold that pays the rewrite
    * once for many retirements. Idempotent: re-retiring an id is a
    * no-op at probe level (anti-join semantics). */
  def retire(spark: SparkSession, root: String, docIds: DataFrame): Unit = {
    val df = docIds.select(col("doc_id")).distinct()
    VersionedTable.currentVersion(spark, retiredRoot(root)) match {
      case Some(rv) => VersionedTable.append(spark, retiredRoot(root), df, rv)
      case None     => VersionedTable.commit(spark, retiredRoot(root), df, -1L)
    }
  }

  /** Fold the tombstones into the physical layout — the OPTIMIZE pass
    * of the retire cycle: rewrite the band table minus retired docs
    * (O(table), stated honestly — this is why it amortizes many
    * [[retire]] batches), rewrite ONLY the shingle partitions retired
    * docs live in (partition-scoped: pb = doc_id mod [[ShingleParts]]
    * is id-derived, so touched dirs are computable without a scan),
    * then clear the tombstone list. Every table stays
    * time-travelable across the fold. */
  def compactRetired(spark: SparkSession, root: String): Unit = {
    val rOpt = retiredIds(spark, root)
    if (rOpt.isEmpty) return
    val retired = rOpt.get.select(col("doc_id")).distinct().localCheckpoint()
    if (retired.isEmpty) return
    val bv = VersionedTable.currentVersion(spark, bandsRoot(root)).getOrElse(-1L)
    if (bv >= 0) {
      val kept = VersionedTable.read(spark, bandsRoot(root))
        .join(retired, Seq("doc_id"), "left_anti")
      VersionedTable.commit(spark, bandsRoot(root), kept, bv)
    }
    val svOpt = VersionedTable.currentVersion(spark, shinglesRoot(root))
    svOpt.foreach { sv =>
      if (VersionedTable.partitionNative(spark, shinglesRoot(root), sv)) {
        val parts = retired
          .select(pmod(col("doc_id"), lit(ShingleParts.toLong)).cast("string").as("pb"))
          .distinct().collect().map(_.getString(0)).sorted.toSeq
        try {
          val slice = VersionedTable.readPartitions(spark, shinglesRoot(root), parts, Some(sv))
          val rewrite = slice.join(retired, Seq("doc_id"), "left_anti")
          val touched = parts.map(VersionedTable.encodePartition).toSet
          val carried = VersionedTable.entriesOf(spark, shinglesRoot(root), sv)
            .filterNot(_.part.exists(touched.contains))
          VersionedTable.commitPartitionedCarrying(
            spark, shinglesRoot(root), rewrite, "pb", sv, carried)
        } catch { case _: java.io.FileNotFoundException => () } // no dirs touched
      } else {
        val kept = VersionedTable.read(spark, shinglesRoot(root))
          .join(retired, Seq("doc_id"), "left_anti")
        VersionedTable.commit(spark, shinglesRoot(root), kept, sv)
      }
    }
    val rv = VersionedTable.currentVersion(spark, retiredRoot(root)).get
    VersionedTable.commit(spark, retiredRoot(root), retired.limit(0), rv)
  }

  /** The CLUSTER-SCALE index layout: the band table written as a
    * catalog table BUCKETED by (band, bkey) — the layout the probe
    * join wants at 100 TB, where the index is the big side and must
    * never shuffle. A probe against it plans as a sort-merge join
    * whose ONLY exchange is the batch side being shuffled into the
    * index's bucket scheme (spec-pinned with broadcast disabled; with
    * broadcast on, a small batch is broadcast instead — either way the
    * index side moves zero rows). Appending admitted bands keeps the
    * bucket spec (`insertInto` on a bucketed table re-buckets the
    * delta). The VersionedTable layout above keeps time
    * travel/atomicity; this one buys shuffle-free probes — a real
    * deployment uses a bucketed Iceberg/Delta table and gets both.
    */
  def buildBucketed(spark: SparkSession, table: String, corpus: DataFrame,
                    buckets: Int = 32): Unit = {
    indexBuilds += 1
    Dedup.bandFrame(corpus).write.mode("overwrite")
      .bucketBy(buckets, "band", "bkey").sortBy("band", "bkey")
      .format("parquet").saveAsTable(table)
  }

  /** Append a batch's bands to the BUCKETED index, KEEPING the bucket
    * spec: `insertInto` on a bucketed catalog table shuffles only the
    * delta into the table's bucket scheme and writes bucket-tagged
    * files — the next probe is still shuffle-free on the index side
    * (spec-pinned). This is the admitted-docs path of the ingest loop
    * on the cluster-scale layout; O(batch) write, the existing index
    * files are never touched. */
  def appendBucketed(spark: SparkSession, table: String, docs: DataFrame): Unit =
    Dedup.bandFrame(docs).write.mode("append").insertInto(table)

  /** Candidate pairs of a batch against the BUCKETED index — the
    * band equi-join only (verification composes over any shingle
    * store); the index side scans in place, bucket-aligned. */
  def bucketedCandidates(spark: SparkSession, table: String,
                         batch: DataFrame): DataFrame =
    Dedup.bandFrame(batch)
      .select(col("doc_id").as("batch_doc"), col("band"), col("bkey"))
      .join(spark.table(table)
              .select(col("doc_id").as("corpus_doc"), col("band"), col("bkey")),
            Seq("band", "bkey"))
      .select(col("batch_doc"), col("corpus_doc"))
      .distinct()

  /** The closed loop: probe the batch, ADMIT every batch doc with no
    * verified match, append the admitted docs' bands and shingles to
    * the index (O(batch) add-file commits) so subsequent batches see
    * them. Returns (admitted docs, verified pairs).
    *
    * Concurrency contract: ONE ingest loop per index. Two concurrent
    * ingests both probe the pre-append index, so near-dups BETWEEN
    * their batches are admitted on both sides (the append commits
    * themselves are conflict-safe via VersionedTable's optimistic
    * concurrency — racing ingests fail fast rather than corrupt).
    * Serialize batches, or dedupe within the union of concurrent
    * batches first (d02 on the combined batch). */
  def ingest(spark: SparkSession, root: String, batch: DataFrame,
             minJaccard: Double = 0.3): (DataFrame, DataFrame) = {
    val pairs = probe(spark, root, batch, minJaccard).localCheckpoint()
    val admitted = batch
      .join(pairs.select(col("batch_doc").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // an all-duplicate batch admits nothing — commit nothing, or
    // steady-state ingest churns two empty versions per micro-batch
    // (log growth, probe-tail growth, vacuum work, zero information)
    if (!admitted.isEmpty) {
      // decide the shingle append MODE before committing ANYTHING: a
      // legacy (pre-partitioned, unscoped-dir) store would fail
      // appendPartitioned's partition-native require AFTER the bands
      // append had already committed, leaving the two tables one
      // version out of step mid-cycle. Probe already falls back to a
      // full read on such stores; the write side gets the matching
      // fallback (plain append), so the tables advance together on
      // either layout.
      val sv = VersionedTable.currentVersion(spark, shinglesRoot(root)).getOrElse(-1L)
      val shingleNative = sv < 0 ||
        VersionedTable.partitionNative(spark, shinglesRoot(root), sv)
      val bv = VersionedTable.currentVersion(spark, bandsRoot(root)).getOrElse(-1L)
      VersionedTable.append(spark, bandsRoot(root), Dedup.bandFrame(admitted), bv)
      if (shingleNative)
        VersionedTable.appendPartitioned(spark, shinglesRoot(root), shingleFrame(admitted), "pb", sv)
      else
        VersionedTable.append(spark, shinglesRoot(root), shingleFrame(admitted), sv)
    }
    (admitted, pairs)
  }
}
