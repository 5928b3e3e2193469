package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The PERSISTED IVF vector index — ANN search in the
  * incremental-ingest shape [[BandIndex]] gives document dedup and
  * [[GramIndex]] gives substring dedup (reference analogue: the
  * queue-skip gate over already-landed records — new work probes
  * persisted state, it never recomputes it). Two [[VersionedTable]]s
  * under one root:
  *
  *  - `<root>/centroids`: (cent_id, cemb) — K ~ sqrt(n) rows, tiny
  *  - `<root>/vectors`:   (vec_id, embedding, nrm, cell) —
  *    partition-native on cell, so THE INVERTED LISTS ARE PARTITION
  *    DIRS: a probe of nProbe cells opens nProbe dirs and reads
  *    nothing else. This is the literal on-disk form of IVF — the
  *    candidate restriction that s03/s05 express as a cell equi-join
  *    becomes dir-pruned IO before any scan starts.
  *
  * The ingest cycle is probe -> append: [[probe]] assigns ONLY the
  * query batch to its nProbe nearest cells via the broadcast persisted
  * centroid table and ranks cosine inside the opened dirs; [[ingest]]
  * assigns a new vector batch to its home cells and appends O(batch)
  * add-file commits ([[VersionedTable.appendPartitioned]]) so the next
  * probe sees them — the corpus is never re-assigned, never re-read.
  *
  * Appends reuse the BUILD-time centroids (an append must not move
  * the Voronoi grid under existing lists); drift is the documented
  * cost, [[rebuildRecommended]] is the signal (meta-sidecar vector
  * counts, the [[GramIndex]] contract), and [[build]] — seeded by an
  * s04 Lloyd refinement at production scale — is the re-level, the
  * recluster analogue for vector space. Probe-side collects are
  * bounded by queries x nProbe cell ids (never by corpus data).
  */
object VecIndex {

  /** Times a vector index was actually BUILT (not probed) — the
    * d12-style evidence that repeated s12 runs are probe-only. */
  @volatile var indexBuilds: Long = 0L

  /** Recommend a rebuild when appends have grown the corpus past this
    * fraction of its size at the last [[build]] (stale centroids skew
    * cell occupancy; the census is the verification). */
  val RebuildFraction = 0.25

  private def vecsRoot(root: String) = s"$root/vectors"
  private def centsRoot(root: String) = s"$root/centroids"
  private def metaPath(root: String) = s"$root/_vec_meta"

  private def hfs(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  private def readMeta(spark: SparkSession, root: String): Option[(Long, Long, Long)] =
    try {
      val f = hfs(spark, root)
      val in = f.open(new org.apache.hadoop.fs.Path(metaPath(root)))
      val kv = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n").map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v.toLong }.toMap
      finally in.close()
      // deleted_vecs is absent on pre-delete indexes — read it as 0
      Some((kv("built_vecs"), kv("appended_vecs"), kv.getOrElse("deleted_vecs", 0L)))
    } catch { case _: Exception => None }

  private def writeMeta(spark: SparkSession, root: String, builtVecs: Long,
                        appendedVecs: Long, deletedVecs: Long = 0L): Unit = {
    // temp + rename (GraphIndex's meta discipline): a reader racing a
    // concurrent maintenance pass sees old-or-new, never a torn file
    val f = hfs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(
      s"${metaPath(root)}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, /* overwrite = */ false)
    try out.write(
      s"built_vecs=$builtVecs\nappended_vecs=$appendedVecs\ndeleted_vecs=$deletedVecs\n"
      .getBytes("UTF-8"))
    finally out.close()
    val target = new org.apache.hadoop.fs.Path(metaPath(root))
    f.delete(target, false)
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"could not publish vec meta at $root")
    }
  }

  /** Whether centroid re-training is DUE (same contract as
    * [[GramIndex.rebuildRecommended]]): appends never move centroids,
    * so cell occupancy drifts as the appended fraction grows; past
    * [[RebuildFraction]] the index should be re-built from the grown
    * corpus (with a Lloyd step, s04, at production scale). No meta =
    * unknown drift = recommend conservatively. */
  def rebuildRecommended(spark: SparkSession, root: String): Boolean =
    readMeta(spark, root) match {
      case Some((built, appended, deleted)) =>
        // deletions skew occupancy exactly like appends (a drained
        // cell's centroid still attracts probes) — both count as churn
        appended + deleted > built.max(1L) * RebuildFraction
      case None => true
    }

  /** Nearest-centroid (top-1) assignment of `vecs` against a centroid
    * frame — identical ordering convention to s03's assignedCells
    * (csim desc, cent_id tiebreak) so index and batch-mode search
    * cannot drift on cell membership. */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cent_id"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("csim", vec_dot(col("embedding"), col("cemb")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"),
              vec_norm(col("embedding")).as("nrm"),
              col("cent_id").cast("string").as("cell"))
  }

  /** Build (or rebuild) the index from a corpus: centroids = the
    * corpus vectors with ids `centIds` (the oracle-pinned stand-in
    * for sampled k-means — production seeds these with an s04 Lloyd
    * pass), then one assignment pass committed partition-native on
    * cell. */
  def build(spark: SparkSession, root: String, corpus: DataFrame,
            centIds: Seq[Long] = Similarity.centroidIds): Unit = {
    indexBuilds += 1
    val cents = corpus.filter(col("vec_id").isin(centIds: _*))
      .select(col("vec_id").as("cent_id"), col("embedding").as("cemb"))
    val cv = VersionedTable.currentVersion(spark, centsRoot(root)).getOrElse(-1L)
    VersionedTable.commit(spark, centsRoot(root), cents, cv)
    val vv = VersionedTable.currentVersion(spark, vecsRoot(root)).getOrElse(-1L)
    VersionedTable.commitPartitioned(
      spark, vecsRoot(root), assign(corpus, cents), "cell", vv)
    writeMeta(spark, root, corpus.count(), 0L, 0L)
  }

  /** Top-k cosine neighbors of each query vector over ONLY the probed
    * cells' partition dirs: queries fan out to their nProbe nearest
    * cells (broadcast centroid table — K rows), the DISTINCT probed
    * cell ids (bounded by queries x nProbe, never by data) drive a
    * dir-pruned [[VersionedTable.readPartitions]], and ranking runs on
    * the opened lists. A corpus vector lives in exactly one cell, so
    * candidates are unique without a dedup stage. */
  def probe(spark: SparkSession, root: String, queries: DataFrame,
            k: Int = 3, nProbe: Int = 2): DataFrame = {
    import graft.functions.GraftFunctions._
    import org.apache.spark.sql.expressions.Window
    val cents = VersionedTable.read(spark, centsRoot(root))
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cent_id"))
    // materialized once: the distinct-cell pass below drives the
    // pruned read, then the join consumes the same frame
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("csim", vec_dot(col("embedding"), col("cemb")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
              vec_norm(col("embedding")).as("qn"),
              col("cent_id").cast("string").as("cell"))
      .localCheckpoint(eager = false)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val empty = probes.select(col("q_id"), col("q_id").as("neighbor_id"),
      lit(0L).as("rank"), lit(0.0).as("cos")).limit(0)
    if (cells.isEmpty) return empty
    // a probed cell with no corpus vectors has no dirs; readPartitions
    // drops it — only an entirely-dirless probe set short-circuits
    val corpus =
      try VersionedTable.readPartitions(spark, vecsRoot(root), cells)
      catch { case _: java.io.FileNotFoundException => return empty }
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    corpus
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"),
              col("nrm").as("cn"), col("cell"))
      .join(probes.select(col("q_id"), col("qe"), col("qn"), col("cell")), Seq("cell"))
      .withColumn("cos", vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id").as("neighbor_id"),
              col("rank").cast("long").as("rank"),
              Rounding.roundN(col("cos"), 4).as("cos"))
  }

  /** Append a new vector batch into the index: assignment against the
    * PERSISTED centroids (the grid must not move under existing
    * lists), then O(batch) add-file commits into the batch's home-cell
    * dirs. The next [[probe]] sees the batch with no corpus work. Meta
    * tracks the appended count for [[rebuildRecommended]]. */
  def ingest(spark: SparkSession, root: String, batch: DataFrame): Unit = {
    val cents = VersionedTable.read(spark, centsRoot(root))
    val vv = VersionedTable.currentVersion(spark, vecsRoot(root)).getOrElse(
      throw new IllegalStateException(s"no index built at $root"))
    // the churn-meta count is independent of the commit — overlap it
    // with the append's staging job (guide §2.6) instead of paying a
    // separate sequential job after the commit lands
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val batchCountF = scala.concurrent.Future { batch.count() }
    VersionedTable.appendPartitioned(
      spark, vecsRoot(root), assign(batch, cents), "cell", vv)
    val batchCount = scala.concurrent.Await.result(
      batchCountF, scala.concurrent.duration.Duration.Inf)
    val (built, appended, deleted) = readMeta(spark, root).getOrElse((0L, 0L, 0L))
    writeMeta(spark, root, built, appended + batchCount, deleted)
  }

  /** DELETE vectors from the index (FAISS `remove_ids`, the lifecycle
    * op ingest-only indexes lack — GDPR erasure, retired corpus
    * slices, d17-style semantic prunes). The batch carries
    * (vec_id, embedding) AS INGESTED: assignment is deterministic
    * against the persisted centroids (appends never move the grid), so
    * each victim's home cell is computed MAP-SIDE from its embedding —
    * no corpus scan to locate it. Only cells that actually hold a
    * victim are rewritten (read → anti-join → partition-scoped
    * rewrite); every other inverted list is carried forward
    * byte-for-byte in the commit's entry list, and a batch whose
    * victims are all absent publishes nothing (idempotent re-delete).
    * Cost: O(touched cells) read+rewrite + O(1) carry — the
    * mergePartitioned discipline pointed at removal. The old version
    * stays time-travelable (readAsOf sees the pre-delete lists);
    * deletions count toward [[rebuildRecommended]]'s churn signal
    * exactly like appends. Returns the published version (unchanged
    * version = nothing deleted).
    *
    * Concurrency: the rewrite commits against the version read at
    * entry under the table's optimistic concurrency — a racing ingest
    * or second delete surfaces as [[graft.sources.VersionedTable.VersionConflictException]]
    * rather than silent loss; the caller re-runs against the fresh
    * snapshot (the single-maintenance-loop contract every index
    * write path states). */
  def delete(spark: SparkSession, root: String, victims: DataFrame): Long = {
    val cents = VersionedTable.read(spark, centsRoot(root))
    val vv = VersionedTable.currentVersion(spark, vecsRoot(root)).getOrElse(
      throw new IllegalStateException(s"no index built at $root"))
    val homed = assign(victims, cents)
      .select(col("vec_id"), col("cell")).localCheckpoint()
    val cells = homed.select(col("cell")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (cells.isEmpty) return vv
    val slice =
      try VersionedTable.readPartitions(spark, vecsRoot(root), cells, version = Some(vv))
      catch { case _: java.io.FileNotFoundException => return vv }
    // which probed cells actually hold a victim — absent victims must
    // not force a rewrite (idempotence), and the victim count is the
    // churn the meta records
    val present = slice
      .join(homed.select(col("vec_id")), Seq("vec_id"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (present.isEmpty) return vv
    val hitCells = present.keySet
    val nDeleted = present.values.sum
    val rewrite = slice
      .filter(col("cell").isin(hitCells.toSeq: _*))
      .join(homed.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val hitEnc = hitCells.map(VersionedTable.encodePartition)
    val carried = VersionedTable.entriesOf(spark, vecsRoot(root), vv)
      .filterNot(_.part.exists(hitEnc.contains))
    val next = VersionedTable.commitPartitionedCarrying(
      spark, vecsRoot(root), rewrite, "cell", vv, carried)
    val (built, appended, deleted) = readMeta(spark, root).getOrElse((0L, 0L, 0L))
    writeMeta(spark, root, built, appended, deleted + nDeleted)
    next
  }

  /** Admission-controlled ingest — the [[BandIndex.ingest]] contract
    * for vectors: probe the batch against the index, ADMIT only
    * vectors whose nearest indexed neighbor is below `maxCos`
    * (embedding-level near-dup gating, d05's threshold semantics on
    * the ingest path), append the admitted vectors O(batch). Returns
    * (admitted, nearDupPairs). An admitted vector is visible to the
    * very next probe; a near-dup is turned away at the gate and never
    * enters the index. Rejections are judged against the index state
    * at batch START (both frames materialize before the append). */
  def ingestDedup(spark: SparkSession, root: String, batch: DataFrame,
                  maxCos: Double = 0.999, nProbe: Int = 2): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    // ONE materialization serves both outputs: the k=1 probe's hit row
    // (at most one per batch vector) rides a left join onto the batch,
    // so `admitted` and the near-dup pairs are filters over the SAME
    // checkpointed frame — one job where the old shape paid two
    // sequential checkpoints (hits, then the anti-join). Both frames
    // still materialize BEFORE the append: rejections stay judged
    // against the index state at batch start.
    val hitRows = probe(spark, root, batch, k = 1, nProbe = nProbe)
      .filter(col("cos") >= maxCos)
      .select(col("q_id").as("vec_id"), col("neighbor_id"), col("cos"))
    val combined = batch.join(hitRows, Seq("vec_id"), "left").localCheckpoint()
    val admitted = combined.filter(col("neighbor_id").isNull)
      .select(batch.columns.map(col): _*)
    val hits = combined.filter(col("neighbor_id").isNotNull)
      .select(col("vec_id").as("q_id"), col("neighbor_id"), col("cos"))
    if (!admitted.isEmpty) ingest(spark, root, admitted)
    (admitted, hits)
  }
}
