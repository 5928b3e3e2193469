package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The PERSISTED kNN-graph index — s20's graph stored as NODE
  * RECORDS, DiskANN's literal serving layout: one record per vector
  * holding `(vec_id, embedding, nbrs)` — the vector AND its adjacency
  * list — committed partition-native on
  * `bucket = pmod(hash(vec_id), NumBuckets)` dirs, with the s21
  * k-center entry points alongside as a tiny seeds table. Each
  * beam-walk pass then makes ONE dir-pruned fetch (the pass's
  * candidate-id buckets) that serves BOTH the exact scores and the
  * next hop's expansion — where a split edges/vectors layout pays an
  * adjacency fetch plus a vector fetch per hop, this halves the
  * per-hop round-trips, the latency that dominates a probe at 100 TB
  * (and never scans the corpus or the full index). Probe = the
  * deterministic [[Similarity.beamWalkRecords]] (fixed beam,
  * lowest-id tie-break); [[lastProbeBucketCounts]] pins the per-pass
  * dir-pruning on actual IO.
  *
  * This is the graph-ANN serving shape: build the graph ONCE
  * (s20's one cell-key shuffle), then answer queries with a handful
  * of bounded adjacency fetches + exact scores — the recall/cost
  * point [[Similarity.recallSweep]]'s `graph[...]` row measures
  * beside LSH/IVF/PQ. Maintenance: [[ingest]] adds arrival batches
  * incrementally with bidirectional edge insertion (s27); old nodes'
  * own lists are not re-ranked, so rebuild on the s04 retrain cadence
  * restores build quality after long arrival runs.
  *
  * Reference: the engine-side index family the survey motivates as
  * "graph-ANN base layers" over the s20 kNN join. */
object GraphIndex {

  /** Times a graph index was actually BUILT (not probed) — the d12/s24
    * evidence that repeated retrieval runs are probe-only. */
  @volatile var indexBuilds: Long = 0L

  /** Per-PASS count of node-bucket dirs the last [[probe]] actually
    * opened (one entry for the seed scoring + one per hop) — the
    * dir-pruning evidence: each pass opens ≤ the pass's candidate-id
    * buckets (≤ seeds at entry, then ≤ beam·graphK per hop), never
    * the full bucket set. */
  @volatile var lastProbeBucketCounts: Seq[Int] = Nil

  /** Adjacency/vector bucket count: a fetch opens ≤ min(wanted ids,
    * this) dirs. Production sizes this so a bucket dir is a few GB. */
  val NumBuckets = 32

  /** Recommend a rebuild when post-build churn (arrivals whose
    * insertion never re-ranked old lists + retirements whose holes
    * compact cannot repair) exceeds this fraction of the corpus at
    * the last [[build]] — the same contract as
    * [[VecIndex.RebuildFraction]] / [[GramIndex.rebuildRecommended]]. */
  val RebuildFraction = 0.25

  private def nodeRoot(root: String) = s"$root/nodes"
  private def seedRoot(root: String) = s"$root/seeds"
  private def retireRoot(root: String) = s"$root/retired"
  private def metaPath(root: String) = s"$root/_graph_meta"
  private def hnodeRoot(root: String) = s"$root/hnodes"
  private def hierMetaPath(root: String) = s"$root/_hier_meta"

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
      Some((kv("built_vecs"), kv("ingested_vecs"), kv("retired_vecs")))
    } catch { case _: Exception => None }

  private def writeMeta(spark: SparkSession, root: String, builtVecs: Long,
                        ingestedVecs: Long, retiredVecs: Long): Unit = {
    // temp + rename (the _hier_meta discipline): a reader racing a
    // concurrent maintenance pass sees old-or-new, never a torn file
    val f = hfs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(
      s"${metaPath(root)}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, /* overwrite = */ false)
    try out.write(
      (s"built_vecs=$builtVecs\ningested_vecs=$ingestedVecs\n" +
       s"retired_vecs=$retiredVecs\n").getBytes("UTF-8"))
    finally out.close()
    val target = new org.apache.hadoop.fs.Path(metaPath(root))
    f.delete(target, false)
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"could not publish graph meta at $root")
    }
  }

  /** Whether a rebuild is DUE. Graph-specific churn semantics, stated
    * honestly: [[ingest]] inserts arrivals bidirectionally but never
    * re-ranks OLD nodes' lists (their edges go stale as the corpus
    * grows), and [[delete]] leaves holes in survivors' lists that
    * [[compact]] purges physically but cannot re-fill — so BOTH count
    * toward churn and compact does NOT reset it; only [[build]]
    * (re-ranking every list from the current corpus) does. No meta =
    * unknown drift = recommend conservatively. */
  def rebuildRecommended(spark: SparkSession, root: String): Boolean =
    readMeta(spark, root) match {
      case Some((built, ingested, retired)) =>
        ingested + retired > built.max(1L) * RebuildFraction
      case None => true
    }

  /** The graveyard set — empty when no delete has run. Collected to
    * the driver: the tombstone list is delete-bounded and tiny (the
    * class doc's contract), and the walk used to BROADCAST it per pass
    * anyway — same driver residency, zero per-pass jobs. */
  private def retiredSet(spark: SparkSession, root: String): Set[Long] =
    VersionedTable.currentVersion(spark, retireRoot(root)) match {
      case Some(_) => VersionedTable.read(spark, retireRoot(root))
        .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
      case None => Set.empty
    }

  private def bucketCol(c: org.apache.spark.sql.Column) =
    pmod(hash(c), lit(NumBuckets)).cast("string")

  /** Driver twin of [[bucketCol]] for a BIGINT id: Spark's `hash()` on
    * a long is Murmur3_x86_32.hashLong at seed 42, and pmod is the
    * non-negative remainder — replicated here so a probe pass resolves
    * its candidate ids' bucket dirs with ZERO Spark jobs (the ids are
    * already driver state; the round-13 loop paid one collect job per
    * pass just to evaluate this expression). Equality with the SQL
    * expression is spec-pinned over a wide id range. */
  private[graft] def bucketOfId(id: Long): String = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
    (((h % NumBuckets) + NumBuckets) % NumBuckets).toString
  }

  /** Bucket dirs of a pass's candidate ids — pure driver computation
    * ([[bucketOfId]]); records the bucket count in
    * [[lastProbeBucketCounts]] (the dir-pruning evidence). */
  private def collectIdBuckets(ids: Seq[Long]): Seq[String] = {
    val buckets = ids.map(bucketOfId).distinct.sorted
    lastProbeBucketCounts = lastProbeBucketCounts :+ buckets.size
    buckets
  }

  /** Bucket values that actually have dirs at a table version — a
    * requested bucket with no rows (sparse upper level, tiny corpus)
    * is a legitimate empty fetch, not a missing-partition error; the
    * fetches intersect against this ONE commit-file read per probe. */
  private def presentBuckets(spark: SparkSession, root: String,
                             v: Long): Set[String] =
    VersionedTable.entriesOf(spark, root, v).flatMap(_.part).toSet

  /** Build (or REBUILD): one s20 kNN join (the single cell-key
    * shuffle) folded into per-node adjacency lists and joined with the
    * vectors into NODE RECORDS, committed partition-native on the id
    * bucket; one s21 farthest-first pass for the entry points. A
    * rebuild RESETS the retired graveyard — every list is re-ranked
    * from `embeddings`, so a previously-retired id that is still in
    * the corpus is live again (callers wanting it gone must exclude it
    * from the corpus), and resets the churn meta
    * [[rebuildRecommended]] reads. */
  def build(spark: SparkSession, root: String, embeddings: DataFrame,
            graphK: Int = 3, nProbe: Int = 2, nSeeds: Int = 8,
            centIds: Seq[Long] = Similarity.centroidIds,
            withCodes: Boolean = false): Unit = {
    indexBuilds += 1
    val adj = Similarity.knnJoin(embeddings, graphK, nProbe, centIds)
      .groupBy(col("vec_id"))
      .agg(sort_array(collect_set(col("neighbor_id"))).as("nbrs"))
    val bare = embeddings.select(col("vec_id"), col("embedding"))
      .join(adj, Seq("vec_id"), "left") // an isolated node keeps its vector
      .withColumn("nbrs", coalesce(col("nbrs"), array().cast("array<bigint>")))
    // withCodes: each record also stores the vector's PQ codes (the
    // s09 encoder, one map-side pass) so [[probePq]] can navigate
    // hops from codes+adjacency alone — the embedding column is only
    // column-pruned away at probe time if it was stored beside codes
    val nodes = (if (withCodes)
        bare.join(Similarity.pqCodesFor(embeddings), Seq("vec_id"), "left")
      else bare)
      .withColumn("bucket", bucketCol(col("vec_id")))
    val nv = VersionedTable.currentVersion(spark, nodeRoot(root)).getOrElse(-1L)
    VersionedTable.commitPartitioned(spark, nodeRoot(root), nodes, "bucket", nv)
    val sv = VersionedTable.currentVersion(spark, seedRoot(root)).getOrElse(-1L)
    VersionedTable.commit(spark, seedRoot(root),
      Similarity.kcenterSeed(embeddings, nSeeds).select(col("vec_id")), sv)
    VersionedTable.currentVersion(spark, retireRoot(root)).foreach { rv =>
      VersionedTable.commit(spark, retireRoot(root),
        spark.range(0).select(col("id").as("vec_id")), rv)
    }
    writeMeta(spark, root, builtVecs = embeddings.count(),
      ingestedVecs = 0L, retiredVecs = 0L)
  }

  /** Probe: the shared [[Similarity.graphWalkRecordsTopK]] walk, each
    * pass making ONE fetch DIR-PRUNED to the pass's candidate-id
    * buckets — the per-fetch driver-side collect is the distinct
    * bucket list, bounded by queries × beam × graphK (≤ NumBuckets
    * strings) — that serves both the exact scores and the next hop's
    * adjacency (the node-record payoff). Never a corpus scan:
    * `embeddings` supplies ONLY the query vectors (one
    * predicate-pushed scan, read once).
    *
    * Consistency: the node-table version is resolved ONCE at probe
    * start — every hop reads AT that pin, so a probe concurrent with
    * [[ingest]] or [[compact]] sees a wholly-pre- or
    * wholly-post-mutation snapshot, never a mixed one (the LexIndex
    * manifest contract; one pin suffices because the records are one
    * table). */
  /** Typed empty record frame for a pass with no present buckets. */
  private def emptyRecsDf(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("c_id"),
      lit(null).cast("array<float>").as("ce"),
      lit(null).cast("array<bigint>").as("nbrs"))

  /** The probe's shared setup: node version, graveyard set, live
    * seeds, and the dir-pruned record fetch — one construction serving
    * [[probe]] and [[probeFiltered]]. */
  private def probeSetup(spark: SparkSession, root: String)
      : (Set[Long], Seq[Long], Seq[Long] => DataFrame) = {
    val nv = VersionedTable.currentVersion(spark, nodeRoot(root)).getOrElse(
      throw new IllegalStateException(s"no graph index built at $root"))
    val retired = retiredSet(spark, root)
    val seeds = VersionedTable.read(spark, seedRoot(root))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      .filterNot(retired) // a retired entry point dies
    lastProbeBucketCounts = Nil
    val nodeHave = presentBuckets(spark, nodeRoot(root), nv)
    val fetchRecs: Seq[Long] => DataFrame = idList => {
      // buckets resolve driver-side from the pass's candidate ids
      // (bounded by queries × beam × graphK — the documented
      // driver-state bound); the fetch frame is a pure dir-pruned
      // scan + literal id filter, evaluated inside the walk's single
      // fused per-pass job
      val buckets = collectIdBuckets(idList).filter(nodeHave)
      if (buckets.isEmpty) emptyRecsDf(spark)
      else VersionedTable.readPartitions(spark, nodeRoot(root), buckets, version = Some(nv))
        .withColumnRenamed("vec_id", "c_id")
        // keep only the WANTED ids: a bucket holds unrelated nodes
        // whose adjacency must not leak into the walk's bounded state
        .filter(col("c_id").isin(idList: _*))
        .select(col("c_id"), col("embedding").as("ce"), col("nbrs"))
    }
    (retired, seeds, fetchRecs)
  }

  def probe(spark: SparkSession, root: String, embeddings: DataFrame,
            maxQueryId: Long = 8, k: Int = 3, beam: Int = 4,
            hops: Int = 3): DataFrame = {
    val (retired, seeds, fetchRecs) = probeSetup(spark, root)
    Similarity.graphWalkRecordsTopK(embeddings, maxQueryId, k, beam, hops,
      seeds, fetchRecs,
      // retired candidates are filtered BEFORE the fetch (the graveyard
      // read path): never scored, never expanded; [[compact]] purges
      keepId = id => !retired.contains(id))
  }

  /** s28's filtered probe — the SAME walk as [[probe]] (same index,
    * same seeds, same visited census: ineligible nodes keep carrying
    * connectivity, filtered-DiskANN's rule) with the label predicate
    * applied at the final rank only, through the rank tail the inline
    * arm shares ([[Similarity.labelFilteredRank]]) so the two arms
    * cannot rank differently. */
  def probeFiltered(spark: SparkSession, root: String, embeddings: DataFrame,
                    maxQueryId: Long = 8, k: Int = 3, beam: Int = 4,
                    hops: Int = 3): DataFrame = {
    val (retired, seeds, fetchRecs) = probeSetup(spark, root)
    val visited = Similarity.graphWalkRecordsVisitedDf(embeddings, maxQueryId,
      beam, hops, seeds, fetchRecs, keepId = id => !retired.contains(id))
    Similarity.labelFilteredRank(embeddings, maxQueryId, visited, k)
  }

  /** s28's managed lifecycle: the filtered probe over the SAME cached
    * per-corpus index as [[probeAuto]] (same cache key — the plain
    * build stores exactly the s25 walk's edges and seeds; the inline
    * arm rebuilt the kNN graph + k-center seeds on EVERY invocation,
    * which at bench scale was most of the row's cost and at 100 TB is
    * the difference between a point lookup and a corpus shuffle per
    * query batch). Results are pinned equal to the inline
    * [[Similarity.graphFilteredTopK]] by spec and to the DuckDB oracle
    * by the driver's gate. */
  def probeFilteredAuto(embeddings: DataFrame, maxQueryId: Long = 8,
                        k: Int = 3, beam: Int = 4, hops: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    def buildTemp(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-graphidx").toString
      build(spark, s"$dir/ix", embeddings)
      dir
    }
    val (dir, ephemeral) =
      if (!Caching.bareScan(embeddings)) (buildTemp(), true)
      else {
        val stamp = Caching.stamp(embeddings)
        if (stamp.isEmpty) (buildTemp(), true)
        else (cache.getOrElseUpdate((spark, stamp))(buildTemp()), false)
      }
    val res = probeFiltered(spark, s"$dir/ix", embeddings, maxQueryId, k,
      beam, hops)
    if (ephemeral) {
      val out = res.localCheckpoint()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      out
    } else res
  }

  // ---- s30: persisted hierarchy (HNSW's layered serving shape) -------

  /** Write the hierarchy meta whole-file to a writer-unique temp path,
    * then rename into place (VersionedTable's publish discipline) — a
    * probe racing a concurrent [[buildHier]] reads either the old meta
    * or the new one, never a torn file. */
  private def writeHierMeta(spark: SparkSession, root: String,
                            maxLevel: Int, htop: Seq[Long]): Unit = {
    val f = hfs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(
      s"${hierMetaPath(root)}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, /* overwrite = */ false)
    try out.write(
      s"max_level=$maxLevel\nhtop=${htop.mkString(",")}\n".getBytes("UTF-8"))
    finally out.close()
    val target = new org.apache.hadoop.fs.Path(hierMetaPath(root))
    f.delete(target, false) // replace the previous build's meta
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new java.io.IOException(s"could not publish hier meta at $root")
    }
  }

  /** None means exactly "no hierarchy built here" (missing file) —
    * genuine IO errors and corruption SURFACE instead of masquerading
    * as the misleading no-hierarchy-meta message. */
  private[graft] def readHierMeta(spark: SparkSession,
                                  root: String): Option[(Int, Seq[Long])] =
    try {
      val f = hfs(spark, root)
      val in = f.open(new org.apache.hadoop.fs.Path(hierMetaPath(root)))
      val kv = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n").map(_.trim).filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      finally in.close()
      Some((kv("max_level").toInt,
        kv("htop").split(",").filter(_.nonEmpty).map(_.toLong).toSeq))
    } catch { case _: java.io.FileNotFoundException => None }

  /** s30's persisted build: [[build]] plus one HIERARCHY table —
    * per-level adjacency lists `(vec_id, lvl, nbrs)` for the
    * [[Similarity.levelCondSql]] id-hash layers, committed on the
    * SAME id-bucket partition dirs as the node records so upper-level
    * fetches dir-prune identically. Upper layers store ADJACENCY ONLY
    * (HNSW's in-practice layout — vectors live once, in the level-0
    * node records; an upper pass pays one extra tiny fetch for them,
    * acceptable because upper walks are beam=1 over geometrically
    * shrinking subsets while level 0 keeps the single-fetch node-
    * record shape where the budget actually goes). The top-level
    * entry ids (two lowest on the top layer) are pinned in the hier
    * meta at build — probes never scan for them.
    *
    * Maintenance: [[ingest]] maintains every layer — each arrival's
    * per-level adjacency + reverse edges append at ingest, and a
    * top-layer arrival refreshes the pinned entry ids (see ingest's
    * scaladoc). Upper layers are ENTRY ROUTING, so even residual
    * staleness (old upper lists not re-ranked) degrades entry
    * quality, never correctness or reachability of level-0 content. */
  def buildHier(spark: SparkSession, root: String, embeddings: DataFrame,
                graphK: Int = 3, nProbe: Int = 2, nSeeds: Int = 8,
                maxLevel: Int = 2,
                centIds: Seq[Long] = Similarity.centroidIds,
                withCodes: Boolean = false): Unit = {
    require(maxLevel >= 1, s"maxLevel $maxLevel must be >= 1")
    build(spark, root, embeddings, graphK, nProbe, nSeeds, centIds, withCodes)
    val hn = (1 to maxLevel).map { l =>
      val sub = embeddings.filter(expr(Similarity.levelCondSql(l)))
      Similarity.knnEdgesFor(sub, sub, graphK, nProbe, centIds,
          centsFrom = embeddings)
        .groupBy(col("src"))
        .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
        .select(col("src").as("vec_id"), lit(l).as("lvl"), col("nbrs"))
    }.reduce(_.unionByName(_))
      .withColumn("bucket", bucketCol(col("vec_id")))
    val hv = VersionedTable.currentVersion(spark, hnodeRoot(root)).getOrElse(-1L)
    VersionedTable.commitPartitioned(spark, hnodeRoot(root), hn, "bucket", hv)
    val htop = embeddings.filter(expr(Similarity.levelCondSql(maxLevel)))
      .select(col("vec_id")).orderBy(col("vec_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq
    writeHierMeta(spark, root, maxLevel, htop)
  }

  /** s30's persisted probe — [[Similarity.graphHierTopK]]'s descent
    * served from the index: each upper level walks greedy
    * (upperBeam/upperHops) over its hierarchy adjacency, scoring
    * candidates from the node records (both fetches dir-pruned to the
    * pass's candidate-id buckets, both at versions pinned ONCE at
    * probe start), each level's per-query best seeding the level
    * below; level 0 is the full-budget node-record walk. The final
    * top-k ranks the UNION of every level's exact-scored visited —
    * bit-identical to the inline arm by construction (same edges,
    * same scores, same tie-breaks; spec-pinned). Retired ids are
    * dropped before every fetch, including at upper levels and the
    * pinned entry ids. */
  def probeHier(spark: SparkSession, root: String, embeddings: DataFrame,
                maxQueryId: Long = 8, k: Int = 3, beam: Int = 4,
                hops: Int = 3, upperBeam: Int = 1,
                upperHops: Int = 2): DataFrame = {
    val nv = VersionedTable.currentVersion(spark, nodeRoot(root)).getOrElse(
      throw new IllegalStateException(s"no graph index built at $root"))
    val hv = VersionedTable.currentVersion(spark, hnodeRoot(root)).getOrElse(
      throw new IllegalArgumentException(
        s"graph index at $root has no hierarchy — buildHier it"))
    val (maxLevel, htopIds) = readHierMeta(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"graph index at $root has no hierarchy meta — buildHier it"))
    val retired = retiredSet(spark, root)
    val keepId: Long => Boolean = id => !retired.contains(id)
    lastProbeBucketCounts = Nil
    val nodeHave = presentBuckets(spark, nodeRoot(root), nv)
    val hnodeHave = presentBuckets(spark, hnodeRoot(root), hv)
    // an upper pass fetches the SAME candidate-id buckets from both
    // tables — buckets resolve driver-side ([[collectIdBuckets]]), one
    // lazily-unioned frame (the two scans run inside the walk's single
    // fused per-pass job): vector fragments from the node records with
    // adjacency NULLED (the level-0 nbrs must not leak into an upper
    // level's expansion) + adjacency fragments from the hierarchy
    // table. Each table reads only the buckets it actually has dirs
    // for (a sparse upper level legitimately has rows in few buckets).
    def fetchUpper(l: Int): Seq[Long] => DataFrame = idList => {
      val bs = collectIdBuckets(idList)
      val nbs = bs.filter(nodeHave); val hbs = bs.filter(hnodeHave)
      if (idList.isEmpty || (nbs.isEmpty && hbs.isEmpty)) emptyRecsDf(spark)
      else {
        val vecs = if (nbs.isEmpty) None else Some(
          VersionedTable.readPartitions(spark, nodeRoot(root), nbs, version = Some(nv))
            .withColumnRenamed("vec_id", "c_id")
            .filter(col("c_id").isin(idList: _*))
            .select(col("c_id"), col("embedding").as("ce"),
              lit(null).cast("array<bigint>").as("nbrs")))
        val adj = if (hbs.isEmpty) None else Some(
          VersionedTable.readPartitions(spark, hnodeRoot(root), hbs, version = Some(hv))
            .filter(col("lvl") === l)
            .withColumnRenamed("vec_id", "c_id")
            .filter(col("c_id").isin(idList: _*))
            .select(col("c_id"), lit(null).cast("array<float>").as("ce"),
              col("nbrs")))
        (vecs.toSeq ++ adj.toSeq).reduce(_.unionByName(_))
      }
    }
    val fetchL0: Seq[Long] => DataFrame = idList => {
      val nbs = collectIdBuckets(idList).filter(nodeHave)
      if (nbs.isEmpty) emptyRecsDf(spark)
      else VersionedTable.readPartitions(spark, nodeRoot(root), nbs, version = Some(nv))
        .withColumnRenamed("vec_id", "c_id")
        .filter(col("c_id").isin(idList: _*))
        .select(col("c_id"), col("embedding").as("ce"), col("nbrs"))
    }
    // one query-frame materialization shared by all maxLevel+1 walks
    val queriesPre = Similarity.walkQueries(embeddings, maxQueryId)
    val qIds = Similarity.walkQueryIds(queriesPre)
    val htop = htopIds.filterNot(retired) // a retired entry dies
    var entry: Seq[(Long, Long)] =
      for (q <- qIds; c <- htop if c != q) yield (q, c)
    val visited = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    for (l <- maxLevel to 1 by -1) {
      val vis = Similarity.beamWalkRecordsRows(entry, fetchUpper(l),
        upperBeam, upperHops, queriesPre, keepId)
      visited ++= vis
      // the level's per-query best (cos desc, lowest-id tie-break —
      // the same ordering the walk's frontier uses) seeds the level
      // below; driver-side over the bounded visited rows
      entry = vis.groupBy(_._1).toSeq.flatMap { case (_, vs) =>
        vs.sortWith { (x, y) =>
          val c = java.lang.Double.compare(
            if (y._3 == 0.0) 0.0 else y._3, if (x._3 == 0.0) 0.0 else x._3)
          if (c != 0) c < 0 else x._2 < y._2
        }.take(1)
      }.map(v => (v._1, v._2))
    }
    visited ++= Similarity.beamWalkRecordsRows(entry, fetchL0,
      beam, hops, queriesPre, keepId)
    Similarity.rankWalkTopK(
      Similarity.walkRowsDf(spark, visited.toSeq.distinct), k)
  }

  /** s30's managed lifecycle: [[buildHier]] once per corpus, then
    * hierarchical probes — cached under a distinct stamp so the flat
    * s25 index and the hierarchy-bearing one never collide. */
  def probeHierAuto(embeddings: DataFrame, maxQueryId: Long = 8, k: Int = 3,
                    beam: Int = 4, hops: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    def buildTemp(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-graphhier").toString
      buildHier(spark, s"$dir/ix", embeddings)
      dir
    }
    val (dir, ephemeral) =
      if (!Caching.bareScan(embeddings)) (buildTemp(), true)
      else {
        val stamp = Caching.stamp(embeddings)
        if (stamp.isEmpty) (buildTemp(), true)
        else (cache.getOrElseUpdate((spark, stamp + "#hier"))(buildTemp()),
              false)
      }
    val res = probeHier(spark, s"$dir/ix", embeddings, maxQueryId, k, beam, hops)
    if (ephemeral) {
      val out = res.localCheckpoint()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      out
    } else res
  }

  /** The hop-fetch frame's pruned read schema from the last
    * [[probePq]] — the evidence that PQ navigation never reads the
    * embedding column during the walk (captured from the fetch
    * frame's own physical plan, whose scan the hop joins consume). */
  @volatile var lastNavReadSchema: String = ""

  /** s29's PQ-NAVIGATED probe — DiskANN's serving split made literal
    * on the node-record table, REQUIRES [[build]] `withCodes = true`:
    * hops navigate by asymmetric PQ distance using only the records'
    * `(nbrs, codes)` columns — the fat embedding column is COLUMN-
    * PRUNED out of every hop read ([[lastNavReadSchema]] pins it on
    * the actual scan plan) — and the final top-k is an exact-cosine
    * re-rank fetching full vectors ONCE, dir-pruned to the visited
    * ids. Per-hop IO drops ~10× per candidate vs [[probe]] (codes are
    * 8 ints vs a 64-float vector); the exact vectors are touched for
    * ≤ the visited set. Distance tables come from the codebook
    * vectors read FROM THE INDEX at the pinned version — the same
    * codebook the stored codes were encoded with, so a probe is
    * self-consistent whatever the live corpus does.
    * [[lastProbeBucketCounts]] gains one trailing entry for the
    * re-rank fetch (entry + hops + rerank). */
  def probePq(spark: SparkSession, root: String, embeddings: DataFrame,
              maxQueryId: Long = 8, k: Int = 3, beam: Int = 4,
              hops: Int = 3): DataFrame = {
    val nv = VersionedTable.currentVersion(spark, nodeRoot(root)).getOrElse(
      throw new IllegalStateException(s"no graph index built at $root"))
    require(VersionedTable.read(spark, nodeRoot(root)).columns.contains("codes"),
      s"probePq requires an index built with withCodes=true at $root")
    val retired = retiredSet(spark, root)
    val seeds = VersionedTable.read(spark, seedRoot(root))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      .filterNot(retired)
    lastProbeBucketCounts = Nil
    lastNavReadSchema = ""
    val nodeHave = presentBuckets(spark, nodeRoot(root), nv)
    val cbIds = Similarity.PqCodebookIds
    // the codebook's bucket dirs via the SAME bucket function the
    // table was written with — pure driver computation, no job
    val cbBuckets = cbIds.map(bucketOfId).distinct.sorted
    val cb = VersionedTable.readPartitions(spark, nodeRoot(root), cbBuckets, version = Some(nv))
      .filter(col("vec_id").isin(cbIds: _*))
      .select(col("vec_id"), col("embedding"))
    val queries = embeddings.filter(col("vec_id") < maxQueryId)
      .select(col("vec_id"), col("embedding"))
    val dts = Similarity.pqDistTablesAgainst(cb, queries).localCheckpoint()
    val fetchNav: Seq[Long] => DataFrame = idList => {
      val bs = collectIdBuckets(idList).filter(nodeHave)
      if (bs.isEmpty)
        spark.range(0).select(col("id").as("c_id"),
          lit(null).cast("array<bigint>").as("nbrs"),
          lit(null).cast("array<int>").as("codes"))
      else {
        val slice = VersionedTable.readPartitions(spark, nodeRoot(root), bs, version = Some(nv))
          .select(col("vec_id").as("c_id"), col("nbrs"), col("codes"))
        if (lastNavReadSchema.isEmpty)
          lastNavReadSchema = slice.queryExecution.executedPlan.toString
        slice.filter(col("c_id").isin(idList: _*))
      }
    }
    val fetchExact: Seq[Long] => DataFrame = idList => {
      val bs = collectIdBuckets(idList).filter(nodeHave)
      if (bs.isEmpty)
        spark.range(0).select(col("id").as("c_id"),
          lit(null).cast("array<float>").as("ce"))
      else VersionedTable.readPartitions(spark, nodeRoot(root), bs, version = Some(nv))
        .filter(col("embedding").isNotNull)
        .select(col("vec_id").as("c_id"), col("embedding").as("ce"))
        .filter(col("c_id").isin(idList: _*))
    }
    Similarity.graphPqWalkTopK(embeddings, maxQueryId, k, beam, hops, seeds,
      fetchNav, dts, fetchExact,
      keepId = id => !retired.contains(id))
  }

  /** DELETE (retire) vectors — the graveyard pattern real graph
    * indexes use, because edges POINTING AT a victim live in every
    * other node's list and finding them eagerly would scan the whole
    * edge table: delete APPENDS the victim ids to a tiny retired set,
    * O(batch); probes filter candidates and entry points against it
    * (retired nodes never appear in results and are never expanded —
    * their out-edges become unreachable without being touched).
    * Contract, stated honestly: unlike LexIndex/VecIndex, a graph
    * delete is NOT "equal to an index that never held the victim" —
    * the victim influenced its neighbors' top-k lists at build time,
    * and retiring it leaves HOLES, not repairs (survivors keep their
    * remaining edges; a rebuild restores build quality). Idempotent:
    * re-retiring is a no-op set union. [[compact]] purges the
    * graveyard physically. */
  def delete(spark: SparkSession, root: String, victimIds: DataFrame): Unit = {
    val vs = victimIds.select(col("vec_id")).distinct().localCheckpoint()
    val rv = VersionedTable.currentVersion(spark, retireRoot(root))
    rv match {
      case None => VersionedTable.commit(spark, retireRoot(root), vs, -1L)
      case Some(v) => VersionedTable.append(spark, retireRoot(root), vs, v)
    }
    readMeta(spark, root).foreach { case (b, i, r) =>
      writeMeta(spark, root, b, i, r + vs.count()) }
    ()
  }

  /** Purge the graveyard AND fold record fragments: drop retired
    * nodes, scrub retired ids out of survivors' adjacency, and merge
    * each survivor's fragments (its built/ingested record + any
    * reverse-edge fragments) into ONE record — then fold the remaining
    * append-fragmented dir chains. Cost O(node table) — the periodic
    * maintenance pass, vs delete's O(batch) online path. Probe results
    * are unchanged by construction (the probe already filtered what
    * compact purges, and the walk merges fragments at read). */
  def compact(spark: SparkSession, root: String): Unit = {
    // compact is maintenance, not the probe path: the tombstone set is
    // tiny (class contract), so a local frame serves the purge joins
    val retiredIds = retiredSet(spark, root)
    import spark.implicits._
    val retired = retiredIds.toSeq.sorted.toDF("c_id")
    val nv = VersionedTable.currentVersion(spark, nodeRoot(root)).getOrElse(
      throw new IllegalStateException(s"no graph index built at $root"))
    if (retiredIds.nonEmpty) {
      val live = VersionedTable.read(spark, nodeRoot(root))
        .join(retired.select(col("c_id").as("vec_id")), Seq("vec_id"), "left_anti")
        .localCheckpoint()
      val adj = live.select(col("vec_id"), explode(col("nbrs")).as("dst"))
        .join(retired.select(col("c_id").as("dst")), Seq("dst"), "left_anti")
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      val keep = Seq(col("vec_id"), col("embedding")) ++
        (if (live.columns.contains("codes")) Seq(col("codes")) else Nil)
      val folded = live.filter(col("embedding").isNotNull)
        .select(keep: _*)
        .join(adj, Seq("vec_id"), "left")
        .withColumn("nbrs", coalesce(col("nbrs"), array().cast("array<bigint>")))
        .withColumn("bucket", bucketCol(col("vec_id")))
      VersionedTable.commitPartitioned(spark, nodeRoot(root), folded, "bucket", nv)
      val rv = VersionedTable.currentVersion(spark, retireRoot(root)).get
      VersionedTable.commit(spark, retireRoot(root),
        retired.select(col("c_id").as("vec_id")).limit(0), rv)
    }
    VersionedTable.compactPartitioned(spark, nodeRoot(root))
    // churn meta survives on purpose: purging holes is not re-filling
    // them — [[rebuildRecommended]] stays due until a [[build]]
    ()
  }

  /** INGEST an arrival batch (s27): the batch's edges are its top-k
    * over the GROWN corpus (the same cell probe the build uses),
    * appended O(batch·k) into the touched source buckets — PLUS the
    * REVERSED edges into the neighbors' buckets, the bidirectional
    * insertion real graph builds (HNSW) do, because without it an
    * arrival has out-edges but nothing points AT it: it would be
    * unreachable by every walk. Contract and boundaries, stated
    * honestly: `corpus` is the grown corpus (the index stores
    * topology; vectors live in the corpus table) and `newVecs` ⊆
    * corpus must be NEW ids; old nodes' own lists are NOT re-ranked
    * (their stale edges dilute as arrivals accumulate — rebuild on
    * the s04 retrain cadence restores build quality); reverse
    * insertion lets touched lists grow past graphK (the walk
    * re-scores exactly, so extra edges cost IO, never correctness);
    * seeds stay the pre-ingest picks. Within-batch mutual pairs are
    * deduped before the append.
    *
    * HIERARCHY-AWARE: when the index has a [[buildHier]] hierarchy,
    * levels are pure id functions ([[Similarity.levelCondSql]]), so
    * each arrival's level membership is DERIVABLE AT INGEST TIME —
    * every touched level gets the arrival's per-level adjacency plus
    * the reverse edges appended O(batch_l·graphK), so a high-level
    * arrival ROUTES ENTRIES immediately instead of waiting for the
    * next buildHier — and a TOP-layer arrival also refreshes the
    * pinned entry ids (two-lowest-of-grown-top-layer, the exact rule
    * buildHier applies, so pins never lag a rebuild). Remaining
    * staleness, stated honestly: old upper nodes' lists are not
    * re-ranked (same contract as level 0).
    *
    * `txn`: an (appId, batchId) idempotence marker riding the NODE
    * table's atomic commit — a re-executed batch (streaming sink
    * restart, retried foreachBatch) is detected via
    * [[VersionedTable.lastTxnBatch]] and skipped whole (no
    * double-appended records, no double-counted churn meta). The
    * hierarchy append is a SECOND table, so it carries its own
    * `appId#hier` marker and runs FIRST — every crash point between
    * the two commits replays to exactly-once on both tables (see the
    * ordering comment in the body). */
  def ingest(spark: SparkSession, root: String, corpus: DataFrame,
             newVecs: DataFrame, graphK: Int = 3, nProbe: Int = 2,
             centIds: Seq[Long] = Similarity.centroidIds,
             txn: Option[(String, Long)] = None): Unit = {
    if (txn.exists { case (app, b) =>
          VersionedTable.lastTxnBatch(spark, nodeRoot(root), app).exists(_ >= b) })
      return
    val fwd = Similarity.knnEdgesFor(corpus, newVecs, graphK, nProbe, centIds)
      .localCheckpoint()
    // each arrival gets a FULL record (vector + its own top-k list):
    // O(batch) add-files into its id bucket, so the very next probe
    // can score it
    val fwdAdj = fwd.groupBy(col("src"))
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      .withColumnRenamed("src", "vec_id")
    val embType = newVecs.schema("embedding").dataType
    val bare = newVecs.select(col("vec_id"), col("embedding"))
      .join(fwdAdj, Seq("vec_id"), "left")
      .withColumn("nbrs", coalesce(col("nbrs"), array().cast("array<bigint>")))
    // a codes-bearing index ([[build]] withCodes) encodes arrivals
    // against the SAME fixed codebook ids — stable rows of the same
    // corpus table, so stored and fresh codes agree by construction.
    // The node table's logged schema decides (no footer is read).
    val hasCodes = VersionedTable.read(spark, nodeRoot(root)).columns.contains("codes")
    val own = if (hasCodes)
        bare.join(Similarity.pqCodesAgainst(corpus, newVecs),
          Seq("vec_id"), "left")
      else bare
    // reverse-edge FRAGMENTS (vector-less records) land in the touched
    // neighbors' buckets; the probe merges fragments at read. A
    // within-batch mutual pair already present forward is not
    // re-appended (the dedup the edge-table layout did with distinct).
    val revBare = fwd.select(col("dst").as("src"), col("src").as("dst"))
      .join(fwd, Seq("src", "dst"), "left_anti")
      .groupBy(col("src"))
      .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
      .withColumnRenamed("src", "vec_id")
      .withColumn("embedding", lit(null).cast(embType))
      .select(col("vec_id"), col("embedding"), col("nbrs"))
    val revFrag = if (hasCodes)
        revBare.withColumn("codes", lit(null).cast("array<int>"))
      else revBare
    // no checkpoint: the staged write is the frame's ONLY consumer and
    // appendPartitioned stages in one job (everything upstream that is
    // shared — fwd — is already checkpointed above)
    val records = own.unionByName(revFrag)
      .withColumn("bucket", bucketCol(col("vec_id")))
    val nv = VersionedTable.currentVersion(spark, nodeRoot(root)).getOrElse(
      throw new IllegalStateException(s"no graph index built at $root"))
    // hierarchy maintenance (see scaladoc): one bounded kNN probe +
    // O(batch_l·graphK) append per TOUCHED level — the id-hash level
    // condition selects each level's arrivals and its grown sub-corpus.
    // Ordered BEFORE the node append and marker-guarded on its own
    // table (appId#hier), so every crash point replays to
    // exactly-once: a crash after the hierarchy append skips it on
    // replay and still lands the nodes; a crash after the node append
    // skips the whole batch (whose hierarchy rows already landed).
    val hierTxn = txn.map { case (app, b) => (s"$app#hier", b) }
    val hierDone = hierTxn.exists { case (app, b) =>
      VersionedTable.lastTxnBatch(spark, hnodeRoot(root), app).exists(_ >= b) }
    readHierMeta(spark, root).foreach { case (maxLevel, htop) =>
      if (!hierDone &&
          VersionedTable.currentVersion(spark, hnodeRoot(root)).isDefined) {
        val hrows = (1 to maxLevel).flatMap { l =>
          val batchL = newVecs.filter(expr(Similarity.levelCondSql(l)))
          if (batchL.isEmpty) None
          else {
            val corpusL = corpus.filter(expr(Similarity.levelCondSql(l)))
            val fwdL = Similarity.knnEdgesFor(corpusL, batchL, graphK, nProbe,
                centIds, centsFrom = corpus) // buildHier's cell geometry
              .localCheckpoint()
            val ownL = fwdL.groupBy(col("src"))
              .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
              .select(col("src").as("vec_id"), lit(l).as("lvl"), col("nbrs"))
            val revL = fwdL.select(col("dst").as("src"), col("src").as("dst"))
              .join(fwdL, Seq("src", "dst"), "left_anti")
              .groupBy(col("src"))
              .agg(sort_array(collect_set(col("dst"))).as("nbrs"))
              .select(col("src").as("vec_id"), lit(l).as("lvl"), col("nbrs"))
            Some(ownL.unionByName(revL))
          }
        }
        if (hrows.nonEmpty) {
          val hv = VersionedTable.currentVersion(spark, hnodeRoot(root)).get
          VersionedTable.appendPartitioned(spark, hnodeRoot(root),
            hrows.reduce(_.unionByName(_))
              .withColumn("bucket", bucketCol(col("vec_id"))),
            "bucket", hv, txn = hierTxn)
          // ENTRY-PIN maintenance: buildHier pins the two lowest ids on
          // the top layer; old-htop ∪ top-layer-arrivals, two lowest, is
          // exactly that rule on the grown corpus — so the pins stay
          // what a from-scratch rebuild would pick (no build-time
          // staleness). O(batch_top) driver state; temp+rename publish.
          // The meta write is last-writer-wins: two RACING top-layer
          // ingests could each fold only their own arrival (node-table
          // conflicts serialize the commits, but this write runs
          // pre-commit) — entry ROUTING quality only, never
          // correctness, and the next top arrival or rebuild heals it.
          val arrivedTop = newVecs
            .filter(expr(Similarity.levelCondSql(maxLevel)))
            .select(col("vec_id")).orderBy(col("vec_id")).limit(2)
            .collect().map(_.getLong(0)).toSeq
          if (arrivedTop.nonEmpty) {
            val grownTop = (htop ++ arrivedTop).distinct.sorted.take(2)
            if (grownTop != htop)
              writeHierMeta(spark, root, maxLevel, grownTop)
          }
        }
      }
    }
    // the churn-meta count is independent of the commit — overlap it
    // with the node append's staging job (guide §2.6) instead of
    // paying a separate sequential job after the commit lands
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val batchCountF = scala.concurrent.Future { newVecs.count() }
    // the node append carries the batch's OWN marker and runs LAST —
    // the whole batch's commit point (see the ordering comment above)
    VersionedTable.appendPartitioned(spark, nodeRoot(root), records, "bucket", nv,
      txn = txn)
    val batchCount = scala.concurrent.Await.result(
      batchCountF, scala.concurrent.duration.Duration.Inf)
    readMeta(spark, root).foreach { case (b, i, r) =>
      writeMeta(spark, root, b, i + batchCount, r) }
    ()
  }

  // caches the createTempDirectory PARENT (the index lives at
  // '$dir/ix'), so eviction deletes the whole tree — caching the
  // child leaked the parent dir on every eviction
  private val cache = new Caching.BoundedCache[
      (SparkSession, String), String](4,
    onEvict = dir =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)))

  /** s27's managed lifecycle: build on the corpus MINUS the arrival
    * slice (vec_id % 9 == 0 — a residue no oracle-pinned centroid id
    * occupies), ingest the arrivals against the grown corpus, probe
    * the grown index. The built+ingested fixture is cached per corpus
    * (ingest-vs-build is the spec's live half); the probe is the
    * timed/oracled half. */
  def ingestDemoAuto(embeddings: DataFrame, maxQueryId: Long = 8, k: Int = 3,
                     beam: Int = 4, hops: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    def buildIngested(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-graphing").toString
      val root = s"$dir/ix"
      build(spark, root, embeddings.filter(pmod(col("vec_id"), lit(9)) =!= 0))
      ingest(spark, root, embeddings,
        embeddings.filter(pmod(col("vec_id"), lit(9)) === 0))
      dir
    }
    val (dir, ephemeral) =
      if (!Caching.bareScan(embeddings)) (buildIngested(), true)
      else {
        val stamp = Caching.stamp(embeddings)
        if (stamp.isEmpty) (buildIngested(), true)
        else (cache.getOrElseUpdate((spark, stamp + "#ingest"))(buildIngested()),
              false)
      }
    val res = probe(spark, s"$dir/ix", embeddings, maxQueryId, k, beam, hops)
    if (ephemeral) {
      val out = res.localCheckpoint()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      out
    } else res
  }

  /** s29's managed lifecycle: build WITH stored PQ codes once per
    * corpus, then PQ-navigated probes ([[probePq]]) — cached under a
    * distinct stamp so the plain s25 index and the codes-bearing one
    * never collide. */
  def probePqAuto(embeddings: DataFrame, maxQueryId: Long = 8, k: Int = 3,
                  beam: Int = 4, hops: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    def buildTemp(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-graphpq").toString
      build(spark, s"$dir/ix", embeddings, withCodes = true)
      dir
    }
    val (dir, ephemeral) =
      if (!Caching.bareScan(embeddings)) (buildTemp(), true)
      else {
        val stamp = Caching.stamp(embeddings)
        if (stamp.isEmpty) (buildTemp(), true)
        else (cache.getOrElseUpdate((spark, stamp + "#pq"))(buildTemp()), false)
      }
    val res = probePq(spark, s"$dir/ix", embeddings, maxQueryId, k, beam, hops)
    if (ephemeral) {
      val out = res.localCheckpoint()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      out
    } else res
  }

  /** Build-once-per-corpus probe (the s24 lifecycle wrapper): cached
    * on the corpus scan stamp; uncacheable frames get an ephemeral
    * index torn down after the probe materializes. */
  def probeAuto(embeddings: DataFrame, maxQueryId: Long = 8, k: Int = 3,
                beam: Int = 4, hops: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    def buildTemp(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-graphidx").toString
      build(spark, s"$dir/ix", embeddings)
      dir
    }
    val (dir, ephemeral) =
      if (!Caching.bareScan(embeddings)) (buildTemp(), true)
      else {
        val stamp = Caching.stamp(embeddings)
        if (stamp.isEmpty) (buildTemp(), true)
        else (cache.getOrElseUpdate((spark, stamp))(buildTemp()), false)
      }
    val res = probe(spark, s"$dir/ix", embeddings, maxQueryId, k, beam, hops)
    if (ephemeral) {
      val out = res.localCheckpoint()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      out
    } else res
  }
}
