package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** File-level DATA SKIPPING for [[VersionedTable]] — the per-file
  * min/max stats pruning a lakehouse read path lives on (delta-rs
  * carries per-file stats in its log, and the reference's
  * predicate-pushdown scans lean on them:
  * services/workers/tasks/update_stock_metadata.py:195-291): per-dir
  * column statistics are computed ONCE per (version, column), cached
  * as a sidecar next to the commit file, and every read of the table
  * ([[GraftFileIndex]], under `VersionedTable.read(...).filter(...)`
  * and `format("graft")` alike) opens only the dirs whose [min, max]
  * can meet its pushed predicates — IO scales with the data that can
  * match, not the table. This object builds the sidecars; the index
  * only consumes them.
  *
  * Skipping only pays when the layout CLUSTERS values — stats over a
  * random layout span everything and prune nothing. [[zOrderCommit]]
  * provides the layout: normalize the two clustering columns to
  * equal-frequency 8-bit ranks (approx-quantile cuts), interleave
  * bits (Morton / Z-order), range-partition on the z-key. Every dir
  * then holds a tight range of BOTH columns, so range predicates on
  * EITHER prune — where a linear sort clusters only its leading
  * column (the spec pins exactly that difference). String clustering
  * keys ride through an order-preserving byte surrogate.
  *
  * Numeric stats cast to double; STRING stats are binary-collation
  * min/max truncated Delta-style to a [[StringStatPrefix]]-char
  * prefix — the stored min prefix is a valid lower bound as-is, and
  * a truncated max has its last incrementable character bumped one
  * code point, so every string sharing the prefix stays under it.
  * Spark computes the bounds in UTF8_BINARY order and the index
  * compares in Java UTF-16 order: identical for BMP text (keys,
  * tickers, dates, record types), while supplementary-plane
  * characters near a bound are out of scope.
  *
  * The stats build is one job over ONLY the dirs that lack entries
  * for the requested columns (an append-then-read computes stats for
  * the ONE new dir, not the table), grouped by parent dir; its
  * collected result is one row per dir — bounded by the layout, never
  * by data. The sidecar republish is atomic (temp + rename); a lost
  * race just means the next build recomputes into the cache again.
  */
object DataSkipping {

  /** Times a stats sidecar was actually computed (not served from
    * cache) — spec evidence that a repeated build over covered
    * columns is IO-free. */
  @volatile var statsBuilds: Long = 0L

  /** Dirs the most recent stats build actually scanned — spec
    * evidence that the stats cost of an append is O(new dirs): shared
    * dirs' bounds are seeded from prior versions' sidecars (dirs are
    * immutable, bounds travel with the dir), so only genuinely new
    * dirs are ever read. */
  @volatile var lastStatsDirsScanned: Int = 0

  /** Delta-style string-stat truncation length. */
  val StringStatPrefix = 32

  private def verName(v: Long) = f"v$v%08d"
  private def statsPath(root: String, v: Long) = s"$root/_log/${verName(v)}.stats"

  private def fs(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** One dir's cached bounds for one column. A numeric NaN pair is the
    * "present but never prunes" sentinel (all-null / zero-row dirs of
    * EITHER type use it — NaN comparisons are false, and presence is
    * what stops the per-call rebuild). */
  sealed private[sources] trait Stat
  private[sources] final case class NumStat(mn: Double, mx: Double) extends Stat
  private[sources] final case class StrStat(mn: String, mx: String) extends Stat

  private val NoStat: Stat = NumStat(Double.NaN, Double.NaN)

  private def encS(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def decS(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** A true upper bound for a possibly-truncated string max: the max
    * itself when it fits the prefix budget; otherwise the prefix with
    * its LAST INCREMENTABLE character bumped one code point (and the
    * tail dropped) — strictly greater than every string sharing the
    * prefix. None when every prefix char is U+FFFF (no representable
    * bound). */
  private def strUpperBound(mx: String): Option[String] =
    if (mx.length <= StringStatPrefix) Some(mx)
    else {
      val p = mx.take(StringStatPrefix)
      val i = p.lastIndexWhere(_ != '￿')
      if (i < 0) None
      else Some(p.substring(0, i) + (p(i) + 1).toChar)
    }

  // sidecar lines (rel/col carry no tabs):
  //   numeric: rel \t col \t min \t max            (doubles; legacy form)
  //   string:  rel \t col \t S \t encMin \t encMax (URL-encoded bounds)
  private def readSidecar(spark: SparkSession, root: String,
                          v: Long): Map[String, Map[String, Stat]] = {
    val f = fs(spark, root)
    if (!f.exists(hp(statsPath(root, v)))) return Map.empty
    val in = f.open(hp(statsPath(root, v)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    text.split("\n").map(_.trim).filter(_.nonEmpty)
      .map { line =>
        line.split("\t", -1) match {
          case Array(rel, c, mn, mx) => (rel, c, NumStat(mn.toDouble, mx.toDouble): Stat)
          case Array(rel, c, "S", mn, mx) => (rel, c, StrStat(decS(mn), decS(mx)): Stat)
          case _ => throw new IllegalStateException(s"malformed stats line: $line")
        }
      }
      .groupBy(_._1).map { case (rel, xs) =>
        rel -> xs.map(x => x._2 -> x._3).toMap
      }
  }

  private def writeSidecar(spark: SparkSession, root: String, v: Long,
                           stats: Map[String, Map[String, Stat]]): Unit = {
    val f = fs(spark, root)
    val tmp = hp(s"$root/_log/.stats-tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try {
      val text = stats.toSeq.sortBy(_._1).flatMap { case (rel, cs) =>
        cs.toSeq.sortBy(_._1).map {
          case (c, NumStat(mn, mx)) => s"$rel\t$c\t$mn\t$mx"
          case (c, StrStat(mn, mx)) => s"$rel\t$c\tS\t${encS(mn)}\t${encS(mx)}"
        }
      }.mkString("\n")
      out.write(text.getBytes("UTF-8"))
    } finally out.close()
    // cache-replace semantics: a lost race leaves the winner's sidecar
    // (same or larger content next read) — never a torn file
    f.delete(hp(statsPath(root, v)), false)
    if (!f.rename(tmp, hp(statsPath(root, v)))) f.delete(tmp, false)
  }

  /** Per-dir bounds for the requested columns at `version`, computed
    * once and cached in the version's stats sidecar. The stats job
    * reads ONLY the dirs still lacking an entry for some requested
    * column — an append-then-read computes stats for the one new dir,
    * never the table. All-null / zero-row dirs get the NaN sentinel
    * (present, never prunes, never rebuilds). */
  private def ensureStatsTyped(spark: SparkSession, root: String, version: Long,
                               numCols: Seq[String], strCols: Seq[String]
                              ): Map[String, Map[String, Stat]] =
    ensureStatsTyped(spark, root, version, VersionedTable.commitOf(spark, root, version),
                     numCols, strCols)

  /** [[ensureStatsTyped]] over `version`'s already-parsed commit. */
  private def ensureStatsTyped(spark: SparkSession, root: String, version: Long,
                               commit: VersionedTable.Commit, numCols: Seq[String],
                               strCols: Seq[String]): Map[String, Map[String, Stat]] = {
    var existing = readSidecar(spark, root, version)
    val rels = commit.entries.map(_.rel)
    val cols = (numCols ++ strCols).distinct
    def uncovered = rels.filterNot(r =>
      existing.get(r).exists(cs => cols.forall(cs.contains)))
    // seed from recent predecessors' sidecars first: an append chain
    // SHARES dirs across versions, and a dir's bounds never change —
    // so the new version inherits every already-computed dir for free
    // and the build below reads only the genuinely new dirs. Bounded
    // walk (sidecars may be vacuumed or never built); persists what it
    // inherits so the walk happens once per version.
    if (uncovered.nonEmpty && version > 0) {
      val inherited = ((version - 1) to math.max(0L, version - 10L) by -1)
        .map(w => readSidecar(spark, root, w))
        .foldLeft(Map.empty[String, Map[String, Stat]]) { (acc, m) =>
          (acc.keySet ++ m.keySet).map(rel =>
            rel -> (m.getOrElse(rel, Map.empty) ++ acc.getOrElse(rel, Map.empty))).toMap
        }
        .filter(kv => rels.contains(kv._1))
      if (inherited.nonEmpty) {
        existing = (existing.keySet ++ inherited.keySet).map { rel =>
          rel -> (inherited.getOrElse(rel, Map.empty) ++ existing.getOrElse(rel, Map.empty))
        }.toMap
        writeSidecar(spark, root, version, existing)
      }
    }
    val needRels = uncovered
    if (needRels.isEmpty) return existing
    statsBuilds += 1
    lastStatsDirsScanned = needRels.size
    val df = VersionedTable.readDirs(spark, root, version, commit, needRels)
      .withColumn("_dir", regexp_replace(input_file_name(), "/[^/]*$", ""))
    val aggs = numCols.distinct.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"nmin_$c"), max(col(c).cast("double")).as(s"nmax_$c"))) ++
      strCols.distinct.flatMap(c => Seq(
        min(col(c).cast("string")).as(s"smin_$c"), max(col(c).cast("string")).as(s"smax_$c")))
    val rows = df.groupBy(col("_dir")).agg(aggs.head, aggs.tail: _*).collect()
    def dirMatches(dir: String, rel: String): Boolean =
      dir.endsWith(s"/$rel") ||
        // input_file_name() URI-encodes paths, so an on-disk %XX (from
        // a percent-encoded partition value) comes back as %25XX
        java.net.URI.create(dir).getPath.endsWith(s"/$rel")
    val fromRows = rows.flatMap { r =>
      val dir = r.getString(0)
      needRels.find(rel => dirMatches(dir, rel)).map { rel =>
        val nums = numCols.distinct.map { c =>
          val mn = r.getAs[Any](s"nmin_$c"); val mx = r.getAs[Any](s"nmax_$c")
          if (mn == null || mx == null) c -> NoStat
          else c -> NumStat(mn.asInstanceOf[Double], mx.asInstanceOf[Double])
        }
        val strs = strCols.distinct.map { c =>
          val mn = r.getAs[String](s"smin_$c"); val mx = r.getAs[String](s"smax_$c")
          if (mn == null || mx == null) c -> NoStat
          // truncation keeps bounds VALID: a min prefix only lowers
          // the lower bound; a truncated max INCREMENTS its last
          // incrementable character (Delta's rule) so the bound is
          // strictly above every string sharing the prefix — a mere
          // prefix+U+FFFF is NOT an upper bound when the full max
          // itself continues with U+FFFF. No incrementable char
          // (all-U+FFFF prefix) => no representable bound => sentinel.
          else strUpperBound(mx) match {
            case Some(ub) => c -> StrStat(mn.take(StringStatPrefix), ub)
            case None => c -> NoStat
          }
        }
        rel -> (nums ++ strs).toMap
      }
    }.toMap
    // dirs with no aggregated row at all (zero-row dir, or a path the
    // suffix match missed) get the same NaN sentinel: never pruned,
    // never treated as a missing column that would force a rebuild
    val computed = needRels.map { rel =>
      rel -> fromRows.getOrElse(rel, cols.map(c => c -> NoStat).toMap)
    }.toMap
    val merged = (existing.keySet ++ computed.keySet).map { rel =>
      rel -> (existing.getOrElse(rel, Map.empty) ++ computed.getOrElse(rel, Map.empty))
    }.toMap
    writeSidecar(spark, root, version, merged)
    merged
  }

  /** Per-dir numeric min/max for `cols` at `version` (see
    * [[ensureStatsTyped]]); kept for callers that want the raw
    * bounds — string-stat entries for other columns are not visible
    * through this projection. */
  def ensureStats(spark: SparkSession, root: String, version: Long,
                  cols: Seq[String]): Map[String, Map[String, (Double, Double)]] =
    ensureStatsTyped(spark, root, version, cols, Nil).map { case (rel, cs) =>
      rel -> cs.collect { case (c, NumStat(mn, mx)) => c -> (mn, mx) }
    }

  /** Morton interleave of two `bits`-bit rank columns (a gets the odd
    * bits) — plain codegen'd integer arithmetic, no UDF. */
  private def interleave(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)

  /** Order-preserving NUMERIC surrogate of a STRING clustering
    * column: its first 8 bytes PAST the column's global min/max
    * common prefix (dates, ids and keys share long constant
    * prefixes — "2024-01-.." — which would otherwise collapse every
    * value to one rank), zero-padded, read as an unsigned big-endian
    * number into a double. Prefix length is computed on CHARS and
    * applied to UTF-8 BYTES, so the documented domain is ASCII keys
    * (dates, tickers, record types) — the same BMP-honesty boundary
    * as the string stats. Order collisions beyond byte 8 only cost
    * clustering tightness, never correctness (reads re-filter). */
  private def surrogateExpr(c: String, prefixLen: Int): String =
    s"CAST(conv(hex(rpad(substring(CAST($c AS BINARY), ${prefixLen + 1}, 8), " +
    s"8, x'00')), 16, 10) AS DOUBLE)"

  /** The shared z-key construction: surrogates -> EQUAL-FREQUENCY
    * 8-bit ranks (one approx-quantile agg: 255 cut points per column,
    * driver-bounded) -> Morton interleave -> range exchange into
    * `nDirs` partitions tagged by `tag`(partition id). No global sort
    * anywhere. Equal-frequency ranks, not affine value ranks: an
    * affine map hands skewed data (or string byte surrogates, whose
    * gaps follow ASCII encoding, not value order) a distorted grid
    * where most rows collapse into a few rank cells and the curve
    * separates nothing — quantile ranks give every cell the same row
    * mass by construction, which is exactly what the space-filling
    * curve needs (and what production OPTIMIZE ZORDER does). Rank
    * cost per row is a codegen'd fold over the 255-cut literal
    * array. */
  private def zKeyed(df: DataFrame, c1: String, c2: String, nDirs: Int,
                     tag: Column => Column): DataFrame = {
    // one computation feeds the prefix agg, the percentile agg and
    // the final write (the persist-point rule: >1 consumer, one
    // checkpoint) — callers pass arbitrary plans, not just scans
    val src = df.localCheckpoint(eager = false)
    val strCols = Seq(c1, c2).distinct.filter(isString(src, _))
    val prefixLen: Map[String, Int] =
      if (strCols.isEmpty) Map.empty
      else {
        val aggs = strCols.flatMap(c =>
          Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
        val r = src.agg(aggs.head, aggs.tail: _*).head()
        strCols.map { c =>
          val mn = Option(r.getAs[String](s"mn_$c")).getOrElse("")
          val mx = Option(r.getAs[String](s"mx_$c")).getOrElse("")
          c -> mn.zip(mx).takeWhile { case (a, b) => a == b }.size
        }.toMap
      }
    def surr(c: String): Column = prefixLen.get(c)
      .map(p => expr(surrogateExpr(c, p))).getOrElse(col(c).cast("double"))
    val surred = src.withColumn("_s1", surr(c1)).withColumn("_s2", surr(c2))
    val nCuts = 255
    val ps = (1 to nCuts).map(i => i.toDouble / (nCuts + 1)).mkString(", ")
    val r = surred.agg(
      expr(s"approx_percentile(_s1, array($ps), 10000)"),
      expr(s"approx_percentile(_s2, array($ps), 10000)")).head()
    require(!r.isNullAt(0) && !r.isNullAt(1),
      s"z-order: empty input or all-null clustering column ($c1/$c2)")
    // non-finite cuts (NaN/Infinity rows in a numeric column) are not
    // SQL literals and cannot split anything meaningfully — drop them;
    // NaN rows rank wherever their comparisons land (always false =>
    // rank 0) and the read side re-filters, so correctness holds
    def rank(c: String, cuts: Seq[Double]): Column = {
      val finite = cuts.filter(java.lang.Double.isFinite)
      if (finite.isEmpty) lit(0L)
      else expr(
        s"aggregate(array(${finite.mkString(", ")}), CAST(0 AS BIGINT), " +
        s"(acc, ct) -> acc + IF($c > ct, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))")
    }
    surred.withColumn("_z",
        interleave(rank("_s1", r.getSeq[Double](0)),
                   rank("_s2", r.getSeq[Double](1)), bits = 8))
      .repartitionByRange(nDirs, col("_z"))
      .withColumn("zb", tag(spark_partition_id()))
      .drop("_z", "_s1", "_s2")
  }

  /** Whether a column gets string or numeric stats at write time. */
  private def isString(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType == org.apache.spark.sql.types.StringType

  /** Z-ORDERED commit: cluster `df` so that range predicates on
    * EITHER of (c1, c2) prune dirs. Both columns map to
    * equal-frequency ranks (numeric, or prefix-stripped byte
    * surrogates for STRING keys — see [[surrogate]] and [[zKeyed]]),
    * bit interleaved into the Morton key, and range-partitioned into
    * `nDirs` dirs (distributed range exchange with sampled bounds —
    * no global sort, no single-partition window). Published as a
    * partition-native version ([[VersionedTable.commitPartitioned]]
    * on the dir tag), so merge/compact machinery keeps working.
    */
  def zOrderCommit(spark: SparkSession, root: String, df: DataFrame,
                   c1: String, c2: String, nDirs: Int, base: Long): Long = {
    val keyed = zKeyed(df, c1, c2, nDirs, pid => pid.cast("string"))
    val v = VersionedTable.commitPartitioned(spark, root, keyed, "zb", base)
    // stats AT WRITE TIME: the clustering write already knows its
    // columns, so publish the sidecar now — the first pruned read
    // pays no stats job (Delta writes per-file stats into the log the
    // same way); string clustering columns get string stats
    val (sc, nc) = Seq(c1, c2).partition(isString(df, _))
    ensureStatsTyped(spark, root, v, nc, sc)
    v
  }

  /** [[VersionedTable.append]] + write-time stats: the new dir's
    * bounds land in the sidecar at write time (the inheritance seed
    * then makes every later version's first read job-free for these
    * dirs too). The ingest-loop companion of [[zOrderCommit]]'s
    * write-time stats. */
  def appendWithStats(spark: SparkSession, root: String, df: DataFrame,
                      numCols: Seq[String], strCols: Seq[String] = Nil): Long = {
    val base = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    val v = VersionedTable.append(spark, root, df, base)
    ensureStatsTyped(spark, root, v, numCols, strCols)
    v
  }

  /** Dirs the most recent [[mergeSkipping]] rewrote / carried — spec
    * evidence that the merge boundary is file-level: a narrow batch
    * against a clustered table rewrites the intersecting dirs only. */
  @volatile var lastMergeRewrote: Int = 0
  @volatile var lastMergeCarried: Int = 0

  /** FILE-LEVEL (stats-pruned) MERGE — the delta-rs merge boundary
    * itself, the one tier between [[VersionedTable.merge]] (O(table)
    * rewrite) and [[VersionedTable.mergePartitioned]] (needs a
    * dedicated partition column): the [[VersionedTable.rewrite]]
    * engine picking the dirs whose `[min, max]` stats on `statKey`
    * intersect the batch's key range ([[GraftFileIndex.keptRels]]),
    * merging the batch into THOSE dirs' rows only, and publishing one
    * fresh dir plus every non-intersecting dir carried forward
    * byte-for-byte (exactly how a Delta MERGE prunes its file list with
    * per-file stats before rewriting, reference
    * queue_for_delta.py:680-799). Cost is O(intersecting dirs) +
    * O(batch); on a key-clustered layout ([[zOrderCommit]] /
    * range-partitioned writes) a narrow batch touches a narrow slice of
    * dirs — stats pruning is the merge's file boundary, not just the
    * read path's.
    *
    * Contracts, stated honestly:
    *  - `statKey` must be one of `keys` and numeric-comparable (the
    *    batch range and the dir bounds compare as doubles).
    *  - the table's dirs must be KEY-DISJOINT for the merge keys (each
    *    key lives in one dir): true of tables built by merges,
    *    clustering commits of merged snapshots, and appends of
    *    genuinely new key ranges — the delta-rs invariant. A table
    *    where plain appends duplicated keys across dirs would keep a
    *    stale copy in a carried dir; that table needs [[recluster]] or
    *    a full [[VersionedTable.merge]] first.
    *  - pruning is by the batch's [lo, hi] RANGE: an intersecting dir
    *    sharing no actual batch key is rewritten anyway (cost, never
    *    correctness — tight exactly when the layout clusters the key).
    *
    * The small-merge rules of [[VersionedTable.merge]] hold: a
    * driver-local batch is not checkpointed and its key range is read
    * on the driver with no job (any other batch is checkpointed once,
    * and one job reads its range), and a merge at or under AQE's
    * advisory size runs in one task with no exchange. The fresh dir
    * lands UNSCOPED with write-time stats for `statKey` (the picked
    * dirs' bounds joined with the batch's range; no job reads it back),
    * so the next merge prunes against it too; on a z-ordered table
    * [[reclusterDelta]] later folds it back into the clustered layout
    * (unscoped dirs are its delta set by construction). A lost publish
    * race rebases when the head's pick for the batch range is the same
    * dir set, and recomputes against the head otherwise. */
  def mergeSkipping(spark: SparkSession, root: String, source: DataFrame,
                    keys: Seq[String], statKey: String,
                    tieBreak: Seq[String] = Nil, maxRetries: Int = 3): Long =
    mergeSkippingFrom(spark, root, source, keys, statKey, tieBreak, maxRetries, None)

  /** [[mergeSkipping]] with the first attempt pinned to a caller-read
    * (possibly stale) base — the concurrency specs' seam. */
  private[graft] def mergeSkippingFrom(spark: SparkSession, root: String, source: DataFrame,
                                       keys: Seq[String], statKey: String,
                                       tieBreak: Seq[String], maxRetries: Int,
                                       firstBase: Option[Long]): Long = {
    require(keys.contains(statKey),
      s"$statKey must be one of the merge keys — pruning on a non-key " +
      "column cannot bound where matching rows live")
    val tb = VersionedTable.effectiveTieBreak(source, keys, tieBreak)
    // the batch's range, and the last pick's stats: the landed head's
    var range = NumStat(Double.NaN, Double.NaN)
    var headStats = Map.empty[String, Map[String, Stat]]
    val v = VersionedTable.rewrite(spark, root, source, firstBase, maxRetries,
                                   scope = _ => None) { src =>
      val key = col(statKey).cast("double")
      val (lo, hi) =
        if (VersionedTable.isLocal(src)) {
          val ks = src.select(key).collect().filterNot(_.isNullAt(0)).map(_.getDouble(0))
            .sorted(Ordering.Double.TotalOrdering) // NaN last, as Spark orders it
          require(ks.nonEmpty, s"batch has no non-null $statKey values to merge on")
          (ks.head, ks.last)
        } else {
          val r = src.agg(min(key), max(key)).head()
          require(!r.isNullAt(0) && !r.isNullAt(1),
            s"batch has no non-null $statKey values to merge on")
          (r.getDouble(0), r.getDouble(1))
        }
      range = NumStat(lo, hi)
      val k = AttributeReference(statKey, DoubleType)()
      VersionedTable.Rewrite(
        (v, c) => if (v < 0) Set.empty[String] else {
          // the index consumes stats and never builds them: build (or
          // inherit) the version's bounds for statKey first, and hand
          // the index those bounds rather than a second sidecar read
          val stats = ensureStatsTyped(spark, root, v, c, Seq(statKey), Nil)
          val picked = VersionedTable.fileIndex(spark, root, v, c, Some(stats))
            .keptRels(Seq(GreaterThanOrEqual(k, Literal(lo)), LessThanOrEqual(k, Literal(hi))))
            .toSet
          lastMergeRewrote = picked.size
          lastMergeCarried = c.entries.size - picked.size
          headStats = stats
          picked
        },
        {
          case None => Some(VersionedTable.upsert(spark, src.limit(0), src, keys, tb))
          case Some(before) =>
            // the base reads with the version's logged schema: a batch
            // shaped before a later column evolution merges in with
            // those columns null, as every read of its rows shows them
            val have = src.columns.map(_.toLowerCase).toSet
            val padded = before.schema.filterNot(c => have(c.name.toLowerCase))
              .foldLeft(src)((d, c) => d.withColumn(c.name, lit(null).cast(c.dataType)))
            Some(VersionedTable.upsert(spark, before, padded, keys, tb))
        })
    }
    // write-time stats with no read-back: carried dirs keep their
    // bounds, and the fresh dir holds exactly the picked dirs' keys and
    // the batch's, so its statKey bounds are theirs combined (NaN
    // ordered as Spark's min/max order it; the no-stat sentinel skipped)
    val rels = VersionedTable.commitOf(spark, root, v).entries.map(_.rel).toSet
    val bounds = range +: headStats.toSeq.collect {
      case (rel, cs) if !rels(rel) => cs(statKey) }.collect {
      case b @ NumStat(mn, mx) if !(mn.isNaN && mx.isNaN) => b }
    val fresh: Stat = NumStat(bounds.map(_.mn).min(Ordering.Double.TotalOrdering),
                              bounds.map(_.mx).max(Ordering.Double.TotalOrdering))
    writeSidecar(spark, root, v,
      rels.map(r => r -> headStats.getOrElse(r, Map(statKey -> fresh))).toMap)
    v
  }

  // ---- bloom skipping tier --------------------------------------------

  /** Times a bloom sidecar was actually computed — spec evidence that
    * repeat point-lookups and append chains reuse per-dir filters. */
  @volatile var bloomBuilds: Long = 0L

  /** Dirs the most recent bloom build actually scanned. */
  @volatile var lastBloomDirsScanned: Int = 0

  /** Per-dir false-positive target. 1% at ~10 bits/key — the Delta
    * bloom-filter-index default neighborhood. */
  val BloomFpp = 0.01

  /** Capacity floor so tiny dirs don't get degenerate filters. */
  val BloomMinItems = 1024L

  private def bloomPath(root: String, v: Long, column: String) =
    s"$root/_log/${verName(v)}.bloom.${encS(column)}"

  private def readBloomSidecar(spark: SparkSession, root: String, v: Long,
                               column: String
                              ): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val f = fs(spark, root)
    if (!f.exists(hp(bloomPath(root, v, column)))) return Map.empty
    val in = f.open(hp(bloomPath(root, v, column)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
               finally in.close()
    text.split("\n").map(_.trim).filter(_.nonEmpty).map { line =>
      val Array(rel, b64) = line.split("\t", -1)
      val bytes = java.util.Base64.getDecoder.decode(b64)
      rel -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    }.toMap
  }

  private def writeBloomSidecar(spark: SparkSession, root: String, v: Long,
                                column: String,
                                blooms: Map[String, org.apache.spark.util.sketch.BloomFilter]
                               ): Unit = {
    val f = fs(spark, root)
    val tmp = hp(s"$root/_log/.bloom-tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try {
      val text = blooms.toSeq.sortBy(_._1).map { case (rel, bf) =>
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        s"$rel\t${java.util.Base64.getEncoder.encodeToString(bos.toByteArray)}"
      }.mkString("\n")
      out.write(text.getBytes("UTF-8"))
    } finally out.close()
    f.delete(hp(bloomPath(root, v, column)), false)
    if (!f.rename(tmp, hp(bloomPath(root, v, column)))) f.delete(tmp, false)
  }

  /** Per-dir bloom filters for `column` at `version` — the EQUALITY
    * skipping tier (Delta's bloom filter index): min/max stats prune
    * RANGE predicates on clustered layouts, but a point lookup on a
    * high-cardinality, unclustered key (doc id, content digest,
    * order key in arrival order) finds every dir's [min, max]
    * straddling the probe value and prunes nothing. A per-dir bloom
    * answers "can this dir contain v?" in O(bits) with no IO: a
    * needle read opens ~1 dir + fpp * N instead of N. Same lifecycle
    * as [[ensureStats]]: computed once per (dir, column) — dirs are
    * immutable, so filters inherit across versions via the
    * predecessor-sidecar seed, and an append's bloom job scans only
    * the new dirs (spec-pinned by [[lastBloomDirsScanned]]). A
    * filter never drops a dir that holds the value (bloom guarantee:
    * no false negatives — pruning stays CORRECT, fpp only costs
    * extra opened dirs).
    */
  def ensureBloom(spark: SparkSession, root: String, version: Long,
                  column: String
                 ): Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    var existing = readBloomSidecar(spark, root, version, column)
    val c = VersionedTable.commitOf(spark, root, version)
    val rels = c.entries.map(_.rel)
    def uncovered = rels.filterNot(existing.contains)
    if (uncovered.nonEmpty && version > 0) {
      val inherited = ((version - 1) to math.max(0L, version - 10L) by -1)
        .map(w => readBloomSidecar(spark, root, w, column))
        .foldLeft(Map.empty[String, org.apache.spark.util.sketch.BloomFilter]) {
          (acc, m) => m ++ acc
        }
        .filter(kv => rels.contains(kv._1))
      if (inherited.nonEmpty) {
        existing = inherited ++ existing
        writeBloomSidecar(spark, root, version, column, existing)
      }
    }
    val need = uncovered
    if (need.isEmpty) return existing
    bloomBuilds += 1
    lastBloomDirsScanned = need.size
    val computed = groupedBloomBuild(spark, root, version, c, need, column)
    val merged = existing ++ computed
    writeBloomSidecar(spark, root, version, column, merged)
    merged
  }

  /** ONE-WAVE grouped bloom build: per-dir filters for all of `rels`
    * in two jobs TOTAL — a per-dir sizes pass, then per-partition
    * PARTIAL filters merged per dir — instead of a count job plus a
    * build job PER dir (the round-7 one-wave staging discipline
    * applied to the stats layer: backfilling a 1,000-dir table is 2
    * job launches, not 2,000 sequential ones). Only bloom BYTES ride
    * the shuffle (≤ partitions × dirs partial filters); column
    * values never leave their scan partition. Dirs that predate
    * `column` under opt-in merge-schema evolution get NO filter and
    * stay unpruned (the no-stats-never-means-no-data rule) — the
    * schema peek per dir is a driver-side footer read. An all-NULL
    * dir gets an EMPTY filter (nulls are never bloom members and an
    * equality probe can never match them, so empty is exact) — that
    * records the dir as built in the sidecar (build-once, never
    * re-scanned) and prunes it on every probe. Filters answer the same
    * mightContainString/Long probes as the per-dir builds they
    * replace: strings insert their UTF-8 bytes, integrals widen to
    * long. */
  private def groupedBloomBuild(spark: SparkSession, root: String, version: Long,
      c: VersionedTable.Commit, rels: Seq[String], column: String)
      : Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    import org.apache.spark.util.sketch.BloomFilter
    import org.apache.spark.sql.Encoders
    import scala.jdk.CollectionConverters._
    // schema peek per dir WITHOUT a Spark job: one parquet footer read
    // on the driver — the version's logged schema cannot say which
    // dirs predate the column, and a schema-inferring read per dir
    // would launch a job each (measured 12 extra jobs on a 12-dir
    // backfill, exactly the per-dir pattern this method removes). The
    // footer is the dir's first LOGGED file, so a stray or truncated
    // file in the dir cannot fail the build; a dir logged with no
    // files holds no rows and gets the empty filter; only a dir logged
    // before commits listed files is listed
    val conf = spark.sparkContext.hadoopConfiguration
    val logged = c.entries.map(e => e.rel -> e.files).toMap
    def footerHas(path: org.apache.hadoop.fs.Path): Boolean = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
      try r.getFileMetaData.getSchema.getFields.asScala.exists(_.getName == column)
      finally r.close()
    }
    def dirHasColumn(rel: String): Boolean = {
      val dir = new org.apache.hadoop.fs.Path(s"$root/$rel")
      logged.get(rel).flatten match {
        case Some(files) => files.headOption.forall(f => footerHas(new org.apache.hadoop.fs.Path(dir, f._1)))
        case None => dir.getFileSystem(conf).listStatus(dir)
          .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .exists(st => footerHas(st.getPath))
      }
    }
    val readable = rels.filter(dirHasColumn)
    if (readable.isEmpty) return Map.empty
    val scan = VersionedTable.readDirs(spark, root, version, c, readable)
      .select(col(column).as("v"),
        regexp_extract(input_file_name(), "^(.*)/[^/]+$", 1).as("d"))
      .filter(col("v").isNotNull)
    val sizes: Map[String, Long] = scan.groupBy(col("d")).count().collect()
      .map(r => r.getString(0) -> math.max(r.getLong(1), BloomMinItems)).toMap
    val sizesB = spark.sparkContext.broadcast(sizes)
    val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
    def ser(bf: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos)
      bos.toByteArray
    }
    def deser(b: Array[Byte]): BloomFilter =
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    val partials = scan.mapPartitions { rows =>
      val acc = scala.collection.mutable.Map.empty[String, BloomFilter]
      rows.foreach { r =>
        val d = r.getString(1)
        val bf = acc.getOrElseUpdate(d, BloomFilter.create(
          sizesB.value.getOrElse(d, BloomMinItems), BloomFpp))
        r.get(0) match {
          case s: String => bf.putString(s)
          case l: Long => bf.putLong(l)
          case i: Int => bf.putLong(i.toLong)
          case s: Short => bf.putLong(s.toLong)
          case b: Byte => bf.putLong(b.toLong)
          case other => bf.put(other)
        }
      }
      acc.iterator.map { case (d, bf) => (d, ser(bf)) }
    }(enc)
    // merge the partials executor-side (same (n, fpp) per dir makes
    // them mergeInPlace-compatible); one row per dir returns
    val merged = partials.groupByKey(_._1)(Encoders.STRING)
      .mapGroups { (d, it) =>
        val bf = deser(it.next()._2)
        it.foreach(p => bf.mergeInPlace(deser(p._2)))
        (d, ser(bf))
      }(enc).collect()
    // input_file_name() URI-encodes paths (same pitfall dirMatches
    // handles in the stats pass), so match both the raw and the
    // decoded form; a dir that still doesn't map is SKIPPED — it just
    // stays unpruned (no-stats-never-means-no-data), never a crash
    // getPath returns null (without throwing) for opaque URIs —
    // flatten it so the exists can't NPE; and when one rel is a
    // path-suffix of another ("b" vs "a/b"), prefer the LONGEST
    // match so the nested dir never maps to the shadowing short rel
    def relOf(d: String): Option[String] = {
      val decoded = scala.util.Try(java.net.URI.create(d).getPath)
        .toOption.flatMap(Option(_))
      readable.sortBy(-_.length).find(r =>
        d.endsWith("/" + r) || decoded.exists(_.endsWith("/" + r)))
    }
    val built = merged.flatMap { case (d, bytes) =>
      relOf(d).map(_ -> deser(bytes))
    }.toMap
    // a readable dir with zero non-null values yields no partial;
    // persist an EMPTY filter for it so the sidecar records the dir
    // as built (build-once) AND equality probes prune it outright
    // (nulls are never bloom members, so empty is exact here).
    // SAFETY: an empty filter always-prunes, so it may only be
    // assigned to a dir POSITIVELY known to have zero non-null rows.
    // If any raw scan dir failed relOf mapping, we can't tell which
    // readable dir its rows belong to — emit no empties at all in
    // that build (the unmapped dirs stay filter-less → unpruned,
    // honoring no-stats-never-means-no-data; build-once just retries).
    val allMapped = merged.forall { case (d, _) => relOf(d).isDefined }
    val empties =
      if (!allMapped) Map.empty[String, BloomFilter]
      else readable.filterNot(built.contains)
        .map(_ -> BloomFilter.create(BloomMinItems, BloomFpp)).toMap
    built ++ empties
  }

  /** Re-cluster the CURRENT version (OPTIMIZE): plain appends land as
    * dirs spanning the whole value space, so their stats prune
    * nothing and skipping effectiveness decays as they accumulate;
    * this folds the table back into a fresh z-ordered layout as a NEW
    * version (history stays time-travelable until vacuum). Cost is a
    * full clustering rewrite — the periodic maintenance pass every
    * clustered lakehouse table runs, triggered when pruned-dir ratios
    * degrade, not per append. [[reclusterDelta]] is the O(appends)
    * tier in between. */
  def recluster(spark: SparkSession, root: String,
                c1: String, c2: String, nDirs: Int): Long = {
    val base = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    zOrderCommit(spark, root, VersionedTable.readAsOf(spark, root, base),
                 c1, c2, nDirs, base)
  }

  /** DELTA re-cluster (the partition-scoped OPTIMIZE): z-order ONLY
    * the unclustered dirs — plain appends since the last clustering
    * write, the ones whose stats span everything — into a fresh
    * z-generation, carrying every already-clustered (partition-
    * annotated) dir forward untouched, with its stats seeded into the
    * new version's sidecar (dirs are immutable; bounds carry). Cost is
    * O(appended data) in both the rewrite and the stats job, not
    * O(table) — the tiered-compaction shape: each generation's dirs
    * are tight, so range predicates prune across generations, and the
    * full [[recluster]] remains the periodic deep pass that folds
    * generations together. Delta generations are tagged
    * `g<base>-<pid>` so their partition values never collide with the
    * base grid's. A table with no unclustered dirs is a no-op (returns
    * the current version, no commit churn). */
  def reclusterDelta(spark: SparkSession, root: String,
                     c1: String, c2: String, nDirs: Int): Long = {
    val base = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $root"))
    val c = VersionedTable.commitOf(spark, root, base)
    val loose = c.entries.filter(_.part.isEmpty).map(_.rel)
    if (loose.isEmpty) return base
    val carried = c.entries.filter(_.part.isDefined)
    val delta = VersionedTable.readDirs(spark, root, base, c, loose)
    val keyed = zKeyed(delta, c1, c2, nDirs,
      pid => concat(lit(s"g$base-"), pid.cast("string")))
    val v = VersionedTable.commitPartitionedCarrying(
      spark, root, keyed, "zb", base, carried)
    // carried dirs' stats are INHERITED from the base sidecar (the
    // prior-version seed in ensureStats) — this computes only the
    // delta generation's dirs
    val (sc, nc) = Seq(c1, c2).partition(isString(delta, _))
    ensureStatsTyped(spark, root, v, nc, sc)
    v
  }

  // ── read-only sidecar views for the scan path ───────────────────
  // GraftFileIndex (the `format("graft")` relation) prunes dirs from
  // whatever stats the WRITERS left behind — a read must never mutate
  // the table's log, so these views return what exists and build
  // nothing. Delta's rule: stats are a write-time product; a scan
  // consumes them or scans unpruned.

  /** The stats sidecar of `version`, as written — no build. */
  private[sources] def sidecarStatsView(spark: SparkSession, root: String,
                                        v: Long): Map[String, Map[String, Stat]] =
    readSidecar(spark, root, v)

  /** The bloom sidecar of `version` for `column`, as written — no
    * build. Empty map when the column has no bloom tier. */
  private[sources] def bloomSidecarView(
      spark: SparkSession, root: String, v: Long, column: String
     ): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    readBloomSidecar(spark, root, v, column)

  /** The columns with a bloom sidecar at `version` (one log listing). */
  private[sources] def bloomColumnsView(spark: SparkSession, root: String,
                                        v: Long): Seq[String] = {
    val f = fs(spark, root)
    val ld = hp(s"$root/_log")
    if (!f.exists(ld)) return Nil
    val prefix = s"${verName(v)}.bloom."
    f.listStatus(ld).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(n => decS(n.stripPrefix(prefix))).toSeq
  }

  /** [[ensureStats]] over a MIXED column list, split numeric/string by
    * `schema` — the build entry point the `format("graft")` writer-side
    * options use. Non-numeric non-string columns get the sentinel
    * (present, never prunes). */
  def ensureStatsAuto(spark: SparkSession, root: String, version: Long,
                      cols: Seq[String],
                      schema: org.apache.spark.sql.types.StructType): Unit = {
    val (strs, nums) = cols.partition(c =>
      schema.fields.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.StringType))
    ensureStatsTyped(spark, root, version, nums, strs)
    ()
  }
}
