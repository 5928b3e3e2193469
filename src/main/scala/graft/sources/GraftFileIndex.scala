package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The [[org.apache.spark.sql.execution.datasources.FileIndex]] behind
  * `spark.read.format("graft")` — where the versioned table's
  * write-time statistics meet Catalyst's pushed-down predicates.
  *
  * `FileSourceStrategy` hands every scan's data filters to
  * `listFiles`; this index answers with ONLY the data dirs whose
  * min/max (and, for equality probes, bloom) sidecar stats can
  * possibly match — so file skipping happens automatically inside any
  * plan that reads the table, with no explicit `readWhere` call. The
  * same consume-what-the-writers-left rule as Delta: a scan never
  * builds stats (reads must not mutate the log); dirs without stats
  * for a referenced column are always kept (no stats never means no
  * data); an excludable dir is dropped before the parquet reader ever
  * opens a footer.
  *
  * At 100 TB this is the difference between a point lookup opening
  * ~1 + fpp·N dirs and opening N: the pruning decision is O(dirs)
  * driver-side metadata, zero data IO, and composes with the row-group
  * pruning parquet itself does from the SAME pushed filters
  * downstream.
  *
  * Conservative by construction: a conjunct prunes only when the
  * sidecar PROVES emptiness ([mn,mx] disjoint from the predicate's
  * interval, or a bloom no); every unrecognized shape — casts that
  * change ordering, UDFs, null-sensitive forms — keeps the dir. The
  * NaN sentinel (all-null / zero-row dirs) keeps naturally: NaN
  * comparisons are false, so no exclusion ever fires.
  *
  * Snapshot semantics: the index is fed from ONE read of the commit
  * text ([[VersionedTable.relation]] passes the version's entries and
  * `#partcol`), and a committed dir is immutable, so each dir's file
  * listing is taken once, when a plan first needs files, and cached
  * per dir across indexes and versions; `refresh()` re-lists. Two
  * indexes over the same (root, version, dirs) are EQUAL, so plans
  * reading one version twice keep exchange reuse and cache hits.
  */
final class GraftFileIndex(spark: SparkSession, private val root: String,
                           val version: Long,
                           entries: Seq[(String, Option[String])],
                           partCol: Option[String])
  extends FileIndex {

  private val rels: Seq[String] = entries.map(_._1)

  // partition-native pruning: entry annotations are EXACT (a dir holds
  // one partition value), so a predicate on the partition column
  // prunes without any stats at all; the column name comes from the
  // commit's #partcol marker
  private val partByRel: Map[String, String] = entries.collect {
    case (r, Some(pv)) => r -> java.net.URLDecoder.decode(pv, "UTF-8")
  }.toMap

  private var listed: Map[String, Array[FileStatus]] = _
  private def filesByRel: Map[String, Array[FileStatus]] = synchronized {
    if (listed == null) listed = GraftFileIndex.cachedListing(spark, root, rels)
    listed
  }

  // sidecars read ONCE per index (snapshot; sidecar files are
  // cache-replace, so a later richer version only helps a new index)
  private lazy val stats: Map[String, Map[String, DataSkipping.Stat]] =
    DataSkipping.sidecarStatsView(spark, root, version)
  private lazy val bloomCols: Set[String] =
    DataSkipping.bloomColumnsView(spark, root, version).toSet
  private val bloomCache =
    scala.collection.concurrent.TrieMap
      .empty[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]
  private def bloomsFor(c: String) =
    if (!bloomCols(c)) Map.empty[String, org.apache.spark.util.sketch.BloomFilter]
    else bloomCache.getOrElseUpdate(c, DataSkipping.bloomSidecarView(spark, root, version, c))

  /** Snapshot listing keyed by rel dir — the DSv2 adapter
    * ([[GraftPartitioningAwareIndex]]) projects leafDirToChildrenFiles
    * from this. */
  private[sources] def filesByDir: Map[String, Array[FileStatus]] = filesByRel

  override def rootPaths: Seq[Path] = Seq(new Path(root))
  override def partitionSchema: StructType = new StructType()
  override def refresh(): Unit = synchronized {
    GraftFileIndex.dropCached(root, rels)
    listed = null
  }
  override def inputFiles: Array[String] =
    rels.iterator.flatMap(filesByRel.getOrElse(_, Array.empty[FileStatus]))
      .map(_.getPath.toString).toArray
  override def sizeInBytes: Long =
    filesByRel.valuesIterator.flatten.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val keep =
      if (dataFilters.isEmpty) rels
      else rels.filter(rel => dataFilters.forall(f => dirMayMatch(rel, f)))
    GraftFileIndex.lastDirsTotal = rels.size
    GraftFileIndex.lastDirsKept = keep.size
    val files = keep.toArray.flatMap(filesByRel.getOrElse(_, Array.empty[FileStatus]))
    Seq(PartitionDirectory(InternalRow.empty, files))
  }

  // ── dir-level predicate evaluation ────────────────────────────────

  /** true unless the sidecar PROVES `rel` holds no row satisfying `e`. */
  private def dirMayMatch(rel: String, e: Expression): Boolean = e match {
    case And(l, r) => dirMayMatch(rel, l) && dirMayMatch(rel, r)
    case Or(l, r)  => dirMayMatch(rel, l) || dirMayMatch(rel, r)
    case EqualTo(l, r)       => eqEither(rel, l, r)
    case EqualNullSafe(l, r) => eqEither(rel, l, r)
    case GreaterThan(a, l)        => bounded(rel, a, l, lo = true)
    case GreaterThanOrEqual(a, l) => bounded(rel, a, l, lo = true)
    case LessThan(a, l)           => bounded(rel, a, l, lo = false)
    case LessThanOrEqual(a, l)    => bounded(rel, a, l, lo = false)
    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.isEmpty || vs.exists(v => eqEither(rel, a, v))
    case InSet(a, hset) =>
      hset.isEmpty || hset.exists(v => eqEither(rel, a, Literal(v, a.dataType)))
    case StartsWith(a, Literal(p: UTF8String, _)) =>
      prefixMayMatch(rel, a, p.toString)
    case _ => true
  }

  /** The four ordered comparisons, literal on either side: when the
    * literal turns out to be on the LEFT the comparison flips
    * (5 < a  ≡  a > 5), so `lo = true` always normalizes to "attr
    * must be above the literal". */
  private def bounded(rel: String, attrSide: Expression, litSide: Expression,
                      lo: Boolean): Boolean =
    (attrName(attrSide), litSide) match {
      case (Some(c), l: Literal) => rangeMayMatch(rel, c, l, attrAbove = lo)
      case _ =>
        // literal-on-left: 5 < a  ≡  a > 5
        (attrName(litSide), attrSide) match {
          case (Some(c), l: Literal) => rangeMayMatch(rel, c, l, attrAbove = !lo)
          case _ => true
        }
    }

  /** attr = lit with the literal on either side. */
  private def eqEither(rel: String, l: Expression, r: Expression): Boolean =
    (attrName(l), r) match {
      case (Some(c), lit: Literal) => eqMayMatch(rel, c, lit)
      case _ => (attrName(r), l) match {
        case (Some(c), lit: Literal) => eqMayMatch(rel, c, lit)
        case _ => true
      }
    }

  /** The stats-addressable column under `e`, unwrapping only casts
    * that preserve the sidecar's ordering: integral/floating widenings
    * (the sidecar stores numeric bounds as doubles of the raw values,
    * so a widened compare is the same compare). Any other cast — e.g.
    * string→double, date→string — changes the order and returns None
    * (dir kept). */
  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case Cast(a: AttributeReference, dt, _, _)
      if numericLike(a.dataType.typeName) && numericLike(dt.typeName) => Some(a.name)
    case _ => None
  }

  private def numericLike(t: String): Boolean = t match {
    case "byte" | "short" | "integer" | "long" | "float" | "double" => true
    case _ => false
  }

  private def statFor(rel: String, c: String): Option[DataSkipping.Stat] =
    stats.get(rel).flatMap(_.get(c))

  /** The dir's partition value when `c` IS the partition column. The
    * stored value is Spark's string cast of the column (what
    * stagePartitions wrote), so numeric literals compare through a
    * double parse and string literals compare directly; any other
    * literal type keeps the dir. */
  private def partValueOf(rel: String, c: String): Option[String] =
    if (partCol.contains(c)) partByRel.get(rel) else None

  /** partition-value check for attr = lit: false only on PROOF of
    * mismatch. */
  private def partEqMayMatch(pv: String, l: Literal): Boolean =
    strOf(l).map(_ == pv)
      .orElse(numOf(l).map(v => pv.toDoubleOption.forall(_ == v)))
      .getOrElse(true)

  /** partition-value check for the ordered comparisons. */
  private def partRangeMayMatch(pv: String, l: Literal,
                                attrAbove: Boolean): Boolean =
    numOf(l).flatMap(v => pv.toDoubleOption.map(p =>
      if (attrAbove) !(p < v) else !(p > v)))
      .orElse(strOf(l).map(v =>
        if (attrAbove) !(pv.compareTo(v) < 0) else !(pv.compareTo(v) > 0)))
      .getOrElse(true)

  private def numOf(l: Literal): Option[Double] = l.value match {
    case null => None
    case b: Byte => Some(b.toDouble)
    case s: Short => Some(s.toDouble)
    case i: Int => Some(i.toDouble)
    case j: Long => Some(j.toDouble)
    case f: Float => Some(f.toDouble)
    case d: Double => Some(d)
    case d: Decimal => Some(d.toDouble)
    case _ => None
  }

  private def strOf(l: Literal): Option[String] = l.value match {
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  /** attr {>,>=} lit (attrAbove) or attr {<,<=} lit: excluded only
    * when the dir's whole range sits strictly on the wrong side.
    * Bound INCLUSIVITY is deliberately ignored (a `>` treated as
    * `>=`) — it can only keep an excludable boundary dir, never drop
    * a matching one. */
  private def rangeMayMatch(rel: String, c: String, l: Literal,
                            attrAbove: Boolean): Boolean = {
    val byStat = statFor(rel, c) match {
      case Some(DataSkipping.NumStat(mn, mx)) =>
        numOf(l).forall(v => if (attrAbove) !(mx < v) else !(mn > v))
      case Some(DataSkipping.StrStat(mn, mx)) =>
        strOf(l).forall(v =>
          if (attrAbove) !(mx.compareTo(v) < 0) else !(mn.compareTo(v) > 0))
      case _ => true
    }
    byStat && partValueOf(rel, c).forall(pv => partRangeMayMatch(pv, l, attrAbove))
  }

  /** attr = lit: range test, then (when the column has a bloom tier)
    * the membership test — bloom's no-false-negative guarantee keeps
    * this CORRECT, fpp only costs an extra opened dir. */
  private def eqMayMatch(rel: String, c: String, l: Literal): Boolean = {
    if (!partValueOf(rel, c).forall(pv => partEqMayMatch(pv, l))) return false
    val inRange = statFor(rel, c) match {
      case Some(DataSkipping.NumStat(mn, mx)) =>
        numOf(l).forall(v => !(mx < v || mn > v))
      case Some(DataSkipping.StrStat(mn, mx)) =>
        strOf(l).forall(v => !(mx.compareTo(v) < 0 || mn.compareTo(v) > 0))
      case _ => true
    }
    inRange && (bloomsFor(c).get(rel) match {
      case Some(bf) => l.value match {
        case u: UTF8String => bf.mightContainString(u.toString)
        case j: Long => bf.mightContainLong(j)
        case i: Int => bf.mightContainLong(i.toLong)
        case s: Short => bf.mightContainLong(s.toLong)
        case b: Byte => bf.mightContainLong(b.toLong)
        case null => true
        case other => bf.mightContain(other)
      }
      case None => true
    })
  }

  /** startsWith(attr, p): the matching values occupy [p, succ(p))
    * where succ bumps p's last incrementable char — the same
    * truncated-upper-bound rule the sidecar's own string stats use. */
  private def prefixMayMatch(rel: String, attrSide: Expression,
                             prefix: String): Boolean =
    attrName(attrSide) match {
      case Some(c) => statFor(rel, c) match {
        case Some(DataSkipping.StrStat(mn, mx)) =>
          val i = prefix.lastIndexWhere(_ != '￿')
          val upper =
            if (i < 0) None
            else Some(prefix.substring(0, i) + (prefix(i) + 1).toChar)
          !(mx.compareTo(prefix) < 0) && upper.forall(u => !(mn.compareTo(u) >= 0))
        case _ => true
      }
      case None => true
    }

  override def equals(other: Any): Boolean = other match {
    case g: GraftFileIndex => root == g.root && version == g.version && rels == g.rels
    case _ => false
  }
  override def hashCode(): Int = (root, version, rels).hashCode()
}

object GraftFileIndex {
  /** Dir count above which construction lists files with a Spark job
    * instead of a driver loop. */
  val ParallelListingThreshold = 32

  /** Pruning evidence of the most recent `listFiles` on ANY graft
    * index — spec/bench hooks, same style as
    * [[DataSkipping.lastStatsDirsScanned]]. */
  @volatile var lastDirsTotal: Int = 0
  @volatile var lastDirsKept: Int = 0

  /** Whether the most recent index construction listed via the
    * distributed path — spec evidence. */
  @volatile var lastListingDistributed: Boolean = false

  /** Whether the most recent snapshot listing was served from the
    * cache (no filesystem IO) — spec evidence. */
  @volatile var lastListingCached: Boolean = false

  // ── dir listing cache ─────────────────────────────────────────────
  // A committed data dir is IMMUTABLE, so its file listing is cached
  // per (root, dir): repeated reads of one version, a partition read
  // after a full read, and a new version sharing its predecessor's
  // dirs all skip the filesystem (Delta's snapshot cache, at dir
  // grain). Bounded LRU.
  private val MaxCachedDirs = 4096
  private val listingCache =
    new java.util.LinkedHashMap[(String, String), Array[FileStatus]](
      256, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Array[FileStatus]]): Boolean =
        size() > MaxCachedDirs
    }

  private[sources] def cachedListing(spark: SparkSession, root: String,
                                     rels: Seq[String]): Map[String, Array[FileStatus]] = {
    val hits = listingCache.synchronized {
      rels.flatMap(r => Option(listingCache.get((root, r))).map(r -> _)).toMap
    }
    val missing = rels.filterNot(hits.contains)
    lastListingCached = missing.isEmpty
    if (missing.isEmpty) hits
    else {
      val fresh = list(spark, root, missing)
      listingCache.synchronized { fresh.foreach { case (r, fs) => listingCache.put((root, r), fs) } }
      hits ++ fresh
    }
  }

  private[sources] def dropCached(root: String, rels: Seq[String]): Unit =
    listingCache.synchronized { rels.foreach(r => listingCache.remove((root, r))) }

  /** Dir listing: serial on the driver for small tables; past
    * [[ParallelListingThreshold]] dirs it becomes a Spark job (one
    * task per listing slice) — the InMemoryFileIndex rule, because a
    * serial listStatus loop over 10⁴+ dirs on an object store is
    * minutes of driver round-trips that a cluster absorbs in one
    * wave. */
  private def list(spark: SparkSession, root: String,
                   rels: Seq[String]): Map[String, Array[FileStatus]] = {
    // a function value, not a method: the listing job's closure ships
    // it to executors without dragging this object along
    val listDir: (FileSystem, String) => (String, Array[FileStatus]) = (f, rel) =>
      rel -> f.listStatus(new Path(s"$root/$rel")).filter { s =>
        val n = s.getPath.getName
        s.isFile && s.getLen > 0 && !n.startsWith("_") && !n.startsWith(".") &&
          n.endsWith(".parquet")
      }
    lastListingDistributed = rels.size > ParallelListingThreshold
    if (!lastListingDistributed) {
      val f = FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      rels.map(listDir(f, _)).toMap
    } else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(rels, math.min(rels.size, 64))
        .map(rel => listDir(FileSystem.get(new java.net.URI(root), conf.value), rel))
        .collect().toMap
    }
  }
}
