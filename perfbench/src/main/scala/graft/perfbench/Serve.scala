package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.Relational
import graft.sources.{DataSkipping, GraftFileIndex, VersionedTable}

/** `serve`: the reference's API surface over one wide lake table whose
  * rows carry orders, events and part columns side by side, so every
  * `Relational` API op reads it directly (it prunes to its columns).
  * Set-up commits the table twice: fragmented (six `appendPartitioned`
  * waves over 6 bucket values, 36 data dirs, above Spark's 32-path
  * parallel-listing threshold) and compacted (a `commitPartitioned`
  * snapshot of the first two waves for `readAsOf`, then one of all
  * rows: 6 dirs). There are no commits in the timed phase: each round
  * runs one API call, cycling through the eleven kinds below with
  * seeded parameters, on both halves, and collects its full result.
  *
  * write = one set-up append (the commits that fragment the table);
  * read = one API call, until its full result is in hand. Correctness:
  * both halves' answers must equal digests computed in set-up from the
  * generated rows. */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val spark = ctx.spark
  private val nRows = if (ctx.opts.tiny) 1200 else 12000

  private var dir = ""
  private def root(layout: String) = s"$dir/$layout/lake"
  private var rows: Seq[Row] = Nil
  private val expected = mutable.Map.empty[String, String]

  private def df(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), Schema)

  private def generate(): Unit = {
    val rng = new java.util.Random(ctx.opts.seed)
    val day0 = Timestamp.valueOf("1992-01-01 00:00:00").getTime
    val ts0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    rows = (1 to nRows).map { k =>
      val name = Seq.fill(3)(Words(rng.nextInt(Words.size))).mkString(" ")
      Row(k.toLong, 1L + rng.nextInt(1000), Seq("O", "F", "F", "P")(rng.nextInt(4)),
        math.rint(rng.nextDouble() * 5e7) / 100.0,
        new Timestamp(day0 + rng.nextInt(2550) * 86400000L),
        Priorities(rng.nextInt(Priorities.size)),
        k.toLong, new Timestamp(ts0 + (rng.nextDouble() * 3e10).toLong),
        1L + rng.nextInt(500), SparkEntry.eventStates(rng.nextInt(SparkEntry.eventStates.size)),
        math.rint(rng.nextDouble() * 1e6) / 1e4,
        k.toLong, name, s"Brand#${1 + rng.nextInt(5)}${1 + rng.nextInt(5)}",
        Types(rng.nextInt(Types.size)), bucket(k))
    }
  }

  def setup(d: String): Unit = {
    dir = d
    generate()
    rows.grouped(waveRows).zipWithIndex.foreach { case (wave, v) =>
      ctx.timed("write") {
        VersionedTable.appendPartitioned(spark, root("fragmented"), df(wave), "bucket", v - 1L)
      }
    }
    Seq(asOfRows, rows).zipWithIndex.foreach { case (rs, v) =>
      VersionedTable.commitPartitioned(spark, root("compacted"), df(rs), "bucket", v - 1L)
    }
    // min/max stats where they can prune: each fragmented wave holds
    // one o_orderkey range, while every compacted dir spans all keys
    val r = root("fragmented")
    DataSkipping.ensureStats(spark, r, VersionedTable.currentVersion(spark, r).get, Seq("o_orderkey"))
  }

  private def waveRows = (rows.size + Waves - 1) / Waves
  /** The rows of the earlier version `read_as_of` reads. */
  private def asOfRows = rows.take(AsOfWaves * waveRows)

  /** The generated rows, read the way each live call reads the table. */
  private final class Source(all: DataFrame, asOf: DataFrame) extends Access {
    def read() = all
    def readPartition(b: String) = all.filter(col("bucket") === b)
    def readAsOf() = asOf
    def graftScan() = all
  }

  /** One half of the lake, every read recorded as a `vt.read` span. */
  private final class Lake(layout: String) extends Access {
    private def span(op: String)(body: => DataFrame) =
      ctx.tracer.spanWith(s"vt.read.$layout.$op")(body)(Layers.readAttrs)
    def read() = span("read")(VersionedTable.read(spark, root(layout)))
    def readPartition(b: String) =
      span("read_partition")(VersionedTable.readPartition(spark, root(layout), b))
    def readAsOf() = span("read_as_of")(VersionedTable.readAsOf(spark, root(layout),
      if (layout == "fragmented") AsOfWaves - 1L else 0L))
    def graftScan() = span("graft_scan")(spark.read.format("graft").load(root(layout)))
  }

  /** Run call `kind`, with its seeded parameters, against `a`. */
  private def call(kind: String, a: Access): Seq[Row] = {
    val p = new java.util.Random(ctx.opts.seed * 31 + kind.hashCode)
    def day(max: Int) = f"${1992 + p.nextInt(max)}%04d-${1 + p.nextInt(12)}%02d-01"
    val out = kind match {
      case "latest_per_key" => Relational.latestPerKey(a.read())
      case "state_counts" => Relational.stateCounts(a.read())
      case "active_runs" => Relational.activeRuns(a.read(), SparkEntry.terminalStates)
      case "ci_search" => Relational.ciSearch(a.read(),
        s"brand#${1 + p.nextInt(5)}${1 + p.nextInt(5)}", Words(p.nextInt(Words.size)).take(3))
      case "date_range_filter" =>
        val lo = day(5)
        Relational.dateRangeFilter(a.read(), lo, s"${lo.take(4).toInt + 1}${lo.drop(4)}",
          Seq("O", "F", "P")(p.nextInt(3)))
      case "top_n_page" => Relational.topNPage(a.read(), p.nextInt(200), PageSize)
      case "cursor_page" =>
        Relational.cursorPage(a.read(), day(7), p.nextInt(nRows).toLong, PageSize)
      case "bulk_stats" => Relational.bulkStats(a.read())
      case "read_partition" =>
        a.readPartition(bucket(p.nextInt(Buckets)))
          .filter(col("o_custkey") === 1L + p.nextInt(1000))
      case "read_as_of" =>
        val lo = 1L + p.nextInt(1000)
        a.readAsOf().filter(col("o_custkey").between(lo, lo + 20))
      case "graft_range" =>
        val lo = 1L + p.nextInt(nRows)
        a.graftScan().filter(col("o_orderkey").between(lo, lo + nRows / 20))
    }
    out.collect().toSeq
  }

  def round(i: Int): Unit = {
    // expected answers for every kind, before any timing
    if (expected.isEmpty) {
      val t0 = System.nanoTime()
      val source = new Source(df(rows), df(asOfRows))
      Kinds.foreach(k => expected(k) = ctx.digest(call(k, source)))
      Main.log(f"expected digests in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val kind = if (i < 0) WarmKinds(WarmKinds.size + i) else Kinds(i % Kinds.size)
    // warm-up calls run on the fragmented half alone: its reads take
    // every code path the compacted half's do, plus Spark's parallel
    // listing and stats pruning
    for (layout <- if (i < 0) Seq("fragmented") else Layouts) {
      val lake = new Lake(layout)
      val spanName = if (RelKinds.contains(kind)) s"rel.$kind" else s"api.$kind"
      val got = ctx.timed("read") {
        ctx.tracer.spanWith(spanName)(call(kind, lake)) { _ =>
          if (kind != "graft_range") Map.empty
          else Map("dirs_total" -> GraftFileIndex.lastDirsTotal.toDouble,
                   "dirs_kept" -> GraftFileIndex.lastDirsKept.toDouble)
        }
      }
      ctx.check(ctx.digest(ctx.output(got)) == expected(kind),
        s"serve $kind on the $layout half: ${got.size} rows differ from set-up digest")
    }
  }

  // the expected-digest pass has run every API op over the generated
  // rows; one untimed call per read entry point then warms the lake's
  // read paths. The timed cycles run the kinds in the same fixed order,
  // so each meets the same stretch of the JVM's warm-up in every run
  // (the seed varies data and parameters)
  def setupReps: Int = 2
  override def warmRounds: Int = WarmKinds.size
  override def cycleRounds: Int = Kinds.size
  def nominalCycleS: Double = 13.0

  def finish(): Unit = ()
  def tableRoots: Seq[String] = Layouts.map(root)
  def liveRows: Long = 2L * rows.size
}

/** How a call reaches the table: the live lake or the generated rows. */
trait Access {
  def read(): DataFrame
  def readPartition(b: String): DataFrame
  def readAsOf(): DataFrame
  def graftScan(): DataFrame
}

object Serve {
  val Buckets = 6
  val Waves = 6
  /** `read_as_of` reads the version holding the first two waves. */
  val AsOfWaves = 2
  val PageSize = 50
  val Layouts: Seq[String] = Seq("fragmented", "compacted")
  val RelKinds: Seq[String] = Seq("latest_per_key", "state_counts", "active_runs", "ci_search",
    "date_range_filter", "top_n_page", "cursor_page", "bulk_stats")
  val Kinds: Seq[String] = RelKinds ++ Seq("read_partition", "read_as_of", "graft_range")
  /** One call per read entry point: `read`, `readPartition`, `readAsOf`
    * and the `format("graft")` scan. */
  val WarmKinds: Seq[String] = Seq("latest_per_key", "read_partition", "read_as_of", "graft_range")
  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Words: Seq[String] = Seq("red", "green", "blue", "ivory", "khaki", "linen", "maroon",
    "orchid", "peru", "salmon", "tan", "wheat", "azure", "coral", "frosted", "ghost")
  val Types: Seq[String] = Seq("STANDARD BRASS", "SMALL TIN", "LARGE STEEL", "PROMO COPPER")

  def bucket(k: Int): String = f"b${k % Buckets}%02d"

  /** Orders, events and part columns side by side, one row per key. */
  val Schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("bucket", StringType)))
}
