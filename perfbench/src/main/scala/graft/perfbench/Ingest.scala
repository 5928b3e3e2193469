package graft.perfbench

import java.sql.{Date, Timestamp}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.sources.VersionedTable

/** `ingest`: the reference's fetch → Delta MERGE → metadata update
  * loop. Each round hands graft one seeded micro-batch of
  * financials/ttm/metadata records (about 75% restating existing
  * `(ticker, record_type, period_end_date)` keys, null sentinels, and
  * metadata rows whose date is null) touching 8 of 16 bucket values:
  * `mergePartitioned` into the records table, `merge` into the stocks
  * metadata table, `appendPartitioned` into the run-state log, and
  * every sixth batch `compactPartitioned` on both partitioned tables.
  * Then a reader fetches two touched tickers back (`readPartition`).
  *
  * write = one batch, from hand-off until its last commit returns;
  * read = the read-back, until its rows are in hand. Correctness: every
  * read-back and the final tables equal a driver-side latest-wins
  * replay of the generated batches. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val nTickers = if (ctx.opts.tiny) 48 else 240
  private val batchRows = if (ctx.opts.tiny) 48 else 400
  private val touchedBuckets = 8

  private var dir = ""
  private def recordsRoot = s"$dir/records"
  private def metaRoot = s"$dir/stocks"
  private def logRoot = s"$dir/run_log"

  // the latest-wins replay every read is checked against
  private val replay = mutable.Map.empty[Key, Row]
  private val keysByBucket = mutable.Map.empty[Int, mutable.ArrayBuffer[Key]]
  private val nextQuarter = mutable.Map.empty[Int, Int]
  private val metaReplay = mutable.Map.empty[Int, Row]
  private var logRows = 0L
  private var batch = 0L

  private def ticker(t: Int) = f"TK$t%04d"
  private def bucketOf(t: Int) = t % Buckets
  private def bucketName(b: Int) = f"b$b%02d"
  private def quarterEnd(q: Int) = Date.valueOf(java.time.LocalDate.of(2019, 1, 1)
    .plusMonths(3L * (q + 1)).minusDays(1))

  private def record(k: Key, rng: java.util.Random, b: Long): Row = {
    def money(scale: Double): Any =
      if (rng.nextDouble() < 0.05) null else math.rint(rng.nextDouble() * scale) / 100.0
    Row(ticker(k.t), k.rtype, k.q.map(quarterEnd).orNull,
      money(1e11), money(2e10), money(2e3),
      if (rng.nextDouble() < 0.05) null else java.lang.Long.valueOf(1000000L + rng.nextInt(1 << 30)),
      new Timestamp(1700000000000L + b * 60000L + rng.nextInt(60000)), b, bucketName(bucketOf(k.t)))
  }

  private def remember(k: Key, r: Row): Unit = {
    if (!replay.contains(k)) keysByBucket.getOrElseUpdate(bucketOf(k.t), mutable.ArrayBuffer.empty) += k
    replay(k) = r
  }

  def setup(d: String): Unit = {
    dir = d
    replay.clear(); keysByBucket.clear(); nextQuarter.clear(); metaReplay.clear()
    batch = 0L
    val rng = new java.util.Random(ctx.opts.seed)
    val rows = mutable.ArrayBuffer.empty[Row]
    for (t <- 0 until nTickers) {
      val keys = (0 until 12).map(q => Key(t, "financials", Some(q))) ++
        (8 until 12).map(q => Key(t, "ttm", Some(q))) :+ Key(t, "metadata", None)
      keys.foreach { k => val r = record(k, rng, 0L); remember(k, r); rows += r }
      nextQuarter(t) = 12
      metaReplay(t) = metaRow(t, 0L, keys.size.toLong)
    }
    VersionedTable.commitPartitioned(spark, recordsRoot, df(rows.toSeq, RecordSchema), "bucket", -1L)
    VersionedTable.commit(spark, metaRoot, df(metaReplay.values.toSeq, MetaSchema), -1L)
    val log = (0 until nTickers).map(t => Row(0L, ticker(t), "done", new Timestamp(1700000000000L)))
    VersionedTable.appendPartitioned(spark, logRoot, df(log, LogSchema), "state", -1L)
    logRows = log.size.toLong
  }

  private def metaRow(t: Int, b: Long, n: Long) =
    Row(ticker(t), s"sector${t % 11}", n, b, new Timestamp(1700000000000L + b * 60000L))

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** One micro-batch: unique keys, ~75% restating existing ones. */
  private def nextBatch(): (Seq[Row], Seq[Row], Seq[Row]) = {
    val rng = ctx.rng
    batch += 1
    val buckets = rng.ints(0, Buckets).distinct().limit(touchedBuckets).toArray.toSeq
    val tickers = (0 until nTickers).filter(t => buckets.contains(bucketOf(t)))
    val keys = mutable.LinkedHashSet.empty[Key]
    while (keys.size < batchRows) {
      val k =
        if (rng.nextDouble() < 0.25) {
          val t = tickers(rng.nextInt(tickers.size))
          val q = nextQuarter(t); nextQuarter(t) = q + 1
          Key(t, if (rng.nextBoolean()) "financials" else "ttm", Some(q))
        } else if (rng.nextDouble() < 0.06) Key(tickers(rng.nextInt(tickers.size)), "metadata", None)
        else {
          val ks = keysByBucket(buckets(rng.nextInt(buckets.size)))
          ks(rng.nextInt(ks.size))
        }
      keys += k
    }
    val recs = keys.toSeq.map { k => val r = record(k, rng, batch); remember(k, r); r }
    val touched = keys.toSeq.map(_.t).distinct.sorted
    val perTicker = keys.toSeq.groupBy(_.t).map { case (t, ks) => t -> ks.size.toLong }
    val meta = touched.map { t => val r = metaRow(t, batch, perTicker(t)); metaReplay(t) = r; r }
    val states = Seq("done", "done", "done", "skipped", "error")
    val log = touched.map(t => Row(batch, ticker(t), states(rng.nextInt(states.size)),
      new Timestamp(1700000000000L + batch * 60000L)))
    logRows += log.size
    (recs, meta, log)
  }

  def round(i: Int): Unit = {
    val (recs, meta, log) = nextBatch()
    val recDf = df(recs, RecordSchema)
    val metaDf = df(meta, MetaSchema)
    val logDf = df(log, LogSchema)
    val t = ctx.tracer
    ctx.timed("write") {
      t.span("ingest.batch") {
        t.spanWith("vt.write.merge_partitioned") {
          VersionedTable.mergePartitioned(spark, recordsRoot, recDf, KeyCols, "bucket",
            tieBreak = Seq("batch_id"))
        }(_ => userBytes(recs))
        t.spanWith("vt.write.merge") {
          VersionedTable.merge(spark, metaRoot, metaDf, Seq("ticker"))
        }(_ => userBytes(meta))
        val base = t.spanWith("vt.read.fragmented.current_version") {
          VersionedTable.currentVersion(spark, logRoot).get
        }(_ => Layers.logReads)
        t.spanWith("vt.write.append_partitioned") {
          VersionedTable.appendPartitioned(spark, logRoot, logDf, "state", base)
        }(_ => userBytes(log))
        if (math.floorMod(i, CompactEvery) == CompactEvery - 1) {
          t.span("vt.write.compact_partitioned") {
            VersionedTable.compactPartitioned(spark, recordsRoot)
          }
          t.span("vt.write.compact_partitioned") {
            VersionedTable.compactPartitioned(spark, logRoot)
          }
        }
      }
    }
    ctx.attempted += 1
    // read-backs: touched tickers, as a reader of the table sees them
    for (_ <- 1 to ReadBacks) {
      val probe = recs(ctx.rng.nextInt(recs.size))
      val tk = probe.getString(0)
      val got = ctx.timed("read") {
        t.span("api.read_back") {
          val part = t.spanWith("vt.read.fragmented.read_partition") {
            VersionedTable.readPartition(spark, recordsRoot, probe.getString(9))
          }(Layers.readAttrs)
          part.filter(col("ticker") === tk).select(RecordSchema.fieldNames.map(col): _*).collect().toSeq
        }
      }
      val want = replay.collect { case (k, r) if ticker(k.t) == tk => r }.toSeq
      ctx.check(ctx.digest(ctx.output(got)) == ctx.digest(want),
        s"ingest read-back of $tk: ${got.size} rows, expected ${want.size}")
    }
  }

  def finish(): Unit = {
    val recs = VersionedTable.read(spark, recordsRoot)
      .select(RecordSchema.fieldNames.map(col): _*).collect().toSeq
    ctx.check(ctx.digest(ctx.output(recs)) == ctx.digest(replay.values.toSeq),
      s"ingest records table: ${recs.size} rows, replay has ${replay.size}")
    val meta = VersionedTable.read(spark, metaRoot)
      .select(MetaSchema.fieldNames.map(col): _*).collect().toSeq
    ctx.check(ctx.digest(meta) == ctx.digest(metaReplay.values.toSeq),
      s"ingest stocks table: ${meta.size} rows, replay has ${metaReplay.size}")
    val n = VersionedTable.read(spark, logRoot).count()
    ctx.check(n == logRows, s"ingest run log: $n rows, expected $logRows")
  }

  // a warm set-up takes about 1.5 s, so single ones jitter by a
  // third; the median of five (one of them cold) holds steady
  def setupReps: Int = 5
  // rounds -2 and -1: a plain batch and one with compaction
  override def warmRounds: Int = 2
  override def cycleRounds: Int = CompactEvery
  def nominalCycleS: Double = 11.0

  def tableRoots: Seq[String] = Seq(recordsRoot, metaRoot, logRoot)
  def liveRows: Long = replay.size + metaReplay.size + logRows
}

object Ingest {
  final case class Key(t: Int, rtype: String, q: Option[Int])
  val Buckets = 16
  val CompactEvery = 6
  /** Read-backs after each batch: two give `read_ms_p50` twice the
    * samples of `write_ms_p50` for little run time. */
  val ReadBacks = 2
  val KeyCols: Seq[String] = Seq("ticker", "record_type", "period_end_date")

  val RecordSchema: StructType = StructType(Seq(
    StructField("ticker", StringType), StructField("record_type", StringType),
    StructField("period_end_date", DateType), StructField("revenue", DoubleType),
    StructField("net_income", DoubleType), StructField("eps", DoubleType),
    StructField("shares", LongType), StructField("fetched_at", TimestampType),
    StructField("batch_id", LongType), StructField("bucket", StringType)))
  val MetaSchema: StructType = StructType(Seq(
    StructField("ticker", StringType), StructField("sector", StringType),
    StructField("n_records", LongType), StructField("last_batch", LongType),
    StructField("last_fetched_at", TimestampType)))
  val LogSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType), StructField("ticker", StringType),
    StructField("state", StringType), StructField("ts", TimestampType)))

  /** Bytes the user handed over: the batch's fields at their plain
    * sizes (8 per number or timestamp, 4 per date, UTF-8 strings). */
  def userBytes(rows: Seq[Row]): Map[String, Double] =
    Map("user_bytes" -> rows.iterator.map(r => r.toSeq.iterator.map {
      case s: String => s.getBytes("UTF-8").length.toLong
      case _: Date => 4L
      case null => 0L
      case _ => 8L
    }.sum).sum.toDouble)
}
