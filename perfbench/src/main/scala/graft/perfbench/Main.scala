package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** Options of one benchmark run, parsed from `--key value` pairs. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      tiny: Boolean, injectWrong: Boolean, work: String, out: String,
                      sourceSha: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", kv.get("size").contains("tiny"),
      kv.get("inject-wrong").contains("1"), need("work"), need("out"),
      kv.getOrElse("source-sha256", ""))
  }
}

/** What a workload sees of the harness: the session, its seeded RNG,
  * the tracer, and the op ledger. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
                val ledger: JobLedger) {
  val rng = new java.util.Random(opts.seed * 1000003L + opts.workload.hashCode)

  /** Latencies per op class ("write", "read"), and the check tally. */
  val latencies: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  var attempted = 0L
  var failed = 0L
  /** Off while warming up, so warm-up ops are not sampled. */
  var recording = true
  private var tampered = false

  /** Time one op of class `cls`; its spans share a fresh op id. */
  def timed[T](cls: String)(body: => T): T = {
    tracer.op += 1
    val t0 = System.nanoTime()
    val out = body
    if (recording)
      latencies.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    out
  }

  /** Count one checked output; a mismatch counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] WRONG OUTPUT: $what") }
  }

  /** The rows as graft returned them — except under `--inject-wrong 1`,
    * where the first checked result loses its last row, so the checks
    * can be shown to catch a wrong output. */
  def output(rows: Seq[Row]): Seq[Row] =
    if (opts.injectWrong && !tampered && rows.nonEmpty) { tampered = true; rows.init }
    else rows

  /** Order-insensitive digest of a result. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** A benchmark workload: set-up that can be repeated into fresh
  * directories, then rounds of a fixed amount of work. */
trait Workload {
  /** Generate inputs and build the tables under `dir`. */
  def setup(dir: String): Unit
  /** One round of fixed work; ops time themselves via [[Ctx.timed]]. */
  def round(i: Int): Unit
  /** Checks that need the whole run (final table state, rebuilds). */
  def finish(): Unit
  /** Table roots whose on-disk bytes count towards `bytes_per_row`. */
  def tableRoots: Seq[String]
  def liveRows: Long
  /** Per-layer metrics only this workload can compute. */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int
  /** Untimed rounds (negative indexes) that warm the round's code paths. */
  def warmRounds: Int = 1
  /** Rounds in one cycle of the schedule, and a cycle's nominal wall
    * time: a run does whole cycles, as many as fit in `--seconds` at
    * the nominal time, so every run of a given length does the same
    * work and samples the same stretch of the JVM's warm-up. */
  def cycleRounds: Int = 1
  def nominalCycleS: Double
}

object Main {
  val MinRounds = 4

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    // Spark gets half the cores: its task threads plus the JIT's and
    // GC's own threads would otherwise outnumber the cores, and the
    // timings would measure the scheduler of a shared host
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val builder = graft.GraftSession.builder("graft-perfbench", "8")
      .master(s"local[$cores]")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      // keep the status store small: its retained job/stage/SQL history
      // would otherwise dominate, and blur, heap_mb
      .config("spark.ui.retainedJobs", "50").config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000").config("spark.sql.ui.retainedExecutions", "50")
    if (opts.trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer
    val ledger = new JobLedger
    spark.sparkContext.addSparkListener(ledger)
    val ctx = new Ctx(spark, opts, tracer, ledger)
    try run(ctx, cores) finally spark.stop()
  }

  private def run(ctx: Ctx, cores: Int): Unit = {
    val opts = ctx.opts
    val spark = ctx.spark
    val tracer = ctx.tracer
    val ledger = ctx.ledger
    val w: Workload = opts.workload match {
      case "ingest" => new Ingest(ctx)
      case "serve" => new Serve(ctx)
      case "index-stream" => new IndexStream(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // when each phase ended, in seconds since the JVM started
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    def phase(name: String): Unit = {
      phases += (name -> (System.currentTimeMillis() - jvmStart) / 1000.0)
      log(f"$name done at ${phases.last._2}%.1f s")
    }
    phase("session")
    val boxStart = Box.measure(spark)
    phase("box_start")
    // set-up is repeated into fresh dirs and reported as the median;
    // the last one is the state the timed phase runs on
    val setupS = (0 until w.setupReps).map { r =>
      // the first set-up meets a cold JVM: its ops are not sampled
      ctx.recording = r > 0
      val t0 = System.nanoTime()
      w.setup(s"${opts.work}/setup$r")
      (System.nanoTime() - t0) / 1e9
    }
    log(f"set-up ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    phase("setup")
    ctx.recording = false
    for (k <- w.warmRounds to 1 by -1) w.round(-k)
    ctx.recording = true
    phase("warm-up")

    val gcBefore = Box.gc()
    val ticksBefore = Box.cpuTicks()
    val roundMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val roundWin = mutable.ArrayBuffer.empty[(Long, Long)]
    val roundFs = mutable.ArrayBuffer.empty[Array[Long]]
    // traced runs alternate traced and untraced cycles, at least one of
    // each, so the tracing overhead is measured inside the same run and
    // every round kind is traced
    val cycles = math.max(if (opts.trace) 2L else 1L, math.round(opts.seconds / w.nominalCycleS)).toInt
    val rounds = math.max(MinRounds, w.cycleRounds * cycles)
    var i = 0
    var bytesPerRow = 0.0
    while (i < rounds) {
      val traced = opts.trace && (i / w.cycleRounds) % 2 == 0
      tracer.active = traced; ledger.enabled = traced; CountingFs.enabled = traced
      tracer.round = i; tracer.op = 0L
      val fs0 = CountingFs.snapshot()
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      failOnThrow(ctx, s"round $i")(w.round(i))
      roundMs += (traced -> (System.nanoTime() - t0) / 1e6)
      if (traced) {
        roundWin += (w0 -> System.currentTimeMillis())
        val fs1 = CountingFs.snapshot()
        roundFs += fs1.indices.map(k => fs1(k) - fs0(k)).toArray
      }
      // bytes on disk at a fixed point of the schedule, reached by
      // every run, so the figure does not depend on the round count
      if (i == MinRounds - 1)
        bytesPerRow = w.tableRoots.map(r => Box.bytesUnder(new java.io.File(r))).sum.toDouble /
          math.max(1L, w.liveRows)
      i += 1
    }
    tracer.active = false; CountingFs.enabled = false
    val gcAfter = Box.gc()
    val stealPct = Box.stealPct(ticksBefore, Box.cpuTicks())
    val heapMb = Box.heapAfterGcMb()
    if (opts.trace) drain(spark, ledger)
    ledger.enabled = false
    phase("timed")
    failOnThrow(ctx, "final checks")(w.finish())
    phase("finish")
    val boxEnd = Box.measure(spark)
    phase("box_end")

    def roundsMs(traced: Boolean) = roundMs.collect { case (`traced`, ms) => ms }.toSeq
    // the timed phase's wall time: its untraced rounds, whole cycles
    val runS = roundsMs(traced = false).sum / 1000.0
    def p50(cls: String) = Stats.median(ctx.latencies.getOrElse(cls, Nil).toSeq)
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (Stats.median(setupS) -> "s"),
      "run_s" -> (runS -> "s"),
      "write_ms_p50" -> (p50("write") -> "ms"),
      "read_ms_p50" -> (p50("read") -> "ms"),
      "bytes_per_row" -> (bytesPerRow -> "B"),
      "heap_mb" -> (heapMb -> "MB"),
      "ok_ratio" -> ((ctx.attempted - ctx.failed).toDouble / math.max(1L, ctx.attempted) -> "ratio"),
    )
    val layers: Map[String, (Double, String)] =
      if (!opts.trace) Map.empty
      else {
        val v = Layers.compute(ctx, w, roundWin.toSeq, roundFs.toSeq, roundsMs(traced = true)) ++ Map(
          "trace.overhead_ms" -> (Stats.mean(roundsMs(traced = true)) - Stats.mean(roundsMs(traced = false))),
          "jvm.gc_ms" -> (gcAfter._2 - gcBefore._2).toDouble,
          "jvm.gc_count" -> (gcAfter._1 - gcBefore._1).toDouble,
          "jvm.heap_after_gc_mb" -> heapMb,
          "box.cpu_ms_start" -> boxStart._1, "box.cpu_ms_end" -> boxEnd._1,
          "box.spark_job_ms_start" -> boxStart._2, "box.spark_job_ms_end" -> boxEnd._2)
        Layers.catalogFor(opts.workload).map { case (k, u) => k -> (v.getOrElse(k, 0.0) -> u) }.toMap
      }
    if (opts.trace) tracer.dumpJsonl(java.nio.file.Paths.get(opts.out + ".spans.jsonl"))

    // per op class: count, median and the highest percentile with at
    // least ten samples beyond it (p90 needs >= 100 samples)
    val classes = ctx.latencies.toSeq.sortBy(_._1).map { case (cls, xs) =>
      val ms = xs.toSeq
      val p = Stats.supportedPercentile(ms.size)
      val hi = p.map(q => s""","p$q":${Json.num(Stats.percentile(ms, q))}""").getOrElse("")
      s"""${Json.str(cls)}:{"n":${ms.size},"p50":${Json.num(p50(cls))}$hi,""" +
        s""""samples":[${ms.map(Json.num).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val env = Map(
      "source_sha256" -> opts.sourceSha,
      "cpus" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "rounds" -> i.toString,
      "box_cpu_ms" -> f"${boxStart._1}%.1f/${boxEnd._1}%.1f",
      "box_spark_job_ms" -> f"${boxStart._2}%.1f/${boxEnd._2}%.1f",
      "box_steal_pct" -> stealPct.fold("n/a")(p => f"$p%.2f"),
    ).toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
    def metricsJson(m: Map[String, (Double, String)]) = m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString("{", ",", "}")
    val metrics = if (opts.trace) layers else e2e
    val result = s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":${metricsJson(metrics)}}"""
    val detail = s"""{"workload":${Json.str(opts.workload)},"seed":${opts.seed},""" +
      s""""trace":${opts.trace},"env":$env,"op_classes":$classes,""" +
      s""""workload_metrics":${metricsJson(w.layerMetrics.map { case (k, v) => k -> (v -> "") })},""" +
      s""""end_to_end":${metricsJson(e2e)},"per_layer":${metricsJson(layers)},""" +
      s""""setup_s":[${setupS.map(Json.num).mkString(",")}],""" +
      s""""phase_end_s":${phases.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")},""" +
      s""""round_ms":[${roundMs.map(r => Json.num(r._2)).mkString(",")}]}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(opts.out), (detail + "\n").getBytes("UTF-8"))
    System.err.flush()
    println("PERFBENCH_RESULT " + result)
    System.out.flush()
  }

  /** A call into graft that throws counts as one failed op. */
  private def failOnThrow(ctx: Ctx, what: String)(body: => Unit): Unit =
    try body
    catch { case e: Exception =>
      ctx.attempted += 1; ctx.failed += 1
      System.err.println(s"[perfbench] $what failed: $e")
      e.printStackTrace()
    }

  /** Wait until the listener has seen a sentinel job end, so every
    * earlier event has been delivered. */
  private def drain(spark: SparkSession, ledger: JobLedger): Unit = {
    ledger.enabled = true
    spark.sparkContext.setJobDescription("perfbench-drain")
    val before = System.currentTimeMillis()
    spark.range(1).collect()
    spark.sparkContext.setJobDescription(null)
    val limit = System.nanoTime() + 10000000000L
    while (System.nanoTime() < limit &&
           !ledger.all.exists(j => j.start >= before && j.end >= 0)) Thread.sleep(20)
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  /** Linear-interpolated percentile `q` (0-100). */
  def percentile(xs: Seq[Double], q: Int): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q / 100.0
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** Highest of p90/p75 that leaves at least ten samples beyond it. */
  def supportedPercentile(n: Int): Option[Int] =
    Seq(90, 75).find(q => n * (100 - q) / 100 >= 10)
}

object Box {
  /** (fixed single-thread loop ms, fixed trivial Spark job ms), each a
    * median of three: tells box drift apart from code change. */
  def measure(spark: SparkSession): (Double, Double) = {
    def loop(): Double = {
      val t0 = System.nanoTime()
      var x = 1L; var k = 0
      while (k < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
      if (x == 42L) println()
      (System.nanoTime() - t0) / 1e6
    }
    def job(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, 4).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e6
    }
    (Stats.median(Seq.fill(3)(loop())), Stats.median(Seq.fill(3)(job())))
  }

  /** The machine's cumulative CPU ticks per state (user, nice,
    * system, idle, iowait, irq, softirq, steal, ...), where the OS
    * exposes them (Linux `/proc/stat`). */
  def cpuTicks(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+").tail.map(_.toLong))
      finally src.close()
    } catch { case _: java.io.IOException => None }

  /** Share of the machine's CPU time stolen by the hypervisor between
    * two [[cpuTicks]] readings: other guests on a shared host. */
  def stealPct(a: Option[Array[Long]], b: Option[Array[Long]]): Option[Double] =
    for (x <- a; y <- b if x.length > 7 && y.length > 7) yield {
      val d = y.indices.map(i => y(i) - x(i))
      100.0 * d(7) / math.max(1L, d.take(8).sum)
    }

  /** (collections, collection ms) over every collector so far. */
  def gc(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  /** Used heap after full collections: repeats far better than RSS. */
  def heapAfterGcMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else if (f.isFile) f.length() else 0L
}
