package graft.perfbench

/** Per-layer metrics of a traced run, from the spans, the listener
  * ledger and the filesystem counters of its traced rounds. Every run
  * reports the whole catalogue; a layer a workload does not reach
  * reads 0. Per-round figures are means over the traced rounds, so
  * they do not depend on how many rounds fit in the run. */
object Layers {
  val RelOps: Seq[String] = Serve.RelKinds

  /** name -> unit, in the order BENCHMARK.json lists them. */
  val Catalog: Seq[(String, String)] =
    Seq("jobs" -> "count", "tasks" -> "count", "busy_ms" -> "ms", "driver_gap_ms" -> "ms",
        "task_cpu_ms" -> "ms", "task_gc_ms" -> "ms", "shuffle_bytes" -> "B",
        "spill_bytes" -> "B").map { case (k, u) => s"spark.$k" -> u } ++
    CountingFs.Names.map(n => s"fs.$n" -> (if (n.startsWith("bytes")) "B" else "count")) ++
    Seq("calls" -> "count", "self_ms" -> "ms", "jobs_per_call" -> "count",
        "files_per_call" -> "count", "amplification" -> "ratio",
        "merge_partitioned.self_ms" -> "ms", "merge.self_ms" -> "ms",
        "append_partitioned.self_ms" -> "ms", "compact_partitioned.self_ms" -> "ms")
      .map { case (k, u) => s"vt.write.$k" -> u } ++
    (for (l <- Serve.Layouts; (k, u) <- Seq("calls" -> "count", "self_ms" -> "ms",
           "dirs" -> "count", "jobs_beyond_scan" -> "count", "log_reads" -> "count"))
       yield s"vt.read.$l.$k" -> u) ++
    Seq("skip.dirs_opened_ratio" -> "ratio") ++
    RelOps.map(op => s"rel.$op.self_ms" -> "ms") ++
    Seq("gc_ms" -> "ms", "gc_count" -> "count", "heap_after_gc_mb" -> "MB")
      .map { case (k, u) => s"jvm.$k" -> u } ++
    Seq("cpu_ms_start", "cpu_ms_end", "spark_job_ms_start", "spark_job_ms_end")
      .map(k => s"box.$k" -> "ms") ++
    Seq("trace.overhead_ms" -> "ms")

  /** The index layers, reported by `index-stream` runs only (that
    * workload runs by hand; it is not in BENCHMARK.json). */
  val IndexCatalog: Seq[(String, String)] =
    Seq("graph.ingest.self_ms" -> "ms", "graph.ingest.growth" -> "ratio",
        "graph.ingest.shuffle_bytes" -> "B", "graph.probe.self_ms" -> "ms",
        "graph.recall_at_k" -> "ratio", "index.corpus_growth" -> "ratio",
        "lex.ingest.self_ms" -> "ms", "lex.ingest.jobs" -> "count", "lex.probe.self_ms" -> "ms",
        "vec.ingest_dedup.self_ms" -> "ms", "vec.admit_ratio" -> "ratio")

  def catalogFor(workload: String): Seq[(String, String)] =
    if (workload == "index-stream") Catalog ++ IndexCatalog else Catalog

  /** Span attributes of a version resolve: `_log` files it read. */
  def logReads: Map[String, Double] =
    Map("log_reads" -> graft.sources.VersionedTable.lastResolveLogReads.toDouble)

  /** Span attributes of a read: the data dirs it resolved to (distinct
    * parents of its input files) and the log reads of its resolve. */
  def readAttrs(d: org.apache.spark.sql.DataFrame): Map[String, Double] = logReads +
    ("dirs" -> d.inputFiles.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.length.toDouble)

  def compute(ctx: Ctx, w: Workload, windows: Seq[(Long, Long)], roundFs: Seq[Array[Long]],
              tracedMs: Seq[Double]): Map[String, Double] = {
    val rounds = math.max(1, windows.size).toDouble
    val spans = ctx.tracer.spans.toSeq
    val self = ctx.tracer.selfMs
    val jobs = windows.flatMap { case (a, b) => ctx.ledger.startingIn(a, b) }.distinct
    def jobsIn(ss: Seq[Span]) = ss.flatMap(s => ctx.ledger.startingIn(s.w0, s.w1)).distinct
    def named(p: String) = spans.filter(_.name.startsWith(p))
    def selfSum(ss: Seq[Span]) = ss.map(s => self(s.id)).sum
    def perCall(ss: Seq[Span], f: Span => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def avg(xs: Seq[Double]) = ratio(xs.sum, xs.size)
    val m = Map.newBuilder[String, Double]

    // spark: busy = union of job intervals, gap = the rest of the round
    val busy = {
      val iv = jobs.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
      var total = 0L; var s = Long.MinValue; var e = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > e) { if (e > s) total += e - s; s = a; e = b } else if (b > e) e = b }
      if (e > s) total += e - s
      total.toDouble
    }
    m += "spark.jobs" -> jobs.size / rounds
    m += "spark.tasks" -> jobs.map(_.tasks.get).sum / rounds
    m += "spark.busy_ms" -> busy / rounds
    m += "spark.driver_gap_ms" -> (Stats.mean(tracedMs) - busy / rounds)
    m += "spark.task_cpu_ms" -> jobs.map(_.cpuNs.get).sum / 1e6 / rounds
    m += "spark.task_gc_ms" -> jobs.map(_.gcMs.get).sum / rounds
    m += "spark.shuffle_bytes" -> jobs.map(_.shuffleBytes.get).sum / rounds
    m += "spark.spill_bytes" -> jobs.map(_.spillBytes.get).sum / rounds
    CountingFs.Names.indices.foreach(k =>
      m += s"fs.${CountingFs.Names(k)}" -> roundFs.map(_(k)).sum / rounds)

    val writes = named("vt.write.")
    m += "vt.write.calls" -> writes.size / rounds
    m += "vt.write.self_ms" -> selfSum(writes) / rounds
    m += "vt.write.jobs_per_call" -> ratio(writes.map(s => jobsIn(Seq(s)).size).sum, writes.size)
    m += "vt.write.files_per_call" -> ratio(writes.map(_.fsDelta("create")).sum, writes.size)
    m += "vt.write.amplification" ->
      ratio(writes.map(_.fsDelta("bytes_written")).sum, writes.map(_.attrs.getOrElse("user_bytes", 0.0)).sum)
    for (op <- Seq("merge_partitioned", "merge", "append_partitioned", "compact_partitioned"))
      m += s"vt.write.$op.self_ms" -> selfSum(spans.filter(_.name == s"vt.write.$op")) / rounds

    for (l <- Serve.Layouts) {
      val reads = named(s"vt.read.$l.")
      def attr(k: String) = reads.flatMap(_.attrs.get(k))
      m += s"vt.read.$l.calls" -> reads.size / rounds
      m += s"vt.read.$l.self_ms" -> selfSum(reads) / rounds
      m += s"vt.read.$l.dirs" -> (if (reads.isEmpty) 0.0 else Stats.median(attr("dirs")))
      m += s"vt.read.$l.jobs_beyond_scan" -> ratio(reads.map(s => jobsIn(Seq(s)).size).sum, reads.size)
      m += s"vt.read.$l.log_reads" -> avg(attr("log_reads"))
    }
    val scans = spans.filter(_.attrs.contains("dirs_total"))
    m += "skip.dirs_opened_ratio" ->
      ratio(scans.map(_.attrs("dirs_kept")).sum, scans.map(_.attrs("dirs_total")).sum)
    for (op <- RelOps) m += s"rel.$op.self_ms" -> perCall(named(s"rel.$op"), s => self(s.id))

    val gIngest = spans.filter(_.name == "graph.ingest")
    // last-quarter over first-quarter mean; with under 8 traced
    // batches, the last batch over the first
    val q = math.max(1, gIngest.size / 4)
    m += "graph.ingest.self_ms" -> perCall(gIngest, s => self(s.id))
    m += "graph.ingest.growth" -> (if (gIngest.size < 2) 0.0 else
      ratio(gIngest.takeRight(q).map(s => self(s.id)).sum, gIngest.take(q).map(s => self(s.id)).sum))
    m += "graph.ingest.shuffle_bytes" ->
      perCall(gIngest, s => jobsIn(Seq(s)).map(_.shuffleBytes.get).sum.toDouble)
    m += "graph.probe.self_ms" -> perCall(spans.filter(_.name == "graph.probe"), s => self(s.id))
    val lIngest = spans.filter(_.name == "lex.ingest")
    m += "lex.ingest.self_ms" -> perCall(lIngest, s => self(s.id))
    m += "lex.ingest.jobs" -> perCall(lIngest, s => jobsIn(Seq(s)).size.toDouble)
    m += "lex.probe.self_ms" -> perCall(spans.filter(_.name == "lex.probe"), s => self(s.id))
    m += "vec.ingest_dedup.self_ms" ->
      perCall(spans.filter(_.name == "vec.ingest_dedup"), s => self(s.id))

    m.result() ++ w.layerMetrics
  }
}
