package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench", cpus).master(s"local[$cpus]").getOrCreate()
    // OFF, not WARN: the driver records a bounded tail of the run's
    // merged output and late WARNs (e.g. cancelJobGroup's "Cannot
    // find active jobs" on streaming stops) were landing inside the
    // tail window ahead of the JSON line. Bench is a measurement
    // harness — query failures are reported by our own catch below,
    // which doesn't go through log4j.
    spark.sparkContext.setLogLevel("OFF")
    // steady-state warmup: JIT the codegen/shuffle machinery and prime
    // file-footer caches so per-query timings don't charge the first
    // query with one-time session costs
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }
    // N passes (default 3), report the per-query MIN: the first
    // execution of each plan pays one-time whole-stage-codegen
    // compilation + JIT (profiled at 1-2s per query shape, ~7x the
    // steady-state run) which is noise at production scale — a 100 TB
    // job compiles its plan once and runs it for hours. Min-of-2
    // proved vulnerable to box-level load noise (the round-8 "q17
    // regression" was two passes both landing in a loaded window;
    // min-of-6 showed steady state unchanged) — a third pass makes a
    // false drift need three concurrent collisions, not two. A failed
    // query reports -1, never a plausible-looking elapsed time.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // optional args = exact query names, for targeted local timing;
    // the driver passes none (full battery)
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(args.contains).toMap
    def onePass(): Map[String, Double] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap
    val all = (1 to math.max(1, passes)).map(_ => onePass())
    val results = all.head.keys.map { name =>
      val best = all.flatMap(_.get(name)).filter(_ >= 0) match {
        case Seq() => -1.0
        case ts    => ts.min
      }
      name -> best
    }.toMap
    // The driver records only a bounded TAIL of stdout and parses the
    // last line as JSON — round 3's line (81 queries x full names x
    // 9-decimal doubles, ~2.6 KB) overflowed the window and lost its
    // head. Keep the line ~1.1 KB: 3-decimal timings keyed by the
    // unique operator id (the prefix before the first '_' — q01, d07,
    // st04...; full names are in SURVEY.md §2 / CORRECTNESS_r*.json).
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // per-query at 2 dp: the driver's tail window is 2000 chars and
    // the 155-query line at 3 dp measured 1963 — one more operator
    // would overflow. 10 ms resolution is ample for drift detection
    // (min-of-N already absorbs more noise than that).
    def fmtQ(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmtQ(v) }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // pollution-proof by construction: (1) the line is ALSO written
    // to a dedicated file local tooling reads verbatim; (2) stdout
    // gets a leading newline so a truncated earlier fragment can
    // never share the JSON's line; (3) stderr is flushed first so
    // interleaving can't split the tail mid-line.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    System.err.flush()
    println()
    println(json)
    System.out.flush()
    spark.stop()
  }
}
