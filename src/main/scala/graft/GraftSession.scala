package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults: shuffle partitions sized to the `cores` the
  * caller runs on rather than the 200 default, AQE on so skewed
  * shuffles re-plan at runtime, UTC so timestamp semantics match the
  * DuckDB oracle. On a real cluster the same builder is used with
  * `master` unset and shuffle partitions sized to ~2-3x total cores.
  *
  * `file://` is [[graft.sources.GraftLocalFileSystem]]: without the
  * Hadoop native library the stock local FS forks a `chmod` for every
  * file it creates and every dir it makes; with it, graft's FS sets
  * the same mode bits. HDFS and object stores keep their own
  * filesystems.
  */
object GraftSession {
  def builder(appName: String = "graft", cores: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS), which Spark's reader
      // only accepts as raw longs under this flag; set at construction
      // so no table loader has to mutate session config as a side
      // effect (Tables.events documents the micros conversion).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.GraftLocalFileSystem].getName)

  def local(appName: String = "graft", cores: Int = 32): SparkSession = {
    val s = builder(appName, cores.toString).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
