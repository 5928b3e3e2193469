package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.SqlShim
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The one parquet writer every [[VersionedTable]] staging site uses.
  *
  * Each task writes its rows straight into their final data dir as
  * `part-<task>-<attempt>.parquet` and returns what it wrote; the
  * caller logs exactly those files in the commit (Delta's add-file
  * action). So no output committer runs: no `_temporary` attempt dirs,
  * no `_SUCCESS` marker, no rename of a file or dir, and no listing of
  * what was staged. A file left by a failed, retried or zombie task
  * attempt is never logged, so no read ever sees it; [[VersionedTable]]
  * deletes the whole staged dir when a write fails or loses its
  * publish.
  *
  * One Spark job runs over the frame's own executed RDD, inside one
  * SQL execution described as `graft stage <root> v<next>` (the
  * adaptive plan's stage jobs included), so a listener can attribute
  * staging jobs by name. The Hadoop conf that
  * `ParquetFileFormat.prepareWrite` fills in ships once per write as a
  * broadcast, destroyed after the job, instead of inside every task's
  * closure (`FileFormatWriter` serializes the session's whole conf into
  * each write task). */
private[graft] object StagingWriter {

  /** A staged file: its name inside its dir and its length in bytes. */
  type File = (String, Long)

  /** The dir name a partition value stages under. */
  def valueDir(encoded: String): String = s"p=$encoded"

  /** Stage `df` as parquet files directly under `root/dir`, one file
    * per task that holds rows (an empty frame stages none). */
  def stageDir(spark: SparkSession, root: String, df: DataFrame, dir: String,
               desc: String): Seq[File] =
    write(spark, df, df.schema, s"$root/$dir", route = -1, desc).map(r => (r._2, r._3)).toSeq

  /** Stage `df` one dir per string value of `partitionCol`, at
    * `root/parent/p=<enc(v)>`, each task writing one file per value it
    * holds. Returns every value the tasks saw with the files staged for
    * it; a null or empty value stages nothing and comes back with no
    * files, for the caller to reject before anything publishes. An
    * input at or under AQE's advisory partition size is written by one
    * task (`coalesce(1)`, no exchange); rows are sorted inside each
    * task by value, so a task holds one parquet writer at a time. */
  def stagePartitioned(spark: SparkSession, root: String, df: DataFrame,
                       partitionCol: String, parent: String,
                       desc: String): Seq[(String, Seq[File])] = {
    import org.apache.spark.sql.functions.col
    val tagged = df.withColumn("__graft_p", col(partitionCol).cast("string"))
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    val routed =
      (if (tagged.queryExecution.optimizedPlan.stats.sizeInBytes <= advisory) tagged.coalesce(1)
       else tagged).sortWithinPartitions("__graft_p")
    write(spark, routed, df.schema, s"$root/$parent", route = df.schema.length, desc)
      .groupBy(_._1).toSeq.map { case (v, fs) =>
        v -> fs.collect { case (_, f, len) if f != null => (f, len) }.toSeq.sortBy(_._1)
      }.sortBy(v => Option(v._1))
  }

  /** The staged file name of a task attempt: unique per attempt, so a
    * retried task never writes over its failed predecessor's file. */
  private def fileName(ctx: TaskContext): String =
    s"part-${ctx.partitionId()}-${ctx.attemptNumber()}.parquet"

  /** The write conf, shipped once per write. A task attempt context
    * needs a `JobConf`; it is built once per JVM that reads the
    * broadcast, not once per task. */
  private final class WriteConf(conf: Configuration) extends Serializable {
    private val ser = new SerializableConfiguration(conf)
    @transient lazy val jobConf: JobConf = new JobConf(ser.value)
  }

  /** One job over `df`'s executed rows, each task writing `schema`'s
    * columns. With `route` < 0 a task writes its rows to one file in
    * `base`; otherwise column `route` holds each row's value (rows of a
    * value adjacent), and a task writes one file per value in
    * `base/p=<enc(v)>`, skipping and reporting a null or empty value.
    * Returns (value, file, bytes) records, file null for a skipped
    * value. */
  private def write(spark: SparkSession, df: DataFrame, schema: StructType, base: String,
                    route: Int, desc: String): Array[(String, String, Long)] = {
    val job = Job.getInstance(SqlShim.newHadoopConf(spark))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val sc = spark.sparkContext
    val bconf = sc.broadcast(new WriteConf(job.getConfiguration))
    try SqlShim.withExecution(df, desc) { rdd =>
      sc.runJob(rdd, (ctx: TaskContext, rows: Iterator[InternalRow]) => {
        val conf = bconf.value.jobConf
        val name = fileName(ctx)
        lazy val project = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map {
          case (f, i) => BoundReference(i, f.dataType, f.nullable)
        })
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var started = false
        var value: UTF8String = null
        var w: OutputWriter = null
        var path: Path = null
        def finish(): Unit = if (w != null) {
          w.close()
          w = null
          out += ((Option(value).map(_.toString).orNull, name,
                   path.getFileSystem(conf).getFileStatus(path).getLen))
        }
        try {
          rows.foreach { row =>
            val v = if (route < 0 || row.isNullAt(route)) null else row.getUTF8String(route)
            if (!started || v != value) {
              finish()
              started = true
              value = if (v == null) null else v.clone()
              if (route >= 0 && (v == null || v.numBytes == 0))
                out += ((Option(v).map(_.toString).orNull, null, 0L))
              else {
                val dir = if (route < 0) base
                          else s"$base/${valueDir(VersionedTable.encodePartition(v.toString))}"
                path = new Path(s"$dir/$name")
                val attempt = new TaskAttemptID("graft", ctx.stageId(), TaskType.MAP,
                                                ctx.partitionId(), ctx.attemptNumber())
                w = factory.newInstance(path.toString, schema, new TaskAttemptContextImpl(conf, attempt))
              }
            }
            if (w != null) w.write(if (route < 0) row else project(row))
          }
          finish()
        } catch {
          case e: Throwable =>
            // close the failed writer and remove its file; the task's
            // failure is what propagates
            if (w != null)
              try { w.close(); path.getFileSystem(conf).delete(path, false) }
              catch { case _: Throwable => () }
            throw e
        }
        out.toArray
      }).flatten
    } finally bconf.destroy()
  }
}
