package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** One recorded call into a graft layer. `w0`/`w1` are wall-clock
  * millis (comparable with Spark listener event times), `t0`/`t1`
  * nanos for durations. `fs0`/`fs1` are [[CountingFs]] snapshots at
  * the boundaries; `attrs` holds per-call facts (dirs, log reads). */
final case class Span(id: Int, parent: Int, name: String, op: Long, round: Int,
                      t0: Long, t1: Long, w0: Long, w1: Long,
                      fs0: Array[Long], fs1: Array[Long],
                      attrs: Map[String, Double]) {
  def ms: Double = (t1 - t0) / 1e6
  def fsDelta(counter: String): Long = {
    val i = CountingFs.Names.indexOf(counter)
    fs1(i) - fs0(i)
  }
}

/** In-memory span recorder. Spans are kept in memory and written out
  * once at the end; recording is switched per round so one traced run
  * can time traced and untraced rounds side by side. */
final class Tracer {
  @volatile var active: Boolean = false
  var round: Int = -1
  var op: Long = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T = spanWith(name)(body)(_ => Map.empty)

  /** Record `body` as a span named `name`; `attrs` is evaluated after
    * the span closes, so measuring it is not charged to the span. */
  def spanWith[T](name: String)(body: => T)(attrs: T => Map[String, Double]): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val fs0 = CountingFs.snapshot()
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val out = try body finally stack = stack.tail
      val t1 = System.nanoTime(); val w1 = System.currentTimeMillis()
      val fs1 = CountingFs.snapshot()
      spans += Span(id, parent, name, op, round, t0, t1, w0, w1, fs0, fs1, attrs(out))
      out
    }

  /** A span's duration minus the part of it its children cover. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c => (c.t0, c.t1)).toSeq)
      s.id -> (s.t1 - s.t0 - covered) / 1e6
    }.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def dumpJsonl(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = spans.iterator.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},""" +
        s""""round":${s.round},"start_ms":${s.w0},"end_ms":${s.w1},""" +
        s""""dur_ms":${Json.num(s.ms)},"self_ms":${Json.num(self(s.id))},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, lines.toSeq.asJava)
  }
}

/** Spark listener ledger: job intervals and task metrics keyed by job,
  * attributed to spans afterwards by start time (listener events
  * arrive asynchronously, so attribution is by interval, not by the
  * moment the event is delivered). */
final class JobLedger extends SparkListener {
  final class Job(val id: Int, val start: Long) {
    @volatile var end: Long = -1L
    val tasks = new AtomicLong; val cpuNs = new AtomicLong; val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
  }
  @volatile var enabled: Boolean = false
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    jobs.put(e.jobId, new Job(e.jobId, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      jid <- Option(stageJob.get(e.stageId))
      j <- Option(jobs.get(jid))
      m <- Option(e.taskMetrics)
    } {
      j.tasks.incrementAndGet()
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.gcMs.addAndGet(m.jvmGCTime)
      j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  def all: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def startingIn(w0: Long, w1: Long): Seq[Job] = all.filter(j => j.start >= w0 && j.start <= w1)
}

/** Process-wide filesystem operation counters, fed by
  * [[CountingRawFileSystem]] while `enabled`. */
object CountingFs {
  val Names: Seq[String] = Seq("list", "open", "create", "rename", "delete",
                               "bytes_written", "bytes_read")
  private val counters = Array.fill(Names.size)(new AtomicLong)
  @volatile var enabled: Boolean = false
  @volatile private[perfbench] var stats: org.apache.hadoop.fs.FileSystem.Statistics = _

  private[perfbench] def inc(i: Int): Unit = if (enabled) counters(i).incrementAndGet()

  /** Op counters, then bytes written/read from the raw FS statistics. */
  def snapshot(): Array[Long] = {
    val st = stats
    Array.tabulate(Names.size) { i =>
      if (i < 5) counters(i).get
      else if (st == null) 0L
      else if (i == 5) st.getBytesWritten else st.getBytesRead
    }
  }
}

/** The raw local FS with its namespace operations counted. */
class CountingRawFileSystem extends RawLocalFileSystem {
  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(uri, conf)
    CountingFs.stats = statistics
  }
  override def listStatus(f: Path): Array[FileStatus] = { CountingFs.inc(0); super.listStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.inc(1); super.open(f, bufferSize)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFs.inc(2); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CountingFs.inc(2)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    CountingFs.inc(2)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { CountingFs.inc(3); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingFs.inc(4); super.delete(f, recursive)
  }
}

/** Still a `ChecksumFileSystem` (so code that unwraps the raw FS takes
  * the same branch as on the stock local FS), over the counting raw
  * FS. Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem(new CountingRawFileSystem)

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
