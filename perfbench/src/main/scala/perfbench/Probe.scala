package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters that the traced run's probes add to. They count
  * only while `on`; the harness reads and clears them after each call. */
object Counters {
  @volatile var on = false
  private val m = new ConcurrentHashMap[String, LongAdder]()
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  def add(k: String, n: Long = 1L): Unit =
    if (on) m.computeIfAbsent(k, _ => new LongAdder).add(n)

  def jobStarted(id: Int, t: Long): Unit = if (on) jobStart.put(id, t)
  def jobEnded(id: Int, t: Long): Unit = if (on) {
    val s = jobStart.remove(id)
    if (s != null) jobs.synchronized { jobs += ((s.longValue, t)) }
  }

  /** Counts and job intervals (wall-clock ms) since the last take. */
  def take(): (Map[String, Long], Seq[(Long, Long)]) = {
    val c = m.asScala.map { case (k, v) => k -> v.sumThenReset() }
      .filter(_._2 != 0L).toMap
    val j = jobs.synchronized { val r = jobs.toList; jobs.clear(); r }
    (c, j)
  }
}

/** Paths are classed by the graft directory they sit under. */
object PathClass {
  def of(p: Path): String = {
    val s = p.toUri.getPath
    if (s.contains("/_graft_log")) "log"
    else if (s.contains("/_graft_sidecar")) "sidecar"
    else "data"
  }
  /** The columnar checkpoint: parquet parts written under a `.ckpt-`
    * directory of the log, then renamed to `<version>.checkpoint.parquet`. */
  def written(p: Path): String = of(p) match {
    case "log" if isCheckpoint(p) => "checkpoint"
    case c => c
  }
  def isCheckpoint(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.contains("/.ckpt-") || s.contains(".checkpoint.")
  }
}

/** The local filesystem with every metadata and IO call counted by path
  * class. Installed only in the traced run, through
  * `spark.hadoop.fs.file.impl` with the FileSystem cache disabled, so every
  * filesystem graft or Spark asks for is one of these. */
class CountingFs extends LocalFileSystem {
  private def c(op: String, p: Path): Unit =
    Counters.add(s"fs.$op.${PathClass.of(p)}")

  override def listStatus(f: Path): Array[FileStatus] = {
    c("list", f); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    c("list", f); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    c("status", f); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    c("open", f); super.open(f, bufferSize)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    c("rename", dst)
    if (PathClass.isCheckpoint(dst)) Counters.add("checkpoint_writes")
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    c("delete", f); super.delete(f, recursive)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    c("create", f)
    val inner = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    val key = s"bytes_written.${PathClass.written(f)}"
    new FSDataOutputStream(inner, null) {
      private var closed = false
      override def close(): Unit = {
        super.close()
        if (!closed) { closed = true; Counters.add(key, getPos) }
      }
    }
  }
}

/** Job, stage, task, query-planning and stream-progress probes. */
final class Probes extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Counters.add("spark.jobs"); Counters.jobStarted(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Counters.jobEnded(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.add("spark.stages")
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Counters.add("spark.tasks")
    val m = e.taskMetrics
    if (m != null) {
      Counters.add("spark.task_run_ms", m.executorRunTime)
      Counters.add("spark.task_cpu_ns", m.executorCpuTime)
      Counters.add("spark.shuffle_write_bytes",
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (Counters.on) {
    qe.tracker.phases.foreach { case (phase, s) =>
      Counters.add(s"sql.${phase}_us", s.durationMs * 1000L)
    }
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .foreach { s =>
        val loc = s.relation.location
        if (loc.getClass.getName == "graft.sources.GraftFileIndex") {
          Counters.add("fileindex.files_total", loc.inputFiles.length.toLong)
          s.metrics.get("numFiles").foreach(v =>
            Counters.add("fileindex.files_read", v.value))
          s.metrics.get("filesSize").foreach(v =>
            Counters.add("fileindex.bytes_read", v.value))
        }
      }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        Counters.add(s"stream.$k", v.longValue)
      }
    }
  }
}

/** In-memory spans around the benchmark's calls into graft; written out
  * when the run ends. Recording is off in untraced runs. */
object Spans {
  /** Times are wall-clock ms (comparable with Spark's event times) plus
    * a monotonic duration. */
  final case class Span(id: Int, name: String, parent: Int, startMs: Long,
      startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  @volatile var on = false
  private val all = ArrayBuffer.empty[Span]
  // Spans opened on a stream's batch thread nest under the span the
  // driver thread is blocked in, so one stack serves both.
  private var stack: List[Int] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = synchronized {
        val s = Span(all.size, name, stack.headOption.getOrElse(-1),
          System.currentTimeMillis(), System.nanoTime())
        all += s; stack = s.id :: stack; s
      }
      try body finally synchronized {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.filterNot(_ == s.id)
      }
    }

  def named(name: String): Seq[Span] = synchronized {
    all.toSeq.filter(s => s.name == name && s.endNs >= 0)
  }

  def toJson: String = synchronized {
    all.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_ms":${Json.num(s.ms)}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\t' => "\\t"; case '\r' => "\\r"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
