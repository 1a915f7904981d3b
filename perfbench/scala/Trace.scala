package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem,
  Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Filesystem metadata and open counters, fed by [[CountingFs]]. Static,
  * so every cached `file:` FileSystem instance feeds the same totals.
  */
object FsCounters {
  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  def bump(key: String): Unit =
    counts.computeIfAbsent(key, _ => new AtomicLong()).incrementAndGet()

  def snapshot(): Map[String, Long] =
    counts.asScala.map { case (k, v) => k -> v.get }.toMap

  private def fromZoneMaps: Boolean =
    Thread.currentThread.getStackTrace.exists(
      _.getClassName.startsWith("graft.io.ZoneMaps"))

  /** The benchmark's work directory; only manifest tables under it count. */
  @volatile var work: String = "/"

  /** Counts one call on a path inside a manifest table (`<table>.mv`). */
  def record(verb: String, p: Path): Unit = {
    val s = p.toUri.getPath
    if (s.startsWith(work) && (s.contains(".mv/") || s.endsWith(".mv"))) {
      bump(s"mv.$verb")
      if (verb == "open" && s.contains("/_manifest.v")) bump("mv.manifest_open")
      if (verb == "open" && s.endsWith(".parquet") && fromZoneMaps)
        bump("mv.footer_open")
    }
  }
}

/** The local Hadoop filesystem with opens, listings and status calls
  * counted. Installed through `spark.hadoop.fs.file.impl` in traced runs.
  */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FsCounters.record("open", f); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    FsCounters.record("list", f); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    FsCounters.record("status", f); super.getFileStatus(f)
  }
}

/** One Spark job as the listener saw it. `span` is the id of the innermost
  * benchmark span open on the submitting thread; `site` is the source file
  * of the innermost non-Spark frame that submitted it.
  */
final class JobRec(val id: Int, val span: Long, val site: String) {
  var tasks = 0L
  var taskMs = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

/** Collects per-job task metrics. Read only after [[JobLog.drain]]. */
class JobLog extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(-1L)
    val result = e.stageInfos.maxBy(_.stageId)
    val site = result.name.split(" at ").last.takeWhile(_ != ':')
    val rec = new JobRec(e.jobId, span, site)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.tasks += 1
      rec.taskMs += m.executorRunTime
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.inputBytes += m.inputMetrics.bytesRead
      rec.inputRecords += m.inputMetrics.recordsRead
    }
  }

  def all: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  def clear(): Unit = { jobs.clear(); stageJob.clear() }
}

object JobLog {
  def drain(sc: SparkContext): Unit =
    org.apache.spark.PerfbenchBus.drain(sc)
}

/** A closed interval of work: a layer call, a folder, a night. */
final case class Span(id: Long, parent: Long, name: String, night: Int,
    folder: String, startNs: Long, endNs: Long, fs: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Opens nested spans on the calling thread and tags the Spark jobs each one
  * submits through a local property, so jobs attribute to the innermost
  * span exactly.
  */
class Tracer(sc: SparkContext) {
  private var next = 0L
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer[Span]()
  var night = -1
  var folder = ""

  def apply[T](name: String)(body: => T): T = {
    next += 1
    val id = next
    val parent = stack.headOption.getOrElse(0L)
    val fs0 = FsCounters.snapshot()
    stack.push(id)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Tracer.SpanProp,
        stack.headOption.map(_.toString).orNull)
      val fs1 = FsCounters.snapshot()
      val delta = fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
        .filter(_._2 != 0L)
      spans += Span(id, parent, name, night, folder, t0, t1, delta)
    }
  }

  /** Ids of `root` and every span nested under it. */
  def subtree(root: Long): Set[Long] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] =
      kids.getOrElse(id, Nil).flatMap(s => go(s.id)).toSet + id
    go(root)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
