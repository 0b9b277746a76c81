package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with the task metrics of its
  * completed stages folded in.
  */
final class JobRec(val id: Int, val startMs: Long, val span: Long) {
  var endMs: Long = startMs
  var stages, tasks = 0L
  var taskMs, cpuMs, shuffleWrite, shuffleRead, spill, input = 0L
}

/** Catalyst phase times of one executed query (QueryExecutionListener). */
final case class QeRec(analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** A traced interval: spans of one op share `op`; `parent` is 0 at
  * the op's root. Times are epoch milliseconds (the clock Spark stamps
  * job events with), so jobs can be placed inside spans.
  */
final case class Span(id: Long, op: Long, parent: Long, name: String,
    layer: String, startMs: Double, var endMs: Double = Double.NaN)

/** What happened between [[Trace.begin]] and [[Trace.end]]. */
final case class Window(jobs: Seq[JobRec], qes: Seq[QeRec],
    spans: Seq[Span], fs: Map[String, Long], gcMs: Long)

/** Records spans around the benchmark's own calls into the program and
  * attributes Spark work to them from outside: a SparkListener (jobs,
  * stages, task metrics), a QueryExecutionListener (Catalyst phases)
  * and [[CountingFileSystem]] (Hadoop filesystem calls). Everything is
  * kept in memory; nothing is recorded while `on` is false.
  *
  * Jobs submitted from the benchmark thread carry the innermost span
  * id as a local property. Jobs from other threads (the HTTP server,
  * PlanCache's async materialization) go to the innermost span open on
  * the benchmark thread when they started: the client is a closed loop
  * with one thread, so that span is the request that caused or waits
  * for them.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  @volatile var on = false
  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val ids = new AtomicLong(0)
  private var fs0 = Map.empty[String, Long]
  private var gc0 = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val j = new JobRec(e.jobId, e.time, span)
      jobs.synchronized {
        jobs(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized(stageJob.get(e.stageInfo.stageId).foreach { j =>
        val m = e.stageInfo.taskMetrics
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1000000L
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
        }
      })
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = if (on) {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      qes.synchronized(qes += QeRec(ms("analysis"), ms("optimization"),
        ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  /** Attach the listeners (traced runs only). */
  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Start a window: drain pending events and zero every buffer. */
  def begin(): Unit = {
    drain()
    jobs.synchronized { jobs.clear(); stageJob.clear() }
    qes.synchronized(qes.clear())
    spans.clear()
    fs0 = CountingFileSystem.snapshot()
    gc0 = gcMs()
  }

  /** Close the window once every event it caused has been delivered. */
  def end(): Window = {
    drain()
    val fs1 = CountingFileSystem.snapshot()
    Window(jobs.synchronized(jobs.values.toVector),
      qes.synchronized(qes.toVector), spans.toVector,
      fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) },
      gcMs() - gc0)
  }

  private def drain(): Unit = org.apache.spark.PerfbenchAccess.drain(sc)

  /** Run `body` as a span of `layer`; a root span starts a new op. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(ids.incrementAndGet(),
        parent.map(_.op).getOrElse(ids.get), parent.map(_.id).getOrElse(0L),
        name, layer, nowMs)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  def stop(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** Innermost span of `spans` that holds each job: its own span
    * property when it carries one, else the deepest span open at its
    * start.
    */
  def attribute(w: Window): Map[Long, Seq[JobRec]] = {
    val byId = w.spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      if (s.parent == 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)
    w.jobs.flatMap { j =>
      val own = byId.get(j.span)
      val span = own.orElse(w.spans
        .filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => -depth(s)).headOption)
      span.map(_.id -> j)
    }.groupMap(_._1)(_._2)
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, end = 0.0
    var started = false
    for ((a, b) <- iv.sortBy(_._1)) {
      if (!started || a > end) { total += b - a; end = b; started = true }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Self time of each span: its length minus the part its children
    * cover.
    */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionMs(kids.getOrElse(s.id, Nil).map(c =>
        (c.startMs.max(s.startMs), c.endMs.min(s.endMs))))
      s.id -> (s.endMs - s.startMs - covered)
    }.toMap
  }
}

/** The local filesystem with a count of every call the program makes
  * through Hadoop's FileSystem API, installed for `file:` paths in
  * traced runs (`spark.hadoop.fs.file.impl`). Metadata reads
  * (getFileStatus) count as reads.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val reads, writes, lists = new AtomicLong(0)

  def snapshot(): Map[String, Long] = {
    val st = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file"))
    Map("read_ops" -> reads.get, "write_ops" -> writes.get,
      "list_ops" -> lists.get,
      "bytes_written" -> st.flatMap(s => Option(s.getLong("bytesWritten")))
        .map(_.longValue).getOrElse(0L))
  }
}
