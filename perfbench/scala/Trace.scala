package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** `file:` FileSystem that counts the metadata and data calls the
  * program makes.  Installed with `spark.hadoop.fs.file.impl` in traced
  * runs only: Hadoop's built-in statistics for the local FileSystem
  * count bytes, never calls.  Counters are JVM-global, because Hadoop
  * caches one instance per scheme and user. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open")
    if (recordOpens.get) opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
    bufferSize: Int, replication: Short, blockSize: Long,
    progress: Progressable): FSDataOutputStream = {
    count("create")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
    overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
    progress: Progressable): FSDataOutputStream = {
    count("create")
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count("list"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count("status"); super.getFileStatus(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs"); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    count("mkdirs"); super.mkdirs(f)
  }
}

object CountingFileSystem {
  val kinds: Seq[String] =
    Seq("create", "open", "rename", "delete", "list", "status", "mkdirs")
  private val counters: Map[String, AtomicLong] =
    kinds.map(_ -> new AtomicLong).toMap
  private def count(kind: String): Unit = counters(kind).incrementAndGet()
  /** Call counts plus the bytes Hadoop's own `file:` statistics saw. */
  def snapshot(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    counters.map { case (k, v) => k -> v.get } +
      ("bytes_written" -> st.map(_.getBytesWritten).sum)
  }

  /** Paths opened while `recordOpens` is set (read-file fraction). */
  val recordOpens = new AtomicBoolean(false)
  val opened = new ConcurrentLinkedQueue[String]()
  def drainOpened(): Seq[String] = {
    val b = mutable.ArrayBuffer[String]()
    var p = opened.poll()
    while (p != null) { b += p; p = opened.poll() }
    b.toSeq
  }
}

/** Job, stage and task events, kept in memory and written at the end.
  * Jobs carry the op id and layer the client thread set as local
  * properties before the call that ran them. */
class JobTrace extends SparkListener {
  case class Job(id: Int, op: String, layer: String, start: Long,
    var end: Long, stages: Seq[Int])
  class Stage(val id: Int) {
    var submit = 0L; var complete = 0L
    val durations = mutable.ArrayBuffer[Long]()
    var waitMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L; var shWrite = 0L; var shRead = 0L
    var spill = 0L; var failedTasks = 0
  }
  val jobs = mutable.ArrayBuffer[Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  val events = new AtomicLong

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    jobs += Job(e.jobId, prop("perfbench.op"), prop("perfbench.layer"),
      e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet()
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events.incrementAndGet()
    stage(e.stageInfo.stageId).submit =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events.incrementAndGet()
    stage(e.stageInfo.stageId).complete =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.durations += info.duration
    if (s.submit > 0) s.waitMs += math.max(0L, info.launchTime - s.submit)
    if (info.failed || info.killed) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }
}

/** Planning phases (analysis, optimization, planning) of every query
  * execution, as wall-clock intervals, plus the size of its physical
  * plan.  The client clips the intervals to each timed action. */
class PlanTrace extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  case class Qe(phases: Seq[(Long, Long)], nodes: Int, exchanges: Int)
  val qes = mutable.ArrayBuffer[Qe]()
  val events = new AtomicLong

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq
    val (nodes, exchanges) =
      try {
        val all = collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }
        (all.size, all.count(_.isInstanceOf[Exchange]))
      } catch { case scala.util.control.NonFatal(_) => (0, 0) }
    synchronized { qes += Qe(phases, nodes, exchanges) }
    events.incrementAndGet()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
