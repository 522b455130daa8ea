package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.scheduler._

/** Local filesystem that counts the metadata and open calls graft makes.
  * Hadoop's local filesystem keeps byte counts but no op counts, so the
  * traced run installs this class as `fs.file.impl` to get the list and
  * read op counts an HDFS or S3A client would report.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong
  val reads = new AtomicLong
}

/** Per-operation totals of what Spark ran under graft's plans. */
final class OpExec {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var mapTaskMs = 0L; var reduceTaskMs = 0L
  var inputBytes = 0L; var outputBytes = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var peakExecMem = 0L
  var pinBytes = 0L; var pinBlocks = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.Map.empty[Int, Long]

  /** Milliseconds of [from, to] during which no task ran. */
  def idleMs(from: Long, to: Long): Long = {
    var covered = 0L; var end = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (to - from) - covered
  }

  /** Max over median task time in the stage with the longest wall time. */
  def stageSkew: Double =
    if (stageWallMs.isEmpty) 0.0
    else {
      val longest = stageWallMs.maxBy(_._2)._1
      val ts = stageTaskMs.getOrElse(longest, mutable.ArrayBuffer.empty[Long]).sorted
      if (ts.isEmpty) 0.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2)).toDouble
    }
}

/** Harness-owned listener. Events are attributed to the operation that is
  * current when the bus delivers them; the harness drains the bus before
  * it changes the current operation, so no event crosses an op boundary.
  */
final class ExecListener extends SparkListener {
  private var current: OpExec = new OpExec
  private val blockBytes = mutable.Map.empty[String, Long]

  def begin(): Unit = synchronized { current = new OpExec }
  def end(): OpExec = synchronized { val c = current; current = new OpExec; c }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { current.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    current.stages += 1
    for (a <- si.submissionTime; b <- si.completionTime)
      current.stageWallMs(si.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    val info = e.taskInfo
    c.tasks += 1
    c.intervals += ((info.launchTime, info.finishTime))
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      (info.finishTime - info.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      if (e.taskType == "ShuffleMapTask") c.mapTaskMs += m.executorRunTime
      else c.reduceTaskMs += m.executorRunTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Cached and pinned (localCheckpoint) RDD blocks as they are stored.
    * Removals are not always reported to the master, so live bytes are
    * read from the storage status instead.
    */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val id = b.blockId.name
      val size = b.memSize + b.diskSize
      val before = blockBytes.getOrElse(id, 0L)
      if (before == 0L && size > 0) current.pinBlocks += 1
      if (size > before) { current.pinBytes += size - before; blockBytes(id) = size }
    }
  }
}

/** Spans kept in memory and written when the JVM is done. */
final class Tracer {
  final case class Span(name: String, startNs: Long, endNs: Long,
      parent: String, op: Int)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  var op: Int = -1

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, t0, System.nanoTime(), parent, op)
      stack = stack.tail
    }
  }
}

