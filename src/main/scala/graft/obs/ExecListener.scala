package graft.obs

import scala.collection.mutable

import org.apache.spark.{GraftTestBus, SparkContext}
import org.apache.spark.scheduler._

/** One stage of a measured block: its task count, summed executor run
  * time, shuffle bytes and the first 90 characters of its name: the
  * operators whose RDDs it runs, last first (e.g. `Exchange,
  * WholeStageCodegen (1), Scan parquet`), or its call site when its
  * RDDs carry no operator scope.
  */
final case class StageTotals(id: Int, tasks: Long, taskMs: Long,
    shuffleRead: Long, shuffleWrite: Long, name: String)

/** What Spark ran for one measured block. `pinBytes` counts the bytes of
  * the RDD blocks (cached frames and `graft.util.Pin` checkpoints) the
  * block stored; `peakExecMem` is the largest peak execution memory of
  * any one task.
  */
final case class ExecTotals(jobs: Long, stages: Long, tasks: Long,
    taskMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    peakExecMem: Long, pinBytes: Long, stageTotals: Seq[StageTotals]) {

  /** The `n` stages with the most task time, most first. */
  def topStages(n: Int): Seq[StageTotals] =
    stageTotals.sortBy(s => (-s.taskMs, s.id)).take(n)
}

/** The one listener graft measures with. Events count toward the block
  * that [[measure]] is running when the bus delivers them; `measure`
  * drains the bus before it starts a block and again after the block
  * ends, so with one block at a time no event crosses a block boundary.
  * The drains are outside `body`, so a timer inside `body` excludes them.
  */
final class ExecListener private (sc: SparkContext) extends SparkListener {
  private final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakExecMem = 0L; var pinBytes = 0L
    val stageTasks = mutable.Map.empty[Int, StageTotals]
  }
  private var current = new Acc
  private val blockBytes = mutable.Map.empty[String, Long]

  def measure[A](body: => A): (A, ExecTotals) = {
    GraftTestBus.drain(sc)
    synchronized { current = new Acc }
    val v = body
    GraftTestBus.drain(sc)
    (v, synchronized(totals(current)))
  }

  def detach(): Unit = sc.removeSparkListener(this)

  private def totals(a: Acc): ExecTotals =
    ExecTotals(a.jobs, a.stages, a.tasks, a.taskMs, a.shuffleRead,
      a.shuffleWrite, a.spill, a.peakExecMem, a.pinBytes,
      a.stageTasks.values.toSeq.sortBy(_.id))

  private def stage(id: Int): StageTotals =
    current.stageTasks.getOrElse(id, StageTotals(id, 0, 0, 0, 0, ""))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { current.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      current.stages += 1
      current.stageTasks(si.stageId) = stage(si.stageId).copy(name = nameOf(si))
    }

  // AQE submits stages from a thread pool, so the call site of most SQL
  // stages is `CompletableFuture.java:…`; the RDDs' operator scopes say
  // what the stage computes
  private def nameOf(si: StageInfo): String = {
    val ops = si.rddInfos.sortBy(-_.id).flatMap(_.scope.map(_.name)).distinct
    (if (ops.nonEmpty) ops.mkString(", ")
     else si.name.linesIterator.nextOption().getOrElse("")).take(90)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = current
    c.tasks += 1
    val st = stage(e.stageId)
    val m = e.taskMetrics
    if (m == null) c.stageTasks(e.stageId) = st.copy(tasks = st.tasks + 1)
    else {
      val read = m.shuffleReadMetrics.totalBytesRead
      val write = m.shuffleWriteMetrics.bytesWritten
      c.taskMs += m.executorRunTime
      c.shuffleRead += read
      c.shuffleWrite += write
      c.spill += m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.stageTasks(e.stageId) = st.copy(tasks = st.tasks + 1,
        taskMs = st.taskMs + m.executorRunTime,
        shuffleRead = st.shuffleRead + read,
        shuffleWrite = st.shuffleWrite + write)
    }
  }

  /** Stored RDD blocks. Removals are not always reported, so a block
    * counts its growth only: a re-stored block is not counted twice.
    */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        val id = b.blockId.name
        val size = b.memSize + b.diskSize
        val before = blockBytes.getOrElse(id, 0L)
        if (size > before) {
          current.pinBytes += size - before
          blockBytes(id) = size
        }
      }
    }
}

object ExecListener {
  def attach(sc: SparkContext): ExecListener = {
    val l = new ExecListener(sc)
    sc.addSparkListener(l)
    l
  }
}
