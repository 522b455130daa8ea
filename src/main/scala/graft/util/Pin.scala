package graft.util

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** The one way graft pins an intermediate frame: materialize it once
  * (an eager `localCheckpoint`, which also cuts the lineage of
  * iterative operators) and hand back a frame whose size statistics
  * are MEASURED, so Spark's own broadcast threshold
  * (`spark.sql.autoBroadcastJoinThreshold`) picks the join shape of
  * everything downstream.
  *
  * A bare `localCheckpoint` carries the optimizer's size ESTIMATE of
  * the plan before the checkpoint: a 1,000-row `groupBy` over sf0.1
  * lineitem reports ~2.1 MiB for ~23 KiB of rows, so node-sized frames
  * looked too big to broadcast and every join against them planned as
  * a two-sided shuffle. Pin counts the rows with an [[Observation]]
  * that rides the checkpoint job itself (no extra job) and re-wraps the
  * checkpointed RDD with `rowCount = rows` and
  * `sizeInBytes = rows × EstimationUtils.getSizePerRow(output)` — the
  * per-row width the optimizer uses everywhere else, so the pin's size
  * is comparable with the estimates of the plans it joins (and shares
  * their blind spot: strings and arrays count at their type's default
  * width, not their real length).
  *
  * Lifetime: the blocks are released by the ContextCleaner once the
  * returned frame is garbage-collected; `persist` would hold them until
  * someone calls `unpersist`, which a function returning a lazy frame
  * can never do safely. Local checkpoints tie recovery to executor
  * lifetimes. `MEMORY_AND_DISK_SER` stores UnsafeRow bytes (about 3×
  * smaller, GC-invisible) at one deserialize per re-read — the level
  * for build-once, read-few frames of 10⁸+ rows (shingle and gram
  * frames).
  */
object Pin {
  def apply(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val rows = new Observation()
    val ck = df.observe(rows, count(lit(1)).as("rows"))
      .localCheckpoint(true, level).asInstanceOf[classic.Dataset[Row]]
    val n = BigInt(rows.get("rows").asInstanceOf[Long])
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val stats = Statistics(
          sizeInBytes = n * EstimationUtils.getSizePerRow(lr.output),
          rowCount = Some(n))
        new classic.Dataset[Row](ck.sparkSession,
          lr.copy()(ck.sparkSession, Some(stats), Some(lr.constraints)),
          ck.encoder)
      case other =>
        throw new IllegalStateException(
          s"Pin: localCheckpoint returned ${other.nodeName}, not a LogicalRDD")
    }
  }

  /** The row count [[apply]] measured for `pinned`, one of its returned
    * frames, read from the frame's statistics: no job runs. */
  def rows(pinned: DataFrame): Long = pinned.queryExecution.analyzed match {
    case lr: LogicalRDD if lr.stats.rowCount.isDefined => lr.stats.rowCount.get.toLong
    case other =>
      throw new IllegalArgumentException(
        s"Pin.rows: ${other.nodeName} is not a frame returned by Pin")
  }
}
