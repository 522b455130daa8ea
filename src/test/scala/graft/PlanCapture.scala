package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code ran: the physical plan of every SQL
  * execution (pin jobs included — an eager pin runs its plan inside
  * its own execution, so that plan never appears in the final query's
  * plan) and the number of Spark jobs it started.
  */
object PlanCapture {
  final case class Ran[A](value: A, plans: Seq[SparkPlan], jobs: Int) {
    /** Every captured plan as one string, for substring assertions. */
    def planText: String = plans.map(_.toString).mkString("\n")
  }

  def apply[A](spark: SparkSession)(body: => A): Ran[A] = {
    val sc = spark.sparkContext
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    spark.listenerManager.register(ql)
    sc.addSparkListener(jl)
    try {
      val v = body
      GraftTestBus.drain(sc)
      Ran(v, plans.asScala.toSeq, jobs.get)
    } finally {
      sc.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
    }
  }
}
