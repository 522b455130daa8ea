package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code ran: every SQL execution (pin jobs
  * included — an eager pin runs its plan inside its own execution, so
  * that plan never appears in the final query's plan) and the number of
  * Spark jobs it started. The specs assert on the plans; `PlanDump`
  * writes them out.
  */
object PlanCapture {
  final case class Ran[A](value: A, executions: Seq[QueryExecution],
      jobs: Long) {
    def plans: Seq[SparkPlan] = executions.map(_.executedPlan)

    /** Every captured plan as one string, for substring assertions. */
    def planText: String = plans.map(_.toString).mkString("\n")
  }

  def apply[A](spark: SparkSession)(body: => A): Ran[A] = {
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val ql = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        executions.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the job count and both bus drains are ExecListener's; ql is
    // registered after the first drain, so it sees no earlier execution
    val listener = ExecListener.attach(spark.sparkContext)
    try {
      val (v, totals) = listener.measure {
        spark.listenerManager.register(ql)
        body
      }
      Ran(v, executions.asScala.toSeq, totals.jobs)
    } finally {
      listener.detach()
      spark.listenerManager.unregister(ql)
    }
  }
}
