package searchbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Reads the executed plan of a finished query from outside. */
object Plans extends AdaptiveSparkPlanHelper {
  private def isKernel(e: Expression): Boolean = {
    val n = e.getClass.getName
    n.startsWith("graft.functions.") && n.contains("Sim")
  }

  /** Rows that reached a similarity kernel: for every plan node evaluating
    * one, the output row count of the nearest node below it that counts
    * rows. 0 when no node evaluates a kernel.
    */
  def similarityEvals(df: DataFrame): Long = {
    def rowsBelow(p: SparkPlan): Long =
      p.metrics.get("numOutputRows") match {
        case Some(m) => m.value
        case None => allChildren(p).map(rowsBelow).sum
      }
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case p if p.expressions.exists(_.find(isKernel).isDefined) => allChildren(p).map(rowsBelow).sum
    }.sum
  }
}
