package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Plan-shape assertions read plan nodes, not plan text: sessions built
  * through `Sessions` bound plan text (`spark.sql.maxPlanStringLength`),
  * and the test JVM's shared context carries that bound to every spec
  * after the first such session, so a string check can miss an operator
  * past the cut.
  */
object PlanNodes {
  /** Every operator of `df`'s executed plan, through AQE, query stages,
    * subqueries and cached relations (`PlanDump.operators`).
    */
  def of(df: DataFrame): Seq[SparkPlan] = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): Seq[SparkPlan] = graft.tools.PlanDump.operators(plan).toSeq

  /** Whether some operator's node name contains `name` (`Exchange` also
    * matches `BroadcastExchange` and `ReusedExchange`, as the text did).
    */
  def has(df: DataFrame, name: String): Boolean = of(df).exists(_.nodeName.contains(name))

  def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    of(df).collect { case s: FileSourceScanExec => s }

  /** Every expression, and every sub-expression, of every operator. */
  def expressions(df: DataFrame): Seq[Expression] =
    of(df).flatMap(_.expressions.flatMap(_.collect { case e => e }))

  /** Whether some expression is a user-defined function. */
  def hasUdf(df: DataFrame): Boolean =
    expressions(df).exists(_.getClass.getSimpleName.contains("UDF"))

  /** The shuffle widths of a plan's hash exchanges. */
  def hashWidths(plan: SparkPlan): Seq[Int] = of(plan).collect {
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] =>
      e.outputPartitioning.numPartitions
  }
}
