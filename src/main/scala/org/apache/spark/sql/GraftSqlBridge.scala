package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge for the private[sql] surfaces a library defining its
  * own Catalyst expressions needs: Column <-> Expression conversion,
  * session cloning and moving a frame's plan between sessions (the
  * scoped-session helper, `graft.ops.Scoped`), plus the codegen-span
  * count PlanDump prints and the compiled-method-size probe the
  * JIT-cliff budget spec uses. Kept to exactly these calls.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A new session sharing `spark`'s context, cache and catalog state,
    * with a COPY of its conf, temp views and functions.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `spark`: later planning of it,
    * and of everything built on it, reads `spark`'s conf.
    */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** Every WholeStageCodegen span in `df`'s executed plan. AQE hides
    * the materialized plan inside AdaptiveSparkPlanExec (a leaf to
    * collect()) — unwrap it, and the per-stage reuse wrappers inside it.
    */
  private def codegenStages(df: DataFrame) = {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def stagesOf(p: SparkPlan): Seq[WholeStageCodegenExec] = p.collect {
      case w: WholeStageCodegenExec => Seq(w)
      case a: AdaptiveSparkPlanExec => stagesOf(a.executedPlan)
      case q: QueryStageExec => stagesOf(q.plan)
    }.flatten
    stagesOf(df.queryExecution.executedPlan)
  }

  /** Number of WholeStageCodegen spans in `df`'s executed plan — the
    * plan-audit "how much of this plan runs fused" counter PlanDump
    * prints.
    */
  def codegenStageCount(df: DataFrame): Int = codegenStages(df).length

  /** Max compiled bytecode size (bytes) over the generated methods of
    * every WholeStageCodegen stage in `df`'s executed plan. The JVM
    * refuses to JIT-compile methods past -XX:HugeMethodLimit (8000
    * bytecode bytes) — a stage over that budget silently runs in the
    * bytecode interpreter, the cliff behind the r9 SRP fix (sf10
    * 103.8 s -> 4.9 s from exactly this). Returns 0 when the plan has
    * no codegen stage.
    */
  def maxCodegenMethodSize(df: DataFrame): Int = {
    val sizes = codegenStages(df).map { w =>
      val (_, source) = w.doCodeGen()
      val (_, stats) =
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .compile(source)
      stats.maxMethodCodeSize
    }
    if (sizes.isEmpty) 0 else sizes.max
  }
}
