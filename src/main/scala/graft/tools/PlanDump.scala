package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** The FINAL (post-AQE) formatted physical plan of registered queries,
  * plus the red-flag line the plan-audit loop greps for:
  * `[plan] <query>: cartesian=… bnlj=… exchanges=… codegen_stages=… sorts=…`.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> [out=<dir>] [codegen=1]
  *   <query...>
  *
  * Plans print to stdout, or with `out=` go to `<dir>/<query>.txt` (the
  * committed before/after plan evidence under plans/). `codegen=1` adds
  * the whole-stage generated code (`<query>.codegen.txt`) — to check,
  * say, whether subexpression elimination shares a tokenize across
  * output columns.
  *
  * The plan text is this tool's output, so its session unsets the plan
  * string bound `Sessions` sets; the red-flag counts come from the plan
  * tree ([[operators]]), which no bound truncates.
  */
object PlanDump {
  /** Every operator of an executed plan: the final plan inside AQE, the
    * plan inside each query stage, subqueries, and the plans of cached
    * relations, nested one inside the next.
    */
  def operators(plan: SparkPlan): Iterator[SparkPlan] = {
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case p => p.children ++ p.subqueries
    }
    Iterator.single(plan) ++ inner.iterator.flatMap(operators)
  }

  /** The red-flag operator counts of an executed plan. */
  def redFlags(plan: SparkPlan): Map[String, Int] = {
    val ops = operators(plan).toSeq
    def n(pf: PartialFunction[SparkPlan, Unit]) = ops.count(pf.isDefinedAt)
    Map("cartesian" -> n { case _: CartesianProductExec => },
      "bnlj" -> n { case _: BroadcastNestedLoopJoinExec => },
      "exchanges" -> n { case _: Exchange => },
      "sorts" -> n { case _: SortExec => })
  }

  def main(args: Array[String]): Unit = {
    val a = ProbeArgs(args)
    require(a.positional.size >= 2, "usage: PlanDump <sfDir> [opt=v...] <query...>")
    val sfDir = a.positional.head
    val spark = a.session()
    spark.conf.unset("spark.sql.maxPlanStringLength")
    def emit(file: String, text: String): Unit = a.opts.get("out") match {
      case Some(dir) =>
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, file), text)
        println(s"[plan] wrote $dir/$file")
      case None => println(text)
    }
    a.positional.tail.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // AQE finalizes (and codegen-collapses) the plan only on execution,
      // and only on THIS QueryExecution — df.count() would execute a
      // different wrapped plan and leave this one at the initial guess
      df.queryExecution.toRdd.count()
      val full = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      emit(s"$name.txt", full)
      if (a.int("codegen", 0) == 1)
        emit(s"$name.codegen.txt", org.apache.spark.sql.execution.debug
          .codegenString(df.queryExecution.executedPlan))
      val flags = redFlags(df.queryExecution.executedPlan)
      println(s"[plan] $name: cartesian=${flags("cartesian")} " +
        s"bnlj=${flags("bnlj")} exchanges=${flags("exchanges")} " +
        s"codegen_stages=${
          org.apache.spark.sql.GraftSqlBridge.codegenStageCount(df)} " +
        s"sorts=${flags("sorts")}")
    }
    spark.stop()
  }
}
