package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

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
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val a = ProbeArgs(args)
    require(a.positional.size >= 2, "usage: PlanDump <sfDir> [opt=v...] <query...>")
    val sfDir = a.positional.head
    val spark = a.session()
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
      // post-execution AQE output appends the pre-execution tree under an
      // "Initial Plan" header — count markers in the FINAL plan only
      val plan = full.split("== Initial Plan ==")(0)
      def n(marker: String) = plan.linesIterator.count(_.contains(marker))
      println(s"[plan] $name: cartesian=${n("CartesianProduct")} " +
        s"bnlj=${n("BroadcastNestedLoop")} exchanges=${n("Exchange")} " +
        s"codegen_stages=${
          org.apache.spark.sql.GraftSqlBridge.codegenStageCount(df)} " +
        s"sorts=${n("Sort ")}")
    }
    spark.stop()
  }
}
