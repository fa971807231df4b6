package graft.tools

import graft.SparkEntry
import graft.obs.StageMetrics

/** Times registered queries under Bench's vehicle and breaks the fastest
  * run down per stage — the plan-iteration loop without the full bench
  * sweep.
  *
  * Usage: runMain graft.tools.QueryProbe <sfDir> [iters=2] [query...]
  *   (no names: every registered query)
  *
  * Each query runs once cold (first touch: JIT, codegen, pins), then
  * `iters` times warm. Runs are sequential and `graft.obs.StageMetrics`
  * is drained and cleared around each one, so a run's stages are every
  * stage the listener saw, including the micro-batches a streaming
  * query runs on Spark's own stream thread. Prints
  * `PROBE <query> cold=… min=… walls=… cpu=… rows=…`, then the min run's
  * stages (id, tasks, task run/CPU/GC time, stage wall, input, shuffle
  * read/write and spill MB). Conf A/Bs
  * (partition counts, AQE, state store) go through
  * `SPARK_GRAFT_EXTRA_CONF`.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val a = ProbeArgs(args)
    require(a.positional.nonEmpty, "usage: QueryProbe <sfDir> [opt=v...] [query...]")
    val sfDir = a.positional.head
    val names = if (a.positional.size > 1) a.positional.tail
      else SparkEntry.queries.keys.toSeq.sorted
    val iters = a.int("iters", 2)
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = a.session()
    val sc = spark.sparkContext
    ProbeArgs.warmUp(spark, sfDir)
    val obs = StageMetrics.install(sc)
    def mb(b: Long) = f"${b / 1048576.0}%8.1f"
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val runs = (0 to iters).map { _ =>
        StageMetrics.drain(sc)
        obs.clear()
        var rows = 0L
        // toRdd, not count(): count() lets Catalyst eliminate the very
        // work under measurement (see Bench.runOnce)
        val wall = ProbeArgs.seconds {
          rows = fn(spark, sfDir).queryExecution.toRdd.count()
        }
        StageMetrics.drain(sc)
        (wall, rows, obs.stages)
      }
      val (wall, rows, stages) = runs.tail.minBy(_._1)
      println(f"PROBE $name cold=${runs.head._1}%.3f s min=$wall%.3f s " +
        s"walls=${runs.tail.map(r => f"${r._1}%.2f").mkString(",")} " +
        f"cpu=${stages.map(_.cpuNs).sum / 1e9}%.2f s rows=$rows")
      stages.foreach { r =>
        println(f"  stage=${r.stageId}%4d tasks=${r.tasks}%4d " +
          f"run=${r.runMs}%7d cpu=${r.cpuNs / 1000000}%7d gc=${r.gcMs}%5d " +
          f"wall=${r.wallMs}%6d ms in=${mb(r.inputBytes)} " +
          s"shufR=${mb(r.shuffleReadBytes)} shufW=${mb(r.shuffleWriteBytes)} " +
          s"spill=${mb(r.spillBytes)} MB  ${r.name.take(50)}")
      }
    }
    spark.stop()
  }
}
