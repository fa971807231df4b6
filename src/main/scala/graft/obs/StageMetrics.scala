package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Task totals of one stage (or, as [[StageMetrics.total]], of every
  * task seen). `group` is the job group the stage ran under ("" if
  * none); `wallMs` is submission-to-completion, summed over attempts.
  * Spill counts memory and disk spill bytes together.
  */
final case class StageRow(stageId: Int, name: String, group: String,
                          tasks: Int = 0, runMs: Long = 0L, cpuNs: Long = 0L,
                          gcMs: Long = 0L, inputBytes: Long = 0L,
                          shuffleReadBytes: Long = 0L,
                          shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L,
                          wallMs: Long = 0L) {
  def add(m: TaskMetrics): StageRow = copy(
    tasks = tasks + 1,
    runMs = runMs + m.executorRunTime,
    cpuNs = cpuNs + m.executorCpuTime,
    gcMs = gcMs + m.jvmGCTime,
    inputBytes = inputBytes + m.inputMetrics.bytesRead,
    shuffleReadBytes = shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
    shuffleWriteBytes = shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
    spillBytes = spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
}

/** The one Spark listener of graft's mains: per-stage task metrics,
  * keyed by stage id and tagged with the submitting job group. Listener events arrive
  * asynchronously — drain the bus ([[StageMetrics.drain]]) before
  * reading a job's numbers, or its trailing tasks land in the next read.
  */
final class StageMetrics extends SparkListener {
  private val rows = scala.collection.mutable.LinkedHashMap[Int, StageRow]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val si = e.stageInfo
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (!rows.contains(si.stageId))
        rows(si.stageId) =
          StageRow(si.stageId, si.name.takeWhile(_ != '\n'), group)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      rows(e.stageId) = rows.getOrElse(e.stageId, StageRow(e.stageId, "", ""))
        .add(m)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for (r <- rows.get(si.stageId); s <- si.submissionTime;
           c <- si.completionTime)
        rows(si.stageId) = r.copy(wallMs = r.wallMs + c - s)
    }

  /** Stages seen since the last [[clear]], in submission order. */
  def stages: Vector[StageRow] = synchronized(rows.values.toVector)

  /** Totals over every stage since the last [[clear]] (`wallMs` sums
    * the stage walls, so it over-counts stages that overlapped).
    */
  def total: StageRow = synchronized {
    rows.values.foldLeft(StageRow(-1, "total", "")) { (t, r) =>
      t.copy(tasks = t.tasks + r.tasks, runMs = t.runMs + r.runMs,
        cpuNs = t.cpuNs + r.cpuNs, gcMs = t.gcMs + r.gcMs,
        inputBytes = t.inputBytes + r.inputBytes,
        shuffleReadBytes = t.shuffleReadBytes + r.shuffleReadBytes,
        shuffleWriteBytes = t.shuffleWriteBytes + r.shuffleWriteBytes,
        spillBytes = t.spillBytes + r.spillBytes, wallMs = t.wallMs + r.wallMs)
    }
  }

  def clear(): Unit = synchronized(rows.clear())
}

object StageMetrics {
  def install(sc: SparkContext): StageMetrics = {
    val l = new StageMetrics
    sc.addSparkListener(l)
    l
  }

  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.GraftSparkBridge.drainListenerBus(sc)

  /** All file scans in the EXECUTED plan (descending through AQE). */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans)
  }

  /** (numFiles, bytes) actually read by `df`'s parquet scans, from the
    * post-execution metrics. Call AFTER an action has run the frame.
    */
  def scanReadMetrics(df: DataFrame): (Long, Long) = {
    val scans = fileScans(df.queryExecution.executedPlan)
    val files = scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val bytes = scans.flatMap(_.metrics.get("filesSize")).map(_.value).sum
    (files, bytes)
  }
}
