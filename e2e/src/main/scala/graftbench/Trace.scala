package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a pass: a phase of the workload or one call into
  * an engine layer. `parent` is 0 for top-level spans.
  */
final case class SpanRec(id: Int, name: String, parent: Int, call: Boolean,
                         startMs: Long, endMs: Long, seconds: Double)

/** Records spans in memory for one pass. Untraced runs use it too, for the
  * phase and call times the end-to-end metrics need; only a traced
  * recorder also tags each span's Spark jobs with a job group of its own.
  */
final class Spans(sc: SparkContext, traced: Boolean) {
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var calls = 0
  private var failed = 0

  def records: Seq[SpanRec] = synchronized(recs.toList)
  def attempted: Int = synchronized(calls)
  def failures: Int = synchronized(failed)
  def fail(): Unit = synchronized(failed += 1)

  /** A workload phase: groups calls, is not itself a call. */
  def phase[T](name: String)(body: => T): T = run(name, call = false)(body)

  /** One call into an engine layer's public function. */
  def call[T](name: String)(body: => T): T = run(name, call = true)(body)

  private val groupKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  private def run[T](name: String, call: Boolean)(body: => T): T = {
    val (id, parent) = synchronized {
      nextId += 1
      if (call) calls += 1
      val p = open.headOption.getOrElse(0)
      open.push(nextId)
      (nextId, p)
    }
    val saved = if (traced) groupKeys.map(sc.getLocalProperty) else Nil
    if (traced) sc.setJobGroup(s"e2e-$id", name)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => if (call) fail(); throw e }
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      if (traced) groupKeys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      synchronized {
        open.pop()
        recs += SpanRec(id, name, parent, call, w0, System.currentTimeMillis(), secs)
      }
      System.err.println(f"e2e: span $name took $secs%.3f s")
    }
  }
}

object Spans {
  /** Total seconds of the spans named `name`. */
  def total(spans: Seq[SpanRec], name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  /** Self time: a span's duration minus the part its children cover. */
  def selfSeconds(spans: Seq[SpanRec]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> math.max(0.0, s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)
    }.toMap
  }
}

/** Spark task/stage counters of one job. */
final class JobCounters {
  var tasks, taskFailures, stages, stageRetries = 0L
  var cpuS, runS, schedS, deserS, gcS = 0.0
  var scanBytes, shuffleRead, shuffleWrite, spill, resultBytes = 0L
  val taskRunS = mutable.ArrayBuffer.empty[Double]

  def add(o: JobCounters): Unit = {
    tasks += o.tasks; taskFailures += o.taskFailures
    stages += o.stages; stageRetries += o.stageRetries
    cpuS += o.cpuS; runS += o.runS; schedS += o.schedS; deserS += o.deserS; gcS += o.gcS
    scanBytes += o.scanBytes; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; resultBytes += o.resultBytes
    taskRunS ++= o.taskRunS
  }

  def toMap: Map[String, Double] = Map(
    "spark.tasks" -> tasks.toDouble, "spark.task_failures" -> taskFailures.toDouble,
    "spark.stages" -> stages.toDouble, "spark.stage_retries" -> stageRetries.toDouble,
    "spark.task_cpu_s" -> cpuS, "spark.task_run_s" -> runS,
    "spark.sched_delay_s" -> schedS, "spark.deser_s" -> deserS, "spark.gc_s" -> gcS,
    "spark.scan_bytes" -> scanBytes.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.spill_bytes" -> spill.toDouble, "spark.result_bytes" -> resultBytes.toDouble)
}

/** The traced run's Spark listener: task and stage metrics per job, jobs
  * mapped to spans through the job group, and stage run intervals for the
  * idle-time measurement.
  */
final class SparkProbe extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, (Long, Option[Int], JobCounters)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def reset(): Unit = synchronized { jobs.clear(); stageJob.clear(); intervals.clear() }
  def jobCount: Double = synchronized(jobs.size.toDouble)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith("e2e-")).map(_.drop(4).toInt)
    jobs(e.jobId) = (e.time, span, new JobCounters)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  private def countersOf(stageId: Int): Option[JobCounters] =
    stageJob.get(stageId).flatMap(jobs.get).map(_._3)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime) intervals += ((s, c))
    countersOf(info.stageId).foreach { j =>
      j.stages += 1
      if (info.attemptNumber() > 0) j.stageRetries += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    countersOf(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != org.apache.spark.Success) j.taskFailures += 1
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        j.cpuS += m.executorCpuTime / 1e9
        j.runS += m.executorRunTime / 1e3
        j.taskRunS += m.executorRunTime / 1e3
        j.deserS += m.executorDeserializeTime / 1e3
        j.gcS += m.jvmGCTime / 1e3
        j.scanBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
        // the scheduler-delay formula of Spark's own stage page
        val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult
        j.schedS += math.max(0L, delay) / 1e3
      }
    }
  }

  /** Counters per span id (jobs outside any tagged span go to the
    * innermost span open when they started), plus stage intervals.
    */
  def collect(spans: Seq[SpanRec]): (Map[Int, JobCounters], Seq[(Long, Long)]) = synchronized {
    val bySpan = mutable.HashMap.empty[Int, JobCounters]
    jobs.values.foreach { case (t, span, c) =>
      val id = span.getOrElse(spans.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => -s.startMs).headOption.map(_.id).getOrElse(0))
      bySpan.getOrElseUpdate(id, new JobCounters).add(c)
    }
    (bySpan.toMap, intervals.toList)
  }
}

/** Sums `StreamingQueryProgress.durationMs` over a pass. */
final class StreamProbe extends StreamingQueryListener {
  private val sums = mutable.HashMap.empty[String, Double]
  def reset(): Unit = synchronized(sums.clear())
  def seconds(key: String): Double = synchronized(sums.getOrElse(key, 0.0) / 1e3)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      e.progress.durationMs.asScala.foreach { case (k, v) =>
        sums(k) = sums.getOrElse(k, 0.0) + v.doubleValue()
      }
    }
}

/** Sums the `QueryExecution.tracker` phase times of every action. */
final class SqlProbe extends QueryExecutionListener {
  private val sums = mutable.HashMap.empty[String, Double]
  def reset(): Unit = synchronized(sums.clear())
  def seconds(phase: String): Double = synchronized(sums.getOrElse(phase, 0.0) / 1e3)
  private def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, p) =>
      sums(k) = sums.getOrElse(k, 0.0) + p.durationMs
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** JVM counters over a pass: collector time, JIT time, peak heap. */
final class JvmProbe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
    .filter(_.getType == MemoryType.HEAP)
  private var gc0, jit0 = 0L

  private def gcMs = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  private def jitMs = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  def start(): Unit = { heapPools.foreach(_.resetPeakUsage()); gc0 = gcMs; jit0 = jitMs }

  def stop(): Map[String, Double] = Map(
    "jvm.gc_s" -> (gcMs - gc0) / 1e3,
    "jvm.compile_s" -> (jitMs - jit0) / 1e3,
    "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0))
}

/** The traced run's listeners, registered for traced passes only. */
final class Probes(spark: SparkSession) {
  val sparkProbe = new SparkProbe
  val streamProbe = new StreamProbe
  val sqlProbe = new SqlProbe
  val jvm = new JvmProbe

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkProbe)
    spark.streams.addListener(streamProbe)
    spark.listenerManager.register(sqlProbe)
  }

  def unregister(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkProbe)
    spark.streams.removeListener(streamProbe)
    spark.listenerManager.unregister(sqlProbe)
  }

  def start(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    sparkProbe.reset(); streamProbe.reset(); sqlProbe.reset()
    jvm.start()
  }

  /** Per-layer metrics of the pass that just ended. */
  def finish(spans: Seq[SpanRec], passStart: Long, passEnd: Long,
             cores: Int): (Map[String, Double], Map[Int, JobCounters]) = {
    val jvmM = jvm.stop()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    val (bySpan, intervals) = sparkProbe.collect(spans)
    val all = new JobCounters
    bySpan.values.foreach(all.add)
    val busy = unionLength(intervals.map { case (s, e) =>
      (math.max(s, passStart), math.min(e, passEnd)) }.filter { case (s, e) => e > s })
    val idle = math.max(0L, (passEnd - passStart) - busy) / 1e3

    val streaming = Map(
      "streaming.trigger_s" -> "triggerExecution", "streaming.add_batch_s" -> "addBatch",
      "streaming.get_batch_s" -> "getBatch", "streaming.planning_s" -> "queryPlanning",
      "streaming.wal_commit_s" -> "walCommit").map { case (m, k) => m -> streamProbe.seconds(k) }
    val sql = Seq("analysis", "optimization", "planning")
      .map(p => s"sql.${p}_s" -> sqlProbe.seconds(p)).toMap

    // fit fan-out tasks: the search layer's spans
    val searchIds = spans.filter(_.name.startsWith("search.")).map(_.id).toSet
    val searchC = new JobCounters
    bySpan.filter { case (id, _) => searchIds(id) }.values.foreach(searchC.add)
    val runs = searchC.taskRunS.sorted
    val searchWall = spans.filter(s => searchIds(s.id)).map(_.seconds).sum
    val search = Map(
      "search.task_s_p50" -> (if (runs.isEmpty) 0.0 else runs(runs.size / 2)),
      "search.task_s_max" -> runs.lastOption.getOrElse(0.0),
      "search.core_util" -> (if (searchWall > 0) searchC.runS / (searchWall * cores) else 0.0))

    (all.toMap ++ Map("spark.jobs" -> sparkProbe.jobCount, "spark.idle_s" -> idle) ++
      streaming ++ sql ++ search ++ jvmM, bySpan)
  }

  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
