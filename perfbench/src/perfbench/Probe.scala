package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAccumulator}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Engine counters, summed over everything the session runs. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, shuffleWriteB: Long,
                        spillB: Long, taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
                        peakExecMemB: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    shuffleWriteB - o.shuffleWriteB, spillB - o.spillB, taskRunMs - o.taskRunMs,
    taskCpuNs - o.taskCpuNs, gcMs - o.gcMs, peakExecMemB)

  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    shuffleWriteB + o.shuffleWriteB, spillB + o.spillB, taskRunMs + o.taskRunMs,
    taskCpuNs + o.taskCpuNs, gcMs + o.gcMs, math.max(peakExecMemB, o.peakExecMemB))

  /** The `spark.*` per-layer metrics of one measured interval. */
  def metrics: Seq[Layer] = Seq(
    Layer("spark.jobs", jobs.toDouble, "count"),
    Layer("spark.stages", stages.toDouble, "count"),
    Layer("spark.tasks", tasks.toDouble, "count"),
    Layer("spark.shuffle_write_mb", shuffleWriteB / 1e6, "MB"),
    Layer("spark.spill_mb", spillB / 1e6, "MB"),
    Layer("spark.task_run_s", taskRunMs / 1e3, "s"),
    Layer("spark.task_cpu_s", taskCpuNs / 1e9, "s"),
    Layer("spark.gc_s", gcMs / 1e3, "s"),
    Layer("spark.peak_exec_mem_mb", peakExecMemB / 1e6, "MB"))
}

/** A `SparkListener` counting jobs, stages, tasks and the task metrics
  * the benchmark reports per workload. Peak execution memory is the
  * largest single-task peak seen since the last `resetPeak`.
  */
final class Probe extends SparkListener {
  private val jobs, stages, tasks, shuffleW, spill, runMs, cpuNs, gcMs = new AtomicLong()
  private val peak = new LongAccumulator(math.max(_, _), 0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      peak.accumulate(m.peakExecutionMemory)
    }
  }

  def resetPeak(): Unit = peak.reset()

  /** Counts after every event posted so far has been delivered. */
  def counts(spark: SparkSession): Counts = {
    ListenerBusDrain(spark.sparkContext)
    Counts(jobs.get, stages.get, tasks.get, shuffleW.get, spill.get, runMs.get,
      cpuNs.get, gcMs.get, peak.get)
  }
}

/** What a pass left behind in the shared session, against the state
  * taken before it: persistent RDDs, changed settings, running streams.
  */
final case class Hygiene(leakedRdds: Int, changedConf: Int, activeStreams: Int) {
  def toMap: Map[String, Int] =
    Map("leaked_rdds" -> leakedRdds, "changed_conf" -> changedConf, "active_streams" -> activeStreams)
}

object Hygiene {
  final case class Snapshot(rdds: Set[Int], conf: Map[String, String])

  def snapshot(spark: SparkSession): Snapshot =
    Snapshot(spark.sparkContext.getPersistentRDDs.keySet.toSet, spark.conf.getAll)

  /** Record what changed since `before`, then clear the cache so that
    * nothing a pass left cached leaks into the next one.
    */
  def checkAndClear(spark: SparkSession, before: Snapshot): Hygiene = {
    val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before.rdds
    val now = spark.conf.getAll
    val changed = (now.keySet ++ before.conf.keySet).count(k => now.get(k) != before.conf.get(k))
    val streams = spark.streams.active.length
    spark.catalog.clearCache()
    Hygiene(rdds.size, changed, streams)
  }
}
