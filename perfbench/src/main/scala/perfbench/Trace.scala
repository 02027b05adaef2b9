package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, gathered from outside the
  * program: a SparkListener (scheduler, executor, shuffle, scan, spill,
  * output), a QueryExecutionListener (Catalyst actions and planning time)
  * and the wall clocks the workloads take around the calls they make.
  *
  * Counting is switched on and off around single operations with
  * [[during]], so a traced run can interleave traced and untraced
  * operations and report the tracing overhead from the same JVM. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext

  // totals over traced operations; listener callbacks arrive on the bus thread
  var ops = 0
  var wall = 0.0
  var actions = 0L
  var planSec = 0.0
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var schedDelaySec = 0.0
  var runSec = 0.0
  var cpuSec = 0.0
  var gcSec = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitSec = 0.0
  var bytesRead = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var spill = 0L
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      tasks += 1
      if (!e.taskInfo.successful) failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runSec += m.executorRunTime / 1e3
        cpuSec += m.executorCpuTime / 1e9
        gcSec += m.jvmGCTime / 1e3
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        fetchWaitSec += m.shuffleReadMetrics.fetchWaitTime / 1e3
        bytesRead += m.inputMetrics.bytesRead
        recordsRead += m.inputMetrics.recordsRead
        bytesWritten += m.outputMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's scheduler delay: task wall not spent running,
        // deserializing, serializing the result or fetching it
        val info = e.taskInfo
        val other = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        schedDelaySec += math.max(0L, info.duration - other) / 1e3
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      actions += 1
      planSec += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    }
  }

  /** Run `body` with the listeners attached and count it as one traced
    * operation of `sec` wall seconds (as the caller measured it). */
  def during[T](body: => (T, Double)): T = {
    // events still queued from earlier, untraced work must not reach the listener
    PerfbenchBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      val (r, sec) = body
      synchronized { ops += 1; wall += sec }
      r
    } finally {
      PerfbenchBus.drain(sc)
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(listener)
    }
  }

  /** Seconds in which at least one traced job was running. */
  def jobBusySec: Double = synchronized {
    val spans = jobSpans.sortBy(_._1)
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy / 1e3
  }

  /** The layer metrics every workload shares, per traced operation. */
  def common(cores: Int): Map[String, Double] = synchronized {
    val n = math.max(ops, 1).toDouble
    val busy = jobBusySec
    Map(
      "catalyst.actions" -> actions / n,
      "catalyst.plan_s" -> planSec / n,
      "scheduler.jobs" -> jobs / n,
      "scheduler.stages" -> stages / n,
      "scheduler.tasks" -> tasks / n,
      "scheduler.failed_tasks" -> failedTasks / n,
      "scheduler.delay_s" -> schedDelaySec / n,
      "scheduler.job_busy_s" -> busy / n,
      "driver.only_s" -> math.max(0.0, wall - busy) / n,
      "executor.run_s" -> runSec / n,
      "executor.cpu_s" -> cpuSec / n,
      "executor.gc_s" -> gcSec / n,
      "executor.util" -> (if (wall > 0) runSec / (wall * cores) else 0.0),
      "shuffle.write_bytes" -> shuffleWrite / n,
      "shuffle.read_bytes" -> shuffleRead / n,
      "shuffle.fetch_wait_s" -> fetchWaitSec / n,
      "scan.bytes_read" -> bytesRead / n,
      "scan.rows_read" -> recordsRead / n,
      "spill.bytes" -> spill / n,
      "trace.ops" -> ops.toDouble)
  }
}

object Trace {
  /** Every per-layer metric a traced run prints, with its unit. */
  val layers: Seq[(String, String)] = Seq(
    "ingest.control_s" -> "s/op", "ingest.sink_phase_s" -> "s/op",
    "ingest.sink_overlap" -> "ratio", "ingest.sink_write_s" -> "s/call",
    "ingest.sink_write_calls" -> "count/op", "ingest.metrics_append_s" -> "s/op",
    "ingest.bytes_written" -> "B/op", "ingest.write_amp" -> "ratio",
    "sources.rows_parsed" -> "count/op", "sources.parse_ratio" -> "ratio",
    "registry.build_s" -> "s/op", "registry.cache_mb" -> "MB",
    "catalyst.actions" -> "count/op", "catalyst.plan_s" -> "s/op",
    "scheduler.jobs" -> "count/op", "scheduler.stages" -> "count/op",
    "scheduler.tasks" -> "count/op", "scheduler.failed_tasks" -> "count/op",
    "scheduler.delay_s" -> "s/op", "scheduler.job_busy_s" -> "s/op",
    "driver.only_s" -> "s/op", "executor.run_s" -> "s/op", "executor.cpu_s" -> "s/op",
    "executor.gc_s" -> "s/op", "executor.util" -> "ratio",
    "shuffle.write_bytes" -> "B/op", "shuffle.read_bytes" -> "B/op",
    "shuffle.fetch_wait_s" -> "s/op", "scan.bytes_read" -> "B/op",
    "scan.rows_read" -> "count/op", "spill.bytes" -> "B/op",
    "trace.ops" -> "count", "trace.overhead" -> "ratio")

  /** The per-layer metrics in print order; a layer the workload does not
    * exercise reads 0. */
  def layerMetrics(values: Map[String, Double]): Seq[(String, Double, String)] =
    layers.map { case (name, unit) => (name, values.getOrElse(name, 0.0), unit) }

  /** Session-cache storage resident now, in MB (memory plus disk). */
  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Accumulated `graft.BuildTimers` seconds so far this session. */
  def buildSec(): Double = graft.BuildTimers.snapshot().values.sum

  /** `traced / untraced - 1` on the median operation time. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else Stats.median(traced) / Stats.median(untraced) - 1.0
}
