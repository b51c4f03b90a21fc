package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side listeners for the layers below graft's API: the
  * Catalyst planner (QueryPlanningTracker phases of every executed
  * query), the scheduler and executors, shuffle, spill and the block
  * cache. Installed only in traced runs. Counters are read after
  * [[drain]], once the bus has delivered every event.
  */
final class Meter(spark: SparkSession, tracer: Tracer, threads: Int)
    extends SparkListener with QueryExecutionListener {

  private val c = mutable.LinkedHashMap.empty[String, Double]
  private val blocks = mutable.Map.empty[String, Long]
  private var cacheBytes = 0L
  private var cachePeak = 0L

  private def add(k: String, v: Double): Unit = synchronized {
    c(k) = c.getOrElse(k, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    add("tasks", 1)
    tracer.derived("exec.task", tracer.atEpochMs(i.launchTime),
      tracer.atEpochMs(i.finishTime))
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      add("sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult))
      val w = m.shuffleWriteMetrics
      val r = m.shuffleReadMetrics
      add("shuffle_write_bytes", w.bytesWritten)
      add("shuffle_records", w.recordsWritten)
      add("shuffle_write_ns", w.writeTime)
      add("shuffle_read_bytes", r.localBytesRead + r.remoteBytesRead)
      add("fetch_wait_ms", r.fetchWaitTime)
      add("spill_memory_bytes", m.memoryBytesSpilled)
      add("spill_disk_bytes", m.diskBytesSpilled)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = info.memSize + info.diskSize
      cacheBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0) blocks.remove(key) else blocks(key) = size
      cachePeak = math.max(cachePeak, cacheBytes)
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  /** Planner phases of a query run through a Dataset action or write. */
  private def phases(qe: QueryExecution): Unit =
    for ((name, p) <- qe.tracker.phases if name != "parsing") {
      add(s"planner_${name}_ms", p.durationMs)
      tracer.derived(s"planner.$name", tracer.atEpochMs(p.startTimeMs),
        tracer.atEpochMs(p.endTimeMs))
    }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Forgets everything counted so far (set-up and warm-up work). */
  def reset(): Unit = {
    drain()
    synchronized { c.clear(); cachePeak = cacheBytes }
  }

  /** Counters since the last reset, over a window of `wallS` seconds. */
  def snapshot(wallS: Double): Map[String, Double] = {
    drain()
    synchronized {
      def g(k: String) = c.getOrElse(k, 0.0)
      val mb = 1024.0 * 1024.0
      Map(
        "exec.jobs" -> g("jobs"),
        "exec.stages" -> g("stages"),
        "exec.tasks" -> g("tasks"),
        "exec.run_s" -> g("run_ms") / 1e3,
        "exec.cpu_s" -> g("cpu_ns") / 1e9,
        "exec.gc_s" -> g("gc_ms") / 1e3,
        "exec.scheduler_delay_s" -> g("sched_delay_ms") / 1e3,
        "exec.cpu_util" -> g("cpu_ns") / 1e9 / (wallS * threads),
        "shuffle.write_mb" -> g("shuffle_write_bytes") / mb,
        "shuffle.read_mb" -> g("shuffle_read_bytes") / mb,
        "shuffle.records" -> g("shuffle_records"),
        "shuffle.write_s" -> g("shuffle_write_ns") / 1e9,
        "shuffle.fetch_wait_s" -> g("fetch_wait_ms") / 1e3,
        "spill.memory_mb" -> g("spill_memory_bytes") / mb,
        "spill.disk_mb" -> g("spill_disk_bytes") / mb,
        "cache.peak_mb" -> cachePeak / mb,
        "planner.analysis_s" -> g("planner_analysis_ms") / 1e3,
        "planner.optimization_s" -> g("planner_optimization_ms") / 1e3,
        "planner.planning_s" -> g("planner_planning_ms") / 1e3,
        "output_bytes" -> g("output_bytes"))
    }
  }
}

object Meter {
  def install(spark: SparkSession, tracer: Tracer, threads: Int): Meter = {
    val m = new Meter(spark, tracer, threads)
    spark.sparkContext.addSparkListener(m)
    spark.listenerManager.register(m)
    m
  }
}
