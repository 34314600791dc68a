package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** What Spark reports about the work done between two [[ExecListener.mark]]s. */
final case class ExecCounts(
    jobs: Long, stages: Long, tasks: Long, taskCpuS: Double, gcS: Double,
    peakExecMemMb: Double, longestTaskS: Double, shuffleWriteMb: Double,
    shuffleRecords: Long, spillMb: Double,
    plans: Seq[SparkPlanInfo], accums: Map[Long, Long]) {

  private def nodes: Seq[SparkPlanInfo] = {
    def walk(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(walk)
    plans.flatMap(walk)
  }

  /** Nodes of the final executed plans whose name satisfies `p`. */
  def countNodes(p: String => Boolean): Long = nodes.count(n => p(n.nodeName)).toLong

  /** Sum of SQL metric `metric` over plan nodes matching `node`. */
  def sqlMetric(node: SparkPlanInfo => Boolean, metric: String): Long =
    nodes.filter(node).flatMap(_.metrics.filter(_.name == metric))
      .map(m => accums.getOrElse(m.accumulatorId, 0L)).sum

  def planCounts: Map[String, Double] = Map(
    "plan.exchanges" -> countNodes(n => n == "Exchange" || n == "BroadcastExchange"),
    "plan.reused_exchanges" -> countNodes(_ == "ReusedExchange"),
    "plan.bhj" -> countNodes(_ == "BroadcastHashJoin"),
    "plan.shj" -> countNodes(_ == "ShuffledHashJoin"),
    "plan.smj" -> countNodes(_ == "SortMergeJoin")
  ).map { case (k, v) => k -> v.toDouble }

  def execCounts: Map[String, Double] = Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble, "exec.task_cpu_s" -> taskCpuS,
    "exec.gc_s" -> gcS, "exec.peak_exec_mem_mb" -> peakExecMemMb,
    "exec.longest_task_s" -> longestTaskS,
    "exchange.shuffle_write_mb" -> shuffleWriteMb,
    "exchange.shuffle_records" -> shuffleRecords.toDouble,
    "exchange.spill_mb" -> spillMb)
}

/** One listener the benchmark registers itself: task, stage and job
  * totals, the last (final, after AQE) plan of every SQL execution, and
  * the final value of every accumulator a completed stage reports — the
  * SQL metrics of those plans. */
final class ExecListener extends SparkListener {
  private val Mb = 1024.0 * 1024.0
  private var jobs, stages, tasks, cpuNs, gcMs, writeBytes, writeRecords, spill = 0L
  private var peakMem, longestMs = 0L
  private val plans = mutable.LinkedHashMap[Long, SparkPlanInfo]()
  private val accums = mutable.HashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    e.stageInfo.accumulables.values.foreach { a =>
      a.value match {
        case Some(v: Long) => accums(a.id) = v
        case Some(v: java.lang.Long) => accums(a.id) = v.longValue
        case _ =>
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    longestMs = math.max(longestMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      writeBytes += m.shuffleWriteMetrics.bytesWritten
      writeRecords += m.shuffleWriteMetrics.recordsWritten
      spill += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => plans(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate => plans(u.executionId) = u.sparkPlanInfo
      case _ =>
    }
  }

  /** Drains the event bus and starts a fresh window. */
  def mark(spark: SparkSession): Unit = {
    org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
    synchronized {
      jobs = 0; stages = 0; tasks = 0; cpuNs = 0; gcMs = 0; writeBytes = 0
      writeRecords = 0; spill = 0; peakMem = 0; longestMs = 0
      plans.clear(); accums.clear()
    }
  }

  /** Drains the event bus and returns the window since the last mark. */
  def read(spark: SparkSession): ExecCounts = {
    org.apache.spark.sql.GraftShims.waitListenerBusEmpty(spark)
    synchronized {
      ExecCounts(jobs, stages, tasks, cpuNs / 1e9, gcMs / 1e3, peakMem / Mb,
        longestMs / 1e3, writeBytes / Mb, writeRecords, spill / Mb,
        plans.values.toList, accums.toMap)
    }
  }
}

/** Spans kept in memory and written as JSON when the run ends. Each
  * query execution gets its own id; a span's parent is the span open
  * around it. */
final class Tracer {
  final case class Span(id: Int, query: Int, name: String, parent: Int,
      startNs: Long, endNs: Long)

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  var query = 0

  /** Runs `body` inside a span; returns its result and its seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      spans += Span(id, query, name, parent, t0 - origin, t1 - origin)
      (r, (t1 - t0) / 1e9)
    } finally open = open.tail
  }

  def json: String = spans.map { s =>
    s"""{"id":${s.id},"query":${s.query},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_us":${s.startNs / 1000},"end_us":${s.endNs / 1000}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
