package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-layer counters for the traced run, collected only through
  * Spark's public listener interfaces and codegen counters:
  *
  *  - a `SparkListener` for jobs, tasks, executor run time, task GC,
  *    shuffle write bytes and time, and spill;
  *  - a `QueryExecutionListener` for Catalyst's analysis, optimization
  *    and planning phases (`QueryExecution.tracker`);
  *  - a `StreamingQueryListener` for each stream's per-trigger phases
  *    (`addBatch`, `latestOffset`, `getBatch`, `walCommit`,
  *    `commitOffsets`), keyed by the role the workload gave the query;
  *  - `CodeGenerator.compileTime` and the codegen compilation count.
  *
  * Counters only grow; a workload reads [[snapshot]] before and after
  * an operation and keeps the difference. */
final class Trace(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  private val roles = new ConcurrentHashMap[java.util.UUID, String]()
  private val lastBatch = new ConcurrentHashMap[String, java.lang.Long]()

  /** Attribute a streaming query's progress to `role` ("gate"/"route"). */
  def nameStream(id: java.util.UUID, role: String): Unit = roles.put(id, role)

  /** Highest batch id whose progress event `role` has delivered. */
  def lastBatchOf(role: String): Long =
    Option(lastBatch.get(role)).map(_.longValue).getOrElse(-1L)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / Trace.MB)
        add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / Trace.MB)
      }
    }
  })

  private def planSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.collect {
      case (p, s) if p == "analysis" || p == "optimization" || p == "planning" =>
        s.durationMs / 1e3
    }.sum

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add("plan.s", planSeconds(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add("plan.s", planSeconds(qe))
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val role = roles.get(p.id)
      if (role != null && p.numInputRows > 0) {
        p.durationMs.asScala.foreach { case (k, v) => add(s"stream.$role.$k", v / 1e3) }
        lastBatch.merge(role, p.batchId, (a, b) => math.max(a, b))
      }
    }
  })

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  def snapshot(): Map[String, Double] =
    counters.asScala.map { case (k, v) => k -> v.sum }.toMap ++ Map(
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "codegen.compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
}

object Trace {
  val MB: Double = 1024.0 * 1024.0

  /** `after - before` for every key of either map. */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    (before.keySet ++ after.keySet).iterator
      .map(k => k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap
}
