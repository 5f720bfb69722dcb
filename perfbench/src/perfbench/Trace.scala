package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds so that spans measured
  * here and times Spark reports (epoch milliseconds) share one clock. Depth
  * orders layers for self time: a span's self time excludes the deeper spans
  * inside it. */
final case class Span(name: String, layer: String, depth: Int, startUs: Long, endUs: Long)

object Clock {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L
}

/** Counters and spans for the traced run, fed by Spark listeners registered
  * from the benchmark (no instrumentation inside the program). Every callback
  * is timed so the trace reports its own overhead. */
final class Trace(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val callbackNs = new LongAdder
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  def add(k: String, v: Double): Unit = counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def reset(): Unit = { counters.clear(); spans.clear(); callbackNs.reset() }
  def span(name: String, layer: String, depth: Int, startUs: Long, endUs: Long): Unit =
    spans.add(Span(name, layer, depth, startUs, endUs))
  def callbackSeconds: Double = callbackNs.sum / 1e9

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    try f finally callbackNs.add(System.nanoTime() - t)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      add("scheduler.jobs", 1)
      jobStart.put(e.jobId, e.time)
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      if (group.exists(_.endsWith(":build"))) add("ops.eager_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStart.remove(e.jobId)).foreach(s => span(s"job ${e.jobId}", "scheduler", 2, s * 1000L, e.time * 1000L))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      add("scheduler.stages", 1)
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = timed {
      Option(stageSubmitted.remove(e.stageId)).foreach(s => add("scheduler.launch_wait_ms", e.taskInfo.launchTime - s))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      add("scheduler.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.gc_s", m.jvmGCTime / 1e3)
        add("executor.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("executor.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("executor.spill_mb", m.diskBytesSpilled / 1e6)
        add("executor.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("driver.result_mb", m.resultSize / 1e6)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed(phases(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = timed(phases(qe))
  }

  private def phases(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, ps) =>
      add(s"driver.${phase}_ms", ps.durationMs.toDouble)
      span(phase, "driver", 1, ps.startTimeMs * 1000L, ps.endTimeMs * 1000L)
    }
    val plan: SparkPlan = qe.executedPlan
    add("driver.plan_nodes", collectWithSubqueries(plan) { case p => p }.size.toDouble)
    add("cache.scans", collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.size.toDouble)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Self time per layer: each span's duration minus the union of the deeper
    * spans that lie inside it. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toVector.sortBy(_.startUs)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val inner = all.filter(c => c.depth > s.depth && c.startUs >= s.startUs && c.endUs <= s.endUs)
          .map(c => (c.startUs, c.endUs))
        (s.endUs - s.startUs - Trace.unionLength(inner)) / 1e6
      }.sum
    }
  }

  def counterSnapshot: Map[String, Double] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap
}

object Trace {
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
