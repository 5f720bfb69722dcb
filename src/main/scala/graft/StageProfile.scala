package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Local diagnosis main: run ONE query from SparkEntry.queries and print
  * per-stage task counts / runtime / cpu / shuffle / spill, to localize
  * where task-seconds go when `Bench` shows task_s >> cpu_s (VERDICT r7:
  * q100 at 5.6×). Usage: runMain graft.StageProfile <queryName> [sfDir]
  * [repeats]; each repeat prints its wall, process cpu and the number of
  * generated classes compiled. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SessionDefaults.tune: the profiler MUST run the same session
    // tuning as Bench, or its per-stage numbers diagnose a different
    // plan than the one Bench measures (it also supplies the
    // SPARK_GRAFT_CONF hook for A/B experiments)
    val spark = SessionDefaults.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    case class St(var n: Int = 0, var runMs: Long = 0, var cpuMs: Long = 0,
      var shufWriteMb: Double = 0, var spillMb: Double = 0,
      var gcMs: Long = 0, var deserMs: Long = 0, var resultMs: Long = 0)
    // Keyed on (stageId, attemptId) with failed/killed tasks counted
    // separately: merging retried attempts and non-successful tasks into
    // one bucket would inflate exactly the task-s >> cpu-s signal this
    // tool exists to attribute (a speculative duplicate burns run-time
    // with no useful cpu).
    val stages = scala.collection.concurrent.TrieMap.empty[(Int, Int), St]
    val names = scala.collection.concurrent.TrieMap.empty[Int, String]
    val nonSuccess = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          if (te.reason != org.apache.spark.Success) nonSuccess.incrementAndGet()
          else {
          val s = stages.getOrElseUpdate((te.stageId, te.stageAttemptId), St())
          s.synchronized {
            s.n += 1
            s.runMs += m.executorRunTime
            s.cpuMs += m.executorCpuTime / 1000000L
            s.shufWriteMb += m.shuffleWriteMetrics.bytesWritten / 1e6
            s.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
            s.gcMs += m.jvmGCTime
            s.deserMs += m.executorDeserializeTime
            s.resultMs += m.resultSerializationTime
          }
          }
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        names.put(sc.stageInfo.stageId, sc.stageInfo.name.take(60))
    })
    // optional repeat count (3rd arg): re-run the query N times in the
    // SAME JVM and print each run's wall and cpu. Every repeat starts from
    // an empty CacheRegistry, so each one is cold against the registry and
    // only the first also pays JVM/codegen warm-up.
    val repeats = if (args.length > 2) args(2).toInt else 1
    // SPARK_GRAFT_PHASES=1: per-action Catalyst phase times (analysis /
    // optimization / planning), to attribute driver-side wall in
    // iterative loops where executor task time explains little
    if (sys.env.contains("SPARK_GRAFT_PHASES"))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
          val ph = qe.tracker.phases.map { case (k, v) =>
            s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" ")
          println(f"[phases] $funcName total=${durationNs / 1e6}%.0fms $ph")
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // generated classes Janino compiled (driver and local tasks alike):
    // a rerun that still compiles is paying codegen, not data work
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (1 to repeats).foreach { r =>
      graft.ops.CacheRegistry.clear(spark)
      val (t0, c0, k0) = (System.nanoTime(), os.getProcessCpuTime, compiles.getCount)
      // a noop write of every column: the same full materialization the
      // performance gate times (count() lets Catalyst prune the outputs)
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      println(f"query=$name run=$r wall=$wall%.2fs cpu=$cpu%.2fs " +
        s"compiles=${compiles.getCount - k0}")
    }
    Thread.sleep(1500) // listener bus drain
    val tot = stages.values
    println(f"TOTAL tasks=${tot.map(_.n).sum} run=${tot.map(_.runMs).sum / 1e3}%.1fs " +
      f"cpu=${tot.map(_.cpuMs).sum / 1e3}%.1fs gc=${tot.map(_.gcMs).sum / 1e3}%.1fs " +
      f"spill=${tot.map(_.spillMb).sum}%.0fMB nonSuccessTasks=${nonSuccess.get()}")
    stages.toSeq.sortBy(-_._2.runMs).take(25).foreach { case ((id, att), s) =>
      println(f"stage $id%4d.$att n=${s.n}%5d run=${s.runMs / 1e3}%8.1fs cpu=${s.cpuMs / 1e3}%8.1fs " +
        f"gc=${s.gcMs / 1e3}%6.1fs deser=${s.deserMs / 1e3}%6.1fs shufW=${s.shufWriteMb}%7.1fMB " +
        f"spill=${s.spillMb}%6.0fMB  ${names.getOrElse(id, "?")}")
    }
    graft.ops.CacheRegistry.clear(spark)
    spark.stop()
  }
}
