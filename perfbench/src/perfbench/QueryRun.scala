package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ops.CacheRegistry

/** Query workloads: cold passes over a fixed mix, each query timed from its
  * `fn(spark, dir)` call to the end of a `noop` write of every output column.
  *
  * "Cold" means every pass starts with `CacheRegistry.clear`, so a frame built
  * by one query may serve a later, different query of the same pass (reuse a
  * session sees), but never a replay of the same query. */
object QueryRun {
  /** Nominal length of one cold pass over the mix on a 4-core host. */
  val PassSeconds = 10

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, mix: Seq[String], dataDir: String, workDir: String,
      seconds: Int, trace: Option[Trace]): RunResult = {
    val sc = spark.sparkContext
    val failures = mutable.LinkedHashMap.empty[String, String]
    // Set-up pass: writes every output for the oracle check outside the
    // timed region; it is also the JIT warm-up.
    CacheRegistry.clear(spark)
    for (q <- mix)
      try SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").parquet(s"$workDir/out/$q")
      catch { case NonFatal(e) => failures(q) = s"set-up pass: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    val oracle = SparkEntry.oracleSql
    val setupEndUs = Clock.nowUs
    val setupCpuS = Host.cpuSeconds
    Main.log("set-up pass done")

    trace.foreach { t => t.start(); t.reset() }
    val latencies = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    var peakMem, peakDisk = 0.0
    // A fixed number of whole passes, one per PassSeconds of the run, so that
    // every run times the same JIT and cache history.
    for (_ <- 1 to math.max(1, seconds / PassSeconds)) {
      CacheRegistry.clear(spark)
      val cpu0 = Host.cpuSeconds
      val p0 = Clock.nowUs
      for (q <- mix) {
        val before = CacheRegistry.size(spark)
        val t0 = Clock.nowUs
        try {
          trace.foreach(_ => sc.setJobGroup(s"$q:build", q))
          val df = SparkEntry.queries(q)(spark, dataDir)
          val t1 = Clock.nowUs
          trace.foreach(_ => sc.setJobGroup(s"$q:mat", q))
          noop(df)
          val t2 = Clock.nowUs
          latencies += (t2 - t0) / 1e6
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (t2 - t0) / 1e6
          trace.foreach { t =>
            t.span(q, "ops", 0, t0, t1)
            t.span(s"$q materialize", "driver", 0, t1, t2)
            t.add("ops.build_ms", (t1 - t0) / 1e3)
          }
        } catch {
          case NonFatal(e) => failures(q) = s"timed pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
        } finally trace.foreach(_ => sc.clearJobGroup())
        trace.foreach { t =>
          t.add("cache.frames_built", math.max(0, CacheRegistry.size(spark) - before))
          val infos = sc.getRDDStorageInfo
          peakMem = math.max(peakMem, infos.map(_.memSize).sum / 1e6)
          peakDisk = math.max(peakDisk, infos.map(_.diskSize).sum / 1e6)
        }
      }
      passWall += (Clock.nowUs - p0) / 1e6
      passCpu += Host.cpuSeconds - cpu0
    }

    val passes = passWall.size
    Main.log(s"$passes timed passes done")
    val layers = trace.map { t =>
      org.apache.spark.ListenerBusAccess.drain(sc)
      t.stop()
      val c = t.counterSnapshot.map { case (k, v) => k -> v / passes }
      // Diagnostic only: a second pass without a clear, served by the caches.
      val w0 = Clock.nowUs
      for (q <- mix) try noop(SparkEntry.queries(q)(spark, dataDir)) catch { case NonFatal(_) => }
      val warm = (Clock.nowUs - w0) / 1e6
      c ++ Map(
        "cache.peak_mem_mb" -> peakMem,
        "cache.peak_disk_mb" -> peakDisk,
        "cache.warm_pass_s" -> warm,
        "cache.reuse_ratio" -> c.getOrElse("cache.scans", 0.0) / math.max(1.0, c.getOrElse("cache.frames_built", 0.0)))
    }.getOrElse(Map.empty)

    val metrics = if (latencies.isEmpty) Map.empty[String, Double] else Map(
      "query_pass_s" -> Stats.median(passWall.toSeq),
      "query_lat_p50_s" -> Stats.median(latencies.toSeq),
      "query_lat_p90_s" -> Stats.quantile(latencies.toSeq, 0.9),
      "query_cpu_s" -> Stats.median(passCpu.toSeq))
    RunResult(setupEndUs, setupCpuS, metrics, layers,
      Map("passes" -> passes, "pass_s" -> passWall.toSeq, "pass_cpu_s" -> passCpu.toSeq,
        "mix" -> mix, "per_query_s" -> perQuery.map { case (k, v) => k -> v.toSeq }.toMap,
        "oracle_sql" -> mix.flatMap(q => oracle.get(q).map(q -> _)).toMap),
      failures.toMap, mix.size)
  }
}
