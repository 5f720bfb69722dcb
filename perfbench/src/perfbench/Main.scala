package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver, one workload per process:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <tables dir> --work <scratch dir> --out <result.json>
  * }}}
  *
  * Writes the run's metrics, layer counters, failures and host context to
  * `--out`; with `--trace 1` also writes the spans to `<work>/spans.json`. */
object Main {
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = graft.SessionDefaults.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"), applyEnv = false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line with seconds since JVM start, for the run's log. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val work = opt("work")
    val (calibWall0, calibCpu0) = Host.calibrate()
    val spark = session()
    log("session ready")
    val trace = if (opt("trace") == "1") Some(new Trace(spark)) else None
    val RunResult(setupEndUs, setupCpuS, metrics, layers, detail, failures, attempted) = workload match {
      case "ingest_stream" => IngestRun.run(spark, opt("data"), work, seed, seconds, trace)
      case "query_heavy" => QueryRun.run(spark, Mixes.order(seed), opt("data"), work, seconds, trace)
      case other => sys.error(s"unknown workload: $other")
    }
    val timedS = (Clock.nowUs - setupEndUs) / 1e6
    val peakRss = Host.peakRssMb
    val (calibWall1, calibCpu1) = Host.calibrate()
    val traced = trace.map { t =>
      val spans = t.spans.asScala.toSeq.map(s => Map("name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "depth" -> s.depth, "run" -> s"$workload-$seed"))
      Files.write(Paths.get(work, "spans.json"), Json.write(spans).getBytes("UTF-8"))
      // Query layer counters are per cold pass; self times follow suit.
      val perPass = detail.get("passes").map(_.asInstanceOf[Int].toDouble).getOrElse(1.0)
      layers ++ t.selfSeconds.map { case (l, v) => s"self.${l}_s" -> v / perPass } ++ Map(
        "trace.overhead_frac" -> t.callbackSeconds / timedS,
        "host.calib_wall_s" -> (calibWall0 + calibWall1) / 2,
        "host.calib_cpu_s" -> (calibCpu0 + calibCpu1) / 2)
    }.getOrElse(Map.empty)
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "setup_end_epoch_us" -> setupEndUs, "setup_cpu_s" -> setupCpuS, "timed_s" -> timedS,
      "metrics" -> (metrics + ("peak_rss_mb" -> peakRss)),
      "layers" -> traced, "detail" -> detail, "failures" -> failures, "attempted" -> attempted,
      "host" -> (Host.context ++ Map("calib_before" -> Seq(calibWall0, calibCpu0),
        "calib_after" -> Seq(calibWall1, calibCpu1))))
    Files.write(Paths.get(opt("out")), Json.write(out).getBytes("UTF-8"))
    log("result written")
    spark.stop()
    // Non-daemon threads left by the streaming engine would hold the JVM open.
    sys.exit(0)
  }
}

/** What a workload run hands back: when set-up ended (epoch µs) and the
  * process CPU seconds spent by then, its end-to-end figures, the traced
  * layer counters (empty when untraced), details for the artifact, failures
  * by item, and the items attempted. */
final case class RunResult(
    setupEndUs: Long,
    setupCpuS: Double,
    metrics: Map[String, Double],
    layers: Map[String, Double],
    detail: Map[String, Any],
    failures: Map[String, String],
    attempted: Int)

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
}
