package perfbench

import java.lang.management.ManagementFactory

/** Process and host readings recorded with every run, so that a contended run
  * can be recognised from its artifact. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds, all threads: driver and local executors alike. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Peak resident set (`VmHWM`) of this process in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Fixed-work probe: hashes the same 8 MB buffer 16 times on one thread.
    * Returns (wall s, thread cpu s); a slow wall with normal cpu means the
    * host was contended. */
  def calibrate(): (Double, Double) = {
    val buf = Array.tabulate[Byte](8 << 20)(i => (i * 31).toByte)
    val threads = ManagementFactory.getThreadMXBean
    val c0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    var sink = 0
    for (_ <- 0 until 16) sink ^= java.security.MessageDigest.getInstance("SHA-256").digest(buf)(0)
    val wall = (System.nanoTime() - t0) / 1e9
    if (sink == 42) System.err.print("") // uses the digests, so the JIT cannot drop them
    (wall, (threads.getCurrentThreadCpuTime - c0) / 1e9)
  }

  def context: Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString)
}

object Stats {
  /** Linear-interpolated quantile, the same rule as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
