package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (SURVEY.md §5.2). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf001 = "/root/testdata/sf0.001"

  /** Every window in a physical plan. `collect` stops at leaf nodes, so
    * this also descends AQE's wrapper, its query stages, and the plan
    * behind a cached relation: a window under a registry cache counts. */
  def windows(p: SparkPlan): Seq[WindowExec] = p.collect {
    case w: WindowExec => Seq(w)
    case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
    case q: QueryStageExec => windows(q.plan)
    case m: InMemoryTableScanExec => windows(m.relation.cachedPlan)
  }.flatten
}

object SparkSpec {
  lazy val session: SparkSession = {
    // SessionDefaults.tune: tests must exercise the same AQE policy the
    // runner mains ship with, or plan-shape assertions drift from what
    // Bench/Verify actually execute. applyEnv=false: an exported
    // SPARK_GRAFT_CONF A/B experiment must not reconfigure the suite.
    val s = graft.SessionDefaults.tune(applyEnv = false, b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
