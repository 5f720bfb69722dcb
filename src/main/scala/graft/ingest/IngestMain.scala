package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}


/** Runnable entry point for the full ingest job — the reference's
  * `cmd/kafka-consumer/main.go` as one Spark application.
  *
  * Usage:
  *   runMain graft.ingest.IngestMain <config.json> kafka <brokers>
  *   runMain graft.ingest.IngestMain <config.json> file <stageDir>
  *
  * `kafka` mode subscribes to the configured topics (requires the
  * spark-sql-kafka connector on the classpath — not bundled in this
  * container, so it is exercised at compile level only). `file` mode tails
  * a directory of parquet files with columns (topic: string, value:
  * binary) — the same pipeline driven by a replayable staging area, which
  * is also how you'd backfill from an archived dump at scale.
  */
object IngestMain {

  def fileSource(spark: SparkSession, stageDir: String): DataFrame =
    spark.readStream
      .schema("topic STRING, value BINARY")
      .parquet(stageDir)

  def main(args: Array[String]): Unit = {
    // Both modes read args(2), so require all three up front (a 2-arg
    // invocation should get the usage message, not an index error).
    require(args.length >= 3, "usage: IngestMain <config.json> kafka <brokers> | file <stageDir>")
    val cfg = EngineConfig.fromFile(args(0))
    // SessionDefaults.tune: the shipped service runs the codegen bound and
    // AQE policy the ingest benchmark measures
    val spark = graft.SessionDefaults.tune(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .appName("graft-ingest")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // S17: probe every destination before consuming; hard-exit on failure
    // like the reference's pingCHServers (prepare-functions.go:104-119).
    HealthCheck.checkOrExit(spark, cfg)

    val source = args(1) match {
      case "kafka" => Pipeline.kafkaSource(spark, cfg, args(2))
      case "file"  => fileSource(spark, args(2))
      case other   => sys.error(s"unknown source mode: $other")
    }
    val (query, metrics) = Pipeline.start(spark, cfg, source)
    // S19: /metrics + /status on the configured port.
    val server = if (cfg.metricsPort > 0) Some(MetricsServer.start(metrics, cfg.metricsPort)) else None
    Pipeline.drainOnShutdown(query)
    try query.awaitTermination()
    finally server.foreach(_.stop(0))
    println(metrics.snapshot.map { case (t, (ok, err)) => s"$t: processed=$ok errors=$err" }
      .mkString("\n"))
  }
}
