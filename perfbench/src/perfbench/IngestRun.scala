package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.functions.SnappyDecode
import graft.ingest.{EngineConfig, IngestMain, Pipeline, TopicConfig}
import graft.schema.Tables

/** The ingest workload: an open loop of pre-encoded snappy-JSON payloads
  * staged by atomic rename into a file-source directory at a fixed offered
  * rate, then a burst backlog. Freshness is timed from each file's due time
  * to the end of the micro-batch that landed its rows, so generator stalls
  * count against the program. */
object IngestRun {
  /** Offered load, fixed once at about a third of the drain rate measured on
    * a 4-core host and then frozen: a later change must not move it. Nearer
    * the drain rate, freshness swings with every host slowdown. */
  val FileMsgs = 120
  val PeriodMs = 500L
  val TriggerMs = 100L
  val MaxFilesPerTrigger = 8
  val BurstFiles = 40
  val WarmFiles = 4

  val Wide = TopicConfig("bench.wide", "wide",
    "event_id\tInt64\t\t\nts\tDateTime64(6)\t\t\nuser_id\tInt64\t\t\n" +
      "event_type\tLowCardinality(String)\t\t\nvalue\tFloat64\t\t\nprops\tString\t\t")
  val Narrow = TopicConfig("bench.narrow", "narrow",
    "event_id\tUInt32\t\t\nuser_id\tInt32\t\t\nvalue\tFloat32\t\t")

  /** One offered message. `kind` 0 = well-formed, 1 = corrupt snappy,
    * 2 = snappy-wrapped non-JSON. */
  final case class Msg(id: Long, topic: String, kind: Int, value: Array[Byte])

  final case class Progress(batchId: Long, startUs: Long, endUs: Long, rows: Long,
      durations: Map[String, Long])

  /** Builds the corpus: seeded message order, topic split and ~1% malformed
    * set. The encoding runs through the program's own snappy codec. */
  def corpus(spark: SparkSession, dataDir: String, seed: Long, n: Int): Vector[Msg] = {
    val json = Tables.t(spark, dataDir, "events").orderBy("event_id").limit(n)
      .select(col("event_id"), to_json(struct(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")),
        Map("timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")).as("j"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val rng = new scala.util.Random(seed)
    rng.shuffle(json.toVector).map { case (id, j) =>
      val topic = if (rng.nextBoolean()) Wide.topic else Narrow.topic
      val u = rng.nextDouble()
      if (u < 0.005) {
        val ok = SnappyDecode.compress(j.getBytes("UTF-8"))
        Msg(id, topic, 1, ok.take(ok.length / 2))
      } else if (u < 0.01)
        Msg(id, topic, 2, SnappyDecode.compress(s"not json, message $id".getBytes("UTF-8")))
      else Msg(id, topic, 0, SnappyDecode.compress(j.getBytes("UTF-8")))
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def run(spark: SparkSession, dataDir: String, workDir: String, seed: Long,
      seconds: Int, trace: Option[Trace]): RunResult = {
    import spark.implicits._
    val work = Paths.get(workDir, "ingest")
    deleteTree(work)
    val pre = work.resolve("pre")
    val src = work.resolve("src")
    Files.createDirectories(src)

    val steadyFiles = math.max(4, (seconds * 1000L * 6 / 10 / PeriodMs).toInt)
    val nFiles = WarmFiles + steadyFiles + BurstFiles
    val msgs = corpus(spark, dataDir, seed, nFiles * FileMsgs)
    Main.log("corpus built")
    require(msgs.size == nFiles * FileMsgs,
      s"events table holds ${msgs.size} rows, the workload needs ${nFiles * FileMsgs}")
    val fileOf = msgs.grouped(FileMsgs).toVector
    msgs.zipWithIndex.map { case (m, i) => (i / FileMsgs, m.topic, m.value) }
      .toDF("f", "topic", "value").repartition(col("f"))
      .write.partitionBy("f").parquet(pre.toString)
    Main.log("corpus written")
    def stage(f: Int): Unit = {
      val part = Files.list(pre.resolve(s"f=$f")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, src.resolve(f"part-$f%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }

    val progress = new ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        if (p.numInputRows > 0)
          progress.add(Progress(p.batchId, startUs, startUs + d.getOrElse("triggerExecution", 0L) * 1000L,
            p.numInputRows, d))
      }
    }
    spark.streams.addListener(listener)
    val cfg = EngineConfig(topics = Seq(Wide, Narrow), poolTimeoutMs = TriggerMs,
      tableRoot = work.resolve("tables").toString, deadLetterRoot = work.resolve("dead").toString,
      checkpointRoot = work.resolve("checkpoint").toString, metricsPort = 0)
    // The program's file source takes every new file in one micro-batch; this
    // is the same source with the bound Kafka's maxOffsetsPerTrigger gives.
    val source = IngestMain.fileSource(spark, src.toString)
    val bounded = spark.readStream.schema(source.schema).option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .parquet(src.toString)
    // Before the start: the stream runs in a clone of the session, which
    // copies the query-execution listeners registered at that moment.
    trace.foreach(_.start())
    val (query, ingestMetrics) = Pipeline.start(spark, cfg, bounded)
    def landed: Long = progress.asScala.map(_.rows).sum
    def awaitLanded(n: Long, timeoutS: Int): Unit = {
      val until = System.nanoTime() + timeoutS * 1000000000L
      while (landed < n && System.nanoTime() < until && query.isActive) Thread.sleep(5)
      query.exception.foreach(e => throw e)
      require(landed >= n, s"only $landed of $n offered messages landed within $timeoutS s")
    }
    try {
      (0 until WarmFiles).foreach(stage)
      awaitLanded(WarmFiles.toLong * FileMsgs, 120)
      val setupEndUs = Clock.nowUs
      val setupCpuS = Host.cpuSeconds
      Main.log("warm-up batches landed")
      trace.foreach(_.reset())

      // Open loop: one generator thread stages file i at t0 + i * period,
      // however far behind the pipeline is.
      val t0 = Clock.nowUs + 20000L
      val due = new Array[Long](nFiles)
      val staged = new Array[Long](nFiles)
      val burstDue = t0 + steadyFiles * PeriodMs * 1000L
      var landedAtBurst = 0L
      val cpu0 = Host.cpuSeconds
      val gen = new Thread(() => {
        for (i <- 0 until steadyFiles + BurstFiles) {
          val f = WarmFiles + i
          due(f) = if (i < steadyFiles) t0 + i * PeriodMs * 1000L else burstDue
          val wait = due(f) - Clock.nowUs
          if (wait > 0) Thread.sleep(wait / 1000L, ((wait % 1000L) * 1000L).toInt)
          if (i == steadyFiles) landedAtBurst = landed
          val s0 = Clock.nowUs
          stage(f)
          staged(f) = Clock.nowUs
          trace.foreach(_.span(s"stage $f", "generator", 0, s0, staged(f)))
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      awaitLanded(nFiles.toLong * FileMsgs, 150)
      val cpuIngest = Host.cpuSeconds - cpu0
      Main.log("all offered messages landed")
      query.stop()
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      trace.foreach(_.stop())
      val batches = progress.asScala.toVector.sortBy(_.batchId)
      val batchEnd = batches.map(b => b.batchId -> b.endUs).toMap

      // Where each message landed, read back through fresh readers.
      val tables = Seq(Wide, Narrow).map { tc =>
        tc.topic -> spark.read.parquet(work.resolve(s"tables/${tc.table}").toString)
      }.toMap
      val dead = Seq(Wide, Narrow).flatMap { tc =>
        val dir = work.resolve(s"dead/${tc.table}")
        if (Files.exists(dir))
          spark.read.parquet(dir.toString).select("value", "batch_id").as[(Array[Byte], Long)].collect()
            .map { case (v, b) => (tc.topic, v.toSeq, b) }
        else Array.empty[(String, Seq[Byte], Long)]
      }
      Main.log("landed tables read")
      val check = new IngestCheck(msgs, tables, dead, dataDir, spark)
      Main.log("exactly-once check done")
      val batchOfMsg = check.batchOf
      val fileBatch = fileOf.map(ms => ms.flatMap(m => batchOfMsg.get(m.id)).maxOption)
      def endOf(f: Int): Option[Long] = fileBatch(f).flatMap(batchEnd.get)
      val steady = WarmFiles until WarmFiles + steadyFiles
      val burst = WarmFiles + steadyFiles until nFiles
      val fresh = steady.flatMap(f => endOf(f).map(e => (e - due(f)) / 1e6))
      val drainEnd = burst.flatMap(endOf).maxOption
      val burstMsgs = BurstFiles * FileMsgs
      val offered = (steadyFiles + BurstFiles) * FileMsgs

      val metrics =
        if (fresh.isEmpty || drainEnd.isEmpty) Map.empty[String, Double]
        else Map(
          "fresh_p50_s" -> Stats.median(fresh),
          "fresh_p90_s" -> Stats.quantile(fresh, 0.9),
          "drain_msgs_per_s" -> burstMsgs / ((drainEnd.get - burstDue) / 1e6),
          "ingest_cpu_s_per_mmsg" -> cpuIngest / offered * 1e6)

      val layers = trace.map { t =>
        val timed = batches.filter(_.startUs >= setupEndUs)
        timed.foreach(b => t.span(s"batch ${b.batchId}", "ingest", 0, b.startUs, b.endUs))
        def phase(k: String) = timed.map(_.durations.getOrElse(k, 0L)).sum.toDouble
        val insertSum = """dumps_time_insert_sum\{table="(wide|narrow)"\} (\S+)""".r
          .findAllMatchIn(ingestMetrics.prometheus).map(_.group(2).toDouble).sum
        Map(
          "ingest.batches" -> timed.size.toDouble,
          "ingest.rows_per_batch" -> timed.map(_.rows).sum.toDouble / math.max(1, timed.size),
          "ingest.latest_offset_ms" -> phase("latestOffset"),
          "ingest.get_batch_ms" -> phase("getBatch"),
          "ingest.query_planning_ms" -> phase("queryPlanning"),
          "ingest.add_batch_ms" -> phase("addBatch"),
          "ingest.wal_commit_ms" -> phase("walCommit"),
          "ingest.commit_offsets_ms" -> phase("commitOffsets"),
          "ingest.insert_s_sum" -> insertSum,
          "ingest.dead_letters" -> ingestMetrics.snapshot.values.map(_._2).sum.toDouble,
          "ingest.backlog_end_msgs" -> ((WarmFiles + steadyFiles).toLong * FileMsgs - landedAtBurst).toDouble,
          "ingest.gen_late_ms_max" -> (WarmFiles until nFiles).map(f => (staged(f) - due(f)) / 1e3).max
        ) ++ t.counterSnapshot ++ probe(spark, src, work)
      }.getOrElse(Map.empty)

      RunResult(setupEndUs, setupCpuS, metrics, layers,
        Map("files" -> nFiles, "file_msgs" -> FileMsgs, "steady_files" -> steadyFiles,
          "burst_files" -> BurstFiles, "offered_msgs_per_s" -> FileMsgs * 1000.0 / PeriodMs,
          "batches" -> batches.size, "fresh_s" -> fresh,
          "failure_kinds" -> check.kindCounts),
        check.failures, msgs.size)
    } finally {
      if (query.isActive) query.stop()
      spark.streams.removeListener(listener)
    }
  }

  /** Per-layer costs over one fixed staged batch (the first eight files):
    * decode, project+cast net of decode (each topic's projection decodes only
    * its own rows, so both together decode the batch once), and the sink's
    * parquet write net of project+cast. Each is the median of three runs. */
  private def probe(spark: SparkSession, src: Path, work: Path): Map[String, Double] = {
    val files = (0 until MaxFilesPerTrigger).map(f => src.resolve(f"part-$f%05d.parquet").toString)
    val batch = spark.read.schema("topic STRING, value BINARY").parquet(files: _*).cache()
    batch.count()
    def ms(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val decode = ms(noop(Pipeline.decoded(batch)))
    val project = ms(Seq(Wide, Narrow).foreach(tc => noop(Pipeline.projectTopic(Pipeline.decoded(batch), tc))))
    val write = ms(Seq(Wide, Narrow).foreach { tc =>
      Pipeline.splitGoodBad(Pipeline.decoded(batch), tc)._1.write.mode("overwrite")
        .parquet(work.resolve(s"probe/${tc.table}").toString)
    })
    batch.unpersist()
    Map(
      "functions.decode_ms" -> decode,
      "schema.project_cast_ms" -> math.max(0.0, project - decode),
      "ingest.write_ms" -> math.max(0.0, write - project))
  }
}
