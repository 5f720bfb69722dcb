package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.functions.GraftFunctions
import graft.schema.ClickHouseSchema

/** The reference's whole job as one Structured Streaming pipeline
  * (SURVEY.md §3): Kafka subscribe → snappy decode → JSON parse →
  * schema-driven sorted projection + cast → per-topic routing →
  * append sink, with checkpointed recovery and graceful drain.
  *
  * Mapping to the reference (§2.1): S1/S2 = `readStream.format("kafka")` +
  * processing-time trigger; S3 = bad-poll filter is source-internal;
  * S4–S8 = [[decoded]]; S9–S11 = per-topic filter inside `foreachBatch`
  * (every micro-batch is a flush; `maxOffsetsPerTrigger` bounds batch
  * size — the count-threshold flush, but time-driven too, which the
  * reference only pretended to do); S12 = checkpoint WAL + dead-letter
  * parquet (kept-on-error dump); S13 = Catalyst Project+Cast instead of
  * shelling out to clickhouse-local; S14 = idempotent append sink;
  * S15 = `query.stop()` in a shutdown hook.
  *
  * Scale: parallelism = Kafka partitions (no global collector mutex — the
  * reference serialized all parsing behind one lock,
  * `internal/collector/collector.go:173-174`); parse+project is per-row
  * map work inside whole-stage codegen; the only state is source offsets
  * in the checkpoint.
  */
object Pipeline {

  /** S1: multi-topic Kafka subscription; consumer options pass through with
    * the `kafka.` prefix exactly like the reference's opaque map. */
  def kafkaSource(spark: SparkSession, cfg: EngineConfig, brokers: String): DataFrame = {
    val base = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", cfg.topics.map(_.topic).mkString(","))
    cfg.consumerOptions.foldLeft(base) { case (b, (k, v)) =>
      b.option(s"kafka.$k", v)
    }.load()
  }

  /** S4–S8 on any frame with (topic: string, value: binary) columns —
    * identical code path for a streaming Kafka frame or a batch test frame.
    * Returns (topic, json, parse-ok flag, raw value for dead-lettering). */
  def decoded(df: DataFrame): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(
      col("topic"),
      col("value"),
      GraftFunctions.snappy_decode(col("value")).cast("string").as("json"))
  }

  /** Malformed JSON detection: PERMISSIVE `from_json` yields an all-null
    * struct (not a null struct) for bad input, so a `_corrupt_record` field
    * is the reliable reject signal — a legitimate `{}` message stays a row
    * of NULLs, a non-JSON payload is rejected, matching the reference's
    * json.Unmarshal behavior (S5). */
  private def parseWithCorrupt(df: DataFrame, tc: TopicConfig): DataFrame = {
    val schema = ClickHouseSchema.fromDescribe(tc.describeTsv)
    val parseSchema = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    df.filter(col("topic") === tc.topic)
      .withColumn("r", from_json(col("json"), parseSchema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
  }

  private def isBad = col("json").isNull.or(col("r._corrupt_record").isNotNull)

  /** Split a decoded frame into (projected-good, still-bad raw) for one
    * topic — the shared core of the live sink and the dead-letter replay
    * tool ([[Replay]]). */
  def splitGoodBad(decodedDf: DataFrame, tc: TopicConfig): (DataFrame, DataFrame) = {
    val withParsed = parseWithCorrupt(decodedDf, tc)
    val schema = ClickHouseSchema.fromDescribe(tc.describeTsv)
    val good = ClickHouseSchema.sortedProjectCast(
      withParsed.filter(!isBad).select(col("r.*")).drop("_corrupt_record"), schema)
    val bad = withParsed.filter(isBad).select(col("topic"), col("value"))
    (good, bad)
  }

  /** S6+S13 for one topic: parse against its schema, sorted projection with
    * Catalyst casts. Rows whose JSON fails to parse are dropped here;
    * [[splitGoodBad]] returns them for dead-lettering (reference kept the
    * CSV dump on failed insert; we keep the raw payload). */
  def projectTopic(df: DataFrame, tc: TopicConfig): DataFrame = {
    val schema = ClickHouseSchema.fromDescribe(tc.describeTsv)
    val parsed = parseWithCorrupt(df, tc)
      .filter(!isBad)
      .select(col("r.*")).drop("_corrupt_record")
    ClickHouseSchema.sortedProjectCast(parsed, schema)
  }

  /** Identity of a checkpoint directory: a `_graft_id` UUID file created
    * on first use, living (and dying) with the checkpoint. Batch ids are
    * only meaningful within one checkpoint lifetime, so the compaction
    * replay watermark is tagged with this identity — a wiped/recreated
    * checkpoint restarts batch ids at 0, and comparing those against an
    * old watermark would silently drop brand-new data. */
  def checkpointIdentity(checkpointRoot: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(checkpointRoot)
    Files.createDirectories(dir)
    val f = dir.resolve("_graft_id")
    if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8").trim
    else {
      val id = java.util.UUID.randomUUID().toString
      Files.write(f, id.getBytes("UTF-8"))
      id
    }
  }

  private def tableCheckpointIdPath(tableDir: String) =
    java.nio.file.Paths.get(tableDir, "_graft_checkpoint_id")

  private def recordedCheckpointId(tableDir: String): Option[String] = {
    val p = tableCheckpointIdPath(tableDir)
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim)
    else None
  }

  private def recordCheckpointId(tableDir: String, id: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tableDir))
    java.nio.file.Files.write(tableCheckpointIdPath(tableDir), id.getBytes("UTF-8"))
  }

  /** (tableDir, checkpointId) pairs whose identity match has been verified
    * or written — the match is immutable once established, so remembering
    * it removes all identity file I/O from the steady-state sink path. */
  private val idConfirmed =
    scala.collection.concurrent.TrieMap.empty[(String, String), Unit]

  /** Debug-mode gate — the reference's env-gated per-message echo
    * (`cmd/kafka-consumer/prepare-functions.go:30-35`, `main.go:80-86`):
    * `Debug=true` in the environment turns on payload echo of a bounded
    * sample per topic per batch (unbounded per-message logging would be a
    * driver hot-spot at scale; the sample keeps the diagnostic value). */
  def debugMode: Boolean =
    sys.env.get("Debug").exists(_.equalsIgnoreCase("true"))

  /** Full job: source → decode → route per topic → parquet append, with
    * dead-letter capture, checkpointing, and a processing-time trigger at
    * the reference's poll cadence. */
  def start(spark: SparkSession, cfg: EngineConfig, source: DataFrame)
      : (StreamingQuery, IngestMetrics) = {
    val metrics = new IngestMetrics(spark)
    val chkId = checkpointIdentity(cfg.checkpointRoot) // may throw — before listener
    val listener = new MetricsListener(metrics)
    spark.streams.addListener(listener)
    def buildQuery() = source.writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", cfg.checkpointRoot)
      .trigger(Trigger.ProcessingTime(s"${cfg.poolTimeoutMs} milliseconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dec = decoded(batch).cache()
        try {
          cfg.topics.foreach { tc =>
            val tableDir = s"${cfg.tableRoot}/${tc.table}"
            // Checkpoint replay of a batch whose batch_id dir was folded
            // into a compacted generation must be skipped, not re-appended
            // (the rows already live in the compacted files). The skip is
            // only valid within the checkpoint lifetime that produced the
            // watermark: if the checkpoint was wiped (batch ids restarted),
            // the watermark is incomparable — drop it and process the
            // batch, prioritizing no-data-loss over duplicate avoidance.
            val wm = Compact.cachedMaxCompactedBatchId(tableDir)
            // The skip is only trustworthy when the table's recorded
            // checkpoint identity PROVABLY matches ours — missing or
            // different means the watermark's batch ids are incomparable.
            // The verified match is remembered in-memory (it can only
            // transition mismatch→match once) so the steady state does no
            // per-batch identity file I/O.
            val sameCheckpoint = idConfirmed.contains((tableDir, chkId)) || {
              val recorded = recordedCheckpointId(tableDir)
              val same = recorded.contains(chkId)
              if (same) idConfirmed.put((tableDir, chkId), ())
              else if (recorded.isDefined) {
                // proven epoch change: the old epoch's numeric batch dirs
                // and watermark are incomparable with our batch ids —
                // quarantine the dirs (also prevents batch-0 overwriting
                // the old epoch's batch 0) and drop the marker, so a later
                // compaction can't launder stale ids into a new watermark.
                GraftLog.warn("Checkpoint epoch changed — quarantining previous epoch's batches",
                  s"table=${tc.table} oldEpoch=${recorded.get} watermark=$wm (skip disabled)")
                scala.util.Try {
                  Compact.clearMarker(tableDir)
                  Compact.orphanNumericBatchDirs(tableDir, recorded.get)
                }
              } else if (wm >= 0) {
                GraftLog.warn("Compaction watermark not verifiable against this checkpoint — discarding it",
                  s"table=${tc.table} watermark=$wm (no identity recorded; skip disabled)")
                scala.util.Try(Compact.clearMarker(tableDir))
              }
              same
            }
            if (batchId <= wm && sameCheckpoint) {
              GraftLog.info("Skipping replayed batch below compaction watermark",
                s"batch=$batchId table=${tc.table}")
            } else {
            // Good/bad counts ride the write job itself via observe():
            // CollectMetrics sits above the parse and below the good-row
            // filter, so the sink's single job counts every row in passing
            // — the previous separate per-topic aggregation job is gone.
            val obs = org.apache.spark.sql.Observation(s"counts_${tc.table}_$batchId")
            val withParsed = parseWithCorrupt(dec, tc).observe(obs,
              coalesce(sum(when(isBad, 1L).otherwise(0L)), lit(0L)).as("bad"),
              count(lit(1)).as("all"))
            val good = withParsed.filter(!isBad)
            val bad = withParsed.filter(isBad)
            val projected = ClickHouseSchema.sortedProjectCast(
              good.select(col("r.*")).drop("_corrupt_record"),
              ClickHouseSchema.fromDescribe(tc.describeTsv))
            // Idempotent sink: each micro-batch overwrites its own
            // batch_id-keyed directory, so a replayed batch (post-crash
            // restart from checkpoint) lands on the same path instead of
            // double-appending — exactly-once output from an at-least-once
            // replay (SURVEY.md §7.5 upgrade over the reference).
            val t0 = System.nanoTime()
            projected.write.mode("overwrite")
              .parquet(s"$tableDir/batch_id=$batchId")
            metrics.recordInsertSeconds(tc.table, (System.nanoTime() - t0) / 1e9)
            // tag the table with the checkpoint identity its batch ids
            // belong to (see the watermark-validity note above)
            if (!idConfirmed.contains((tableDir, chkId)))
              scala.util.Try {
                recordCheckpointId(tableDir, chkId)
                idConfirmed.put((tableDir, chkId), ())
              }
            // Collected during the parquet write above; normally the
            // listener-delivered result is already there (no extra job).
            // But delivery rides the shared async listener bus, which
            // drops events under sustained overload — an unbounded
            // obs.get would then wedge this foreachBatch thread (and the
            // whole stream) forever. Bound the wait and fall back to one
            // explicit aggregation job: correctness of the counts over
            // liveness of the stream is the wrong trade.
            val cnts: Map[String, Any] =
              try {
                // Observation.future is public: Await bounds the wait on
                // THIS thread — a lost listener event costs 30 s once and
                // leaks nothing (no helper thread to park per batch).
                import scala.concurrent.Await
                import scala.concurrent.duration._
                val row = Await.result(obs.future, 30.seconds)
                row.schema.fieldNames.zip(row.toSeq).toMap
              } catch {
                case _: java.util.concurrent.TimeoutException =>
                  GraftLog.warn("observe() metrics not delivered — counting with a fallback job",
                    s"table=${tc.table} batch=$batchId (listener bus dropped the event?)")
                  val r = withParsed.agg(
                    coalesce(sum(when(isBad, 1L).otherwise(0L)), lit(0L)).as("bad"),
                    count(lit(1)).as("all")).head()
                  Map("bad" -> r.getLong(0), "all" -> r.getLong(1))
              }
            val nBad = cnts("bad").asInstanceOf[Long]
            if (nBad > 0) {
              // S12 kept-on-error dump: raw payloads, replayable later.
              // batch_id-keyed overwrite like the main sink, so a
              // checkpoint replay cannot double-write dead letters.
              bad.select(col("topic"), col("value"))
                .write.mode("overwrite")
                .parquet(s"${cfg.deadLetterRoot}/${tc.table}/batch_id=$batchId")
              // NOTE: counters are in-process and at-least-once under
              // replay (a re-run batch re-fires them) — acceptable for
              // monitoring, same semantics as the reference's Prometheus
              // counters across process restarts.
              metrics.recordErrors(tc.table, nBad)
            }
            metrics.recordProcessed(tc.table, cnts("all").asInstanceOf[Long] - nBad)
            if (debugMode) {
              dec.filter(col("topic") === tc.topic).select(col("json"))
                .take(5)
                .foreach(r => GraftLog.debug(
                  s"batch=$batchId topic=${tc.topic}", String.valueOf(r.getString(0))))
            }
            }
          }
        } finally dec.unpersist()
      }
      .start()
    // Scope the listener to this query: without binding, every restart of
    // the pipeline on one session would leak a listener and cross-feed all
    // queries' progress into every prior metrics instance. A failed start
    // (or a query that dies before the binding lands — its termination
    // event would not match) must not leave the unbound listener behind.
    val query = try buildQuery()
    catch { case e: Throwable => spark.streams.removeListener(listener); throw e }
    listener.bindTo(spark, query.id)
    if (!query.isActive) spark.streams.removeListener(listener)
    (query, metrics)
  }

  /** S15: graceful drain — stop the query (the checkpoint already makes
    * this safe; the reference needed a synchronous flush-all). */
  def drainOnShutdown(query: StreamingQuery): Unit =
    sys.addShutdownHook {
      if (query.isActive) query.stop()
    }
}

/** S19: processed/error counters per destination table plus the insert-
  * latency histogram and message counter — the reference's Prometheus
  * surface (`internal/promMetrics/prom.go:14-44`), exposed both as an
  * in-process snapshot and rendered for the `/metrics` + `/status` HTTP
  * endpoints ([[MetricsServer]]). Each bad record is counted once, fixing
  * the reference's double-count (SURVEY.md §2.1 notes). */
final class IngestMetrics(spark: SparkSession) extends Serializable {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.{DoubleAdder, LongAdder}
  import java.util.concurrent.atomic.AtomicReference

  private val processed = new ConcurrentHashMap[String, LongAdder]()
  private val errors = new ConcurrentHashMap[String, LongAdder]()
  private val messages = new ConcurrentHashMap[String, LongAdder]()
  private val insertHisto = new ConcurrentHashMap[String, IngestMetrics.Histo]()
  private val lastProgress = new AtomicReference[String]("")

  private def add(m: ConcurrentHashMap[String, LongAdder], k: String, n: Long): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).add(n)

  def recordProcessed(table: String, n: Long): Unit = add(processed, table, n)
  def recordErrors(table: String, n: Long): Unit = add(errors, table, n)
  /** Source-side message count (≙ `kafka_consumer_msg{topic,partition}`). */
  def recordMessages(topic: String, n: Long): Unit = add(messages, topic, n)
  /** One observation of the `dumps_time_insert{table}` histogram. */
  def recordInsertSeconds(table: String, sec: Double): Unit =
    insertHisto.computeIfAbsent(table, _ => new IngestMetrics.Histo).observe(sec)
  def setLastProgress(json: String): Unit = lastProgress.set(json)

  def snapshot: Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    (processed.keySet.asScala ++ errors.keySet.asScala).map { k =>
      k -> (Option(processed.get(k)).map(_.sum).getOrElse(0L),
        Option(errors.get(k)).map(_.sum).getOrElse(0L))
    }.toMap
  }

  /** Prometheus text exposition (format 0.0.4) with the reference's
    * instrument names: `kafka_consumer_msg`, `kafka_consumer_msg_error`,
    * `dumps_time_insert` (linear 0–60 s buckets, `prom.go:25-30`). */
  def prometheus: String = {
    import scala.jdk.CollectionConverters._
    val sb = new StringBuilder
    sb ++= "# HELP kafka_consumer_msg How many messages got from kafka\n"
    sb ++= "# TYPE kafka_consumer_msg counter\n"
    for ((k, v) <- messages.asScala.toSeq.sortBy(_._1))
      sb ++= s"""kafka_consumer_msg{topic="$k"} ${v.sum}""" += '\n'
    for ((k, v) <- processed.asScala.toSeq.sortBy(_._1))
      sb ++= s"""kafka_consumer_msg{topic="$k",stage="projected"} ${v.sum}""" += '\n'
    sb ++= "# HELP kafka_consumer_msg_error How many messages threw out because of unhandled error\n"
    sb ++= "# TYPE kafka_consumer_msg_error counter\n"
    for ((k, v) <- errors.asScala.toSeq.sortBy(_._1))
      sb ++= s"""kafka_consumer_msg_error{table="$k",type="parse"} ${v.sum}""" += '\n'
    sb ++= "# HELP dumps_time_insert Histogram of dumps inserting\n"
    sb ++= "# TYPE dumps_time_insert histogram\n"
    for ((k, h) <- insertHisto.asScala.toSeq.sortBy(_._1)) sb ++= h.render(k)
    sb.result()
  }

  /** The reference's `/status` page: one line per table, processed/errors
    * (`prepare-functions.go:39-44` printed buffered/flush-threshold; our
    * micro-batches have no standing buffer, so the running totals are the
    * meaningful equivalent), followed by the last streaming progress JSON. */
  def statusPage: String = {
    val lines = snapshot.toSeq.sortBy(_._1).map { case (tbl, (ok, err)) =>
      s"$tbl - $ok / $err"
    }
    (lines :+ lastProgress.get()).mkString("", "\n", "\n")
  }
}

object IngestMetrics {
  /** Fixed-bucket histogram matching the reference's
    * `prometheus.LinearBuckets(0, 1, 60)`: upper bounds 0,1,…,59 plus +Inf,
    * rendered cumulatively per Prometheus convention. */
  final class Histo {
    import java.util.concurrent.atomic.{DoubleAdder, LongAdder}
    private val counts = Array.fill(61)(new LongAdder) // 60 finite bounds + +Inf
    private val total = new DoubleAdder

    def observe(sec: Double): Unit = {
      total.add(sec)
      val idx = if (sec <= 0.0) 0 else math.min(math.ceil(sec).toInt, 60)
      counts(idx).increment() // smallest bound >= sec (bounds are 0..59)
    }

    def render(table: String): String = {
      val sb = new StringBuilder
      var cum = 0L
      for (b <- 0 until 60) {
        cum += counts(b).sum
        sb ++= s"""dumps_time_insert_bucket{table="$table",le="$b"} $cum""" += '\n'
      }
      cum += counts(60).sum
      sb ++= s"""dumps_time_insert_bucket{table="$table",le="+Inf"} $cum""" += '\n'
      sb ++= s"""dumps_time_insert_sum{table="$table"} ${total.sum}""" += '\n'
      sb ++= s"""dumps_time_insert_count{table="$table"} $cum""" += '\n'
      sb.result()
    }
  }
}
