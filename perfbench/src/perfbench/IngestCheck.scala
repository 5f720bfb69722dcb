package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.schema.Tables

/** Exactly-once check of an ingest run against the offered corpus, outside
  * the timed region. A message counts as failed when it is lost, landed more
  * than once, landed in the other topic's table, landed with key columns that
  * differ from its source row, or is malformed but not dead-lettered exactly
  * once (or well-formed but dead-lettered). */
final class IngestCheck(
    msgs: Seq[IngestRun.Msg],
    tables: Map[String, DataFrame],
    dead: Seq[(String, Seq[Byte], Long)],
    dataDir: String,
    spark: SparkSession) {
  import IngestRun.{Narrow, Wide}

  private val failed = mutable.LinkedHashMap.empty[Long, String]
  private val kinds = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var unknownDead = 0
  private def fail(id: Long, why: String): Unit =
    if (!failed.contains(id)) { failed(id) = why; kinds(why.takeWhile(_ != ':')) += 1 }

  private val source: Map[Long, Row] = {
    val ids = msgs.map(_.id).toSet
    Tables.t(spark, dataDir, "events").collect().iterator
      .filter(r => ids.contains(r.getAs[Long]("event_id")))
      .map(r => r.getAs[Long]("event_id") -> r).toMap
  }

  /** Batch id per message, from the landed tables and the dead letters. */
  val batchOf: Map[Long, Long] = {
    val out = mutable.Map.empty[Long, Long]
    val landed = tables.map { case (topic, df) =>
      topic -> df.collect().groupBy(_.getAs[Long]("event_id"))
    }
    for (m <- msgs if m.kind == 0) {
      val other = if (m.topic == Wide.topic) Narrow.topic else Wide.topic
      val rows = landed(m.topic).getOrElse(m.id, Array.empty[Row])
      if (landed(other).contains(m.id)) fail(m.id, "wrong_table: landed in the other topic's table")
      rows.length match {
        case 0 => fail(m.id, "lost: not in its table")
        case 1 =>
          out(m.id) = rows.head.getAs[Number]("batch_id").longValue
          keyMismatch(m.topic, rows.head, source(m.id)).foreach(c => fail(m.id, s"key_mismatch: column $c"))
        case n => fail(m.id, s"duplicated: landed $n times")
      }
    }
    val deadByBytes = dead.groupBy(_._2)
    val malformedBytes = msgs.filter(_.kind != 0).map(m => m.value.toSeq -> m).toMap
    for (m <- msgs if m.kind != 0) {
      val hits = deadByBytes.getOrElse(m.value.toSeq, Seq.empty)
      hits.size match {
        case 0 => fail(m.id, "malformed_not_dead_lettered: missing from the dead-letter store")
        case 1 if hits.head._1 != m.topic => fail(m.id, "wrong_table: dead-lettered under the other topic")
        case 1 => out(m.id) = hits.head._3
        case n => fail(m.id, s"duplicated: dead-lettered $n times")
      }
    }
    for ((bytes, _) <- deadByBytes if !malformedBytes.contains(bytes)) {
      val wellFormed = msgs.find(m => m.kind == 0 && m.value.toSeq == bytes)
      wellFormed.foreach(m => fail(m.id, "well_formed_dead_lettered"))
      if (wellFormed.isEmpty) { unknownDead += 1; kinds("unknown_dead_letter") += 1 }
    }
    out.toMap
  }

  private def keyMismatch(topic: String, got: Row, src: Row): Option[String] = {
    // Epoch microseconds; the source column reads as TIMESTAMP_NTZ, taken at UTC.
    def ts(r: Row): Long = r.getAs[Any]("ts") match {
      case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
      case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000
      case t: java.time.LocalDateTime =>
        t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    }
    val checks: Seq[(String, Boolean)] =
      if (topic == Wide.topic) Seq(
        "ts" -> (ts(got) == ts(src)),
        "user_id" -> (got.getAs[Long]("user_id") == src.getAs[Long]("user_id")),
        "event_type" -> (got.getAs[String]("event_type") == src.getAs[String]("event_type")),
        "value" -> (got.getAs[Double]("value") == src.getAs[Double]("value")),
        "props" -> (got.getAs[String]("props") == src.getAs[String]("props")))
      else Seq(
        "user_id" -> (got.getAs[Int]("user_id").toLong == src.getAs[Long]("user_id")),
        "value" -> (got.getAs[Float]("value") == src.getAs[Double]("value").toFloat))
    checks.collectFirst { case (c, false) => c }
  }

  def failures: Map[String, String] =
    failed.map { case (id, why) => s"message $id" -> why }.toMap ++
      (1 to unknownDead).map(i => s"dead letter $i" -> "matches no offered message")
  def kindCounts: Map[String, Int] = kinds.toMap
}
