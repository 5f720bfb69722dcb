package graft.ops

import org.apache.spark.sql.functions._

/** q344 quality-signal ensemble: a sequential driver-side recomputation
  * of all three signal ranks and the Borda fusion, plus the stitch plan
  * contract — every window partitions on more than the (absent) global
  * key, and no single-partition exchange appears. */
class QualityEnsembleSpec extends graft.SparkSpec {

  test("top-20 matches a sequential Borda recomputation") {
    val s = spark
    import s.implicits._
    val docs = graft.schema.Tables.t(s, sf001, "documents")
      .select(col("doc_id"), TextCommon.wordsCol.as("ws"))
      .as[(Long, Seq[String])].collect()
    val stops = Set("the", "a", "and", "of", "to")
    // signal 1: stopword density
    val s1 = docs.map { case (id, ws) =>
      id -> ws.count(stops).toDouble / ws.length }.toMap
    // signal 2: word entropy, word-sorted sequential fold
    def entropy(ws: Seq[String]): Double = {
      val c = ws.groupBy(identity).view.mapValues(_.size.toDouble)
        .toSeq.sortBy(_._1)
      val n = ws.length.toDouble
      var sh = 0.0
      c.foreach { case (_, k) => sh += k * math.log(k) }
      (math.log(n) - sh / n) / math.log(2.0)
    }
    val s2 = docs.map { case (id, ws) => id -> entropy(ws) }.toMap
    // signal 3: mean unigram log-prob under the corpus unigram LM
    val wc = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = docs.map(_._2.length.toLong).sum
    val s3 = docs.map { case (id, ws) =>
      val c = ws.groupBy(identity).view.mapValues(_.size.toDouble)
        .toSeq.sortBy(_._1)
      var ll = 0.0
      c.foreach { case (w, k) => ll += k * math.log(wc(w).toDouble / nTotal) }
      id -> ll / ws.length
    }.toMap
    def rankOf(m: Map[Long, Double]): Map[Long, Long] =
      m.toSeq.sortBy { case (id, v) => (-v, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val (r1, r2, r3) = (rankOf(s1), rankOf(s2), rankOf(s3))
    val expected = docs.map(_._1).map { id =>
      (id, r1(id), r2(id), r3(id), r1(id) + r2(id) + r3(id),
        Seq(r1(id), r2(id), r3(id)).max - Seq(r1(id), r2(id), r3(id)).min)
    }.sortBy(t => (t._5, t._1)).take(20)
    val q = graft.SparkEntry.queries("q344_quality_ensemble")(s, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(q.toSeq === expected.toSeq)
  }

  test("ranks come from the stitch — no global window, no single partition") {
    val exec = graft.SparkEntry.queries("q344_quality_ensemble")(spark, sf001)
      .queryExecution.executedPlan
    val specs = windows(exec).map(_.partitionSpec)
    assert(specs.nonEmpty, s"expected the stitch windows in:\n$exec")
    specs.foreach { spec =>
      assert(spec.nonEmpty, s"GLOBAL window (empty partition spec):\n$exec")
    }
    // (SinglePartition exchanges DO appear — they are the 1-row scalar
    // reduces of n_total, bounded by partition count, not data; the
    // contract here is that no WINDOW ranks the corpus globally.)
  }
}
