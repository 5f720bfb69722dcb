package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions.{col, sum}

/** The iterative-loop family's conf-gated checkpoint posture
  * (`graft.loop.pin`, [[Loops]]): `local` (default) uses executor-local
  * `localCheckpoint`, `reliable` swaps in fault-tolerant `checkpoint` so
  * an executor loss mid-loop re-reads round state instead of aborting —
  * the cluster posture. Results must be bit-identical either way: the
  * pin changes WHERE round state lives, never what it contains. */
class LoopPinSpec extends SparkSpec {

  private def withReliable[T](body: => T): T = {
    val s = spark
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    s.conf.set(Loops.PinKey, "reliable")
    try body finally s.conf.unset(Loops.PinKey)
  }

  test("pointer-CC loop under reliable checkpointing matches the local pin") {
    val s = spark
    import s.implicits._
    // chain (exercises pointer doubling over rounds) + clique + pair,
    // spread over multiple partitions like a real shuffle would
    val pairs = ((1L to 60L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L), (200L, 201L)))
      .toDF("doc_a", "doc_b").repartition(4)
    val local = TextDedup.clusterPairs(s, pairs).orderBy("doc_id").collect().toSeq
    val rel = withReliable {
      TextDedup.clusterPairs(s, pairs).orderBy("doc_id").collect().toSeq
    }
    assert(rel.nonEmpty)
    assert(rel == local, "reliable pin changed CC labels")
  }

  test("star-CC and power-iteration loops under reliable checkpointing match local") {
    val s = spark
    import s.implicits._
    val pairs = ((1L to 20L).map(i => (i, i + 1)) ++ Seq((50L, 51L)))
      .toDF("doc_a", "doc_b").repartition(3)
    CacheRegistry.clear(s) // force the loops to actually re-run
    val localStar =
      TextDedup.clusterPairsStar(s, pairs).orderBy("doc_id").collect().toSeq
    val localPow =
      SparkEntry.queries("q125_power_iteration")(s, sf001).collect().toSeq
    withReliable {
      CacheRegistry.clear(s)
      val star =
        TextDedup.clusterPairsStar(s, pairs).orderBy("doc_id").collect().toSeq
      assert(star == localStar, "reliable pin changed star-CC labels")
      val pow = SparkEntry.queries("q125_power_iteration")(s, sf001).collect().toSeq
      assert(pow == localPow, "reliable pin changed the power-iteration loading")
    }
    CacheRegistry.clear(s)
  }

  test("chain scope prunes superseded pins; clear drains the tracker to zero") {
    val s = spark
    import s.implicits._
    import Loops._
    CacheRegistry.clear(s)
    val sc = s.sparkContext
    assert(Loops.livePins(sc) == 0)
    val ps = Loops.scope(s)
    var df = Seq(1L, 2L, 3L).toDF("x")
    (1 to 5).foreach(_ => df = df.withColumn("x", col("x") + 1).pin(ps))
    assert(Loops.livePins(sc) <= 2, "chain keeps at most the two newest pins")
    assert(df.agg(sum(col("x"))).head().getLong(0) == 21L) // 6+7+8
    CacheRegistry.clear(s)
    assert(Loops.livePins(sc) == 0)
    assert(sc.getPersistentRDDs.isEmpty, "no pinned RDD may survive clear")
  }

  test("a lazy pin's input blocks survive until a successor materializes") {
    val s = spark
    import s.implicits._
    import Loops._
    CacheRegistry.clear(s)
    val sc = s.sparkContext
    val ps = Loops.scope(s)
    val a = Seq(1L).toDF("x").pin(ps) // eager — materialized now
    val b = a.withColumn("x", col("x") + 1).pin(ps, false) // lazy, pending
    val c = b.withColumn("x", col("x") + 1).pin(ps, false) // lazy, pending
    // nothing newer than `a` has materialized: b's pending computation
    // still needs a's blocks, so NOTHING may be pruned despite depth 3
    assert(Loops.livePins(sc) == 3, "unmaterialized chain must not prune")
    assert(c.head().getLong(0) == 3L) // materializes c (and b via ancestry)
    val d = c.withColumn("x", col("x") + 1).pin(ps, false)
    assert(Loops.livePins(sc) == 2, "materialized predecessors pruned to keep-2")
    assert(d.head().getLong(0) == 4L)
    CacheRegistry.clear(s)
    assert(Loops.livePins(sc) == 0)
  }

  test("real loops leave bounded pins mid-session and none after clear") {
    val s = spark
    import s.implicits._
    CacheRegistry.clear(s)
    val sc = s.sparkContext
    // CC (child-session loop), PageRank (anchor base + rank chain), LTTB
    // (8 anchored winners) — the three pin shapes
    val pairs = ((1L to 40L).map(i => (i, i + 1)) ++ Seq((90L, 91L)))
      .toDF("doc_a", "doc_b").repartition(3)
    TextDedup.clusterPairs(s, pairs).count()
    SparkEntry.queries("q128_pagerank")(s, sf001).count()
    SparkEntry.queries("q204_lttb_downsample")(s, sf001).count()
    val live = Loops.livePins(sc)
    assert(live > 0, "loops ran — some final pins must be tracked")
    assert(live <= 16, s"pin tracker grew past the bounded finals: $live")
    CacheRegistry.clear(s)
    assert(Loops.livePins(sc) == 0)
    assert(sc.getPersistentRDDs.isEmpty,
      "loop pins must not outlive CacheRegistry.clear")
  }

  test("unknown pin mode is rejected loudly") {
    val s = spark
    import s.implicits._
    import Loops._
    s.conf.set(Loops.PinKey, "bogus")
    try {
      val e = intercept[IllegalArgumentException] {
        Seq(1).toDF("x").pin()
      }
      assert(e.getMessage.contains(Loops.PinKey))
    } finally s.conf.unset(Loops.PinKey)
  }

  test("Loops.child returns one child per conf set and sets its confs once") {
    val parentParts = spark.conf.get("spark.sql.shuffle.partitions")
    val a = Map("spark.sql.shuffle.partitions" -> "1")
    val c1 = Loops.child(spark, a)
    assert(c1 ne spark)
    assert(Loops.child(spark, a) eq c1)
    assert(c1.conf.get("spark.sql.shuffle.partitions") == "1")
    val c2 = Loops.child(spark, Map("spark.sql.shuffle.partitions" -> "2"))
    assert(c2 ne c1)
    assert(c2.conf.get("spark.sql.shuffle.partitions") == "2")
    // the parent's own conf is untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parentParts)
  }
}
