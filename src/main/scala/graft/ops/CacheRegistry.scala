package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for every persisted frame the operator library
  * creates, so caches are a bounded, releasable resource instead of an
  * unbounded executor-memory leak in long-lived sessions.
  *
  * The rule for a key: it needs a second reader. That is either another
  * query in the same session (q41/q42/q43 share one shingle explosion;
  * q141 and q151 share the dup-span intervals), or a second read inside
  * one query's own plan (q344's score frame, read twice by each of its
  * three rank stitches). A frame whose only other reader would be a
  * replay of the query that built it costs a persist write and storage
  * memory and saves nothing on a cold run, so it is not cached. Each
  * cache site names its readers. A key with a single reader stays only
  * where a cold, fully materialized measurement shows it pays, and its
  * site gives that figure (q203's rank maps).
  *
  * `persist()` without a release hook pins executor memory (and the
  * keying map pins SparkSession references) forever. [[clear]] unpersists
  * and drops everything for a session; `Verify` and `Bench` call it after
  * their last action, and callers embedding the library do the same at
  * end-of-life.
  *
  * Two bounds keep a long-lived session healthy without any explicit
  * release call:
  *
  *  - frames persist at `MEMORY_AND_DISK` by default (knob:
  *    `graft.cache.storageLevel`), so when the aggregate working set
  *    outgrows executor storage memory, blocks degrade to disk reads
  *    instead of silent eviction + full recompute thrash (`MEMORY_ONLY`'s
  *    failure mode, invisible until the job is mysteriously slow);
  *  - the registry holds at most `graft.cache.maxFrames` frames per
  *    session (default 64); inserting past the cap evicts the
  *    least-recently-used frames first. Eviction only unpersists — an
  *    evicted frame's plan recomputes correctly on next use, and a later
  *    `cache()` for the same key rebuilds and re-registers it.
  *
  * Family prefixes in the keys (`textdedup-…`, `q41-…`, `q65-…`) let a
  * suite runner release one operator family eagerly via [[release]] once
  * it has moved past it, ahead of any LRU pressure.
  */
object CacheRegistry {

  private val cached =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  // LRU clock: monotone tick per cache()/track() touch; eviction removes
  // the smallest-tick entries for the session.
  private val tick = new java.util.concurrent.atomic.AtomicLong()
  private val lastUsed =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]

  private def storageLevel(s: SparkSession): StorageLevel =
    StorageLevel.fromString(
      s.conf.getOption("graft.cache.storageLevel").getOrElse("MEMORY_AND_DISK"))

  private def maxFrames(s: SparkSession): Int =
    s.conf.getOption("graft.cache.maxFrames").map(_.toInt).getOrElse(64)

  /** Memoize-and-persist: builds (and persists) at most one frame per
    * (session, key); later calls reuse the cached plan and its storage. */
  def cache(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val k = (s, key)
    val df = cached.getOrElseUpdate(k, build.persist(storageLevel(s)))
    lastUsed.put(k, tick.incrementAndGet())
    enforceCap(s, keep = k)
    df
  }

  private val ctr = new java.util.concurrent.atomic.AtomicLong()

  /** Register an already-persisted frame for release-on-clear (no
    * memoization — each call gets a unique key), e.g. the converged label
    * frame of an iterative algorithm. */
  def track(s: SparkSession, name: String, df: DataFrame): DataFrame = {
    val k = (s, s"$name#${ctr.incrementAndGet()}")
    cached.put(k, df)
    lastUsed.put(k, tick.incrementAndGet())
    enforceCap(s, keep = k)
    df
  }

  /** Evict least-recently-used frames for this session beyond the cap,
    * never the entry just touched (`keep`) — a cap of 1 must still let the
    * current query use its own frame. */
  private def enforceCap(s: SparkSession, keep: (SparkSession, String)): Unit = {
    val cap = math.max(1, maxFrames(s))
    val mine = cached.keys.filter(_._1 eq s).toSeq
    if (mine.size > cap) {
      mine.filter(_ != keep)
        .sortBy(k => lastUsed.getOrElse(k, 0L))
        .take(mine.size - cap)
        .foreach(drop)
    }
  }

  private def drop(k: (SparkSession, String)): Unit = {
    cached.remove(k).foreach(_.unpersist(blocking = false))
    lastUsed.remove(k)
  }

  /** Unpersist and forget every frame for this session whose key starts
    * with `prefix` — eager release of one operator family (keys are
    * family-prefixed: "textdedup-", "q41-", "q65-", …). */
  def release(s: SparkSession, prefix: String): Unit =
    cached.keys.filter(k => (k._1 eq s) && k._2.startsWith(prefix)).foreach(drop)

  /** Unpersist and forget every frame registered for this session, and
    * drain the loop-pin tracker for its CONTEXT (pins are context-global
    * storage — loops run in child sessions — and checkpointed frames
    * cannot recompute, so this is the end-of-run hook, not a mid-run
    * eviction; see Loops "Pin lifecycle"). */
  def clear(s: SparkSession): Unit = {
    cached.keys.filter(_._1 eq s).foreach(drop)
    Loops.releaseAll(s.sparkContext)
    graft.schema.Tables.invalidate(s)
  }

  /** Number of live cached frames for a session (test/diagnostic hook). */
  def size(s: SparkSession): Int = cached.keys.count(_._1 eq s)
}
