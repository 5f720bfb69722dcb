package graft

import org.apache.spark.sql.SparkSession

/** Shared session tuning for every graft runner main (Bench, Verify,
  * Explain, StageProfile, ScaleBench, IngestBench, IngestMain), the
  * benchmark and the test session.
  *
  * Why these three confs (the first two from the round-8 q100 audit,
  * StageProfile A/B at sf0.1):
  *
  *  - `canChangeCachedPlanOutputPartitioning=true` — the operator library
  *    leans on CacheRegistry-persisted frames (shingles, band rows, kNN
  *    edges). By default Spark pins a cached plan's output partitioning,
  *    which EXEMPTS the cache-building shuffle from AQE coalescing: every
  *    persisted frame materializes at `spark.sql.shuffle.partitions`
  *    partitions no matter how small it is, and every downstream consumer
  *    launches that many tasks per stage. At sf0.1 the shingle cache is
  *    ~8 MB across 32 partitions, and q100 alone ran 526 tasks: 70.8
  *    task-s / 29.9 cpu-s for 12.1 task-s / 5.5 cpu-s of actual work
  *    (5.9× / 5.4×) once AQE may size the cached plan's partitions. The
  *    cost of `true` is a possible extra shuffle when a consumer needs the
  *    pinned partitioning — none of our consumers do (they re-shuffle on
  *    their own keys anyway).
  *
  *  - `coalescePartitions.parallelismFirst=false` — honor
  *    `advisoryPartitionSizeInBytes` (64 MB default) instead of splitting
  *    post-shuffle output down to 1 MB chunks to chase core count. This is
  *    the scale-correct policy: partition count grows with BYTES (at
  *    100 TB a shuffle still fans out to thousands of partitions), while
  *    small intermediates collapse to a handful of tasks instead of
  *    `shuffle.partitions` near-empty ones. Spark's own docs recommend
  *    exactly this off-switch when the advisory size should win.
  *
  *  - `codegen.cache.maxEntries=`[[CodegenCacheEntries]] — Spark's cache
  *    of compiled whole-stage classes holds 100 entries by default, keyed
  *    on (executing classloader, source): a stage compiled on the driver
  *    and again in a task fills two entries, and every session brings its
  *    own task classloader. The `query_heavy` benchmark mix needs about
  *    280 entries, so at 100 every cold pass recompiled its classes with
  *    Janino and re-JITted them (263 classes on a second sweep of the mix
  *    at sf0.001, 0 at 1024: `CodegenReuseSpec`). At 1024, `perfbench`
  *    `query_heavy` on a 4-core host: process CPU per pass 23.9 → 16.4 s
  *    (medians, 10 paired seeds, every pair won), pass wall 10.0 → 6.4 s.
  *    The cost is Metaspace: 200.7 → 207.6 MB after a `graft.Verify`
  *    sf0.01 sweep.
  *    Guava splits the bound over 4 segments that each evict on their
  *    own, hence the headroom over 2x the working set. It is a static
  *    conf, read once per JVM when the code generator first loads: it
  *    takes effect only through the first session a JVM builds.
  *
  * `SPARK_GRAFT_CONF="k=v;k2=v2"` applies last for A/B experiments without
  * a rebuild. */
object SessionDefaults {
  /** Bound of Spark's generated-class cache (see the scaladoc above). */
  val CodegenCacheEntries = 1024

  /** `applyEnv = false` (the test session) keeps the AQE policy but
    * ignores SPARK_GRAFT_CONF: an exported A/B experiment for Bench must
    * not silently re-configure the whole test suite's pinned confs. */
  def tune(b: SparkSession.Builder, applyEnv: Boolean = true): SparkSession.Builder = {
    b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    b.config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    b.config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    if (applyEnv)
      sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
        .foreach { kv =>
          kv.split("=", 2) match {
            case Array(k, v) => b.config(k, v)
            case _ => System.err.println(
              s"[graft] ignoring malformed SPARK_GRAFT_CONF entry '$kv' (want k=v)")
          }
        })
    b
  }
}
