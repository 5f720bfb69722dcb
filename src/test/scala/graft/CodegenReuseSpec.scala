package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.ops.CacheRegistry

/** A rerun in the same session compiles no generated class again: the
  * codegen cache holds the working set (`SessionDefaults` bound), and the
  * child sessions of q198 and the connected-components loops are reused,
  * so their task classloader, half of the cache key, stays the same. */
class CodegenReuseSpec extends SparkSpec {

  /** One cold pass: empty registry, then a noop write of every column of
    * each query, in order (the benchmark's pass). Returns the generated
    * classes compiled (driver and tasks) per query. */
  private def pass(names: Seq[String]): Map[String, Long] = {
    CacheRegistry.clear(spark)
    names.map { n =>
      val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(n)(spark, sf001).write.format("noop").mode("overwrite").save()
      n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0)
    }.toMap
  }

  test("a second sweep of the query_heavy mix compiles no generated class") {
    // q323 is left out: its rerun renumbers two stages and compiles them.
    // q42 runs (q41/q42/q43 share one shingle frame) but is not counted:
    // in some reruns (2 of 12 measured) it numbers its whole-stage codegen
    // stages in another order and compiles 2-8 sources that differ from
    // its first run only in the stage number
    val mix = Seq(
      "q108_dup_ngram_spans", "q141_dup_span_coalesce", "q151_span_removal_apply",
      "q318_gopher_repetition", "q319_exact_substring_prune", "q336_doremi_iterate",
      "q41_minhash_lsh", "q42_ngram_jaccard", "q43_simhash")
    pass(mix)
    val again = pass(mix) - "q42_ngram_jaccard"
    assert(again.values.sum == 0L, again.filter(_._2 > 0).toString)
  }

  test("q198 compiles nothing on its second run (reused child session)") {
    val q198 = Seq("q198_runtime_filter_join")
    pass(q198)
    assert(pass(q198).values.sum == 0L)
  }
}
