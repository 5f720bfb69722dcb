package graft

/** Plan-shape regressions: the properties SCALE.md claims must actually
  * show up in the physical plan — pushdown, pruning, broadcast joins, and
  * top-k without a global sort. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("q01: filter pushed to the parquet scan, columns pruned") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"no pushed filter on l_shipdate in:\n$p")
    assert(!p.contains("l_partkey"), "scan reads columns the query never uses")
  }

  test("q03/q10: dimension joins are broadcast, not shuffled") {
    assert(plan("q03_broadcast_join").contains("BroadcastHashJoin"))
    val q10 = plan("q10_local_supplier_volume")
    assert(q10.contains("BroadcastHashJoin"))
  }

  test("q04: semi join planned as a join, not a subquery re-scan") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
  }

  test("q22: top-k is TakeOrderedAndProject (no global sort)") {
    assert(plan("q22_sort_topk").contains("TakeOrderedAndProject"))
  }

  test("q18: per-group top-k uses a running row_number window, single shuffle") {
    val p = plan("q18_window_topk")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("q81: join hints force the hinted physical strategies") {
    val p = plan("q81_join_hints")
    assert(p.contains("SortMergeJoin"), s"MERGE hint ignored in:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"SHUFFLE_HASH hint ignored in:\n$p")
  }

  test("q82: subqueries decorrelate into joins, not per-row re-scans") {
    val p = plan("q82_subqueries")
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"),
      s"IN/EXISTS not decorrelated into a join:\n$p")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"scalar subquery missing:\n$p")
  }

  test("q90/q91: no window keyed on the bare low-cardinality source column") {
    // A window partitioned by `source` alone caps parallelism at ~|sources|
    // tasks regardless of cluster size. The grouped stitch must leave only
    // windows keyed on (bucket, source) — every partitionSpec needs ≥2
    // expressions — and no single-partition exchange anywhere.
    Seq("q90_curriculum_interleave", "q91_sequence_packing").foreach { n =>
      val exec = SparkEntry.queries(n)(spark, sf001).queryExecution.executedPlan
      val specs = windows(exec).map(_.partitionSpec)
      assert(specs.nonEmpty, s"$n: expected the stitch window in:\n$exec")
      specs.foreach { spec =>
        assert(spec.size >= 2,
          s"$n: window partitioned on ${spec.mkString(", ")} alone — " +
            s"low-cardinality bottleneck:\n$exec")
      }
      assert(!exec.toString.contains("SinglePartition"),
        s"$n fell back to a single-partition exchange:\n$exec")
    }
  }

  test("q93: corpus-level scalars are broadcast, top-k avoids a global sort") {
    val p = plan("q93_bm25_search")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"df/avgdl one-row frames not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-15 is a global sort:\n$p")
  }

  test("q96: LATERAL decorrelates to a group-limited window + join, not a loop") {
    val p = plan("q96_lateral_topk")
    assert(p.contains("WindowGroupLimit"),
      s"per-nation LIMIT not pushed into a WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"lateral planned as a cartesian re-scan:\n$p")
  }

  test("q113: pair generation is an equi-join on the cluster id, never all-pairs") {
    // The SemDeDup scale property: candidates come from an equi-join on
    // seed_id (hash-partitionable, cardinality ∝ N), not a nested-loop
    // over the corpus; the seed table rides a broadcast.
    // (the one-row seed broadcast legitimately plans as a
    // BroadcastNestedLoopJoin — it carries a single array cell)
    val p = plan("q113_semantic_dedup")
    assert(!p.contains("CartesianProduct"), s"all-pairs cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"within-cluster pair join is not an equi-join:\n$p")
    graft.ops.CacheRegistry.clear(spark) // release the q113 assignment cache
  }

  test("q125: power-iteration rounds are joins + aggregates, no cartesian") {
    // the 64-row direction and 1-row normalizer broadcasts legitimately
    // plan as BroadcastNestedLoopJoin; a CartesianProduct would mean a
    // corpus-sized nested loop leaked in
    val p = plan("q125_power_iteration")
    assert(!p.contains("CartesianProduct"), s"corpus cartesian:\n$p")
    graft.ops.CacheRegistry.clear(spark)
  }

  test("q129: the sketch aggregate is two-phase (map-side partial on the fixed grid)") {
    import org.apache.spark.sql.functions._
    val wo = graft.schema.Tables.t(spark, sf001, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .select(col("word"), md5(col("word")).as("m"))
      .select(col("word"),
        conv(substring(col("m"), 1, 14), 16, 10).cast("long").as("h1"),
        conv(substring(col("m"), 15, 14), 16, 10).cast("long").as("h2"))
    val p = graft.ops.TextAnalysis.countMinSketch(wo)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"no map-side partial aggregation before the cell-grid shuffle:\n$p")
  }

  test("q132: the PCA projection is map-only — zero joins in the plan") {
    val p = plan("q132_pca_project")
    assert(!p.contains("Join"), s"projection should fold directions as literals:\n$p")
    graft.ops.CacheRegistry.clear(spark)
  }

  test("q135: the funnel is chained hash aggregates, no cartesian") {
    val p = plan("q135_window_funnel")
    assert(!p.contains("CartesianProduct"), s"funnel cartesian:\n$p")
    assert(p.contains("HashAggregate"), s"funnel without hash aggregation:\n$p")
  }

  test("q140: weighted sample is scan + TakeOrderedAndProject, no global sort") {
    val p = plan("q140_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k fell back to a global sort:\n$p")
    assert(!p.contains("Join"), s"scoring should be one map-side pass:\n$p")
  }

  test("q141: span coalescing windows partition on doc_id, dup join is equi") {
    val exec = SparkEntry.queries("q141_dup_span_coalesce")(spark, sf001)
      .queryExecution.executedPlan
    val p = exec.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in span coalescing:\n$p")
    // every window must be partitioned (by doc_id / doc_id+island) — an
    // empty partitionSpec would funnel the corpus through one task. The
    // windows sit inside the shared q141-intervals cache, which the walker
    // descends.
    val specs = windows(exec).map(_.partitionSpec)
    assert(specs.nonEmpty, s"no window in the plan:\n$p")
    specs.foreach(s => assert(s.nonEmpty,
      s"unpartitioned (global) window in span coalescing:\n$p"))
  }

  test("q143/q145: banded near-dup candidates come from equi-joins, never all-pairs") {
    for ((name, cacheKey) <- Seq(
        "q143_image_neardup" -> "q142-dhash:",
        "q145_audio_neardup" -> "q145-audiofp:")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name all-pairs cartesian:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"$name top-25 fell back to a global sort:\n$p")
      graft.ops.CacheRegistry.release(spark, cacheKey)
    }
  }

  test("q142/q144: codec paths are map-only single passes — no joins, no extra shuffle") {
    val img = plan("q142_image_dhash")
    assert(!img.contains("Join") && !img.contains("CartesianProduct"),
      s"pixel decode should be one mapPartitions pass:\n$img")
    graft.ops.CacheRegistry.release(spark, "q142-dhash:")
    val aud = plan("q144_audio_features")
    assert(!aud.contains("Join") && !aud.contains("CartesianProduct"),
      s"audio decode should be one mapPartitions pass:\n$aud")
  }

  test("q149: 128-bit banded candidates are equi-joins, never all-pairs") {
    val p = plan("q149_image_neardup128")
    assert(!p.contains("CartesianProduct"), s"q149 all-pairs cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"q149 top-25 fell back to a global sort:\n$p")
    graft.ops.CacheRegistry.release(spark, "q148-dhash128:")
  }

  test("q150: both grouped top-k windows are partitioned — no global window") {
    val exec = SparkEntry.queries("q150_group_weighted_sample")(spark, sf001)
      .queryExecution.executedPlan
    val specs = windows(exec).map(_.partitionSpec)
    // phase 1 (source, salt) + phase 2 (source) — both must partition
    assert(specs.length >= 2, s"expected both top-k windows:\n$exec")
    specs.foreach(s => assert(s.nonEmpty,
      s"unpartitioned (global) window in q150:\n$exec"))
    // the salt must actually reach phase 1's partition spec: at least one
    // window partitions on MORE than one expression
    assert(specs.exists(_.length >= 2),
      s"no (source, salt) window — the salted phase is gone:\n$exec")
  }

  test("q151: span-removal apply adds one doc_id equi-join, no per-word explode") {
    val p = plan("q151_span_removal_apply")
    assert(!p.contains("CartesianProduct"), s"q151 cartesian:\n$p")
    // the apply must be the q141 interval derivation + one hash join on
    // doc_id + a scan-speed higher-order filter. Generate (explode)
    // appears only inside the inherited gram enumeration — the apply side
    // adds NONE (a per-word position explode-then-join would double the
    // Generate count and add a word-sized shuffle)
    def generates(s: String) = s.sliding("Generate".length).count(_ == "Generate")
    val base = plan("q141_dup_span_coalesce")
    assert(generates(p) <= generates(base),
      s"q151 apply added a per-word explode over q141's derivation:\n$p")
  }

  test("q195/q203/q205: rank machinery has no single-partition exchange; q204 no cartesian") {
    // The midrank/ECDF prefixes ride the stitch engine — an unpartitioned
    // ORDER BY window here would funnel the whole distinct-value frame
    // through one task at any corpus size. (SinglePartition text alone is
    // NOT the signal: the 1-row scalar reductions (tie totals, n) end in
    // a legitimate global aggregate — the claim is about WINDOWS.)
    Seq("q195_mann_whitney", "q203_rank_corr", "q205_ks_test").foreach { n =>
      val exec = SparkEntry.queries(n)(spark, sf001).queryExecution.executedPlan
      val specs = windows(exec).map(_.partitionSpec)
      assert(specs.nonEmpty, s"$n: expected the stitch window in:\n$exec")
      specs.foreach(spec => assert(spec.nonEmpty,
        s"$n: unpartitioned window — single-task prefix at any scale:\n$exec"))
    }
    // q204's 8 rounds must stay equi-joins on user_id (a cartesian would
    // be candidates × winners). localCheckpoint runs jobs at construction,
    // so only assert on the FINAL plan text.
    val p204 = plan("q204_lttb_downsample")
    assert(!p204.contains("CartesianProduct"), s"q204 cartesian:\n$p204")
  }

  test("q198: the runtime bloom filter injects into the fact side; results match the bloom-off join") {
    val df = SparkEntry.queries("q198_runtime_filter_join")(spark, sf001)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("bloom_filter") || optimized.contains("might_contain"),
      s"InjectRuntimeFilter did not fire — no bloom probe in:\n$optimized")
    // the probe must land on the FACT side (lineitem scan), pruning before
    // the exchange: physical plan shows might_contain in a Filter above
    // the lineitem relation
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("might_contain"),
      s"bloom probe optimized away before execution:\n$physical")
    // exactness: the bloom only prunes, the join verifies — bloom-off twin
    // (default conf session: broadcast allowed, no injection) is identical
    val off = {
      import org.apache.spark.sql.functions._
      import graft.schema.Tables.t
      val o = t(spark, sf001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      t(spark, sf001, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).as("mon"))
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount")).cast("decimal(4,2)"))
            .cast("double").as("revenue"))
    }
    assert(df.exceptAll(off).isEmpty && off.exceptAll(df).isEmpty,
      "bloom-pruned join result diverged from the plain join")
  }

  test("q291: CIDR containment is a hash equi-join on the /8 bucket, not a nested loop") {
    val p = plan("q291_cidr_join")
    // the variable-prefix predicate must ride as a RESIDUAL on the bucket
    // equi-join — a BroadcastNestedLoopJoin here means the theta form
    // leaked through and the op degenerates to |blocks|×|ips| compares
    assert(p.contains("BroadcastHashJoin"), s"q291 lost the bucket equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q291 planned the naive theta join:\n$p")
  }

  test("q314: dedup joins on the 112-bit hash pair, never the segment text") {
    val p = plan("q314_paragraph_dedup")
    // the first-occurrence aggregate and keeper join must key on h1/h2
    // (two longs per segment) — a join keyed on `seg` would shuffle the
    // paragraph text itself, the exact thing the hash exists to avoid
    assert(p.contains("h1") && p.contains("h2"), s"hash keys missing:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), "cartesian in dedup")
    // unconditional: the segment text is hashed away before the first
    // exchange, so NO join line may reference seg# at all (the previous
    // `!seg || h1` form let a text-keyed join slip through whenever the
    // same line also mentioned h1 — ADVICE r14)
    val joinLines = p.linesIterator.filter(l =>
      l.contains("Join") && !l.contains("BroadcastExchange")).toSeq
    assert(joinLines.nonEmpty, s"no join lines found:\n$p")
    assert(joinLines.forall(l => !l.contains("seg#")),
      s"a join references the segment text:\n${joinLines.mkString("\n")}")
  }

  test("q318: doc-local repetition signals — the only exchange is the sort") {
    val p = plan("q318_gopher_repetition")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected only the presentation sort, got:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("Window"),
      s"a within-doc signal leaked into a join/window:\n$p")
  }

  test("q317: the LM tables ride broadcast joins — no LM-side shuffle") {
    val p = plan("q317_perplexity_buckets")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 3, s"expected c12/c1/c2 as broadcast joins, got $bhj:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"an LM lookup fell back to a sort-merge join:\n$p")
  }

  test("q317: tercile is the stitched grouped rank, not a per-lang window") {
    val p = plan("q317_perplexity_buckets")
    // VERDICT r14 item 1: ntile(3) OVER (PARTITION BY lang) is a
    // per-language single-partition global sort at 100 TB — the plan must
    // carry no ntile, and every window keyed on lang must ALSO key on the
    // stitch's range bucket (parallelism ∝ data, not language count)
    assert(!p.contains("ntile"), s"ntile window survived:\n$p")
    val langWindows = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("lang#")).toSeq
    assert(langWindows.nonEmpty, s"no stitched window found:\n$p")
    assert(langWindows.forall(_.contains("__bucket")),
      s"a window partitions on the bare lang key:\n${langWindows.mkString("\n")}")
  }

  test("q337: the composed crawl round's only wide exchange is the per-host rank") {
    // VERDICT r15 item 6's done-clause: discover (codec seam, no
    // shuffle) → admit → schedule must all ride ONE hashpartitioning
    // exchange on the host key — the count/sum windows, the budget
    // rank, the lag gaps, and the final per-host aggregate are all
    // host-partitioned. Everything else is a 1-row broadcast (the slot
    // stride) or the presentation range sort.
    val p = plan("q337_crawl_round")
    val hashEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.size === 1, s"expected ONE wide exchange:\n${hashEx.mkString("\n")}")
    assert(hashEx.head.contains("host#"),
      s"the wide exchange is not on the host key:\n${hashEx.head}")
    assert(!p.contains("CartesianProduct"), s"cartesian in the crawl round:\n$p")
    // the budget cut is pushed INTO the rank (no full-frontier sort
    // survives past the per-host top-B)
    assert(p.contains("WindowGroupLimit"),
      s"budget rank not pushed down as a group limit:\n$p")
  }

  test("q335: blocked mining generates candidates via a cell equi-join, never a cross join") {
    // VERDICT r15 item 1: the shipped q334 plan is the exact all-pairs
    // baseline; q335 is the 100 TB ship path and its pair source must be
    // the equi-join on the coarse-cell id. The only nested-loop joins
    // allowed are the ONE-ROW centroid-array broadcasts (the q113/q125
    // one-row-broadcast exemption); a CartesianProduct anywhere means the
    // quadratic frame leaked back in.
    val p = plan("q335_bitext_mining_blocked")
    assert(!p.contains("CartesianProduct"), s"all-pairs cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"cell candidate join is not an equi-join:\n$p")
  }
}
