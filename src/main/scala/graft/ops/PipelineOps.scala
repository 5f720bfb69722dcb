package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.schema.Tables.t

/** Round-8 pipeline operators: the compositions a production-scale
  * training-data pipeline runs ON TOP of the primitive families —
  * bucketized range joins (the prompt's "range join" beyond q38's as-of),
  * per-source vocabulary health (Zipf slope), DSIR-style importance
  * resampling weights, hybrid BM25+vector retrieval fusion (RRF), and a
  * hashed-feature linear quality classifier. All DuckDB-oracle-checked;
  * all floating sums in fixed order (the q101/q114 rule).
  */
object PipelineOps {

  private val wordsCol = TextCommon.wordsCol

  private def duckHex(expr: String, n: Int): String = TextCommon.duckHex(expr, n)

  /** Shared word-frame (doc_id, lang, word occurrences). */
  private def words(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"),
      explode(wordsCol).as("word"))

  private val DuckWords =
    raw"""w AS (SELECT doc_id, lang, source,
         |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
         |  FROM documents)""".stripMargin

  /** (doc_id, lang, word) occurrence frame of any (doc_id, lang, text)
    * documents frame — the map-side stage q154 caches per query and the
    * incremental composition runs per micro-batch. */
  def dsirWordFrame(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), explode(wordsCol).as("word"))

  /** The two LM frames of the DSIR model over a word-occurrence frame:
    * per-word (cs, ct) counts and the one-row (ns, nt, v) totals. Both
    * are pure aggregates of the store, so the model over an accumulated
    * idempotent store equals the batch model — the refresh step of the
    * streaming composition (StreamingDsirSpec). */
  def dsirModel(w: DataFrame): (DataFrame, DataFrame) = {
    val ws = w.groupBy(col("word")).agg(
      count(lit(1)).cast("long").as("cs"),
      count(when(col("lang") === "en", 1)).cast("long").as("ct"))
    val tot = w.agg(
      count(lit(1)).cast("long").as("ns"),
      count(when(col("lang") === "en", 1)).cast("long").as("nt"),
      countDistinct(col("word")).cast("long").as("v"))
    (ws, tot)
  }

  /** Score any word-occurrence frame against a PINNED (ws, tot) model —
    * add-1 smoothed log importance weight, word-order folded sum (q114
    * rule). Unseen words score through the smoothing floor via the LEFT
    * join + coalesce(0), so arrivals can contain vocabulary the pinned
    * snapshot has never seen. */
  def dsirScores(w: DataFrame, ws: DataFrame, tot: DataFrame): DataFrame = {
    val dwc = w.groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).cast("long").as("c"))
    val lw = log((col("ct").cast("double") + lit(1)) / (col("nt") + col("v"))) -
      log((col("cs").cast("double") + lit(1)) / (col("ns") + col("v")))
    dwc.join(ws, Seq("word"), "left")
      .select(col("doc_id"), col("lang"), col("word"), col("c"),
        coalesce(col("cs"), lit(0L)).as("cs"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(broadcast(tot))
      .withColumn("lw", lw)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).cast("long").as("n_words"),
        expr("""aggregate(
               |  transform(array_sort(collect_list(struct(word, CAST(c AS DOUBLE) AS cd, lw))),
               |    p -> p.cd * p.lw),
               |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("s"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        round(col("s") / col("n_words"), 6).as("dsir_logw"))
  }

  val qs: Seq[Q] = Seq(

    // ---- bucketized interval/range join over the event stream ----
    // "All clicks within ±120 s of each error event" — the pure range join
    // the reference's ClickHouse side would run as ASOF/range and naive
    // Spark plans as a cartesian theta join. Scale shape: quantize time
    // into W-sized buckets, explode each error to its 3 candidate buckets
    // (b-1, b, b+1 — every |Δ|≤W match is in one of them), equi-join on
    // the bucket, then apply the exact |Δ|≤W residual. O(3·N + M) rows
    // through a hash-partitioned equi-join instead of O(N·M) comparisons;
    // a (click, error) pair can only meet in the click's OWN bucket, so
    // no distinct is needed. Microsecond integers end to end (Spark
    // unix_micros ≡ DuckDB epoch_us — no double truncation drift).
    Q("q152_interval_join",
      """SELECT e.event_id AS event_id,
        |  CAST(count(c.event_id) AS BIGINT) AS n_nearby
        |FROM events e LEFT JOIN events c
        |  ON c.event_type = 'click'
        | AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= 120000000
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val W = 120000000L // ±120 s in microseconds
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("eid"), col("us").as("eus"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("cid"), expr(s"us DIV $W").as("bkt"), col("us").as("cus"))
      val probes = errors.select(col("eid"), col("eus"),
        explode(expr(s"array(eus DIV $W - 1, eus DIV $W, eus DIV $W + 1)")).as("bkt"))
      probes.join(clicks, Seq("bkt"), "left")
        .groupBy(col("eid").as("event_id"))
        .agg(count(when(abs(col("cus") - col("eus")) <= W, col("cid")))
          .cast("long").as("n_nearby"))
        .orderBy(col("event_id"))
    },

    // ---- per-source Zipf slope: vocabulary health check ----
    // Natural text follows rank-frequency slope ≈ -1 in log-log space; a
    // source whose slope collapses toward 0 (flat = template spam) or
    // dives steeply (tiny vocab looping) is machine-generated or broken —
    // a corpus-level quality gate next to q47's per-doc scores. Shape:
    // (source, word) counts in one shuffle, per-source top-100 via the
    // q150 salted two-phase cut (never a window on the bare 20-value
    // source column), then the OLS slope of ln(freq) on ln(rank) computed
    // from sums folded in rank order on both engines (q114 rule).
    Q("q153_zipf_slope", {
      s"""WITH $DuckWords,
         |cnt AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
         |  FROM w GROUP BY source, word),
         |rk AS (SELECT source, c,
         |    row_number() OVER (PARTITION BY source ORDER BY c DESC, word) AS r
         |  FROM cnt),
         |top AS (SELECT source, r, c FROM rk WHERE r <= 100),
         |su AS (SELECT source, CAST(count(*) AS DOUBLE) AS n,
         |    list_sum(list_transform(list(struct_pack(r := r, c := c) ORDER BY r),
         |      p -> ln(CAST(p.r AS DOUBLE)))) AS sx,
         |    list_sum(list_transform(list(struct_pack(r := r, c := c) ORDER BY r),
         |      p -> ln(CAST(p.c AS DOUBLE)))) AS sy,
         |    list_sum(list_transform(list(struct_pack(r := r, c := c) ORDER BY r),
         |      p -> ln(CAST(p.r AS DOUBLE)) * ln(CAST(p.c AS DOUBLE)))) AS sxy,
         |    list_sum(list_transform(list(struct_pack(r := r, c := c) ORDER BY r),
         |      p -> ln(CAST(p.r AS DOUBLE)) * ln(CAST(p.r AS DOUBLE)))) AS sxx
         |  FROM top GROUP BY source),
         |ty AS (SELECT source, CAST(count(*) AS BIGINT) AS n_types FROM cnt GROUP BY source)
         |SELECT su.source AS source, ty.n_types,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope
         |FROM su JOIN ty ON su.source = ty.source
         |ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val cnt = words(s, dir)
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).cast("long").as("c"))
      // two-phase top-100: salt the word into 16 shards so phase 1's
      // window never keys on the bare 20-value source column (q150 shape);
      // phase 2 ranks ≤ 1600 survivors per source.
      val w1 = Window.partitionBy(col("source"), col("salt"))
        .orderBy(col("c").desc, col("word"))
      val w2 = Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("word"))
      val top = cnt
        .withColumn("salt", pmod(hash(col("word")), lit(16)))
        .withColumn("r1", row_number().over(w1)).filter(col("r1") <= 100)
        .withColumn("r", row_number().over(w2)).filter(col("r") <= 100)
        .select(col("source"), col("r").cast("long").as("r"), col("c"))
      // rank-ordered fold = the oracle's list(... ORDER BY r) + list_sum
      def foldSum(body: String) = expr(
        s"""aggregate(
           |  transform(array_sort(collect_list(struct(r, c))), p -> $body),
           |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
      val su = top.groupBy(col("source")).agg(
        count(lit(1)).cast("double").as("n"),
        foldSum("ln(CAST(p.r AS DOUBLE))").as("sx"),
        foldSum("ln(CAST(p.c AS DOUBLE))").as("sy"),
        foldSum("ln(CAST(p.r AS DOUBLE)) * ln(CAST(p.c AS DOUBLE))").as("sxy"),
        foldSum("ln(CAST(p.r AS DOUBLE)) * ln(CAST(p.r AS DOUBLE))").as("sxx"))
      val ty = cnt.groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_types"))
      su.join(ty, Seq("source"))
        .select(col("source"), col("n_types"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
        .orderBy(col("source"))
    },

    // ---- DSIR-style importance weights for target-domain resampling ----
    // Data Selection via Importance Resampling (Xie et al. 2023) with
    // add-1-smoothed unigram LMs: target = the 'en' slice, source = the
    // whole corpus; every doc scores avg_w [ln p_T(w) − ln p_S(w)], the
    // log importance weight a resampler (q140's machinery) would sample
    // by. Shape at 100 TB: the two LMs are one (word → counts) shuffle
    // reused for both numerators, the corpus scalars broadcast, and each
    // doc's sum folds in word order (q114 rule) after one equi-join of
    // per-doc word counts against the word-stat table. Top-25 by weight:
    // the docs that look most target-like.
    Q("q154_dsir_importance", {
      s"""WITH $DuckWords,
         |ws AS (SELECT word,
         |    CAST(count(*) AS BIGINT) AS cs,
         |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
         |  FROM w GROUP BY word),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS ns,
         |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS nt,
         |    CAST(count(DISTINCT word) AS BIGINT) AS v
         |  FROM w),
         |dwc AS (SELECT doc_id, lang, word, CAST(count(*) AS BIGINT) AS c
         |  FROM w GROUP BY doc_id, lang, word),
         |d AS (SELECT dwc.doc_id AS doc_id, dwc.lang AS lang,
         |    CAST(sum(dwc.c) AS BIGINT) AS n_words,
         |    list_sum(list_transform(
         |      list(struct_pack(cd := CAST(dwc.c AS DOUBLE),
         |                       lw := ln((CAST(ws.ct AS DOUBLE) + 1) / (nt + v))
         |                           - ln((CAST(ws.cs AS DOUBLE) + 1) / (ns + v)))
         |           ORDER BY dwc.word),
         |      p -> p.cd * p.lw)) AS s
         |  FROM dwc JOIN ws ON dwc.word = ws.word, tot
         |  GROUP BY dwc.doc_id, dwc.lang)
         |SELECT doc_id, lang, n_words, round(s / n_words, 6) AS dsir_logw
         |FROM d
         |ORDER BY dsir_logw DESC, doc_id
         |LIMIT 25""".stripMargin
    }) { (s, dir) =>
      val w = words(s, dir).select(col("doc_id"), col("lang"), col("word"))
      val (ws, tot) = dsirModel(w)
      dsirScores(w, ws, tot)
        .orderBy(col("dsir_logw").desc, col("doc_id"))
        .limit(25)
    },

    // ---- hybrid retrieval: BM25 + vector cosine fused by RRF ----
    // The standard RAG retrieval stack: q93's keyword ranks and q44's
    // embedding ranks for query vec 0, fused by reciprocal-rank fusion
    // (k = 60; Cormack et al.): score(d) = Σ 1/(k + rank_i(d)), missing
    // list → contributes 0 (full outer). Ranks key on the 6dp-ROUNDED
    // scores (doc_id tiebreak), so engine ulp differences in ln()/sqrt()
    // can never reorder the fused list. Candidate lists are bounded
    // (BM25: df-bounded term matches; cosine: top-20 cut), so the rank
    // windows run over small frames — at 100 TB both lists come from
    // their families' indexed/bucketed paths, not full scans.
    Q("q155_hybrid_rrf", {
      val bm25Cte =
        raw"""WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
             |           FROM documents),
             |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
             |ad AS (SELECT CAST(sum(dl) AS BIGINT) * 1.0 / count(*) AS avgdl FROM dl),
             |tf AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN word = 'data' THEN 1 ELSE 0 END) AS BIGINT) AS tf_data,
             |    CAST(sum(CASE WHEN word = 'scan' THEN 1 ELSE 0 END) AS BIGINT) AS tf_scan,
             |    CAST(sum(CASE WHEN word = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf_hash
             |  FROM w GROUP BY doc_id),
             |c AS (SELECT
             |    count(DISTINCT CASE WHEN word = 'data' THEN doc_id END) AS df_data,
             |    count(DISTINCT CASE WHEN word = 'scan' THEN doc_id END) AS df_scan,
             |    count(DISTINCT CASE WHEN word = 'hash' THEN doc_id END) AS df_hash
             |  FROM w),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (SELECT tf.doc_id AS doc_id,
             |  round(
             |    ln(1 + (n_docs - df_data + 0.5) / (df_data + 0.5))
             |      * tf_data * 2.2 / (tf_data + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
             |  + ln(1 + (n_docs - df_scan + 0.5) / (df_scan + 0.5))
             |      * tf_scan * 2.2 / (tf_scan + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
             |  + ln(1 + (n_docs - df_hash + 0.5) / (df_hash + 0.5))
             |      * tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)), 6)
             |    AS score
             |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id, c, n, ad
             |  WHERE tf_data + tf_scan + tf_hash > 0)""".stripMargin
      s"""$bm25Cte,
         |b AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rb
         |  FROM scored QUALIFY rb <= 20),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cs AS (SELECT vec_id, round(
         |  ${VectorSearch.DuckCos}, 6) AS cos_sim
         |  FROM embeddings, q WHERE vec_id <> 0),
         |cr AS (SELECT vec_id,
         |    CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rc
         |  FROM cs QUALIFY rc <= 20)
         |SELECT coalesce(b.doc_id, cr.vec_id) AS doc_id, b.rb AS bm25_rank,
         |  cr.rc AS cos_rank,
         |  round(coalesce(1.0 / (60 + b.rb), 0.0)
         |      + coalesce(1.0 / (60 + cr.rc), 0.0), 6) AS rrf_score
         |FROM b FULL OUTER JOIN cr ON b.doc_id = cr.vec_id
         |ORDER BY rrf_score DESC, doc_id
         |LIMIT 15""".stripMargin
    }) { (s, dir) =>
      // top-20 cut FIRST via orderBy + limit — plans as
      // TakeOrderedAndProject (per-partition heaps + a 20-row driver
      // merge, like sibling q44), NEVER a global-ORDER-BY window over the
      // candidate lists (ADVICE r8: both lists are corpus-scale before
      // the cut — BM25 candidates are any doc containing a query term,
      // cosine candidates are every vector). The rank window then runs
      // over ≤ 20 rows.
      val b = Curation.bm25Scored(s, dir)
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rb", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rb"))
      val emb = VectorSearch.embTable(s, dir)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val cs = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(VectorSearch.dotExpr("embedding", "qe") /
            (VectorSearch.normExpr("embedding") * VectorSearch.normExpr("qe")), 6)
            .as("cos_sim"))
      val cr = cs
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(20)
        .withColumn("rc", row_number()
          .over(Window.orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
        .select(col("vec_id"), col("rc"))
      b.join(cr, col("doc_id") === col("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
          col("rb").as("bm25_rank"), col("rc").as("cos_rank"),
          round(coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("rc")), lit(0.0)), 6).as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
        .limit(15)
    },

    // ---- hashed-feature linear quality classifier ----
    // The fasttext-shaped model-based quality filter: each word hashes to
    // a deterministic pseudo-weight in [-1, 1) (md5 → first 8 hex chars −
    // 2^31 — a stand-in for trained weights, exercising the exact
    // runtime shape), a doc's score is the tf-weighted mean. All-integer
    // accumulation (BIGINT Σ tf·w_int, any order — exact) with ONE double
    // division at the end, so no floating-sum ordering concerns at all.
    // Map + one (doc, word) shuffle; weights would broadcast as a real
    // model table at 100 TB.
    Q("q156_quality_classifier", {
      s"""WITH $DuckWords,
         |dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tfw
         |  FROM w GROUP BY doc_id, word),
         |sc AS (SELECT doc_id,
         |    CAST(sum(tfw) AS BIGINT) AS n_words,
         |    CAST(sum(tfw * (${duckHex("md5(word)", 8)} - 2147483648)) AS BIGINT) AS raw
         |  FROM dw GROUP BY doc_id)
         |SELECT doc_id, n_words,
         |  round(CAST(raw AS DOUBLE) / (n_words * 2147483648.0), 6) AS quality_score,
         |  (raw > 0) AS keep
         |FROM sc
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // one coin per distinct (doc, word) — corpus-volume, so it rides the
      // digest-bytes split; bit-exact with the oracle's hex+conv text
      // (GraftFunctions.coin8 scaladoc; NEXT.md round-14 site survey)
      graft.functions.GraftFunctions.register(s)
      val wInt = graft.functions.GraftFunctions.coin8(col("word")) -
        lit(2147483648L)
      words(s, dir)
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).cast("long").as("tfw"))
        .withColumn("w_int", wInt)
        .groupBy(col("doc_id"))
        .agg(sum(col("tfw")).cast("long").as("n_words"),
          sum(col("tfw") * col("w_int")).cast("long").as("raw"))
        .select(col("doc_id"), col("n_words"),
          round(col("raw").cast("double") / (col("n_words") * lit(2147483648.0)), 6)
            .as("quality_score"),
          (col("raw") > 0).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ---- equi-depth histogram via the stitched global rank ----
    // ClickHouse-parity `histogram`-style summary, in the exact-quantile
    // equi-depth variant: 10 buckets of (near-)equal row count over
    // events.value. The naive formulation is ntile() over a GLOBAL window
    // — a single-partition sort of the corpus, the one shape q75's
    // engine exists to kill. Here the rank comes from
    // Skew.globalRowNumber (range-bucket + broadcast prefix-stitch, no
    // SinglePartition exchange) and the bucket is integer arithmetic on
    // it: ((rn−1)·10) DIV total — both engines integer-exact, so bucket
    // edges can never drift on double ulps. Per-bucket min/max/count are
    // one hash aggregate on the 10-value bucket key.
    Q("q157_equidepth_histogram",
      """WITH r AS (SELECT value,
        |    row_number() OVER (ORDER BY value, event_id) AS rn
        |  FROM events),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events)
        |SELECT CAST(((rn - 1) * 10) // total AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  round(min(value), 6) AS lo,
        |  round(max(value), 6) AS hi
        |FROM r, tot
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "events").select(col("event_id"), col("value"))
      val ranked = graft.ops.Skew.globalRowNumber(base,
        Seq(col("value").asc, col("event_id").asc),
        numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt)
      val tot = base.agg(count(lit(1)).cast("long").as("total"))
      ranked.crossJoin(broadcast(tot))
        .select(expr("((rn - 1) * 10) DIV total").as("bucket"), col("value"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          round(min(col("value")), 6).as("lo"),
          round(max(col("value")), 6).as("hi"))
        .orderBy(col("bucket"))
    },

    // ---- per-user moving average (groupArrayMovingAvg parity) ----
    // ClickHouse's groupArrayMovingAvg(3) over each user's event stream,
    // as a bounded-frame window: avg(value) over the user's last 3 events
    // ordered by (ts, event_id). The frame order is a total order, so
    // both engines fold the ≤3 doubles in the same sequence — no
    // FP-ordering caveat. Window partitions on user_id (cardinality ∝
    // corpus — parallelism scales with data, unlike a per-type window).
    Q("q158_moving_avg",
      """SELECT event_id, user_id,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
        |FROM events
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(avg(col("value")).over(w), 6).as("mavg3"))
        .orderBy(col("event_id"))
    },

    // ---- forward as-of join with tolerance ----
    // q38's mirror: for every error, the EARLIEST click by the same user
    // AT or AFTER it, kept only within a 10-minute tolerance (the
    // ASOF-forward + tolerance the reference's destination engine and
    // DuckDB both expose). Same scalable shape as q38 — tag + union + ONE
    // window over (user, time), never a per-row subquery: min(click_ts)
    // over the forward frame gives the next click, the tolerance filter
    // nulls it past 10 minutes. kind orders errors before clicks at equal
    // ts → "at or after" (>=) on both engines.
    Q("q159_asof_forward",
      """SELECT e.event_id, e.user_id,
        |  (SELECT min(c.ts) FROM events c
        |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
        |     AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 10 MINUTE)
        |    AS next_click_ts
        |FROM events e
        |WHERE e.event_type = 'error'
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("t"), lit(1).as("kind"),
          col("ts").as("click_ts"), lit(null).cast("long").as("event_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("t"), lit(0).as("kind"),
          lit(null).cast("timestamp").as("click_ts"), col("event_id"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("kind"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionByName(errors)
        .withColumn("next_any", min(col("click_ts")).over(w))
        .filter(col("kind") === 0)
        .select(col("event_id"), col("user_id"),
          when(col("next_any") <= col("t") + expr("INTERVAL 10 MINUTE"),
            col("next_any")).as("next_click_ts"))
        .orderBy(col("event_id"))
    },

    // ---- deterministic corpus shuffle (reproducible training order) ----
    // Training runs need a global random-but-reproducible document order:
    // shuffle key = md5(doc_id) (engine-identical hex), position = the
    // STITCHED global rank over it — the same no-single-partition engine
    // as q75/q157, because "shuffle the corpus" at 100 TB is exactly the
    // global-rank shape a naive row_number() window serializes. Re-runs,
    // re-partitions, and both engines all yield the identical permutation.
    Q("q160_corpus_shuffle",
      """SELECT doc_id, shuffle_pos FROM (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS shuffle_pos
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("__key"))
      graft.ops.Skew.globalRowNumber(base,
          Seq(col("__key").asc, col("doc_id").asc),
          numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt,
          outCol = "shuffle_pos")
        .select(col("doc_id"), col("shuffle_pos"))
        .orderBy(col("doc_id"))
    },

    // ---- exact stratified split (grouped stitch, exact proportions) ----
    // q94's md5-threshold split is only EXPECTED 80/10/10; per-source
    // actuals wander (binomial). When the contract is exact proportions
    // per stratum, rank each source's docs by the same md5 coin and cut
    // at floor(0.8·n)/floor(0.9·n). The per-source rank comes from
    // Skew.groupedRowNumber — the 20-value source column never keys a
    // window (the q90/q91 rule); the oracle states the naive per-source
    // window. Assignment stays a pure function of (doc_id, corpus
    // composition), so it is stable across engines and repartitioning.
    Q("q161_exact_stratified_split",
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |  FROM documents)
        |SELECT doc_id, source, rk,
        |  CASE WHEN rk <= (n_src * 8) // 10 THEN 'train'
        |       WHEN rk <= (n_src * 9) // 10 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM r
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("__key"))
      val ranked = graft.ops.Skew.groupedRowNumber(base, Seq("source"),
        Seq(col("__key").asc, col("doc_id").asc),
        numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt,
        outCol = "rk")
      val sizes = base.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_src"))
      ranked.join(broadcast(sizes), Seq("source"))
        .select(col("doc_id"), col("source"), col("rk"),
          when(col("rk") <= expr("(n_src * 8) DIV 10"), "train")
            .when(col("rk") <= expr("(n_src * 9) DIV 10"), "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // ---- T5-style span corruption (masked pretraining transform) ----
    // The pipeline's final mile: ~15% of word positions mask by a
    // deterministic md5 coin, consecutive masked positions coalesce into
    // spans (the q141 gaps-and-islands trick: pos − rank-among-masked is
    // constant within a run), span k of a doc renders as sentinel
    // <extra_id_k> in the input and (sentinel + original words) in the
    // target — the exact seq2seq objective shape. All per-doc: explode,
    // two doc-keyed windows, one pos-ordered fold; nothing corpus-global,
    // so the transform is map-local at any scale. Both engines assemble
    // strings in explicit pos/span order — no aggregation-order hazard.
    Q("q162_span_corruption", {
      s"""WITH w AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\\s+') AS words
         |  FROM documents),
         |px AS (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i FROM w),
         |p AS (SELECT doc_id, i AS pos, words[i] AS word,
         |    (${duckHex("md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))", 8)}) % 100 < 15 AS m
         |  FROM px),
         |mk AS (SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM p WHERE m),
         |sp AS (SELECT doc_id, grp, min(pos) AS start_pos,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY min(pos)) - 1
         |      AS BIGINT) AS span_idx
         |  FROM mk GROUP BY doc_id, grp),
         |pieces AS (
         |  SELECT p.doc_id, p.pos, p.word AS piece
         |  FROM p WHERE NOT m
         |  UNION ALL
         |  SELECT doc_id, start_pos AS pos,
         |    '<extra_id_' || CAST(span_idx AS VARCHAR) || '>' AS piece
         |  FROM sp),
         |masked AS (SELECT doc_id,
         |    string_agg(piece, ' ' ORDER BY pos) AS masked_text
         |  FROM pieces GROUP BY doc_id),
         |tgt_span AS (SELECT mk.doc_id AS doc_id, sp.span_idx,
         |    '<extra_id_' || CAST(sp.span_idx AS VARCHAR) || '> ' ||
         |      string_agg(p.word, ' ' ORDER BY p.pos) AS seg
         |  FROM mk JOIN sp ON mk.doc_id = sp.doc_id AND mk.grp = sp.grp
         |  JOIN p ON p.doc_id = mk.doc_id AND p.pos = mk.pos
         |  GROUP BY mk.doc_id, sp.span_idx),
         |tgt AS (SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_spans,
         |    string_agg(seg, ' ' ORDER BY span_idx) AS target_text
         |  FROM tgt_span GROUP BY doc_id)
         |SELECT m.doc_id AS doc_id,
         |  coalesce(t.n_spans, 0) AS n_spans,
         |  m.masked_text,
         |  coalesce(t.target_text, '') AS target_text
         |FROM masked m LEFT JOIN tgt t ON m.doc_id = t.doc_id
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      // one coin per TOKEN — the highest-volume residual coin site
      // (NEXT.md round-14 survey: ~54×docs rows); digest-bytes split,
      // bit-exact with the oracle's hex+conv text
      graft.functions.GraftFunctions.register(s)
      val p = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(wordsCol).as(Seq("pos0", "word")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"),
          (graft.functions.GraftFunctions.coin8(
            concat(col("doc_id").cast("string"), lit(":"),
              (col("pos0") + 1).cast("string"))) % 100 < 15)
            .as("m"))
      val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val mk = p.filter(col("m"))
        .withColumn("grp", col("pos") - row_number().over(wDoc))
      val sp = mk.groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("start_pos"))
        .withColumn("span_idx",
          (row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("start_pos"))) - 1).cast("long"))
      val sentinel = concat(lit("<extra_id_"), col("span_idx").cast("string"), lit(">"))
      val pieces = p.filter(!col("m"))
        .select(col("doc_id"), col("pos"), col("word").as("piece"))
        .unionByName(sp.select(col("doc_id"), col("start_pos").as("pos"),
          sentinel.as("piece")))
      def orderedJoin(pieceCol: String, orderCol: String) = expr(
        s"""concat_ws(' ', transform(array_sort(collect_list(struct($orderCol, $pieceCol))),
           |  q -> q.$pieceCol))""".stripMargin)
      val masked = pieces.groupBy(col("doc_id"))
        .agg(orderedJoin("piece", "pos").as("masked_text"))
      val tgtSpan = mk.join(sp, Seq("doc_id", "grp"))
        .groupBy(col("doc_id"), col("span_idx"))
        .agg(concat(lit("<extra_id_"), col("span_idx").cast("string"), lit("> "),
          orderedJoin("word", "pos")).as("seg"))
      val tgt = tgtSpan.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_spans"),
          orderedJoin("seg", "span_idx").as("target_text"))
      masked.join(tgt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          col("masked_text"),
          coalesce(col("target_text"), lit("")).as("target_text"))
        .orderBy(col("doc_id"))
    },

    // ---- weekly cohort retention matrix ----
    // The product-analytics staple q136's ClickHouse `retention()` doesn't
    // give: users bucketed by FIRST-seen week (cohort), counted distinct
    // in every later week they return, keyed (cohort_week, week_offset).
    // Shape: one narrow per-user min-ts aggregate joined back (broadcast
    // at dim scale, shuffle on user_id at corpus scale — user cardinality
    // grows with data, so parallelism does too), then a count-distinct on
    // the small (cohort, offset) grid. All date arithmetic is integer
    // (ISO week truncation + day diff DIV 7), so both engines bucket
    // identically.
    Q("q165_cohort_retention",
      """WITH first AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id)
        |SELECT CAST(f.cohort AS TIMESTAMP) AS cohort_week,
        |  CAST(date_diff('day', f.cohort,
        |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN first f USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"), col("cohort"),
          expr("datediff(CAST(date_trunc('week', ts) AS DATE), cohort) DIV 7")
            .as("week_offset"))
        .groupBy(col("cohort").cast("timestamp").as("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).cast("long").as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // ---- weekly cohort LTV curve ----
    // q165's money twin: cumulative purchase revenue per signup cohort by
    // cohort age, normalized per user — the lifetime-value curve that
    // decides acquisition spend. Same integer week bucketing as q165;
    // revenue accumulates as exact DECIMAL(18,2) sums and the running
    // total is a per-cohort window over the ≤ weeks-in-span row grid
    // (calendar-bounded, never corpus rows); only the final per-user
    // ratio is floating.
    Q("q272_cohort_ltv",
      """WITH first AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
        |  FROM events GROUP BY user_id),
        |sz AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY 1),
        |rev AS (SELECT f.cohort AS cohort,
        |    CAST(date_diff('day', f.cohort,
        |      CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS age,
        |    sum(CAST(e.value AS DECIMAL(18,2))) AS rev
        |  FROM events e JOIN first f USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (SELECT cohort, age, rev,
        |    sum(rev) OVER (PARTITION BY cohort ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM rev)
        |SELECT CAST(c.cohort AS TIMESTAMP) AS cohort_week, age,
        |  CAST(sz.cohort_size AS BIGINT) AS cohort_size,
        |  CAST(c.rev AS DOUBLE) AS revenue,
        |  CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
        |  round(CAST(c.cum_rev AS DOUBLE) / sz.cohort_size, 6) AS ltv_per_user
        |FROM cum c JOIN sz ON c.cohort = sz.cohort
        |ORDER BY cohort_week, age""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"), col("value"))
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort"))
      val sz = first.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .select(col("cohort"),
          expr("datediff(CAST(date_trunc('week', ts) AS DATE), cohort) DIV 7")
            .as("age"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupBy(col("cohort"), col("age"))
        .agg(sum(col("v")).as("rev"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      rev.select(col("cohort"), col("age"), col("rev"),
          sum(col("rev")).over(w).as("cum_rev"))
        .join(broadcast(sz), Seq("cohort"))
        .select(col("cohort").cast("timestamp").as("cohort_week"), col("age"),
          col("cohort_size").cast("long").as("cohort_size"),
          col("rev").cast("double").as("revenue"),
          col("cum_rev").cast("double").as("cum_revenue"),
          round(col("cum_rev").cast("double") / col("cohort_size"), 6)
            .as("ltv_per_user"))
        .orderBy(col("cohort_week"), col("age"))
    },

    // ---- argMax / argMin with a deterministic tiebreak ----
    // ClickHouse's iconic argMax(arg, val) / argMin, via Spark's native
    // max_by/min_by — keyed on the UNIQUE (value, event_id) struct, never
    // the bare value: the testdata has hundreds of exact (user, value)
    // ties, and bare max_by is free to pick either side on a tie (and can
    // pick DIFFERENTLY between engines, partitionings, or reruns). The
    // oracle states the identical semantics as max over the packed struct
    // — equivalent because the key is unique. One hash aggregate on
    // user_id; map-side partials carry a single struct per group.
    Q("q163_argminmax",
      """SELECT user_id,
        |  (max(struct_pack(v := value, e := event_id, t := event_type))).t AS top_type,
        |  (min(struct_pack(v := value, e := event_id, t := event_type))).t AS bottom_type,
        |  round(max(value), 6) AS max_value,
        |  round(min(value), 6) AS min_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val key = struct(col("value"), col("event_id"))
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("event_type"), key).as("top_type"),
          min_by(col("event_type"), key).as("bottom_type"),
          round(max(col("value")), 6).as("max_value"),
          round(min(col("value")), 6).as("min_value"))
        .orderBy(col("user_id"))
    },

    // ---- mergeable quantile sketch rollup (quantileTDigest parity) ----
    // The mergeable-summary surface every 100 TB aggregation layer needs
    // (VERDICT r8 task 3): per-event_type decile sketches PLUS the global
    // roll-up, all through percentile_approx — Spark's
    // ApproximatePercentile rides QuantileSummaries (Greenwald–Khanna),
    // whose partials merge associatively, so the map-side combine / final
    // merge is exactly the partial-sketch → merged-sketch path a
    // pre-aggregated rollup or streaming state store keeps (ClickHouse
    // quantileTDigest parity; complements q157's exact stitched path —
    // PipelineOpsSpec pins the approx deciles inside q157's exact bucket
    // edges). Rows-only check, like q52's HLL: sketch VALUES are
    // implementation-defined, the row contract (types × 9 deciles + the
    // ALL rollup) is not.
    Q.rowsOnly("q166_quantile_sketch") { (s, dir) =>
      val ev = t(s, dir, "events")
      val probs = array((1 to 9).map(i => lit(i / 10.0)): _*)
      val per = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), probs, lit(10000)).as("qs"),
          count(lit(1)).cast("long").as("n_rows"))
      val glob = ev
        .agg(percentile_approx(col("value"), probs, lit(10000)).as("qs"),
          count(lit(1)).cast("long").as("n_rows"))
        .select(lit("ALL").as("event_type"), col("qs"), col("n_rows"))
      per.unionByName(glob)
        .select(col("event_type"), col("n_rows"),
          posexplode(col("qs")).as(Seq("p0", "approx_value")))
        .select(col("event_type"), (col("p0") + 1).cast("long").as("decile"),
          col("approx_value"), col("n_rows"))
        .orderBy(col("event_type"), col("decile"))
    },

    // ---- exact top-k via a Misra–Gries candidate pass (topK parity) ----
    // ClickHouse's `topK(N)` returns the approximate top-N list itself;
    // here the sketch is the CANDIDATE pass of an exact two-pass top-N
    // (VERDICT r8 task 4): pass 1 folds the bigram stream through the
    // mergeable [[graft.functions.MisraGries]] sketch (≤2k counters per
    // partition, merge = counter sum + re-prune), whose output provably
    // contains every item with true frequency > n/k; pass 2 recounts ONLY
    // those ≤2k candidates exactly (broadcast semi-pass + map-side
    // combine) and cuts the top 25 with a deterministic (cnt, item)
    // tiebreak. With k=1024 the testdata's 25th bigram count clears n/k
    // at every SF (margin checked: 43 vs 27 / 41 vs 26 / 330 vs 260), so
    // the result is bit-equal to the exact oracle — a CHECKED approximate
    // operator, same discipline as the capped dedup family.
    // MisraGriesSpec drives the prune/merge paths on a synthetic 50k-item
    // Zipf stream where the map actually overflows.
    Q("q167_topk_heavy_hitters",
      raw"""WITH w AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS ws
           |           FROM documents),
           |b AS (SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
           |        i -> ws[i] || ' ' || ws[i+1])) AS item FROM w)
           |SELECT item, CAST(count(*) AS BIGINT) AS cnt
           |FROM b GROUP BY item
           |ORDER BY cnt DESC, item
           |LIMIT 25""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bg = t(s, dir, "documents").select(wordsCol.as("words"))
        .select(explode(expr(
          """CASE WHEN size(words) >= 2 THEN
            |  transform(sequence(0, size(words) - 2),
            |    i -> concat(words[i], ' ', words[i+1]))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("item"))
      val sketch = graft.functions.MisraGries(1024)
      val cands = bg.as[String].select(sketch.toColumn).toDF("cands")
        .select(explode(col("cands")).as("item"))
      bg.join(broadcast(cands), Seq("item"))
        .groupBy(col("item")).agg(count(lit(1)).cast("long").as("cnt"))
        .orderBy(col("cnt").desc, col("item").asc)
        .limit(25)
    },

    // ---- exact weighted deciles (quantileExactWeighted parity) ----
    // ClickHouse's quantileExactWeighted(q)(v, w): sort by v, the
    // q-quantile is the first value whose cumulative weight reaches
    // q·ΣW. The cumulative weight rides Skew.globalRunningSum (stitched,
    // no single-partition window — the q157 rule, weighted), and every
    // comparison is INTEGER (cum·10 ≥ d·W, never a double ratio), so a
    // boundary can't drift on ulps. Each row then knows locally which
    // deciles it covers — (prev·10 DIV W + 1) .. (cum·10 DIV W), an O(1)
    // per-row sequence explode (≤ 9 total covering rows corpus-wide) —
    // instead of a 9× crossJoin re-scan; the oracle states the naive
    // range-join form. Weights are integral doubles (l_quantity), cast
    // BIGINT on both engines.
    Q("q168_weighted_deciles",
      """WITH r AS (SELECT l_extendedprice AS v,
        |    sum(CAST(l_quantity AS BIGINT)) OVER (
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM lineitem),
        |tot AS (SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tw
        |  FROM lineitem)
        |SELECT CAST(t.d AS BIGINT) AS decile, min(r.v) AS value
        |FROM range(1, 10) t(d), r, tot
        |WHERE r.cum * 10 >= t.d * tot.tw
        |GROUP BY t.d
        |ORDER BY decile""".stripMargin) { (s, dir) =>
      // DISTRIBUTION-LEVEL restructure (OPTIMIZATION_r17, guide §2.3):
      // weighted quantiles are a function of per-value TOTAL weights
      // alone — the value-level cumulative weight crosses each d·W/10
      // threshold at exactly the same v as the row-level running sum
      // (the StreamingWeightedDecilesSpec invariant, proven there). The
      // (v, Σw) aggregate is map-side combinable, drops the tie-break
      // columns from the sort entirely (2 columns reach the scan instead
      // of 4), and shrinks the stitched frame from |corpus| rows to
      // |distinct v|. Registry-cached because this plan reads it three
      // times: the tw collect, the stitch's boundary sample and the
      // bucketed pass then share ONE corpus scan.
      val li = CacheRegistry.cache(s, s"q168-dist:$dir") {
        t(s, dir, "lineitem")
          .groupBy(col("l_extendedprice").as("v"))
          .agg(sum(col("l_quantity").cast("long")).as("w"))
      }
      // The grand total `tw` is ONE exact long — collect it and fold it
      // in as a literal so the decile predicate codegens into the
      // stitch's own output stage (no BNLJ; the VERDICT r9 item 3 form).
      // sum over ZERO rows is NULL (and tw=0 would divide by zero in the
      // DIV predicate below): an empty lineitem yields the same empty
      // decile frame the oracle's join-against-empty produces (ADVICE r11)
      val twRow = li.agg(sum(col("w"))).head()
      val tw = if (twRow.isNullAt(0)) 0L else twRow.getLong(0)
      if (tw == 0L) li.select(lit(0L).as("decile"), col("v").as("value")).limit(0)
      else {
        val cum = graft.ops.Skew.globalRunningSum(li,
          Seq(col("v").asc),
          value = col("w"),
          numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt)
        // Filter to boundary-crossing rows BEFORE the Generate: the explode
        // used to evaluate the sequence CASE (and allocate an empty array)
        // for every corpus row. The integer predicate keeps ≤9 rows
        // corpus-wide, so the explode is free; the kept rows' sequences are
        // non-empty by construction.
        cum
          .filter(expr(
            s"(cum - w) * 10 DIV ${tw}L + 1 <= least(cum * 10 DIV ${tw}L, 9L)"))
          .select(col("v"), explode(expr(
            s"sequence((cum - w) * 10 DIV ${tw}L + 1, least(cum * 10 DIV ${tw}L, 9L))"))
            .as("decile"))
          .filter(col("decile").between(1, 9))
          .groupBy(col("decile")).agg(min(col("v")).as("value"))
          .orderBy(col("decile"))
      }
    },

    // ---- batch sessionization (30-minute inactivity gap) ----
    // The batch twin of q36's streaming session windows: per-user event
    // streams cut at >30 min gaps, one summary row per session. The
    // session id is a running sum of new-session flags over a window
    // partitioned by user_id — legitimate at 100 TB because user_id
    // cardinality GROWS with the data (1500 at sf0.1), unlike the ~20-
    // value source column the grouped stitch exists for; AQE sizes the
    // user-hash exchange like any other. All arithmetic on epoch micros
    // (exact longs); ts ties broken by event_id.
    Q("q169_batch_sessionize",
      """WITH e AS (SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_id, ts, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM e)
        |SELECT user_id, sid,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS session_start,
        |  CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS BIGINT)
        |    AS duration_sec,
        |  round(CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE), 6) AS sum_value
        |FROM s
        |GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // ts loads as TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — identity
      // cast under the pinned UTC session zone (the q158 rule)
      val us = (c: org.apache.spark.sql.Column) => unix_micros(c.cast("timestamp"))
      val flagged = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("new_s",
          when(lag(col("ts"), 1).over(w).isNull
            .or(us(col("ts")) - us(lag(col("ts"), 1).over(w))
              > 1800000000L), 1L).otherwise(0L))
      flagged
        .withColumn("sid", sum(col("new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          min(col("ts")).as("session_start"),
          expr("""(unix_micros(CAST(max(ts) AS TIMESTAMP))
                 | - unix_micros(CAST(min(ts) AS TIMESTAMP))) DIV 1000000"""
            .stripMargin).cast("long").as("duration_sec"),
          round(sum(col("value").cast("decimal(38,12)")).cast("double"), 6)
            .as("sum_value"))
        .orderBy(col("user_id"), col("sid"))
    },

    // ---- bounded-state distinct cap (uniqUpTo parity) ----
    // ClickHouse's uniqUpTo(N)(x): exact while ≤ N, N+1 as the saturated
    // marker — the cardinality GATE (is this group small?) answered in
    // O(N) state per group instead of count(DISTINCT)'s O(cardinality).
    // Typed [[graft.functions.UniqUpTo]] Aggregator via functions.udaf:
    // buffer caps at N+1 values, merge truncates (only the size can
    // matter once saturated). Two caps exercise both regimes on the
    // testdata: N=5 saturates everywhere, N=200 is exact at sf≤0.01 and
    // saturated at sf0.1. Oracle states the same contract via
    // least(count(DISTINCT…), N+1).
    Q("q170_uniq_upto",
      """SELECT event_type,
        |  least(CAST(count(DISTINCT user_id) AS BIGINT), 6) AS u5,
        |  least(CAST(count(DISTINCT user_id) AS BIGINT), 201) AS u200
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import s.implicits._
      val u5 = udaf(graft.functions.UniqUpTo(5))
      val u200 = udaf(graft.functions.UniqUpTo(200))
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(u5(col("user_id")).as("u5"), u200(col("user_id")).as("u200"))
        .orderBy(col("event_type"))
    },

    // ---- per-key map aggregate (sumMap parity, canonical form) ----
    // ClickHouse's sumMap merges (key → value) maps across rows, summing
    // per key. Spark-side: per-(user, type) partial counts → one map per
    // user via map_from_entries over the SORTED entry list, canonicalized
    // to a "type:count,…" string for the cross-engine compare (JSON/map
    // formatting is engine-specific; the sorted entry string is not).
    // Two narrow hash aggregates, map-side combined — the map never
    // shuffles, only (user, type, count) partials do.
    Q("q171_sum_map",
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY user_id, event_type)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
        |  string_agg(event_type || ':' || cnt, ',' ORDER BY event_type)
        |    AS type_counts
        |FROM c
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      c.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_types"),
          array_join(
            transform(
              map_entries(map_from_entries(
                array_sort(collect_list(struct(col("event_type"), col("cnt")))))),
              e => concat(e.getField("key"), lit(":"),
                e.getField("value").cast("string"))),
            ",").as("type_counts"))
        .orderBy(col("user_id"))
    },

    // ---- exact weighted top-k via a weighted Misra–Gries pass ----
    // ClickHouse's `topKWeighted(N)(item, weight)` — q167's two-pass
    // discipline with weighted mass: pass 1 folds (bigram, n_chars)
    // pairs through the mergeable [[graft.functions.MisraGriesWeighted]]
    // sketch (≤2k counters/partition; any item with true weight > W/k
    // provably survives any merge tree); pass 2 recounts ONLY those
    // candidates exactly and cuts the top 25 on a total (wt desc, item)
    // order. With k=1024 the 25th weighted bigram clears W/k at every SF
    // (margins checked: 16104 vs 10028 / 15483 vs 9446 / 121511 vs
    // 94833) — so the answer is bit-equal to the exact oracle.
    // MisraGriesWeightedSpec overflows the sketch synthetically, q167-
    // style. Weight here = owning doc's n_chars (integral, exact sums).
    Q("q179_topk_weighted",
      raw"""WITH w AS (SELECT n_chars,
           |            string_split_regex(lower(trim(text)), '\s+') AS ws
           |           FROM documents),
           |b AS (SELECT n_chars, unnest(list_transform(range(1, greatest(len(ws), 1)),
           |        i -> ws[i] || ' ' || ws[i+1])) AS item FROM w)
           |SELECT item, CAST(sum(n_chars) AS BIGINT) AS wt
           |FROM b GROUP BY item
           |ORDER BY wt DESC, item
           |LIMIT 25""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bg = t(s, dir, "documents")
        .select(col("n_chars"), wordsCol.as("words"))
        .select(col("n_chars"), explode(expr(
          """CASE WHEN size(words) >= 2 THEN
            |  transform(sequence(0, size(words) - 2),
            |    i -> concat(words[i], ' ', words[i+1]))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("item"))
      val sketch = graft.functions.MisraGriesWeighted(1024)
      val cands = bg.select(col("item"), col("n_chars").cast("long").as("w"))
        .as[(String, Long)].select(sketch.toColumn).toDF("cands")
        .select(explode(col("cands")).as("item"))
      bg.join(broadcast(cands), Seq("item"))
        .groupBy(col("item")).agg(sum(col("n_chars")).cast("long").as("wt"))
        .orderBy(col("wt").desc, col("item").asc)
        .limit(25)
    },

    // ---- mergeable HLL rollup (uniqCombined / uniqMerge parity) ----
    // ClickHouse's uniqCombined materializes per-group distinct-count
    // STATES that uniqMerge rolls up without rescanning — the
    // AggregatingMergeTree idiom. Here: one Datasketches HLL sketch per
    // event_type (hll_sketch_agg — map-side-combined partials), the ALL
    // row from hll_union_agg over those per-type sketches alone (the
    // rollup never touches raw rows — at 100 TB that is the whole
    // point), estimates surfaced per row. Rows-only check like q52:
    // estimate values are implementation-defined (DuckDB's HLL differs);
    // the row contract (5 types + ALL × two cardinality columns) is not.
    // HllRollupSpec pins the error envelope and union-vs-direct
    // consistency; user_id exercises the exact-sparse regime (≤1500
    // distinct), props the estimating regime (~|rows| distinct).
    Q.rowsOnly("q181_hll_rollup") { (s, dir) =>
      val per = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk_u"),
          hll_sketch_agg(col("props")).as("sk_p"),
          count(lit(1)).cast("long").as("n_rows"))
      val glob = per
        .agg(hll_union_agg(col("sk_u")).as("sk_u"),
          hll_union_agg(col("sk_p")).as("sk_p"),
          sum(col("n_rows")).cast("long").as("n_rows"))
        .select(lit("ALL").as("event_type"), col("sk_u"), col("sk_p"), col("n_rows"))
      per.unionByName(glob)
        .select(col("event_type"), col("n_rows"),
          hll_sketch_estimate(col("sk_u")).as("approx_users"),
          hll_sketch_estimate(col("sk_p")).as("approx_props"))
        .orderBy(col("event_type"))
    },

    // ---- sign-collapse state (CollapsingMergeTree parity) ----
    // ClickHouse's CollapsingMergeTree cancels (+1, -1) row pairs per
    // key at merge time; the canonical read is sum(value·sign) GROUP BY
    // key HAVING sum(sign) > 0 — stated here verbatim over a
    // deterministic sign derivation (every third event retracts). Values
    // quantized DECIMAL(18,6) before the signed sum so the collapse is
    // exact and order-independent on both engines (the q101 rule). One
    // map-side-combined hash aggregate; the HAVING prunes dead keys
    // before any downstream join would see them.
    Q("q182_collapsing_state",
      """WITH s AS (SELECT user_id,
        |    CAST(value AS DECIMAL(18,6)) AS v,
        |    CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END AS sign
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(sign) AS BIGINT) AS net_rows,
        |  CAST(sum(v * sign) AS DOUBLE) AS net_value
        |FROM s
        |GROUP BY user_id
        |HAVING sum(sign) > 0
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), col("value").cast("decimal(18,6)").as("v"),
          when(col("event_id") % 3 === 0, lit(-1)).otherwise(lit(1)).as("sign"))
        .groupBy(col("user_id"))
        .agg(sum(col("sign")).cast("long").as("net_rows"),
          sum(col("v") * col("sign")).cast("double").as("net_value"))
        .filter(col("net_rows") > 0)
        .orderBy(col("user_id"))
    },

    // ---- adjacent-pair sequence count (sequenceCount parity, strict-
    //      next form) ----
    // ClickHouse's sequenceCount('(?1)(?2)')(ts, c1, c2) counts
    // non-overlapping conditionA→conditionB matches per key; this states
    // the strict-next variant (B immediately follows A in the user's
    // (ts, event_id)-ordered stream — adjacent matches can't overlap, so
    // the count is exactly the adjacent-pair count). lead() keys on
    // user_id (cardinality grows with data, the q169 rule), then one
    // conditional count per user.
    Q("q184_sequence_count",
      """WITH o AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT user_id,
        |  CAST(count(*) FILTER (WHERE event_type = 'click'
        |                          AND nxt = 'purchase') AS BIGINT)
        |    AS click_then_buy
        |FROM o
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("nxt"))
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "click" && col("nxt") === "purchase", 1))
          .cast("long").as("click_then_buy"))
        .orderBy(col("user_id"))
    },

    // ---- first-touch / last-touch attribution ----
    // Marketing attribution over the event stream: each purchase's value
    // is credited to the user's FIRST preceding non-purchase event type
    // (first-touch model) and separately to the LAST one (last-touch);
    // purchases with no prior touch land on '(none)'. Both carries are
    // IGNORE NULLS window navigations over the per-user timeline —
    // scale-legal per the q169 rule (user_id cardinality grows with
    // data) — followed by a |channels|-row aggregate. Revenue sums in
    // DECIMAL(18,6) micro-units of the double `value` (cast is tie-free:
    // a double landing exactly on a .5 micro-unit boundary is not
    // representable), so the per-channel totals are exact in both
    // engines — no fold-order hazard.
    Q("q228_attribution",
      raw"""WITH o AS (SELECT user_id, ts, event_id, event_type, value,
           |    CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
           |  FROM events),
           |c AS (SELECT *,
           |    first_value(touch IGNORE NULLS) OVER
           |      (PARTITION BY user_id ORDER BY ts, event_id
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
           |    last_value(touch IGNORE NULLS) OVER
           |      (PARTITION BY user_id ORDER BY ts, event_id
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
           |  FROM o),
           |p AS (SELECT coalesce(ft, '(none)') AS first_touch,
           |    coalesce(lt, '(none)') AS last_touch,
           |    CAST(value AS DECIMAL(18,6)) AS rev
           |  FROM c WHERE event_type = 'purchase')
           |SELECT model, channel, count(*) AS conv,
           |  CAST(sum(rev) AS DOUBLE) AS revenue
           |FROM (
           |  SELECT 'first_touch' AS model, first_touch AS channel, rev FROM p
           |  UNION ALL
           |  SELECT 'last_touch' AS model, last_touch AS channel, rev FROM p)
           |GROUP BY model, channel
           |ORDER BY model, channel""".stripMargin) { (s, dir) =>
      attribution(t(s, dir, "events"))
    }
  )

  /** The q228 attribution core over ANY events-shaped frame — public so
    * the spec can drive planted timelines through the exact production
    * windows. */
  def attribution(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val p = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"), touch.as("touch"))
      .select(col("*"),
        first(col("touch"), ignoreNulls = true).over(w).as("ft"),
        last(col("touch"), ignoreNulls = true).over(w).as("lt"))
      .filter(col("event_type") === "purchase")
      .select(
        coalesce(col("ft"), lit("(none)")).as("first_touch"),
        coalesce(col("lt"), lit("(none)")).as("last_touch"),
        col("value").cast("decimal(18,6)").as("rev"))
    val ftAgg = p.select(lit("first_touch").as("model"),
      col("first_touch").as("channel"), col("rev"))
    val ltAgg = p.select(lit("last_touch").as("model"),
      col("last_touch").as("channel"), col("rev"))
    ftAgg.unionAll(ltAgg)
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("conv"),
        sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("model"), col("channel"))
  }
}
