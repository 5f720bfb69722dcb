package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Q
import graft.ops.Loops.Pinnable
import graft.schema.Tables.t

/** Data-selection / training-prep operators — the curation stages a
  * 100 TB LLM corpus passes through AFTER ingest and BEFORE tokenization
  * (q314–q321 from round 14, q323 from round 15, q336 from round 16):
  *
  *  - q314 paragraph-level exact dedup (the CCNet shape: drop every later
  *    occurrence of a repeated paragraph ACROSS the whole corpus, keep
  *    the first, reassemble the documents);
  *  - q315 DPO preference-pair construction (chosen/rejected per prompt
  *    group by a model score, margin-filtered — the RLHF data-prep stage);
  *  - q316 DSIR importance resampling (hashed-feature log-ratio weights +
  *    a stratified per-source quota — data selection FOR a target
  *    distribution, where q313 is a single binary quality gate);
  *  - q317 LM-perplexity bucketing (the CCNet/Wenzek head/middle/tail
  *    split: a bigram stupid-backoff LM trained on a clean reference
  *    slice scores every document, per-language perplexity terciles);
  *  - q318 Gopher repetition signals (top-/duplicate-2-gram character
  *    fractions at the published 0.20 thresholds — doc-local, zero
  *    exchange);
  *  - q319 exact-substring pruning (Lee et al. 2022, word-aligned: remove
  *    every non-first occurrence of any 6-word window, reassemble);
  *  - q320 the composed CCNet pipeline (dedup → LM train on the cleaned
  *    reference → score → per-(lang, tercile) corpus report);
  *  - q321 token-budget epoch planner (temperature-mixed source weights,
  *    4-epoch repetition ceiling — Muennighoff et al. 2023);
  *  - q323 DoReMi mixture reweighting (round 15: one Group-DRO
  *    multiplicative-weights round over per-source excess cross-entropy
  *    under the q317 reference LM — Xie et al. 2023);
  *  - q336 DoReMi iterated (round 16: three MW rounds with uniform
  *    smoothing + the averaged mixture the paper actually ships;
  *    [[doremiUntil]] detects the smoothed recurrence's fixed point);
  *  - q338 two-phase annealing schedule (round 16: the midtraining
  *    stage — 90% of the budget on q321's temperature mixture, the
  *    final 10% only on sources whose mean q313 score beats the
  *    doc-weighted corpus mean — Llama 3 / OLMo 2 shape).
  *
  * The reference (Makasinov/kafka-consumer-2-clickhouse) has no analytics
  * of its own — `pkg/converter/converter.go:52-57` moves opaque payloads —
  * so these derive from the published pipeline designs (CCNet: Wenzek et
  * al. 2020; DSIR: Xie et al. 2023; DPO: Rafailov et al. 2023) re-expressed
  * as declarative Spark plans with exact-arithmetic DuckDB oracles.
  *
  * Scale notes are per-query in the scaladoc below; the common discipline:
  * join keys are the 112-bit `graft_md5_split` pair (fixed 16 bytes, never
  * the paragraph/segment text), LM/weight tables broadcast only under the
  * `graft.ppl.*` size guard (count-prune + shuffle-join fallback — a
  * production KenLM table is count-pruned to broadcast size, but the
  * ENGINE must not assume it), and every per-corpus pass is one
  * hash-partial aggregate plus at most one shuffle on a bounded key.
  */
object SelectionOps {

  /** Words per synthetic "paragraph". The test corpus has no newlines, so
    * segmentation is a fixed-width word window — the segmentation is the
    * stand-in; the dedup semantics (global first-occurrence keep) are the
    * real CCNet contract. */
  private[ops] val SegW = 8

  /** DPO margin gate: pairs whose score margin is below this are dropped
    * (low-margin pairs carry no preference signal). */
  private[ops] val DpoMargin = 7000L

  private[ops] val DsirBuckets = 4096L

  private val wsCol: Column =
    split(lower(trim(coalesce(col("text"), lit("")))), "\\s+", -1)

  /** The q314 segmentation/hash seam over any (doc_id, text) frame:
    * (doc_id, seg_i, seg, h1, h2), one row per SegW-word segment — shared
    * by the batch query and the streaming cross-batch composition
    * (StreamingSelectionSpec), so the incremental path can never drift
    * from the batch semantics. */
  def segmentFrame(docs0: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs0.sparkSession)
    docs0.withColumn("ws", wsCol)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(ws)/$SegW.0) as int) - 1),
           |  i -> concat_ws(' ', slice(ws, i*$SegW+1, $SegW)))""".stripMargin))
        .as(Seq("seg_i", "seg")))
      .withColumn("hs", call_function("graft_md5_split", col("seg")))
      .select(col("doc_id"), col("seg_i"), col("seg"),
        col("hs").getItem(0).as("h1"), col("hs").getItem(1).as("h2"))
  }

  /** q314's dedup as a TRANSFORM: the documents frame with `n_segs`, the
    * kept segment-index array `keep`, and the reassembled `clean` text —
    * q314 formats it per doc; q320 feeds the cleaned corpus onward into
    * the LM filter (the CCNet stage order). The frame that enters ANY
    * exchange is (doc_id, seg_i, h1, h2) — the segment text is hashed
    * away at the scan and re-materialized per doc from the word array at
    * the end (measured: the text-carrying formulation shuffled 11.6
    * KB/doc and went superlinear at 400k docs; this one moves
    * ~32 B/segment, SCALE.md round 14). */
  def paragraphCleaned(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("ws", wsCol)
      .withColumn("n_segs", expr(s"cast(ceil(size(ws)/$SegW.0) as long)"))
    val segs = segmentFrame(docs.select(col("doc_id"), col("text")))
      .drop("seg")
    val first = segs.groupBy(col("h1"), col("h2"))
      .agg(min(struct(col("doc_id"), col("seg_i"))).as("first"))
    val keptIds = segs.join(first, Seq("h1", "h2"))
      .filter(col("first.doc_id") === col("doc_id") &&
        col("first.seg_i") === col("seg_i"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("seg_i"))).as("keep"))
    docs.join(keptIds, Seq("doc_id"), "left")
      .withColumn("keep",
        coalesce(col("keep"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("clean", expr(
        s"""array_join(transform(keep,
           |  i -> concat_ws(' ', slice(ws, i*$SegW+1, $SegW))), ' ')""".stripMargin))
  }

  /** q313's closed-form classifier score as a (doc_id, score) frame —
    * q315 consumes it as the preference signal (a real RLHF pipeline feeds
    * pair construction from reward-model inference, not from hand rules). */
  private def classifierScore(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val ws = wsCol
    val bigrams = zip_with(
      slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    t(s, dir, "documents")
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"),
        pmod(call_function("graft_md5_split", col("bg")).getItem(0),
          lit(ClassifierOps.Buckets)).as("bk"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bk") * lit(2654435761L) % 1001 - 500)
        .cast("long").as("score"))
  }

  /** The q317 LM chain in DuckDB SQL, reading (doc_id, lang, source,
    * text) rows from `src` — shared by q317 and the q320 composition.
    * Ends at the `sc` CTE (doc_id, lang, n_pairs, logprob, ppl). */
  private def duckPplChain(src: String): String =
    raw"""w AS (SELECT doc_id, lang, source,
       |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM $src),
       |rw AS (SELECT unnest(ws) AS word FROM w WHERE source = 'src0'),
       |c1 AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM rw GROUP BY word),
       |nv AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
       |  FROM c1),
       |rb AS (SELECT ws[i] AS w1, ws[i+1] AS w2
       |  FROM w, unnest(range(1, len(ws))) AS t(i) WHERE source = 'src0'),
       |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
       |  FROM rb GROUP BY w1, w2),
       |dp AS (SELECT doc_id, lang, ws[i] AS w1, ws[i+1] AS w2
       |  FROM w, unnest(range(1, len(ws))) AS t(i)),
       |terms AS (SELECT d.doc_id, d.lang,
       |    CAST(round(CASE WHEN b.c IS NOT NULL
       |      THEN ln(CAST(b.c AS DOUBLE) / u1.c)
       |      ELSE ln((CAST(0.4 AS DOUBLE) * (coalesce(u2.c, 0) + 1))
       |              / (nv.n + nv.v)) END, 9) AS DECIMAL(18,9)) AS term
       |  FROM dp d
       |    LEFT JOIN c12 b ON d.w1 = b.w1 AND d.w2 = b.w2
       |    LEFT JOIN c1 u1 ON d.w1 = u1.word
       |    LEFT JOIN c1 u2 ON d.w2 = u2.word, nv),
       |agg AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_pairs,
       |    sum(term) AS ll FROM terms GROUP BY doc_id, lang),
       |sc AS (SELECT doc_id, lang, n_pairs,
       |    round(CAST(ll AS DOUBLE), 6) AS logprob,
       |    round(exp(-CAST(ll AS DOUBLE) / n_pairs), 6) AS ppl FROM agg)""".stripMargin

  private val duckBucket: String =
    "CASE ntile(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id) " +
      "WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"

  /** The q313 score CTE chain in DuckDB SQL (shared by q315's oracle). */
  private def duckScore: String =
    raw"""w AS (SELECT doc_id,
       |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
       |    i -> md5(ws[i] || ' ' || ws[i+1]))) AS m FROM w),
       |b AS (SELECT doc_id,
       |    (${TextCommon.duckHex("m", 14)}) % ${ClassifierOps.Buckets} AS bk FROM g),
       |sc AS (SELECT doc_id,
       |    CAST(sum((bk * 2654435761) % 1001 - 500) AS BIGINT) AS score
       |  FROM b GROUP BY doc_id)""".stripMargin

  val qs: Seq[Q] = Seq(

    // ---- q314: CCNet paragraph-level exact dedup ----
    // Global first-occurrence keep: a segment instance survives iff it is
    // the (doc_id, seg_i)-minimal instance of its exact text anywhere in
    // the corpus; documents are reassembled from their surviving segments
    // in order. Scale shape: segments are hashed to the 112-bit
    // graft_md5_split pair IMMEDIATELY, so the first-occurrence aggregate
    // and the keeper join both move two longs per segment, never the
    // segment text (the q41/q283 band-key discipline); one exchange for
    // the min-aggregate, one for the join, one partial hash aggregate to
    // reassemble — all on bounded-width rows. At 100 TB this is exactly
    // CCNet's shard-hash layout: the aggregate's hash partitioning IS the
    // dedup shard.
    Q("q314_paragraph_dedup",
      raw"""WITH w AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
         |seg AS (SELECT doc_id, i - 1 AS seg_i,
         |    array_to_string(ws[(i-1)*$SegW+1 : i*$SegW], ' ') AS seg
         |  FROM w, unnest(range(1, CAST(ceil(len(ws)/$SegW.0) AS BIGINT)+1)) AS t(i)),
         |k AS (SELECT doc_id, seg_i, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_i) AS rn
         |  FROM seg),
         |agg AS (SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_segs,
         |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |    string_agg(seg, ' ' ORDER BY seg_i) FILTER (WHERE rn = 1) AS clean
         |  FROM k GROUP BY doc_id)
         |SELECT doc_id, n_segs, n_dup,
         |  CASE WHEN clean IS NULL OR clean = '' THEN 0
         |       ELSE len(string_split(clean, ' ')) END AS clean_words,
         |  md5(coalesce(clean, '')) AS clean_md5
         |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      paragraphCleaned(s, dir)
        .select(col("doc_id"), col("n_segs"),
          (col("n_segs") - size(col("keep"))).cast("long").as("n_dup"),
          when(col("clean") === "", 0L)
            .otherwise(size(split(col("clean"), " ")).cast("long"))
            .as("clean_words"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q315: DPO preference-pair construction ----
    // Per prompt group (doc_id % 50 — the deterministic stand-in for a
    // shared prompt), chosen = argmax / rejected = argmin of the q313
    // classifier score with a doc_id tiebreak on both sides, margin
    // gated at DpoMargin. One partial aggregate on the prompt key; the
    // score input is itself a partial aggregate — no window, no sort
    // until the presentation ORDER BY. At 100 TB the prompt key is the
    // natural partitioner and group size is bounded by candidates-per-
    // prompt (n-best lists are small by construction).
    Q("q315_dpo_pairs",
      raw"""WITH $duckScore,
         |cand AS (SELECT doc_id % 50 AS prompt_id, doc_id, score FROM sc),
         |pair AS (SELECT prompt_id,
         |    CAST(count(*) AS BIGINT) AS n_cand,
         |    max(struct_pack(s := score, d := -doc_id)) AS ch,
         |    min(struct_pack(s := score, d := doc_id)) AS rj
         |  FROM cand GROUP BY prompt_id)
         |SELECT prompt_id, n_cand,
         |  -struct_extract(ch, 'd') AS chosen_doc,
         |  struct_extract(ch, 's') AS chosen_score,
         |  struct_extract(rj, 'd') AS rejected_doc,
         |  struct_extract(rj, 's') AS rejected_score,
         |  struct_extract(ch, 's') - struct_extract(rj, 's') AS margin,
         |  CASE WHEN struct_extract(ch, 's') - struct_extract(rj, 's')
         |         >= $DpoMargin THEN 'keep' ELSE 'drop' END AS label
         |FROM pair ORDER BY prompt_id""".stripMargin) { (s, dir) =>
      val ch = max(struct(col("score").as("s"), (-col("doc_id")).as("d")))
      val rj = min(struct(col("score").as("s"), col("doc_id").as("d")))
      classifierScore(s, dir)
        .select((col("doc_id") % 50).as("prompt_id"), col("doc_id"), col("score"))
        .groupBy(col("prompt_id"))
        .agg(count(lit(1)).cast("long").as("n_cand"), ch.as("ch"), rj.as("rj"))
        .select(col("prompt_id"), col("n_cand"),
          (-col("ch.d")).as("chosen_doc"), col("ch.s").as("chosen_score"),
          col("rj.d").as("rejected_doc"), col("rj.s").as("rejected_score"),
          (col("ch.s") - col("rj.s")).as("margin"),
          when(col("ch.s") - col("rj.s") >= DpoMargin, lit("keep"))
            .otherwise(lit("drop")).as("label"))
        .orderBy(col("prompt_id"))
    },

    // ---- q316: DSIR importance resampling ----
    // Hashed-unigram features; the importance weight per bucket is the
    // closed-form integer log-ratio λ(bk) = ((bk+7)·2654435761) % 2001 −
    // 1000 (standing in for log p_target − log p_raw over the same
    // hashed feature space — Xie et al. 2023 §3), a document's score is
    // Σ λ over its RAW tokens, and selection is a stratified per-source
    // top-⌈n/4⌉ — resampling toward the target while preserving source
    // structure. Exact integer arithmetic end-to-end. Scale: the score
    // is one partial hash aggregate off the codegen'd graft_md5_split
    // bucket (q313's shape); ranking partitions by source (bounded
    // cardinality), and at 100 TB the per-source rank becomes a
    // per-source quantile threshold — same semantics, no global sort.
    Q("q316_dsir_resample",
      raw"""WITH w AS (SELECT doc_id, source,
         |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
         |  FROM documents),
         |b AS (SELECT doc_id, source, md5(word) AS m FROM w),
         |bk AS (SELECT doc_id, source,
         |    (${TextCommon.duckHex("m", 14)}) % $DsirBuckets AS bk FROM b),
         |sc AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(((bk + 7) * 2654435761) % 2001 - 1000) AS BIGINT)
         |      AS dsir_score
         |  FROM bk GROUP BY doc_id, source),
         |r AS (SELECT *,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY dsir_score DESC, doc_id) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
         |  FROM sc)
         |SELECT doc_id, source, n_tokens, dsir_score, rk,
         |  CASE WHEN rk <= CAST(ceil(n_src / 4.0) AS BIGINT)
         |       THEN 'keep' ELSE 'drop' END AS label
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val sc = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), explode(wsCol).as("word"))
        .select(col("doc_id"), col("source"),
          pmod(call_function("graft_md5_split", col("word")).getItem(0),
            lit(DsirBuckets)).as("bk"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum((col("bk") + 7) * lit(2654435761L) % 2001 - 1000)
            .cast("long").as("dsir_score"))
      val bySrc = Window.partitionBy(col("source"))
      sc.withColumn("rk", row_number().over(
          bySrc.orderBy(col("dsir_score").desc, col("doc_id"))).cast("long"))
        .withColumn("n_src", count(lit(1)).over(bySrc).cast("long"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("dsir_score"), col("rk"),
          when(col("rk") <= ceil(col("n_src") / 4.0).cast("long"), lit("keep"))
            .otherwise(lit("drop")).as("label"))
        .orderBy(col("doc_id"))
    },

    // ---- q317: LM-perplexity head/middle/tail bucketing ----
    // The CCNet quality split: a bigram stupid-backoff LM (counts from
    // the src0 reference slice; p = c12/c1 when seen, else
    // 0.4·(c2+1)/(N+V) — backoff to add-one unigram) scores every
    // document; per-language perplexity terciles label head/middle/tail.
    // Per-term ln values quantize at 9 dp into DECIMAL(18,9) before the
    // per-document sum (the q281 discipline — double fold order would
    // diverge across engines). Scale: the LM (c12, c1, N, V) broadcasts
    // under the graft.ppl.maxBroadcastRows guard (conf-gated count-prune
    // via graft.ppl.minPairCount; shuffle-join fallback above the guard),
    // and the tercile is the stitched grouped rank + exact ntile
    // arithmetic — no per-language global-sort window. Details on the
    // perplexityBuckets scaladoc below.
    Q("q317_perplexity_buckets",
      raw"""WITH ${duckPplChain("documents")}
         |SELECT doc_id, lang, n_pairs, logprob, ppl,
         |  $duckBucket AS bucket
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      perplexityBuckets(t(s, dir, "documents"), "src0",
        memoKey = Some(s"ppl-shared:$dir:src0"))
    },

    // ---- q318: Gopher repetition signals ----
    // The MassiveText repetition battery (Rae et al. 2021, Table A1) over
    // word 2-grams: top-2-gram character fraction (occurrences × length
    // of the most frequent 2-gram over the canonical character count) and
    // duplicate-2-gram character fraction (characters covered by ANY
    // 2-gram occurring ≥2 times in the document — an exact INTERVAL UNION
    // over char spans, counted once, not the naive Σ c·len). Both at the
    // published 0.20 drop threshold. Everything is integers until the two
    // final fractions: char offsets are prefix sums over the word array,
    // spans are word-aligned [start, start+glen), and the union is the
    // classic running-max scan. q63 counts n-gram multiplicity; this is
    // the character-coverage formulation the Gopher filters actually
    // threshold on.
    //
    // Scale shape: every signal is WITHIN-document, so the whole operator
    // is ONE doc-local expression over the word array — gram (hash, len)
    // pairs packed into single longs (low 14 bits = length, clamped at
    // 16383 so a pathological ≥16 KB two-word gram cannot overflow the
    // length field into the hash bits; equality of the pack == equality
    // of (hash₄₉, len) — md5_split[0] is 56 bits, shiftright 7 keeps 49 —
    // so sorted-adjacency runs ARE
    // gram occurrence groups), array_sort on the primitive longs, one
    // run scan for the top count, and the span union reduced to word
    // coverage (a 2-gram span covers words i, i+1 and the space between;
    // the space between words i,i+1 is covered iff gram i is duplicated,
    // word w iff gram w−1 or gram w is) — no char offsets, no intervals.
    // The plan's ONLY exchange is the presentation sort.
    //
    // Two measured traps shaped this form (SCALE.md round 14):
    //  - the explode → per-doc windows → gram-text groupBy → self-join
    //    formulation shuffled 41 KB/doc (16.6 GB at 400k docs) for a
    //    per-document answer;
    //  - the "obvious" HOF formulation sorted ARRAY<STRUCT> (interpreted
    //    struct comparator: 172 s vs 9 s for the packed-long sort at
    //    100k docs) and let CollapseProject inline the duplicated-hash
    //    set INTO per-element lambdas, re-sorting per gram (280 s). The
    //    single-element-transform let-binding below pins pks/srt/dh to
    //    one evaluation per row: 16 s at 100k docs, zero exchange.
    Q("q318_gopher_repetition",
      raw"""WITH w AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
         |o0 AS (SELECT doc_id, i, ws[i+1] AS word, len(ws[i+1]) AS wl
         |  FROM w, unnest(range(0, len(ws))) AS t(i)),
         |off AS (SELECT *, coalesce(sum(wl + 1)
         |      OVER (PARTITION BY doc_id ORDER BY i
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS wstart
         |  FROM o0),
         |tot AS (SELECT doc_id, CAST(sum(wl) + count(*) - 1 AS BIGINT) AS n_chars
         |  FROM off GROUP BY doc_id),
         |g AS (SELECT doc_id, i AS gi,
         |    word || ' ' || lead(word) OVER win AS gram,
         |    wstart AS gstart, wl + lead(wl) OVER win + 1 AS glen
         |  FROM off WINDOW win AS (PARTITION BY doc_id ORDER BY i)
         |  QUALIFY lead(word) OVER win IS NOT NULL),
         |cnt AS (SELECT doc_id, gram, count(*) AS c, any_value(glen) AS glen
         |  FROM g GROUP BY doc_id, gram),
         |top AS (SELECT doc_id, max(struct_pack(c := c, g := glen)) AS tp
         |  FROM cnt GROUP BY doc_id),
         |dupocc AS (SELECT g.doc_id, g.gstart, g.gstart + g.glen AS gend
         |  FROM g JOIN cnt ON g.doc_id = cnt.doc_id AND g.gram = cnt.gram
         |  WHERE cnt.c >= 2),
         |uni AS (SELECT doc_id, greatest(0, gend - greatest(gstart,
         |      coalesce(max(gend) OVER (PARTITION BY doc_id ORDER BY gstart
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS inc
         |  FROM dupocc),
         |cov AS (SELECT doc_id, CAST(sum(inc) AS BIGINT) AS dup_chars
         |  FROM uni GROUP BY doc_id)
         |SELECT t.doc_id, t.n_chars,
         |  round(struct_extract(tp, 'c') * struct_extract(tp, 'g')
         |    * 1.0 / t.n_chars, 6) AS top_frac,
         |  round(coalesce(cov.dup_chars, 0) * 1.0 / t.n_chars, 6) AS dup_frac,
         |  CASE WHEN round(struct_extract(tp, 'c') * struct_extract(tp, 'g')
         |           * 1.0 / t.n_chars, 6) > 0.2
         |         OR round(coalesce(cov.dup_chars, 0) * 1.0 / t.n_chars, 6) > 0.2
         |       THEN 'drop' ELSE 'keep' END AS label
         |FROM tot t JOIN top ON t.doc_id = top.doc_id
         |  LEFT JOIN cov ON t.doc_id = cov.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      // newrun = run+1 if the sorted pack repeats, else 1; best (count,
      // glen) updated per step — the lexicographic max(struct(c, glen))
      val newrun = "IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT))"
      val better = s"$newrun > acc.bc OR ($newrun = acc.bc AND (x % 16384) > acc.bg)"
      t(s, dir, "documents")
        .withColumn("ws", wsCol)
        .withColumn("m", size(col("ws")) - 1) // gram count
        .filter(col("m") >= 1) // the oracle's g CTE also drops 1-word docs
        .withColumn("r", expr(
          s"""transform(array(
             |    transform(sequence(1, m), i ->
             |      shiftleft(shiftright(graft_md5_split(concat(
             |        element_at(ws, i), ' ', element_at(ws, i + 1)))[0], 7), 14)
             |      + least(CAST(length(element_at(ws, i))
             |             + length(element_at(ws, i + 1)) + 1 AS BIGINT),
             |          CAST(16383 AS BIGINT)))), pks ->
             |  transform(array(array_sort(pks)), srt ->
             |    transform(array(IF(size(pks) >= 2,
             |        array_distinct(filter(transform(sequence(1, size(pks) - 1),
             |          k -> IF(srt[k] = srt[k-1], srt[k], NULL)),
             |          x -> x IS NOT NULL)),
             |        CAST(array() AS ARRAY<BIGINT>))), dh ->
             |      named_struct(
             |        'tp', aggregate(srt,
             |          named_struct('prev', CAST(-1 AS BIGINT),
             |            'run', CAST(0 AS BIGINT), 'bc', CAST(0 AS BIGINT),
             |            'bg', CAST(0 AS BIGINT)),
             |          (acc, x) -> named_struct(
             |            'prev', x,
             |            'run', $newrun,
             |            'bc', IF($better, $newrun, acc.bc),
             |            'bg', IF($better, x % 16384, acc.bg)),
             |          acc -> named_struct('c', acc.bc, 'g', acc.bg)),
             |        'spaces', CAST(size(filter(pks,
             |            p -> array_contains(dh, p))) AS BIGINT),
             |        'wchars', aggregate(sequence(1, size(ws)), CAST(0 AS BIGINT),
             |          (acc, w) -> acc + IF(
             |            (w >= 2 AND array_contains(dh, element_at(pks, w - 1)))
             |            OR (w <= size(pks) AND array_contains(dh, element_at(pks, w))),
             |            CAST(length(element_at(ws, w)) AS BIGINT),
             |            CAST(0 AS BIGINT))),
             |        'nchars', aggregate(ws, CAST(0 AS BIGINT),
             |          (acc, w) -> acc + length(w) + 1) - 1)
             |    )[0]
             |  )[0]
             |)[0]""".stripMargin))
        .select(col("doc_id"), col("r.nchars").as("n_chars"),
          round(col("r.tp.c") * col("r.tp.g") * lit(1.0) / col("r.nchars"), 6)
            .as("top_frac"),
          round((col("r.spaces") + col("r.wchars")) * lit(1.0)
            / col("r.nchars"), 6).as("dup_frac"))
        .withColumn("label",
          when(col("top_frac") > 0.2 || col("dup_frac") > 0.2, lit("drop"))
            .otherwise(lit("keep")))
        .orderBy(col("doc_id"))
    },

    // ---- q319: exact-substring pruning ----
    // The ExactSubstr dedup of Lee et al. 2022 ("Deduplicating Training
    // Data Makes Language Models Better"), word-aligned: every OVERLAPPING
    // 6-word window that occurs ≥2 times anywhere in the corpus is a
    // duplicate span; every occurrence EXCEPT the global (doc_id, pos)-
    // first is removed; a word survives iff no removed span covers it,
    // and documents are reassembled from surviving words. The paper does
    // this with a corpus-wide suffix array; the Spark-native equivalent
    // is the same three bounded-width exchanges as q314 (hash-grouped
    // first-occurrence min, keeper join on the 112-bit pair, per-doc
    // reassembly) plus a bounded explode (each duplicate occurrence
    // covers exactly 6 word slots) and an anti-join — no suffix array,
    // no global sort, and the covered-slot frame is 2 longs per row.
    Q("q319_exact_substring_prune",
      raw"""WITH w AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
         |g AS (SELECT doc_id, i AS gi, array_to_string(ws[i:i+5], ' ') AS gram
         |  FROM w, unnest(range(1, len(ws) - 4)) AS t(i)),
         |f AS (SELECT gram, count(*) AS c,
         |    min(struct_pack(d := doc_id, i := gi)) AS first
         |  FROM g GROUP BY gram),
         |dup AS (SELECT g.doc_id, g.gi FROM g JOIN f ON g.gram = f.gram
         |  WHERE f.c >= 2 AND NOT (g.doc_id = struct_extract(f.first, 'd')
         |                      AND g.gi = struct_extract(f.first, 'i'))),
         |cov AS (SELECT DISTINCT doc_id, unnest(range(gi, gi + 6)) AS wi FROM dup),
         |words AS (SELECT doc_id, i + 1 AS wi, ws[i + 1] AS word
         |  FROM w, unnest(range(0, len(ws))) AS t(i)),
         |kept AS (SELECT wo.doc_id, wo.wi, wo.word FROM words wo
         |  LEFT JOIN cov ON wo.doc_id = cov.doc_id AND wo.wi = cov.wi
         |  WHERE cov.wi IS NULL),
         |ka AS (SELECT doc_id, count(*) AS kept_words,
         |    string_agg(word, ' ' ORDER BY wi) AS clean
         |  FROM kept GROUP BY doc_id)
         |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
         |  CAST(len(w.ws) - coalesce(ka.kept_words, 0) AS BIGINT) AS removed_words,
         |  CAST(coalesce(ka.kept_words, 0) AS BIGINT) AS kept_words,
         |  md5(coalesce(ka.clean, '')) AS kept_md5
         |FROM w LEFT JOIN ka ON w.doc_id = ka.doc_id
         |ORDER BY w.doc_id""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      // Same no-text-in-the-shuffle discipline as q314: every exchanged
      // frame is (doc_id, gi, h1, h2) or narrower; covered word slots are
      // collected per doc as an INT array and the pruned text is rebuilt
      // doc-locally from the word array.
      //
      // Window hashing stays INSIDE whole-stage codegen: the window index
      // comes from a Generate over sequence(1, n−5) and the key is the
      // codegen'd graft_md5_split over a codegen'd concat_ws/element_at —
      // no higher-order function anywhere in the gram stage. Both HOF
      // formulations measured ~equal and ~20× slower (322 s at 100k docs:
      // one md5 per materialized window string under an interpreted
      // transform; one md5 per WORD + polynomial window keys, still
      // interpreted per element) — the cost was HOF interpretation
      // itself, not the digest (SCALE.md round 14 session 3).
      val G = 6
      val docs = t(s, dir, "documents").withColumn("ws", wsCol)
      val gramCols = (0 until G).map(k => s"element_at(ws, gi + $k)")
      val g = docs
        .filter(size(col("ws")) >= G)
        .select(col("doc_id"), col("ws"),
          explode(expr(s"sequence(1, size(ws) - ${G - 1})")).as("gi"))
        .select(col("doc_id"), col("gi"),
          call_function("graft_md5_split",
            expr(s"concat_ws(' ', ${gramCols.mkString(", ")})")).as("hs"))
        .select(col("doc_id"), col("gi"),
          col("hs").getItem(0).as("h1"), col("hs").getItem(1).as("h2"))
      val f = g.groupBy(col("h1"), col("h2"))
        .agg(count(lit(1)).as("c"),
          min(struct(col("doc_id").as("d"), col("gi").as("i"))).as("first"))
      // c ≥ 2 filters f BEFORE the join: the keeper join's build side
      // shrinks to the duplicated grams only (a few % of the corpus),
      // instead of re-shuffling the full gram table a second time
      val dup = g.join(f.filter(col("c") >= 2), Seq("h1", "h2"))
        .filter(!(col("first.d") === col("doc_id") &&
          col("first.i") === col("gi")))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("gi"))).as("starts"))
      docs.join(dup, Seq("doc_id"), "left")
        .withColumn("cov", expr(s"""array_distinct(flatten(
          |  transform(coalesce(starts, CAST(array() AS ARRAY<INT>)),
          |    i -> sequence(i, i + ${G - 1}))))""".stripMargin))
        // array_except, NOT filter+array_contains: the latter is
        // O(words × |cov|) per document — quadratic on dup-heavy docs
        // where cov covers most slots (measured 213 s vs 5 s at 100k
        // synthetic docs, round 15); array_except hash-builds cov once
        // per row and keeps sequence order, so `kept` stays ascending
        .withColumn("kept", expr("array_except(sequence(1, size(ws)), cov)"))
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
          (size(col("ws")) - size(col("kept"))).cast("long").as("removed_words"),
          size(col("kept")).cast("long").as("kept_words"),
          md5(expr("array_join(transform(kept, wi -> element_at(ws, wi)), ' ')"))
            .as("kept_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- q320: the CCNet pipeline, composed ----
    // Wenzek et al. 2020 run dedup FIRST and the LM filter on the
    // DEDUPED text — this query executes that exact stage order through
    // the factored bodies (paragraphCleaned → perplexityBuckets), so the
    // LM trains on the cleaned reference slice and scores cleaned
    // documents, then reports the per-(lang, tercile) corpus that each
    // keep decision would ship. Composition, not re-derivation: any
    // drift in either stage breaks this oracle too. Plan: the q314 dedup
    // shape feeding the q317 guarded-LM + stitched-tercile shape (the
    // cleaned corpus persists once inside perplexityBuckets, so the dedup
    // chain runs once, not once per LM consumer); the only new exchange
    // is the tiny (lang, bucket) aggregate.
    Q("q320_ccnet_pipeline",
      raw"""WITH dw AS (SELECT doc_id, lang, source,
         |    string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
         |seg AS (SELECT doc_id, i - 1 AS seg_i,
         |    array_to_string(ws[(i-1)*$SegW+1 : i*$SegW], ' ') AS seg
         |  FROM dw, unnest(range(1, CAST(ceil(len(ws)/$SegW.0) AS BIGINT)+1)) AS t(i)),
         |k AS (SELECT doc_id, seg_i, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_i) AS rn
         |  FROM seg),
         |ca AS (SELECT doc_id,
         |    string_agg(seg, ' ' ORDER BY seg_i) FILTER (WHERE rn = 1) AS clean
         |  FROM k GROUP BY doc_id),
         |cleandocs AS (SELECT dw.doc_id, dw.lang, dw.source,
         |    coalesce(ca.clean, '') AS text
         |  FROM dw LEFT JOIN ca ON dw.doc_id = ca.doc_id),
         |${duckPplChain("cleandocs")},
         |b AS (SELECT doc_id, lang, n_pairs, $duckBucket AS bucket FROM sc)
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_pairs + 1) AS BIGINT) AS n_tokens,
         |  CASE WHEN bucket = 'tail' THEN 'drop' ELSE 'keep' END AS kept
         |FROM b GROUP BY lang, bucket
         |ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
      val cleaned = paragraphCleaned(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("clean").as("text"))
      perplexityBuckets(cleaned, "src0")
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_pairs") + 1).cast("long").as("n_tokens"))
        .withColumn("kept",
          when(col("bucket") === "tail", lit("drop")).otherwise(lit("keep")))
        .orderBy(col("lang"), col("bucket"))
    },

    // ---- q321: token-budget epoch planner ----
    // The data-constrained pretraining calculation (Muennighoff et al.
    // 2023): given a token budget (2× the corpus here) and temperature-
    // mixed source weights (τ = 2 ⇒ weight ∝ √tokens — q118's mixture
    // family), allocate tokens per source, convert to epochs, and CLIP
    // at the 4-epoch repetition ceiling, reporting the shortfall a
    // planner must re-allocate. Pure aggregate arithmetic over per-source
    // token counts — one tiny shuffle, two broadcast scalars; at 100 TB
    // this runs on the catalog statistics, not the corpus.
    Q("q321_token_budget",
      raw"""WITH tk AS (SELECT source,
         |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
         |      AS toks
         |  FROM documents GROUP BY source),
         |zc AS (SELECT sum(sqrt(CAST(toks AS DOUBLE))) AS z,
         |    CAST(2 * sum(toks) AS BIGINT) AS budget FROM tk),
         |a AS (SELECT source, toks,
         |    round(sqrt(CAST(toks AS DOUBLE)) / z, 6) AS weight,
         |    CAST(round(budget * sqrt(CAST(toks AS DOUBLE)) / z) AS BIGINT) AS alloc
         |  FROM tk, zc),
         |e AS (SELECT source, toks, weight, alloc,
         |    round(alloc * 1.0 / toks, 6) AS epochs,
         |    least(alloc, 4 * toks) AS final_alloc FROM a)
         |SELECT source, toks AS n_tokens, weight, alloc, epochs,
         |  final_alloc, alloc - final_alloc AS shortfall,
         |  CASE WHEN epochs > 4.0 THEN 'beyond-4-epochs' ELSE 'ok' END AS label
         |FROM e ORDER BY source""".stripMargin) { (s, dir) =>
      val tk = t(s, dir, "documents")
        .select(col("source"), size(wsCol).cast("long").as("nw"))
        .groupBy(col("source")).agg(sum(col("nw")).cast("long").as("toks"))
      val zc = tk.agg(sum(sqrt(col("toks").cast("double"))).as("z"),
        (lit(2) * sum(col("toks"))).cast("long").as("budget"))
      val wt = sqrt(col("toks").cast("double")) / col("z")
      val a = tk.crossJoin(broadcast(zc))
        .select(col("source"), col("toks"),
          round(wt, 6).as("weight"),
          round(col("budget") * wt).cast("long").as("alloc"))
      val epochs = round(col("alloc") * lit(1.0) / col("toks"), 6)
      a.select(col("source"), col("toks").as("n_tokens"), col("weight"),
          col("alloc"), epochs.as("epochs"),
          least(col("alloc"), lit(4) * col("toks")).as("final_alloc"),
          (col("alloc") - least(col("alloc"), lit(4) * col("toks")))
            .as("shortfall"),
          when(epochs > 4.0, lit("beyond-4-epochs")).otherwise(lit("ok"))
            .as("label"))
        .orderBy(col("source"))
    },

    // ---- q323: DoReMi mixture reweighting ----
    // One Group-DRO multiplicative-weights round (Xie et al. 2023,
    // DoReMi §3): per-source cross-entropy under the q317 reference LM
    // (ce = −Σll / Σpairs — the EXACT decimal ll sum from pplDocScores,
    // so the per-source fold is order-independent), excess loss over the
    // reference slice's own ce, weights w1 ∝ w0·exp(excess) off the
    // token-share baseline w0, and a 2×-budget token allocation under
    // the new mixture. The unnormalized weight quantizes to
    // DECIMAL(18,9) BEFORE the normalizer sum (the q281/q317 fold
    // discipline — a double Σ over sources would be engine-order-
    // dependent). Scale: everything after pplDocScores is arithmetic on
    // a ≤|sources|-row frame — at 100 TB this runs on the per-source
    // aggregates, and the expensive part (the LM scores) is the SAME
    // persisted frame q317/q320 already compute.
    Q("q323_doremi_reweight",
      raw"""WITH ${duckPplChain("documents")},
         |sa AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(a.n_pairs) AS BIGINT) AS pairs, sum(a.ll) AS llsum
         |  FROM agg a JOIN documents d USING (doc_id) GROUP BY 1),
         |tt AS (SELECT CAST(sum(pairs) AS BIGINT) AS tot FROM sa),
         |rr AS (SELECT -CAST(llsum AS DOUBLE) / pairs AS ce_ref
         |  FROM sa WHERE source = 'src0'),
         |ex AS (SELECT sa.*, tot, ce_ref,
         |    -CAST(llsum AS DOUBLE) / pairs AS ce_d,
         |    greatest(0.0, -CAST(llsum AS DOUBLE) / pairs - ce_ref)
         |      AS excess_d
         |  FROM sa, tt, rr),
         |mw AS (SELECT *, CAST(round(
         |    (CAST(pairs AS DOUBLE) / tot) * exp(excess_d), 9)
         |    AS DECIMAL(18,9)) AS raw FROM ex),
         |z AS (SELECT sum(raw) AS zz FROM mw)
         |SELECT source, n_docs, pairs AS n_pairs,
         |  round(ce_d, 6) AS ce, round(excess_d, 6) AS excess,
         |  round(CAST(pairs AS DOUBLE) / tot, 6) AS w0,
         |  round(CAST(raw AS DOUBLE) / CAST(zz AS DOUBLE), 6) AS w1,
         |  CAST(round(2 * tot * CAST(raw AS DOUBLE) / CAST(zz AS DOUBLE))
         |    AS BIGINT) AS alloc
         |FROM mw, z ORDER BY source""".stripMargin) { (s, dir) =>
      val sc = pplDocScores(t(s, dir, "documents"), "src0",
        memoKey = Some(s"ppl-shared:$dir:src0"))
      // pinned for plan truncation like q336/q346's sa (3 consumers)
      val sa = sc.groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_pairs")).cast("long").as("pairs"),
          sum(col("ll")).as("llsum"))
        .pin(true)
      val ce = -col("llsum").cast("double") / col("pairs")
      val tot = sa.agg(sum(col("pairs")).cast("long").as("tot"))
      val ref = sa.filter(col("source") === "src0").select(ce.as("ce_ref"))
      val ex = sa.crossJoin(broadcast(tot)).crossJoin(broadcast(ref))
        .withColumn("ce_d", ce)
        .withColumn("excess_d", greatest(lit(0.0), ce - col("ce_ref")))
        .withColumn("raw",
          round((col("pairs").cast("double") / col("tot")) *
            exp(col("excess_d")), 9).cast("decimal(18,9)"))
      val z = ex.agg(sum(col("raw")).as("zz"))
      ex.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("pairs").as("n_pairs"),
          round(col("ce_d"), 6).as("ce"),
          round(col("excess_d"), 6).as("excess"),
          round(col("pairs").cast("double") / col("tot"), 6).as("w0"),
          round(col("raw").cast("double") / col("zz").cast("double"), 6)
            .as("w1"),
          round(lit(2) * col("tot") * col("raw").cast("double")
            / col("zz").cast("double")).cast("long").as("alloc"))
        .orderBy(col("source"))
    },

    // ---- q336: DoReMi iterated to its fixed point ----
    // q323 runs ONE Group-DRO multiplicative-weights round; the paper
    // ships the CONVERGED mixture (Xie et al. 2023, Algorithm 1: T
    // rounds of wᵗ ∝ wᵗ⁻¹·exp(η·excess) with uniform smoothing c, final
    // mixture = the per-round average). This twin runs THREE rounds with
    // η = 1, c = 0.01, emitting every round's weight vector plus the
    // averaged mixture and its 2×-budget allocation — each round is one
    // |sources|-row decimal-quantized fold (raw quantizes to
    // DECIMAL(18,9) BEFORE its normalizer sum, divisions in double,
    // the q323 discipline), zero driver arithmetic. Production DoReMi
    // retrains the proxy between rounds; with the q317 reference LM
    // frozen the per-source excess is static and the loop isolates the
    // weight dynamics — the smoothing term is what gives the recurrence
    // a genuine fixed point, which [[doremiUntil]] detects (convergence
    // pinned in SelectionOpsSpec; VERDICT r15 item 5). At 100 TB the
    // rounds are arithmetic on the per-source aggregate of the SAME
    // CacheRegistry-shared LM score frame q317/q320/q323 compute.
    Q("q336_doremi_iterate", {
      def mwRound(t: Int): String = {
        val carry = (0 until t).map(i => s"w$i, ").mkString
        s"""r${t}a AS (SELECT source, excess, tot, k, $carry
           |    CAST(round(CAST(w${t - 1} AS DOUBLE) * exp(excess), 9)
           |      AS DECIMAL(18,9)) AS raw
           |  FROM r${t - 1}),
           |r${t}z AS (SELECT sum(raw) AS zz FROM r${t}a),
           |r$t AS (SELECT source, excess, tot, k, $carry
           |    CAST(round(0.99 * CAST(raw AS DOUBLE) / CAST(zz AS DOUBLE)
           |      + 0.01 / k, 9) AS DECIMAL(18,9)) AS w$t
           |  FROM r${t}a, r${t}z)""".stripMargin
      }
      raw"""WITH ${duckPplChain("documents")},
         |sa AS (SELECT d.source, CAST(sum(a.n_pairs) AS BIGINT) AS pairs,
         |    sum(a.ll) AS llsum
         |  FROM agg a JOIN documents d USING (doc_id) GROUP BY 1),
         |tt AS (SELECT CAST(sum(pairs) AS BIGINT) AS tot,
         |    CAST(count(*) AS BIGINT) AS k FROM sa),
         |rr AS (SELECT -CAST(llsum AS DOUBLE) / pairs AS ce_ref
         |  FROM sa WHERE source = 'src0'),
         |r0 AS (SELECT sa.source, tot, k,
         |    greatest(0.0, -CAST(llsum AS DOUBLE) / pairs - ce_ref) AS excess,
         |    CAST(round(CAST(pairs AS DOUBLE) / tot, 9) AS DECIMAL(18,9)) AS w0
         |  FROM sa, tt, rr),
         |${(1 to 3).map(mwRound).mkString(",\n")}
         |SELECT source, round(excess, 6) AS excess,
         |  round(CAST(w0 AS DOUBLE), 6) AS w0,
         |  round(CAST(w1 AS DOUBLE), 6) AS w1,
         |  round(CAST(w2 AS DOUBLE), 6) AS w2,
         |  round(CAST(w3 AS DOUBLE), 6) AS w3,
         |  round(CAST(w1 + w2 + w3 AS DOUBLE) / 3, 6) AS wbar,
         |  CAST(round(2 * tot * CAST(w1 + w2 + w3 AS DOUBLE) / 3) AS BIGINT)
         |    AS alloc
         |FROM r3 ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val sc = pplDocScores(t(s, dir, "documents"), "src0",
        memoKey = Some(s"ppl-shared:$dir:src0"))
      // Eager pin of the ≤|sources|-row per-source aggregate
      // (OPTIMIZATION_r17, guide §3.3 "materialise to truncate the
      // plan"): sa feeds tot/ref and every MW round, and each
      // doremiRound embeds the prior round's plan TWICE (raw + its z
      // aggregate) — unpinned, the 3-round chain re-embedded the FULL
      // LM-score lineage 2³ times (plans/r17/q336_before.txt /
      // q346_before.txt: ~0.9 MB formatted plans whose analysis
      // dominated the wall). Pinned, the chain plans over a ≤20-row
      // LogicalRDD; values identical (the pin transports computed rows).
      val sa = sc.groupBy(col("source"))
        .agg(sum(col("n_pairs")).cast("long").as("pairs"),
          sum(col("ll")).as("llsum"))
        .pin(true)
      val ce = -col("llsum").cast("double") / col("pairs")
      val tot = sa.agg(sum(col("pairs")).cast("long").as("tot"),
        count(lit(1)).cast("long").as("k"))
      val ref = sa.filter(col("source") === "src0").select(ce.as("ce_ref"))
      var cur = sa.crossJoin(broadcast(tot)).crossJoin(broadcast(ref))
        .select(col("source"), col("tot"), col("k"),
          greatest(lit(0.0), ce - col("ce_ref")).as("excess"),
          round(col("pairs").cast("double") / col("tot"), 9)
            .cast("decimal(18,9)").as("w"))
        .withColumn("w0", col("w"))
      (1 to 3).foreach { t =>
        cur = doremiRound(cur).withColumn(s"w$t", col("w"))
      }
      val wbarD = (col("w1") + col("w2") + col("w3")).cast("double") / 3
      cur.select(col("source"), round(col("excess"), 6).as("excess"),
          round(col("w0").cast("double"), 6).as("w0"),
          round(col("w1").cast("double"), 6).as("w1"),
          round(col("w2").cast("double"), 6).as("w2"),
          round(col("w3").cast("double"), 6).as("w3"),
          round(wbarD, 6).as("wbar"),
          round(lit(2) * col("tot") * wbarD).cast("long").as("alloc"))
        .orderBy(col("source"))
    },

    // ---- q338: two-phase annealing data schedule ----
    // The midtraining/annealing stage modern pretraining runs AFTER the
    // main mixture (Llama 3's anneal-on-high-quality-data, OLMo 2's
    // midtraining, MiniCPM's WSD decay phase): 90% of the 2×-token
    // budget follows q321's temperature mixture over ALL sources; the
    // final 10% goes ONLY to the elite sources — those whose mean q313
    // classifier score beats the doc-weighted corpus mean (real model
    // inference deciding the tilt, the q315 discipline) — re-normalized
    // by the same √tokens temperature within the elite set. Per-source:
    // both phase allocations, epochs under the combined load, and the
    // 4-epoch clip + shortfall (the q321 contract — annealing is where
    // repetition ceilings actually bind, since the elite set is small).
    // Numeric discipline: √tokens quantizes to DECIMAL(18,9) BEFORE
    // each normalizer sum (q336's fold rule); qbar and the elite cut
    // are exact-integer ratios compared in double. Everything after the
    // q313 scores is arithmetic on the ≤|sources|-row frame.
    Q("q338_anneal_schedule",
      raw"""WITH $duckScore,
         |per AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(w.ws)) AS BIGINT) AS toks,
         |    CAST(sum(sc.score) AS BIGINT) AS qsum,
         |    CAST(round(sqrt(CAST(sum(len(w.ws)) AS DOUBLE)), 9)
         |      AS DECIMAL(18,9)) AS raw
         |  FROM sc JOIN w USING (doc_id) JOIN documents d USING (doc_id)
         |  GROUP BY d.source),
         |gl AS (SELECT CAST(sum(toks) AS BIGINT) AS tot,
         |    CAST(sum(qsum) AS BIGINT) AS qsum_all,
         |    CAST(sum(n_docs) AS BIGINT) AS ndocs_all,
         |    sum(raw) AS zm FROM per),
         |e AS (SELECT per.*, tot, zm,
         |    CAST(qsum AS DOUBLE) / n_docs AS qbar,
         |    CAST(qsum AS DOUBLE) / n_docs >
         |      CAST(qsum_all AS DOUBLE) / ndocs_all AS elite
         |  FROM per, gl),
         |za AS (SELECT sum(raw) AS za FROM e WHERE elite),
         |f AS (SELECT source, n_docs, toks, round(qbar, 6) AS qbar, elite,
         |    CAST(round(1.8 * tot * CAST(raw AS DOUBLE) / CAST(zm AS DOUBLE))
         |      AS BIGINT) AS main_alloc,
         |    CASE WHEN elite THEN CAST(round(0.2 * tot * CAST(raw AS DOUBLE)
         |      / CAST(za AS DOUBLE)) AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |      AS anneal_alloc
         |  FROM e, za)
         |SELECT source, n_docs, toks, qbar, elite, main_alloc, anneal_alloc,
         |  main_alloc + anneal_alloc AS total_alloc,
         |  round((main_alloc + anneal_alloc) * 1.0 / toks, 6) AS epochs,
         |  least(main_alloc + anneal_alloc, 4 * toks) AS final_alloc,
         |  main_alloc + anneal_alloc
         |    - least(main_alloc + anneal_alloc, 4 * toks) AS shortfall
         |FROM f ORDER BY source""".stripMargin) { (s, dir) =>
      val per = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), size(wsCol).cast("long").as("nw"))
        .join(classifierScore(s, dir), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("nw")).cast("long").as("toks"),
          sum(col("score")).cast("long").as("qsum"))
        .withColumn("raw",
          round(sqrt(col("toks").cast("double")), 9).cast("decimal(18,9)"))
      val g = per.agg(sum(col("toks")).cast("long").as("tot"),
        sum(col("qsum")).cast("long").as("qsum_all"),
        sum(col("n_docs")).cast("long").as("ndocs_all"),
        sum(col("raw")).as("zm"))
      val e = per.crossJoin(broadcast(g))
        .withColumn("qbar", col("qsum").cast("double") / col("n_docs"))
        .withColumn("elite", col("qbar") >
          col("qsum_all").cast("double") / col("ndocs_all"))
      val za = e.filter(col("elite")).agg(sum(col("raw")).as("za"))
      val mainAlloc = round(lit(1.8) * col("tot")
        * col("raw").cast("double") / col("zm").cast("double")).cast("long")
      val annealAlloc = when(col("elite"),
        round(lit(0.2) * col("tot") * col("raw").cast("double")
          / col("za").cast("double")).cast("long")).otherwise(lit(0L))
      val tot = col("main_alloc") + col("anneal_alloc")
      e.crossJoin(broadcast(za))
        .select(col("source"), col("n_docs"), col("toks"),
          round(col("qbar"), 6).as("qbar"), col("elite"),
          mainAlloc.as("main_alloc"), annealAlloc.as("anneal_alloc"))
        .select(col("*"), tot.as("total_alloc"),
          round(tot * lit(1.0) / col("toks"), 6).as("epochs"),
          least(tot, lit(4) * col("toks")).as("final_alloc"),
          (tot - least(tot, lit(4) * col("toks"))).as("shortfall"))
        .orderBy(col("source"))
    },

    // ---- q340: UniMax language-budget allocation ----
    // The THIRD mixture law next to q118/q321's temperature sampling and
    // q323/q336's DoReMi: UniMax (Chung et al. 2023) walks languages in
    // ASCENDING corpus size, gives each min(E·n_l, fair share of the
    // remaining budget), and provably leaves every language past the
    // first uncapped one on the SAME uniform share (once E·n_i exceeds
    // the share, the share is invariant under its own subtraction and
    // n is ascending). That closed form turns the paper's sequential
    // loop into two windows over the per-language frame: the cap test
    // is EXACT INTEGER arithmetic — E·n_i·(L−i+1) ≤ B − C_{i−1}, all
    // BIGINT, no float ulp at the boundary — and capped = the running
    // AND (min) of the raw flags, because a later raw flag computed
    // from the all-capped premise is meaningless once any language
    // breaks. B = ⌊3·T/2⌋ with E = 2 guarantees ≥1 uncapped language
    // (Σ caps = 2T > B) so the uniform-share division is total. Scale:
    // per-LANGUAGE frame — catalog-sized at 100 TB; the single-
    // partition window is over ≤|langs| rows (the q321 posture), and
    // the corpus pass is one hash-partial aggregate.
    Q("q340_unimax_budget",
      raw"""WITH tk AS (SELECT lang,
         |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
         |      AS toks
         |  FROM documents GROUP BY lang),
         |gl AS (SELECT CAST(count(*) AS BIGINT) AS nl,
         |    (3 * CAST(sum(toks) AS BIGINT)) // 2 AS budget FROM tk),
         |r AS (SELECT lang, toks, nl, budget,
         |    CAST(row_number() OVER (ORDER BY toks, lang) AS BIGINT) AS rnk,
         |    coalesce(CAST(sum(2 * toks) OVER (ORDER BY toks, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      CAST(0 AS BIGINT)) AS cum_prev
         |  FROM tk, gl),
         |f AS (SELECT *, 2 * toks * (nl - rnk + 1) <= budget - cum_prev
         |    AS rawcap FROM r),
         |c AS (SELECT *, min(CASE WHEN rawcap THEN 1 ELSE 0 END)
         |    OVER (ORDER BY toks, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
         |    AS capped FROM f),
         |kk AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0)
         |      AS BIGINT) AS k,
         |    CAST(coalesce(sum(CASE WHEN capped THEN 2 * toks END), 0)
         |      AS BIGINT) AS ck FROM c),
         |a AS (SELECT c.*, k, ck,
         |    CASE WHEN capped THEN 2 * toks
         |      ELSE CAST(round(CAST(budget - ck AS DOUBLE) / (nl - k))
         |        AS BIGINT) END AS alloc
         |  FROM c, kk)
         |SELECT lang, toks AS n_tokens, rnk, capped, alloc,
         |  round(alloc * 1.0 / toks, 6) AS epochs,
         |  round(alloc * 1.0 / budget, 6) AS weight
         |FROM a ORDER BY rnk""".stripMargin) { (s, dir) =>
      val tk = t(s, dir, "documents")
        .select(col("lang"), size(wsCol).cast("long").as("nw"))
        .groupBy(col("lang")).agg(sum(col("nw")).cast("long").as("toks"))
      val gl = tk.agg(count(lit(1)).cast("long").as("nl"),
          sum(col("toks")).cast("long").as("tot"))
        .select(col("nl"), expr("3 * tot div 2").as("budget"))
      val w = Window.orderBy(col("toks"), col("lang"))
      val c = tk.crossJoin(broadcast(gl))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cum_prev",
          coalesce(sum(lit(2) * col("toks"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("rawcap",
          lit(2) * col("toks") * (col("nl") - col("rnk") + 1) <=
            col("budget") - col("cum_prev"))
        .withColumn("capped",
          min(when(col("rawcap"), 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)) === 1)
      val kk = c.agg(
        coalesce(sum(when(col("capped"), 1L)), lit(0L)).cast("long").as("k"),
        coalesce(sum(when(col("capped"), lit(2) * col("toks"))), lit(0L))
          .cast("long").as("ck"))
      val alloc = when(col("capped"), lit(2) * col("toks"))
        .otherwise(round((col("budget") - col("ck")).cast("double")
          / (col("nl") - col("k"))).cast("long"))
      c.crossJoin(broadcast(kk))
        .select(col("lang"), col("toks").as("n_tokens"), col("rnk"),
          col("capped"), alloc.as("alloc"),
          round(alloc * lit(1.0) / col("toks"), 6).as("epochs"),
          round(alloc * lit(1.0) / col("budget"), 6).as("weight"))
        .orderBy(col("rnk"))
    },

    // ---- q346: mixture-law comparison table ----
    // The one frame a pretraining planner actually looks at before
    // choosing a mixture: per source, the THREE laws the suite verifies
    // side by side — temperature (q321/q338's √tokens with the
    // DECIMAL(18,9)-quantized normalizer), DoReMi (q336's three-round
    // averaged Group-DRO mixture off the shared LM scores), and UniMax
    // (q340's water-filling applied to SOURCES at its canonical
    // B = ⌊3T/2⌋, E = 2 dial — each law keeps its own dial, the
    // comparison is of SHAPES) — plus the max−min weight spread, the
    // disagreement column. Spread is computed on the ROUNDED weights so
    // both engines compare identical 6-dp values. Scale: everything
    // downstream of the (registry-shared) LM scores is arithmetic on
    // ≤|sources|-row frames — catalog-sized; the corpus passes are the
    // token count and the SAME pplDocScores frame q317/q320/q323/q336
    // already persist.
    Q("q346_mixture_compare", {
      def mwRound(t: Int): String = {
        val carry = (0 until t).map(i => s"w$i, ").mkString
        s"""r${t}a AS (SELECT source, excess, tot, k, $carry
           |    CAST(round(CAST(w${t - 1} AS DOUBLE) * exp(excess), 9)
           |      AS DECIMAL(18,9)) AS raw
           |  FROM r${t - 1}),
           |r${t}z AS (SELECT sum(raw) AS zz FROM r${t}a),
           |r$t AS (SELECT source, excess, tot, k, $carry
           |    CAST(round(0.99 * CAST(raw AS DOUBLE) / CAST(zz AS DOUBLE)
           |      + 0.01 / k, 9) AS DECIMAL(18,9)) AS w$t
           |  FROM r${t}a, r${t}z)""".stripMargin
      }
      raw"""WITH ${duckPplChain("documents")},
         |sa AS (SELECT d.source, CAST(sum(a.n_pairs) AS BIGINT) AS pairs,
         |    sum(a.ll) AS llsum
         |  FROM agg a JOIN documents d USING (doc_id) GROUP BY 1),
         |tt AS (SELECT CAST(sum(pairs) AS BIGINT) AS tot,
         |    CAST(count(*) AS BIGINT) AS k FROM sa),
         |rr AS (SELECT -CAST(llsum AS DOUBLE) / pairs AS ce_ref
         |  FROM sa WHERE source = 'src0'),
         |r0 AS (SELECT sa.source, tot, k,
         |    greatest(0.0, -CAST(llsum AS DOUBLE) / pairs - ce_ref) AS excess,
         |    CAST(round(CAST(pairs AS DOUBLE) / tot, 9) AS DECIMAL(18,9)) AS w0
         |  FROM sa, tt, rr),
         |${(1 to 3).map(mwRound).mkString(",\n")},
         |dor AS (SELECT source, CAST(w1 + w2 + w3 AS DOUBLE) / 3 AS wd FROM r3),
         |tk AS (SELECT source,
         |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
         |      AS toks
         |  FROM documents GROUP BY source),
         |tq AS (SELECT source, toks,
         |    CAST(round(sqrt(CAST(toks AS DOUBLE)), 9) AS DECIMAL(18,9)) AS rawq
         |  FROM tk),
         |zq AS (SELECT sum(rawq) AS zt FROM tq),
         |gl AS (SELECT CAST(count(*) AS BIGINT) AS nl,
         |    (3 * CAST(sum(toks) AS BIGINT)) // 2 AS budget FROM tk),
         |ur AS (SELECT source, toks, nl, budget,
         |    CAST(row_number() OVER (ORDER BY toks, source) AS BIGINT) AS rnk,
         |    coalesce(CAST(sum(2 * toks) OVER (ORDER BY toks, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      CAST(0 AS BIGINT)) AS cum_prev
         |  FROM tk, gl),
         |uf AS (SELECT *, 2 * toks * (nl - rnk + 1) <= budget - cum_prev
         |    AS rawcap FROM ur),
         |uc AS (SELECT *, min(CASE WHEN rawcap THEN 1 ELSE 0 END)
         |    OVER (ORDER BY toks, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
         |    AS capped FROM uf),
         |uk AS (SELECT CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0)
         |      AS BIGINT) AS ck_n,
         |    CAST(coalesce(sum(CASE WHEN capped THEN 2 * toks END), 0)
         |      AS BIGINT) AS ck_t FROM uc),
         |ua AS (SELECT uc.source,
         |    CASE WHEN capped THEN 2 * toks
         |      ELSE CAST(round(CAST(budget - ck_t AS DOUBLE) / (nl - ck_n))
         |        AS BIGINT) END AS alloc, budget
         |  FROM uc, uk),
         |fin AS (SELECT tq.source, tq.toks,
         |    round(CAST(tq.rawq AS DOUBLE) / CAST(zq.zt AS DOUBLE), 6) AS w_temp,
         |    round(dor.wd, 6) AS w_doremi,
         |    round(ua.alloc * 1.0 / ua.budget, 6) AS w_unimax
         |  FROM tq JOIN dor ON tq.source = dor.source
         |    JOIN ua ON tq.source = ua.source, zq)
         |SELECT source, toks, w_temp, w_doremi, w_unimax,
         |  round(greatest(w_temp, w_doremi, w_unimax)
         |    - least(w_temp, w_doremi, w_unimax), 6) AS spread
         |FROM fin ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // DoReMi averaged mixture — the q336 construction off the shared
      // LM-score frame
      val sc = pplDocScores(docs, "src0",
        memoKey = Some(s"ppl-shared:$dir:src0"))
      // Eager pin of the ≤|sources|-row per-source aggregate
      // (OPTIMIZATION_r17, guide §3.3 "materialise to truncate the
      // plan"): sa feeds tot/ref and every MW round, and each
      // doremiRound embeds the prior round's plan TWICE (raw + its z
      // aggregate) — unpinned, the 3-round chain re-embedded the FULL
      // LM-score lineage 2³ times (plans/r17/q336_before.txt /
      // q346_before.txt: ~0.9 MB formatted plans whose analysis
      // dominated the wall). Pinned, the chain plans over a ≤20-row
      // LogicalRDD; values identical (the pin transports computed rows).
      val sa = sc.groupBy(col("source"))
        .agg(sum(col("n_pairs")).cast("long").as("pairs"),
          sum(col("ll")).as("llsum"))
        .pin(true)
      val ce = -col("llsum").cast("double") / col("pairs")
      val tot = sa.agg(sum(col("pairs")).cast("long").as("tot"),
        count(lit(1)).cast("long").as("k"))
      val ref = sa.filter(col("source") === "src0").select(ce.as("ce_ref"))
      var cur = sa.crossJoin(broadcast(tot)).crossJoin(broadcast(ref))
        .select(col("source"), col("tot"), col("k"),
          greatest(lit(0.0), ce - col("ce_ref")).as("excess"),
          round(col("pairs").cast("double") / col("tot"), 9)
            .cast("decimal(18,9)").as("w"))
        .withColumn("w0", col("w"))
      (1 to 3).foreach { t => cur = doremiRound(cur).withColumn(s"w$t", col("w")) }
      val dor = cur.select(col("source"),
        ((col("w1") + col("w2") + col("w3")).cast("double") / 3).as("wd"))
      // temperature weight with the decimal-quantized normalizer
      // tk (≤|sources| rows) feeds the temperature, UniMax and final
      // branches — pinned for the same plan-truncation reason as sa
      val tk = docs.select(col("source"), size(wsCol).cast("long").as("nw"))
        .groupBy(col("source")).agg(sum(col("nw")).cast("long").as("toks"))
        .pin(true)
      val tq = tk.withColumn("rawq",
        round(sqrt(col("toks").cast("double")), 9).cast("decimal(18,9)"))
      val zq = tq.agg(sum(col("rawq")).as("zt"))
      // UniMax over sources — the q340 window chain on the source key
      val gl = tk.agg(count(lit(1)).cast("long").as("nl"),
          sum(col("toks")).cast("long").as("tot"))
        .select(col("nl"), expr("3 * tot div 2").as("budget"))
      val w = Window.orderBy(col("toks"), col("source"))
      val uc = tk.crossJoin(broadcast(gl))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cum_prev",
          coalesce(sum(lit(2) * col("toks"))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("rawcap",
          lit(2) * col("toks") * (col("nl") - col("rnk") + 1) <=
            col("budget") - col("cum_prev"))
        .withColumn("capped",
          min(when(col("rawcap"), 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)) === 1)
      val uk = uc.agg(
        coalesce(sum(when(col("capped"), 1L)), lit(0L)).cast("long").as("ck_n"),
        coalesce(sum(when(col("capped"), lit(2) * col("toks"))), lit(0L))
          .cast("long").as("ck_t"))
      val ualloc = when(col("capped"), lit(2) * col("toks"))
        .otherwise(round((col("budget") - col("ck_t")).cast("double")
          / (col("nl") - col("ck_n"))).cast("long"))
      val ua = uc.crossJoin(broadcast(uk))
        .select(col("source"), ualloc.as("alloc"), col("budget"))
      tq.crossJoin(broadcast(zq))
        .join(dor, Seq("source"))
        .join(ua, Seq("source"))
        .select(col("source"), col("toks"),
          round(col("rawq").cast("double") / col("zt").cast("double"), 6)
            .as("w_temp"),
          round(col("wd"), 6).as("w_doremi"),
          round(col("alloc") * lit(1.0) / col("budget"), 6).as("w_unimax"))
        .select(col("*"),
          round(greatest(col("w_temp"), col("w_doremi"), col("w_unimax"))
            - least(col("w_temp"), col("w_doremi"), col("w_unimax")), 6)
            .as("spread"))
        .orderBy(col("source"))
    }
  )

  /** One DoReMi multiplicative-weights round over a per-source weight
    * frame carrying (source, excess, w) [+ any other columns, preserved]:
    * raw = round(w·exp(η·excess), 9) quantized to DECIMAL(18,9) BEFORE
    * the normalizer sum (fold-order-independent), then the smoothed
    * renormalization w ← (1−c)·raw/Z + c/k. η = 1 and c = 0.01 are the
    * q336 constants; Z and k come from one 1-row broadcast aggregate. */
  def doremiRound(w: DataFrame, eta: Double = 1.0, c: Double = 0.01): DataFrame = {
    val raw = w.withColumn("__raw",
      round(col("w").cast("double") * exp(lit(eta) * col("excess")), 9)
        .cast("decimal(18,9)"))
    val z = raw.agg(sum(col("__raw")).as("__zz"),
      count(lit(1)).cast("long").as("__k"))
    raw.crossJoin(broadcast(z))
      .withColumn("w",
        round(lit(1.0 - c) * col("__raw").cast("double")
          / col("__zz").cast("double") + lit(c) / col("__k"), 9)
          .cast("decimal(18,9)"))
      .drop("__raw", "__zz", "__k")
  }

  /** Iterate [[doremiRound]] until the max per-source |Δw| is ≤ `tol`
    * (or `maxRounds`) — the pagerankUntil convergence probe over the
    * ≤|sources|-row weight frame: one bounded scalar aggregate per
    * round, nothing driver-sided beyond the scalar. Returns the
    * converged frame and the rounds consumed. */
  def doremiUntil(w0: DataFrame, tol: Double, maxRounds: Int,
      eta: Double = 1.0, c: Double = 0.01): (DataFrame, Int) = {
    require(maxRounds >= 1, s"doremiUntil: maxRounds $maxRounds < 1")
    var cur = w0.localCheckpoint()
    var rounds = 0
    var delta = Double.MaxValue
    while (rounds < maxRounds && delta > tol) {
      val next = doremiRound(cur, eta, c).localCheckpoint()
      val row = next.select(col("source"), col("w").as("__wn"))
        .join(cur.select(col("source"), col("w").as("__wp")), Seq("source"))
        .agg(max(abs(col("__wn").cast("double") - col("__wp").cast("double"))))
        .first()
      delta = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      cur = next
      rounds += 1
    }
    (cur, rounds)
  }

  /** The per-document LM score frame (doc_id, lang, source, n_pairs, ll)
    * over any (doc_id, lang, source, text) frame — `ll` is the EXACT
    * DECIMAL(18,9) sum of the per-pair quantized log terms (no rounding,
    * no doubles), so downstream per-source aggregates (q323's DoReMi
    * reweighting) stay fold-order-independent. q317 derives its rounded
    * logprob/ppl from this frame; ScaleBench drives it against the
    * generated corpus (lang := source, ref "s0").
    *
    * Scale posture (VERDICT r14 item 1 — the two r14 `weak` flags):
    *
    *  - '''bounded-or-guarded LM build sides''': the bigram table honours
    *    `graft.ppl.minPairCount` (default 1 = keep all; production KenLM
    *    tables are count-pruned, and stupid-backoff already handles the
    *    pruned pairs through the unigram path), and each LM table is
    *    broadcast ONLY while it holds ≤ `graft.ppl.maxBroadcastRows` rows
    *    (default 10M ≈ 300 MB serialized) — above that it falls back to a
    *    shuffle join instead of forcing an unbounded broadcast (the
    *    `graft.dict.maxRows` discipline, ops/Dictionary.scala). The
    *    measured sizes land in `graft.ppl.lastC1Rows`/`lastC12Rows` so
    *    ScaleBench/specs can pin which path ran.
    *  - '''stitched tercile''': the per-language head/middle/tail cut is
    *    Skew.groupedRunningSum (range-bucket + broadcast prefix stitch —
    *    the q157/q203 engine) + the exact ntile arithmetic
    *    ⌊(rn−1)·3 / n_lang⌋, NOT `ntile(3) OVER (PARTITION BY lang)`: with
    *    ~30 languages at 100 TB that window is a per-language
    *    single-partition global sort. The arithmetic reproduces ntile's
    *    bucket sizes exactly (first n mod 3 buckets get ⌈n/3⌉), so the
    *    DuckDB oracle keeps its ntile form and the hashes are unchanged.
    *  - '''each stage computed once''': the tokenized corpus, the LM
    *    tables, and the per-doc score frame persist via CacheRegistry
    *    (MEMORY_AND_DISK, released at clear()) — the guard counts and the
    *    stitch's boundary sample would otherwise re-run the upstream
    *    chain (in q320, the whole q314 dedup) once per consumer.
    *
    * `memoKey` (OPTIMIZATION_r17, VERDICT r16 item 9): the per-CALL
    * `track` registrations above are invisible ACROSS consumers — q317/
    * q323/q336/q346 each re-built the tokenization, both LM tables (plus
    * their two eager guard counts) and the score aggregate from scratch.
    * Callers scoring the same immutable input (the raw documents table
    * of one sfDir) pass a memo key; the whole body then runs at most
    * once per (session, key) and later consumers reuse the one persisted
    * score frame. q320 scores the DEDUPED corpus — a different input —
    * and keeps the un-keyed path. In-run only: released at
    * CacheRegistry.clear like every cache. */
  def pplDocScores(docsIn: DataFrame, refSource: String,
      memoKey: Option[String] = None): DataFrame = memoKey match {
    case Some(k) =>
      CacheRegistry.cache(docsIn.sparkSession, k)(
        pplDocScoresBody(docsIn, refSource, persistAgg = false))
    case None => pplDocScoresBody(docsIn, refSource, persistAgg = true)
  }

  private def pplDocScoresBody(docsIn: DataFrame, refSource: String,
      persistAgg: Boolean): DataFrame = {
      val s = docsIn.sparkSession
      import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val docs = CacheRegistry.track(s, "ppl-docs", docsIn
        .select(col("doc_id"), col("lang"), col("source"), wsCol.as("ws"))
        .persist(MEMORY_AND_DISK))
      val pairsOf = expr(
        """CASE WHEN size(ws) >= 2 THEN
          |  transform(sequence(1, size(ws) - 1),
          |    i -> struct(ws[i-1] AS w1, ws[i] AS w2))
          |ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END
          |""".stripMargin)
      val ref = docs.filter(col("source") === refSource)
      val minPair =
        s.conf.getOption("graft.ppl.minPairCount").map(_.toLong).getOrElse(1L)
      val maxBcast = s.conf.getOption("graft.ppl.maxBroadcastRows")
        .map(_.toLong).getOrElse(10000000L)
      val c1 = CacheRegistry.track(s, "ppl-c1",
        ref.select(explode(col("ws")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).cast("long").as("c"))
          .persist(MEMORY_AND_DISK))
      // N and V come from the UNPRUNED unigram table: pruning applies to
      // the bigram numerators only, the backoff denominator stays exact
      val nv = c1.agg(sum(col("c")).cast("long").as("n"),
        count(lit(1)).cast("long").as("v"))
      val c12 = CacheRegistry.track(s, "ppl-c12",
        ref.select(explode(pairsOf).as("p"))
          .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .agg(count(lit(1)).cast("long").as("c"))
          .filter(col("c") >= minPair)
          .persist(MEMORY_AND_DISK))
      // size-guarded build sides: counting the PERSISTED table costs one
      // cheap scan; above the guard the join degrades to a shuffle join
      // instead of an executor-OOM-sized forced broadcast
      def guarded(sizeConf: String, t: DataFrame): DataFrame = {
        val n = t.count()
        s.conf.set(sizeConf, n.toString)
        if (n <= maxBcast) broadcast(t) else t
      }
      val c12j = guarded("graft.ppl.lastC12Rows", c12)
      val c1j = guarded("graft.ppl.lastC1Rows", c1)
      val dp = docs
        .select(col("doc_id"), col("lang"), col("source"),
          explode(pairsOf).as("p"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("p.w1").as("w1"), col("p.w2").as("w2"))
      val seen = log(col("c12").cast("double") / col("c1"))
      val backoff = log(lit(0.4) * (coalesce(col("c2"), lit(0L)) + 1)
        / (col("n") + col("v")))
      val terms = dp
        .join(c12j.select(col("w1"), col("w2"), col("c").as("c12")),
          Seq("w1", "w2"), "left")
        .join(c1j.select(col("word").as("w1"), col("c").as("c1")),
          Seq("w1"), "left")
        .join(c1j.select(col("word").as("w2"), col("c").as("c2")),
          Seq("w2"), "left")
        .crossJoin(broadcast(nv))
        .select(col("doc_id"), col("lang"), col("source"),
          round(when(col("c12").isNotNull, seen).otherwise(backoff), 9)
            .cast("decimal(18,9)").as("term"))
      val agg = terms.groupBy(col("doc_id"), col("lang"), col("source"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("term")).as("ll"))
      // memoized callers persist via CacheRegistry.cache in pplDocScores
      if (persistAgg) CacheRegistry.track(s, "ppl-agg", agg.persist(MEMORY_AND_DISK))
      else agg
  }

  /** q317's body: [[pplDocScores]] rounded to the oracle's presentation
    * (logprob = round-6 ll, ppl = round-6 exp(−ll/n)) and cut into
    * per-language terciles via the stitched grouped rank. `memoKey`
    * goes to [[pplDocScores]]; the bucketed frame itself is not cached. */
  def perplexityBuckets(docsIn: DataFrame, refSource: String,
      memoKey: Option[String] = None): DataFrame = {
      val s = docsIn.sparkSession
      val agg = pplDocScores(docsIn, refSource, memoKey)
        .select(col("doc_id"), col("lang"), col("n_pairs"),
          round(col("ll").cast("double"), 6).as("logprob"),
          round(exp(-col("ll").cast("double") / col("n_pairs")), 6).as("ppl"))
      // per-language tercile WITHOUT the per-language global-sort window:
      // stitched grouped rank + group size in one pass, then ntile's exact
      // bucket arithmetic (bucket i of k over n rows = ⌊(rn−1)·k/n⌋,
      // first n mod k buckets one row larger — identical to the oracle's
      // ntile(3))
      val p = math.max(s.conf.get("spark.sql.shuffle.partitions").toInt, 1)
      val ranked = Skew.groupedRunningSum(agg, Seq("lang"),
        Seq(col("ppl").asc, col("doc_id").asc), lit(1L), p,
        outCol = "rn", totalCol = Some("n_lang"))
      val third = expr("((rn - 1) * 3) DIV n_lang")
      ranked.withColumn("bucket",
          when(third === 0, lit("head")).when(third === 1, lit("middle"))
            .otherwise(lit("tail")))
        .select(col("doc_id"), col("lang"), col("n_pairs"), col("logprob"),
          col("ppl"), col("bucket"))
        .orderBy(col("doc_id"))
  }
}
