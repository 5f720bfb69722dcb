package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.ops.Loops._
import graft.schema.Tables.t

/** Training-data curation operators beyond the dedup/analysis families:
  * chunk-level duplication, mixture balancing, embedding quantization,
  * entropy-based quality, corpus shape stats, and curriculum ordering.
  * Every query is DuckDB-oracle-checked (deterministic md5-derived
  * randomness; fixed-order floating summation where sums cross rows).
  *
  * Scale notes per operator are inline — the common theme: one narrow
  * shuffle on the natural key (doc/chunk/source), broadcast for the
  * corpus-level scalars, top-k instead of global sorts.
  */
object Curation {

  private val wordsCol: Column = TextCommon.wordsCol

  private def duckHex(expr: String, n: Int): String = TextCommon.duckHex(expr, n)

  /** The (doc_id, word, c) per-document word-count frame — the shared
    * input of the entropy (q88), unigram-LM (q101), and ensemble (q344)
    * signals, persisted once per (session, dir) so the ensemble's three
    * stitched rank passes don't re-pay the explode+aggregate per
    * consumer (the q320 CacheRegistry discipline; q344's bench dropped
    * 5.3 → ~2 s from this pin). */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.cache(s, s"curation-wordcounts:$dir") {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(wordsCol).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
    }

  /** doc_id → distinct 10-word-chunk fingerprints: the MAP-SIDE stage of
    * chunk-level dedup (explode + hash, fanout ≤ |words|/10 per doc, no
    * shuffle until distinct). Factored out of q85 so the incremental
    * composition — per-micro-batch extraction into the idempotent
    * batch_id-keyed sink, aggregate over the accumulated store — runs the
    * SAME code as the batch query (StreamingCurationSpec). */
  def chunkFingerprints(docs: DataFrame): DataFrame = {
    val chunksExpr = expr(
      """CASE WHEN size(words) >= 10 THEN
        |  transform(sequence(0, size(words) DIV 10 - 1),
        |    i -> concat_ws(' ', slice(words, i*10+1, 10)))
        |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
    docs
      .select(col("doc_id"), wordsCol.as("words"))
      .select(col("doc_id"), explode(chunksExpr).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("fp"))
      .distinct()
  }

  /** The duplicate-report aggregate over (doc_id, fp) fingerprints — one
    * shuffle on the 32-byte hash; works identically over a single batch
    * frame or the union of many incrementally-written ones. */
  def chunkDupReport(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("fp"))
      .agg(count(lit(1)).cast("long").as("n_docs"), min(col("doc_id")).as("keeper_id"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("fp"))

  /** q93's BM25 scorer (k1=1.2, b=0.75, terms data/scan/hash) as the full
    * scored candidate list — factored out so q155's hybrid RRF fusion
    * ranks the SAME scores q93 emits. Candidates are df-bounded (only
    * docs containing ≥1 query term survive the filter); the 6dp-rounded
    * score is the rank key downstream, so engine ulp differences in ln()
    * can never reorder the fused list. */
  private[ops] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(col("doc_id"), explode(wordsCol).as("word"))
    def tfCol(term: String) =
      sum(when(col("word") === term, 1L).otherwise(0L)).as(s"tf_$term")
    def dfCol(term: String) =
      countDistinct(when(col("word") === term, col("doc_id"))).as(s"df_$term")
    val dlF = words.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("dl"))
    val ad = dlF.agg((sum(col("dl")).cast("long") * lit(1.0) / count(lit(1))).as("avgdl"))
    val tf = words.groupBy(col("doc_id")).agg(tfCol("data"), tfCol("scan"), tfCol("hash"))
    val c = words.agg(dfCol("data"), dfCol("scan"), dfCol("hash"))
    val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    def term(tname: String) =
      log(lit(1) + (col("n_docs") - col(s"df_$tname") + lit(0.5)) / (col(s"df_$tname") + lit(0.5))) *
        col(s"tf_$tname") * lit(2.2) /
        (col(s"tf_$tname") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(dlF, Seq("doc_id"))
      .crossJoin(broadcast(c)).crossJoin(broadcast(n)).crossJoin(broadcast(ad))
      .filter(col("tf_data") + col("tf_scan") + col("tf_hash") > 0)
      .select(col("doc_id"), col("tf_data"), col("tf_scan"), col("tf_hash"), col("dl"),
        round(term("data") + term("scan") + term("hash"), 6).as("score"))
  }

  val qs: Seq[Q] = Seq(

    // ---- chunk-level exact dedup ----
    // Document-level dedup misses partial duplication (a page quoting
    // another, boilerplate sections); splitting every doc into
    // non-overlapping 10-word chunks and hashing them finds chunks shared
    // across documents. One shuffle on the 32-byte chunk hash — the same
    // scale shape as exact doc dedup (q40), fanout bounded at |words|/10
    // rows per doc.
    Q("q85_chunk_dedup",
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        |           FROM documents),
        |ch AS (SELECT DISTINCT doc_id,
        |    md5(unnest(list_transform(range(0, len(words) // 10),
        |      i -> array_to_string(words[i*10+1 : i*10+10], ' ')))) AS fp
        |  FROM w)
        |SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS keeper_id
        |FROM ch
        |GROUP BY fp
        |HAVING count(*) >= 2
        |ORDER BY fp""".stripMargin) { (s, dir) =>
      chunkDupReport(chunkFingerprints(t(s, dir, "documents")))
    },

    // ---- contrastive training triplets (anchor / positive / negative) ----
    // Embedding-model data prep over the corpus: every 10-word chunk with
    // a successor in the same document anchors a triplet — the successor
    // is the positive, and the negative is chunk 0 of a DETERMINISTIC
    // other document (md5(doc:chunk) coin → offset in [1, N−1], so
    // neg_doc ≠ doc_id and the draw is reproducible across runs, engines
    // and repartitionings — the q86/q94 coin discipline; this is in-batch-
    // negative sampling without an RNG). Scale: chunking is map-side
    // (fanout |words|/10), the positive lookup is a self-join on the
    // (doc, chunk-index) key, the negative lookup a hash join on
    // (neg_doc, 0) — no broadcast of the corpus, no shuffle beyond the
    // two keyed joins.
    Q("q274_contrastive_triplets",
      s"""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS words
         |           FROM documents),
         |ch AS (SELECT doc_id, g.ci AS ci, g.ch AS chunk FROM (
         |    SELECT doc_id, unnest(list_transform(range(0, len(words) // 10),
         |      i -> struct_pack(ci := i,
         |             ch := array_to_string(words[i*10+1 : i*10+10], ' ')))) AS g
         |    FROM w) q),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |tri AS (SELECT a.doc_id AS doc_id, a.ci AS anchor_ci,
         |    p.ci AS pos_ci,
         |    (a.doc_id + 1 + ${TextCommon.duckHex(
              "substr(md5(CAST(a.doc_id AS VARCHAR) || ':' || CAST(a.ci AS VARCHAR)), 1, 8)", 8)}
         |      % (n_docs - 1)) % n_docs AS neg_doc,
         |    substr(a.chunk, 1, 25) AS anchor_snip,
         |    substr(p.chunk, 1, 25) AS pos_snip
         |  FROM ch a JOIN ch p ON a.doc_id = p.doc_id AND p.ci = a.ci + 1, n)
         |SELECT t.doc_id, CAST(anchor_ci AS BIGINT) AS anchor_ci,
         |  CAST(pos_ci AS BIGINT) AS pos_ci, CAST(neg_doc AS BIGINT) AS neg_doc,
         |  anchor_snip, pos_snip, substr(ng.chunk, 1, 25) AS neg_snip
         |FROM tri t JOIN ch ng ON ng.doc_id = t.neg_doc AND ng.ci = 0
         |ORDER BY t.doc_id, anchor_ci""".stripMargin) { (s, dir) =>
      val ch = t(s, dir, "documents")
        .select(col("doc_id"), wordsCol.as("words"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(words) >= 10 THEN
            |  transform(sequence(0, size(words) DIV 10 - 1),
            |    i -> struct(CAST(i AS BIGINT) AS ci,
            |                concat_ws(' ', slice(words, i*10+1, 10)) AS ch))
            |ELSE CAST(array() AS ARRAY<STRUCT<ci: BIGINT, ch: STRING>>) END"""
            .stripMargin)).as("g"))
        .select(col("doc_id"), col("g.ci").as("ci"), col("g.ch").as("chunk"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      // one coin per 10-token chunk (~tokens/10 rows — corpus-volume):
      // digest-bytes split, bit-exact with the oracle's hex+conv text
      graft.functions.GraftFunctions.register(s)
      val coin = graft.functions.GraftFunctions.coin8(
        concat(col("doc_id").cast("string"), lit(":"), col("ci").cast("string")))
      val a = ch.select(col("doc_id"), col("ci"), col("chunk"))
      val p = ch.select(col("doc_id"), (col("ci") - 1).as("ci"),
        col("chunk").as("pos_chunk"))
      val tri = a.join(p, Seq("doc_id", "ci"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("ci").as("anchor_ci"),
          (col("ci") + 1).as("pos_ci"),
          ((col("doc_id") + 1 + coin % (col("n_docs") - 1)) % col("n_docs"))
            .as("neg_doc"),
          substring(col("chunk"), 1, 25).as("anchor_snip"),
          substring(col("pos_chunk"), 1, 25).as("pos_snip"))
      val ng = ch.filter(col("ci") === 0)
        .select(col("doc_id").as("neg_doc"),
          substring(col("chunk"), 1, 25).as("neg_snip"))
      tri.join(ng, Seq("neg_doc"))
        .select(col("doc_id"), col("anchor_ci").cast("long").as("anchor_ci"),
          col("pos_ci").cast("long").as("pos_ci"),
          col("neg_doc").cast("long").as("neg_doc"),
          col("anchor_snip"), col("pos_snip"), col("neg_snip"))
        .orderBy(col("doc_id"), col("anchor_ci"))
    },

    // ---- mixture-weight application: balance sources by downsampling ----
    // The acting half of q80's mixture weights: downsample every source to
    // a balanced budget (here 50% of the smallest source's size, so the
    // sampling filter genuinely drops rows even on a balanced corpus) with
    // a DETERMINISTIC per-doc coin (md5(doc_id) as a uniform in [0,1) —
    // reproducible across runs and engines, no RNG state). At 100 TB this
    // is one map-side filter per row against a broadcast |sources|-row
    // rate table: no shuffle of the corpus at all; the verification
    // aggregate here is for the oracle.
    Q("q86_mixture_apply",
      s"""WITH u AS (SELECT doc_id, source,
         |    ${duckHex("substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)", 8)} / 4294967296.0 AS coin
         |  FROM documents),
         |c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |m AS (SELECT min(n) AS target FROM c)
         |SELECT u.source AS source, CAST(c.n AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN coin < target * 0.5 / c.n THEN 1 END) AS BIGINT) AS n_kept,
         |  round(target * 0.5 / c.n, 6) AS keep_rate
         |FROM u JOIN c ON u.source = c.source, m
         |GROUP BY u.source, c.n, m.target
         |ORDER BY u.source""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") / lit(4294967296.0)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val target = counts.agg(min(col("n")).as("target"))
      val rate = col("target") * lit(0.5) / col("n")
      docs.select(col("doc_id"), col("source"), coin.as("coin"))
        .join(broadcast(counts), Seq("source"))
        .crossJoin(broadcast(target))
        .groupBy(col("source"), col("n"), col("target"))
        .agg(count(when(col("coin") < rate, 1)).cast("long").as("n_kept"))
        .select(col("source"), col("n").cast("long").as("n_docs"),
          col("n_kept"), round(rate, 6).as("keep_rate"))
        .orderBy(col("source"))
    },

    // ---- int8 scalar quantization of embeddings ----
    // The storage/serving compression step for a 100 TB vector corpus:
    // per-vector symmetric int8 quantization (scale = 127 / max|x|,
    // q_i = round(x_i · scale)). Pure map-side arithmetic over the array
    // column — no shuffle, codegen'd higher-order functions. Emitted as
    // per-vector summary scalars (scale, Σq, dim): the checker can't hash
    // array cells, and the sum pins every quantized component exactly.
    // round-half-up is spelled floor(x + 0.5) so both engines agree
    // bit-for-bit (their native round() ties differ).
    Q("q87_embed_quantize",
      """SELECT vec_id, round(127.0 / mx, 6) AS scale,
        |  CAST(list_sum(list_transform(emb,
        |    x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5) AS BIGINT))) AS BIGINT) AS q_sum,
        |  CAST(len(emb) AS BIGINT) AS dim
        |FROM (SELECT vec_id, embedding AS emb,
        |        list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |      FROM embeddings)
        |WHERE mx > 0
        |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("emb"),
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("mx"))
        .filter(col("mx") > 0)
        .select(col("vec_id"), round(lit(127.0) / col("mx"), 6).as("scale"),
          expr("""aggregate(emb, CAST(0 AS BIGINT),
                 |  (acc, x) -> acc + CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5) AS BIGINT))""".stripMargin)
            .as("q_sum"),
          size(col("emb")).cast("long").as("dim"))
        .orderBy(col("vec_id"))
    },

    // ---- word-entropy quality signal ----
    // Shannon entropy of the word distribution per doc — low entropy flags
    // repetitive/template text (complements q63's repetition ratio).
    // H = log2(n) − (Σ c·ln c) / (n·ln 2) over per-word counts c. The
    // cross-word double sum runs in a FIXED order (array sorted by word)
    // on both engines, so associativity can't flip the rounded result.
    // Scale: one (doc, word) shuffle + one doc shuffle; the per-doc array
    // is vocabulary-bounded, never corpus-bounded.
    Q("q88_word_entropy",
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |           FROM documents),
        |cnt AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    list_sum(list_transform(list(CAST(c AS DOUBLE) ORDER BY word),
        |      c -> c * ln(c))) AS s
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  round((ln(CAST(n_tokens AS DOUBLE)) - s / n_tokens) / ln(2.0), 6) AS entropy_bits
        |FROM tot
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      wordCounts(s, dir).groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          // collect (word, c) pairs, sort by word (unique per doc), then a
          // sequential left fold — same summation order as the oracle's
          // list(… ORDER BY word)
          expr("""aggregate(
                 |  transform(array_sort(collect_list(struct(word, CAST(c AS DOUBLE) AS cd))),
                 |    p -> p.cd * ln(p.cd)),
                 |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("s"))
        .select(col("doc_id"), col("n_tokens"),
          round((log(col("n_tokens").cast("double")) - col("s") / col("n_tokens"))
            / log(lit(2.0)), 6).as("entropy_bits"))
        .orderBy(col("doc_id"))
    },

    // ---- corpus shape: token-length histogram ----
    // The length-distribution report every corpus card carries; also the
    // input for choosing packing/truncation lengths. Bucketing is integer
    // arithmetic (DIV) so both engines bin identically; the mean is an
    // exact integer sum divided once at the end (no accumulation-order
    // dependence). One |buckets|-row aggregate: scan-bound at any scale.
    Q("q89_token_histogram",
      """WITH w AS (SELECT doc_id, n_chars,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
        |  FROM documents)
        |SELECT least(CAST(n_tokens // 20 AS BIGINT), 9) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        |  CAST(max(n_tokens) AS BIGINT) AS max_tokens,
        |  round(sum(n_chars) * 1.0 / count(*), 4) AS avg_chars
        |FROM w
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), size(wordsCol).as("n_tokens"))
        .groupBy(least(expr("n_tokens DIV 20"), lit(9)).cast("long").as("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("n_tokens")).cast("long").as("min_tokens"),
          max(col("n_tokens")).cast("long").as("max_tokens"),
          round(sum(col("n_chars")) * lit(1.0) / count(lit(1)), 4).as("avg_chars"))
        .orderBy(col("bucket"))
    },

    // ---- curriculum interleave: fair round-robin across sources ----
    // Deterministic training-order construction: round r of the output
    // takes the r-th doc of every source (per-source row_number), so no
    // source floods the head of the corpus. A window partitioned by bare
    // `source` would funnel each source's ENTIRE history through one task
    // (~20 sources = 20-task bottleneck at 100 TB), so the rank comes from
    // Skew.groupedRowNumber's range-bucket + offset stitch — parallelism
    // scales with data volume, not source count — and the final
    // ORDER BY + LIMIT is top-k (TakeOrderedAndProject), not a full sort.
    // Construction runs only the bounded boundary-sample job (Skew
    // scaladoc); the stitch itself is lazy.
    Q("q90_curriculum_interleave",
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS round
        |  FROM documents)
        |SELECT doc_id, source, round
        |FROM r
        |ORDER BY round, source, doc_id
        |LIMIT 100""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      Skew.groupedRowNumber(docs, Seq("source"), Seq(col("doc_id")),
          numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt,
          outCol = "round")
        .select(col("doc_id"), col("source"), col("round"))
        .orderBy(col("round"), col("source"), col("doc_id"))
        .limit(100)
    },

    // ---- sequence packing into fixed context windows ----
    // The pre-training batcher's packing step: concatenate each source's
    // docs FIFO (by doc_id) and cut the stream every 128 tokens; a doc
    // belongs to the pack its first token lands in (straddling docs stay
    // whole — contiguous greedy packing, the deterministic variant of
    // what a sequence packer does before truncation). The running sum is
    // Skew.groupedRunningSum's range-bucket + offset stitch, NOT a window
    // partitioned by bare `source` (which would put each source's whole
    // token stream through one task — a ~20-partition ceiling at 100 TB);
    // the (source, pack) aggregate after it is narrow. No global ordering
    // anywhere. Construction runs only the bounded boundary-sample job
    // (Skew scaladoc); the stitch itself is lazy.
    Q("q91_sequence_packing",
      """WITH w AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM w)
        |SELECT source, CAST((cum - n_tokens) // 128 AS BIGINT) AS pack_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_doc
        |FROM c
        |GROUP BY 1, 2
        |ORDER BY source, pack_id""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), size(wordsCol).cast("long").as("n_tokens"))
      Skew.groupedRunningSum(base, Seq("source"), Seq(col("doc_id")),
          value = col("n_tokens"),
          numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt,
          outCol = "cum")
        .groupBy(col("source"), expr("(cum - n_tokens) DIV 128").as("pack_id"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("pack_tokens"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"), col("pack_id"))
    },

    // ---- Unicode NFC normalization (native codegen'd expression) ----
    // Canonical composition before fingerprinting: decomposed combining
    // marks ("e" + U+0301) and their precomposed forms ("é") must hash
    // identically or exact dedup silently misses visually-identical docs.
    // Spark has no built-in normalizer, so [[graft.functions.NfcNormalize]]
    // is the custom-Expression extension path (doGenCode keeps it inside
    // whole-stage codegen; a quick-check fast path returns already-NFC
    // strings untouched — the overwhelmingly common case at 100 TB). The
    // query manufactures a decomposed suffix so the oracle genuinely
    // exercises composition: length must shrink by exactly one.
    Q("q92_nfc_normalize",
      """SELECT doc_id,
        |  CAST(length(raw) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
        |  nfc_normalize(raw) AS nfc
        |FROM (SELECT doc_id, substr(text, 1, 10) || 'e' || chr(769) AS raw
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.nfc_normalize
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 10), lit("e\u0301")).as("raw"))
        .select(col("doc_id"), length(col("raw")).cast("long").as("len_raw"),
          length(nfc_normalize(col("raw"))).cast("long").as("len_nfc"),
          nfc_normalize(col("raw")).as("nfc"))
        .orderBy(col("doc_id"))
    },

    // ---- BM25 ranked retrieval ----
    // The standard IR scorer (k1=1.2, b=0.75) over the corpus for a fixed
    // term set — upgrades q84's raw TF-IDF with saturation and length
    // normalization. Same scale shape as q84: per-doc TF in one narrow
    // agg, document frequencies and the average doc length as two
    // broadcast one-row frames, the per-term contributions summed in
    // fixed textual order so both engines round identically, and top-k
    // via TakeOrderedAndProject (never a global sort).
    Q("q93_bm25_search",
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
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
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id AS doc_id, tf_data, tf_scan, tf_hash, dl.dl AS dl,
        |  round(
        |    ln(1 + (n_docs - df_data + 0.5) / (df_data + 0.5))
        |      * tf_data * 2.2 / (tf_data + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
        |  + ln(1 + (n_docs - df_scan + 0.5) / (df_scan + 0.5))
        |      * tf_scan * 2.2 / (tf_scan + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
        |  + ln(1 + (n_docs - df_hash + 0.5) / (df_hash + 0.5))
        |      * tf_hash * 2.2 / (tf_hash + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)), 6)
        |    AS score
        |FROM tf JOIN dl ON tf.doc_id = dl.doc_id, c, n, ad
        |WHERE tf_data + tf_scan + tf_hash > 0
        |ORDER BY score DESC, doc_id
        |LIMIT 15""".stripMargin) { (s, dir) =>
      bm25Scored(s, dir)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    },

    // ---- deterministic train/val/test split ----
    // The 80/10/10 holdout assignment every corpus ships with, as a pure
    // function of doc_id (md5 coin — the q86 discipline): stable across
    // runs, engines, and repartitioning, so a doc can never migrate
    // between train and test when the corpus is re-processed. Map-side
    // only per row against literal thresholds — the verification
    // aggregate below is for the oracle; the split itself never shuffles.
    Q("q94_dataset_split",
      s"""WITH u AS (SELECT doc_id, source,
         |    ${duckHex("substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)", 8)} / 4294967296.0 AS coin
         |  FROM documents)
         |SELECT source,
         |  CASE WHEN coin < 0.8 THEN 'train' WHEN coin < 0.9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM u
         |GROUP BY 1, 2
         |ORDER BY source, split""".stripMargin) { (s, dir) =>
      val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") / lit(4294967296.0)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), coin.as("coin"))
        .select(col("doc_id"), col("source"),
          when(col("coin") < 0.8, "train").when(col("coin") < 0.9, "val")
            .otherwise("test").as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"), col("split"))
    },

    // ---- leakage-safe dataset split over near-dup clusters ----
    // q94 splits by doc hash, which puts two NEAR-DUPLICATES of the same
    // page on opposite sides of the train/test fence — the quiet eval
    // contamination a dedup-aware pipeline must close (the Lee et al.
    // 2022 test-set-overlap finding). The split unit here is the q72
    // near-dup CLUSTER: every doc inherits its component's label (its
    // own id when unclustered) and the md5 coin flips on that unit, so a
    // cluster can never straddle splits BY CONSTRUCTION. The audit runs
    // both schemes side by side and reports each one's leaked-cluster
    // count — 0 for the cluster scheme, measured >0 for the naive one on
    // this corpus (pinned in LeakageSplitSpec).
    // Scale shape: cluster labels come from the registry-cached q72
    // engine (LSH-banded at 100 TB); everything after is narrow — one
    // doc_id-keyed left join to inherit labels, two 3-key grouped
    // aggregates with a distinct-on-rep pre-aggregate, and two
    // rep-keyed leak aggregates whose rows are two longs. No text
    // moves anywhere.
    Q("q328_leakage_safe_split", {
      val cte = TextDedup.ShingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
      def coin(x: String) =
        s"${TextCommon.duckHex(s"substr(md5(CAST($x AS VARCHAR)), 1, 8)", 8)} / 4294967296.0"
      def splitOf(x: String) =
        s"""CASE WHEN ${coin(x)} < 0.8 THEN 'train'
           |      WHEN ${coin(x)} < 0.9 THEN 'val'
           |      ELSE 'test' END""".stripMargin
      s"""$cte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(doc, lbl) AS (
         |  SELECT DISTINCT a AS doc, a AS lbl FROM edges
         |  UNION
         |  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |rp AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc),
         |a AS (SELECT doc_id, rep,
         |    ${splitOf("rep")} AS s_cluster,
         |    ${splitOf("doc_id")} AS s_naive
         |  FROM rp),
         |leak_c AS (SELECT count(*) AS lk FROM (
         |  SELECT rep FROM a GROUP BY rep
         |  HAVING count(DISTINCT s_cluster) > 1)),
         |leak_n AS (SELECT count(*) AS lk FROM (
         |  SELECT rep FROM a GROUP BY rep
         |  HAVING count(DISTINCT s_naive) > 1))
         |SELECT scheme, split, n_docs, n_units,
         |  CAST(leaked AS BIGINT) AS leaked_clusters
         |FROM (
         |  SELECT 'cluster' AS scheme, s_cluster AS split,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT rep) AS BIGINT) AS n_units,
         |    (SELECT lk FROM leak_c) AS leaked
         |  FROM a GROUP BY s_cluster
         |  UNION ALL
         |  SELECT 'naive' AS scheme, s_naive AS split,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT rep) AS BIGINT) AS n_units,
         |    (SELECT lk FROM leak_n) AS leaked
         |  FROM a GROUP BY s_naive)
         |ORDER BY scheme, split""".stripMargin
    }) { (s, dir) =>
      def coin(c: Column) =
        conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") /
          lit(4294967296.0)
      def splitOf(c: Column) =
        when(coin(c) < 0.8, "train").when(coin(c) < 0.9, "val").otherwise("test")
      val comp = TextDedup.clusterLabels(s, dir)
        .select(col("doc_id").as("cdoc"), col("cluster_id"))
      val a = t(s, dir, "documents").select(col("doc_id"))
        .join(comp, col("doc_id") === col("cdoc"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("rep"))
        .select(col("doc_id"), col("rep"),
          splitOf(col("rep")).as("s_cluster"),
          splitOf(col("doc_id")).as("s_naive"))
      def leaked(splitCol: String) = broadcast(
        a.groupBy(col("rep"))
          .agg(countDistinct(col(splitCol)).as("ns"))
          .filter(col("ns") > 1)
          .agg(count(lit(1)).as("leaked")))
      def side(scheme: String, splitCol: String) =
        a.groupBy(col(splitCol).as("split"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            countDistinct(col("rep")).cast("long").as("n_units"))
          .crossJoin(leaked(splitCol))
          .select(lit(scheme).as("scheme"), col("split"),
            col("n_docs"), col("n_units"),
            col("leaked").cast("long").as("leaked_clusters"))
      side("cluster", "s_cluster").unionAll(side("naive", "s_naive"))
        .orderBy(col("scheme"), col("split"))
    },

    // ---- soft dedup: duplicate-cluster loss weighting ----
    // The alternative to HARD removal (q277 keeps one member, drops the
    // rest): keep every member but downweight its training loss by
    // 1/cluster_size, so a family of k near-dups contributes ONE
    // document's worth of gradient in total — the soft-dedup posture
    // when provenance diversity matters more than token savings.
    // Output is the per-source accounting a mixture planner consumes:
    // raw tokens, effective (weighted) tokens, and the dedup discount.
    // Scale shape: q72's registry-cached labels + one narrow left join
    // + a |sources|-key aggregate. Float discipline (q281/q317): the
    // per-doc weight n_words/k is an IEEE double division (identical in
    // both engines), quantized at 9 dp into DECIMAL(18,9) BEFORE the
    // cross-row sum (decimal folds are order-independent), rounded once
    // at the output — decimal DIVISION is avoided entirely because the
    // engines' decimal scale-adjustment rules differ.
    Q("q332_soft_dedup_weights", {
      val cte = TextDedup.ShingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$cte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(doc, lbl) AS (
         |  SELECT DISTINCT a AS doc, a AS lbl FROM edges
         |  UNION
         |  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |csz AS (SELECT cluster_id, count(*) AS k FROM comp GROUP BY cluster_id),
         |wdoc AS (SELECT d.doc_id, d.source,
         |    len(string_split_regex(lower(trim(d.text)), '\\s+')) AS n_words,
         |    coalesce(z.k, 1) AS k
         |  FROM documents d
         |  LEFT JOIN comp c ON d.doc_id = c.doc
         |  LEFT JOIN csz z ON c.cluster_id = z.cluster_id),
         |w2 AS (SELECT source, n_words, k,
         |    CAST(round(n_words * 1.0 / k, 9) AS DECIMAL(18,9)) AS eff
         |  FROM wdoc)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
         |  CAST(sum(n_words) AS BIGINT) AS raw_tokens,
         |  round(CAST(sum(eff) AS DOUBLE), 6) AS effective_tokens,
         |  round(1.0 - CAST(sum(eff) AS DOUBLE) / sum(n_words), 6) AS discount
         |FROM w2 GROUP BY source ORDER BY source""".stripMargin
    }) { (s, dir) =>
      val comp = TextDedup.clusterLabels(s, dir)
        .select(col("doc_id").as("cdoc"), col("cluster_id"), col("cluster_size"))
      val wdoc = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), size(wordsCol).as("n_words"))
        .join(comp, col("doc_id") === col("cdoc"), "left")
        .select(col("source"), col("n_words"),
          coalesce(col("cluster_size"), lit(1L)).as("k"))
      wdoc
        .withColumn("eff", round(col("n_words") * lit(1.0) / col("k"), 9)
          .cast("decimal(18,9)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_clustered"),
          sum(col("n_words")).cast("long").as("raw_tokens"),
          round(sum(col("eff")).cast("double"), 6).as("effective_tokens"),
          round(lit(1.0) - sum(col("eff")).cast("double") / sum(col("n_words")), 6)
            .as("discount"))
        .orderBy(col("source"))
    },

    // ---- q339: memorization-risk report over duplication buckets ----
    // Carlini et al. 2023 ("Quantifying Memorization Across Neural
    // Language Models") measured extraction rate growing LOG-LINEARLY
    // with a sequence's duplication count — so the curation decision
    // frame is the dup-count HISTOGRAM: per power-of-two bucket of
    // near-dup cluster size k (the q72 clusters; singletons are k = 1),
    // how many clusters/docs/tokens sit there, the excess copies a
    // keeper dedup would remove, and the log-linear risk tilt
    // (1 + ⌊log₂k⌋)·tokens that ranks where the memorization mass
    // concentrates. ⌊log₂k⌋ is computed as length(bin(k)) − 1 — pure
    // integer text length, because floating log2 at exact powers of two
    // is an ulp-flip hazard between engines. Singleton "clusters" key on
    // the doc's own id: a singleton can't be a member of any cluster, so
    // its id can never collide with a real cluster label (= the min
    // member doc_id). Scale: rides the registry-cached q72 clustering;
    // everything after is one narrow aggregate on ≤ log₂(max k) buckets.
    Q("q339_memorization_risk", {
      val cte = TextDedup.ShingleCte.replaceFirst("^WITH ", "WITH RECURSIVE ")
      s"""$cte,
         |hs AS (SELECT doc_id, h1 AS h FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
         |inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
         |  FROM hs x JOIN hs y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
         |reach(doc, lbl) AS (
         |  SELECT DISTINCT a AS doc, a AS lbl FROM edges
         |  UNION
         |  SELECT e.b AS doc, r.lbl FROM reach r JOIN edges e ON e.a = r.doc),
         |comp AS (SELECT doc, min(lbl) AS cluster_id FROM reach GROUP BY doc),
         |csz AS (SELECT cluster_id, count(*) AS k FROM comp GROUP BY cluster_id),
         |wdoc AS (SELECT d.doc_id,
         |    len(string_split_regex(lower(trim(d.text)), '\\s+')) AS n_words,
         |    coalesce(z.k, 1) AS k,
         |    coalesce(c.cluster_id, d.doc_id) AS ckey
         |  FROM documents d
         |  LEFT JOIN comp c ON d.doc_id = c.doc
         |  LEFT JOIN csz z ON c.cluster_id = z.cluster_id),
         |tt AS (SELECT CAST(sum(n_words) AS BIGINT) AS tot FROM wdoc),
         |bkt AS (SELECT CAST(length(bin(k)) - 1 AS BIGINT) AS dup_bucket,
         |    n_words, k, ckey FROM wdoc)
         |SELECT dup_bucket,
         |  CAST(2 ** dup_bucket AS BIGINT) AS k_min,
         |  CAST(2 ** (dup_bucket + 1) - 1 AS BIGINT) AS k_max,
         |  CAST(count(DISTINCT ckey) AS BIGINT) AS n_clusters,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
         |  round(sum(n_words) * 1.0 / tot, 6) AS token_share,
         |  CAST(count(*) - count(DISTINCT ckey) AS BIGINT) AS excess_docs,
         |  CAST((dup_bucket + 1) * sum(n_words) AS BIGINT) AS risk_tokens
         |FROM bkt, tt GROUP BY dup_bucket, tot ORDER BY dup_bucket""".stripMargin
    }) { (s, dir) =>
      val comp = TextDedup.clusterLabels(s, dir)
        .select(col("doc_id").as("cdoc"), col("cluster_id"), col("cluster_size"))
      val wdoc = t(s, dir, "documents")
        .select(col("doc_id"), size(wordsCol).cast("long").as("n_words"))
        .join(comp, col("doc_id") === col("cdoc"), "left")
        .select(col("n_words"),
          coalesce(col("cluster_size"), lit(1L)).as("k"),
          coalesce(col("cluster_id"), col("doc_id")).as("ckey"))
      val tt = wdoc.agg(sum(col("n_words")).cast("long").as("tot"))
      wdoc
        .withColumn("dup_bucket", (length(bin(col("k"))) - 1).cast("long"))
        .crossJoin(broadcast(tt))
        .groupBy(col("dup_bucket"), col("tot"))
        .agg(countDistinct(col("ckey")).cast("long").as("n_clusters"),
          count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_words")).cast("long").as("n_tokens"))
        .select(col("dup_bucket"),
          pow(lit(2), col("dup_bucket")).cast("long").as("k_min"),
          (pow(lit(2), col("dup_bucket") + 1) - 1).cast("long").as("k_max"),
          col("n_clusters"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens") * lit(1.0) / col("tot"), 6).as("token_share"),
          (col("n_docs") - col("n_clusters")).as("excess_docs"),
          ((col("dup_bucket") + 1) * col("n_tokens")).as("risk_tokens"))
        .orderBy(col("dup_bucket"))
    },

    // ---- unigram log-probability quality score ----
    // The cheapest language-model proxy a curation pipeline runs: score
    // each doc by its mean token log-probability under the CORPUS unigram
    // distribution (p(w) = count(w)/N). Very low = garbled/OOV-heavy text,
    // very high = pure boilerplate — both pruning candidates. Per-doc
    // Σ c_w·ln p(w) runs over word-sorted arrays in a FIXED fold order on
    // both engines (the q88 discipline), so cross-row float summation
    // can't flip the rounded result. Scale: one (doc, word) shuffle, one
    // word-keyed join against the unigram table (hash-partitioned — the
    // vocabulary outgrows broadcast at 100 TB), one doc shuffle with
    // vocabulary-bounded arrays; N is a broadcast one-row frame.
    Q("q101_unigram_logprob",
      """WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |           FROM documents),
        |cnt AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word),
        |tot AS (SELECT word, CAST(sum(c) AS BIGINT) AS wc FROM cnt GROUP BY word),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt),
        |d AS (SELECT cnt.doc_id AS doc_id,
        |    CAST(sum(cnt.c) AS BIGINT) AS n_tokens,
        |    list_sum(list_transform(
        |      list(struct_pack(cd := CAST(cnt.c AS DOUBLE),
        |                       lp := ln(CAST(tot.wc AS DOUBLE) / n_total))
        |           ORDER BY cnt.word),
        |      p -> p.cd * p.lp)) AS ll
        |  FROM cnt JOIN tot USING (word), n
        |  GROUP BY cnt.doc_id)
        |SELECT doc_id, n_tokens, round(ll / n_tokens, 6) AS avg_logprob
        |FROM d
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val cnt = wordCounts(s, dir)
      val tot = cnt.groupBy(col("word")).agg(sum(col("c")).cast("long").as("wc"))
      val n = cnt.agg(sum(col("c")).cast("long").as("n_total"))
      cnt.join(tot, Seq("word"))
        .crossJoin(broadcast(n))
        .withColumn("lp", log(col("wc").cast("double") / col("n_total")))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          // word-sorted struct array + sequential fold = the oracle's
          // list(… ORDER BY word) + list_sum order exactly
          expr("""aggregate(
                 |  transform(array_sort(collect_list(struct(word, CAST(c AS DOUBLE) AS cd, lp))),
                 |    p -> p.cd * p.lp),
                 |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("ll"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("ll") / col("n_tokens"), 6).as("avg_logprob"))
        .orderBy(col("doc_id"))
    },

    // ---- cross-source contamination matrix ----
    // Which sources share verbatim 10-word chunks — the leakage report a
    // mixture pipeline runs before treating sources as independent (and
    // before attributing dedup budget): reuses q85's chunk stage, joins
    // source on, and counts DISTINCT shared fingerprints per unordered
    // source pair. Scale: the self-join keys on the 32-byte chunk hash
    // (hash-partitioned, bounded per-key fanout ≤ |sources|), output is
    // ≤ |sources|²/2 rows — a report, never a corpus-sized frame.
    Q("q107_source_overlap",
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        |           FROM documents),
        |ch AS (SELECT DISTINCT doc_id,
        |    md5(unnest(list_transform(range(0, len(words) // 10),
        |      i -> array_to_string(words[i*10+1 : i*10+10], ' ')))) AS fp
        |  FROM w),
        |sc AS (SELECT DISTINCT d.source AS source, c.fp AS fp
        |       FROM ch c JOIN documents d USING (doc_id))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS shared_chunks
        |FROM sc a JOIN sc b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // persist: both self-join sides read the (source, fp) frame — without
      // it the corpus scan + chunk explode + md5 + distinct run twice
      // (the q65 CacheRegistry discipline)
      val sc = CacheRegistry.cache(s, s"q107-sourcefp:$dir") {
        chunkFingerprints(docs)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("source"), col("fp"))
          .distinct()
      }
      sc.as("a").join(sc.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).cast("long").as("shared_chunks"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // ---- bigram PMI collocations (phrase mining) ----
    // Pointwise mutual information over adjacent word pairs — the standard
    // phrase-discovery pass before building a tokenizer/vocab: high-PMI
    // pairs ("ice cream") co-occur far above chance. PMI =
    // ln((c12/M) / ((c1/N)(c2/N))) from exact integer counts, so the only
    // float math is per-row scalar ops both engines execute identically
    // (q93's discipline). Min support c12 ≥ 3 kills singleton noise.
    // Scale: one bigram shuffle (|tokens| rows), two hash joins against
    // the unigram table (vocabulary-sized, outgrows broadcast at 100 TB),
    // the two corpus totals broadcast as one-row frames, and top-k via
    // TakeOrderedAndProject on the rounded score with an exact tiebreak.
    Q("q104_bigram_pmi",
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        |           FROM documents),
        |uni AS (SELECT unnest(words) AS word FROM w),
        |ucnt AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY word),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM uni),
        |bg AS (SELECT unnest(list_transform(range(1, greatest(len(words), 1)),
        |           i -> struct_pack(w1 := words[i], w2 := words[i+1]))) AS b
        |       FROM w),
        |bcnt AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
        |         FROM bg GROUP BY b.w1, b.w2),
        |m AS (SELECT CAST(sum(c12) AS BIGINT) AS m_total FROM bcnt)
        |SELECT w1, w2, c12,
        |  round(ln((CAST(c12 AS DOUBLE) / m_total)
        |    / ((CAST(u1.c AS DOUBLE) / n_total) * (CAST(u2.c AS DOUBLE) / n_total))), 6) AS pmi
        |FROM bcnt
        |JOIN ucnt u1 ON w1 = u1.word
        |JOIN ucnt u2 ON w2 = u2.word, n, m
        |WHERE c12 >= 3
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), wordsCol.as("words"))
      val uni = docs.select(explode(col("words")).as("word"))
      val ucnt = uni.groupBy(col("word")).agg(count(lit(1)).cast("long").as("c"))
      val n = uni.agg(count(lit(1)).cast("long").as("n_total"))
      val bg = docs.select(explode(expr(
        """CASE WHEN size(words) >= 2 THEN
          |  transform(sequence(0, size(words) - 2),
          |    i -> struct(words[i] AS w1, words[i+1] AS w2))
          |ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END""".stripMargin)).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val bcnt = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).cast("long").as("c12"))
      val m = bcnt.agg(sum(col("c12")).cast("long").as("m_total"))
      val pmi = log((col("c12").cast("double") / col("m_total"))
        / ((col("u1c").cast("double") / col("n_total"))
          * (col("u2c").cast("double") / col("n_total"))))
      bcnt
        .join(ucnt.select(col("word").as("w1"), col("c").as("u1c")), Seq("w1"))
        .join(ucnt.select(col("word").as("w2"), col("c").as("u2c")), Seq("w2"))
        .crossJoin(broadcast(n)).crossJoin(broadcast(m))
        .filter(col("c12") >= 3)
        .select(col("w1"), col("w2"), col("c12"), round(pmi, 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // ---- interpolated bigram LM score: the n-gram upgrade of q101 ----
    // Per-document average log-probability under a Jelinek-Mercer
    // interpolated bigram model (0.75·c₁₂/c₁ + 0.25·c₂/N): the CCNet-style
    // "perplexity against a corpus LM" quality signal, one order up from
    // q101's unigram. Scale shape: the bigram table is vocabulary²-bounded
    // (joined as a hash join, NOT broadcast — same reasoning as q104), the
    // doc-side aggregation is one shuffle on doc_id, and the corpus total
    // broadcasts as a one-row frame. Float-parity discipline follows q101:
    // per-doc log-likelihood is a SEQUENTIAL fold over the (w1, w2)-sorted
    // bigram types, so both engines add in the same order.
    Q("q114_bigram_logprob",
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        |           FROM documents),
        |uni AS (SELECT unnest(words) AS word FROM w),
        |ucnt AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY word),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM uni),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(words), 1)),
        |           i -> struct_pack(w1 := words[i], w2 := words[i+1]))) AS b
        |       FROM w),
        |dbc AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c
        |        FROM bg GROUP BY doc_id, b.w1, b.w2),
        |bcnt AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c12 FROM dbc GROUP BY w1, w2),
        |d AS (SELECT dbc.doc_id AS doc_id,
        |    CAST(sum(dbc.c) AS BIGINT) AS n_bigrams,
        |    list_sum(list_transform(
        |      list(struct_pack(cd := CAST(dbc.c AS DOUBLE),
        |                       lp := ln(0.75 * (CAST(bcnt.c12 AS DOUBLE) / u1.c)
        |                              + 0.25 * (CAST(u2.c AS DOUBLE) / n_total)))
        |           ORDER BY dbc.w1, dbc.w2),
        |      p -> p.cd * p.lp)) AS ll
        |  FROM dbc
        |  JOIN bcnt ON dbc.w1 = bcnt.w1 AND dbc.w2 = bcnt.w2
        |  JOIN ucnt u1 ON dbc.w1 = u1.word
        |  JOIN ucnt u2 ON dbc.w2 = u2.word, n
        |  GROUP BY dbc.doc_id)
        |SELECT doc_id, n_bigrams, round(ll / n_bigrams, 6) AS avg_logprob
        |FROM d
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"), wordsCol.as("words"))
      val uni = docs.select(explode(col("words")).as("word"))
      val ucnt = uni.groupBy(col("word")).agg(count(lit(1)).cast("long").as("c"))
      val n = uni.agg(count(lit(1)).cast("long").as("n_total"))
      val dbc = docs.select(col("doc_id"), explode(expr(
        """CASE WHEN size(words) >= 2 THEN
          |  transform(sequence(0, size(words) - 2),
          |    i -> struct(words[i] AS w1, words[i+1] AS w2))
          |ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END""".stripMargin)).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).cast("long").as("c"))
      val bcnt = dbc.groupBy(col("w1"), col("w2")).agg(sum(col("c")).cast("long").as("c12"))
      val lp = log(lit(0.75) * (col("c12").cast("double") / col("u1c"))
        + lit(0.25) * (col("u2c").cast("double") / col("n_total")))
      dbc
        .join(bcnt, Seq("w1", "w2"))
        .join(ucnt.select(col("word").as("w1"), col("c").as("u1c")), Seq("w1"))
        .join(ucnt.select(col("word").as("w2"), col("c").as("u2c")), Seq("w2"))
        .crossJoin(broadcast(n))
        .withColumn("lp", lp)
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_bigrams"),
          // (w1, w2)-sorted struct array + sequential fold = the oracle's
          // list(… ORDER BY w1, w2) + list_sum order exactly (q101 rule)
          expr("""aggregate(
                 |  transform(array_sort(collect_list(struct(w1, w2, CAST(c AS DOUBLE) AS cd, lp))),
                 |    p -> p.cd * p.lp),
                 |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin).as("ll"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("ll") / col("n_bigrams"), 6).as("avg_logprob"))
        .orderBy(col("doc_id"))
    },

    // ---- overlapping sliding-window chunking (stride < width) ----
    // The RAG/context-window chunker: fixed 25-word windows every 10 words,
    // each fingerprinted — overlap preserves cross-boundary context that
    // q85's disjoint chunks lose, at a bounded ~2.5× fanout (width/stride).
    // Pure map-side explode: zero shuffles before the presentation sort;
    // at 100 TB the chunk table is written partition-parallel at scan
    // speed, and the md5 fingerprints feed the same dedup/containment
    // joins as q85/q112 downstream.
    Q("q116_chunk_sliding",
      """WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words
        |           FROM documents),
        |st AS (SELECT doc_id, words, unnest(range(1, len(words) - 23, 10)) AS i
        |       FROM w WHERE len(words) >= 25)
        |SELECT doc_id, CAST(i AS BIGINT) AS start_pos,
        |  md5(array_to_string(words[i : i + 24], ' ')) AS chunk_md5
        |FROM st
        |ORDER BY doc_id, start_pos""".stripMargin) { (s, dir) =>
      slidingChunks(t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("start_pos"))
    },

    // ---- decile quality bucketing with broadcast boundaries ----
    // CCNet-style quality stratification (bucket the corpus by a quality
    // score, then sample buckets differently) done the way that survives
    // 100 TB: a global ntile() would sort the corpus in ONE partition —
    // the same single-partition window q90/q91 were rewired to avoid.
    // Instead the 9 decile boundaries come from one exact-percentile
    // aggregate (a scalar collect), broadcast, and every row buckets
    // map-side against the 9-element array. Both engines use the same
    // R-7 linear interpolation (Spark percentile ≡ DuckDB quantile_cont),
    // and boundaries are rounded before the comparison so the bucket
    // assignment cannot straddle a last-ulp difference.
    Q("q117_quality_buckets",
      """WITH sc AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS score
        |  FROM documents),
        |b AS (SELECT list_transform(
        |    quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> round(x, 6)) AS bnds FROM sc)
        |SELECT CAST(1 + len(list_filter(bnds, v -> score > v)) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(score) AS min_score, max(score) AS max_score
        |FROM sc, b
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin) { (s, dir) =>
      val sc = t(s, dir, "documents")
        .select(col("doc_id"), size(wordsCol).cast("long").as("score"))
      val bnds = sc.agg(expr(
        """transform(
          |  percentile(score, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D)),
          |  x -> round(x, 6))""".stripMargin).as("bnds"))
      sc.crossJoin(broadcast(bnds))
        .select(col("score"),
          (lit(1) + size(expr("filter(bnds, v -> score > v)"))).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy(col("bucket"))
    },

    // ---- temperature-scaled mixture weights (multinomial resampling) ----
    // The multilingual-corpus balancing rule (sampling weight ∝ n^τ,
    // τ = 0.7): flattens the source distribution so head sources stop
    // dominating without discarding tail sources — the planning half that
    // feeds q86's deterministic application. Cost is one |sources|-row
    // aggregate plus scalar arithmetic; the corpus itself is never
    // shuffled, and at 100 TB the weight table broadcasts to the sampler
    // exactly like q86's rate table.
    Q("q118_temperature_mix",
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY source),
        |z AS (SELECT sum(power(CAST(n_docs AS DOUBLE), 0.7)) AS zsum,
        |             CAST(sum(n_docs) AS BIGINT) AS n_total FROM c)
        |SELECT source, n_docs,
        |  round(power(CAST(n_docs AS DOUBLE), 0.7) / zsum, 6) AS weight,
        |  round((power(CAST(n_docs AS DOUBLE), 0.7) / zsum)
        |        / (CAST(n_docs AS DOUBLE) / n_total), 6) AS dup_factor
        |FROM c, z
        |ORDER BY source""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).cast("long").as("n_docs"))
      val z = c.agg(sum(pow(col("n_docs").cast("double"), 0.7)).as("zsum"),
        sum(col("n_docs")).cast("long").as("n_total"))
      val w = pow(col("n_docs").cast("double"), 0.7) / col("zsum")
      c.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), round(w, 6).as("weight"),
          round(w / (col("n_docs").cast("double") / col("n_total")), 6).as("dup_factor"))
        .orderBy(col("source"))
    },

    // ---- the full curation decision, one query ----
    // The composition a user of this library actually ships: per document,
    // (1) the q115 rule gate, (2) exact dedup among the RULE SURVIVORS
    // (keeper = min doc_id per content hash — dedup after filtering, the
    // production order: a duplicate of a dropped doc is not a duplicate),
    // (3) the q80 uniform-mixture weight computed over the SURVIVING set
    // (weights belong to the corpus you keep, not the one you scanned).
    // Plan shape: the rule gate is one map-side pass; dedup is one shuffle
    // on the content hash; the weight table is |sources| rows riding a
    // broadcast — three narrow stages, nothing corpus-wide materializes
    // twice. Every drop carries its reason ('rules:…' or 'duplicate'),
    // the audit trail a curation run must emit.
    Q("q138_curation_pipeline",
      raw"""WITH w AS (SELECT doc_id,
           |    CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
           |         ELSE string_split_regex(lower(trim(text)), '\s+') END AS ws
           |  FROM documents),
           |m AS (SELECT doc_id,
           |    CAST(len(ws) AS BIGINT) AS n_words,
           |    CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
           |      / nullif(len(ws), 0) AS avg_wlen,
           |    len(list_filter(ws, x -> x IN ('a', 'the'))) AS n_stop,
           |    CAST(len(list_distinct(ws)) AS DOUBLE) / nullif(len(ws), 0) AS ttr
           |  FROM w),
           |rules AS (SELECT doc_id,
           |    CAST(CASE WHEN n_words >= 30 AND avg_wlen >= 4.2
           |              AND n_stop > 0 AND ttr >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS rkeep,
           |    concat_ws(',',
           |      CASE WHEN n_words < 30 THEN 'too_short' END,
           |      CASE WHEN avg_wlen < 4.2 THEN 'word_len' END,
           |      CASE WHEN n_stop = 0 THEN 'no_stopword' END,
           |      CASE WHEN ttr < 0.5 THEN 'low_ttr' END) AS reasons
           |  FROM m),
           |rs AS MATERIALIZED (SELECT d.doc_id, d.source, md5(d.text) AS fp,
           |    r.rkeep, r.reasons
           |  FROM documents d JOIN rules r USING (doc_id)),
           |keepers AS (SELECT fp, min(doc_id) AS keeper FROM rs
           |  WHERE rkeep = 1 GROUP BY fp),
           |flags AS MATERIALIZED (SELECT rs.doc_id, rs.source, rs.rkeep, rs.reasons,
           |    CASE WHEN rs.rkeep = 1 AND rs.doc_id <> k.keeper
           |      THEN 1 ELSE 0 END AS dup_loser
           |  FROM rs LEFT JOIN keepers k USING (fp)),
           |cnt AS (SELECT source, count(*) AS n FROM flags
           |  WHERE rkeep = 1 AND dup_loser = 0 GROUP BY source),
           |tot AS (SELECT sum(n) AS total, count(*) AS n_src FROM cnt),
           |wt AS (SELECT source, round((1.0 / n_src) / (n * 1.0 / total), 6) AS weight
           |  FROM cnt, tot)
           |SELECT f.doc_id,
           |  CAST(CASE WHEN f.rkeep = 1 AND f.dup_loser = 0
           |    THEN 1 ELSE 0 END AS BIGINT) AS keep,
           |  CASE WHEN f.rkeep = 0 THEN concat('rules:', f.reasons)
           |       WHEN f.dup_loser = 1 THEN 'duplicate'
           |       ELSE '' END AS drop_reason,
           |  CASE WHEN f.rkeep = 1 AND f.dup_loser = 0 THEN w.weight END AS weight
           |FROM flags f LEFT JOIN wt w USING (source)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = graft.schema.Tables.tSpread(s, dir, "documents")
      // Pinned (OPTIMIZATION_r16): the rule/fp frame feeds keepers, both
      // sides of the dup-loser join, the per-source counts AND the final
      // projection -- the tokenization-heavy ruleFlags pass ran up to 4x.
      // One eager localCheckpoint of the narrow per-doc flag rows runs it
      // once; every downstream aggregate is integer counts / min.
      val rules = TextAnalysis.ruleFlags(docs)
        .select(col("doc_id"), col("source"), md5(col("text")).as("fp"),
          col("keep").as("rkeep"), col("reasons"))
        .pin()
      val keepers = rules.filter(col("rkeep") === 1)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
      val flags = rules.join(keepers, Seq("fp"), "left")
        .select(col("doc_id"), col("source"), col("rkeep"), col("reasons"),
          when(col("rkeep") === 1 && col("doc_id") =!= col("keeper"), 1)
            .otherwise(0).as("dup_loser"))
      val cnt = flags.filter(col("rkeep") === 1 && col("dup_loser") === 0)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val tot = cnt.agg(sum(col("n")).as("total"), count(lit(1)).as("n_src"))
      val wt = cnt.crossJoin(broadcast(tot))
        .select(col("source"),
          round((lit(1.0) / col("n_src")) / (col("n") * lit(1.0) / col("total")), 6)
            .as("weight"))
      flags.join(broadcast(wt), Seq("source"), "left")
        .select(col("doc_id"),
          when(col("rkeep") === 1 && col("dup_loser") === 0, 1L).otherwise(0L)
            .as("keep"),
          when(col("rkeep") === 0, concat(lit("rules:"), col("reasons")))
            .when(col("dup_loser") === 1, lit("duplicate"))
            .otherwise(lit("")).as("drop_reason"),
          when(col("rkeep") === 1 && col("dup_loser") === 0, col("weight"))
            .as("weight"))
        .orderBy(col("doc_id"))
    },

    // ---- weighted sampling without replacement (Efraimidis–Spirakis) ----
    // The distributed form of weighted reservoir sampling (Efraimidis &
    // Spirakis, IPL 2006): each item draws u ~ U(0,1) and the sample is
    // the top-k by u^(1/w) — here ranked by the monotone-equivalent
    // ln(u)/w, which avoids pow(). Weight = document word count (longer
    // docs proportionally likelier), u = the doc's md5-derived 56-bit
    // uniform, so the "randomness" is deterministic and the whole sample
    // is oracle-checkable — the q71/q86 discipline extended from
    // uniform to WEIGHTED selection. Scale: scoring is one map-side
    // pass; top-k is TakeOrderedAndProject (no global sort); at 100 TB
    // this replaces the sequential reservoir with one scan + k-row
    // result, and composes with q138's weights for mixture-aware
    // sampling. Scores rounded to 6dp before ranking (ln is the only
    // libm call — the q101/q88 tolerance discipline), doc_id tiebreak.
    Q("q140_weighted_sample", {
      val h1 = TextCommon.duckHex("m", 14)
      raw"""WITH d AS (SELECT doc_id,
           |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_words,
           |    md5(text) AS m
           |  FROM documents),
           |scored AS (SELECT doc_id, n_words,
           |    round(ln(($h1 + 1.0) / 72057594037927936.0)
           |      / n_words, 6) AS es_key
           |  FROM d WHERE n_words > 0)
           |SELECT doc_id, n_words, es_key
           |FROM scored
           |ORDER BY es_key DESC, doc_id
           |LIMIT 30""".stripMargin
    }) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextCommon.wordsCol).cast("long").as("n_words"),
          md5(col("text")).as("m"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"),
          round(log((conv(substring(col("m"), 1, 14), 16, 10).cast("double") + lit(1.0))
              / lit(72057594037927936.0)) / col("n_words"), 6).as("es_key"))
        .orderBy(col("es_key").desc, col("doc_id"))
        .limit(30)
    },

    // ---- per-source weighted sample: grouped ES top-k, salted ----
    // q140's Efraimidis–Spirakis sample stratified BY SOURCE — the
    // per-domain cap every mixture pipeline actually runs (sample k docs
    // from each source, length-weighted, deterministically). The naive
    // plan — one row_number window partitioned by source — funnels each
    // source through a single task, and source cardinality is TINY (a
    // handful of domains at any corpus size), so that window is the
    // classic low-cardinality skew trap at 100 TB. Instead: two-phase
    // top-k. Phase 1 partitions by (source, salt) — crc32(doc_id) % 8 —
    // so each source's scan parallelizes 8-way and each bucket keeps
    // only its local top-5; phase 2 re-ranks the ≤ 8·5 survivors per
    // source, a frame whose size is sources × 40 regardless of corpus
    // size. Any doc in a source's true top-5 is top-5 within its salt
    // bucket (rank can only shrink on a subset), so the composition is
    // EXACT — the oracle runs the one-window form and must hash-match.
    Q("q150_group_weighted_sample", {
      val h1 = TextCommon.duckHex("m", 14)
      raw"""WITH d AS (SELECT doc_id, source,
           |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_words,
           |    md5(text) AS m
           |  FROM documents),
           |scored AS (SELECT doc_id, source, n_words,
           |    round(ln(($h1 + 1.0) / 72057594037927936.0)
           |      / n_words, 6) AS es_key
           |  FROM d WHERE n_words > 0),
           |r AS (SELECT source, doc_id, n_words, es_key,
           |    row_number() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rnk
           |  FROM scored)
           |SELECT source, CAST(rnk AS BIGINT) AS rank, doc_id, n_words, es_key
           |FROM r WHERE rnk <= 5
           |ORDER BY source, rank""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextCommon.wordsCol).cast("long").as("n_words"),
          md5(col("text")).as("m"))
        .filter(col("n_words") > 0)
        .select(col("doc_id"), col("source"), col("n_words"),
          round(log((conv(substring(col("m"), 1, 14), 16, 10).cast("double") + lit(1.0))
              / lit(72057594037927936.0)) / col("n_words"), 6).as("es_key"))
      val salted = scored.withColumn("__salt",
        pmod(crc32(col("doc_id").cast("string")), lit(8)))
      val local = salted
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("source"), col("__salt"))
          .orderBy(col("es_key").desc, col("doc_id"))))
        .filter(col("__rn") <= 5)
      local
        .withColumn("rank", row_number().over(Window
          .partitionBy(col("source"))
          .orderBy(col("es_key").desc, col("doc_id"))).cast("bigint"))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("doc_id"), col("n_words"),
          col("es_key"))
        .orderBy(col("source"), col("rank"))
    },

    // ---- q344: quality-signal ensemble (Borda rank fusion) ----
    // No single heuristic survives contact with a real corpus, so
    // production selection (the FineWeb-Edu/CCNet lineage) ENSEMBLES
    // independent signals. Three the suite already verifies — q47's
    // stopword density (naturalness), q88's word entropy (lexical
    // diversity), q101's mean unigram log-prob (fluency under the
    // corpus LM) — are each given a GLOBAL rank (higher signal =
    // better rank) and fused by Borda sum; the report is the top 20
    // with each component rank and the spread (max−min rank), the
    // disagreement column that tells a curator which winners are
    // contested. Determinism: each signal's raw double is computed
    // with the family's pinned fold order (word-sorted sequential
    // folds for entropy/logprob), the rank order is (signal DESC,
    // doc_id) — total — and everything after the ranks is integer
    // arithmetic. Scale: the ranks are three [[Skew.globalRowNumber]]
    // stitches (range-bucket + broadcast prefix — NO single-partition
    // window; the oracle's row_number() is oracle-side business), the
    // fusion is a 3-way join on doc_id carrying three longs per doc,
    // and the report is a top-k TakeOrdered. The signal scans share
    // the same (doc_id, word, c) aggregate.
    Q("q344_quality_ensemble",
      raw"""WITH wl AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\s+') AS words
         |  FROM documents),
         |q1 AS (SELECT doc_id,
         |    len(list_filter(words, x -> x IN ('the', 'a', 'and', 'of', 'to')))
         |      * 1.0 / len(words) AS sc
         |  FROM wl),
         |r1 AS (SELECT doc_id, CAST(row_number()
         |    OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS r1 FROM q1),
         |wq AS (SELECT doc_id, unnest(words) AS word FROM wl),
         |cnt AS (SELECT doc_id, word, count(*) AS c FROM wq GROUP BY doc_id, word),
         |q2 AS (SELECT doc_id,
         |    (ln(CAST(sum(c) AS DOUBLE))
         |      - list_sum(list_transform(list(CAST(c AS DOUBLE) ORDER BY word),
         |          c -> c * ln(c))) / sum(c)) / ln(2.0) AS sc
         |  FROM cnt GROUP BY doc_id),
         |r2 AS (SELECT doc_id, CAST(row_number()
         |    OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS r2 FROM q2),
         |tot AS (SELECT word, CAST(sum(c) AS BIGINT) AS wc FROM cnt GROUP BY word),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cnt),
         |q3 AS (SELECT cnt.doc_id AS doc_id,
         |    list_sum(list_transform(
         |      list(struct_pack(cd := CAST(cnt.c AS DOUBLE),
         |                       lp := ln(CAST(tot.wc AS DOUBLE) / n_total))
         |           ORDER BY cnt.word),
         |      p -> p.cd * p.lp)) / sum(cnt.c) AS sc
         |  FROM cnt JOIN tot USING (word), n
         |  GROUP BY cnt.doc_id),
         |r3 AS (SELECT doc_id, CAST(row_number()
         |    OVER (ORDER BY sc DESC, doc_id) AS BIGINT) AS r3 FROM q3)
         |SELECT doc_id, r1, r2, r3, r1 + r2 + r3 AS borda,
         |  greatest(r1, r2, r3) - least(r1, r2, r3) AS spread
         |FROM r1 JOIN r2 USING (doc_id) JOIN r3 USING (doc_id)
         |ORDER BY borda, doc_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      val sp = s.conf.get("spark.sql.shuffle.partitions").toInt
      def ranked(frame: DataFrame, out: String) =
        graft.ops.Skew.globalRowNumber(frame,
            Seq(col("sc").desc, col("doc_id").asc), sp, outCol = out)
          .select(col("doc_id"), col(out))
      // one persisted (doc_id, s1, s2, s3) score frame. Its readers are
      // the three rank stitches of this plan, and each reads it twice
      // (boundary sample + bucketed pass); without the pin the three
      // ranks re-paid the object aggregates 2x each (measured 5.9 s warm
      // at sf0.1; 2.7 s with it)
      val scores = CacheRegistry.cache(s, s"q344-scores:$dir") {
        val docs = t(s, dir, "documents")
        val q1 = docs.select(col("doc_id"),
          (size(filter(wordsCol,
            x => x.isin("the", "a", "and", "of", "to"))) * lit(1.0)
            / size(wordsCol)).as("s1"))
        val cnt = wordCounts(s, dir)
        val q2 = cnt.groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("long").as("n"),
            expr("""aggregate(
                   |  transform(array_sort(collect_list(struct(word, CAST(c AS DOUBLE) AS cd))),
                   |    p -> p.cd * ln(p.cd)),
                   |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
              .as("s"))
          .select(col("doc_id"),
            ((log(col("n").cast("double")) - col("s") / col("n"))
              / log(lit(2.0))).as("s2"))
        val tot = cnt.groupBy(col("word")).agg(sum(col("c")).cast("long").as("wc"))
        val n = cnt.agg(sum(col("c")).cast("long").as("n_total"))
        val q3 = cnt.join(tot, Seq("word"))
          .crossJoin(broadcast(n))
          .withColumn("lp", log(col("wc").cast("double") / col("n_total")))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("long").as("n"),
            expr("""aggregate(
                   |  transform(array_sort(collect_list(struct(word, CAST(c AS DOUBLE) AS cd, lp))),
                   |    p -> p.cd * p.lp),
                   |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
              .as("ll"))
          .select(col("doc_id"), (col("ll") / col("n")).as("s3"))
        q1.join(q2, Seq("doc_id")).join(q3, Seq("doc_id"))
      }
      def sliced(c: String) = scores.select(col("doc_id"), col(c).as("sc"))
      ranked(sliced("s1"), "r1")
        .join(ranked(sliced("s2"), "r2"), Seq("doc_id"))
        .join(ranked(sliced("s3"), "r3"), Seq("doc_id"))
        .select(col("doc_id"), col("r1"), col("r2"), col("r3"),
          (col("r1") + col("r2") + col("r3")).as("borda"),
          (greatest(col("r1"), col("r2"), col("r3"))
            - least(col("r1"), col("r2"), col("r3"))).as("spread"))
        .orderBy(col("borda"), col("doc_id"))
        .limit(20)
    },

    // ---- q345: trailing-loop (degenerate repetition) detector ----
    // The decoding-artifact filter a synthetic-data pipeline runs that
    // q318's Gopher fractions don't capture: a model stuck in a loop
    // emits a PERIODIC suffix ("... the the the", "... yes no yes no"),
    // so for each period p ∈ 1..8 find the longest trailing run where
    // every word equals the word p back — m_p = n−1−max{mismatch i},
    // all EXACT integer arithmetic — and count a loop only when the
    // matched run covers ≥ one full extra period (L_p = m_p + p iff
    // m_p ≥ p, else 0). The report is the top 20 by loop fraction with
    // the best (longest-loop, then smallest) period; the argmax is the
    // struct-max / min-at-max pair both engines compute identically on
    // integers. The mismatch max is let-bound through a one-element
    // transform (the q318 CollapseProject discipline) so the scan runs
    // once per (doc, p). Scale: doc-local — the only exchange is the
    // 8-row-per-doc best-period aggregate and the top-k
    // TakeOrderedAndProject; no join, no corpus shuffle.
    Q("q345_suffix_loop", {
      def lp(p: Int): String =
        s"""CASE WHEN n > $p THEN
           |  list_transform([coalesce(list_max(list_transform(range($p + 1, n + 1),
           |      i -> CASE WHEN w[i] != w[i - $p] THEN i ELSE $p END)), $p)],
           |    mm -> CASE WHEN n - mm >= $p THEN n - mm + $p ELSE 0 END)[1]
           |ELSE 0 END""".stripMargin
      val plRows = (1 to 8).map(p =>
        s"SELECT doc_id, n, $p AS p, CAST(${lp(p)} AS BIGINT) AS l FROM wn")
        .mkString("\n  UNION ALL ")
      raw"""WITH wn AS (SELECT doc_id,
         |    string_split_regex(lower(trim(text)), '\s+') AS w,
         |    len(string_split_regex(lower(trim(text)), '\s+')) AS n
         |  FROM documents),
         |pl AS (
         |  $plRows),
         |b AS (SELECT doc_id, max(l) AS ml FROM pl GROUP BY doc_id),
         |c AS (SELECT pl.doc_id, CAST(min(pl.p) AS BIGINT) AS best_period,
         |    b.ml AS loop_words, CAST(max(pl.n) AS BIGINT) AS n_words
         |  FROM pl JOIN b ON pl.doc_id = b.doc_id AND pl.l = b.ml
         |  GROUP BY 1, 3)
         |SELECT doc_id, n_words, best_period, loop_words,
         |  round(loop_words * 1.0 / n_words, 6) AS loop_frac
         |FROM c
         |ORDER BY loop_words * 1.0 / n_words DESC, doc_id
         |LIMIT 20""".stripMargin
    }) { (s, dir) =>
      suffixLoopReport(t(s, dir, "documents")).limit(20)
    }
  )

  /** q345's per-document loop report over ANY (doc_id, text) frame —
    * exposed so the spec can plant synthetic periodic suffixes next to
    * the real-corpus sequential reference. Ordered, UNLIMITED — the
    * batch Q takes the top 20. */
  def suffixLoopReport(docs: DataFrame): DataFrame = {
    def lp(p: Int): String =
      s"""CASE WHEN n > $p THEN
         |  transform(array(array_max(transform(sequence($p, n - 1),
         |      i -> IF(w[i] != w[i - $p], i, ${p - 1})))),
         |    mm -> IF(n - 1 - mm >= $p, n - 1 - mm + $p, CAST(0 AS INT)))[0]
         |ELSE 0 END""".stripMargin
    val pl = docs
      .select(col("doc_id"), wordsCol.as("w"), size(wordsCol).as("n"))
      .select(col("doc_id"), col("n"),
        explode(array((1 to 8).map(p =>
          struct(lit(p).as("p"), expr(lp(p)).cast("long").as("l"))): _*))
          .as("pl"))
      .select(col("doc_id"), col("n"),
        col("pl.p").as("p"), col("pl.l").as("l"))
    pl.groupBy(col("doc_id"))
      .agg(max(col("n")).cast("long").as("n_words"),
        max(struct(col("l"), (-col("p")).as("np"), col("p").as("pp")))
          .as("m"))
      .select(col("doc_id"), col("n_words"),
        col("m.pp").cast("long").as("best_period"),
        col("m.l").as("loop_words"),
        round(col("m.l") * lit(1.0) / col("n_words"), 6).as("loop_frac"))
      .orderBy((col("loop_words") * lit(1.0) / col("n_words")).desc,
        col("doc_id"))
  }

  /** q116's chunker over ANY (doc_id, text) frame: fixed 25-word windows
    * every 10 words, each md5-fingerprinted — pure map-side explode, so a
    * document's chunk rows depend only on its own text and the per-batch
    * output of a micro-batch equals the batch-global one for the same docs
    * (the property StreamingChunkContainmentSpec leans on, same as
    * [[TextDedup.shingleRowsFor]]). Returns the UNSORTED
    * (doc_id, start_pos, chunk_md5) frame. */
  def slidingChunks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), wordsCol.as("words"))
      .filter(size(col("words")) >= 25)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(words) - 24, 10),
          |  i -> struct(CAST(i AS BIGINT) AS start_pos,
          |              md5(array_join(slice(words, i, 25), ' ')) AS chunk_md5))"""
          .stripMargin)).as("ch"))
      .select(col("doc_id"), col("ch.start_pos").as("start_pos"),
        col("ch.chunk_md5").as("chunk_md5"))
}
