package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.schema.Tables.t

/** Round-10 statistical destination-surface additions: the remaining
  * ClickHouse aggregate-combinator families a reference user could call
  * on landed tables — corrMatrix (q245), meanZTest + the variance-ratio
  * F statistic + cramersVBiasCorrected (q246), the four exact-quantile
  * interpolation modes quantileExactLow/High/Exclusive/Inclusive (q247)
  * — plus a join-key skew audit (q248), the governance pass that decides
  * WHETHER a 100 TB join needs the salting/AQE-skew treatment the engine
  * ships (Skew.saltedJoin, SCALE.md) before it runs.
  *
  * Scale discipline: q245/q246 are single map-side-combinable hash
  * aggregates (a correlation MATRIX is one pass carrying k(k-1)/2 moment
  * sets, never k² scans); q247/q248 take exact order statistics through
  * the stitched global/grouped rank engine — no single-partition window
  * anywhere, parallelism scales with data volume, and only the requested
  * ranks (≤ a few dozen rows) ever leave the ranked frame.
  */
object Stats3 {

  /** The key-skew audit over ANY (k, cnt) key-frequency frame — the batch
    * q248 feeds it the cached lineitem aggregate; the streaming
    * composition (StreamingGovernanceSpec) feeds it frequencies
    * re-summed from accumulated per-batch partials (counts are additive —
    * the map-side-combine identity). One stitched rank over the
    * |keys|-row frame (never the corpus), one conditional aggregate. */
  def keySkewFor(freq: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = freq.sparkSession
    val ranked = Skew.globalRowNumber(freq,
      Seq(col("cnt").asc, col("k").asc),
      numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt)
    val tot = freq.agg(count(lit(1)).as("nk"), sum(col("cnt")).as("nr"),
      max(col("cnt")).as("top1"))
    val stats = ranked.crossJoin(broadcast(tot))
      .agg(
        sum(col("rn").cast("decimal(38,0)") * col("cnt")).as("s_rc"),
        sum(when(col("rn") > col("nk") - 10, col("cnt"))).as("top10"),
        max(when(col("rn") === ceil(lit(0.5) * col("nk")).cast("long"),
          col("cnt"))).as("p50_freq"),
        max(when(col("rn") === ceil(lit(0.99) * col("nk")).cast("long"),
          col("cnt"))).as("p99_freq"))
    val nrD = col("nr").cast("double")
    tot.crossJoin(broadcast(stats))
      .select(col("nk").cast("long").as("n_keys"),
        col("nr").cast("long").as("n_rows"),
        round(col("top1").cast("double") / nrD, 6).as("top1_share"),
        round(col("top10").cast("double") / nrD, 6).as("top10_share"),
        col("p50_freq").cast("long").as("p50_freq"),
        col("p99_freq").cast("long").as("p99_freq"),
        round((lit(2.0) * col("s_rc") - (col("nk") + 1).cast("double") * col("nr"))
          / (col("nk").cast("double") * nrD), 6).as("gini"))
  }

  def qs: Seq[Q] = Seq(

    // ---- pairwise correlation matrix (corrMatrix parity) ----
    // All six correlations among four lineitem measures from ONE scan:
    // a single hash aggregate evaluates six corr() states side by side
    // (each keeps its own co-moments; partials merge map-side), then a
    // stack() unpivots the 1-row result into the (col_a, col_b, corr)
    // triangle. The oracle computes the same six corr() values in one
    // DuckDB aggregate. Shared sample-correlation definition; round(6)
    // absorbs summation-order ulps (q172 precedent).
    Q("q245_corr_matrix",
      """WITH a AS (SELECT
        |    corr(l_discount, l_extendedprice) AS c_de,
        |    corr(l_discount, l_quantity) AS c_dq,
        |    corr(l_discount, l_tax) AS c_dt,
        |    corr(l_extendedprice, l_quantity) AS c_eq,
        |    corr(l_extendedprice, l_tax) AS c_et,
        |    corr(l_quantity, l_tax) AS c_qt
        |  FROM lineitem)
        |SELECT col_a, col_b, round(c, 6) AS corr_v FROM (
        |  SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b, c_de AS c FROM a
        |  UNION ALL SELECT 'l_discount', 'l_quantity', c_dq FROM a
        |  UNION ALL SELECT 'l_discount', 'l_tax', c_dt FROM a
        |  UNION ALL SELECT 'l_extendedprice', 'l_quantity', c_eq FROM a
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax', c_et FROM a
        |  UNION ALL SELECT 'l_quantity', 'l_tax', c_qt FROM a)
        |ORDER BY col_a, col_b""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          corr(col("l_discount"), col("l_extendedprice")).as("c_de"),
          corr(col("l_discount"), col("l_quantity")).as("c_dq"),
          corr(col("l_discount"), col("l_tax")).as("c_dt"),
          corr(col("l_extendedprice"), col("l_quantity")).as("c_eq"),
          corr(col("l_extendedprice"), col("l_tax")).as("c_et"),
          corr(col("l_quantity"), col("l_tax")).as("c_qt"))
        .selectExpr(
          """stack(6,
            |  'l_discount', 'l_extendedprice', c_de,
            |  'l_discount', 'l_quantity', c_dq,
            |  'l_discount', 'l_tax', c_dt,
            |  'l_extendedprice', 'l_quantity', c_eq,
            |  'l_extendedprice', 'l_tax', c_et,
            |  'l_quantity', 'l_tax', c_qt) AS (col_a, col_b, c)""".stripMargin)
        .select(col("col_a"), col("col_b"), round(col("c"), 6).as("corr_v"))
        .orderBy(col("col_a"), col("col_b"))
    },

    // ---- two-sample z / F tests + bias-corrected Cramér's V ----
    // The remaining hypothesis-test surface next to q194/q195/q200:
    // meanZTest (population-variance z statistic, the variances estimated
    // from the same pass), the variance-ratio F statistic, and
    // cramersVBiasCorrected (Bartlett's correction on q200's φ²). The
    // numeric half is ONE conditional hash aggregate over lineitem
    // (A-vs-R segments via when(); no second scan, no join); the
    // categorical half re-aggregates the r×c contingency CELLS exactly
    // like q200. Round(6) on the scale-free statistics, round(2) on the
    // means (q01 discipline), round(4) on χ².
    Q("q246_ztest_battery",
      """WITH seg AS (SELECT
        |    count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS n_a,
        |    count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_b,
        |    avg(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS m_a,
        |    avg(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS m_b,
        |    var_pop(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS vp_a,
        |    var_pop(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS vp_b,
        |    var_samp(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS vs_a,
        |    var_samp(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS vs_b
        |  FROM lineitem),
        |cells AS (SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |rt AS (SELECT x, sum(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT y, sum(o) AS c FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) AS n FROM cells),
        |dims AS (SELECT (SELECT count(*) FROM rt) AS nr,
        |               (SELECT count(*) FROM ct) AS nc),
        |chi AS (SELECT sum(pow(CAST(o AS DOUBLE)
        |      - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 2)
        |      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS chi2
        |  FROM cells JOIN rt USING (x) JOIN ct USING (y), nn),
        |vc AS (SELECT chi2,
        |    greatest(0.0, chi2 / n - CAST((nr - 1) * (nc - 1) AS DOUBLE) / (n - 1)) AS phi2c,
        |    nr - CAST((nr - 1) * (nr - 1) AS DOUBLE) / (n - 1) AS rc,
        |    nc - CAST((nc - 1) * (nc - 1) AS DOUBLE) / (n - 1) AS cc
        |  FROM chi, nn, dims)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  round(m_a, 2) AS mean_a, round(m_b, 2) AS mean_b,
        |  round((m_a - m_b) / sqrt(vp_a / n_a + vp_b / n_b), 6) AS z_stat,
        |  round(vs_a / vs_b, 6) AS f_ratio,
        |  round(chi2, 4) AS chi2,
        |  round(sqrt(phi2c / least(rc - 1, cc - 1)), 6) AS cramers_v_corrected
        |FROM seg, vc""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val price = col("l_extendedprice")
      def seg(f: String, agg: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        agg(when(col("l_returnflag") === f, price))
      val segs = li.agg(
        count(when(col("l_returnflag") === "A", 1)).as("n_a"),
        count(when(col("l_returnflag") === "R", 1)).as("n_b"),
        seg("A", avg).as("m_a"), seg("R", avg).as("m_b"),
        seg("A", var_pop).as("vp_a"), seg("R", var_pop).as("vp_b"),
        seg("A", var_samp).as("vs_a"), seg("R", var_samp).as("vs_b"))
      val cells = li.groupBy(col("l_returnflag").as("x"), col("l_linestatus").as("y"))
        .agg(count(lit(1)).as("o"))
      val rt = cells.groupBy(col("x")).agg(sum(col("o")).as("r"))
      val ct = cells.groupBy(col("y")).agg(sum(col("o")).as("c"))
      val nn = cells.agg(sum(col("o")).as("n"))
      val dims = rt.agg(count(lit(1)).as("nr"))
        .crossJoin(ct.agg(count(lit(1)).as("nc")))
      val oD = col("o").cast("double"); val e =
        col("r").cast("double") * col("c").cast("double") / col("n").cast("double")
      val chi = cells.join(broadcast(rt), Seq("x")).join(broadcast(ct), Seq("y"))
        .crossJoin(broadcast(nn))
        .agg(sum(pow(oD - e, 2) / e).as("chi2"))
      val nD = col("n").cast("double")
      val vc = chi.crossJoin(broadcast(nn)).crossJoin(broadcast(dims))
        .select(col("chi2"),
          greatest(lit(0.0), col("chi2") / nD
            - ((col("nr") - 1) * (col("nc") - 1)).cast("double") / (nD - 1)).as("phi2c"),
          (col("nr") - ((col("nr") - 1) * (col("nr") - 1)).cast("double") / (nD - 1)).as("rc"),
          (col("nc") - ((col("nc") - 1) * (col("nc") - 1)).cast("double") / (nD - 1)).as("cc"))
      segs.crossJoin(broadcast(vc))
        .select(
          col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
          round(col("m_a"), 2).as("mean_a"), round(col("m_b"), 2).as("mean_b"),
          round((col("m_a") - col("m_b"))
            / sqrt(col("vp_a") / col("n_a") + col("vp_b") / col("n_b")), 6).as("z_stat"),
          round(col("vs_a") / col("vs_b"), 6).as("f_ratio"),
          round(col("chi2"), 4).as("chi2"),
          round(sqrt(col("phi2c") / least(col("rc") - 1, col("cc") - 1)), 6)
            .as("cramers_v_corrected"))
    },

    // ---- exact-quantile interpolation modes ----
    // quantileExactLow / High / Exclusive / Inclusive over l_quantity per
    // return flag. Definitions (1-based rank k over the (v, orderkey,
    // linenumber) total order, n = group size):
    //   low  = v[⌊p(n−1)⌋+1],  high = v[⌈p(n−1)⌉+1]
    //   exclusive (R-6): h = p(n+1), interpolate v[⌊h⌋]..v[⌊h⌋+1]
    //   inclusive (R-7): h = 1+p(n−1), interpolate v[⌊h⌋]..v[⌊h⌋+1]
    // DISTRIBUTION-LEVEL restructure (OPTIMIZATION_r17, guide §2.3/§2.4):
    // the value at rank k is a function of the per-value counts alone —
    // ties in v are contiguous under ANY tiebreaker, so v[k] is the first
    // distinct v whose cumulative group count reaches k (the
    // StreamingWeightedDecilesSpec argument with w ≡ 1). The previous
    // corpus-wide stitched rank (plans/r16/q247_before.txt: FIVE lineitem
    // scans — boundary sample, ranked pass, slice totals, sizes, spec)
    // collapses to ONE map-side-combined (g, v) count aggregate
    // (registry-cached; 2 columns instead of 4 reach the scan) + the
    // stitched running sum over the ≤|distinct v|·|groups| frame. The
    // requested ranks probe the cumulative frame with a broadcast range
    // join: role rank k matches the unique row with cum−cnt < k ≤ cum.
    // The interpolation is pure IEEE arithmetic on exact quarter
    // fractions — bit-identical across engines (q199 precedent); the
    // oracle SQL is UNCHANGED and re-verified strict at 3 SFs.
    Q("q247_quantile_modes",
      """WITH base AS (SELECT l_returnflag AS g, l_quantity AS v,
        |    l_orderkey AS k1, l_linenumber AS k2 FROM lineitem),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v, k1, k2) AS rn
        |  FROM base),
        |s AS (SELECT g, count(*) AS n FROM base GROUP BY g),
        |ps AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS p),
        |spec AS (SELECT g, n, p,
        |    CAST(floor(p * (n - 1)) AS BIGINT) + 1 AS k_low,
        |    CAST(ceil(p * (n - 1)) AS BIGINT) + 1 AS k_high,
        |    greatest(CAST(floor(p * (n + 1)) AS BIGINT), 1) AS k_exc,
        |    p * (n + 1) - floor(p * (n + 1)) AS f_exc,
        |    CAST(floor(1 + p * (n - 1)) AS BIGINT) AS k_inc,
        |    1 + p * (n - 1) - floor(1 + p * (n - 1)) AS f_inc
        |  FROM s, ps)
        |SELECT spec.g AS g, p,
        |  vl.v AS q_low, vh.v AS q_high,
        |  ve0.v + f_exc * (ve1.v - ve0.v) AS q_exc,
        |  vi0.v + f_inc * (vi1.v - vi0.v) AS q_inc
        |FROM spec
        |JOIN r vl ON vl.g = spec.g AND vl.rn = spec.k_low
        |JOIN r vh ON vh.g = spec.g AND vh.rn = spec.k_high
        |JOIN r ve0 ON ve0.g = spec.g AND ve0.rn = spec.k_exc
        |JOIN r ve1 ON ve1.g = spec.g AND ve1.rn = least(spec.k_exc + 1, spec.n)
        |JOIN r vi0 ON vi0.g = spec.g AND vi0.rn = spec.k_inc
        |JOIN r vi1 ON vi1.g = spec.g AND vi1.rn = least(spec.k_inc + 1, spec.n)
        |ORDER BY g, p""".stripMargin) { (s, dir) =>
      val dist = CacheRegistry.cache(s, s"q247-dist:$dir") {
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("g"), col("l_quantity").as("v"))
          .agg(count(lit(1)).as("cnt"))
      }
      // cum = 1-based end rank of each distinct v's tie run within g;
      // rank k lives at the unique row with cum - cnt < k <= cum
      val ranked = Skew.groupedRunningSum(dist, Seq("g"),
        Seq(col("v").asc), col("cnt"),
        numPartitions = s.conf.get("spark.sql.shuffle.partitions").toInt,
        outCol = "cum")
        .select(col("g"), col("v"), col("cnt"), col("cum"))
      val sizes = dist.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      val ps = s.range(0, 3).select(((col("id") + 1) * 0.25).as("p"))
      val nD = col("n").cast("double")
      val spec = sizes.crossJoin(ps)
        .withColumn("k_low", floor(col("p") * (nD - 1)).cast("long") + 1)
        .withColumn("k_high", ceil(col("p") * (nD - 1)).cast("long") + 1)
        .withColumn("k_exc", greatest(floor(col("p") * (nD + 1)).cast("long"), lit(1L)))
        .withColumn("f_exc", col("p") * (nD + 1) - floor(col("p") * (nD + 1)))
        .withColumn("k_inc", floor(lit(1) + col("p") * (nD - 1)).cast("long"))
        .withColumn("f_inc",
          lit(1) + col("p") * (nD - 1) - floor(lit(1) + col("p") * (nD - 1)))
      // the only ranks that leave the ranked frame: ≤ 6 per (g, p), each
      // tagged with its role so ONE equi-join + one tiny pivot aggregate
      // serves all four modes (never re-running the stitch per mode)
      val roles = spec.select(col("g"), col("p"), explode(array(
          struct(lit("low").as("role"), col("k_low").as("krn")),
          struct(lit("high").as("role"), col("k_high").as("krn")),
          struct(lit("e0").as("role"), col("k_exc").as("krn")),
          struct(lit("e1").as("role"), least(col("k_exc") + 1, col("n")).as("krn")),
          struct(lit("i0").as("role"), col("k_inc").as("krn")),
          struct(lit("i1").as("role"), least(col("k_inc") + 1, col("n")).as("krn"))))
          .as("rr"))
        .select(col("g"), col("p"), col("rr.role").as("role"), col("rr.krn").as("rn"))
      val probe = roles.select(col("g").as("rg"), col("p"), col("role"),
        col("rn").as("krn"))
      val vals = ranked.join(broadcast(probe),
          col("g") === col("rg") &&
            col("krn") > col("cum") - col("cnt") &&
            col("krn") <= col("cum"))
        .groupBy(col("g"), col("p"))
        .agg(
          max(when(col("role") === "low", col("v"))).as("v_low"),
          max(when(col("role") === "high", col("v"))).as("v_high"),
          max(when(col("role") === "e0", col("v"))).as("v_e0"),
          max(when(col("role") === "e1", col("v"))).as("v_e1"),
          max(when(col("role") === "i0", col("v"))).as("v_i0"),
          max(when(col("role") === "i1", col("v"))).as("v_i1"))
      spec.join(broadcast(vals), Seq("g", "p"))
        .select(col("g"), col("p"),
          col("v_low").as("q_low"), col("v_high").as("q_high"),
          (col("v_e0") + col("f_exc") * (col("v_e1") - col("v_e0"))).as("q_exc"),
          (col("v_i0") + col("f_inc") * (col("v_i1") - col("v_i0"))).as("q_inc"))
        .orderBy(col("g"), col("p"))
    },

    // ---- weight of evidence + information value ----
    // ClickHouse `categoricalInformationValue` parity — the feature-
    // screening statistic every quality-classifier pipeline (q74/q156)
    // runs before training: for a categorical feature (the 10-way user
    // cohort) against the binary purchase outcome, WoE_i =
    // ln((g_i/G)/(b_i/B)) and IV = Σ (g_i/G − b_i/B)·WoE_i. One cell
    // aggregate over the corpus (the q200 discipline: marginals
    // re-aggregate the ≤10 CELLS, never the rows); +0.5 Laplace
    // smoothing on every cell so empty cells stay finite, stated
    // identically in the oracle. ln is libm → WoE rounds at 6 dp and
    // the IV fold runs over the ROUNDED WoE (the q208 rule).
    Q("q253_information_value",
      """WITH cells AS (SELECT user_id % 10 AS cohort,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) + 0.5 AS g,
        |    count(CASE WHEN event_type <> 'purchase' THEN 1 END) + 0.5 AS b
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(g) AS gt, sum(b) AS bt FROM cells),
        |woe AS (SELECT cohort, g, b,
        |    round(ln((g / gt) / (b / bt)), 6) AS woe,
        |    (g / gt - b / bt) AS share_gap
        |  FROM cells, tot)
        |SELECT CAST(cohort AS BIGINT) AS cohort,
        |  CAST(g - 0.5 AS BIGINT) AS goods, CAST(b - 0.5 AS BIGINT) AS bads,
        |  woe, round(share_gap * woe, 6) AS iv_term,
        |  round((SELECT sum(round(share_gap * woe, 6)) FROM woe), 6) AS iv_total
        |FROM woe
        |ORDER BY cohort""".stripMargin) { (s, dir) =>
      // the 10-row cell frame feeds both the WoE rows and the IV total —
      // registry-cached so the corpus is scanned once (the q248 pattern)
      val cells = CacheRegistry.cache(s, s"q253-cells:$dir") {
        t(s, dir, "events")
          .groupBy((col("user_id") % 10).as("cohort"))
          .agg((count(when(col("event_type") === "purchase", 1)) + 0.5).as("g"),
            (count(when(col("event_type") =!= "purchase", 1)) + 0.5).as("b"))
      }
      val tot = cells.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"))
      val woe = cells.crossJoin(broadcast(tot))
        .select(col("cohort"), col("g"), col("b"),
          round(log((col("g") / col("gt")) / (col("b") / col("bt"))), 6).as("woe"),
          (col("g") / col("gt") - col("b") / col("bt")).as("share_gap"))
      val ivTot = woe.agg(round(sum(round(col("share_gap") * col("woe"), 6)), 6)
        .as("iv_total"))
      woe.crossJoin(broadcast(ivTot))
        .select(col("cohort").cast("long").as("cohort"),
          (col("g") - 0.5).cast("long").as("goods"),
          (col("b") - 0.5).cast("long").as("bads"),
          col("woe"), round(col("share_gap") * col("woe"), 6).as("iv_term"),
          col("iv_total"))
        .orderBy(col("cohort"))
    },

    // ---- deterministic per-group sample (groupArraySample parity) ----
    // k = 5 representatives per event_type, chosen by md5(event_id)
    // hash rank — seedless-deterministic (same rows on any cluster
    // layout, the q71 content-keyed discipline). event_type is a
    // LOW-cardinality key, but the rank-≤-k window is still scale-legal
    // because Spark's WindowGroupLimit pushes the top-k cut MAP-SIDE:
    // each input partition forwards at most k rows per group, so the
    // exchange carries ≤ k·P rows, never a group's full history
    // (asserted in Stats3Spec — the q96 plan shape). Output renders the
    // sample as a canonical sorted id list.
    Q("q254_group_array_sample",
      """WITH r AS (SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events)
        |SELECT event_type,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)
        |    AS sample_ids
        |FROM r WHERE rn <= 5
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      t(s, dir, "events")
        .select(col("event_type"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("event_type"))
        .agg(collect_list(col("event_id")).as("ids"))
        .select(col("event_type"),
          expr("array_join(transform(array_sort(ids), x -> CAST(x AS STRING)), ',')")
            .as("sample_ids"))
        .orderBy(col("event_type"))
    },

    // ---- A/B-test sample-size planning (minSampleSizeConversion /
    //      minSampleSizeContinuous parity) ----
    // The experiment-planning pair next to the test statistics (q194/
    // q246): given the LANDED data's own baseline — purchase-conversion
    // share for the binary arm, value mean/variance for the continuous
    // arm — the per-variant n needed to detect the stated MDE at
    // α = 0.05, power = 0.8. The normal quantiles are fixed LITERALS
    // (z_{0.975} = 1.959964, z_{0.8} = 0.841621) — no erfinv in either
    // engine, and CH hardcodes the same pair. Baselines reduce to one
    // narrow aggregate each (conversion = event-level purchase share —
    // comfortably interior, so p1 + MDE stays a probability;
    // μ/σ² = moment aggregate); every derived value rounds at 6 dp
    // BEFORE the closed-form n (and n = ceil of a 6dp-rounded ratio),
    // so the integer outputs cannot drift on summation-order ulps.
    Q("q251_min_sample_size",
      """WITH conv AS (SELECT
        |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE)
        |    / count(*) AS p1
        |  FROM events),
        |mom AS (SELECT round(avg(value), 6) AS m,
        |    round(var_samp(value), 6) AS v FROM events),
        |arm AS (SELECT p1, p1 + 0.02 AS p2, (p1 + p1 + 0.02) / 2 AS pbar
        |  FROM conv)
        |SELECT round(p1, 6) AS base_rate,
        |  CAST(ceil(round(
        |    pow(1.959964 * sqrt(2 * pbar * (1 - pbar))
        |      + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
        |    / pow(p2 - p1, 2), 6)) AS BIGINT) AS n_conversion,
        |  m AS value_mean, v AS value_var,
        |  CAST(ceil(round(
        |    2 * pow(1.959964 + 0.841621, 2) * v / pow(0.02 * m, 2), 6))
        |    AS BIGINT) AS n_continuous
        |FROM arm, mom""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val conv = ev.agg(
        (count(when(col("event_type") === "purchase", 1))
          .cast("double") / count(lit(1))).as("p1"))
      val mom = ev.agg(round(avg(col("value")), 6).as("m"),
        round(var_samp(col("value")), 6).as("v"))
      val za = lit(1.959964); val zb = lit(0.841621)
      val arm = conv.select(col("p1"), (col("p1") + 0.02).as("p2"),
        ((col("p1") + col("p1") + 0.02) / 2).as("pbar"))
      arm.crossJoin(broadcast(mom))
        .select(round(col("p1"), 6).as("base_rate"),
          ceil(round(
            pow(za * sqrt(lit(2) * col("pbar") * (lit(1) - col("pbar")))
              + zb * sqrt(col("p1") * (lit(1) - col("p1"))
                + col("p2") * (lit(1) - col("p2"))), 2)
              / pow(col("p2") - col("p1"), 2), 6)).cast("long").as("n_conversion"),
          col("m").as("value_mean"), col("v").as("value_var"),
          ceil(round(
            lit(2) * pow(za + zb, 2) * col("v") / pow(lit(0.02) * col("m"), 2), 6))
            .cast("long").as("n_continuous"))
    },

    // ---- join-key skew audit ----
    // The pre-flight governance pass for a 100 TB join: profile the key
    // frequency distribution of lineitem.l_partkey in one aggregate +
    // one stitched rank over the |keys|-row frequency frame (never the
    // corpus), and report the numbers that decide the salting/AQE
    // treatment — top-key shares, median/p99 frequency, and the Gini
    // coefficient of the key mass ((2·Σ rank·cnt − (K+1)·N) / (K·N),
    // ranks ascending — exact DECIMAL arithmetic, only the final ratios
    // are doubles). All order statistics fall out of ONE conditional
    // aggregate over the ranked frame; nothing driver-side.
    Q("q248_key_skew_audit",
      """WITH freq AS (SELECT l_partkey AS k, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT k, cnt,
        |    row_number() OVER (ORDER BY cnt, k) AS rn FROM freq),
        |tot AS (SELECT count(*) AS nk, sum(cnt) AS nr, max(cnt) AS top1
        |  FROM freq),
        |g AS (SELECT sum(CAST(rn AS DECIMAL(38,0)) * cnt) AS s_rc FROM r),
        |t10 AS (SELECT sum(cnt) AS top10 FROM r, tot WHERE rn > nk - 10),
        |p50 AS (SELECT cnt AS p50_freq FROM r, tot
        |  WHERE rn = CAST(ceil(0.5 * nk) AS BIGINT)),
        |p99 AS (SELECT cnt AS p99_freq FROM r, tot
        |  WHERE rn = CAST(ceil(0.99 * nk) AS BIGINT))
        |SELECT CAST(nk AS BIGINT) AS n_keys, CAST(nr AS BIGINT) AS n_rows,
        |  round(CAST(top1 AS DOUBLE) / nr, 6) AS top1_share,
        |  round(CAST(top10 AS DOUBLE) / nr, 6) AS top10_share,
        |  CAST(p50_freq AS BIGINT) AS p50_freq,
        |  CAST(p99_freq AS BIGINT) AS p99_freq,
        |  round((2.0 * s_rc - CAST(nk + 1 AS DOUBLE) * nr)
        |    / (CAST(nk AS DOUBLE) * nr), 6) AS gini
        |FROM tot, g, t10, p50, p99""".stripMargin) { (s, dir) =>
      // the frequency frame feeds both the totals and the rank stitch —
      // registry-cached so lineitem is scanned once (the q168/q204 share
      // pattern), and the ranked frame is consumed by ONE aggregate
      val freq = CacheRegistry.cache(s, s"q248-freq:$dir") {
        t(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("cnt"))
      }
      keySkewFor(freq)
    },

    // ---- Benjamini–Hochberg FDR over a hypothesis family ----
    // The multiple-testing control every segment-drilldown battery needs:
    // testing 100 segments at α=0.05 uncorrected expects 5 false alarms,
    // so per-segment z-tests (bucket mean vs its event_type's mean, the
    // type's σ treated as known) feed the BH step-up: rank p ascending,
    // reject ranks ≤ k where k = max{i: p_(i) ≤ i·α/m}, and report the
    // standard adjusted p (reverse running min of p·m/i, capped at 1).
    //
    // Parity: p comes from the Abramowitz–Stegun 7.1.26 erfc polynomial —
    // z is 9dp-rounded BEFORE the polynomial and p 9dp-rounded after it
    // (exp() is not libm-portable; the q211 rounding discipline), and the
    // identical formula text runs in both engines. Scale: two map-side-
    // combined aggregates + a broadcast join build the hypothesis frame;
    // the ranking windows run over the m = 5×20 = 100-row hypothesis
    // family, bounded by construction — never over event rows.
    Q("q260_bh_fdr",
      """WITH per AS (SELECT event_type, user_id % 20 AS bucket,
        |    count(*) AS n, avg(value) AS mb
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, avg(value) AS mu,
        |    sqrt(var_pop(value)) AS sd
        |  FROM events GROUP BY 1),
        |zs AS (SELECT per.event_type, bucket, n,
        |    round((mb - mu) * sqrt(CAST(n AS DOUBLE)) / sd, 9) AS z
        |  FROM per JOIN g ON per.event_type = g.event_type),
        |ps AS (SELECT event_type, bucket, n, z,
        |    round(((((1.061405429 * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |        - 1.453152027) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |        + 1.421413741) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |        - 0.284496736) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |        + 0.254829592) * (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
        |      * exp(-(abs(z) / sqrt(2.0)) * (abs(z) / sqrt(2.0))), 9) AS p
        |  FROM zs),
        |rk AS (SELECT *, row_number() OVER (ORDER BY p, event_type, bucket) AS i,
        |    count(*) OVER () AS m
        |  FROM ps),
        |kk AS (SELECT coalesce(max(CASE WHEN p <= CAST(i AS DOUBLE) * 0.05
        |      / CAST(m AS DOUBLE) THEN i END), 0) AS k
        |  FROM rk),
        |adj AS (SELECT rk.*, kk.k,
        |    min(least(1.0, p * CAST(m AS DOUBLE) / CAST(i AS DOUBLE)))
        |      OVER (ORDER BY i DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_adj
        |  FROM rk, kk)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(n AS BIGINT) AS n, z, p, round(p_adj, 6) AS p_adj,
        |  CAST(i AS BIGINT) AS rank_p, (i <= k) AS rejected
        |FROM adj
        |ORDER BY rank_p""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 20).as("bucket"), col("value"))
      val per = ev.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("mb"))
      val g = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"), sqrt(var_pop(col("value"))).as("sd"))
      val zs = per.join(broadcast(g), Seq("event_type"))
        .select(col("event_type"), col("bucket"), col("n"),
          round((col("mb") - col("mu")) * sqrt(col("n").cast("double")) / col("sd"), 9)
            .as("z"))
      val x = abs(col("z")) / sqrt(lit(2.0))
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = ((((lit(1.061405429) * tt - lit(1.453152027)) * tt
        + lit(1.421413741)) * tt - lit(0.284496736)) * tt + lit(0.254829592)) * tt
      val ps = zs.select(col("event_type"), col("bucket"), col("n"), col("z"),
        round(poly * exp(-x * x), 9).as("p"))
      // m = 100-row hypothesis family: the unpartitioned windows below are
      // bounded by construction (types × buckets), never corpus-sized
      val wRank = Window.orderBy(col("p"), col("event_type"), col("bucket"))
      val rk = ps.select(col("*"), row_number().over(wRank).as("i"),
        count(lit(1)).over(Window.partitionBy()).as("m"))
      val kk = rk.agg(coalesce(max(when(
          col("p") <= col("i").cast("double") * lit(0.05) / col("m").cast("double"),
          col("i"))), lit(0)).as("k"))
      val wAdj = Window.orderBy(col("i").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rk.crossJoin(broadcast(kk))
        .select(col("*"),
          min(least(lit(1.0), col("p") * col("m").cast("double")
            / col("i").cast("double"))).over(wAdj).as("p_adj"))
        .select(col("event_type"), col("bucket").cast("long").as("bucket"),
          col("n").cast("long").as("n"), col("z"), col("p"),
          round(col("p_adj"), 6).as("p_adj"),
          col("i").cast("long").as("rank_p"), (col("i") <= col("k")).as("rejected"))
        .orderBy(col("rank_p"))
    },

    // ---- robust means: exact 5%-trimmed and winsorized (per group) ----
    // The robust-statistics companions to q232's Tukey fences: drop (trim)
    // or clamp (winsorize) the k = n div 20 most extreme values on each
    // side, using EXACT order statistics. No row-level rank is ever
    // materialized: the stitched grouped running count over the DISTINCT
    // (group, value) frame gives each value its rank interval
    // [cum−cnt+1, cum], from which the kept-row count, the k+1-th and the
    // (n−k)-th order statistics all fall out arithmetically — the same
    // no-single-partition-window discipline as q203/q247, with work
    // proportional to distinct values, not rows. Values quantize at 6 dp
    // into DECIMAL(18,6) so the trimmed/winsorized sums are exact and only
    // the two final mean ratios are floating.
    Q("q264_trimmed_stats",
      """WITH g AS (SELECT event_type AS g, value AS v, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT g, v, cnt,
        |    sum(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g),
        |t AS (SELECT g, max(cum) AS n FROM c GROUP BY 1),
        |p AS (SELECT g, n, n // 20 AS k FROM t),
        |j AS (SELECT c.g AS g, CAST(round(v, 6) AS DECIMAL(18,6)) AS vq,
        |    cnt, cum, n, k
        |  FROM c JOIN p ON c.g = p.g),
        |kept AS (SELECT g, vq, cnt, cum, n, k,
        |    greatest(0, least(cum, n - k) - greatest(cum - cnt, k)) AS kc
        |  FROM j),
        |agg AS (SELECT g, max(n) AS n, max(k) AS k,
        |    sum(vq * kc) AS ts,
        |    max(CASE WHEN k + 1 > cum - cnt AND k + 1 <= cum THEN vq END) AS lo,
        |    max(CASE WHEN n - k > cum - cnt AND n - k <= cum THEN vq END) AS hi
        |  FROM kept GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        |  round(CAST(ts AS DOUBLE) / (n - 2 * k), 6) AS trimmed_mean,
        |  round(CAST(ts + k * lo + k * hi AS DOUBLE) / n, 6) AS winsor_mean,
        |  CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi
        |FROM agg ORDER BY event_type""".stripMargin) { (s, dir) =>
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val grp = t(s, dir, "events")
        .groupBy(col("event_type").as("g"), col("value").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val c = Skew.groupedRunningSum(grp, Seq("g"), Seq(col("v")), col("cnt"),
        parts, "cum")
      val p = c.groupBy(col("g")).agg(max(col("cum")).as("n"))
        .select(col("g"), col("n"), expr("n div 20").as("k"))
      val j = c.join(broadcast(p), Seq("g"))
        .select(col("g"), round(col("v"), 6).cast("decimal(18,6)").as("vq"),
          col("cnt"), col("cum"), col("n"), col("k"))
      val kept = j.withColumn("kc",
        greatest(lit(0L), least(col("cum"), col("n") - col("k"))
          - greatest(col("cum") - col("cnt"), col("k"))))
      val agg = kept.groupBy(col("g"))
        .agg(max(col("n")).as("n"), max(col("k")).as("k"),
          sum(col("vq") * col("kc")).as("ts"),
          max(when(col("k") + 1 > col("cum") - col("cnt")
            && col("k") + 1 <= col("cum"), col("vq"))).as("lo"),
          max(when(col("n") - col("k") > col("cum") - col("cnt")
            && col("n") - col("k") <= col("cum"), col("vq"))).as("hi"))
      agg.select(col("g").as("event_type"),
          col("n").cast("long").as("n"), col("k").cast("long").as("k"),
          round(col("ts").cast("double") / (col("n") - lit(2) * col("k")), 6)
            .as("trimmed_mean"),
          round((col("ts") + col("k") * col("lo") + col("k") * col("hi"))
            .cast("double") / col("n"), 6).as("winsor_mean"),
          col("lo").cast("double").as("lo"), col("hi").cast("double").as("hi"))
        .orderBy(col("event_type"))
    },

    // ---- CUPED variance reduction for experiment metrics ----
    // The standard pre-period covariate adjustment (q251's sample-size
    // planner's natural companion): per user, pre = value mass in the
    // first 15 days, post = the rest; θ = cov(pre, post)/var(pre) pooled
    // across arms; adjusted = post − θ·(pre − mean(pre)). Reported per
    // arm (user_id parity): the post/adjusted means and variances and
    // the realized variance-reduction share. Exactness: per-user sums
    // land in DECIMAL(18,2) (value is money-like), every moment is an
    // exact DECIMAL sum (products ≤ DECIMAL(37,4)), θ and the means are
    // single divisions, and the per-user adjusted metric re-quantizes at
    // 6 dp before its variance moments. Scale: two hash aggregates
    // (user, then arm) + one broadcast 1-row θ frame.
    Q("q269_cuped",
      """WITH bounds AS (SELECT min(epoch_us(ts) // 86400000000) + 15 AS split
        |  FROM events),
        |u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN epoch_us(ts) // 86400000000 < split
        |      THEN CAST(value AS DECIMAL(19,2)) ELSE CAST(0 AS DECIMAL(19,2))
        |      END) AS DECIMAL(19,2)) AS pre,
        |    CAST(sum(CASE WHEN epoch_us(ts) // 86400000000 >= split
        |      THEN CAST(value AS DECIMAL(19,2)) ELSE CAST(0 AS DECIMAL(19,2))
        |      END) AS DECIMAL(19,2)) AS post
        |  FROM events, bounds GROUP BY 1),
        |m AS (SELECT count(*) AS n, sum(pre) AS sp, sum(post) AS so,
        |    sum(pre * pre) AS spp, sum(pre * post) AS spo
        |  FROM u),
        |th AS (SELECT
        |    (CAST(n AS DOUBLE) * CAST(spo AS DOUBLE)
        |      - CAST(sp AS DOUBLE) * CAST(so AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
        |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE)) AS theta,
        |    CAST(sp AS DOUBLE) / n AS mean_pre
        |  FROM m),
        |adj AS (SELECT user_id % 2 AS arm,
        |    post,
        |    CAST(round(CAST(post AS DOUBLE)
        |      - theta * (CAST(pre AS DOUBLE) - mean_pre), 6)
        |      AS DECIMAL(19,6)) AS a
        |  FROM u, th),
        |per AS (SELECT arm, count(*) AS n, sum(post) AS so,
        |    sum(post * post) AS soo, sum(a) AS sa, sum(a * a) AS saa
        |  FROM adj GROUP BY 1)
        |SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n,
        |  round(CAST(so AS DOUBLE) / n, 6) AS mean_post,
        |  round(CAST(sa AS DOUBLE) / n, 6) AS mean_adj,
        |  round((CAST(soo AS DOUBLE) - CAST(so AS DOUBLE) * CAST(so AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / n, 6) AS var_post,
        |  round((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / n, 6) AS var_adj,
        |  round(1 - (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
        |      / CAST(n AS DOUBLE))
        |    / (CAST(soo AS DOUBLE) - CAST(so AS DOUBLE) * CAST(so AS DOUBLE)
        |      / CAST(n AS DOUBLE)), 6) AS var_reduction
        |FROM per ORDER BY arm""".stripMargin) { (s, dir) =>
      val dayIdx = (unix_micros(col("ts").cast("timestamp")) / 86400000000L)
        .cast("long")
      val ev = t(s, dir, "events")
        .select(col("user_id"), dayIdx.as("d"), col("value"))
      val bounds = ev.agg((min(col("d")) + 15).as("split"))
      val dec2 = "decimal(19,2)"
      val u = ev.crossJoin(broadcast(bounds))
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("d") < col("split"), col("value").cast(dec2))
            .otherwise(lit(0).cast(dec2))).cast(dec2).as("pre"),
          sum(when(col("d") >= col("split"), col("value").cast(dec2))
            .otherwise(lit(0).cast(dec2))).cast(dec2).as("post"))
      val m = u.agg(count(lit(1)).as("n"), sum(col("pre")).as("sp"),
        sum(col("post")).as("so"), sum(col("pre") * col("pre")).as("spp"),
        sum(col("pre") * col("post")).as("spo"))
      val nD = col("n").cast("double")
      val th = m.select(
        ((nD * col("spo").cast("double")
          - col("sp").cast("double") * col("so").cast("double"))
          / (nD * col("spp").cast("double")
            - col("sp").cast("double") * col("sp").cast("double"))).as("theta"),
        (col("sp").cast("double") / col("n")).as("mean_pre"))
      val adj = u.crossJoin(broadcast(th))
        .select((col("user_id") % 2).as("arm"), col("post"),
          round(col("post").cast("double")
            - col("theta") * (col("pre").cast("double") - col("mean_pre")), 6)
            .cast("decimal(19,6)").as("a"))
      val per = adj.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("post")).as("so"),
          sum(col("post") * col("post")).as("soo"),
          sum(col("a")).as("sa"), sum(col("a") * col("a")).as("saa"))
      val npD = col("n").cast("double")
      val varPost = col("soo").cast("double") -
        col("so").cast("double") * col("so").cast("double") / npD
      val varAdj = col("saa").cast("double") -
        col("sa").cast("double") * col("sa").cast("double") / npD
      per.select(col("arm").cast("long").as("arm"), col("n").cast("long").as("n"),
          round(col("so").cast("double") / col("n"), 6).as("mean_post"),
          round(col("sa").cast("double") / col("n"), 6).as("mean_adj"),
          round(varPost / col("n"), 6).as("var_post"),
          round(varAdj / col("n"), 6).as("var_adj"),
          round(lit(1) - varAdj / varPost, 6).as("var_reduction"))
        .orderBy(col("arm"))
    },

    // ---- exact class-balanced downsampling ----
    // The training-label balancer q86's rate-coin can only approximate:
    // keep EXACTLY min-class-count rows per class. Per-class order is the
    // md5(event_id) coin (deterministic, uniform, engine-stable), the
    // per-class rank comes from the stitched grouped row number (a
    // 5-value class key would funnel each class through one partition
    // under Window.partitionBy — the q75/q247 argument), and the keep
    // rule is rank ≤ target. Output: per-class before/after counts plus
    // the exact integer fingerprint (sum + min/max of kept ids) so the
    // oracle pins the SELECTED SET, not just its size.
    Q("q275_balanced_downsample",
      """WITH r AS (SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events),
        |c AS (SELECT event_type, count(*) AS n_before FROM events GROUP BY 1),
        |tgt AS (SELECT min(n_before) AS target FROM c),
        |kept AS (SELECT event_type, event_id FROM r, tgt WHERE rn <= target)
        |SELECT c.event_type AS event_type,
        |  CAST(c.n_before AS BIGINT) AS n_before,
        |  CAST(count(k.event_id) AS BIGINT) AS n_kept,
        |  CAST(sum(k.event_id) AS BIGINT) AS id_sum,
        |  CAST(min(k.event_id) AS BIGINT) AS id_min,
        |  CAST(max(k.event_id) AS BIGINT) AS id_max
        |FROM c JOIN kept k ON c.event_type = k.event_type
        |GROUP BY 1, 2
        |ORDER BY event_type""".stripMargin) { (s, dir) =>
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          md5(col("event_id").cast("string")).as("coin"))
      val r = Skew.groupedRowNumber(ev, Seq("event_type"),
        Seq(col("coin"), col("event_id")), parts, "rn")
      val c = t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_before"))
      val tgt = c.agg(min(col("n_before")).as("target"))
      val kept = r.crossJoin(broadcast(tgt)).filter(col("rn") <= col("target"))
      kept.join(broadcast(c), Seq("event_type"))
        .groupBy(col("event_type"), col("n_before"))
        .agg(count(col("event_id")).cast("long").as("n_kept"),
          sum(col("event_id")).cast("long").as("id_sum"),
          min(col("event_id")).cast("long").as("id_min"),
          max(col("event_id")).cast("long").as("id_max"))
        .select(col("event_type"), col("n_before").cast("long").as("n_before"),
          col("n_kept"), col("id_sum"), col("id_min"), col("id_max"))
        .orderBy(col("event_type"))
    },

    // ---- always-valid sequential test (mSPRT) over accreting days ----
    // The peeking-safe monitor a fixed-n z-test (q246) can't give: per
    // day, the mixture-SPRT likelihood ratio for arm A vs arm B means
    // (normal mixture prior τ² = σ², σ² the pooled global variance) and
    // the always-valid p = running min of 1/Λ — monotone by construction,
    // so an experimenter may stop ANY day without inflating error.
    // Exactness: daily sums are exact DECIMAL(19,2) running totals over
    // the calendar-bounded day grid (≤ span-days rows per arm); the one
    // exp() rounds at 9 before the running min (the q208/q211 libm rule);
    // σ² is a single broadcast scalar stated identically in both engines.
    Q("q279_msprt",
      """WITH sig AS (SELECT var_pop(value) AS s2 FROM events),
        |d AS (SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |    user_id % 2 AS arm, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(19,2))) AS DECIMAL(19,2)) AS s
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT day_idx, arm,
        |    sum(n) OVER w AS cn, CAST(sum(s) OVER w AS DOUBLE) AS cs
        |  FROM d WINDOW w AS (PARTITION BY arm ORDER BY day_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |j AS (SELECT a.day_idx AS day_idx, a.cn AS na, b.cn AS nb,
        |    a.cs / a.cn - b.cs / b.cn AS delta,
        |    CAST(a.cn AS DOUBLE) * b.cn / (a.cn + b.cn) AS neff
        |  FROM c a JOIN c b ON a.day_idx = b.day_idx
        |    AND a.arm = 0 AND b.arm = 1),
        |lam AS (SELECT day_idx, na, nb, delta,
        |    round(sqrt(2.0 * s2 / (2.0 * s2 + neff * s2))
        |      * exp(neff * neff * s2 * delta * delta
        |          / (2.0 * s2 * (2.0 * s2 + neff * s2))), 9) AS lambda
        |  FROM j, sig),
        |p AS (SELECT day_idx, na, nb, delta, lambda,
        |    min(least(1.0, 1.0 / lambda)) OVER (ORDER BY day_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_seq
        |  FROM lam)
        |SELECT CAST(day_idx AS BIGINT) AS day_idx,
        |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  round(delta, 6) AS delta, round(lambda, 6) AS lambda,
        |  round(p_seq, 6) AS p_always_valid
        |FROM p ORDER BY day_idx""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select((unix_micros(col("ts").cast("timestamp")) / 86400000000L)
          .cast("long").as("day_idx"),
          (col("user_id") % 2).as("arm"), col("value"))
      val sig = ev.agg(var_pop(col("value")).as("s2"))
      val d = ev.groupBy(col("day_idx"), col("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(19,2)")).cast("decimal(19,2)").as("s"))
      val w = Window.partitionBy(col("arm")).orderBy(col("day_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = d.select(col("day_idx"), col("arm"),
        sum(col("n")).over(w).as("cn"), sum(col("s")).over(w).cast("double").as("cs"))
      val a = c.filter(col("arm") === 0)
        .select(col("day_idx"), col("cn").as("na"), col("cs").as("csa"))
      val b = c.filter(col("arm") === 1)
        .select(col("day_idx"), col("cn").as("nb"), col("cs").as("csb"))
      val j = a.join(b, Seq("day_idx"))
        .select(col("day_idx"), col("na"), col("nb"),
          (col("csa") / col("na") - col("csb") / col("nb")).as("delta"),
          (col("na").cast("double") * col("nb") / (col("na") + col("nb")))
            .as("neff"))
      val s2 = col("s2")
      val lam = j.crossJoin(broadcast(sig))
        .select(col("day_idx"), col("na"), col("nb"), col("delta"),
          round(sqrt(lit(2.0) * s2 / (lit(2.0) * s2 + col("neff") * s2))
            * exp(col("neff") * col("neff") * s2 * col("delta") * col("delta")
              / (lit(2.0) * s2 * (lit(2.0) * s2 + col("neff") * s2))), 9)
            .as("lambda"))
      val wp = Window.orderBy(col("day_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lam.select(col("day_idx").cast("long").as("day_idx"),
          col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
          round(col("delta"), 6).as("delta"),
          round(col("lambda"), 6).as("lambda"),
          round(min(least(lit(1.0), lit(1.0) / col("lambda"))).over(wp), 6)
            .as("p_always_valid"))
        .orderBy(col("day_idx"))
    },

    // ---- deterministic Poisson-bootstrap confidence interval ----
    // The nonparametric CI machinery with the engine's no-RNG discipline:
    // 50 bootstrap replicas of the mean daily purchase count, each row's
    // replica weight a Poisson(1) draw INVERTED from the md5(day:rep)
    // uniform against literal cumulative thresholds (e⁻¹-based constants
    // stated identically in both engines — reproducible across runs,
    // engines and repartitionings, the q86/q274 coin rule). The replica
    // grid is days × 50 — calendar-bounded, tiny; the 95% band is read
    // from EXPLICIT ranked elements of the 50 replica means (rank 2 and
    // rank 49 — no engine quantile interpolation).
    Q("q282_bootstrap_ci",
      s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day_idx,
        |    count(*) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |reps AS (SELECT unnest(range(0, 50)) AS r),
        |wt AS (SELECT day_idx, x, r,
        |    (CASE
        |      WHEN u < 0.367879441 THEN 0 WHEN u < 0.735758882 THEN 1
        |      WHEN u < 0.919698603 THEN 2 WHEN u < 0.981011843 THEN 3
        |      WHEN u < 0.996340153 THEN 4 WHEN u < 0.999405815 THEN 5
        |      ELSE 6 END) AS w
        |  FROM (SELECT day_idx, x, r,
        |      ${TextCommon.duckHex(
             "substr(md5(CAST(day_idx AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 8)",
             8)} / 4294967296.0 AS u
        |    FROM d, reps) t),
        |bm AS (SELECT r,
        |    CASE WHEN sum(w) = 0 THEN NULL
        |      ELSE round(CAST(sum(w * x) AS DOUBLE) / sum(w), 9) END AS m
        |  FROM wt GROUP BY r),
        |rk AS (SELECT m, row_number() OVER (ORDER BY m, r) AS rn,
        |    count(*) OVER () AS nr
        |  FROM bm WHERE m IS NOT NULL),
        |s AS (SELECT count(*) AS nrep, sum(CAST(m AS DECIMAL(19,9))) AS sm,
        |    sum(CAST(m AS DECIMAL(19,9)) * CAST(m AS DECIMAL(19,9))) AS smm
        |  FROM rk),
        |base AS (SELECT count(*) AS n_days,
        |    round(avg(CAST(x AS DOUBLE)), 6) AS est FROM d)
        |SELECT CAST(n_days AS BIGINT) AS n_days, est,
        |  CAST(nrep AS BIGINT) AS n_replicas,
        |  round(CAST(sm AS DOUBLE) / nrep, 6) AS boot_mean,
        |  round(sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
        |      / nrep) / (nrep - 1)), 6) AS boot_se,
        |  (SELECT m FROM rk WHERE rn = 2) AS lo95,
        |  (SELECT m FROM rk WHERE rn = nr - 1) AS hi95
        |FROM s, base""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "events").filter(col("event_type") === "purchase")
        .groupBy((unix_micros(col("ts").cast("timestamp")) / 86400000000L)
          .cast("long").as("day_idx"))
        .agg(count(lit(1)).as("x"))
      val reps = s.range(0, 50).select(col("id").as("r"))
      val u = conv(substring(md5(concat(col("day_idx").cast("string"), lit(":"),
        col("r").cast("string"))), 1, 8), 16, 10).cast("long") / lit(4294967296.0)
      val wt = d.crossJoin(broadcast(reps))
        .select(col("day_idx"), col("x"), col("r"),
          when(u < 0.367879441, 0L).when(u < 0.735758882, 1L)
            .when(u < 0.919698603, 2L).when(u < 0.981011843, 3L)
            .when(u < 0.996340153, 4L).when(u < 0.999405815, 5L)
            .otherwise(6L).as("w"))
      val bm = wt.groupBy(col("r"))
        .agg(when(sum(col("w")) === 0, lit(null))
          .otherwise(round(sum(col("w") * col("x")).cast("double")
            / sum(col("w")), 9)).as("m"))
      val wr = Window.orderBy(col("m"), col("r")) // 50-row frame, bounded
      val rk = bm.filter(col("m").isNotNull)
        .select(col("m"), row_number().over(wr).as("rn"),
          count(lit(1)).over(Window.partitionBy()).as("nr"))
      val dec9 = "decimal(19,9)"
      val st = rk.agg(count(lit(1)).as("nrep"),
        sum(col("m").cast(dec9)).as("sm"),
        sum(col("m").cast(dec9) * col("m").cast(dec9)).as("smm"))
      val base = d.agg(count(lit(1)).as("n_days"),
        round(avg(col("x").cast("double")), 6).as("est"))
      val lo = rk.filter(col("rn") === 2).select(col("m").as("lo95"))
      val hi = rk.filter(col("rn") === col("nr") - 1).select(col("m").as("hi95"))
      val smD = col("sm").cast("double")
      st.crossJoin(broadcast(base)).crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .select(col("n_days").cast("long").as("n_days"), col("est"),
          col("nrep").cast("long").as("n_replicas"),
          round(smD / col("nrep"), 6).as("boot_mean"),
          round(sqrt((col("smm").cast("double") - smD * smD / col("nrep"))
            / (col("nrep") - 1)), 6).as("boot_se"),
          col("lo95"), col("hi95"))
    }
  )
}
