package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.schema.Tables.t

/** Round-9 hypothesis-test / interval / decay aggregate parity — the
  * remaining ClickHouse destination-engine statistics a reference user
  * could run on landed tables: studentTTest/welchTTest (q194),
  * mannWhitneyUTest (q195), intervalLengthSum + maxIntersections(Position)
  * (q196), exponentialTimeDecayedAvg (q197). Cf. the reference's
  * ClickHouse DDL surface (/root/reference/internal/collector/
  * collector.go) — the engine its tables land in exposes all of these.
  *
  * Determinism discipline: every test statistic is a ratio of sums.
  * Where the inputs are DECIMAL (q194) or integers (q195, q196), the
  * sums are exact and the double arithmetic downstream is bit-identical
  * across engines — the oracle states the SAME formula over the SAME
  * exact sums, so round() only absorbs the final half-ulp. q197's sums
  * are genuinely floating (weights are transcendental), so both engines
  * round the scale-free ratio.
  */
object Stats2 {

  def qs: Seq[Q] = Seq(

    // ---- two-sample t-tests (studentTTest / welchTTest parity) ----
    // Each market segment vs the REST of the customers, on account
    // balance. One hash aggregate produces per-segment (n, Σx, Σx²) as
    // EXACT decimals (acctbal is DECIMAL(12,2); Σx² is DECIMAL(35,4) —
    // no fp drift, perfectly mergeable partials); the complement group's
    // stats are derived by subtracting from the broadcast 1-row totals,
    // so the "rest" group costs no second scan. All variance/t/df math
    // then runs in doubles from those exact sums — the same IEEE ops the
    // oracle states, so the statistics agree to the last ulp and
    // round(6) is conservative.
    Q("q194_ttests",
      """WITH per AS (SELECT c_mktsegment AS seg, count(*) AS n,
        |    sum(c_acctbal) AS s, sum(c_acctbal * c_acctbal) AS q
        |  FROM customer GROUP BY 1),
        |tot AS (SELECT sum(n) AS nt, sum(s) AS st, sum(q) AS qt FROM per),
        |d AS (SELECT seg,
        |    CAST(n AS DOUBLE) AS na, CAST(nt - n AS DOUBLE) AS nb,
        |    CAST(s AS DOUBLE) AS sa, CAST(st - s AS DOUBLE) AS sb,
        |    CAST(q AS DOUBLE) AS qa, CAST(qt - q AS DOUBLE) AS qb
        |  FROM per, tot),
        |e AS (SELECT seg, na, nb, sa / na AS ma, sb / nb AS mb,
        |    (qa - sa * sa / na) / (na - 1) AS va,
        |    (qb - sb * sb / nb) / (nb - 1) AS vb
        |  FROM d)
        |SELECT seg, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
        |  round((ma - mb) / sqrt((((na - 1) * va + (nb - 1) * vb)
        |      / (na + nb - 2)) * (1 / na + 1 / nb)), 6) AS t_student,
        |  CAST(na + nb - 2 AS BIGINT) AS df_student,
        |  round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_welch,
        |  round(pow(va / na + vb / nb, 2)
        |    / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)), 4)
        |    AS df_welch
        |FROM e ORDER BY seg""".stripMargin) { (s, dir) =>
      val per = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"), sum(col("c_acctbal")).as("s"),
          sum(col("c_acctbal") * col("c_acctbal")).as("q"))
      val tot = per.agg(sum(col("n")).as("nt"), sum(col("s")).as("st"),
        sum(col("q")).as("qt"))
      val d = per.crossJoin(broadcast(tot))
        .select(col("seg"),
          col("n").cast("double").as("na"),
          (col("nt") - col("n")).cast("double").as("nb"),
          col("s").cast("double").as("sa"),
          (col("st") - col("s")).cast("double").as("sb"),
          col("q").cast("double").as("qa"),
          (col("qt") - col("q")).cast("double").as("qb"))
      val e = d.select(col("seg"), col("na"), col("nb"),
        (col("sa") / col("na")).as("ma"), (col("sb") / col("nb")).as("mb"),
        ((col("qa") - col("sa") * col("sa") / col("na")) / (col("na") - 1)).as("va"),
        ((col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1)).as("vb"))
      val seA = col("va") / col("na")
      val seB = col("vb") / col("nb")
      e.select(col("seg"),
          col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          round(col("ma"), 4).as("mean_a"), round(col("mb"), 4).as("mean_b"),
          round((col("ma") - col("mb")) /
            sqrt((((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb"))
              / (col("na") + col("nb") - 2))
              * (lit(1) / col("na") + lit(1) / col("nb"))), 6).as("t_student"),
          (col("na") + col("nb") - 2).cast("long").as("df_student"),
          round((col("ma") - col("mb")) / sqrt(seA + seB), 6).as("t_welch"),
          round(pow(seA + seB, 2)
            / (pow(seA, 2) / (col("na") - 1) + pow(seB, 2) / (col("nb") - 1)), 4)
            .as("df_welch"))
        .orderBy(col("seg"))
    },

    // ---- Mann–Whitney U (mannWhitneyUTest parity) ----
    // Each event_type vs the REST, on the event value. The rank machinery
    // is EXACT INTEGER end to end: per-distinct-value counts, a stitched
    // global running sum over the distinct-value frame (Skew.
    // globalRunningSum — parallelism scales with distinct-value count, no
    // single-partition window even when the value domain grows with the
    // corpus), and twice-the-average-rank 2·cumBefore + cnt + 1 per
    // value, so tied observations share the textbook midrank without ever
    // touching fractions. The per-group rank sum is then one join on the
    // value key + one hash aggregate. Only the final z-score (normal
    // approximation WITH the tie correction) runs in doubles — from
    // integer inputs, identically stated in the oracle.
    Q("q195_mann_whitney",
      """WITH g AS (SELECT value AS v, count(*) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (SELECT v, cnt,
        |    sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
        |      AS cum_before
        |  FROM g),
        |gs AS (SELECT event_type AS grp, value AS v, count(*) AS cseg
        |  FROM events GROUP BY 1, 2),
        |rs AS (SELECT grp,
        |    sum(cseg) AS n_a,
        |    sum(cseg * (2 * cum_before + cnt + 1)) AS ranksum2
        |  FROM gs JOIN r USING (v) GROUP BY grp),
        |tt AS (SELECT sum(cnt * cnt * cnt - cnt) AS ties, sum(cnt) AS nt
        |  FROM g),
        |z AS (SELECT grp, n_a, ranksum2,
        |    CAST(n_a AS DOUBLE) AS na, CAST(nt - n_a AS DOUBLE) AS nb,
        |    CAST(nt AS DOUBLE) AS n, CAST(ties AS DOUBLE) AS tc
        |  FROM rs, tt)
        |SELECT grp, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(ranksum2 - n_a * (n_a + 1) AS DOUBLE) / 2 AS u,
        |  round((CAST(ranksum2 - n_a * (n_a + 1) AS DOUBLE) / 2 - na * nb / 2)
        |    / sqrt(na * nb / 12 * ((n + 1) - tc / (n * (n - 1)))), 6) AS z
        |FROM z ORDER BY grp""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val g = ev.groupBy(col("value").as("v")).agg(count(lit(1)).as("cnt"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val r = Skew.globalRunningSum(g, Seq(col("v")), col("cnt"), parts, "cum")
        .select(col("v"), col("cnt"), (col("cum") - col("cnt")).as("cum_before"))
      val gs = ev.groupBy(col("event_type").as("grp"), col("value").as("v"))
        .agg(count(lit(1)).as("cseg"))
      val rs = gs.join(r, Seq("v"))
        .groupBy(col("grp"))
        .agg(sum(col("cseg")).as("n_a"),
          sum(col("cseg") * (lit(2) * col("cum_before") + col("cnt") + 1))
            .as("ranksum2"))
      val tt = g.agg(
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"),
        sum(col("cnt")).as("nt"))
      val u2 = col("ranksum2") - col("n_a") * (col("n_a") + 1)
      rs.crossJoin(broadcast(tt))
        .select(col("grp"), col("n_a"), col("ranksum2"),
          col("n_a").cast("double").as("na"),
          (col("nt") - col("n_a")).cast("double").as("nb"),
          col("nt").cast("double").as("n"),
          col("ties").cast("double").as("tc"))
        .select(col("grp"), col("n_a").cast("long").as("n_a"),
          (u2.cast("double") / 2).as("u"),
          round((u2.cast("double") / 2 - col("na") * col("nb") / 2)
            / sqrt(col("na") * col("nb") / 12
              * ((col("n") + 1) - col("tc") / (col("n") * (col("n") - 1)))), 6)
            .as("z"))
        .orderBy(col("grp"))
    },

    // ---- interval union length + max overlap (intervalLengthSum /
    //      maxIntersections / maxIntersectionsPosition parity) ----
    // Each event opens a half-open 5-minute activity interval
    // [ts, ts+300s). Per user: total COVERED time (overlaps counted
    // once — the sweep is a running max of interval ends over the
    // preceding rows, each row contributing max(0, end − max(start,
    // prev_max_end)) microseconds), the maximum number of simultaneously
    // open intervals (±1 boundary events, running sum; at a shared
    // timestamp the −1 sorts first, so touching intervals do NOT
    // intersect — the half-open convention, stated identically in the
    // oracle), and the earliest instant that maximum is reached. All
    // windows key on user_id (cardinality grows with the corpus — the
    // q169/q178 rule), all arithmetic is exact integer microseconds.
    Q("q196_interval_analytics",
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + 300000000 AS en
        |  FROM events),
        |cov AS (SELECT user_id,
        |    greatest(en - greatest(st, coalesce(max(en) OVER (
        |      PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), st)),
        |      0) AS contrib
        |  FROM iv),
        |un AS (SELECT user_id, sum(contrib) AS covered_us FROM cov GROUP BY 1),
        |b AS (SELECT user_id, st AS tp, 1 AS d, event_id FROM iv
        |  UNION ALL SELECT user_id, en, -1, event_id FROM iv),
        |dep AS (SELECT user_id, tp,
        |    sum(d) OVER (PARTITION BY user_id ORDER BY tp, d, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |  FROM b),
        |mx AS (SELECT user_id, max(depth) AS max_depth FROM dep GROUP BY 1),
        |pk AS (SELECT dep.user_id, min(tp) AS peak_us
        |  FROM dep JOIN mx ON dep.user_id = mx.user_id
        |    AND dep.depth = mx.max_depth
        |  GROUP BY 1)
        |SELECT user_id, CAST(covered_us AS BIGINT) AS covered_us,
        |  CAST(max_depth AS BIGINT) AS max_depth,
        |  CAST(peak_us AS BIGINT) AS peak_us
        |FROM un JOIN mx USING (user_id) JOIN pk USING (user_id)
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val iv = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("st"),
          (unix_micros(col("ts").cast("timestamp")) + lit(300000000L)).as("en"))
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val un = iv
        .select(col("user_id"),
          greatest(col("en") - greatest(col("st"),
            coalesce(max(col("en")).over(wPrev), col("st"))), lit(0L))
            .as("contrib"))
        .groupBy(col("user_id")).agg(sum(col("contrib")).as("covered_us"))
      val b = iv.select(col("user_id"), col("st").as("tp"), lit(1).as("d"),
          col("event_id"))
        .unionAll(iv.select(col("user_id"), col("en").as("tp"),
          lit(-1).as("d"), col("event_id")))
      val wDep = Window.partitionBy(col("user_id"))
        .orderBy(col("tp"), col("d"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dep = b.select(col("user_id"), col("tp"),
        sum(col("d")).over(wDep).as("depth"))
      // max depth + earliest peak instant in ONE aggregate: lexicographic
      // max over (depth, −tp) picks the max depth, then the min tp in it
      val mx = dep.groupBy(col("user_id"))
        .agg(max(struct(col("depth"), (-col("tp")).as("ntp"))).as("m"))
        .select(col("user_id"), col("m.depth").as("max_depth"),
          (-col("m.ntp")).as("peak_us"))
      un.join(mx, Seq("user_id"))
        .select(col("user_id"), col("covered_us").cast("long").as("covered_us"),
          col("max_depth").cast("long").as("max_depth"),
          col("peak_us").cast("long").as("peak_us"))
        .orderBy(col("user_id"))
    },

    // ---- exponentially time-decayed average (exponentialTimeDecayedAvg
    //      parity, half-life form) ----
    // Per user, the decayed mean of `value` at the user's LAST event,
    // half-life 1 hour: Σ vⱼ·2^(−Δⱼ/h) / Σ 2^(−Δⱼ/h), Δⱼ = T − tⱼ.
    // Anchoring the decay at the per-user max timestamp (one unordered
    // per-user window max, then plain commutative sums) keeps every
    // weight in (0, 1] — no overflow at ANY history length, unlike the
    // classic running-product rewrite 2^(t/h) which explodes past ~1000
    // half-lives — and needs no ordered iteration at all: the whole
    // aggregate is two map-side-combinable sums. Weights are
    // transcendental, so the sums are genuinely floating; the ratio is
    // scale-free and round(6) absorbs summation-order ulps.
    Q("q197_time_decayed_avg",
      """WITH w AS (SELECT user_id, value, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id) AS mx
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value * pow(2.0, -((mx - us) / 3600000000.0)))
        |    / sum(pow(2.0, -((mx - us) / 3600000000.0))), 6) AS decayed_avg
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val wUser = Window.partitionBy(col("user_id"))
      val w = t(s, dir, "events")
        .select(col("user_id"), col("value"), unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("mx", max(col("us")).over(wUser))
      val decay = pow(lit(2.0),
        -((col("mx") - col("us")) / lit(3600000000.0)))
      w.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          round(sum(col("value") * decay) / sum(decay), 6).as("decayed_avg"))
        .orderBy(col("user_id"))
    },

    // ---- the rest of the time-decayed family (exponentialTimeDecayedSum/
    //      Count/Max parity) ----
    // q197's max-anchored weights carry the whole family: decayed SUM is
    // the raw Σ v·w, decayed COUNT the Σ w (each event contributes its
    // decayed unit mass), decayed MAX the max of per-event decayed values
    // — all three commutative/associative over the same (0, 1]-bounded
    // weights, so the aggregate stays two map-side-combinable sums plus a
    // max at any history length. Half-life 1 h, anchored at the per-user
    // last event like q197 (one unordered per-user window max).
    Q("q288_time_decayed_family",
      """WITH w AS (SELECT user_id, value, epoch_us(ts) AS us,
        |    max(epoch_us(ts)) OVER (PARTITION BY user_id) AS mx
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value * pow(2.0, -((mx - us) / 3600000000.0))), 6)
        |    AS decayed_sum,
        |  round(sum(pow(2.0, -((mx - us) / 3600000000.0))), 6)
        |    AS decayed_count,
        |  round(max(value * pow(2.0, -((mx - us) / 3600000000.0))), 6)
        |    AS decayed_max
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val wUser = Window.partitionBy(col("user_id"))
      val w = t(s, dir, "events")
        .select(col("user_id"), col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("mx", max(col("us")).over(wUser))
      val decay = pow(lit(2.0),
        -((col("mx") - col("us")) / lit(3600000000.0)))
      w.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          round(sum(col("value") * decay), 6).as("decayed_sum"),
          round(sum(decay), 6).as("decayed_count"),
          round(max(col("value") * decay), 6).as("decayed_max"))
        .orderBy(col("user_id"))
    },

    // ---- time-series gap fill + linear interpolation (ORDER BY … WITH
    //      FILL INTERPOLATE / timeSeriesResample parity) ----
    // Each user's value series resampled onto a dense 1-hour grid between
    // the user's first and last observed hours: observed hours keep the
    // LAST observation in the hour (row_number over (us, event_id) desc —
    // fully deterministic tiebreak, stated identically in the oracle);
    // missing hours get the linear interpolation between the surrounding
    // observations via IGNORE NULLS fills in both directions. Grid
    // generation is sequence-explode per user (output grows with the
    // user's SPAN, not the corpus row count); every window keys on
    // user_id. Interpolation arithmetic: doubles from exact integer hour
    // distances + observed values, the SAME IEEE expression both engines
    // — bit-identical, so the output is deliberately UNROUNDED (grid
    // fractions like k/32 terminate in a half-way decimal digit, where
    // Spark's HALF_UP and DuckDB's rounding disagree; rounding would
    // ADD flakes here, not remove them).
    Q("q199_gapfill_interpolate",
      """WITH e AS (SELECT user_id, value,
        |    epoch_us(ts) // 3600000000 AS hr,
        |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events),
        |obs AS (SELECT user_id, hr, value AS v FROM e WHERE rn = 1),
        |span AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx
        |  FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hr
        |  FROM span),
        |f AS (SELECT g.user_id, g.hr, o.v,
        |    last_value(o.v IGNORE NULLS) OVER wb AS pv,
        |    last_value(CASE WHEN o.v IS NOT NULL THEN g.hr END IGNORE NULLS)
        |      OVER wb AS ph,
        |    first_value(o.v IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN o.v IS NOT NULL THEN g.hr END IGNORE NULLS)
        |      OVER wf AS nh
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hr = o.hr
        |  WINDOW wb AS (PARTITION BY g.user_id ORDER BY g.hr
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY g.user_id ORDER BY g.hr
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, CAST(hr AS BIGINT) AS hr,
        |  v IS NOT NULL AS observed,
        |  CASE WHEN v IS NOT NULL THEN v
        |    ELSE pv + (nv - pv) * (hr - ph) / (nh - ph) END AS filled
        |FROM f ORDER BY user_id, hr""".stripMargin) { (s, dir) =>
      val wRn = Window.partitionBy(col("user_id"), col("hr"))
        .orderBy(col("us").desc, col("event_id").desc)
      val obs = t(s, dir, "events")
        .select(col("user_id"), col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us"), col("event_id"))
        .withColumn("hr", (col("us") / lit(3600000000L)).cast("long"))
        .withColumn("rn", row_number().over(wRn))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("hr"), col("value").as("v"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("hr")).as("mn"), max(col("hr")).as("mx"))
        .select(col("user_id"), explode(sequence(col("mn"), col("mx"))).as("hr"))
      val wb = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy(col("user_id")).orderBy(col("hr"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsHr = when(col("v").isNotNull, col("hr"))
      grid.join(obs, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"), col("v"),
          last(col("v"), ignoreNulls = true).over(wb).as("pv"),
          last(obsHr, ignoreNulls = true).over(wb).as("ph"),
          first(col("v"), ignoreNulls = true).over(wf).as("nv"),
          first(obsHr, ignoreNulls = true).over(wf).as("nh"))
        .select(col("user_id"), col("hr").cast("long").as("hr"),
          col("v").isNotNull.as("observed"),
          when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * (col("hr") - col("ph")) / (col("nh") - col("ph")))
            .as("filled"))
        .orderBy(col("user_id"), col("hr"))
    },

    // ---- categorical association (cramersV / theilsU / contingency
    //      parity) ----
    // Association between event_type and a 10-way user cohort: the full
    // contingency machinery from ONE cell aggregate (groupBy(x, y)) —
    // marginals are re-aggregations of the CELLS (r×c rows, never a
    // second corpus scan) and every statistic is a fold over cells.
    // χ²/φc (Cramér's V with and without the Bartlett bias correction)
    // and the uncertainty coefficient U(X|Y) = (H(X) − H(X|Y))/H(X).
    // Counts are exact integers; the entropy/chi folds are doubles over
    // ≤ r·c cells with identical formulas in the oracle, round(6).
    Q("q200_contingency",
      """WITH cells AS (SELECT event_type AS x, user_id % 10 AS y,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT x, sum(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT y, sum(o) AS c FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS n, count(*) AS k FROM cells),
        |dims AS (SELECT (SELECT count(*) FROM rt) AS nr,
        |               (SELECT count(*) FROM ct) AS nc),
        |chi AS (SELECT sum(pow(CAST(o AS DOUBLE)
        |      - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE), 2)
        |      / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))
        |      AS chi2
        |  FROM cells JOIN rt USING (x) JOIN ct USING (y), n),
        |hx AS (SELECT -sum(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
        |      * ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))) AS hx
        |  FROM rt, n),
        |hxy AS (SELECT -sum(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
        |      * ln(CAST(o AS DOUBLE) / CAST(c AS DOUBLE))) AS hxy
        |  FROM cells JOIN ct USING (y), n)
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(nr AS BIGINT) AS r_levels, CAST(nc AS BIGINT) AS c_levels,
        |  round(chi2, 4) AS chi2,
        |  round(sqrt(chi2 / n / least(nr - 1, nc - 1)), 6) AS cramers_v,
        |  round((hx - hxy) / hx, 6) AS theils_u
        |FROM chi, hx, hxy, n, dims""".stripMargin) { (s, dir) =>
      val cells = t(s, dir, "events")
        .groupBy(col("event_type").as("x"), (col("user_id") % 10).as("y"))
        .agg(count(lit(1)).as("o"))
      val rt = cells.groupBy(col("x")).agg(sum(col("o")).as("r"))
      val ct = cells.groupBy(col("y")).agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"), count(lit(1)).as("k"))
      val dims = rt.agg(count(lit(1)).as("nr"))
        .crossJoin(ct.agg(count(lit(1)).as("nc")))
      val oD = col("o").cast("double"); val rD = col("r").cast("double")
      val cD = col("c").cast("double"); val nD = col("n").cast("double")
      val e = rD * cD / nD
      val chi = cells.join(broadcast(rt), Seq("x")).join(broadcast(ct), Seq("y"))
        .crossJoin(broadcast(n))
        .agg(sum(pow(oD - e, 2) / e).as("chi2"))
      val hx = rt.crossJoin(broadcast(n))
        .agg((-sum(rD / nD * log(rD / nD))).as("hx"))
      val hxy = cells.join(broadcast(ct), Seq("y")).crossJoin(broadcast(n))
        .agg((-sum(oD / nD * log(oD / cD))).as("hxy"))
      chi.crossJoin(broadcast(hx)).crossJoin(broadcast(hxy))
        .crossJoin(broadcast(n)).crossJoin(broadcast(dims))
        .select(col("n").cast("long").as("n"),
          col("nr").cast("long").as("r_levels"),
          col("nc").cast("long").as("c_levels"),
          round(col("chi2"), 4).as("chi2"),
          round(sqrt(col("chi2") / col("n").cast("double")
            / least(col("nr") - 1, col("nc") - 1).cast("double")), 6)
            .as("cramers_v"),
          round((col("hx") - col("hxy")) / col("hx"), 6).as("theils_u"))
    },

    // ---- Spearman rank correlation (rankCorr parity) ----
    // ρ between value and event time WITHIN each event_type: Pearson over
    // tie-midranks. The midranks reuse q195's exact-integer machinery
    // (2·cumBefore + cnt + 1), but through the GROUPED stitch
    // (`Skew.groupedRunningSum`): event_type is a low-cardinality key, so
    // a bare per-type window would funnel each type's whole distinct-value
    // frame through one task (the q90/q91 rule) — the stitch keeps
    // parallelism proportional to data. Both rank maps join back to the
    // event rows by (type, value)/(type, us); the five per-type moment
    // sums are exact DECIMAL(38,0) (doubled ranks ≤ 2n+1, so Σxy ≤
    // n(2n+1)² needs >64 bits at ~10⁹ rows — the casts are the overflow
    // discipline, HUGEINT in the oracle); ρ is one double formula from
    // exact sums, identical both engines, round(6).
    Q("q203_rank_corr",
      """WITH gx AS (SELECT event_type AS g, value AS v, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |rx AS (SELECT g, v,
        |    2 * (sum(cnt) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |      + cnt + 1 AS r2x
        |  FROM gx),
        |gy AS (SELECT event_type AS g, epoch_us(ts) AS u, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ry AS (SELECT g, u,
        |    2 * (sum(cnt) OVER (PARTITION BY g ORDER BY u
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt)
        |      + cnt + 1 AS r2y
        |  FROM gy),
        |j AS (SELECT e.event_type AS g,
        |    CAST(rx.r2x AS HUGEINT) AS x, CAST(ry.r2y AS HUGEINT) AS y
        |  FROM events e
        |  JOIN rx ON rx.g = e.event_type AND rx.v = e.value
        |  JOIN ry ON ry.g = e.event_type AND ry.u = epoch_us(e.ts)),
        |m AS (SELECT g, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        |  FROM j GROUP BY g)
        |SELECT g, CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
        |FROM m ORDER BY g""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type").as("g"), col("value").as("v"),
          unix_micros(col("ts").cast("timestamp")).as("u"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      // The two rank maps are cached although this plan reads each once:
      // cold at sf0.1 on 4 cores, the plan with both stitches inlined
      // cost +1.0 s wall and +3.6 cpu-s with the same task count, so the
      // gap is not extra data work.
      def midranks(keyCol: String, out: String): org.apache.spark.sql.DataFrame =
        CacheRegistry.cache(s, s"q203-rank-$keyCol:$dir") {
          val grp = ev.groupBy(col("g"), col(keyCol)).agg(count(lit(1)).as("cnt"))
          Skew.groupedRunningSum(grp, Seq("g"), Seq(col(keyCol)), col("cnt"),
              parts, "cum")
            .select(col("g"), col(keyCol),
              (lit(2) * (col("cum") - col("cnt")) + col("cnt") + 1).as(out))
        }
      val rx = midranks("v", "r2x")
      val ry = midranks("u", "r2y")
      val dec = "decimal(38,0)"
      val j = ev.join(rx, Seq("g", "v")).join(ry, Seq("g", "u"))
        .select(col("g"), col("r2x").cast(dec).as("x"), col("r2y").cast(dec).as("y"))
      val m = j.groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
      m.select(col("g"), col("n").cast("long").as("n"),
          round((nD * col("sxy").cast("double") - sxD * syD)
            / sqrt((nD * col("sxx").cast("double") - sxD * sxD)
              * (nD * col("syy").cast("double") - syD * syD)), 6).as("rho"))
        .orderBy(col("g"))
    },

    // ---- two-sample Kolmogorov–Smirnov test (kolmogorovSmirnovTest
    //      parity) ----
    // D = sup|F₁ − F₂| between the 'click' and 'purchase' value
    // distributions, EXACT: at every distinct value, the ECDF gap
    // cross-multiplies to integers (|cumA·nB − cumB·nA| — no division
    // until the end), so the supremum is an integer max, immune to fp.
    // Cumulative counts ride ONE stitched global running sum over the
    // distinct-value frame carrying (total, A) counts — cumB = cumTot −
    // cumA, so the second distribution costs no second pass. The
    // KS statistic and the asymptotic p-value (two-term-truncated
    // Kolmogorov series — stated with the same fixed truncation in the
    // oracle, so both engines compute the identical expression) are one
    // double formula from exact integers, round(6).
    Q("q205_ks_test",
      """WITH e AS (SELECT value AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isa
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |g AS (SELECT v, count(*) AS cnt, sum(isa) AS ca
        |  FROM e GROUP BY 1),
        |r AS (SELECT v, cnt, ca,
        |    sum(cnt) OVER wo AS cumt, sum(ca) OVER wo AS cuma
        |  FROM g
        |  WINDOW wo AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |n AS (SELECT sum(ca) AS na, sum(cnt - ca) AS nb FROM g),
        |d AS (SELECT max(abs(cuma * nb - (cumt - cuma) * na)) AS dnum
        |  FROM r, n)
        |SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |  CAST(dnum AS BIGINT) AS d_num,
        |  round(CAST(dnum AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
        |    AS d,
        |  round(2 * (exp(-2 * pow(CAST(dnum AS DOUBLE)
        |        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |        * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))), 2))
        |      - exp(-8 * pow(CAST(dnum AS DOUBLE)
        |        / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
        |        * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
        |               / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))), 2))), 6)
        |    AS p_approx
        |FROM d, n""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("value").as("v"),
          when(col("event_type") === "click", lit(1L)).otherwise(lit(0L)).as("isa"))
      val g = e.groupBy(col("v"))
        .agg(count(lit(1)).as("cnt"), sum(col("isa")).as("ca"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      // BOTH prefixes (total, A) ride ONE stitch — one boundary sample,
      // one (bucket) exchange; cumB then costs nothing (cumt − cuma)
      val cums = Skew.globalRunningSums(g, Seq(col("v")),
        Seq(col("cnt") -> "cumt", col("ca") -> "cuma"), parts)
      val n = g.agg(sum(col("ca")).as("na"), sum(col("cnt") - col("ca")).as("nb"))
      val r = cums.crossJoin(broadcast(n))
      val d = r.agg(max(abs(col("cuma") * col("nb")
        - (col("cumt") - col("cuma")) * col("na"))).as("dnum"))
      val naD = col("na").cast("double"); val nbD = col("nb").cast("double")
      val dD = col("dnum").cast("double") / (naD * nbD)
      val lam = dD * sqrt(naD * nbD / (naD + nbD))
      d.crossJoin(broadcast(n))
        .select(col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
          col("dnum").cast("long").as("d_num"),
          round(dD, 6).as("d"),
          round(lit(2) * (exp(lit(-2) * pow(lam, 2))
            - exp(lit(-8) * pow(lam, 2))), 6).as("p_approx"))
    },

    // ---- fixed-grid timing quantiles (quantileTiming parity) ----
    // ClickHouse's quantileTiming answers latency quantiles from a FIXED
    // bucket grid (exact ms below 1024, a 16 ms grid to 30 s, clamp at
    // 30 000), which makes the state bounded (≤ ~2 837 buckets) and
    // perfectly mergeable at any corpus size — the histogram twin of
    // q166's sketch path, but with DETERMINISTIC values. Input: per-user
    // inter-event gaps in ms (lag over the per-user stream). The grid is
    // stated identically in the oracle; quantile = smallest bucket whose
    // cumulative count reaches ceil(q·n) — all exact integers. The
    // cumulatives ride the stitched prefix for engine consistency even
    // though the grid is bounded. Latency source: a synthetic per-event
    // request latency (value×10 ms, spanning both the exact-ms and the
    // 16 ms-grid regions of the grid).
    Q("q213_quantile_timing",
      """WITH gaps AS (SELECT CAST(floor(value * 10) AS BIGINT) AS ms FROM events),
        |b AS (SELECT CASE WHEN ms < 1024 THEN ms
        |    WHEN ms <= 30000 THEN (ms // 16) * 16
        |    ELSE 30000 END AS bucket
        |  FROM gaps WHERE ms IS NOT NULL),
        |g AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY 1),
        |r AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g),
        |n AS (SELECT sum(cnt) AS n FROM g),
        |qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
        |SELECT q, CAST(min(bucket) AS BIGINT) AS timing_ms,
        |  CAST(n AS BIGINT) AS n
        |FROM qs, r, n
        |WHERE cum >= CAST(ceil(q * n) AS BIGINT)
        |GROUP BY q, n
        |ORDER BY q""".stripMargin) { (s, dir) =>
      val gaps = t(s, dir, "events")
        .select(floor(col("value") * 10).cast("long").as("ms"))
        .filter(col("ms").isNotNull)
      val bucket = when(col("ms") < 1024, col("ms"))
        .when(col("ms") <= 30000, (col("ms") / lit(16L)).cast("long") * 16)
        .otherwise(lit(30000L))
      val g = gaps.select(bucket.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val r = Skew.globalRunningSum(g, Seq(col("bucket")), col("cnt"), parts, "cum")
      val n = g.agg(sum(col("cnt")).as("n"))
      val qs = s.range(1).select(explode(array(lit(0.5), lit(0.9), lit(0.99)))
        .as("q"))
      qs.crossJoin(r).crossJoin(broadcast(n))
        .filter(col("cum") >= ceil(col("q") * col("n")).cast("long"))
        .groupBy(col("q"), col("n"))
        .agg(min(col("bucket")).cast("long").as("timing_ms"))
        .select(col("q"), col("timing_ms"), col("n").cast("long").as("n"))
        .orderBy(col("q"))
    },

    // ---- adaptive equal-width histogram (histogram(N) parity) ----
    // 10 equal-width bins per event_type over `value`, bounds derived
    // from the group's own min/max — ClickHouse's histogram() shape with
    // the deterministic twist (its adaptive variant is randomized; the
    // equal-width form is a pure function of the data, so it is STRICT).
    // Engine shape: scan 1 is a tiny per-type (min, max) aggregate that
    // broadcasts back onto scan 2's bucketing map — two narrow passes,
    // no window, no sort until the ≤ |types|·10-row report. Both engines
    // compute the bin from the IDENTICAL expression tree
    // floor((v - mn) * 10.0 / (mx - mn)) so the IEEE result (and thus
    // every boundary case) is bit-equal — no rounding needed on the bin.
    Q("q225_histogram",
      raw"""WITH ev AS (SELECT event_type, value FROM events
           |  WHERE value IS NOT NULL AND NOT isnan(value)),
           |mm AS (SELECT event_type, min(value) AS mn, max(value) AS mx
           |  FROM ev GROUP BY event_type),
           |b AS (SELECT ev.event_type, mn, mx,
           |    CASE WHEN mx = mn THEN 0
           |         ELSE least(CAST(floor((value - mn) * 10.0 / (mx - mn))
           |                         AS BIGINT), 9) END AS bin
           |  FROM ev JOIN mm USING (event_type))
           |SELECT event_type, bin, count(*) AS cnt,
           |  round(mn + bin * (mx - mn) / 10.0, 6) AS bin_lo,
           |  round(mn + (bin + 1) * (mx - mn) / 10.0, 6) AS bin_hi
           |FROM b GROUP BY event_type, bin, mn, mx
           |ORDER BY event_type, bin""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull && !isnan(col("value")))
        .select(col("event_type"), col("value"))
      val mm = ev.groupBy(col("event_type"))
        .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      val bin = when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(
          floor((col("value") - col("mn")) * lit(10.0) / (col("mx") - col("mn"))),
          lit(9L)))
      ev.join(broadcast(mm), Seq("event_type"))
        .select(col("event_type"), col("mn"), col("mx"), bin.as("bin"))
        .groupBy(col("event_type"), col("bin"), col("mn"), col("mx"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("event_type"), col("bin"), col("cnt"),
          round(col("mn") + col("bin") * (col("mx") - col("mn")) / lit(10.0), 6)
            .as("bin_lo"),
          round(col("mn") + (col("bin") + lit(1)) * (col("mx") - col("mn")) / lit(10.0), 6)
            .as("bin_hi"))
        .orderBy(col("event_type"), col("bin"))
    },

    // ---- boundingRatio parity ----
    // Per event_type: slope between the chronologically first and last
    // points, (v_last − v_first) / Δt_seconds. ClickHouse's boundingRatio
    // aggregate — here as two lexicographic struct extremes
    // (min/max of (unix_micros, event_id, value)), which is one narrow
    // map-side-combined aggregate: NO per-type window over the corpus
    // (event_type is low-cardinality, so a window here would be the
    // single-partition trap the stitch engine exists to avoid — but an
    // extremes aggregate doesn't need the stitch at all). Ties on ts are
    // broken by event_id inside the struct, so first/last are total.
    Q("q227_bounding_ratio",
      raw"""WITH x AS (SELECT event_type,
           |    min(struct_pack(u := epoch_us(ts), e := event_id, v := value)) AS f,
           |    max(struct_pack(u := epoch_us(ts), e := event_id, v := value)) AS l,
           |    count(*) AS n
           |  FROM events GROUP BY event_type)
           |SELECT event_type, n,
           |  CASE WHEN l.u = f.u THEN NULL
           |       ELSE round((l.v - f.v) * 1000000.0 / (l.u - f.u), 9)
           |  END AS bounding_ratio
           |FROM x ORDER BY event_type""".stripMargin) { (s, dir) =>
      val pt = struct(
        unix_micros(col("ts").cast("timestamp")).as("u"), col("event_id").as("e"),
        col("value").as("v"))
      t(s, dir, "events")
        .select(col("event_type"), pt.as("pt"))
        .groupBy(col("event_type"))
        .agg(min(col("pt")).as("f"), max(col("pt")).as("l"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n"),
          when(col("l.u") === col("f.u"), lit(null))
            .otherwise(round(
              (col("l.v") - col("f.v")) * lit(1000000.0) / (col("l.u") - col("f.u")),
              9))
            .as("bounding_ratio"))
        .orderBy(col("event_type"))
    },

    // ---- one-way ANOVA (analysisOfVariance parity) ----
    // F-test of `value` across event_type groups. Discipline: per-group
    // (n, Σx, Σx²) are EXACT decimal partials from one scan; the grand
    // totals re-aggregate the 5 group rows (decimal addition is
    // order-immune). The only cross-group DOUBLE sum — Σ_g S_g²/n_g —
    // is a lambda fold over the event_type-ordered group array
    // (Spark aggregate() == DuckDB list_reduce(), both left-to-right
    // with a 0-init that is an IEEE no-op on the positive terms), so
    // its association order is pinned and the F statistic is
    // bit-deterministic before the final round. O(|groups|) state,
    // one corpus scan, no window.
    Q("q231_anova",
      raw"""WITH g AS (SELECT event_type, count(*) AS n,
           |    sum(CAST(value AS DECIMAL(18,6))) AS s,
           |    sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS q
           |  FROM events GROUP BY event_type),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |    CAST(sum(n) AS BIGINT) AS nn,
           |    CAST(sum(s) AS DOUBLE) AS ts,
           |    CAST(sum(q) AS DOUBLE) AS tq FROM g),
           |tb AS (SELECT list_reduce(
           |    list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n ORDER BY event_type),
           |    (x, y) -> x + y) AS tb FROM g)
           |SELECT k, nn AS n,
           |  round(tb - ts * ts / nn, 6) AS ss_between,
           |  round(tq - tb, 6) AS ss_within,
           |  round(((tb - ts * ts / nn) / (k - 1))
           |        / ((tq - tb) / (nn - k)), 6) AS f_stat
           |FROM tot, tb""".stripMargin) { (s, dir) =>
      val vd = col("value").cast("decimal(18,6)")
      val g = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(vd).as("s"), sum(vd * vd).as("q"))
      g.agg(
          count(lit(1)).cast("long").as("k"),
          sum(col("n")).cast("long").as("nn"),
          sum(col("s")).cast("double").as("ts"),
          sum(col("q")).cast("double").as("tq"),
          sort_array(collect_list(struct(
            col("event_type"),
            (col("s").cast("double") * col("s").cast("double") / col("n"))
              .as("term")))).as("a"))
        .select(col("k"), col("nn").as("n"),
          expr("aggregate(transform(a, x -> x.term), 0D, (x, y) -> x + y)")
            .as("tb"),
          col("ts"), col("tq"), col("nn"))
        .select(col("k"), col("n"),
          round(col("tb") - col("ts") * col("ts") / col("nn"), 6)
            .as("ss_between"),
          round(col("tq") - col("tb"), 6).as("ss_within"),
          round(((col("tb") - col("ts") * col("ts") / col("nn")) / (col("k") - lit(1)))
            / ((col("tq") - col("tb")) / (col("nn") - col("k"))), 6)
            .as("f_stat"))
    },

    // ---- Tukey-fence outlier detection (seriesOutliersDetectTukey) ----
    // Per event_type: quartiles, 1.5·IQR fences, and the count of values
    // beyond each fence. The quartiles interpolate (type-7) so they are
    // rounded to 4 dp FIRST — `value` is 2-decimal data, quartile
    // fractions are quarters, so the true quartile has ≤ 4 decimals and
    // the round is flake-free (the q16 argument) — and the fences are
    // then derived from the ROUNDED quartiles with one identical
    // expression tree in both engines, making the outlier predicate
    // bit-deterministic even exactly ON a fence. Fences report at 6 dp
    // (their true value has ≤ 5 decimals: exact again). Two narrow
    // aggregates + a broadcast-back probe; no window over the corpus.
    Q("q232_tukey_outliers",
      raw"""WITH f AS (SELECT event_type,
           |    round(quantile_cont(value, 0.25), 4) AS q1,
           |    round(quantile_cont(value, 0.75), 4) AS q3
           |  FROM events GROUP BY event_type)
           |SELECT e.event_type, q1, q3,
           |  round(q1 - 1.5 * (q3 - q1), 6) AS fence_lo,
           |  round(q3 + 1.5 * (q3 - q1), 6) AS fence_hi,
           |  count(*) AS n,
           |  CAST(count(CASE WHEN value < q1 - 1.5 * (q3 - q1) THEN 1 END)
           |       AS BIGINT) AS n_below,
           |  CAST(count(CASE WHEN value > q3 + 1.5 * (q3 - q1) THEN 1 END)
           |       AS BIGINT) AS n_above
           |FROM events e JOIN f USING (event_type)
           |GROUP BY e.event_type, q1, q3
           |ORDER BY e.event_type""".stripMargin) { (s, dir) =>
      val f = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(percentile(col("value"), lit(0.25)), 4).as("q1"),
          round(percentile(col("value"), lit(0.75)), 4).as("q3"))
      val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
      val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
      t(s, dir, "events")
        .join(broadcast(f), Seq("event_type"))
        .groupBy(col("event_type"), col("q1"), col("q3"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("value") < lo, 1)).cast("long").as("n_below"),
          count(when(col("value") > hi, 1)).cast("long").as("n_above"))
        .select(col("event_type"), col("q1"), col("q3"),
          round(lo, 6).as("fence_lo"), round(hi, 6).as("fence_hi"),
          col("n"), col("n_below"), col("n_above"))
        .orderBy(col("event_type"))
    }
  )
}
