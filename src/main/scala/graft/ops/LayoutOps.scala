package graft.ops

import org.apache.spark.sql.functions._
import graft.Q
import graft.schema.Tables.t

/** Data-layout optimization audit — Z-order (Morton) clustering, the
  * lakehouse technique that makes MULTI-dimensional file skipping work
  * at 100 TB. A table range-partitioned on interleaved-bit z-values
  * gives every output file a tight min/max envelope on BOTH dimensions,
  * so a predicate on either column prunes most files at the parquet
  * footer — where a single-column sort prunes only its own column and a
  * hash layout prunes nothing. The reference has no layout notion (it
  * appends batches in arrival order, `/root/reference/internal/
  * collector/collector.go:119-155`); this extends the scale surface per
  * the north star.
  *
  * q327 measures the envelope tightness the layout would hand the
  * scan pruner: assign each orders row its 32-bit z-value over
  * (o_custkey, o_orderdate), cut the z-range into 64 equal-width
  * buckets (the stand-in for range-partitioned files — equal-WIDTH so
  * no global sort is needed anywhere), and report each bucket's row
  * count and per-dimension min/max envelope. ZorderSpec quantifies the
  * payoff: summed normalized envelope area ~30× tighter than a hash
  * layout, and point queries on EITHER dimension touch a fraction of
  * the buckets where the off-dimension of a sorted layout touches all.
  *
  * Plan shape: one row-group-sized aggregate for the dimension bounds
  * (broadcast back as a 1-row cross join), a pure-arithmetic z
  * projection (the 16-term interleave is static codegen'd bit math,
  * q43's simhash discipline), and one hash aggregate by bucket — no
  * window, no global sort, no join wider than the 1-row bounds frame.
  * At 100 TB the same two passes hold: bounds agg, then
  * `repartitionByRange(z)` + write with per-file footer stats.
  */
object LayoutOps {

  /** Lane width: 16 bits per dimension → 32-bit z-values. */
  private val LaneBits = 16

  /** Normalize a column into [0, 2^16) by integer scaling against the
    * inclusive bounds — pure BIGINT arithmetic, identical in DuckDB. */
  private def laneSql(x: String, lo: String, hi: String): String =
    s"(($x - $lo) * 65536) // ($hi - $lo + 1)"
  private[ops] def laneSpark(x: String, lo: String, hi: String): String =
    s"(($x - $lo) * 65536) div ($hi - $lo + 1)"

  /** The 16-term Morton interleave of two 16-bit lanes (x even bits,
    * y odd bits) — shared text for both engines, static bit math. */
  private[ops] def zExpr(x: String, y: String): String =
    (0 until LaneBits).map { b =>
      s"((($x >> $b) & 1) << ${2 * b}) + ((($y >> $b) & 1) << ${2 * b + 1})"
    }.mkString("(", "\n    + ", ")")

  /** One step of the Hilbert xy→d walk (the standard iterative form:
    * quadrant digit, then reflect-and-swap rotation of the frame), as
    * three column expressions over the previous step's (x, y, d) at
    * half-side `s` — the SAME text drives both engines, with the XOR
    * spelled per dialect (`xor(a,b)` in DuckDB, `a ^ b` in Spark). The
    * sequential 16-step recurrence unrolls into 16 chained projections
    * (the q204/q252 constant-depth discipline): each step reads only
    * the one before, so the plan stays a linear pipeline of codegen'd
    * CASEs — no loop state, no UDF. */
  private[ops] def hilbertStep(s: Int, x: String, y: String, d: String,
                               xor: (String, String) => String)
      : (String, String, String) = {
    val rx = s"(CASE WHEN ($x & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN ($y & $s) > 0 THEN 1 ELSE 0 END)"
    val dNew = s"($d + CAST($s AS BIGINT) * $s * ${xor(s"(3 * $rx)", ry)})"
    // ry = 0 ⇒ rotate: reflect by s−1 when rx = 1, then swap x/y
    val xNew = s"""(CASE WHEN $ry = 0 THEN
                  |  (CASE WHEN $rx = 1 THEN $s - 1 - $y ELSE $y END)
                  |ELSE $x END)""".stripMargin
    val yNew = s"""(CASE WHEN $ry = 0 THEN
                  |  (CASE WHEN $rx = 1 THEN $s - 1 - $x ELSE $x END)
                  |ELSE $y END)""".stripMargin
    (xNew, yNew, dNew)
  }

  private[ops] val HilbertSides: Seq[Int] =
    (0 until LaneBits).reverse.map(1 << _) // 32768 … 1

  val qs: Seq[Q] = Seq(

    // ---- q327: z-order layout envelope audit ----
    Q("q327_zorder_layout", {
      s"""WITH bounds AS (SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
         |    min(CAST(o_orderdate AS DATE)) AS od_lo,
         |    max(CAST(o_orderdate AS DATE)) AS od_hi
         |  FROM orders),
         |lanes AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS od,
         |    ${laneSql("o_custkey", "ck_lo", "ck_hi")} AS xi,
         |    ${laneSql("date_diff('day', od_lo, CAST(o_orderdate AS DATE))", "0",
                        "date_diff('day', od_lo, od_hi)")} AS yi
         |  FROM orders, bounds),
         |z AS (SELECT ck, od,
         |    ${zExpr("xi", "yi")} >> 26 AS bucket
         |  FROM lanes)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(ck) AS min_ck, max(ck) AS max_ck,
         |  CAST(min(od) AS TIMESTAMP) AS min_od,
         |  CAST(max(od) AS TIMESTAMP) AS max_od
         |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_custkey").as("ck"), to_date(col("o_orderdate")).as("od"))
      val bounds = o.agg(min(col("ck")).as("ck_lo"), max(col("ck")).as("ck_hi"),
        min(col("od")).as("od_lo"), max(col("od")).as("od_hi"))
      o.crossJoin(broadcast(bounds))
        .withColumn("xi", expr(laneSpark("ck", "ck_lo", "ck_hi")))
        .withColumn("yi", expr(laneSpark("CAST(datediff(od, od_lo) AS BIGINT)", "0",
          "CAST(datediff(od_hi, od_lo) AS BIGINT)")))
        .withColumn("bucket", expr(s"${zExpr("xi", "yi")} >> 26"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
          min(col("od")).cast("timestamp").as("min_od"),
          max(col("od")).cast("timestamp").as("max_od"))
        .orderBy(col("bucket"))
    },

    // ---- q329: Hilbert-curve layout envelope audit ----
    // The continuity upgrade over q327's Morton curve: Hilbert never
    // jumps across the domain between consecutive indices, so range
    // buckets get tighter worst-case envelopes (Morton's seam crossings
    // put domain-diagonal jumps inside a bucket). Same audit shape and
    // bucket count as q327 — the two outputs compare envelope-for-
    // envelope, and ZorderSpec measures the delta. The xy→d walk is the
    // textbook reflect-and-swap recurrence unrolled into 16 chained
    // projections (see [[hilbertStep]]); everything else — bounds agg,
    // equal-width d cut, per-bucket aggregate — is q327's plan.
    Q("q329_hilbert_layout", {
      val steps = HilbertSides.zipWithIndex.map { case (s, i) =>
        val (xN, yN, dN) = hilbertStep(s, "x", "y", "d",
          (a, b) => s"xor($a, $b)")
        s"""st${i + 1} AS (SELECT ck, od,
           |    $xN AS x,
           |    $yN AS y,
           |    $dN AS d
           |  FROM st$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH bounds AS (SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
         |    min(CAST(o_orderdate AS DATE)) AS od_lo,
         |    max(CAST(o_orderdate AS DATE)) AS od_hi
         |  FROM orders),
         |st0 AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS od,
         |    ${laneSql("o_custkey", "ck_lo", "ck_hi")} AS x,
         |    ${laneSql("date_diff('day', od_lo, CAST(o_orderdate AS DATE))", "0",
                        "date_diff('day', od_lo, od_hi)")} AS y,
         |    CAST(0 AS BIGINT) AS d
         |  FROM orders, bounds),
         |$steps
         |SELECT d >> 26 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(ck) AS min_ck, max(ck) AS max_ck,
         |  CAST(min(od) AS TIMESTAMP) AS min_od,
         |  CAST(max(od) AS TIMESTAMP) AS max_od
         |FROM st${HilbertSides.length} GROUP BY 1 ORDER BY bucket""".stripMargin
    }) { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_custkey").as("ck"), to_date(col("o_orderdate")).as("od"))
      val bounds = o.agg(min(col("ck")).as("ck_lo"), max(col("ck")).as("ck_hi"),
        min(col("od")).as("od_lo"), max(col("od")).as("od_hi"))
      var acc = o.crossJoin(broadcast(bounds))
        .select(col("ck"), col("od"),
          expr(laneSpark("ck", "ck_lo", "ck_hi")).as("x"),
          expr(laneSpark("CAST(datediff(od, od_lo) AS BIGINT)", "0",
            "CAST(datediff(od_hi, od_lo) AS BIGINT)")).as("y"),
          lit(0L).as("d"))
      HilbertSides.foreach { side =>
        val (xN, yN, dN) = hilbertStep(side, "x", "y", "d",
          (a, b) => s"($a ^ $b)")
        // one select per step: x/y/d advance SIMULTANEOUSLY (each new
        // value reads the previous step's trio — sequential withColumn
        // would feed step i's x into step i's own y)
        acc = acc.select(col("ck"), col("od"),
          expr(xN).as("x"), expr(yN).as("y"), expr(dN).as("d"))
      }
      acc.groupBy(expr("d >> 26").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
          min(col("od")).cast("timestamp").as("min_od"),
          max(col("od")).cast("timestamp").as("max_od"))
        .orderBy(col("bucket"))
    }
  )
}
