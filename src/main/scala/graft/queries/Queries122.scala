package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #42 — supply-chain classification + observational
  * causal inference:
  *
  *  - `abc_xyz_class`: the ABC×XYZ inventory matrix — parts classed A/B/C
  *    by cumulative revenue share (800/950 milli breaks over the
  *    rank-ordered per-part rollup, the `revenue_pareto` window-on-
  *    aggregate shape) and X/Y/Z by monthly demand variability
  *    (CV² = var/mean² in exact milli from integer moments; <250 X,
  *    <1000 Y, else Z). The 3×3 grid with part counts and revenue share
  *    is the standard stocking-policy table; every boundary is an
  *    integer comparison, so both engines cut identically.
  *  - `promo_did`: difference-in-differences for the PROMO part class —
  *    mean lineitem revenue (milli-cents) in the four (promo, period)
  *    cells with the period split at the global ship-date midpoint, and
  *    DiD = (promo_after − promo_before) − (ctrl_after − ctrl_before).
  *    `ab_cuped`'s observational cousin: no randomized arms, the
  *    control trend stands in for the counterfactual. One broadcast
  *    scalar row + one four-cell aggregation.
  */
object Queries122 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "abc_xyz_class" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir).select(col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
        round(col("l_quantity")).cast("bigint").as("q"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mth"))
      val monthly = li.groupBy("l_partkey", "mth")
        .agg(sum("q").as("mq"), sum("cents").as("mcents"))
      val perPart = monthly.groupBy("l_partkey")
        .agg(sum("mcents").as("rev"), count(lit(1)).as("m"),
          sum("mq").as("sq"), sum(col("mq") * col("mq")).as("sqq"))
        .withColumn("cv2_milli",
          expr("(m * sqq - sq * sq) * 1000 div (sq * sq)"))
      val wCum = Window.orderBy(col("rev").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = perPart.agg(sum("rev").as("tot"))
      perPart
        .withColumn("cum", sum("rev").over(wCum))
        .crossJoin(broadcast(tot))
        .withColumn("abc",
          when(expr("cum * 1000 div tot") <= 800, "A")
            .when(expr("cum * 1000 div tot") <= 950, "B").otherwise("C"))
        .withColumn("xyz",
          when(col("cv2_milli") < 250, "X")
            .when(col("cv2_milli") < 1000, "Y").otherwise("Z"))
        .groupBy("abc", "xyz")
        .agg(count(lit(1)).as("n_parts"), sum("rev").as("revenue_cents"))
        .crossJoin(broadcast(tot))
        .withColumn("share_milli", expr("revenue_cents * 1000 div tot"))
        .select(col("abc"), col("xyz"), col("n_parts"), col("revenue_cents"),
          col("share_milli"))
        .orderBy("abc", "xyz")
    },

    "promo_did" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir).select(col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
        expr("unix_micros(cast(l_shipdate as timestamp))").as("sd"))
      val bounds = li.agg(min("sd").as("mn"), max("sd").as("mx"))
      val cells = li.join(Tables.part(sp, dir)
          .select(col("p_partkey").as("l_partkey"),
            (col("p_type") === "PROMO").as("promo")), Seq("l_partkey"))
        .crossJoin(broadcast(bounds))
        .withColumn("after", col("sd") > expr("(mn + mx) div 2"))
        .groupBy("promo", "after")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"))
        .withColumn("mean_milli", expr("s * 1000 div n"))
      val flat = cells.groupBy()
        .agg(
          max(when(col("promo") && col("after"), col("mean_milli"))).as("promo_after"),
          max(when(col("promo") && !col("after"), col("mean_milli"))).as("promo_before"),
          max(when(!col("promo") && col("after"), col("mean_milli"))).as("ctrl_after"),
          max(when(!col("promo") && !col("after"), col("mean_milli"))).as("ctrl_before"),
          sum("n").as("n_lineitems"))
      flat.select(col("n_lineitems"), col("promo_before"), col("promo_after"),
        col("ctrl_before"), col("ctrl_after"),
        ((col("promo_after") - col("promo_before"))
          - (col("ctrl_after") - col("ctrl_before"))).as("did_milli"))
    }
  )

  val oracles: Map[String, String] = Map(
    "abc_xyz_class" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_quantity) AS BIGINT) AS q,
        |    year(l_shipdate) * 100 + month(l_shipdate) AS mth
        |  FROM lineitem
        |),
        |monthly AS (
        |  SELECT l_partkey, mth, CAST(sum(q) AS BIGINT) AS mq,
        |    CAST(sum(cents) AS BIGINT) AS mcents
        |  FROM li GROUP BY 1, 2
        |),
        |per_part AS (
        |  SELECT l_partkey, CAST(sum(mcents) AS BIGINT) AS rev,
        |    CAST(count(*) AS BIGINT) AS m, CAST(sum(mq) AS BIGINT) AS sq,
        |    CAST(sum(mq * mq) AS BIGINT) AS sqq
        |  FROM monthly GROUP BY 1
        |),
        |tot AS (SELECT CAST(sum(rev) AS BIGINT) AS tot FROM per_part),
        |classed AS (
        |  SELECT rev,
        |    CASE WHEN sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000 // tot <= 800
        |         THEN 'A'
        |         WHEN sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000 // tot <= 950
        |         THEN 'B' ELSE 'C' END AS abc,
        |    CASE WHEN (m * sqq - sq * sq) * 1000 // (sq * sq) < 250 THEN 'X'
        |         WHEN (m * sqq - sq * sq) * 1000 // (sq * sq) < 1000 THEN 'Y'
        |         ELSE 'Z' END AS xyz
        |  FROM per_part CROSS JOIN tot
        |)
        |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(rev) AS BIGINT) AS revenue_cents,
        |  CAST(sum(rev) * 1000 // max(tot) AS BIGINT) AS share_milli
        |FROM classed CROSS JOIN tot
        |GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin,

    "promo_did" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS sd
        |  FROM lineitem
        |),
        |bounds AS (SELECT CAST(min(sd) AS BIGINT) AS mn, CAST(max(sd) AS BIGINT) AS mx FROM li),
        |cells AS (
        |  SELECT p.p_type = 'PROMO' AS promo, li.sd > (b.mn + b.mx) // 2 AS after,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(li.cents) AS BIGINT) AS s
        |  FROM li
        |  JOIN part p ON p.p_partkey = li.l_partkey
        |  CROSS JOIN bounds b
        |  GROUP BY 1, 2
        |),
        |mm AS (SELECT promo, after, n, CAST(s * 1000 // n AS BIGINT) AS mean_milli FROM cells)
        |SELECT CAST(sum(n) AS BIGINT) AS n_lineitems,
        |  CAST(max(CASE WHEN promo AND NOT after THEN mean_milli END) AS BIGINT) AS promo_before,
        |  CAST(max(CASE WHEN promo AND after THEN mean_milli END) AS BIGINT) AS promo_after,
        |  CAST(max(CASE WHEN NOT promo AND NOT after THEN mean_milli END) AS BIGINT) AS ctrl_before,
        |  CAST(max(CASE WHEN NOT promo AND after THEN mean_milli END) AS BIGINT) AS ctrl_after,
        |  CAST((max(CASE WHEN promo AND after THEN mean_milli END)
        |      - max(CASE WHEN promo AND NOT after THEN mean_milli END))
        |     - (max(CASE WHEN NOT promo AND after THEN mean_milli END)
        |      - max(CASE WHEN NOT promo AND NOT after THEN mean_milli END)) AS BIGINT) AS did_milli
        |FROM mm""".stripMargin
  )
}
