package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #16 — robust stats and referential hygiene:
  *
  *  - `mad_outliers`: robust per-user activity outliers via the median /
  *    median-absolute-deviation rule (flag when |x − med| > 5·MAD) — the
  *    z-score alternative that a few whales can't poison, computed with
  *    the exact rank-arithmetic median twice (once on counts, once on
  *    absolute deviations). Both medians run over the per-user table (one
  *    row per user), not the event stream.
  *  - `referential_audit`: the cross-table consistency report run before
  *    trusting a warehouse load: orphaned lineitems (no parent order),
  *    childless orders, and per-order lineitem-total vs header-total
  *    mismatches (integer cents) — three anti/outer-join probes sharing
  *    one lineitem aggregation, output as one fixed-size report row.
  */
object Queries44 extends QuerySet {
  /** Outlier rule: |x − med| > MadK·MAD. 2 ≈ z-score 3 under normality
    * (MAD ≈ 0.674σ); the synthetic per-user counts are near-Poisson, so
    * the flagged tail is small but non-empty at every SF. */
  private val MadK = 2L

  val defs: Map[String, Q] = Map(
    "mad_outliers" -> { (sp, dir) =>
      val per = Tables.events(sp, dir)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      def medianOf(df: DataFrame, valueCol: String, tieCol: String): DataFrame = {
        val w = Window.orderBy(col(valueCol), col(tieCol))
        df.withColumn("rk", row_number().over(w))
          .withColumn("n", count(lit(1)).over())
          .agg(max(when(col("rk") === lit(1) + expr("(50 * (n - 1)) div 100"),
            col(valueCol))).as("med"))
      }
      val med = medianOf(per, "cnt", "user_id")
      val dev = per.crossJoin(broadcast(med))
        .withColumn("adev", abs(col("cnt") - col("med")))
      val mad = medianOf(dev.select(col("adev"), col("user_id")), "adev", "user_id")
        .withColumnRenamed("med", "mad")
      dev.crossJoin(broadcast(mad))
        .filter(abs(col("cnt") - col("med")) > lit(MadK) * col("mad"))
        .select(col("user_id"), col("cnt"), col("med"), col("mad"),
          (col("cnt") - col("med")).as("deviation"))
        .orderBy("user_id")
    },

    "referential_audit" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("bigint").as("net_cents"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"), sum("net_cents").as("line_cents"))
      val ord = Tables.orders(sp, dir)
        .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("bigint").as("hdr_cents"))
      val joined = ord.join(li, ord("o_orderkey") === li("l_orderkey"), "full_outer")
      joined.agg(
        sum(when(col("o_orderkey").isNull, col("n_lines")).otherwise(0L)).as("n_orphan_lines"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("n_childless_orders"),
        sum(when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull, 1L)
          .otherwise(0L)).as("n_matched_orders"),
        sum(when(col("o_orderkey").isNotNull && col("l_orderkey").isNotNull &&
          col("hdr_cents") =!= col("line_cents"), 1L).otherwise(0L)).as("n_total_mismatch"))
    }
  )

  val oracles: Map[String, String] = Map(
    "mad_outliers" ->
      s"""WITH per AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
         |),
         |r1 AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt, user_id) AS rk,
         |    count(*) OVER () AS n
         |  FROM per
         |),
         |med AS (
         |  SELECT max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN cnt END) AS med FROM r1
         |),
         |dev AS (
         |  SELECT user_id, cnt, med, abs(cnt - med) AS adev FROM per, med
         |),
         |r2 AS (
         |  SELECT adev, row_number() OVER (ORDER BY adev, user_id) AS rk,
         |    count(*) OVER () AS n
         |  FROM dev
         |),
         |mad AS (
         |  SELECT max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN adev END) AS mad FROM r2
         |)
         |SELECT user_id, cnt, med, mad, cnt - med AS deviation
         |FROM dev, mad
         |WHERE abs(cnt - med) > $MadK * mad
         |ORDER BY user_id""".stripMargin,

    "referential_audit" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |      AS line_cents
        |  FROM lineitem GROUP BY l_orderkey
        |),
        |ord AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS hdr_cents
        |  FROM orders
        |)
        |SELECT
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN n_lines ELSE 0 END) AS BIGINT)
        |    AS n_orphan_lines,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_childless_orders,
        |  CAST(sum(CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched_orders,
        |  CAST(sum(CASE WHEN o_orderkey IS NOT NULL AND l_orderkey IS NOT NULL
        |    AND hdr_cents <> line_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_total_mismatch
        |FROM ord FULL OUTER JOIN li ON o_orderkey = l_orderkey""".stripMargin
  )
}
