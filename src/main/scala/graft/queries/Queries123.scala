package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #43 — the FP&A waterfall + dependency discovery:
  *
  *  - `revenue_bridge`: the year-over-year revenue bridge (waterfall) —
  *    1996→1997 revenue change per part class decomposed into price,
  *    volume, cross, new-part, discontinued-part, and rounding-residual
  *    effects. Unit price is the floored cents/unit average, so the
  *    residual column absorbs the quantization and the bridge SUMS TO
  *    THE DELTA EXACTLY (spec-pinned identity) — the property every
  *    hand-built waterfall spreadsheet silently violates. Two year
  *    scans → one part-keyed rollup each → full-outer part join →
  *    class rollup; everything key-shrinking.
  *  - `fd_audit`: functional-dependency audit over four candidate rules
  *    (o_custkey→o_orderpriority, l_partkey→l_suppkey, p_brand→p_type,
  *    c_mktsegment→c_nationkey) — per rule: key count, violating keys
  *    (>1 distinct rhs), worst fan-out, and whether the FD holds. The
  *    schema-discovery DQ primitive `referential_audit` doesn't cover:
  *    it finds keys that LOOK like determinants but aren't. Two nested
  *    key-shrinking aggregations per rule.
  */
object Queries123 extends QuerySet {
  private[queries] val Y1 = 1996
  private[queries] val Y2 = 1997

  val defs: Map[String, Q] = Map(
    "revenue_bridge" -> { (sp, dir) =>
      def yearAgg(y: Int) = Tables.lineitem(sp, dir)
        .filter(year(col("l_shipdate")) === y)
        .groupBy("l_partkey")
        .agg(sum(round(col("l_quantity")).cast("bigint")).as(s"q$y"),
          sum(round(col("l_extendedprice") * 100).cast("bigint")).as(s"r$y"))
      val joined = yearAgg(Y1).join(yearAgg(Y2), Seq("l_partkey"), "full")
        .join(Tables.part(sp, dir).select(col("p_partkey").as("l_partkey"), col("p_type")),
          Seq("l_partkey"))
      val both = col(s"q$Y1").isNotNull && col(s"q$Y2").isNotNull
      val p1 = expr(s"r$Y1 div q$Y1")
      val p2 = expr(s"r$Y2 div q$Y2")
      joined.select(col("p_type"),
          coalesce(col(s"r$Y1"), lit(0L)).as("rev1"),
          coalesce(col(s"r$Y2"), lit(0L)).as("rev2"),
          when(both, (p2 - p1) * col(s"q$Y1")).otherwise(lit(0L)).as("price_eff"),
          when(both, (col(s"q$Y2") - col(s"q$Y1")) * p1).otherwise(lit(0L)).as("volume_eff"),
          when(both, (p2 - p1) * (col(s"q$Y2") - col(s"q$Y1"))).otherwise(lit(0L)).as("cross_eff"),
          when(col(s"q$Y1").isNull, col(s"r$Y2")).otherwise(lit(0L)).as("new_eff"),
          when(col(s"q$Y2").isNull, -col(s"r$Y1")).otherwise(lit(0L)).as("disc_eff"))
        .withColumn("residual",
          col("rev2") - col("rev1") - col("price_eff") - col("volume_eff")
            - col("cross_eff") - col("new_eff") - col("disc_eff"))
        .groupBy("p_type")
        .agg(sum("rev1").as("rev1_cents"), sum("rev2").as("rev2_cents"),
          sum("price_eff").as("price_eff"), sum("volume_eff").as("volume_eff"),
          sum("cross_eff").as("cross_eff"), sum("new_eff").as("new_eff"),
          sum("disc_eff").as("disc_eff"), sum("residual").as("residual"))
        .orderBy("p_type")
    },

    "fd_audit" -> { (sp, dir) =>
      def audit(tbl: DataFrame, name: String, lhs: String, rhs: String) = {
        val perKey = tbl.select(col(lhs).cast("string").as("k"), col(rhs).cast("string").as("v"))
          .groupBy("k").agg(countDistinct(col("v")).as("nv"))
        perKey.agg(count(lit(1)).as("n_keys"),
            sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating"),
            max("nv").as("max_fanout"))
          .select(lit(s"$lhs->$rhs").as("fd"), col("n_keys"), col("n_violating"),
            col("max_fanout"), (col("n_violating") === 0).as("holds"))
      }
      Seq(
        audit(Tables.orders(sp, dir), "orders", "o_custkey", "o_orderpriority"),
        audit(Tables.lineitem(sp, dir), "lineitem", "l_partkey", "l_suppkey"),
        audit(Tables.part(sp, dir), "part", "p_brand", "p_type"),
        audit(Tables.customer(sp, dir), "customer", "c_mktsegment", "c_nationkey")
      ).reduce(_ unionAll _).orderBy("fd")
    }
  )

  val oracles: Map[String, String] = Map(
    "revenue_bridge" ->
      s"""WITH y1 AS (
         |  SELECT l_partkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q1,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r1
         |  FROM lineitem WHERE year(l_shipdate) = $Y1 GROUP BY 1
         |),
         |y2 AS (
         |  SELECT l_partkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q2,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS r2
         |  FROM lineitem WHERE year(l_shipdate) = $Y2 GROUP BY 1
         |),
         |j AS (
         |  SELECT p.p_type,
         |    coalesce(y1.r1, 0) AS rev1, coalesce(y2.r2, 0) AS rev2,
         |    CASE WHEN y1.q1 IS NOT NULL AND y2.q2 IS NOT NULL
         |         THEN (y2.r2 // y2.q2 - y1.r1 // y1.q1) * y1.q1 ELSE 0 END AS price_eff,
         |    CASE WHEN y1.q1 IS NOT NULL AND y2.q2 IS NOT NULL
         |         THEN (y2.q2 - y1.q1) * (y1.r1 // y1.q1) ELSE 0 END AS volume_eff,
         |    CASE WHEN y1.q1 IS NOT NULL AND y2.q2 IS NOT NULL
         |         THEN (y2.r2 // y2.q2 - y1.r1 // y1.q1) * (y2.q2 - y1.q1) ELSE 0 END AS cross_eff,
         |    CASE WHEN y1.q1 IS NULL THEN y2.r2 ELSE 0 END AS new_eff,
         |    CASE WHEN y2.q2 IS NULL THEN -y1.r1 ELSE 0 END AS disc_eff
         |  FROM y1 FULL JOIN y2 USING (l_partkey)
         |  JOIN part p ON p.p_partkey = coalesce(y1.l_partkey, y2.l_partkey)
         |)
         |SELECT p_type, CAST(sum(rev1) AS BIGINT) AS rev1_cents,
         |  CAST(sum(rev2) AS BIGINT) AS rev2_cents,
         |  CAST(sum(price_eff) AS BIGINT) AS price_eff,
         |  CAST(sum(volume_eff) AS BIGINT) AS volume_eff,
         |  CAST(sum(cross_eff) AS BIGINT) AS cross_eff,
         |  CAST(sum(new_eff) AS BIGINT) AS new_eff,
         |  CAST(sum(disc_eff) AS BIGINT) AS disc_eff,
         |  CAST(sum(rev2 - rev1 - price_eff - volume_eff - cross_eff
         |    - new_eff - disc_eff) AS BIGINT) AS residual
         |FROM j GROUP BY 1 ORDER BY p_type""".stripMargin,

    "fd_audit" -> {
      def auditSql(tbl: String, lhs: String, rhs: String) =
        s"""SELECT '$lhs->$rhs' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           |  CAST(max(nv) AS BIGINT) AS max_fanout,
           |  sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (
           |  SELECT CAST($lhs AS VARCHAR) AS k,
           |    CAST(count(DISTINCT CAST($rhs AS VARCHAR)) AS BIGINT) AS nv
           |  FROM $tbl GROUP BY 1
           |) p""".stripMargin
      Seq(
        auditSql("orders", "o_custkey", "o_orderpriority"),
        auditSql("lineitem", "l_partkey", "l_suppkey"),
        auditSql("part", "p_brand", "p_type"),
        auditSql("customer", "c_mktsegment", "c_nationkey")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY fd")
    }
  )
}
