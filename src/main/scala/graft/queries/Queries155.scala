package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #75 — trade flows + discount economics:
  *
  *  - `nation_trade_balance`: each nation's net trade position —
  *    revenue earned as SUPPLIER (exports) minus revenue spent as
  *    CUSTOMER (imports), the row/column margin readout of
  *    `trade_flow_matrix`'s full grid. Two fact aggregations with
  *    broadcast dims, full-outer-merged so one-sided nations still
  *    appear; Σbalance = 0 by construction (every cent someone spends,
  *    someone earns) — spec-pinned.
  *  - `discount_qty_lift`: does discounting move VOLUME — mean quantity
  *    per discount band vs the zero-discount baseline, lift in exact
  *    milli. The demand-response read `discount_bands`' revenue mix
  *    doesn't answer. */
object Queries155 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "nation_trade_balance" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
      val exports = li
        .join(broadcast(Tables.supplier(sp, dir).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").cast("bigint").as("nation"))
        .agg(sum("cents").as("export_cents"))
      val imports = li
        .join(Tables.orders(sp, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(sp, dir).select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").cast("bigint").as("nation"))
        .agg(sum("cents").as("import_cents"))
      exports.join(imports, Seq("nation"), "full_outer")
        .select(col("nation"),
          coalesce(col("export_cents"), lit(0L)).as("export_cents"),
          coalesce(col("import_cents"), lit(0L)).as("import_cents"),
          (coalesce(col("export_cents"), lit(0L))
            - coalesce(col("import_cents"), lit(0L))).as("balance_cents"))
        .orderBy("nation")
    },

    "discount_qty_lift" -> { (sp, dir) =>
      val bands = Tables.lineitem(sp, dir)
        .select(expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_pct"),
          col("l_quantity").cast("bigint").as("qty"))
        .groupBy("disc_pct")
        .agg(count(lit(1)).as("n_lines"), sum("qty").as("sum_qty"))
        .withColumn("mean_qty_milli", expr("sum_qty * 1000 div n_lines"))
      val base = bands.filter(col("disc_pct") === 0)
        .select(col("mean_qty_milli").as("base_milli"))
      bands.crossJoin(broadcast(base))
        .select(col("disc_pct"), col("n_lines"), col("mean_qty_milli"),
          expr("mean_qty_milli * 1000 div base_milli").as("lift_vs_zero_milli"))
        .orderBy("disc_pct")
    }
  )

  val oracles: Map[String, String] = Map(
    "nation_trade_balance" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, l_suppkey,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem
         |),
         |exports AS (
         |  SELECT CAST(s.s_nationkey AS BIGINT) AS nation,
         |    CAST(sum(li.cents) AS BIGINT) AS export_cents
         |  FROM li JOIN supplier s ON s.s_suppkey = li.l_suppkey
         |  GROUP BY 1
         |),
         |imports AS (
         |  SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
         |    CAST(sum(li.cents) AS BIGINT) AS import_cents
         |  FROM li
         |  JOIN orders o ON o.o_orderkey = li.l_orderkey
         |  JOIN customer c ON c.c_custkey = o.o_custkey
         |  GROUP BY 1
         |)
         |SELECT coalesce(e.nation, i.nation) AS nation,
         |  coalesce(e.export_cents, 0) AS export_cents,
         |  coalesce(i.import_cents, 0) AS import_cents,
         |  coalesce(e.export_cents, 0) - coalesce(i.import_cents, 0) AS balance_cents
         |FROM exports e FULL OUTER JOIN imports i ON i.nation = e.nation
         |ORDER BY nation""".stripMargin,

    "discount_qty_lift" ->
      s"""WITH bands AS (
         |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
         |    CAST(count(*) AS BIGINT) AS n_lines,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         |  FROM lineitem GROUP BY 1
         |),
         |wm AS (SELECT *, CAST(sum_qty * 1000 // n_lines AS BIGINT) AS mean_qty_milli FROM bands),
         |base AS (SELECT mean_qty_milli AS base_milli FROM wm WHERE disc_pct = 0)
         |SELECT disc_pct, n_lines, mean_qty_milli,
         |  CAST(mean_qty_milli * 1000 // base.base_milli AS BIGINT) AS lift_vs_zero_milli
         |FROM wm, base ORDER BY disc_pct""".stripMargin
  )
}
