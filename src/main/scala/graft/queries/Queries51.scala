package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #23 — two closing distribution reports:
  *
  *  - `discount_bands`: quantity and revenue response by discount band
  *    (the pricing team's first-cut elasticity table over TPC-H): exact
  *    milli average quantity and net revenue per percent-of-discount
  *    band; one groupBy on a derived band key.
  *  - `basket_size_dist`: the distribution of (user, day) basket sizes —
  *    the long-tail histogram behind `basket_rules`' support thresholds;
  *    two key-shrinking aggregations (events → baskets → histogram).
  */
object Queries51 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "discount_bands" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .select(round(col("l_discount") * 100).cast("bigint").as("disc_pct"),
          col("l_quantity").cast("bigint").as("qty"),
          round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100)
            .cast("bigint").as("net_cents"))
        .groupBy("disc_pct")
        .agg(count(lit(1)).as("n_lines"),
          sum("qty").as("total_qty"),
          sum("net_cents").as("net_cents"))
        .select(col("disc_pct"), col("n_lines"), col("total_qty"), col("net_cents"),
          expr("(1000 * total_qty) div n_lines").as("avg_qty_milli"))
        .orderBy("disc_pct")
    },

    "basket_size_dist" -> { (sp, dir) =>
      val baskets = Tables.events(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"),
          expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10").as("item"))
        .distinct()
        .groupBy("user_id", "day").agg(count(lit(1)).as("sz"))
      baskets.groupBy(col("sz").as("basket_size"))
        .agg(count(lit(1)).as("n_baskets"))
        .orderBy("basket_size")
    }
  )

  val oracles: Map[String, String] = Map(
    "discount_bands" ->
      """WITH li AS (
        |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS net_cents
        |  FROM lineitem
        |)
        |SELECT disc_pct, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(qty) AS BIGINT) AS total_qty,
        |  CAST(sum(net_cents) AS BIGINT) AS net_cents,
        |  (1000 * CAST(sum(qty) AS BIGINT)) // CAST(count(*) AS BIGINT) AS avg_qty_milli
        |FROM li GROUP BY disc_pct ORDER BY disc_pct""".stripMargin,

    "basket_size_dist" ->
      s"""WITH items AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day,
         |    CAST(json_extract(props, '$$.k') AS BIGINT) // 10 AS item
         |  FROM events
         |),
         |baskets AS (
         |  SELECT user_id, day, CAST(count(*) AS BIGINT) AS sz
         |  FROM items GROUP BY user_id, day
         |)
         |SELECT sz AS basket_size, CAST(count(*) AS BIGINT) AS n_baskets
         |FROM baskets GROUP BY sz ORDER BY basket_size""".stripMargin
  )
}
