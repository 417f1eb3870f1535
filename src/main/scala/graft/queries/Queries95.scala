package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.{revE4, RevE4Sql}

/** Round-9 batch #15 — warehouse trade structure, traffic shape, and the
  * embedding-column health profile:
  *
  *  - `trade_flow_matrix`: the full customer-nation × supplier-nation
  *    revenue flow matrix (TPC-H Q7 generalized from one nation pair to
  *    the whole grid, all years): exact e4-unit revenue, item counts,
  *    grand-total share in milli, and the domestic-trade flag. The fact
  *    side shuffles only on its join keys (orderkey, custkey); supplier
  *    and both nation copies broadcast; the grand total is a single-row
  *    broadcast — at 100 TB this is two fact shuffles and a 625-row
  *    matrix, no step proportional to output² anywhere.
  *  - `activity_heatmap`: event volume over the day-of-week × hour-of-day
  *    grid in pure epoch-micro integer arithmetic (dow 0=Sunday via
  *    `(day + 4) % 7` — epoch day 0 is a Thursday; no timezone/calendar
  *    functions on either engine), count + corpus share per cell. One
  *    map-side-combined aggregation into ≤ 168 groups.
  *  - `embedding_dim_profile`: per-dimension corpus statistics of the
  *    embedding column in micro quantization (`KMeans.quantizeMicro`):
  *    n / sum / sum-of-squares, truncated mean, and the population
  *    variance in the `sumsq div n − mean²` spelling — deliberately
  *    avoiding the `(n·Σx² − (Σx)²) div n²` form whose n·Σx² product
  *    overflows 64 bits near n ≈ 5·10⁶ at unit-scale values; this form
  *    is safe to n ≈ 2.5·10⁷ per partial and the sums themselves to
  *    n ≈ 2.5·10⁷ per dim × 3.6·10¹¹ — at larger corpora the same plan
  *    holds with milli quantization. Dead/flat dimensions (variance ≈ 0)
  *    and scale outliers — the two embedding-pipeline defects that poison
  *    cosine ANN — surface directly. One narrow posexplode + a 64-group
  *    map-side-combined aggregation, no shuffle of the vectors themselves.
  */
object Queries95 extends QuerySet {
  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  val defs: Map[String, Q] = Map(
    "trade_flow_matrix" -> { (sp, dir) =>
      val n1 = broadcast(Tables.nation(sp, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
      val n2 = broadcast(Tables.nation(sp, dir)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
      val supp = broadcast(Tables.supplier(sp, dir).select(col("s_suppkey"), col("s_nationkey")))
      val cust = Tables.customer(sp, dir).select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(sp, dir).select(col("o_orderkey"), col("o_custkey"))
      val flows = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_suppkey"),
          revE4(col("l_extendedprice"), col("l_discount")).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("sn_key"))
        .join(n2, col("c_nationkey") === col("cn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(sum(col("rev")).as("revenue_e4"), count(lit(1)).as("n_items"))
      val tot = flows.agg(sum(col("revenue_e4")).as("grand"))
      flows.crossJoin(broadcast(tot))
        .select(col("supp_nation"), col("cust_nation"),
          col("revenue_e4"), col("n_items"),
          expr("revenue_e4 * 1000 div grand").as("share_milli"),
          when(col("supp_nation") === col("cust_nation"), 1L).otherwise(0L)
            .as("is_domestic"))
        .orderBy("supp_nation", "cust_nation")
    },

    "activity_heatmap" -> { (sp, dir) =>
      val cells = Tables.events(sp, dir)
        .select(((col("ts_us") / DayUs).cast("bigint") + 4) % 7 as "dow",
          ((col("ts_us") % DayUs) / HourUs).cast("bigint").as("hour"))
        .groupBy("dow", "hour").agg(count(lit(1)).as("cnt"))
      val tot = cells.agg(sum(col("cnt")).as("total"))
      cells.crossJoin(broadcast(tot))
        .select(col("dow"), col("hour"), col("cnt"),
          expr("cnt * 1000 div total").as("share_milli"))
        .orderBy("dow", "hour")
    },

    "embedding_dim_profile" -> { (sp, dir) =>
      Tables.embeddings(sp, dir)
        .select(posexplode(graft.operators.KMeans.quantizeMicro(col("embedding"))))
        .groupBy(col("pos").cast("bigint").as("dim"))
        .agg(count(lit(1)).as("n"), sum(col("col")).as("sum_micro"),
          sum(col("col") * col("col")).as("sumsq_micro2"))
        .select(col("dim"), col("n"), col("sum_micro"), col("sumsq_micro2"),
          expr("sum_micro div n").as("mean_micro"),
          expr("sumsq_micro2 div n - (sum_micro div n) * (sum_micro div n)").as("var_micro2"))
        .orderBy("dim")
    }
  )

  val oracles: Map[String, String] = Map(
    "trade_flow_matrix" ->
      s"""WITH flows AS (
         |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |    CAST(sum($RevE4Sql) AS BIGINT) AS revenue_e4,
         |    CAST(count(*) AS BIGINT) AS n_items
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |  GROUP BY 1, 2
         |), tot AS (SELECT CAST(sum(revenue_e4) AS BIGINT) AS grand FROM flows)
         |SELECT f.supp_nation, f.cust_nation, f.revenue_e4, f.n_items,
         |  CAST(f.revenue_e4 * 1000 // t.grand AS BIGINT) AS share_milli,
         |  CAST(CASE WHEN f.supp_nation = f.cust_nation THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_domestic
         |FROM flows f, tot t
         |ORDER BY f.supp_nation, f.cust_nation""".stripMargin,

    "activity_heatmap" ->
      s"""WITH cells AS (
         |  SELECT (epoch_us(ts) // $DayUs + 4) % 7 AS dow,
         |    (epoch_us(ts) % $DayUs) // $HourUs AS hour,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2
         |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cells)
         |SELECT CAST(c.dow AS BIGINT) AS dow, CAST(c.hour AS BIGINT) AS hour, c.cnt,
         |  CAST(c.cnt * 1000 // t.total AS BIGINT) AS share_milli
         |FROM cells c, tot t
         |ORDER BY dow, hour""".stripMargin,

    "embedding_dim_profile" ->
      """WITH q AS (
        |  SELECT unnest(range(0, len(embedding))) AS dim,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS x
        |  FROM embeddings
        |), s AS (
        |  SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sum_micro,
        |    CAST(sum(x * x) AS BIGINT) AS sumsq_micro2
        |  FROM q GROUP BY 1
        |)
        |SELECT dim, n, sum_micro, sumsq_micro2,
        |  CAST(sum_micro // n AS BIGINT) AS mean_micro,
        |  CAST(sumsq_micro2 // n - (sum_micro // n) * (sum_micro // n) AS BIGINT) AS var_micro2
        |FROM s ORDER BY dim""".stripMargin
  )
}
