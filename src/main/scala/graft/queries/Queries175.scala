package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch #18 — entry-point analytics, merchandising interaction,
  * and supply-relationship concentration:
  *
  *  - `entry_type_conversion`: session conversion by ENTRY event type —
  *    sessions opened with each event type (the 30-minute-gap
  *    sessionization session_paths uses), how many contain a purchase,
  *    rate per-mille: the landing-experience read (which entry points
  *    convert) on top of the same gaps-and-islands machinery. Two
  *    windows in one user-keyed pass + a bounded rollup.
  *  - `discount_return_interaction`: return rate by discount band
  *    (percent points) — whether discounted lines come back more: the
  *    merchandising read that connects discount_bands (revenue cost)
  *    with return_abuse_scan (behavior). One scan, bounded 11-row
  *    rollup, exact integer shares.
  *  - `supplier_loyalty`: concentration of each customer's line volume
  *    on their top supplier — top-supplier share per-mille per customer,
  *    rolled into deciles (100 → single-sourced): the relationship-
  *    stickiness census over the customer×supplier matrix. Two
  *    key-shrinking aggregates + one rank window.
  */
object Queries175 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000

  val defs: Map[String, Q] = Map(
    "entry_type_conversion" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("new_session",
          when(lag("ts_us", 1).over(w).isNull ||
            col("ts_us") - lag("ts_us", 1).over(w) > GapUs, 1L).otherwise(0L))
        .withColumn("session_idx", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val entries = sess.filter(col("new_session") === 1)
        .select(col("user_id"), col("session_idx"), col("event_type").as("entry_type"))
      val conv = sess.groupBy("user_id", "session_idx")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      entries.join(conv, Seq("user_id", "session_idx"))
        .groupBy("entry_type")
        .agg(count(lit(1)).as("n_sessions"), sum("converted").as("n_converted"))
        .withColumn("conversion_pm", expr("n_converted * 1000 div n_sessions"))
        .orderBy("entry_type")
    },

    "discount_return_interaction" -> { (sp, dir) =>
      Tables.lineitem(sp, dir)
        .select(round(col("l_discount") * 100).cast("long").as("disc_pct"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("returned"))
        .groupBy("disc_pct")
        .agg(count(lit(1)).as("n_lines"), sum("returned").as("n_returned"))
        .withColumn("return_pm", expr("n_returned * 1000 div n_lines"))
        .orderBy("disc_pct")
    },

    "supplier_loyalty" -> { (sp, dir) =>
      val cs = Tables.orders(sp, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(sp, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")), "o_orderkey")
        .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("n"))
      val top = cs
        .withColumn("rk", row_number().over(
          Window.partitionBy("o_custkey").orderBy(col("n").desc, col("l_suppkey"))))
        .withColumn("tot", sum("n").over(Window.partitionBy("o_custkey")))
        .filter(col("rk") === 1)
        .select(col("o_custkey"), expr("n * 1000 div tot").as("top_share_pm"))
      top.groupBy(expr("top_share_pm div 100").as("share_decile"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("share_decile")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "entry_type_conversion" ->
      s"""WITH sess AS (
         |  SELECT user_id, ts_us, event_id, event_type, new_session,
         |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |      ROWS UNBOUNDED PRECEDING) AS session_idx
         |  FROM (
         |    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
         |      CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         |             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $GapUs
         |           THEN 1 ELSE 0 END AS new_session
         |    FROM events
         |    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t),
         |per_sess AS (
         |  SELECT e.entry_type, c.converted FROM
         |    (SELECT user_id, session_idx, event_type AS entry_type
         |     FROM sess WHERE new_session = 1) e
         |  JOIN (SELECT user_id, session_idx,
         |          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         |        FROM sess GROUP BY 1, 2) c
         |    ON c.user_id = e.user_id AND c.session_idx = e.session_idx)
         |SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(converted) AS BIGINT) AS n_converted,
         |  CAST(sum(converted) * 1000 // count(*) AS BIGINT) AS conversion_pm
         |FROM per_sess GROUP BY entry_type ORDER BY entry_type""".stripMargin,

    "discount_return_interaction" ->
      """SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returned,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000 // count(*)
        |    AS BIGINT) AS return_pm
        |FROM lineitem GROUP BY 1 ORDER BY disc_pct""".stripMargin,

    "supplier_loyalty" ->
      """WITH cs AS (
        |  SELECT o.o_custkey, l.l_suppkey, CAST(count(*) AS BIGINT) AS n
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |top AS (
        |  SELECT o_custkey, n * 1000 // tot AS top_share_pm FROM (
        |    SELECT o_custkey, n,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY n DESC, l_suppkey) AS rk,
        |      sum(n) OVER (PARTITION BY o_custkey) AS tot
        |    FROM cs) t WHERE rk = 1)
        |SELECT CAST(top_share_pm // 100 AS BIGINT) AS share_decile,
        |  CAST(count(*) AS BIGINT) AS n_customers
        |FROM top GROUP BY 1 ORDER BY share_decile""".stripMargin
  )
}
