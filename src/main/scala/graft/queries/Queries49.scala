package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #21 — cross-dataset stitching and the SCD2 design
  * argument:
  *
  *  - `segment_revenue`: behavioral revenue per CRM segment — the
  *    cross-dataset join every warehouse runs (event stream × customer
  *    master): users map to customer records (deterministic key
  *    `c_custkey % |users|`, the shared-universe convention), the
  *    customer dimension broadcasts (collapsed to one deterministic
  *    representative per user BEFORE the join so the fact side never
  *    fans out), revenue and conversion aggregate per market segment.
  *  - `scd2_compression`: the row-count DECISION table for SCD2 vs daily
  *    snapshots — one row per (user, active-day span) under snapshotting
  *    vs one per CHANGE interval under `scd2_dim`, ratio in exact milli.
  *    Snapshot mass grows with days, interval mass with changes; which
  *    wins is a property of the data (the synthetic tier churns faster
  *    than daily, so the ratio lands BELOW 1000 here — precisely the
  *    measurement this report exists to make before picking a design).
  */
object Queries49 extends QuerySet {
  private val DayUs = 86400000000L
  private val NUsers = 150L // sf-invariant user-id universe stride

  val defs: Map[String, Q] = Map(
    "segment_revenue" -> { (sp, dir) =>
      // one representative customer per user slot: lowest c_custkey in the
      // residue class — deterministic, collapsed before the broadcast join
      val wRep = Window.partitionBy("slot").orderBy("c_custkey")
      val reps = Tables.customer(sp, dir)
        .select(col("c_custkey"), col("c_mktsegment"), (col("c_custkey") % NUsers).as("slot"))
        .withColumn("rk", row_number().over(wRep))
        .filter(col("rk") === 1)
        .select(col("slot"), col("c_mktsegment"))
      val ev = Tables.events(sp, dir)
        .select((col("user_id") % NUsers).as("slot"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("bigint").as("cents"))
      ev.join(broadcast(reps), Seq("slot"))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L))
            .as("rev_cents"))
        .orderBy("segment")
    },

    "scd2_compression" -> { (sp, dir) =>
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val base = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr(Queries29.TierSql).as("tier"))
      val snapshotRows = base
        .groupBy("user_id")
        .agg(((max(expr(s"ts_us div $DayUs")) - min(expr(s"ts_us div $DayUs"))) + 1)
          .as("active_days"))
        .agg(sum("active_days").as("n"))
      val scd2Rows = base
        .withColumn("prev_tier", lag(col("tier"), 1).over(wOrd))
        .filter(col("prev_tier").isNull || col("prev_tier") =!= col("tier"))
        .agg(count(lit(1)).as("n"))
      snapshotRows.select(col("n").as("snapshot_rows"))
        .crossJoin(scd2Rows.select(col("n").as("scd2_rows")))
        .select(col("snapshot_rows"), col("scd2_rows"),
          expr("(1000 * snapshot_rows) div scd2_rows").as("compression_milli"))
    }
  )

  val oracles: Map[String, String] = Map(
    "segment_revenue" ->
      s"""WITH reps AS (
         |  SELECT slot, c_mktsegment FROM (
         |    SELECT c_custkey, c_mktsegment, c_custkey % $NUsers AS slot,
         |      row_number() OVER (PARTITION BY c_custkey % $NUsers ORDER BY c_custkey) AS rk
         |    FROM customer
         |  ) t WHERE rk = 1
         |),
         |ev AS (
         |  SELECT user_id % $NUsers AS slot, user_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events
         |)
         |SELECT c_mktsegment AS segment,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT)
         |    AS rev_cents
         |FROM ev JOIN reps USING (slot)
         |GROUP BY c_mktsegment ORDER BY segment""".stripMargin,

    "scd2_compression" ->
      s"""WITH base AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, ${Queries29.TierDuck} AS tier
         |  FROM events
         |),
         |snap AS (
         |  SELECT CAST(sum(active_days) AS BIGINT) AS snapshot_rows FROM (
         |    SELECT user_id,
         |      max(ts_us // $DayUs) - min(ts_us // $DayUs) + 1 AS active_days
         |    FROM base GROUP BY user_id
         |  ) t
         |),
         |scd AS (
         |  SELECT CAST(count(*) AS BIGINT) AS scd2_rows FROM (
         |    SELECT tier, lag(tier) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |      AS prev_tier
         |    FROM base
         |  ) t WHERE prev_tier IS NULL OR prev_tier <> tier
         |)
         |SELECT snapshot_rows, scd2_rows,
         |  (1000 * snapshot_rows) // scd2_rows AS compression_milli
         |FROM snap, scd""".stripMargin
  )
}
