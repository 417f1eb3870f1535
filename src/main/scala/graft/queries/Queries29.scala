package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation — warehouse/ETL surface around the event store:
  *
  *  - `scd2_dim`: Slowly-Changing-Dimension Type 2 build — collapse each
  *    user's event-derived attribute stream into validity intervals
  *    [valid_from, valid_to), open-ended for the current value. The
  *    standard warehouse history table, built with two windows over ONE
  *    (user) shuffle: lag to find change points, lead to close intervals.
  *  - `k_anonymity`: quasi-identifier group-size audit — for each
  *    (event_type, day, day-quarter) cell, the cohort size and whether it
  *    meets k=5 — the re-identification check a PII pipeline runs before
  *    releasing aggregates. Output is fixed-size (the QI lattice), never
  *    the event stream.
  *  - `table_profile`: per-column profiling (rows, nulls, exact distinct,
  *    lexicographic min/max) for the events table in ONE scan — the
  *    data-quality snapshot every ingest job ships; the per-column rows
  *    come from unpivoting a single aggregate row, so adding a column adds
  *    zero passes.
  *
  * Reference anchor: snowplow/enrich feeds warehouses that maintain exactly
  * these artifacts downstream (dimension history, release audits, ingest
  * profiles); here they're first-class operators with DuckDB-exact oracles.
  */
object Queries29 extends QuerySet {
  /** SCD2 tracked attribute: the event's props.k bucketed to a "tier" —
    * shared verbatim with the oracle. */
  private[queries] val TierSql = "CAST(get_json_object(props, '$.k') AS BIGINT) div 50"
  private[queries] val TierDuck = "CAST(json_extract(props, '$.k') AS BIGINT) // 50"

  private[graft] val AnonK = 5

  val defs: Map[String, Q] = Map(
    "scd2_dim" -> { (sp, dir) =>
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val changes = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr(TierSql).as("tier"))
        .withColumn("prev_tier", lag(col("tier"), 1).over(wOrd))
        // a row opens an interval iff it's the user's first event or the
        // tier moved; everything else is interior and drops out here, so
        // the second window runs over the (much smaller) change stream
        .filter(col("prev_tier").isNull || col("prev_tier") =!= col("tier"))
      changes
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(wOrd))
        .select(col("user_id"), col("tier"), col("ts_us").as("valid_from_us"),
          col("valid_to_us"))
        .orderBy("user_id", "valid_from_us")
    },

    "k_anonymity" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .groupBy(
          col("event_type"),
          expr("ts_us div 86400000000").as("day"),
          expr("(ts_us div 21600000000) % 4").as("day_quarter"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("day"), col("day_quarter"), col("n"),
          (col("n") >= AnonK).as("is_anon"))
        .orderBy("event_type", "day", "day_quarter")
    },

    "table_profile" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir).select(
        col("event_id").cast("string").as("event_id"),
        col("user_id").cast("string").as("user_id"),
        col("event_type"),
        col("props"))
      val cols = Seq("event_id", "user_id", "event_type", "props")
      val agg = ev.agg(
        count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_distinct"),
          min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))): _*)
      // unpivot the single aggregate row: one output row per column, zero
      // extra scans however many columns are profiled
      val stackExpr = cols.map(c =>
        s"'$c', ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max").mkString(", ")
      agg.select(col("n_rows"),
        expr(s"stack(${cols.length}, $stackExpr) AS (column_name, n_nulls, n_distinct, min_val, max_val)"))
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
        .orderBy("column_name")
    }
  )

  val oracles: Map[String, String] = Map(
    "scd2_dim" ->
      s"""WITH tiers AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, $TierDuck AS tier
         |  FROM events
         |),
         |marked AS (
         |  SELECT user_id, ts_us, event_id, tier,
         |    lag(tier) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_tier
         |  FROM tiers
         |),
         |changes AS (
         |  SELECT user_id, ts_us, event_id, tier FROM marked
         |  WHERE prev_tier IS NULL OR prev_tier <> tier
         |)
         |SELECT user_id, tier, ts_us AS valid_from_us,
         |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
         |FROM changes ORDER BY user_id, valid_from_us""".stripMargin,

    "k_anonymity" ->
      s"""SELECT event_type,
         |  epoch_us(ts) // 86400000000 AS day,
         |  (epoch_us(ts) // 21600000000) % 4 AS day_quarter,
         |  CAST(count(*) AS BIGINT) AS n,
         |  count(*) >= $AnonK AS is_anon
         |FROM events
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "table_profile" -> {
      val cols = Seq("event_id", "user_id", "event_type", "props")
      val branches = cols.map { c =>
        s"""SELECT '$c' AS column_name,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  min($c) AS min_val, max($c) AS max_val
           |FROM typed""".stripMargin
      }
      s"""WITH typed AS (
         |  SELECT CAST(event_id AS VARCHAR) AS event_id,
         |    CAST(user_id AS VARCHAR) AS user_id, event_type, props
         |  FROM events
         |)
         |${branches.mkString("\nUNION ALL\n")}
         |ORDER BY column_name""".stripMargin
    }
  )
}
