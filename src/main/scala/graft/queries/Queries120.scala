package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions

/** Round-9 batch #40 — the bitmap-intersection plan shape:
  *
  *  - `bitmap_overlap_grid`: the exact campaign audience-overlap grid
  *    through the NEW plan — one `BitmapBytes` aggregation per campaign
  *    (10 serialized bitmaps), then |campaigns|² scalar
  *    `BitmapAndCardinality` ANDs on the post-aggregation grid. The
  *    per-user pair fan-out `campaign_audience_overlap` pays (bounded
  *    but real: Σᵤ C(campaigns(u), 2) rows through the shuffle) becomes
  *    ONE audience shuffle; at 100 TB the bitmap path's shuffle bytes
  *    are the bitmap sizes, not the pair count. The oracle is the SAME
  *    exact SQL as `campaign_audience_overlap` — the hash proves the
  *    two plans compute the identical table.
  *  - `bitmap_retention`: day-over-day retained actives — |A_d ∩ A_d+1|
  *    via one bitmap per day and a sequential self-join on d+1, with
  *    retention in milli of the earlier day. The AND operator's
  *    time-series pattern (vs the grid's pairwise pattern); oracle is
  *    the row-level exact distinct intersection.
  */
object Queries120 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "bitmap_overlap_grid" -> { (sp, dir) =>
      val aud = Tables.events(sp, dir).filter(col("event_type") === "click")
        .select(col("user_id"),
          (get_json_object(col("props"), "$.k").cast("bigint") % 10).as("campaign"))
        .distinct()
      val bms = aud.groupBy("campaign")
        .agg(GraftFunctions.bitmapBytes(col("user_id")).as("bm"), count(lit(1)).as("n"))
      val a = bms.select(col("campaign").as("camp_a"), col("bm").as("bma"), col("n").as("n_a"))
      val b = bms.select(col("campaign").as("camp_b"), col("bm").as("bmb"), col("n").as("n_b"))
      a.join(b, col("camp_a") < col("camp_b"))
        .select(col("camp_a"), col("camp_b"), col("n_a"), col("n_b"),
          GraftFunctions.bitmapAndCount(col("bma"), col("bmb")).as("n_both"))
        .withColumn("jaccard_milli", expr("n_both * 1000 div (n_a + n_b - n_both)"))
        .orderBy("camp_a", "camp_b")
    },

    "bitmap_retention" -> { (sp, dir) =>
      val daily = Tables.events(sp, dir)
        .select(expr(s"ts_us div $DayUs").as("day"), col("user_id")).distinct()
        .groupBy("day")
        .agg(GraftFunctions.bitmapBytes(col("user_id")).as("bm"), count(lit(1)).as("n"))
      val a = daily.select(col("day"), col("bm").as("bma"), col("n").as("n_day"))
      val b = daily.select((col("day") - 1).as("day"), col("bm").as("bmb"),
        col("n").as("n_next"))
      a.join(b, Seq("day"))
        .select(col("day"), col("n_day"), col("n_next"),
          GraftFunctions.bitmapAndCount(col("bma"), col("bmb")).as("n_retained"))
        .withColumn("retention_milli", expr("n_retained * 1000 div n_day"))
        .orderBy("day")
    }
  )

  val oracles: Map[String, String] = Map(
    // the SAME exact grid the pair fan-out computes — plan equivalence
    "bitmap_overlap_grid" -> Queries109.oracles("campaign_audience_overlap"),

    "bitmap_retention" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT DISTINCT epoch_us(ts) // $DayUs AS day, user_id FROM events
         |),
         |sizes AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM daily GROUP BY 1),
         |ret AS (
         |  SELECT a.day, CAST(count(*) AS BIGINT) AS n_retained
         |  FROM daily a JOIN daily b ON b.user_id = a.user_id AND b.day = a.day + 1
         |  GROUP BY 1
         |)
         |SELECT s.day, s.n AS n_day, s2.n AS n_next,
         |  coalesce(r.n_retained, 0) AS n_retained,
         |  CAST(coalesce(r.n_retained, 0) * 1000 // s.n AS BIGINT) AS retention_milli
         |FROM sizes s
         |JOIN sizes s2 ON s2.day = s.day + 1
         |LEFT JOIN ret r ON r.day = s.day
         |ORDER BY s.day""".stripMargin
  )
}
