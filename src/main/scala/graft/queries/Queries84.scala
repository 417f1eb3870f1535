package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #4 — event hygiene and privacy closure:
  *
  *  - `event_dedup_window`: collector-replay deduplication — the
  *    reference's downstream loaders dedupe on (event_id, fingerprint)
  *    because at-least-once transports redeliver (the batch twin of
  *    `Transport.absorbRedelivery`). Replays are planted in-query (every
  *    17th event re-delivered an hour later), keep-first is ONE
  *    key-shrinking `min_by`-shaped aggregation per event_id — no window,
  *    no N-row reducer; output pins which copy survived and how many
  *    arrived.
  *  - `collector_skew_profile`: device-clock skew (sent − created) in
  *    exact-ms log2 buckets per platform — the distribution that sizes
  *    `derived_tstamp`'s clock-skew correction (reference
  *    `EventEnrichments.getDerivedTimestamp` assumes skew is
  *    per-device-constant between created and sent; this reports how big
  *    it runs). One narrow projection + key-shrinking aggregation.
  *  - `l_diversity`: the privacy suite's second gate — `k_anonymity`'s
  *    quasi-identifier groups (event_type × day × day-quarter) must ALSO
  *    carry diverse sensitive values (distinct users): a group can pass
  *    k-anonymity yet be all-one-person (l = 1, fully re-identifiable).
  *    Exact distinct per group next to the k flag; same grouping
  *    spelling as `k_anonymity` so the two gates compose row-for-row.
  */
object Queries84 extends QuerySet {
  private[graft] val ReplayEvery = 17
  private[graft] val LDiv = 3

  val defs: Map[String, Q] = Map(
    "event_dedup_window" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir).select(col("event_id"), col("ts_us"))
      // the redelivered stream: every 17th event arrives again 1h later
      val replayed = ev.unionAll(
        ev.filter(col("event_id") % ReplayEvery === 4)
          .select(col("event_id"), (col("ts_us") + 3600000000L).as("ts_us")))
      replayed.groupBy("event_id")
        .agg(count(lit(1)).as("n_copies"), min("ts_us").as("kept_ts_us"))
        .select(col("event_id"), col("n_copies"), col("kept_ts_us"),
          (col("n_copies") > 1).as("was_replayed"))
        .orderBy("event_id")
    },

    "collector_skew_profile" -> { (sp, dir) =>
      val raw = Synth.withRaw(Tables.events(sp, dir))
        .select(col("platform_code"),
          ((col("sent_us") - col("created_us")) / 1000).cast("long").as("skew_ms"))
        .filter(col("skew_ms") > 0)
      val hist = raw
        .select(col("platform_code"), (length(bin(col("skew_ms"))) - 1).cast("long").as("bucket"))
        .groupBy("platform_code", "bucket").agg(count(lit(1)).as("n_events"))
      val tot = hist.groupBy("platform_code").agg(sum("n_events").as("n_platform"))
      hist.join(tot, Seq("platform_code"))
        .select(col("platform_code"), col("bucket"), col("n_events"),
          expr("n_events * 1000 div n_platform").as("share_milli"))
        .orderBy("platform_code", "bucket")
    },

    "l_diversity" -> { (sp, dir) =>
      Tables.events(sp, dir)
        .groupBy(
          col("event_type"),
          expr("ts_us div 86400000000").as("day"),
          expr("(ts_us div 21600000000) % 4").as("day_quarter"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("l_users"))
        .select(col("event_type"), col("day"), col("day_quarter"), col("n"),
          col("l_users"),
          (col("n") >= Queries29.AnonK).as("is_anon"),
          (col("l_users") >= LDiv).as("is_diverse"))
        .orderBy("event_type", "day", "day_quarter")
    }
  )

  val oracles: Map[String, String] = Map(
    "event_dedup_window" ->
      s"""WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
         |replayed AS (
         |  SELECT event_id, ts_us FROM ev
         |  UNION ALL
         |  SELECT event_id, ts_us + 3600000000 FROM ev WHERE event_id % $ReplayEvery = 4
         |)
         |SELECT event_id, CAST(count(*) AS BIGINT) AS n_copies,
         |  CAST(min(ts_us) AS BIGINT) AS kept_ts_us,
         |  count(*) > 1 AS was_replayed
         |FROM replayed GROUP BY event_id ORDER BY event_id""".stripMargin,

    "collector_skew_profile" -> Synth.withCte(
      s"""SELECT platform_code, CAST(length(bin(skew_ms)) - 1 AS BIGINT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(*) * 1000 // (sum(count(*)) OVER (PARTITION BY platform_code))
         |    AS BIGINT) AS share_milli
         |FROM (
         |  SELECT platform_code, (sent_us - created_us) // 1000 AS skew_ms FROM raw
         |) t WHERE skew_ms > 0
         |GROUP BY platform_code, bucket
         |ORDER BY platform_code, bucket""".stripMargin),

    "l_diversity" ->
      s"""SELECT event_type,
         |  CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         |  CAST((epoch_us(ts) // 21600000000) % 4 AS BIGINT) AS day_quarter,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS l_users,
         |  count(*) >= ${Queries29.AnonK} AS is_anon,
         |  count(DISTINCT user_id) >= $LDiv AS is_diverse
         |FROM events
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  )
}
