package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.nearestRank

/** Round-8 continuation #4 — identity, attribution, and corpus-export
  * operators:
  *
  *  - `user_stitching`: cross-device identity stitching (the downstream
  *    modeling step every snowplow deployment runs — reference events carry
  *    `domain_userid` / `network_userid` precisely so warehouses can do
  *    this): observed (user, device) co-occurrence edges → connected
  *    components → one canonical id per identity cluster. Multi-hop by
  *    construction (user A and C share no device but both share with B).
  *  - `rfm_segments`: recency / frequency / monetary quintile scoring over
  *    purchasers — the classic CRM segmentation; ntile's SQL-standard
  *    remainder rule keeps both engines exact.
  *  - `late_arrival_stats`: collector-vs-device clock-skew distribution per
  *    platform (p50 / p95 / max, exact rank-arithmetic percentiles) — the
  *    audit that motivates the reference's derived_tstamp algebra.
  *  - `attribution_multitouch`: linear and U-shaped (40/20/40) credit split
  *    across each conversion's touch window, exact integer milli credit.
  *  - `bpe_pair_counts`: the first BPE merge iteration — corpus-wide
  *    adjacent-token-pair frequencies, top 50. What a tokenizer trainer
  *    computes each round; counts are one map-side-combined shuffle.
  *  - `shard_export`: token-budgeted output sharding via the SCALABLE
  *    global cumulative sum: per-source window cumsum (parallel) + a tiny
  *    broadcast prefix-offset table over source totals — never a
  *    single-task global window, while the ORACLE is exactly that naive
  *    global window.
  */
object Queries32 extends QuerySet {
  private val DayUs = 86400000000L

  /** Identity-graph node id offset for device nodes (user ids are tiny). */
  private val DevBase = 100000L

  /** Attribution lookback window: 7 days in epoch micros. */
  private val TouchWindowUs = 7L * 86400000000L

  /** shard_export token budget per output shard. */
  val ShardTokens = 2000L

  val defs: Map[String, Q] = Map(
    "user_stitching" -> { (sp, dir) =>
      // device id: each user's own device, plus (for 1-in-10 events) the
      // previous user's device unless on a 5-block boundary — so users
      // {5k..5k+4} form one identity chain stitched only transitively.
      val ev = graft.util.CacheScope.track(Tables.events(sp, dir)
        .select(col("user_id").as("u"),
          (lit(DevBase) + when(col("event_id") % 10 === 0 && col("user_id") % 5 =!= 0,
            col("user_id") - 1).otherwise(col("user_id"))).as("d"))
        .distinct())
      ev.count() // CC's symmetric union scans the distinct-edge set twice
      val edges = ev.select(col("u").as("src"), col("d").as("dst"))
      graft.operators.ConnectedComponents.run(edges)
        .filter(col("id") < DevBase) // report user nodes only
        .select(col("id").as("user_id"), col("comp").as("stitched_id"))
        .orderBy("user_id")
    },

    "rfm_segments" -> { (sp, dir) =>
      // Quintile scores over purchasers: recency (days since last purchase,
      // lower = better), frequency, monetary. ntile ties broken by user_id
      // so both engines pick identical buckets. The purchaser universe is
      // orders of magnitude smaller than the event stream (one row per
      // user), so the global ntile windows are cheap; at extreme user
      // counts the same scores come from broadcast quantile boundaries.
      val p = Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val maxDay = p.agg(max("day").as("max_day"))
      val rfm = p.groupBy("user_id")
        .agg(max("day").as("last_day"), count(lit(1)).as("freq"),
          sum("cents").as("mon_cents"))
        .crossJoin(broadcast(maxDay))
        .select(col("user_id"), (col("max_day") - col("last_day")).as("rec_days"),
          col("freq"), col("mon_cents"))
      rfm
        .withColumn("r_score", ntile(5).over(Window.orderBy(col("rec_days"), col("user_id"))))
        .withColumn("f_score", ntile(5).over(Window.orderBy(col("freq").desc, col("user_id"))))
        .withColumn("m_score", ntile(5).over(Window.orderBy(col("mon_cents").desc, col("user_id"))))
        .select(col("user_id"), col("rec_days"), col("freq"), col("mon_cents"),
          col("r_score").cast("bigint").as("r_score"),
          col("f_score").cast("bigint").as("f_score"),
          col("m_score").cast("bigint").as("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .cast("bigint").as("segment"))
        .orderBy("user_id")
    },

    "late_arrival_stats" -> { (sp, dir) =>
      // collector_us - created_us (Synth's deterministic device-clock skew,
      // incl. the 1-in-17 five-second backwards jump) in ms, per platform:
      // exact discontinuous percentiles by rank arithmetic (the
      // percentiles_exact idiom — neither engine's quantile builtin is
      // portable). One shuffle on platform_code; window + agg share it.
      val raw = Synth.withRaw(Tables.events(sp, dir))
        .select(col("platform_code"), col("event_id"),
          expr("(collector_us - created_us) div 1000").as("delay_ms"))
      val w = Window.partitionBy("platform_code").orderBy(col("delay_ms"), col("event_id"))
      val ranked = raw
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("platform_code")))
      ranked.groupBy("platform_code")
        .agg(max("n").as("n"), nearestRank(50, col("delay_ms")).as("p50_ms"),
          nearestRank(95, col("delay_ms")).as("p95_ms"),
          max("delay_ms").as("max_ms"),
          sum(when(col("delay_ms") < 0, 1L).otherwise(0L)).as("n_negative"))
        .orderBy("platform_code")
    },

    "attribution_multitouch" -> { (sp, dir) =>
      // Every click in the 7 days before a purchase shares its credit:
      // linear = 1000 div n to each touch; U-shaped = 400 first / 400 last
      // / 200 div (n-2) to each middle (1000 and 500/500 for n=1, n=2).
      // The join is user-keyed (bounded per-user fan-out), windows run per
      // conversion — nothing global.
      val ev = Tables.events(sp, dir)
      val touches = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("touch_us"), col("event_id").as("touch_id"),
          (get_json_object(col("props"), "$.k").cast("bigint") % 10).as("campaign"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("conv_id"), col("user_id"), col("ts_us").as("conv_us"))
      val joined = conv.join(touches, Seq("user_id"))
        .filter(col("touch_us") <= col("conv_us") &&
          col("conv_us") - col("touch_us") <= TouchWindowUs)
      val wAsc = Window.partitionBy("conv_id").orderBy(col("touch_us"), col("touch_id"))
      val credited = joined
        .withColumn("rk", row_number().over(wAsc))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
        .withColumn("linear_milli", expr("1000 div n"))
        .withColumn("ushape_milli",
          when(col("n") === 1, 1000L)
            .when(col("n") === 2, 500L)
            .when(col("rk") === 1 || col("rk") === col("n"), 400L)
            .otherwise(expr("200 div (n - 2)")))
      credited.groupBy("campaign")
        .agg(countDistinct(col("conv_id")).as("n_conv"),
          count(lit(1)).as("n_touches"),
          sum("linear_milli").as("linear_milli"),
          sum("ushape_milli").as("ushape_milli"))
        .orderBy("campaign")
    },

    "bpe_pair_counts" -> { (sp, dir) =>
      // Adjacent-pair frequencies over normalized whitespace tokens — the
      // count a BPE trainer's merge step maximizes. The pair list is built
      // in-row (transform over an index sequence, no join, nothing wider
      // than the token array), then ONE map-side-combined count shuffle.
      val toks = Tables.documents(sp, dir)
        .select(TextF.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
      toks
        .select(explode(expr("transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(50)
    },

    "shard_export" -> { (sp, dir) =>
      // Token-budgeted shard assignment in (source, doc_id) order. The
      // 100 TB shape: the per-source cumsum window runs in parallel across
      // sources, and the only global ordering is over the per-source totals
      // (one tiny row per source, broadcast back) — the classic two-phase
      // prefix sum. A doc opens shard `start div budget`.
      val d = Tables.documents(sp, dir)
        .select(col("source"), col("doc_id"), TextF.tokenCount(col("text")).cast("bigint").as("tok"))
      val wSrc = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totals = d.groupBy("source").agg(sum("tok").as("tot"))
      val offs = totals
        .withColumn("off", coalesce(sum("tot").over(
          Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("source"), col("off"))
      d.withColumn("cum_src", sum("tok").over(wSrc))
        .join(broadcast(offs), Seq("source"))
        .withColumn("shard_id", expr(s"(off + cum_src - tok) div $ShardTokens"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("shard_id")
    }
  )

  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "user_stitching" ->
      s"""WITH RECURSIVE ed AS (
         |  SELECT DISTINCT user_id AS u,
         |    $DevBase + CASE WHEN event_id % 10 = 0 AND user_id % 5 <> 0
         |                    THEN user_id - 1 ELSE user_id END AS d
         |  FROM events
         |),
         |edges AS (SELECT u AS s, d AS t FROM ed UNION SELECT d, u FROM ed),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.t = reach.id
         |)
         |SELECT id AS user_id, min(r) AS stitched_id
         |FROM reach WHERE id < $DevBase
         |GROUP BY id ORDER BY user_id""".stripMargin,

    "rfm_segments" ->
      s"""WITH p AS (
         |  SELECT user_id, epoch_us(ts) // $DayUs AS day,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'
         |),
         |rfm AS (
         |  SELECT user_id,
         |    (SELECT max(day) FROM p) - max(day) AS rec_days,
         |    CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(cents) AS BIGINT) AS mon_cents
         |  FROM p GROUP BY user_id
         |),
         |s AS (
         |  SELECT user_id, rec_days, freq, mon_cents,
         |    CAST(ntile(5) OVER (ORDER BY rec_days, user_id) AS BIGINT) AS r_score,
         |    CAST(ntile(5) OVER (ORDER BY freq DESC, user_id) AS BIGINT) AS f_score,
         |    CAST(ntile(5) OVER (ORDER BY mon_cents DESC, user_id) AS BIGINT) AS m_score
         |  FROM rfm
         |)
         |SELECT user_id, rec_days, freq, mon_cents, r_score, f_score, m_score,
         |  r_score * 100 + f_score * 10 + m_score AS segment
         |FROM s ORDER BY user_id""".stripMargin,

    "late_arrival_stats" -> Synth.withCte(
      """, ranked AS (
        |  SELECT platform_code, (collector_us - created_us) // 1000 AS delay_ms,
        |    row_number() OVER (PARTITION BY platform_code
        |      ORDER BY (collector_us - created_us) // 1000, event_id) AS rk,
        |    count(*) OVER (PARTITION BY platform_code) AS n
        |  FROM raw
        |)
        |SELECT platform_code,
        |  CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN delay_ms END) AS p50_ms,
        |  max(CASE WHEN rk = 1 + (95 * (n - 1)) // 100 THEN delay_ms END) AS p95_ms,
        |  max(delay_ms) AS max_ms,
        |  CAST(sum(CASE WHEN delay_ms < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
        |FROM ranked GROUP BY platform_code ORDER BY platform_code""".stripMargin),

    "attribution_multitouch" ->
      s"""WITH touches AS (
         |  SELECT user_id, epoch_us(ts) AS touch_us, event_id AS touch_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS campaign
         |  FROM events WHERE event_type = 'click'
         |),
         |conv AS (
         |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_us
         |  FROM events WHERE event_type = 'purchase'
         |),
         |j AS (
         |  SELECT conv_id, campaign, touch_us, touch_id
         |  FROM conv JOIN touches USING (user_id)
         |  WHERE touch_us <= conv_us AND conv_us - touch_us <= $TouchWindowUs
         |),
         |credited AS (
         |  SELECT conv_id, campaign,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY touch_us, touch_id) AS rk,
         |    count(*) OVER (PARTITION BY conv_id) AS n
         |  FROM j
         |)
         |SELECT campaign,
         |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conv,
         |  CAST(count(*) AS BIGINT) AS n_touches,
         |  CAST(sum(1000 // n) AS BIGINT) AS linear_milli,
         |  CAST(sum(CASE WHEN n = 1 THEN 1000 WHEN n = 2 THEN 500
         |                WHEN rk = 1 OR rk = n THEN 400
         |                ELSE 200 // (n - 2) END) AS BIGINT) AS ushape_milli
         |FROM credited GROUP BY campaign ORDER BY campaign""".stripMargin,

    "bpe_pair_counts" ->
      s"""WITH t AS (
         |  SELECT $toksSql AS w FROM documents
         |),
         |p AS (
         |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pair
         |  FROM t WHERE len(w) >= 2
         |)
         |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
         |FROM p GROUP BY pair
         |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,

    "shard_export" ->
      s"""WITH d AS (
         |  SELECT source, doc_id,
         |    CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |         ELSE len($toksSql) END AS tok
         |  FROM documents
         |),
         |c AS (
         |  SELECT source, doc_id, tok,
         |    sum(tok) OVER (ORDER BY source, doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d
         |)
         |SELECT CAST((cum - tok) // $ShardTokens AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin
  )
}
