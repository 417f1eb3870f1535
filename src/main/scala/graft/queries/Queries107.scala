package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 batch #27 — `attribution_model_compare`: the attribution
  * scoreboard. Five shipped models — last-touch, linear, U-shaped,
  * time-decay, Markov removal-effect — reduced to one normalized
  * credit-share table per campaign (each column sums to ≤1000 milli over
  * the attributed campaigns; floors only undershoot). Every column is the
  * PRODUCTION query's own output renormalized (Spark composes the very
  * `defs`; the DuckDB twin reads each model's factored CTE chain or
  * inline spelling), so a disagreement in this table is a real modeling
  * disagreement, not a re-derivation artifact. This is the table that
  * ends the "which attribution model" meeting — the cardinality_scoreboard
  * of the marketing suite. Cost: the five models the suite already
  * prices, plus four broadcast totals and one 10-row join chain.
  */
object Queries107 extends QuerySet {
  private val TouchWindowUs = 7L * 86400000000L
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "attribution_model_compare" -> { (sp, dir) =>
      def share(df: DataFrame, in: String, out: String): DataFrame = {
        val tot = df.agg(sum(in).as("t"))
        df.crossJoin(broadcast(tot))
          .select(col("campaign"), expr(s"$in * 1000 div t").as(out))
      }
      val last = share(
        Queries20.defs("attribution_last_touch")(sp, dir)
          .filter(col("campaign") >= 0).select(col("campaign"), col("n_conv")),
        "n_conv", "last_milli")
      val mt0 = Queries32.defs("attribution_multitouch")(sp, dir)
        .select(col("campaign"), col("linear_milli").as("lin"), col("ushape_milli").as("ush"))
      val mtTot = mt0.agg(sum("lin").as("lt"), sum("ush").as("ut"))
      val mt = mt0.crossJoin(broadcast(mtTot))
        .select(col("campaign"), expr("lin * 1000 div lt").as("linear_milli"),
          expr("ush * 1000 div ut").as("ushape_milli"))
      val td = share(
        Queries75.defs("attribution_time_decay")(sp, dir)
          .select(col("campaign"), col("decay_milli").as("dec")),
        "dec", "decay_milli")
      val mk = Queries97.defs("attribution_markov")(sp, dir)
        .select(col("channel").as("campaign"), col("credit_milli").as("markov_milli"))
      mk.join(last, Seq("campaign"), "left")
        .join(mt, Seq("campaign"), "left")
        .join(td, Seq("campaign"), "left")
        .select(col("campaign"),
          coalesce(col("last_milli"), lit(0L)).as("last_milli"),
          coalesce(col("linear_milli"), lit(0L)).as("linear_milli"),
          coalesce(col("ushape_milli"), lit(0L)).as("ushape_milli"),
          coalesce(col("decay_milli"), lit(0L)).as("decay_milli"),
          col("markov_milli"))
        .orderBy("campaign")
    }
  )

  val oracles: Map[String, String] = Map(
    "attribution_model_compare" ->
      s"""WITH ${Queries97.MarkovCtesSql},
         |ltouches0 AS (
         |  SELECT user_id, epoch_us(ts) AS touch_us, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS campaign
         |  FROM events WHERE event_type = 'click'
         |), ltouches AS (
         |  SELECT user_id, touch_us, campaign FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id, touch_us
         |      ORDER BY event_id DESC) AS rk
         |    FROM ltouches0) t WHERE rk = 1
         |), lconv AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
         |  FROM events WHERE event_type = 'purchase'
         |), lastc AS (
         |  SELECT campaign, CAST(count(*) AS BIGINT) AS n_conv
         |  FROM lconv ASOF JOIN ltouches
         |    ON lconv.user_id = ltouches.user_id AND ltouches.touch_us <= lconv.ts_us
         |  GROUP BY 1
         |), lastn AS (
         |  SELECT campaign,
         |    CAST(n_conv * 1000 // (SELECT sum(n_conv) FROM lastc) AS BIGINT)
         |      AS last_milli
         |  FROM lastc
         |),
         |touches AS (
         |  SELECT user_id, epoch_us(ts) AS touch_us, event_id AS touch_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS campaign
         |  FROM events WHERE event_type = 'click'
         |), conv AS (
         |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_us
         |  FROM events WHERE event_type = 'purchase'
         |), mtj AS (
         |  SELECT conv_id, campaign, touch_us, touch_id
         |  FROM conv JOIN touches USING (user_id)
         |  WHERE touch_us <= conv_us AND conv_us - touch_us <= $TouchWindowUs
         |), mtc AS (
         |  SELECT conv_id, campaign,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY touch_us, touch_id) AS rk,
         |    count(*) OVER (PARTITION BY conv_id) AS n
         |  FROM mtj
         |), mta AS (
         |  SELECT campaign,
         |    CAST(sum(1000 // n) AS BIGINT) AS lin,
         |    CAST(sum(CASE WHEN n = 1 THEN 1000 WHEN n = 2 THEN 500
         |                  WHEN rk = 1 OR rk = n THEN 400
         |                  ELSE 200 // (n - 2) END) AS BIGINT) AS ush
         |  FROM mtc GROUP BY 1
         |), mtn AS (
         |  SELECT campaign,
         |    CAST(lin * 1000 // (SELECT sum(lin) FROM mta) AS BIGINT) AS linear_milli,
         |    CAST(ush * 1000 // (SELECT sum(ush) FROM mta) AS BIGINT) AS ushape_milli
         |  FROM mta
         |), tdj AS (
         |  SELECT c.conv_id, t.campaign,
         |    CAST(1024 AS BIGINT) // CAST(pow(2, (c.conv_us - t.touch_us) // $DayUs)
         |      AS BIGINT) AS w
         |  FROM conv c JOIN touches t ON t.user_id = c.user_id
         |  WHERE t.touch_us <= c.conv_us
         |    AND c.conv_us - t.touch_us <= $TouchWindowUs
         |), tdc AS (
         |  SELECT conv_id, campaign, w, sum(w) OVER (PARTITION BY conv_id) AS w_sum
         |  FROM tdj
         |), tda AS (
         |  SELECT campaign, CAST(sum(w * 1000 // w_sum) AS BIGINT) AS dec
         |  FROM tdc GROUP BY 1
         |), tdn AS (
         |  SELECT campaign,
         |    CAST(dec * 1000 // (SELECT sum(dec) FROM tda) AS BIGINT) AS decay_milli
         |  FROM tda
         |)
         |SELECT CAST(m.channel AS BIGINT) AS campaign,
         |  coalesce(l.last_milli, 0) AS last_milli,
         |  coalesce(n.linear_milli, 0) AS linear_milli,
         |  coalesce(n.ushape_milli, 0) AS ushape_milli,
         |  coalesce(d.decay_milli, 0) AS decay_milli,
         |  m.credit_milli AS markov_milli
         |FROM mk m
         |LEFT JOIN lastn l ON l.campaign = m.channel
         |LEFT JOIN mtn n ON n.campaign = m.channel
         |LEFT JOIN tdn d ON d.campaign = m.channel
         |ORDER BY campaign""".stripMargin
  )
}
