package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #65 — coalition-game attribution:
  *
  *  - `shapley_attribution`: data-driven (Shapley-value) marketing
  *    attribution — the model `attribution_model_compare`'s five
  *    heuristics approximate. Channels are the five synthetic
  *    querystring classes (cpc/email/search/social/direct, a pure
  *    event-id map shared with Synth's pageQs branches); each user's
  *    CLICK events form its touched-channel SET, the coalition
  *    value v(S) = converters reachable with channels ⊆ S, and
  *    φ_c = Σ_S |S|!(n−1−|S|)!·(v(S∪c)−v(S)) stays an exact INTEGER
  *    numerator (÷5! = 120 only at the milli readout). The 32-row
  *    coalition table is a bounded collect (the bpe-merge contract);
  *    the distributed work is ONE user-keyed bitmask aggregation.
  *    Efficiency axiom Σφ = v(full) − v(∅) spec'd exactly.
  *  - `channel_set_conversion`: the v(S) table itself — per touched
  *    channel set: users, converters, conversion rate milli. The
  *    readable companion (which channel COMBINATIONS convert) and the
  *    spec's cross-check for the Shapley coalition values. */
object Queries145 extends QuerySet {
  private[graft] val Channels = Seq("cpc", "email", "search", "social", "direct")
  private val N = Channels.length // 5 → 32 coalitions, 5! = 120

  /** channel index of an event — mirrors Synth.pageQs' e % 5 classes. */
  private def chanIdx: Column = expr("event_id % 5")
  private val chanIdxSql = "event_id % 5"

  /** (mask, n_users, n_converters) per touched-channel set. */
  private def maskCounts(sp: SparkSession, dir: String): DataFrame =
    Tables.events(sp, dir)
      .groupBy("user_id")
      .agg(
        // bit_or over CLICK touches (the ad-interaction events); purchases convert
        expr(s"bit_or(CASE WHEN event_type = 'click' THEN CAST(1 AS BIGINT) << CAST($chanIdxSql AS INT) ELSE 0 END)").as("mask"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .groupBy("mask")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_converters"))

  val defs: Map[String, Q] = Map(
    "shapley_attribution" -> { (sp, dir) =>
      val counts = maskCounts(sp, dir)
        .collect().map(r => r.getLong(0).toInt -> r.getLong(2)).toMap
      // v(S) = converters whose mask ⊆ S (zeta transform over 32 cells)
      val v = Array.tabulate(1 << N)(s =>
        counts.collect { case (m, c) if (m & ~s) == 0 => c }.sum)
      def fact(k: Int): Long = (1 to k).product.toLong
      val rows = (0 until N).map { c =>
        val numer = (0 until (1 << N)).collect {
          case s if (s & (1 << c)) == 0 =>
            val w = fact(java.lang.Integer.bitCount(s)) * fact(N - 1 - java.lang.Integer.bitCount(s))
            w * (v(s | (1 << c)) - v(s))
        }.sum
        (Channels(c), numer,
          numer * 1000 / fact(N))
      }
      import sp.implicits._
      rows.toDF("channel", "phi_numer", "phi_milli").orderBy("channel")
    },

    "channel_set_conversion" -> { (sp, dir) =>
      val labels = (0 until N).map(c =>
        when(expr(s"(mask >> $c) & 1") === 1L, Channels(c)))
      maskCounts(sp, dir)
        .withColumn("channels", concat_ws("+", labels: _*))
        .select(col("mask"), col("channels"), col("n_users"), col("n_converters"),
          expr("n_converters * 1000 div n_users").as("cvr_milli"))
        .orderBy("mask")
    }
  )

  val oracles: Map[String, String] = {
    val maskCte =
      s"""masks AS (
         |  SELECT mask, CAST(count(*) AS BIGINT) AS n_users,
         |    CAST(sum(converted) AS BIGINT) AS n_converters
         |  FROM (
         |    SELECT user_id,
         |      coalesce(bit_or(CASE WHEN event_type = 'click'
         |        THEN CAST(1 AS BIGINT) << CAST($chanIdxSql AS INT) ELSE 0 END), 0) AS mask,
         |      max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
         |    FROM events GROUP BY user_id) u
         |  GROUP BY mask
         |)""".stripMargin
    val wCase = "CASE bc WHEN 0 THEN 24 WHEN 1 THEN 6 WHEN 2 THEN 4 WHEN 3 THEN 6 ELSE 24 END"
    Map(
      "shapley_attribution" ->
        s"""WITH $maskCte,
           |coal AS (SELECT unnest(range(0, ${1 << N})) AS s),
           |v AS (
           |  SELECT c.s, CAST(coalesce(sum(m.n_converters), 0) AS BIGINT) AS v
           |  FROM coal c LEFT JOIN masks m ON (m.mask & ~(c.s)) = 0
           |  GROUP BY c.s
           |),
           |chan AS (SELECT unnest(range(0, $N)) AS c),
           |contrib AS (
           |  SELECT chan.c,
           |    CAST(bit_count(CAST(v0.s AS BIGINT)) AS INT) AS bc,
           |    v1.v - v0.v AS delta
           |  FROM chan
           |  JOIN v v0 ON (v0.s & (1 << chan.c)) = 0
           |  JOIN v v1 ON v1.s = (v0.s | (1 << chan.c))
           |),
           |phi AS (
           |  SELECT c, CAST(sum(($wCase) * delta) AS BIGINT) AS phi_numer
           |  FROM contrib GROUP BY c
           |)
           |SELECT list_extract([${Channels.map(c => s"'$c'").mkString(", ")}], CAST(c AS INT) + 1)
           |    AS channel,
           |  phi_numer,
           |  CAST(phi_numer * 1000 // 120 AS BIGINT) AS phi_milli
           |FROM phi ORDER BY channel""".stripMargin,

      "channel_set_conversion" -> {
        val labels = (0 until N).map(c =>
          s"CASE WHEN (mask >> $c) & 1 = 1 THEN '${Channels(c)}' END")
        s"""WITH $maskCte
           |SELECT mask, concat_ws('+', ${labels.mkString(", ")}) AS channels,
           |  n_users, n_converters,
           |  CAST(n_converters * 1000 // n_users AS BIGINT) AS cvr_milli
           |FROM masks ORDER BY mask""".stripMargin
      }
    )
  }
}
