package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #17 — the attribution family's capstone and the pathing
  * overlay:
  *
  *  - `attribution_markov`: removal-effect Markov attribution (Anderl et
  *    al. 2016's data-driven model) — the model last-touch / linear /
  *    U-shaped / time-decay are the heuristics FOR. Per-user ordered
  *    click journeys (campaign = props.k mod 10, the family's shared
  *    spelling) become a first-order chain over {START, c0..c9, CONV,
  *    DROP}: START→first touch, touch→touch, last touch→CONV iff the
  *    user ever purchases. Transition probabilities are exact milli
  *    (cnt·1000 div row mass). Absorption is a FIXED 16-step power walk
  *    in ppm — each step `p'(s') = (Σ_s p(s)·T_milli(s,s')) div 1000`,
  *    one integer division AFTER the order-independent product sum, so
  *    both engines land bit-identically (the DuckDB twin unrolls the 16
  *    steps as CTEs; recursive-CTE aggregation is non-portable). Removal
  *    effect per channel = base CONV mass minus CONV mass with that
  *    channel's inbound edges redirected to DROP; credit normalizes the
  *    clamped effects to milli. DISTRIBUTED part = building the chain
  *    (one user-window scan + a user-key join for the buyer flag, then a
  *    14-state matrix); the collected matrix is fixed-size BY DEFINITION
  *    (channel vocabulary), the walk is driver arithmetic — the
  *    centroid-literal pattern.
  *  - `path_conversion_rate`: session_paths' top-20 3-gram table upgraded
  *    with an outcome column — for every in-session 3-gram occurrence,
  *    does a purchase still happen LATER in the same session (strictly
  *    after the gram, ROWS 3 FOLLOWING)? The same two windows
  *    session_paths already pays for, plus one reverse-cumulative count;
  *    rate in exact milli. The table a growth team reads next to the raw
  *    path counts.
  */
object Queries97 extends QuerySet {
  private val GapUs = 30L * 60 * 1000 * 1000
  private val Steps = 16
  private val Start = -2L
  private val Conv = -3L
  private val Drop = -4L

  /** One absorption walk: ppm mass at CONV after [[Steps]] iterations of
    * the exact-integer power step over `t: (prev, next) → milli`. */
  private def convMassPpm(t: Map[(Long, Long), Long]): Long = {
    val byPrev = t.toSeq.groupBy(_._1._1)
    var p = Map(Start -> 1000000L)
    for (_ <- 1 to Steps) {
      val np = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((s, ps) <- p; ((_, s2), tm) <- byPrev.getOrElse(s, Nil))
        np(s2) += ps * tm
      p = np.map { case (s, acc) => s -> acc / 1000L }.toMap
    }
    p.getOrElse(Conv, 0L)
  }

  /** Redirect every edge into `r` onto DROP and re-aggregate. */
  private def removeChannel(t: Map[(Long, Long), Long], r: Long): Map[(Long, Long), Long] =
    t.toSeq.map { case ((a, b), m) => ((a, if (b == r) Drop else b), m) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }

  val defs: Map[String, Q] = Map(
    "attribution_markov" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          (get_json_object(col("props"), "$.k").cast("bigint") % 10).as("campaign"))
        .withColumn("prev", lag("campaign", 1).over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      val buyers = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct().withColumn("bought", lit(1L))
      val tagged = clicks.join(buyers, Seq("user_id"), "left")
      val trans = tagged.filter(col("prev").isNotNull)
          .select(col("prev").as("a"), col("campaign").as("b"))
        .unionAll(tagged.filter(col("rn") === 1)
          .select(lit(Start).as("a"), col("campaign").as("b")))
        .unionAll(tagged.filter(col("rn") === col("n"))
          .select(col("campaign").as("a"),
            when(col("bought").isNotNull, lit(Conv)).otherwise(lit(Drop)).as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .withColumn("tot", sum("cnt").over(Window.partitionBy("a")))
        .select(col("a"), col("b"), expr("cnt * 1000 div tot").as("t_milli"))
      // the chain is ≤ 14×14 BY DEFINITION (campaign vocabulary + 3
      // sentinels) — the bounded centroid-literal collect
      val tBase = trans.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ++
        Map((Conv, Conv) -> 1000L, (Drop, Drop) -> 1000L)
      val channels = tBase.keys.flatMap { case (a, b) => Seq(a, b) }
        .filter(_ >= 0).toSeq.distinct.sorted
      val base = convMassPpm(tBase)
      val rows = channels.map { c =>
        val removed = convMassPpm(removeChannel(tBase, c))
        (c, base, removed, base - removed)
      }
      val totalEffect = rows.map(r => math.max(r._4, 0L)).sum
      import sp.implicits._
      rows.map { case (c, b, rm, eff) =>
        val credit = if (totalEffect > 0) math.max(eff, 0L) * 1000L / totalEffect else 0L
        (c, b, rm, eff, credit)
      }.toDF("channel", "p_base_ppm", "p_removed_ppm", "effect_ppm", "credit_milli")
        .orderBy("channel")
    },

    "path_conversion_rate" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = Tables.events(sp, dir)
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1).otherwise(0))
        .withColumn("session_idx",
          sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val w2 = Window.partitionBy("user_id", "session_idx").orderBy("ts_us", "event_id")
      sess
        .withColumn("e1", lead("event_type", 1).over(w2))
        .withColumn("e2", lead("event_type", 2).over(w2))
        .withColumn("purch_after",
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(w2.rowsBetween(3, Window.unboundedFollowing)))
        .filter(col("e1").isNotNull && col("e2").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e1"), col("e2")).as("path"),
          when(coalesce(col("purch_after"), lit(0L)) > 0, 1L).otherwise(0L).as("conv"))
        .groupBy("path")
        .agg(count(lit(1)).as("cnt"), sum("conv").as("n_conv"))
        .select(col("path"), col("cnt"), col("n_conv"),
          expr("n_conv * 1000 div cnt").as("conv_milli"))
        .orderBy(col("cnt").desc, col("path"))
        .limit(20)
    }
  )

  /** The whole Markov machinery as a CTE chain ending at `eff` (per-channel
    * removal effects) and `mk` (normalized credits) — `attribution_markov`
    * and the model-comparison scoreboard both read it. */
  private[queries] lazy val MarkovCtesSql: String = {
      val walkCtes = (1 to Steps).map { i =>
        s"""w$i AS (
           |  SELECT w.r, t.next AS state, CAST(sum(w.p * t.t_milli) // 1000 AS BIGINT) AS p
           |  FROM w${i - 1} w JOIN transr t ON t.r = w.r AND t.prev = w.state
           |  GROUP BY 1, 2
           |)""".stripMargin
      }.mkString(",\n")
      s"""clicks AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS campaign
         |  FROM events WHERE event_type = 'click'
         |), seq AS (
         |  SELECT user_id, campaign,
         |    lag(campaign) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n
         |  FROM clicks
         |), buyers AS (
         |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         |), raw AS (
         |  SELECT prev AS a, campaign AS b FROM seq WHERE prev IS NOT NULL
         |  UNION ALL
         |  SELECT CAST($Start AS BIGINT), campaign FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT campaign,
         |    CASE WHEN user_id IN (SELECT user_id FROM buyers)
         |         THEN CAST($Conv AS BIGINT) ELSE CAST($Drop AS BIGINT) END
         |  FROM seq WHERE rn = n
         |), counted AS (
         |  SELECT a, b, count(*) AS cnt FROM raw GROUP BY 1, 2
         |), trans AS (
         |  SELECT a, b, CAST(cnt * 1000 // sum(cnt) OVER (PARTITION BY a) AS BIGINT)
         |    AS t_milli
         |  FROM counted
         |  UNION ALL SELECT $Conv, $Conv, 1000
         |  UNION ALL SELECT $Drop, $Drop, 1000
         |), chans AS (SELECT DISTINCT campaign AS c FROM clicks),
         |rems AS (SELECT CAST(-1 AS BIGINT) AS r UNION ALL SELECT c FROM chans),
         |transr AS (
         |  SELECT rems.r, t.a AS prev,
         |    CASE WHEN t.b = rems.r THEN CAST($Drop AS BIGINT) ELSE t.b END AS next,
         |    CAST(sum(t.t_milli) AS BIGINT) AS t_milli
         |  FROM rems, trans t GROUP BY 1, 2, 3
         |), w0 AS (
         |  SELECT r, CAST($Start AS BIGINT) AS state, CAST(1000000 AS BIGINT) AS p
         |  FROM rems
         |),
         |$walkCtes,
         |pc AS (
         |  SELECT r, coalesce(max(CASE WHEN state = $Conv THEN p END), 0) AS mass
         |  FROM w$Steps GROUP BY 1
         |), base AS (SELECT mass AS b FROM pc WHERE r = -1),
         |eff AS (
         |  SELECT pc.r AS channel, base.b AS p_base_ppm, pc.mass AS p_removed_ppm,
         |    base.b - pc.mass AS effect_ppm
         |  FROM pc, base WHERE pc.r >= 0
         |), mtot AS (SELECT sum(greatest(effect_ppm, 0)) AS te FROM eff),
         |mk AS (
         |  SELECT channel,
         |    CAST(CASE WHEN t.te > 0 THEN greatest(effect_ppm, 0) * 1000 // t.te
         |         ELSE 0 END AS BIGINT) AS credit_milli
         |  FROM eff, mtot t
         |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "attribution_markov" ->
      s"""WITH $MarkovCtesSql
         |SELECT CAST(e.channel AS BIGINT) AS channel,
         |  CAST(e.p_base_ppm AS BIGINT) AS p_base_ppm,
         |  CAST(e.p_removed_ppm AS BIGINT) AS p_removed_ppm,
         |  CAST(e.effect_ppm AS BIGINT) AS effect_ppm,
         |  m.credit_milli
         |FROM eff e JOIN mk m ON m.channel = e.channel ORDER BY channel""".stripMargin,

    "path_conversion_rate" ->
      s"""WITH ${Queries36.sessCteSql},
         |grams AS (
         |  SELECT event_type,
         |    lead(event_type, 1) OVER (PARTITION BY user_id, session_idx
         |      ORDER BY ts_us, event_id) AS e1,
         |    lead(event_type, 2) OVER (PARTITION BY user_id, session_idx
         |      ORDER BY ts_us, event_id) AS e2,
         |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id, session_idx ORDER BY ts_us, event_id
         |            ROWS BETWEEN 3 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
         |      AS purch_after
         |  FROM sess
         |)
         |SELECT concat_ws('>', event_type, e1, e2) AS path,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  CAST(sum(CASE WHEN purch_after > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
         |  CAST(sum(CASE WHEN purch_after > 0 THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS conv_milli
         |FROM grams WHERE e1 IS NOT NULL AND e2 IS NOT NULL
         |GROUP BY 1 ORDER BY cnt DESC, path LIMIT 20""".stripMargin
  )
}
