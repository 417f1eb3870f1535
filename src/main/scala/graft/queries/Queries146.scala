package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #66 — experimentation depth:
  *
  *  - `uplift_deciles`: the uplift-evaluation table (the Qini curve's
  *    raw rows) for the md5 A/B experiment — users ranked into deciles
  *    by PRE-period spend (the CUPED covariate), each decile reporting
  *    treatment/control post-period conversion and the uplift in exact
  *    milli. Heterogeneous treatment effect by prior behavior — what
  *    `ab_lift`'s single number averages away.
  *  - `logrank_test`: the log-rank (Mantel–Cox) test between the two
  *    arms' click→purchase survival curves — `km_survival`'s two-sample
  *    inference step. At each conversion time: O−E from exact at-risk
  *    suffix sums over the bounded duration table; E and the
  *    hypergeometric variance quantized by a fixed chain of truncating
  *    divisions spelled identically on both engines; χ² in milli. The
  *    at-risk window runs over ~hundreds of distinct durations, never
  *    the user table. */
object Queries146 extends QuerySet {
  private val DayUs = 86400000000L

  private def armA = substring(md5(concat(lit("ab"), col("user_id")).cast("binary")), 1, 1) <= "7"
  private val armASql = "substr(md5(concat('ab', user_id)), 1, 1) <= '7'"

  val defs: Map[String, Q] = Map(
    "uplift_deciles" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
      val per = ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "purchase" && col("ts_us") < col("mid"),
            round(col("value") * 100).cast("bigint")).otherwise(0L)).as("pre_cents"),
          max(when(col("event_type") === "purchase" && col("ts_us") >= col("mid"), 1L)
            .otherwise(0L)).as("converted"))
        .withColumn("treat", armA)
      val w = Window.orderBy(col("pre_cents"), col("user_id"))
      per
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over())
        .withColumn("decile", expr("(rk - 1) * 10 div n"))
        .groupBy("decile")
        .agg(
          sum(when(col("treat"), 1L).otherwise(0L)).as("n_t"),
          sum(when(!col("treat"), 1L).otherwise(0L)).as("n_c"),
          sum(when(col("treat"), col("converted")).otherwise(0L)).as("conv_t"),
          sum(when(!col("treat"), col("converted")).otherwise(0L)).as("conv_c"))
        .select(col("decile"), col("n_t"), col("n_c"), col("conv_t"), col("conv_c"),
          expr("CASE WHEN n_t = 0 OR n_c = 0 THEN 0 ELSE conv_t * 1000 div n_t - conv_c * 1000 div n_c END").as("uplift_milli"))
        .orderBy("decile")
    },

    "logrank_test" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val fc = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(expr(s"ts_us div $DayUs")).as("cday"))
      val fp = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("pd"))
        .join(fc, Seq("user_id"))
        .filter(col("pd") >= col("cday"))
        .groupBy("user_id").agg(min("pd").as("pday"))
      val mx = ev.agg(max(expr(s"ts_us div $DayUs")).as("cens"))
      val durations = fc.join(fp, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(col("user_id"),
          when(col("pday").isNotNull, col("pday") - col("cday"))
            .otherwise(col("cens") - col("cday")).as("d"),
          col("pday").isNotNull.as("ev"), armA.as("treat"))
      val byD = durations.groupBy("d").agg(
        sum(when(col("treat") && col("ev"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("treat") && col("ev"), 1L).otherwise(0L)).as("c2"),
        sum(when(col("treat"), 1L).otherwise(0L)).as("a1"),
        sum(when(!col("treat"), 1L).otherwise(0L)).as("a2"))
      val wSfx = Window.orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val terms = byD
        .withColumn("n1", sum("a1").over(wSfx))
        .withColumn("n2", sum("a2").over(wSfx))
        .withColumn("cc", col("c1") + col("c2"))
        .filter(col("cc") > 0 && col("n1") + col("n2") > 1)
        .withColumn("nn", col("n1") + col("n2"))
        .withColumn("e1_term", expr("(cc * n1 * 1000) div nn"))
        .withColumn("v_term", expr(
          "(((cc * n1 * 1000) div nn * n2) div nn * (nn - cc)) div greatest(nn - 1, 1)"))
      val oTot = byD.agg(sum("c1").as("o1"), sum("c2").as("o2"))
      terms.agg(
          sum("e1_term").as("e1_milli"), sum("v_term").as("v_milli"))
        .crossJoin(broadcast(oTot))
        .crossJoin(broadcast(durations.agg(
          sum(when(col("treat"), 1L).otherwise(0L)).as("n1_users"),
          sum(when(!col("treat"), 1L).otherwise(0L)).as("n2_users"))))
        .select(col("n1_users"), col("n2_users"), col("o1"), col("o2"),
          col("e1_milli"), col("v_milli"),
          expr("((o1 * 1000 - e1_milli) * (o1 * 1000 - e1_milli)) div (v_milli * 1000)")
            .as("chi2_milli"))
    }
  )

  val oracles: Map[String, String] = Map(
    "uplift_deciles" ->
      s"""WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events),
         |per AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'purchase' AND epoch_us(ts) < mid.mid
         |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS pre_cents,
         |    max(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= mid.mid
         |      THEN 1 ELSE 0 END) AS converted
         |  FROM events, mid GROUP BY user_id
         |),
         |ranked AS (
         |  SELECT *, $armASql AS treat,
         |    row_number() OVER (ORDER BY pre_cents, user_id) AS rk,
         |    count(*) OVER () AS n
         |  FROM per
         |)
         |SELECT (rk - 1) * 10 // n AS decile,
         |  CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         |  CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         |  CAST(sum(CASE WHEN treat THEN converted ELSE 0 END) AS BIGINT) AS conv_t,
         |  CAST(sum(CASE WHEN NOT treat THEN converted ELSE 0 END) AS BIGINT) AS conv_c,
         |  CAST(CASE WHEN sum(CASE WHEN treat THEN 1 ELSE 0 END) = 0
         |         OR sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) = 0 THEN 0
         |    ELSE sum(CASE WHEN treat THEN converted ELSE 0 END) * 1000
         |      // sum(CASE WHEN treat THEN 1 ELSE 0 END)
         |    - sum(CASE WHEN NOT treat THEN converted ELSE 0 END) * 1000
         |      // sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) END AS BIGINT) AS uplift_milli
         |FROM ranked GROUP BY 1 ORDER BY decile""".stripMargin,

    "logrank_test" -> {
      val e1 = tdivSql("(cc * n1 * 1000)", "nn")
      val v = tdivSql(s"((${tdivSql(s"(($e1) * n2)", "nn")}) * (nn - cc))", "greatest(nn - 1, 1)")
      s"""WITH fc AS (
         |  SELECT user_id, min(epoch_us(ts) // $DayUs) AS cday
         |  FROM events WHERE event_type = 'click' GROUP BY user_id
         |),
         |fp AS (
         |  SELECT e.user_id, min(epoch_us(e.ts) // $DayUs) AS pday
         |  FROM events e JOIN fc ON fc.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) // $DayUs >= fc.cday
         |  GROUP BY e.user_id
         |),
         |mx AS (SELECT max(epoch_us(ts) // $DayUs) AS cens FROM events),
         |durations AS (
         |  SELECT fc.user_id,
         |    CASE WHEN fp.pday IS NOT NULL THEN fp.pday - fc.cday
         |         ELSE mx.cens - fc.cday END AS d,
         |    fp.pday IS NOT NULL AS ev,
         |    ${armASql.replace("user_id", "fc.user_id")} AS treat
         |  FROM fc LEFT JOIN fp ON fp.user_id = fc.user_id, mx
         |),
         |by_d AS (
         |  SELECT d,
         |    CAST(sum(CASE WHEN treat AND ev THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |    CAST(sum(CASE WHEN NOT treat AND ev THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |    CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS a2
         |  FROM durations GROUP BY d
         |),
         |atrisk AS (
         |  SELECT *,
         |    CAST(sum(a1) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1,
         |    CAST(sum(a2) OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n2
         |  FROM by_d
         |),
         |terms AS (
         |  SELECT c1, c2, n1, n2, c1 + c2 AS cc, n1 + n2 AS nn
         |  FROM atrisk WHERE c1 + c2 > 0 AND n1 + n2 > 1
         |),
         |agg AS (
         |  SELECT
         |    (SELECT CAST(sum(c1) AS BIGINT) FROM by_d) AS o1,
         |    (SELECT CAST(sum(c2) AS BIGINT) FROM by_d) AS o2,
         |    CAST(sum($e1) AS BIGINT) AS e1_milli,
         |    CAST(sum($v) AS BIGINT) AS v_milli
         |  FROM terms
         |),
         |nu AS (
         |  SELECT CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT) AS n1_users,
         |    CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT) AS n2_users
         |  FROM durations
         |)
         |SELECT nu.n1_users, nu.n2_users, agg.o1, agg.o2, agg.e1_milli, agg.v_milli,
         |  ${tdivSql("((agg.o1 * 1000 - agg.e1_milli) * (agg.o1 * 1000 - agg.e1_milli))",
           "(agg.v_milli * 1000)")} AS chi2_milli
         |FROM agg, nu""".stripMargin
    }
  )
}
