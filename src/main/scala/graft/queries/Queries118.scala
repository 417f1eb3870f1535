package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.KMeans

/** Round-9 batch #38 — clustering quality + survival analysis:
  *
  *  - `cluster_margin_audit`: how decisively each vector belongs to its
  *    trained IVF cell — the e6 cosine MARGIN between the best and
  *    second-best centroid, aggregated per cell (count, mean, min). A
  *    cell whose min margin is near zero sits on a Voronoi boundary and
  *    explains `ann_nprobe_curve`'s recall gap; the silhouette-style
  *    read of the `KMeans.fitMicro` model. Assignment is the usual
  *    narrow projection against centroid literals (top-2 via one
  *    array_sort of the 8-struct sims array); the DuckDB twin reads
  *    rk=1/rk=2 from the shared TrainedIvfCteSql cellrank.
  *  - `km_survival`: the Kaplan-Meier click→purchase conversion curve
  *    with right-censoring at the observation horizon — n_at_risk,
  *    conversions, censored, and the product-limit survival estimate
  *    (milli) per duration day. Durations are calendar-bounded, so the
  *    sequential product folds driver-side over the collected duration
  *    table (the holt_forecast pattern) while DuckDB replays it as a
  *    recursive CTE; the scale-bearing work is the two user-keyed
  *    first-event aggregations. `churn_hazard`'s per-interval rates
  *    integrate into exactly this curve.
  */
object Queries118 extends QuerySet {
  private val DayUs = 86400000000L
  private[queries] val MarginCells = 8

  val defs: Map[String, Q] = Map(
    "cluster_margin_audit" -> { (sp, dir) =>
      val embT = Tables.embeddings(sp, dir)
      val cents = KMeans.fitMicro(embT, "embedding", "vec_id", k = MarginCells, maxIter = 3)
      val sorted = array_sort(KMeans.cellSimsMicro(
        KMeans.quantizeMicro(col("embedding")), cents))
      embT.select(col("vec_id"),
          element_at(sorted, -1).as("best"), element_at(sorted, -2).as("second"))
        .select((col("best.negc") * -1L).as("cell"),
          (round(col("best.cos") * 1e6).cast("bigint")
            - round(col("second.cos") * 1e6).cast("bigint")).as("margin_e6"))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum("margin_e6").as("sum_margin"),
          min("margin_e6").as("min_margin_e6"))
        .select(col("cell"), col("n_vecs"),
          expr("sum_margin div n_vecs").as("mean_margin_e6"), col("min_margin_e6"))
        .orderBy("cell")
    },

    "km_survival" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val fc = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min(expr(s"ts_us div $DayUs")).as("cday"))
      val fp = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr(s"ts_us div $DayUs").as("pd"))
        .join(fc, Seq("user_id"))
        .filter(col("pd") >= col("cday"))
        .groupBy("user_id").agg(min("pd").as("pday"))
      val mx = ev.agg(max(expr(s"ts_us div $DayUs")).as("cens"))
      val agg = fc.join(fp, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(when(col("pday").isNotNull, col("pday") - col("cday"))
          .otherwise(col("cens") - col("cday")).as("d"),
          col("pday").isNotNull.as("ev"))
        .groupBy("d")
        .agg(sum(when(col("ev"), 1L).otherwise(0L)).as("n_conv"),
          sum(when(col("ev"), 0L).otherwise(1L)).as("n_cens"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      // calendar-bounded duration table: the exact product-limit fold
      val total = agg.map(r => r._2 + r._3).sum
      var atRisk = total
      var surv = 1000L
      val rows = agg.map { case (d, conv, cens) =>
        surv = surv * (atRisk - conv) / atRisk
        val row = (d, atRisk, conv, cens, surv)
        atRisk -= conv + cens
        row
      }
      import sp.implicits._
      rows.toSeq.toDF("duration_days", "n_risk", "n_conv", "n_cens", "surv_milli")
        .orderBy("duration_days")
    }
  )

  val oracles: Map[String, String] = Map(
    "cluster_margin_audit" ->
      s"""WITH ${Queries86.TrainedIvfCteSql},
         |m AS (
         |  SELECT r1.vec_id, r1.cell,
         |    CAST(round(r1.cos * 1e6) AS BIGINT) - CAST(round(r2.cos * 1e6) AS BIGINT)
         |      AS margin_e6
         |  FROM (SELECT vec_id, cell, cos FROM cellrank WHERE rk = 1) r1
         |  JOIN (SELECT vec_id, cos FROM cellrank WHERE rk = 2) r2
         |    ON r2.vec_id = r1.vec_id
         |)
         |SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(margin_e6) // count(*) AS BIGINT) AS mean_margin_e6,
         |  CAST(min(margin_e6) AS BIGINT) AS min_margin_e6
         |FROM m GROUP BY cell ORDER BY cell""".stripMargin,

    "km_survival" ->
      s"""WITH RECURSIVE fc AS (
         |  SELECT user_id, CAST(min(epoch_us(ts) // $DayUs) AS BIGINT) AS cday
         |  FROM events WHERE event_type = 'click' GROUP BY 1
         |),
         |fp AS (
         |  SELECT e.user_id, CAST(min(epoch_us(e.ts) // $DayUs) AS BIGINT) AS pday
         |  FROM events e JOIN fc ON fc.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) // $DayUs >= fc.cday
         |  GROUP BY 1
         |),
         |mx AS (SELECT CAST(max(epoch_us(ts) // $DayUs) AS BIGINT) AS cens FROM events),
         |agg AS (
         |  SELECT CASE WHEN fp.pday IS NOT NULL THEN fp.pday - fc.cday
         |              ELSE mx.cens - fc.cday END AS d,
         |    CAST(sum(CASE WHEN fp.pday IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
         |    CAST(sum(CASE WHEN fp.pday IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_cens
         |  FROM fc LEFT JOIN fp ON fp.user_id = fc.user_id CROSS JOIN mx
         |  GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(n_conv + n_cens) AS BIGINT) AS total FROM agg),
         |ord AS (
         |  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, d, n_conv, n_cens,
         |    CAST(tot.total - coalesce(sum(n_conv + n_cens) OVER (ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
         |  FROM agg CROSS JOIN tot
         |),
         |rec AS (
         |  SELECT t, d, n_risk, n_conv, n_cens,
         |    CAST(1000 * (n_risk - n_conv) // n_risk AS BIGINT) AS surv
         |  FROM ord WHERE t = 1
         |  UNION ALL
         |  SELECT o.t, o.d, o.n_risk, o.n_conv, o.n_cens,
         |    CAST(r.surv * (o.n_risk - o.n_conv) // o.n_risk AS BIGINT)
         |  FROM rec r JOIN ord o ON o.t = r.t + 1
         |)
         |SELECT d AS duration_days, n_risk, n_conv, n_cens, surv AS surv_milli
         |FROM rec ORDER BY duration_days""".stripMargin
  )
}
