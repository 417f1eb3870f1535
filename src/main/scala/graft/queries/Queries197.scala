package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-14 batch #12 — ML-ops screens:
  *
  *  - `psi_drift`: Population Stability Index of the purchase-amount band
  *    mix, first-half vs second-half of the calendar — the canonical
  *    model-monitoring drift metric, in the repo's quantized ⌊log₂⌋
  *    spelling (`(p−q)·(bits(a·N_b)−bits(b·N_a))` per band, exact integers
  *    both engines). Fixed $20 bands capped at 11 — no quantile sort.
  *  - `decision_stump_scan`: best one-vs-rest split per categorical feature
  *    (platform / day-of-week / hour) for predicting purchase, by weighted
  *    Gini impurity in milli — the feature-screening stump over bounded
  *    contingencies (41 candidate splits).
  *  - `auc_quality_vs_dup`: exact AUC (Mann–Whitney U over the bounded
  *    0..1000 score histogram — value-domain cumulative window, never a
  *    row sort) of the lexical-breadth score for separating NEAR-DUP docs
  *    (MinHash candidate-pair members — the corpus has no exact-text dups)
  *    from unique ones: does low breadth predict duplication?
  */
object Queries197 extends QuerySet {
  private val DayUs = 86400000000L
  private val HourUs = 3600000000L

  val defs: Map[String, Q] = Map(
    "psi_drift" -> { (sp, dir) =>
      val ev = Synth.withRaw(Tables.events(sp, dir))
        .filter(col("event_type") === "purchase")
        .select(expr(s"ts_us div $DayUs").as("day"),
          expr("least(amount_cents div 2000, 10)").as("band"))
      val split = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
      val banded = ev.crossJoin(broadcast(split))
        .groupBy("band")
        .agg(sum(when(col("day") < col("mid"), 1L).otherwise(0L)).as("a"),
          sum(when(col("day") >= col("mid"), 1L).otherwise(0L)).as("b"))
      val tot = banded.agg(sum("a").as("na"), sum("b").as("nb"))
      banded.crossJoin(broadcast(tot))
        .select(col("band"), col("a"), col("b"),
          expr("a * 1000 div na").as("p_pm"),
          expr("b * 1000 div nb").as("q_pm"),
          expr("""(a * 1000 div na - b * 1000 div nb) *
                  ((length(bin(greatest(a, 1) * nb)) - 1) -
                   (length(bin(greatest(b, 1) * na)) - 1))""").as("psi_contrib_qmilli"))
        .orderBy("band")
    },

    "decision_stump_scan" -> { (sp, dir) =>
      val ev = graft.util.CacheScope.track(
        Synth.withRaw(Tables.events(sp, dir))
          .select(col("platform_code"),
            expr(s"CAST((ts_us div $DayUs + 4) % 7 AS STRING)").as("dow"),
            expr(s"CAST((ts_us div $HourUs) % 24 AS STRING)").as("hour"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y")))
      val feats = ev.select(lit("platform").as("feature"), col("platform_code").as("value"), col("y"))
        .unionAll(ev.select(lit("dow").as("feature"), col("dow").as("value"), col("y")))
        .unionAll(ev.select(lit("hour").as("feature"), col("hour").as("value"), col("y")))
      val cells = feats.groupBy("feature", "value")
        .agg(count(lit(1)).as("n1"), sum("y").as("p1"))
      val tot = ev.agg(count(lit(1)).as("nn"), sum("y").as("pp"))
      val gini = (n: String, p: String) =>
        s"1000 - ($p * $p * 1000 div ($n * $n)) - (($n - $p) * ($n - $p) * 1000 div ($n * $n))"
      val scored = cells.crossJoin(broadcast(tot))
        .withColumn("w_milli", expr(
          s"(n1 * (${gini("n1", "p1")}) + (nn - n1) * (${gini("(nn - n1)", "(pp - p1)")})) div nn"))
      scored.groupBy("feature")
        .agg(min(struct(col("w_milli"), col("value"))).as("best"),
          max(expr(gini("nn", "pp"))).as("baseline_gini_milli"))
        .select(col("feature"), col("best.value").as("best_value"),
          col("best.w_milli").as("best_gini_milli"), col("baseline_gini_milli"),
          expr("baseline_gini_milli - best.w_milli").as("gain_milli"))
        .orderBy("feature")
    },

    "auc_quality_vs_dup" -> { (sp, dir) =>
      val scored = Tables.documents(sp, dir)
        .select(col("doc_id"),
          TextF.tokenCount(col("text")).cast("bigint").as("n_toks"),
          size(array_distinct(TextF.tokens(col("text")))).cast("bigint").as("n_types"))
        .withColumn("score", expr("CASE WHEN n_toks = 0 THEN 0 ELSE n_types * 1000 div n_toks END"))
      val pairs = Queries6.minhashPairs(sp, dir)
      val dupIds = pairs.select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id"))).distinct()
        .withColumn("dup", lit(1L))
      val withLabel = scored.join(dupIds, Seq("doc_id"), "left")
        .withColumn("dup", coalesce(col("dup"), lit(0L)))
      val hist = withLabel.groupBy("score")
        .agg(sum("dup").as("pos"), sum(expr("1 - dup")).as("neg"))
      // cumulative over the bounded 0..1000 score domain (value-domain
      // window — the whole histogram is ≤1001 rows at any SF)
      val w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val u = hist.withColumn("cum_neg", sum("neg").over(w))
        .select(expr("pos * (2 * (cum_neg - neg) + neg)").as("u2_part"),
          col("pos"), col("neg"))
        .agg(sum("u2_part").as("u2"), sum("pos").as("n_pos"), sum("neg").as("n_neg"))
      u.select(col("n_pos"), col("n_neg"), col("u2"),
        expr("u2 * 500 div greatest(n_pos * n_neg, 1)").as("auc_milli"))
    }
  )

  // ---- DuckDB twins ----

  private val normSql = TextF.NormalizeTextSql
  private val tokCnt =
    s"CASE WHEN $normSql = '' THEN 0 ELSE len(string_split($normSql, ' ')) END"

  val oracles: Map[String, String] = Map(
    "psi_drift" -> Synth.withCte(
      s""", ev AS (
         |  SELECT ts_us // $DayUs AS day, least(amount_cents // 2000, 10) AS band
         |  FROM raw WHERE event_type = 'purchase'),
         |sp AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
         |banded AS (
         |  SELECT band,
         |    CAST(sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS BIGINT) AS b
         |  FROM ev CROSS JOIN sp GROUP BY 1),
         |tot AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM banded)
         |SELECT band, a, b,
         |  CAST(a * 1000 // na AS BIGINT) AS p_pm,
         |  CAST(b * 1000 // nb AS BIGINT) AS q_pm,
         |  CAST((a * 1000 // na - b * 1000 // nb) *
         |    ((length(bin(greatest(a, 1) * nb)) - 1) -
         |     (length(bin(greatest(b, 1) * na)) - 1)) AS BIGINT) AS psi_contrib_qmilli
         |FROM banded CROSS JOIN tot ORDER BY band""".stripMargin),

    "decision_stump_scan" -> {
      def gini(n: String, p: String) =
        s"1000 - ($p * $p * 1000 // ($n * $n)) - (($n - $p) * ($n - $p) * 1000 // ($n * $n))"
      Synth.withCte(
        s""", ev AS (
           |  SELECT platform_code,
           |    CAST((ts_us // $DayUs + 4) % 7 AS VARCHAR) AS dow,
           |    CAST((ts_us // $HourUs) % 24 AS VARCHAR) AS hour,
           |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           |  FROM raw),
           |feats AS (
           |  SELECT 'platform' AS feature, platform_code AS value, y FROM ev
           |  UNION ALL SELECT 'dow', dow, y FROM ev
           |  UNION ALL SELECT 'hour', hour, y FROM ev),
           |cells AS (
           |  SELECT feature, value, CAST(count(*) AS BIGINT) AS n1,
           |    CAST(sum(y) AS BIGINT) AS p1
           |  FROM feats GROUP BY 1, 2),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS pp FROM ev),
           |scored AS (
           |  SELECT feature, value,
           |    (n1 * (${gini("n1", "p1")})
           |      + (nn - n1) * (${gini("(nn - n1)", "(pp - p1)")})) // nn AS w_milli,
           |    ${gini("nn", "pp")} AS bg
           |  FROM cells CROSS JOIN tot),
           |best AS (
           |  SELECT feature, value, w_milli, bg,
           |    row_number() OVER (PARTITION BY feature ORDER BY w_milli, value) AS rk
           |  FROM scored)
           |SELECT feature, value AS best_value, CAST(w_milli AS BIGINT) AS best_gini_milli,
           |  CAST(bg AS BIGINT) AS baseline_gini_milli,
           |  CAST(bg - w_milli AS BIGINT) AS gain_milli
           |FROM best WHERE rk = 1 ORDER BY feature""".stripMargin)
    },

    "auc_quality_vs_dup" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |dupids AS (
         |  SELECT DISTINCT id_a AS doc_id FROM pairs
         |  UNION SELECT id_b FROM pairs),
         |scored AS (
         |  SELECT doc_id,
         |    CAST($tokCnt AS BIGINT) AS n_toks,
         |    CAST(len(list_distinct(string_split($normSql, ' '))) AS BIGINT) AS n_types
         |  FROM documents),
         |lab AS (
         |  SELECT CASE WHEN n_toks = 0 THEN 0 ELSE n_types * 1000 // n_toks END AS score,
         |    CASE WHEN dupids.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dup
         |  FROM scored LEFT JOIN dupids ON scored.doc_id = dupids.doc_id),
         |hist AS (
         |  SELECT score, CAST(sum(dup) AS BIGINT) AS pos,
         |    CAST(sum(1 - dup) AS BIGINT) AS neg
         |  FROM lab GROUP BY 1),
         |c AS (
         |  SELECT pos, neg,
         |    sum(neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_neg
         |  FROM hist),
         |u AS (
         |  SELECT CAST(sum(pos * (2 * (cum_neg - neg) + neg)) AS BIGINT) AS u2,
         |    CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg
         |  FROM c)
         |SELECT n_pos, n_neg, u2, CAST(u2 * 500 // greatest(n_pos * n_neg, 1) AS BIGINT) AS auc_milli
         |FROM u""".stripMargin
  )
}
