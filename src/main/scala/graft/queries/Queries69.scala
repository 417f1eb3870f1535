package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.nearestRank

/** Round-8 continuation #41 — distribution monitoring and near-dup diffs:
  *
  *  - `quantile_drift`: week-over-week event-value quantile monitoring
  *    per event type — p50/p95 (exact rank arithmetic in integer cents)
  *    joined to the previous week, change in truncated milli, flagged
  *    beyond ±10% — the money-metric twin of `volume_anomaly` (volumes
  *    drift loudly, value distributions drift silently). Percentile
  *    windows run per (type, week) partition; the week-over-week join is
  *    on the tiny (type, week) table.
  *  - `pair_diff_summary`: WHAT changed between near-duplicates — for the
  *    deterministic review sample's pairs: token lengths, longest common
  *    prefix/suffix (each ONE in-row `aggregate` fold — the monotone-
  *    accumulator trick, no explode), and the changed-span widths that
  *    remain. The triage report a reviewer reads before trusting a dedup
  *    threshold; all counts exact on both engines.
  */
object Queries69 extends QuerySet {
  private val WeekUs = 7L * 86400000000L

  val defs: Map[String, Q] = Map(
    "quantile_drift" -> { (sp, dir) =>
      val base = Tables.events(sp, dir)
        .select(col("event_type"), expr(s"ts_us div $WeekUs").as("week"),
          round(col("value") * 100).cast("bigint").as("cents"), col("event_id"))
      val w = Window.partitionBy("event_type", "week").orderBy("cents", "event_id")
      val wAll = Window.partitionBy("event_type", "week")
      val ranked = base
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
      val weekly = ranked.groupBy("event_type", "week")
        .agg(max("n").as("n_events"), nearestRank(50, col("cents")).as("p50_cents"),
          nearestRank(95, col("cents")).as("p95_cents"))
      val prev = weekly.select(col("event_type"), (col("week") + 1).as("week"),
        col("p50_cents").as("prev_p50_cents"), col("p95_cents").as("prev_p95_cents"))
      weekly.join(prev, Seq("event_type", "week"))
        .select(col("event_type"), col("week"), col("n_events"),
          col("p50_cents"), col("prev_p50_cents"),
          expr("(p50_cents - prev_p50_cents) * 1000 div prev_p50_cents")
            .as("p50_change_milli"),
          col("p95_cents"), col("prev_p95_cents"),
          (col("p50_cents") * 10 > col("prev_p50_cents") * 11 ||
            col("p50_cents") * 10 < col("prev_p50_cents") * 9).as("drift_flag"))
        .orderBy("event_type", "week")
    },

    "pair_diff_summary" -> { (sp, dir) =>
      val sample = Queries64.defs("pair_review_sample")(sp, dir)
        .select("id_a", "id_b")
      val toks = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokens(col("text")).as("w"))
      sample
        .join(toks.select(col("doc_id").as("id_a"), col("w").as("wa")), Seq("id_a"))
        .join(toks.select(col("doc_id").as("id_b"), col("w").as("wb")), Seq("id_b"))
        .withColumn("la", size(col("wa")).cast("long"))
        .withColumn("lb", size(col("wb")).cast("long"))
        // monotone fold: acc advances only while every prior token matched
        .withColumn("lcp", expr(
          """aggregate(sequence(1, CAST(least(la, lb) AS INT)), 0L,
            |  (acc, i) -> CASE WHEN acc = CAST(i AS BIGINT) - 1L
            |    AND wa[i - 1] = wb[i - 1] THEN CAST(i AS BIGINT) ELSE acc END)"""
          .stripMargin))
        .withColumn("lcs", expr(
          """aggregate(sequence(1, CAST(least(la, lb) AS INT)), 0L,
            |  (acc, i) -> CASE WHEN acc = CAST(i AS BIGINT) - 1L
            |    AND element_at(wa, CAST(-i AS INT)) = element_at(wb, CAST(-i AS INT))
            |    THEN CAST(i AS BIGINT) ELSE acc END)""".stripMargin))
        // prefix and suffix may overlap on the shorter side; clamp at 0
        .select(col("id_a"), col("id_b"), col("la"), col("lb"),
          col("lcp"), col("lcs"),
          greatest(lit(0L), col("la") - col("lcp") - col("lcs")).as("changed_a"),
          greatest(lit(0L), col("lb") - col("lcp") - col("lcs")).as("changed_b"))
        .orderBy("id_a", "id_b")
    }
  )

  val oracles: Map[String, String] = Map(
    "quantile_drift" ->
      s"""WITH base AS (
         |  SELECT event_type, epoch_us(ts) // $WeekUs AS week,
         |    CAST(round(value * 100) AS BIGINT) AS cents, event_id
         |  FROM events
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type, week
         |      ORDER BY cents, event_id) AS rk,
         |    count(*) OVER (PARTITION BY event_type, week) AS n
         |  FROM base
         |),
         |weekly AS (
         |  SELECT event_type, week, CAST(max(n) AS BIGINT) AS n_events,
         |    max(CASE WHEN rk = 1 + (50 * (n - 1)) // 100 THEN cents END) AS p50_cents,
         |    max(CASE WHEN rk = 1 + (95 * (n - 1)) // 100 THEN cents END) AS p95_cents
         |  FROM ranked GROUP BY event_type, week
         |)
         |SELECT c.event_type, c.week, c.n_events,
         |  c.p50_cents, p.p50_cents AS prev_p50_cents,
         |  CAST((c.p50_cents - p.p50_cents) * 1000 // p.p50_cents AS BIGINT)
         |    AS p50_change_milli,
         |  c.p95_cents, p.p95_cents AS prev_p95_cents,
         |  (c.p50_cents * 10 > p.p50_cents * 11 OR c.p50_cents * 10 < p.p50_cents * 9)
         |    AS drift_flag
         |FROM weekly c JOIN weekly p
         |  ON p.event_type = c.event_type AND p.week = c.week - 1
         |ORDER BY c.event_type, c.week""".stripMargin,

    "pair_diff_summary" -> {
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |hp AS (
         |  SELECT id_a, id_b,
         |    md5(concat('rev', CAST(id_a AS VARCHAR), ':', CAST(id_b AS VARCHAR))) AS h
         |  FROM pairs ORDER BY h LIMIT 20
         |),
         |toks AS (
         |  SELECT doc_id, ${TextF.TokensSql} AS w FROM documents
         |),
         |joined AS (
         |  SELECT hp.id_a, hp.id_b, a.w AS wa, b.w AS wb,
         |    CAST(len(a.w) AS BIGINT) AS la, CAST(len(b.w) AS BIGINT) AS lb
         |  FROM hp JOIN toks a ON a.doc_id = hp.id_a JOIN toks b ON b.doc_id = hp.id_b
         |),
         |folded AS (
         |  SELECT id_a, id_b, la, lb,
         |    list_reduce(list_prepend(0, range(1, least(la, lb) + 1)),
         |      (acc, i) -> CASE WHEN acc = i - 1 AND wa[i] = wb[i] THEN i ELSE acc END)
         |      AS lcp,
         |    list_reduce(list_prepend(0, range(1, least(la, lb) + 1)),
         |      (acc, i) -> CASE WHEN acc = i - 1 AND wa[-i] = wb[-i] THEN i ELSE acc END)
         |      AS lcs
         |  FROM joined
         |)
         |SELECT id_a, id_b, la, lb, CAST(lcp AS BIGINT) AS lcp, CAST(lcs AS BIGINT) AS lcs,
         |  greatest(0, la - lcp - lcs) AS changed_a,
         |  greatest(0, lb - lcp - lcs) AS changed_b
         |FROM folded ORDER BY id_a, id_b""".stripMargin
    }
  )
}
