package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Round-9 batch #2 — parameter sweeps and distribution audits:
  *
  *  - `session_gap_sweep`: sessionization's one tunable (the inactivity
  *    gap) swept at 5/15/30/60 minutes from ONE user-window scan — the
  *    per-event gap is computed once (the `sessionize` lag spelling) and
  *    every candidate gap reads off the same projection; session count and
  *    exact events-per-session milli per gap. The sweep costs one window,
  *    not four sessionize runs.
  *  - `embedding_threshold_sweep`: the dedup cut's tunable swept at
  *    cos ∈ {.95, .96, .98} over `dedup_embedding`'s verified pair set
  *    (shared by composition on both engines): dropped / kept corpus size
  *    per threshold — the keep-rate curve a dedup rollout reads before
  *    picking its cut. Pair set is computed once; the sweep is three
  *    conditional distincts over it.
  *  - `event_mix_drift`: week-over-week event-type mix shift — per-week
  *    type shares (exact milli) and the L1 distance to the previous
  *    week's mix over the full (week × type) grid (absent types count as
  *    zero, so a vanishing type registers as drift). Two key-shrinking
  *    aggregations over (week, type) — never a per-event window.
  *  - `embedding_norm_hist`: corpus norm profile in exact integer
  *    arithmetic: micro-quantized squared norms (the `KMeans.fitMicro`
  *    quantization) bucketed by bit length — degenerate / zero vectors
  *    (ANN poison) surface as low buckets; one narrow projection + one
  *    tiny aggregation.
  */
object Queries82 extends QuerySet {
  private[graft] val GapsSeconds = Seq(300L, 900L, 1800L, 3600L)
  private[graft] val CosThresholdsE6 = Seq(950000L, 960000L, 980000L)

  val defs: Map[String, Q] = Map(
    "session_gap_sweep" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val gaps = Tables.events(sp, dir)
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .select(col("gap_us"))
      val tot = gaps.agg(count(lit(1)).as("n_events"))
      gaps
        .select(explode(typedLit(GapsSeconds)).as("gap_s"), col("gap_us"))
        .groupBy("gap_s")
        .agg(sum(when(col("gap_us").isNull || col("gap_us") > col("gap_s") * 1000000L, 1L)
          .otherwise(0L)).as("n_sessions"))
        .crossJoin(broadcast(tot))
        .select(col("gap_s"), col("n_sessions"),
          expr("n_events * 1000 div n_sessions").as("events_per_session_milli"))
        .orderBy("gap_s")
    },

    "embedding_threshold_sweep" -> { (sp, dir) =>
      val pairs = Queries3.defs("dedup_embedding")(sp, dir)
        .select(col("id_b"), col("cos_e6"))
      val emb = Tables.embeddings(sp, dir)
      val nAug = broadcast(emb.agg((count(lit(1)) +
        sum(when(col("vec_id") % Queries3.PlantEvery === 0, 1L).otherwise(0L))).as("n_aug")))
      pairs
        .select(explode(typedLit(CosThresholdsE6)).as("threshold_e6"),
          col("id_b"), col("cos_e6"))
        .filter(col("cos_e6") >= col("threshold_e6"))
        .groupBy("threshold_e6")
        .agg(countDistinct(col("id_b")).as("n_dropped"))
        .crossJoin(nAug)
        .select(col("threshold_e6"), col("n_dropped"),
          (col("n_aug") - col("n_dropped")).as("n_kept"),
          expr("(n_aug - n_dropped) * 1000 div n_aug").as("keep_milli"))
        .orderBy("threshold_e6")
    },

    "event_mix_drift" -> { (sp, dir) =>
      val wk = expr("ts_us div 604800000000")
      val weekly = Tables.events(sp, dir)
        .select(wk.as("week"), col("event_type"))
        .groupBy("week", "event_type").agg(count(lit(1)).as("cnt"))
      val totals = weekly.groupBy("week").agg(sum("cnt").as("tot"))
      // the full grid: every type in every week, absent = 0 share
      val grid = totals.select("week").distinct()
        .crossJoin(weekly.select("event_type").distinct())
        .join(weekly, Seq("week", "event_type"), "left")
        .join(totals, Seq("week"))
        .select(col("week"), col("event_type"),
          expr("coalesce(cnt, 0) * 1000 div tot").as("share_milli"))
      val wType = Window.partitionBy("event_type").orderBy("week")
      grid
        .withColumn("prev_share", lag("share_milli", 1).over(wType))
        .filter(col("prev_share").isNotNull)
        .groupBy("week")
        .agg(sum(abs(col("share_milli") - col("prev_share"))).as("l1_drift_milli"),
          count(lit(1)).as("n_types"))
        .orderBy("week")
    },

    "embedding_norm_hist" -> { (sp, dir) =>
      val nv2 = aggregate(transform(
        graft.operators.KMeans.quantizeMicro(col("embedding")), x => x * x),
        lit(0L), (a, x) => a + x)
      val hist = Tables.embeddings(sp, dir)
        .select((length(bin(nv2)) - 1).cast("long").as("bucket"),
          nv2.as("nv2"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vectors"), min("nv2").as("min_nv2"), max("nv2").as("max_nv2"))
      val tot = hist.agg(sum("n_vectors").as("total"))
      hist.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_vectors"),
          expr("n_vectors * 1000 div total").as("share_milli"),
          col("min_nv2"), col("max_nv2"))
        .orderBy("bucket")
    }
  )

  val oracles: Map[String, String] = Map(
    "session_gap_sweep" ->
      s"""WITH gaps AS (
         |  SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |    AS gap_us
         |  FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events) e
         |),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM gaps)
         |SELECT g.gap_s, CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > CAST(g.gap_s AS BIGINT) * 1000000
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
         |  CAST(t.n_events * 1000 // sum(CASE WHEN gap_us IS NULL OR gap_us > CAST(g.gap_s AS BIGINT) * 1000000
         |    THEN 1 ELSE 0 END) AS BIGINT) AS events_per_session_milli
         |FROM gaps, (VALUES ${GapsSeconds.map(g => s"($g)").mkString(", ")}) g(gap_s), tot t
         |GROUP BY g.gap_s, t.n_events ORDER BY g.gap_s""".stripMargin,

    "embedding_threshold_sweep" ->
      s"""WITH pairs AS (
         |${Queries3.oracles("dedup_embedding")}
         |),
         |aug_n AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM embeddings)
         |    + (SELECT CAST(count(*) AS BIGINT) FROM embeddings
         |       WHERE vec_id % ${Queries3.PlantEvery} = 0) AS n_aug
         |)
         |SELECT t.threshold_e6,
         |  CAST(count(DISTINCT CASE WHEN p.cos_e6 >= t.threshold_e6 THEN p.id_b END) AS BIGINT)
         |    AS n_dropped,
         |  CAST(a.n_aug - count(DISTINCT CASE WHEN p.cos_e6 >= t.threshold_e6 THEN p.id_b END)
         |    AS BIGINT) AS n_kept,
         |  CAST((a.n_aug - count(DISTINCT CASE WHEN p.cos_e6 >= t.threshold_e6 THEN p.id_b END))
         |    * 1000 // a.n_aug AS BIGINT) AS keep_milli
         |FROM pairs p, (VALUES ${CosThresholdsE6.map(t => s"($t)").mkString(", ")}) t(threshold_e6),
         |  aug_n a
         |GROUP BY t.threshold_e6, a.n_aug ORDER BY t.threshold_e6""".stripMargin,

    "event_mix_drift" ->
      s"""WITH weekly AS (
         |  SELECT CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week, event_type,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2
         |),
         |totals AS (SELECT week, CAST(sum(cnt) AS BIGINT) AS tot FROM weekly GROUP BY week),
         |grid AS (
         |  SELECT w.week, ty.event_type,
         |    CAST(coalesce(x.cnt, 0) * 1000 // t.tot AS BIGINT) AS share_milli
         |  FROM (SELECT DISTINCT week FROM totals) w
         |  CROSS JOIN (SELECT DISTINCT event_type FROM weekly) ty
         |  LEFT JOIN weekly x ON x.week = w.week AND x.event_type = ty.event_type
         |  JOIN totals t ON t.week = w.week
         |),
         |d AS (
         |  SELECT week, event_type, share_milli,
         |    lag(share_milli) OVER (PARTITION BY event_type ORDER BY week) AS prev_share
         |  FROM grid
         |)
         |SELECT week, CAST(sum(abs(share_milli - prev_share)) AS BIGINT) AS l1_drift_milli,
         |  CAST(count(*) AS BIGINT) AS n_types
         |FROM d WHERE prev_share IS NOT NULL
         |GROUP BY week ORDER BY week""".stripMargin,

    "embedding_norm_hist" -> {
      val nv2 = "list_reduce(list_transform(embedding, x -> " +
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * " +
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), (a, b) -> a + b)"
      s"""WITH n AS (
         |  SELECT CAST(length(bin($nv2)) - 1 AS BIGINT) AS bucket,
         |    CAST($nv2 AS BIGINT) AS nv2
         |  FROM embeddings
         |),
         |hist AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors,
         |    CAST(min(nv2) AS BIGINT) AS min_nv2, CAST(max(nv2) AS BIGINT) AS max_nv2
         |  FROM n GROUP BY bucket
         |),
         |tot AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM hist)
         |SELECT h.bucket, h.n_vectors,
         |  CAST(h.n_vectors * 1000 // t.total AS BIGINT) AS share_milli,
         |  h.min_nv2, h.max_nv2
         |FROM hist h, tot t ORDER BY h.bucket""".stripMargin
    }
  )
}
