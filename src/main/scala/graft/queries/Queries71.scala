package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #43 — incident drill-down and the case for global
  * dedup:
  *
  *  - `anomaly_drilldown`: the on-call question after `volume_anomaly`
  *    fires — WHO drove the spike: for each type's 3 LOUDEST days (by
  *    exact cnt/median ratio — the drill-down reads below the alert
  *    threshold, which a quiet corpus never crosses), distinct actors,
  *    the top actor's share (exact milli), and a one-actor flag
  *    (share > 50% = a bot/retry storm, spread = organic). The per-actor
  *    aggregation joins only the tiny loudest-cells table before the
  *    per-user rollup; volume_anomaly's alert flag rides along.
  *  - `cross_shard_dup_rate`: the measurement that justifies GLOBAL dedup
  *    infrastructure: with the corpus split into 8 ingest shards
  *    (doc_id ranges), the fraction of exact-dup groups whose members
  *    span shards — every such group is a duplicate a per-shard dedup
  *    would MISS. The raw synth corpus carries no exact dups, so both
  *    branches are PLANTED (the bloomDocs discipline): ids ≡ 3 (mod 41)
  *    share one global boilerplate (crosses shards by construction),
  *    ids ≡ 7 (mod 50) copy their left neighbor (pairs that stay inside
  *    a shard at this corpus size). One fingerprint aggregation carrying
  *    (fp → n, n_shards, dups).
  */
object Queries71 extends QuerySet {
  private val NShards = 8
  private[queries] val GlobalBoiler =
    "mirrored press release syndicated to every shard of the crawl"

  val defs: Map[String, Q] = Map(
    "anomaly_drilldown" -> { (sp, dir) =>
      val wLoud = Window.partitionBy("event_type")
        .orderBy(col("ratio_milli").desc, col("day"))
      val flagged = Queries22.defs("volume_anomaly")(sp, dir)
        .withColumn("ratio_milli", expr("cnt * 1000 div med"))
        .withColumn("loud_rk", row_number().over(wLoud))
        .filter(col("loud_rk") <= 3)
        .select(col("event_type"), col("day"), col("cnt").as("cell_cnt"),
          col("ratio_milli"), col("anomaly").cast("long").as("alert"))
      val perUser = Tables.events(sp, dir)
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"),
          col("user_id"))
        .agg(count(lit(1)).as("uc"))
      val w = Window.partitionBy("event_type", "day")
        .orderBy(col("uc").desc, col("user_id"))
      flagged.join(perUser, Seq("event_type", "day"))
        .withColumn("rk", row_number().over(w))
        .groupBy("event_type", "day", "cell_cnt", "ratio_milli", "alert")
        .agg(count(lit(1)).as("n_actors"),
          max(when(col("rk") === 1, col("user_id"))).as("top_actor"),
          max(when(col("rk") === 1, col("uc"))).as("top_actor_events"))
        .select(col("event_type"), col("day"), col("cell_cnt"), col("ratio_milli"),
          col("alert"), col("n_actors"), col("top_actor"), col("top_actor_events"),
          expr("top_actor_events * 1000 div cell_cnt").as("top_share_milli"),
          (col("top_actor_events") * 2 > col("cell_cnt")).as("single_actor_flag"))
        .orderBy("event_type", "day")
    },

    "cross_shard_dup_rate" -> { (sp, dir) =>
      val d0 = Tables.documents(sp, dir)
      val nDocs = d0.count() // shard width from the corpus size: ids are dense
      val width = (nDocs + NShards - 1) / NShards
      val prev = d0.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("prev_text"))
      val d = d0.join(prev, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 41 === 3, lit(GlobalBoiler))
            .when(col("doc_id") % 50 === 7 && col("prev_text").isNotNull,
              col("prev_text"))
            .otherwise(col("text")).as("text"))
      val groups = d
        .select(TextF.docFingerprint(col("text")).as("fp"),
          expr(s"doc_id div $width").as("shard"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n"), countDistinct(col("shard")).as("n_shards"))
        .filter(col("n") > 1)
      groups.agg(
        count(lit(1)).as("n_dup_groups"),
        sum(col("n") - 1).as("n_dup_rows"),
        sum(when(col("n_shards") > 1, 1L).otherwise(0L)).as("n_cross_shard_groups"),
        sum(when(col("n_shards") > 1, col("n") - 1).otherwise(0L))
          .as("missed_by_local_dedup"))
        .select(col("n_dup_groups"), col("n_dup_rows"), col("n_cross_shard_groups"),
          expr("n_cross_shard_groups * 1000 div n_dup_groups").as("cross_shard_milli"),
          col("missed_by_local_dedup"))
    }
  )

  val oracles: Map[String, String] = Map(
    "anomaly_drilldown" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2
         |),
         |ranked AS (
         |  SELECT event_type, day, cnt,
         |    row_number() OVER (PARTITION BY event_type ORDER BY cnt, day) AS rn,
         |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM daily
         |),
         |based AS (
         |  SELECT event_type, day, cnt,
         |    max(CASE WHEN rn = 1 + (n - 1) * 50 // 100 THEN cnt END)
         |      OVER (PARTITION BY event_type) AS med
         |  FROM ranked
         |),
         |flagged AS (
         |  SELECT event_type, day, cell_cnt, ratio_milli, alert FROM (
         |    SELECT event_type, day, cnt AS cell_cnt,
         |      cnt * 1000 // med AS ratio_milli,
         |      CAST(CASE WHEN cnt * 2 >= med * 3 THEN 1 ELSE 0 END AS BIGINT) AS alert,
         |      row_number() OVER (PARTITION BY event_type
         |        ORDER BY cnt * 1000 // med DESC, day) AS loud_rk
         |    FROM based) l
         |  WHERE loud_rk <= 3
         |),
         |per_user AS (
         |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, user_id,
         |    CAST(count(*) AS BIGINT) AS uc
         |  FROM events GROUP BY 1, 2, 3
         |),
         |ranked_u AS (
         |  SELECT f.event_type, f.day, f.cell_cnt, f.ratio_milli, f.alert,
         |    p.user_id, p.uc,
         |    row_number() OVER (PARTITION BY f.event_type, f.day
         |      ORDER BY p.uc DESC, p.user_id) AS rk
         |  FROM flagged f JOIN per_user p
         |    ON p.event_type = f.event_type AND p.day = f.day
         |)
         |SELECT event_type, day, cell_cnt,
         |  CAST(ratio_milli AS BIGINT) AS ratio_milli, alert,
         |  CAST(count(*) AS BIGINT) AS n_actors,
         |  max(CASE WHEN rk = 1 THEN user_id END) AS top_actor,
         |  max(CASE WHEN rk = 1 THEN uc END) AS top_actor_events,
         |  CAST(max(CASE WHEN rk = 1 THEN uc END) * 1000 // cell_cnt AS BIGINT)
         |    AS top_share_milli,
         |  max(CASE WHEN rk = 1 THEN uc END) * 2 > cell_cnt AS single_actor_flag
         |FROM ranked_u GROUP BY event_type, day, cell_cnt, ratio_milli, alert
         |ORDER BY event_type, day""".stripMargin,

    "cross_shard_dup_rate" ->
      s"""WITH meta AS (
         |  SELECT count(*) AS n_docs FROM documents
         |),
         |planted AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 41 = 3 THEN '$GlobalBoiler'
         |         WHEN d.doc_id % 50 = 7 AND p.text IS NOT NULL THEN p.text
         |         ELSE d.text END AS text
         |  FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1
         |),
         |groups AS (
         |  SELECT md5(${TextF.NormalizeTextSql}) AS fp,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(count(DISTINCT doc_id // ((m.n_docs + ${NShards - 1}) // $NShards))
         |      AS BIGINT) AS n_shards
         |  FROM planted, meta m
         |  GROUP BY md5(${TextF.NormalizeTextSql}), m.n_docs
         |  HAVING count(*) > 1
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
         |  CAST(sum(n - 1) AS BIGINT) AS n_dup_rows,
         |  CAST(sum(CASE WHEN n_shards > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cross_shard_groups,
         |  CAST(sum(CASE WHEN n_shards > 1 THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS cross_shard_milli,
         |  CAST(sum(CASE WHEN n_shards > 1 THEN n - 1 ELSE 0 END) AS BIGINT)
         |    AS missed_by_local_dedup
         |FROM groups""".stripMargin
  )
}
