package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.EventF
import graft.queries.IntIdioms.tdivSql

/** Round-14 batch #8 — enrichment-side operational audits:
  *
  *  - `clock_skew_profile`: tracker clock health per platform — device-send
  *    skew (collector − sent) and creation skew (sent − created, can run
  *    NEGATIVE under the synth's +5 s outlier class, so averages use the
  *    truncating division both engines agree on). The audit
  *    behind `derived_tstamp`'s correction.
  *  - `fingerprint_collision_audit`: discrimination of a WEAK fingerprint
  *    config (event code + resolution) vs the standard 5-field one — how
  *    many events share a fingerprint under each; the config-review tool
  *    for `event_fingerprint`.
  *  - `anon_ip_risk`: k-anonymity of the 2-octet-anonymized IP space —
  *    group-size classes of the surviving prefixes (singleton prefixes are
  *    re-identifiable); the privacy-budget check behind `anon_ip`.
  */
object Queries193 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "clock_skew_profile" -> { (sp, dir) =>
      Synth.withRaw(Tables.events(sp, dir))
        .select(col("platform_code"),
          expr("(collector_us - sent_us) div 1000").as("send_ms"),
          expr("(sent_us - created_us) div 1000").as("create_ms"))
        .groupBy("platform_code")
        .agg(count(lit(1)).as("n_events"),
          sum("send_ms").as("ss"), max("send_ms").as("max_send_ms"),
          sum("create_ms").as("sc"), min("create_ms").as("min_create_ms"))
        .select(col("platform_code"), col("n_events"),
          expr("ss div n_events").as("avg_send_ms"), col("max_send_ms"),
          expr("sc div n_events").as("avg_create_ms"), col("min_create_ms"))
        .orderBy("platform_code")
    },

    "fingerprint_collision_audit" -> { (sp, dir) =>
      val raw = graft.util.CacheScope.track(Synth.withRaw(Tables.events(sp, dir)))
      def audit(cfg: String, fields: Seq[(String, org.apache.spark.sql.Column)]) =
        raw.select(EventF.eventFingerprint("md5", fields).as("fp"))
          .groupBy("fp").agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_fps"), sum("c").as("n_events"),
            sum(expr("CASE WHEN c > 1 THEN c ELSE 0 END")).as("collided_events"))
          .select(lit(cfg).as("config"), col("n_events"), col("n_fps"),
            col("collided_events"),
            expr("n_fps * 1000 div n_events").as("discrimination_pm"))
      audit("strong", Seq(
        "e" -> col("event_code"), "p" -> col("platform_code"),
        "uid" -> col("user_id"), "res" -> col("res"), "url" -> col("page_url")))
        .unionAll(audit("weak", Seq("e" -> col("event_code"), "res" -> col("res"))))
        .orderBy("config")
    },

    "anon_ip_risk" -> { (sp, dir) =>
      Synth.withRaw(Tables.events(sp, dir))
        .select(regexp_extract(col("ip"), "^([0-9]+\\.[0-9]+)", 1).as("prefix"),
          col("user_id"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
        .select(
          when(col("n_users") === 1, "a_singleton")
            .when(col("n_users") <= 10, "b_small")
            .otherwise("c_crowd").as("k_class"),
          col("n_events"), col("n_users"))
        .groupBy("k_class")
        .agg(count(lit(1)).as("n_prefixes"), sum("n_events").as("n_events"),
          sum("n_users").as("n_users"))
        .orderBy("k_class")
    }
  )

  // ---- DuckDB twins ----

  private def fpSql(fields: Seq[(String, String)]): String = {
    val pieces = fields.sortBy(_._1).map { case (k, colSql) =>
      s"CASE WHEN $colSql IS NULL THEN '' ELSE concat('$k', chr(31), $colSql, chr(31)) END"
    }
    s"md5(concat(${pieces.mkString(", ")}))"
  }

  val oracles: Map[String, String] = Map(
    "clock_skew_profile" -> Synth.withCte(
      s""", sk AS (
         |  SELECT platform_code,
         |    (collector_us - sent_us) // 1000 AS send_ms,
         |    ${tdivSql("(sent_us - created_us)", "1000")} AS create_ms
         |  FROM raw),
         |g AS (
         |  SELECT platform_code, CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(sum(send_ms) AS BIGINT) AS ss, CAST(max(send_ms) AS BIGINT) AS max_send_ms,
         |    CAST(sum(create_ms) AS BIGINT) AS sc, CAST(min(create_ms) AS BIGINT) AS min_create_ms
         |  FROM sk GROUP BY 1)
         |SELECT platform_code, n_events,
         |  ${tdivSql("ss", "n_events")} AS avg_send_ms, max_send_ms,
         |  ${tdivSql("sc", "n_events")} AS avg_create_ms, min_create_ms
         |FROM g ORDER BY platform_code""".stripMargin),

    "fingerprint_collision_audit" -> Synth.withCte(
      s""", strong AS (
         |  SELECT ${fpSql(Seq("e" -> "event_code", "p" -> "platform_code",
        "uid" -> "user_id", "res" -> "res", "url" -> "page_url"))} AS fp FROM raw),
         |weak AS (
         |  SELECT ${fpSql(Seq("e" -> "event_code", "res" -> "res"))} AS fp FROM raw),
         |a AS (
         |  SELECT 'strong' AS config, CAST(sum(c) AS BIGINT) AS n_events,
         |    CAST(count(*) AS BIGINT) AS n_fps,
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS collided_events
         |  FROM (SELECT count(*) AS c FROM strong GROUP BY fp) t
         |  UNION ALL
         |  SELECT 'weak', CAST(sum(c) AS BIGINT), CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         |  FROM (SELECT count(*) AS c FROM weak GROUP BY fp) t)
         |SELECT config, n_events, n_fps, collided_events,
         |  CAST(n_fps * 1000 // n_events AS BIGINT) AS discrimination_pm
         |FROM a ORDER BY config""".stripMargin),

    "anon_ip_risk" -> Synth.withCte(
      s""", pf AS (
         |  SELECT regexp_extract(ip, '^([0-9]+\\.[0-9]+)', 1) AS prefix, user_id FROM raw),
         |g AS (
         |  SELECT prefix, CAST(count(*) AS BIGINT) AS n_events,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |  FROM pf GROUP BY 1)
         |SELECT CASE WHEN n_users = 1 THEN 'a_singleton'
         |            WHEN n_users <= 10 THEN 'b_small'
         |            ELSE 'c_crowd' END AS k_class,
         |  CAST(count(*) AS BIGINT) AS n_prefixes,
         |  CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(sum(n_users) AS BIGINT) AS n_users
         |FROM g GROUP BY 1 ORDER BY k_class""".stripMargin)
  )
}
