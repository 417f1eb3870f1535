package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch #12 — journey mining, dedup fairness, logistics trend,
  * and cross-source syndication:
  *
  *  - `journey_trigrams`: frequent event-type TRIGRAMS over per-user
  *    event journeys (markov_transitions reads bigrams; the trigram tier
  *    is where process-mining patterns like view→click→purchase vs
  *    view→click→error separate). Two lags in ONE window pass, then a
  *    key-shrinking rollup with distinct-user reach; top rows by count.
  *  - `dedup_source_bias`: does keep-first exact dedup bias the source
  *    mix? Per-source corpus share before vs after in per-mille and the
  *    delta — the fairness audit a curated-mix pipeline runs after every
  *    dedup pass (keep-first favors whichever source was ingested
  *    first). Two fingerprint rollups, never text.
  *  - `lead_time_trend`: monthly order→ship lead time — mean in exact
  *    milli-days plus the month-over-month delta (window lag over the
  *    CALENDAR-bounded monthly rollup): the ops read for fulfillment
  *    drift.
  *  - `template_syndication`: winnowing fingerprints shared ACROSS
  *    sources — per source pair, shared fingerprint count and the
  *    permille of the smaller side's inventory (template_mass reads
  *    within-source boilerplate; syndicated content shows up here). The
  *    pair join is df-capped by construction: only fingerprints seen in
  *    2+ sources enter, each contributing one bounded source set.
  */
object Queries169 extends QuerySet {
  private val DayUs = 86400000000L
  private val TopTrigrams = 25

  val defs: Map[String, Q] = Map(
    "journey_trigrams" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tri = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("t1", lag("event_type", 2).over(w))
        .withColumn("t2", lag("event_type", 1).over(w))
        .filter(col("t1").isNotNull)
      tri.groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("n_users"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))))
        .filter(col("rk") <= TopTrigrams)
        .select(col("rk").cast("long").as("rk"), col("t1"), col("t2"), col("t3"), col("cnt"), col("n_users"))
        .orderBy("rk")
    },

    "dedup_source_bias" -> { (sp, dir) =>
      val keys = Tables.documents(sp, dir).select(col("source"), col("doc_id"),
        graft.functions.TextF.docFingerprint(col("text")).as("fp"))
      val kept = keys.withColumn("rk",
          row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
        .filter(col("rk") === 1)
      val before = keys.groupBy("source").agg(count(lit(1)).as("n_before"))
      val after = kept.groupBy("source").agg(count(lit(1)).as("n_after"))
      val totB = before.agg(sum("n_before").as("tb"))
      val totA = after.agg(sum("n_after").as("ta"))
      before.join(after, "source")
        .crossJoin(broadcast(totB)).crossJoin(broadcast(totA))
        .select(col("source"), col("n_before"), col("n_after"),
          expr("n_before * 1000 div tb").as("share_before_pm"),
          expr("n_after * 1000 div ta").as("share_after_pm"))
        .withColumn("bias_pm", col("share_after_pm") - col("share_before_pm"))
        .orderBy("source")
    },

    "lead_time_trend" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey").as("o_orderkey"),
          expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("ship_us"))
      val monthly = Tables.orders(sp, dir)
        .select(col("o_orderkey"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("ord_us"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("m_id"))
        .join(li, "o_orderkey")
        .groupBy("m_id")
        .agg(count(lit(1)).as("n_lines"),
          expr(s"sum((ship_us - ord_us) div 86400000) div count(1)").as("lead_milli_days"))
      monthly
        .withColumn("prev", lag("lead_milli_days", 1).over(Window.orderBy("m_id")))
        .select(col("m_id"), col("n_lines"), col("lead_milli_days"),
          coalesce(col("lead_milli_days") - col("prev"), lit(0L)).as("mom_delta_milli"))
        .orderBy("m_id")
    },

    "template_syndication" -> { (sp, dir) =>
      val fp = graft.util.CacheScope.track(
        Queries20.winnowSel(Tables.documents(sp, dir))
          .select(col("source"), explode(col("sel")).as("f"))
          .distinct())
      val bySrc = fp.groupBy("source").agg(count(lit(1)).as("n_fp"))
      val pairs = fp.as("a").join(fp.as("b"),
          col("a.f") === col("b.f") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared_fp"))
      pairs
        .join(bySrc.select(col("source").as("src_a"), col("n_fp").as("n_a")), "src_a")
        .join(bySrc.select(col("source").as("src_b"), col("n_fp").as("n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("shared_fp"),
          expr("shared_fp * 1000 div least(n_a, n_b)").as("containment_pm"))
        .orderBy("src_a", "src_b")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "journey_trigrams" ->
      s"""WITH tri AS (
         |  SELECT user_id, t1, t2, event_type AS t3 FROM (
         |    SELECT user_id, event_type,
         |      lag(event_type, 2) OVER w AS t1, lag(event_type, 1) OVER w AS t2
         |    FROM events
         |    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t
         |  WHERE t1 IS NOT NULL),
         |counts AS (
         |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         |  FROM tri GROUP BY 1, 2, 3)
         |SELECT CAST(rk AS BIGINT) AS rk, t1, t2, t3, cnt, n_users FROM (
         |  SELECT *, row_number() OVER (ORDER BY cnt DESC, t1, t2, t3) AS rk
         |  FROM counts) r
         |WHERE rk <= $TopTrigrams ORDER BY rk""".stripMargin,

    "dedup_source_bias" -> {
      val norm = graft.functions.TextF.NormalizeTextSql
      s"""WITH keys AS (
         |  SELECT source, doc_id, md5($norm) AS fp FROM documents),
         |kept AS (
         |  SELECT source FROM (
         |    SELECT source, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
         |    FROM keys) t WHERE rk = 1),
         |b AS (SELECT source, CAST(count(*) AS BIGINT) AS n_before FROM keys GROUP BY 1),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_after FROM kept GROUP BY 1)
         |SELECT b.source, b.n_before, a.n_after,
         |  CAST(b.n_before * 1000 // (SELECT sum(n_before) FROM b) AS BIGINT)
         |    AS share_before_pm,
         |  CAST(a.n_after * 1000 // (SELECT sum(n_after) FROM a) AS BIGINT)
         |    AS share_after_pm,
         |  CAST(a.n_after * 1000 // (SELECT sum(n_after) FROM a)
         |    - b.n_before * 1000 // (SELECT sum(n_before) FROM b) AS BIGINT) AS bias_pm
         |FROM b JOIN a ON a.source = b.source ORDER BY b.source""".stripMargin
    },

    "lead_time_trend" ->
      """WITH monthly AS (
        |  SELECT CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT) AS m_id,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum((epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
        |        - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) // 86400000) // count(*)
        |      AS BIGINT) AS lead_milli_days
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1)
        |SELECT m_id, n_lines, lead_milli_days,
        |  CAST(coalesce(lead_milli_days - lag(lead_milli_days) OVER (ORDER BY m_id), 0)
        |    AS BIGINT) AS mom_delta_milli
        |FROM monthly ORDER BY m_id""".stripMargin,

    "template_syndication" -> {
      import graft.functions.TextF
      s"""WITH t AS (
         |  SELECT source, list_transform(${Queries6.shinglesSql(4)}, s -> md5(s)) AS h
         |  FROM (SELECT source, string_split(${TextF.NormalizeTextSql}, ' ') AS w
         |        FROM documents) t0),
         |m AS (
         |  SELECT source,
         |    CASE WHEN len(h) = 0 THEN CAST([] AS VARCHAR[]) ELSE
         |      list_sort(list_distinct(list_transform(
         |        range(1, greatest(len(h) - 4, 1) + 1),
         |        i -> list_min(h[i:i+4]))))
         |    END AS sel
         |  FROM t),
         |fp AS (SELECT DISTINCT source, unnest(sel) AS f FROM m),
         |by_src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS shared_fp
         |  FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.shared_fp,
         |  CAST(p.shared_fp * 1000 // least(na.n_fp, nb.n_fp) AS BIGINT) AS containment_pm
         |FROM pairs p
         |JOIN by_src na ON na.source = p.src_a
         |JOIN by_src nb ON nb.source = p.src_b
         |ORDER BY p.src_a, p.src_b""".stripMargin
    }
  )
}
