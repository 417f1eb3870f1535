package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.plans.GraftFunctions

/** Round-12 batch #3 — the window-top-k optimizer rule + exploratory-stats
  * and corpus-hygiene reads:
  *
  *  - `topk_rewrite`: the engine's SECOND Catalyst optimizer rule
  *    ([[graft.plans.TopKRewrite]]) under the oracle gate — the rank-window
  *    top-k idiom written as PLAIN SQL text, rewritten onto the native
  *    [[graft.plans.TopKRows]] aggregate + posexplode when
  *    `spark.graft.rewriteWindowTopK` is on. Same oracle SEMANTICS as the
  *    window spelling (the count_distinct_rewrite pattern: syntax differs,
  *    plan differs, bits match); the window plan exchanges + sorts every
  *    row, the rewritten plan ships ≤ k pairs per (partition, group).
  *  - `median_polish`: Tukey's median polish of the dow × week revenue
  *    matrix — two full (row, column) sweeps of LOWER-median subtraction
  *    (lower median keeps every state integer; any valid median gives a
  *    valid polish, the variant is pinned on both engines). Row effects
  *    answer "how much of revenue is purely day-of-week", residuals what
  *    the additive model cannot explain. The matrix is CALENDAR-bounded.
  *  - `newsvendor_quantile`: the newsvendor stocking read — for
  *    understock:overstock cost 3:1 the optimal stock is the 75% critical
  *    fractile of daily demand; exact rank arithmetic per order priority
  *    (stock = value at rank ⌈3n/4⌉, the smallest level with F ≥ 3/4),
  *    with the achieved service level replayed against the series.
  *  - `template_mass`: boilerplate share per source — winnowing
  *    fingerprints (the MOSS selection, shared with winnow_fingerprint)
  *    that recur across ≥ 3 docs are "template"; per-source template mass
  *    and the count of mostly-templated docs. The df join is bounded by
  *    the fingerprint table (≪ token table), never all-pairs.
  */
object Queries160 extends QuerySet {
  private val DayUs = 86400000000L
  private val TemplateDf = 3

  /** day index + revenue cents (the Queries158 daily series). */
  private def dailyRevenue(sp: SparkSession, dir: String): DataFrame =
    Tables.orders(sp, dir)
      .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))

  private val DailySql =
    s"""SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
       |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1""".stripMargin

  /** One lower-median sweep: subtract per-`key` lower medians from `v`,
    * returning (updated frame, medians). */
  private def sweep(df: DataFrame, key: String, other: String): (DataFrame, DataFrame) = {
    val med = df
      .withColumn("rk", row_number().over(
        Window.partitionBy(key).orderBy(col("v"), col(other))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(key)))
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col(key), col("v").as("m"))
    (df.join(med, key).withColumn("v", col("v") - col("m")).drop("m"), med)
  }

  val defs: Map[String, Q] = Map(
    "topk_rewrite" -> { (sp, dir) =>
      GraftFunctions.install(sp)
      val prev = sp.conf.getOption("spark.graft.rewriteWindowTopK")
      sp.conf.set("spark.graft.rewriteWindowTopK", "true")
      try {
        Tables.events(sp, dir).createOrReplaceTempView("ev_topk")
        // eager materialization (localCheckpoint) so the rewrite fires
        // while the flag is on; other queries keep the standard plans
        sp.sql(
          s"""SELECT user_id, rk, day, cnt FROM (
             |  SELECT user_id, day, cnt,
             |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, day ASC) AS rk
             |  FROM (SELECT user_id, coalesce(ts_us div $DayUs, -1) AS day,
             |               count(*) AS cnt
             |        FROM ev_topk GROUP BY user_id, coalesce(ts_us div $DayUs, -1)) g
             |) t WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin)
          .localCheckpoint(true)
      } finally prev match {
        case Some(v) => sp.conf.set("spark.graft.rewriteWindowTopK", v)
        case None => sp.conf.unset("spark.graft.rewriteWindowTopK")
      }
    },

    "median_polish" -> { (sp, dir) =>
      val x = dailyRevenue(sp, dir)
        .select((col("day") % 7).as("i"), (col("day") / 7).cast("long").as("j"),
          col("rev").as("v"))
      val (x1, rm1) = sweep(x, "i", "j")
      val (x2, _) = sweep(x1, "j", "i")
      val (x3, rm2) = sweep(x2, "i", "j")
      val (x4, _) = sweep(x3, "j", "i")
      x4.groupBy("i")
        .agg(count(lit(1)).as("n_cells"),
          max(abs(col("v"))).as("max_abs_resid"),
          sum(abs(col("v"))).as("sum_abs_resid"))
        .join(rm1.select(col("i"), col("m").as("m1")), "i")
        .join(rm2.select(col("i"), col("m").as("m2")), "i")
        .select(col("i").as("dow"), (col("m1") + col("m2")).as("row_effect_cents"),
          col("n_cells"), col("max_abs_resid"), col("sum_abs_resid"))
        .orderBy("dow")
    },

    "newsvendor_quantile" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .groupBy(col("o_orderpriority").as("priority"),
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(count(lit(1)).as("demand"))
      val ranked = daily
        .withColumn("rk", row_number().over(
          Window.partitionBy("priority").orderBy(col("demand"), col("day"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("priority")))
      val stock = ranked.filter(col("rk") === expr("(3 * n + 3) div 4"))
        .select(col("priority"), col("demand").as("stock"))
      ranked.join(stock, "priority")
        .groupBy("priority")
        .agg(count(lit(1)).as("n_days"),
          expr("sum(demand) * 1000 div count(1)").as("mean_demand_milli"),
          max("stock").as("stock_q75"),
          expr("sum(CASE WHEN demand <= stock THEN 1 ELSE 0 END) * 1000 div count(1)")
            .as("service_milli"))
        .orderBy("priority")
    },

    "template_mass" -> { (sp, dir) =>
      val fp = graft.util.CacheScope.track(
        Queries20.winnowSel(Tables.documents(sp, dir))
          .select(col("doc_id"), col("source"), explode(col("sel")).as("f")))
      val df = fp.groupBy("f").agg(count(lit(1)).as("df"))
      val perDoc = fp.join(df, "f")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_fp"),
          sum(when(col("df") >= TemplateDf, 1L).otherwise(0L)).as("n_template"))
        .withColumn("mass_permille", expr("n_template * 1000 div n_fp"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_fp").as("total_fp"),
          sum("n_template").as("template_fp"),
          expr("sum(n_template) * 1000 div sum(n_fp)").as("template_mass_permille"),
          sum(when(col("mass_permille") >= 500, 1L).otherwise(0L)).as("templated_docs"))
        .orderBy("source")
    }
  )

  // ---- DuckDB twins ----

  /** One lower-median sweep in SQL: `src` → medians `mRel`, residuals `xRel`. */
  private def sweepSql(src: String, key: String, other: String,
      mRel: String, xRel: String): String =
    s"""$mRel AS (
       |  SELECT $key, v AS m FROM (
       |    SELECT $key, v,
       |      row_number() OVER (PARTITION BY $key ORDER BY v, $other) AS rk,
       |      count(*) OVER (PARTITION BY $key) AS cnt
       |    FROM $src) z
       |  WHERE rk = (cnt + 1) // 2),
       |$xRel AS (
       |  SELECT s.i, s.j, s.v - m.m AS v
       |  FROM $src s JOIN $mRel m ON m.$key = s.$key)""".stripMargin

  val oracles: Map[String, String] = Map(
    // same semantics as the window spelling; the Spark side plans the
    // native aggregate via the TopKRewrite optimizer rule
    "topk_rewrite" ->
      s"""SELECT user_id, rk, day, cnt FROM (
         |  SELECT user_id, day, cnt,
         |    row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, day ASC) AS rk
         |  FROM (SELECT user_id, coalesce(epoch_us(ts) // $DayUs, -1) AS day,
         |               CAST(count(*) AS BIGINT) AS cnt
         |        FROM events GROUP BY 1, 2) g
         |) t WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin,

    "median_polish" ->
      s"""WITH daily AS ($DailySql),
         |x AS (SELECT day % 7 AS i, day // 7 AS j, rev AS v FROM daily),
         |${sweepSql("x", "i", "j", "rm1", "x1")},
         |${sweepSql("x1", "j", "i", "cm1", "x2")},
         |${sweepSql("x2", "i", "j", "rm2", "x3")},
         |${sweepSql("x3", "j", "i", "cm2", "x4")}
         |SELECT x4.i AS dow, rm1.m + rm2.m AS row_effect_cents,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(max(abs(x4.v)) AS BIGINT) AS max_abs_resid,
         |  CAST(sum(abs(x4.v)) AS BIGINT) AS sum_abs_resid
         |FROM x4 JOIN rm1 ON rm1.i = x4.i JOIN rm2 ON rm2.i = x4.i
         |GROUP BY x4.i, rm1.m, rm2.m ORDER BY dow""".stripMargin,

    "newsvendor_quantile" ->
      s"""WITH daily AS (
         |  SELECT o_orderpriority AS priority,
         |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(count(*) AS BIGINT) AS demand
         |  FROM orders GROUP BY 1, 2),
         |ranked AS (
         |  SELECT priority, day, demand,
         |    row_number() OVER (PARTITION BY priority ORDER BY demand, day) AS rk,
         |    count(*) OVER (PARTITION BY priority) AS n
         |  FROM daily),
         |stock AS (
         |  SELECT priority, demand AS stock FROM ranked
         |  WHERE rk = (3 * n + 3) // 4)
         |SELECT r.priority, CAST(count(*) AS BIGINT) AS n_days,
         |  CAST(sum(r.demand) * 1000 // count(*) AS BIGINT) AS mean_demand_milli,
         |  CAST(max(s.stock) AS BIGINT) AS stock_q75,
         |  CAST(sum(CASE WHEN r.demand <= s.stock THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS service_milli
         |FROM ranked r JOIN stock s ON s.priority = r.priority
         |GROUP BY r.priority ORDER BY r.priority""".stripMargin,

    "template_mass" -> {
      // winnow selection spelled exactly as winnow_fingerprint's oracle
      // (Queries20): k=4 shingles, w=5 windows
      s"""WITH t AS (
         |  SELECT doc_id, source, list_transform(${Queries6.shinglesSql(4)}, s -> md5(s)) AS h
         |  FROM (SELECT doc_id, source, string_split(${TextF.NormalizeTextSql}, ' ') AS w
         |        FROM documents) t0
         |), m AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len(h) = 0 THEN CAST([] AS VARCHAR[]) ELSE
         |      list_sort(list_distinct(list_transform(
         |        range(1, greatest(len(h) - 4, 1) + 1),
         |        i -> list_min(h[i:i+4]))))
         |    END AS sel
         |  FROM t
         |), fp AS (SELECT doc_id, source, unnest(sel) AS f FROM m),
         |dfc AS (SELECT f, CAST(count(*) AS BIGINT) AS df FROM fp GROUP BY f),
         |per_doc AS (
         |  SELECT fp.doc_id, fp.source,
         |    CAST(count(*) AS BIGINT) AS n_fp,
         |    CAST(sum(CASE WHEN dfc.df >= $TemplateDf THEN 1 ELSE 0 END) AS BIGINT) AS n_template
         |  FROM fp JOIN dfc ON dfc.f = fp.f
         |  GROUP BY 1, 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_fp) AS BIGINT) AS total_fp,
         |  CAST(sum(n_template) AS BIGINT) AS template_fp,
         |  CAST(sum(n_template) * 1000 // sum(n_fp) AS BIGINT) AS template_mass_permille,
         |  CAST(sum(CASE WHEN n_template * 1000 // n_fp >= 500 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS templated_docs
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin
    }
  )
}
