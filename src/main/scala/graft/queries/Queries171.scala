package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #14 — index diagnostics, journey outcomes, SLA, and the
  * winnowing parameter sweep:
  *
  *  - `ivf_centroid_overlap`: pairwise cosine between the TRAINED IVF
  *    centroids (KMeans.fitMicro, k=8 — the exact integer-micro Lloyd
  *    whose DuckDB twin unrolls the same three iterations) — two cells
  *    reading ≈1 should merge, the resident-index health check behind
  *    ivf_balance_audit's population read. 28 rows; all dots are exact
  *    BIGInt sums over the integer centroids, only the final cosine is
  *    IEEE (identical three ops on both engines).
  *  - `trigram_conversion`: conversion affinity of journey trigrams —
  *    for each top event-type trigram, how often the NEXT event is a
  *    purchase (the outcome overlay on journey_trigrams' frequency
  *    read). Three lags in the same single window pass.
  *  - `sla_attainment`: fulfillment SLA per order priority — share of
  *    lines shipped within 7 / 30 days of the order in per-mille (the
  *    priority ladder's promise-keeping read; lead_time_trend tracks
  *    drift, this reads attainment). One join + bounded rollup.
  *  - `winnow_w_sweep`: the winnowing window-size sweep (w ∈ {3,5,9}) —
  *    selected-fingerprint density vs the ~2/(w+1) theoretical rate, and
  *    the distinct-fingerprint inventory per w: the parameter read that
  *    sizes every winnow-based dedup (winnow_fingerprint, template_mass,
  *    template_syndication). Native WinnowExpression per w; densities
  *    from two key-shrinking aggregates.
  */
object Queries171 extends QuerySet {
  private val Ws = Seq(3, 5, 9)
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "ivf_centroid_overlap" -> { (sp, dir) =>
      import sp.implicits._
      val cents: Seq[Array[Long]] = graft.operators.KMeans.fitMicro(
        Tables.embeddings(sp, dir), "embedding", "vec_id", k = 8, maxIter = 3)
      val rows = for {
        a <- cents.indices; b <- cents.indices if a < b
      } yield {
        val dot = cents(a).indices.foldLeft(0L)((s, i) => s + cents(a)(i) * cents(b)(i))
        val na2 = cents(a).foldLeft(0L)((s, x) => s + x * x)
        val nb2 = cents(b).foldLeft(0L)((s, x) => s + x * x)
        val cos = dot.toDouble / (math.sqrt(na2.toDouble) * math.sqrt(nb2.toDouble))
        // HALF_UP away from zero == both engines' round()
        val cosE6 = java.math.BigDecimal.valueOf(cos * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
        (a.toLong, b.toLong, dot, cosE6)
      }
      rows.toDF("cell_a", "cell_b", "dot_micro2", "cos_e6")
        .orderBy("cell_a", "cell_b")
    },

    "trigram_conversion" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val tri = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("t1", lag("event_type", 3).over(w))
        .withColumn("t2", lag("event_type", 2).over(w))
        .withColumn("t3", lag("event_type", 1).over(w))
        .filter(col("t1").isNotNull)
      tri.groupBy("t1", "t2", "t3")
        .agg(count(lit(1)).as("n_next"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"))
        .withColumn("purchase_pm", expr("n_purchase * 1000 div n_next"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("n_next").desc, col("t1"), col("t2"), col("t3"))))
        .filter(col("rk") <= 25)
        .select(col("rk").cast("long").as("rk"), col("t1"), col("t2"), col("t3"),
          col("n_next"), col("n_purchase"), col("purchase_pm"))
        .orderBy("rk")
    },

    "sla_attainment" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey").as("o_orderkey"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("ship_us"))
      Tables.orders(sp, dir)
        .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("ord_us"))
        .join(li, "o_orderkey")
        .groupBy("priority")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("ship_us") - col("ord_us") <= lit(7L * DayUs), 1L).otherwise(0L))
            .as("n_7d"),
          sum(when(col("ship_us") - col("ord_us") <= lit(30L * DayUs), 1L).otherwise(0L))
            .as("n_30d"))
        .select(col("priority"), col("n_lines"),
          expr("n_7d * 1000 div n_lines").as("within_7d_pm"),
          expr("n_30d * 1000 div n_lines").as("within_30d_pm"))
        .orderBy("priority")
    },

    "winnow_w_sweep" -> { (sp, dir) =>
      val hashed = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .withColumn("h", transform(
            TextF.shinglesFromTokens(TextF.tokens(col("text")), 4),
            s => md5(s.cast("binary"))))
          .select(col("doc_id"), col("h"), size(col("h")).cast("long").as("n_h")))
      val hashTotal = hashed.agg(sum("n_h").as("hash_total"))
      val perW = Ws.map { w =>
        val sels = hashed.withColumn("sel", TextF.winnowMinima(col("h"), w))
        val selStats = sels.agg(sum(size(col("sel")).cast("long")).as("sel_total"))
        val distinctFp = sels.select(explode(col("sel")).as("f"))
          .agg(countDistinct(col("f")).as("distinct_fp"))
        selStats.crossJoin(distinctFp).crossJoin(hashTotal)
          .select(lit(w.toLong).as("w"), col("sel_total"), col("distinct_fp"),
            col("hash_total"),
            expr("sel_total * 1000 div greatest(hash_total, 1)").as("density_pm"))
      }
      perW.reduce(_.union(_)).orderBy("w")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "ivf_centroid_overlap" ->
      s"""WITH ${Queries3.KmeansC3CteSql},
         |cn AS (SELECT cell, CAST(sum(c * c) AS BIGINT) AS n2 FROM c3 GROUP BY cell),
         |dots AS (
         |  SELECT a.cell AS cell_a, b.cell AS cell_b,
         |    CAST(sum(a.c * b.c) AS BIGINT) AS dot_micro2
         |  FROM c3 a JOIN c3 b ON a.i = b.i AND a.cell < b.cell
         |  GROUP BY 1, 2)
         |SELECT d.cell_a, d.cell_b, d.dot_micro2,
         |  CAST(round(CAST(d.dot_micro2 AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) * 1e6)
         |    AS BIGINT) AS cos_e6
         |FROM dots d JOIN cn na ON na.cell = d.cell_a JOIN cn nb ON nb.cell = d.cell_b
         |ORDER BY d.cell_a, d.cell_b""".stripMargin,

    "trigram_conversion" ->
      """WITH tri AS (
        |  SELECT t1, t2, t3, event_type FROM (
        |    SELECT event_type,
        |      lag(event_type, 3) OVER w AS t1,
        |      lag(event_type, 2) OVER w AS t2,
        |      lag(event_type, 1) OVER w AS t3
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t
        |  WHERE t1 IS NOT NULL),
        |counts AS (
        |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_next,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_purchase
        |  FROM tri GROUP BY 1, 2, 3)
        |SELECT CAST(rk AS BIGINT) AS rk, t1, t2, t3, n_next, n_purchase,
        |  CAST(n_purchase * 1000 // n_next AS BIGINT) AS purchase_pm
        |FROM (SELECT *, row_number() OVER (ORDER BY n_next DESC, t1, t2, t3) AS rk
        |      FROM counts) r
        |WHERE rk <= 25 ORDER BY rk""".stripMargin,

    "sla_attainment" ->
      s"""SELECT o.o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
         |      - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= ${7L * DayUs}
         |    THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS within_7d_pm,
         |  CAST(sum(CASE WHEN epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
         |      - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) <= ${30L * DayUs}
         |    THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS within_30d_pm
         |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |GROUP BY 1 ORDER BY priority""".stripMargin,

    "winnow_w_sweep" -> {
      def selSql(w: Int) =
        s"""CASE WHEN len(h) = 0 THEN CAST([] AS VARCHAR[]) ELSE
           |  list_sort(list_distinct(list_transform(
           |    range(1, greatest(len(h) - ${w - 1}, 1) + 1),
           |    i -> list_min(h[i:i+${w - 1}]))))
           |END""".stripMargin
      def perW(w: Int) =
        s"""sels$w AS (SELECT doc_id, ${selSql(w)} AS sel FROM hashed),
           |row$w AS (
           |  SELECT CAST($w AS BIGINT) AS w, s.sel_total, d.distinct_fp, ht.hash_total,
           |    CAST(s.sel_total * 1000 // greatest(ht.hash_total, 1) AS BIGINT) AS density_pm
           |  FROM (SELECT CAST(sum(len(sel)) AS BIGINT) AS sel_total FROM sels$w) s,
           |       (SELECT CAST(count(DISTINCT f) AS BIGINT) AS distinct_fp
           |        FROM (SELECT unnest(sel) AS f FROM sels$w) u) d,
           |       (SELECT CAST(sum(len(h)) AS BIGINT) AS hash_total FROM hashed) ht)""".stripMargin
      s"""WITH hashed AS (
         |  SELECT doc_id, list_transform(${Queries6.shinglesSql(4)}, s -> md5(s)) AS h
         |  FROM (SELECT doc_id, ${TextF.TokensSql} AS w FROM documents) t0),
         |${Ws.map(perW).mkString(",\n")}
         |${Ws.map(w => s"SELECT * FROM row$w").mkString("\nUNION ALL\n")}
         |ORDER BY w""".stripMargin
    }
  )
}
