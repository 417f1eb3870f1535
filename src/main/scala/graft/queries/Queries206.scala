package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-15 batch #7 — hybrid retrieval fusion, methodology audits, and
  * supplier logistics quantiles:
  *
  *  - `rrf_fusion`: reciprocal-rank fusion (k=60) of two genuinely
  *    different rankers over the embedding corpus — exact-cosine top-5 and
  *    integer-L1 top-5 — scored in exact micro fixed-point
  *    (1e6 div (60+rank)), fused top-3 per query. The hybrid-retrieval
  *    combiner every RAG stack runs; candidate work is query-bounded
  *    (5 broadcast queries × N corpus rows, one pass per ranker).
  *  - `sessionization_method_compare`: gap-based (30-min inactivity)
  *    sessions vs fixed 30-min tumbling windows on the SAME events — the
  *    methodology audit that shows how much session counts and depths are
  *    an artifact of the definition. One user-keyed window pass + one
  *    distinct rollup.
  *  - `semi_anti_composition`: customers with ≥1 urgent-priority order and
  *    ZERO returned line items, per market segment — the left-semi ∘
  *    left-anti composition Catalyst turns into two hash joins with no
  *    row multiplication (EXISTS/NOT EXISTS in the twin).
  *  - `lead_time_quantiles`: per-supplier p50/p90 of order→ship lag days
  *    from the bounded lag-day histogram (cumulative windows partitioned
  *    by supplier over a ≤~130-value domain — never a row sort).
  */
object Queries206 extends QuerySet {
  private val RrfK = 60
  private val SessGapUs = 30L * 60 * 1000 * 1000

  val defs: Map[String, Q] = Map(
    "rrf_fusion" -> { (sp, dir) =>
      val emb = Tables.embeddings(sp, dir)
      val base = graft.util.CacheScope.track(emb
        .select(col("vec_id"), col("embedding"),
          graft.functions.SimF.norm(col("embedding")).as("nrm"),
          expr("transform(embedding, x -> CAST(round(x * 1000000) AS BIGINT))").as("e6")))
      base.count()
      val qs = broadcast(base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qn"), col("e6").as("q6")))
      val cand = base.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("nrm").as("nn"), col("e6").as("n6"))
      val joined = cand.join(qs, col("qid") =!= col("nid"))
      val wCos = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
      val a = joined
        .withColumn("cos", graft.functions.SimF.dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .withColumn("rk", row_number().over(wCos)).filter(col("rk") <= 5)
        .select(col("qid"), col("nid"), col("rk"))
      val wL1 = Window.partitionBy("qid").orderBy(col("l1"), col("nid"))
      val b = joined
        .withColumn("l1", expr(
          "aggregate(zip_with(q6, n6, (x, y) -> abs(x - y)), 0L, (acc, v) -> acc + v)"))
        .withColumn("rk", row_number().over(wL1)).filter(col("rk") <= 5)
        .select(col("qid"), col("nid"), col("rk"))
      val fused = a.unionAll(b)
        .groupBy("qid", "nid")
        .agg(sum(expr(s"1000000 div ($RrfK + rk)")).as("rrf_micro"))
      fused
        .withColumn("rk_fused", row_number().over(
          Window.partitionBy("qid").orderBy(col("rrf_micro").desc, col("nid"))))
        .filter(col("rk_fused") <= 3)
        .select("qid", "rk_fused", "nid", "rrf_micro")
        .orderBy("qid", "rk_fused")
    },

    "sessionization_method_compare" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir).select("user_id", "event_id", "ts_us")
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val gap = ev
        .withColumn("prev_ts", lag("ts_us", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > SessGapUs, 1L)
            .otherwise(0L))
        .agg(sum("new_session").as("n_sessions"), count(lit(1)).as("n_events"))
        .select(lit("gap_30m").as("method"), col("n_sessions"), col("n_events"))
      val fixed = ev
        .select(col("user_id"), expr(s"ts_us div $SessGapUs").as("win"))
        .distinct()
        .agg(count(lit(1)).as("n_sessions"))
        .crossJoin(ev.agg(count(lit(1)).as("n_events")))
        .select(lit("fixed_30m").as("method"), col("n_sessions"), col("n_events"))
      gap.unionAll(fixed)
        .withColumn("events_per_session_milli", expr("n_events * 1000 div n_sessions"))
        .orderBy("method")
    },

    "semi_anti_composition" -> { (sp, dir) =>
      val urgent = Tables.orders(sp, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val returned = Tables.orders(sp, dir)
        .join(Tables.lineitem(sp, dir).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_custkey"))
      val cust = Tables.customer(sp, dir)
        .join(urgent, col("c_custkey") === urgent("o_custkey"), "left_semi")
        .join(returned, col("c_custkey") === returned("o_custkey"), "left_anti")
      cust.groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("seg")
    },

    "lead_time_quantiles" -> { (sp, dir) =>
      val lag0 = Tables.lineitem(sp, dir)
        .join(Tables.orders(sp, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("supp"),
          datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
            .cast("bigint").as("d"))
        .groupBy("supp", "d").agg(count(lit(1)).as("cnt"))
      val cum = lag0
        .withColumn("cum", sum("cnt").over(Window.partitionBy("supp").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cnt").over(Window.partitionBy("supp")))
      val p50 = cum.filter(col("cum") * 2 >= col("n"))
        .groupBy("supp").agg(min("d").as("p50_days"))
      val p90 = cum.filter(col("cum") * 10 >= col("n") * 9)
        .groupBy("supp").agg(min("d").as("p90_days"))
      lag0.groupBy("supp").agg(sum("cnt").as("n_lines"))
        .join(p50, "supp").join(p90, "supp")
        .orderBy("supp")
    }
  )

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> CAST(list_extract($a, i) AS DOUBLE) * CAST(list_extract($b, i) AS DOUBLE)), (x, y) -> x + y)"
  private def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  val oracles: Map[String, String] = Map(
    "rrf_fusion" ->
      s"""WITH base AS (
         |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
         |    list_transform(embedding, x -> CAST(round(x * 1000000) AS BIGINT)) AS e6
         |  FROM embeddings
         |), j AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS nid,
         |    ${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos,
         |    list_reduce(list_transform(range(1, len(q.e6) + 1),
         |      i -> abs(list_extract(q.e6, i) - list_extract(c.e6, i))), (x, y) -> x + y) AS l1
         |  FROM base c, (SELECT * FROM base WHERE vec_id < 5) q
         |  WHERE c.vec_id <> q.vec_id
         |), a AS (
         |  SELECT qid, nid, rk FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rk
         |    FROM j) t WHERE rk <= 5
         |), b AS (
         |  SELECT qid, nid, rk FROM (
         |    SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY l1, nid) AS rk
         |    FROM j) t WHERE rk <= 5
         |), fused AS (
         |  SELECT qid, nid, CAST(sum(1000000 // ($RrfK + rk)) AS BIGINT) AS rrf_micro
         |  FROM (SELECT * FROM a UNION ALL SELECT * FROM b) u
         |  GROUP BY qid, nid
         |)
         |SELECT qid, rk_fused, nid, rrf_micro FROM (
         |  SELECT qid, nid, rrf_micro,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf_micro DESC, nid) AS BIGINT)
         |      AS rk_fused
         |  FROM fused) t
         |WHERE rk_fused <= 3 ORDER BY qid, rk_fused""".stripMargin,

    "sessionization_method_compare" ->
      s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
         |gap AS (
         |  SELECT CAST('gap_30m' AS VARCHAR) AS method,
         |    CAST(sum(ns) AS BIGINT) AS n_sessions, CAST(count(*) AS BIGINT) AS n_events
         |  FROM (
         |    SELECT CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $SessGapUs THEN 1 ELSE 0 END AS ns
         |    FROM (SELECT ts_us, lag(ts_us) OVER (PARTITION BY user_id
         |            ORDER BY ts_us, event_id) AS prev_ts FROM ev) t0) t1
         |),
         |fixed AS (
         |  SELECT CAST('fixed_30m' AS VARCHAR) AS method,
         |    CAST((SELECT count(*) FROM (SELECT DISTINCT user_id, ts_us // $SessGapUs FROM ev) d)
         |      AS BIGINT) AS n_sessions,
         |    CAST((SELECT count(*) FROM ev) AS BIGINT) AS n_events
         |)
         |SELECT method, n_sessions, n_events,
         |  CAST(n_events * 1000 // n_sessions AS BIGINT) AS events_per_session_milli
         |FROM (SELECT * FROM gap UNION ALL SELECT * FROM fixed) u
         |ORDER BY method""".stripMargin,

    "semi_anti_composition" ->
      """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |                  WHERE o_custkey = c_custkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY seg""".stripMargin,

    "lead_time_quantiles" ->
      """WITH lag0 AS (
        |  SELECT l_suppkey AS supp,
        |    CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2
        |), cum AS (
        |  SELECT supp, d, cnt,
        |    CAST(sum(cnt) OVER (PARTITION BY supp ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY supp) AS BIGINT) AS n
        |  FROM lag0
        |), p50 AS (SELECT supp, min(d) AS p50_days FROM cum WHERE cum * 2 >= n GROUP BY supp),
        |p90 AS (SELECT supp, min(d) AS p90_days FROM cum WHERE cum * 10 >= n * 9 GROUP BY supp),
        |tot AS (SELECT supp, CAST(sum(cnt) AS BIGINT) AS n_lines FROM lag0 GROUP BY supp)
        |SELECT supp, n_lines, p50_days, p90_days
        |FROM tot JOIN p50 USING (supp) JOIN p90 USING (supp)
        |ORDER BY supp""".stripMargin
  )
}
