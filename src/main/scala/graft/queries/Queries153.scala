package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.operators.PairEngine

/** Round-9 batch #73 — weighted similarity + pricing psychology:
  *
  *  - `weighted_jaccard_pairs`: the Ruzicka (weighted Jaccard)
  *    refinement of the near-dup gate — Σmin(tfₐ, tf_b)/Σmax over
  *    token MULTISETS, which separates "same vocabulary, same
  *    emphasis" from the set-Jaccard's "same vocabulary" (a doc that
  *    repeats one section scores high on sets, lower on bags).
  *    Exact integers via Σmax = totₐ + tot_b − Σmin, so only shared
  *    tokens join; runs on `operators/PairEngine.jaccard` pairs
  *    (jac ≥ 200), both measures side by side.
  *  - `price_point_analysis`: the charm-pricing read — the cents-ending
  *    distribution of order totals (top endings by mass, the .99-style
  *    share) — `benford_audit`'s LEADING digits complemented by the
  *    TRAILING ones retail actually sets. */
object Queries153 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "weighted_jaccard_pairs" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
        .withColumn("toks", TextF.tokens(col("text")))
      val tf = PairEngine.tokenFreq(docs)
      val tot = tf.groupBy("doc_id").agg(sum("tf").as("tot"))
      // pin: the verified pairs feed both the weighted overlap and the
      // final join spine
      val pairs = graft.util.CacheScope.track(PairEngine.jaccard(
          docs.select(col("doc_id"), PairEngine.shingleSets(col("toks")).as("sh")))
        .select("id_a", "id_b", "jac_permille"))
      val sharedMin = PairEngine.sumMin(pairs, tf, "sum_min")
      pairs
        .join(sharedMin, Seq("id_a", "id_b"), "left")
        .join(tot.select(col("doc_id").as("id_a"), col("tot").as("tot_a")), Seq("id_a"))
        .join(tot.select(col("doc_id").as("id_b"), col("tot").as("tot_b")), Seq("id_b"))
        .withColumn("sum_min", coalesce(col("sum_min"), lit(0L)))
        .select(col("id_a"), col("id_b"), col("jac_permille"), col("sum_min"),
          expr("sum_min * 1000 div (tot_a + tot_b - sum_min)").as("wjac_permille"))
        .orderBy("id_a", "id_b")
    },

    "price_point_analysis" -> { (sp, dir) =>
      val endings = Tables.orders(sp, dir)
        .select(expr("CAST(round(o_totalprice * 100) AS BIGINT) % 100").as("ending"))
        .groupBy("ending").agg(count(lit(1)).as("n_orders"))
      val tot = endings.agg(sum("n_orders").as("n"))
      endings.crossJoin(broadcast(tot))
        .withColumn("share_milli", expr("n_orders * 1000 div n"))
        .withColumn("is_charm",
          when(col("ending") === 99 || col("ending") === 95 || col("ending") === 90, 1L)
            .otherwise(0L))
        .select("ending", "n_orders", "share_milli", "is_charm")
        .orderBy(col("n_orders").desc, col("ending")).limit(20)
    }
  )

  val oracles: Map[String, String] = {
    val toks = TextF.TokensSql
    Map(
      "weighted_jaccard_pairs" ->
        s"""WITH ${LlmQueries.JaccardSharedCteSql},
           |prs AS (
           |  SELECT id_a, id_b,
           |    CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) AS jac_permille
           |  FROM shared
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(round(1000.0 * shared / (sa.n + sb.n - shared)) AS BIGINT) >= 200
           |),
           |tf AS (
           |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, unnest($toks) AS t FROM documents) z
           |  WHERE t <> '' GROUP BY 1, 2
           |),
           |tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot FROM tf GROUP BY doc_id),
           |mins AS (
           |  SELECT p.id_a, p.id_b, CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS sum_min
           |  FROM prs p
           |  JOIN tf ta ON ta.doc_id = p.id_a
           |  JOIN tf tb ON tb.doc_id = p.id_b AND tb.t = ta.t
           |  GROUP BY 1, 2
           |)
           |SELECT p.id_a, p.id_b, p.jac_permille,
           |  coalesce(m.sum_min, 0) AS sum_min,
           |  CAST(coalesce(m.sum_min, 0) * 1000
           |    // (a.tot + b.tot - coalesce(m.sum_min, 0)) AS BIGINT) AS wjac_permille
           |FROM prs p
           |LEFT JOIN mins m ON m.id_a = p.id_a AND m.id_b = p.id_b
           |JOIN tot a ON a.doc_id = p.id_a
           |JOIN tot b ON b.doc_id = p.id_b
           |ORDER BY p.id_a, p.id_b""".stripMargin,

      "price_point_analysis" ->
        s"""WITH e AS (
           |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 100 AS ending,
           |    CAST(count(*) AS BIGINT) AS n_orders
           |  FROM orders GROUP BY 1
           |),
           |tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM e)
           |SELECT ending, n_orders,
           |  CAST(n_orders * 1000 // tot.n AS BIGINT) AS share_milli,
           |  CAST(CASE WHEN ending IN (99, 95, 90) THEN 1 ELSE 0 END AS BIGINT) AS is_charm
           |FROM e, tot
           |ORDER BY n_orders DESC, ending LIMIT 20""".stripMargin
    )
  }
}
