package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #36 — experiment trust, seasonality, and the
  * review queue:
  *
  *  - `ab_srm_check`: the Sample-Ratio-Mismatch gate every experimentation
  *    platform runs BEFORE reading a result (`ab_lift`'s assignment is
  *    trusted only if the arms actually split 50/50): one-degree chi²
  *    for an even split, exact in micro units — χ²·1e6 = (n_a−n_b)²·1e6
  *    div (n_a+n_b) — against the 3.84 critical value (p≈0.05). Same
  *    md5-arm spelling as ab_lift, so the gate audits the assignment that
  *    is actually shipped.
  *  - `orders_seasonality`: month-of-year revenue index (month mean vs
  *    overall monthly mean, exact milli by cross-multiplied integer cents)
  *    over the 7-year order history — the classic BI seasonal profile;
  *    one (year, month) aggregation then a 12-row index table.
  *  - `pair_review_sample`: the deterministic labeling queue — k
  *    candidate near-dup pairs drawn by bottom-k of md5(pair), each with
  *    its exact shingle Jaccard (the shared estimator spelling) — a
  *    reproducible, order-independent sample for human QA, mergeable
  *    across partitions exactly like `sample_bottomk`.
  */
object Queries64 extends QuerySet {
  private val ReviewK = 20

  val defs: Map[String, Q] = Map(
    "ab_srm_check" -> { (sp, dir) =>
      val users = Tables.events(sp, dir).select(col("user_id")).distinct()
        .withColumn("arm_a",
          substring(md5(concat(lit("ab"), col("user_id")).cast("binary")), 1, 1) <= "7")
      users.agg(
        sum(when(col("arm_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("arm_a"), 1L).otherwise(0L)).as("n_b"))
        .select(col("n_a"), col("n_b"),
          expr("(n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b)").as("chi2_micro"))
        .withColumn("srm_flag", col("chi2_micro") > 3841459L)
    },

    "orders_seasonality" -> { (sp, dir) =>
      val monthly = Tables.orders(sp, dir)
        .select(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
        .groupBy("y", "m")
        .agg(sum("cents").as("rev"), count(lit(1)).as("n_orders"))
      val byMonth = monthly.groupBy(col("m").cast("long").as("month"))
        .agg(sum("rev").as("rev_cents"), sum("n_orders").as("n_orders"),
          count(lit(1)).as("n_years"))
      val total = byMonth.agg(sum("rev_cents").as("tot"),
        sum("n_years").as("tot_my"))
      byMonth.crossJoin(broadcast(total))
        .select(col("month"), col("n_orders"), col("rev_cents"),
          // index = (month mean per year-month) / (overall mean per
          // year-month): cross-multiplied to integer milli
          expr("rev_cents * tot_my * 1000 div (n_years * tot)").as("index_milli"))
        .orderBy("month")
    },

    "pair_review_sample" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
        .select(col("id_a"), col("id_b"),
          md5(concat(lit("rev"), col("id_a"), lit(":"), col("id_b")).cast("binary")).as("h"))
        .orderBy("h").limit(ReviewK)
      val sh = Tables.documents(sp, dir)
        .select(col("doc_id"),
          array_distinct(graft.functions.TextF.shingles(col("text"), 3)).as("sh"))
      pairs
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("h"), col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("ni"),
          size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("nu"))
        .select(col("h"), col("id_a"), col("id_b"),
          expr("ni * 1000 div nu").as("jaccard_milli"))
        .orderBy("h")
    }
  )

  val oracles: Map[String, String] = Map(
    "ab_srm_check" ->
      s"""WITH arms AS (
         |  SELECT DISTINCT user_id,
         |    substring(md5(concat('ab', user_id)), 1, 1) <= '7' AS arm_a
         |  FROM events
         |),
         |c AS (
         |  SELECT CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN arm_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         |  FROM arms
         |)
         |SELECT n_a, n_b,
         |  CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) AS BIGINT)
         |    AS chi2_micro,
         |  (n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) > 3841459 AS srm_flag
         |FROM c""".stripMargin,

    "orders_seasonality" ->
      s"""WITH monthly AS (
         |  SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev,
         |    CAST(count(*) AS BIGINT) AS n_orders
         |  FROM orders GROUP BY 1, 2
         |),
         |by_month AS (
         |  SELECT CAST(m AS BIGINT) AS month, CAST(sum(rev) AS BIGINT) AS rev_cents,
         |    CAST(sum(n_orders) AS BIGINT) AS n_orders,
         |    CAST(count(*) AS BIGINT) AS n_years
         |  FROM monthly GROUP BY m
         |),
         |tot AS (
         |  SELECT CAST(sum(rev_cents) AS BIGINT) AS tot,
         |    CAST(sum(n_years) AS BIGINT) AS tot_my
         |  FROM by_month
         |)
         |SELECT b.month, b.n_orders, b.rev_cents,
         |  CAST(b.rev_cents * t.tot_my * 1000 // (b.n_years * t.tot) AS BIGINT)
         |    AS index_milli
         |FROM by_month b, tot t ORDER BY b.month""".stripMargin,

    "pair_review_sample" -> {
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |hp AS (
         |  SELECT md5(concat('rev', CAST(id_a AS VARCHAR), ':', CAST(id_b AS VARCHAR)))
         |      AS h, id_a, id_b
         |  FROM pairs ORDER BY h LIMIT $ReviewK
         |),
         |sh AS (
         |  SELECT doc_id, list_distinct(
         |    list_transform(range(1, len(w) - 1), i -> concat(
         |      list_extract(w, i), ' ', list_extract(w, i + 1), ' ',
         |      list_extract(w, i + 2)))) AS sh
         |  FROM (SELECT doc_id, ${graft.functions.TextF.TokensSql} AS w FROM documents) t
         |)
         |SELECT hp.h, hp.id_a, hp.id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) * 1000
         |    // len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS jaccard_milli
         |FROM hp JOIN sh a ON a.doc_id = hp.id_a JOIN sh b ON b.doc_id = hp.id_b
         |ORDER BY h""".stripMargin
    }
  )
}
