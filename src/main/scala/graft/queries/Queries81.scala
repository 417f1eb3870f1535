package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #1 — calibration & audit operators:
  *
  *  - `price_elasticity`: EXACT distributed OLS — slope of quantity on
  *    discount per return flag, computed entirely in integer moment sums
  *    (x quantized to discount-milli, y integral): slope_milli =
  *    (n·Σxy − Σx·Σy)·1000 / (n·Σx² − (Σx)²) with truncating integer
  *    division. No FP summation anywhere, so the regression is
  *    bit-identical across engines AND partitionings — the recipe for
  *    any least-squares fit at 100 TB (one partial-aggregated moment
  *    pass; magnitudes bounded: |num·1000| ≤ n²·max|xy|·1000 ≈ 2e17 at
  *    sf0.1, well inside BIGINT).
  *  - `canary_scan`: the training-data canary audit (Carlini et al. 2019
  *    "secret sharer"): planted canary tokens are scanned per source and
  *    surfaced as counts + per-source contamination rate (exact milli) —
  *    one narrow regexp projection + one key-shrinking aggregation.
  *  - `quality_agreement`: the 2×2 confusion between the fastText-shaped
  *    linear `quality_classifier` and the rule-based
  *    `text_gopher_quality` gate — filter-stack calibration (how often
  *    the learned and handwritten filters disagree, and in which
  *    direction) from ONE join of two narrow per-doc projections.
  *  - `shard_size_balance`: the audit certifying `shard_export`'s
  *    two-phase prefix-sum sharding actually balances: full-shard
  *    min/max token mass and their exact-milli ratio (a balance_milli
  *    near 1000 is the contract; the tail shard is reported separately,
  *    not averaged in to flatter the number).
  *  - `customer_repeat_cohorts`: acquisition-quarter cohorts × repeat
  *    behavior — customers, repeaters (≥2 orders), exact repeat-rate
  *    milli and mean orders per customer; two key-shrinking
  *    aggregations, no window.
  *  - `simhash_hamming_hist`: the distance distribution over
  *    `simhash_pairs`' verified candidates — how much each extra Hamming
  *    bit of tolerance admits, i.e. the measured threshold-sensitivity
  *    curve for the banded search (reuses the pair set by composition on
  *    both engines).
  */
object Queries81 extends QuerySet {
  private[graft] val CanaryEvery = 13
  private[graft] val CanaryMod = 7
  private[graft] val CanaryKinds = 5

  val defs: Map[String, Q] = Map(
    "price_elasticity" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir).select(
        col("l_returnflag"),
        round(col("l_discount") * 1000).cast("bigint").as("x"),
        round(col("l_quantity")).cast("bigint").as("y"))
      // precondition: every group has x-variance (n·Σx² > (Σx)²) — true
      // for any group spanning ≥2 distinct discounts; a constant-x group
      // has no defined slope (StreamOls emits 0 for that degenerate case)
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          expr("(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx)")
            .as("slope_milli"),
          // intercept back-solves from the same exact moments:
          // ȳ − slope·x̄, all in milli
          expr("(sy * 1000 - (n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx) * sx) div n")
            .as("intercept_milli"))
        .orderBy("l_returnflag")
    },

    "canary_scan" -> { (sp, dir) =>
      // planted canaries (the synth corpus carries none): every 13th doc
      // hiding one of 5 canary tokens — the audit must find exactly these
      val planted = Tables.documents(sp, dir).select(
        col("doc_id"), col("source"),
        when(col("doc_id") % CanaryEvery === CanaryMod,
          concat(col("text"), lit(" CANARY-"), (col("doc_id") % CanaryKinds).cast("string")))
          .otherwise(col("text")).as("text"))
      val scanned = planted.select(col("source"),
        expr("nullif(regexp_extract(text, 'CANARY-[0-9]', 0), '')").as("canary"))
      val perSource = scanned.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("canary").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      scanned.filter(col("canary").isNotNull)
        .groupBy("source", "canary").agg(count(lit(1)).as("n"))
        .join(perSource, Seq("source"))
        .select(col("source"), col("canary"), col("n"),
          expr("n_hits * 1000 div n_docs").as("source_rate_milli"))
        .orderBy("source", "canary")
    },

    "quality_agreement" -> { (sp, dir) =>
      val qc = Queries15.defs("quality_classifier")(sp, dir)
        .select(col("doc_id"), col("keep").as("qc_keep"))
      val gopher = LlmQueries.defs("text_gopher_quality")(sp, dir)
        .select(col("doc_id"), col("gopher_ok"))
      val cells = qc.join(gopher, Seq("doc_id"))
        .groupBy("qc_keep", "gopher_ok").agg(count(lit(1)).as("n_docs"))
      val tot = cells.agg(sum("n_docs").as("total"),
        sum(when(col("qc_keep") === col("gopher_ok"), col("n_docs")).otherwise(0L))
          .as("agree"))
      cells.crossJoin(broadcast(tot))
        .select(col("qc_keep"), col("gopher_ok"), col("n_docs"),
          expr("agree * 1000 div total").as("agreement_milli"))
        .orderBy("qc_keep", "gopher_ok")
    },

    "shard_size_balance" -> { (sp, dir) =>
      val shards = Queries32.defs("shard_export")(sp, dir)
        .select(col("shard_id"), col("n_docs"), col("n_tokens"))
      val last = shards.agg(max("shard_id").as("last_id"))
      val full = shards.crossJoin(broadcast(last)).filter(col("shard_id") < col("last_id"))
      val fullStats = full.agg(
        count(lit(1)).as("n_full_shards"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"),
        sum("n_tokens").as("full_tokens"), sum("n_docs").as("full_docs"))
      val tail = shards.crossJoin(broadcast(last)).filter(col("shard_id") === col("last_id"))
        .select(col("n_tokens").as("tail_tokens"))
      fullStats.crossJoin(tail)
        .select(col("n_full_shards"), col("min_tokens"), col("max_tokens"),
          expr("min_tokens * 1000 div max_tokens").as("balance_milli"),
          col("full_docs"), col("tail_tokens"))
    },

    "customer_repeat_cohorts" -> { (sp, dir) =>
      val perCust = Tables.orders(sp, dir)
        .select(col("o_custkey"),
          (year(col("o_orderdate")) * 10 + quarter(col("o_orderdate"))).cast("long").as("yq"))
        .groupBy("o_custkey")
        .agg(min("yq").as("cohort_yq"), count(lit(1)).as("n_orders"))
      perCust.groupBy("cohort_yq")
        .agg(count(lit(1)).as("n_customers"),
          sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeaters"),
          sum("n_orders").as("n_orders"))
        .select(col("cohort_yq"), col("n_customers"), col("n_repeaters"), col("n_orders"),
          expr("n_repeaters * 1000 div n_customers").as("repeat_milli"),
          expr("n_orders * 1000 div n_customers").as("orders_per_cust_milli"))
        .orderBy("cohort_yq")
    },

    "simhash_hamming_hist" -> { (sp, dir) =>
      val pairs = Queries28.defs("simhash_pairs")(sp, dir).select(col("hamming"))
      val hist = pairs.groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      val tot = hist.agg(sum("n_pairs").as("total"))
      hist.crossJoin(broadcast(tot))
        .withColumn("cum", sum("n_pairs").over(
          org.apache.spark.sql.expressions.Window.orderBy("hamming")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .select(col("hamming"), col("n_pairs"),
          expr("cum * 1000 div total").as("cum_share_milli"))
        .orderBy("hamming")
    }
  )

  val oracles: Map[String, String] = Map(
    "price_elasticity" -> {
      val slope = tdivSql("(n * sxy - sx * sy) * 1000", "(n * sxx - sx * sx)")
      s"""WITH m AS (
         |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS sx,
         |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sy,
         |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
         |           * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sxy,
         |    CAST(sum(CAST(round(l_discount * 1000) AS BIGINT)
         |           * CAST(round(l_discount * 1000) AS BIGINT)) AS BIGINT) AS sxx
         |  FROM lineitem GROUP BY l_returnflag
         |)
         |SELECT l_returnflag, n,
         |  $slope AS slope_milli,
         |  ${tdivSql(s"(sy * 1000 - ($slope) * sx)", "n")} AS intercept_milli
         |FROM m ORDER BY l_returnflag""".stripMargin
    },

    "canary_scan" ->
      s"""WITH planted AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % $CanaryEvery = $CanaryMod
         |         THEN concat(text, ' CANARY-', CAST(doc_id % $CanaryKinds AS VARCHAR))
         |         ELSE text END AS text
         |  FROM documents
         |),
         |scanned AS (
         |  SELECT source, nullif(regexp_extract(text, 'CANARY-[0-9]', 0), '') AS canary
         |  FROM planted
         |),
         |per_source AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN canary IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM scanned GROUP BY source
         |)
         |SELECT s.source, s.canary, CAST(count(*) AS BIGINT) AS n,
         |  CAST(p.n_hits * 1000 // p.n_docs AS BIGINT) AS source_rate_milli
         |FROM scanned s JOIN per_source p ON p.source = s.source
         |WHERE s.canary IS NOT NULL
         |GROUP BY s.source, s.canary, p.n_hits, p.n_docs
         |ORDER BY s.source, s.canary""".stripMargin,

    "quality_agreement" ->
      s"""WITH qc AS (
         |${Queries15.oracles("quality_classifier")}
         |),
         |gopher AS (
         |${LlmQueries.oracles("text_gopher_quality")}
         |),
         |cells AS (
         |  SELECT qc.keep AS qc_keep, gopher.gopher_ok,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM qc JOIN gopher ON qc.doc_id = gopher.doc_id
         |  GROUP BY qc.keep, gopher.gopher_ok
         |),
         |tot AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS total,
         |    CAST(sum(CASE WHEN qc_keep = gopher_ok THEN n_docs ELSE 0 END) AS BIGINT) AS agree
         |  FROM cells
         |)
         |SELECT c.qc_keep, c.gopher_ok, c.n_docs,
         |  CAST(t.agree * 1000 // t.total AS BIGINT) AS agreement_milli
         |FROM cells c, tot t
         |ORDER BY c.qc_keep, c.gopher_ok""".stripMargin,

    "shard_size_balance" ->
      s"""WITH shards AS (
         |${Queries32.oracles("shard_export")}
         |),
         |last AS (SELECT max(shard_id) AS last_id FROM shards),
         |fullsh AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_full_shards,
         |    CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         |    CAST(max(n_tokens) AS BIGINT) AS max_tokens,
         |    CAST(sum(n_docs) AS BIGINT) AS full_docs
         |  FROM shards, last WHERE shard_id < last_id
         |),
         |tail AS (
         |  SELECT CAST(n_tokens AS BIGINT) AS tail_tokens
         |  FROM shards, last WHERE shard_id = last_id
         |)
         |SELECT n_full_shards, min_tokens, max_tokens,
         |  CAST(min_tokens * 1000 // max_tokens AS BIGINT) AS balance_milli,
         |  full_docs, tail_tokens
         |FROM fullsh, tail""".stripMargin,

    "customer_repeat_cohorts" ->
      s"""WITH per_cust AS (
         |  SELECT o_custkey,
         |    CAST(min(year(o_orderdate) * 10 + quarter(o_orderdate)) AS BIGINT) AS cohort_yq,
         |    CAST(count(*) AS BIGINT) AS n_orders
         |  FROM orders GROUP BY o_custkey
         |)
         |SELECT cohort_yq, CAST(count(*) AS BIGINT) AS n_customers,
         |  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeaters,
         |  CAST(sum(n_orders) AS BIGINT) AS n_orders,
         |  CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS repeat_milli,
         |  CAST(sum(n_orders) * 1000 // count(*) AS BIGINT) AS orders_per_cust_milli
         |FROM per_cust GROUP BY cohort_yq ORDER BY cohort_yq""".stripMargin,

    "simhash_hamming_hist" ->
      s"""WITH pairs AS (
         |${Queries28.oracles("simhash_pairs")}
         |),
         |hist AS (
         |  SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM pairs GROUP BY hamming
         |),
         |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM hist)
         |SELECT h.hamming, h.n_pairs,
         |  CAST(sum(h.n_pairs) OVER (ORDER BY h.hamming
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000 // t.total AS BIGINT)
         |    AS cum_share_milli
         |FROM hist h, tot t
         |ORDER BY h.hamming""".stripMargin
  )
}
