package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-12 batch #16 — eval-side leakage, identity signals, and pricing
  * dynamics:
  *
  *  - `benchmark_coverage`: the BENCH-side leakage read — per held-out
  *    benchmark doc, the share of its distinct 8-gram shingles present
  *    anywhere in the training corpus (decontaminate reads the corpus
  *    side: which TRAIN docs hit; this reads which EVAL items are
  *    compromised and how badly — the number an eval-integrity report
  *    quotes). Train shingles key-shrink through a distinct before a
  *    semi-style join; bench side is fixed-size by construction.
  *  - `multi_device_hours`: per-user hours active on ≥ 2 platforms
  *    simultaneously (distinct (hour, platform) rollup → hour census) —
  *    the strongest organic identity-stitching signal: a "user" that is
  *    two devices at once is a shared account or a stitch error.
  *  - `price_stickiness`: how long part prices hold — per part: distinct
  *    observed unit-price levels (cents, quantized per line) vs active
  *    months, rolled up to the catalog read (mean months-per-level in
  *    milli). Repricing cadence; two key-shrinking aggregates.
  */
object Queries173 extends QuerySet {
  private val HourUs = 3600000000L

  val defs: Map[String, Q] = Map(
    "benchmark_coverage" -> { (sp, dir) =>
      val docs = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .withColumn("toks", TextF.tokens(col("text")))
          .withColumn("sh", array_distinct(
            TextF.shinglesFromTokens(col("toks"), Queries10.DecontamK))))
      val trainSh = docs.filter(col("doc_id") % Queries10.BenchMod =!= Queries10.BenchRem)
        .select(explode(col("sh")).as("s")).distinct()
        .withColumn("hit", lit(1L))
      docs.filter(col("doc_id") % Queries10.BenchMod === Queries10.BenchRem)
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .join(trainSh, Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0L))).as("n_covered"))
        .withColumn("coverage_pm", expr("n_covered * 1000 div n_shingles"))
        .orderBy("doc_id")
    },

    "multi_device_hours" -> { (sp, dir) =>
      val hp = Queries2.raw(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $HourUs").as("hour"), col("platform_code"))
        .distinct()
      val perHour = hp.groupBy("user_id", "hour")
        .agg(countDistinct(col("platform_code")).as("n_platforms"))
      perHour.groupBy("user_id")
        .agg(count(lit(1)).as("active_hours"),
          sum(when(col("n_platforms") >= 2, 1L).otherwise(0L)).as("multi_hours"),
          max("n_platforms").as("max_platforms"))
        .withColumn("multi_pm", expr("multi_hours * 1000 div active_hours"))
        .orderBy("user_id")
    },

    "price_stickiness" -> { (sp, dir) =>
      val lines = Tables.lineitem(sp, dir)
        .select(col("l_partkey"),
          (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("m_id"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT) div greatest(CAST(round(l_quantity) AS BIGINT), 1)")
            .as("unit_cents"))
      val perPart = lines.groupBy("l_partkey")
        .agg(countDistinct(col("unit_cents")).as("n_levels"),
          countDistinct(col("m_id")).as("n_months"))
      perPart.agg(count(lit(1)).as("n_parts"),
          sum("n_levels").as("levels_total"),
          sum("n_months").as("months_total"))
        .select(col("n_parts"),
          expr("levels_total * 1000 div n_parts").as("mean_levels_milli"),
          expr("months_total * 1000 div greatest(levels_total, 1)")
            .as("months_per_level_milli"))
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "benchmark_coverage" -> {
      val toks = TextF.TokensSql
      s"""WITH docs AS (
         |  SELECT doc_id, list_distinct(${Queries6.shinglesSql(Queries10.DecontamK)}) AS sh
         |  FROM (SELECT doc_id, $toks AS w FROM documents) t),
         |train AS (
         |  SELECT DISTINCT unnest(sh) AS s FROM docs
         |  WHERE doc_id % ${Queries10.BenchMod} <> ${Queries10.BenchRem}),
         |bench AS (
         |  SELECT doc_id, unnest(sh) AS s FROM docs
         |  WHERE doc_id % ${Queries10.BenchMod} = ${Queries10.BenchRem})
         |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
         |  CAST(sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS coverage_pm
         |FROM bench b LEFT JOIN train t ON t.s = b.s
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin
    },

    // no extra WITH: Synth.withCte already opens the `raw` CTE
    "multi_device_hours" -> Synth.withCte(
      s"""SELECT user_id, CAST(count(*) AS BIGINT) AS active_hours,
         |  CAST(sum(CASE WHEN n_platforms >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS multi_hours,
         |  CAST(max(n_platforms) AS BIGINT) AS max_platforms,
         |  CAST(sum(CASE WHEN n_platforms >= 2 THEN 1 ELSE 0 END) * 1000 // count(*)
         |    AS BIGINT) AS multi_pm
         |FROM (
         |  SELECT user_id, hour, CAST(count(DISTINCT platform_code) AS BIGINT) AS n_platforms
         |  FROM (SELECT DISTINCT user_id, ts_us // $HourUs AS hour, platform_code
         |        FROM raw) hp
         |  GROUP BY 1, 2) per_hour
         |GROUP BY user_id ORDER BY user_id""".stripMargin),

    "price_stickiness" ->
      """WITH lines AS (
        |  SELECT l_partkey,
        |    CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS m_id,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      // greatest(CAST(round(l_quantity) AS BIGINT), 1) AS unit_cents
        |  FROM lineitem),
        |per_part AS (
        |  SELECT l_partkey, CAST(count(DISTINCT unit_cents) AS BIGINT) AS n_levels,
        |    CAST(count(DISTINCT m_id) AS BIGINT) AS n_months
        |  FROM lines GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(n_levels) * 1000 // count(*) AS BIGINT) AS mean_levels_milli,
        |  CAST(sum(n_months) * 1000 // greatest(sum(n_levels), 1) AS BIGINT)
        |    AS months_per_level_milli
        |FROM per_part""".stripMargin
  )
}
