package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #50 — the measurements behind the hardcoded knobs:
  *
  *  - `order_width_hist`: lines-per-order histogram with the p99 by rank
  *    arithmetic — the number that BOUNDS `order_part_affinity`'s
  *    within-order pair join (fan-out ∝ width², so this distribution is
  *    the join's cost model) and sizes any order-grain buffer. One
  *    per-order count, histogram over the tiny width domain.
  *  - `shingle_df_hist`: document-frequency histogram of 3-shingles in
  *    log₂ buckets (bit-length spelling), with the mass above
  *    `ngram_jaccard`'s df ≤ 64 stop-shingle cap reported explicitly —
  *    the measurement that justifies the cap: the self-join's fan-out is
  *    Σ df², so the handful of super-frequent shingles the cap drops
  *    would otherwise dominate the shuffle. The raw synth corpus tops out
  *    at df 7 (every shingle cold), so docs with id ≡ 5 (mod 7) carry a
  *    PLANTED shared footer — its interior shingles land at df ≈ 71,
  *    past the cap, and the saved-pair-mass column measurably fires.
  *    One (shingle) count, then a bounded-bucket rollup.
  */
object Queries78 extends QuerySet {
  private val DfCap = 64L
  private[queries] val FooterPlant = "subscribe to the weekly digest newsletter"

  val defs: Map[String, Q] = Map(
    "order_width_hist" -> { (sp, dir) =>
      val widths = Tables.lineitem(sp, dir)
        .groupBy("l_orderkey").agg(count(lit(1)).as("width"))
      val hist = widths.groupBy("width").agg(count(lit(1)).as("n_orders"))
      val tot = widths.agg(count(lit(1)).as("n"), max("width").as("max_width"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy("width")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      hist
        .withColumn("cum", sum("n_orders").over(wCum))
        .crossJoin(broadcast(tot))
        .select(col("width"), col("n_orders"),
          expr("n_orders * 1000 div n").as("share_milli"),
          (col("cum") >= lit(1) + expr("(99 * (n - 1)) div 100") &&
            col("cum") - col("n_orders") < lit(1) + expr("(99 * (n - 1)) div 100"))
            .as("is_p99_bucket"))
        .orderBy("width")
    },

    "shingle_df_hist" -> { (sp, dir) =>
      val planted = when(col("doc_id") % 7 === 5,
        concat(col("text"), lit(" " + FooterPlant))).otherwise(col("text"))
      val dfs = Tables.documents(sp, dir)
        .select(col("doc_id"), explode(
          array_distinct(TextF.shingles(planted, 3))).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("df"))
      val tot = dfs.agg(count(lit(1)).as("n_shingles"),
        sum(expr("df * df")).as("pair_mass"),
        sum(when(col("df") > DfCap, expr("df * df")).otherwise(0L))
          .as("capped_pair_mass"))
      val hist = dfs
        .groupBy((length(bin(col("df"))) - 1).cast("long").as("log2_df"))
        .agg(count(lit(1)).as("n_shingles_bucket"),
          sum("df").as("occurrences"),
          sum(when(col("df") > DfCap, 1L).otherwise(0L)).as("n_above_cap"))
      hist.crossJoin(broadcast(tot))
        .select(col("log2_df"), col("n_shingles_bucket"), col("occurrences"),
          col("n_above_cap"),
          expr("capped_pair_mass * 1000 div pair_mass").as("cap_saves_milli"))
        .orderBy("log2_df")
    }
  )

  val oracles: Map[String, String] = Map(
    "order_width_hist" ->
      s"""WITH widths AS (
         |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS width
         |  FROM lineitem GROUP BY l_orderkey
         |),
         |hist AS (
         |  SELECT width, CAST(count(*) AS BIGINT) AS n_orders FROM widths GROUP BY width
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, max(width) AS max_width FROM widths
         |),
         |cum AS (
         |  SELECT width, n_orders,
         |    sum(n_orders) OVER (ORDER BY width
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM hist
         |)
         |SELECT c.width, c.n_orders,
         |  CAST(c.n_orders * 1000 // t.n AS BIGINT) AS share_milli,
         |  c.cum >= 1 + (99 * (t.n - 1)) // 100
         |    AND c.cum - c.n_orders < 1 + (99 * (t.n - 1)) // 100 AS is_p99_bucket
         |FROM cum c, tot t ORDER BY c.width""".stripMargin,

    "shingle_df_hist" -> {
      val sh3 = "list_transform(range(1, len(w) - 1), i -> concat(" +
        "list_extract(w, i), ' ', list_extract(w, i + 1), ' ', list_extract(w, i + 2)))"
      s"""WITH dfs AS (
         |  SELECT sh, CAST(count(*) AS BIGINT) AS df FROM (
         |    SELECT doc_id, unnest(list_distinct($sh3)) AS sh
         |    FROM (SELECT doc_id,
         |      string_split(trim(regexp_replace(lower(ptext), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
         |      FROM (SELECT doc_id, CASE WHEN doc_id % 7 = 5
         |        THEN concat(text, ' $FooterPlant') ELSE text END AS ptext
         |        FROM documents) p) t) x
         |  GROUP BY sh
         |),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(df * df) AS BIGINT) AS pair_mass,
         |    CAST(sum(CASE WHEN df > $DfCap THEN df * df ELSE 0 END) AS BIGINT)
         |      AS capped_pair_mass
         |  FROM dfs
         |)
         |SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
         |  CAST(count(*) AS BIGINT) AS n_shingles_bucket,
         |  CAST(sum(df) AS BIGINT) AS occurrences,
         |  CAST(sum(CASE WHEN df > $DfCap THEN 1 ELSE 0 END) AS BIGINT) AS n_above_cap,
         |  CAST(t.capped_pair_mass * 1000 // t.pair_mass AS BIGINT) AS cap_saves_milli
         |FROM dfs, tot t
         |GROUP BY log2_df, t.capped_pair_mass, t.pair_mass
         |ORDER BY log2_df""".stripMargin
    }
  )
}
