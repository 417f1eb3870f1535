package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.PairEngine

/** Round-9 batch #20 — near-dup methodology agreement and declarative data
  * quality:
  *
  *  - `dedup_method_venn`: the three text near-dup detectors the suite
  *    ships — banded MinHash candidates, banded SimHash (Hamming ≤ 3),
  *    df-capped 5-gram Jaccard (≥ 200‰) — intersected over the SAME
  *    corpus into the 7-cell Venn of pair sets. Each method's pair
  *    fragment is the production query's own shared spelling (Spark: the
  *    very `defs` entries; DuckDB: the factored CTE chains), so the cell
  *    counts are the real methods' real disagreement, not a re-derivation.
  *    The table that answers "which detector do we trust, and where do
  *    they diverge" before a keeper policy fires. Cost: the three pair
  *    passes the suite already prices, plus one pair-key aggregation.
  *  - `dq_rule_report`: a declarative rule set evaluated in ONE pass —
  *    six rules (domain, positivity, temporal sanity, referential
  *    integrity) as conditional sums over a single lineitem⟕orders scan
  *    (the left join serves both the ship-before-order rule and the
  *    orphan rule), exploded into the per-rule violation report with
  *    exact milli rates. The contract: adding a rule adds a column to the
  *    aggregate, never a scan.
  */
object Queries100 extends QuerySet {
  private[graft] val MaskLabels: Map[Long, String] = Map(
    1L -> "minhash", 2L -> "simhash", 3L -> "minhash+simhash",
    4L -> "jaccard", 5L -> "minhash+jaccard", 6L -> "simhash+jaccard",
    7L -> "all")

  val defs: Map[String, Q] = Map(
    "dedup_method_venn" -> { (sp, dir) =>
      // r15: one documents scan + ONE tokenization pass feeds all three
      // detectors (the ×10 probe read 4.05× when each method re-tokenized
      // the corpus independently); each pair fragment below is still the
      // production query's own factored builder, so the cell counts remain
      // the real methods' real disagreement.
      val toks = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .select(col("doc_id"), graft.functions.TextF.tokens(col("text")).as("toks")))
      val m = Queries6.minhashPairsOfSigs(Queries6.minhashSigsFromToks(toks))
        .select(col("id_a"), col("id_b"), lit(1L).as("bit"))
      val s = Queries28.simhashPairsOf(toks.select(col("doc_id"),
          graft.functions.TextF.simhash60FromTokens(col("toks")).as("f")))
        .select(col("id_a"), col("id_b"), lit(2L).as("bit"))
      val j = PairEngine.jaccard(toks.select(col("doc_id"), PairEngine.shingleSets(col("toks")).as("sh")))
        .select(col("id_a"), col("id_b"), lit(4L).as("bit"))
      val label = MaskLabels.toSeq.sortBy(_._1).foldRight(lit("?")) {
        case ((k, v), acc) => when(col("mask") === k, v).otherwise(acc)
      }
      m.unionAll(s).unionAll(j)
        .groupBy("id_a", "id_b").agg(sum("bit").as("mask"))
        .groupBy("mask").agg(count(lit(1)).as("n_pairs"))
        .select(col("mask"), label.as("methods"), col("n_pairs"))
        .orderBy("mask")
    },

    "dq_rule_report" -> { (sp, dir) =>
      val li = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
          col("l_extendedprice"), col("l_returnflag"),
          unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
      val ord = Tables.orders(sp, dir).select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"))
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"), "left")
      def viol(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
      val agg = joined.agg(
        count(lit(1)).as("n_checked"),
        viol(col("l_quantity") <= 0).as("v_qty"),
        viol(col("l_discount") < 0 || col("l_discount") > 1).as("v_disc"),
        viol(col("l_extendedprice") <= 0).as("v_price"),
        viol(!col("l_returnflag").isin("A", "N", "R")).as("v_flag"),
        viol(col("odate_us").isNotNull && col("ship_us") < col("odate_us")).as("v_time"),
        viol(col("odate_us").isNull).as("v_orphan"))
      agg.select(col("n_checked"), explode(array(
          struct(lit("1_qty_positive").as("rule"), col("v_qty").as("n_violations")),
          struct(lit("2_discount_range").as("rule"), col("v_disc").as("n_violations")),
          struct(lit("3_price_positive").as("rule"), col("v_price").as("n_violations")),
          struct(lit("4_returnflag_domain").as("rule"), col("v_flag").as("n_violations")),
          struct(lit("5_ship_after_order").as("rule"), col("v_time").as("n_violations")),
          struct(lit("6_order_exists").as("rule"), col("v_orphan").as("n_violations"))))
          .as("r"))
        .select(col("r.rule").as("rule"), col("n_checked"),
          col("r.n_violations").as("n_violations"),
          expr("r.n_violations * 1000 div n_checked").as("violation_milli"))
        .orderBy("rule")
    }
  )

  val oracles: Map[String, String] = Map(
    "dedup_method_venn" -> {
      val maskCase = MaskLabels.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN $k THEN '$v'" }.mkString(" ")
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |${Queries28.SimhashCandCteSql},
         |${LlmQueries.JaccardSharedCteSql},
         |u AS (
         |  SELECT id_a, id_b, 1 AS bit FROM pairs
         |  UNION ALL
         |  SELECT id_a, id_b, 2 FROM cand
         |  WHERE bit_count(xor(fa, fb)) <= ${Queries28.SimhashMaxDist}
         |  UNION ALL
         |  SELECT sh.id_a, sh.id_b, 4
         |  FROM shared sh
         |  JOIN sizes sa ON sa.doc_id = sh.id_a
         |  JOIN sizes sb ON sb.doc_id = sh.id_b
         |  WHERE CAST(round(1000.0 * sh.shared / (sa.n + sb.n - sh.shared)) AS BIGINT)
         |    >= 200
         |), masks AS (
         |  SELECT id_a, id_b, CAST(sum(bit) AS BIGINT) AS mask FROM u GROUP BY 1, 2
         |)
         |SELECT mask, CASE mask $maskCase ELSE '?' END AS methods,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM masks GROUP BY mask ORDER BY mask""".stripMargin
    },

    "dq_rule_report" ->
      s"""WITH j AS (
         |  SELECT l_quantity, l_discount, l_extendedprice, l_returnflag,
         |    epoch_us(l_shipdate) AS ship_us,
         |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS odate_us
         |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_checked,
         |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
         |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v_disc,
         |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_price,
         |    CAST(sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v_flag,
         |    CAST(sum(CASE WHEN odate_us IS NOT NULL AND ship_us < odate_us
         |      THEN 1 ELSE 0 END) AS BIGINT) AS v_time,
         |    CAST(sum(CASE WHEN odate_us IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS v_orphan
         |  FROM j
         |)
         |SELECT rule, n_checked, n_violations,
         |  CAST(n_violations * 1000 // n_checked AS BIGINT) AS violation_milli
         |FROM (
         |  SELECT '1_qty_positive' AS rule, n_checked, v_qty AS n_violations FROM agg
         |  UNION ALL SELECT '2_discount_range', n_checked, v_disc FROM agg
         |  UNION ALL SELECT '3_price_positive', n_checked, v_price FROM agg
         |  UNION ALL SELECT '4_returnflag_domain', n_checked, v_flag FROM agg
         |  UNION ALL SELECT '5_ship_after_order', n_checked, v_time FROM agg
         |  UNION ALL SELECT '6_order_exists', n_checked, v_orphan FROM agg
         |) u ORDER BY rule""".stripMargin
  )
}
