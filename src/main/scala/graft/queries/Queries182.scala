package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.bits

/** Round-13 batch #5 — SLA, basket, and behavioral cross-reads plus two
  * corpus planners:
  *
  *  - `priority_inversion_weeks`: weeks where the MEDIAN fulfilment
  *    latency of 1-URGENT orders exceeds that of 5-LOW — the SLA
  *    inversion audit. Medians come from the integer latency-day
  *    histogram per (week, priority) (value-domain rank arithmetic, the
  *    percentiles_exact rule — never a row-domain sort).
  *  - `cross_category_baskets`: order count by number of DISTINCT part
  *    type-classes in the basket — single-category vs cross-category
  *    shopping mix; broadcast part join + two key-shrinking aggregates.
  *  - `event_affinity_matrix`: pairwise user-level event-type affinity —
  *    lift(a,b) = P(a∧b)/(P(a)P(b)) in exact ppm over per-user presence
  *    flags (10 unordered pairs over the 5-type domain; exact to ~3×10⁹
  *    users, the cross-multiplication bound).
  *  - `candidate_cost_compare`: the dedup pre-flight — for three blocking
  *    strategies (exact fingerprint, 5-token prefix, MinHash band),
  *    bucket count, largest bucket, and the implied candidate-pair cost
  *    Σ c·(c−1)/2. Reads three key-shrinking rollups; nobody pays a pair
  *    join to find out it would have been quadratic.
  *  - `positional_entropy`: Shannon entropy (quantized milli-bits, the
  *    ⌊log₂⌋ transition_entropy spelling) of the token distribution at
  *    positions 1..10 across docs — positionally-anchored template
  *    detection (low entropy at position 1 = shared intros; the
  *    information-theoretic companion of prefix_dup_rate).
  */
object Queries182 extends QuerySet {
  private val DayUs = 86400000000L
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Positions = 1 to 10

  val defs: Map[String, Q] = Map(
    "priority_inversion_weeks" -> { (sp, dir) =>
      val lat = Tables.orders(sp, dir)
        .join(Tables.lineitem(sp, dir)
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(min(expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $DayUs")).as("ship_day")),
          "o_orderkey")
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs div 7").as("week"),
          col("o_orderpriority").as("pr"),
          (col("ship_day") - expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs")).as("lat"))
      val hist = lat.groupBy("week", "pr", "lat").agg(count(lit(1)).as("cnt"))
      val wGrp = Window.partitionBy("week", "pr").orderBy("lat")
      val med = hist
        .withColumn("cum", sum("cnt").over(
          wGrp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum("cnt").over(Window.partitionBy("week", "pr")))
        .filter(expr("cum - cnt < 1 + (n - 1) * 50 div 100 AND 1 + (n - 1) * 50 div 100 <= cum"))
        .select(col("week"), col("pr"), col("lat").as("med"))
      val wide = med.groupBy("week")
        .agg(max(when(col("pr") === "1-URGENT", col("med"))).as("med_urgent"),
          max(when(col("pr") === "5-LOW", col("med"))).as("med_low"))
        .filter(col("med_urgent").isNotNull && col("med_low").isNotNull)
      wide.agg(count(lit(1)).as("n_weeks"),
          sum(when(col("med_urgent") > col("med_low"), 1L).otherwise(0L)).as("n_inversions"))
        .withColumn("inversion_pm", expr("n_inversions * 1000 div n_weeks"))
    },

    "cross_category_baskets" -> { (sp, dir) =>
      val perOrder = Tables.lineitem(sp, dir)
        .join(broadcast(Tables.part(sp, dir).select(col("p_partkey"),
          substring_index(col("p_type"), " ", 1).as("tc"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(countDistinct(col("tc")).as("n_classes"))
      val tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perOrder.groupBy("n_classes").agg(count(lit(1)).as("n_orders"))
        .withColumn("total", sum("n_orders").over(tot)) // ≤ 6 rows
        .withColumn("share_pm", expr("n_orders * 1000 div total"))
        .select("n_classes", "n_orders", "share_pm")
        .orderBy("n_classes")
    },

    "event_affinity_matrix" -> { (sp, dir) =>
      val flags = graft.util.CacheScope.track(
        Tables.events(sp, dir).groupBy("user_id")
          .agg(max(when(col("event_type") === EventTypes.head, 1L).otherwise(0L))
            .as(s"f_${EventTypes.head}"),
            EventTypes.tail.map(t =>
              max(when(col("event_type") === t, 1L).otherwise(0L)).as(s"f_$t")): _*))
      val pairs = for {
        (a, i) <- EventTypes.zipWithIndex; b <- EventTypes.drop(i + 1)
      } yield (a, b)
      val rows = pairs.map { case (a, b) =>
        flags.agg(count(lit(1)).as("n_users"),
            sum(col(s"f_$a")).as("n_a"), sum(col(s"f_$b")).as("n_b"),
            sum(col(s"f_$a") * col(s"f_$b")).as("n_both"))
          .select(lit(s"${a}_and_$b").as("pair"), col("n_users"), col("n_a"),
            col("n_b"), col("n_both"),
            expr("n_both * n_users * 1000000 div greatest(n_a * n_b, 1)").as("lift_ppm"))
      }
      rows.reduce(_.union(_)).orderBy("pair")
    },

    "candidate_cost_compare" -> { (sp, dir) =>
      val docs = graft.util.CacheScope.track(
        Tables.documents(sp, dir)
          .withColumn("toks", TextF.tokens(col("text")))
          .withColumn("sh", array_distinct(TextF.shinglesFromTokens(col("toks"), 3))))
      def stats(name: String, keyed: DataFrame): DataFrame =
        keyed.groupBy("bucket").agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_buckets"), max("c").as("max_bucket"),
            sum(expr("c * (c - 1) div 2")).as("est_pairs"))
          .select(lit(name).as("method"), col("n_buckets"), col("max_bucket"),
            col("est_pairs"))
      val exactB = docs.select(TextF.docFingerprint(col("text")).as("bucket"))
      val prefixB = docs.filter(size(col("toks")) >= 5)
        .select(md5(array_join(slice(col("toks"), 1, 5), " ").cast("binary")).as("bucket"))
      // r16: one fused kernel pass for both seed components
      val cs = TextF.minhashComponents(col("sh"), Seq(0, 1))
      val bandB = docs.filter(size(col("sh")) > 0)
        .select(md5(concat_ws("|", lit("b0"), cs.getItem(0), cs.getItem(1))
          .cast("binary")).as("bucket"))
      stats("exact_fp", exactB)
        .union(stats("minhash_band", bandB))
        .union(stats("prefix5", prefixB))
        .orderBy("method")
    },

    "positional_entropy" -> { (sp, dir) =>
      import sp.implicits._
      val posDf = Positions.map(_.toLong).toDF("pos")
      val at = Tables.documents(sp, dir)
        .select(TextF.tokens(col("text")).as("toks"))
        .crossJoin(broadcast(posDf))
        .filter(size(col("toks")) >= col("pos"))
        .select(col("pos"), element_at(col("toks"), col("pos").cast("int")).as("tok"))
        .groupBy("pos", "tok").agg(count(lit(1)).as("c"))
      val tot = at.groupBy("pos").agg(sum("c").as("n"), count(lit(1)).as("n_types"))
      at.join(tot, "pos")
        .groupBy("pos")
        .agg(max("n").as("n_docs"), max("n_types").as("n_types"),
          sum(col("c") * (bits(col("n")) - bits(col("c")))).as("hq"))
        .withColumn("entropy_mbits", expr("hq * 1000 div n_docs"))
        .select("pos", "n_docs", "n_types", "entropy_mbits")
        .orderBy("pos")
    }
  )

  // ---- DuckDB twins ----

  private val toksSql = TextF.TokensSql
  private val normSql = TextF.NormalizeTextSql

  val oracles: Map[String, String] = Map(
    "priority_inversion_weeks" ->
      s"""WITH lat AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs // 7 AS week,
         |    o_orderpriority AS pr,
         |    s.ship_day - epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS lat
         |  FROM orders JOIN (
         |    SELECT l_orderkey AS o_orderkey,
         |      min(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs) AS ship_day
         |    FROM lineitem GROUP BY 1) s USING (o_orderkey)
         |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
         |hist AS (
         |  SELECT week, pr, lat, CAST(count(*) AS BIGINT) AS cnt,
         |    CAST(sum(count(*)) OVER (PARTITION BY week, pr ORDER BY lat
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(sum(count(*)) OVER (PARTITION BY week, pr) AS BIGINT) AS n
         |  FROM lat GROUP BY 1, 2, 3),
         |med AS (
         |  SELECT week, pr, lat AS med FROM hist
         |  WHERE cum - cnt < 1 + (n - 1) * 50 // 100 AND 1 + (n - 1) * 50 // 100 <= cum),
         |wide AS (
         |  SELECT week,
         |    max(CASE WHEN pr = '1-URGENT' THEN med END) AS med_urgent,
         |    max(CASE WHEN pr = '5-LOW' THEN med END) AS med_low
         |  FROM med GROUP BY 1
         |  HAVING max(CASE WHEN pr = '1-URGENT' THEN med END) IS NOT NULL
         |     AND max(CASE WHEN pr = '5-LOW' THEN med END) IS NOT NULL)
         |SELECT CAST(count(*) AS BIGINT) AS n_weeks,
         |  CAST(sum(CASE WHEN med_urgent > med_low THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
         |  CAST(sum(CASE WHEN med_urgent > med_low THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS inversion_pm
         |FROM wide""".stripMargin,

    "cross_category_baskets" ->
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |    CAST(count(DISTINCT split_part(p_type, ' ', 1)) AS BIGINT) AS n_classes
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1)
        |SELECT n_classes, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(*) * 1000 // (sum(count(*)) OVER ()) AS BIGINT) AS share_pm
        |FROM per_order GROUP BY 1 ORDER BY n_classes""".stripMargin,

    "event_affinity_matrix" -> {
      val flagCols = EventTypes.map(t =>
        s"max(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS f_$t").mkString(", ")
      val pairSelects = (for {
        (a, i) <- EventTypes.zipWithIndex; b <- EventTypes.drop(i + 1)
      } yield
        s"""SELECT '${a}_and_$b' AS pair, CAST(count(*) AS BIGINT) AS n_users,
           |  CAST(sum(f_$a) AS BIGINT) AS n_a, CAST(sum(f_$b) AS BIGINT) AS n_b,
           |  CAST(sum(f_$a * f_$b) AS BIGINT) AS n_both,
           |  CAST(sum(f_$a * f_$b) * count(*) * 1000000
           |    // greatest(sum(f_$a) * sum(f_$b), 1) AS BIGINT) AS lift_ppm
           |FROM flags""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH flags AS (
         |  SELECT user_id, $flagCols FROM events GROUP BY 1)
         |$pairSelects
         |ORDER BY pair""".stripMargin
    },

    "candidate_cost_compare" -> {
      def shingles3 = {
        val parts = (0 until 3).map(j => s"list_extract($toksSql, i + $j)").mkString(", ' ', ")
        s"list_distinct(list_transform(range(1, len($toksSql) - 1), i -> concat($parts)))"
      }
      def statsSel(name: String, keyedCte: String) =
        s"""SELECT '$name' AS method, CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(max(c) AS BIGINT) AS max_bucket,
           |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS est_pairs
           |FROM (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM $keyedCte GROUP BY 1) g"""
          .stripMargin
      s"""WITH exact_b AS (SELECT md5($normSql) AS bucket FROM documents),
         |prefix_b AS (
         |  SELECT md5(array_to_string(list_slice($toksSql, 1, 5), ' ')) AS bucket
         |  FROM documents WHERE len($toksSql) >= 5 AND $normSql <> ''),
         |band_b AS (
         |  SELECT md5(concat('b0', '|',
         |    list_min(list_transform(sh, s -> md5(concat('0:', s)))), '|',
         |    list_min(list_transform(sh, s -> md5(concat('1:', s)))))) AS bucket
         |  FROM (SELECT $shingles3 AS sh FROM documents) t WHERE len(sh) > 0)
         |${statsSel("exact_fp", "exact_b")}
         |UNION ALL
         |${statsSel("minhash_band", "band_b")}
         |UNION ALL
         |${statsSel("prefix5", "prefix_b")}
         |ORDER BY method""".stripMargin
    },

    "positional_entropy" ->
      s"""WITH at_pos AS (
         |  SELECT pos, list_extract(toks, pos) AS tok
         |  FROM (SELECT $toksSql AS toks FROM documents) d
         |  CROSS JOIN (SELECT CAST(unnest([${Positions.mkString(", ")}]) AS BIGINT) AS pos) p
         |  WHERE len(toks) >= pos),
         |counts AS (
         |  SELECT pos, tok, CAST(count(*) AS BIGINT) AS c FROM at_pos GROUP BY 1, 2),
         |tot AS (
         |  SELECT pos, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_types
         |  FROM counts GROUP BY 1)
         |SELECT pos, max(n) AS n_docs, max(n_types) AS n_types,
         |  CAST(sum(c * ((length(bin(n)) - 1) - (length(bin(c)) - 1))) * 1000
         |    // max(n) AS BIGINT) AS entropy_mbits
         |FROM counts JOIN tot USING (pos)
         |GROUP BY pos ORDER BY pos""".stripMargin
  )
}
