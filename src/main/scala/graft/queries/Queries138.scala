package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 batch #58 — resharding economics + fulfilment splits:
  *
  *  - `shard_rebalance_audit`: what fraction of the corpus MOVES when
  *    shards grow 8 → 9, under three assignment policies — the
  *    systems lesson in one table: `mod` (hash % k) reshuffles ≈ 8/9 of
  *    all docs, `range` (equal hash ranges) still moves ≈ 1/2 (every
  *    boundary shifts), `rendezvous` (highest-random-weight, Thaler &
  *    Ravishankar) moves EXACTLY the docs the new shard wins ≈ 1/9 —
  *    the minimum possible. All three are pure md5 integer arithmetic
  *    (15-nibble values, first-match CASE argmax so ties resolve
  *    identically on both engines), measured exactly in milli.
  *  - `shipment_split_profile`: how fragmented is order fulfilment —
  *    per order, the number of distinct ship dates and the first→last
  *    span; rolled up per split count with exact mean/max span. Two
  *    key-shrinking aggregations. */
object Queries138 extends QuerySet {
  private val M = 1L << 60
  private val DayUs = 86400000000L

  private def h60(tag: String): Column =
    conv(substring(md5(concat(lit(tag), col("doc_id").cast("string"))
      .cast("binary")), 1, 15), 16, 10).cast("long")

  val defs: Map[String, Q] = Map(
    "shard_rebalance_audit" -> { (sp, dir) =>
      val base = Tables.documents(sp, dir).select(col("doc_id"))
        .withColumn("h", h60("shard:"))
      val withRv = (0 to 8).foldLeft(base) { (df, i) =>
        df.withColumn(s"v$i", h60(s"shard:$i:"))
      }
      def rangeIdx(k: Int): Column =
        least(expr(s"h div ${M / k}"), lit((k - 1).toLong))
      def winner(k: Int): Column = {
        val vs = (0 until k).map(i => col(s"v$i"))
        val mx = greatest(vs: _*)
        (0 until k).map(i => when(col(s"v$i") === mx, lit(i.toLong)))
          .reduceRight(_ otherwise _)
      }
      val scored = withRv.select(
        (expr("h % 8") =!= expr("h % 9")).cast("long").as("mod_moved"),
        (rangeIdx(8) =!= rangeIdx(9)).cast("long").as("range_moved"),
        (winner(9) =!= winner(8)).cast("long").as("rv_moved"))
      val agg = scored.agg(count(lit(1)).as("n_docs"),
        sum("mod_moved").as("mod_m"), sum("range_moved").as("range_m"),
        sum("rv_moved").as("rv_m"))
      Seq(("mod", "mod_m"), ("range", "range_m"), ("rendezvous", "rv_m")).map {
        case (name, c) =>
          agg.select(lit(name).as("policy"), col("n_docs"),
            col(c).as("n_moved"), expr(s"$c * 1000 div n_docs").as("moved_milli"))
      }.reduce(_ unionAll _).orderBy("policy")
    },

    "shipment_split_profile" -> { (sp, dir) =>
      val per = Tables.lineitem(sp, dir)
        .select(col("l_orderkey"),
          expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $DayUs").as("d"))
        .groupBy("l_orderkey")
        .agg(countDistinct(col("d")).as("n_shipments"),
          (max("d") - min("d")).as("span_days"))
      per.groupBy("n_shipments")
        .agg(count(lit(1)).as("n_orders"),
          expr("sum(span_days) div count(1)").as("mean_span_days"),
          max("span_days").as("max_span_days"))
        .orderBy("n_shipments")
    }
  )

  val oracles: Map[String, String] = {
    // 15-nibble md5 value of a pre-materialized md5-string column
    def fold(c: String): String =
      (1 to 15).map(i => Queries15.nibSql(s"substr($c, $i, 1)"))
        .reduceLeft((acc, n) => s"(CAST($acc AS BIGINT) * 16 + $n)")
    Map(
      "shard_rebalance_audit" -> {
        val mCols = (("m", "concat('shard:', CAST(doc_id AS VARCHAR))") +:
          (0 to 8).map(i => (s"m$i", s"concat('shard:$i:', CAST(doc_id AS VARCHAR))")))
          .map { case (n, e) => s"md5($e) AS $n" }.mkString(",\n    ")
        val vCols = (("h", "m") +: (0 to 8).map(i => (s"v$i", s"m$i")))
          .map { case (n, c) => s"CAST(${fold(c)} AS BIGINT) AS $n" }.mkString(",\n    ")
        def rangeIdx(k: Int) = s"least(h // ${M / k}, ${k - 1})"
        def winner(k: Int) = {
          val mx = (0 until k).map(i => s"v$i").mkString("greatest(", ", ", ")")
          (0 until k).map(i => s"WHEN v$i = $mx THEN $i").mkString("CASE ", " ", " END")
        }
        s"""WITH hs AS (
           |  SELECT doc_id,
           |    $mCols
           |  FROM documents
           |),
           |vals AS (
           |  SELECT doc_id,
           |    $vCols
           |  FROM hs
           |),
           |scored AS (
           |  SELECT
           |    CASE WHEN h % 8 <> h % 9 THEN 1 ELSE 0 END AS mod_moved,
           |    CASE WHEN ${rangeIdx(8)} <> ${rangeIdx(9)} THEN 1 ELSE 0 END AS range_moved,
           |    CASE WHEN (${winner(9)}) <> (${winner(8)}) THEN 1 ELSE 0 END AS rv_moved
           |  FROM vals
           |),
           |agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(mod_moved) AS BIGINT) AS mod_m,
           |    CAST(sum(range_moved) AS BIGINT) AS range_m,
           |    CAST(sum(rv_moved) AS BIGINT) AS rv_m
           |  FROM scored
           |)
           |SELECT policy, n_docs, n_moved,
           |  CAST(n_moved * 1000 // n_docs AS BIGINT) AS moved_milli
           |FROM (
           |  SELECT 'mod' AS policy, n_docs, mod_m AS n_moved FROM agg
           |  UNION ALL SELECT 'range', n_docs, range_m FROM agg
           |  UNION ALL SELECT 'rendezvous', n_docs, rv_m FROM agg
           |) t ORDER BY policy""".stripMargin
      },

      "shipment_split_profile" ->
        s"""WITH per AS (
           |  SELECT l_orderkey,
           |    CAST(count(DISTINCT epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs)
           |      AS BIGINT) AS n_shipments,
           |    CAST(max(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs)
           |      - min(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // $DayUs) AS BIGINT)
           |      AS span_days
           |  FROM lineitem GROUP BY 1
           |)
           |SELECT n_shipments, CAST(count(*) AS BIGINT) AS n_orders,
           |  CAST(sum(span_days) // count(*) AS BIGINT) AS mean_span_days,
           |  max(span_days) AS max_span_days
           |FROM per GROUP BY 1 ORDER BY n_shipments""".stripMargin
    )
  }
}
