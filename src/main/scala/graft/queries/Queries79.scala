package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #51 — market structure and traffic shape:
  *
  *  - `supplier_hhi`: the Herfindahl–Hirschman concentration index of
  *    supplier revenue per nation — Σ share², shares in exact ppm
  *    (10⁶ = monopoly; the antitrust-grade spelling, quantized
  *    identically on both engines: square the integer ppm share, then
  *    div 10⁶). Two key-shrinking aggregations (supplier, then nation);
  *    top supplier share rides along for the one-glance read.
  *  - `interarrival_profile`: inter-event gap histogram per type in log₂
  *    seconds buckets — the burstiness profile capacity planning reads
  *    (Poisson traffic decays geometrically across buckets; retry storms
  *    pile into one). Gaps come from per-(type, day) windows — the
  *    day-partitioned compromise that keeps one reducer from owning a
  *    whole type at scale; the ≤ one-per-day cross-midnight gaps are
  *    excluded BY CONSTRUCTION on both engines, so the oracle stays
  *    exact.
  */
object Queries79 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "supplier_hhi" -> { (sp, dir) =>
      val bySupp = Tables.lineitem(sp, dir)
        .groupBy("l_suppkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("cents"))
        .join(Tables.supplier(sp, dir).select(col("s_suppkey").as("l_suppkey"),
          col("s_nationkey").as("nation")), Seq("l_suppkey"))
      val byNation = bySupp.groupBy("nation").agg(sum("cents").as("tot"),
        count(lit(1)).as("n_suppliers"))
      bySupp.join(broadcast(byNation), Seq("nation"))
        .withColumn("share_ppm", expr("cents * 1000000 div tot"))
        .groupBy("nation", "n_suppliers")
        .agg(sum(expr("(share_ppm * share_ppm) div 1000000")).as("hhi_ppm"),
          max("share_ppm").as("top_share_ppm"))
        .select(col("nation").cast("long").as("nation"), col("n_suppliers"),
          col("hhi_ppm"), col("top_share_ppm"))
        .orderBy("nation")
    },

    "interarrival_profile" -> { (sp, dir) =>
      val w = Window.partitionBy("event_type", "day").orderBy("ts_us", "event_id")
      val gaps = Tables.events(sp, dir)
        .select(col("event_type"), expr(s"ts_us div $DayUs").as("day"),
          col("ts_us"), col("event_id"))
        .withColumn("prev", lag("ts_us", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"),
          (length(bin(greatest(lit(1L),
            expr("(ts_us - prev) div 1000000")))) - 1).cast("long").as("log2_gap_s"))
      gaps.groupBy("event_type", "log2_gap_s")
        .agg(count(lit(1)).as("n_gaps"))
        .orderBy("event_type", "log2_gap_s")
    }
  )

  val oracles: Map[String, String] = Map(
    "supplier_hhi" ->
      s"""WITH by_supp AS (
         |  SELECT l.l_suppkey, s.s_nationkey AS nation,
         |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
         |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
         |  GROUP BY l.l_suppkey, s.s_nationkey
         |),
         |by_nation AS (
         |  SELECT nation, CAST(sum(cents) AS BIGINT) AS tot,
         |    CAST(count(*) AS BIGINT) AS n_suppliers
         |  FROM by_supp GROUP BY nation
         |)
         |SELECT CAST(b.nation AS BIGINT) AS nation, n.n_suppliers,
         |  CAST(sum((b.cents * 1000000 // n.tot) * (b.cents * 1000000 // n.tot)
         |    // 1000000) AS BIGINT) AS hhi_ppm,
         |  CAST(max(b.cents * 1000000 // n.tot) AS BIGINT) AS top_share_ppm
         |FROM by_supp b JOIN by_nation n ON n.nation = b.nation
         |GROUP BY b.nation, n.n_suppliers ORDER BY nation""".stripMargin,

    "interarrival_profile" ->
      s"""WITH gaps AS (
         |  SELECT event_type,
         |    CAST(length(bin(greatest(1, (ts_us - prev) // 1000000))) - 1 AS BIGINT)
         |      AS log2_gap_s
         |  FROM (
         |    SELECT event_type, epoch_us(ts) AS ts_us,
         |      lag(epoch_us(ts)) OVER (PARTITION BY event_type, epoch_us(ts) // $DayUs
         |        ORDER BY epoch_us(ts), event_id) AS prev
         |    FROM events) t
         |  WHERE prev IS NOT NULL
         |)
         |SELECT event_type, log2_gap_s, CAST(count(*) AS BIGINT) AS n_gaps
         |FROM gaps GROUP BY 1, 2 ORDER BY event_type, log2_gap_s""".stripMargin
  )
}
