package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions

/** Round-9 batch #45 — the native-HLL plan shapes. `distinct_hll`
  * (Queries91) spells the sketch in SQL: max-rank per (group, bucket)
  * then a per-group harmonic sum — TWO Exchanges. The native
  * `plans.HllRegisters` TypedImperativeAggregate holds all 64 registers
  * in one fixed 64-byte buffer and ships ONE map-side-combined partial
  * per (group, partition) — the `sum`-shaped plan, and the state is a
  * mergeable blob (elementwise max), so sketches REAGGREGATE upward
  * without re-reading raw rows.
  *
  *  - `hll_native`: the same readout as `distinct_hll`, produced by the
  *    native aggregate and pinned to the SAME oracle SQL verbatim — the
  *    driver hash proves the two plans compute identical registers,
  *    estimates and errors (the `bitmap_overlap_grid` plan-equivalence
  *    pattern).
  *  - `hll_reaggregate`: per-(event_type, day) sketches merged to
  *    per-(event_type, week) estimates via `graft_hll_merge` — the
  *    cube-rollup move every sketch warehouse (Druid / ClickHouse
  *    AggregatingMergeTree) is built on. Max is associative, so the
  *    merged registers are bit-identical to direct week sketches; the
  *    oracle computes the week sketch from scratch and the hash proves
  *    the rollup lossless. Exact per-week distincts ride along to
  *    certify the estimate.
  *
  * 100 TB shape: one narrow md5 projection (whole-stage codegen) + one
  * 64-byte-partial shuffle; the reaggregation shuffles only
  * |groups| × 64 bytes. */
object Queries125 extends QuerySet {
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "hll_native" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val sketch = ev.select(col("event_type"), Queries91.hllHash60.as("v"))
        .groupBy("event_type")
        .agg(GraftFunctions.hllRegisters(col("v")).as("regs"))
        .withColumn("sm", GraftFunctions.hllSummary(col("regs")))
      val exact = ev.select(col("event_type"),
          concat(col("user_id").cast("string"), lit(":"),
            expr(s"ts_us div $DayUs").cast("string")).as("k"))
        .groupBy("event_type").agg(countDistinct(col("k")).as("n_exact"))
      sketch.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_exact"),
          col("sm.est_hll").as("est_hll"),
          (lit(64L) - col("sm.n_set")).as("n_zero_registers"),
          // positive-operand integer division only (matches DuckDB //)
          expr("sm.est_hll * 1000 div n_exact - 1000").as("err_milli"))
        .orderBy("event_type")
    },

    "hll_reaggregate" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val daily = ev.select(col("event_type"),
          expr(s"ts_us div $DayUs").as("day"), Queries91.hllHash60.as("v"))
        .groupBy(col("event_type"), col("day"))
        .agg(GraftFunctions.hllRegisters(col("v")).as("regs"))
      val weekly = daily
        .groupBy(col("event_type"), expr("day div 7").as("week"))
        .agg(GraftFunctions.hllMerge(col("regs")).as("regs"))
        .withColumn("sm", GraftFunctions.hllSummary(col("regs")))
      val exact = ev.select(col("event_type"),
          expr(s"ts_us div $DayUs div 7").as("week"),
          concat(col("user_id").cast("string"), lit(":"),
            expr(s"ts_us div $DayUs").cast("string")).as("k"))
        .groupBy("event_type", "week").agg(countDistinct(col("k")).as("n_exact"))
      weekly.join(exact, Seq("event_type", "week"))
        .select(col("event_type"), col("week"), col("n_exact"),
          col("sm.est_hll").as("est_hll"),
          expr("sm.est_hll * 1000 div n_exact - 1000").as("err_milli"))
        .orderBy("event_type", "week")
    }
  )

  val oracles: Map[String, String] = {
    val horner = Queries91.HllHornerSql
    import Queries91.{HllRankBits, HllRankCap, HllM, HllAlphaNumer, HllAlphaDenom}
    Map(
      // pinned VERBATIM to the SQL-plan twin: same registers → same hash
      "hll_native" -> Queries91.oracles("distinct_hll"),

      "hll_reaggregate" ->
        s"""WITH hashed AS (
           |  SELECT event_type, epoch_us(ts) // ${DayUs * 7} AS week,
           |    md5(concat('hll:', user_id, ':', epoch_us(ts) // $DayUs)) AS h
           |  FROM events
           |),
           |br AS (
           |  SELECT event_type, week,
           |    CAST(v // ${1L << HllRankBits} AS BIGINT) AS bucket,
           |    CAST(CASE WHEN v % ${1L << HllRankBits} = 0 THEN ${HllRankBits + 1}
           |         ELSE ${HllRankBits + 1} - length(bin(CAST(v % ${1L << HllRankBits} AS BIGINT)))
           |    END AS BIGINT) AS rank
           |  FROM (SELECT event_type, week, CAST($horner AS BIGINT) AS v FROM hashed) t
           |),
           |regs AS (
           |  SELECT event_type, week, bucket, max(rank) AS r
           |  FROM br GROUP BY event_type, week, bucket
           |),
           |sk AS (
           |  SELECT event_type, week, CAST(count(*) AS BIGINT) AS n_set,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST($HllRankCap - least(r, $HllRankCap) AS INT))
           |      AS BIGINT)
           |      + ($HllM - CAST(count(*) AS BIGINT)) * ${1L << HllRankCap} AS s
           |  FROM regs GROUP BY event_type, week
           |),
           |exact AS (
           |  SELECT event_type, epoch_us(ts) // ${DayUs * 7} AS week,
           |    CAST(count(DISTINCT concat(user_id, ':', epoch_us(ts) // $DayUs)) AS BIGINT)
           |      AS n_exact
           |  FROM events GROUP BY event_type, epoch_us(ts) // ${DayUs * 7}
           |)
           |SELECT sk.event_type, CAST(sk.week AS BIGINT) AS week, exact.n_exact,
           |  CAST($HllAlphaNumer // ($HllAlphaDenom * sk.s) AS BIGINT) AS est_hll,
           |  CAST(($HllAlphaNumer // ($HllAlphaDenom * sk.s)) * 1000
           |    // exact.n_exact - 1000 AS BIGINT) AS err_milli
           |FROM sk JOIN exact
           |  ON exact.event_type = sk.event_type AND exact.week = sk.week
           |ORDER BY sk.event_type, week""".stripMargin
    )
  }
}
