package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.LayoutF

/** Round-9 batch #19 — `layout_effectiveness`: the measurement that
  * justifies `zorder_layout`. Three physical layouts of the same events —
  * arrival order (files cut at equal row counts over the dense event id),
  * single-key prefix partitioning (64 width-4 x ranges), and Z-order prefix buckets
  * (the zorder_layout spelling, top 3 bits per dimension) — each reduced
  * to per-block min/max statistics, then the file-skipping arithmetic a
  * lakehouse scanner actually does, in CLOSED FORM: a uniform point probe
  * on x reads Σ(x_max−x_min+1)/256 blocks on average, so the expected
  * blocks-read per probe needs no probe join at all, just the block-stat
  * spans (exact milli). Expected shape: arrival prunes nothing on either
  * dimension, the x-sort prunes x and nothing on y, Z-order prunes both —
  * the 2-d pruning argument for paying the Z-shuffle at 100 TB, measured.
  * One narrow scan fans out the three layout tags (one 3N-row tagged
  * aggregation, no self-joins); block counts are ≤ 64 per layout by
  * construction.
  */
object Queries99 extends QuerySet {
  private val ZBits = 8
  private val TopBits = 3
  private val NBlocks = 64L

  val defs: Map[String, Q] = Map(
    "layout_effectiveness" -> { (sp, dir) =>
      val total = Tables.events(sp, dir).agg(count(lit(1)).as("total"))
      val base = Tables.events(sp, dir)
        .select(col("event_id"),
          pmod(col("user_id"), lit(1L << ZBits)).cast("bigint").as("x"),
          pmod(expr("ts_us div 3600000000"), lit(1L << ZBits)).cast("bigint").as("y"))
        .withColumn("z", LayoutF.zInterleave(col("x"), col("y"), ZBits))
        .crossJoin(broadcast(total))
      val tagged = base.select(explode(array(
          struct(lit("arrival").as("layout"),
            expr(s"event_id * $NBlocks div total").as("block")),
          struct(lit("xsort").as("layout"),
            expr(s"x div ${(1L << ZBits) / NBlocks}").as("block")),
          struct(lit("zorder").as("layout"),
            expr(s"z div ${1L << (2 * (ZBits - TopBits))}").as("block")))).as("t"),
          col("x"), col("y"))
        .select(col("t.layout").as("layout"), col("t.block").as("block"),
          col("x"), col("y"))
      val blocks = tagged.groupBy("layout", "block")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
      blocks.groupBy("layout")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("x_max") - col("x_min") + 1).as("sx"),
          sum(col("y_max") - col("y_min") + 1).as("sy"),
          sum((col("x_max") - col("x_min") + 1) * (col("y_max") - col("y_min") + 1))
            .as("sa"))
        .select(col("layout"), col("n_blocks"),
          expr(s"sx * 1000 div ${1L << ZBits}").as("x_read_milli"),
          expr(s"sy * 1000 div ${1L << ZBits}").as("y_read_milli"),
          expr(s"sa * 1000 div ${1L << (2 * ZBits)}").as("point_read_milli"))
        .orderBy("layout")
    }
  )

  val oracles: Map[String, String] = Map(
    "layout_effectiveness" -> {
      val z = LayoutF.zInterleaveSql("x", "y", ZBits)
      s"""WITH base AS (
         |  SELECT event_id,
         |    ((user_id % ${1L << ZBits}) + ${1L << ZBits}) % ${1L << ZBits} AS x,
         |    (((epoch_us(ts) // 3600000000) % ${1L << ZBits}) + ${1L << ZBits})
         |      % ${1L << ZBits} AS y
         |  FROM events
         |), tot AS (SELECT count(*) AS total FROM base),
         |zed AS (SELECT event_id, x, y, $z AS z FROM base),
         |tagged AS (
         |  SELECT 'arrival' AS layout, event_id * $NBlocks // t.total AS block, x, y
         |  FROM zed, tot t
         |  UNION ALL
         |  SELECT 'xsort', x // ${(1L << ZBits) / NBlocks}, x, y FROM zed
         |  UNION ALL
         |  SELECT 'zorder', z // ${1L << (2 * (ZBits - TopBits))}, x, y FROM zed
         |), blocks AS (
         |  SELECT layout, block, count(*) AS n,
         |    min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max
         |  FROM tagged GROUP BY 1, 2
         |)
         |SELECT layout, CAST(count(*) AS BIGINT) AS n_blocks,
         |  CAST(sum(x_max - x_min + 1) * 1000 // ${1L << ZBits} AS BIGINT)
         |    AS x_read_milli,
         |  CAST(sum(y_max - y_min + 1) * 1000 // ${1L << ZBits} AS BIGINT)
         |    AS y_read_milli,
         |  CAST(sum((x_max - x_min + 1) * (y_max - y_min + 1)) * 1000
         |    // ${1L << (2 * ZBits)} AS BIGINT) AS point_read_milli
         |FROM blocks GROUP BY layout ORDER BY layout""".stripMargin
    }
  )
}
