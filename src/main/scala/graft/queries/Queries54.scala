package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #26 — sketch #4 and change detection:
  *
  *  - `heavy_hitters_cms`: Count–Min sketch (Cormode & Muthukrishnan 2005)
  *    over corpus tokens — d×w counter cells built in ONE map-side-combined
  *    aggregation whose key space is the 1,536 cells, not the vocabulary
  *    (partial aggregation collapses every partition to ≤ d·w rows before
  *    the shuffle — THE reason a sketch beats exact counting at 100 TB:
  *    the shuffle is O(d·w) per partition regardless of corpus or vocab
  *    size, and cells are counters, so partial sketches MERGE by addition
  *    across executors/days/restarts like `distinct_kmv`). The report
  *    probes the sketch with the top-K exact tokens and ships estimate,
  *    exact, and overestimate side by side — the certificate column — with
  *    the CMS guarantee est ≥ exact visible row by row. md5-derived bucket
  *    hashing makes the sketch — collisions included — bit-identical on
  *    both engines, so the oracle stays exact.
  *  - `changepoint_detect`: offline change-point detection per event type —
  *    the best two-segment split of the daily-volume series, scored by the
  *    cross-multiplied mean difference |pre_sum·n_suf − suf_sum·n_pre|
  *    (exact integers, no FP variance estimates), argmax over split days
  *    with deterministic ties (earliest day). One (type, day) count is the
  *    only corpus-mass shuffle; the prefix-sum/argmax windows run over the
  *    tiny day table. The deploy-aware cousin of `volume_anomaly`'s
  *    per-day rule: it finds WHEN the level shifted, not which days spike.
  */
object Queries54 extends QuerySet {
  private val DayUs = 86400000000L
  private[graft] val CmsRows = 3
  private[graft] val CmsWidth = 512
  private val TopK = 20

  private[graft] def bucket(j: Int, tok: Column): Column =
    conv(substring(md5(concat(lit(s"cms$j:"), tok)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  private def bucketSql(j: Int, tok: String): String =
    s"CAST(concat('0x', substr(md5(concat('cms$j:', $tok)), 1, 8)) AS BIGINT) % $CmsWidth"

  val defs: Map[String, Q] = Map(
    "heavy_hitters_cms" -> { (sp, dir) =>
      val toks = Tables.documents(sp, dir)
        .select(explode(TextF.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val cells = toks
        .select(explode(array((0 until CmsRows).map(j =>
          struct(lit(j).as("j"), bucket(j, col("w")).as("bucket"))): _*)).as("cell"))
        .groupBy(col("cell.j").as("j"), col("cell.bucket").as("bucket"))
        .agg(count(lit(1)).as("c"))
      val top = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("w")).limit(TopK)
      val probes = top.select(col("w"), col("exact_cnt"),
        explode(array((0 until CmsRows).map(j =>
          struct(lit(j).as("j"), bucket(j, col("w")).as("bucket"))): _*)).as("cell"))
        .select(col("w"), col("exact_cnt"),
          col("cell.j").as("j"), col("cell.bucket").as("bucket"))
      probes.join(broadcast(cells), Seq("j", "bucket"))
        .groupBy("w", "exact_cnt")
        .agg(min("c").as("est_cnt"))
        .select(col("w").as("token"), col("exact_cnt"), col("est_cnt"),
          (col("est_cnt") - col("exact_cnt")).as("over_cnt"))
        .orderBy(col("exact_cnt").desc, col("token"))
    },

    "changepoint_detect" -> { (sp, dir) =>
      val daily = Tables.events(sp, dir)
        .groupBy(col("event_type"), expr(s"ts_us div $DayUs").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val wOrd = Window.partitionBy("event_type").orderBy("day")
      val wAll = Window.partitionBy("event_type")
      val scored = daily
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("pre_sum", sum("cnt").over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("total", sum("cnt").over(wAll))
        .filter(col("rn") < col("n")) // suffix must be non-empty
        .withColumn("score", abs(
          col("pre_sum") * (col("n") - col("rn"))
            - (col("total") - col("pre_sum")) * col("rn")))
      val wBest = Window.partitionBy("event_type")
        .orderBy(col("score").desc, col("day"))
      scored
        .withColumn("rk", row_number().over(wBest))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("day").as("split_day"), col("n").as("n_days"),
          expr("pre_sum * 1000 div rn").as("pre_mean_milli"),
          expr("(total - pre_sum) * 1000 div (n - rn)").as("suf_mean_milli"),
          col("score"))
        .orderBy("event_type")
    }
  )

  val oracles: Map[String, String] = Map(
    "heavy_hitters_cms" -> {
      val cellRows = (0 until CmsRows)
        .map(j => s"SELECT $j AS j, ${bucketSql(j, "w")} AS bucket FROM toks")
        .mkString("\n    UNION ALL\n    ")
      val probeRows = (0 until CmsRows)
        .map(j => s"SELECT w, exact_cnt, $j AS j, ${bucketSql(j, "w")} AS bucket FROM top")
        .mkString("\n    UNION ALL\n    ")
      s"""WITH toks AS (
         |  SELECT w FROM (
         |    SELECT unnest(${TextF.TokensSql}) AS w FROM documents) t
         |  WHERE w <> ''
         |),
         |cells AS (
         |  SELECT j, bucket, CAST(count(*) AS BIGINT) AS c FROM (
         |    $cellRows
         |  ) u GROUP BY j, bucket
         |),
         |top AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks
         |  GROUP BY w ORDER BY exact_cnt DESC, w LIMIT $TopK
         |),
         |probes AS (
         |  $probeRows
         |)
         |SELECT p.w AS token, p.exact_cnt, min(c.c) AS est_cnt,
         |  min(c.c) - p.exact_cnt AS over_cnt
         |FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
         |GROUP BY p.w, p.exact_cnt
         |ORDER BY exact_cnt DESC, token""".stripMargin
    },

    "changepoint_detect" ->
      s"""WITH daily AS (
         |  SELECT event_type, epoch_us(ts) // $DayUs AS day,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2
         |),
         |scored AS (
         |  SELECT event_type, day,
         |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
         |    sum(cnt) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre_sum,
         |    count(*) OVER (PARTITION BY event_type) AS n,
         |    sum(cnt) OVER (PARTITION BY event_type) AS total
         |  FROM daily
         |),
         |cands AS (
         |  SELECT *, abs(pre_sum * (n - rn) - (total - pre_sum) * rn) AS score
         |  FROM scored WHERE rn < n
         |)
         |SELECT event_type, day AS split_day, CAST(n AS BIGINT) AS n_days,
         |  CAST(pre_sum * 1000 // rn AS BIGINT) AS pre_mean_milli,
         |  CAST((total - pre_sum) * 1000 // (n - rn) AS BIGINT) AS suf_mean_milli,
         |  CAST(score AS BIGINT) AS score
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY score DESC, day) AS rk
         |  FROM cands) b
         |WHERE rk = 1 ORDER BY event_type""".stripMargin
  )
}
