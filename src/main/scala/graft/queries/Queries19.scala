package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.operators.AsOfJoin

/** Round-7 native-operator demonstration plus one curation score:
  *
  *  - `weather_asof_native`: the weather as-of lookup planned through
  *    graft's custom Catalyst operator (`plans.AsOfJoinPlan` →
  *    `AsOfJoinExec`: hash-cluster + sort both sides, then a per-partition
  *    streaming merge with O(1) carry state) instead of the union+window
  *    composition. Same inputs, same oracle SQL, same rows as
  *    `weather_asof` — the operator earns its place by the PLAN (no union,
  *    no window buffer, no tag columns), not by different semantics.
  *  - `ngram_novelty`: per-doc fraction of distinct 3-shingles FIRST seen
  *    in that doc (corpus order = doc_id) — the novelty score
  *    diversity-ordered data selection ranks by. One shuffle on the
  *    shingle key (min-owner window), one doc-level aggregate; exact
  *    integer milli-units.
  */
object Queries19 extends QuerySet {
  /** The weather observation dim — ONE definition for both weather_asof
    * (Queries2, composed) and weather_asof_native (below): the two queries
    * must stay row-identical, so the formula lives only here. */
  private[queries] def weatherObs(sp: SparkSession): DataFrame =
    sp.range(0, 7440)
      .select((col("id") % 10).as("station"), expr("id div 10").as("h"))
      .filter((col("station") + col("h")) % 3 =!= 0)
      .select(
        col("station"),
        ((lit(1704067200L) + col("h") * 3600L) * 1000000L).as("obs_us"),
        ((col("station") * 37 + col("h") * 17) % 400 - 100).as("temp_dd"))

  val defs: Map[String, Q] = Map(
    "weather_asof_native" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
        .select(col("event_id"), (col("user_id") % 10).as("station"), col("ts_us"))
      AsOfJoin.leftAsOfNative(ev, weatherObs(sp),
          keys = Seq("station"), leftTime = "ts_us", rightTime = "obs_us",
          valueCols = Seq("temp_dd"))
        .select(col("event_id"), col("station"), col("temp_dd"))
        .orderBy("event_id")
    },

    "ngram_novelty" -> { (sp, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sh = Tables.documents(sp, dir)
        .select(col("doc_id"),
          explode(array_distinct(
            TextF.shinglesFromTokens(TextF.tokens(col("text")), 3))).as("sh"))
      // min-owner window: ONE shuffle on the shingle key; no self-join
      val owned = sh.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy("sh")))
      owned.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("n_novel * 1000 div n_shingles").as("novelty_milli"))
        .orderBy("doc_id")
    }
  )

  /** SQL twin of [[weatherObs]] — shared by both weather oracles. */
  private[queries] val WeatherObsCteSql: String =
    """obs AS (
      |  SELECT i % 10 AS station,
      |         (1704067200 + (i // 10) * 3600) * 1000000 AS obs_us,
      |         ((i % 10) * 37 + (i // 10) * 17) % 400 - 100 AS temp_dd
      |  FROM range(0, 7440) t(i)
      |  WHERE ((i % 10) + (i // 10)) % 3 <> 0
      |)""".stripMargin

  // same rows as weather_asof, via DuckDB's own ASOF LEFT JOIN
  val oracles: Map[String, String] = Map(
    "weather_asof_native" ->
      s"""WITH $WeatherObsCteSql, ev AS (
         |  SELECT event_id, user_id % 10 AS station, epoch_us(ts) AS ts_us FROM events
         |)
         |SELECT ev.event_id, ev.station, obs.temp_dd
         |FROM ev ASOF LEFT JOIN obs
         |  ON ev.station = obs.station AND obs.obs_us <= ev.ts_us
         |ORDER BY ev.event_id""".stripMargin,

    "ngram_novelty" -> {
      val shingles = {
        val parts = (0 until 3).map(j => s"list_extract(w, i + $j)").mkString(", ' ', ")
        s"list_transform(range(1, len(w) - 1), i -> concat($parts))"
      }
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct($shingles)) AS sh
         |  FROM (SELECT doc_id, ${TextF.TokensSql} AS w FROM documents) t
         |), owned AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sh) AS first_doc FROM sh
         |)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000
         |    // CAST(count(*) AS BIGINT) AS novelty_milli
         |FROM owned GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }
  )
}
