package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.operators.AsOfJoin

/** Round-7 batch: winnowing fingerprints, edit-distance dedup verification,
  * and two product-analytics operators over the event stream.
  *
  *  - `winnow_fingerprint`: MOSS winnowing (Schleimer et al., SIGMOD 2003) —
  *    per window of w consecutive k-gram hashes keep the minimum; the
  *    selected set is a position-robust document signature that two docs
  *    sharing any sufficiently long substring must overlap on. Computed
  *    entirely per-row with array kernels: ZERO shuffle, no explode — the
  *    narrow projection shape that scan-pipelines at 100 TB.
  *  - `dedup_edit_verify`: MinHash band-collision candidates verified by
  *    exact Levenshtein distance — the verification tier between LSH recall
  *    and ship/drop decisions. Edit distance is O(len²) so it runs ONLY on
  *    the candidate pairs (bounded by LSH collision rate), never all pairs;
  *    the doc side joins by id, so the shuffle carries candidate texts only.
  *  - `markov_transitions`: first-order event-type transition matrix (the
  *    user-journey model product analytics fits): one lag window per user +
  *    one tiny aggregate; exact integer milli probabilities.
  *  - `attribution_last_touch`: last-touch marketing attribution — each
  *    purchase credits the user's latest preceding click's campaign, planned
  *    through graft's NATIVE as-of operator (plans.AsOfJoinPlan: hash-cluster
  *    + sort + one streaming merge pass, O(1) carry state) — the second
  *    production use of the custom Catalyst operator after
  *    weather_asof_native. Reference semantics kin:
  *    enrichments/registry/CampaignAttributionEnrichment.scala ties campaign
  *    to the event that carried it; this operator ties it across events.
  */
object Queries20 extends QuerySet {
  private val WinnowK = 4 // tokens per shingle
  private val WinnowW = 5 // shingle hashes per winnowing window

  /** Winnowing selection over a (doc_id, text) frame: adds `n` (shingle
    * count) and `sel` (the sorted distinct window minima — the fingerprint
    * set) via the native codegen'd O(n) `WinnowExpression`. Shared by the
    * query and the guarantee spec (two docs sharing a ≥ k+w−1-token
    * substring must overlap on `sel`). All per-row kernels — zero shuffle. */
  private[graft] def winnowSel(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", transform(
        TextF.shinglesFromTokens(TextF.tokens(col("text")), WinnowK),
        s => md5(s.cast("binary"))))
      .withColumn("n", size(col("h")))
      .withColumn("sel", TextF.winnowMinima(col("h"), WinnowW))

  /** The composable O(n·w) twin of [[winnowSel]] (sequence → slice →
    * array_min, interpreted lambdas) — kept ONLY as the equivalence
    * reference the native kernel is spec'd against. */
  private[graft] def winnowSelComposed(docs: DataFrame): DataFrame = {
    val d = docs
      .withColumn("h", transform(
        TextF.shinglesFromTokens(TextF.tokens(col("text")), WinnowK),
        s => md5(s.cast("binary"))))
      .withColumn("n", size(col("h")))
    val mins = transform(
      sequence(lit(1), greatest(col("n") - lit(WinnowW - 1), lit(1))),
      i => array_min(slice(col("h"), i, lit(WinnowW))))
    d.withColumn("sel",
      when(col("n") === 0, array().cast("array<string>"))
        .otherwise(array_sort(array_distinct(mins))))
  }

  val defs: Map[String, Q] = Map(
    "winnow_fingerprint" -> { (sp, dir) =>
      winnowSel(Tables.documents(sp, dir))
        .select(
          col("doc_id"),
          col("n").cast("bigint").as("n_shingles"),
          size(col("sel")).cast("bigint").as("n_fp"),
          when(size(col("sel")) === 0, lit(null).cast("string"))
            .otherwise(md5(array_join(col("sel"), "").cast("binary"))).as("winnow_sig"))
        .orderBy("doc_id")
    },

    "dedup_edit_verify" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
      val docs = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.normalizeText(col("text")).as("nt"))
      // candidate pairs are small by LSH design (same assumption as
      // decontaminate's broadcast benchmark): broadcast them so the doc
      // scans stay shuffle-free
      val a = docs.select(col("doc_id").as("id_a"), col("nt").as("ta"))
        .join(broadcast(pairs), Seq("id_a"))
      val verified = docs.select(col("doc_id").as("id_b"), col("nt").as("tb"))
        .join(broadcast(a), Seq("id_b"))
        .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("bigint"))
        .withColumn("maxlen", greatest(length(col("ta")), length(col("tb"))).cast("bigint"))
      verified.select(
          col("id_a"), col("id_b"), col("dist"),
          when(col("maxlen") === 0, lit(1000L))
            .otherwise(expr("(maxlen - dist) * 1000 div maxlen")).as("sim_milli"),
          // is_dup ⇔ dist ≤ 5% of the longer text ⇔ sim_milli ≥ 950 exactly
          when(col("dist") * 20 <= col("maxlen"), lit(1)).otherwise(lit(0)).as("is_dup"))
        .orderBy("id_a", "id_b")
    },

    "markov_transitions" -> { (sp, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val trans = Tables.events(sp, dir)
        .withColumn("prev_type", lag("event_type", 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("cnt"))
      trans
        .withColumn("total", sum(col("cnt")).over(Window.partitionBy("prev_type")))
        .select(col("prev_type"), col("next_type"), col("cnt"),
          expr("cnt * 1000 div total").as("p_milli"))
        .orderBy("prev_type", "next_type")
    },

    "attribution_last_touch" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      // campaign = click's props.k mod 10; same-microsecond clicks per user
      // dedupe to the highest event_id so the as-of pick is deterministic
      val wTie = Window.partitionBy("user_id", "ts_us").orderBy(col("event_id").desc)
      val touches = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"),
          (get_json_object(col("props"), "$.k").cast("bigint") % 10).as("campaign"))
        .withColumn("rk", row_number().over(wTie))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("ts_us").as("touch_us"), col("campaign"))
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
      AsOfJoin.leftAsOfNative(conv, touches,
          keys = Seq("user_id"), leftTime = "ts_us", rightTime = "touch_us",
          valueCols = Seq("campaign"))
        .groupBy(coalesce(col("campaign"), lit(-1L)).as("campaign"))
        .agg(count(lit(1)).as("n_conv"), sum(col("cents")).as("rev_cents"))
        .orderBy("campaign")
    }
  )

  private val normSql = TextF.NormalizeTextSql

  val oracles: Map[String, String] = Map(
    "winnow_fingerprint" -> {
      val w1 = WinnowW - 1
      s"""WITH t AS (
         |  SELECT doc_id, list_transform(${Queries6.shinglesSql(WinnowK)}, s -> md5(s)) AS h
         |  FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents) t0
         |), m AS (
         |  SELECT doc_id, len(h) AS n,
         |    CASE WHEN len(h) = 0 THEN CAST([] AS VARCHAR[]) ELSE
         |      list_sort(list_distinct(list_transform(
         |        range(1, greatest(len(h) - $w1, 1) + 1),
         |        i -> list_min(h[i:i+$w1]))))
         |    END AS sel
         |  FROM t
         |)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_shingles, CAST(len(sel) AS BIGINT) AS n_fp,
         |  CASE WHEN len(sel) = 0 THEN NULL ELSE md5(array_to_string(sel, '')) END AS winnow_sig
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "dedup_edit_verify" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |d AS (SELECT doc_id, $normSql AS nt FROM documents),
         |v AS (
         |  SELECT id_a, id_b,
         |    CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS dist,
         |    CAST(greatest(len(a.nt), len(b.nt)) AS BIGINT) AS maxlen
         |  FROM pairs JOIN d a ON id_a = a.doc_id JOIN d b ON id_b = b.doc_id
         |)
         |SELECT id_a, id_b, dist,
         |  CASE WHEN maxlen = 0 THEN 1000 ELSE (maxlen - dist) * 1000 // maxlen END AS sim_milli,
         |  CASE WHEN dist * 20 <= maxlen THEN 1 ELSE 0 END AS is_dup
         |FROM v ORDER BY id_a, id_b""".stripMargin,

    "markov_transitions" ->
      """WITH s AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type,
        |         event_type AS next_type
        |  FROM events
        |), c AS (
        |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
        |)
        |SELECT prev_type, next_type, cnt,
        |  cnt * 1000 // CAST(sum(cnt) OVER (PARTITION BY prev_type) AS BIGINT) AS p_milli
        |FROM c ORDER BY prev_type, next_type""".stripMargin,

    "attribution_last_touch" ->
      """WITH touches0 AS (
        |  SELECT user_id, epoch_us(ts) AS touch_us, event_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS campaign
        |  FROM events WHERE event_type = 'click'
        |), touches AS (
        |  SELECT user_id, touch_us, campaign FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, touch_us ORDER BY event_id DESC) AS rk
        |    FROM touches0) t WHERE rk = 1
        |), conv AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT coalesce(campaign, -1) AS campaign,
        |  CAST(count(*) AS BIGINT) AS n_conv,
        |  CAST(sum(cents) AS BIGINT) AS rev_cents
        |FROM conv ASOF LEFT JOIN touches
        |  ON conv.user_id = touches.user_id AND touches.touch_us <= conv.ts_us
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
