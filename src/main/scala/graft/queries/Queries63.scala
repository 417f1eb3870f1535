package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #35 — repetitiveness and behavioral diversity:
  *
  *  - `shingle_compression`: the compression-ratio quality proxy (Gopher
  *    gates on gzip ratio; distinct-shingle share is its deterministic
  *    stand-in): per-doc distinct/total 3-shingle ratio, aggregated per
  *    source — repetitive machine-generated sources sink, diverse prose
  *    floats. Entirely IN-ROW per doc (the codegen'd shingle kernel +
  *    `array_distinct`, no explode/shuffle/join); the only shuffle is the
  *    per-source aggregate. The corpus-side twin of `text_repetition`'s
  *    per-doc gates, reported as a source-level audit. The synth corpus is
  *    near-uniformly diverse (ratios ≈ 1000), so docs with id ≡ 4 (mod 17)
  *    are PLANTED as 8× repeats of their own first six tokens
  *    (text_repetition's pattern) — their sources' min ratio visibly
  *    collapses, proving the detector discriminates.
  *  - `behavior_diversity`: per-user event-mix diversity as QUANTIZED
  *    entropy — Σ cᵢ·(⌊log₂n⌋ − ⌊log₂cᵢ⌋) with floor-log₂ as bit-length
  *    (`length(bin(x)) − 1`, the `tfidf_topterms` spelling) — exactly
  *    portable where `ln` is not; normalized to milli-bits per event.
  *    One (user, type) count + one (user) aggregate, both key-shrinking.
  */
object Queries63 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "shingle_compression" -> { (sp, dir) =>
      val planted = when(col("doc_id") % 17 === 4,
        repeat(concat(array_join(slice(TextF.tokens(col("text")), 1, 6), " "), lit(" ")), 8))
        .otherwise(col("text"))
      val perDoc = Tables.documents(sp, dir)
        .select(col("source"), TextF.shingles(planted, 3).as("sh"))
        .select(col("source"), size(col("sh")).cast("bigint").as("n_sh"),
          size(array_distinct(col("sh"))).cast("bigint").as("n_distinct"))
        .filter(col("n_sh") > 0)
        .withColumn("ratio_milli", expr("n_distinct * 1000 div n_sh"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_sh").as("total_shingles"),
          sum("n_distinct").as("distinct_shingles"),
          expr("CAST(sum(ratio_milli) div count(*) AS BIGINT)").as("mean_ratio_milli"),
          min("ratio_milli").as("min_ratio_milli"))
        .orderBy("source")
    },

    "behavior_diversity" -> { (sp, dir) =>
      val perType = Tables.events(sp, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"))
      val tot = perType.groupBy("user_id")
        .agg(sum("c").as("n_events"), count(lit(1)).as("n_types"))
      perType.join(tot, Seq("user_id"))
        .withColumn("term", col("c") *
          ((length(bin(col("n_events"))) - 1) - (length(bin(col("c"))) - 1)).cast("long"))
        .groupBy("user_id", "n_events", "n_types")
        .agg(sum("term").as("entropy_q"))
        .select(col("user_id"), col("n_events"), col("n_types"), col("entropy_q"),
          expr("entropy_q * 1000 div n_events").as("entropy_milli_bits"))
        .orderBy("user_id")
    }
  )

  private def shinglesSql3(w: String): String =
    s"list_transform(range(1, len($w) - 1), i -> concat(" +
      s"list_extract($w, i), ' ', list_extract($w, i + 1), ' ', list_extract($w, i + 2)))"

  val oracles: Map[String, String] = Map(
    "shingle_compression" ->
      s"""WITH per_doc AS (
         |  SELECT source,
         |    CAST(len(sh) AS BIGINT) AS n_sh,
         |    CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct
         |  FROM (
         |    SELECT source, ${shinglesSql3("w")} AS sh FROM (
         |      SELECT source, string_split(trim(regexp_replace(lower(ptext), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM (
         |        SELECT source, CASE WHEN doc_id % 17 = 4
         |          THEN repeat(concat(array_to_string(list_slice(${TextF.TokensSql}, 1, 6), ' '), ' '), 8)
         |          ELSE text END AS ptext
         |        FROM documents) p) t
         |  ) d
         |  WHERE len(sh) > 0
         |),
         |rated AS (
         |  SELECT *, n_distinct * 1000 // n_sh AS ratio_milli FROM per_doc
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_sh) AS BIGINT) AS total_shingles,
         |  CAST(sum(n_distinct) AS BIGINT) AS distinct_shingles,
         |  CAST(sum(ratio_milli) // count(*) AS BIGINT) AS mean_ratio_milli,
         |  CAST(min(ratio_milli) AS BIGINT) AS min_ratio_milli
         |FROM rated GROUP BY source ORDER BY source""".stripMargin,

    "behavior_diversity" ->
      s"""WITH per_type AS (
         |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2
         |),
         |tot AS (
         |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
         |    CAST(count(*) AS BIGINT) AS n_types
         |  FROM per_type GROUP BY user_id
         |)
         |SELECT t.user_id, t.n_events, t.n_types,
         |  CAST(sum(p.c * ((length(bin(t.n_events)) - 1)
         |    - (length(bin(p.c)) - 1))) AS BIGINT) AS entropy_q,
         |  CAST(sum(p.c * ((length(bin(t.n_events)) - 1)
         |    - (length(bin(p.c)) - 1))) * 1000 // t.n_events AS BIGINT)
         |    AS entropy_milli_bits
         |FROM per_type p JOIN tot t ON p.user_id = t.user_id
         |GROUP BY t.user_id, t.n_events, t.n_types
         |ORDER BY t.user_id""".stripMargin
  )
}
