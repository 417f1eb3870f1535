package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-12 batch #7 — crawl/shard planning and calibration reads:
  *
  *  - `frontier_budget`: the crawl-frontier politeness budget — distinct
  *    (domain, doc) candidates from the link graph, ≤ 3 admitted per
  *    domain (rank by doc_id), admitted/deferred counts per domain: the
  *    scheduling read over text_link_graph's reputation table. One
  *    distinct + one rank window, both keyed by domain.
  *  - `multimodal_shard_plan`: byte-offset sharding of binary media blobs
  *    — cumulative byte offsets over the blob sequence, shard = offset
  *    div budget (a blob belongs to the shard its first byte lands in,
  *    exactly how size-budgeted shard writers cut); per-shard doc count,
  *    byte mass, and utilization. The binary twin of shard_export's
  *    token-budget prefix sums — same two-phase prefix-sum shape at
  *    scale (partition-local sums + tiny offset table).
  *  - `dow_rank_stability`: Kendall-τ rank agreement of day-of-week
  *    revenue between the first and second calendar halves — 21 exact
  *    concordant/discordant pair comparisons over a 7-row profile (the
  *    bounded-domain Kendall: all-pairs is the RIGHT plan when the
  *    domain is 7 rows, never the raw series). τ in exact milli-units.
  *  - `embedding_clip_calibration`: per-dimension p1/p99 clip bounds +
  *    clipped-mass share — the calibration table an int8 quantizer
  *    (ann_int8, quant_bits_sweep) consumes; exact rank quantiles per
  *    dimension (64 hash partitions), values in e6 fixed-point. At
  *    100 TB the per-dim rank window becomes a per-dim sketch or
  *    sample — the table shape (one row per dimension) is what ships.
  */
object Queries164 extends QuerySet {
  private val Budget = 3 // frontier: links admitted per domain
  private val ShardBytes = 32768L
  private val DayUs = 86400000000L

  val defs: Map[String, Q] = Map(
    "frontier_budget" -> { (sp, dir) =>
      val cand = Queries163.linkEdges(sp, dir)
        .select("domain", "doc_id").distinct()
      val ranked = cand.withColumn("rk",
        row_number().over(Window.partitionBy("domain").orderBy("doc_id")))
      ranked.groupBy("domain")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("rk") <= Budget, 1L).otherwise(0L)).as("n_admitted"),
          sum(when(col("rk") > Budget, 1L).otherwise(0L)).as("n_deferred"))
        .orderBy("domain")
    },

    "multimodal_shard_plan" -> { (sp, dir) =>
      val before = Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(sp, dir)
        .select(col("doc_id"), length(col("text").cast("binary")).cast("long").as("n_bytes"))
        .withColumn("off_b", coalesce(sum("n_bytes").over(before), lit(0L)))
        .withColumn("shard_id", expr(s"off_b div $ShardBytes"))
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_bytes").as("bytes"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .withColumn("util_permille", expr(s"bytes * 1000 div $ShardBytes"))
        .orderBy("shard_id")
    },

    "dow_rank_stability" -> { (sp, dir) =>
      val daily = Tables.orders(sp, dir)
        .groupBy(expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $DayUs").as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
      val mid = daily.agg(expr("(min(day) + max(day)) div 2").as("mid"))
      val halves = daily.crossJoin(broadcast(mid))
        .groupBy((col("day") % 7).as("dow"))
        .agg(sum(when(col("day") <= col("mid"), col("rev")).otherwise(0L)).as("rev1"),
          sum(when(col("day") > col("mid"), col("rev")).otherwise(0L)).as("rev2"))
      val ranked = halves.select(col("dow"),
        row_number().over(Window.orderBy("rev1", "dow")).as("r1"),
        row_number().over(Window.orderBy("rev2", "dow")).as("r2"))
      val pairs = ranked.as("a").join(ranked.as("b"), col("a.dow") < col("b.dow"))
        .select((((col("a.r1") - col("b.r1")) > 0) === ((col("a.r2") - col("b.r2")) > 0))
          .cast("long").as("conc"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          sum("conc").as("concordant"),
          sum(expr("1 - conc")).as("discordant"))
        .withColumn("tau_milli", expr("(concordant - discordant) * 1000 div n_pairs"))
    },

    "embedding_clip_calibration" -> { (sp, dir) =>
      val vals = Tables.embeddings(sp, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"), col("vec_id"),
          col("v").cast("double").as("v"))
      val ranked = vals
        .withColumn("rk", row_number().over(
          Window.partitionBy("dim").orderBy("v", "vec_id")))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("dim")))
        .withColumn("lo_rk", expr("greatest(1, (n * 1 + 99) div 100)"))
        .withColumn("hi_rk", expr("greatest(1, (n * 99 + 99) div 100)"))
      val p1 = ranked.filter(col("rk") === col("lo_rk"))
        .select(col("dim"), col("v").as("p1"))
      val p99 = ranked.filter(col("rk") === col("hi_rk"))
        .select(col("dim"), col("v").as("p99"))
      ranked.join(p1, "dim").join(p99, "dim")
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          round(first("p1") * 1e6).cast("long").as("p1_e6"),
          round(first("p99") * 1e6).cast("long").as("p99_e6"),
          sum(when(col("v") < col("p1") || col("v") > col("p99"), 1L).otherwise(0L))
            .as("n_clipped"))
        .withColumn("clipped_permille", expr("n_clipped * 1000 div n"))
        .orderBy("dim")
    }
  )

  // ---- DuckDB twins ----

  val oracles: Map[String, String] = Map(
    "frontier_budget" ->
      s"""WITH edges AS (${Queries163.LinkEdgesSql}),
         |cand AS (SELECT DISTINCT domain, doc_id FROM edges),
         |ranked AS (
         |  SELECT domain,
         |    row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
         |  FROM cand)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN rk <= $Budget THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(sum(CASE WHEN rk > $Budget THEN 1 ELSE 0 END) AS BIGINT) AS n_deferred
         |FROM ranked GROUP BY domain ORDER BY domain""".stripMargin,

    "multimodal_shard_plan" ->
      s"""WITH blobs AS (
         |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |  FROM documents),
         |off AS (
         |  SELECT doc_id, n_bytes,
         |    coalesce(sum(n_bytes) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off_b
         |  FROM blobs)
         |SELECT CAST(off_b // $ShardBytes AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_bytes) AS BIGINT) AS bytes,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc,
         |  CAST(max(doc_id) AS BIGINT) AS last_doc,
         |  CAST(sum(n_bytes) * 1000 // $ShardBytes AS BIGINT) AS util_permille
         |FROM off GROUP BY 1 ORDER BY shard_id""".stripMargin,

    "dow_rank_stability" ->
      s"""WITH daily AS (
         |  SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // $DayUs AS day,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
         |  FROM orders GROUP BY 1),
         |mid AS (SELECT (min(day) + max(day)) // 2 AS mid FROM daily),
         |halves AS (
         |  SELECT day % 7 AS dow,
         |    sum(CASE WHEN day <= mid THEN rev ELSE 0 END) AS rev1,
         |    sum(CASE WHEN day > mid THEN rev ELSE 0 END) AS rev2
         |  FROM daily, mid GROUP BY 1),
         |ranked AS (
         |  SELECT dow,
         |    row_number() OVER (ORDER BY rev1, dow) AS r1,
         |    row_number() OVER (ORDER BY rev2, dow) AS r2
         |  FROM halves),
         |pairs AS (
         |  SELECT CASE WHEN ((a.r1 - b.r1) > 0) = ((a.r2 - b.r2) > 0)
         |    THEN 1 ELSE 0 END AS conc
         |  FROM ranked a JOIN ranked b ON a.dow < b.dow)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(conc) AS BIGINT) AS concordant,
         |  CAST(sum(1 - conc) AS BIGINT) AS discordant,
         |  CAST((sum(conc) - sum(1 - conc)) * 1000 // count(*) AS BIGINT) AS tau_milli
         |FROM pairs""".stripMargin,

    "embedding_clip_calibration" ->
      """WITH vals AS (
        |  SELECT vec_id, i - 1 AS dim, v FROM (
        |    SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |      unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        |    FROM embeddings) t),
        |ranked AS (
        |  SELECT dim, vec_id, v,
        |    row_number() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rk,
        |    count(*) OVER (PARTITION BY dim) AS n
        |  FROM vals),
        |p1 AS (SELECT dim, v AS p1 FROM ranked
        |       WHERE rk = greatest(1, (n * 1 + 99) // 100)),
        |p99 AS (SELECT dim, v AS p99 FROM ranked
        |        WHERE rk = greatest(1, (n * 99 + 99) // 100))
        |SELECT r.dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(any_value(p1.p1) * 1e6) AS BIGINT) AS p1_e6,
        |  CAST(round(any_value(p99.p99) * 1e6) AS BIGINT) AS p99_e6,
        |  CAST(sum(CASE WHEN r.v < p1.p1 OR r.v > p99.p99 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clipped,
        |  CAST(sum(CASE WHEN r.v < p1.p1 OR r.v > p99.p99 THEN 1 ELSE 0 END) * 1000
        |    // count(*) AS BIGINT) AS clipped_permille
        |FROM ranked r JOIN p1 ON p1.dim = r.dim JOIN p99 ON p99.dim = r.dim
        |GROUP BY r.dim ORDER BY r.dim""".stripMargin
  )
}
