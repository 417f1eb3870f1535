package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Round-9 batch #3 — incremental maintenance and provenance diagnostics:
  *
  *  - `scd1_upsert`: SCD Type-1 dimension maintenance — a delta batch of
  *    attribute updates (the second half of each user's event stream)
  *    merged last-wins into the base dimension (the first half). The
  *    UPSERT is one window over the concatenation keyed by user — no
  *    MERGE statement, no per-row lookups; at 100 TB both sides shuffle
  *    once on the dimension key and the last-wins pick is a per-key max.
  *    Complements `scd2_dim` (which keeps history; Type 1 overwrites).
  *  - `agg_delta_maintain`: incremental aggregate-view maintenance — the
  *    base aggregate (orders before a cutoff) plus the delta batch's
  *    partial aggregate, COMBINED without touching base fact rows:
  *    updated = base ⊎ delta (sums add, counts add). The query emits the
  *    maintained view next to a from-scratch recompute and an exact
  *    match flag per group — the certificate that the view algebra is
  *    lossless (sum/count are decomposable; that is WHY the 100 TB view
  *    never re-reads history).
  *  - `sample_bias_audit`: the `stratified_sample` gate's own audit
  *    (same 'smp:' first-byte hash, same per-language thresholds):
  *    realized vs intended sampling rate per stratum, exact milli — the
  *    certificate that the deterministic hash-mod gate delivers its
  *    configured rates (and by how much a small stratum deviates).
  *  - `dup_locality`: where duplicates come from — `dedup_minhash_pairs`'
  *    verified pairs joined to both sides' sources and rolled up per
  *    (source_a, source_b): within-source vs cross-source duplicate mass
  *    (cross-source dups mean crawl overlap; within-source means
  *    re-posts). Pair set computed once; two broadcast-able dimension
  *    joins on doc_id.
  */
object Queries83 extends QuerySet {
  /** agg_delta_maintain cutoff: orders strictly before 1996 are "base",
    * the rest are the delta batch (shared with the oracle). */
  private[graft] val DeltaCutoffYear = 1996

  val defs: Map[String, Q] = Map(
    "scd1_upsert" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr(Queries29.TierSql).as("tier"))
      val mid = ev.agg(expr("(min(ts_us) + max(ts_us)) div 2").as("mid"))
      val all = ev.crossJoin(broadcast(mid))
      val base = all.filter(col("ts_us") < col("mid"))
      val delta = all.filter(col("ts_us") >= col("mid"))
      // last-wins per user over base ⊎ delta — ONE window, no MERGE
      val w = Window.partitionBy("user_id").orderBy(col("ts_us").desc, col("event_id").desc)
      val merged = base.select(col("user_id"), col("ts_us"), col("event_id"), col("tier"))
        .unionAll(delta.select(col("user_id"), col("ts_us"), col("event_id"), col("tier")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
      // provenance: did the delta overwrite this user's base row?
      val baseUsers = base.select(col("user_id")).distinct()
      val deltaUsers = delta.select(col("user_id")).distinct().withColumn("in_delta", lit(true))
      merged
        .join(deltaUsers, Seq("user_id"), "left")
        .join(baseUsers.withColumn("in_base", lit(true)), Seq("user_id"), "left")
        .select(col("user_id"), col("tier"), col("ts_us").as("updated_at_us"),
          coalesce(col("in_delta"), lit(false)).as("overwritten"),
          coalesce(col("in_base"), lit(false)).as("existed"))
        .orderBy("user_id")
    },

    "agg_delta_maintain" -> { (sp, dir) =>
      val o = Tables.orders(sp, dir)
        .select(col("o_orderpriority"), year(col("o_orderdate")).as("y"),
          round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      val base = o.filter(col("y") < DeltaCutoffYear)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_base"), sum("cents").as("cents_base"))
      val delta = o.filter(col("y") >= DeltaCutoffYear)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_delta"), sum("cents").as("cents_delta"))
      val maintained = base.join(delta, Seq("o_orderpriority"), "full_outer")
        .select(col("o_orderpriority"),
          (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L))).as("n_maintained"),
          (coalesce(col("cents_base"), lit(0L)) + coalesce(col("cents_delta"), lit(0L)))
            .as("cents_maintained"))
      val recomputed = o.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_recomputed"), sum("cents").as("cents_recomputed"))
      maintained.join(recomputed, Seq("o_orderpriority"))
        .withColumn("exact_match",
          col("n_maintained") === col("n_recomputed") &&
            col("cents_maintained") === col("cents_recomputed"))
        .orderBy("o_orderpriority")
    },

    "sample_bias_audit" -> { (sp, dir) =>
      // audits THE `stratified_sample` gate (same 'smp:' first-byte hash,
      // same per-language thresholds): realized sampling rate per stratum
      // vs the intended rate — the certificate that the deterministic
      // hash-mod gate actually delivers its configured rates
      val md = "md5(concat('smp:', CAST(doc_id AS STRING)))"
      val hv = expr(s"(instr('0123456789abcdef', substr($md, 1, 1)) - 1) * 16" +
        s" + (instr('0123456789abcdef', substr($md, 2, 1)) - 1)")
      val keepUnder = when(col("lang") === "en", lit(128L))
        .when(col("lang") === "de", lit(64L)).otherwise(lit(26L))
      val per = Tables.documents(sp, dir)
        .select(col("lang"), keepUnder.as("keep_under"), hv.as("hv"))
        .groupBy("lang", "keep_under")
        .agg(count(lit(1)).as("n_pop"),
          sum(when(col("hv") < col("keep_under"), 1L).otherwise(0L)).as("n_sample"))
      per.select(col("lang"), col("n_pop"), col("n_sample"),
          expr("n_sample * 1000 div n_pop").as("realized_rate_milli"),
          expr("keep_under * 1000 div 256").as("intended_rate_milli"),
          expr("n_sample * 1000 div n_pop - keep_under * 1000 div 256").as("rate_error_milli"))
        .orderBy("lang")
    },

    "dup_locality" -> { (sp, dir) =>
      val pairs = Queries6.defs("dedup_minhash_pairs")(sp, dir)
        .select(col("id_a"), col("id_b"))
      val src = Tables.documents(sp, dir).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b")), Seq("id_b"))
        // normalize the unordered source pair so (a,b) and (b,a) roll up together
        .select(least(col("source_a"), col("source_b")).as("src_lo"),
          greatest(col("source_a"), col("source_b")).as("src_hi"))
        .groupBy("src_lo", "src_hi")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("within_source", col("src_lo") === col("src_hi"))
        .orderBy("src_lo", "src_hi")
    }
  )

  val oracles: Map[String, String] = Map(
    "scd1_upsert" ->
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    ${Queries29.TierDuck} AS tier
         |  FROM events
         |),
         |mid AS (SELECT CAST((min(ts_us) + max(ts_us)) // 2 AS BIGINT) AS mid FROM ev),
         |merged AS (
         |  SELECT user_id, tier, ts_us,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rk
         |  FROM ev
         |),
         |base_u AS (SELECT DISTINCT user_id FROM ev, mid WHERE ts_us < mid),
         |delta_u AS (SELECT DISTINCT user_id FROM ev, mid WHERE ts_us >= mid)
         |SELECT m.user_id, m.tier, m.ts_us AS updated_at_us,
         |  (m.user_id IN (SELECT user_id FROM delta_u)) AS overwritten,
         |  (m.user_id IN (SELECT user_id FROM base_u)) AS existed
         |FROM merged m WHERE m.rk = 1
         |ORDER BY m.user_id""".stripMargin,

    "agg_delta_maintain" ->
      s"""WITH o AS (
         |  SELECT o_orderpriority, year(o_orderdate) AS y,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders
         |),
         |base AS (
         |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_base,
         |    CAST(sum(cents) AS BIGINT) AS cents_base
         |  FROM o WHERE y < $DeltaCutoffYear GROUP BY o_orderpriority
         |),
         |delta AS (
         |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_delta,
         |    CAST(sum(cents) AS BIGINT) AS cents_delta
         |  FROM o WHERE y >= $DeltaCutoffYear GROUP BY o_orderpriority
         |),
         |maintained AS (
         |  SELECT coalesce(b.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
         |    coalesce(b.n_base, 0) + coalesce(d.n_delta, 0) AS n_maintained,
         |    coalesce(b.cents_base, 0) + coalesce(d.cents_delta, 0) AS cents_maintained
         |  FROM base b FULL OUTER JOIN delta d ON b.o_orderpriority = d.o_orderpriority
         |),
         |rec AS (
         |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_recomputed,
         |    CAST(sum(cents) AS BIGINT) AS cents_recomputed
         |  FROM o GROUP BY o_orderpriority
         |)
         |SELECT m.o_orderpriority, CAST(m.n_maintained AS BIGINT) AS n_maintained,
         |  CAST(m.cents_maintained AS BIGINT) AS cents_maintained,
         |  r.n_recomputed, r.cents_recomputed,
         |  m.n_maintained = r.n_recomputed AND m.cents_maintained = r.cents_recomputed
         |    AS exact_match
         |FROM maintained m JOIN rec r ON r.o_orderpriority = m.o_orderpriority
         |ORDER BY m.o_orderpriority""".stripMargin,

    "sample_bias_audit" -> {
      val md = "md5(concat('smp:', CAST(doc_id AS VARCHAR)))"
      val hv = s"(strpos('0123456789abcdef', substr($md, 1, 1)) - 1) * 16" +
        s" + (strpos('0123456789abcdef', substr($md, 2, 1)) - 1)"
      s"""WITH d AS (
         |  SELECT lang,
         |    CAST(CASE WHEN lang = 'en' THEN 128 WHEN lang = 'de' THEN 64 ELSE 26 END AS BIGINT)
         |      AS keep_under,
         |    $hv AS hv
         |  FROM documents
         |),
         |per AS (
         |  SELECT lang, keep_under, CAST(count(*) AS BIGINT) AS n_pop,
         |    CAST(sum(CASE WHEN hv < keep_under THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
         |  FROM d GROUP BY lang, keep_under
         |)
         |SELECT lang, n_pop, n_sample,
         |  CAST(n_sample * 1000 // n_pop AS BIGINT) AS realized_rate_milli,
         |  CAST(keep_under * 1000 // 256 AS BIGINT) AS intended_rate_milli,
         |  CAST(n_sample * 1000 // n_pop - keep_under * 1000 // 256 AS BIGINT)
         |    AS rate_error_milli
         |FROM per ORDER BY lang""".stripMargin
    },

    "dup_locality" ->
      s"""WITH pairs AS (
         |${Queries6.oracles("dedup_minhash_pairs")}
         |),
         |s AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS src_lo,
         |  greatest(sa.source, sb.source) AS src_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  least(sa.source, sb.source) = greatest(sa.source, sb.source) AS within_source
         |FROM pairs p
         |JOIN s sa ON sa.doc_id = p.id_a
         |JOIN s sb ON sb.doc_id = p.id_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
