package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-9 batch #41 — exact budget allocation for corpus mixing:
  *
  *  - `budget_apportion`: split a fixed token budget across sources in
  *    proportion to their token mass with Hamilton / largest-remainder
  *    rounding — floor quotas ⌊B·wᵢ/W⌋, then the leftover seats go to
  *    the largest scaled remainders (source-name tie-break). The output
  *    quotas sum to B EXACTLY — the allocation step `corpus_mix`'s
  *    sampler needs but floors alone can't give. One source-keyed
  *    aggregation plus a window over the bounded source list.
  *  - `quota_sample`: materialize those quotas — per source, take
  *    exactly min(quota, available) documents in deterministic md5
  *    order (the split_holdout hashing idiom), reported as per-source
  *    selection counts plus an id checksum. The rank window is
  *    partitioned by source; selection is reproducible on any engine
  *    and any partitioning. Docs-as-units (not tokens) keeps the
  *    composition readable; the apportion step is shared verbatim.
  */
object Queries121 extends QuerySet {
  private[queries] val Budget = 100000L
  private[queries] val DocBudget = 300L

  /** (source, weight) → exact Hamilton quotas for `budget`. Shared by
    * both queries; `weightCol` must be a positive BIGINT. */
  private def apportion(weights: DataFrame, budget: Long): DataFrame = {
    val tot = weights.agg(sum("w").as("tw"))
    val base = weights.crossJoin(broadcast(tot))
      .withColumn("floor_quota", expr(s"$budget * w div tw"))
      .withColumn("rem", expr(s"$budget * w % tw"))
    val spare = base.agg((lit(budget) - sum("floor_quota")).as("spare"))
    val wnd = Window.orderBy(col("rem").desc, col("source"))
    base.crossJoin(broadcast(spare))
      .withColumn("rk", row_number().over(wnd))
      .withColumn("extra", when(col("rk") <= col("spare"), 1L).otherwise(0L))
      .select(col("source"), col("w"), col("floor_quota"), col("extra"),
        (col("floor_quota") + col("extra")).as("quota"))
  }

  private def apportionSql(weightsCte: String, budget: Long): String =
    s"""tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM weights),
       |base AS (
       |  SELECT source, w,
       |    CAST($budget * w // tw AS BIGINT) AS floor_quota,
       |    CAST($budget * w % tw AS BIGINT) AS rem
       |  FROM weights CROSS JOIN tot
       |),
       |spare AS (SELECT CAST($budget - sum(floor_quota) AS BIGINT) AS spare FROM base),
       |alloc AS (
       |  SELECT source, w, floor_quota,
       |    CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= spare
       |         THEN 1 ELSE 0 END AS extra
       |  FROM base CROSS JOIN spare
       |)""".stripMargin

  val defs: Map[String, Q] = Map(
    "budget_apportion" -> { (sp, dir) =>
      val weights = Tables.documents(sp, dir)
        .select(col("source"), TextF.tokenCount(col("text")).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("w"))
      apportion(weights, Budget)
        .select(col("source"), col("w").as("tokens_w"), col("floor_quota"),
          col("extra"), col("quota"))
        .orderBy("source")
    },

    "quota_sample" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir).select(col("doc_id"), col("source"))
      val weights = docs.groupBy("source").agg(count(lit(1)).as("w"))
      val quotas = apportion(weights, DocBudget).select(col("source"), col("quota"))
      val wnd = Window.partitionBy("source")
        .orderBy(md5(concat(lit("qs"), col("doc_id").cast("string")).cast("binary")),
          col("doc_id"))
      docs.withColumn("rk", row_number().over(wnd))
        .join(broadcast(quotas), Seq("source"))
        .filter(col("rk") <= col("quota"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_selected"), sum("doc_id").as("id_checksum"))
        .orderBy("source")
    }
  )

  val oracles: Map[String, String] = Map(
    "budget_apportion" ->
      s"""WITH weights AS (
         |  SELECT source, CAST(sum(CASE WHEN ${TextF.NormalizeTextSql} = '' THEN 0
         |    ELSE len(string_split(${TextF.NormalizeTextSql}, ' ')) END) AS BIGINT) AS w
         |  FROM documents GROUP BY 1
         |),
         |${apportionSql("weights", Budget)}
         |SELECT source, w AS tokens_w, floor_quota, CAST(extra AS BIGINT) AS extra,
         |  CAST(floor_quota + extra AS BIGINT) AS quota
         |FROM alloc ORDER BY source""".stripMargin,

    "quota_sample" ->
      s"""WITH weights AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS w FROM documents GROUP BY 1
         |),
         |${apportionSql("weights", DocBudget)},
         |ranked AS (
         |  SELECT d.doc_id, d.source,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY md5(concat('qs', d.doc_id)), d.doc_id) AS rk
         |  FROM documents d
         |)
         |SELECT r.source, CAST(count(*) AS BIGINT) AS n_selected,
         |  CAST(sum(r.doc_id) AS BIGINT) AS id_checksum
         |FROM ranked r JOIN alloc a ON a.source = r.source
         |WHERE r.rk <= a.floor_quota + a.extra
         |GROUP BY 1 ORDER BY r.source""".stripMargin
  )
}
