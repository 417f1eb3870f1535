package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #37 — transitive-dedup QA and the movers report:
  *
  *  - `cluster_purity_audit`: the chaining-error report for
  *    connected-component dedup — transitivity is dedup_cluster's leap of
  *    faith (A~B and B~C never implied A~C), so per near-dup cluster this
  *    audits ALL member pairs by exact shingle Jaccard and reports the
  *    minimum/mean with a `chained` flag where the weakest pair fell
  *    under the band threshold (the pair that only merged transitively).
  *    The within-cluster pair fan-out is Σ size² — bounded by the
  *    cluster-size cap (clusters beyond it are reported but not expanded,
  *    the `inverted_index`-cap discipline; dedup_cluster_sizes shows the
  *    power law that makes the cap the knob at scale).
  *  - `topk_movers`: the week-over-week volume movers dashboard — per
  *    event type, current- vs previous-week counts, exact milli change,
  *    and rank movement; two key-shrinking aggregations + windows over
  *    the (type × week) table.
  */
object Queries65 extends QuerySet {
  private val MaxAuditSize = 16
  private val WeekUs = 7L * 86400000000L

  val defs: Map[String, Q] = Map(
    "cluster_purity_audit" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
      val comp = graft.util.CacheScope.track(
        graft.operators.ConnectedComponents.run(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst"))))
      val sizes = comp.groupBy("comp").agg(count(lit(1)).as("size"))
      val audited = comp.join(sizes.filter(col("size") <= MaxAuditSize), Seq("comp"))
      val sh = Tables.documents(sp, dir)
        .select(col("doc_id"), array_distinct(TextF.shingles(col("text"), 3)).as("sh"))
      val memberPairs = audited.select(col("comp"), col("id").as("a"))
        .join(audited.select(col("comp"), col("id").as("b")), Seq("comp"))
        .filter(col("a") < col("b"))
        .join(sh.select(col("doc_id").as("a"), col("sh").as("sh_a")), Seq("a"))
        .join(sh.select(col("doc_id").as("b"), col("sh").as("sh_b")), Seq("b"))
        .select(col("comp"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("ni"),
          size(array_union(col("sh_a"), col("sh_b"))).cast("long").as("nu"))
        .select(col("comp"), expr("ni * 1000 div nu").as("jm"))
      memberPairs.groupBy("comp")
        .agg(count(lit(1)).as("n_pairs"), min("jm").as("min_jaccard_milli"),
          expr("CAST(sum(jm) div count(*) AS BIGINT)").as("mean_jaccard_milli"))
        .join(sizes, Seq("comp"))
        .select(col("comp").as("cluster_id"), col("size"), col("n_pairs"),
          col("min_jaccard_milli"), col("mean_jaccard_milli"),
          (col("min_jaccard_milli") < 500).as("chained"))
        .orderBy("cluster_id")
    },

    "topk_movers" -> { (sp, dir) =>
      val weekly = Tables.events(sp, dir)
        .groupBy(col("event_type"), expr(s"ts_us div $WeekUs").as("week"))
        .agg(count(lit(1)).as("cnt"))
      val maxWeek = weekly.agg(max("week").as("wmax"))
      val wRank = Window.partitionBy("week").orderBy(col("cnt").desc, col("event_type"))
      val ranked = weekly.withColumn("rk", row_number().over(wRank))
      val cur = ranked.crossJoin(broadcast(maxWeek))
        .filter(col("week") === col("wmax"))
        .select(col("event_type"), col("week").as("cur_week"),
          col("cnt").as("cur_cnt"), col("rk").as("rank_cur"))
      val prev = ranked.crossJoin(broadcast(maxWeek))
        .filter(col("week") === col("wmax") - 1)
        .select(col("event_type"), col("cnt").as("prev_cnt"), col("rk").as("rank_prev"))
      cur.join(prev, Seq("event_type"))
        .select(col("event_type"), col("cur_week"), col("cur_cnt"), col("prev_cnt"),
          // a fall is negative: Spark's div and DuckDB's integer // both
          // truncate toward zero
          expr("(cur_cnt - prev_cnt) * 1000 div prev_cnt").as("change_milli"),
          col("rank_cur").cast("long").as("rank_cur"),
          col("rank_prev").cast("long").as("rank_prev"),
          (col("rank_prev") - col("rank_cur")).cast("long").as("rank_delta"))
        .orderBy("rank_cur")
    }
  )

  private def sh3(w: String): String =
    s"list_transform(range(1, len($w) - 1), i -> concat(" +
      s"list_extract($w, i), ' ', list_extract($w, i + 1), ' ', list_extract($w, i + 2)))"

  val oracles: Map[String, String] = Map(
    "cluster_purity_audit" ->
      s"""WITH RECURSIVE ${Queries6.MinhashPairsCteSql},
         |edges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.id
         |),
         |labels AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
         |sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS size FROM labels GROUP BY comp),
         |audited AS (
         |  SELECT l.id, l.comp FROM labels l JOIN sizes s ON l.comp = s.comp
         |  WHERE s.size <= $MaxAuditSize
         |),
         |sh AS (
         |  SELECT doc_id, list_distinct(${sh3("w")}) AS sh
         |  FROM (SELECT doc_id, ${TextF.TokensSql} AS w FROM documents) t
         |),
         |mp AS (
         |  SELECT x.comp, len(list_intersect(a.sh, b.sh)) * 1000
         |      // len(list_distinct(list_concat(a.sh, b.sh))) AS jm
         |  FROM audited x JOIN audited y ON x.comp = y.comp AND x.id < y.id
         |  JOIN sh a ON a.doc_id = x.id JOIN sh b ON b.doc_id = y.id
         |)
         |SELECT mp.comp AS cluster_id, s.size,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(min(jm) AS BIGINT) AS min_jaccard_milli,
         |  CAST(sum(jm) // count(*) AS BIGINT) AS mean_jaccard_milli,
         |  min(jm) < 500 AS chained
         |FROM mp JOIN sizes s ON s.comp = mp.comp
         |GROUP BY mp.comp, s.size
         |ORDER BY cluster_id""".stripMargin,

    "topk_movers" ->
      s"""WITH weekly AS (
         |  SELECT event_type, epoch_us(ts) // $WeekUs AS week,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY 1, 2
         |),
         |mx AS (SELECT max(week) AS wmax FROM weekly),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY week
         |    ORDER BY cnt DESC, event_type) AS rk
         |  FROM weekly
         |)
         |SELECT c.event_type, c.week AS cur_week, c.cnt AS cur_cnt,
         |  p.cnt AS prev_cnt,
         |  CAST((c.cnt - p.cnt) * 1000 // p.cnt AS BIGINT) AS change_milli,
         |  CAST(c.rk AS BIGINT) AS rank_cur, CAST(p.rk AS BIGINT) AS rank_prev,
         |  CAST(p.rk - c.rk AS BIGINT) AS rank_delta
         |FROM ranked c
         |JOIN mx ON c.week = mx.wmax
         |JOIN ranked p ON p.event_type = c.event_type AND p.week = mx.wmax - 1
         |ORDER BY rank_cur""".stripMargin
  )
}
