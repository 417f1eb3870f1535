package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-9 batch #18 — tokenizer sizing and vocabulary drift:
  *
  *  - `bpe_fertility_curve`: the merge-count sizing curve for
  *    `bpe_merge_apply` — corpus token mass after 0/1/2/3 learned merges
  *    and the compression ratio in exact milli, from ONE corpus pass
  *    (the merge chain materializes each stage as a column; stage k+1 folds
  *    stage k's string, so the work is the chain `bpe_merge_apply`
  *    already pays plus two cheap splits). The curve that decides how
  *    many merges are worth learning — the tokenizer twin of the
  *    kmv/hll/bloom sizing trilogy.
  *  - `vocab_drift`: vocabulary churn between the corpus's first and
  *    second half (by doc id — the ingestion-order proxy): per-term
  *    counts under both snapshots, each side's top-100 by (count desc,
  *    term), and the shared/new/retired status — the drift report a
  *    tokenizer owner reads before deciding to retrain. The top-K sides
  *    are `orderBy.limit` (distributed TakeOrdered — never a global
  *    window over the full term table); the rank window runs over ≤ K
  *    rows.
  */
object Queries98 extends QuerySet {
  private val TopV = 100

  val defs: Map[String, Q] = Map(
    "bpe_fertility_curve" -> { (sp, dir) =>
      val docs = Queries35.bpeDocs(sp, dir)
      val rules = Queries35.learnRules(docs)
      // stage strings as successive columns; each pass folds the previous
      // column (codegen CSE keeps the chain linear, not exponential)
      val staged = rules.zipWithIndex.foldLeft(
          docs.withColumn("s0", expr("array_join(w, ' ')"))) {
        case (df, ((l, r), i)) =>
          df.withColumn(s"s${i + 1}", expr(Queries35.mergePass(s"s$i", l, r)))
      }
      def nToks(c: String) =
        when(col(c) === "", 0L).otherwise(size(split(col(c), " ")).cast("bigint"))
      val sums = staged.agg(
        sum(nToks("s0")).as("t0"), sum(nToks("s1")).as("t1"),
        sum(nToks("s2")).as("t2"), sum(nToks("s3")).as("t3"))
      sums.select(explode(array(
          struct(lit(0L).as("n_merges"), col("t0").as("total_tokens")),
          struct(lit(1L).as("n_merges"), col("t1").as("total_tokens")),
          struct(lit(2L).as("n_merges"), col("t2").as("total_tokens")),
          struct(lit(3L).as("n_merges"), col("t3").as("total_tokens")))).as("r"),
          col("t0"))
        .select(col("r.n_merges").as("n_merges"),
          col("r.total_tokens").as("total_tokens"),
          expr("r.total_tokens * 1000 div t0").as("ratio_milli"))
        .orderBy("n_merges")
    },

    "vocab_drift" -> { (sp, dir) =>
      val docs = Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.tokens(col("text")).as("w"))
      val mid = docs.agg(expr("(max(doc_id) + 1) div 2").as("mid"))
      val counts = docs.select(col("doc_id"), explode(col("w")).as("term"))
        .crossJoin(broadcast(mid))
        .groupBy("term")
        .agg(sum(when(col("doc_id") < col("mid"), 1L).otherwise(0L)).as("cnt_old"),
          sum(when(col("doc_id") >= col("mid"), 1L).otherwise(0L)).as("cnt_new"))
      def side(cnt: String, rank: String) = counts.filter(col(cnt) > 0)
        .orderBy(col(cnt).desc, col("term")).limit(TopV)
        .withColumn(rank,
          row_number().over(Window.orderBy(col(cnt).desc, col("term"))).cast("bigint"))
        .select(col("term"), col(cnt), col(rank))
      side("cnt_old", "rank_old").join(side("cnt_new", "rank_new"), Seq("term"), "full_outer")
        .select(col("term"),
          coalesce(col("cnt_old"), lit(0L)).as("cnt_old"),
          coalesce(col("cnt_new"), lit(0L)).as("cnt_new"),
          coalesce(col("rank_old"), lit(-1L)).as("rank_old"),
          coalesce(col("rank_new"), lit(-1L)).as("rank_new"),
          when(col("rank_old").isNotNull && col("rank_new").isNotNull, "shared")
            .when(col("rank_old").isNotNull, "retired").otherwise("new").as("status"))
        .orderBy("term")
    }
  )

  private val normSql = TextF.NormalizeTextSql
  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "bpe_fertility_curve" ->
      s"""WITH ${Queries35.bpeChainCtes},
         |per AS (
         |  SELECT CAST(n_before AS BIGINT) AS n0,
         |    CAST(CASE WHEN s1 = '' THEN 0 ELSE len(string_split(s1, ' ')) END AS BIGINT) AS n1,
         |    CAST(CASE WHEN s2 = '' THEN 0 ELSE len(string_split(s2, ' ')) END AS BIGINT) AS n2,
         |    CAST(CASE WHEN s3 = '' THEN 0 ELSE len(string_split(s3, ' ')) END AS BIGINT) AS n3
         |  FROM m3
         |), tot AS (
         |  SELECT CAST(sum(n0) AS BIGINT) AS t0, CAST(sum(n1) AS BIGINT) AS t1,
         |    CAST(sum(n2) AS BIGINT) AS t2, CAST(sum(n3) AS BIGINT) AS t3
         |  FROM per
         |)
         |SELECT CAST(k AS BIGINT) AS n_merges, CAST(tk AS BIGINT) AS total_tokens,
         |  CAST(tk * 1000 // t0 AS BIGINT) AS ratio_milli
         |FROM (
         |  SELECT 0 AS k, t0 AS tk, t0 FROM tot
         |  UNION ALL SELECT 1, t1, t0 FROM tot
         |  UNION ALL SELECT 2, t2, t0 FROM tot
         |  UNION ALL SELECT 3, t3, t0 FROM tot
         |) u ORDER BY n_merges""".stripMargin,

    "vocab_drift" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    CASE WHEN $normSql = '' THEN CAST([] AS VARCHAR[]) ELSE $toksSql END AS w
         |  FROM documents
         |), mid AS (SELECT (max(doc_id) + 1) // 2 AS m FROM docs),
         |counts AS (
         |  SELECT term,
         |    CAST(sum(CASE WHEN doc_id < mid.m THEN 1 ELSE 0 END) AS BIGINT) AS cnt_old,
         |    CAST(sum(CASE WHEN doc_id >= mid.m THEN 1 ELSE 0 END) AS BIGINT) AS cnt_new
         |  FROM (SELECT doc_id, unnest(w) AS term FROM docs) t, mid
         |  GROUP BY term
         |), old_side AS (
         |  SELECT term, cnt_old,
         |    CAST(row_number() OVER (ORDER BY cnt_old DESC, term) AS BIGINT) AS rank_old
         |  FROM counts WHERE cnt_old > 0
         |  ORDER BY cnt_old DESC, term LIMIT $TopV
         |), new_side AS (
         |  SELECT term, cnt_new,
         |    CAST(row_number() OVER (ORDER BY cnt_new DESC, term) AS BIGINT) AS rank_new
         |  FROM counts WHERE cnt_new > 0
         |  ORDER BY cnt_new DESC, term LIMIT $TopV
         |)
         |SELECT coalesce(o.term, n.term) AS term,
         |  coalesce(o.cnt_old, 0) AS cnt_old,
         |  coalesce(n.cnt_new, 0) AS cnt_new,
         |  coalesce(o.rank_old, -1) AS rank_old,
         |  coalesce(n.rank_new, -1) AS rank_new,
         |  CASE WHEN o.term IS NOT NULL AND n.term IS NOT NULL THEN 'shared'
         |       WHEN o.term IS NOT NULL THEN 'retired' ELSE 'new' END AS status
         |FROM old_side o FULL OUTER JOIN new_side n ON o.term = n.term
         |ORDER BY term""".stripMargin
  )
}
