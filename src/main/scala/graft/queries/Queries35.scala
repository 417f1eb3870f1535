package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #7 — `bpe_merge_apply`: the APPLY half of BPE
  * training (the learn half is `bpe_pair_counts`): take the corpus's top-3
  * adjacent-pair merges and rewrite every document's token stream with
  * them, in rank order, merging left-to-right non-overlapping — exactly a
  * tokenizer trainer's first batch of merge rules applied corpus-wide.
  *
  * Shape: the merge rules are a 3-row driver collect (same license as the
  * ANN centroid literals — the RESULT is tiny and deterministic), and the
  * rewrite itself is a chain of in-row `aggregate` folds over the token
  * array — Spark's codegen'd higher-order function, no explode, no join,
  * no shuffle beyond the one pair-count aggregation that learns the rules.
  * The fold carries a string accumulator ("tokens so far"), merging when
  * the accumulator ends with the rule's left token and the next token is
  * the rule's right token — left-to-right non-overlapping by construction
  * (a merged token no longer equals the rule's left side, so chains like
  * "a a a" merge once). DuckDB's `list_reduce` expresses the identical
  * fold, so the oracle is hash-exact down to the merged strings.
  */
object Queries35 extends QuerySet {
  /** Number of merge rules learned and applied. */
  val NMerges = 3

  /** The tokenized corpus both BPE queries start from. */
  private[queries] def bpeDocs(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)
      .select(col("doc_id"), TextF.tokens(col("text")).as("w"))

  /** Learn the top-[[NMerges]] merge rules — (count desc, pair) tiebreak,
    * deterministic, an NMerges-row collect (centroid-literal license). */
  private[queries] def learnRules(docs: DataFrame): Seq[(String, String)] =
    docs.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))")).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(NMerges)
      .collect().map { row =>
        val Array(l, r) = row.getString(0).split(" ", 2); (l, r)
      }.toSeq

  /** One guarded merge pass of rule (l, r) over a space-joined string
    * expression `prev` (re-split inside). */
  private[queries] def mergePass(prev: String, l: String, r: String): String = {
    val arr = s"split($prev, ' ')"
    s"CASE WHEN size($arr) <= 1 THEN $prev ELSE ${foldSql(arr, l, r)} END"
  }

  /** One left-to-right merge pass of rule (l, r) as a Spark SQL fold over
    * array expression `arr` (size >= 2), returning the space-joined string. */
  private def foldSql(arr: String, l: String, r: String): String =
    s"""aggregate(slice($arr, 2, size($arr) - 1), element_at($arr, 1),
       |  (acc, x) -> CASE
       |    WHEN (acc = '$l' OR endswith(acc, ' $l')) AND x = '$r'
       |      THEN concat(substring(acc, 1, length(acc) - ${l.length}), '${l}_$r')
       |    ELSE concat(acc, ' ', x) END)""".stripMargin

  val defs: Map[String, Q] = Map(
    "bpe_merge_apply" -> { (sp, dir) =>
      val docs = bpeDocs(sp, dir)
      val rules = learnRules(docs)
      // apply in rank order: fold, re-split, fold again
      val merged = rules.foldLeft("array_join(w, ' ')") {
        case (prev, (l, r)) => mergePass(prev, l, r)
      }
      docs
        .withColumn("s", expr(merged))
        .select(col("doc_id"),
          size(col("w")).cast("bigint").as("n_before"),
          when(col("s") === "", 0L).otherwise(size(split(col("s"), " ")).cast("bigint"))
            .as("n_after"),
          md5(col("s").cast("binary")).as("sig"))
        .orderBy("doc_id")
    }
  )

  private val toksSql = TextF.TokensSql

  /** The shared DuckDB CTE chain: tokens → learned rules → merge passes
    * m1/m2/m3, each carrying every earlier stage string forward (the
    * fertility curve reads all of s1..s3; `bpe_merge_apply` reads s3). */
  private[queries] val bpeChainCtes: String = {
      // the same fold per rule; rules pivoted to one row so each merge
      // pass references its (l, r) as correlated scalars
      def duckFold(arr: String, l: String, r: String): String =
        s"""list_reduce($arr, (acc, x) -> CASE
           |  WHEN (acc = $l OR ends_with(acc, ' ' || $l)) AND x = $r
           |    THEN substr(acc, 1, len(acc) - len($l)) || $l || '_' || $r
           |  ELSE acc || ' ' || x END)""".stripMargin
      val pass1 = duckFold("w", "l1", "r1")
      val pass2 = duckFold("string_split(s1, ' ')", "l2", "r2")
      val pass3 = duckFold("string_split(s2, ' ')", "l3", "r3")
      s"""t AS (
         |  SELECT doc_id, $toksSql AS w FROM documents
         |),
         |cnts AS (
         |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS pair
         |  FROM t WHERE len(w) >= 2
         |),
         |ranked AS (
         |  SELECT pair, row_number() OVER (ORDER BY count(*) DESC, pair) AS rn
         |  FROM cnts GROUP BY pair
         |),
         |rules AS (
         |  SELECT
         |    string_split(max(CASE WHEN rn = 1 THEN pair END), ' ')[1] AS l1,
         |    string_split(max(CASE WHEN rn = 1 THEN pair END), ' ')[2] AS r1,
         |    string_split(max(CASE WHEN rn = 2 THEN pair END), ' ')[1] AS l2,
         |    string_split(max(CASE WHEN rn = 2 THEN pair END), ' ')[2] AS r2,
         |    string_split(max(CASE WHEN rn = 3 THEN pair END), ' ')[1] AS l3,
         |    string_split(max(CASE WHEN rn = 3 THEN pair END), ' ')[2] AS r3
         |  FROM ranked WHERE rn <= $NMerges
         |),
         |m1 AS (
         |  SELECT doc_id, len(w) AS n_before,
         |    CASE WHEN len(w) <= 1 THEN array_to_string(w, ' ') ELSE $pass1 END AS s1
         |  FROM t, rules
         |),
         |m2 AS (
         |  SELECT doc_id, n_before, s1,
         |    CASE WHEN len(string_split(s1, ' ')) <= 1 THEN s1 ELSE $pass2 END AS s2
         |  FROM m1, rules
         |),
         |m3 AS (
         |  SELECT doc_id, n_before, s1, s2,
         |    CASE WHEN len(string_split(s2, ' ')) <= 1 THEN s2 ELSE $pass3 END AS s3
         |  FROM m2, rules
         |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "bpe_merge_apply" ->
      s"""WITH $bpeChainCtes
         |SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
         |  CAST(CASE WHEN s3 = '' THEN 0 ELSE len(string_split(s3, ' ')) END AS BIGINT) AS n_after,
         |  md5(s3) AS sig
         |FROM m3 ORDER BY doc_id""".stripMargin
  )
}
