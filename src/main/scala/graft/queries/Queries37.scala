package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #9 — corpus-hygiene diagnostics:
  *
  *  - `source_overlap`: the cross-source contamination matrix — shingle
  *    Jaccard between every source pair, from ONE distinct (source,
  *    shingle) table self-joined on the shingle key. Fan-out per shingle
  *    is bounded by the number of sources (a fixed catalog dimension),
  *    never by corpus size — the report a data-lineage audit runs before
  *    trusting "independent" sources.
  *  - `minhash_recall`: the estimator-quality report for the MinHash
  *    pipeline's own candidates — per candidate pair, the 4-component
  *    signature estimate (quarters of 1000) next to the EXACT shingle
  *    Jaccard and the signed error. A dedup pipeline ships this to justify
  *    its banding thresholds; both sides reuse the exact component /
  *    shingle spellings the dedup operators use, so the report cannot
  *    drift from the pipeline it audits.
  */
object Queries37 extends QuerySet {
  val defs: Map[String, Q] = Map(
    "source_overlap" -> { (sp, dir) =>
      val sh = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .withColumn("toks", TextF.tokens(col("text")))
        .select(col("source"), explode(array_distinct(
          TextF.shinglesFromTokens(col("toks"), 3))).as("s"))
        .distinct())
      sh.count() // per-source counts + the pair join both scan it
      val counts = sh.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = sh.select(col("s"), col("source").as("sa"))
        .join(sh.select(col("s"), col("source").as("sb")), Seq("s"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(counts.select(col("source").as("sa"), col("n").as("na"))), Seq("sa"))
        .join(broadcast(counts.select(col("source").as("sb"), col("n").as("nb"))), Seq("sb"))
        .select(col("sa"), col("sb"), col("inter"), col("na"), col("nb"),
          expr("(1000 * inter) div (na + nb - inter)").as("jacc_milli"),
          expr("(1000 * inter) div least(na, nb)").as("containment_milli"))
        .orderBy("sa", "sb")
    },

    "minhash_recall" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
      val sigs = Queries6.minhashSigs(sp, dir)
        .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"))
      val shing = Tables.documents(sp, dir)
        .withColumn("toks", TextF.tokens(col("text")))
        .select(col("doc_id"),
          array_distinct(TextF.shinglesFromTokens(col("toks"), 3)).as("sh"))
      val est = (0 to 3).map(i =>
        when(col(s"ac$i") === col(s"bc$i"), 250L).otherwise(0L)).reduce(_ + _)
      pairs
        .join(sigs.select(col("doc_id").as("id_a"), col("c0").as("ac0"), col("c1").as("ac1"),
          col("c2").as("ac2"), col("c3").as("ac3")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("c0").as("bc0"), col("c1").as("bc1"),
          col("c2").as("bc2"), col("c3").as("bc3")), Seq("id_b"))
        .join(shing.select(col("doc_id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
        .join(shing.select(col("doc_id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
        .withColumn("uni",
          size(col("sha")).cast("bigint") + size(col("shb")).cast("bigint") - col("inter"))
        .select(col("id_a"), col("id_b"), est.as("est_milli"),
          when(col("uni") === 0, 1000L).otherwise(expr("(1000 * inter) div uni")).as("jacc_milli"))
        .withColumn("err_milli", col("est_milli") - col("jacc_milli"))
        .orderBy("id_a", "id_b")
    }
  )

  private val normSql = TextF.NormalizeTextSql
  private val toksSql = TextF.TokensSql

  val oracles: Map[String, String] = Map(
    "source_overlap" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT source, unnest(list_distinct(${Queries6.shinglesSql(3)})) AS s
         |  FROM (SELECT source, $toksSql AS w FROM documents) t
         |),
         |counts AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source
         |),
         |inter AS (
         |  SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
         |  GROUP BY a.source, b.source
         |)
         |SELECT sa, sb, inter, ca.n AS na, cb.n AS nb,
         |  (1000 * inter) // (ca.n + cb.n - inter) AS jacc_milli,
         |  (1000 * inter) // least(ca.n, cb.n) AS containment_milli
         |FROM inter JOIN counts ca ON ca.source = sa JOIN counts cb ON cb.source = sb
         |ORDER BY sa, sb""".stripMargin,

    "minhash_recall" ->
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |shing AS (
         |  SELECT doc_id, list_distinct(${Queries6.shinglesSql(3)}) AS sh
         |  FROM (SELECT doc_id, $toksSql AS w FROM documents) t
         |),
         |j AS (
         |  SELECT id_a, id_b,
         |    CAST(CASE WHEN a.c0 = b.c0 THEN 250 ELSE 0 END
         |       + CASE WHEN a.c1 = b.c1 THEN 250 ELSE 0 END
         |       + CASE WHEN a.c2 = b.c2 THEN 250 ELSE 0 END
         |       + CASE WHEN a.c3 = b.c3 THEN 250 ELSE 0 END AS BIGINT) AS est_milli,
         |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
         |    CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS uni
         |  FROM pairs
         |  JOIN comps a ON a.doc_id = id_a JOIN comps b ON b.doc_id = id_b
         |  JOIN shing sa ON sa.doc_id = id_a JOIN shing sb ON sb.doc_id = id_b
         |)
         |SELECT id_a, id_b, est_milli,
         |  CASE WHEN uni = 0 THEN 1000 ELSE (1000 * inter) // uni END AS jacc_milli,
         |  est_milli - CASE WHEN uni = 0 THEN 1000 ELSE (1000 * inter) // uni END AS err_milli
         |FROM j ORDER BY id_a, id_b""".stripMargin
  )
}
