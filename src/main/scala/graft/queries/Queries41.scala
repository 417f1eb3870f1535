package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #13 — the dimension in USE, the near-dup ingest
  * gate, and cluster observability:
  *
  *  - `scd2_asof`: point-in-time enrichment against the SCD2 dimension
  *    `scd2_dim` builds — every purchase joined to the tier interval
  *    covering its timestamp (`valid_from <= ts < valid_to`, open current
  *    row) and revenue rolled up per tier. The join is user-keyed equi +
  *    interval filter; exactly-one-match is a spec'd invariant. This is
  *    the query warehouses BUILD SCD2 tables for.
  *  - `incremental_minhash`: the near-dup twin of `incremental_dedup`'s
  *    exact ingest gate: a new batch's MinHash band signatures probed
  *    against the shipped corpus's, collisions verified by exact shingle
  *    Jaccard ≥ 500 milli, each rejected batch doc reported with its best
  *    (lowest-id) shipped match. Same planted-donor universe as
  *    incremental_dedup (batch %10==7 docs re-carry a shipped doc's text),
  *    same component spellings as the dedup operators (shared CTE
  *    builders), so the gate provably fires at every scale. Shuffle:
  *    bands·N for the probe, id-keyed joins for the verify.
  *  - `dedup_cluster_sizes`: the near-dup cluster-size histogram (size →
  *    cluster count, total docs) over the MinHash connected components —
  *    the power-law sanity report a dedup run ships alongside its keeps.
  */
object Queries41 extends QuerySet {
  private val VerifyJaccMilli = 500L

  /** incremental_dedup's planted effective-text relation (doc_id, text). */
  private def effDocs(sp: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(sp, dir).select(col("doc_id"), col("text"))
    val donor = base.select(col("doc_id").as("d_id"), col("text").as("d_text"))
    val donorId = when(col("doc_id") % 10 === 7, col("doc_id") % 400)
      .when(col("doc_id") % 50 === 49, col("doc_id") - 9)
    base.withColumn("donor_id", donorId)
      .join(donor, col("donor_id") === col("d_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") >= 400 && col("d_id").isNotNull, col("d_text"))
          .otherwise(col("text")).as("text"))
  }

  val defs: Map[String, Q] = Map(
    "scd2_asof" -> { (sp, dir) =>
      val wOrd = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val intervals = Tables.events(sp, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          expr(Queries29.TierSql).as("tier"))
        .withColumn("prev_tier", lag(col("tier"), 1).over(wOrd))
        .filter(col("prev_tier").isNull || col("prev_tier") =!= col("tier"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(wOrd))
        .select(col("user_id"), col("tier"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"))
      Tables.events(sp, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
        .join(intervals, Seq("user_id"))
        .filter(col("ts_us") >= col("valid_from_us") &&
          (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct("user_id").as("n_users"),
          sum("cents").as("rev_cents"))
        .orderBy("tier")
    },

    "incremental_minhash" -> { (sp, dir) =>
      val eff = graft.util.CacheScope.track(effDocs(sp, dir))
      eff.count() // signatures + the verify join both read it
      val sigs = Queries6.minhashSigsOf(eff)
      val bands = sigs.select(col("doc_id"),
        posexplode(array(col("band0"), col("band1")))).select(
        col("doc_id"), col("pos").as("bi"), col("col").as("b"))
      val cand = bands.filter(col("doc_id") >= 400)
        .select(col("bi"), col("b"), col("doc_id").as("batch_id"))
        .join(bands.filter(col("doc_id") < 400)
          .select(col("bi"), col("b"), col("doc_id").as("shipped_id")), Seq("bi", "b"))
        .select(col("batch_id"), col("shipped_id")).distinct()
      val shing = eff.select(col("doc_id"),
        array_distinct(TextF.shingles(col("text"), 3)).as("sh"))
      val verified = cand
        .join(shing.select(col("doc_id").as("batch_id"), col("sh").as("sha")), Seq("batch_id"))
        .join(shing.select(col("doc_id").as("shipped_id"), col("sh").as("shb")), Seq("shipped_id"))
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
        .withColumn("uni",
          size(col("sha")).cast("bigint") + size(col("shb")).cast("bigint") - col("inter"))
        .withColumn("jacc_milli",
          when(col("uni") === 0, 1000L).otherwise(expr("(1000 * inter) div uni")))
        .filter(col("jacc_milli") >= VerifyJaccMilli)
      val wBest = Window.partitionBy("batch_id").orderBy(col("shipped_id"))
      verified
        .withColumn("rk", row_number().over(wBest))
        .withColumn("n_matches", count(lit(1)).over(Window.partitionBy("batch_id")))
        .filter(col("rk") === 1)
        .select(col("batch_id"), col("shipped_id").as("best_match"),
          col("jacc_milli"), col("n_matches"))
        .orderBy("batch_id")
    },

    "dedup_cluster_sizes" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
      val comp = graft.operators.ConnectedComponents.run(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      comp.groupBy("comp").agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum("sz").as("n_docs"))
        .orderBy("cluster_size")
    }
  )

  private val effCteSql: String =
    """eff AS (
      |  SELECT b.doc_id,
      |    CASE WHEN b.doc_id >= 400 AND d.doc_id IS NOT NULL THEN d.text
      |         ELSE b.text END AS text
      |  FROM (
      |    SELECT doc_id, text,
      |      CASE WHEN doc_id % 10 = 7 THEN doc_id % 400
      |           WHEN doc_id % 50 = 49 THEN doc_id - 9 END AS donor_id
      |    FROM documents) b
      |  LEFT JOIN documents d ON d.doc_id = b.donor_id
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "scd2_asof" ->
      s"""WITH tiers AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, ${Queries29.TierDuck} AS tier
         |  FROM events
         |),
         |marked AS (
         |  SELECT *, lag(tier) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_tier
         |  FROM tiers
         |),
         |intervals AS (
         |  SELECT user_id, tier, ts_us AS valid_from_us,
         |    lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us
         |  FROM marked WHERE prev_tier IS NULL OR prev_tier <> tier
         |),
         |p AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events WHERE event_type = 'purchase'
         |)
         |SELECT i.tier, CAST(count(*) AS BIGINT) AS n_purchases,
         |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
         |  CAST(sum(p.cents) AS BIGINT) AS rev_cents
         |FROM p JOIN intervals i
         |  ON p.user_id = i.user_id AND p.ts_us >= i.valid_from_us
         |  AND (i.valid_to_us IS NULL OR p.ts_us < i.valid_to_us)
         |GROUP BY i.tier ORDER BY i.tier""".stripMargin,

    "incremental_minhash" ->
      s"""WITH $effCteSql,
         |${Queries6.minhashCompsCteSqlFrom("eff")},
         |sigs AS (
         |  SELECT doc_id,
         |    md5(concat(coalesce(c0, ''), coalesce(c1, ''))) AS band0,
         |    md5(concat(coalesce(c2, ''), coalesce(c3, ''))) AS band1
         |  FROM comps
         |),
         |bands AS (
         |  SELECT doc_id, 0 AS bi, band0 AS b FROM sigs
         |  UNION ALL SELECT doc_id, 1, band1 FROM sigs
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS batch_id, s.doc_id AS shipped_id
         |  FROM bands a JOIN bands s ON a.bi = s.bi AND a.b = s.b
         |  WHERE a.doc_id >= 400 AND s.doc_id < 400
         |),
         |shing AS (
         |  SELECT doc_id, list_distinct(${Queries6.shinglesSql(3)}) AS sh
         |  FROM (SELECT doc_id, ${TextF.TokensSql} AS w FROM eff) t
         |),
         |verified AS (
         |  SELECT batch_id, shipped_id,
         |    CASE WHEN len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) = 0 THEN 1000
         |      ELSE (1000 * CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT))
         |        // CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS BIGINT)
         |    END AS jacc_milli
         |  FROM cand
         |  JOIN shing sa ON sa.doc_id = batch_id
         |  JOIN shing sb ON sb.doc_id = shipped_id
         |)
         |SELECT batch_id, best_match, jacc_milli, n_matches FROM (
         |  SELECT batch_id, shipped_id AS best_match, jacc_milli,
         |    row_number() OVER (PARTITION BY batch_id ORDER BY shipped_id) AS rk,
         |    CAST(count(*) OVER (PARTITION BY batch_id) AS BIGINT) AS n_matches
         |  FROM verified WHERE jacc_milli >= $VerifyJaccMilli
         |) t WHERE rk = 1 ORDER BY batch_id""".stripMargin,

    "dedup_cluster_sizes" ->
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
         |labels AS (
         |  SELECT id, min(r) AS comp FROM reach GROUP BY id
         |),
         |sizes AS (
         |  SELECT comp, CAST(count(*) AS BIGINT) AS sz FROM labels GROUP BY comp
         |)
         |SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin
  )
}
