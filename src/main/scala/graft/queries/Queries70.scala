package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 continuation #42 — dedup policy migration and freshness SLA:
  *
  *  - `keeper_policy_diff`: the shadow-mode report for changing a dedup
  *    KEEPER RULE — per near-dup cluster the three production policies'
  *    choices (min-id / longest / highest-PageRank, the exact orderings
  *    dedup_minhash_keep / dedup_keep_longest / dedup_keep_central use,
  *    identity spec'd against all three) and per policy pair the cluster
  *    agreement rate: the number a migration review needs BEFORE swapping
  *    rules, because every disagreement is a shipped-corpus delta. ONE
  *    shared pair/closure/ranks computation feeds all three rules.
  *  - `data_freshness`: the staleness SLA report — minutes since each
  *    event type's latest event at the corpus watermark (max ts), flagged
  *    beyond 24 h; one tiny aggregate, the ops check every ingest
  *    dashboard renders first.
  */
object Queries70 extends QuerySet {
  private val FreshSlaMin = 1440L

  val defs: Map[String, Q] = Map(
    "keeper_policy_diff" -> { (sp, dir) =>
      // dedup_keep_central's one-edge-cache discipline: a single pair
      // materialization feeds the symmetric edges, and ONE edge cache feeds
      // both the component labels and the PageRank iterations (the naive
      // composition would band-join the corpus twice)
      val pairs = graft.util.CacheScope.track(Queries6.minhashPairs(sp, dir))
      pairs.count()
      val edges = graft.util.CacheScope.track(Queries25.symEdges(pairs))
      edges.count() // materialize once, before two threads fan out over it
      // CC labeling and the 5-iteration PageRank are independent given the
      // edge cache — overlap them (guide §2.6) instead of paying the two
      // iterative tiers back-to-back
      val (comp, ranks) = graft.util.Par.run2(
        () => graft.operators.ConnectedComponents.runSymmetrized(edges),
        () => {
          val r = graft.util.CacheScope.track(Queries25.pagerankFromSym(edges))
          r.count(); r
        })
      // pin the member table: it embeds the PageRank chain and the CC
      // labels — without the pin each downstream keeper re-executed the
      // whole iterative tier (3x the ranks at sf0.1)
      val members = graft.util.CacheScope.track(
        comp.select(col("id").as("doc_id"), col("comp"))
          .join(Tables.documents(sp, dir)
            .select(col("doc_id"), length(col("text")).cast("bigint").as("text_len")),
            Seq("doc_id"))
          .join(ranks, Seq("doc_id")))
      members.count()
      // all three keeper policies from ONE map-side-combined aggregation:
      // each keeper is an argmax, and argmax folds as max(struct(key,
      // -doc_id)) — no per-policy sort window, no three passes (r9: the
      // window trio was 3 sorts over the member table; this is one
      // hash-agg). Ties break to the lowest doc_id via the negated id.
      val picks = graft.util.CacheScope.track(
        members.groupBy("comp").agg(
          min(col("doc_id")).as("k_min"),
          max(struct(col("text_len"), (-col("doc_id")).as("neg"))).as("__l"),
          max(struct(col("rank_micro"), (-col("doc_id")).as("neg"))).as("__c"))
          .select(col("comp"), col("k_min"),
            (col("__l.neg") * -1L).as("k_long"), (col("__c.neg") * -1L).as("k_central")))
      picks.count()
      def pairRow(nm: String, a: String, b: String) =
        picks.agg(count(lit(1)).as("n_clusters"),
          sum(when(col(a) === col(b), 1L).otherwise(0L)).as("n_agree"))
          .select(lit(nm).as("policy_pair"), col("n_clusters"), col("n_agree"),
            expr("n_agree * 1000 div n_clusters").as("agree_milli"))
      pairRow("min_vs_longest", "k_min", "k_long")
        .unionAll(pairRow("min_vs_central", "k_min", "k_central"))
        .unionAll(pairRow("longest_vs_central", "k_long", "k_central"))
        .orderBy("policy_pair")
    },

    "data_freshness" -> { (sp, dir) =>
      val ev = Tables.events(sp, dir)
      val wm = ev.agg(max("ts_us").as("watermark_us"))
      ev.groupBy("event_type").agg(max("ts_us").as("last_us"),
        count(lit(1)).as("n_events"))
        .crossJoin(broadcast(wm))
        .select(col("event_type"), col("n_events"),
          expr("(watermark_us - last_us) div 60000000").as("staleness_min"),
          (expr("(watermark_us - last_us) div 60000000") > FreshSlaMin).as("stale_flag"))
        .orderBy("event_type")
    }
  )

  val oracles: Map[String, String] = Map(
    "keeper_policy_diff" ->
      s"""WITH RECURSIVE ${Queries6.MinhashPairsCteSql},
         |${Queries25.pagerankCtesSql},
         |ccedges AS (
         |  SELECT id_a AS s, id_b AS d FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |),
         |reach(id, rt) AS (
         |  SELECT s, s FROM ccedges
         |  UNION
         |  SELECT e.s, reach.rt FROM ccedges e JOIN reach ON e.d = reach.id
         |),
         |labels AS (SELECT id, min(rt) AS comp FROM reach GROUP BY id),
         |members AS (
         |  SELECT l.id AS doc_id, l.comp, length(d.text) AS text_len, pr.r
         |  FROM labels l JOIN documents d ON d.doc_id = l.id
         |  JOIN prresult pr ON pr.id = l.id
         |),
         |picks AS (
         |  SELECT comp,
         |    min(doc_id) AS k_min,
         |    (SELECT m2.doc_id FROM members m2 WHERE m2.comp = m.comp
         |     ORDER BY m2.text_len DESC, m2.doc_id LIMIT 1) AS k_long,
         |    (SELECT m3.doc_id FROM members m3 WHERE m3.comp = m.comp
         |     ORDER BY m3.r DESC, m3.doc_id LIMIT 1) AS k_central
         |  FROM members m GROUP BY comp
         |)
         |SELECT 'longest_vs_central' AS policy_pair,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(CASE WHEN k_long = k_central THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST(sum(CASE WHEN k_long = k_central THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS agree_milli
         |FROM picks
         |UNION ALL
         |SELECT 'min_vs_central', CAST(count(*) AS BIGINT),
         |  CAST(sum(CASE WHEN k_min = k_central THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(sum(CASE WHEN k_min = k_central THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT)
         |FROM picks
         |UNION ALL
         |SELECT 'min_vs_longest', CAST(count(*) AS BIGINT),
         |  CAST(sum(CASE WHEN k_min = k_long THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(sum(CASE WHEN k_min = k_long THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT)
         |FROM picks
         |ORDER BY policy_pair""".stripMargin,

    "data_freshness" ->
      s"""WITH wm AS (SELECT max(epoch_us(ts)) AS watermark_us FROM events)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST((w.watermark_us - max(epoch_us(ts))) // 60000000 AS BIGINT)
         |    AS staleness_min,
         |  (w.watermark_us - max(epoch_us(ts))) // 60000000 > $FreshSlaMin AS stale_flag
         |FROM events, wm w
         |GROUP BY event_type, w.watermark_us ORDER BY event_type""".stripMargin
  )
}
