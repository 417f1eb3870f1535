package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.GraftFunctions

/** Round-9 batch #55 — the optimizer-rule surface + split hygiene:
  *
  *  - `count_distinct_rewrite`: plain `countDistinct` syntax compiled
  *    through the [[graft.plans.BitmapDistinctRewrite]] Catalyst rule
  *    (SparkSessionExtensions / experimental optimizations) — the user
  *    writes the textbook query, the optimizer substitutes the native
  *    single-shuffle bitmap aggregate. Conf-guarded
  *    (`spark.graft.rewriteCountDistinct`), enabled only for this
  *    query's eager materialization and restored after; pinned VERBATIM
  *    to `bitmap_distinct`'s oracle — syntax differs, plan differs,
  *    bits match.
  *  - `fold_leakage_audit`: WHY train/eval splitting must be
  *    group-aware — hashing doc_id into 5 folds scatters near-duplicate
  *    PAIRS across fold boundaries (eval contamination: the model has
  *    seen the eval doc's twin), while hashing the CC cluster label
  *    sends every near-dup family to ONE fold — zero leakage by
  *    construction. Both policies scored on the same minhash pair set
  *    in exact milli; labels reuse ConnectedComponents. */
object Queries135 extends QuerySet {
  private val Folds = 5
  private val DayUs = 86400000000L

  private def foldOf(id: Column): Column = {
    val h = md5(concat(lit("fold:"), id.cast("string")).cast("binary"))
    Seq(1, 2, 3, 4).map(i => Queries15.nibVal(substring(h, i, 1)))
      .reduce((a, b) => a * 16 + b) % Folds
  }

  private def foldSql(x: String): String = {
    val h = s"md5(concat('fold:', CAST($x AS VARCHAR)))"
    val v = Seq(1, 2, 3, 4).map(i => Queries15.nibSql(s"substr($h, $i, 1)"))
      .reduce((a, b) => s"($a * 16 + $b)")
    s"($v % $Folds)"
  }

  val defs: Map[String, Q] = Map(
    "count_distinct_rewrite" -> { (sp, dir) =>
      GraftFunctions.install(sp)
      val prev = sp.conf.getOption("spark.graft.rewriteCountDistinct")
      sp.conf.set("spark.graft.rewriteCountDistinct", "true")
      try {
        // eager materialization (localCheckpoint) so the rewrite fires
        // while the flag is on; other queries keep the standard plans
        Tables.events(sp, dir)
          .select(col("event_type"), expr(s"ts_us div $DayUs").as("day"), col("user_id"))
          .groupBy("event_type", "day")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type", "day")
          .localCheckpoint(true)
      } finally prev match {
        case Some(v) => sp.conf.set("spark.graft.rewriteCountDistinct", v)
        case None => sp.conf.unset("spark.graft.rewriteCountDistinct")
      }
    },

    "fold_leakage_audit" -> { (sp, dir) =>
      val pairs = graft.util.CacheScope.track(
        Queries6.minhashPairs(sp, dir).select(col("id_a"), col("id_b")))
      val labels = graft.operators.ConnectedComponents
        .run(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("id"), col("comp"))
      val withFolds = pairs
        .join(labels.select(col("id").as("id_a"), col("comp").as("comp_a")), Seq("id_a"))
        .join(labels.select(col("id").as("id_b"), col("comp").as("comp_b")), Seq("id_b"))
        .select(
          (foldOf(col("id_a")) =!= foldOf(col("id_b"))).cast("long").as("doc_cross"),
          (foldOf(col("comp_a")) =!= foldOf(col("comp_b"))).cast("long").as("cluster_cross"))
      val agg = withFolds.agg(count(lit(1)).as("n_pairs"),
        sum("doc_cross").as("doc_x"), sum("cluster_cross").as("cluster_x"))
      val a = agg.select(lit("doc_hash").as("policy"), col("n_pairs"),
        col("doc_x").as("n_cross_fold"),
        expr("doc_x * 1000 div n_pairs").as("leak_milli"))
      val b = agg.select(lit("cluster_hash").as("policy"), col("n_pairs"),
        col("cluster_x").as("n_cross_fold"),
        expr("cluster_x * 1000 div n_pairs").as("leak_milli"))
      a.unionAll(b).orderBy("policy")
    }
  )

  val oracles: Map[String, String] = Map(
    // pinned VERBATIM: the optimizer rule must not change a single bit
    "count_distinct_rewrite" -> Queries113.oracles("bitmap_distinct"),

    "fold_leakage_audit" ->
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
         |members AS (SELECT min(r) AS comp, id FROM reach GROUP BY id),
         |scored AS (
         |  SELECT
         |    CASE WHEN ${foldSql("p.id_a")} <> ${foldSql("p.id_b")} THEN 1 ELSE 0 END AS doc_cross,
         |    CASE WHEN ${foldSql("ma.comp")} <> ${foldSql("mb.comp")} THEN 1 ELSE 0 END AS cluster_cross
         |  FROM pairs p
         |  JOIN members ma ON ma.id = p.id_a
         |  JOIN members mb ON mb.id = p.id_b
         |),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(doc_cross) AS BIGINT) AS doc_x,
         |    CAST(sum(cluster_cross) AS BIGINT) AS cluster_x
         |  FROM scored
         |)
         |SELECT policy, n_pairs, n_cross_fold,
         |  CAST(n_cross_fold * 1000 // n_pairs AS BIGINT) AS leak_milli
         |FROM (
         |  SELECT 'doc_hash' AS policy, n_pairs, doc_x AS n_cross_fold FROM agg
         |  UNION ALL
         |  SELECT 'cluster_hash', n_pairs, cluster_x FROM agg
         |) t ORDER BY policy""".stripMargin
  )
}
