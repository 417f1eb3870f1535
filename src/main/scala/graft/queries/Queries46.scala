package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF

/** Round-8 continuation #18 — dedup-calibration tables (the knob-tuning
  * reports behind the MinHash pipeline's parameter choices):
  *
  *  - `minhash_band_sweep`: candidate volume under the three (bands, rows)
  *    layouts of a 4-component signature — 4×1 (recall-heavy), 2×2 (the
  *    production layout), 1×4 (exact-signature only) — with each layout's
  *    nominal LSH threshold. The b/r trade-off table every LSH paper
  *    prints, measured on this corpus; all three layouts share ONE
  *    component computation.
  *  - `dedup_pr_curve`: precision/recall of Jaccard cut-offs over the
  *    band-collision candidates, against edit-distance ground truth
  *    (dedup_edit_verify's ≤5%-of-longer rule) — the threshold-selection
  *    curve; truth and estimate reuse the dedup operators' exact
  *    spellings, evaluated once and swept by a tiny thresholds dimension.
  */
object Queries46 extends QuerySet {
  /** Nominal LSH threshold (1/b)^(1/r) in milli, per layout — constants,
    * identical literals on both engines. */
  private val Sweep = Seq(("4x1", 4, 1, 250L), ("2x2", 2, 2, 707L), ("1x4", 1, 4, 1000L))

  private val PrThresholds = Seq(0L, 250L, 500L, 750L)

  val defs: Map[String, Q] = Map(
    "minhash_band_sweep" -> { (sp, dir) =>
      val sigs = graft.util.CacheScope.track(
        Queries6.minhashSigsOf(Tables.documents(sp, dir).select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3")))
      sigs.count() // every layout's self-joins read it
      def pairsOn(bandCols: Seq[Seq[String]]): DataFrame =
        bandCols.zipWithIndex.map { case (cs, bi) =>
          val key = md5(concat(cs.map(c => coalesce(col(c), lit(""))): _*).cast("binary"))
          sigs.select(key.as("b"), col("doc_id")).withColumn("bi", lit(bi))
        }.reduce(_.unionAll(_)) match {
          case bands =>
            bands.select(col("bi"), col("b"), col("doc_id").as("id_a"))
              .join(bands.select(col("bi"), col("b"), col("doc_id").as("id_b")), Seq("bi", "b"))
              .filter(col("id_a") < col("id_b"))
              .select("id_a", "id_b").distinct()
        }
      val layouts = Seq(
        ("4x1", pairsOn(Seq(Seq("c0"), Seq("c1"), Seq("c2"), Seq("c3")))),
        ("2x2", pairsOn(Seq(Seq("c0", "c1"), Seq("c2", "c3")))),
        ("1x4", pairsOn(Seq(Seq("c0", "c1", "c2", "c3")))))
      layouts.map { case (name, p) =>
        val t = Sweep.find(_._1 == name).get._4
        p.agg(count(lit(1)).as("n_candidates"))
          .select(lit(name).as("layout"), col("n_candidates"),
            lit(t).as("nominal_threshold_milli"))
      }.reduce(_.unionAll(_)).orderBy("layout")
    },

    "dedup_pr_curve" -> { (sp, dir) =>
      val pairs = Queries6.minhashPairs(sp, dir)
      val docs = graft.util.CacheScope.track(Tables.documents(sp, dir)
        .select(col("doc_id"), TextF.normalizeText(col("text")).as("nt"),
          array_distinct(TextF.shingles(col("text"), 3)).as("sh")))
      docs.count() // both sides of the pair join read it
      val judged = pairs
        .join(docs.select(col("doc_id").as("id_a"), col("nt").as("na"), col("sh").as("sha")), Seq("id_a"))
        .join(docs.select(col("doc_id").as("id_b"), col("nt").as("nb"), col("sh").as("shb")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
        .withColumn("uni",
          size(col("sha")).cast("bigint") + size(col("shb")).cast("bigint") - col("inter"))
        .withColumn("jacc_milli",
          when(col("uni") === 0, 1000L).otherwise(expr("(1000 * inter) div uni")))
        .withColumn("dist", levenshtein(col("na"), col("nb")).cast("bigint"))
        .withColumn("maxlen", greatest(length(col("na")), length(col("nb"))).cast("bigint"))
        .withColumn("is_dup", (col("dist") * 20 <= col("maxlen")).cast("int").cast("bigint"))
      val thrDf = PrThresholds
        .map(t => sp.range(1).select(lit(t).as("thr")))
        .reduce(_.unionAll(_))
      judged.crossJoin(broadcast(thrDf))
        .groupBy("thr")
        .agg(
          sum(when(col("jacc_milli") >= col("thr"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("jacc_milli") >= col("thr"), col("is_dup")).otherwise(0L)).as("n_true_kept"),
          sum(col("is_dup")).as("n_true_total"))
        .select(col("thr").as("jacc_threshold_milli"), col("n_kept"), col("n_true_kept"),
          when(col("n_kept") === 0, 1000L)
            .otherwise(expr("(1000 * n_true_kept) div n_kept")).as("precision_milli"),
          when(col("n_true_total") === 0, 1000L)
            .otherwise(expr("(1000 * n_true_kept) div n_true_total")).as("recall_milli"))
        .orderBy("jacc_threshold_milli")
    }
  )

  private val toksSql = TextF.TokensSql
  private val normSql = TextF.NormalizeTextSql

  val oracles: Map[String, String] = Map(
    "minhash_band_sweep" -> {
      def bandExpr(cs: Seq[String]) =
        "md5(concat(" + cs.map(c => s"coalesce($c, '')").mkString(", ") + "))"
      def layoutSql(name: String, bands: Seq[Seq[String]], thr: Long) = {
        val bandsSql = bands.zipWithIndex.map { case (cs, bi) =>
          s"SELECT doc_id, $bi AS bi, ${bandExpr(cs)} AS b FROM comps"
        }.mkString("\n  UNION ALL ")
        s"""SELECT '$name' AS layout,
           |  CAST(count(*) AS BIGINT) AS n_candidates,
           |  CAST($thr AS BIGINT) AS nominal_threshold_milli
           |FROM (
           |  SELECT DISTINCT a.doc_id AS id_a, o.doc_id AS id_b
           |  FROM ($bandsSql) a JOIN ($bandsSql) o
           |    ON a.bi = o.bi AND a.b = o.b AND a.doc_id < o.doc_id
           |) p""".stripMargin
      }
      s"""WITH ${Queries6.MinhashComponentsCteSql}
         |${layoutSql("4x1", Seq(Seq("c0"), Seq("c1"), Seq("c2"), Seq("c3")), 250L)}
         |UNION ALL
         |${layoutSql("2x2", Seq(Seq("c0", "c1"), Seq("c2", "c3")), 707L)}
         |UNION ALL
         |${layoutSql("1x4", Seq(Seq("c0", "c1", "c2", "c3")), 1000L)}
         |ORDER BY layout""".stripMargin
    },

    "dedup_pr_curve" -> {
      val thrVals = PrThresholds.map(t => s"($t)").mkString(", ")
      s"""WITH ${Queries6.MinhashPairsCteSql},
         |d AS (
         |  SELECT doc_id, $normSql AS nt, list_distinct(${Queries6.shinglesSql(3)}) AS sh
         |  FROM (SELECT doc_id, text, $toksSql AS w FROM documents) t
         |),
         |judged AS (
         |  SELECT id_a, id_b,
         |    CASE WHEN len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) = 0 THEN 1000
         |      ELSE (1000 * CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT))
         |        // CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT)
         |    END AS jacc_milli,
         |    CASE WHEN CAST(levenshtein(a.nt, b.nt) AS BIGINT) * 20
         |           <= CAST(greatest(len(a.nt), len(b.nt)) AS BIGINT)
         |         THEN 1 ELSE 0 END AS is_dup
         |  FROM pairs JOIN d a ON a.doc_id = id_a JOIN d b ON b.doc_id = id_b
         |),
         |thr(thr) AS (VALUES $thrVals)
         |SELECT thr AS jacc_threshold_milli,
         |  CAST(sum(CASE WHEN jacc_milli >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN jacc_milli >= thr THEN is_dup ELSE 0 END) AS BIGINT) AS n_true_kept,
         |  CASE WHEN sum(CASE WHEN jacc_milli >= thr THEN 1 ELSE 0 END) = 0 THEN 1000
         |    ELSE (1000 * CAST(sum(CASE WHEN jacc_milli >= thr THEN is_dup ELSE 0 END) AS BIGINT))
         |      // CAST(sum(CASE WHEN jacc_milli >= thr THEN 1 ELSE 0 END) AS BIGINT) END
         |    AS precision_milli,
         |  CASE WHEN sum(is_dup) = 0 THEN 1000
         |    ELSE (1000 * CAST(sum(CASE WHEN jacc_milli >= thr THEN is_dup ELSE 0 END) AS BIGINT))
         |      // CAST(sum(is_dup) AS BIGINT) END AS recall_milli
         |FROM judged, thr
         |GROUP BY thr ORDER BY jacc_threshold_milli""".stripMargin
    }
  )
}
