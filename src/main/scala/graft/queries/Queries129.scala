package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.IntIdioms.{bits, tdivSql}

/** Round-9 batch #49 — model-grade one-number audits:
  *
  *  - `retention_halflife`: the exponential-decay read of the retention
  *    curve. `retention_cohorts` shows the full matrix; this fits
  *    ⌊log₂ n_active⌋ on week-offset by exact-integer OLS (the
  *    `zipf_fit` bits-quantization recipe) over the pooled-cohort curve
  *    and converts the slope to a half-life in milli-weeks
  *    (−1000·1000 / slope, truncating division). Two user-keyed
  *    aggregations + a fit over the tiny offset table.
  *  - `embedding_isotropy`: how anisotropic is the embedding space —
  *    λ₁/trace of the exact integer Gram (Rayleigh quotient along the
  *    trained `pca_power_iter` direction). A perfectly isotropic
  *    64-dim cloud scores ~16‰; common-direction collapse (Ethayarajh
  *    2019's anisotropy finding) drives it toward 1000‰. Reuses the one
  *    ArraySum Gram pass and the e3 eigvec chain verbatim — the oracle
  *    extends `PcaCteSql` with the quotient, so the measure is
  *    hash-exact end-to-end. */
object Queries129 extends QuerySet {
  private val WeekUs = 7L * 86400L * 1000000L

  val defs: Map[String, Q] = Map(
    "retention_halflife" -> { (sp, dir) =>
      val activity = Tables.events(sp, dir)
        .select(col("user_id"), expr(s"ts_us div $WeekUs").as("wk")).distinct()
      val cohorts = activity.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val curve = activity.join(cohorts, "user_id")
        .groupBy((col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val slope = "(n_weeks * sxy - sx * sy) * 1000 div (n_weeks * sxx - sx * sx)"
      curve
        .select(col("week_offset").as("x"), bits(col("n_active")).as("y"),
          when(col("week_offset") === 0, col("n_active")).as("n0"))
        .agg(count(lit(1)).as("n_weeks"), max("n0").as("n_users_w0"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("n_weeks"), col("n_users_w0"),
          expr(slope).as("slope_milli_bits"),
          expr(s"(sy * 1000 - ($slope) * sx) div n_weeks").as("intercept_milli_bits"),
          expr(s"CASE WHEN ($slope) < 0 THEN (-1000 * 1000) div ($slope) ELSE 0 END")
            .as("halflife_milli_weeks"))
    },

    "embedding_isotropy" -> { (sp, dir) =>
      val gram = Queries115.gramMatrix(sp, dir)
      val v = Queries115.powerEigvecFromGram(gram)
      val dim = Queries115.Dim
      val trace = (0 until dim).map(i => gram(i * dim + i)).sum
      val w = Array.tabulate(dim) { i =>
        var acc = 0L; var j = 0
        while (j < dim) { acc += gram(i * dim + j) * v(j); j += 1 }
        acc
      }
      val num = (0 until dim).map(i => v(i) * (w(i) / 1000L)).sum
      val den = v.map(x => x * x).sum / 1000L
      val lambda1 = num / den
      val n = Tables.embeddings(sp, dir).count()
      import sp.implicits._
      Seq((dim.toLong, n, trace, lambda1, (lambda1 * 1000L) / trace))
        .toDF("dim", "n_vectors", "trace", "lambda1", "top_share_milli")
    }
  )

  val oracles: Map[String, String] = Map(
    "retention_halflife" -> {
      val slope = tdivSql("(n_weeks * sxy - sx * sy) * 1000", "(n_weeks * sxx - sx * sx)")
      s"""WITH activity AS (
         |  SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS wk FROM events
         |),
         |cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY user_id),
         |curve AS (
         |  SELECT a.wk - c.cohort_wk AS week_offset,
         |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
         |  FROM activity a JOIN cohorts c ON c.user_id = a.user_id
         |  GROUP BY 1
         |),
         |moments AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_weeks,
         |    CAST(max(CASE WHEN week_offset = 0 THEN n_active END) AS BIGINT) AS n_users_w0,
         |    CAST(sum(week_offset) AS BIGINT) AS sx,
         |    CAST(sum(length(bin(n_active)) - 1) AS BIGINT) AS sy,
         |    CAST(sum(week_offset * (length(bin(n_active)) - 1)) AS BIGINT) AS sxy,
         |    CAST(sum(week_offset * week_offset) AS BIGINT) AS sxx
         |  FROM curve
         |)
         |SELECT n_weeks, n_users_w0,
         |  $slope AS slope_milli_bits,
         |  ${tdivSql(s"(sy * 1000 - ($slope) * sx)", "n_weeks")} AS intercept_milli_bits,
         |  CASE WHEN ($slope) < 0
         |       THEN ${tdivSql("(-1000 * 1000)", s"($slope)")}
         |       ELSE CAST(0 AS BIGINT) END AS halflife_milli_weeks
         |FROM moments""".stripMargin
    },

    "embedding_isotropy" -> {
      val it = Queries115.PowerIters
      s"""WITH ${Queries115.PcaCteSql},
         |trace AS (
         |  SELECT CAST(sum(g) AS BIGINT) AS tr FROM gram WHERE k // 64 = k % 64
         |),
         |wq AS (
         |  SELECT gram.k // 64 AS i, CAST(sum(gram.g * v$it.v) AS BIGINT) AS w
         |  FROM gram JOIN v$it ON v$it.i = gram.k % 64 GROUP BY 1
         |),
         |quot AS (
         |  SELECT
         |    CAST(sum(v$it.v * ${tdivSql("wq.w", "1000")}) AS BIGINT) AS num,
         |    ${tdivSql(s"CAST(sum(v$it.v * v$it.v) AS BIGINT)", "1000")} AS den
         |  FROM wq JOIN v$it ON v$it.i = wq.i
         |),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
         |SELECT CAST(64 AS BIGINT) AS dim, nv.n AS n_vectors, trace.tr AS trace,
         |  ${tdivSql("quot.num", "quot.den")} AS lambda1,
         |  ${tdivSql(s"(${tdivSql("quot.num", "quot.den")}) * 1000", "trace.tr")} AS top_share_milli
         |FROM quot, trace, nv""".stripMargin
    }
  )
}
