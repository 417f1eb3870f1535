package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextF
import graft.queries.IntIdioms.tdivSql

/** Round-9 batch #67 — deterministic resampling + corpus linguistics:
  *
  *  - `jackknife_mean_ci`: a standard error for the mean order value
  *    WITHOUT distributional assumptions — the delete-one-group
  *    jackknife over g = 10 deterministic md5 folds: θ̂ᵢ = the mean
  *    with fold i removed, var_jack = (g−1)/g · Σ(θ̂ᵢ − θ̄)². Every
  *    fold moment is an exact integer (means in milli-cents by
  *    truncating division), so the resampling estimate is
  *    oracle-exact — the trick that makes "bootstrap-style" inference
  *    reproducible on any partitioning. One group-by over fold ids;
  *    the 10-row fold table carries the rest.
  *  - `hapax_rate`: the hapax-legomena share per source — what
  *    fraction of each source's vocabulary occurs exactly once (the
  *    productivity/diversity read Heaps' law integrates). One
  *    (source, word) count, one rollup. */
object Queries147 extends QuerySet {
  private val G = 10

  val defs: Map[String, Q] = Map(
    "jackknife_mean_ci" -> { (sp, dir) =>
      val folds = Tables.orders(sp, dir).select(
          round(col("o_totalprice") * 100).cast("bigint").as("cents"),
          (Queries15.nibVal(substring(md5(concat(lit("jk:"),
            col("o_orderkey").cast("string")).cast("binary")), 1, 1)) % G).as("fold"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_g"), sum("cents").as("s_g"))
      val tot = folds.agg(sum("n_g").as("n"), sum("s_g").as("s"))
      val thetas = folds.crossJoin(broadcast(tot))
        // θ̂ᵢ in milli-cents: the mean with fold i deleted
        .withColumn("theta_i", expr("((s - s_g) * 1000) div (n - n_g)"))
      val tbar = thetas.agg(
        count(lit(1)).as("g"),
        expr(s"sum(theta_i) div $G").as("theta_bar"),
        max(expr("(s * 1000) div n")).as("mean_milli_cents"))
      thetas.crossJoin(broadcast(tbar))
        .agg(max("g").as("g"), max("mean_milli_cents").as("mean_milli_cents"),
          max("theta_bar").as("theta_bar_milli_cents"),
          sum(expr("(theta_i - theta_bar) * (theta_i - theta_bar)")).as("ss"))
        .select(col("g"), col("mean_milli_cents"), col("theta_bar_milli_cents"),
          expr(s"ss * ${G - 1} div $G").as("var_jack_milli2"),
          expr(s"CAST(round(sqrt(CAST(ss * ${G - 1} div $G AS DOUBLE))) AS BIGINT)")
            .as("se_milli_cents"))
    },

    "hapax_rate" -> { (sp, dir) =>
      val words = Tables.documents(sp, dir)
        .select(col("source"), explode(TextF.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      words.groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
          sum("cnt").as("tokens"))
        .withColumn("hapax_milli", expr("hapax * 1000 div vocab"))
        .select("source", "vocab", "hapax", "tokens", "hapax_milli")
        .orderBy("source")
    }
  )

  val oracles: Map[String, String] = Map(
    "jackknife_mean_ci" -> {
      val nib = Queries15.nibSql("substr(md5(concat('jk:', CAST(o_orderkey AS VARCHAR))), 1, 1)")
      s"""WITH folds AS (
         |  SELECT ($nib) % $G AS fold, CAST(count(*) AS BIGINT) AS n_g,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_g
         |  FROM orders GROUP BY 1
         |),
         |tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s FROM folds),
         |thetas AS (
         |  SELECT f.*, t.n, t.s,
         |    ${tdivSql("((t.s - f.s_g) * 1000)", "(t.n - f.n_g)")} AS theta_i
         |  FROM folds f, tot t
         |),
         |tb AS (
         |  SELECT CAST(count(*) AS BIGINT) AS g,
         |    ${tdivSql("CAST(sum(theta_i) AS BIGINT)", G.toString)} AS theta_bar,
         |    max(${tdivSql("(s * 1000)", "n")}) AS mean_milli_cents
         |  FROM thetas
         |)
         |SELECT tb.g, tb.mean_milli_cents, tb.theta_bar AS theta_bar_milli_cents,
         |  CAST(sum((theta_i - tb.theta_bar) * (theta_i - tb.theta_bar)) * ${G - 1} // $G
         |    AS BIGINT) AS var_jack_milli2,
         |  CAST(round(sqrt(CAST(
         |    CAST(sum((theta_i - tb.theta_bar) * (theta_i - tb.theta_bar)) AS BIGINT) * ${G - 1} // $G
         |    AS DOUBLE))) AS BIGINT) AS se_milli_cents
         |FROM thetas, tb
         |GROUP BY tb.g, tb.mean_milli_cents, tb.theta_bar""".stripMargin
    },

    "hapax_rate" -> {
      val toks = TextF.TokensSql
      s"""WITH words AS (
         |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT source, unnest($toks) AS w FROM documents) t
         |  WHERE w <> ''
         |  GROUP BY 1, 2
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  CAST(sum(cnt) AS BIGINT) AS tokens,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
         |    AS hapax_milli
         |FROM words GROUP BY source ORDER BY source""".stripMargin
    }
  )
}
